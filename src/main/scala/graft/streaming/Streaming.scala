package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

import graft.operators.Upsert
import graft.sources.Publish

/** One event row (events table schema subset) for typed streaming ops. */
final case class Event(user_id: Long, ts: java.sql.Timestamp,
                       event_type: String, value: Double)

/** One closed session. */
final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                            session_end: java.sql.Timestamp,
                            n_events: Long, total_value: Double)

private[streaming] final case class SessionState(start: Long, last: Long,
                                                 n: Long, totalCents: Long)

/** Shared micro-precision time + money conversions for the sessionize
  * twins. `micros`/`toTs` encode the millis-truncation workaround
  * (Timestamp.getTime alone truncates to milliseconds, which can merge
  * sessions the batch path splits); `cents` is Spark's
  * `CAST(value AS DECIMAL(18,2))` per-event rounding (BigDecimal.valueOf =
  * canonical Double.toString parse, then HALF_UP to scale 2) so a long sum
  * of cents equals the batch DECIMAL sum exactly — raw double addition
  * would drift in the last ulp and break the stream == batch contract.
  */
private[streaming] object SessionTime {
  def micros(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000000 * 1000)
    t.setNanos((us % 1000000).toInt * 1000)
    t
  }

  /** Exact scale-2 unscaled value, or null where the batch twin's
    * `CAST(value AS DECIMAL(18,2))` yields NULL — NaN/Infinity and values
    * whose scale-2 representation exceeds precision 18 (non-ANSI cast
    * semantics, the session config both paths run under). The summing
    * side must SKIP null cents exactly as SUM skips NULLs, or a single
    * out-of-range tick silently forks stream from batch.
    */
  def cents(v: Double): java.lang.Long = {
    if (v.isNaN || v.isInfinite) return null
    val unscaled = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .unscaledValue()
    if (unscaled.abs.compareTo(MaxUnscaled18) > 0) null
    else java.lang.Long.valueOf(unscaled.longValueExact())
  }

  /** 10^18 − 1: the largest unscaled magnitude DECIMAL(18,2) holds. */
  private val MaxUnscaled18 =
    java.math.BigInteger.TEN.pow(18).subtract(java.math.BigInteger.ONE)

  // addExact: the batch twin's SUM(DECIMAL(18,2)) promotes to DECIMAL(28,2)
  // and keeps going where a raw Long sum would wrap at ~9.2e16 cents — an
  // overflow here must be LOUD, not a silent stream-vs-batch fork
  def addCents(total: Long, c: java.lang.Long): Long =
    if (c == null) total else Math.addExact(total, c.longValue())

  def centsToDouble(c: Long): Double =
    java.math.BigDecimal.valueOf(c, 2).doubleValue
}

/** Tumbling-window aggregates. The SAME plan serves batch DataFrames and
  * readStream DataFrames (Structured Streaming's unified model); pass a
  * watermark for streaming so state for closed windows is dropped.
  */
object EventAggregates {
  def windowed(events: DataFrame, windowDur: String = "1 hour",
               watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
  }
}

/** Gap-based sessionization, twice: an exact batch formulation (windowed
  * gap-mark + running sum — one shuffle on user_id) and a streaming
  * formulation over flatMapGroupsWithState with event-time timeout, which
  * produces the same sessions incrementally with bounded state.
  */
object Sessionize {

  /** Batch: session boundary where the gap to the previous event exceeds
    * `gapSeconds`. Timestamp deltas compare as exact micro-precision
    * doubles (identical in the DuckDB oracle).
    */
  def batch(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // an event without a time cannot be placed in any session, and engines
    // disagree on where nulls sort — exclude them as a defined contract
    // (the streaming path's watermark drops them the same way)
    val tsType = events.schema("ts").dataType
    if (tsType == org.apache.spark.sql.types.TimestampNTZType)
      graft.operators.TimeCols.requireUtc(events.sparkSession)
    def secs(c: org.apache.spark.sql.Column) =
      graft.operators.TimeCols.secondsOf(c, tsType)
    val marked = events.filter(col("ts").isNotNull)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (secs(col("ts")) - secs(col("prev_ts"))) > gapSeconds.toDouble,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).as("total_value"))
  }

  /** Streaming: one state entry per open session per user; sessions close
    * (and emit) when the event-time watermark passes last_event + gap.
    */
  def streaming(events: Dataset[Event], gapSeconds: Long,
                watermarkDelay: String = "10 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        processUser(gapSeconds * 1000000L))
  }

  import SessionTime.{addCents, cents, centsToDouble, micros, toTs}

  private def processUser(gapMicros: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    def close(s: SessionState) =
      SessionOut(userId, toTs(s.start), toTs(s.last), s.n,
        centsToDouble(s.totalCents))
    if (state.hasTimedOut) {
      val out = state.getOption.map(close).toList
      state.remove()
      out.iterator
    } else {
      val sorted = events.toSeq.sortBy(e => micros(e.ts))
      var closed = List.empty[SessionOut]
      var cur = state.getOption
      sorted.foreach { e =>
        val t = micros(e.ts)
        cur match {
          case Some(s) if t - s.last > gapMicros =>
            closed ::= close(s)
            cur = Some(SessionState(t, t, 1L, addCents(0L, cents(e.value))))
          case Some(s) =>
            // admitted late events may precede the stored start — extend
            // backwards like the batch min(ts) does
            cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t),
              s.n + 1, addCents(s.totalCents, cents(e.value))))
          case None =>
            cur = Some(SessionState(t, t, 1L, addCents(0L, cents(e.value))))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.last / 1000 + gapMicros / 1000)
      }
      closed.reverseIterator
    }
  }
}

/** Streaming counterpart of [[graft.operators.Dedup]] (reference
  * transform_tiki.py:582's keep-per-key dedup, continuously): bounded-state
  * exact dedup on key columns using `dropDuplicatesWithinWatermark` — two
  * rows with the same key whose event times fall within the watermark
  * delay dedup to the FIRST-arriving row; state for keys older than the
  * watermark is dropped, so state stays proportional to the dedup window,
  * not the stream history. (True "keep most recent" needs a terminal batch
  * MERGE — [[UpsertSink]] — because a stream cannot retract an
  * already-emitted row; this operator is the at-source duplicate filter the
  * reference's crawler re-delivery needs.)
  */
object StreamingDedup {
  def withinWatermark(events: DataFrame, keys: Seq[String], tsCol: String,
                      delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)
}

/** Stream-stream inner join with state on BOTH sides (the one streaming
  * shape the suite previously lacked; reference analog: trends_dag.py's
  * staging⋈dim join cadence run continuously): per-user click→purchase
  * attribution within an event-time horizon.
  *
  * In streaming mode pass `watermark`: Spark requires watermarks on both
  * unbounded sides PLUS the event-time range conjunct below, and uses them
  * to expire both join state stores — click state older than
  * `horizon + watermark` can never match a future purchase and is dropped,
  * so state is bounded by rate × horizon, not stream history. The
  * identical plan runs on batch frames (unified model), which is what the
  * q69 oracle gates.
  */
object StreamJoin {
  def attribute(clicks: DataFrame, purchases: DataFrame,
                horizonSeconds: Long,
                watermark: Option[String] = None): DataFrame = {
    val c0 = clicks.select(col("user_id").as("c_user_id"),
      col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p0 = purchases.select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
      col("value").as("purchase_value"))
    val c = watermark.fold(c0)(w => c0.withWatermark("click_ts", w))
    val p = watermark.fold(p0)(w => p0.withWatermark("purchase_ts", w))
    c.join(p,
        col("c_user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") +
            expr(s"INTERVAL $horizonSeconds SECONDS"))
      .select(col("c_user_id").as("user_id"), col("click_id"),
        col("click_ts"), col("purchase_id"), col("purchase_ts"),
        col("purchase_value"))
  }
}

/** Streaming MERGE sink (reference trends_dag.py staging→MERGE, continuous):
  * each micro-batch upserts into a parquet target via foreachBatch +
  * [[Upsert.merge]].
  *
  * Each batch replaces the target through [[SwapWrite]] (a
  * [[graft.sources.Publish]] swap): a crash in any window is rolled back
  * or completed by the next batch, so the merged history is never lost.
  */
object UpsertSink {
  def mergeBatch(targetPath: String, keys: Seq[String])
                (batch: DataFrame, batchId: Long): Unit =
    SwapWrite.replace(batch.sparkSession, targetPath, batchId) {
      case Some(current) => Upsert.merge(current, batch.dropDuplicates(keys), keys)
      case None          => batch.dropDuplicates(keys)
    }
}

/** Continuous incremental-agg mart maintenance: the streaming twin of
  * [[graft.operators.IncrementalAgg]] (as [[StreamOps.streamingHllRegisters]]
  * is of the HLL sketch). Each micro-batch is aggregated to the mart grain
  * by `aggOf` and FOLDED into the running state — per-batch cost is
  * ∝ |state| + |batch|, never the stream's history, which is the whole
  * point of maintaining a mart continuously instead of re-aggregating it.
  *
  * Unlike the upsert sink, addition is NOT naturally idempotent: a
  * foreachBatch retry that re-added its delta would double-count. The
  * batch-id marker inside [[SwapWrite]] makes retried micro-batches no-ops,
  * restoring effectively-once maintenance on a plain filesystem.
  */
object AggMaintenanceSink {
  def maintainBatch(targetPath: String, keys: Seq[String],
                    aggOf: DataFrame => DataFrame)
                   (batch: DataFrame, batchId: Long): Unit =
    SwapWrite.replace(batch.sparkSession, targetPath, batchId) {
      case Some(state) => graft.operators.IncrementalAgg.merge(state, aggOf(batch), keys)
      case None        => aggOf(batch)
    }
}

/** Crash-recoverable full-replace of a parquet dir, shared by the
  * foreachBatch sinks: a [[graft.sources.Publish]] swap of the target,
  * recovered before the current state is read. A `_graft_applied_<batchId>`
  * marker travels inside each written dir; a retried micro-batch whose
  * marker is already in the target returns without touching state
  * (idempotent replay — REQUIRED for additive sinks, a free remerge-skip
  * for idempotent ones).
  */
private[streaming] object SwapWrite {
  def replace(spark: SparkSession, targetPath: String, batchId: Long)
             (next: Option[DataFrame] => DataFrame): Unit = {
    val target = new Path(targetPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash/retry recovery FIRST: a crashed swap can leave the merged
    // history only in the retired dir — merging from the raw batch alone
    // would discard all prior merges.
    Publish.recover(fs, target)
    val marker = s"_graft_applied_$batchId"
    if (fs.exists(new Path(target, marker))) return // retry of an applied batch
    val merged =
      if (fs.exists(target)) next(Some(spark.read.parquet(targetPath)))
      else next(None)
    Publish.replace(fs, target) { staging =>
      merged.write.parquet(staging.toString)
      fs.create(new Path(staging, marker)).close()
    }
  }
}
