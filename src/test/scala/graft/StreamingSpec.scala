package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{AggMaintenanceSink, Event, EventAggregates, Sessionize, StreamJoin, StreamingDedup, UpsertSink}

/** Minimal event row carrying the ids [[StreamJoin.attribute]] selects. */
final case class EvRow(user_id: Long, event_id: Long, ts: Timestamp,
                       value: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed aggregation runs the same plan over a readStream source") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val out = EventAggregates.windowed(stream.toDF(), "1 hour", Some("10 minutes"))
    val q = out.writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Complete).start()
    try {
      stream.addData(
        Event(1L, ts(5), "click", 10.0), Event(1L, ts(15), "click", 5.0),
        Event(2L, ts(20), "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toMap
      assert(rows == Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("EventAggregates drops late rows beyond the watermark; drops are observable") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val out = EventAggregates.windowed(stream.toDF(), "10 minutes", Some("5 minutes"))
    val q = out.writeStream.format("memory").queryName("late_agg")
      .outputMode(OutputMode.Append).start()
    try {
      // window [10:00,10:10): two on-time events
      stream.addData(Event(1L, ts(1), "click", 1.0), Event(1L, ts(2), "click", 2.0))
      q.processAllAvailable()
      // 10:22 advances the watermark to 10:17, past the first window's end —
      // the no-data batch finalizes and emits it
      stream.addData(Event(2L, ts(22), "click", 3.0))
      q.processAllAvailable()
      val first = spark.table("late_agg").collect()
        .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[Long]("n_events")))
      assert(first.toSeq === Seq((ts(0), 2L)),
        s"first window must emit once with both on-time rows, got ${first.mkString(",")}")

      // a LATE row for the finalized window (event time 10:03 < watermark
      // 10:17) must be dropped, not re-emitted or re-aggregated
      stream.addData(Event(3L, ts(3), "click", 99.0))
      q.processAllAvailable()
      // close the [10:20,10:30) window as well
      stream.addData(Event(2L, ts(24), "click", 4.0))
      q.processAllAvailable()
      stream.addData(Event(2L, ts(40), "view", 0.0))
      q.processAllAvailable()

      val rows = spark.table("late_agg").collect()
        .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_events")))
      // exactly one emission of the first window, still n=2: the late row
      // contributed nothing anywhere
      assert(rows.count(_._1 == ts(0)) === 1)
      assert(rows.contains((ts(0), "click", 2L)))
      assert(rows.contains((ts(20), "click", 2L)),
        s"second window counts only 10:22+10:24, got ${rows.mkString(",")}")
      assert(!rows.exists(_._3 == 3L), "no window absorbed the late row")

      // and the drop is OBSERVABLE: the state operator reports it
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L,
        s"expected numRowsDroppedByWatermark >= 1, got $dropped")
    } finally q.stop()
  }

  test("streaming sessionization closes sessions via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val sessions = Sessionize.streaming(stream.toDS(), gapSeconds = 600L)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // burst 1: two events 1 min apart -> one open session for user 1
      stream.addData(Event(1L, ts(0), "click", 1.0), Event(1L, ts(1), "click", 2.0))
      q.processAllAvailable()
      // burst 2 far in the future advances the watermark past start+gap,
      // timing out and emitting user 1's session
      stream.addData(Event(2L, ts(50), "view", 9.0))
      q.processAllAvailable()
      stream.addData(Event(2L, ts(59), "view", 1.0))
      q.processAllAvailable()
      val closed = spark.table("sessions").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Double]("total_value")))
      assert(closed.contains((1L, 2L, 3.0)),
        s"expected user 1 session closed, got ${closed.mkString(",")}")
    } finally q.stop()
  }

  test("stream-stream click->purchase join matches the batch plan; late side drops") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[EvRow]
    val purchases = MemoryStream[EvRow]
    val joined = StreamJoin.attribute(clicks.toDF(), purchases.toDF(),
      horizonSeconds = 600L, watermark = Some("5 minutes"))
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: click 10:00 -> purchase 10:05 matches (within 10 min);
      //         click 10:08 does NOT (purchase precedes it)
      // user 2: click 10:01 vs purchase 10:30 -> outside the horizon
      clicks.addData(EvRow(1L, 101L, ts(0), 0.0), EvRow(1L, 102L, ts(8), 0.0),
        EvRow(2L, 103L, ts(1), 0.0))
      purchases.addData(EvRow(1L, 201L, ts(5), 50.0),
        EvRow(2L, 202L, ts(30), 20.0))
      q.processAllAvailable()
      // advance BOTH watermarks far past every horizon so all matches emit
      // (these two also match each other)
      clicks.addData(EvRow(9L, 199L, ts(59), 0.0))
      purchases.addData(EvRow(9L, 299L, ts(59), 7.0))
      q.processAllAvailable()

      def streamRows() = spark.table("attrib").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"),
          r.getAs[Long]("purchase_id"))).toSet

      // batch equivalence: the SAME operator over the same rows as plain
      // DataFrames (unified model)
      val batchClicks = Seq(EvRow(1L, 101L, ts(0), 0.0),
        EvRow(1L, 102L, ts(8), 0.0), EvRow(2L, 103L, ts(1), 0.0),
        EvRow(9L, 199L, ts(59), 0.0)).toDF()
      val batchPurchases = Seq(EvRow(1L, 201L, ts(5), 50.0),
        EvRow(2L, 202L, ts(30), 20.0), EvRow(9L, 299L, ts(59), 7.0)).toDF()
      val batchRows = StreamJoin.attribute(batchClicks, batchPurchases, 600L)
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
      assert(batchRows == Set((1L, 101L, 201L), (9L, 199L, 299L)))
      assert(streamRows() == batchRows,
        s"stream ${streamRows()} != batch $batchRows")

      // a click older than the click-side watermark (10:54) is dropped
      // before the join: no new output even though a purchase at 10:30
      // sits within its horizon in batch terms
      clicks.addData(EvRow(2L, 104L, ts(25), 0.0))
      q.processAllAvailable()
      assert(streamRows() == batchRows, "late click must not join")
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L,
        s"expected numRowsDroppedByWatermark >= 1, got $dropped")
    } finally q.stop()
  }

  test("batch sessionization matches hand-computed sessions") {
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0), (1L, ts(10), 2L, "click", 2.0),
      (1L, ts(50), 3L, "click", 4.0), // 40-min gap -> new session
      (2L, ts(5), 4L, "view", 8.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = Sessionize.batch(ev, gapSeconds = 1800L).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("n_events"))).toSet
    assert(out == Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("UpsertSink recovers merged history from the backup after a crashed swap") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("upsert_recover").toString
    val target = s"$dir/target"
    // batch 0 establishes history
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(target)
    // simulate a crash between the retire and the promote renames of the
    // Publish swap: the merged history sits ONLY in the retired dir
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retired = graft.sources.Publish.retired(new Path(target))
    assert(fs.rename(new Path(target), retired))
    // the retried batch must restore the retired copy and merge INTO it,
    // not rebuild from the batch alone
    UpsertSink.mergeBatch(target, Seq("k"))(
      Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), batchId = 1L)
    val out = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "b2", 3L -> "c"),
      "history row k=1 survived the crashed swap")
    assert(!fs.exists(retired))
  }

  test("AggMaintenanceSink maintains a running mart; retried batches are no-ops") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("agg_maint").toString
    val target = s"$dir/mart"
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("tot"))
    val stream = MemoryStream[(String, Long)]
    val q = stream.toDF().toDF("k", "v").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(AggMaintenanceSink.maintainBatch(target, Seq("k"), aggOf) _)
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    def mart() = spark.read.parquet(target).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    try {
      stream.addData(("a", 1L), ("a", 2L), ("b", 5L)); q.processAllAvailable()
      stream.addData(("a", 10L), ("c", 7L)); q.processAllAvailable()
      // running state == the aggregate of everything ever streamed
      assert(mart() == Map("a" -> ((3L, 13L)), "b" -> ((1L, 5L)), "c" -> ((1L, 7L))))
      // a foreachBatch RETRY of an already-applied batch id must not
      // double-add its delta (addition is not idempotent; the marker is)
      AggMaintenanceSink.maintainBatch(target, Seq("k"), aggOf)(
        Seq(("a", 100L)).toDF("k", "v"), batchId = 1L)
      assert(mart() == Map("a" -> ((3L, 13L)), "b" -> ((1L, 5L)), "c" -> ((1L, 7L))),
        "retried batch 1 must be a no-op")
    } finally q.stop()
  }

  test("StreamingFunnel matches batch reach on in-order delivery; advances across batches") {
    import graft.streaming.StreamingFunnel
    implicit val sqlCtx = spark.sqlContext
    val stages = Seq("view", "click", "purchase")
    val stream = MemoryStream[Event]
    val out = StreamingFunnel.track(stream.toDF(), stages)
    val q = out.writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Update).start()
    def latest(): Map[Long, Int] = spark.table("funnel_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).max }
    try {
      // batch 1: user 1 views+clicks; user 2 purchases FIRST (won't count)
      stream.addData(
        Event(1L, ts(5), "view", 0), Event(1L, ts(7), "click", 0),
        Event(2L, ts(3), "purchase", 0), Event(2L, ts(6), "view", 0))
      q.processAllAvailable()
      assert(latest() == Map(1L -> 2, 2L -> 1))
      // the stream state equals the batch operator over the same rows
      val batchReach = graft.operators.Funnel.userReach(
          Seq((1L, ts(5), "view"), (1L, ts(7), "click"),
            (2L, ts(3), "purchase"), (2L, ts(6), "view"))
            .toDF("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", stages)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(latest() == batchReach)
      // batch 2: user 1 purchases after the click -> reach 3 emitted;
      // user 2 clicks after the view -> reach 2
      stream.addData(Event(1L, ts(9), "purchase", 0), Event(2L, ts(8), "click", 0))
      q.processAllAvailable()
      assert(latest() == Map(1L -> 3, 2L -> 2))
    } finally q.stop()
  }

  test("FunnelTws (transformWithState) matches batch reach under the RocksDB state store") {
    import graft.streaming.FunnelTws
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stages = Seq("view", "click", "purchase")
    val stream = MemoryStream[Event]
    val out = FunnelTws.track(stream.toDF(), stages)
    val q = out.writeStream.format("memory").queryName("funnel_tws")
      .outputMode(OutputMode.Update).start()
    def latest(): Map[Long, Int] = spark.table("funnel_tws").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).max }
    try {
      stream.addData(
        Event(1L, ts(5), "view", 0), Event(1L, ts(7), "click", 0),
        Event(2L, ts(3), "purchase", 0), Event(2L, ts(6), "view", 0))
      q.processAllAvailable()
      assert(latest() == Map(1L -> 2, 2L -> 1))
      // stream state equals the batch operator over the same rows
      val batchReach = graft.operators.Funnel.userReach(
          Seq((1L, ts(5), "view"), (1L, ts(7), "click"),
            (2L, ts(3), "purchase"), (2L, ts(6), "view"))
            .toDF("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", stages)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(latest() == batchReach)
      // cross-batch advance through the RocksDB-held state
      stream.addData(Event(1L, ts(9), "purchase", 0), Event(2L, ts(8), "click", 0))
      q.processAllAvailable()
      assert(latest() == Map(1L -> 3, 2L -> 2))
      // the RUNNING query's state operator must actually be on RocksDB:
      // the provider publishes rocksdb* custom metrics in query progress
      // (re-reading the conf we set above would prove nothing)
      import scala.jdk.CollectionConverters._
      val stateOps = q.lastProgress.stateOperators
      assert(stateOps.nonEmpty, "expected a stateful operator in progress")
      assert(stateOps.head.customMetrics.keySet.asScala
        .exists(_.toLowerCase.contains("rocksdb")),
        s"state metrics show no RocksDB provider: ${stateOps.head.customMetrics.keySet}")
    } finally {
      q.stop()
      prior.fold(spark.conf.unset(providerKey))(v => spark.conf.set(providerKey, v))
    }
  }

  test("FunnelTws idle TTL evicts users in event time; they re-emit from scratch and state drains") {
    import graft.streaming.FunnelTws
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stages = Seq("view", "click", "purchase")
    val stream = MemoryStream[Event]
    // 10-minute idle TTL in EVENT time, 1-minute lateness horizon —
    // eviction is driven by the watermark, so the test is deterministic
    // (no wall-clock sleeps)
    val out = FunnelTws.track(stream.toDF(), stages,
      idleTtl = Some(java.time.Duration.ofMinutes(10)),
      watermarkDelay = "1 minute")
    val q = out.writeStream.format("memory").queryName("funnel_tws_ttl")
      .outputMode(OutputMode.Update).start()
    def emitted(): Seq[(Long, Int)] = spark.table("funnel_tws_ttl").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    try {
      stream.addData(Event(1L, ts(5), "view", 0))
      q.processAllAvailable()
      assert(emitted() == Seq((1L, 1)))
      // another user's events push the watermark past 10:05 + TTL → user 1
      // evicts (their last event is 10+ min idle in event time)
      stream.addData(Event(2L, ts(20), "view", 0))
      q.processAllAvailable()
      stream.addData(Event(2L, ts(25), "click", 0))
      q.processAllAvailable()
      // without TTL this second view would NOT re-emit (reach already 1);
      // the evicted user's fresh state fires the emit-on-change contract
      // again — the "re-emit from scratch" price of bounding idle state
      stream.addData(Event(1L, ts(27), "view", 0))
      q.processAllAvailable()
      assert(emitted() == Seq((1L, 1), (2L, 1), (2L, 2), (1L, 1)),
        s"expired user must restart from scratch, got ${emitted()}")
      // and the pre-eviction click is forgotten: a fresh click advances the
      // restarted funnel to 2, not 3
      stream.addData(Event(1L, ts(28), "click", 0))
      q.processAllAvailable()
      assert(emitted().last == ((1L, 2)))
      // eviction must DRAIN state: user 1's re-created rows (funnel+wake)
      // and user 2's are live; nothing from before user 1's eviction
      // lingers. 2 users × 2 value-states = 4 rows ceiling.
      val rows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(rows <= 4, s"evicted state not drained: $rows rows for 2 users")
    } finally {
      q.stop()
      prior.fold(spark.conf.unset(providerKey))(v => spark.conf.set(providerKey, v))
    }
  }

  test("StreamingDedup drops re-delivered keys within the watermark, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val out = StreamingDedup.withinWatermark(stream.toDF(),
      Seq("event_type"), "ts", delay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(
        Event(1L, ts(5), "click", 1.0),
        Event(2L, ts(6), "click", 2.0), // duplicate key within watermark
        Event(3L, ts(7), "view", 3.0))
      q.processAllAvailable()
      stream.addData(Event(4L, ts(8), "click", 4.0)) // still within delay
      q.processAllAvailable()
      val rows = spark.table("dedup_stream").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("user_id")))
      assert(rows.toSet == Set(("click", 1L), ("view", 3L)),
        "first arrival per key survives; re-deliveries within watermark drop")
    } finally q.stop()
  }

  test("UpsertSink merges micro-batches into a parquet target") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("upsert_sink").toString
    val target = s"$dir/target"
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("k", "v").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch(UpsertSink.mergeBatch(target, Seq("k")) _)
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      stream.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      stream.addData((2L, "b2"), (3L, "c")); q.processAllAvailable()
      val out = spark.read.parquet(target).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    } finally q.stop()
  }
}
