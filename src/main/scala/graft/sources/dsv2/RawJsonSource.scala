package graft.sources.dsv2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, IsNotNull, LessThan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 connector for the raw-zone JSONL layout — the deepest
  * extension tier after custom Expressions ([[graft.plans.DotProduct]]):
  * a full `TableProvider` whose scan PUSHES filters and column pruning
  * INTO the source, so predicates run per line during the read and only
  * the required fields are ever materialized. On the reference's raw
  * zone (crawler JSON at warehouse scale) that is the difference between
  * parsing every field of every snapshot and touching only the lines and
  * fields a query needs.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.dsv2.RawJsonSource")
  *     .schema(schema).option("path", dir).load()
  * }}}
  *
  * Scale shape: one InputPartition per file (the raw zone is written in
  * crawl-chunk files, the natural parallel unit); pushed filters are
  * re-reported through `Scan.description`, so `.explain` shows exactly
  * what reached the source. Supported pushdown: IsNotNull / EqualTo /
  * GreaterThan / LessThan on top-level string, long, double and boolean
  * fields — everything else stays residual in Spark (correctness never
  * depends on the source honoring a filter; Spark re-applies residuals).
  * Corrupt lines are skipped at the source (the permissive contract of
  * [[graft.sources.RawZone]]).
  */
class RawJsonSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft raw-json requires an explicit schema (inference would cost a full scan)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("option 'path' is required"))
    new RawJsonTable(schema, path)
  }
}

private[dsv2] class RawJsonTable(schema: StructType, path: String)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-raw-json($path)"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RawJsonScanBuilder(schema, path)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    new RawJsonWriteBuilder(info.schema(), path, info.queryId())
}

private[dsv2] class RawJsonScanBuilder(fullSchema: StructType, path: String)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var agg: Option[(Seq[StructField], Seq[AggSpec])] = None

  private def pushable(f: Filter): Boolean = f match {
    case IsNotNull(a)      => fullSchema.fieldNames.contains(a)
    case EqualTo(a, _)     => fullSchema.fieldNames.contains(a)
    case GreaterThan(a, _) => fullSchema.fieldNames.contains(a)
    case LessThan(a, _)    => fullSchema.fieldNames.contains(a)
    case _                 => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(pushable)
    // everything returned here is evaluated AGAIN by Spark — pushed
    // filters are a scan reduction, never the correctness boundary
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // --- AGGREGATE pushdown (SupportsPushDownAggregates): the source
  // pre-aggregates each file and ships ONE row per (file, group) instead
  // of every matching line — on a warehouse-scale raw zone that turns a
  // row-count-sized exchange into a group-count-sized one. PARTIAL
  // pushdown only (supportCompletePushDown = false): Spark plans the
  // final merge (SUM over counts/sums, MIN/MAX over minima/maxima), so
  // per-file partials are the correctness-safe decomposable shape and
  // the source never needs a global view. Expected scan schema after a
  // successful push: grouping columns FIRST, then one column per
  // aggregate in translated order.

  private def fieldOf(e: Expression): Option[StructField] = e match {
    // NamedReference is the public face; FieldReference is private[sql]
    case nr: NamedReference if nr.fieldNames().length == 1 =>
      fullSchema.fields.find(_.name == nr.fieldNames()(0))
    case _ => None
  }

  /** MIN/MAX orderables this source compares exactly (string order is
    * UTF8String order on both sides — the pushed-filter discipline).
    */
  private def orderable(dt: DataType): Boolean =
    dt == LongType || dt == DoubleType || dt == StringType

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    false

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // Spark only attempts aggregate pushdown when no post-scan filters
    // remain; this source reports EVERY filter as residual (pushed
    // filters are conservative scan reductions, not exact), so a filtered
    // query never reaches here — keep the guard in case that contract
    // shifts, because aggregating conservatively-filtered rows would be
    // wrong with no residual row left for Spark to re-check.
    if (pushed.nonEmpty) return false
    // grouped aggregation only: a GLOBAL aggregate over an empty source
    // must yield count = 0, but zero partial rows merge to NULL — decline
    // rather than depend on the engine's empty-merge convention
    if (aggregation.groupByExpressions.isEmpty) return false
    val groups = aggregation.groupByExpressions.toSeq.map(fieldOf)
    if (groups.exists(_.isEmpty)) return false
    val specs = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(AggSpec("count_star", "", LongType, NullType))
      case c: Count if !c.isDistinct =>
        // null-ness must match what the unpushed scan would read: a
        // type-surprise field reads null under the declared schema type,
        // so count through the SAME projection
        fieldOf(c.column).map(f =>
          AggSpec("count", f.name, LongType, f.dataType))
      case s: Sum if !s.isDistinct =>
        // LongType only: the engine's long SUM is exact and the merge is
        // associative; double sums are shuffle-order-sensitive and belong
        // engine-side where the plan owns the ordering discipline
        fieldOf(s.column).collect {
          case f if f.dataType == LongType =>
            AggSpec("sum", f.name, LongType, LongType)
        }
      case m: Min =>
        fieldOf(m.column).collect {
          case f if orderable(f.dataType) =>
            AggSpec("min", f.name, f.dataType, f.dataType)
        }
      case m: Max =>
        fieldOf(m.column).collect {
          case f if orderable(f.dataType) =>
            AggSpec("max", f.name, f.dataType, f.dataType)
        }
      case _ => None
    }
    // all-or-nothing: one untranslatable aggregate keeps the whole
    // aggregation engine-side (partial pushdown cannot mix grains)
    if (specs.exists(_.isEmpty)) return false
    agg = Some((groups.flatten, specs.flatten))
    true
  }

  override def build(): Scan = agg match {
    case Some((groups, specs)) =>
      new RawJsonAggScan(path, groups, specs)
    case None => new RawJsonScan(path, required, pushed)
  }
}

/** One pushed aggregate: `kind` ∈ count_star/count/sum/min/max, `field`
  * the source column (empty for count_star), `dt` the partial's type,
  * `fieldDt` the source column's DECLARED type (null-ness is evaluated
  * through the same projection the unpushed scan would apply).
  */
private[dsv2] case class AggSpec(kind: String, field: String, dt: DataType,
                                 fieldDt: DataType)

private[dsv2] class RawJsonScan(path: String, required: StructType,
                                pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-raw-json PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def planInputPartitions(): Array[InputPartition] =
    RawJsonFiles.partitions(path)

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    new RawJsonReaderFactory(required, pushed, conf)
  }

  // --- STREAMING read tier (MICRO_BATCH_READ): the crawler-tail
  // continuous-ingest shape — a raw zone that keeps receiving crawl-chunk
  // files is consumed as a stream with FILE-GRANULAR offsets backed by a
  // COMPACTED FILE LOG in the checkpoint dir (round 19; the built-in
  // FileStreamSource's bookkeeping tier): an Offset is a single log
  // INDEX — O(1) bytes however many chunk files the zone holds — and the
  // log pins each discovered file to a permanent position, so a
  // micro-batch reads exactly log positions (start, end] and a restart
  // replays the identical file set. Correctness leans on the zone's
  // append discipline (files are IMMUTABLE once visible — this
  // connector's own write path publishes by rename from a hidden staging
  // dir, so a partially written file is never listed). Filters/pruning
  // push down exactly as in batch: the streaming planner drives the same
  // ScanBuilder.
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val spark = org.apache.spark.sql.SparkSession.active
    new RawJsonMicroBatchStream(path, required, pushed,
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
      checkpointLocation)
  }
}

private[dsv2] object RawJsonFiles {
  /** Visible data files under `path` (recursive), sorted. The
    * hidden-name filter applies to DIRECTORIES too: _temporary attempt
    * files and _spark_metadata logs under a crashed/streaming writer's
    * output are valid JSON lines that are NOT data (the built-in reader
    * excludes them; emitting them would mean duplicate/phantom rows).
    * A missing root lists as empty — a streaming source may start
    * watching before the first crawl chunk lands.
    */
  def list(path: String, hadoopConf: org.apache.hadoop.conf.Configuration)
      : Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    def files(dir: Path): Seq[Path] =
      fs.listStatus(dir).toSeq.flatMap { s =>
        val name = s.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (s.isDirectory) files(s.getPath)
        else Seq(s.getPath)
      }
    if (!fs.exists(p)) Nil
    else files(p).map(_.toString).sorted
  }

  /** One InputPartition per data file (the raw zone is written in
    * crawl-chunk files, the natural parallel unit).
    */
  def partitions(path: String): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    list(path, spark.sparkContext.hadoopConfiguration)
      .map(f => RawJsonInputPartition(f): InputPartition).toArray
  }
}

/** LEGACY (pre-round-19) file-list offset — O(files) per entry. Kept so
  * a checkpoint written by an older build restarts cleanly: its
  * committed offset deserializes to this and [[RawJsonMicroBatchStream]]
  * treats the listed files as already-consumed when planning the first
  * post-upgrade batch.
  */
private[dsv2] case class RawJsonStreamOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = {
    val mapper = new ObjectMapper()
    val arr = mapper.createArrayNode()
    files.sorted.foreach(arr.add)
    mapper.writeValueAsString(arr)
  }
}

/** Index offset: `idx` = number of files in the stream's file-log
  * prefix already consumed. O(1) bytes regardless of zone size — the
  * whole point of the log tier.
  */
private[dsv2] case class RawJsonIndexOffset(idx: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = s"""{"v":2,"idx":$idx}"""
}

/** The per-query FILE LOG under `<checkpoint>/graft_file_log/`: an
  * append-only sequence of chunk files (`<n>.log`, newline-separated
  * zone paths in discovery order — newly-visible files are sorted
  * before logging so positions are deterministic) periodically folded
  * into `<n>.compact` snapshots (every [[RawJsonFileLog.CompactEvery]]
  * chunks; the compact covers ALL positions ≤ its id, after which older
  * chunk/compact files are deleted). A file's log POSITION is permanent
  * — that is what makes an index offset a replayable record. Crash
  * safety: the compact is written before anything is deleted, and
  * restore reads max-compact + later chunks, so a crash between the
  * two leaves only harmless redundancy.
  *
  * Single-writer by construction: the log lives in the query's OWN
  * checkpoint dir and Spark drives a MicroBatchStream from one driver
  * thread.
  */
private[dsv2] class RawJsonFileLog(logDir: String,
                                   conf: org.apache.hadoop.conf.Configuration) {
  import RawJsonFileLog.CompactEvery

  private val dir = new Path(logDir)
  private val fs = dir.getFileSystem(conf)

  /** Ordered logged files (position i = element i) + fast membership. */
  private val ordered = scala.collection.mutable.ArrayBuffer.empty[String]
  private val member = scala.collection.mutable.HashSet.empty[String]
  private var lastChunkId = -1L

  restore()

  private def idOf(name: String): Long =
    name.substring(0, name.indexOf('.')).toLong

  private def readLines(p: Path): Seq[String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).toVector
    finally in.close()
  }

  private def restore(): Unit = {
    if (!fs.exists(dir)) return
    val entries = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.endsWith(".log") || n.endsWith(".compact"))
    if (entries.isEmpty) return
    val compacts = entries.filter(_.endsWith(".compact"))
    val baseId = if (compacts.isEmpty) -1L else compacts.map(idOf).max
    if (baseId >= 0)
      ordered ++= readLines(new Path(dir, f"$baseId%020d.compact"))
    entries.filter(_.endsWith(".log")).map(idOf).filter(_ > baseId).sorted
      .foreach(id => ordered ++= readLines(new Path(dir, f"$id%020d.log")))
    member ++= ordered
    lastChunkId = (entries.map(idOf) :+ -1L).max
  }

  def size: Long = ordered.length.toLong

  /** Log positions (start, end] — the micro-batch's file set. */
  def slice(start: Long, end: Long): Seq[String] = {
    require(start >= 0 && end <= size && start <= end,
      s"log slice ($start, $end] out of range 0..$size — the offset " +
        "references positions this checkpoint's file log never recorded")
    ordered.slice(start.toInt, end.toInt).toSeq
  }

  /** Position of the first unseen file among `visible`, after appending
    * the unseen ones (sorted) as a new chunk; no-op when nothing new.
    * Returns the new log size.
    */
  def appendNew(visible: Seq[String]): Long = {
    val fresh = visible.filterNot(member).sorted
    if (fresh.nonEmpty) {
      lastChunkId += 1
      write(new Path(dir, f"$lastChunkId%020d.log"), fresh)
      ordered ++= fresh
      member ++= fresh
      if (lastChunkId % CompactEvery == CompactEvery - 1) compact()
    }
    size
  }

  /** Temp-file + rename, like Spark's HDFSMetadataLog: a crash
    * mid-write must never leave a TORN last line that restore() would
    * accept as a valid zone path at a permanent log position (once an
    * offset covers it, every replay of that batch would fail on the
    * nonexistent file). Leftover `.tmp` names match neither `.log` nor
    * `.compact`, so restore() ignores them.
    */
  private def write(p: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, false)
    val out = fs.create(tmp, false)
    try out.write(lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // rename refuses an existing target: never overwrite a log position
    graft.sources.Publish.rename(fs, tmp, p)
  }

  private def compact(): Unit = {
    write(new Path(dir, f"$lastChunkId%020d.compact"), ordered.toSeq)
    // compact durable; now drop superseded entries
    fs.listStatus(dir).map(_.getPath).foreach { p =>
      val n = p.getName
      val superseded =
        (n.endsWith(".log") && idOf(n) <= lastChunkId) ||
          (n.endsWith(".compact") && idOf(n) < lastChunkId)
      if (superseded) { fs.delete(p, false); () }
    }
  }
}

private[dsv2] object RawJsonFileLog {
  /** Fold the log every this many chunks. */
  val CompactEvery = 10
}

private[dsv2] class RawJsonMicroBatchStream(path: String,
    required: StructType, pushed: Array[Filter],
    conf: SerializableConfiguration, checkpointLocation: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private lazy val log =
    new RawJsonFileLog(s"$checkpointLocation/graft_file_log", conf.value)

  override def initialOffset(): Offset = RawJsonIndexOffset(0L)

  /** Discover, log, and return the O(1) index offset. */
  override def latestOffset(): Offset =
    RawJsonIndexOffset(log.appendNew(RawJsonFiles.list(path, conf.value)))

  override def deserializeOffset(json: String): Offset = {
    val node = new ObjectMapper().readTree(json)
    if (node != null && node.isArray) {
      // pre-round-19 checkpoint: the offset carried the full file list
      val files = (0 until node.size()).map(node.get(_).asText())
      RawJsonStreamOffset(files)
    } else {
      require(node != null && node.isObject && node.has("idx") &&
        node.get("v").asInt() == 2,
        s"graft raw-json stream offset must be a v2 index object or a " +
          s"legacy file array, got: $json")
      RawJsonIndexOffset(node.get("idx").asLong())
    }
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = end match {
    case RawJsonIndexOffset(endIdx) =>
      start match {
        case RawJsonIndexOffset(s) =>
          log.slice(s, endIdx)
            .map(f => RawJsonInputPartition(f): InputPartition).toArray
        case RawJsonStreamOffset(files) =>
          // upgrade replay: everything in the log prefix not already
          // consumed by the legacy offset's file list
          val done = files.toSet
          log.slice(0L, endIdx).filterNot(done)
            .map(f => RawJsonInputPartition(f): InputPartition).toArray
      }
    case RawJsonStreamOffset(endFiles) =>
      // a legacy END happens exactly once: the FIRST restart from a
      // pre-round-19 checkpoint whose last batch was offset-logged but
      // never committed — Spark replays that pending batch verbatim.
      // Plan (end.files \ start-consumed); the next latestOffset()
      // switches the query to index offsets for good. (Before round 20
      // this threw, making such an upgrade fail permanently: every
      // restart replays the same pending batch.)
      val done = start match {
        case RawJsonStreamOffset(files) => files.toSet
        case RawJsonIndexOffset(s) =>
          log.slice(0L, math.min(s, log.size)).toSet
      }
      endFiles.filterNot(done)
        .map(f => RawJsonInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RawJsonReaderFactory(required, pushed, conf)

  // Spark's offset log IS the commit record; files are immutable once
  // visible and their log positions permanent
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Scan for a pushed aggregation: reads each file ONCE, folds every
  * valid line into a per-file group table, and emits one partial row per
  * (file, group) — grouping columns first, then the aggregate partials,
  * the layout the engine's final-merge rewrite expects.
  *
  * Memory shape: the per-file group map is bounded by the file's group
  * cardinality — the pushdown's value proposition assumes dimension-like
  * group keys (brands, categories, dates), which is also when shipping
  * partials beats shipping rows. A pathological high-cardinality group
  * key degrades toward the unpushed row count, never above it.
  */
private[dsv2] class RawJsonAggScan(path: String, groups: Seq[StructField],
                                   specs: Seq[AggSpec]) extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    groups.map(f => StructField(f.name, f.dataType)) ++
      specs.zipWithIndex.map { case (s, i) =>
        StructField(s"agg_$i(${s.kind}${if (s.field.isEmpty) "" else ":" + s.field})",
          s.dt)
      })
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-raw-json PushedAggregation: " +
      s"groupBy=[${groups.map(_.name).mkString(", ")}], " +
      s"aggs=[${specs.map(s => s"${s.kind}(${s.field})").mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    RawJsonFiles.partitions(path)

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    new RawJsonAggReaderFactory(groups, specs, conf)
  }
}

private[dsv2] class RawJsonAggReaderFactory(groups: Seq[StructField],
    specs: Seq[AggSpec], conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RawJsonAggPartitionReader(
      partition.asInstanceOf[RawJsonInputPartition].file, groups, specs, conf)
}

/** Per-file partial aggregation. Accumulator conventions match SQL:
  * count_star counts every valid object line in the group; count(col)
  * counts non-null fields; sum/min/max over zero non-null values emit
  * NULL (the engine's final merge treats them as absent). Group keys
  * compare as the engine would (UTF8String for strings); a null group
  * field is a real group, merged engine-side with other files' nulls.
  */
private[dsv2] class RawJsonAggPartitionReader(file: String,
    groups: Seq[StructField], specs: Seq[AggSpec],
    conf: SerializableConfiguration) extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()

  private def fieldValue(node: JsonNode, name: String, dt: DataType): Any = {
    val f = node.get(name)
    if (f == null || f.isNull) null
    else dt match {
      case LongType    => if (f.isIntegralNumber) f.asLong() else null
      case DoubleType  => if (f.isNumber) f.asDouble() else null
      case BooleanType => if (f.isBoolean) f.asBoolean() else null
      case StringType  =>
        UTF8String.fromString(if (f.isTextual) f.asText() else f.toString)
      case _ => null
    }
  }

  // fold the whole file eagerly on first next(): the partial table IS the
  // read result, there is nothing to stream until the file is consumed
  private lazy val rows: Iterator[InternalRow] = {
    val p = new Path(file)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getFileSystem(conf.value).open(p),
      java.nio.charset.StandardCharsets.UTF_8))
    // Array wrapper so null group values hash/compare structurally
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], Array[Any]]
    try {
      var line = in.readLine()
      while (line != null) {
        val node =
          try mapper.readTree(line)
          catch { case _: Exception => null } // corrupt line: skip at source
        if (node != null && node.isObject) {
          val key = groups.map(g => fieldValue(node, g.name, g.dataType))
          val a = acc.getOrElseUpdate(key, Array.fill[Any](specs.length)(null))
          specs.zipWithIndex.foreach { case (s, i) =>
            s.kind match {
              case "count_star" =>
                a(i) = (if (a(i) == null) 0L else a(i).asInstanceOf[Long]) + 1L
              case "count" =>
                if (fieldValue(node, s.field, s.fieldDt) != null)
                  a(i) = (if (a(i) == null) 0L else a(i).asInstanceOf[Long]) + 1L
              case "sum" =>
                val v = fieldValue(node, s.field, LongType)
                if (v != null)
                  a(i) = (if (a(i) == null) 0L else a(i).asInstanceOf[Long]) +
                    v.asInstanceOf[Long]
              case "min" | "max" =>
                val v = fieldValue(node, s.field, s.dt)
                if (v != null) {
                  val better = a(i) == null || {
                    val c = compareVals(v, a(i), s.dt)
                    if (s.kind == "min") c < 0 else c > 0
                  }
                  if (better) a(i) = v
                }
            }
          }
        }
        line = in.readLine()
      }
    } finally in.close()
    acc.iterator.map { case (key, a) =>
      InternalRow.fromSeq(key ++ a.toSeq)
    }
  }

  private def compareVals(x: Any, y: Any, dt: DataType): Int = dt match {
    case LongType   => java.lang.Long.compare(x.asInstanceOf[Long], y.asInstanceOf[Long])
    case DoubleType => java.lang.Double.compare(x.asInstanceOf[Double], y.asInstanceOf[Double])
    case StringType => x.asInstanceOf[UTF8String].compareTo(y.asInstanceOf[UTF8String])
    case other      => sys.error(s"unorderable pushdown type $other")
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

private[dsv2] case class RawJsonInputPartition(file: String) extends InputPartition

private[dsv2] class RawJsonReaderFactory(required: StructType,
    pushed: Array[Filter], conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new RawJsonPartitionReader(
      partition.asInstanceOf[RawJsonInputPartition].file, required, pushed, conf)
}

private[dsv2] class RawJsonPartitionReader(file: String, required: StructType,
    pushed: Array[Filter], conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val in = {
    val p = new Path(file)
    new java.io.BufferedReader(new java.io.InputStreamReader(
      p.getFileSystem(conf.value).open(p), java.nio.charset.StandardCharsets.UTF_8))
  }
  private var row: InternalRow = _

  private def fieldValue(node: JsonNode, name: String, dt: DataType): Any = {
    val f = node.get(name)
    if (f == null || f.isNull) null
    else dt match {
      case LongType    => if (f.isIntegralNumber) f.asLong() else null
      case DoubleType  => if (f.isNumber) f.asDouble() else null
      case BooleanType => if (f.isBoolean) f.asBoolean() else null
      case StringType  =>
        UTF8String.fromString(if (f.isTextual) f.asText() else f.toString)
      case _ => null // unsupported types read as null (documented surface)
    }
  }

  /** Evaluate one pushed filter against the raw node (source-side skip).
    * A comparison we cannot do EXACTLY (null field, type surprise,
    * integral beyond long) conservatively PASSES — Spark's residual
    * filter is the correctness boundary and will re-drop; a false drop
    * here would be a silently missing row nothing can resurrect.
    */
  private def passes(node: JsonNode, f: Filter): Boolean = f match {
    case IsNotNull(a) => { val v = node.get(a); v != null && !v.isNull }
    case EqualTo(a, v) => compare(node.get(a), v).forall(_ == 0)
    case GreaterThan(a, v) => compare(node.get(a), v).forall(_ > 0)
    case LessThan(a, v) => compare(node.get(a), v).forall(_ < 0)
    case _ => true
  }

  private def compare(f: JsonNode, v: Any): Option[Int] = {
    if (f == null || f.isNull) return None // residual drops null comparisons
    v match {
      // UTF8String order, NOT Java String compareTo: Spark compares UTF-8
      // bytes, and UTF-16 surrogate pairs sort differently (e.g. U+1F600
      // vs U+E000) — a source disagreeing with the engine's order would
      // falsely drop rows
      case s: String if f.isTextual =>
        Some(UTF8String.fromString(f.asText()).compareTo(UTF8String.fromString(s)))
      // exact integral compare where both sides are longs: a double
      // round-trip collapses values above 2^53
      case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
                _: java.lang.Byte) if f.isIntegralNumber && f.canConvertToLong =>
        Some(java.lang.Long.compare(f.asLong(), n.asInstanceOf[Number].longValue()))
      case n: Number if f.isNumber && !n.isInstanceOf[java.lang.Long] &&
          !n.isInstanceOf[java.lang.Integer] =>
        Some(java.lang.Double.compare(f.asDouble(), n.doubleValue()))
      case b: java.lang.Boolean if f.isBoolean =>
        Some(java.lang.Boolean.compare(f.asBoolean(), b))
      case _ => None
    }
  }

  override def next(): Boolean = {
    var line = in.readLine()
    while (line != null) {
      val node =
        try mapper.readTree(line)
        catch { case _: Exception => null } // corrupt line: skip at source
      if (node != null && node.isObject && pushed.forall(passes(node, _))) {
        row = InternalRow.fromSeq(
          required.fields.toSeq.map(f => fieldValue(node, f.name, f.dataType)))
        return true
      }
      line = in.readLine()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

// ---------------------------------------------------------------------------
// WRITE path (SupportsWrite): the connector tier that completes the raw-zone
// story — the crawler-shaped JSONL this source READS can now also be
// PRODUCED through the same connector, with the two-phase staged-commit
// protocol a production file sink needs:
//
//   - every write TASK streams its rows to a unique file under a hidden
//     `.staging_write_<queryId>/` dir (hidden names are invisible to this
//     source's own reader and to the built-in readers — uncommitted data can
//     never be observed);
//   - task commit returns the staged file name as its commit MESSAGE; task
//     abort deletes the attempt's file. A speculative/retried attempt writes
//     its OWN uniquely-named file, so two attempts never collide and only
//     the attempt Spark commits is ever published;
//   - job commit publishes exactly the committed messages' files by rename
//     into the target (after deleting the target's visible files when the
//     write is a truncating overwrite), then removes the staging dir; job
//     abort just removes the staging dir — the target is untouched by any
//     PRE-COMMIT failure or job abort. Published names carry the queryId,
//     so appends from different Spark applications (whose taskIds can
//     repeat) never collide. The commit phase itself is rename-at-a-time,
//     not atomic: a crash mid-commit can leave a partially published
//     target (the usual file-sink contract — an object-store-atomic
//     commit needs a manifest tier, out of this connector's scope).
//
// Field types mirror the read path (string/long/double/boolean); anything
// else is rejected loudly at build time. Non-finite doubles are rejected
// per row (JSON has no literal for them; silently writing "NaN" would
// produce lines the corrupt-line skip silently DROPS on read-back — the
// one failure a round-trip contract cannot absorb).
// ---------------------------------------------------------------------------

private[dsv2] class RawJsonWriteBuilder(schema: StructType, path: String,
                                        queryId: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  import org.apache.spark.sql.connector.write.{Write, WriteBuilder}

  private var doTruncate = false

  schema.fields.foreach { f =>
    require(f.dataType == StringType || f.dataType == LongType ||
      f.dataType == DoubleType || f.dataType == BooleanType,
      s"graft raw-json write supports string/long/double/boolean only; " +
        s"column '${f.name}' is ${f.dataType.simpleString}")
  }

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new org.apache.spark.sql.connector.write.Write {
    override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
      val spark = org.apache.spark.sql.SparkSession.active
      new RawJsonBatchWrite(schema, path, doTruncate, queryId,
        new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    }
  }
}

private[dsv2] case class RawJsonCommitMessage(stagedFile: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[dsv2] class RawJsonBatchWrite(schema: StructType, path: String,
                                      truncate: Boolean, queryId: String,
                                      conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}

  private def stagingDir = new Path(path, s".staging_write_$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new RawJsonWriterFactory(schema, stagingDir.toString, conf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    val target = new Path(path)
    fs.mkdirs(target)
    if (truncate) {
      // overwrite contract: the connector's write layout is flat data
      // files directly under `path`; visible entries are replaced, hidden
      // bookkeeping (and this job's own staging) survives until cleanup
      fs.listStatus(target).foreach { s =>
        val n = s.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          graft.sources.Publish.delete(fs, s.getPath)
      }
    }
    messages.foreach { case RawJsonCommitMessage(staged) =>
      val src = new Path(staged)
      // queryId-prefixed published name: staged names are only
      // (partitionId, taskId)-unique, and taskIds repeat across Spark
      // APPLICATIONS — two appends from different apps must never
      // rename onto the same target file
      graft.sources.Publish.rename(fs, src, new Path(target, s"$queryId-${src.getName}"))
    }
    fs.delete(stagingDir, true)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    fs.delete(stagingDir, true)
    ()
  }
}

private[dsv2] class RawJsonWriterFactory(schema: StructType, stagingDir: String,
                                         conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long):
      org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new RawJsonDataWriter(schema, stagingDir, partitionId, taskId, conf)
}

private[dsv2] class RawJsonDataWriter(schema: StructType, stagingDir: String,
                                      partitionId: Int, taskId: Long,
                                      conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.spark.sql.connector.write.WriterCommitMessage

  // attempt-unique name: a speculative twin writes its own file and only
  // the committed attempt's message is ever published
  private val file = new Path(stagingDir, f"part-$partitionId%05d-$taskId.jsonl")
  private val fs = file.getFileSystem(conf.value)
  private val out = fs.create(file, true)
  private val mapper = new ObjectMapper()

  override def write(row: InternalRow): Unit = {
    val node = mapper.createObjectNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (row.isNullAt(i)) node.putNull(f.name)
      else f.dataType match {
        case StringType  => node.put(f.name, row.getUTF8String(i).toString)
        case LongType    => node.put(f.name, row.getLong(i))
        case BooleanType => node.put(f.name, row.getBoolean(i))
        case DoubleType  =>
          val d = row.getDouble(i)
          require(!d.isNaN && !d.isInfinite,
            s"graft raw-json write: non-finite double in '${f.name}' — " +
              "JSON has no literal; a written 'NaN' line would be silently " +
              "dropped as corrupt on read-back")
          node.put(f.name, d)
        case other => throw new IllegalStateException(
          s"unreachable: builder rejects ${other.simpleString}")
      }
    }
    out.write((mapper.writeValueAsString(node) + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private var closed = false
  private def closeOut(): Unit = if (!closed) {
    closed = true
    out.close()
  }

  override def commit(): WriterCommitMessage = {
    closeOut()
    RawJsonCommitMessage(file.toString)
  }

  override def abort(): Unit = {
    try closeOut() catch { case _: Exception => () }
    fs.delete(file, false)
    ()
  }

  // Spark guarantees commit() or abort() inside DataWritingSparkTask, but
  // a harness reusing the writer outside that path calls only close() —
  // release the staged handle on every exit (idempotent)
  override def close(): Unit =
    try closeOut() catch { case _: Exception => () }
}
