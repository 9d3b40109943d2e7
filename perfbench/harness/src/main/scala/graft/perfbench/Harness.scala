package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.operators.OpCache
import graft.operators.dedup.IncrementalClusters
import graft.operators.multimodal.ImageHashIndex
import graft.pipelines.{AnalyticsPipeline, FxPipeline, TikiDailyPipeline, TrendsPipeline}
import graft.queries.SimilarityQueries

/** The benchmark's recorder: one process runs one workload's passes over
  * inputs generated beforehand and writes what it measured as JSON. It
  * computes no metric and checks no output; `perfbench/run.py` does both.
  *
  * Usage: Harness prepare|run <workload> <inputDir> <outDir> <seconds> <trace 0|1>
  *   prepare: derive the inputs a workload builds with graft itself (the
  *            media images) into `inputDir`.
  *   run:     set up, run one cold pass and the workload's warm-up
  *            passes, then measured passes until `seconds` have passed and
  *            the workload's minimum is met (at most what the inputs
  *            allow); untraced, set up `ReSetups` more times; write
  *            `result.json`.
  */
object Harness {

  /** Set-ups after the passes in an untraced run, each a fresh session and
    * registration in this JVM; their timings are noisy, so take several.
    */
  val ReSetups = 10

  /** What a pass may call: `step` times one closed-loop step, `span`
    * attributes the Spark work of a call to a layer when tracing.
    */
  final class Loop(val span: Spans) {
    val steps = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0

    def step[T](body: => T): T = {
      attempted += 1
      val t0 = System.nanoTime()
      try body
      catch { case e: Throwable => failed += 1; throw e }
      finally steps += (System.nanoTime() - t0) / 1e9
    }
  }

  trait Workload {
    /** Table registration: part of set-up. */
    def register(): Unit
    /** Derives, into `input`, inputs that need graft's own encoders. */
    def prepare(): Unit = ()
    /** How many passes the inputs allow. */
    def passes: Int
    /** Passes after the cold one that run but are not measured: the JIT is
      * still compiling graft's and Spark's driver code through them, and
      * their times fall pass by pass until it is done.
      */
    def warmupPasses: Int
    /** Measured passes per run whatever `seconds` says: enough for a
      * steady median.
      */
    def minMeasuredPasses: Int
    /** Where the passes keep their durable outputs: one state that grows
      * pass by pass.
      */
    def state(out: String): String
    /** One pass: durable outputs under `state`, the outputs run.py checks
      * under `result`.
      */
    def pass(k: Int, state: String, result: String, loop: Loop): Unit
    /** graft's oracle SQL texts run.py replays this workload's outputs
      * with (none: check.py holds the replay).
      */
    def oracles: Map[String, String] = Map.empty
  }

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty)

  /** etl_backfill: each pass is one execution date through the four
    * reference DAGs in Backfill's order, into one warehouse that grows by
    * a partition per date; the cold pass is a fresh process's daily run.
    */
  final class EtlBackfill(spark: SparkSession, input: String) extends Workload {
    private var keywordMap: DataFrame = _
    // date, fetched USD/VND rate (empty: the fetch failed)
    private val days = lines(s"$input/days.csv").map(_.split(",", -1)).map {
      case Array(d, r) => (d, if (r.isEmpty) None else Some(r.toDouble))
    }

    def register(): Unit = {
      keywordMap = spark.read.parquet(s"$input/keywords.parquet")
      keywordMap.createOrReplaceTempView("keywords")
    }

    def passes: Int = days.size
    // ~4 s passes, still falling slowly after the fifth date
    def warmupPasses: Int = 4
    def minMeasuredPasses: Int = 4
    def state(out: String): String = s"$out/warehouse"

    def pass(k: Int, wh: String, result: String, loop: Loop): Unit = {
      val (date, rate) = days(k)
      loop.step {
        loop.span("pipelines.tiki")(
          TikiDailyPipeline.run(spark, s"$input/raw", wh, date))
        loop.span("pipelines.trends")(TrendsPipeline.run(spark,
          s"$input/trends/$date.csv", s"$wh/fact_google_trends"))
        loop.span("pipelines.fx")(
          FxPipeline.run(spark, rate, date, s"$wh/dim_exchange_rate"))
        loop.span("pipelines.analytics")(
          AnalyticsPipeline.run(spark, wh, date, keywordMap))
      }
      loop.span("harness.result") {
        spark.read.parquet(s"$wh/analytics_product_market_daily")
          .select(col("date"), col("product_id"), col("product_name"),
            col("category_name"), col("price_vnd_real"), col("price_vnd_list"),
            col("discount_percentage"), col("price_usd_real"), col("fx_rate"),
            col("trend_keyword"), col("google_trend_score"),
            col("trend_signal_status"))
          .write.parquet(s"$result/mart")
      }
    }
  }

  /** media_incremental: each pass is one daily delta — append its images
    * to the banded index, fold the new-pair ledger into the persisted
    * clusters, then read the labelling. Index and cluster state grow
    * across passes.
    */
  final class MediaIncremental(spark: SparkSession, input: String) extends Workload {
    private var images: DataFrame = _
    private var deltas: DataFrame = _
    private lazy val nDeltas = lines(s"$input/deltas.txt").head.trim.toInt

    // every doc id's image, shared by all seeds' input directories
    private val blobs = Paths.get(input).resolveSibling("media_blobs").toString

    def register(): Unit = {
      deltas = spark.read.parquet(s"$input/deltas.parquet")
      deltas.createOrReplaceTempView("deltas")
      Tables.documents(spark, input).createOrReplaceTempView("documents")
      images = spark.read.parquet(s"$blobs/images.parquet")
    }

    /** Run on the blobs directory itself: the images derive from its
      * `documents` exactly as the q186 gate derives its own. Encoding them
      * is input generation, done once, outside any measured process.
      */
    override def prepare(): Unit = {
      SimilarityQueries.imageCorpus(spark, input)
        .write.mode("overwrite").parquet(s"$input/.images.parquet.tmp")
      Files.move(Paths.get(s"$input/.images.parquet.tmp"),
        Paths.get(s"$input/images.parquet"))
    }

    def passes: Int = nDeltas
    // ~2.1 s passes, still falling slowly after the fifth delta
    def warmupPasses: Int = 4
    def minMeasuredPasses: Int = 7
    def state(out: String): String = s"$out/media"

    def pass(k: Int, dir: String, result: String, loop: Loop): Unit = {
      loop.step {
        val ids = broadcast(deltas.filter(col("delta") === k).select("doc_id"))
        val pairs = loop.span("multimodal.append")(ImageHashIndex.append(
          spark, s"$dir/index", images.join(ids, "doc_id"), "doc_id", "blob"))
        loop.span("dedup.fold")(IncrementalClusters.append(
          spark, s"$dir/clusters", pairs, "a_id", "b_id"))
      }
      loop.span("dedup.clusters") {
        IncrementalClusters.clusters(spark, s"$dir/clusters")
          .select(col("node").as("doc_id"), col("cluster_rep"), col("cluster_size"))
          .write.parquet(s"$result/clusters")
      }
    }

    override def oracles: Map[String, String] = Map("clusters" -> SimilarityQueries.q171Oracle)
  }

  /** (bytes, data files) under `dir`; hidden and marker files count as
    * bytes only.
    */
  private def stored(dir: String): (Long, Int) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0)
    val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size).sum,
      files.count(f => !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")))
  }

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Bytes this process has passed to write(2) and friends. */
  private def wchar(): Long =
    lines("/proc/self/io").collectFirst {
      case l if l.startsWith("wchar:") => l.stripPrefix("wchar:").trim.toLong
    }.getOrElse(-1L)

  /** Heap in use after full GCs, repeated while they still free memory:
    * Spark's cleaner releases a pass's broadcast and shuffle blocks only
    * after a GC has found their handles unreachable, on its own thread, so
    * each GC after the first waits for it a little.
    */
  private def liveHeap(): Long = {
    val heap = ManagementFactory.getMemoryMXBean
    var (prev, cur, n) = (Long.MaxValue, Long.MaxValue, 0)
    while (n < 5 && (n < 2 || prev - cur > (1L << 20))) {
      if (n > 0) Thread.sleep(100)
      System.gc()
      prev = cur
      cur = heap.getHeapMemoryUsage.getUsed
      n += 1
    }
    cur
  }

  private def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), Json(v).getBytes(UTF_8))

  def main(args: Array[String]): Unit = {
    val Array(mode, name, input, out, seconds, trace) = args
    val tracing = trace == "1"
    // One task slot: the passes are bound by jobs and driver gaps, not task
    // slots (on a 4-core host local[1] ran faster than local[2] and
    // local[4]), and the free cores keep the JIT's threads from contending
    // with the driver and the task being timed
    val cores = 1

    /** Set-up: a graft session and the workload's registered inputs. */
    def open(register: Boolean = true): (SparkSession, Workload) = {
      val spark = GraftSession.builder(s"local[$cores]", cores)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val workload: Workload = name match {
        case "etl_backfill" => new EtlBackfill(spark, input)
        case "media_incremental" => new MediaIncremental(spark, input)
      }
      if (register) workload.register()
      (spark, workload)
    }

    val (spark, workload) = open(register = mode != "prepare")
    val readyMs = Clock.ms()
    if (mode == "prepare") {
      workload.prepare()
      spark.stop()
      return
    }
    val sc = spark.sparkContext

    write(s"$out/oracles.json", workload.oracles)
    val log = if (tracing) Some(new JobLog) else None
    log.foreach(sc.addSparkListener)
    val spans = new Spans(sc, tracing)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val unmeasured = 1 + workload.warmupPasses

    def runPass(k: Int): Unit = {
      val (dir, result) = (workload.state(out), s"$out/pass_$k")
      val before = stored(dir)._1
      val loop = new Loop(spans)
      var error: String = null
      val (cpu0, w0, start) = (processCpuS(), wchar(), Clock.ms())
      val t0 = System.nanoTime()
      try OpCache.scoped(workload.pass(k, dir, result, loop))
      catch { case NonFatal(e) => error = e.toString }
      val wall = (System.nanoTime() - t0) / 1e9
      val (end, cpu, w) = (Clock.ms(), processCpuS() - cpu0, wchar() - w0)
      spark.catalog.clearCache()
      val jobs = log.map(_.drain(sc, 60000L)).getOrElse(Nil)
      val (bytes, files) = stored(dir)
      // every pass starts from a collected heap; only measured passes
      // wait for the cleaner to read the live heap (-1: not read)
      val liveHeapMb =
        if (k >= unmeasured) liveHeap() / 1048576.0 else { System.gc(); -1.0 }
      passes += Map("pass" -> k, "result" -> result, "wall_s" -> wall,
        "stored_bytes" -> bytes, "stored_growth" -> (bytes - before),
        "files" -> files,
        "start_ms" -> start, "end_ms" -> end, "cpu_s" -> cpu, "wchar" -> w,
        "steps" -> loop.steps.toSeq, "attempted" -> loop.attempted,
        "failed" -> loop.failed, "error" -> error,
        "heap_after_gc_mb" -> liveHeapMb,
        "spans" -> spans.take(), "jobs" -> jobs)
    }

    require(workload.passes >= unmeasured + workload.minMeasuredPasses,
      s"inputs allow ${workload.passes} passes, " +
        s"need ${unmeasured + workload.minMeasuredPasses}")
    (0 until unmeasured).foreach(runPass)
    val measureStart = System.nanoTime()
    var k = unmeasured
    while (k < workload.passes && (k < unmeasured + workload.minMeasuredPasses ||
        System.nanoTime() - measureStart < seconds.toDouble * 1e9)) {
      runPass(k)
      k += 1
    }
    spark.stop()
    val resetups = Seq.fill(if (tracing) 0 else ReSetups) {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      val (again, _) = open()
      val s = (System.nanoTime() - t0) / 1e9
      again.stop()
      s
    }
    write(s"$out/result.json", Map("ready_ms" -> readyMs, "cores" -> cores,
      "resetup_s" -> resetups, "warmup" -> workload.warmupPasses, "passes" -> passes))
  }
}
