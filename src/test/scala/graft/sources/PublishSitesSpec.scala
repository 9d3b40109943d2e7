package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.SparkSpec
import graft.operators.dedup.{IncrementalClusters, IncrementalSpanDedup}
import graft.operators.multimodal.BandedHashIndex
import graft.pipelines.FxPipeline
import graft.streaming.UpsertSink

/** Each durable-write site publishes through [[Publish]]: the only
  * renames into its targets are Publish's promotes (staging name →
  * target), as recorded by [[CrashFileSystem]]. What the primitive
  * guarantees under a crash is [[PublishCrashSpec]]'s matrix.
  */
class PublishSitesSpec extends SparkSpec {
  import spark.implicits._

  CrashFileSystem.register(spark)

  private def fresh(name: String): String =
    CrashFileSystem.uri(Files.createTempDirectory(name).toString)

  private def local(p: String): String = new Path(p).toUri.getPath

  /** The targets `op` promoted through Publish, in promote order. */
  private def promoted(op: => Any): Seq[String] = {
    CrashFileSystem.arm(Long.MaxValue)
    op
    CrashFileSystem.calls.collect {
      case CrashFileSystem.Call("rename", Seq(from, to))
          if from == Publish.staging(new Path(to)).toUri.getPath => to
    }
  }

  test("Trends/Fx/Tiki MERGE (mergeParquet) creates, then swaps, its table") {
    val table = s"${fresh("site_merge")}/dim_exchange_rate"
    assert(promoted(FxPipeline.run(spark, Some(25000.0), "2026-01-01", table)) ==
      Seq(local(table)))
    assert(promoted(FxPipeline.run(spark, None, "2026-01-02", table)) ==
      Seq(local(table)))
    assert(spark.read.parquet(table).count() == 2)
  }

  test("UpsertSink / AggMaintenanceSink (SwapWrite) swap their target") {
    val target = s"${fresh("site_upsert")}/t"
    val sink = UpsertSink.mergeBatch(target, Seq("k")) _
    assert(promoted(sink(Seq((1L, "a")).toDF("k", "v"), 0L)) == Seq(local(target)))
    assert(promoted(sink(Seq((1L, "b")).toDF("k", "v"), 1L)) == Seq(local(target)))
  }

  test("Compaction.compactDir swaps the partition dir") {
    val dir = s"${fresh("site_compact")}/part"
    (1L to 100L).toDF("id").repartition(6).write.parquet(dir)
    assert(promoted(Compaction.compactDir(spark, dir, targetBytes = 1L << 20)) ==
      Seq(local(dir)))
  }

  test("IncrementalClusters publishes batch dirs and swaps the state root") {
    val stateDir = fresh("site_clusters")
    Seq(0, 1).foreach { b =>
      assert(promoted(IncrementalClusters.append(spark, stateDir,
        Seq((2L * b, 2L * b + 1)).toDF("a", "b"), "a", "b")) ==
        Seq(local(s"$stateDir/state/batch=$b")))
    }
    assert(promoted(IncrementalClusters.compact(spark, stateDir)) ==
      Seq(local(s"$stateDir/state")))
  }

  test("BandedHashIndex promotes postings before the pairs marker; compact swaps both roots") {
    val dir = fresh("site_banded")
    val spec = BandedHashIndex.Spec("h", Seq("h" -> "ham"))
    def append(rows: Seq[(Long, Long)]) =
      BandedHashIndex.append(spark, dir, rows.toDF("hid", "h"), spec,
        maxHamming = 1, bands = 4)
    assert(promoted(append(Seq(1L -> 5L, 2L -> 5L))) ==
      Seq(local(s"$dir/postings/batch=0"), local(s"$dir/pairs/batch=0")))
    append(Seq(3L -> 5L))
    assert(promoted(BandedHashIndex.compact(spark, dir, spec)) ==
      Seq(local(s"$dir/postings"), local(s"$dir/pairs")))
  }

  test("IncrementalSpanDedup.compactCounts swaps the counts dir") {
    val root = fresh("site_spans")
    Seq(0, 1).foreach(d => IncrementalSpanDedup.append(spark, root,
      Seq((d.toLong, s"a b c d e f $d")).toDF("doc_id", "text"), "doc_id", "text", 3))
    assert(promoted(IncrementalSpanDedup.compactCounts(spark, root)) ==
      Seq(local(s"$root/counts")))
  }

  test("CleanZone.writePartitionedIsolated swaps each partition dir") {
    val table = s"${fresh("site_isolated")}/fact"
    assert(promoted(CleanZone.writePartitionedIsolated(
      Seq((1L, 1), (2L, 2)).toDF("id", "day"), table, Seq("day"))).sorted ==
      Seq(local(s"$table/day=1"), local(s"$table/day=2")))
  }

  test("RawZone.readWithQuarantine replaces the day's quarantine slot") {
    val base = Files.createTempDirectory("site_quarantine").toString
    val day = Paths.get(s"$base/raw/snapshot_date=2026-02-01")
    Files.createDirectories(day)
    Files.writeString(day.resolve("part1.json"), "{\"id\": 1}\n{broken\n")
    val q = CrashFileSystem.uri(s"$base/quarantine")
    val schema = new StructType().add("id", LongType).add("s", StringType)
    assert(promoted(RawZone.readWithQuarantine(spark, CrashFileSystem.uri(s"$base/raw"),
      schema, q, date = Some("2026-02-01"))) == Seq(local(s"$q/date=2026-02-01")))
  }
}
