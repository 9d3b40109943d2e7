package graft.sources

import java.nio.file.Files

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.dedup.IncrementalClusters

/** The crash matrix for [[Publish]]: every protocol is killed after each
  * of the mutating calls it makes — Spark's staged write included — and
  * then run again on a restarted file system ([[CrashFileSystem]]). The
  * next writer must find the old or the new content, never a mix and
  * never nothing, and its successful run must leave no hidden staging or
  * retired dir behind.
  */
class PublishCrashSpec extends SparkSpec {
  import spark.implicits._

  CrashFileSystem.register(spark)
  private lazy val fs: FileSystem =
    new Path(CrashFileSystem.Root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String =
    CrashFileSystem.uri(Files.createTempDirectory(name).toString)

  /** Sorted rows of a parquet dir; None when the dir is absent. */
  private def rows(dir: String): Option[Seq[String]] =
    if (!fs.exists(new Path(dir))) None
    else Some(spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq)

  /** Hidden publish leftovers (`.<name>.staging…`, `.<name>.retired`) under `base`. */
  private def leftovers(base: String): Seq[String] = {
    def walk(p: Path): Seq[String] = fs.listStatus(p).toSeq.filter(_.isDirectory)
      .flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith(".") && (n.contains(".staging") || n.endsWith(".retired")))
          Seq(s.getPath.toUri.getPath)
        else walk(s.getPath)
      }
    walk(new Path(base))
  }

  /** Run `op` once to count its mutating calls, then for every crash
    * point N: rebuild the pre-state with `setup`, crash `op` after N
    * calls, restart, let `recover` (what the next writer runs first) repair
    * it and check the state with `admissible(pre, seen, post)`, then re-run
    * `op` and require the post-state with `allowedLeft` the only leftovers.
    * Returns the number of crash points.
    */
  private def crashMatrix[S](base: String, setup: () => Unit, op: () => Unit,
                             recover: () => Unit, state: () => S,
                             admissible: (S, S, S) => Boolean = (pre: S, seen: S, post: S) =>
                               seen == pre || seen == post,
                             allowedLeft: String => Boolean = _ => false): Int = {
    def reset(): Unit = {
      CrashFileSystem.disarm()
      if (fs.exists(new Path(base))) fs.delete(new Path(base), true)
      setup()
    }
    reset()
    val pre = state()
    CrashFileSystem.arm(Long.MaxValue)
    op()
    val total = CrashFileSystem.calls.size
    val post = state()
    assert(pre != post)
    spark.sparkContext.setLogLevel("OFF") // each crash fails a Spark job
    try (0 until total).foreach { n =>
      reset()
      CrashFileSystem.arm(n)
      Try(op())
      CrashFileSystem.disarm()
      recover()
      val seen = state()
      assert(admissible(pre, seen, post),
        s"crash after $n of $total calls: $seen is neither $pre nor $post")
      op()
      assert(state() == post, s"retry after a crash at call $n")
      val left = leftovers(base).filterNot(allowedLeft)
      assert(left.isEmpty, s"crash at call $n left $left")
    } finally spark.sparkContext.setLogLevel("WARN") // SparkSpec's level
    info(s"$total crash points")
    total
  }

  private def twoRows = Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
  private def threeRows = Seq((2L, "b2"), (3L, "c"), (4L, "d")).toDF("k", "v").coalesce(1)

  test("replace: a crash at any call leaves the old or the new dir") {
    val base = fresh("publish_swap")
    val target = new Path(s"$base/t")
    val points = crashMatrix(base,
      setup = () => twoRows.write.parquet(target.toString),
      op = () => Publish.replace(fs, target)(s => threeRows.write.parquet(s.toString)),
      recover = () => Publish.recover(fs, target),
      state = () => rows(target.toString))
    // Publish's own recover/mkdirs/retire/promote/delete plus the write's
    // job setup, task file, task and job commits, and _SUCCESS marker
    assert(points >= 10, s"only $points mutating calls seen")
  }

  test("replace of an absent dir (the applied-marker publish): absent or complete") {
    val base = fresh("publish_create")
    val target = new Path(s"$base/batch=0")
    crashMatrix(base,
      setup = () => fs.mkdirs(new Path(base)),
      op = () => Publish.replace(fs, target)(s => threeRows.write.parquet(s.toString)),
      recover = () => Publish.recover(fs, target),
      state = () => rows(target.toString))
  }

  test("isolated partition write: each partition old or new; a retry repairs it") {
    val base = fresh("publish_parts")
    val table = s"$base/fact"
    val days = Seq(1, 2, 3)
    def byDay(): Map[Int, Option[Seq[String]]] =
      days.map(d => d -> rows(s"$table/day=$d")).toMap
    crashMatrix(base,
      setup = () => Seq((1L, 1), (2L, 2)).toDF("id", "day").coalesce(1)
        .write.partitionBy("day").parquet(table),
      op = () => CleanZone.writePartitionedIsolated(
        Seq((20L, 2), (30L, 3)).toDF("id", "day").coalesce(1), table, Seq("day")),
      recover = () => days.foreach(d => Publish.recover(fs, new Path(s"$table/day=$d"))),
      state = byDay,
      admissible = (pre: Map[Int, Option[Seq[String]]], seen: Map[Int, Option[Seq[String]]],
                    post: Map[Int, Option[Seq[String]]]) =>
        days.forall(d => seen(d) == pre(d) || seen(d) == post(d)),
      // the crashed call's own staging tree: concurrent writers of other
      // days look the same, so no writer removes it (writePartitionedIsolated)
      allowedLeft = _.contains("/.fact.staging-"))
  }

  test("IncrementalClusters: a crash after compact's retire rename loses no labelling") {
    val stateDir = fresh("incr_clusters_crash")
    val edges = Seq(Seq((1L, 2L)), Seq((3L, 4L)), Seq((2L, 3L), (5L, 6L)))
    edges.foreach(e =>
      IncrementalClusters.append(spark, stateDir, e.toDF("a", "b"), "a", "b"))
    def labelling() = IncrementalClusters.clusters(spark, stateDir)
      .collect().map(_.toString).sorted.toSeq
    val before = labelling()
    val root = new Path(s"$stateDir/state").toUri.getPath
    CrashFileSystem.armAfter(c => c.op == "rename" && c.paths.head == root)
    intercept[Exception](IncrementalClusters.compact(spark, stateDir))
    CrashFileSystem.disarm()
    assert(labelling() == before)
    // the next append continues the batch numbering and sees every edge
    IncrementalClusters.append(spark, stateDir, Seq((6L, 7L)).toDF("a", "b"), "a", "b")
    assert(fs.exists(new Path(s"$stateDir/state/batch=3")))
    val reps = IncrementalClusters.clusters(spark, stateDir)
      .select("node", "cluster_rep").as[(Long, Long)].collect().toMap
    assert(reps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("Compaction: a crash after the retire rename never drops the partition") {
    val base = fresh("compact_crash")
    val table = s"$base/t"
    (1L to 400L).toDF("id").withColumn("day", (col("id") % 2).cast("int"))
      .repartition(8).write.partitionBy("day").parquet(table)
    def content() = spark.read.parquet(table).collect().map(_.toString).sorted.toSeq
    val before = content()
    val part = s"$table/day=0"
    CrashFileSystem.armAfter(c =>
      c.op == "rename" && c.paths.head == new Path(part).toUri.getPath)
    intercept[Exception](Compaction.compactDir(spark, part, targetBytes = 1L << 20))
    CrashFileSystem.disarm()
    // the next compaction of the partition repairs it before it lists files
    Compaction.compactDir(spark, part, targetBytes = 1L << 20)
    assert(content() == before)
    assert(leftovers(base).isEmpty)
  }
}
