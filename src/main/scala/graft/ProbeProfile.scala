package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job-level profiler for ONE query (guide §1: measure first, empirically).
  *
  * Runs the named SparkEntry query `runs` times through the bench's noop
  * sink and prints, per Spark job: wall ms, description, stage count, task
  * count, shuffle read/write bytes — plus the gaps BETWEEN jobs (driver-side
  * planning/collect time, invisible in stage metrics). This is the local
  * stand-in for the Spark UI's job timeline (spark.ui is disabled in bench
  * runs); it exists to attribute a query's seconds to cluster work vs
  * driver-side orchestration before optimizing either.
  *
  * Usage: sbt "runMain graft.ProbeProfile <query> [sfDir] [runs]"
  */
object ProbeProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      throw new IllegalArgumentException("usage: ProbeProfile <query> [sfDir] [runs]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class JobRec(id: Int, var desc: String, start: Long,
        var end: Long = 0L, var nStages: Int = 0, var nTasks: Int = 0,
        var shufRead: Long = 0L, var shufWrite: Long = 0L,
        var input: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized {
          jobs(e.jobId) = JobRec(e.jobId, desc, e.time)
          jobs(e.jobId).nStages = e.stageIds.size
          e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val dur = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        if (dur >= 1000)
          println(f"  [stage ${si.stageId}%4d ${dur}%6d ms " +
            f"tasks=${si.numTasks}] " +
            si.rddInfos.map(r => r.scope.map(_.name).getOrElse(r.name))
              .distinct.mkString(" | "))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
            j.nTasks += 1
            val m = e.taskMetrics
            if (m != null) {
              j.shufRead += m.shuffleReadMetrics.totalBytesRead
              j.shufWrite += m.shuffleWriteMetrics.bytesWritten
              j.input += m.inputMetrics.bytesRead
            }
          }
        }
    }

    // untimed warmup, as in Bench
    try { SparkEntry.entry(spark).count() } catch { case _: Throwable => () }

    (1 to runs).foreach { r =>
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      spark.sparkContext.addSparkListener(listener)
      try graft.operators.OpCache.scoped {
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
      } finally spark.sparkContext.removeSparkListener(listener)
      val wall = (System.nanoTime() - t0) / 1e6
      spark.catalog.clearCache()
      // listener events are posted asynchronously; drain before reading
      Thread.sleep(500)
      val recs = jobs.synchronized { jobs.values.toVector.sortBy(_.start) }
      // union of the job intervals, not their sum: jobs overlap under Par
      val (jobTotal, _) = recs.foldLeft((0L, Long.MinValue)) {
        case ((busy, reach), j) =>
          (busy + math.max(0L, j.end - math.max(j.start, reach)),
            math.max(reach, j.end))
      }
      println(f"== $name run $r: wall ${wall}%.0f ms, ${recs.size} jobs, " +
        f"union(job wall) $jobTotal ms, driver/gap ${wall - jobTotal}%.0f ms")
      var prevEnd = 0L
      recs.foreach { j =>
        val gap = if (prevEnd == 0L) 0L else math.max(0L, j.start - prevEnd)
        prevEnd = math.max(prevEnd, j.end)
        val dur = math.max(0L, j.end - j.start)
        if (dur >= 20 || gap >= 20)
          println(f"  job ${j.id}%3d ${dur}%6d ms (gap ${gap}%5d ms) " +
            f"stages=${j.nStages}%2d tasks=${j.nTasks}%4d " +
            f"in=${j.input / 1024}%7d KiB sr=${j.shufRead / 1024}%6d KiB " +
            f"sw=${j.shufWrite / 1024}%6d KiB  ${j.desc.take(80)}")
      }
    }
    spark.stop()
  }
}
