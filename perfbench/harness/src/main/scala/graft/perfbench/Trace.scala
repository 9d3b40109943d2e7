package graft.perfbench

import java.util.concurrent.TimeoutException

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** Wall-clock milliseconds since the epoch, at microsecond resolution —
  * the time base the listener's job times use.
  */
object Clock {
  def ms(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000.0 + t.getNano / 1e6
  }
}

/** Spans the benchmark opens around its own calls into graft. The open
  * span's id travels with every Spark job as a local property, which Spark
  * copies into threads created inside the span (graft's `Par` lanes), so a
  * job is attributed to the innermost span that was open where it was
  * submitted. Spans are opened from the driver's main thread only.
  */
final class Spans(sc: SparkContext, enabled: Boolean) {
  import Spans._

  private val done = mutable.ArrayBuffer.empty[Rec]
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevProp = sc.getLocalProperty(Prop)
      stack = id :: stack
      sc.setLocalProperty(Prop, id.toString)
      val start = Clock.ms()
      try body
      finally {
        done += Rec(id, name, parent, start, Clock.ms())
        stack = stack.tail
        sc.setLocalProperty(Prop, prevProp)
      }
    }

  /** The spans closed since the last call. */
  def take(): Seq[Rec] = {
    val out = done.toVector
    done.clear()
    out
  }
}

object Spans {
  val Prop = "graft.perfbench.span"

  final case class Rec(id: Int, name: String, parent: Int, start: Double,
                       end: Double)
}

/** Records every Spark job with its span, interval and task totals. */
final class JobLog extends SparkListener {
  import JobLog._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // per (stage, attempt): task starts and ends seen; a stage attempt is
  // open until its completion event arrives
  private val taskStarts = mutable.HashMap.empty[(Int, Int), Int]
  private val taskEnds = mutable.HashMap.empty[(Int, Int), Int]
  private val openStages = mutable.HashSet.empty[(Int, Int)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, prop(Spans.Prop).map(_.toInt).getOrElse(-1),
      prop("spark.job.description").getOrElse("").take(80), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val si = e.stageInfo
      openStages += ((si.stageId, si.attemptNumber()))
      stageJob.get(si.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      openStages -= ((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    taskStarts(key) = taskStarts.getOrElse(key, 0) + 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    taskEnds(key) = taskEnds.getOrElse(key, 0) + 1
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Every started job and stage has ended, and every started task has
    * reported its end.
    */
  def complete: Boolean = synchronized {
    jobs.valuesIterator.forall(_.end >= 0) && openStages.isEmpty &&
      taskStarts.forall { case (k, n) => taskEnds.getOrElse(k, 0) >= n }
  }

  /** Waits until the bus has delivered everything posted so far and the
    * log is complete, then returns and forgets the jobs seen so far.
    * Throws TimeoutException rather than return partial counts.
    */
  def drain(sc: SparkContext, timeoutMs: Long): Seq[Job] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    PerfbenchBus.waitUntilEmpty(sc, timeoutMs)
    while (!complete) {
      if (System.currentTimeMillis() > deadline)
        throw new TimeoutException(s"listener events incomplete after $timeoutMs ms")
      Thread.sleep(2) // a task end can be posted after its stage's job ends
      PerfbenchBus.waitUntilEmpty(sc, timeoutMs)
    }
    synchronized {
      val out = jobs.values.toVector
      jobs.clear()
      stageJob.clear()
      taskStarts.clear()
      taskEnds.clear()
      out
    }
  }
}

object JobLog {
  final case class Job(id: Int, span: Int, desc: String, start: Long,
                       var end: Long = -1L, var stages: Int = 0,
                       var tasks: Int = 0, var failures: Int = 0,
                       var taskMs: Long = 0L, var shuffleRead: Long = 0L,
                       var shuffleWrite: Long = 0L, var spill: Long = 0L,
                       var output: Long = 0L)
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
  }
}
