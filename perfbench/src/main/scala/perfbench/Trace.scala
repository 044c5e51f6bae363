package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Counts action jobs and nothing else: the untraced runs' only listener. */
final class JobCounter extends SparkListener {
  private val n = new AtomicLong()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (PerfbenchBridge.isActionJob(e)) n.incrementAndGet()
  def jobs(sc: SparkContext): Long = { PerfbenchBridge.drain(sc); n.get() }
}

/** Work counters of one span, summed over the jobs tagged with it. */
final class SpanStats {
  var wallS = 0.0
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L // shuffle bytes written
  var peakTaskMem = 0L  // largest peak execution memory of any one task

  def values: Seq[(String, Double, String)] = Seq(
    ("wall_s", wallS, "s"), ("jobs", jobs.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"), ("cpu_s", cpuNs / 1e9, "s"),
    ("input_rows", inputRows.toDouble, "rows"),
    ("input_mb", inputBytes / 1048576.0, "MB"),
    ("shuffle_mb", shuffleBytes / 1048576.0, "MB"),
    ("peak_task_mem_mb", peakTaskMem / 1048576.0, "MB"))
}

/** Wraps each public call of a workload iteration. */
trait Spans {
  def span[A](name: String)(body: => A): A
}

/** Per-span attribution by Spark job tag: each public call runs under a
  * tag of its own, every job carries the tags of the thread that
  * submitted it, and every stage and task is charged to the span of the
  * job that ran it. Spans stay in memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener with Spans {
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stats = mutable.LinkedHashMap.empty[String, SpanStats]

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(PerfbenchBridge.JobTags)))
      .flatMap(_.split(",").find(_.startsWith(Tracer.Prefix)))
      .map(_.stripPrefix(Tracer.Prefix))

  private def statsOf(span: String): SpanStats = synchronized {
    stats.getOrElseUpdate(span, new SpanStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tagOf(e.properties).foreach { span =>
      val s = statsOf(span)
      synchronized {
        if (PerfbenchBridge.isActionJob(e)) s.jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats(span)
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.inputRows += m.inputMetrics.recordsRead
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.peakTaskMem = math.max(s.peakTaskMem, m.peakExecutionMemory)
    }
  }

  /** Run `body` as span `name`. The wall time is the call's own; the
    * counters are complete once [[drained]] returns. */
  def span[A](name: String)(body: => A): A = {
    val tag = Tracer.Prefix + name
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      sc.removeJobTag(tag)
      val s = statsOf(name)
      synchronized { s.wallS += dt }
    }
  }

  /** All counters, after every posted event has been delivered. */
  def drained(): Map[String, SpanStats] = {
    PerfbenchBridge.drain(sc)
    synchronized { stats.toMap }
  }

  def reset(): Unit = { PerfbenchBridge.drain(sc); synchronized { stats.clear(); stageSpan.clear() } }
}

object Tracer {
  val Prefix = "perfbench:"
}

/** Spans for the untraced runs: the call, nothing else. */
object NoSpans extends Spans {
  def span[A](name: String)(body: => A): A = body
}
