package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics per label. The benchmark sets the local property
  * [[TaskStats.LabelKey]] before the actions of one measured call; every task
  * of every job started under that label is folded into the label's totals. */
final class TaskStats extends SparkListener {
  import TaskStats._

  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val jobLabel = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, Totals]

  private def labelOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(LabelKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    labelOf(e.properties).foreach { l =>
      jobLabel(e.jobId) = l
      e.stageIds.foreach(stageLabel(_) = l)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobLabel.remove(e.jobId).foreach { l =>
      val t = totals.getOrElseUpdate(l, new Totals)
      t.lastJobEndMs = math.max(t.lastJobEndMs, e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (l <- stageLabel.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals.getOrElseUpdate(l, new Totals)
      t.tasks += 1
      t.stages += e.stageId
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.durationsMs += e.taskInfo.duration
    }
  }

  /** Totals of `label` once every posted event is delivered. */
  def get(sc: SparkContext, label: String): Totals = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(totals.getOrElse(label, new Totals))
  }
}

object TaskStats {
  val LabelKey = "perfbench.label"

  final class Totals {
    var tasks = 0L
    val stages = mutable.HashSet.empty[Int]
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Long]
    var lastJobEndMs = 0L
  }

  /** Run `f` with `stats` listening, and detach it once every event `f`
    * posted has reached it. */
  def attached[A](sc: SparkContext, stats: TaskStats)(f: => A): A = {
    sc.addSparkListener(stats)
    try f
    finally {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(stats)
    }
  }

  /** Run `f` with every job it starts attributed to `label`. */
  def labelled[A](sc: SparkContext, label: String)(f: => A): A = {
    sc.setLocalProperty(LabelKey, label)
    try f finally sc.setLocalProperty(LabelKey, null)
  }
}
