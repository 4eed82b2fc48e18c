package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark counters of one (op, phase), accumulated from listener events. */
final class PhaseCounters {
  var jobs = 0
  var tasks = 0
  var taskBusyMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Attributes every job to the job group the benchmark set before the
  * call that launched it (`<op id>/<phase>`), and sums the job's tasks
  * into that group. Read only after `BenchBus.drain`. */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, PhaseCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def of(g: String): PhaseCounters = byGroup.getOrElseUpdate(g, new PhaseCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, "unattributed"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskBusyMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  def take(group: String): PhaseCounters = synchronized {
    byGroup.remove(group).getOrElse(new PhaseCounters)
  }
}
