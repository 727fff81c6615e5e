package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** SparkListener the benchmark registers: aggregates task metrics per
  * job-group label.
  * It only observes events the scheduler posts anyway, so it adds no Spark
  * jobs (BenchSpec pins that).
  *
  * Untraced runs set no job group, so everything lands in [[Ledger.Untraced]]
  * and only the totals are read. The traced run labels each call into a
  * public layer function with [[Ledger.span]]. */
final class Ledger extends SparkListener {
  import Ledger._

  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val accs = mutable.LinkedHashMap.empty[String, Acc]

  private def acc(label: String): Acc = accs.getOrElseUpdate(label, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse(Untraced)
    e.stageIds.foreach(stageLabel(_) = label)
    acc(label).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageLabel.getOrElse(e.stageId, Untraced))
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Forget all task aggregates. */
  def reset(): Unit = synchronized(accs.clear())

  def span(label: String): Acc = synchronized(accs.getOrElse(label, new Acc).copy())
  def total: Acc = synchronized(accs.values.foldLeft(new Acc)(_ merge _))
}

object Ledger {
  /** Local property SparkContext.setJobGroup sets (SparkContext.SPARK_JOB_GROUP_ID). */
  val JobGroupKey = "spark.jobGroup.id"
  val Untraced = "untraced"

  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]

    def copy(): Acc = new Acc merge this
    def merge(o: Acc): Acc = {
      jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs
      shuffleWriteBytes += o.shuffleWriteBytes
      taskMs ++= o.taskMs
      this
    }

    /** Slowest task over the median task (1 ms floor on the median). */
    def taskSkew: Double =
      if (taskMs.isEmpty) 0.0
      else {
        val s = taskMs.sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }
  }

  /** Run `body` with every Spark job it starts labelled `label`, then wait
    * for the listener bus so the label's aggregate is complete. Returns the
    * body's value and its wall seconds. */
  def span[T](sc: SparkContext, label: String)(body: => T): (T, Double) = {
    sc.setJobGroup(label, label)
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      sc.clearJobGroup()
      org.apache.spark.BenchAccess.drainListenerBus(sc)
    }
  }
}
