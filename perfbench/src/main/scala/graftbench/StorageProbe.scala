package graftbench

import org.apache.spark.SparkContext

/** Samples Spark block-storage memory (cached and locally checkpointed
  * blocks, broadcasts) every `periodMs` on a daemon thread and keeps the
  * peak. The block manager master's memory status is read directly: an
  * unpersist posts no listener event, so a listener alone would never see
  * storage shrink. Reading it starts no Spark job. */
final class StorageProbe(sc: SparkContext, periodMs: Long = 20L) extends AutoCloseable {
  @volatile private var peak = 0L
  @volatile private var running = true

  def usedBytes: Long =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  private val thread = new Thread(() => {
    while (running) {
      val u = usedBytes
      if (u > peak) peak = u
      Thread.sleep(periodMs)
    }
  }, "storage-probe")
  thread.setDaemon(true)
  thread.start()

  /** Restart the peak from the memory held now. */
  def reset(): Unit = peak = usedBytes

  def peakBytes: Long = math.max(peak, usedBytes)

  /** Collect garbage so Spark's ContextCleaner drops blocks of frames that
    * are no longer referenced, and wait until storage stops shrinking. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
    var prev = Long.MaxValue
    var now = usedBytes
    var i = 0
    while (i < 30 && now < prev) {
      Thread.sleep(100)
      prev = now
      now = usedBytes
      i += 1
    }
  }

  override def close(): Unit = {
    running = false
    thread.join()
  }
}
