package graft.cli

import org.apache.spark.sql.functions._

/** Dev probe: ER candidate-pair stage cost — raw grid emissions vs deduped
  * candidates (the multi-band duplication factor), and wall time of the
  * pairs stage alone. Run:
  *   sbt "runMain graft.cli.PairsProbeMain [cores] [nPages]"
  */
object PairsProbeMain {
  def main(args: Array[String]): Unit = {
    val cores = args.headOption.map(_.toInt).getOrElse(32)
    val nPages = args.drop(1).headOption.map(_.toLong).getOrElse(100000L)
    val spark = graft.core.Sessions.local(cores, "graft-pairsprobe")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
        stages.add(f"[stage] id=${si.stageId}%-4d tasks=${si.numTasks}%-4d " +
          f"wall=${wall / 1e3}%7.2fs run=${m.executorRunTime / 1e3}%8.2fs " +
          f"cpu=${m.executorCpuTime / 1e9}%8.2fs gc=${m.jvmGCTime / 1e3}%6.2fs " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB/${m.shuffleReadMetrics.recordsRead}%,d " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB/${m.shuffleWriteMetrics.recordsWritten}%,d")
      }
    })
    sys.addShutdownHook(stages.forEach(s => println(s)))
    val pages = graft.fixtures.Fixture.pages(spark, nPages).toDF().localCheckpoint()
    val pre = graft.scoring.Scoring.projected(pages).localCheckpoint()
    val cfg = graft.blocking.Blocking.Config()
    val blocks = graft.blocking.Blocking.blockTableFromProjected(pre, cfg).localCheckpoint()
    println(s"[pairsprobe] block entries=${blocks.count()}")
    val raw = graft.blocking.Blocking.saltedSelfJoinPairs(blocks, cfg.cap, cfg.maxBlock)
    val t0 = System.nanoTime()
    val nRaw = raw.count()
    val tRaw = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val nDed = graft.blocking.Blocking.candidatePairs(blocks, cfg).count()
    val tDed = (System.nanoTime() - t1) / 1e9
    println(f"[pairsprobe] raw=$nRaw%,d ($tRaw%.2f s)  deduped=$nDed%,d ($tDed%.2f s)  " +
      f"dupFactor=${nRaw.toDouble / nDed}%.2f")
    spark.stop()
  }
}
