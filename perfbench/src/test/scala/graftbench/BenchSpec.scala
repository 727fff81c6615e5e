package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Fixture
import graft.pipeline.Linkage

class BenchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Sessions.local(2, "perfbench-test")

  private def pages(n: Long, seed: Long = Inputs.DefaultSeed): DataFrame =
    Inputs.pages(Workloads.seededPages(spark, n, seed))

  private def rows(df: DataFrame): Seq[String] =
    df.select(col("url"), col("warc_ts").cast("string"), base64(col("html")), col("text"), col("lang"))
      .collect().map(_.mkString("\u0001")).toSeq.sorted

  test("default seed reproduces Fixture.pages byte for byte; another seed changes the input") {
    val n = 20L * Fixture.CycleDocs
    val fixture = rows(Fixture.pages(spark, n).toDF())
    assert(rows(pages(n)) == fixture)

    val other = Inputs.pagesWithTruth(spark, n, seed = 7L).toDF().cache()
    val otherRows = rows(Inputs.pages(other))
    assert(otherRows.size == fixture.size)
    assert(otherRows != fixture)
    assert(rows(Inputs.pages(Inputs.pagesWithTruth(spark, n, seed = 7L).toDF())) == otherRows)
    // whole entities only: the cluster-size mix is the fixture's, per cycle
    val sizes = other.groupBy("entity_id").count().collect().map(_.getLong(1)).sorted.toSeq
    val cycle = Fixture.cycleSizes.map(_.toLong).toSeq
    assert(sizes == Seq.fill(20)(cycle).flatten.sorted)
    other.unpersist()
  }

  test("traced decomposition reproduces runLight's pairs_scored and clusters") {
    val in = pages(2000)
    val acc = spark.sparkContext.longAccumulator("pairs")
    val light = Linkage.runLight(spark, in, pairsScored = Some(acc)).localCheckpoint()
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val tracer = new Tracer(spark, ledger)
    val (traced, pairsScored) =
      try Workloads.runLightTraced(spark, in, tracer)
      finally spark.sparkContext.removeSparkListener(ledger)
    assert(acc.value > 0)
    assert(pairsScored == acc.value)
    assert(tracer.metrics("scoring.score.pairs_scored") == acc.value.toDouble)
    val clusters = (df: DataFrame) => df.select("cluster_id").distinct().count()
    assert(clusters(traced) == clusters(light))
    assert(traced.exceptAll(light).isEmpty && light.exceptAll(traced).isEmpty)
    for (span <- Metrics.ErSpans) assert(tracer.metrics(s"$span.jobs") >= 1, span)
  }

  test("the totals listener and the storage probe add no Spark jobs") {
    val jobs = new AtomicLong
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    val in = pages(500)
    def jobsOfOneRun(): Long = {
      BenchAccess.drainListenerBus(spark.sparkContext)
      val before = jobs.get()
      Linkage.runLight(spark, in).localCheckpoint()
      BenchAccess.drainListenerBus(spark.sparkContext)
      jobs.get() - before
    }
    jobsOfOneRun() // plans and caches settle on the first run
    val off = jobsOfOneRun()
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val probe = new StorageProbe(spark.sparkContext)
    val on = try jobsOfOneRun() finally {
      probe.close()
      spark.sparkContext.removeSparkListener(ledger)
    }
    spark.sparkContext.removeSparkListener(counter)
    assert(off > 0)
    assert(on == off)
    assert(ledger.total.jobs == on)
  }
}
