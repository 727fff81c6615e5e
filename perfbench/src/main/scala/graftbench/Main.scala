package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Benchmark entry point (run through perfbench/run.py, which builds it).
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> --checkout <dir>
  *
  * Untraced (`--trace 0`): closed loop, one job in flight, jobs back to back
  * until `--seconds` have passed (at least one); every job's output is
  * checked and each end-to-end metric is the median over jobs.
  * Traced (`--trace 1`): one untraced job to settle the JIT, the same job
  * decomposed into labelled spans, one more untraced job as the reference
  * for `trace.overhead_s`, then the probes and the kernel ns/row figures.
  * `--cores` is taken as given; run.py checks it against the machine.
  *
  * The last stdout line starting with [[ResultTag]] holds the result JSON. */
object Main {
  val ResultTag = "GRAFTBENCH_RESULT "
  val KernelRows = 15000L

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, work: File, checkout: File)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, trace, get("cores").toInt,
      new File(get("work")), new File(get("checkout")))
  }

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Tallies operations attempted and failed; failures go to stderr. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    def add(o: Outcome): Unit = {
      attempted += o.ops
      failed += math.min(o.ops, o.failures.size)
      o.failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    }
    def crash(e: Throwable): Unit = {
      attempted += 1
      failed += 1
      System.err.println(s"JOB FAILED: $e")
      e.printStackTrace()
    }
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        sys.exit(2)
    }
    o.work.mkdirs()
    val spark = Workloads.phase("session")(graft.core.Sessions.local(o.cores, "graft-perfbench"))
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val storage = new StorageProbe(spark.sparkContext)
    val tally = new Tally
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    try {
      val w = Workloads(o.workload, spark, o.seed, o.work, o.checkout)
      w.setup()
      metrics("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      w.prepareChecks()
      if (o.trace) traced(spark, w, ledger, storage, tally, metrics)
      else timed(spark, w, o.seconds, ledger, storage, tally, metrics)
    } catch {
      case e: Throwable => tally.crash(e)
    } finally {
      storage.close()
    }
    spark.stop()

    val names = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    val body = names.map { case (n, u) =>
      Json.str(n) + ":{\"value\":" + Json.num(metrics.getOrElse(n, 0.0)) + ",\"unit\":" + Json.str(u) + "}"
    }.mkString(",")
    val correct = tally.failed == 0 && tally.attempted > 0
    println(ResultTag + s"""{"correct":$correct,"attempted":${math.max(1L, tally.attempted)},""" +
      s""""failed":${tally.failed},"metrics":{$body}}""")
    sys.exit(if (correct) 0 else 1)
  }

  final case class Sample(wall: Double, cpu: Double, shuffleMb: Double, peakMb: Double, f1: Double)

  /** One untraced job, with its totals; None if it threw. */
  private def sample(spark: SparkSession, w: Workload, ledger: Ledger,
                     storage: StorageProbe, tally: Tally): Option[Sample] = {
    storage.settle()
    ledger.reset()
    storage.reset()
    val cpu0 = processCpuNs
    val t0 = System.nanoTime()
    try {
      val check = w.job()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs - cpu0) / 1e9
      val peak = storage.peakBytes / Metrics.MB
      org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
      val shuffle = ledger.total.shuffleWriteBytes / Metrics.MB
      System.err.println(f"perfbench job wall $wall%.2f s cpu $cpu%.2f s")
      val out = Workloads.phase("check")(check())
      tally.add(out)
      Some(Sample(wall, cpu, shuffle, peak, out.pairF1))
    } catch {
      case e: Exception =>
        tally.crash(e)
        None
    }
  }

  def timed(spark: SparkSession, w: Workload, seconds: Int, ledger: Ledger,
            storage: StorageProbe, tally: Tally, metrics: mutable.Map[String, Double]): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    val samples = mutable.ArrayBuffer.empty[Sample]
    var ok = true
    while (ok && (samples.isEmpty || System.nanoTime() < deadline)) {
      sample(spark, w, ledger, storage, tally) match {
        case Some(s) => samples += s
        case None => ok = false
      }
    }
    if (samples.nonEmpty) {
      metrics("wall_s") = median(samples.map(_.wall).toSeq)
      metrics("cpu_s") = median(samples.map(_.cpu).toSeq)
      metrics("shuffle_write_mb") = median(samples.map(_.shuffleMb).toSeq)
      metrics("peak_storage_mb") = median(samples.map(_.peakMb).toSeq)
      metrics("pair_f1") = samples.map(_.f1).min
    }
  }

  def traced(spark: SparkSession, w: Workload, ledger: Ledger, storage: StorageProbe,
             tally: Tally, metrics: mutable.Map[String, Double]): Unit = {
    def untraced(): Sample = sample(spark, w, ledger, storage, tally)
      .getOrElse(throw new IllegalStateException("untraced job failed"))
    Workloads.phase("untraced")(untraced())
    storage.settle()
    ledger.reset()
    val tracer = new Tracer(spark, ledger)
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val check = w.traced(tracer)
    val wall = (System.nanoTime() - t0) / 1e9
    metrics("jvm.gc_s") = (gcMs - gc0) / 1000.0
    tally.add(check())
    metrics("trace.overhead_s") = wall - Workloads.phase("reference")(untraced()).wall
    tally.add(Workloads.phase("probes")(w.probes(tracer))())
    metrics ++= tracer.metrics
    metrics ++= Workloads.phase("kernels")(kernels(w.kernelText()))
  }

  /** ns/row of each hot GraftFunctions kernel, projected to a no-op sink over
    * pairs built from the workload's own text: each row against itself
    * minus its first token (a near-duplicate, as in a true match). A cheap
    * projection of the same input columns is subtracted, so job overhead and
    * the scan do not count; kernels costing a few hundred ns/row or less are
    * within the noise of that subtraction. The input is repeated or cut to
    * exactly [[KernelRows]] rows. Min of 3 for each. */
  def kernels(text: DataFrame): Seq[(String, Double)] = {
    val spark = text.sparkSession
    val rows = math.max(1L, text.count())
    val k = Workloads.materialise(text.crossJoin(spark.range((KernelRows + rows - 1) / rows))
      .limit(KernelRows.toInt).repartition(spark.sparkContext.defaultParallelism)
      .select(col("t").as("a"), regexp_replace(col("t"), "^\\S+\\s+", "").as("b"))
      .select(col("a"),
        array_sort(array_distinct(split(col("a"), " "))).as("ga"),
        array_sort(array_distinct(split(col("b"), " "))).as("gb"),
        substring(col("a"), 1, 128).as("pa"), substring(col("b"), 1, 128).as("pb")))
    val n = k.count().toDouble
    def best(c: Column): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      k.select(c.as("v")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }.min
    val strings = length(col("pa")) + length(col("pb"))
    Seq(
      ("minhash_bands", GraftFunctions.minhash_bands(col("a"), 16, 6, 42L), length(col("a"))),
      ("jaccard_sorted", GraftFunctions.jaccard_sorted(col("ga"), col("gb")), size(col("ga")) + size(col("gb"))),
      ("jaro_winkler", GraftFunctions.jaro_winkler(col("pa"), col("pb")), strings),
      ("levenshtein_sim", GraftFunctions.levenshtein_sim(col("pa"), col("pb"), 128), strings)
    ).map { case (name, kernel, base) => s"functions.$name.ns_per_row" -> (best(kernel) - best(base)) / n }
  }
}
