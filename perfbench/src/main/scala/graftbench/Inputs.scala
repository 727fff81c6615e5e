package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PageTruth
import graft.fixtures.Fixture

/** Seeded benchmark inputs. The program never sees the seed: it receives
  * only the generated pages.
  *
  * `Fixture` is deterministic with a fixed seed, so another seed is made by
  * drawing whole 23-page fixture cycles (8 entities each, every cluster size
  * of the fixture's cycle once) from a pool 25% larger than needed. Whole
  * cycles keep the planted truth intact and keep the page count and the
  * cluster-size mix the same for every seed. [[DefaultSeed]] returns
  * `Fixture.pagesWithTruth(n)` itself. */
object Inputs {
  val DefaultSeed: Long = Fixture.Seed
  val PoolFactor = 1.25

  def pagesWithTruth(spark: SparkSession, n: Long, seed: Long): Dataset[PageTruth] =
    if (seed == DefaultSeed) Fixture.pagesWithTruth(spark, n)
    else {
      val cycles = (n + Fixture.CycleDocs - 1) / Fixture.CycleDocs
      val pool = math.ceil(cycles * PoolFactor).toLong
      val picked = new Random(seed).shuffle((0L until pool).toVector).take(cycles.toInt)
      Fixture.pagesWithTruth(spark, pool * Fixture.CycleDocs)
        .where((col("entity_id") / Fixture.CycleEntities).cast("long").isInCollection(picked))
    }

  def pages(pt: DataFrame): DataFrame = pt.select("url", "warc_ts", "html", "text", "lang")

  /** Exact pairwise F1 of a clustering (url, cluster_id) against the planted
    * entities, over all pairs: a pair is a true positive when both pages
    * share a cluster and an entity. */
  def clusterF1(assign: DataFrame, truth: DataFrame): Double = {
    val j = assign.join(truth.select("url", "entity_id"), "url").cache()
    def pairs(keys: String*): Double = j.groupBy(keys.map(col): _*).count()
      .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0.0)))
      .collect()(0).getDouble(0)
    try {
      val tp = pairs("cluster_id", "entity_id")
      val predicted = pairs("cluster_id")
      val actual = pairs("entity_id")
      if (predicted + actual == 0) 1.0 else 2 * tp / (predicted + actual)
    } finally j.unpersist()
  }

  /** The two-table split of the fixture (as in q41): canonical `/c0` pages
    * on the left, every duplicate copy on the right. */
  def twoTable(pages: DataFrame): (DataFrame, DataFrame) =
    (pages.where(col("url").endsWith("/c0")), pages.where(!col("url").endsWith("/c0")))

  private val EntityUrl = """.*/e(\d+)/c\d+$""".r

  /** Pairwise F1 of two-table matches (url1 left, url2 right) against the
    * planted truth: each right page has exactly one true left partner, its
    * entity's canonical page, so the positives are the right table's rows. */
  def twoTableF1(matches: Seq[(String, String)], rightRows: Long): Double = {
    def entity(url: String) = url match { case EntityUrl(e) => e; case _ => url }
    val tp = matches.count { case (a, b) => entity(a) == entity(b) }
    val fp = matches.size - tp
    val fn = rightRows - tp
    if (tp == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)
  }
}
