package perfbench

import org.apache.spark.sql.Row

import graft.SparkEntry

/** Read-only analytics on raw parquet: one op runs one executor-bound
  * driver query and collects its (small) result. Each cycle runs every
  * query once, in a seeded order. The warm-up runs every query on a
  * tenth-size copy of the inputs, so that much of the JIT compilation
  * happens before the clock starts. A query's first timed output is its
  * reference: every later run must reproduce its order-independent
  * fingerprint. The manifest tier is not touched. */
final class OlapScan(c: Ctx) extends Workload(c) {
  import OlapScan._

  private val dir = s"${c.work}/sf"
  private val warmDir = s"${c.work}/sf-warmup"
  private val rnd = new java.util.SplittableRandom(c.seed * 104729L + 3)
  private val reference = scala.collection.mutable.Map.empty[String, String]

  def roots: Seq[String] = Nil
  def setup(): Unit = {
    new Gen(c.spark, c.seed, Sf / 10).land(warmDir)
    new Gen(c.spark, c.seed, Sf).land(dir)
  }

  override def warmup(): Seq[Op] = Queries.map(q =>
    Op(q, () => { SparkEntry.queries(q)(c.spark, warmDir).collect(); Unchecked }))

  def cycle(): Seq[Op] = LakeMixed.shuffled(rnd, Queries).map { q =>
    Op(q, () => {
      val rows = c.tracer.span(s"operators.${family(q)}")(
        SparkEntry.queries(q)(c.spark, dir).collect())
      () => check(q, rows)
    })
  }

  private def check(q: String, rows: Array[Row]): Boolean = {
    val fp = Stats.fingerprint(rows)
    reference.getOrElseUpdate(q, fp) == fp
  }

  def verify(): Seq[String] = Queries.filterNot(reference.contains).map(q => s"olap_scan $q never ran")
}

object OlapScan {
  val Sf = 0.1

  /** Executor-bound queries with small results, two or more per family
    * where the family has cheap enough members. */
  val Queries: Seq[String] = Seq(
    "q1_agg", "q3_shipping", "q9_product_profit", "a19_grouping_sets", "w2_lead_by_key",
    "agg_corr", "agg_median", "prof_columns", "d_dedup_clusters", "d_simhash",
    "t_top_ngrams", "t_inverted_index")

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case f if f.headOption.exists(_.isLetter) && f.drop(1).forall(_.isDigit) => f.take(1)
    case f => f
  }
}
