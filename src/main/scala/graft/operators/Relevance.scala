package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.TextNative

/** BM25 keyword-relevance scoring over a document corpus — the retrieval
  * primitive of data-curation pipelines (mine documents about X, rank a
  * corpus against a topic seed list).
  *
  * Scale posture: one tokenize pass per document; the only shuffle is a
  * groupBy on (doc, matched-term) rows AFTER filtering to the query's
  * terms — so shuffle volume is proportional to query-term occurrences,
  * not the corpus token mass. Corpus-level statistics (N, avg doc length,
  * per-term document frequencies) are tiny aggregates broadcast to the
  * scoring projection; per-term scores are pivoted into fixed columns and
  * summed in FIXED left-to-right order, which keeps the double arithmetic
  * bit-reproducible across engines (floating-point addition is not
  * associative; an arbitrary-order SUM over terms would not be). Top-k
  * finishes as TakeOrderedAndProject (per-partition heaps, k-row driver
  * merge) — never a global sort.
  *
  * `idfMode`:
  *  - "lucene" (default): idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — the
  *    standard Lucene/BM25+ formula.
  *  - "rational": the same quotient WITHOUT the ln. Monotone in df (ln is
  *    monotone), so per-term ranking is order-equivalent; total scores
  *    weight rare terms more steeply. This is the oracle-checkable mode:
  *    `ln` differs between runtimes in the last ulp (measured: 19/38074
  *    idf inputs disagree between JVM Math.log and DuckDB ln), while
  *    +,-,*,/ are IEEE-exact in both.
  */
object Relevance {

  /** Top-`k` documents by BM25 score for `terms`. Output: (id, matched
    * terms, doc length, score), ordered (score desc, id asc). Documents
    * matching none of the terms score 0 and are excluded.
    *
    * Two physical paths with bit-identical scores:
    *  - `terms.size <= pivotMaxTerms`: per-term tf pivots into fixed
    *    columns and the score is one codegen'd projection (a 1,000-term
    *    seed list would generate a 1,000-column projection and a
    *    `reduceLeft` expression tree that stresses codegen — hence the
    *    cap).
    *  - wider term sets: per-(doc, term) contributions are summed by a
    *    sorted-array fold (`array_sort` on term index, then `aggregate`)
    *    — the SAME left-to-right order as the pivot fold, and
    *    IEEE-identical to it because the pivot path's absent-term zeros
    *    are exact no-ops (`acc + 0.0 == acc`). Per-doc state is bounded
    *    by matched terms, so the aggregate scales to arbitrary seed-list
    *    sizes. */
  def bm25TopK(docs: DataFrame, id: String, text: Column, terms: Seq[String],
               k1: Double = 1.2, b: Double = 0.75, k: Int = 25,
               idfMode: String = "lucene", pivotMaxTerms: Int = 64): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    require(idfMode == "lucene" || idfMode == "rational",
      s"idfMode must be lucene|rational, got $idfMode")
    val s = docs.sparkSession

    // one tokenize per doc; dl (doc length) rides along as a long
    val base = docs.select(col(id).as("_id"),
      TextNative.tokens(text).as("_toks"))
      .select(col("_id"), col("_toks"), size(col("_toks")).cast("long").as("dl"))

    // corpus scalars: N over ALL docs, avgdl = sum(dl)/N (exact longs,
    // one deterministic double division)
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))

    // (doc, term) term frequencies — explode filtered to the query terms,
    // so the shuffle carries only matching token rows
    val tf = base
      .select(col("_id"), col("dl"), explode(col("_toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))

    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    // k1 * ((1 - b) + b * (dl/avgdl)) — written once, reused per term
    val norm = lit(k1) * ((lit(1.0) - lit(b)) +
      lit(b) * (col("dl").cast("double") / avgdl))
    def idf(dfc: Column): Column = {
      val q = (col("n_docs").cast("double") - dfc.cast("double") + lit(0.5)) /
        (dfc.cast("double") + lit(0.5))
      if (idfMode == "lucene") log(lit(1.0) + q) else lit(1.0) + q
    }

    val scored = if (terms.size <= pivotMaxTerms) {
      // per-term document frequencies: <= |terms| rows, pivoted to one
      // broadcast row of df_i columns
      val dfExprs = terms.zipWithIndex.map { case (t, i) =>
        coalesce(max(when(col("tok") === t, col("df"))), lit(0L)).as(s"df_$i")
      }
      val dfRow = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .agg(dfExprs.head, dfExprs.tail: _*)

      // pivot tf to fixed per-term columns (absent term -> null -> 0 contribution)
      val wide = tf.groupBy(col("_id"), col("dl"))
        .pivot("tok", terms)
        .agg(first(col("tf")))
        .toDF(Seq("_id", "dl") ++ terms.indices.map(i => s"tf_$i"): _*)
        .crossJoin(broadcast(dfRow))
        .crossJoin(broadcast(stats))

      def contrib(i: Int): Column =
        when(col(s"tf_$i").isNull, lit(0.0)).otherwise(
          idf(col(s"df_$i")) *
            ((col(s"tf_$i").cast("double") * (lit(k1) + lit(1.0))) /
              (col(s"tf_$i").cast("double") + norm)))
      // fixed left-to-right fold: ((c0 + c1) + c2) + ... — the order the
      // oracle SQL replicates
      val score = terms.indices.map(contrib).reduceLeft(_ + _)
      val matched = terms.indices.map(i =>
        when(col(s"tf_$i").isNull, 0).otherwise(1)).reduceLeft(_ + _)
      wide.select(col("_id").as(id), matched.cast("long").as("n_matched"),
        col("dl"), score.as("score"))
    } else {
      // aggregate path: a broadcast (term, index, df) table joins onto the
      // (doc, term, tf) rows; contributions fold per doc sorted by term
      // index — left-to-right like the pivot path, minus its exact-zero
      // absent terms, so the double result is bit-identical
      val termIdx = s.createDataFrame(terms.zipWithIndex).toDF("tok", "_ti")
      val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("_df"))
      val contribs = tf
        .join(broadcast(termIdx), "tok")
        .join(broadcast(dfTab), "tok")
        .crossJoin(broadcast(stats))
        .select(col("_id"), col("dl"), col("_ti"),
          (idf(col("_df")) *
            ((col("tf").cast("double") * (lit(k1) + lit(1.0))) /
              (col("tf").cast("double") + norm))).as("_c"))
      contribs.groupBy(col("_id"), col("dl"))
        .agg(count(lit(1)).as("n_matched"),
          aggregate(array_sort(collect_list(struct(col("_ti"), col("_c")))),
            lit(0.0), (acc, x) => acc + x.getField("_c")).as("score"))
        .select(col("_id").as(id), col("n_matched"), col("dl"), col("score"))
    }

    scored
      .orderBy(col("score").desc, col(id).asc)
      .limit(k)
  }
}
