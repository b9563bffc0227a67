package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.TextNative

/** Corpus-level text statistics for training-data curation: top n-grams,
  * token document frequency, and per-slice vocabulary measures.
  *
  * Scale posture: every operator is explode → partial-aggregated groupBy
  * on small keys (an n-gram string / a token / a slice key) — the classic
  * word-count shape that map-side combine keeps linear in corpus size and
  * immune to hot tokens ("the" is pre-summed inside each partition before
  * it ever shuffles). Top-k finishes with orderBy+limit, which Spark
  * plans as TakeOrderedAndProject (per-partition heaps + driver merge of
  * k rows), never a global sort of the full aggregate.
  */
object CorpusStats {

  /** Top-`k` word n-grams across the corpus with occurrence and
    * containing-document counts — the inter-document repetition profile
    * (boilerplate n-grams float to the top of a crawl corpus).
    * Deterministic ties: (count desc, ngram asc). */
  def topNgrams(docs: DataFrame, id: String, text: Column,
                n: Int = 2, k: Int = 25): DataFrame = {
    docs
      .select(col(id).as("_id"),
        explode(TextNative.chunks(text, n, 1)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("ngram").asc)
      .limit(k)
  }

  /** Token document frequency: for the `k` most document-frequent tokens,
    * (token, df, df_ratio). Tokens are deduplicated WITHIN each document
    * before the explode (array_distinct in the same projection), so the
    * shuffle carries one row per (doc, distinct token) and the aggregate
    * is a plain count — no (token, doc)-grained distinct aggregation.
    * The corpus total rides in on a broadcast single-row count. */
  def docFrequency(docs: DataFrame, id: String, text: Column,
                   k: Int = 25): DataFrame = {
    val df = docs
      .select(explode(array_distinct(TextNative.tokens(text))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    df.crossJoin(broadcast(total))
      .select(col("token"), col("df"),
        (col("df").cast("double") / col("n_total").cast("double")).as("df_ratio"))
      .orderBy(col("df").desc, col("token").asc)
      .limit(k)
  }

  /** Inverted index: one row per token with document frequency, total
    * term frequency, and the top-`maxPostings` posting list (doc ids
    * ordered tf-desc, id-asc, comma-joined). The retrieval-index build
    * step of a corpus pipeline.
    *
    * Hot-token posture (the reason this is two-phase): "the" appears in
    * nearly every document, and a single groupBy(token).collect_list
    * would materialize its full posting set on one reducer. Instead,
    * (token, doc, tf) rows are salted into `saltBuckets` sub-groups;
    * inside each sub-group a sort-based window rank (disk-spillable — it
    * never holds the group in memory the way collect_list would) keeps
    * only the top-`maxPostings`, and the merge stage sees at most
    * saltBuckets * maxPostings candidates per token. Per-salt top-k then
    * global top-k is exact because every globally-top row is in its
    * salt's top-k. df/total_tf are exact (full-frame window totals
    * computed in the same sort pass, before the cap filter); `truncated`
    * flags tokens whose df exceeds the cap. The rank window and the
    * stage-1 groupBy share the (token, salt) partitioning, so stage 1 is
    * one shuffle. */
  def invertedIndex(docs: DataFrame, id: String, text: Column,
                    maxPostings: Int = 100, saltBuckets: Int = 16): DataFrame = {
    require(maxPostings > 0 && saltBuckets > 0,
      s"need positive maxPostings/saltBuckets, got $maxPostings/$saltBuckets")
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col(id).as("_id"), explode(TextNative.tokens(text)).as("token"))
      .groupBy(col("token"), col("_id"))
      .agg(count(lit(1)).as("tf"))
    val byRank = Window.partitionBy(col("token"), col("_salt"))
      .orderBy(col("tf").desc, col("_id").asc)
    val whole = Window.partitionBy(col("token"), col("_salt"))
    val s1 = tf
      .withColumn("_salt", pmod(xxhash64(col("_id")), lit(saltBuckets)))
      .withColumn("_rn", row_number().over(byRank))
      .withColumn("_df_all", count(lit(1)).over(whole))
      .withColumn("_tf_all", sum(col("tf")).over(whole))
      .filter(col("_rn") <= maxPostings)
      .groupBy(col("token"), col("_salt"))
      .agg(
        max(col("_df_all")).as("_df_part"),
        max(col("_tf_all")).as("_tf_part"),
        slice(array_sort(collect_list(
          struct((-col("tf")).as("_negtf"), col("_id").as("_doc")))),
          1, maxPostings).as("_post_part"))
    s1.groupBy(col("token"))
      .agg(
        sum(col("_df_part")).as("df"),
        sum(col("_tf_part")).cast("long").as("total_tf"),
        slice(array_sort(flatten(collect_list(col("_post_part")))),
          1, maxPostings).as("_post"))
      .select(col("token"), col("df"), col("total_tf"),
        array_join(transform(col("_post"),
          p => p.getField("_doc").cast("string")), ",").as("postings"),
        (col("df") > maxPostings).as("truncated"))
  }

  /** Per-slice vocabulary measures: document count, token mass, distinct
    * vocabulary, and type-token ratio for every combination of the
    * `slices` columns (e.g. lang × source). Spark plans the mixed
    * count/countDistinct as a two-phase expand aggregate with map-side
    * partials, so a dominant slice ("en", the norm) never funnels raw
    * token rows to one reducer. */
  def vocabStats(docs: DataFrame, id: String, text: Column,
                 slices: Seq[String]): DataFrame = {
    docs
      .select(col(id).as("_id") +: slices.map(col) :+
        explode(TextNative.tokens(text)).as("token"): _*)
      .groupBy(slices.map(col): _*)
      .agg(
        countDistinct(col("_id")).as("n_docs"),
        count(lit(1)).as("total_tokens"),
        countDistinct(col("token")).as("distinct_tokens"))
      .withColumn("type_token_ratio",
        col("distinct_tokens").cast("double") / col("total_tokens").cast("double"))
  }

  /** CCNet-style language-model quality proxy: score every document by
    * the average smoothed corpus frequency of its word bigrams — junk
    * (lorem-ipsum noise, character soup, boilerplate mashups) scores
    * low against a model trained on the corpus itself, the classic
    * perplexity-filter step of a crawl-curation pipeline. Emits
    * (doc_id, n_bigrams, lm_score, novelty_ratio) for every document
    * with at least one bigram; `novelty_ratio` is the fraction of the
    * document's bigram occurrences unseen anywhere else (corpus count
    * 1) — high novelty + low lm_score is the junk quadrant, high
    * lm_score + low novelty the boilerplate quadrant.
    *
    * Numerics are RATIONAL-exact (the bm25 `rational` posture): with
    * add-half smoothing over a corpus-CONSTANT denominator, the
    * per-document sum Σ(2·c₂+1) stays an exact integer and the score is
    * one pinned left-associative division chain — bit-reproducible
    * across engines, no decimal-rounding seam (a per-history
    * conditional model would force order-sensitive float sums).
    *
    * Scale posture: the model IS an aggregate of the data — bigram
    * counts are one map-side-combined groupBy; the score join probes
    * ONE model row per distinct bigram, so zipfian-hot bigrams skew the
    * probe side only (AQE skew-split territory, no hot reducer on the
    * build side); the per-doc aggregate is a second combine-friendly
    * groupBy. Two shuffles total, both linear in corpus size. */
  /** `minCount` is the 100 TB knob: bigrams below the floor drop from
    * the MODEL and score as unseen (numerator 1, the same add-half
    * smoothing) — a zipf corpus's model shrinks by orders of magnitude
    * at floor 2-5, small enough to broadcast at any corpus scale (the
    * CCNet posture: the LM is trained on a bounded reference, scored
    * against the unbounded crawl). The DEFAULT is the floored model
    * (floor 3): the unfloored exact model's probe join crosses
    * broadcast → sort-merge as the corpus grows (measured 3.4× per 10×
    * decade, SCALE_SMOKE r13) — a caller who wants bit-exact every-
    * bigram scoring opts in with `minCount = 1`, accepting the SMJ
    * growth path knowingly rather than by default. */
  def bigramLmQuality(docs: DataFrame, id: String, text: Column,
                      minCount: Long = 3L): DataFrame = {
    require(minCount >= 1, s"bigramLmQuality: minCount must be >= 1, got $minCount")
    val db = docs.select(col(id).as("doc_id"),
      explode(TextNative.chunks(text, 2, 1)).as("bigram"))
    // collapse to (doc, bigram, tf) FIRST: repeated phrasing inside a
    // document ("the the the…", boilerplate) folds map-side before any
    // wide exchange, so the model build, the model probe, and the
    // per-doc aggregate all move tf-weighted rows, not raw occurrences
    // — the occurrence count rides along arithmetically (a bigram with
    // corpus count 1 necessarily has tf 1 in its only document)
    val tf = db.groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("tf"))
    val model = tf.groupBy(col("bigram")).agg(sum(col("tf")).as("c2"))
      .filter(col("c2") >= minCount)
    val uni = docs.select(explode(TextNative.tokens(text)).as("token"))
    val consts = uni.agg(countDistinct(col("token")).as("vsize"))
      .crossJoin(tf.agg(sum(col("tf")).as("n2")))
    // LEFT join: a below-floor bigram scores as unseen (c2 = 0). At the
    // default floor every bigram is in the model, so this is the inner
    // join bit for bit.
    val c2 = coalesce(col("c2"), lit(0L))
    tf.join(model, Seq("bigram"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * (c2 * lit(2L) + lit(1L))).as("sum_num"),
        sum(when(c2 <= 1L, col("tf")).otherwise(0L)).as("n_unique"))
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), col("n_bigrams"),
        // (Σ(2c₂+1) / n) / (2N₂ + V²): parenthesization is the
        // cross-engine contract — the oracle spells the same chain
        ((col("sum_num").cast("double") / col("n_bigrams").cast("double")) /
          (col("n2") * lit(2L) + col("vsize") * col("vsize")).cast("double"))
          .as("lm_score"),
        (col("n_unique").cast("double") / col("n_bigrams").cast("double"))
          .as("novelty_ratio"))
  }
}
