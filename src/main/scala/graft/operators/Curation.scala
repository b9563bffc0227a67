package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.TextNative

/** Corpus-curation operators a large-scale training-data pipeline runs
  * after dedup: eval-set decontamination, PII redaction, quality-rule
  * filtering (Gopher-style), and deterministic hash-based splitting.
  *
  * Scale posture: decontamination is a shuffle-on-shingle join (never
  * doc × doc pairs); the rest are scalar projections or one groupBy —
  * every shape is a single scan plus at most one exchange.
  */
object Curation {

  /** N-gram overlap of each corpus doc against a held-out eval set — the
    * train/test-leak (decontamination) check. Returns one row per corpus
    * doc: (doc_id, n_overlap, contaminated).
    *
    * Shape: distinct eval shingles ⋈ per-doc corpus shingles on the
    * shingle key, then count per doc — work is proportional to matching
    * shingle rows, not |corpus|×|eval|. At 100 TB key the join on a
    * 64-bit shingle hash instead of the string (kept as the raw string
    * here so the DuckDB oracle can replicate exactly). */
  def overlapWithEval(corpus: DataFrame, evalSet: DataFrame, id: String,
                      text: Column, shingleSize: Int = 3,
                      minOverlap: Int = 3): DataFrame = {
    val evalSh = evalSet
      .filter(size(TextNative.tokens(text)) >= shingleSize)
      .select(explode(TextNative.shingles(text, shingleSize)).as("_s"))
      .distinct()
    val corpSh = corpus
      .filter(size(TextNative.tokens(text)) >= shingleSize)
      .select(col(id).as("doc_id"),
        explode(TextNative.shingles(text, shingleSize)).as("_s"))
    val counts = corpSh.join(evalSh, "_s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    corpus.select(col(id).as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_overlap"))
      .withColumn("contaminated", (col("n_overlap") >= minOverlap).cast("int"))
  }

  // Conservative RE2-compatible patterns (no lookaround) so the same
  // regex text runs identically on Java regex and DuckDB.
  val emailPattern  = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern  = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val ipv4Pattern   = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Counts of PII-looking matches per kind. */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(emailPattern)),
    "n_phones" -> regexp_count(text, lit(phonePattern)),
    "n_ips"    -> regexp_count(text, lit(ipv4Pattern)))

  /** Text with PII-looking spans replaced by typed placeholders. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "[EMAIL]"),
        phonePattern, "[PHONE]"),
      ipv4Pattern, "[IP]")

  /** Gopher-style per-document quality rules over word statistics:
    * token count bounds, mean token length bounds, and a repetition
    * bound (most-frequent-token share). Output: one row per doc with
    * the measures and an aggregate pass flag.
    *
    * Pure projection — the repetition measure uses the one-pass native
    * graft_top_token_count, so the whole gate runs with ZERO shuffles
    * (the explode + per-token count + max + join-back shape it replaces
    * shuffled every token row twice). */
  def qualityRules(docs: DataFrame, id: String, text: Column,
                   minTokens: Int = 20, maxTokens: Int = 1000,
                   minMeanLen: Double = 3.0, maxMeanLen: Double = 8.0,
                   maxTopRatio: Double = 0.2): DataFrame = {
    val stats = docs
      .select(col(id).as("doc_id"), TextNative.tokens(text).as("_toks"))
      .select(col("doc_id"),
        size(col("_toks")).as("token_count"),
        aggregate(col("_toks"), lit(0L), (a, t) => a + length(t)).as("_charsum"),
        TextNative.topTokenCount(col("_toks")).as("_top"))
    val tc = col("token_count")
    val mean = when(tc > 0,
      col("_charsum").cast("double") / tc.cast("double")).otherwise(lit(0.0))
    val ratio = when(tc > 0,
      col("_top").cast("double") / tc.cast("double")).otherwise(lit(0.0))
    stats.select(col("doc_id"), tc,
      mean.as("mean_token_len"),
      ratio.as("top_token_ratio"),
      (tc.between(minTokens, maxTokens) &&
        mean.between(minMeanLen, maxMeanLen) &&
        ratio <= maxTopRatio).cast("int").as("passes"))
  }

  /** Gopher-style repetition measures per document: the fraction of word
    * bigrams that are repeats, the share held by the single most frequent
    * bigram, and the fraction of non-overlapping 10-token chunks that are
    * repeats ("copy-paste" structure inside one document — the
    * within-doc complement of corpus-wide [[DedupSuite.chunkDedup]]).
    *
    * Zero-shuffle: the bigram/chunk arrays come from the one-pass
    * [[TextNative.chunks]] expression and every measure is a builtin over
    * that array — the whole operator is a single codegen'd projection.
    * Quotients stay raw doubles (oracle parity). */
  def repetitionStats(docs: DataFrame, id: String, text: Column): DataFrame = {
    val base = docs.select(col(id).as("doc_id"),
      TextNative.chunks(text, 2, 1).as("_bg"),
      TextNative.chunks(text, 10, 10).as("_ch"))
    val nBg = size(col("_bg"))
    val nCh = size(col("_ch"))
    base.select(col("doc_id"),
      nBg.cast("long").as("n_bigrams"),
      when(nBg > 0, (nBg - size(array_distinct(col("_bg")))).cast("double") / nBg)
        .otherwise(lit(0.0)).as("dup_bigram_frac"),
      when(nBg > 0, TextNative.topTokenCount(col("_bg")).cast("double") / nBg)
        .otherwise(lit(0.0)).as("top_bigram_ratio"),
      nCh.cast("long").as("n_chunks10"),
      when(nCh > 0, (nCh - size(array_distinct(col("_ch")))).cast("double") / nCh)
        .otherwise(lit(0.0)).as("dup_chunk_frac"))
  }

  /** Sequence packing: lay documents head-to-tail into fixed-length token
    * sequences (the final batch-assembly step before training). Docs are
    * packed per SHARD (deterministic pmod of the id) in id order — the
    * global-order variant would funnel the cumsum through one partition;
    * per-shard windows keep every shard independent and the shuffle keyed
    * on the shard id. A document starting at cumulative offset c goes to
    * sequence floor(c / seqLen) at offset c % seqLen (docs may straddle a
    * boundary; the trainer's loader slices by offset).
    *
    * Output: (doc_id, shard, n_tokens, seq_id, seq_offset). */
  def packSequences(docs: DataFrame, id: String, text: Column,
                    seqLen: Int = 2048, shards: Int = 8,
                    bpeMerges: Seq[(String, String)] = Nil): DataFrame = {
    // token-EXACT mode: with a learned BPE merge table the budget is
    // counted in the tokens the trainer will actually see, not
    // whitespace words — the table rides the plan as a literal, so the
    // counting pass stays one codegen'd projection either way
    val tokCount =
      if (bpeMerges.isEmpty) size(TextNative.tokens(text))
      else TextNative.bpeCount(text, bpeMerges)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs
      .select(col(id).as("doc_id"),
        pmod(col(id), lit(shards.toLong)).as("shard"),
        tokCount.cast("long").as("n_tokens"))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor((col("_cum") - col("n_tokens")) / lit(seqLen.toDouble))
          .cast("long").as("seq_id"),
        pmod(col("_cum") - col("n_tokens"), lit(seqLen.toLong)).as("seq_offset"))
  }

  /** Deterministic hash-based split assignment: bucket the key's md5
    * into [0,100) and carve train/val/test by percentage. Stable across
    * runs/engines (md5 of the key string), so re-running a pipeline never
    * migrates a document between splits. */
  def hashSplit(key: Column, trainPct: Int = 90, valPct: Int = 5): Column = {
    val bucket = TextFunctions.md5Hash60(key.cast("string")) % lit(100L)
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }
}
