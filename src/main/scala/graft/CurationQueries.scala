package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Curation, Sampling}

/** Corpus-curation queries over the `documents` table: decontamination
  * against a held-out eval set, PII redaction, Gopher-style quality
  * rules, and deterministic hash-based train/val/test splitting.
  *
  * All four are fully oracle-checked: hashes are md5-derived (portable),
  * regexes are RE2-compatible, and quotients are raw doubles (never
  * rounded), so DuckDB reproduces every value bit-for-bit.
  */
object CurationQueries extends QueryPack {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  // The synthetic corpus has no PII; plant deterministic spans in a
  // subset of rows (replicated verbatim in the oracle SQL) so the
  // redaction path is exercised on non-trivial input.
  private def withPlantedPii(d: DataFrame): DataFrame = {
    val t = when(pmod(col("doc_id"), lit(10L)) === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 10.0.0."), pmod(col("doc_id"), lit(255L))))
      .when(pmod(col("doc_id"), lit(10L)) === 5,
        concat(col("text"), lit(" call 555-867-5309 today")))
      .otherwise(col("text"))
    d.withColumn("_t", t)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c_decontaminate" -> ((s, d) => {
      // held-out eval set: every 50th doc; corpus: the rest.
      val all = docs(s, d)
      val ev = all.filter(pmod(col("doc_id"), lit(50L)) === 0)
      val corpus = all.filter(pmod(col("doc_id"), lit(50L)) =!= 0)
      Curation.overlapWithEval(corpus, ev, "doc_id", col("text"),
        shingleSize = 3, minOverlap = 3)
    }),
    "c_pii_redact" -> ((s, d) => {
      val planted = withPlantedPii(docs(s, d))
      val counts = Curation.piiCounts(col("_t"))
        .map { case (n, c) => c.cast("long").as(n) }
      planted.select(
        Seq(col("doc_id")) ++ counts :+
          Curation.redactPii(col("_t")).as("redacted"): _*)
    }),
    "c_quality_rules" -> ((s, d) =>
      Curation.qualityRules(docs(s, d), "doc_id", col("text"))),
    "s_stratified" -> ((s, d) =>
      // rebalance the corpus: keep 25% of the dominant language, 75% of
      // de, all of the rest — decisions content-addressed on doc_id.
      Sampling.stratifiedSample(docs(s, d), col("doc_id"), col("lang"),
        Map("en" -> 0.25, "de" -> 0.75), defaultRate = 1.0)
        .select(col("doc_id"), col("lang"), col("source"))),
    "s_source_mix" -> ((s, d) =>
      // training mixture: upsample src0 2.5x (epoch replicas), keep 30%
      // of src1, everything else at weight 1.
      Sampling.sourceMix(docs(s, d), col("doc_id"), col("source"),
        Map("src0" -> 2.5, "src1" -> 0.3), defaultWeight = 1.0)
        .select(col("doc_id"), col("source"), col("epoch"))),
    "s_token_budget" -> ((s, d) => {
      // fill a 5000-token budget per language with a content-addressed
      // sample (re-runs agree; a raised budget extends the selection).
      val toks = size(graft.plans.TextNative.tokens(col("text"))).cast("long")
      Sampling.tokenBudgetSample(
        docs(s, d).select(col("doc_id"), col("lang"), toks.as("n_tokens")),
        col("doc_id"), col("lang"), col("n_tokens"), budget = 5000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
    }),
    "s_shuffle" -> ((s, d) =>
      // deterministic epoch shuffle for export: shard + in-shard position
      // depend only on (seed, doc_id) — re-runs, different partitionings
      // and resumed exports agree row-for-row; a new seed is a fresh
      // independent permutation.
      Sampling.deterministicShuffle(
        docs(s, d).select(col("doc_id"), col("lang")), col("doc_id"),
        seed = 42L, nShards = 8)
        .select(col("doc_id"), col("lang"), col("shard"), col("pos"))),
    "s_pack_sequences" -> ((s, d) =>
      // batch assembly: pack docs head-to-tail into 2048-token training
      // sequences, 8 independent shards (no global-order funnel).
      Curation.packSequences(docs(s, d), "doc_id", col("text"),
        seqLen = 2048, shards = 8)),
    "t_bpe" -> ((s, d) => {
      // deterministic BPE (public Sennrich algorithm): encode every
      // document under the PINNED merge table in one native pass; the
      // oracle replays the same merges with nested replace() over the
      // paren-wrapped representation — bit-identical token streams by
      // construction. (Corpus training is Bpe.train, spec-gated.)
      val enc = graft.plans.TextNative.bpeEncode(col("text"),
        graft.functions.Bpe.PinnedMerges)
      docs(s, d).select(col("doc_id"), enc.as("_enc"))
        .select(col("doc_id"),
          size(col("_enc")).cast("long").as("n_bpe_tokens"),
          array_join(slice(col("_enc"), 1, 5), " ").as("head_tokens"))
    }),
    "s_pack_bpe" -> ((s, d) =>
      // token-EXACT packing: the same head-to-tail sequence assembly,
      // budgeted in learned BPE tokens instead of whitespace words.
      Curation.packSequences(docs(s, d), "doc_id", col("text"),
        seqLen = 512, shards = 8,
        bpeMerges = graft.functions.Bpe.PinnedMerges)),
    "s_budget_bpe" -> ((s, d) => {
      // token-EXACT budget fill: the content-addressed per-language
      // sample, budgeted in learned BPE tokens (the count column is
      // just size(graft_bpe_encode(...)) — the operator is counting-
      // scheme agnostic by design).
      val toks = graft.plans.TextNative.bpeCount(col("text"),
        graft.functions.Bpe.PinnedMerges)
      Sampling.tokenBudgetSample(
        docs(s, d).select(col("doc_id"), col("lang"), toks.as("n_tokens")),
        col("doc_id"), col("lang"), col("n_tokens"), budget = 8000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
    }),
    "c_hash_split" -> ((s, d) =>
      docs(s, d)
        .withColumn("split", Curation.hashSplit(col("doc_id")))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars")))
  )

  private val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"
  // the PINNED merge table's DuckDB replay over a lambda word `w` —
  // generated from the same Seq the Spark encoder uses, so the two
  // sides cannot drift
  private val bpeEncSql =
    graft.functions.Bpe.replaySql("w", graft.functions.Bpe.PinnedMerges)
  private val sh3Sql =
    "list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] " +
      "for i in range(1, len(toks) - 1)])"
  // single line: this fragment is interpolated into a stripMargin string,
  // where a continuation line starting with '||' would lose a bar.
  private val piiTextSql =
    "CASE WHEN doc_id % 10 = 0 THEN text || ' contact user' || " +
      "CAST(doc_id AS VARCHAR) || '@example.com or 10.0.0.' || " +
      "CAST(doc_id % 255 AS VARCHAR) " +
      "WHEN doc_id % 10 = 5 THEN text || ' call 555-867-5309 today' " +
      "ELSE text END"
  private val bucketSql =
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100)"

  // CAST(... AS DOUBLE) on the rate/weight literals: DuckDB parses bare
  // 2.5 as DECIMAL and does exact decimal arithmetic where Spark does
  // IEEE-double — boundary buckets would then disagree.
  private val sampleBucketSql =
    "CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000) AS DOUBLE)"

  val oracle: Map[String, String] = Map(
    "s_shuffle" ->
      """WITH hashed AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, lang, CAST(h % 8 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |FROM hashed""".stripMargin,
    "s_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE $sampleBucketSql <
         |  (CASE WHEN lang = 'en' THEN CAST(0.25 AS DOUBLE)
         |        WHEN lang = 'de' THEN CAST(0.75 AS DOUBLE)
         |        ELSE CAST(1.0 AS DOUBLE) END) * 1000000""".stripMargin,
    "s_source_mix" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |    CASE WHEN source = 'src0' THEN CAST(2.5 AS DOUBLE)
         |         WHEN source = 'src1' THEN CAST(0.3 AS DOUBLE)
         |         ELSE CAST(1.0 AS DOUBLE) END AS w,
         |    $sampleBucketSql AS bkt
         |  FROM documents),
         |e AS (
         |  SELECT doc_id, source, w, bkt,
         |    CAST(unnest(range(0, CAST(greatest(ceil(w), 1) AS BIGINT))) AS INT) AS epoch
         |  FROM base)
         |SELECT doc_id, source, epoch FROM e
         |WHERE epoch < floor(w) OR bkt < (w - floor(w)) * 1000000""".stripMargin,
    "c_decontaminate" ->
      s"""WITH evt AS (SELECT doc_id, $toksSql AS toks FROM documents
         |             WHERE doc_id % 50 = 0),
         |evs AS (SELECT DISTINCT unnest($sh3Sql) AS s FROM evt WHERE len(toks) >= 3),
         |ct  AS (SELECT doc_id, $toksSql AS toks FROM documents
         |        WHERE doc_id % 50 <> 0),
         |cs  AS (SELECT doc_id, unnest($sh3Sql) AS s FROM ct WHERE len(toks) >= 3),
         |ov  AS (SELECT cs.doc_id, COUNT(*) AS n
         |        FROM cs JOIN evs ON cs.s = evs.s GROUP BY 1)
         |SELECT d.doc_id, COALESCE(ov.n, 0) AS n_overlap,
         |       CAST(COALESCE(ov.n, 0) >= 3 AS INT) AS contaminated
         |FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
         |WHERE d.doc_id % 50 <> 0""".stripMargin,
    "c_pii_redact" ->
      s"""WITH p AS (SELECT doc_id, $piiTextSql AS t FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${Curation.emailPattern}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${Curation.phonePattern}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '${Curation.ipv4Pattern}')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '${Curation.emailPattern}', '[EMAIL]', 'g'),
         |    '${Curation.phonePattern}', '[PHONE]', 'g'),
         |    '${Curation.ipv4Pattern}', '[IP]', 'g') AS redacted
         |FROM p""".stripMargin,
    "c_quality_rules" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |st AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS token_count,
         |         CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS charsum
         |       FROM t),
         |tp AS (SELECT doc_id, MAX(n) AS topn FROM (
         |         SELECT doc_id, COUNT(*) AS n
         |         FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
         |         GROUP BY doc_id, tok)
         |       GROUP BY 1)
         |SELECT st.doc_id, st.token_count,
         |  CASE WHEN st.token_count > 0
         |    THEN CAST(st.charsum AS DOUBLE) / st.token_count ELSE 0.0
         |    END AS mean_token_len,
         |  CASE WHEN st.token_count > 0
         |    THEN CAST(COALESCE(tp.topn, 0) AS DOUBLE) / st.token_count ELSE 0.0
         |    END AS top_token_ratio,
         |  CAST((st.token_count BETWEEN 20 AND 1000)
         |    AND (CASE WHEN st.token_count > 0
         |         THEN CAST(st.charsum AS DOUBLE) / st.token_count ELSE 0.0 END
         |         BETWEEN 3.0 AND 8.0)
         |    AND (CASE WHEN st.token_count > 0
         |         THEN CAST(COALESCE(tp.topn, 0) AS DOUBLE) / st.token_count
         |         ELSE 0.0 END <= 0.2) AS INT) AS passes
         |FROM st LEFT JOIN tp ON st.doc_id = tp.doc_id""".stripMargin,
    "s_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |         md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 5000""".stripMargin,
    "s_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(FLOOR((cum - n_tokens) / CAST(2048 AS DOUBLE)) AS BIGINT) AS seq_id,
         |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset
         |FROM c""".stripMargin,
    "t_bpe" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |e AS (SELECT doc_id, list_transform(toks, w -> $bpeEncSql) AS encs FROM t)
         |SELECT doc_id,
         |  CAST(coalesce(list_sum(list_transform(encs,
         |    s -> len(string_split(substr(s, 2, len(s)-2), ')(')))), 0) AS BIGINT)
         |    AS n_bpe_tokens,
         |  array_to_string(list_slice(flatten(list_transform(encs,
         |    s -> string_split(substr(s, 2, len(s)-2), ')('))), 1, 5), ' ')
         |    AS head_tokens
         |FROM e""".stripMargin,
    "s_budget_bpe" ->
      s"""WITH t0 AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |e AS (SELECT doc_id, lang, list_transform(toks, w -> $bpeEncSql) AS encs FROM t0),
         |t AS (SELECT doc_id, lang,
         |  CAST(coalesce(list_sum(list_transform(encs,
         |    s -> len(string_split(substr(s, 2, len(s)-2), ')(')))), 0) AS BIGINT)
         |    AS n_tokens,
         |  md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM e),
         |c AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 8000""".stripMargin,
    "s_pack_bpe" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |e AS (SELECT doc_id, list_transform(toks, w -> $bpeEncSql) AS encs FROM t0),
         |t AS (SELECT doc_id, doc_id % 8 AS shard,
         |  CAST(coalesce(list_sum(list_transform(encs,
         |    s -> len(string_split(substr(s, 2, len(s)-2), ')(')))), 0) AS BIGINT)
         |    AS n_tokens
         |  FROM e),
         |c AS (
         |  SELECT doc_id, shard, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(FLOOR((cum - n_tokens) / CAST(512 AS DOUBLE)) AS BIGINT) AS seq_id,
         |  CAST((cum - n_tokens) % 512 AS BIGINT) AS seq_offset
         |FROM c""".stripMargin,
    "c_hash_split" ->
      s"""SELECT CASE WHEN $bucketSql < 90 THEN 'train'
         |            WHEN $bucketSql < 95 THEN 'val'
         |            ELSE 'test' END AS split,
         |       lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM documents GROUP BY 1, 2""".stripMargin
  )
}
