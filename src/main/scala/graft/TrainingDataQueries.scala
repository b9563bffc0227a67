package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{Ann, Curation, DedupSuite}
import graft.plans.TextNative

/** Training-data pipeline operators over the `documents` and `embeddings`
  * tables: dedup suite (exact / MinHash+LSH / SimHash / char-n-gram /
  * embedding-cosine), similarity search (brute-force + IVF), and text
  * analysis (tokens / language-ID / quality / fingerprint).
  *
  * Oracle notes: queries whose result depends only on set arithmetic and
  * raw IEEE doubles get exact DuckDB oracles (the LSH pair-finder is
  * checked against the *brute-force* oracle — recall on the planted
  * near-dups at j≈0.98 is 1-(1-j^8)^16 ≈ 1-6e-14, i.e. exact on this
  * data). Queries built on engine-native hashes (xxhash64 signatures,
  * SimHash, fingerprints) are rows-only checked.
  */
object TrainingDataQueries extends QueryPack {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)
  private def embs(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // dedup ---------------------------------------------------------------
    "d_exact_dedup" -> ((s, d) =>
      DedupSuite.exactDedupStats(docs(s, d), col("text"), col("doc_id"))),
    "d_minhash_lsh" -> ((s, d) =>
      // k=64, b=16, r=4: the S-curve midpoint (1/b)^(1/r) = 0.5 sits
      // below the 0.8 threshold, so recall at j>=0.8 is ~1 (miss p =
      // (1-j^4)^16 ~ 2e-4 at j=0.8, ~1e-18 at 0.95) — strictly better
      // than r=8 at half the hashing cost; exact verify keeps precision 1.
      DedupSuite.minhashNearDupPairs(docs(s, d), "doc_id", col("text"),
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)),
    "d_char_ngram" -> ((s, d) =>
      // brute-force baseline — bounded universe so cost stays fixed at
      // every SF; the LSH path above is the full-corpus variant.
      DedupSuite.charNgramPairs(docs(s, d).filter(col("doc_id") < 500),
        "doc_id", col("text"), n = 5, threshold = 0.8)),
    "d_dedup_apply" -> ((s, d) => {
      // the apply step: drop every doc that near-dup-matched a smaller id,
      // then report the surviving corpus per (lang, source).
      val pairs = DedupSuite.minhashNearDupPairs(docs(s, d), "doc_id", col("text"),
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
      val dropList = DedupSuite.dropListFromPairs(pairs)
      docs(s, d)
        .join(dropList, col("doc_id") === col("drop_id"), "left_anti")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    }),
    "d_incremental" -> ((s, d) => {
      // incremental ingest: every 5th doc is the "new batch", the rest is
      // the indexed corpus. The synthetic corpus has no exact dups, so
      // plant 3 boilerplate texts on doc_id % 17 == 3 (mirrored verbatim
      // in the oracle) to exercise all three status paths.
      // doc_id % 35 == 5 implies doc_id % 5 == 0: those dups exist ONLY
      // inside the batch, so dup_in_batch shows up too.
      val planted = docs(s, d).withColumn("text",
        when(pmod(col("doc_id"), lit(17L)) === 3,
          concat(lit("boilerplate terms of service v"),
            pmod(col("doc_id"), lit(3L))))
          .when(pmod(col("doc_id"), lit(35L)) === 5,
            concat(lit("batch boilerplate v"), pmod(col("doc_id"), lit(2L))))
          .otherwise(col("text")))
      val batch = planted.filter(pmod(col("doc_id"), lit(5L)) === 0)
      val corpus = planted.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      DedupSuite.incrementalDedup(corpus, batch, "doc_id", col("text"))
    }),
    "d_dedup_clusters" -> ((s, d) => {
      // pair graph -> duplicate clusters (connected components); the
      // keep-first drop list over-keeps on transitive chains.
      val pairs = DedupSuite.minhashNearDupPairs(docs(s, d), "doc_id",
        col("text"), shingleSize = 3, numHashes = 64, bands = 16,
        threshold = 0.8)
      DedupSuite.dedupClusters(pairs)
    }),
    "d_incr_neardup" -> ((s, d) => {
      // incremental fuzzy dedup: same batch/corpus split as d_incremental,
      // MinHash+LSH candidates, exact-Jaccard verify; checked against the
      // brute-force batch x corpus oracle (same S-curve guarantee as
      // d_minhash_lsh).
      val all = docs(s, d)
      val batch = all.filter(pmod(col("doc_id"), lit(5L)) === 0)
      val corpus = all.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      DedupSuite.incrementalNearDup(corpus, batch, "doc_id", col("text"),
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.8)
    }),
    "d_chunk_dedup" -> ((s, d) =>
      // corpus-wide duplicate-chunk removal (the line-dedup step of web
      // curation pipelines): 20-token chunks, keep first occurrence.
      DedupSuite.chunkDedup(docs(s, d), "doc_id", col("text"), chunkTokens = 20)),
    "d_simhash" -> ((s, d) =>
      // portable (md5-based) hashes so DuckDB can recompute the exact
      // simhashes and brute-force the pair set as an oracle.
      DedupSuite.simhashNearDupPairs(docs(s, d), "doc_id", col("text"),
        maxHamming = 5, portable = true)),
    "d_embed_neardup" -> ((s, d) =>
      // exact all-pairs BASELINE, maxDocs-guarded (the operator refuses a
      // corpus-scale universe); 20k admits the 10× scale-step table as a
      // deliberate bounded experiment — d_embed_lsh is the scale path.
      Ann.cosineNearDupPairs(embs(s, d), "vec_id", "embedding",
        threshold = 0.478, maxDocs = 20000)),
    "d_embed_lsh" -> ((s, d) =>
      // the bucketed scale path for embedding near-dup; oracle replicates
      // the same buckets/probes, so the check is exact even though the
      // algorithm is approximate.
      Ann.lshNearDupPairs(embs(s, d), "vec_id", "embedding",
        threshold = 0.478, numPlanes = 12, dim = 64, seed = 42L,
        probeHamming = 1)),
    "d_semantic" -> ((s, d) => {
      // SemDeDup: within-centroid-cell cosine near-dup removal with
      // 2-cell multi-probe (closes cell-boundary misses). The cell count
      // is ADAPTIVE at the Θ(n^1.5) optimum — cellSize ≈ √n, so k ≈ √n
      // too and BOTH stages (n·k assignment, n·cellSize pair scan) grow
      // as n^1.5; a fixed cellSize measured 43.4× at a 10× step
      // (SCALE_SMOKE r15), a fixed k 9.0× (r12). Seed centroids
      // (vec_id < k, deterministic) keep the oracle replicable — the
      // oracle computes the same k from its own COUNT(*); production
      // uses Ann.trainCentroids k-means output.
      val e = embs(s, d)
      val n = e.count()
      val k = Ann.adaptiveCellCount(n)
      // corpusRows rides the count adaptive-k already paid for: at or
      // below the salt cap the pair stage proves salting is a no-op and
      // keeps the unsalted single-bucket plan (bit-identical output;
      // measured 1.26× overhead recovered at sf0.1 — OPTIMIZATION_r19.md)
      Ann.semanticDedup(e, "vec_id", "embedding",
        e.filter(col("vec_id") < k).select(col("vec_id"), col("embedding")),
        threshold = 0.43, probeCells = 2, corpusRows = n)
    }),
    // similarity search ----------------------------------------------------
    "ann_topk" -> ((s, d) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
      Ann.bruteForceTopK(e, "vec_id", "embedding", q, k = 10)
    }),
    "ann_ivf" -> ((s, d) => {
      val e = embs(s, d)
      val centroids = e.filter(col("vec_id") < 8).select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
      Ann.ivfTopK(e, "vec_id", "embedding", centroids, q, k = 5, nProbe = 2)
    }),
    "ann_lsh" -> ((s, d) => {
      // the hyperplanes are deterministic doubles, so the oracle embeds
      // them as SQL literals and replicates bucketing + multi-probe.
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
      Ann.signLshTopK(e, "vec_id", "embedding", q, k = 10,
        numPlanes = 12, dim = 64, seed = 42L, probeHamming = 1)
    }),
    "ann_pq" -> ((s, d) => {
      // product quantization: 8 subspaces x 8 dims, codebook = subvectors
      // of the 16 seed vectors (deterministic; production uses per-subspace
      // k-means). Queries keep full precision (ADC).
      val e = embs(s, d)
      val seeds = e.filter(col("vec_id") < 16).select(col("vec_id"), col("embedding"))
      val cb = Ann.pqCodebook(seeds, "vec_id", "embedding", m = 8, dim = 64)
      val q = e.filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
      Ann.pqTopK(e, "vec_id", "embedding", cb, q, k = 10, m = 8, dim = 64)
    }),
    // text analysis --------------------------------------------------------
    "t_text_stats" -> ((s, d) => {
      // tokenize once (native, codegen'd) and fan the array into the
      // measures — the per-text HOF forms re-run the tokenizer per measure.
      val toks = TextNative.tokens(col("text"))
      docs(s, d).select(
        col("doc_id"),
        size(toks).as("token_count"),
        TextFunctions.subwordCountOf(toks).as("subword_count"),
        TextFunctions.stopwordRatioOf(toks).as("stopword_ratio"),
        TextFunctions.qualityScoreOf(col("text"), toks).as("quality"))
    }),
    "t_langid" -> ((s, d) =>
      docs(s, d).select(
        col("doc_id"), col("lang"),
        TextFunctions.detectLangOf(col("text"),
          TextNative.tokens(col("text"))).as("lang_detected"))),
    "t_normalize" -> ((s, d) => {
      // normalize-before-hash: NFC + lowercase + whitespace collapse. The
      // synthetic corpus is plain ASCII, so plant decomposed-unicode and
      // messy-whitespace prefixes (mirrored via chr() in the oracle) to
      // prove the composition actually happens.
      val planted = docs(s, d).withColumn("text",
        when(pmod(col("doc_id"), lit(13L)) === 2,
          concat(lit("Cafe\u0301  NAI\u0308VE\t"), col("text"),
            lit("  Stra\u00dfe \n")))
          .otherwise(col("text")))
      val norm = TextNative.normalizeText(col("text"))
      planted.select(col("doc_id"), norm.as("norm_text"),
        md5(norm).as("norm_hash"))
    }),
    "t_repetition" -> ((s, d) =>
      // within-doc repetition (Gopher measures): duplicate-bigram mass,
      // top-bigram share, duplicate 10-token chunks.
      Curation.repetitionStats(docs(s, d), "doc_id", col("text"))),
    "t_fingerprint" -> ((s, d) => {
      // portable (md5-based) hashes → fully oracle-checkable. The
      // engine-native xxhash64 variants (TextFunctions.fingerprint,
      // DedupSuite.simhash64) remain the faster in-engine API.
      val base = docs(s, d)
      val fp = base.select(
        col("doc_id"),
        TextFunctions.fingerprintPortableOf(
          TextNative.tokens(col("text"))).as("fingerprint"))
      val sim = DedupSuite.simhashTable(base, "doc_id", col("text"), portable = true)
        .toDF("doc_id", "simhash")
      fp.join(sim, "doc_id")
    })
  )

  // --- shared SQL fragments ------------------------------------------------

  private val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"

  private val shingle3Sql =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                   for i in range(1, len(toks) - 1)]) AS s
       |  FROM t WHERE len(toks) >= 3)""".stripMargin

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  // DuckDB halves of TextFunctions.md5Hash60 / md5Hash28: BIGINT from an
  // md5 hex prefix (15 hex chars = 60 bits, 7 = 28 bits).
  private val hsSql =
    "list_transform(toks, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))"
  private val fhSql =
    "list_transform(toks, x -> CAST(('0x' || substr(md5(x), 1, 7)) AS BIGINT))"

  // 60-bit simhash assembled from per-bit majority votes over the token
  // hash list `hs` — mirrors DedupSuite.simhashTable(portable = true).
  private val simSql = (0 until 60).map { b =>
    s"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> $b) & 1) = 1)) > len(hs)" +
      s" THEN CAST(1 AS BIGINT) << $b ELSE CAST(0 AS BIGINT) END)"
  }.mkString("\n      + ")

  private val vSql =
    "SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings"

  private def dotSql(a: String, b: String): String =
    s"list_sum([$a.e[i] * $b.e[i] for i in range(1, 65)])"

  // Sign-LSH hyperplanes as SQL literals (Double.toString is shortest
  // round-trip text, so DuckDB parses back the identical binaries), and
  // the 12-bit signature as a sum of sign tests — mirrors
  // graft.plans.SignLshSignature (same sequential accumulation order).
  private val lshSigSql: String =
    graft.plans.SignLshSignature.hyperplanes(12, 64, 42L).zipWithIndex.map {
      case (w, p) =>
        val arr = w.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(e, $arr) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("\n      + ")

  private val lshMasks: String =
    (Seq(0) ++ (0 until 12).map(1 << _)).mkString("[", ", ", "]")

  private def cosSql(a: String, b: String): String =
    s"""(${dotSql(a, b)} /
       | (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))""".stripMargin

  val oracle: Map[String, String] = Map(
    "d_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |       COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "d_minhash_lsh" ->
      s"""$shingle3Sql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.8""".stripMargin,
    "d_dedup_apply" ->
      s"""$shingle3Sql,
         |pairs AS (
         |  SELECT b.doc_id AS drop_id
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
         |SELECT lang, source, COUNT(*) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM documents
         |WHERE doc_id NOT IN (SELECT drop_id FROM pairs)
         |GROUP BY 1, 2""".stripMargin,
    "d_char_ngram" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([substr(lower(text), i, 5)
        |                   for i in range(1, len(lower(text)) - 3)]) AS s
        |  FROM documents WHERE doc_id < 500 AND len(text) >= 5)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.8""".stripMargin,
    "d_embed_neardup" ->
      s"""WITH v AS ($vSql)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ROUND(${cosSql("a", "b")}, 6) AS sim
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a", "b")} >= 0.478""".stripMargin,
    "ann_topk" ->
      s"""WITH v AS ($vSql),
         |q AS (SELECT * FROM v WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |         ${cosSql("q", "v")} AS cos
         |  FROM q JOIN v ON v.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |            ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, ROUND(cos, 6) AS sim,
         |       CAST(rn AS INT) AS rank
         |FROM ranked WHERE rn <= 10""".stripMargin,
    "ann_ivf" ->
      s"""WITH v AS ($vSql),
         |cent AS (SELECT vec_id AS cell_id, e FROM v WHERE vec_id < 8),
         |q AS (SELECT * FROM v WHERE vec_id < 5),
         |asg AS (
         |  SELECT vec_id, e, cell_id FROM (
         |    SELECT v.vec_id, v.e, cent.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY sqrt(list_sum([(v.e[i] - cent.e[i]) * (v.e[i] - cent.e[i])
         |                                for i in range(1, 65)])) ASC, cent.cell_id ASC) AS rn
         |    FROM v CROSS JOIN cent)
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT query_id, qe, cell_id FROM (
         |    SELECT q.vec_id AS query_id, q.e AS qe, cent.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY sqrt(list_sum([(q.e[i] - cent.e[i]) * (q.e[i] - cent.e[i])
         |                                for i in range(1, 65)])) ASC, cent.cell_id ASC) AS cr
         |    FROM q CROSS JOIN cent)
         |  WHERE cr <= 2),
         |scored AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    list_sum([p.qe[i] * a.e[i] for i in range(1, 65)]) /
         |      (sqrt(list_sum([p.qe[i] * p.qe[i] for i in range(1, 65)])) *
         |       sqrt(list_sum([a.e[i] * a.e[i] for i in range(1, 65)]))) AS cos
         |  FROM asg a JOIN probes p ON a.cell_id = p.cell_id
         |  WHERE a.vec_id <> p.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |            ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, ROUND(cos, 6) AS sim,
         |       CAST(rn AS INT) AS rank
         |FROM ranked WHERE rn <= 5""".stripMargin,
    "d_semantic" ->
      s"""WITH v AS ($vSql),
         |cent AS (SELECT vec_id AS cell_id, e FROM v
         |         WHERE vec_id < (SELECT GREATEST(8,
         |           CEIL(COUNT(*) / CEIL(SQRT(COUNT(*))))) FROM v)),
         |asg AS (
         |  SELECT vec_id, e, cell_id, rn FROM (
         |    SELECT v.vec_id, v.e, cent.cell_id,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY sqrt(list_sum([(v.e[i] - cent.e[i]) * (v.e[i] - cent.e[i])
         |                                for i in range(1, 65)])) ASC, cent.cell_id ASC) AS rn
         |    FROM v CROSS JOIN cent)
         |  WHERE rn <= 2),
         |p AS (
         |  SELECT DISTINCT b.vec_id AS drop_id
         |  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a", "b")} >= 0.43)
         |SELECT a.vec_id, a.cell_id,
         |       CAST(a.vec_id NOT IN (SELECT drop_id FROM p) AS INT) AS kept
         |FROM asg a WHERE a.rn = 1""".stripMargin,
    "d_embed_lsh" ->
      s"""WITH v AS ($vSql),
         |s AS (SELECT vec_id, e, ($lshSigSql) AS bucket FROM v),
         |m AS (SELECT unnest($lshMasks) AS mask),
         |pr AS (SELECT vec_id, xor(bucket, mask) AS bucket FROM s CROSS JOIN m),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM s a JOIN pr b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT c.id_a, c.id_b, ROUND(${cosSql("x", "y")}, 6) AS sim
         |FROM cand c
         |JOIN v x ON x.vec_id = c.id_a
         |JOIN v y ON y.vec_id = c.id_b
         |WHERE ${cosSql("x", "y")} >= 0.478""".stripMargin,
    "ann_lsh" ->
      s"""WITH v AS ($vSql),
         |s AS (SELECT vec_id, e, ($lshSigSql) AS bucket FROM v),
         |q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qb
         |      FROM s WHERE vec_id < 5),
         |m AS (SELECT unnest($lshMasks) AS mask),
         |probes AS (
         |  SELECT query_id, qe, xor(qb, mask) AS bucket FROM q CROSS JOIN m),
         |scored AS (
         |  SELECT p.query_id, s.vec_id AS neighbor_id,
         |    list_dot_product(p.qe, s.e) /
         |      (sqrt(list_dot_product(p.qe, p.qe)) *
         |       sqrt(list_dot_product(s.e, s.e))) AS cos
         |  FROM s JOIN probes p ON s.bucket = p.bucket
         |  WHERE s.vec_id <> p.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |            ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, ROUND(cos, 6) AS sim,
         |       CAST(rn AS INT) AS rank
         |FROM ranked WHERE rn <= 10""".stripMargin,
    "ann_pq" ->
      s"""WITH v AS ($vSql),
         |cbl AS (SELECT vec_id AS code,
         |          [{'j': j, 'sub': e[(j*8+1):(j*8+8)]} for j in range(0, 8)] AS xs
         |        FROM v WHERE vec_id < 16),
         |cb AS (SELECT code, unnest(xs, recursive := true) FROM cbl),
         |cvl AS (SELECT vec_id,
         |          [{'j': j, 'sub': e[(j*8+1):(j*8+8)]} for j in range(0, 8)] AS xs
         |        FROM v),
         |cv AS (SELECT vec_id, unnest(xs, recursive := true) FROM cvl),
         |enc AS (SELECT vec_id, j, code FROM (
         |    SELECT cv.vec_id, cv.j, cb.code,
         |      ROW_NUMBER() OVER (PARTITION BY cv.vec_id, cv.j
         |        ORDER BY list_sum([(cv.sub[i]-cb.sub[i])*(cv.sub[i]-cb.sub[i])
         |                           for i in range(1, 9)]) ASC,
         |                 cb.code ASC) AS rn
         |    FROM cv JOIN cb ON cv.j = cb.j) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 5),
         |dt AS (SELECT q.query_id, cb.j, cb.code,
         |         list_sum([(q.e[cb.j*8+i]-cb.sub[i])*(q.e[cb.j*8+i]-cb.sub[i])
         |                   for i in range(1, 9)]) AS d
         |       FROM q CROSS JOIN cb),
         |sc AS (SELECT dt.query_id, enc.vec_id AS neighbor_id,
         |         SUM(CAST(dt.d AS DECIMAL(38,12))) AS adc_dec
         |       FROM enc JOIN dt ON enc.j = dt.j AND enc.code = dt.code
         |       WHERE enc.vec_id <> dt.query_id
         |       GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, CAST(adc_dec AS DOUBLE) AS adc,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY adc_dec ASC, neighbor_id ASC) AS rn FROM sc)
         |SELECT query_id, neighbor_id, ROUND(adc, 6) AS adc, CAST(rn AS INT) AS rank
         |FROM r WHERE rn <= 10""".stripMargin,
    "t_text_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS INT) AS token_count,
         |    CAST(list_sum(list_transform(toks,
         |         x -> CAST(CEIL(len(x) / 4.0) AS BIGINT))) AS BIGINT) AS subword_count,
         |    CASE WHEN len(toks) > 0
         |      THEN CAST(len(list_filter(toks, x -> x IN (${inList(TextFunctions.stopwordsEn)})))
         |                AS DOUBLE) / CAST(len(toks) AS DOUBLE)
         |      ELSE 0.0 END AS stopword_ratio,
         |    CAST(LENGTH(text) AS DOUBLE) AS tlen,
         |    CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
         |    CAST(LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct
         |  FROM t)
         |SELECT doc_id, token_count, subword_count, stopword_ratio,
         |  ROUND(GREATEST(LEAST(
         |    LEAST(tlen / 200.0, 1.0) * 0.3
         |    + (CASE WHEN tlen > 0 THEN alpha / tlen ELSE 0.0 END) * 0.4
         |    + stopword_ratio * 0.3
         |    - (CASE WHEN tlen > 0 THEN punct / tlen ELSE 0.0 END) * 0.5,
         |    1.0), 0.0), 6) AS quality
         |FROM m""".stripMargin,
    "d_incremental" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 3
        |      THEN 'boilerplate terms of service v' || CAST(doc_id % 3 AS VARCHAR)
        |      WHEN doc_id % 35 = 5
        |      THEN 'batch boilerplate v' || CAST(doc_id % 2 AS VARCHAR)
        |      ELSE text END AS text
        |  FROM documents),
        |c AS (SELECT DISTINCT md5(text) AS h FROM p WHERE doc_id % 5 <> 0),
        |b AS (SELECT doc_id, md5(text) AS h FROM p WHERE doc_id % 5 = 0),
        |f AS (SELECT h, MIN(doc_id) AS first_id FROM b GROUP BY 1)
        |SELECT b.doc_id,
        |  CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
        |       WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
        |       ELSE 'new' END AS status
        |FROM b JOIN f ON b.h = f.h LEFT JOIN c ON b.h = c.h""".stripMargin,
    "d_dedup_clusters" ->
      s"""${shingle3Sql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY 1""".stripMargin,
    "d_incr_neardup" ->
      s"""$shingle3Sql,
         |bt AS (SELECT doc_id, s FROM sh WHERE doc_id % 5 = 0),
         |ct AS (SELECT doc_id, s FROM sh WHERE doc_id % 5 <> 0)
         |SELECT b.doc_id AS batch_id, c.doc_id AS match_id,
         |  ROUND(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
         |        / len(list_distinct(list_concat(b.s, c.s))), 6) AS jaccard,
         |  'corpus' AS origin
         |FROM bt b JOIN ct c
         |  ON CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
         |     / len(list_distinct(list_concat(b.s, c.s))) >= 0.8
         |UNION ALL
         |SELECT b1.doc_id AS batch_id, b2.doc_id AS match_id,
         |  ROUND(CAST(len(list_intersect(b1.s, b2.s)) AS DOUBLE)
         |        / len(list_distinct(list_concat(b1.s, b2.s))), 6) AS jaccard,
         |  'batch' AS origin
         |FROM bt b1 JOIN bt b2
         |  ON b2.doc_id < b1.doc_id
         | AND CAST(len(list_intersect(b1.s, b2.s)) AS DOUBLE)
         |     / len(list_distinct(list_concat(b1.s, b2.s))) >= 0.8""".stripMargin,
    "d_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |ch0 AS (
         |  SELECT doc_id,
         |    [{'chunk_idx': i - 1,
         |       'chunk': array_to_string(toks[((i-1)*20+1):((i-1)*20+20)], ' ')}
         |     for i in range(1, CAST(ceil(len(toks)/20.0) AS BIGINT) + 1)] AS cs
         |  FROM t),
         |ch AS (SELECT doc_id, unnest(cs, recursive := true) FROM ch0),
         |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk)
         |        ORDER BY doc_id, chunk_idx) AS rn FROM ch),
         |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
         |              string_agg(chunk, ' ' ORDER BY chunk_idx) AS kept_text
         |       FROM k WHERE rn = 1 GROUP BY 1)
         |SELECT t.doc_id, CAST(ceil(len(t.toks)/20.0) AS BIGINT) AS n_chunks,
         |       COALESCE(ka.n_kept, 0) AS n_kept,
         |       COALESCE(ka.kept_text, '') AS kept_text
         |FROM t LEFT JOIN ka ON t.doc_id = ka.doc_id""".stripMargin,
    "d_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |h AS (SELECT doc_id, $hsSql AS hs FROM t),
         |s AS (SELECT doc_id, $simSql AS sim FROM h)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 5""".stripMargin,
    "t_normalize" -> {
      val normSql =
        "trim(regexp_replace(lower(nfc_normalize(t)), '[ \\t\\n\\r]+', ' ', 'g'))"
      s"""WITH p AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 2
         |      THEN 'Cafe' || chr(769) || '  NAI' || chr(776) || 'VE' || chr(9)
         |           || text || '  Stra' || chr(223) || 'e ' || chr(10)
         |      ELSE text END AS t
         |  FROM documents)
         |SELECT doc_id, $normSql AS norm_text, md5($normSql) AS norm_hash
         |FROM p""".stripMargin
    },
    "t_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id,
         |        [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS bg,
         |        [array_to_string(toks[((i-1)*10+1):((i-1)*10+10)], ' ')
         |         for i in range(1, CAST(ceil(len(toks)/10.0) AS BIGINT) + 1)] AS ch
         |      FROM t),
         |u AS (SELECT doc_id, unnest(bg) AS g FROM b),
         |top AS (SELECT doc_id, MAX(cnt) AS topn FROM (
         |          SELECT doc_id, g, COUNT(*) AS cnt FROM u GROUP BY 1, 2) GROUP BY 1)
         |SELECT b.doc_id,
         |  CAST(len(bg) AS BIGINT) AS n_bigrams,
         |  CASE WHEN len(bg) > 0
         |    THEN CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
         |    ELSE 0.0 END AS dup_bigram_frac,
         |  CASE WHEN len(bg) > 0
         |    THEN CAST(COALESCE(top.topn, 0) AS DOUBLE) / len(bg)
         |    ELSE 0.0 END AS top_bigram_ratio,
         |  CAST(len(ch) AS BIGINT) AS n_chunks10,
         |  CASE WHEN len(ch) > 0
         |    THEN CAST(len(ch) - len(list_distinct(ch)) AS DOUBLE) / len(ch)
         |    ELSE 0.0 END AS dup_chunk_frac
         |FROM b LEFT JOIN top ON b.doc_id = top.doc_id""".stripMargin,
    "t_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |h AS (SELECT doc_id, $hsSql AS hs, $fhSql AS fh FROM t)
         |SELECT doc_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), fh),
         |              (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint,
         |  $simSql AS simhash
         |FROM h""".stripMargin,
    "t_langid" -> {
      val scores = TextFunctions.langStopwords.map { case (lang, words) =>
        s"len(list_filter(toks, x -> x IN (${inList(words)}))) AS s_$lang"
      }.mkString(",\n    ")
      val langs = TextFunctions.langStopwords.map(_._1)
      val best = s"GREATEST(${langs.map(l => s"s_$l").mkString(", ")})"
      val voteCases = langs.map(l => s"WHEN s_$l = best THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents),
         |sc AS (
         |  SELECT doc_id, lang, text,
         |    $scores
         |  FROM t),
         |b AS (SELECT *, $best AS best FROM sc)
         |SELECT doc_id, lang,
         |  CASE WHEN regexp_matches(text, '[\\x{4E00}-\\x{9FFF}]') THEN 'zh'
         |       WHEN best = 0 THEN 'und'
         |       $voteCases
         |       ELSE 'und' END AS lang_detected
         |FROM b""".stripMargin
    }
  )
}
