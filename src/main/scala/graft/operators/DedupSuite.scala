package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.TextNative

/** Document-deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale posture (the point of each design):
  *  - Everything is shuffle-on-key: candidate generation buckets documents
  *    by (band, band-hash) so only same-bucket docs ever meet in a join —
  *    never an all-pairs cross join.
  *  - Signatures/hashes are pure Catalyst expressions (xxhash64 + higher-
  *    order array functions): computed in one codegen'd projection per doc,
  *    embarrassingly parallel over any number of partitions.
  *  - The exact-verify step joins candidate pairs back to shingle sets —
  *    proportional to candidates, not to n².
  */
object DedupSuite {

  /** Exact content dedup: one surviving (minimum) id per identical text.
    * The groupBy key is the md5 of the text, not the text itself, so the
    * shuffle moves 16-byte keys rather than full documents. */
  def exactDedupStats(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.groupBy(md5(text).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Shingle sets per doc (shared by the signature and verify stages).
    * Native single-pass tokenizer+shingler (graft_shingles) — the HOF
    * composition re-tokenizes interpreted, and this column is evaluated
    * once for signatures plus once per verify-join side. */
  private def shingleSets(docs: DataFrame, id: String, text: Column,
                          shingleSize: Int): DataFrame = {
    docs
      .filter(size(TextNative.tokens(text)) >= shingleSize)
      .select(col(id).as("_id"),
        TextNative.shingles(text, shingleSize).as("_sh"))
  }

  /** LSH band-membership rows: (_id, band, bh), `bands` rows per doc.
    *
    * Signatures come from the fused native [[graft.plans.MinHashSig]]
    * (k hash functions by double hashing: 2 engine hashes per shingle +
    * k rotate-xor mixes, minima kept in one pass per doc) — so candidate
    * generation never shuffles the exploded shingle rows, only these
    * small band rows. */
  private def lshBanded(base: DataFrame, numHashes: Int,
                        bands: Int): DataFrame =
    // band hashes come out of the expression as ONE array: feeding the
    // generator per-band expressions that each reference the signature
    // gets projection-collapsed into `bands` re-computations of the
    // whole signature per row (a silent 16x).
    base.select(col("_id"),
      TextNative.minhashBands(col("_sh"), numHashes, bands)
        .as("_bands"))
      .select(col("_id"), posexplode(col("_bands")).as(Seq("band", "bh")))

  /** Non-singleton LSH buckets with their sorted member-id sets. One
    * shuffle of the small band rows into a parallel collect_set — a
    * count-filtered variant was tried and loses: the bucket-count table
    * has ~one row PER DOC-BAND (almost all buckets are singletons), and
    * AQE coalesces that innocuous-looking aggregate into one partition. */
  private def lshBuckets(base: DataFrame, numHashes: Int,
                         bands: Int): DataFrame =
    lshBanded(base, numHashes, bands)
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_set(col("_id"))).as("ids"))
      .filter(size(col("ids")) > 1)

  /** Truncation audit for the [[minhashNearDupPairs]] skew guard: the
    * buckets whose membership exceeds `bucketCap` — the buckets where the
    * pair generator truncates (lost recall). A skewed/degenerate corpus
    * shows up here; production runs should alert on count > 0 (or
    * exact-dedup first, since an over-cap bucket usually means identical
    * docs). */
  def minhashBucketTruncation(docs: DataFrame, id: String, text: Column,
                              shingleSize: Int = 3, numHashes: Int = 64,
                              bands: Int = 16, bucketCap: Int = 1000): DataFrame = {
    val base = shingleSets(docs, id, text, shingleSize)
    lshBuckets(base, numHashes, bands)
      .select(col("band"), col("bh"), size(col("ids")).as("bucket_size"))
      .filter(col("bucket_size") > bucketCap)
  }

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    *
    * Plan shape (deliberately flat, fully codegen'd — no nested
    * higher-order lambdas, which Spark evaluates interpreted and
    * per-element):
    *
    *  1. explode shingle sets to (id, shingle) rows — the tokenizer runs
    *     once per document;
    *  2. the k hash functions are k plain `xxhash64(shingle, seed)`
    *     columns — one codegen'd projection;
    *  3. signatures = groupBy(id).agg(min(h_0)..min(h_k-1)) — partial
    *     (map-side) min aggregation, so the shuffle carries one k-long row
    *     per (partition, doc), not per shingle;
    *  4. band keys = xxhash64 over r consecutive signature columns —
    *     again one projection; explode → shuffle on (band, bandhash) →
    *     same-bucket self-join → distinct candidate pairs;
    *  5. join candidates back to shingle sets → exact Jaccard filter.
    *
    * Collision probability in some band is 1-(1-j^r)^b for Jaccard j:
    * with k=64, b=16, r=4 a j=0.8 pair is missed with p≈2e-4 and a
    * j=0.95 pair with p≈1e-18; the exact verify step removes all false
    * positives, so precision is 1 by construction.
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minhashNearDupPairs(docs: DataFrame, id: String, text: Column,
                          shingleSize: Int = 3, numHashes: Int = 64,
                          bands: Int = 16, threshold: Double = 0.8,
                          bucketCap: Int = 1000): DataFrame = {
    val base = shingleSets(docs, id, text, shingleSize)
    // candidate pairs in ONE pass: collect each bucket's ids and expand
    // in-bucket pairs (a self-join would recompute the signature pipeline
    // per side). Buckets are capped as a skew guard — a degenerate
    // all-identical corpus would otherwise make one bucket quadratic;
    // audit the loss with [[minhashBucketTruncation]].
    val buckets = lshBuckets(base, numHashes, bands)
      .withColumn("ids", slice(col("ids"), 1, bucketCap))
      .filter(size(col("ids")) > 1)
    val candidates = buckets
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          b => struct(a.as("id_a"), b.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()

    // Exact-verify only the docs that appear in some candidate bucket.
    // Joining candidates straight to the full shingle-set table would
    // shuffle+sort every document's array column twice (AQE materializes
    // those exchanges eagerly even when candidates turn out tiny); the
    // broadcast semi-filter keeps verify-side shuffles proportional to
    // the candidate docs, not the corpus. Ids are 8 bytes and bounded by
    // the corpus id count, so the broadcast is safe wherever LSH itself
    // is the right tool (candidate docs << corpus).
    val candIds = buckets.select(explode(col("ids")).as("_id")).distinct()
    val needed = base.join(broadcast(candIds), Seq("_id"))
      .select(col("_id"), col("_sh"))
    candidates
      .join(needed.toDF("id_a", "sh_a"), "id_a")
      .join(needed.toDF("id_b", "sh_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Band-membership rows for a PERSISTENT MinHash-LSH dedup index —
    * `(id, band, bh)`, `bands` rows per document. Maintained as a
    * manifest table via [[graft.sources.ManifestTable.consumeChanges]]
    * (corpus table → index table), the index costs O(new docs) per hop,
    * and [[minhashProbeIndex]] then finds a batch's near-dup candidates
    * against the WHOLE corpus without ever re-scanning it — the
    * at-scale posture for continuous ingest dedup (the batch-local
    * variant, [[incrementalNearDups]], recomputes the corpus side each
    * run). */
  def minhashIndexRows(docs: DataFrame, id: String, text: Column,
                       shingleSize: Int = 3, numHashes: Int = 64,
                       bands: Int = 16): DataFrame =
    lshBanded(shingleSets(docs, id, text, shingleSize), numHashes, bands)
      .select(col("_id").as(id), col("band"), col("bh"))

  /** Near-dup CANDIDATES of `batch` against a prebuilt
    * [[minhashIndexRows]] index: the batch's band rows equi-join the
    * index's on (band, bh) — shuffles scale with the batch and its
    * collisions, never the corpus. Pairs are unverified LSH candidates
    * (exact-verify against stored text where the workflow needs it);
    * self-matches are dropped, so probing a batch whose rows are already
    * indexed reports only genuine partners. */
  def minhashProbeIndex(batch: DataFrame, index: DataFrame, id: String,
                        text: Column, shingleSize: Int = 3,
                        numHashes: Int = 64, bands: Int = 16): DataFrame =
    minhashIndexRows(batch, id, text, shingleSize, numHashes, bands)
      .join(index.select(col(id).as("corpus_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col(id) =!= col("corpus_id"))
      .select(col(id), col("corpus_id")).distinct()

  /** Incremental NEAR-dup detection: match a new batch against an indexed
    * corpus by MinHash+LSH, plus within the batch itself. Returns one row
    * per discovered match: (batch_id, match_id, jaccard, origin) with
    * origin 'corpus' (matched an existing doc) or 'batch' (matched a
    * smaller-id doc in the same batch). The apply step is a left_anti of
    * the batch against `select(batch_id)`.
    *
    * This is the steady-state fuzzy-dedup shape: the corpus side
    * contributes only its BAND table ((id, band, bandhash) — 24 bytes a
    * row, `bands` rows per doc; persist it bucketed on (band, bh) so
    * each increment's candidate join probes co-located buckets with no
    * corpus-side shuffle), and full corpus documents are touched only
    * behind the broadcast candidate-id semi-filter for exact verify —
    * work scales with the batch and its matches, never the corpus. */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame, id: String,
                         text: Column, shingleSize: Int = 3,
                         numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.8,
                         bucketCap: Int = 1000): DataFrame = {
    val cBase = shingleSets(corpus, id, text, shingleSize)
    val bBase = shingleSets(batch, id, text, shingleSize)
    // Corpus bands are grouped into capped per-(band, bh) id lists BEFORE
    // the candidate join — a raw band×band equi-join would go quadratic on
    // one hot band hash (boilerplate-heavy corpora, the norm), the exact
    // skew minhashNearDupPairs guards against in-batch. The cap is a
    // sort-based window rank applied BEFORE any collect (a
    // slice(collect_set(...)) would materialize the full hot bucket on
    // one reducer before trimming — the failure the cap guards against;
    // the rank window spills). Audit the loss with
    // [[incrementalBucketTruncation]]. No >1 filter here: a singleton
    // corpus bucket is still a valid batch match target.
    val byId = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bh")).orderBy(col("_id").asc)
    val corpusBuckets = lshBanded(cBase, numHashes, bands)
      .withColumn("_rn", row_number().over(byId))
      .filter(col("_rn") <= bucketCap)
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_set(col("_id"))).as("cids"))
    val crossCand = lshBanded(bBase, numHashes, bands)
      .toDF("batch_id", "band", "bh")
      .join(corpusBuckets, Seq("band", "bh"))
      .select(col("batch_id"), explode(col("cids")).as("match_id"))
      .distinct()
    val candC = crossCand.select(col("match_id").as("_id")).distinct()
    val needC = cBase.join(broadcast(candC), Seq("_id"))
    val cross = crossCand
      .join(bBase.toDF("batch_id", "sh_b"), "batch_id")
      .join(needC.toDF("match_id", "sh_c"), "match_id")
      .withColumn("jaccard", jaccard(col("sh_b"), col("sh_c")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("match_id"),
        round(col("jaccard"), 6).as("jaccard"), lit("corpus").as("origin"))
    val internal = minhashNearDupPairs(batch, id, text, shingleSize,
      numHashes, bands, threshold, bucketCap)
      .select(col("id_b").as("batch_id"), col("id_a").as("match_id"),
        col("jaccard"), lit("batch").as("origin"))
    cross.unionByName(internal)
  }

  /** Truncation audit for the [[incrementalNearDup]] corpus-side skew
    * guard: corpus LSH buckets whose membership exceeds `bucketCap` — the
    * buckets where batch candidates are truncated (lost recall against
    * the corpus). Same contract as [[minhashBucketTruncation]]: alert on
    * count > 0, or exact-dedup the corpus first. */
  def incrementalBucketTruncation(corpus: DataFrame, id: String, text: Column,
                                  shingleSize: Int = 3, numHashes: Int = 64,
                                  bands: Int = 16,
                                  bucketCap: Int = 1000): DataFrame =
    // same audit as the in-batch guard: over-cap (band, bh) buckets (the
    // >1-member prefilter there is subsumed by bucket_size > bucketCap)
    minhashBucketTruncation(corpus, id, text, shingleSize, numHashes,
      bands, bucketCap)

  /** Chunk-level (line/paragraph-analog) corpus dedup: split each doc
    * into non-overlapping `chunkTokens`-token chunks (partial tail kept),
    * keep only the globally FIRST occurrence of every distinct chunk
    * (order: doc id, then position), and reconstruct the surviving text.
    * This is the corpus-wide duplicate-line removal step of web-scale
    * curation pipelines, adapted to token-stream documents.
    *
    * Scale shape: the winner per chunk hash is `min(struct(id, idx,
    * chunk))` under a groupBy on the 16-byte md5 — partial (map-side)
    * aggregation absorbs hot chunks ("boilerplate lines" repeated
    * millions of times) before the shuffle, so no reducer ever sees a
    * hot hash's full row set; there is no join back (the winner row IS
    * the kept row, text rides in the struct payload). Per-doc totals are
    * a plain projection (`size(chunks)`), no explode.
    *
    * Output: (doc_id, n_chunks, n_kept, kept_text).
    */
  def chunkDedup(docs: DataFrame, id: String, text: Column,
                 chunkTokens: Int = 20): DataFrame = {
    val chunkArr = TextNative.chunks(text, chunkTokens, chunkTokens)
    val chunked = docs
      .select(col(id).as("_id"), posexplode(chunkArr).as(Seq("chunk_idx", "chunk")))
    val winners = chunked
      .groupBy(md5(col("chunk")).as("_h"))
      .agg(min(struct(col("_id"), col("chunk_idx"), col("chunk"))).as("w"))
      .select(col("w._id").as("_id"), col("w.chunk_idx").as("chunk_idx"),
        col("w.chunk").as("chunk"))
    val keptAgg = winners.groupBy(col("_id")).agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
        x => x.getField("chunk")), " ").as("kept_text"))
    // Totals are a SECOND tokenize pass over the source. Deliberate:
    // deriving them from `chunked` would re-run the same scan+tokenize
    // anyway (separate DAG branches recompute; no cross-branch subexpr
    // elimination) PLUS shuffle one row per chunk — a scalar projection
    // per doc is strictly cheaper. A pipeline running several chunk-grain
    // operators should persist the exploded chunk table once and feed
    // them all from it.
    docs.select(col(id).as("_id"), size(chunkArr).cast("long").as("n_chunks"))
      .join(keptAgg, Seq("_id"), "left")
      .select(col("_id").as("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Incremental exact dedup: classify a NEW batch of documents against
    * an already-indexed corpus by content hash. Statuses:
    * `dup_of_corpus` (hash already in the corpus — takes precedence),
    * `dup_in_batch` (first seen in this batch under a smaller id),
    * `new` (the batch's first copy of an unseen text).
    *
    * This is the steady-state shape of corpus ingestion at scale: the
    * corpus side collapses to its DISTINCT 16-byte hash index before the
    * join (in production, land that index with
    * [[graft.sources.Writers]].bucketedTable on the hash so each
    * increment joins with zero corpus-side shuffle), and the batch —
    * typically orders of magnitude smaller than the corpus — is the only
    * freshly-scanned data. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, id: String,
                       text: Column): DataFrame = {
    // null text has no content to match on: those rows classify as `new`
    // (joining on a null hash would silently DROP them — the contract is
    // one status row per batch doc).
    val b = batch.select(col(id).as("doc_id"), md5(text).as("_h"))
    val nullText = b.filter(col("_h").isNull)
      .select(col("doc_id"), lit("new").as("status"))
    val corpusIdx = corpus.select(md5(text).as("_h")).distinct()
      .filter(col("_h").isNotNull)
      .withColumn("_in_corpus", lit(1))
    val hashed = b.filter(col("_h").isNotNull)
    val firstInBatch = hashed.groupBy(col("_h")).agg(min(col("doc_id")).as("_first"))
    hashed.join(firstInBatch, "_h")
      .join(corpusIdx, Seq("_h"), "left")
      .select(col("doc_id"),
        when(col("_in_corpus").isNotNull, lit("dup_of_corpus"))
          .when(col("doc_id") =!= col("_first"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"))
      .unionByName(nullText)
  }

  /** Docs to drop after pair detection: any doc that matched a smaller id
    * (keep-first policy; a cheap, deterministic stand-in for full
    * connected-components). */
  def dropListFromPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("id_b").as("drop_id")).distinct()

  /** Resolve near-dup PAIRS into duplicate CLUSTERS: connected components
    * of the pair graph by iterative min-label propagation. The keep-first
    * pair policy ([[dropListFromPairs]]) over-keeps on transitive chains
    * (a~b, b~c but a!~c keeps a AND c); components give the
    * one-survivor-per-cluster answer. Output: (doc_id, cluster_id) for
    * every doc that appears in some pair, cluster_id = min doc id in its
    * component.
    *
    * Each iteration is one distributed join+agg over the edge list
    * (undirected, both directions); the driver only checks a convergence
    * COUNT per round. Label propagation converges in O(component
    * diameter) rounds — near-dup clusters are shallow (stars/short
    * chains), so `maxIter` is a backstop, with a hard error rather than a
    * silently-wrong result if it is ever hit. */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 20,
                    reliable: Boolean = false): DataFrame = {
    // Each round materializes against a table, not i nested joins.
    // reliable=true uses HDFS-backed checkpoints (survives executor loss
    // — localCheckpoint blocks are non-recoverable, so a lost executor
    // mid-propagation fails the whole job; long production runs should
    // set a checkpoint dir and pass reliable=true).
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // materialize the edge list ONCE: every propagation round joins it,
    // and `pairs` is usually an expensive detection pipeline (LSH +
    // verify) that would otherwise re-execute per round per branch
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
    val edgesMat = materialize(edges)
    var labels = edgesMat.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    // superseded rounds are unpersisted as soon as the next round is
    // materialized AND compared — otherwise up to maxIter copies of the
    // labels table pile up on the executors
    var prevMat: DataFrame = null
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbors = edgesMat
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("_nl"))
      // the convergence signal rides along as a flag computed in the SAME
      // propagation join — the fixed-point probe is then a scan of the
      // just-materialized blocks, not a second join against the old labels
      val next = materialize(
        labels.join(viaNeighbors, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("_nl"), col("label"))).as("label"),
            (coalesce(col("_nl"), col("label")) < col("label")).as("_changed")))
      converged = next.filter(col("_changed")).isEmpty
      if (prevMat != null) freeMaterialized(prevMat)
      prevMat = next
      labels = next.drop("_changed")
      i += 1
    }
    require(converged, s"dedupClusters did not converge in $maxIter rounds")
    // the result plan reads only the final labels table — the edge list's
    // blocks are dead weight from here on
    freeMaterialized(edgesMat)
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Release the storage behind a checkpointed frame. `Dataset.unpersist`
    * only covers `cache()`/`persist()` entries in the CacheManager, so:
    * a LOCAL checkpoint's cached RDD blocks are unpersisted through the
    * plan's `LogicalRDD` leaf; a RELIABLE checkpoint's files are deleted
    * from the checkpoint dir (Spark only auto-cleans those when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set, which
    * defaults to false — without this, one full copy of the labels table
    * per propagation round accumulates until JVM exit). Only call on
    * frames nothing will read again — a freed checkpoint cannot be
    * recomputed. */
  private def freeMaterialized(df: DataFrame): Unit = {
    val sc = df.sparkSession.sparkContext
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.getCheckpointFile.foreach { dir =>
            val p = new org.apache.hadoop.fs.Path(dir)
            p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
          }
          l.rdd.unpersist(true)
        case _ => ()
      }
  }

  /** Character n-gram Jaccard similarity between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact all-pairs character-n-gram Jaccard over a (small) candidate
    * universe — the brute-force baseline the LSH path approximates.
    *
    * Exact but SPARSE: rather than a triangular array join evaluating
    * array_intersect/array_union per pair (25 s for 500 docs — each pair
    * materializes a fresh union array over ~2k grams), the gram sets
    * explode to posting rows, an equi-join ON THE GRAM counts
    * |a∩b| only for pairs that share at least one gram, and
    * |a∪b| = |a|+|b|−|a∩b| comes from two broadcast size lookups — no
    * union array ever exists. Same exact result for any threshold > 0
    * (gram-disjoint pairs have J = 0 and can never pass); measured 6.5x
    * faster cold at the 500-doc sf0.01 universe (25.3 s → 3.9 s) and the
    * shape that scales: cost is Σ df(gram)², not |docs|² array scans.
    *
    * PRECONDITION (suite-wide convention): `id` is unique per document.
    * A duplicated id would sum its intersections across the duplicates
    * (the old dense join instead emitted one duplicated row per copy).
    *
    * The small-universe precondition is ENFORCED, not just documented
    * (`maxDocs`, one cheap count action): the posting-list join's cost
    * is Σ df(gram)² — one corpus-frequent gram (" the ") makes a single
    * join key quadratic — and the per-doc size table rides the
    * broadcast/driver path, so a corpus-scale call would hit broadcast
    * limits rather than mere slowness. Pointing this at a corpus is a
    * misuse: the corpus-scale near-dup path is [[minhashNearDupPairs]]. */
  def charNgramPairs(docs: DataFrame, id: String, text: Column,
                     n: Int = 5, threshold: Double = 0.8,
                     maxDocs: Int = 10000): DataFrame = {
    require(threshold > 0,
      s"charNgramPairs: threshold must be > 0 (gram-disjoint pairs are not emitted), got $threshold")
    // bounded guard: scan stops after maxDocs+1 rows, so the check costs
    // O(maxDocs) even when someone points this at a 100 TB corpus
    val universe = docs.limit(maxDocs + 1).count()
    require(universe <= maxDocs,
      s"charNgramPairs: candidate universe has >$maxDocs docs (maxDocs=$maxDocs) — " +
        "this exact all-pairs baseline is quadratic in gram document-frequency; " +
        "use minhashNearDupPairs for corpus-scale near-dup detection " +
        "(or raise maxDocs deliberately for a bounded experiment)")
    val grams = docs
      .filter(length(text) >= n)
      .select(col(id).as("_id"), array_distinct(TextFunctions.charNgrams(text, n)).as("_g"))
    val posts = grams.select(col("_id"), explode(col("_g")).as("_gram"))
    val inter = posts.toDF("id_a", "_ga")
      .join(posts.toDF("id_b", "_gb"),
        col("_ga") === col("_gb") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("_i"))
    val sizes = grams.select(col("_id"), size(col("_g")).as("_sz"))
    inter
      .join(broadcast(sizes.toDF("id_a", "_sza")), "id_a")
      .join(broadcast(sizes.toDF("id_b", "_szb")), "id_b")
      .withColumn("jaccard",
        col("_i").cast("double") / (col("_sza") + col("_szb") - col("_i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 64-bit SimHash over word tokens. Per bit b: majority vote of token
    * hash bit b (+1/-1); assembled into one long. The token hashes are
    * computed once into an array column, then 64 codegen'd bit filters
    * scan it — no UDF, no shuffle. */
  def simhash64(text: Column): Column = {
    val hs = transform(TextFunctions.tokens(text), t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      (size(filter(hs, h => shiftright(h, b).bitwiseAND(lit(1L)) === lit(1L))) * 2 > size(hs))
        .cast("long")
    }
    bits.zipWithIndex.map { case (bit, b) => shiftleft(bit, b) }.reduce(_ bitwiseOR _)
  }

  /** SimHash of every document as a table, in the scalable shape: explode
    * tokens → one codegen'd hash column → groupBy(id) with per-bit ±1
    * bit-sum aggregates (map-side partial agg) → assemble the long in one
    * projection. Unlike the [[simhash64]] column (64 interpreted
    * higher-order filters, each re-evaluating the tokenizer), this runs
    * the tokenizer once per document. Zero-token docs get simhash 0.
    *
    * `portable = true` switches the token hash from engine-native
    * xxhash64 to the 60-bit md5-prefix hash, making the whole table
    * reproducible in DuckDB for oracle verification (60 bits instead of
    * 64 so the signed hex→BIGINT cast is safe in both engines). */
  def simhashTable(docs: DataFrame, id: String, text: Column,
                   portable: Boolean = false): DataFrame = {
    if (portable) {
      // fused scalar expression: one pass per doc, no explode, NO shuffle —
      // bit-identical to the explode/agg shape below (NativeExprSpec).
      return docs.select(col(id).as("_id"),
        TextNative.simhash60(text).as("_sim"))
    }
    val numBits = 64
    val tok = docs
      .select(col(id).as("_id"),
        explode(TextNative.tokens(text)).as("_t"))
      .select(col("_id"), xxhash64(col("_t")).as("_h"))
    val bitSums = (0 until numBits).map { b =>
      sum(when(shiftright(col("_h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"_b$b")
    }
    val agg = tok.groupBy(col("_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until numBits)
      .map(b => shiftleft((col(s"_b$b") > 0).cast("long"), b))
      .reduce(_ bitwiseOR _)
    docs.select(col(id).as("_id"))
      .join(agg.select(col("_id"), sim.as("_sim")), Seq("_id"), "left")
      .na.fill(0L, Seq("_sim"))
  }

  /** SimHash near-duplicate pairs: bucket by bit-bands (pigeonhole: with
    * b bands, any two hashes within Hamming distance b-1 share at least
    * one band — so recall is exact, and precision is exact after the
    * bit_count(xor) verify). Default: 64-bit hashes, 8 bands of 8 bits,
    * maxHamming 7. `portable = true`: 60-bit md5-based hashes, 6 bands of
    * 10 bits, so maxHamming must be <= 5 for guaranteed recall — this is
    * the oracle-verifiable configuration (DuckDB recomputes the same
    * hashes brute-force). */
  def simhashNearDupPairs(docs: DataFrame, id: String, text: Column,
                          maxHamming: Int = 7,
                          portable: Boolean = false): DataFrame = {
    val bands = if (portable) 6 else 8
    val bandBits = if (portable) 10 else 8
    require(maxHamming < bands,
      s"maxHamming=$maxHamming needs more than $bands bands for exact recall")
    val mask = (1L << bandBits) - 1
    val sigs = simhashTable(docs, id, text, portable)
    val banded = sigs.select(col("_id"), col("_sim"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          shiftright(col("_sim"), j * bandBits).bitwiseAND(lit(mask)).as("bh"))): _*)).as("b"))
      .select(col("_id"), col("_sim"), col("b.band").as("band"), col("b.bh").as("bh"))
    banded.toDF("id_a", "sim_a", "band", "bh")
      .join(banded.toDF("id_b", "sim_b", "band", "bh"), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming) // before distinct: shrink the dedup set
      .distinct()
  }
}
