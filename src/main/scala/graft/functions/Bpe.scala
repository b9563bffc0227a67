package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.TextNative

/** Deterministic byte-pair encoding (Sennrich et al. 2016, the public
  * algorithm): learn a merge table from a corpus, encode documents with
  * it as a native expression — the token-EXACT counting mode for the
  * training-data packing/budget operators, replacing the
  * tokenizer-agnostic `graft_chunks` window counts.
  *
  * Scale posture (the CCNet/sentencepiece one): TRAINING is bounded —
  * the corpus folds to a word histogram in one map-side-combined
  * groupBy, the top `maxWords` most frequent words (deterministic order:
  * count desc, word asc) come to the driver, and the merge loop runs
  * there in milliseconds; a tokenizer is trained on a bounded reference,
  * never on the unbounded crawl. APPLICATION is unbounded — the merge
  * table broadcasts as a plan literal inside [[TextNative.bpeEncode]]
  * (one codegen'd pass per document, no shuffle, no state).
  *
  * Determinism contract: the same corpus always yields the same merges
  * (exact integer counts, total tie order), and the same merges always
  * yield the same token stream on every engine — the paren-wrap
  * replace representation is replayed verbatim by the DuckDB oracle
  * (see [[graft.plans.BpeEncode]]). */
object Bpe {

  /** Word histogram of the corpus, bounded and deterministic: the top
    * `maxWords` words by (count desc, word asc) — exact counts from one
    * combine-friendly groupBy, a driver list bounded by the cap. */
  def wordHistogram(docs: DataFrame, text: Column,
                    maxWords: Int = 100000): Seq[(String, Long)] = {
    require(maxWords > 0, s"wordHistogram: maxWords must be > 0, got $maxWords")
    docs.select(explode(TextNative.tokens(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** Learn `numMerges` merges from the corpus (bounded-reference
    * training; see the object note for the 100 TB posture). */
  def train(docs: DataFrame, text: Column, numMerges: Int,
            maxWords: Int = 100000): Seq[(String, String)] =
    trainOnHistogram(wordHistogram(docs, text, maxWords), numMerges)

  /** The merge loop on a word histogram: repeatedly merge the most
    * frequent adjacent symbol pair; ties break lexicographically, so
    * the table is a pure function of the histogram. Stops early when no
    * pair remains (every word fused to one symbol). */
  def trainOnHistogram(hist: Seq[(String, Long)],
                       numMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] =
      hist.map { case (w, c) => (w.map(_.toString).toArray, c) }.toArray
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    while (!exhausted && merges.size < numMerges) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((syms, c) <- words; j <- 0 until syms.length - 1)
        counts.updateWith((syms(j), syms(j + 1)))(v => Some(v.getOrElse(0L) + c))
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.map { case (syms, c) => (mergePair(syms, best), c) }
      }
    }
    merges.toSeq
  }

  /** One left-to-right greedy pass merging adjacent (a, b) — the same
    * semantics the wrapped-replace representation applies at encode
    * time. */
  private def mergePair(syms: Array[String],
                        p: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += p._1 + p._2; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** BPE token array for `text` under `merges` — native expression,
    * codegen'd, merge table rides the plan as a literal. */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    TextNative.bpeEncode(text, merges)

  /** A small fixed reference corpus and its trained merge table — the
    * PINNED tokenizer the oracle-gated queries use, so the DuckDB
    * replay (generated from the same Seq at oracle-construction time)
    * can never drift from the Spark encoder. Training on a REAL corpus
    * is the `train` path above, spec-gated for determinism and
    * fixture parity. */
  val SeedCorpus: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the spark engine joins the fast tables in the cluster",
    "training data pipelines filter and join the document corpus",
    "the tokenizer learns the most frequent pairs in the corpus",
    "fast joins and fast filters keep the cluster busy",
    "the documents in the corpus are filtered joined and packed")

  lazy val PinnedMerges: Seq[(String, String)] = {
    val words = SeedCorpus.flatMap(_.toLowerCase
      .split("[^a-z0-9]+").toSeq.filter(_.nonEmpty))
    val hist = words.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, c) => (-c, w) }
    trainOnHistogram(hist, numMerges = 24)
  }

  /** The DuckDB replay of [[encode]] for SQL-oracle construction: wraps
    * a word expression's characters in parens and folds `merges` as
    * nested `replace` calls — the exact cross-engine contract of
    * [[graft.plans.BpeEncode]]. `wordExpr` must be a SQL expression
    * yielding one lowercase [a-z0-9]+ word. */
  /** Oracle-replay-only bound: each merge nests one `replace(...)`, and
    * DuckDB's parser caps expression depth at max_expression_depth
    * (default 1000). The ENGINE has no such bound — [[encode]] carries
    * any table size as one spec string — so a production-vocab table
    * (10k–50k merges) simply cannot be replayed as a single SQL
    * expression; refuse loudly instead of emitting SQL that fails
    * downstream with a parser error pointing nowhere. */
  val MaxReplayMerges = 500

  def replaySql(wordExpr: String, merges: Seq[(String, String)]): String = {
    require(merges.size <= MaxReplayMerges,
      s"Bpe.replaySql: ${merges.size} merges exceed the $MaxReplayMerges " +
        "nested-replace bound (DuckDB max_expression_depth is 1000 by " +
        "default) — the SQL replay is an oracle-construction device for " +
        "small pinned tables; the engine itself (Bpe.encode / " +
        "graft_bpe_encode) carries production vocab sizes natively")
    val wrapped =
      s"'(' || array_to_string([$wordExpr[i] for i in range(1, len($wordExpr)+1)], ')(') || ')'"
    merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      s"replace($acc, '($a)($b)', '($a$b)')"
    }
  }
}
