package graft

import org.apache.spark.sql.functions._

import graft.functions.Bpe
import graft.plans.TextNative

/** Deterministic BPE: hand-computed training fixture, encode parity
  * with a sequential reference implementation, corpus-training
  * determinism, lossless round-trip, and the token-exact packing mode. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("trainOnHistogram: hand-computed merges and tie-breaks") {
    // corpus: "low" x5, "lower" x2, "newest" x6, "widest" x3
    // (the Sennrich paper's classic fixture shape)
    val hist = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = Bpe.trainOnHistogram(hist, 4)
    // pair counts round 1: (e,s)=9, (s,t)=9, (l,o)=7, (o,w)=7, ...
    // ties break lexicographically: (e,s) before (s,t)
    assert(merges.head == ("e", "s"))
    // round 2: (es,t)=9 wins
    assert(merges(1) == ("es", "t"))
    // round 3: (l,o)=7 vs (o,w)=7 — (l,o) first lexicographically
    assert(merges(2) == ("l", "o"))
    assert(merges(3) == ("lo", "w"))
  }

  test("encode: greedy rank-order application, chains, round-trip") {
    val merges = Seq(("l", "l"), ("a", "b"), ("ab", "ll"))
    val got = Seq((1L, "a b l l l a b a b"), (2L, ""), (3L, "ab lll"))
      .toDF("id", "t")
      .select(col("id"), TextNative.bpeEncode(col("t"), merges).as("e"))
      .as[(Long, Seq[String])].collect().toMap
    // words: [a],[b],[l],[l],[l],[a],[b],[a],[b] — single-char words
    // never merge across word boundaries
    assert(got(1L) == Seq("a", "b", "l", "l", "l", "a", "b", "a", "b"))
    assert(got(2L) == Seq.empty)
    // "ab" merges via rank 2; "lll" chains greedily: (l,l) left-to-right
    // gives [ll, l]; then no (ab,ll) pair inside a word
    assert(got(3L) == Seq("ab", "ll", "l"))
    // round-trip: concatenating a word's tokens reproduces the word
    val docs = graft.core.Tables.documents(spark, sf()).limit(50)
    val bad = docs.select(
        TextNative.tokens(col("text")).as("w"),
        TextNative.bpeEncode(col("text"), Bpe.PinnedMerges).as("e"))
      .filter(concat_ws("", col("w")) =!= concat_ws("", col("e")))
      .count()
    assert(bad == 0L, "BPE must be lossless: tokens concatenate back to words")
  }

  test("corpus training is deterministic and matches a sequential reference") {
    val docs = graft.core.Tables.documents(spark, sf()).limit(200)
    val m1 = Bpe.train(docs, col("text"), numMerges = 16)
    val m2 = Bpe.train(docs, col("text"), numMerges = 16)
    assert(m1 == m2, "same corpus, same merges — run to run")
    assert(m1.size == 16)
    // sequential reference: whole-corpus histogram computed locally
    val words = docs.select(col("text")).as[String].collect()
      .flatMap(_.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
    val hist = words.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, c) => (-c, w) }
    assert(Bpe.trainOnHistogram(hist, 16) == m1,
      "distributed histogram training must equal the sequential reference")
    // the pinned table IS the seed corpus's training output
    assert(Bpe.PinnedMerges.size == 24)
    assert(Bpe.PinnedMerges.head._1.nonEmpty)
  }

  test("bpeCount is the fused twin of size(bpeEncode) on real documents") {
    val docs = graft.core.Tables.documents(spark, sf()).limit(300)
    val bad = docs.select(
        size(TextNative.bpeEncode(col("text"), Bpe.PinnedMerges))
          .cast("long").as("a"),
        TextNative.bpeCount(col("text"), Bpe.PinnedMerges).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(bad == 0L, "graft_bpe_count must equal size(graft_bpe_encode)")
  }

  test("packSequences token-exact mode counts BPE tokens") {
    val d = Seq((0L, "the the the"), (8L, "corpus corpus")).toDF("doc_id", "text")
    val counts = graft.operators.Curation
      .packSequences(d, "doc_id", col("text"), seqLen = 512, shards = 8,
        bpeMerges = Bpe.PinnedMerges)
      .select(col("doc_id"), col("n_tokens")).as[(Long, Long)].collect().toMap
    val direct = d.select(col("doc_id"),
        size(TextNative.bpeEncode(col("text"), Bpe.PinnedMerges))
          .cast("long")).as[(Long, Long)].collect().toMap
    assert(counts == direct)
    // "the" is a single token under the pinned merges (seed corpus is
    // 'the'-heavy), so BPE counts differ from char counts and the mode
    // is observably token-exact
    assert(direct(0L) == 3L, s"'the' must fuse to one token, got $direct")
  }

  test("production vocab size: 10k merges apply through codegen, same tokens") {
    // the pinned live merges up front, then inert filler to production
    // scale — symbols drawn outside the corpus alphabet frequency so
    // they never match, which makes the 10k-table output provably equal
    // to the live-subset output (and exercises the char-mask prefilter
    // + the 10k-rule spec literal through whole-stage codegen)
    val filler = (0 until 10000 - Bpe.PinnedMerges.size).map(i =>
      (s"zq${i % 97}", s"xj${i / 97}"))
    val big = Bpe.PinnedMerges ++ filler
    assert(big.size == 10000)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "training data pipelines filter and join the document corpus"),
      (3L, "fast joins and fast filters keep the cluster busy"))
      .toDF("doc_id", "text")
    val both = docs.select(
      TextNative.bpeEncode(col("text"), big).as("big"),
      TextNative.bpeEncode(col("text"), Bpe.PinnedMerges).as("small"),
      TextNative.bpeCount(col("text"), big).as("nbig"),
      size(col("big")).cast("long").as("sbig"))
    // no codegen fallback blow-up: the merge table rides ONE referenced
    // spec string, not a nested expression chain — the plan compiles
    // and runs at 10k rules
    val rows = both.collect()
    assert(rows.forall(r => r.getSeq[String](0) == r.getSeq[String](1)),
      "inert filler rules must not change the token stream")
    assert(rows.forall(r => r.getLong(2) == r.getLong(3)),
      "fused count must match size(encode) at 10k rules")
    // the SQL replay is an oracle device with a DOCUMENTED bound —
    // production tables refuse loudly instead of emitting SQL DuckDB's
    // max_expression_depth (1000) would reject with a parser error
    val e = intercept[IllegalArgumentException] {
      Bpe.replaySql("word", big)
    }
    assert(e.getMessage.contains("nested-replace bound"))
    assert(Bpe.replaySql("word", Bpe.PinnedMerges).nonEmpty)
  }
}
