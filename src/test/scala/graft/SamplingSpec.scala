package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Sampling

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf("sf0.001"))

  test("stratified sample: rate 0 drops a stratum, rate 1 keeps it whole") {
    val got = Sampling.stratifiedSample(docs, $"doc_id", $"lang",
      Map("en" -> 0.0), defaultRate = 1.0)
    assert(got.filter($"lang" === "en").count() == 0)
    assert(got.count() == docs.filter($"lang" =!= "en").count())
  }

  test("stratified sample is deterministic and roughly proportional") {
    val pick = Sampling.stratifiedSample(docs, $"doc_id", $"lang",
      Map("en" -> 0.25), defaultRate = 1.0)
    val a = pick.select("doc_id").as[Long].collect().toSet
    val b = pick.select("doc_id").as[Long].collect().toSet
    assert(a == b)
    val total = docs.filter($"lang" === "en").count().toDouble
    val kept = docs.filter($"lang" === "en")
      .filter($"doc_id".isin(a.toSeq: _*)).count().toDouble
    // 500-doc corpus: 25% +/- generous binomial slack
    assert(kept / total > 0.10 && kept / total < 0.40)
  }

  test("sample membership is content-addressed: a sampled subset of a " +
    "superset sample, and stable under re-partitioning") {
    val half = Sampling.stratifiedSample(docs, $"doc_id", $"lang",
      Map(), defaultRate = 0.5).select("doc_id").as[Long].collect().toSet
    val fifth = Sampling.stratifiedSample(docs.repartition(7), $"doc_id", $"lang",
      Map(), defaultRate = 0.2).select("doc_id").as[Long].collect().toSet
    assert(fifth.subsetOf(half)) // nested thresholds nest the row sets
  }

  test("token budget sample: within budget per stratum, raised budget extends") {
    val toks = size(graft.plans.TextNative.tokens($"text")).cast("long")
    val base = docs.select($"doc_id", $"lang", toks.as("n_tokens"))
    def pick(b: Long) = Sampling.tokenBudgetSample(
      base, $"doc_id", $"lang", $"n_tokens", b)
    val small = pick(2000L)
    // per-stratum totals respect the budget
    val overs = small.groupBy("lang").agg(sum($"n_tokens").as("t"))
      .filter($"t" > 2000L).count()
    assert(overs == 0)
    // a bigger budget strictly extends the same selection
    val smallIds = small.select("doc_id").as[Long].collect().toSet
    val bigIds = pick(6000L).select("doc_id").as[Long].collect().toSet
    assert(smallIds.subsetOf(bigIds) && bigIds.size > smallIds.size)
  }

  test("source mix: integer weight = exact replica count, zero weight drops") {
    val got = Sampling.sourceMix(docs, $"doc_id", $"source",
      Map("src0" -> 2.0, "src1" -> 0.0), defaultWeight = 1.0)
    val perDoc = got.filter($"source" === "src0")
      .groupBy("doc_id").count().select("count").distinct().as[Long].collect().toSeq
    assert(perDoc == Seq(2L))
    assert(got.filter($"source" === "src1").count() == 0)
    assert(got.filter($"source" === "src2").count() ==
      docs.filter($"source" === "src2").count())
    assert(got.filter($"epoch" < 0 || $"epoch" > 1).count() == 0)
  }

  test("source mix: fractional epoch goes to the rows below the bucket threshold") {
    val got = Sampling.sourceMix(docs, $"doc_id", $"source",
      Map("src0" -> 1.5), defaultWeight = 1.0)
      .filter($"source" === "src0")
    val epochCounts = got.groupBy("doc_id")
      .agg(count(lit(1)).as("n")).select("n").as[Long].collect()
    // every src0 doc appears once or twice; the twice-set is the bucket-low set
    assert(epochCounts.forall(n => n == 1L || n == 2L))
    val twice = got.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter($"n" === 2).select("doc_id")
    val belowThreshold = docs.filter($"source" === "src0")
      .filter(Sampling.bucket($"doc_id").cast("double") < 500000.0)
      .select("doc_id")
    assert(twice.exceptAll(belowThreshold).count() == 0)
    assert(belowThreshold.exceptAll(twice).count() == 0)
  }

  test("tokenBudgetSample leaves caller columns named like helpers intact") {
    val df = Seq((1L, "en", 5L, "keep1"), (2L, "en", 5L, "keep2"))
      .toDF("doc_id", "lang", "n", "_h")
    val got = Sampling.tokenBudgetSample(df, $"doc_id", $"lang", $"n", 100L)
    assert(got.columns.toSeq == Seq("doc_id", "lang", "n", "_h", "cum_tokens"))
    assert(got.select("_h").as[String].collect().toSet == Set("keep1", "keep2"))
    // reserved output name is refused, not silently replaced
    val clash = df.withColumnRenamed("_h", "cum_tokens")
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSample(clash, $"doc_id", $"lang", $"n", 100L)
    }
  }

  test("systematicWeightedSample picks exactly n with PPS multiplicity") {
    val df = (1L to 400L).map(i => (i, if (i == 7L) 10000L else 10L))
      .toDF("id", "w")
    val got = Sampling.systematicWeightedSample(df, $"id", $"w", n = 40,
      shards = 8)
    // every shard contributes exactly n/shards picks -> total n
    assert(got.agg(sum($"n_picks")).as[Long].head() == 40L)
    // the one heavy row (≈71% of its shard's mass) is picked several times
    val heavy = got.filter($"id" === 7L).select("n_picks").as[Long].collect()
    assert(heavy.nonEmpty && heavy.head >= 2, heavy.toSeq)
    // deterministic under repartitioning
    val again = Sampling.systematicWeightedSample(df.repartition(13), $"id",
      $"w", n = 40, shards = 8)
      .select("id", "n_picks").as[(Long, Long)].collect().toSet
    assert(again == got.select("id", "n_picks").as[(Long, Long)].collect().toSet)
  }

  test("systematicWeightedSample is deterministic under duplicate keys (ADVICE r5)") {
    // duplicate keys with DIFFERENT weights share the same (md5, key)
    // sort position — the weight tiebreak pins their order, so per-row
    // (w, n_picks) assignments cannot flip between runs/partitionings
    val dup = (Seq((1L, 500L), (1L, 10L), (1L, 200L)) ++
      (2L to 50L).map(i => (i, 10L))).toDF("id", "w")
    val a = Sampling.systematicWeightedSample(dup, $"id", $"w", n = 12, shards = 4)
      .select("id", "w", "n_picks").as[(Long, Long, Long)].collect().sorted.toSeq
    val b = Sampling.systematicWeightedSample(dup.repartition(7), $"id", $"w",
        n = 12, shards = 4)
      .select("id", "w", "n_picks").as[(Long, Long, Long)].collect().sorted.toSeq
    val c = Sampling.systematicWeightedSample(dup.coalesce(1), $"id", $"w",
        n = 12, shards = 4)
      .select("id", "w", "n_picks").as[(Long, Long, Long)].collect().sorted.toSeq
    assert(a == b && b == c)
    assert(a.map(_._3).sum == 12L)
  }

  test("systematicWeightedSample validates shards and reserved names") {
    val df = Seq((1L, 5L)).toDF("id", "w")
    intercept[IllegalArgumentException] {
      Sampling.systematicWeightedSample(df, $"id", $"w", n = 10, shards = 3)
    }
    intercept[IllegalArgumentException] {
      Sampling.systematicWeightedSample(
        df.withColumn("n_picks", lit(1)), $"id", $"w", n = 8, shards = 8)
    }
  }

  test("systematicWeightedSample raises on negative weights, allows zero") {
    val bad = Seq((1L, 5L), (2L, -1L)).toDF("id", "w")
    val e = intercept[Exception] {
      Sampling.systematicWeightedSample(bad, $"id", $"w", n = 8, shards = 1).count()
    }
    assert(e.getMessage.contains("negative weight") ||
      Option(e.getCause).exists(_.getMessage.contains("negative weight")), e.getMessage)
    val zeros = Seq((1L, 5L), (2L, 0L)).toDF("id", "w")
    val got = Sampling.systematicWeightedSample(zeros, $"id", $"w", n = 8, shards = 1)
    assert(got.select("id").as[Long].collect().toSeq == Seq(1L)) // zero never picked
    assert(got.agg(sum($"n_picks")).as[Long].head() == 8L)
    // an ALL-zero-weight input has no pick line: empty result, no NaN cast
    val allZero = Seq((1L, 0L), (2L, 0L)).toDF("id", "w")
    assert(Sampling.systematicWeightedSample(allZero, $"id", $"w",
      n = 8, shards = 1).count() == 0)
  }

  test("sourceMix leaves caller helper-named columns intact, refuses epoch") {
    val df = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "source", "_w")
    val got = Sampling.sourceMix(df, $"id", $"source", Map("a" -> 2.0), 1.0)
    assert(got.columns.toSeq == Seq("id", "source", "_w", "epoch"))
    assert(got.filter($"id" === 1).count() == 2)
    assert(got.select("_w").as[String].collect().toSet == Set("x", "y"))
    intercept[IllegalArgumentException] {
      Sampling.sourceMix(got, $"id", $"source", Map.empty, 1.0)
    }
  }

  test("deterministicShuffle: a fixed permutation, invariant to partitioning") {
    val df = spark.range(1000).toDF("id")
    val a = Sampling.deterministicShuffle(df, $"id", seed = 7L, nShards = 4)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect().toSet
    // per shard: positions are dense 0..n-1 (a real permutation, no gaps)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).toSeq.sorted == (0L until rows.size).toSeq)
    }
    assert(a.map(_._2).forall(s => s >= 0 && s < 4))
    // re-run under a different partitioning agrees row-for-row
    val b = Sampling.deterministicShuffle(df.repartition(13), $"id", 7L, 4)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect().toSet
    assert(a == b)
    // a different seed is an (almost surely) different permutation
    val c = Sampling.deterministicShuffle(df, $"id", seed = 8L, nShards = 4)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect().toSet
    assert(a != c)
    // and the hash helper column never leaks into the output
    assert(!Sampling.deterministicShuffle(df, $"id", 7L, 4)
      .columns.exists(_.startsWith("_shuffle_h_")))
  }
}
