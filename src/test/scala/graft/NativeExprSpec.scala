package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.VectorFunctions
import graft.plans.NativeFunctions

class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  test("native cosine is bit-identical to the HOF composition") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val pairs = e.toDF("id_a", "v_a", "l_a").limit(50)
      .crossJoin(e.toDF("id_b", "v_b", "l_b").limit(20))
    val diff = pairs.select(
      VectorFunctions.cosine($"v_a", $"v_b").as("hof"),
      NativeFunctions.cosineFloat($"v_a", $"v_b").as("native"))
      .filter($"hof" =!= $"native")
    assert(diff.count() == 0)
  }

  test("native cosine is callable from the SQL surface") {
    val got = spark.sql(
      """SELECT graft_cosine(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
        |                    array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))""".stripMargin)
      .as[Double].head()
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("native cosine handles zero vectors and length mismatch") {
    val df = Seq(
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f)),
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val got = df.select(NativeFunctions.cosineFloat($"a", $"b"))
      .as[Double].collect()
    assert(got(0) == 0.0)
    // truncated to common prefix → parallel vectors (up to fp rounding)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }

  test("native squared-L2 is bit-identical to the HOF composition") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select($"vec_id", VectorFunctions.asDouble($"embedding").as("v"))
    val pairs = e.toDF("id_a", "v_a").limit(50)
      .crossJoin(e.toDF("id_b", "v_b").limit(20))
    val diff = pairs.select(
      VectorFunctions.sqL2($"v_a", $"v_b").as("hof"),
      NativeFunctions.sqL2Double($"v_a", $"v_b").as("native"))
      .filter($"hof" =!= $"native")
    assert(diff.count() == 0)
  }

  test("native sign-lsh signature matches the HOF composition bit-for-bit") {
    val e = Tables.embeddings(spark, sf("sf0.01"))
    val diff = e.select(
      graft.operators.Ann.signLshSignature($"embedding", 12, 64, 42L).as("hof"),
      graft.plans.SignLshSignature.signature($"embedding", 12, 64, 42L).as("native"))
      .filter($"hof" =!= $"native")
    assert(diff.count() == 0)
  }

  test("native sign-lsh is callable from the SQL surface") {
    val got = spark.sql(
      "SELECT graft_sign_lsh(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 4, 2, 42L)")
      .as[Int].head()
    assert(got >= 0 && got < 16)
  }

  test("native tokenizer/shingler match the HOF forms on the real corpus") {
    val docs = Tables.documents(spark, sf("sf0.01"))
      .union(Seq((-1L, "", "x", "y", 0L),        // empty text
        (-2L, "  !!  ", "x", "y", 0L),           // separators only
        (-3L, "Üni çöde İstanbul MIXED case 42", "x", "y", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val tokDiff = docs.select(
      graft.functions.TextFunctions.tokens($"text").as("hof"),
      graft.plans.TextNative.tokens($"text").as("native"))
      .filter($"hof" =!= $"native")
    assert(tokDiff.count() == 0)
    val shDiff = docs.select(
      array_distinct(graft.functions.TextFunctions.shingles($"text", 3)).as("hof"),
      graft.plans.TextNative.shingles($"text", 3).as("native"))
      .filter(array_sort($"hof") =!= array_sort($"native"))  // set semantics
    assert(shDiff.count() == 0)
  }

  test("normalizeText composes NFC, lowercases, collapses whitespace") {
    val df = Seq(
      (1L, "Café  NAÏVE\tmixed   CASE \n"),
      (2L, "   \t\n  "),       // whitespace-only -> empty
      (3L, "plain ascii"),
      (4L, "Straße")       // sharp s survives lowercase
    ).toDF("id", "text")
    val got = df.select($"id",
      graft.plans.TextNative.normalizeText($"text").as("n"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "café naïve mixed case"), // composed single codepoints
      (2L, ""),
      (3L, "plain ascii"),
      (4L, "straße")))
    // normalize-before-hash: the decomposed and composed spellings of the
    // same word now dedup together
    val pair = Seq((1L, "Café"), (2L, "Café")).toDF("doc_id", "text")
    val normed = pair.select($"doc_id",
      graft.plans.TextNative.normalizeText($"text").as("text"))
    val stats = graft.operators.DedupSuite
      .exactDedupStats(normed, $"text", $"doc_id").collect()
    assert(stats.length == 1 && stats(0).getAs[Long]("n_copies") == 2L)
  }

  test("native chunks match independent HOF constructions in both modes") {
    val docs = Tables.documents(spark, sf("sf0.01"))
      .union(Seq((-1L, "", "x", "y", 0L),        // empty text -> no chunks
        (-2L, "one", "x", "y", 0L),              // single partial chunk
        (-3L, "Üni çöde İstanbul MIXED case 42", "x", "y", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select($"doc_id", $"text",
        graft.plans.TextNative.tokens($"text").as("toks"))
    // chunk mode (step == n): ceil(len/5) chunks incl. partial tail
    val hofChunks = when(size($"toks") === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ceil(size($"toks") / lit(5.0)).cast("int") - 1),
        i => array_join(slice($"toks", i * 5 + 1, lit(5)), " ")))
    val chunkDiff = docs.select(
      hofChunks.as("hof"),
      graft.plans.TextNative.chunks($"text", 5, 5).as("native"))
      .filter($"hof" =!= $"native")
    assert(chunkDiff.count() == 0)
    // sliding mode (step 1): full windows only, duplicates kept
    val hofGrams = when(size($"toks") < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size($"toks") - 1),
        i => concat(element_at($"toks", i), lit(" "), element_at($"toks", i + 1))))
    val gramDiff = docs.select(
      hofGrams.as("hof"),
      graft.plans.TextNative.chunks($"text", 2, 1).as("native"))
      .filter($"hof" =!= $"native")
    assert(gramDiff.count() == 0)
  }

  test("native simhash60 matches an independent explode/agg construction") {
    val docs = Tables.documents(spark, sf("sf0.01"))
      .union(Seq((-1L, "", "x", "y", 0L),
        (-3L, "Üni çöde İstanbul MIXED case 42", "x", "y", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val tok = docs.select($"doc_id",
      explode(graft.plans.TextNative.tokens($"text")).as("_t"))
      .select($"doc_id", graft.functions.TextFunctions.md5Hash60($"_t").as("_h"))
    val bitSums = (0 until 60).map(b =>
      sum(when(shiftright($"_h", b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"_b$b"))
    val agg = tok.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 60)
      .map(b => shiftleft((col(s"_b$b") > 0).cast("long"), b))
      .reduce(_ bitwiseOR _)
    val expected = docs.select($"doc_id")
      .join(agg.select($"doc_id", sim.as("expected")), Seq("doc_id"), "left")
      .na.fill(0L, Seq("expected"))
    val got = docs.select($"doc_id",
      graft.plans.TextNative.simhash60($"text").as("got"))
    assert(got.join(expected, "doc_id").filter($"got" =!= $"expected").count() == 0)
  }

  test("native minhash signature matches the explode/min-agg construction") {
    val docs = Tables.documents(spark, sf("sf0.01")).limit(200)
    val base = docs.select($"doc_id",
      graft.plans.TextNative.shingles($"text", 3).as("_sh"))
      .filter(size($"_sh") > 0)
    val k = 16
    val hashed = base.select($"doc_id", explode($"_sh").as("_s"))
      .select($"doc_id",
        xxhash64($"_s", lit(0)).as("_x1"), xxhash64($"_s", lit(1)).as("_x2"))
    def mix(i: Int) = {
      val rot = i % 64
      $"_x1".bitwiseXOR(
        shiftleft($"_x2", rot).bitwiseOR(shiftrightunsigned($"_x2", 64 - rot)))
    }
    val expected = hashed.groupBy($"doc_id").agg(
      min(mix(0)).as("_h0"), (1 until k).map(i => min(mix(i)).as(s"_h$i")): _*)
    val got = base.select($"doc_id",
      graft.plans.TextNative.minhashSig($"_sh", k).as("_sig"))
    val joined = got.join(expected, "doc_id")
    val diff = (0 until k).map(i =>
      element_at($"_sig", i + 1) =!= col(s"_h$i")).reduce(_ || _)
    assert(joined.filter(diff).count() == 0)
  }

  test("native cosine participates in whole-stage codegen") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
    val q = e.limit(1).toDF("query_id", "q_vec", "l")
      .select("query_id", "q_vec")
    // AQE hides codegen subtrees until execution; disable it for inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = graft.operators.Ann.bruteForceTopK(e, "vec_id", "embedding", q, 5)
        .queryExecution
      val codegen = qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(codegen.contains("graft_cosine"), codegen.take(2000))
      // the scoring loop is inside a generated WholeStageCodegen subtree
      assert(!codegen.contains("Found 0 WholeStageCodegen"), codegen.take(500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
