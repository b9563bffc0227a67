package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Joins
import graft.pipelines.ReferencePipelines

/** Byte-level behavioral parity with the reference's shipped demo outputs
  * (read-only fixtures under /root/reference — data, not code).
  *
  * The demo2 products CSV is vendored as the test resource
  * `golden/demo2_source_products.csv` (FIXTURES.md §2 records how its
  * bytes were derived), so the CSV→JSON path runs everywhere, and again
  * on the reference's original where that file exists. The JSON parity
  * checks need the reference's demo inputs and golden outputs, which no
  * repository file records: they run only where /root/reference/lecture2
  * holds them, and are cancelled, naming the missing file, elsewhere. */
class GoldenParitySpec extends SparkSpec {
  import spark.implicits._

  private val ReferenceDir = "/root/reference/lecture2"

  /** Cancels the test unless every named file of the reference's
    * lecture2 directory is present. */
  private def assumeReference(names: String*): Unit = names.foreach { n =>
    val p = java.nio.file.Paths.get(ReferenceDir, n)
    assume(java.nio.file.Files.isRegularFile(p), s"$p is not present")
  }

  test("tutorial1 normalizer reproduces demo4_output_cleaned.json") {
    assumeReference("demo4_source_data.json", "demo4_output_cleaned.json")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("email", StringType), StructField("age", LongType)))
    val src = spark.read.schema(schema).option("multiLine", "true")
      .json("/root/reference/lecture2/demo4_source_data.json")
    val got = ReferencePipelines.tutorial1Normalize(src,
      java.time.Instant.parse("2026-02-09T19:47:42Z"))
      .select("id", "name", "email", "age", "record_count")
      .orderBy("id")
      .collect().map(_.toString).toSeq
    val expected = spark.read.option("multiLine", "true")
      .json("/root/reference/lecture2/demo4_output_cleaned.json")
      .withColumn("record_count", col("record_count").cast(LongType))
      .select("id", "name", "email", "age", "record_count")
      .orderBy("id")
      .collect().map(_.toString).toSeq
    assert(got == expected)
  }

  test("tutorial1 normalizer reproduces demo1_output_data.json (clean input)") {
    assumeReference("demo1_source_data.json", "demo1_output_data.json")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("email", StringType), StructField("age", LongType)))
    val src = spark.read.schema(schema).option("multiLine", "true")
      .json("/root/reference/lecture2/demo1_source_data.json")
    val got = ReferencePipelines.tutorial1Normalize(src,
      java.time.Instant.parse("2026-02-10T13:34:05Z"))
      .select("id", "name", "email", "age", "record_count")
      .orderBy("id").collect().map(_.toString).toSeq
    val expected = spark.read.option("multiLine", "true")
      .json("/root/reference/lecture2/demo1_output_data.json")
      .withColumn("record_count", col("record_count").cast(LongType))
      .select("id", "name", "email", "age", "record_count")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(got == expected)
  }

  test("demo2 artifact parity: the reference's cross-wired XCom output") {
    assumeReference("demo1_source_data.json", "demo2_output_products.json")
    // The reference DAG's transform_csv task pulls XCom from
    // task_ids='extract' (the demo1 JSON extract), NOT extract_csv — so
    // its shipped demo2_output_products.json holds the transformed demo1
    // USER records, not products. Reproduce that faithfully: the
    // normalizer over the demo1 source byte-matches the demo2 artifact.
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("email", StringType), StructField("age", LongType)))
    val src = spark.read.schema(schema).option("multiLine", "true")
      .json("/root/reference/lecture2/demo1_source_data.json")
    val got = ReferencePipelines.tutorial1Normalize(src,
      java.time.Instant.parse("2026-02-10T13:34:05Z"))
      .select("id", "name", "email", "age", "record_count")
      .orderBy("id").collect().map(_.toString).toSeq
    val expected = spark.read.option("multiLine", "true")
      .json("/root/reference/lecture2/demo2_output_products.json")
      .withColumn("record_count", col("record_count").cast(LongType))
      .select("id", "name", "email", "age", "record_count")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(got == expected)
  }

  test("demo2 intended CSV→JSON path: products stay strings, enriched") {
    val vendored = java.nio.file.Paths.get(
      getClass.getResource("/golden/demo2_source_products.csv").toURI)
    val original = java.nio.file.Paths.get(ReferenceDir, "demo2_source_products.csv")
    val sources = vendored +: Seq(original).filter(java.nio.file.Files.isRegularFile(_))
    sources.foreach { csv =>
      val got = ReferencePipelines.tutorial1CsvProducts(spark, csv.toString,
        java.time.Instant.parse("2026-02-10T13:34:05Z"))
        .select("id", "product_id", "product_name", "price", "stock", "record_count")
        .orderBy("id")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getString(4), r.getLong(5))).toSeq
      assert(got == Seq(
        ("1", "P001", "Laptop", "999.99", "50", 5L),
        ("2", "P002", "Mouse", "29.99", "200", 5L),
        ("3", "P003", "Keyboard", "79.99", "150", 5L),
        ("4", "P004", "Monitor", "299.99", "75", 5L),
        ("5", "P005", "Webcam", "89.99", "120", 5L)), s"source: $csv")
    }
  }

  test("bucketized range join matches hand-computed point-in-interval") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val points = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),  // inclusive start boundary
      (2L, 10L, ts("2024-01-01 10:30:00")),  // interior
      (3L, 10L, ts("2024-01-01 11:00:00")),  // inclusive end boundary
      (4L, 10L, ts("2024-01-01 11:00:01")),  // just outside
      (5L, 20L, ts("2024-01-01 10:30:00")),  // right key, other interval
      (6L, 30L, ts("2024-01-01 10:30:00")))  // key with no interval
      .toDF("point_id", "k", "ts")
    val intervals = Seq(
      (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00"), "a"),
      (20L, ts("2024-01-01 10:15:00"), ts("2024-01-01 10:45:00"), "b"))
      .toDF("k", "start", "end", "tag")
    // bucket deliberately smaller than the intervals: spans several cells
    val got = Joins.rangeJoin(points, intervals, Seq("k"), "ts", "start", "end",
        java.time.Duration.ofMinutes(7))
      .select($"point_id", $"tag").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "a"), (3L, "a"), (5L, "b")))
  }

  test("interval-overlap join matches hand-computed overlaps") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val a = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")),
      (2L, 10L, ts("2024-01-01 15:00:00"), ts("2024-01-01 16:00:00")))
      .toDF("aid", "k", "s1", "e1")
    val b = Seq(
      (100L, 10L, ts("2024-01-01 11:00:00"), ts("2024-01-01 13:00:00")), // overlaps 1
      (101L, 10L, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:30:00")), // touches 1's end
      (102L, 10L, ts("2024-01-01 13:00:01"), ts("2024-01-01 14:00:00")), // gap
      (103L, 20L, ts("2024-01-01 10:30:00"), ts("2024-01-01 11:00:00"))) // other key
      .toDF("bid", "k", "s2", "e2")
    val got = Joins.intervalOverlapJoin(a, b, Seq("k"), "s1", "e1", "s2", "e2",
        java.time.Duration.ofMinutes(17)) // deliberately awkward bucket
      .select($"aid", $"bid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L), (1L, 101L)))
  }

  test("interval-overlap join preserves duplicate-row multiplicity") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two IDENTICAL left rows must each match (join multiplicity 2) even
    // though the pair spans several cells
    val a = Seq(
      (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")),
      (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")))
      .toDF("k", "s1", "e1")
    val b = Seq((10L, ts("2024-01-01 11:00:00"), ts("2024-01-01 13:00:00")))
      .toDF("k", "s2", "e2")
    val got = Joins.intervalOverlapJoin(a, b, Seq("k"), "s1", "e1", "s2", "e2",
      java.time.Duration.ofMinutes(10))
    assert(got.count() == 2)
  }

  test("as-of join matches hand-computed latest-prior semantics") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val trades = Seq(
      (1L, 10L, ts("2024-01-01 10:00:05")),
      (2L, 10L, ts("2024-01-01 10:00:00")),   // exact tie with quote q2
      (3L, 10L, ts("2024-01-01 09:00:00")),   // before any quote
      (4L, 20L, ts("2024-01-01 10:00:00")))
      .toDF("trade_id", "sym", "ts")
    val quotes = Seq(
      (10L, ts("2024-01-01 09:30:00"), 99.0),
      (10L, ts("2024-01-01 10:00:00"), 100.0),
      (20L, ts("2024-01-01 09:59:59"), 50.0))
      .toDF("sym", "ts", "px")
    val got = Joins.asOfJoin(trades, quotes, Seq("sym"), "ts", "ts", Seq("px"))
      .orderBy("trade_id")
      .select($"trade_id", $"px")
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double])))
      .toSeq
    assert(got == Seq(
      (1L, Some(100.0)),   // latest prior quote
      (2L, Some(100.0)),   // inclusive on ties
      (3L, None),          // no prior quote -> null
      (4L, Some(50.0))))
  }
}
