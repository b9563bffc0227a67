package graft

import java.util.UUID

import org.apache.spark.sql.functions._

import graft.sources.ManifestTable

/** The graft_lake TableCatalog: named manifest tables through Spark's
  * NATIVE SQL machinery (no GRAFT grammar involved) — DDL, DML, time
  * travel, metadata-statistics-driven broadcasting. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def ns(): String = "ns_" + UUID.randomUUID().toString.take(8)

  /** The manifest root behind a catalog table (SHOW TBLPROPERTIES hides
    * Spark-reserved keys like location, so go through the catalog). */
  private def rootOf(n: String, table: String): String =
    spark.sessionState.catalogManager.catalog("graft_lake")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(n), table))
      .properties().get("location")

  test("tune() restores the builder's session posture, catalog binding included") {
    import graft.core.GraftSession
    val built = GraftSession.sessionConfs.map { case (k, _) => k -> spark.conf.get(k) }
    assert(built == GraftSession.sessionConfs)
    try {
      built.foreach { case (k, _) => spark.conf.unset(k) }
      assert(!spark.conf.getOption("spark.sql.cbo.enabled").contains("true"))
      GraftSession.tune(spark)
      built.foreach { case (k, v) =>
        assert(spark.conf.getOption(k).contains(v), s"tune() left $k unset")
      }
      val n = ns()
      spark.sql(s"CREATE NAMESPACE graft_lake.$n")
      spark.sql(s"DROP NAMESPACE graft_lake.$n")
    } finally built.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("CREATE TABLE / INSERT INTO / SELECT round-trips with layout intact") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.events (day STRING, id BIGINT, v DOUBLE) " +
      "PARTITIONED BY (day)")
    assert(spark.sql(s"SHOW TABLES IN graft_lake.$n").collect()
      .map(_.getString(1)).toSeq == Seq("events"))
    assert(spark.table(s"graft_lake.$n.events").count() == 0)
    spark.sql(s"INSERT INTO graft_lake.$n.events VALUES " +
      "('2026-01-01', 1, 1.5), ('2026-01-02', 2, 2.5), ('2026-01-02', 3, 3.5)")
    val got = spark.sql(
      s"SELECT id, v FROM graft_lake.$n.events WHERE day = '2026-01-02' ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 2.5), (3L, 3.5)))
    // the insert landed HIVE-partitioned per the declared layout
    val warehouseRoot = spark.sessionState.catalogManager.catalog("graft_lake")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(n), "events"))
      .properties().get("location")
    val st = ManifestTable.current(spark, warehouseRoot).get
    assert(st.files.nonEmpty && st.files.forall(_.partitionPath.startsWith("day=")))
    spark.sql(s"DROP TABLE graft_lake.$n.events")
    assert(spark.sql(s"SHOW TABLES IN graft_lake.$n").collect().isEmpty)
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("CTAS, DELETE FROM, INSERT OVERWRITE, and time travel") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v").createOrReplaceTempView("ctas_src")
    spark.sql(s"CREATE TABLE graft_lake.$n.t AS SELECT * FROM ctas_src")
    assert(spark.table(s"graft_lake.$n.t").count() == 3)

    spark.sql(s"DELETE FROM graft_lake.$n.t WHERE k = 2")
    assert(spark.sql(s"SELECT k FROM graft_lake.$n.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 3L))

    // VERSION AS OF: v1 is the CTAS seed (empty schema-only), v2 the
    // CTAS insert, v3 the delete
    assert(spark.sql(s"SELECT * FROM graft_lake.$n.t VERSION AS OF 1").count() == 0)
    assert(spark.sql(s"SELECT * FROM graft_lake.$n.t VERSION AS OF 2").count() == 3)

    // TIMESTAMP AS OF "now" resolves the current head
    val now = new java.sql.Timestamp(System.currentTimeMillis() + 2000L)
    assert(spark.sql(
      s"SELECT * FROM graft_lake.$n.t TIMESTAMP AS OF '$now'").count() == 2)

    spark.sql(s"INSERT OVERWRITE graft_lake.$n.t VALUES (9, 'z', 90.0)")
    assert(spark.sql(s"SELECT k, s, v FROM graft_lake.$n.t")
      .as[(Long, String, Double)].collect().toSeq == Seq((9L, "z", 90.0)))

    // a DELETE whose condition cannot convert EXACTLY to source filters
    // must refuse loudly, never over-delete
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft_lake.$n.t WHERE length(s) > 0")
    }
    assert(spark.table(s"graft_lake.$n.t").count() == 1)
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("ALTER TABLE RENAME/DROP COLUMN ride the no-rewrite name mapping") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    Seq((1L, 1.0, "x"), (2L, 2.0, "y")).toDF("k", "v", "s")
      .createOrReplaceTempView("alter_src")
    spark.sql(s"CREATE TABLE graft_lake.$n.t AS SELECT * FROM alter_src")
    val filesBefore = {
      val loc = spark.sql(s"SELECT 1").sparkSession.sessionState.catalogManager
        .catalog("graft_lake")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(n), "t"))
        .properties().get("location")
      (loc, ManifestTable.current(spark, loc).get.files.map(_.relPath).toSet)
    }
    spark.sql(s"ALTER TABLE graft_lake.$n.t RENAME COLUMN v TO score")
    spark.sql(s"ALTER TABLE graft_lake.$n.t DROP COLUMN s")
    assert(spark.table(s"graft_lake.$n.t").columns.toSeq == Seq("k", "score"))
    assert(spark.sql(s"SELECT score FROM graft_lake.$n.t WHERE k = 2")
      .as[Double].collect().toSeq == Seq(2.0))
    // metadata-only: the data files did not move
    val after = ManifestTable.current(spark, filesBefore._1).get.files.map(_.relPath).toSet
    assert(after == filesBefore._2)
    // and inserts speak the LOGICAL schema
    spark.sql(s"INSERT INTO graft_lake.$n.t VALUES (3, 3.0)")
    assert(spark.sql(s"SELECT score FROM graft_lake.$n.t WHERE k = 3")
      .as[Double].collect().toSeq == Seq(3.0))
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("catalog tables auto-broadcast from manifest statistics") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    Seq((1L, "us"), (2L, "de"), (3L, "jp")).toDF("id", "cc")
      .createOrReplaceTempView("dim_src")
    spark.sql(s"CREATE TABLE graft_lake.$n.dim AS SELECT * FROM dim_src")
    val big = spark.range(100000).select($"id" % 3 + 1 as "id", $"id" as "x")
    val joined = big.join(spark.table(s"graft_lake.$n.dim"), "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the 3-row catalog dim to broadcast, got:\n$plan")
    assert(joined.count() == 100000)
    // pushdown reaches the manifest scan: a day-filter prunes files
    spark.sql(s"DROP TABLE graft_lake.$n.dim")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("file pruning works through the catalog read path") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.p (day STRING, v BIGINT) PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO graft_lake.$n.p VALUES ('2026-01-01', 1), ('2026-01-02', 2)")
    val q = spark.sql(s"SELECT v FROM graft_lake.$n.p WHERE day = '2026-01-02'")
    assert(q.as[Long].collect().toSeq == Seq(2L))
    // the filter was negotiated into the scan (it prunes manifest FILES
    // before Spark's parquet reader ever runs) and the projection is
    // column-pruned to exactly the selected + filtered columns
    val leaf = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("PushedFilters") && leaf.contains("day"),
      s"expected the day filter pushed into the catalog scan, got:\n$leaf")
    // and the delegated manifest read applies the same pruning the
    // programmatic path does: the 01-01 file never reaches the scan
    val loc = spark.sessionState.catalogManager.catalog("graft_lake")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(n), "p"))
      .properties().get("location")
    val pruned = ManifestTable.readWhere(spark, loc, col("day") === "2026-01-02")
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("day=2026-01-02")))
    spark.sql(s"DROP TABLE graft_lake.$n.p")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("INSERT OVERWRITE replaces only the partitions present in the query") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.d (day STRING, v BIGINT) PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO graft_lake.$n.d VALUES " +
      "('2026-01-01', 1), ('2026-01-01', 2), ('2026-01-02', 3)")
    val loc = spark.sessionState.catalogManager.catalog("graft_lake")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(n), "d"))
      .properties().get("location")
    val before = ManifestTable.current(spark, loc).get.files
      .filter(_.partitionPath == "day=2026-01-02")
    assert(before.nonEmpty)
    // dynamic mode (the session default): only day=2026-01-01 is replaced
    spark.sql(s"INSERT OVERWRITE graft_lake.$n.d VALUES ('2026-01-01', 9)")
    assert(spark.sql(s"SELECT day, v FROM graft_lake.$n.d ORDER BY day, v")
      .as[(String, Long)].collect().toSeq ==
      Seq(("2026-01-01", 9L), ("2026-01-02", 3L)))
    // the untouched partition's files carried forward BY REFERENCE
    val after = ManifestTable.current(spark, loc).get.files
      .filter(_.partitionPath == "day=2026-01-02")
    assert(after == before)
    spark.sql(s"DROP TABLE graft_lake.$n.d")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("native ANSI UPDATE / complex DELETE / MERGE INTO on catalog tables") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    Seq((1L, "aa", 10.0), (2L, "bb", 20.0), (3L, "cc", 30.0), (4L, "dd", 40.0),
      (5L, "ee", 50.0)).toDF("k", "s", "v").createOrReplaceTempView("dml_seed")
    spark.sql(s"CREATE TABLE graft_lake.$n.t AS SELECT * FROM dml_seed")

    // UPDATE: expression over the old row, arbitrary predicate
    spark.sql(s"UPDATE graft_lake.$n.t SET v = v * 10 WHERE k <= 2")
    assert(spark.sql(s"SELECT v FROM graft_lake.$n.t ORDER BY k")
      .as[Double].collect().toSeq == Seq(100.0, 200.0, 30.0, 40.0, 50.0))
    // BETWEEN analyzes to a common-expression scope (its input bound
    // once); the translation must carry it, numeric and string alike
    spark.sql(s"UPDATE graft_lake.$n.t SET v = v + 1 WHERE k BETWEEN 1 AND 1")
    assert(spark.sql(s"SELECT v FROM graft_lake.$n.t ORDER BY k")
      .as[Double].collect().toSeq == Seq(101.0, 200.0, 30.0, 40.0, 50.0))
    spark.sql(s"UPDATE graft_lake.$n.t SET v = v - 1 WHERE s BETWEEN 'aa' AND 'ab'")
    assert(spark.sql(s"SELECT v FROM graft_lake.$n.t ORDER BY k")
      .as[Double].collect().toSeq == Seq(100.0, 200.0, 30.0, 40.0, 50.0))

    // DELETE with a predicate NO source filter can express — the rewrite
    // path takes the whole expression, not just convertible conjuncts
    spark.sql(s"DELETE FROM graft_lake.$n.t WHERE upper(s) = 'DD'")
    assert(spark.sql(s"SELECT k FROM graft_lake.$n.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L, 5L))
    spark.sql(s"DELETE FROM graft_lake.$n.t WHERE k BETWEEN 4 AND 5")
    assert(spark.sql(s"SELECT k FROM graft_lake.$n.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))

    // MERGE with a differently-named source key, arithmetic over both
    // sides, and a BY SOURCE branch; BETWEEN clause conditions over the
    // source (matched) and the target (by source)
    Seq((2L, 5.0), (9L, 90.0)).toDF("kk", "w").createOrReplaceTempView("dml_src")
    spark.sql(
      s"""MERGE INTO graft_lake.$n.t t USING dml_src s ON t.k = s.kk
         |WHEN MATCHED AND s.w BETWEEN 0 AND 10 THEN UPDATE SET v = t.v + s.w
         |WHEN NOT MATCHED BY SOURCE AND t.k BETWEEN 1 AND 3
         |  THEN UPDATE SET v = t.v * -1.0""".stripMargin)
    assert(spark.sql(s"SELECT k, v FROM graft_lake.$n.t ORDER BY k")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, -100.0), (2L, 205.0), (3L, -30.0)))

    // MERGE with INSERT * (full-schema source) and MATCHED DELETE
    Seq((2L, "zz", 0.0), (9L, "ii", 90.0)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_src2")
    spark.sql(
      s"""MERGE INTO graft_lake.$n.t t USING dml_src2 s ON t.k = s.k
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT k, v FROM graft_lake.$n.t ORDER BY k")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, -100.0), (3L, -30.0), (9L, 90.0)))

    // an INT-typed source key widens under the analyzer's implicit cast
    // (ON t.k = cast(s.k)) — the lossless up-cast shape must merge, not
    // refuse as "non-equi"
    spark.sql(
      s"""MERGE INTO graft_lake.$n.t t
         |USING (SELECT 3 AS k, 'w' AS s, 7.5 AS v) s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT v FROM graft_lake.$n.t WHERE k = 3")
      .as[Double].head() == 7.5)

    // unsupported shapes refuse loudly instead of narrowing silently
    intercept[Exception] {
      spark.sql(s"MERGE INTO graft_lake.$n.t t USING dml_src2 s ON t.k > s.k " +
        "WHEN MATCHED THEN DELETE")
    }
    intercept[Exception] { // LOSSY key cast is a different predicate
      spark.sql(s"MERGE INTO graft_lake.$n.t t " +
        "USING (SELECT '3' AS k) s ON t.k = CAST(s.k AS DOUBLE) " +
        "WHEN MATCHED THEN DELETE")
    }
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft_lake.$n.t WHERE v > " +
        "(SELECT avg(v) FROM dml_src2)")
    }
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("COUNT(*) answers from manifest metadata, zero files scanned") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    Seq.tabulate(100)(i => (i.toLong, s"s$i")).toDF("k", "s")
      .createOrReplaceTempView("cnt_src")
    spark.sql(s"CREATE TABLE graft_lake.$n.t AS SELECT * FROM cnt_src")
    val q = spark.sql(s"SELECT count(*) AS c FROM graft_lake.$n.t")
    assert(q.as[Long].head() == 100L)
    // the plan's leaf is the metadata-count relation — no parquet scan
    val leaf = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(leaf.contains("agg-pushdown") && leaf.contains("complete"),
      s"expected a metadata-only count, got:\n$leaf")
    // stays exact through DML, and time travel counts the PINNED version
    spark.sql(s"DELETE FROM graft_lake.$n.t WHERE k < 10")
    assert(spark.table(s"graft_lake.$n.t").count() == 90L)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft_lake.$n.t VERSION AS OF 2")
      .as[Long].head() == 100L)
    // a WHERE clause disables the shortcut (filters must see rows)
    val filtered = spark.sql(
      s"SELECT count(*) AS c FROM graft_lake.$n.t WHERE k >= 50")
    assert(filtered.as[Long].head() == 50L)
    assert(!filtered.queryExecution.executedPlan.collectLeaves().head
      .toString.contains("agg-pushdown"))
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("readStream.table streams a catalog table incrementally") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.t (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO graft_lake.$n.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    val ck = java.nio.file.Files.createTempDirectory("graft-cat-ck").toString
    def drain(): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.table(s"graft_lake.$n.t")
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("k").collect().foreach(r => got.add(r.getLong(0))); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000L); assert(!q.isActive)
      scala.jdk.CollectionConverters.CollectionHasAsScala(got).asScala.toSeq.sorted
    }
    assert(drain() == Seq(1L, 2L, 3L))
    spark.sql(s"INSERT INTO graft_lake.$n.t VALUES (4, 4.0), (5, 5.0)")
    // resumed checkpoint: only the new commit's rows arrive
    assert(drain() == Seq(4L, 5L))
    // streaming CDC by name: feed mode appends the CDF columns (the
    // catalog schema lacks them — they join the projection with fresh
    // ids); append-only commits derive their inserts for free
    val ck2 = java.nio.file.Files.createTempDirectory("graft-cat-ck2").toString
    val feed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q2 = spark.readStream.option("readChangeFeed", "true")
      .table(s"graft_lake.$n.t")
      .writeStream.option("checkpointLocation", ck2)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("k", "_change_type", "_commit_version").collect()
          .foreach(r => feed.add((r.getLong(0), r.getString(1), r.getLong(2)))); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination(60000L); assert(!q2.isActive)
    val rows = scala.jdk.CollectionConverters.CollectionHasAsScala(feed)
      .asScala.toSeq.sorted
    assert(rows == Seq((1L, "insert", 2L), (2L, "insert", 2L),
      (3L, "insert", 2L), (4L, "insert", 3L), (5L, "insert", 3L)), rows)
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("ALTER TABLE ADD COLUMN: metadata-only, NULL-padded, writable, refusals") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.t (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO graft_lake.$n.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"ALTER TABLE graft_lake.$n.t ADD COLUMN tag STRING")
    // declared order: the new column appends; old rows read typed NULL
    assert(spark.table(s"graft_lake.$n.t").columns.toSeq == Seq("k", "v", "tag"))
    assert(spark.sql(s"SELECT count(*) FROM graft_lake.$n.t WHERE tag IS NULL")
      .head().getLong(0) == 2L)
    // positional INSERT aligns against the widened declared schema
    spark.sql(s"INSERT INTO graft_lake.$n.t VALUES (3, 3.0, 'x')")
    // native UPDATE backfills the added column
    spark.sql(s"UPDATE graft_lake.$n.t SET tag = 'old' WHERE tag IS NULL")
    assert(spark.sql(s"SELECT k, tag FROM graft_lake.$n.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "old"), (2L, "old"), (3L, "x")))
    // time travel predates the column
    assert(spark.sql(s"SELECT * FROM graft_lake.$n.t VERSION AS OF 2")
      .columns.toSeq == Seq("k", "v"))
    // NOT NULL / positioned adds refuse loudly
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_lake.$n.t ADD COLUMN m BIGINT NOT NULL")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_lake.$n.t ADD COLUMN m BIGINT FIRST")
    }
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("TRUNCATE TABLE: O(metadata) clear; schema, layout, and history survive") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.t (day STRING, k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (day)")
    spark.sql(s"INSERT INTO graft_lake.$n.t VALUES " +
      "('2026-01-01', 1, 1.0), ('2026-01-02', 2, 2.0)")
    val root = new java.io.File(rootOf(n, "t"))
    val gensBefore = root.listFiles().map(_.getName).count(_.startsWith("gen-"))
    spark.sql(s"TRUNCATE TABLE graft_lake.$n.t")
    // no data file was written or read — one metadata commit
    assert(root.listFiles().map(_.getName).count(_.startsWith("gen-")) == gensBefore)
    assert(spark.table(s"graft_lake.$n.t").count() == 0)
    // schema and declared layout survive into the file-less state
    assert(spark.table(s"graft_lake.$n.t").columns.toSeq == Seq("day", "k", "v"))
    spark.sql(s"INSERT INTO graft_lake.$n.t VALUES ('2026-01-03', 3, 3.0)")
    assert(spark.sql(s"SELECT k FROM graft_lake.$n.t").head().getLong(0) == 3L)
    // pre-truncate versions stay readable (time travel)
    assert(spark.sql(s"SELECT count(*) FROM graft_lake.$n.t VERSION AS OF 2")
      .head().getLong(0) == 2L)
    // history marks the metadata commit
    assert(spark.sql(s"GRAFT HISTORY graft_lake.$n.t").collect()
      .exists(r => r.getLong(0) == 3L &&
        r.getString(r.fieldIndex("op")) == "truncate"))
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("TBLPROPERTIES: create-time + SET/UNSET, SHOW, cdf.enabled routes the feed") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('team' = 'datainfra')")
    def props(): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES graft_lake.$n.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("team").contains("datainfra"))
    // SET adds; the cdf.enabled property IS the change-feed switch
    spark.sql(s"ALTER TABLE graft_lake.$n.t SET TBLPROPERTIES " +
      "('tier' = 'bronze', 'cdf.enabled' = 'true')")
    assert(props().get("tier").contains("bronze"))
    spark.sql(s"INSERT INTO graft_lake.$n.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"UPDATE graft_lake.$n.t SET v = 9.0 WHERE k = 1")
    val feed = ManifestTable.readChangeFeed(spark, rootOf(n, "t"), 3L, 4L)
    assert(feed.filter(col("_change_type") === "update_postimage").count() == 1)
    // UNSET removes; reserved engine state refuses in both directions
    spark.sql(s"ALTER TABLE graft_lake.$n.t UNSET TBLPROPERTIES ('team')")
    assert(!props().contains("team"))
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_lake.$n.t SET TBLPROPERTIES " +
        "('schema.rename' = 'a>b')")
    }
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("CREATE OR REPLACE TABLE swaps schema and contents") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.t AS SELECT 1L AS k, 1.0 AS v")
    // Spark routes a plain TableCatalog through the drop-then-create
    // path (REPLACE is atomic only on a StagingTableCatalog — a
    // concurrent reader can observe the gap; the manifest log restarts
    // at v1, so history does NOT span the replacement)
    spark.sql(s"CREATE OR REPLACE TABLE graft_lake.$n.t AS " +
      "SELECT 2L AS k, 'x' AS s")
    val r = spark.table(s"graft_lake.$n.t").collect()
    assert(r.length == 1 && r.head.getLong(0) == 2L && r.head.getString(1) == "x")
    assert(spark.table(s"graft_lake.$n.t").columns.toSeq == Seq("k", "s"))
    // replacing a non-existent table creates it (OR REPLACE is optional)
    spark.sql(s"CREATE OR REPLACE TABLE graft_lake.$n.u AS SELECT 7L AS k")
    assert(spark.table(s"graft_lake.$n.u").head().getLong(0) == 7L)
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP TABLE graft_lake.$n.u")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("SHOW PARTITIONS answers from manifest metadata, with prefix filters") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.t (day STRING, region STRING, " +
      "v DOUBLE) PARTITIONED BY (day, region)")
    spark.sql(s"INSERT INTO graft_lake.$n.t VALUES " +
      "('2026-01-01', 'eu', 1.0), ('2026-01-01', 'us', 2.0), " +
      "('2026-01-02', 'eu', 3.0)")
    assert(spark.sql(s"SHOW PARTITIONS graft_lake.$n.t").collect()
      .map(_.getString(0)).toSeq ==
      Seq("day=2026-01-01/region=eu", "day=2026-01-01/region=us",
          "day=2026-01-02/region=eu"))
    // PARTITION() prefix filter
    assert(spark.sql(
      s"SHOW PARTITIONS graft_lake.$n.t PARTITION (day='2026-01-01')")
      .collect().map(_.getString(0)).toSeq ==
      Seq("day=2026-01-01/region=eu", "day=2026-01-01/region=us"))
    // a delete retires a partition's rows; dropping the last file of a
    // partition drops it from the listing (live files only)
    spark.sql(s"DELETE FROM graft_lake.$n.t WHERE day = '2026-01-02'")
    assert(spark.sql(s"SHOW PARTITIONS graft_lake.$n.t").collect()
      .map(_.getString(0)).toSeq ==
      Seq("day=2026-01-01/region=eu", "day=2026-01-01/region=us"))
    // hive partition DDL points at the operations that own the semantics
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft_lake.$n.t " +
        "ADD PARTITION (day='2026-02-01', region='ap')")
    }
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("format surfaces address catalog tables by name via option(table)") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.t (k BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO graft_lake.$n.t VALUES (1, 1.0), (2, 2.0)")
    // batch read by name (incl. time travel options)
    assert(spark.read.format("graft-manifest")
      .option("table", s"graft_lake.$n.t").load().count() == 2)
    assert(spark.read.format("graft-manifest")
      .option("table", s"graft_lake.$n.t").option("versionAsOf", 1)
      .load().count() == 0)
    // exactly-once streaming sink by name
    val ck = java.nio.file.Files.createTempDirectory("graft-sink-name").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sink-src")
      .toString + "/in"
    Seq((3L, 3.0), (4L, 4.0)).toDF("k", "v").write.json(srcDir)
    val q = spark.readStream.schema("k BIGINT, v DOUBLE").json(srcDir)
      .writeStream.format("graft-manifest")
      .option("checkpointLocation", ck)
      .option("table", s"graft_lake.$n.t")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000L); assert(!q.isActive)
    assert(spark.table(s"graft_lake.$n.t").count() == 4)
    // a typo'd name refuses instead of inventing a directory
    intercept[Exception] {
      spark.read.format("graft-manifest")
        .option("table", s"graft_lake.$n.nope").load().count()
    }
    // path and table are exclusive
    intercept[Exception] {
      spark.read.format("graft-manifest")
        .option("table", s"graft_lake.$n.t").load("/tmp/somewhere").count()
    }
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("GRAFT maintenance grammar accepts catalog table names") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    Seq.tabulate(50)(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .createOrReplaceTempView("gm_src")
    spark.sql(s"CREATE TABLE graft_lake.$n.t AS SELECT * FROM gm_src")
    // merge-on-read DML by NAME: the deletion-vector plan, no path spelled
    spark.sql(s"GRAFT DELETE MOR FROM graft_lake.$n.t WHERE k < 10")
    assert(spark.table(s"graft_lake.$n.t").count() == 40L)
    spark.sql(s"GRAFT MATERIALIZE graft_lake.$n.t")
    spark.sql(s"GRAFT COMPACT graft_lake.$n.t")
    assert(spark.sql(s"GRAFT HISTORY graft_lake.$n.t").count() >= 4)
    assert(spark.sql(s"GRAFT DETAIL graft_lake.$n.t")
      .select("num_files").as[Long].head() >= 1L)
    // a typo'd name refuses instead of inventing a directory
    intercept[Exception] { spark.sql(s"GRAFT COMPACT graft_lake.$n.nope") }
    // and a non-graft catalog refuses with a clear error
    intercept[Exception] { spark.sql("GRAFT COMPACT spark_catalog.default.x") }
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("MERGE conditional UPDATE clauses cascade first-match-wins") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    Seq((1L, "keep", 10.0), (2L, "keep", 20.0), (3L, "keep", 30.0),
      (4L, "stale", 40.0)).toDF("k", "tag", "v")
      .createOrReplaceTempView("cm_seed")
    spark.sql(s"CREATE TABLE graft_lake.$n.t AS SELECT * FROM cm_seed")
    Seq((1L, 100.0), (2L, 1.0), (3L, 50.0)).toDF("k", "w")
      .createOrReplaceTempView("cm_src")
    // clause 1 fires for k=1 (w>=100 → replace v, retag), clause 2 for
    // k=2 and k=3 is matched by neither → row untouched; k=4 unmatched
    // by source → conditional by-source update only fires on v >= 40
    spark.sql(
      s"""MERGE INTO graft_lake.$n.t t USING cm_src s ON t.k = s.k
         |WHEN MATCHED AND s.w >= 100.0 THEN UPDATE SET v = s.w, tag = 'big'
         |WHEN MATCHED AND s.w <= 1.0 THEN UPDATE SET v = t.v + s.w
         |WHEN NOT MATCHED BY SOURCE AND t.v >= 40.0 THEN UPDATE SET tag = 'old'
         |""".stripMargin)
    assert(spark.sql(s"SELECT k, tag, v FROM graft_lake.$n.t ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "big", 100.0), (2L, "keep", 21.0), (3L, "keep", 30.0),
        (4L, "old", 40.0)))
    // an unconditional clause may only come last
    intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft_lake.$n.t t USING cm_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.w
           |WHEN MATCHED AND s.w < 0 THEN UPDATE SET v = 0.0""".stripMargin)
    }
    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("medallion composition: readStream.table -> transform -> toTable, exactly-once") {
    // the bronze -> silver hop as ONE continuous pipeline: the catalog
    // CDC source feeds the catalog streaming sink through a transform,
    // each drain moves only the new bronze commits, and a restart on
    // the same checkpoint replays nothing
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.bronze (k BIGINT, v DOUBLE)")
    spark.sql(s"CREATE TABLE graft_lake.$n.silver (k BIGINT, doubled DOUBLE)")
    val ck = java.nio.file.Files.createTempDirectory("graft-med-ck").toString
    def hop(): Unit = {
      val q = spark.readStream.table(s"graft_lake.$n.bronze")
        .select(col("k"), (col("v") * 2.0).as("doubled"))
        .writeStream.option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"graft_lake.$n.silver")
      q.awaitTermination(60000L); assert(!q.isActive)
    }
    spark.sql(s"INSERT INTO graft_lake.$n.bronze VALUES (1, 1.0), (2, 2.0)")
    hop()
    assert(spark.sql(s"SELECT k, doubled FROM graft_lake.$n.silver ORDER BY k")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 2.0), (2L, 4.0)))
    hop() // same checkpoint, no new bronze commits: replay-safe no-op
    assert(spark.table(s"graft_lake.$n.silver").count() == 2)
    spark.sql(s"INSERT INTO graft_lake.$n.bronze VALUES (3, 3.0)")
    hop() // only the delta flows
    assert(spark.sql(s"SELECT k, doubled FROM graft_lake.$n.silver ORDER BY k")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 2.0), (2L, 4.0), (3L, 6.0)))
    spark.sql(s"DROP TABLE graft_lake.$n.bronze")
    spark.sql(s"DROP TABLE graft_lake.$n.silver")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }

  test("writeStream.toTable: exactly-once append, keyed upsert, refusals") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.t (k BIGINT, v DOUBLE)")
    val ck = java.nio.file.Files.createTempDirectory("graft-tt-ck").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft-tt-src")
      .toString + "/in"
    def run(): Unit = {
      val q = spark.readStream.schema("k BIGINT, v DOUBLE").json(srcDir)
        .writeStream.option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"graft_lake.$n.t")
      q.awaitTermination(60000L); assert(!q.isActive)
    }
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").write.json(srcDir)
    run()
    assert(spark.table(s"graft_lake.$n.t").count() == 2)
    // restart on the SAME checkpoint with no new data: replay-safe
    run()
    assert(spark.table(s"graft_lake.$n.t").count() == 2)
    // new files on the same checkpoint: only the delta lands
    Seq((3L, 3.0)).toDF("k", "v").write.mode("append").json(srcDir)
    run()
    assert(spark.sql(s"SELECT k FROM graft_lake.$n.t ORDER BY k")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    // rows staged by executors, adopted by the commit: no stray staging
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(rootOf(n, "t"), "_staging")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(rootOf(n, "t"), "_staging"))
        .forall(d => fs.listStatus(d.getPath).isEmpty))

    // keyed upsert via options — the format sink's contract, by name
    spark.sql(s"CREATE TABLE graft_lake.$n.u (k BIGINT, ts BIGINT, v DOUBLE)")
    val ck2 = java.nio.file.Files.createTempDirectory("graft-tt-ck2").toString
    val src2 = java.nio.file.Files.createTempDirectory("graft-tt-src2")
      .toString + "/in"
    Seq((1L, 10L, 1.0), (1L, 20L, 1.5), (2L, 10L, 2.0))
      .toDF("k", "ts", "v").write.json(src2)
    val q2 = spark.readStream.schema("k BIGINT, ts BIGINT, v DOUBLE").json(src2)
      .writeStream.option("checkpointLocation", ck2)
      .option("keys", "k").option("order", "ts")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"graft_lake.$n.u")
    q2.awaitTermination(60000L); assert(!q2.isActive)
    assert(spark.sql(s"SELECT k, v FROM graft_lake.$n.u ORDER BY k")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 1.5), (2L, 2.0)))

    // partitioned table: the epoch lands hive-partitioned per the layout
    spark.sql(s"CREATE TABLE graft_lake.$n.p (day STRING, k BIGINT) " +
      "PARTITIONED BY (day)")
    val ck3 = java.nio.file.Files.createTempDirectory("graft-tt-ck3").toString
    val src3 = java.nio.file.Files.createTempDirectory("graft-tt-src3")
      .toString + "/in"
    Seq(("2026-01-01", 1L), ("2026-01-02", 2L)).toDF("day", "k").write.json(src3)
    val q3 = spark.readStream.schema("day STRING, k BIGINT").json(src3)
      .writeStream.option("checkpointLocation", ck3)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"graft_lake.$n.p")
    q3.awaitTermination(60000L); assert(!q3.isActive)
    assert(spark.sql(
      s"SELECT k FROM graft_lake.$n.p WHERE day = '2026-01-02'")
      .as[Long].collect().toSeq == Seq(2L))

    // Complete mode refuses with a pointer at foreachBatch (the refusal
    // surfaces on the stream thread, so await the query's failure)
    val q4 = spark.readStream.schema("k BIGINT, v DOUBLE").json(srcDir)
      .groupBy($"k").count().select($"k", $"count".cast("double").as("v"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-tt-ck4").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"graft_lake.$n.t")
    val err = intercept[Exception] { q4.awaitTermination() }
    assert(err.toString.contains("foreachBatch") ||
      Option(err.getCause).exists(_.toString.contains("foreachBatch")))

    spark.sql(s"DROP TABLE graft_lake.$n.t")
    spark.sql(s"DROP TABLE graft_lake.$n.u")
    spark.sql(s"DROP TABLE graft_lake.$n.p")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }
}
