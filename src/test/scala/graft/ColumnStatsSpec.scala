package graft

import org.apache.spark.sql.functions._

/** Column-level statistics to the optimizer: graft_lake scans fold the
  * manifest's per-file footer stats (min/max/null/row counts) into DSv2
  * ColumnStatistics, and with CBO on (the engine default) the planner
  * estimates filter selectivity AT PLAN TIME — pinned here by a join
  * whose broadcast decision flips on a selective filter with AQE
  * DISABLED, i.e. the decision is driven by the reported column stats,
  * not by runtime observation. */
class ColumnStatsSpec extends SparkSpec {
  import spark.implicits._

  test("CBO broadcasts a selectively-filtered fact side from manifest column stats") {
    val n = "cstat_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.f (k BIGINT, v DOUBLE)")
    spark.sql(s"CREATE TABLE graft_lake.$n.d (k BIGINT, w DOUBLE)")
    spark.sql(s"INSERT INTO graft_lake.$n.f " +
      "SELECT id AS k, CAST(id AS DOUBLE) FROM range(0, 200000)")
    spark.sql(s"INSERT INTO graft_lake.$n.d " +
      "SELECT id AS k, CAST(id AS DOUBLE) FROM range(0, 200000)")
    val q =
      s"""SELECT f.k, f.v, d.w FROM graft_lake.$n.f f
         |JOIN graft_lake.$n.d d ON f.k = d.k
         |WHERE f.k < 100""".stripMargin
    try withConf(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "65536") {
      // both tables are ~MB-scale (over the 64 KB threshold); the
      // filter keeps 100 of 200k rows. Only COLUMN stats can tell the
      // planner that — k's (min=0, max=199999) bounds estimate the
      // selectivity at plan time and the filtered side broadcasts.
      val withCbo = withConf("spark.sql.cbo.enabled" -> "true") {
        spark.sql(q).queryExecution.executedPlan.toString
      }
      assert(withCbo.contains("BroadcastHashJoin"),
        s"column stats + CBO must broadcast the filtered side:\n$withCbo")
      // same query, CBO off: size-only estimation cannot see the
      // selectivity, the plan stays sort-merge — the flip IS the stats
      val noCbo = withConf("spark.sql.cbo.enabled" -> "false") {
        spark.sql(q).queryExecution.executedPlan.toString
      }
      assert(noCbo.contains("SortMergeJoin"),
        s"without CBO the same join should sort-merge (sanity):\n$noCbo")
      // answers agree, of course
      val a = withConf("spark.sql.cbo.enabled" -> "true") {
        spark.sql(q).as[(Long, Double, Double)].collect().toSeq.sorted }
      assert(a.size == 100 && a.head == ((0L, 0.0, 0.0)))
    } finally {
      spark.sql(s"DROP TABLE graft_lake.$n.f")
      spark.sql(s"DROP TABLE graft_lake.$n.d")
      spark.sql(s"DROP NAMESPACE graft_lake.$n")
    }
  }

  test("HLL sketch ndv stops the huge-ndv misestimate on string join keys") {
    val n = "cstat_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    // f.s has FOUR distinct values across 200k rows. Without a sketch
    // the honest fallback ndv for a string column is the non-null count
    // (200k), so `s = 'cat_a'` estimates 1/200k selectivity ≈ 1 row and
    // CBO broadcasts a 50k-row side; with stats.ndv.cols the per-file
    // HLL sketches union to ndv ≈ 4, the estimate becomes ~50k rows and
    // the join stays sort-merge — the sketch prevents the
    // wrongly-broadcast-a-big-side failure mode. AQE OFF throughout, so
    // the decision is the reported statistic, not runtime observation.
    spark.sql(s"CREATE TABLE graft_lake.$n.f (k BIGINT, s STRING, v DOUBLE) " +
      s"TBLPROPERTIES ('${graft.sources.ManifestTable.NdvColsProp}' = 's')")
    spark.sql(s"CREATE TABLE graft_lake.$n.g (k BIGINT, s STRING, v DOUBLE)")
    for (t <- Seq("f", "g"))
      spark.sql(s"INSERT INTO graft_lake.$n.$t SELECT id, " +
        "concat('cat_', substring('abcd', CAST(id % 4 AS INT) + 1, 1)), " +
        "CAST(id AS DOUBLE) FROM range(0, 200000)")
    spark.sql(s"CREATE TABLE graft_lake.$n.d (k BIGINT, w DOUBLE)")
    spark.sql(s"INSERT INTO graft_lake.$n.d " +
      "SELECT id, CAST(id AS DOUBLE) FROM range(0, 200000)")
    def q(t: String) =
      s"""SELECT f.k, f.v, d.w FROM graft_lake.$n.$t f
         |JOIN graft_lake.$n.d d ON f.k = d.k
         |WHERE f.s = 'cat_a'""".stripMargin
    try withConf(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "65536") {
      val sketched = spark.sql(q("f")).queryExecution.executedPlan.toString
      assert(sketched.contains("SortMergeJoin"),
        s"sketch ndv ≈ 4 estimates ~50k filtered rows — must not broadcast:\n$sketched")
      val sketchless = spark.sql(q("g")).queryExecution.executedPlan.toString
      assert(sketchless.contains("BroadcastHashJoin"),
        s"fallback ndv = non-null count misestimates to ~1 row (sanity):\n$sketchless")
      assert(spark.sql(q("f")).count() == 50000L)
    } finally {
      for (t <- Seq("f", "g", "d")) spark.sql(s"DROP TABLE graft_lake.$n.$t")
      spark.sql(s"DROP NAMESPACE graft_lake.$n")
    }
  }

  test("bucket-source columns get ndv sketches by DEFAULT (no TBLPROPERTY, conf-gated)") {
    // a table bucketed on a key declares that key a join column by
    // construction — exactly where the string-ndv fallback misestimate
    // (previous test) bites. The commit sketches bucket SOURCES with no
    // opt-in; the auto set is the layout's handful of source columns,
    // so the write tax is bounded and flat per commit.
    val n = "cstat_" + java.util.UUID.randomUUID().toString.take(8)
    val wh = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft_warehouse"
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.b (k BIGINT, s STRING, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, s))")
    try {
      spark.sql(s"INSERT INTO graft_lake.$n.b SELECT id, " +
        "concat('cat_', substring('abcd', CAST(id % 4 AS INT) + 1, 1)), " +
        "CAST(id AS DOUBLE), NULL FROM range(0, 20000)")
      val root = s"$wh/$n/b"
      val st = graft.sources.ManifestTable.current(spark, root).get
      assert(st.files.nonEmpty &&
        st.files.forall(_.stats.get("s").exists(_.ndv.isDefined)),
        "the bucket-source column must carry an HLL sketch with no opt-in")
      // the non-source data column is NOT auto-sketched (bounded tax)
      assert(st.files.forall(_.stats.get("v").forall(_.ndv.isEmpty)))
      // conf off: subsequent commits skip the auto sketches (the commit
      // is ABOVE the micro-commit floor, so the conf is what's tested)
      withConf(graft.sources.ManifestTable.AutoNdvKey -> "false") {
        spark.sql(s"INSERT INTO graft_lake.$n.b SELECT id, 'cat_e', " +
          "CAST(id AS DOUBLE), NULL FROM range(20000, 26000)")
      }
      val st2 = graft.sources.ManifestTable.current(spark, root).get
      val newFiles = st2.files.filterNot(st.files.toSet)
      assert(newFiles.nonEmpty &&
        newFiles.forall(_.stats.get("s").forall(_.ndv.isEmpty)),
        "AutoNdvKey=false must disable the default sketches")
    } finally {
      spark.sql(s"DROP TABLE graft_lake.$n.b")
      spark.sql(s"DROP NAMESPACE graft_lake.$n")
    }
  }

  test("auto ndv sketches throttle on micro-commits; the floor never skips batch commits") {
    // the sketch job costs a flat ~0.5 s regardless of commit size
    // (SCALE_SMOKE.md, Round 17 ndv sketches) — a deliberate batch tax,
    // but a streaming sink committing every few seconds must not pay it
    // per micro-batch.
    // Below the rows-per-commit floor the AUTO sketches skip; explicit
    // stats.ndv.cols opt-ins and above-floor commits are untouched.
    val n = "cstat_" + java.util.UUID.randomUUID().toString.take(8)
    val wh = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft_warehouse"
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.m (k BIGINT, s STRING, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, s))")
    try {
      val root = s"$wh/$n/m"
      def files = graft.sources.ManifestTable.current(spark, root).get.files
      // a micro-commit (500 rows < the 4096-row default floor): no
      // sketch job, files committed without ndv
      spark.sql(s"INSERT INTO graft_lake.$n.m SELECT id, " +
        "concat('c', CAST(id % 4 AS STRING)), CAST(id AS DOUBLE), NULL " +
        "FROM range(0, 500)")
      val micro = files
      assert(micro.nonEmpty && micro.forall(_.stats.get("s").forall(_.ndv.isEmpty)),
        "a sub-floor commit must skip the auto sketch job")
      // a batch commit (well above the floor) still sketches — the
      // floor must never erase sketches from real batch ingest
      spark.sql(s"INSERT INTO graft_lake.$n.m SELECT id, " +
        "concat('c', CAST(id % 4 AS STRING)), CAST(id AS DOUBLE), NULL " +
        "FROM range(500, 20500)")
      val batchNew = files.filterNot(micro.toSet)
      assert(batchNew.nonEmpty &&
        batchNew.forall(_.stats.get("s").exists(_.ndv.isDefined)),
        "an above-floor commit must sketch as before")
      // floor = 0: every commit sketches, however small
      withConf(graft.sources.ManifestTable.AutoNdvMinRowsKey -> "0") {
        spark.sql(s"INSERT INTO graft_lake.$n.m SELECT id, 'c9', " +
          "CAST(id AS DOUBLE), NULL FROM range(20500, 20600)")
      }
      val zeroFloorNew = files.filterNot((micro ++ batchNew).toSet)
      assert(zeroFloorNew.nonEmpty &&
        zeroFloorNew.forall(_.stats.get("s").exists(_.ndv.isDefined)),
        "minRows=0 must sketch every commit")
      // OPTIMIZE restores coverage: its rewrite is ONE above-floor
      // commit, so the compacted micro-commit rows come back sketched
      spark.sql(s"GRAFT OPTIMIZE graft_lake.$n.m")
      assert(files.forall(_.stats.get("s").exists(_.ndv.isDefined)),
        "an above-floor OPTIMIZE rewrite must re-sketch the micro-commit rows")
    } finally {
      spark.sql(s"DROP TABLE graft_lake.$n.m")
      spark.sql(s"DROP NAMESPACE graft_lake.$n")
    }
  }

  test("GRAFT ANALYZE backfills ndv sketches metadata-only; coverage and the fold recover") {
    // the r18 gap: a micro-commit-built table's ndv coverage was only
    // restorable by OPTIMIZE — a FULL data rewrite. Backfill reads the
    // unsketched files' bytes once and commits ONE delta of enriched
    // entries: same data files, same bytes, coverage back.
    val n = "cstat_" + java.util.UUID.randomUUID().toString.take(8)
    val wh = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft_warehouse"
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.m (k BIGINT, s STRING) " +
      "PARTITIONED BY (bucket(4, s))")
    try {
      val root = s"$wh/$n/m"
      import graft.sources.ManifestTable
      def st = ManifestTable.current(spark, root).get
      // a micro-commit-built table: every commit under the floor, zero
      // sketches anywhere
      (0 until 4).foreach(i =>
        spark.sql(s"INSERT INTO graft_lake.$n.m SELECT id, " +
          s"concat('s', CAST(id % 97 AS STRING)), NULL " +
          s"FROM range(${i * 500}, ${i * 500 + 500})"))
      val before = st
      assert(before.files.forall(_.stats.get("s").forall(_.ndv.isEmpty)),
        "micro-commits must have skipped every sketch")
      val dataFiles = before.files.map(f => f.relPath -> f.bytes).toMap
      // SQL surface: one metadata commit, sketches attached everywhere
      val v = spark.sql(s"GRAFT ANALYZE graft_lake.$n.m").head().getLong(0)
      val after = st
      assert(v == before.version + 1 && after.version == v)
      assert(after.files.forall(_.stats.get("s").exists(_.ndv.isDefined)),
        "backfill must attach a sketch to every live file")
      // METADATA-only: identical data files, byte for byte
      assert(after.files.map(f => f.relPath -> f.bytes).toMap == dataFiles,
        "backfill must not rewrite or add data files")
      // the CBO fold returns to union-sketch ndv (97 distincts, far
      // below the 2000-row non-null-count fallback)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType)))
      val m = graft.sources.v2.GraftColumnStats.forFiles(after.files,
        after.tags, schema)
      val ndv = m.values().iterator().next().distinctCount()
      assert(ndv.isPresent && ndv.getAsLong >= 85 && ndv.getAsLong <= 110,
        s"fold must return to sketch ndv, got $ndv")
      // incremental + CDC surfaces treat ANALYZE as data-identical: the
      // backfill RE-ADDS every enriched file entry, and replaying those
      // adds would re-deliver the whole analyzed slice downstream
      assert(ManifestTable.changedFiles(spark, root, before.version, v).isEmpty,
        "an analyze commit must contribute nothing to the incremental change set")
      assert(ManifestTable.readChangeFeed(spark, root, before.version, v)
        .count() == 0L,
        "a CDC window spanning an analyze version must read zero changes")
      // idempotent: a second ANALYZE finds nothing and commits nothing
      assert(spark.sql(s"GRAFT ANALYZE graft_lake.$n.m").head().getLong(0) == v)
      // explicit ON list sketches a non-declared column too
      val v2 = spark.sql(s"GRAFT ANALYZE graft_lake.$n.m ON (k)").head().getLong(0)
      assert(v2 == v + 1 &&
        st.files.forall(_.stats.get("k").exists(_.ndv.isDefined)))
    } finally {
      spark.sql(s"DROP TABLE graft_lake.$n.m")
      spark.sql(s"DROP NAMESPACE graft_lake.$n")
    }
  }

  test("ndv fold is coverage-weighted: micro-commits never erase table ndv") {
    import graft.sources.ManifestTable.{ColStats, FileEntry}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    def sketch(values: Range): String = {
      val s = new org.apache.datasketches.hll.HllSketch(12)
      values.foreach(v => s.update(v.toLong))
      java.util.Base64.getEncoder.encodeToString(s.toCompactByteArray)
    }
    def entry(path: String, rows: Long, ndv: Option[String]) =
      FileEntry(path, bytes = 1L, stats = Map("k" ->
        ColStats('n', "0", "1000000", nulls = 0, count = rows, ndv = ndv)),
        rows = rows)
    val schema = StructType(Seq(StructField("k", LongType)))
    def ndvOf(files: Seq[FileEntry]): Option[Long] = {
      val m = graft.sources.v2.GraftColumnStats.forFiles(files, Map.empty, schema)
      val cs = m.values().iterator().next()
      if (cs.distinctCount().isPresent) Some(cs.distinctCount().getAsLong) else None
    }
    val sketched = Seq(
      entry("g/a.parquet", 50000, Some(sketch(0 until 40))),
      entry("g/b.parquet", 50000, Some(sketch(20 until 60))))
    // full coverage: union of the per-file sketches (~60 distincts),
    // far below the non-null-count fallback of 100k
    val full = ndvOf(sketched)
    assert(full.exists(n => n >= 55 && n <= 65), s"union ndv, got $full")
    // one sketch-less micro-commit (2% of rows): the union still
    // reports — understating by at most the uncovered distincts, the
    // SAFE direction (overstated ndv is the broadcast-misestimate bug)
    val micro = sketched :+ entry("g/c.parquet", 2000, None)
    val withMicro = ndvOf(micro)
    assert(withMicro.exists(n => n >= 55 && n <= 65),
      s"2% uncovered rows must not erase sketch ndv, got $withMicro")
    // a sketch-less file holding >5% of rows: decline to the hard
    // bounds (here the non-null count) — a table actually built of
    // micro-commits must not masquerade as sketch-covered
    val heavy = sketched :+ entry("g/d.parquet", 50000, None)
    val declined = ndvOf(heavy)
    assert(declined.exists(_ > 100000L),
      s"heavy uncovered fraction must fall back to the count bound, got $declined")
    // unknown manifest row count on the uncovered file: never guess
    // about coverage — decline to the hard bounds
    val unknown = sketched :+ entry("g/e.parquet", 2000, None).copy(rows = -1L)
    assert(ndvOf(unknown).exists(_ > 90000L))
  }

  test("bounds-free stat kinds (boolean, all-null) never crash planning") {
    val n = "cstat_" + java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    // a boolean column records '_'-kind stats (no usable bounds) and an
    // all-null column records counts only — both must fold to
    // bounds-free ColumnStatistics, not a BigDecimal("") crash at plan
    // time
    spark.sql(s"CREATE TABLE graft_lake.$n.b (k BIGINT, flag BOOLEAN, dead STRING)")
    spark.sql(s"INSERT INTO graft_lake.$n.b " +
      "SELECT id, id % 2 = 0, CAST(NULL AS STRING) FROM range(0, 100)")
    val got = spark.sql(s"SELECT count(*) FROM graft_lake.$n.b WHERE flag")
      .as[Long].head()
    assert(got == 50L)
    assert(spark.sql(s"SELECT k FROM graft_lake.$n.b WHERE k = 7")
      .as[Long].collect().toSeq == Seq(7L))
    spark.sql(s"DROP TABLE graft_lake.$n.b")
    spark.sql(s"DROP NAMESPACE graft_lake.$n")
  }
}
