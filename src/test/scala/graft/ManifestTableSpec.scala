package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.sources.{GraftLocalFileSystem, ManifestTable, Writers}

/** Object-store-safe commit protocol (ManifestTable) + commit-lock
  * recovery (forceUnlock). The half-commit tests simulate writer crashes
  * at every dangerous point and assert a reader NEVER observes them. */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-manifest").toString

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("write/read round-trip; overwrite bumps the version") {
    val root = tmp() + "/t"
    val v1 = ManifestTable.write(Seq((1, "a"), (2, "b")).toDF("k", "s"), root)
    assert(v1 == 1L)
    assert(ManifestTable.read(spark, root).orderBy("k").as[(Int, String)].collect()
      .toSeq == Seq((1, "a"), (2, "b")))
    val v2 = ManifestTable.write(Seq((3, "c")).toDF("k", "s"), root)
    assert(v2 == 2L)
    assert(ManifestTable.read(spark, root).as[(Int, String)].collect().toSeq ==
      Seq((3, "c")))
  }

  test("upsert carries untouched partitions forward by reference") {
    val root = tmp() + "/t"
    val seed = Seq(("2026-01-01", 1L, 10.0), ("2026-01-01", 2L, 20.0),
      ("2026-01-02", 3L, 30.0)).toDF("date", "key", "v")
    ManifestTable.upsertDedup(spark, seed, root, Seq("key"), "v", Seq("date"))
    val before = ManifestTable.current(spark, root).get
    val untouched = before.files.filter(_.partitionPath == "date=2026-01-02")
    assert(untouched.nonEmpty)
    // second batch touches only 2026-01-01: key 2 updated, key 9 new
    val fresh = Seq(("2026-01-01", 2L, 99.0), ("2026-01-01", 9L, 90.0))
      .toDF("date", "key", "v")
    ManifestTable.upsertDedup(spark, fresh, root, Seq("key"), "v", Seq("date"))
    val after = ManifestTable.current(spark, root).get
    assert(after.version == before.version + 1)
    // the untouched partition's physical files are the SAME entries —
    // carried by reference, not rewritten (the 100 TB property)
    assert(untouched.forall(after.files.contains))
    // and none of the old touched-partition files survive
    assert(!before.files.filter(_.partitionPath == "date=2026-01-01")
      .exists(after.files.contains))
    val got = ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0), (9L, 90.0)))
    // partition pruning still works through the manifest reader
    val pruned = ManifestTable.read(spark, root).filter($"date" === "2026-01-02")
    assert(pruned.count() == 1)
  }

  test("reader never observes a half-commit (crash at every point)") {
    val root = tmp() + "/t"
    ManifestTable.write(Seq((1, "a")).toDF("k", "s"), root)
    val v1 = ManifestTable.read(spark, root).as[(Int, String)].collect().toSeq
    // crash point A: generation fully written, manifest never created —
    // invisible (data files alone mean nothing)
    Seq((9, "z")).toDF("k", "s").write.parquet(root + "/gen-orphan")
    assert(ManifestTable.read(spark, root).as[(Int, String)].collect().toSeq == v1)
    // crash point B: manifest file created but sentinel never written
    // (died between create and close) — readers skip it and fall back
    val half = new Path(root, "_manifests/00000000000000000002.txt")
    val out = fs.create(half, false)
    out.write("version=2\nfile=gen-orphan/whatever.parquet\t123\n".getBytes("UTF-8"))
    out.close()
    assert(ManifestTable.current(spark, root).get.version == 1L)
    assert(ManifestTable.read(spark, root).as[(Int, String)].collect().toSeq == v1)
  }

  test("CAS commit: lost race throws, orphan generation is cleaned up") {
    val root = tmp() + "/t"
    ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 1L, 10.0)).toDF("date", "key", "v"),
      root, Seq("key"), "v", Seq("date"))
    // a concurrent claimer holds version 2 (fresh, within grace): our CAS
    // must refuse rather than skip past it
    val rival = new Path(root, "_manifests/00000000000000000002.txt")
    val out = fs.create(rival, false)
    out.write("version=2\n".getBytes("UTF-8")) // in-flight, sentinel-less
    out.close()
    val gensBefore = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).toSet
    intercept[ManifestTable.ConcurrentCommitException] {
      ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 2L, 20.0)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("date"))
    }
    // the loser deleted its own generation dir
    val gensAfter = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).toSet
    assert(gensAfter == gensBefore)
    // once the rival is known dead (older than the claim grace), the same
    // mutation recovers the slot and lands
    fs.setTimes(rival, System.currentTimeMillis() - 2 * ManifestTable.ClaimGraceMs, -1)
    ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 2L, 20.0)).toDF("date", "key", "v"),
      root, Seq("key"), "v", Seq("date"))
    assert(ManifestTable.current(spark, root).get.version == 2L)
    assert(ManifestTable.read(spark, root).count() == 2)
  }

  test("upsert refuses a partition-layout change (silent-duplicate hazard)") {
    val root = tmp() + "/t"
    ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 1L, 10.0)).toDF("date", "key", "v"),
      root, Seq("key"), "v", Seq("date"))
    // dropping (or changing) partitionCols against a partitioned table
    // would carry old files alongside a full rewrite — refused up front
    intercept[IllegalArgumentException] {
      ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 2L, 20.0)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Nil)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 2L, 20.0)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("key"))
    }
    // table unchanged by the refused attempts
    assert(ManifestTable.current(spark, root).get.version == 1L)
    assert(ManifestTable.read(spark, root).count() == 1)
  }

  test("upsert refuses a re-typed column (dtype drift, ADVICE r7)") {
    val root = tmp() + "/t"
    ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 1L, 10.0)).toDF("date", "key", "v"),
      root, Seq("key"), "v", Seq("date"))
    // v re-typed double -> int: names match, so the old name-only check
    // passed this and unionByName silently coerced — now refused
    val reTyped = Seq(("2026-01-01", 2L, 20)).toDF("date", "key", "v")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.upsertDedup(spark, reTyped, root, Seq("key"), "v", Seq("date"))
    }
    assert(e.getMessage.contains("column types differ"))
    // dtype drift on a COMMON column is refused even under mergeSchema
    // (evolution is additive only)
    intercept[IllegalArgumentException] {
      ManifestTable.upsertDedup(spark, reTyped, root, Seq("key"), "v", Seq("date"),
        mergeSchema = true)
    }
    assert(ManifestTable.current(spark, root).get.version == 1L)
  }

  test("partition columns read back pinned to string (no type inference)") {
    val root = tmp() + "/t"
    // "2026-01-01" would infer as DATE and a numeric partition as INT —
    // either re-type would re-spell dirs on rewrite out from under the
    // carry-forward string match; the manifest reader pins them to string
    ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 1L, 10.0)).toDF("date", "key", "v"),
      root, Seq("key"), "v", Seq("date"))
    val schema = ManifestTable.read(spark, root).schema
    assert(schema("date").dataType == org.apache.spark.sql.types.StringType)
    // and the session conf the pin toggles is restored afterwards
    assert(spark.conf.getOption(
      "spark.sql.sources.partitionColumnTypeInference.enabled").forall(_ == "true"))
  }

  test("write deletes its own generation when the claim loop exhausts") {
    val root = tmp() + "/t"
    // a FRESH (within-grace) sentinel-less corpse at v1 blocks every
    // claim attempt: current() sees no committed version, claim conflicts,
    // recovery declines (not past grace)
    val mdir = new Path(root, "_manifests")
    fs.mkdirs(mdir)
    val out = fs.create(new Path(mdir, f"${1L}%020d.txt"), false)
    out.write("version=1\n".getBytes("UTF-8"))
    out.close()
    val e = intercept[RuntimeException] {
      ManifestTable.write(Seq((1, "a")).toDF("k", "s"), root, maxAttempts = 2)
    }
    assert(e.getMessage.contains("could not claim"))
    // the orphan generation was cleaned up (never-orphan-yourself)
    val gens = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("gen-"))
    assert(gens.isEmpty, s"orphan generations left behind: ${gens.toSeq}")
  }

  test("upsertWithRetry: two racing writers both land, no lost update, no orphans") {
    val root = tmp() + "/t"
    val seed = Seq(("2026-01-01", 1L, 10.0), ("2026-01-02", 2L, 20.0))
      .toDF("date", "key", "v")
    ManifestTable.upsertDedup(spark, seed, root, Seq("key"), "v", Seq("date"))
    // two writers race DISJOINT partitions from the same start line: one
    // wins version 2, the other's CAS loses, re-reads, re-merges against
    // the winner's head and lands version 3 — no hand-rolled caller loop
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fut = Seq("2026-01-01" -> 11.0, "2026-01-02" -> 22.0).map {
        case (date, v) =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              gate.await()
              ManifestTable.upsertWithRetry(spark,
                Seq((date, if (date.endsWith("01")) 1L else 2L, v)).toDF("date", "key", "v"),
                root, Seq("key"), "v", Seq("date"), baseBackoffMs = 10L)
            }
          })
      }
      gate.countDown()
      val versions = fut.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.toSet == Set(2L, 3L), s"expected versions 2 and 3, got $versions")
    } finally pool.shutdownNow()
    // no lost update: BOTH writers' values are live
    val got = ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 11.0), (2L, 22.0)))
    // every generation on disk is referenced by some committed manifest —
    // the losing attempt deleted its orphan before retrying
    val onDisk = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).toSet
    val referenced = (1L to 3L).flatMap(v =>
      ManifestTable.readVersion(spark, root, v).inputFiles.toSeq
        .flatMap(_.split('/').find(_.startsWith("gen-")))).toSet
    assert(onDisk == referenced, s"orphans: ${onDisk -- referenced}")
  }

  test("create(overwrite = false) is exclusive: one of several racing writers wins") {
    // the manifest CAS claim is such a create: two winners would both
    // commit the same version
    val lfs = new GraftLocalFileSystem
    lfs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = tmp()
    val writers = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try (1 to 50).foreach { round =>
      val p = new Path(dir, s"v$round")
      val gate = new java.util.concurrent.CountDownLatch(1)
      val fut = (1 to writers).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.await()
            try { lfs.create(p, false).close(); true }
            catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
          }
        })
      }
      gate.countDown()
      val won = fut.count(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(won == 1, s"round $round: $won of $writers writers created $p")
    } finally { pool.shutdownNow(); lfs.close() }
  }

  test("upsertWithRetry exhausts retries under a permanently blocked slot") {
    val root = tmp() + "/t"
    ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 1L, 10.0)).toDF("date", "key", "v"),
      root, Seq("key"), "v", Seq("date"))
    // a FRESH sentinel-less corpse permanently blocks v2 (it stays inside
    // the claim grace): every CAS attempt loses, the bounded loop gives up
    val out = fs.create(new Path(root, f"_manifests/${2L}%020d.txt"), false)
    out.write("version=2\n".getBytes("UTF-8"))
    out.close()
    intercept[ManifestTable.ConcurrentCommitException] {
      ManifestTable.upsertWithRetry(spark,
        Seq(("2026-01-01", 1L, 99.0)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("date"), maxRetries = 2, baseBackoffMs = 1L)
    }
    // table unchanged and the failed attempts left no orphan generations
    assert(ManifestTable.current(spark, root).get.version == 1L)
    val liveGens = ManifestTable.read(spark, root).inputFiles.toSeq
      .flatMap(_.split('/').find(_.startsWith("gen-"))).toSet
    val onDisk = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("gen-")).toSet
    assert(onDisk == liveGens, s"orphans: ${onDisk -- liveGens}")
  }

  private def manifestText(root: String, v: Long): String = {
    val in = fs.open(new Path(root, f"_manifests/$v%020d.txt"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("partitioned upserts commit deltas; every Nth version snapshots + pointer") {
    val root = tmp() + "/t"
    def up(date: String, key: Long, v: Double): Long =
      ManifestTable.upsertDedup(spark, Seq((date, key, v)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("date"), checkpointInterval = 3)
    assert(up("2026-01-01", 1L, 1.0) == 1L) // first commit: snapshot
    assert(up("2026-01-02", 2L, 2.0) == 2L) // delta
    assert(up("2026-01-03", 3L, 3.0) == 3L) // v3 % 3 == 0: snapshot
    assert(up("2026-01-01", 1L, 9.0) == 4L) // delta
    assert(!manifestText(root, 1L).contains("kind=delta"))
    assert(manifestText(root, 2L).contains("kind=delta"))
    assert(!manifestText(root, 3L).contains("kind=delta"))
    assert(manifestText(root, 4L).contains("kind=delta"))
    // the pointer names the newest snapshot
    val ptr = fs.open(new Path(root, "_manifests/_last_checkpoint"))
    val ptrText = try scala.io.Source.fromInputStream(ptr, "UTF-8").mkString finally ptr.close()
    assert(ptrText.trim == "3")
    // a delta lists ONLY the touched partition: v4 touched 01-01, so the
    // untouched partitions' files appear nowhere in it (O(batch) bytes)
    val d4 = manifestText(root, 4L)
    assert(!d4.contains("date=2026-01-02") && !d4.contains("date=2026-01-03"), d4)
    // v4's remove list retires v1's 01-01 file; resolution folds it all
    val got = ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 9.0), (2L, 2.0), (3L, 3.0)))
  }

  test("resolution through the pointer equals resolution through the log") {
    val root = tmp() + "/t"
    (1 to 7).foreach { i =>
      ManifestTable.upsertDedup(spark,
        Seq((s"2026-01-0${i % 3 + 1}", i.toLong, i.toDouble)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("date"), checkpointInterval = 3)
    }
    val viaPointer = ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq
    val ptrPath = new Path(root, "_manifests/_last_checkpoint")
    // crash between snapshot commit and pointer write == pointer absent:
    // the listing fallback must produce the identical answer
    fs.delete(ptrPath, false)
    assert(ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq == viaPointer)
    // garbled pointer: same answer (hint is advisory, never trusted)
    val out = fs.create(ptrPath, true)
    out.write("not-a-version".getBytes("UTF-8")); out.close()
    assert(ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq == viaPointer)
    // stale pointer (an OLD snapshot): probe walks forward, same answer
    val out2 = fs.create(ptrPath, true)
    out2.write("3".getBytes("UTF-8")); out2.close()
    assert(ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq == viaPointer)
    // time travel resolves a delta version through its chain
    assert(ManifestTable.readVersion(spark, root, 5L).count() == 5L)
  }

  test("vacuum retains the snapshot+delta chain the kept versions need") {
    val root = tmp() + "/t"
    (1 to 5).foreach { i =>
      ManifestTable.upsertDedup(spark,
        Seq((s"2026-01-0$i", i.toLong, i.toDouble)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("date"), checkpointInterval = 2)
    }
    // log: v1 snap, v2 snap(2%2), v3 delta, v4 snap, v5 delta
    val live = ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq
    ManifestTable.vacuum(spark, root, keep = 2)
    // kept 5,4; floor = v4 (newest snapshot <= 4): v1..v3 dropped
    val versions = fs.listStatus(new Path(root, "_manifests"))
      .map(_.getPath.getName).filter(_.endsWith(".txt")).toSeq.sorted
    assert(versions == Seq("00000000000000000004.txt", "00000000000000000005.txt"))
    assert(ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq == live)
    // the delta head still resolves (its snapshot base was retained)
    assert(ManifestTable.readVersion(spark, root, 5L).count() == 5L)
  }

  test("vacuum heals a pointer that named a dropped snapshot") {
    val root = tmp() + "/t"
    (1 to 5).foreach { i =>
      ManifestTable.upsertDedup(spark,
        Seq((s"2026-01-0$i", i.toLong, i.toDouble)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("date"), checkpointInterval = 2)
    }
    // simulate a writer that crashed before its pointer writes: the
    // pointer still names the OLD snapshot v2, which vacuum drops
    val ptrPath = new Path(root, "_manifests/_last_checkpoint")
    val out = fs.create(ptrPath, true)
    out.write("2".getBytes("UTF-8")); out.close()
    ManifestTable.vacuum(spark, root, keep = 2) // floor = v4; drops v1..v3
    val in = fs.open(ptrPath)
    val ptr = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(ptr.trim == "4") // healed to the newest retained snapshot
    assert(ManifestTable.read(spark, root).count() == 5)
  }

  test("vacuum keeps a delta head's chain even when keep=1 lands on a delta") {
    val root = tmp() + "/t"
    (1 to 3).foreach { i =>
      ManifestTable.upsertDedup(spark,
        Seq((s"2026-01-0$i", i.toLong, i.toDouble)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("date"), checkpointInterval = 100)
    }
    // log: v1 snap, v2 delta, v3 delta — keep=1 keeps v3, whose chain
    // needs v1 and v2: NOTHING may be dropped
    val live = ManifestTable.read(spark, root).count()
    assert(ManifestTable.vacuum(spark, root, keep = 1) == 0)
    val versions = fs.listStatus(new Path(root, "_manifests"))
      .map(_.getPath.getName).filter(_.endsWith(".txt")).toSeq
    assert(versions.size == 3)
    assert(ManifestTable.read(spark, root).count() == live)
  }

  test("model-based random op sequence: table equals the in-memory model after every op") {
    modelRun()
  }

  test("model-based random op sequence with COLUMNAR snapshots (threshold 1)") {
    // same walk, every snapshot forced through the parquet-sidecar path
    spark.conf.set(ManifestTable.ColumnarSnapshotThresholdKey, "1")
    try modelRun()
    finally spark.conf.unset(ManifestTable.ColumnarSnapshotThresholdKey)
  }

  test("model-based walk with ONE partition: every delta chain is same-partition") {
    // the r8 fold-order bug hid from the 3-partition walk because its
    // seed never produced consecutive same-partition deltas; this walk
    // makes EVERY consecutive delta pair same-partition by construction
    modelRun(dates = Array("2026-01-01"))
  }

  private def modelRun(dates: Array[String] =
      Array("2026-01-01", "2026-01-02", "2026-01-03")): Unit = {
    // seeded random walk over the whole mutation surface — upserts
    // (delta AND snapshot commits, interval 3), full rewrites, compact,
    // vacuum — with the table read back and compared to a trivial
    // in-memory model after EVERY op. The strongest protocol check we
    // have: any resolution bug (delta fold order, remove-list mismatch,
    // chain break, vacuum over-delete) surfaces as a model divergence.
    val rnd = new scala.util.Random(8L)
    val root = tmp() + "/t"
    // key k lives in partition dates(k % |dates|) so a key never moves
    // partitions (upsert merges per touched partition)
    var model = Map.empty[Long, Double]
    var op = 0L
    def rows(n: Int): Seq[(String, Long, Double, Long)] =
      (0 until n).map { _ =>
        val k = rnd.nextInt(12).toLong
        (dates((k % dates.length).toInt), k, rnd.nextInt(100).toDouble, op)
      }.groupBy(_._2).map(_._2.last).toSeq // keep-last within the batch
    // incremental CONSUMER model: folds readChanges windows keep-last by
    // key, lagging behind at random so windows span multiple commits,
    // vacuums can cut its window (forcing the documented re-bootstrap),
    // and overwrite commits force the documented history check
    var cons = Map.empty[Long, Double]
    var consV = 0L
    def snapshotCons(): Unit = {
      cons = ManifestTable.read(spark, root)
        .select("key", "v").as[(Long, Double)].collect().toMap
      consV = ManifestTable.currentVersion(spark, root).get
    }
    def consume(i: Int): Unit = {
      val curV = ManifestTable.currentVersion(spark, root).get
      if (curV == consV) return
      // the documented consumer recipe: an overwrite inside the window
      // is a reset boundary the file-level feed cannot express — detect
      // via history and re-bootstrap from the snapshot
      val winOps = ManifestTable.history(spark, root)
        .filter(org.apache.spark.sql.functions.col("version") > consV &&
          org.apache.spark.sql.functions.col("version") <= curV)
        .select("op").collect().map(_.getString(0)).toSet
      // restore joins overwrite/delete as a reset boundary: reverted
      // rows re-emit with their OLD order stamps, which keep-last
      // folding cannot apply backwards
      if (winOps.contains("overwrite") || winOps.contains("delete") ||
          winOps.contains("restore")) snapshotCons()
      else try {
        val win = ManifestTable.readChanges(spark, root, consV, curV)
          .select("key", "v", "o").as[(Long, Double, Long)].collect()
        cons = cons ++ win.groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._3)._2 }
        consV = curV
      } catch {
        case e: RuntimeException if e.getMessage != null &&
            e.getMessage.contains("vacuumed") =>
          snapshotCons() // fell behind the retention horizon
      }
      assert(cons.toSeq.sorted == model.toSeq.sorted,
        s"incremental consumer diverged after op $i (window ops $winOps)")
    }
    // version → model at that version, for RESTORE targets
    var modelAt = Map.empty[Long, Map[Long, Double]]
    for (i <- 1 to 24) {
      op += 1
      val dice = if (i == 1) 0 else rnd.nextInt(20)
      dice match {
        case n if n < 6 =>
          val batch = rows(1 + rnd.nextInt(4))
          ManifestTable.upsertDedup(spark, batch.toDF("date", "key", "v", "o"),
            root, Seq("key"), "o", Seq("date"), checkpointInterval = 3)
          model = model ++ batch.map(r => r._2 -> r._3)
        case 6 =>
          ManifestTable.compact(spark, root, targetFileMB = 16)
        case 7 =>
          // clustered rewrite joins the walk: same read-back contract,
          // plus it must keep the stats/pruning invariant below intact
          ManifestTable.cluster(spark, root, Seq("key"), targetFileMB = 16)
        case 8 =>
          ManifestTable.vacuum(spark, root, keep = 1 + rnd.nextInt(2))
        case 9 =>
          // everything in the walk is tiny, so this rewrites all files —
          // the contract under test is rewrite-invisibility + model parity
          ManifestTable.compactSmallFiles(spark, root, smallFileMB = 16,
            targetFileMB = 16, minFiles = 2)
        case 10 =>
          ManifestTable.cluster(spark, root, Seq("key", "v"),
            targetFileMB = 16, zOrder = true)
        case 11 =>
          // copy-on-write DELETE of one key (predicate-pruned rewrite);
          // a delete that would empty the table is REFUSED by design
          // (file-less tables are unreadable) — model unchanged then
          val k = rnd.nextInt(12).toLong
          try {
            ManifestTable.delete(spark, root,
              org.apache.spark.sql.functions.col("key") === k)
            model = model - k
          } catch {
            case e: IllegalArgumentException
              if e.getMessage.contains("every live row") => ()
          }
        case 12 =>
          // copy-on-write UPDATE: bump one key's value (old-row based)
          val k = rnd.nextInt(12).toLong
          ManifestTable.update(spark, root,
            org.apache.spark.sql.functions.col("key") === k,
            Map("v" -> (org.apache.spark.sql.functions.col("v") + 1000.0),
              "o" -> org.apache.spark.sql.functions.lit(op)))
          model = model.map { case (mk, mv) => mk -> (if (mk == k) mv + 1000.0 else mv) }
        case 13 =>
          // MERGE (UpdateAll + insert) — same keep-last table effect as
          // an upsert, exercised through the copy-on-write path
          val batch = rows(1 + rnd.nextInt(3))
          ManifestTable.merge(spark, root, batch.toDF("date", "key", "v", "o"),
            keys = Seq("key"))
          model = model ++ batch.map(r => r._2 -> r._3)
        case 14 =>
          // MERGE-ON-READ delete: deletion vector instead of rewrite;
          // the full-clear refusal mirrors the copy-on-write guard
          val k = rnd.nextInt(12).toLong
          try {
            ManifestTable.deleteMoR(spark, root,
              org.apache.spark.sql.functions.col("key") === k)
            model = model - k
          } catch {
            case e: IllegalArgumentException
              if e.getMessage.contains("every live row") => ()
          }
        case 15 =>
          // MERGE-ON-READ update: old rows DV'd, updates appended
          val k = rnd.nextInt(12).toLong
          ManifestTable.updateMoR(spark, root,
            org.apache.spark.sql.functions.col("key") === k,
            Map("v" -> (org.apache.spark.sql.functions.col("v") + 500.0),
              "o" -> org.apache.spark.sql.functions.lit(op)))
          model = model.map { case (mk, mv) => mk -> (if (mk == k) mv + 500.0 else mv) }
        case 16 =>
          // MERGE-ON-READ merge (UpdateAll + insert)
          val batch = rows(1 + rnd.nextInt(3))
          ManifestTable.mergeMoR(spark, root, batch.toDF("date", "key", "v", "o"),
            keys = Seq("key"))
          model = model ++ batch.map(r => r._2 -> r._3)
        case 17 =>
          // fold any live deletion vectors back in (rewrite, rows same)
          ManifestTable.materializeDeletes(spark, root)
        case 18 =>
          // RESTORE to a random still-resolvable earlier version; the
          // model time-travels with it (vacuumed targets are refused
          // loudly — the walk just skips those)
          val cur = ManifestTable.currentVersion(spark, root).get
          val targets = modelAt.keys.filter(_ < cur).toSeq
          if (targets.nonEmpty) {
            val t = targets(rnd.nextInt(targets.size))
            try {
              ManifestTable.restore(spark, root, t)
              model = modelAt(t)
            } catch {
              case e: RuntimeException
                if e.getMessage != null && e.getMessage.contains("vacuumed") => ()
            }
          }
        case _ =>
          val fresh = rows(5)
          ManifestTable.write(fresh.toDF("date", "key", "v", "o"),
            root, Seq("date"))
          model = fresh.map(r => r._2 -> r._3).toMap
      }
      modelAt += ManifestTable.currentVersion(spark, root).get -> model
      val got = ManifestTable.read(spark, root)
        .select("key", "v").as[(Long, Double)].collect().toSeq.sorted
      assert(got == model.toSeq.sorted, s"divergence after op $i (dice $dice)")
      // data-skipping invariant at EVERY table state: a metadata-pruned
      // read equals the model under the same predicate — whatever mix of
      // generations, deltas, stats-less legacy entries and rewrites the
      // walk has produced
      val probe = rnd.nextInt(12).toLong
      val gotW = ManifestTable.readWhere(spark, root,
          org.apache.spark.sql.functions.col("key") === probe)
        .select("key", "v").as[(Long, Double)].collect().toSeq.sorted
      assert(gotW == model.filter(_._1 == probe).toSeq.sorted,
        s"readWhere divergence after op $i (dice $dice, key $probe)")
      // the lagging incremental consumer (always catches up at the end)
      if (i == 18 || rnd.nextInt(3) != 0) consume(i)
    }
  }

  test("delta chains fold OLDEST-first: consecutive same-partition deltas (r8 review)") {
    val root = tmp() + "/t"
    def up(v: Double, tag: String): Long =
      ManifestTable.upsertDedup(spark,
        Seq(("2026-01-01", 1L, v)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("date"), checkpointInterval = 100,
        tags = Map("x" -> tag))
    up(1.0, "t1") // v1 snapshot
    up(2.0, "t2") // v2 delta: removes v1's file, adds its own
    up(3.0, "t3") // v3 delta: removes v2's file, adds its own
    // newest-first folding re-added v2's file after applying v3's
    // remove against the base — the table read back BOTH rows
    val got = ManifestTable.read(spark, root)
      .select("key", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3.0)), s"stale delta rows resurrected: $got")
    // and the resolved tag state is the HEAD's, not the oldest delta's —
    // a regressed stream watermark would re-open the replay double-apply
    assert(ManifestTable.current(spark, root).get.tags("x") == "t3")
    // intermediate versions time-travel correctly through the chain
    assert(ManifestTable.readVersion(spark, root, 2L)
      .select("v").as[Double].collect().toSeq == Seq(2.0))
  }

  test("non-string partition columns normalize to string and stay upsertable (r8 review)") {
    val root = tmp() + "/t"
    // int partition column: before normalization, the table's string
    // read-back made every SECOND upsert fail the dtype check forever
    ManifestTable.upsertDedup(spark,
      Seq((1, 1L, 10.0), (2, 2L, 20.0)).toDF("bucket", "key", "v"),
      root, Seq("key"), "v", Seq("bucket"))
    ManifestTable.upsertDedup(spark,
      Seq((1, 1L, 99.0)).toDF("bucket", "key", "v"),
      root, Seq("key"), "v", Seq("bucket"))
    val df = ManifestTable.read(spark, root)
    assert(df.schema("bucket").dataType == org.apache.spark.sql.types.StringType)
    assert(df.orderBy("key").select("key", "v").as[(Long, Double)].collect().toSeq
      == Seq((1L, 99.0), (2L, 20.0)))
    // carried-forward untouched partition still prunable by its string value
    assert(ManifestTable.read(spark, root).filter($"bucket" === "2").count() == 1)
  }

  test("columnar snapshot: large snapshots commit as parquet sidecars") {
    spark.conf.set(ManifestTable.ColumnarSnapshotThresholdKey, "2")
    try {
      val root = tmp() + "/t"
      val seed = Seq(("2026-01-01", 1L, 10.0), ("2026-01-02", 2L, 20.0),
        ("2026-01-03", 3L, 30.0)).toDF("date", "key", "v")
      ManifestTable.upsertDedup(spark, seed, root, Seq("key"), "v", Seq("date"))
      // 3 files >= threshold 2: v1 is a snapshot-ref stub + parquet sidecar
      val t1 = manifestText(root, 1L)
      assert(t1.contains("kind=snapshot-ref") && t1.contains("count=3"), t1)
      assert(!t1.contains("file="), t1) // the stub carries no inline list
      val ckpts = fs.listStatus(new Path(root, "_manifests"))
        .map(_.getPath.getName).filter(_.startsWith("ckpt-"))
      assert(ckpts.length == 1)
      // a delta on top resolves THROUGH the sidecar
      ManifestTable.upsertDedup(spark, Seq(("2026-01-02", 2L, 99.0)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("date"))
      val got = ManifestTable.read(spark, root).orderBy("key")
        .select("key", "v").as[(Long, Double)].collect().toSeq
      assert(got == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
      // time travel to the columnar version itself
      assert(ManifestTable.readVersion(spark, root, 1L).count() == 3)
    } finally spark.conf.unset(ManifestTable.ColumnarSnapshotThresholdKey)
  }

  test("columnar snapshot: an unreadable sidecar degrades like a garbled manifest") {
    spark.conf.set(ManifestTable.ColumnarSnapshotThresholdKey, "2")
    try {
      val root = tmp() + "/t"
      def up(date: String, key: Long, v: Double): Long =
        ManifestTable.upsertDedup(spark, Seq((date, key, v)).toDF("date", "key", "v"),
          root, Seq("key"), "v", Seq("date"), checkpointInterval = 3)
      up("2026-01-01", 1L, 1.0) // v1 snapshot (columnar: 1 file < 2? no —
      // one partition = 1 file, below threshold -> INLINE; that's fine:
      // the v3 snapshot below is the columnar one (3 files)
      up("2026-01-02", 2L, 2.0) // v2 delta
      up("2026-01-03", 3L, 3.0) // v3 snapshot, 3 files -> columnar
      up("2026-01-01", 1L, 9.0) // v4 delta
      assert(manifestText(root, 3L).contains("kind=snapshot-ref"))
      val v2State = ManifestTable.readVersion(spark, root, 2L)
        .orderBy("key").select("key", "v").as[(Long, Double)].collect().toSeq
      // destroy v3's sidecar: v4 and v3 become unresolvable; readers must
      // fall back to v2 (resolves through the inline v1 snapshot), not crash
      val ckpt = fs.listStatus(new Path(root, "_manifests"))
        .map(_.getPath.getName).find(_.startsWith("ckpt-")).get
      fs.delete(new Path(root, s"_manifests/$ckpt"), true)
      val got = ManifestTable.read(spark, root).orderBy("key")
        .select("key", "v").as[(Long, Double)].collect().toSeq
      assert(got == v2State, s"expected fallback to v2, got $got")
    } finally spark.conf.unset(ManifestTable.ColumnarSnapshotThresholdKey)
  }

  test("transient resolution failure never re-seeds v1 below the vacuum floor") {
    // the r8-advice hazard: current() can transiently resolve to None
    // while committed versions exist (sidecar read fails soft); a writer
    // claiming v1 then would succeed BELOW the vacuum floor and the
    // pointer fast path would serve the fresh v1, silently shadowing
    // every newer commit. Both seed paths must refuse.
    spark.conf.set(ManifestTable.ColumnarSnapshotThresholdKey, "1")
    try {
      val root = tmp() + "/t"
      ManifestTable.write(Seq((1, "a")).toDF("k", "s"), root)
      ManifestTable.write(Seq((2, "b")).toDF("k", "s"), root)
      ManifestTable.vacuum(spark, root, keep = 1) // drops v1; floor = v2
      assert(!fs.exists(new Path(root, f"_manifests/${1L}%020d.txt")))
      // knock out v2's sidecar -> current() transiently None
      val ckpt = fs.listStatus(new Path(root, "_manifests"))
        .map(_.getPath.getName).find(_.startsWith("ckpt-")).get
      val hidden = new Path(root, "hidden-ckpt")
      assert(fs.rename(new Path(root, s"_manifests/$ckpt"), hidden))
      assert(ManifestTable.current(spark, root).isEmpty)
      // write(): refuses to seed v1, exhausts, cleans up its generation
      val gensBefore = fs.listStatus(new Path(root)).map(_.getPath.getName)
        .filter(_.startsWith("gen-")).toSet
      intercept[RuntimeException] {
        ManifestTable.write(Seq((9, "x")).toDF("k", "s"), root, maxAttempts = 2)
      }
      assert(!fs.exists(new Path(root, f"_manifests/${1L}%020d.txt")),
        "write() re-seeded v1 below the vacuum floor")
      assert(fs.listStatus(new Path(root)).map(_.getPath.getName)
        .filter(_.startsWith("gen-")).toSet == gensBefore, "orphan generation leaked")
      // upsert seed path: surfaces as a CAS conflict (retry-able)
      intercept[ManifestTable.ConcurrentCommitException] {
        ManifestTable.upsertDedup(spark, Seq((9, "x")).toDF("k", "s"),
          root, Seq("k"), "s")
      }
      assert(!fs.exists(new Path(root, f"_manifests/${1L}%020d.txt")))
      // restore the sidecar: the same writes now land ABOVE the head
      assert(fs.rename(hidden, new Path(root, s"_manifests/$ckpt")))
      assert(ManifestTable.write(Seq((9, "x")).toDF("k", "s"), root) == 3L)
      assert(ManifestTable.read(spark, root).as[(Int, String)].collect().toSeq ==
        Seq((9, "x")))
    } finally spark.conf.unset(ManifestTable.ColumnarSnapshotThresholdKey)
  }

  test("vacuum deletes dropped columnar sidecars and reclaims orphaned ones") {
    spark.conf.set(ManifestTable.ColumnarSnapshotThresholdKey, "1")
    try {
      val root = tmp() + "/t"
      (1 to 5).foreach { i =>
        ManifestTable.upsertDedup(spark,
          Seq((s"2026-01-0$i", i.toLong, i.toDouble)).toDF("date", "key", "v"),
          root, Seq("key"), "v", Seq("date"), checkpointInterval = 2)
      }
      // v1 snap, v2 snap, v3 delta, v4 snap, v5 delta — all snaps columnar
      // plus a sidecar orphaned by a simulated pre-claim crash
      fs.mkdirs(new Path(root, "_manifests/ckpt-orphaned"))
      ManifestTable.vacuum(spark, root, keep = 2) // floor v4: drops v1..v3
      val ckpts = fs.listStatus(new Path(root, "_manifests"))
        .map(_.getPath.getName).filter(_.startsWith("ckpt-")).toSet
      // v4's sidecar survives; v1/v2's are gone; the orphan needs deleteOrphans
      assert(ckpts.size == 2 && ckpts.contains("ckpt-orphaned"), ckpts)
      ManifestTable.vacuum(spark, root, keep = 2, deleteOrphans = true, orphanGraceMs = 0L)
      val after = fs.listStatus(new Path(root, "_manifests"))
        .map(_.getPath.getName).filter(_.startsWith("ckpt-")).toSet
      assert(after.size == 1 && !after.contains("ckpt-orphaned"), after)
      assert(ManifestTable.read(spark, root).count() == 5)
      assert(ManifestTable.readVersion(spark, root, 5L).count() == 5)
    } finally spark.conf.unset(ManifestTable.ColumnarSnapshotThresholdKey)
  }

  test("compact shrinks the file list, preserves rows, bumps version") {
    val root = tmp() + "/t"
    // fragmented seed: 4 files per partition, then tiny upsert generations.
    // Fragmentation IS the fixture, so the table opts out of the r19
    // optimized-write default (which would coalesce the seed to one file
    // per date and leave compact nothing to shrink).
    val seed = (1 to 40).map(i => (s"2026-01-0${i % 3 + 1}", i.toLong, i.toDouble))
      .toDF("date", "key", "v").repartition(4)
    ManifestTable.createEmpty(spark, root, seed.schema,
      partitionCols = Seq("date"),
      tags = Map(ManifestTable.OptimizedWriteProp -> "false"))
    ManifestTable.write(seed, root, Seq("date"))
    // upserts pinned to ONE date: the other two partitions keep their
    // fragmented seed files (carried by reference) until compaction
    (41 to 44).foreach { i =>
      ManifestTable.upsertDedup(spark,
        Seq(("2026-01-01", i.toLong, i.toDouble)).toDF("date", "key", "v"),
        root, Seq("key"), "v", Seq("date"))
    }
    val before = ManifestTable.current(spark, root).get
    assert(before.files.map(_.relPath.takeWhile(_ != '/')).distinct.size > 1)
    val rows = ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq
    val v = ManifestTable.compact(spark, root)
    val after = ManifestTable.current(spark, root).get
    assert(v == before.version + 1)
    assert(after.files.size < before.files.size)
    assert(ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq == rows)
    // partition layout survived compaction
    assert(after.files.forall(_.partitionPath.startsWith("date=")))
  }

  test("vacuum deletes dropped generations, keeps live ones") {
    val root = tmp() + "/t"
    (1 to 4).foreach(i =>
      ManifestTable.write(Seq((i, s"v$i")).toDF("k", "s"), root))
    val live = ManifestTable.read(spark, root).as[(Int, String)].collect().toSeq
    val deleted = ManifestTable.vacuum(spark, root, keep = 2)
    assert(deleted == 2) // gens of v1 and v2 (each write = full overwrite)
    assert(ManifestTable.read(spark, root).as[(Int, String)].collect().toSeq == live)
    // dropped manifests are gone too (the _last_checkpoint pointer is
    // not a manifest — it stays)
    val versions = fs.listStatus(new Path(root, "_manifests"))
      .map(_.getPath.getName).toSeq.filter(_.endsWith(".txt")).sorted
    assert(versions == Seq("00000000000000000003.txt", "00000000000000000004.txt"))
  }

  test("vacuum never counts a corpse manifest toward keep (table-loss hazard)") {
    val root = tmp() + "/t"
    ManifestTable.write(Seq((1, "a")).toDF("k", "s"), root)
    val live = ManifestTable.read(spark, root).as[(Int, String)].collect().toSeq
    // a sentinel-less corpse at the HEAD version (claimer died mid-create)
    val corpse = new Path(root, "_manifests/00000000000000000002.txt")
    val out = fs.create(corpse, false)
    out.write("version=2\n".getBytes("UTF-8"))
    out.close()
    // keep=1 must keep the newest COMMITTED manifest (v1), not the corpse
    val deleted = ManifestTable.vacuum(spark, root, keep = 1)
    assert(deleted == 0)
    assert(ManifestTable.read(spark, root).as[(Int, String)].collect().toSeq == live)
    assert(fs.exists(corpse)) // corpse recovery belongs to the claim path
  }

  test("vacuum(deleteOrphans) removes never-claimed generations") {
    val root = tmp() + "/t"
    ManifestTable.write(Seq((1, "a")).toDF("k", "s"), root)
    // a writer that crashed after writing its generation, before claiming
    Seq((9, "z")).toDF("k", "s").write.parquet(root + "/gen-orphan")
    assert(ManifestTable.vacuum(spark, root, keep = 1) == 0) // default: untouched
    assert(fs.exists(new Path(root, "gen-orphan")))
    assert(ManifestTable.vacuum(spark, root, keep = 1, deleteOrphans = true, orphanGraceMs = 0L) == 1)
    assert(!fs.exists(new Path(root, "gen-orphan")))
    assert(ManifestTable.read(spark, root).count() == 1)
  }

  test("upsert preserves a NULL-valued partition's existing rows") {
    val root = tmp() + "/t"
    val seed = Seq((Some("2026-01-01"), 1L, 10.0), (None, 2L, 20.0), (None, 3L, 30.0))
      .toDF("date", "key", "v")
    ManifestTable.upsertDedup(spark, seed, root, Seq("key"), "v", Seq("date"))
    // fresh batch touches the NULL partition: key 3 updated, key 8 new —
    // keys 1 AND 2 must survive (an equi-join prune would drop key 2's
    // row while retiring its file: silent data loss)
    val fresh = Seq((None, 3L, 99.0), (Option.empty[String], 8L, 80.0))
      .toDF("date", "key", "v")
    ManifestTable.upsertDedup(spark, fresh, root, Seq("key"), "v", Seq("date"))
    val got = ManifestTable.read(spark, root).orderBy("key")
      .select("key", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (3L, 99.0), (8L, 80.0)))
  }

  test("partition pruning reaches the scan through the manifest reader") {
    val root = tmp() + "/t"
    val seed = Seq(("2026-01-01", 1L, 10.0), ("2026-01-02", 2L, 20.0),
      ("2026-01-03", 3L, 30.0)).toDF("date", "key", "v")
    ManifestTable.write(seed, root, Seq("date"))
    ManifestTable.upsertDedup(spark, Seq(("2026-01-02", 9L, 90.0)).toDF("date", "key", "v"),
      root, Seq("key"), "v", Seq("date")) // two generations now
    val plan = ManifestTable.read(spark, root)
      .filter($"date" === "2026-01-02")
      .queryExecution.executedPlan.toString
    // the literal date predicate must land as a PartitionFilter on every
    // generation's scan — files of other partitions never open
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(pf.nonEmpty, plan)
    // every generation's scan carries the literal date in its PARTITION
    // filters (not merely a post-scan Filter node referencing the column)
    assert(pf.forall(_.contains("2026-01-02")), pf.mkString("\n"))
    assert(!plan.contains("PartitionFilters: []"), pf.mkString("\n"))
  }

  test("time travel reads any retained version bit-for-bit") {
    val root = tmp() + "/t"
    ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 1L, 10.0)).toDF("date", "key", "v"),
      root, Seq("key"), "v", Seq("date"))
    ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 1L, 99.0)).toDF("date", "key", "v"),
      root, Seq("key"), "v", Seq("date"))
    assert(ManifestTable.readVersion(spark, root, 1L)
      .select("v").as[Double].collect().toSeq == Seq(10.0))
    assert(ManifestTable.readVersion(spark, root, 2L)
      .select("v").as[Double].collect().toSeq == Seq(99.0))
    intercept[RuntimeException] { ManifestTable.readVersion(spark, root, 7L) }
  }

  test("schema drift errors by default; mergeSchema=true evolves additively") {
    val root = tmp() + "/t"
    ManifestTable.upsertDedup(spark, Seq(("2026-01-01", 1L, 10.0)).toDF("date", "key", "v"),
      root, Seq("key"), "v", Seq("date"))
    // a typo'd column must ERROR, not commit and read back as nulls
    intercept[IllegalArgumentException] {
      ManifestTable.upsertDedup(spark,
        Seq(("2026-01-02", 2L, 20.0)).toDF("date", "key", "val"),
        root, Seq("key"), "val", Seq("date"))
    }
    // deliberate evolution: a later batch adds a `lang` column; the
    // untouched 01-01 generation carries forward without it
    ManifestTable.upsertDedup(spark,
      Seq(("2026-01-02", 2L, 20.0, "en")).toDF("date", "key", "v", "lang"),
      root, Seq("key"), "v", Seq("date"), mergeSchema = true)
    val got = ManifestTable.read(spark, root).orderBy("key")
      .select("key", "lang").collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(got == Seq((1L, None), (2L, Some("en"))))
  }

  test("stream batch commits are idempotent under replay, per sink") {
    val root = tmp() + "/t"
    def batch(rows: (String, Long, Double)*) = rows.toSeq.toDF("date", "key", "v")
    assert(ManifestTable.commitStreamBatch(spark,
      batch(("2026-01-01", 1L, 10.0)), 0L, root, Seq("key"), "v", Seq("date"), "s1"))
    assert(ManifestTable.commitStreamBatch(spark,
      batch(("2026-01-01", 2L, 20.0)), 1L, root, Seq("key"), "v", Seq("date"), "s1"))
    val before = ManifestTable.current(spark, root).get
    // restart-replay of batch 1 (foreachBatch is at-least-once): skipped,
    // no new version, no double-append
    assert(!ManifestTable.commitStreamBatch(spark,
      batch(("2026-01-01", 2L, 20.0)), 1L, root, Seq("key"), "v", Seq("date"), "s1"))
    assert(ManifestTable.current(spark, root).get == before)
    assert(ManifestTable.read(spark, root).count() == 2)
    // empty micro-batch (watermark tick): no file-less manifest committed
    assert(!ManifestTable.commitStreamBatch(spark,
      batch(), 2L, root, Seq("key"), "v", Seq("date"), "s1"))
    // the next real batch still lands
    assert(ManifestTable.commitStreamBatch(spark,
      batch(("2026-01-02", 3L, 30.0)), 3L, root, Seq("key"), "v", Seq("date"), "s1"))
    assert(ManifestTable.read(spark, root).orderBy("key")
      .select("key").as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    // a DIFFERENT sink (fresh checkpoint, ids restart at 0) is never
    // swallowed by s1's watermark — the per-sink fix
    assert(ManifestTable.commitStreamBatch(spark,
      batch(("2026-01-03", 9L, 90.0)), 0L, root, Seq("key"), "v", Seq("date"), "s2"))
    assert(ManifestTable.read(spark, root).count() == 4)
    // and a stray manual commit cannot rewind or corrupt a watermark
    intercept[IllegalArgumentException] {
      ManifestTable.upsertDedup(spark, batch(("2026-01-01", 5L, 50.0)),
        root, Seq("key"), "v", Seq("date"),
        tags = Map("stream_batch.s1" -> "garbage"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.upsertDedup(spark, batch(("2026-01-01", 5L, 50.0)),
        root, Seq("key"), "v", Seq("date"),
        tags = Map("stream_batch.s1" -> "1"))
    }
  }

  test("tags survive compaction and manual commits (replay watermark safety)") {
    val root = tmp() + "/t"
    def batch(rows: (String, Long, Double)*) = rows.toSeq.toDF("date", "key", "v")
    ManifestTable.commitStreamBatch(spark,
      batch(("2026-01-01", 1L, 10.0)), 5L, root, Seq("key"), "v", Seq("date"), "s1")
    // a maintenance compaction between stream batches...
    ManifestTable.compact(spark, root)
    // ...and a manual upsert...
    ManifestTable.upsertDedup(spark, batch(("2026-01-02", 2L, 20.0)),
      root, Seq("key"), "v", Seq("date"))
    // ...must both preserve the sink's last-applied batch id, so a
    // replay of batch 5 is still recognized
    assert(ManifestTable.current(spark, root).get.tags("stream_batch.s1") == "5")
    assert(!ManifestTable.commitStreamBatch(spark,
      batch(("2026-01-01", 1L, 10.0)), 5L, root, Seq("key"), "v", Seq("date"), "s1"))
    assert(ManifestTable.read(spark, root).count() == 2)
  }

  test("streamUpsertSink end-to-end: micro-batches land as manifest versions") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp() + "/t"
    val ckpt = tmp() + "/ckpt"
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Double)]
    val q = ManifestTable.streamUpsertSink(
      input.toDF().toDF("date", "key", "v"), root, ckpt,
      Seq("key"), "v", sinkId = "e2e", Seq("date"))
    try {
      input.addData(("2026-01-01", 1L, 10.0), ("2026-01-01", 2L, 20.0))
      q.processAllAvailable()
      input.addData(("2026-01-01", 2L, 99.0), ("2026-01-02", 3L, 30.0)) // key 2 updated
      q.processAllAvailable()
      val got = ManifestTable.read(spark, root).orderBy("key")
        .select("key", "v").as[(Long, Double)].collect().toSeq
      assert(got == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
      val st = ManifestTable.current(spark, root).get
      assert(st.tags.get("stream_batch.e2e").exists(_.toLong >= 1L))
    } finally q.stop()
  }

  test("streamUpsertSink auto-compaction folds micro-batch debt on cadence") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp() + "/t"
    val ckpt = tmp() + "/ckpt"
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long, Double)]
    val q = ManifestTable.streamUpsertSink(
      input.toDF().toDF("date", "key", "v"), root, ckpt,
      Seq("key"), "v", sinkId = "ac", Seq("date"), autoCompactEvery = 2)
    try {
      for (b <- 0 until 4) {
        input.addData(("2026-01-01", b.toLong, b * 1.0), ("2026-01-02", 100L + b, b * 1.0))
        q.processAllAvailable()
      }
      // batches 0 and 2 hit the cadence: a rewrite commit exists, the
      // content is intact, and the rewrite re-emitted nothing downstream
      val ops = ManifestTable.history(spark, root)
        .select("op").as[String].collect().toSeq
      assert(ops.contains("rewrite"), s"no auto-compact commit in $ops")
      assert(ManifestTable.read(spark, root).count() == 8)
      val rewriteV = ManifestTable.history(spark, root)
        .filter(org.apache.spark.sql.functions.col("op") === "rewrite")
        .select("version").as[Long].collect().max
      assert(ManifestTable.readChanges(spark, root, rewriteV - 1, rewriteV).count() == 0L)
    } finally q.stop()
  }

  // --- forceUnlock (commit-lock recovery) ---

  private def writeMarker(lock: Path, payload: String): Unit = {
    val out = fs.create(lock, false)
    out.writeUTF(payload)
    out.close()
  }

  test("forceUnlock clears a crashed holder's marker (dead pid verified)") {
    val dir = tmp() + "/locked"
    val lock = new Path(dir + "__lock")
    val deadPid = (200000L to 400000L).find(p => ProcessHandle.of(p).isEmpty).get
    val host = java.net.InetAddress.getLocalHost.getHostName
    writeMarker(lock, s"pid=$deadPid host=$host at=0")
    assert(Writers.forceUnlock(spark, dir))
    assert(!fs.exists(lock))
    // idempotent: nothing left to clear
    assert(!Writers.forceUnlock(spark, dir))
  }

  test("forceUnlock refuses a provably-alive holder, even when overridden") {
    val dir = tmp() + "/locked"
    val lock = new Path(dir + "__lock")
    val host = java.net.InetAddress.getLocalHost.getHostName
    writeMarker(lock, s"pid=${ProcessHandle.current().pid()} host=$host at=0")
    intercept[IllegalStateException] { Writers.forceUnlock(spark, dir) }
    intercept[IllegalStateException] {
      Writers.forceUnlock(spark, dir, iKnowTheHolderIsDead = true)
    }
    assert(fs.exists(lock)) // marker untouched
  }

  test("forceUnlock on an unverifiable holder needs the explicit override") {
    val dir = tmp() + "/locked"
    val lock = new Path(dir + "__lock")
    writeMarker(lock, s"pid=1234 host=some-other-machine at=0")
    intercept[IllegalStateException] { Writers.forceUnlock(spark, dir) }
    assert(Writers.forceUnlock(spark, dir, iKnowTheHolderIsDead = true))
    assert(!fs.exists(lock))
  }

  test("generation writes isolate the micros-timestamp conf from the caller session") {
    import org.apache.spark.sql.graftshim.SessionIsolation
    import graft.sources.DataSkipping
    val key = "spark.sql.parquet.outputTimestampType"
    val dir = tmp()
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-10 00:00:01")),
                 (2L, java.sql.Timestamp.valueOf("2024-02-10 00:00:01"))).toDF("id", "ts")
    // the isolated session carries TIMESTAMP_MICROS; the caller's session
    // — which a concurrent query on another thread would write through —
    // must NOT see it, even mid-write (the old temporally-scoped conf
    // mutation leaked exactly there)
    val iso = SessionIsolation.sessionWithConf(spark, key -> "TIMESTAMP_MICROS")
    assert(iso.conf.get(key) == "TIMESTAMP_MICROS")
    assert(!spark.conf.getOption(key).contains("TIMESTAMP_MICROS"))
    SessionIsolation.rebind(df, iso).coalesce(1).write.parquet(dir + "/micros")
    df.coalesce(1).write.parquet(dir + "/int96") // caller posture, concurrently valid
    def tsStats(sub: String) = {
      val f = new Path(dir + sub).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .globStatus(new Path(dir + sub + "/*.parquet")).head.getPath
      DataSkipping.footerStats(spark.sparkContext.hadoopConfiguration, f).get("ts")
    }
    // micros write has usable 't' footer stats; the INT96 write has none
    // for the timestamp column — proving the two sessions kept their own
    // posture side by side
    assert(tsStats("/micros").exists(_.kind == 't'))
    assert(!tsStats("/int96").exists(_.kind == 't'))
    // and the full manifest write path leaves the caller conf untouched
    val before = spark.conf.getOption(key)
    ManifestTable.write(df, dir + "/tbl")
    assert(spark.conf.getOption(key) == before)
    assert(ManifestTable.current(spark, dir + "/tbl").get
      .files.head.stats.get("ts").exists(_.kind == 't'))
  }

  test("TIMESTAMP AS OF resolves the last commit visible at that instant") {
    val root = tmp() + "/t"
    ManifestTable.write(Seq((1, "a")).toDF("k", "s"), root) // v1
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100) // mtime granularity can be a full second
    ManifestTable.write(Seq((2, "b")).toDF("k", "s"), root) // v2
    val afterV2 = System.currentTimeMillis()

    assert(ManifestTable.versionAtTime(spark, root, afterV1).contains(1L))
    assert(ManifestTable.versionAtTime(spark, root, afterV2).contains(2L))
    assert(ManifestTable.versionAtTime(spark, root, afterV1 - 3600000L).isEmpty)
    assert(ManifestTable.readTimestampAsOf(spark, root, afterV1)
      .as[(Int, String)].collect().toSeq == Seq((1, "a")))
    intercept[RuntimeException] {
      ManifestTable.readTimestampAsOf(spark, root, afterV1 - 3600000L)
    }
    // the SQL front door speaks it too (epoch millis or a timestamp string)
    assert(spark.read.format("graft-manifest").option("path", root)
      .option("timestampAsOf", afterV1.toString).load()
      .as[(Int, String)].collect().toSeq == Seq((1, "a")))
    // a bare-date literal resolves as that day's midnight (here: before
    // every commit → a loud error, not a parse failure)
    intercept[RuntimeException] {
      spark.read.format("graft-manifest").option("path", root)
        .option("timestampAsOf", "2001-01-01").load()
    }
  }

  test("lost CAS on DISJOINT partitions rebases the written generation, no recompute") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val root = tmp() + "/t"
    def mkd(day: String, ids: Range, v: Double) =
      ids.map(i => (day, i.toLong, v)).toDF("date", "key", "v")
    ManifestTable.upsertDedup(spark, mkd("d1", 0 until 5, 1.0)
      .union(mkd("d2", 10 until 15, 1.0)), root,
      keys = Seq("date", "key"), order = "v", partitionCols = Seq("date"))

    val before = ManifestTable.rebaseCount.get()
    var round = 0
    // raw upsertDedup, NO retry wrapper: a conflict either rebases
    // (disjoint — expected here) or surfaces as CCE (would fail the round)
    while (ManifestTable.rebaseCount.get() == before && round < 3) {
      round += 1
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def up(day: String, ids: Range): Future[Long] = Future {
        barrier.await()
        ManifestTable.upsertDedup(spark, mkd(day, ids, round + 1.0), root,
          keys = Seq("date", "key"), order = "v", partitionCols = Seq("date"))
      }
      val (a, b) = (up("d1", 0 until 5), up("d2", 10 until 15))
      Await.result(a, 120.seconds); Await.result(b, 120.seconds)
    }
    assert(ManifestTable.rebaseCount.get() > before,
      s"no rebase happened in $round raced rounds — conflicts recomputed or never occurred")
    // both writers' data landed exactly once
    val rows = ManifestTable.read(spark, root)
      .select("date", "key", "v").as[(String, Long, Double)].collect()
    assert(rows.length == 10, s"got ${rows.toSeq.sortBy(r => (r._1, r._2))}")
    assert(rows.filter(_._1 == "d1").map(_._2).sorted.toSeq == (0L until 5L))
    assert(rows.filter(_._1 == "d2").map(_._2).sorted.toSeq == (10L until 15L))
  }

  test("same-partition conflicts REFUSE the rebase (stale merge must recompute)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val root = tmp() + "/t"
    def mkd(ids: Range, v: Double) =
      ids.map(i => ("d1", i.toLong, v)).toDF("date", "key", "v")
    ManifestTable.upsertDedup(spark, mkd(0 until 5, 1.0), root,
      keys = Seq("date", "key"), order = "v", partitionCols = Seq("date"))
    val before = ManifestTable.rebaseCount.get()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def up(ids: Range, v: Double): Future[Either[Throwable, Long]] = Future {
      barrier.await()
      try Right(ManifestTable.upsertDedup(spark, mkd(ids, v), root,
        keys = Seq("date", "key"), order = "v", partitionCols = Seq("date")))
      catch { case e: ManifestTable.ConcurrentCommitException => Left(e) }
    }
    val (a, b) = (up(0 until 5, 2.0), up(5 until 9, 2.0))
    val (ra, rb) = (Await.result(a, 120.seconds), Await.result(b, 120.seconds))
    assert(ManifestTable.rebaseCount.get() == before,
      "a same-partition conflict must never rebase — the merged rows are stale")
    // without the retry wrapper, a genuine collision surfaces as CCE on
    // the loser; a clean serialization lands both — either way the
    // winner(s)' rows are exactly once
    val keys = ManifestTable.read(spark, root).select("key").as[Long].collect().sorted
    (ra, rb) match {
      case (Right(_), Right(_)) => assert(keys.toSeq == (0L until 9L))
      case _ => assert(keys.length >= 5) // loser's batch not applied, table intact
    }
  }

  test("restore rolls the file list back as a NEW auditable commit, zero data movement") {
    val root = tmp() + "/t"
    def content() = ManifestTable.read(spark, root)
      .as[(Int, String)].collect().toSet
    ManifestTable.write(Seq((1, "a"), (2, "b")).toDF("k", "s"), root) // v1
    val v1Rows = content()
    ManifestTable.upsertDedup(spark, Seq((3, "c")).toDF("k", "s"), root,
      keys = Seq("k"), order = "s")                                   // v2
    ManifestTable.delete(spark, root, org.apache.spark.sql.functions.col("k") === 1) // v3
    assert(content() == Set((2, "b"), (3, "c")))

    // restore to v1: new head v4, content bit-identical to v1, and the
    // generations were NOT rewritten (the restored entries are v1's own)
    val v1Files = ManifestTable.current(spark, root).map(_ =>
      ManifestTable.readVersion(spark, root, 1L)).get // proves v1 resolves
    val v4 = ManifestTable.restore(spark, root, 1L)
    assert(v4 == 4L)
    assert(content() == v1Rows)
    assert(v1Files.as[(Int, String)].collect().toSet == content())

    // history records the restore; the pre-restore head is still readable
    val ops = ManifestTable.history(spark, root)
      .select("version", "op").as[(Long, String)].collect().toMap
    assert(ops(4L) == "restore")
    assert(ManifestTable.readVersion(spark, root, 3L)
      .as[(Int, String)].collect().toSet == Set((2, "b"), (3, "c")))

    // restore away from the restore (forward to v3's content)
    ManifestTable.restore(spark, root, 3L)
    assert(content() == Set((2, "b"), (3, "c")))

    // no-op + error shapes
    val head = ManifestTable.currentVersion(spark, root).get
    assert(ManifestTable.restore(spark, root, head) == head)
    intercept[IllegalArgumentException] {
      ManifestTable.restore(spark, root, head + 5)
    }

    // vacuum after a restore keeps the resurrected generations live
    ManifestTable.restore(spark, root, 1L)
    ManifestTable.vacuum(spark, root, keep = 1, deleteOrphans = true, orphanGraceMs = 0L)
    assert(content() == v1Rows)
  }

  test("protocol gate: a newer-protocol manifest refuses loudly, never falls back") {
    val root = tmp() + "/proto"
    ManifestTable.write(Seq((1, "a")).toDF("k", "s"), root) // v1
    // hand-write a v2 manifest from a hypothetical future format: the
    // reader must REFUSE the table — an absent-style fallback would
    // silently serve v1 (stale reads are the resurrect hazard in
    // time-travel form)
    val p2 = java.nio.file.Paths.get(root, "_manifests", f"${2L}%020d.txt")
    java.nio.file.Files.write(p2,
      "version=2\nprotocol=99\nkind=delta\ncommit=ok".getBytes("UTF-8"))
    val e = intercept[ManifestTable.UnsupportedProtocolException] {
      ManifestTable.read(spark, root).collect()
    }
    assert(e.getMessage.contains("protocol 99"))
  }

  test("deletion-vector commits declare protocol=2 in the manifest text") {
    val root = tmp() + "/proto2"
    ManifestTable.write(Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v")
      .repartition(1), root)
    val v = ManifestTable.deleteMoR(spark, root, org.apache.spark.sql.functions.col("k") === 2L)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_manifests", f"$v%020d.txt")), "UTF-8")
    assert(text.contains("protocol=2"), s"dv commit should declare protocol=2:\n$text")
    // and a plain write stays protocol-1 implicit (byte-stable format)
    val text1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_manifests", f"${1L}%020d.txt")), "UTF-8")
    assert(!text1.contains("protocol="))
  }

  test("versionAtTime is monotonic under non-monotonic commit mtimes") {
    val root = tmp() + "/tt"
    ManifestTable.write(Seq((1, "a")).toDF("k", "s"), root)                 // v1
    ManifestTable.upsertDedup(spark, Seq((2, "b")).toDF("k", "s"), root,
      keys = Seq("k"), order = "s")                                          // v2
    ManifestTable.upsertDedup(spark, Seq((3, "c")).toDF("k", "s"), root,
      keys = Seq("k"), order = "s")                                          // v3
    def setMtime(v: Long, ms: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(root, "_manifests", f"$v%020d.txt"),
        java.nio.file.attribute.FileTime.fromMillis(ms))
    // clock skew / restored log: v3 carries an OLDER mtime than v2
    setMtime(1, 1000L); setMtime(2, 300000L); setMtime(3, 2000L)
    // at t=150000 a naive newest-first mtime scan would resolve v3 —
    // which CONTAINS v2's changes (committed "later", at 300000).
    // Delta-style adjusted (max-so-far) timestamps make v2 and v3 both
    // effectively 300000, so only v1 is at-or-before the instant.
    assert(ManifestTable.versionAtTime(spark, root, 150000L) == Some(1L))
    // and after every commit: the head resolves
    assert(ManifestTable.versionAtTime(spark, root, 300001L) == Some(3L))
    // before every commit: none
    assert(ManifestTable.versionAtTime(spark, root, 500L) == None)
  }

  test("per-file #rows: manifest carries counts, rowCount is DV-exact, legacy reads None") {
    import org.apache.spark.sql.functions.col
    val root = tmp() + "/rows"
    ManifestTable.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .repartition(1), root)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_manifests", f"${1L}%020d.txt")), "UTF-8")
    assert(text.contains("#rows:3"), s"expected a #rows:3 pseudo-spec:\n$text")
    assert(ManifestTable.rowCount(spark, root) == Some(3L))
    // merge-on-read delete: COUNT(*) stays EXACT while the DV is live
    // (rows - dv.count), even though data-column stats go honest-NULL
    ManifestTable.deleteMoR(spark, root, col("k") === 2L)
    assert(ManifestTable.rowCount(spark, root) == Some(2L))
    assert(ManifestTable.detail(spark, root).collect().head
      .getAs[java.lang.Long]("num_rows") == 2L)
    // legacy manifest (2-field file= lines, no stats, no #rows): still
    // parses, reads fine, and rowCount reports honest-None
    val legacyRoot = tmp() + "/rows_legacy"
    ManifestTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .repartition(1), legacyRoot)
    val mp = java.nio.file.Paths.get(legacyRoot, "_manifests", f"${1L}%020d.txt")
    val stripped = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .split('\n').map { l =>
        if (l.startsWith("file=")) l.split('\t').take(2).mkString("\t") else l
      }.mkString("\n")
    java.nio.file.Files.write(mp, stripped.getBytes("UTF-8"))
    // drop the local-FS checksum sidecar the out-of-band edit invalidated
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      legacyRoot, "_manifests", f".${1L}%020d.txt.crc"))
    assert(ManifestTable.read(spark, legacyRoot).count() == 2L)
    assert(ManifestTable.rowCount(spark, legacyRoot) == None)
  }

  test("statsOnly partition columns stay exact through live deletion vectors") {
    import org.apache.spark.sql.functions.col
    val root = tmp() + "/prows"
    ManifestTable.write(
      Seq((1L, 10.0, "x"), (2L, 20.0, "x"), (3L, 30.0, "y"), (4L, 40.0, "y"))
        .toDF("k", "v", "p").repartition(1),
      root, partitionCols = Seq("p"))
    ManifestTable.deleteMoR(spark, root, col("k") === 3L)
    val stats = ManifestTable.statsOnly(spark, root)
    // data columns: DV voids exactness -> honest NULL
    val vRow = stats.filter(col("column") === "v").collect().head
    assert(vRow.isNullAt(vRow.fieldIndex("value_count")))
    // partition column: live counts from dir values + per-file rows
    val pRow = stats.filter(col("column") === "p").collect().head
    assert(pRow.getLong(pRow.fieldIndex("value_count")) == 3L)
    assert(pRow.getLong(pRow.fieldIndex("null_count")) == 0L)
    assert(pRow.getString(pRow.fieldIndex("min")) == "x" &&
      pRow.getString(pRow.fieldIndex("max")) == "y")
  }

  test("createEmpty: schema-only seed reads empty, then appends normally") {
    import org.apache.spark.sql.types._
    val root = tmp() + "/t"
    val v = ManifestTable.createEmpty(spark, root, StructType(Seq(
      StructField("k", IntegerType), StructField("s", StringType))))
    assert(v == 1L)
    val empty = ManifestTable.read(spark, root)
    assert(empty.columns.toSeq == Seq("k", "s") && empty.count() == 0)
    // a second create races the existing v1 claim and must refuse
    intercept[ManifestTable.ConcurrentCommitException] {
      ManifestTable.createEmpty(spark, root, StructType(Seq(
        StructField("other", LongType))))
    }
    // INSERT INTO semantics against the recorded schema
    ManifestTable.retryOnConflict()(
      ManifestTable.append(spark, Seq((1, "a"), (2, "b")).toDF("k", "s"), root))
    assert(ManifestTable.read(spark, root).orderBy("k").as[(Int, String)]
      .collect().toSeq == Seq((1, "a"), (2, "b")))
    // and a mis-shaped batch still refuses against the recorded schema
    val rootB = tmp() + "/b"
    ManifestTable.createEmpty(spark, rootB, StructType(Seq(
      StructField("k", IntegerType))))
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, Seq((1, "a")).toDF("k", "extra"), rootB)
    }
  }

  test("createEmpty: declared partition layout sticks, reads back declared, prunes") {
    import org.apache.spark.sql.types._
    val root = tmp() + "/t"
    ManifestTable.createEmpty(spark, root, StructType(Seq(
      StructField("day", DateType), StructField("k", LongType),
      StructField("v", DoubleType))), partitionCols = Seq("day"))
    // partition VALUES live as strings for the table's whole life, but a
    // DATE declaration is a provably-canonical directory type
    // (PartitionTypes.SafeTypes), so the read side casts back to the
    // declaration — the first read == every read, in the DECLARED type
    assert(ManifestTable.read(spark, root).schema("day").dataType == DateType)
    assert(ManifestTable.partitionLayout(spark, root) == Seq("day"))
    def d(s: String) = java.sql.Date.valueOf(s)
    // an append (no explicit partitionCols) lands HIVE-partitioned per
    // the declared layout; the batch arrives in the declared type
    ManifestTable.retryOnConflict()(ManifestTable.append(spark,
      Seq((d("2026-01-01"), 1L, 1.0), (d("2026-01-02"), 2L, 2.0))
        .toDF("day", "k", "v"), root))
    val st = ManifestTable.current(spark, root).get
    assert(st.files.nonEmpty &&
      st.files.forall(_.partitionPath.startsWith("day=")))
    assert(ManifestTable.partitionLayout(spark, root) == Seq("day"))
    // keyed upserts (the streaming-sink shape) also respect the layout
    ManifestTable.upsertWithRetry(spark,
      Seq((d("2026-01-01"), 1L, 9.0)).toDF("day", "k", "v"), root,
      Seq("k"), "v", Seq("day"))
    assert(ManifestTable.read(spark, root).filter($"day" === "2026-01-01")
      .orderBy("k").select("v").as[Double].collect().toSeq == Seq(9.0))
    // a layout-contradicting upsert still refuses
    intercept[IllegalArgumentException] {
      ManifestTable.upsertDedup(spark,
        Seq((d("2026-01-03"), 3L, 3.0)).toDF("day", "k", "v"), root, Seq("k"), "v")
    }
    // a STRING-typed batch against the typed declaration refuses loudly
    // (a stray batch could otherwise spell a non-canonical directory the
    // typed read-back would null out)
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark,
        Seq(("2026-01-03", 3L, 3.0)).toDF("day", "k", "v"), root)
    }
    // an UNPROVABLE declared type (timestamp: dir encodings escape ':'
    // and vary by zone) keeps the engine's string-pinned read — the
    // pinned refusal, unchanged from birth
    val rootT = tmp() + "/ts"
    ManifestTable.createEmpty(spark, rootT, StructType(Seq(
      StructField("t", TimestampType), StructField("k", LongType))),
      partitionCols = Seq("t"))
    assert(ManifestTable.read(spark, rootT).schema("t").dataType == StringType)
  }

  test("createEmpty: MERGE into an empty table inserts; rename applies to the seed schema") {
    import org.apache.spark.sql.types._
    val root = tmp() + "/t"
    ManifestTable.createEmpty(spark, root, StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))))
    ManifestTable.merge(spark, root, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"),
      keys = Seq("k"))
    assert(ManifestTable.read(spark, root).orderBy("k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 10.0), (2L, 20.0)))

    val root2 = tmp() + "/r"
    ManifestTable.createEmpty(spark, root2, StructType(Seq(
      StructField("old", LongType), StructField("v", DoubleType))))
    ManifestTable.renameColumn(spark, root2, "old", "knew")
    assert(ManifestTable.read(spark, root2).columns.toSeq == Seq("knew", "v"))
    ManifestTable.retryOnConflict()(ManifestTable.append(spark,
      Seq((5L, 5.0)).toDF("knew", "v"), root2))
    assert(ManifestTable.read(spark, root2).orderBy("knew").as[(Long, Double)]
      .collect().toSeq == Seq((5L, 5.0)))
    // the schema tags are reserved from user tag traffic
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, Seq((6L, 6.0)).toDF("knew", "v"), root2,
        tags = Map("schema.create" -> "{}"))
    }
  }

  test("overwrite derives write.optimized from the table's tags: explicit choice carries, partitioned default stamps") {
    // (a) an EXPLICIT prior opt-out carries through a full overwrite —
    // one rewrite must not silently flip an ingest table back to
    // rebalance-shaped writes
    val root = tmp() + "/opt"
    val df = Seq(("2026-01-01", 1L), ("2026-01-02", 2L)).toDF("date", "k")
    ManifestTable.createEmpty(spark, root, df.schema,
      partitionCols = Seq("date"),
      tags = Map(ManifestTable.OptimizedWriteProp -> "false"))
    ManifestTable.write(df, root, Seq("date"))
    assert(ManifestTable.current(spark, root).get.tags
      .get(ManifestTable.OptimizedWriteProp).contains("false"))
    // (b) a partitioned overwrite of a tag-less table defaults true (the
    // createEmpty rule, applied at the write() creation path too). NOTE
    // for operators of pre-r19 tables: this overwrite path STAMPS the
    // default into the committed tags, so one rewrite opts a legacy
    // partitioned table into rebalance-shaped appends — set
    // write.optimized=false explicitly to keep the old shape.
    val root2 = tmp() + "/fresh"
    ManifestTable.write(df, root2, Seq("date"))
    assert(ManifestTable.current(spark, root2).get.tags
      .get(ManifestTable.OptimizedWriteProp).contains("true"))
    // (c) an unpartitioned overwrite stamps nothing
    val root3 = tmp() + "/flat"
    ManifestTable.write(df, root3)
    assert(!ManifestTable.current(spark, root3).get.tags
      .contains(ManifestTable.OptimizedWriteProp))
  }

  test("writer-seeded schema memo: derived read-back schema equals inference across layouts") {
    import org.apache.spark.sql.types._
    // the writer seeds the memo with readBackSchema(writtenFrame, parts);
    // this pins derivation ≡ the inference-off construction genFrame
    // would otherwise run, for the shapes the engine writes: flat frames
    // with nested arrays/timestamps, and multi-column identity layouts
    // (partition values string-normalized at write, appended last on read)
    def inferred(genDir: String): StructType =
      withConf("spark.sql.sources.partitionColumnTypeInference.enabled" -> "false") {
        spark.read.option("basePath", genDir).parquet(genDir).schema
      }
    def genDirOf(root: String): String = {
      val st = ManifestTable.current(spark, root).get
      root + "/" + st.files.head.relPath.takeWhile(_ != '/')
    }
    val flat = tmp() + "/flat"
    val df1 = Seq((1L, Array(1.0f, 2.0f),
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "x"))
      .toDF("k", "vec", "ts", "s")
    ManifestTable.write(df1, flat)
    assert(ManifestTable.readBackSchema(df1.schema, Nil) == inferred(genDirOf(flat)))
    val part = tmp() + "/part"
    val df2 = Seq(("2026-01-01", 3, 1L, 2.5)).toDF("day", "b", "k", "v")
    ManifestTable.write(df2, part, Seq("day", "b"))
    val written2 = StructType(df2.schema.fields.map(f =>
      if (Seq("day", "b").contains(f.name)) f.copy(dataType = StringType) else f))
    assert(ManifestTable.readBackSchema(written2, Seq("day", "b")) ==
      inferred(genDirOf(part)))
  }

  test("writer seed declines a case-mismatched partition spec") {
    // partitionBy resolves case-insensitively under the default
    // caseSensitive=false, so a spec spelled "day" against a written
    // column "Day" still partitions — but readBackSchema's exact-match
    // derivation would seed a phantom data field plus a duplicate
    // partition field into the memo (r20 review finding). The writer
    // declines the seed on any non-exact spec; the first read pays one
    // inference job and every construction returns the inferred truth.
    val root = tmp() + "/casemix"
    val df = Seq(("2026-01-01", 1L), ("2026-01-02", 2L)).toDF("Day", "k")
    ManifestTable.write(df, root, Seq("day"))
    val first = ManifestTable.read(spark, root)
    assert(first.schema.fields.count(_.name.equalsIgnoreCase("day")) == 1,
      s"case-duplicate partition field in ${first.schema.treeString}")
    assert(first.columns.length == 2)
    // the miss-path memoization stores the inferred (correct) schema:
    // a second construction agrees, and rows round-trip
    val second = ManifestTable.read(spark, root)
    assert(second.schema == first.schema)
    assert(second.select("k").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("generation schema memo: repeated read construction fires no inference job, subset reads agree") {
    import org.apache.spark.sql.functions.col
    val root = tmp() + "/memo"
    val df = (1 to 200).map(i => (s"2026-01-0${i % 3 + 1}", i.toLong, i.toDouble))
      .toDF("date", "k", "v")
    ManifestTable.write(df, root, Seq("date"))
    val jobCount = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); ()
      }
    }
    // first read after the commit seeds/uses the memo; construct twice
    // and pin: the SECOND construction is job-free (a generation is
    // immutable — its inferred schema is a constant, and re-inferring it
    // was a footer-reading Spark job per construction, r20)
    val first = ManifestTable.read(spark, root)
    spark.sparkContext.addSparkListener(listener)
    try {
      val second = ManifestTable.read(spark, root)
      assert(second.schema == first.schema)
      Thread.sleep(500) // let the listener bus drain
      assert(jobCount.get() == 0,
        s"read construction should be job-free on a memoized generation, saw ${jobCount.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a PRUNED subset read resolves through the same memo and returns
    // exactly the matching rows with the same schema
    val pruned = ManifestTable.readWhere(spark, root, col("date") === "2026-01-01")
    assert(pruned.schema == first.schema)
    assert(pruned.count() == df.filter(col("date") === "2026-01-01").count())
    // rows and full-read answer are unchanged
    assert(ManifestTable.read(spark, root).select("date", "k", "v").orderBy("k")
      .as[(String, Long, Double)].collect().toSeq ==
      df.select("date", "k", "v").orderBy("k")
        .as[(String, Long, Double)].collect().toSeq)
  }
}
