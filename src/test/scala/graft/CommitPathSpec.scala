package graft

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ManifestTable

/** The manifest commit path end to end: every committing mutator leaves
  * the table directory exactly as it found it when its claim is lost,
  * merge-on-read DML applies in partitions whose directory names need
  * escaping, merges accept typed partition columns, and no maintenance
  * rewrite commits rows the manifest does not account for. */
class CommitPathSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-commit").toString + "/t"

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ns(): String = "cp_" + UUID.randomUUID().toString.take(8)

  private def rootOf(n: String, table: String): String =
    spark.sessionState.catalogManager.catalog("graft_lake")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array(n), table))
      .properties().get("location")

  /** Every file and directory under `root`, root-relative. */
  private def listing(root: String): Set[String] = {
    val base = Paths.get(root)
    val it = Files.walk(base)
    try {
      val b = Set.newBuilder[String]
      it.forEach(p => b += base.relativize(p).toString)
      b.result()
    } finally it.close()
  }

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("p", StringType), StructField("v", LongType)))

  private def rows(ks: Seq[Long], p: String, v: Long): DataFrame =
    ks.map(k => (k, p, v)).toDF("k", "p", "v")

  test("every mutator that loses its claim throws and leaves the table dir unchanged") {
    // snapshots go through a parquet sidecar too, so its cleanup is covered
    spark.conf.set(ManifestTable.ColumnarSnapshotThresholdKey, "1")
    try {
      val cases: Seq[(String, String => Unit, String => Any)] = Seq(
        ("append", _ => (), r => ManifestTable.append(spark, rows(Seq(9L), "a", 9L), r)),
        ("append (snapshot)", _ => (), r =>
          ManifestTable.append(spark, rows(Seq(9L), "a", 9L), r, checkpointInterval = 1)),
        ("write", _ => (), r =>
          ManifestTable.write(rows(Seq(9L), "a", 9L), r, Seq("p"), maxAttempts = 1)),
        ("replacePartitions", _ => (), r =>
          ManifestTable.replacePartitions(spark, rows(Seq(9L), "a", 9L), r)),
        ("upsert", _ => (), r =>
          ManifestTable.upsertDedup(spark, rows(Seq(1L, 9L), "a", 9L), r, Seq("k"), "v",
            Seq("p"))),
        ("replaceWhere", _ => (), r =>
          ManifestTable.replaceWhere(spark, rows(Seq(9L), "a", 9L), r, col("p") === "a")),
        ("truncate", _ => (), r => ManifestTable.truncate(spark, r)),
        ("delete", _ => (), r => ManifestTable.delete(spark, r, col("k") === 1L)),
        ("update", _ => (), r =>
          ManifestTable.update(spark, r, col("k") === 1L, Map("v" -> lit(7L)))),
        ("merge", _ => (), r =>
          ManifestTable.merge(spark, r, rows(Seq(1L, 9L), "a", 9L), Seq("k"))),
        ("deleteMoR", _ => (), r => ManifestTable.deleteMoR(spark, r, col("k") === 1L)),
        ("updateMoR", _ => (), r =>
          ManifestTable.updateMoR(spark, r, col("k") === 1L, Map("v" -> lit(7L)))),
        ("mergeMoR", _ => (), r =>
          ManifestTable.mergeMoR(spark, r, rows(Seq(1L, 9L), "a", 9L), Seq("k"))),
        ("materializeDeletes", r => ManifestTable.deleteMoR(spark, r, col("k") === 1L),
          r => ManifestTable.materializeDeletes(spark, r)),
        ("compact", _ => (), r => ManifestTable.compact(spark, r)),
        ("compactSmallFiles", _ => (), r => ManifestTable.compactSmallFiles(spark, r)),
        ("optimize", _ => (), r => ManifestTable.optimize(spark, r)),
        ("cluster", _ => (), r => ManifestTable.cluster(spark, r, Seq("k"))),
        ("restore", _ => (), r => ManifestTable.restore(spark, r, 2L)),
        ("buildBloomIndex", _ => (), r => ManifestTable.buildBloomIndex(spark, r, Seq("k"))))
      val leaks = cases.flatMap { case (name, prep, mutate) =>
        val root = tmp()
        ManifestTable.createEmpty(spark, root, schema, Seq("p"),
          tags = Map("cdf.enabled" -> "true"))
        // two small files per partition: every rewrite has work to do
        ManifestTable.append(spark, rows(Seq(1L, 2L), "a", 1L).union(rows(Seq(3L), "b", 1L)), root)
        ManifestTable.append(spark, rows(Seq(4L), "a", 2L).union(rows(Seq(5L), "b", 2L)), root)
        prep(root)
        val v = ManifestTable.currentVersion(spark, root).get
        // a rival claimer holds v+1: fresh and sentinel-less, so within grace
        val out = fs.create(new Path(root, f"_manifests/${v + 1}%020d.txt"), false)
        out.write(s"version=${v + 1}\n".getBytes("UTF-8"))
        out.close()
        val before = listing(root)
        val e = intercept[RuntimeException](mutate(root))
        if (name == "write") assert(e.getMessage.contains("could not claim"), e.getMessage)
        else assert(e.isInstanceOf[ManifestTable.ConcurrentCommitException],
          s"$name: expected a lost claim, got $e")
        assert(ManifestTable.currentVersion(spark, root).contains(v), name)
        val after = listing(root)
        if (after == before) None
        else Some(s"$name left ${(after -- before).toSeq.sorted} and removed " +
          s"${(before -- after).toSeq.sorted}")
      }
      assert(leaks.isEmpty, leaks.mkString("\n"))
    } finally spark.conf.unset(ManifestTable.ColumnarSnapshotThresholdKey)
  }

  test("every maintenance rewrite refuses a result whose rows differ from the manifest's") {
    val cases: Seq[(String, String => Any)] = Seq(
      ("compact", r => ManifestTable.compact(spark, r)),
      ("compactSmallFiles", r => ManifestTable.compactSmallFiles(spark, r)),
      ("optimize", r => ManifestTable.optimize(spark, r)),
      ("cluster", r => ManifestTable.cluster(spark, r, Seq("k"))),
      ("materializeDeletes", r => ManifestTable.materializeDeletes(spark, r)))
    val faults = cases.flatMap { case (name, rewrite) =>
      val root = tmp()
      ManifestTable.createEmpty(spark, root, schema, Seq("p"))
      // two small files per partition, and a deletion vector on one of them
      ManifestTable.append(spark, rows(Seq(1L, 2L), "a", 1L).union(rows(Seq(3L), "b", 1L)), root)
      ManifestTable.append(spark, rows(Seq(4L), "a", 2L).union(rows(Seq(5L), "b", 2L)), root)
      ManifestTable.deleteMoR(spark, root, col("k") === 1L)
      val st = ManifestTable.current(spark, root).get
      // the DV'd file, overwritten in place by one of the same schema
      // holding one extra row: the manifest now undercounts its rows
      val torn = Paths.get(root, st.files.find(_.dv.nonEmpty).get.relPath)
      val stage = Files.createTempDirectory("graft-torn").toString + "/f"
      Seq((1L, 1L), (2L, 1L), (6L, 1L)).toDF("k", "v").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet"))
        .get.toPath
      Files.copy(part, torn, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(torn.resolveSibling(s".${torn.getFileName}.crc"))
      val before = listing(root)
      scala.util.Try(rewrite(root)) match {
        case scala.util.Success(_) => Some(s"$name committed the torn rewrite")
        case scala.util.Failure(e) =>
          assert(e.getMessage.contains("the manifest records"), s"$name: $e")
          assert(ManifestTable.currentVersion(spark, root).contains(st.version), name)
          val after = listing(root)
          if (after == before) None
          else Some(s"$name left ${(after -- before).toSeq.sorted} and removed " +
            s"${(before -- after).toSeq.sorted}")
      }
    }
    assert(faults.isEmpty, faults.mkString("\n"))
  }

  test("a claim that fails after its manifest landed keeps the data; one that fails before drops it") {
    spark.sparkContext.hadoopConfiguration.set("fs.closefault.impl",
      classOf[CloseFaultFileSystem].getName)
    val local = tmp()
    val root = "closefault://" + local
    ManifestTable.createEmpty(spark, root, schema, Seq("p"))
    ManifestTable.append(spark, rows(Seq(1L), "a", 1L), root)
    val v = ManifestTable.currentVersion(spark, root).get
    def keys(): Seq[Long] =
      ManifestTable.read(spark, root).select("k").as[Long].collect().toSeq.sorted
    // the manifest write itself fails: the claim deletes its half-written
    // file and the commit drops the generation it staged
    val before = listing(local)
    CloseFaultFileSystem.fault.set("write")
    val e1 = intercept[Exception](ManifestTable.append(spark, rows(Seq(2L), "b", 2L), root))
    assert(e1.getMessage.contains(CloseFaultFileSystem.Marker), e1.toString)
    assert(ManifestTable.currentVersion(spark, root).contains(v))
    assert(listing(local) == before)
    // the bytes, sentinel included, land and only the close fails (a lost
    // acknowledgement): the version is committed, so its data must stay
    CloseFaultFileSystem.fault.set("close")
    val e2 = intercept[Exception](ManifestTable.append(spark, rows(Seq(3L), "b", 3L), root))
    assert(e2.getMessage.contains(CloseFaultFileSystem.Marker), e2.toString)
    assert(CloseFaultFileSystem.fault.get == null)
    assert(ManifestTable.currentVersion(spark, root).contains(v + 1))
    assert(keys() == Seq(1L, 3L))
  }

  test("merge-on-read DML applies in escaped partitions on both read legs") {
    val n = ns()
    spark.sql(s"CREATE NAMESPACE graft_lake.$n")
    spark.sql(s"CREATE TABLE graft_lake.$n.t (k BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p)")
    try {
      val root = rootOf(n, "t")
      val parts = Seq("plain", "has space", "has:colon", "pct%x")
      var model = (1L to 100L).map(k => (k, parts((k % 4).toInt), k))
      ManifestTable.append(spark, model.toDF("k", "p", "v"), root)
      val v0 = ManifestTable.setChangeFeed(spark, root, enabled = true)
      def check(step: String): Unit = {
        val want = model.sortBy(_._1)
        // programmatic read: the V1 deletion-vector anti-join
        val v1 = ManifestTable.read(spark, root).select("k", "p", "v")
          .as[(Long, String, Long)].collect().toSeq.sortBy(_._1)
        assert(v1 == want, s"$step (anti-join read)")
        // catalog read: the native scan applying positions inline
        val df = spark.table(s"graft_lake.$n.t").select("k", "p", "v")
        assert(df.queryExecution.executedPlan.toString.contains("BatchScan"), step)
        assert(df.as[(Long, String, Long)].collect().toSeq.sortBy(_._1) == want,
          s"$step (native read)")
      }
      ManifestTable.deleteMoR(spark, root, col("k") <= 10)
      model = model.filter(_._1 > 10)
      assert(model.size == 90)
      check("deleteMoR")
      ManifestTable.updateMoR(spark, root, col("k").between(11, 14),
        Map("v" -> (col("v") + 1000)))
      model = model.map { case (k, p, v) => (k, p, if (k <= 14) v + 1000 else v) }
      check("updateMoR")
      val src = (15L to 18L).map(k => (k, parts((k % 4).toInt), -k)) ++
        (101L to 104L).map(k => (k, parts((k % 4).toInt), k))
      ManifestTable.mergeMoR(spark, root, src.toDF("k", "p", "v"), Seq("k"))
      model = model.filterNot(r => r._1 >= 15 && r._1 <= 18) ++ src
      check("mergeMoR")
      ManifestTable.materializeDeletes(spark, root)
      assert(ManifestTable.current(spark, root).get.files.forall(_.dv.isEmpty))
      check("materializeDeletes")
      val feed = ManifestTable.readChangeFeed(spark, root, v0,
        ManifestTable.currentVersion(spark, root).get)
        .groupBy(ManifestTable.ChangeTypeCol).count().as[(String, Long)].collect().toMap
      assert(feed == Map("delete" -> 10L, "update_preimage" -> 8L,
        "update_postimage" -> 8L, "insert" -> 4L), feed)
    } finally {
      spark.sql(s"DROP TABLE graft_lake.$n.t")
      spark.sql(s"DROP NAMESPACE graft_lake.$n")
    }
  }

  test("merge and mergeMoR accept typed partition columns, with and without a generated layout") {
    for {
      (ptype, pv) <- Seq("INT" -> Seq("1", "2"), "DATE" -> Seq("2026-01-01", "2026-01-02"))
      layout <- Seq(Seq("p"), Seq("p", "bucket(2, k)"))
      mor <- Seq(false, true)
    } {
      val what = s"$ptype ${layout.mkString(",")} ${if (mor) "mergeMoR" else "merge"}"
      val root = tmp()
      val dt = DataType.fromDDL(ptype)
      ManifestTable.createEmpty(spark, root, StructType(Seq(StructField("k", LongType),
        StructField("p", dt), StructField("v", DoubleType))), layout)
      def batch(rs: (Long, String, Double)*): DataFrame =
        rs.toDF("k", "p", "v").withColumn("p", col("p").cast(dt))
      ManifestTable.append(spark, batch((1L, pv(0), 1.0), (2L, pv(1), 2.0)), root)
      val source = batch((2L, pv(1), 20.0), (3L, pv(0), 30.0))
      if (mor) ManifestTable.mergeMoR(spark, root, source, Seq("k"))
      else ManifestTable.merge(spark, root, source, Seq("k"))
      val got = ManifestTable.read(spark, root)
      assert(got.schema("p").dataType == dt, what)
      assert(got.select(col("k"), col("p").cast("string"), col("v"))
        .as[(Long, String, Double)].collect().toSeq.sortBy(_._1) ==
        Seq((1L, pv(0), 1.0), (2L, pv(1), 20.0), (3L, pv(0), 30.0)), what)
    }
  }
}

/** The local file system under the `closefault` scheme, failing the next
  * manifest claim on demand: `write` fails its first write, `close`
  * writes every byte and then fails the close. */
class CloseFaultFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def getUri: java.net.URI = java.net.URI.create("closefault:///")
  override def getScheme: String = "closefault"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    faulty(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    faulty(f, super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  private def faulty(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    val mode =
      if (f.getParent.getName == "_manifests" && f.getName.endsWith(".txt"))
        CloseFaultFileSystem.fault.getAndSet(null)
      else null
    if (mode == null) out
    else new FSDataOutputStream(new java.io.OutputStream {
      private def fail() = throw new java.io.IOException(CloseFaultFileSystem.Marker)
      override def write(b: Int): Unit =
        if (mode == "write") fail() else out.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        if (mode == "write") fail() else out.write(b, off, len)
      override def close(): Unit = { out.close(); if (mode == "close") fail() }
    }, null)
  }
}

object CloseFaultFileSystem {
  val Marker = "injected manifest fault"
  /** The fault for the next manifest claim: "write", "close" or null. */
  val fault = new java.util.concurrent.atomic.AtomicReference[String]()
}
