package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Upsert

/** Sink operators (SURVEY.md §2.2).
  *
  * Scale posture: everything lands partitioned parquet by default; the
  * reference's read-modify-overwrite CSV upserts (racy, whole-file) become
  * partition-grained idempotent overwrites — with
  * `spark.sql.sources.partitionOverwriteMode=dynamic` (set by GraftSession)
  * an upsert rewrites only partitions present in the incoming batch.
  */
object Writers {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Commit lock for read-modify-swap sinks: `max_active_runs=1`
    * semantics (C10) enforced at the storage layer by an atomically
    * created `<path>__lock` marker. A second writer (or compactor)
    * arriving while a mutation is in flight is REFUSED with a hard error
    * instead of silently losing the race — the lost-write window of
    * read-merge-overwrite (the reference's replace-hour upsert,
    * 13_binance_calculate_hourly.py:79-85, has the same race) closes
    * because every mutator serializes through the marker.
    *
    * `fs.create(overwrite = false)` is atomic on HDFS and on the local FS
    * through [[GraftLocalFileSystem]], which GraftSession binds to
    * `file://` (Hadoop's own local FS checks, then creates, leaving a
    * race window); object stores need their own conditional-put locking
    * — or use [[ManifestTable]], which replaces the lock with atomic
    * version claims. Only
    * `FileAlreadyExistsException` reads as contention — any other failure
    * (permissions, transient FS) propagates as itself, and a failure
    * while WRITING the marker payload deletes our own half-created marker
    * before rethrowing, so we can never deadlock on our own orphan.
    * The marker is removed in a finally — a refused caller can retry once
    * the holder finishes; a crashed holder leaves a stale marker that
    * [[forceUnlock]] clears after verifying the holder is dead
    * (deliberate: auto-expiry would reopen the race it exists to close). */
  private[graft] def withCommitLock[T](spark: SparkSession, path: String)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(path + "__lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val acquired =
      try {
        val out = fs.create(lock, false)
        try {
          out.writeUTF(s"pid=${ProcessHandle.current().pid()} " +
            s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
            s"at=${System.currentTimeMillis()}")
          out.close()
        } catch { case e: Throwable => fs.delete(lock, false); throw e }
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    if (!acquired) throw new IllegalStateException(
      s"concurrent writer holds $lock — refusing to mutate $path " +
        "(max_active_runs=1; forceUnlock(path) clears a dead holder's marker)")
    try body finally fs.delete(lock, false)
  }

  /** Recovery for a crashed [[withCommitLock]] holder: clears the stale
    * `<path>__lock` marker IF the recorded holder can be verified dead —
    * same-host markers are checked against the live process table; a
    * marker from another host (or an unparseable one) can only be cleared
    * with an explicit `iKnowTheHolderIsDead = true`. A holder that is
    * provably ALIVE is always refused — kill the process, don't break its
    * lock. Returns true if a marker was removed, false if none existed. */
  def forceUnlock(spark: SparkSession, path: String,
                  iKnowTheHolderIsDead: Boolean = false): Boolean = {
    val lock = new org.apache.hadoop.fs.Path(path + "__lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(lock)) return false
    val payload =
      try {
        val in = fs.open(lock)
        try in.readUTF() finally in.close()
      } catch { case _: java.io.IOException => "" } // half-written marker
    val pid = "pid=(\\d+)".r.findFirstMatchIn(payload).map(_.group(1).toLong)
    val host = "host=(\\S+)".r.findFirstMatchIn(payload).map(_.group(1))
    val sameHost = host.contains(java.net.InetAddress.getLocalHost.getHostName)
    val verdict: Either[String, String] = (pid, sameHost) match {
      case (Some(p), true) =>
        val h = ProcessHandle.of(p)
        if (h.isPresent && h.get.isAlive)
          Left(s"holder pid=$p is ALIVE on this host — kill it instead of breaking its lock")
        else Right(s"holder pid=$p verified dead on this host")
      case _ =>
        if (iKnowTheHolderIsDead)
          Right(s"holder unverifiable (payload='$payload') — cleared on caller's explicit assertion")
        else Left(s"cannot verify holder (payload='$payload', " +
          s"host=${host.getOrElse("?")}) — pass iKnowTheHolderIsDead=true to override")
    }
    verdict match {
      case Left(reason) => throw new IllegalStateException(s"forceUnlock($path): $reason")
      case Right(why) =>
        log.warn(s"forceUnlock($path): clearing stale commit lock — $why")
        fs.delete(lock, false)
        true
    }
  }

  /** K1: JSON lines write. */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** K2 (ref: 13_binance_calculate_hourly.py:85): headered CSV report.
    * `singleFile` coalesces for small human-readable outputs only — never
    * for bulk data. */
  def csv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** K3 (ref: 12_binance_fetch_minute.py:53-71): date-partitioned layout —
    * `.../date=YYYY-MM-DD/part-*.parquet`; readers get partition pruning. */
  def partitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed external table: pre-hash-partitions (and optionally sorts)
    * the data on the join key at WRITE time, so every later equi-join or
    * aggregation on that key runs with ZERO shuffle — the scan itself
    * satisfies the required distribution. This is the 100 TB co-location
    * tool: pay the shuffle once when landing a fact table, never again
    * across the queries that join it. Both join sides must be bucketed
    * into the same count for the shuffle-free plan (spec-verified). */
  def bucketedTable(df: DataFrame, table: String, path: String,
                    bucketCol: String, numBuckets: Int,
                    sorted: Boolean = true): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
    (if (sorted) w.sortBy(bucketCol) else w).saveAsTable(table)
  }

  /** K5 (ref: 13_binance:79-85): partition-grained upsert — replace the
    * partitions whose keys appear in `fresh`, leave the rest untouched.
    * Relies on dynamic partition overwrite: only partitions present in
    * `fresh` are rewritten. Serialized via [[withCommitLock]] so it can
    * neither race another upsert nor land mid-compaction. */
  def upsertPartition(fresh: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    withCommitLock(fresh.sparkSession, path) {
      fresh.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*).parquet(path)
    }

  /** K4 (ref: 15_binance:125-134): append-with-dedup upsert at row grain —
    * read existing, merge keep-last, rewrite the touched partitions.
    * The whole read-merge-rewrite runs under [[withCommitLock]]: a
    * concurrent writer is refused up front instead of having its rows
    * silently dropped by this writer's stale read. */
  def upsertDedup(spark: SparkSession, fresh: DataFrame, path: String,
                  keys: Seq[String], order: String,
                  partitionCols: Seq[String]): Unit =
    withCommitLock(spark, path) {
      val merged = if (exists(spark, path)) {
        val touched = fresh.select(partitionCols.map(col): _*).distinct()
        val existing = spark.read.parquet(path).join(broadcast(touched), partitionCols)
        Upsert.appendDedup(existing, fresh, keys, col(order))
      } else fresh
      merged.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*).parquet(path)
    }

  /** K6: JDBC append (ref: listing_4_20.py:73-78's INSERT generation). */
  def jdbc(df: DataFrame, url: String, table: String,
           props: java.util.Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  /** K9 (ref: 11_atomic_send.py:54-61): side-effect notification as a
    * separate atomic stage after the data write — count + hook, never
    * embedded inside a transform. */
  def notify(df: DataFrame, send: Long => Unit): Long = {
    val n = df.count()
    send(n)
    n
  }

  /** Compact a parquet directory into ~`targetFileMB` output files —
    * the small-files maintenance pass every incremental 100 TB pipeline
    * needs (micro-batch/upsert sinks accrete thousands of tiny files;
    * scans then pay per-file open+footer costs and lose run-length
    * locality). Sizing uses the directory's actual on-disk bytes, so the
    * file count tracks the data, not a guess.
    *
    * Hive-partitioned layouts (`.../k=v/...`) are PRESERVED: partition
    * key columns are detected from the directory structure, rows are
    * re-clustered on them, and the rewrite goes through `partitionBy` —
    * downstream partition pruning keeps working. Each partition value is
    * sized individually (rows per value x mean row bytes), so a skewed
    * value re-splits into ~value_bytes/targetFileMB files instead of one
    * giant file while small values compact to one. (Partition VALUES
    * round-trip through Spark's partition-type inference, so values that
    * only differ in string formatting, e.g. `n=01` vs `n=1`, are
    * normalized.) Any non-partition subdirectory is refused rather than
    * silently flattened into the output.
    *
    * Rewrite goes to a temp dir then swaps via rename — readers never
    * observe a half-written state (modulo non-atomic object-store
    * renames; use a manifest/table format there). Concurrent WRITERS are
    * excluded by [[withCommitLock]]: an upsert arriving between the read
    * and the rename is refused with a hard error rather than lost (and
    * conversely, compaction refuses to start while an upsert holds the
    * marker). Returns (filesBefore, filesAfter). */
  def compactParquet(spark: SparkSession, path: String,
                     targetFileMB: Int = 512): (Int, Int) = withCommitLock(spark, path) {
    require(targetFileMB > 0, s"compact: targetFileMB must be > 0, got $targetFileMB")
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val (bytes, nFiles, keys) = scanParquetDir(fs, fs.makeQualified(p))
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    val w = sizedRewrite(spark.read.parquet(path), bytes, keys, targetFileMB)
      .write.mode(SaveMode.Overwrite)
    (if (keys.nonEmpty) w.partitionBy(keys: _*) else w).parquet(tmp.toString)
    val out = ManifestTable.listLeafFiles(fs, tmp)
      .count(_.getPath.getName.endsWith(".parquet"))
    val bak = new org.apache.hadoop.fs.Path(path + "__compact_bak")
    if (fs.exists(bak)) fs.delete(bak, true)
    if (!fs.rename(p, bak)) sys.error(s"compact: could not move $path aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(bak, p) // roll back
      sys.error(s"compact: could not swap in compacted data for $path")
    }
    fs.delete(bak, true)
    (nFiles, out)
  }

  /** Recursive parquet-dir inventory: (total bytes, file count, hive
    * partition keys). Demands ONE consistent k=v layout; any
    * non-partition subdirectory is refused rather than silently
    * flattened. Shared by [[compactParquet]] and [[ManifestTable]]. */
  private[sources] def scanParquetDir(fs: org.apache.hadoop.fs.FileSystem,
                                      root: org.apache.hadoop.fs.Path): (Long, Int, Seq[String]) = {
    val rootDepth = root.depth()
    var bytes = 0L
    var nFiles = 0
    var partKeys: Seq[String] = null
    ManifestTable.listLeafFiles(fs, root).foreach { f =>
      if (f.getPath.getName.endsWith(".parquet")) {
        bytes += f.getLen; nFiles += 1
        // directory segments between the root and the file must all be
        // hive partition dirs (k=v); collect their keys and demand one
        // consistent layout
        var seg = f.getPath.getParent
        var keys = List.empty[String]
        while (seg.depth() > rootDepth) {
          val name = seg.getName
          val eq = name.indexOf('=')
          require(eq > 0,
            s"compact: non-partition subdirectory '$name' under $root — refusing to flatten")
          keys = name.substring(0, eq) :: keys
          seg = seg.getParent
        }
        if (partKeys == null) partKeys = keys
        else require(partKeys == keys,
          s"compact: inconsistent partition layout under $root " +
            s"(${partKeys.mkString("/")} vs ${keys.mkString("/")})")
      }
    }
    (bytes, nFiles, Option(partKeys).getOrElse(Seq.empty).toSeq)
  }

  /** Files for `bytes` of data at ~`targetFileMB` each (at least one). */
  private[sources] def fileCount(bytes: Long, targetFileMB: Int): Int = {
    val targetBytes = targetFileMB * 1024L * 1024L
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  /** `df` (known to occupy `bytes` on disk, hive-partitioned by `keys` —
    * possibly empty) repartitioned so that writing it with
    * `partitionBy(keys)` lands ~targetFileMB files. Skew-aware: each
    * partition VALUE is sized individually. Runs one row-count job when
    * `keys` is non-empty. Shared by [[compactParquet]] and
    * [[ManifestTable]]'s generation writer. */
  private[sources] def sizedRewrite(df: DataFrame, bytes: Long,
                                    keys: Seq[String], targetFileMB: Int): DataFrame = {
    val parts = fileCount(bytes, targetFileMB)
    if (keys.isEmpty) df.repartition(parts)
    else {
      // repartition(parts, keys) would hash each partition VALUE into
      // exactly one task — a skewed partition (one value holding most of
      // the table) becomes ONE giant file and targetFileMB is silently
      // ignored. Size per partition value instead: rows per value (cheap
      // parquet-metadata count), bytes-per-row from the directory total,
      // then a per-value salt spreads big values over ceil(value_bytes /
      // target) files while small values stay at one.
      val targetBytes = targetFileMB * 1024L * 1024L
      val nonce = graft.core.Cols.nonce // caller columns must survive
      val (rowsC, nfC, saltC) = (s"_rows_$nonce", s"_nf_$nonce", s"_salt_$nonce")
      val keyCs = keys.indices.map(i => s"_key${i}_$nonce")
      val rowsPerValue = df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(rowsC))
      // coalesce: an all-empty-files directory has an EMPTY aggregate,
      // and sum(empty) is NULL, not 0
      val totalRows = math.max(1L, rowsPerValue
        .agg(coalesce(sum(col(rowsC)), lit(0L))).collect()(0).getLong(0))
      val bytesPerRow = bytes.toDouble / totalRows
      // the keys renamed: joining `df` to an aggregate of itself on the
      // shared attributes would be a trivially true self-join predicate
      val sized = rowsPerValue.select(keys.zip(keyCs).map { case (k, kc) =>
        col(k).as(kc) } :+
        greatest(lit(1L), ceil(col(rowsC) * bytesPerRow / targetBytes)).as(nfC): _*)
      // the salt only spreads rows — any hashable subset of columns will
      // do, and map-typed columns cannot feed xxhash64. Content hashing
      // keeps similar rows co-located (compression), but collapses when
      // the value is duplicate-heavy (few distinct rows -> few salts ->
      // fewer, larger files than nf planned — pre-dedup data; bounded by
      // the distinct-row count) and degenerates entirely when NO column
      // is hashable — fall back to a row-id spread there, loudly.
      val hashableCols = df.schema.fields
        .filter(f => !keys.contains(f.name) && hashable(f.dataType))
        .map(f => col(f.name)).toSeq
      val saltSrc = if (hashableCols.isEmpty) {
        log.warn(s"compact: no hashable non-partition columns (partitioned by " +
          s"${keys.mkString(", ")}) — spreading by row id instead of content " +
          "(file sizing still honored; content locality not preserved)")
        monotonically_increasing_id()
      } else xxhash64(hashableCols: _*)
      // null-safe key equality: a null partition value is a real
      // partition dir (k=__HIVE_DEFAULT_PARTITION__); a plain === join
      // would silently DROP those rows from the rewritten data
      val cond = keys.zip(keyCs).map { case (k, kc) => col(k) <=> col(kc) }.reduce(_ && _)
      df.join(broadcast(sized), cond).drop(keyCs: _*)
        .withColumn(saltC, pmod(saltSrc, col(nfC)))
        .drop(nfC)
        .repartition(parts, (keys :+ saltC).map(col): _*)
        .drop(saltC)
    }
  }

  /** xxhash64 rejects map-typed input (at any nesting depth). */
  private def hashable(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case _: org.apache.spark.sql.types.MapType => false
    case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
    case _ => true
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
