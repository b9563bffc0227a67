package graft.core

import org.apache.spark.sql.SparkSession

/** Single place that encodes the engine's Spark tuning posture.
  *
  * Design target is a multi-executor cluster at ~100 TB; local[N] is only
  * the test harness. Every knob here is chosen to scale with cluster size
  * rather than hard-code single-node behavior:
  *
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join
  *    splitting, and dynamic broadcast conversion replace hand-tuned
  *    partition counts at any scale.
  *  - shuffle.partitions is a *starting* parallelism (the builder's
  *    parameter); AQE coalesces down, and at cluster scale the value
  *    should be ~2-3x total cores.
  *  - dynamic partition overwrite: upsert writers (K4/K5 in SURVEY.md §2.2)
  *    rewrite only the touched partitions, never the whole table.
  *  - UTC session timezone pinned for oracle parity.
  */
object GraftSession {

  /** The session confs a LIVE session accepts: [[builder]] starts every
    * session with them and [[tune]] re-applies them to one it did not
    * build. Confs Spark fixes at session start stay in the builder. */
  val sessionConfs: Seq[(String, String)] = Seq(
    // the lakehouse tier as a NAMED catalog (Delta/Iceberg-shaped):
    // CREATE/CTAS/INSERT/DELETE/ALTER/time-travel on
    // graft_lake.<ns>.<table> through Spark's native SQL paths
    "spark.sql.catalog.graft_lake" -> "graft.sources.v2.GraftCatalog",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // storage-partitioned joins: co-bucketed graft_lake tables report
    // KeyGroupedPartitioning from their scans; with V2 bucketing on,
    // Spark aligns the reported partitions (padding missing bucket
    // values on either side) instead of shuffling both — the
    // zero-Exchange fact-fact join at 100 TB
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    // compatible bucket counts: single-column layouts report the
    // bucket TRANSFORM (a ReducibleFunction through the catalog), so
    // a 2n-bucket fact joining an n-bucket dim reduces the finer
    // side's partition values (pmod(h,2n) mod n = pmod(h,n)) instead
    // of shuffling both — the Iceberg-shaped SPJ breadth
    "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
    // the co-bucketed join clusters on (key, key_bucket) while the
    // scan partitions on key_bucket alone — subset co-partitioning is
    // always correct for equi-joins (equal keys share a partition);
    // requiring ALL cluster keys would force the shuffle back
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    // cost-based optimization: graft_lake scans report per-column
    // min/max/null statistics folded from manifest footer stats —
    // ALWAYS fresh (they travel with every commit), so CBO's classic
    // failure mode (stale ANALYZE tables) cannot happen; the
    // optimizer gets plan-time filter selectivity instead of waiting
    // for AQE to observe runtime sizes
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // default 100 knocks wide plans (64 minhash min-aggs, 60 simhash
    // bit-sums, per-column profiles) out of whole-stage codegen
    "spark.sql.codegen.maxFields" -> "256")

  def builder(appName: String = "graft",
              master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"),
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      // native expressions + the GRAFT maintenance SQL grammar in every
      // engine session (extensions bind at session build; tune() cannot
      // inject them)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // local-fs permission ops via java.nio instead of forked chmod —
      // the installed-libhadoop (NativeIO) posture without the native
      // library; every local file create otherwise forks a shell
      // (graft.sources.GraftLocalFileSystem; remote schemes untouched)
      .config("spark.hadoop.fs.file.impl", "graft.sources.GraftLocalFileSystem")
      .config("spark.ui.enabled", "false")
      .config(sessionConfs.toMap)

  /** Apply graft tuning to an existing session (e.g. one created by the
    * verify/bench drivers) without rebuilding it. */
  def tune(spark: SparkSession): SparkSession = {
    // best-effort: the fork-free local fs (see builder above). FileSystem
    // instances are cached per scheme, so this only takes effect if the
    // session has not touched file:// yet — set it anyway; a late set is
    // a no-op, never a behavior change mid-session
    spark.sparkContext.hadoopConfiguration
      .setIfUnset("fs.file.impl", "graft.sources.GraftLocalFileSystem")
    sessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
