package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"failed":[...],"reps":R,"sf":...}. A query with a
  * failed rep reports -1.0 in "queries", is named in "failed" and is
  * left out of the total.
  *
  * Each query is forced through a noop sink (full materialization of every
  * output column) rather than count() — count lets Spark skip column
  * evaluation and would under-report the real work.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports
  * the per-query MINIMUM: co-tenant host load inflated whole-suite
  * wall time by ~11% between rounds 4 and 5, and the minimum is the
  * standard load-robust point estimate (noise on a deterministic
  * workload is strictly additive). Methodology note for cross-round
  * reads: rounds ≤ 5 were single-run (load noise included), round 6+
  * is min-of-3 (warm page cache on reps 2-3) — compare totals across
  * that boundary with the ~10% methodology delta in mind; the `reps`
  * field in the output line marks which regime a number came from.
  *
  * Round 7+: the bench list IS the query list — every SparkEntry query
  * is timed, so a plan regression anywhere is visible in the per-query
  * deltas, not just in the 60-query headline subset. */
object Bench {

  /** Every driver-checkable query, timed in stable (sorted) order. */
  def headline: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** 1/5/15-minute load averages, or empty when unreadable — recorded
    * BEFORE and AFTER the run so "measured on an idle host" is evidence
    * in the artifact, not a label (host-load inflation was adjudicated
    * in rounds 9/10/12/13; a uniform multiplier across unrelated tiny
    * queries is its signature). */
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(' ').take(3).mkString(",")
    catch { case scala.util.control.NonFatal(_) => "" }

  /** True when a DuckDB oracle sweep (scripts/check.py) is running on
    * this host — its phases spike load to 18+ and invalidate timings. */
  private def sweepRunning(): Boolean =
    try {
      import scala.sys.process._
      Seq("pgrep", "-f", "scripts/check.py").!(ProcessLogger(_ => ())) == 0
    } catch { case scala.util.control.NonFatal(_) => false }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val loadBefore = loadavg()
    val sweepAtStart = sweepRunning()
    val spark = graft.core.GraftSession
      .builder("graft-bench", s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // one untimed warmup: JVM/codegen/parquet-footer costs are one-time
    // session overhead, not operator throughput
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }

    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // optional query subset (comma-separated) for quick local
    // iteration; unknown names are ignored so a stale list never fails
    // the run. NOT for cross-run comparisons: a subset run reaches each
    // query with less JIT/codegen warmup than a full-suite run and
    // reads 1.5-2x slower on early queries (measured r18) — ab_probe
    // deliberately runs the full suite in both trees
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',')
      .map(_.trim).filter(_.nonEmpty).toSet)
    val names = headline.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))
    val results = names.map { name =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.mode("overwrite").format("noop").save()
            true
          } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) dt else -1.0
      }
      // any failed rep marks the query failed; otherwise min over reps
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val loadAfter = loadavg()
    val sweep = sweepAtStart || sweepRunning()
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"reps":$reps,"sf":"$sfDir","loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","oracle_sweep_running":$sweep}"""
    println(line)
    // also persist the record to a file: the driver captures stdout via a
    // bounded tail, and a long per-query map has been truncated there once
    // (round 7) — the file copy is the canonical artifact
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
