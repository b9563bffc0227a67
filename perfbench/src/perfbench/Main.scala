package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.sources.ManifestTable

final case class Ctx(spark: SparkSession, seed: Long, work: String, tracer: Tracer) {
  /** A commit into the table at `root`, traced with the files it added. */
  def commit[A](kind: String, root: String)(body: => A): A = {
    val name = s"sources.commit.$kind"
    if (!tracer.on) body
    else {
      val before = ManifestTable.current(spark, root).map(_.files).getOrElse(Nil)
        .map(f => (f.relPath, f.dv)).toSet
      val out = tracer.span(name)(body)
      val added = ManifestTable.current(spark, root).map(_.files).getOrElse(Nil)
        .filterNot(f => before((f.relPath, f.dv)))
      tracer.add(s"$name.files_added", added.size)
      tracer.add(s"$name.bytes_added", added.map(_.bytes).sum.toDouble)
      out
    }
  }
}

/** One closed-loop operation. `run` is timed; the [[Check]] it returns is
  * evaluated after the clock stops and says whether the output was right. */
final case class Op(kind: String, run: () => Check)

abstract class Workload(val c: Ctx) {
  def setup(): Unit
  /** The next cycle of ops. A cycle has a fixed composition, so runs that
    * complete whole cycles measure the same mix. */
  def cycle(): Seq[Op]
  /** Untimed ops run after set-up, so that classes load and code compiles
    * before the clock starts. */
  def warmup(): Seq[Op] = cycle()
  /** Mismatches between the final tables and an independent recomputation. */
  def verify(): Seq[String]
  /** Table roots whose disk use is compared with their live files. */
  def roots: Seq[String]
}

object Main {
  /** The end-to-end metrics, in report order. */
  val EndToEnd: Seq[String] = Seq("setup_s", "ops_per_s", "op_p50_s", "op_tail_s",
    "cpu_s_per_op", "heap_live_mb", "ok_frac", "disk_per_live")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"))
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = GraftSession.builder("perfbench", s"local[$cores]")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.catalog.graft_lake.warehouse", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, c: Ctx): Workload = name match {
    case "lake_mixed" => new LakeMixed(c)
    case "olap_scan" => new OlapScan(c)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors
    val cores = nproc.min(4)
    val spark = session(a.work, cores)
    val tracer = if (a.trace) new Tracer.On(spark) else Tracer.Off
    val w = workload(a.workload, Ctx(spark, a.seed, a.work, tracer))

    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def attempt(op: Op, run: (() => Check) => Check): Option[Check] =
      try Some(run(op.run)) catch { case e: Exception =>
        errors += s"${op.kind}: $e"
        System.err.println(s"perfbench: ${op.kind} failed")
        e.printStackTrace()
        None
      }
    def checked(op: Op, check: Option[Check]): Boolean = check.exists { ch =>
      val ok = try ch() catch { case e: Exception => errors += s"${op.kind} check: $e"; false }
      if (!ok) errors += s"${op.kind}: wrong output"
      ok
    }

    val landed = System.currentTimeMillis
    w.setup()
    val warm = System.currentTimeMillis
    var setupFailures = 0
    for (op <- w.warmup())
      if (!checked(op, attempt(op, _()))) setupFailures += 1
    val phases = ListMap("session_s" -> (landed - jvmStartMs) / 1e3, "land_s" -> (warm - landed) / 1e3,
      "warmup_s" -> (System.currentTimeMillis - warm) / 1e3)
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1e3

    tracer match { case t: Tracer.On => t.start(); case _ => }
    val proc = Proc.snapshot()
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    var wallNs = 0L
    var cpuNs = 0L
    var failed = 0
    while (wallNs < a.seconds * 1000000000L) {
      w.cycle().foreach { op =>
        val id = latencies.size
        val c0 = Proc.cpuNs()
        val t0 = System.nanoTime
        val check = attempt(op, run => tracer.op(id)(run()))
        val t1 = System.nanoTime
        cpuNs += Proc.cpuNs() - c0
        wallNs += t1 - t0
        latencies += (t1 - t0) / 1e9
        if (!checked(op, check)) failed += 1
      }
    }
    tracer match { case t: Tracer.On => t.stop(); case _ => }
    val window = Proc.snapshot().since(proc)

    val heapMb = liveHeapMb()
    val verifyStart = System.currentTimeMillis
    val mismatches = w.verify()
    val verifyS = (System.currentTimeMillis - verifyStart) / 1e3
    errors ++= mismatches
    failed += mismatches.size
    val ops = latencies.size
    val (tailP, tailS) = Stats.tail(latencies.toSeq)
    val e2e = ListMap(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (ops / (wallNs / 1e9), "1/s"),
      "op_p50_s" -> (Stats.median(latencies.toSeq), "s"),
      "op_tail_s" -> (tailS, "s"),
      "cpu_s_per_op" -> (cpuNs / 1e9 / ops, "s"),
      "heap_live_mb" -> (heapMb, "MB"),
      "ok_frac" -> (1.0 - failed.min(ops).toDouble / ops, "1"),
      "disk_per_live" -> (diskPerLive(spark, w.roots), "1"))
    require(e2e.keys.toSeq == EndToEnd)
    val layers = tracer match {
      case t: Tracer.On =>
        t.writeSpans(new java.io.File(a.out.stripSuffix(".json") + ".spans.jsonl"))
        Layers.metrics(t, ops, window)
      case _ => ListMap.empty[String, (Double, String)]
    }
    val correct = failed == 0 && setupFailures == 0
    def asJson(m: ListMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
    val record = ListMap(
      "correct" -> correct,
      "attempted" -> ops,
      "failed" -> (failed + setupFailures),
      "metrics" -> asJson(if (a.trace) layers else e2e),
      "end_to_end" -> asJson(e2e),
      "tail" -> ListMap("percentile" -> tailP * 100, "n" -> ops),
      "diagnostics" -> (window.diagnostics ++ ListMap(
        "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
        "nproc" -> nproc, "cores_used" -> cores, "timed_wall_s" -> wallNs / 1e9,
        "setup_phases" -> phases, "verify_s" -> verifyS, "setup_failures" -> setupFailures,
        "errors" -> errors.take(20).toSeq)))
    val out = new java.io.PrintWriter(a.out, "UTF-8")
    try out.println(Stats.json(record)) finally out.close()
    spark.stop()
  }

  /** Heap used after full GCs, repeated until it stops falling: Spark's
    * context cleaner frees broadcast and shuffle state only after a GC has
    * cleared the references to it, asynchronously. */
  def liveHeapMb(): Double = {
    val heap = ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); Thread.sleep(300); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (prev, cur) = (Double.MaxValue, collect())
    var rounds = 1
    while (cur < prev * 0.99 && rounds < 8) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }

  /** Bytes under the tables' roots over the bytes of their live files
    * (1 when the workload keeps no tables). Nothing is vacuumed, so this is
    * the write amplification the workload has accumulated. */
  def diskPerLive(spark: SparkSession, roots: Seq[String]): Double =
    if (roots.isEmpty) 1.0
    else {
      val disk = roots.map { r =>
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(r))
        try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
        finally walk.close()
      }.sum
      val live = roots.map(r => ManifestTable.current(spark, r).map(_.files.map(_.bytes).sum)
        .getOrElse(0L)).sum
      disk.toDouble / live
    }
}

/** Process and host counters read at both ends of the timed window. */
final case class Proc(gcMs: Long, jitMs: Long, stat: Array[Long]) {
  def since(p: Proc): Proc.Window = {
    val d = stat.zip(p.stat).map { case (a, b) => a - b }
    Proc.Window(gcMs - p.gcMs, jitMs - p.jitMs,
      if (d.sum > 0 && d.length > 7) 100.0 * d(7) / d.sum else 0.0)
  }
}

object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs(): Long = os.getProcessCpuTime

  def snapshot(): Proc = Proc(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(
      _.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty))

  private def read(path: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    catch { case _: java.io.IOException => "" }

  final case class Window(gcMs: Long, jitMs: Long, stealPct: Double) {
    def diagnostics: ListMap[String, Any] = ListMap(
      "gc_ms" -> gcMs, "jit_ms" -> jitMs, "steal_pct" -> stealPct,
      "loadavg" -> read("/proc/loadavg").split(" ").take(3).mkString(" "),
      "peak_rss_mb" -> read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong / 1024.0).getOrElse(0.0))
  }
}
