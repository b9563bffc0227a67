package perfbench

import scala.collection.immutable.ListMap

/** The per-layer metrics of a traced run, every one per timed op. Layers
  * are the engine's modules: `sources` (manifest commits and reads),
  * `plans` (SQL analysis and statements), `operators` (driver query
  * families), Spark execution, the driver thread and the JVM. */
object Layers {
  val CommitKinds = Seq("append", "consume", "merge", "replace", "compact", "delete", "update")
  val ReadKinds = Seq("where", "version", "changes", "stats", "bloom")
  val Phases = Seq("parsing", "analysis", "optimization", "planning")
  val Statements = Seq("select_path", "select_catalog", "graft_delete", "graft_update",
    "graft_merge", "ansi_delete", "ansi_insert", "ansi_overwrite")
  val Families = Seq("q", "a", "w", "agg", "prof", "d", "t")

  /** Every per-layer metric name with its unit, in report order. */
  val units: ListMap[String, String] = ListMap.from(
    CommitKinds.flatMap { k => val n = s"sources.commit.$k"
      Seq(s"$n.calls" -> "count", s"$n.wall_s" -> "s", s"$n.self_s" -> "s",
        s"$n.driver_cpu_s" -> "s", s"$n.jobs" -> "count", s"$n.files_added" -> "count",
        s"$n.bytes_added" -> "bytes") } ++
    ReadKinds.flatMap { k => val n = s"sources.read.$k"
      Seq(s"$n.build_s" -> "s", s"$n.exec_s" -> "s", s"$n.files_scanned" -> "count",
        s"$n.files_live" -> "count") } ++
    Phases.map(p => s"plans.sql.${p}_ms" -> "ms") ++
    Statements.map(s => s"plans.sql.$s.wall_s" -> "s") ++
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "executor_run_s" -> "s",
      "executor_cpu_s" -> "s", "shuffle_read_bytes" -> "bytes",
      "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes")
      .map { case (m, u) => s"spark.exec.$m" -> u } ++
    Families.flatMap(f => Seq(s"operators.$f.wall_s" -> "s", s"operators.$f.executor_cpu_s" -> "s")) ++
    Seq("driver.gap_s" -> "s", "driver.cpu_s" -> "s", "driver.self_s" -> "s",
      "jvm.gc_s" -> "s", "jvm.jit_ms" -> "ms"))

  def metrics(t: Tracer.On, ops: Int, w: Proc.Window): ListMap[String, (Double, String)] = {
    val wall = t.spans.groupMapReduce(_.name)(s => (s.end - s.start) / 1e9)(_ + _)
    val cpu = t.spans.groupMapReduce(_.name)(_.cpu / 1e9)(_ + _)
    val calls = t.spans.groupMapReduce(_.name)(_ => 1.0)(_ + _)
    val self = t.selfTimes
    val ex = t.exec.withDefaultValue(new Tracer.Exec)
    def of(m: Map[String, Double], k: String) = m.getOrElse(k, 0.0)
    def exec(n: String, m: String): Double = { val x = ex(n); m match {
      case "jobs" => x.jobs.toDouble; case "stages" => x.stages.toDouble
      case "tasks" => x.tasks.toDouble; case "executor_run_s" => x.runS
      case "executor_cpu_s" => x.cpuS; case "shuffle_read_bytes" => x.shuffleRead
      case "shuffle_write_bytes" => x.shuffleWrite; case "spill_bytes" => x.spill
    } }
    val Commit = """sources\.commit\.(\w+)\.(\w+)""".r
    val Read = """sources\.read\.(\w+)\.(build_s|exec_s|files_scanned|files_live)""".r
    val Phase = """plans\.sql\.(\w+)_ms""".r
    val Stmt = """plans\.sql\.(\w+)\.wall_s""".r
    val Exec = """spark\.exec\.(\w+)""".r
    val Oper = """operators\.(\w+)\.(wall_s|executor_cpu_s)""".r
    units.map { case (name, unit) =>
      val total = name match {
        case Commit(k, m) => val n = s"sources.commit.$k"; m match {
          case "calls" => of(calls, n); case "wall_s" => of(wall, n)
          case "self_s" => of(self, n); case "driver_cpu_s" => of(cpu, n)
          case "jobs" => exec(n, "jobs"); case _ => t.counts(name) }
        case Read(k, m) => m match {
          case "build_s" => of(wall, s"sources.read.$k.build")
          case "exec_s" => of(wall, s"sources.read.$k.exec")
          case _ => t.counts(name) }
        case Phase(p) => t.phasesMs(p)
        case Stmt(s) => of(wall, s"plans.sql.$s")
        case Exec(m) => exec(Tracer.OpSpan, m)
        case Oper(f, "wall_s") => of(wall, s"operators.$f")
        case Oper(f, _) => exec(s"operators.$f", "executor_cpu_s")
        case "driver.gap_s" => t.driverGapS
        case "driver.cpu_s" => of(cpu, Tracer.OpSpan)
        case "driver.self_s" => of(self, Tracer.OpSpan)
        case "jvm.gc_s" => w.gcMs / 1e3
        case "jvm.jit_ms" => w.jitMs.toDouble
      }
      name -> (total / ops.max(1), unit)
    }
  }
}
