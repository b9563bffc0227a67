package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus the counts
  * Spark's public listeners report for the jobs those calls run.
  *
  * A span is (name, start, end, parent, op id). The innermost open spans'
  * names travel with every Spark job as a local property, so a job's
  * stages and tasks count toward every span that encloses it. Spans stay
  * in memory and are written once, at the end of the run. With tracing
  * off, [[Tracer.Off]] only runs the bodies. */
trait Tracer {
  def span[A](name: String)(body: => A): A
  def op[A](id: Int)(body: => A): A
  /** Add `v` to a named count at the boundary being traced. */
  def add(name: String, v: Double): Unit
  def on: Boolean
}

object Tracer {
  object Off extends Tracer {
    def span[A](name: String)(body: => A): A = body
    def op[A](id: Int)(body: => A): A = body
    def add(name: String, v: Double): Unit = ()
    def on = false
  }

  val OpSpan = "op"
  private val PathProp = "perfbench.path"
  private val OpProp = "perfbench.op"

  final case class Span(name: String, op: Int, parent: Int, start: Long, var end: Long,
                        cpu0: Long, var cpu: Long, startMs: Long, var endMs: Long)

  /** Per-name sums of what Spark reports for the jobs run under a span. */
  final class Exec {
    var jobs, stages, tasks = 0L
    var runS, cpuS, shuffleRead, shuffleWrite, spill = 0.0
  }

  class On(spark: SparkSession) extends Tracer {
    def on = active
    private val threads = ManagementFactory.getThreadMXBean
    val spans = mutable.ArrayBuffer.empty[Span]
    private val stack = mutable.Stack.empty[Int]
    private var currentOp = -1
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    def add(name: String, v: Double): Unit = if (active) counts(name) += v

    def op[A](id: Int)(body: => A): A = {
      currentOp = id
      try span(OpSpan)(body) finally currentOp = -1
    }

    /** Spans are kept only between [[start]] and [[stop]]: the timed phase. */
    private var active = false

    def span[A](name: String)(body: => A): A = if (!active) body else {
      val sc = spark.sparkContext
      val parent = if (stack.isEmpty) -1 else stack.top
      val prevPath = sc.getLocalProperty(PathProp)
      val path = if (prevPath == null) name else prevPath + "/" + name
      sc.setLocalProperty(PathProp, path)
      sc.setLocalProperty(OpProp, currentOp.toString)
      val s = Span(name, currentOp, parent, System.nanoTime, 0L,
        threads.getCurrentThreadCpuTime, 0L, System.currentTimeMillis, 0L)
      spans += s
      stack.push(spans.size - 1)
      try body
      finally {
        s.end = System.nanoTime
        s.endMs = System.currentTimeMillis
        s.cpu = threads.getCurrentThreadCpuTime - s.cpu0
        stack.pop()
        sc.setLocalProperty(PathProp, prevPath)
        if (prevPath == null) sc.setLocalProperty(OpProp, null)
      }
    }

    // ------------------------------------------------ Spark's listeners

    val exec = mutable.Map.empty[String, Exec]
    /** Per op: the (start, end) epoch-ms intervals of its Spark jobs. */
    val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    val phasesMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val stageNames = mutable.Map.empty[Int, Seq[String]]
    private val jobInfo = mutable.Map.empty[Int, (Int, Seq[String], Long)]

    private def names(path: String): Seq[String] = path.split('/').toSeq.distinct
    private def ex(n: String) = exec.getOrElseUpdate(n, new Exec)

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val props = e.properties
        val path = if (props == null) null else props.getProperty(PathProp)
        if (path != null) {
          val ns = names(path)
          val op = props.getProperty(OpProp, "-1").toInt
          jobInfo(e.jobId) = (op, ns, e.time)
          e.stageIds.foreach(stageNames(_) = ns)
          ns.foreach(ex(_).jobs += 1)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobInfo.remove(e.jobId).foreach { case (op, _, start) =>
          jobIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((start, e.time))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        stageNames.get(e.stageInfo.stageId).foreach(_.foreach(ex(_).stages += 1))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val m = e.taskMetrics
        if (m != null) stageNames.get(e.stageId).foreach(_.foreach { n =>
          val x = ex(n)
          x.tasks += 1
          x.runS += m.executorRunTime / 1e3
          x.cpuS += m.executorCpuTime / 1e9
          x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        })
      }
    }

    private val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = phasesMs.synchronized {
        qe.tracker.phases.foreach { case (p, s) => phasesMs(p) += s.durationMs }
      }
    }

    /** Registers the listeners after the queue holds no earlier events. */
    def start(): Unit = {
      org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      active = true
    }

    /** Waits until every event of the traced ops has been delivered. */
    def stop(): Unit = {
      active = false
      org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }

    /** Each span's own time: its duration minus what its children cover. */
    def selfTimes: Map[String, Double] = {
      val child = new Array[Long](spans.size)
      spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
      spans.indices.groupMapReduce(i => spans(i).name)(
        i => (spans(i).end - spans(i).start - child(i)) / 1e9)(_ + _)
    }

    /** Op wall not covered by any of its Spark jobs, summed over ops. */
    def driverGapS: Double = spans.filter(_.name == OpSpan).map { s =>
      val iv = jobIntervals.getOrElse(s.op, Nil).map { case (a, b) =>
        (a.max(s.startMs), b.min(s.endMs)) }.filter(x => x._2 > x._1).sorted
      var covered = 0L
      var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = a.max(reach)
        if (b > from) covered += b - from
        reach = reach.max(b)
      }
      ((s.endMs - s.startMs - covered).max(0L)) / 1e3
    }.sum

    def writeSpans(file: java.io.File): Unit = {
      val w = new java.io.PrintWriter(file, "UTF-8")
      try spans.zipWithIndex.foreach { case (s, i) =>
        w.println(Stats.json(scala.collection.immutable.ListMap(
          "id" -> i, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
          "start_ns" -> s.start, "end_ns" -> s.end, "driver_cpu_ns" -> s.cpu)))
      } finally w.close()
    }
  }
}
