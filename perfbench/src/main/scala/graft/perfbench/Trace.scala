package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for an operation (a root span);
  * every span of one operation carries its `op` id. Times are epoch ms. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1000
  def json: String =
    s"""{"id":$id,"parent":$parent,"op":$op,"name":"$name","start_ms":$startMs,"end_ms":$endMs}"""
}

/** Spans and counters of the traced passes of one run, kept in memory and
  * written out when the run ends. Caller-side spans wrap the benchmark's
  * calls into the program from the one caller thread; engine-side spans
  * (SQL executions, jobs) and counters come from listeners the tracer
  * registers, and are parented to the operation they ran in. */
final class Tracer(spark: SparkSession) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var currentOp = 0L

  def add(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  /** A root span around one operation; jobs it starts are tagged with it. */
  def op[T](name: String)(body: => T): T = {
    val id = newId()
    currentOp = id
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, id.toString)
    val s = nowMs
    try body finally {
      spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
      spans += Span(id, 0, id, name, s, nowMs)
      currentOp = 0
    }
  }

  /** A child span of the current operation; returns its body's value. */
  def span[T](name: String)(body: => T): T = {
    val id = newId()
    val s = nowMs
    try body finally {
      val sp = Span(id, currentOp, currentOp, name, s, nowMs)
      spans += sp
      add(name + "_s", sp.durS)
      add(name + "_calls", 1)
    }
  }

  // ---- engine side ----
  private case class Job(id: Int, op: Long, exec: Long, start: Double, var end: Double)
  private case class Exec(id: Long, start: Double, var end: Double)
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val execs = new ConcurrentLinkedQueue[Exec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs.add(Job(e.jobId, prop(Tracer.OpProperty).map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time.toDouble, e.time.toDouble))
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("spark.executor_run_s", m.executorRunTime / 1e3)
        add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.add(Exec(s.executionId, s.time.toDouble, s.time.toDouble))
        add("spark.sql_execs", 1)
      case x: SparkListenerSQLExecutionEnd =>
        execs.asScala.find(_.id == x.executionId).foreach(_.end = x.time.toDouble)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      add("spark.planning_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
      val writes = qe.logical.exists {
        case _: DataWritingCommand | _: V2WriteCommand => true
        case p => p.nodeName.contains("InsertInto") || p.nodeName.contains("SaveInto")
      }
      if (writes) add("storage.write_execs", 1)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val sessions = mutable.ArrayBuffer.empty[SparkSession]

  /** Observe SQL executions of `session` (listeners are per session). */
  def watch(session: SparkSession): Unit = {
    session.listenerManager.register(qeListener)
    sessions += session
  }

  def start(): Unit = spark.sparkContext.addSparkListener(sparkListener)

  private var finished = 0 // spans already covered by a finish()

  /** Waits for the listener bus, detaches, and adds the engine spans and
    * the driver-only time of the operations since the last call. */
  def finish(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    sessions.foreach(_.listenerManager.unregister(qeListener))
    sessions.clear()
    val ops = spans.drop(finished).filter(_.parent == 0)
    def opAt(t: Double) = ops.find(o => o.startMs <= t && t <= o.endMs).map(_.id).getOrElse(0L)
    val js = jobs.asScala.toSeq
    val execSpan = execs.asScala.toSeq.map { x =>
      val op = js.find(_.exec == x.id).map(_.op).filter(_ != 0).getOrElse(opAt(x.start))
      x.id -> Span(newId(), op, op, "spark.sql_exec", x.start, x.end)
    }.toMap
    spans ++= execSpan.values
    js.foreach { j =>
      val op = if (j.op != 0) j.op else opAt(j.start)
      val parent = execSpan.get(j.exec).map(_.id).getOrElse(op)
      spans += Span(newId(), parent, op, "spark.job", j.start, j.end)
    }
    // driver-only: the part of each operation no running job covers
    ops.foreach { o =>
      val inside = js.filter(j => j.op == o.id || (j.op == 0 && o.startMs <= j.start && j.start <= o.endMs))
        .map(j => (math.max(j.start, o.startMs), math.min(j.end, o.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var reach = o.startMs
      inside.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      add("spark.driver_only_s", ((o.endMs - o.startMs) - covered) / 1e3)
    }
    jobs.clear()
    execs.clear()
    finished = spans.size
  }

  def counter(name: String): Double = synchronized(counters.getOrElse(name, 0.0))

  def allSpans: Seq[Span] = spans.toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, spans.map(_.json).asJava)
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** Runs `body` inside a span when tracing, plainly otherwise. */
  def span[T](t: Option[Tracer], name: String)(body: => T): T =
    t.fold(body)(_.span(name)(body))
  def op[T](t: Option[Tracer], name: String)(body: => T): T =
    t.fold(body)(_.op(name)(body))
}
