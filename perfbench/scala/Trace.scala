package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. Driver spans nest on the
  * benchmark's own thread (the one that created the tracer); Spark jobs
  * and Catalyst phases arrive from listeners and are attached to driver
  * spans afterwards by time containment (see layers.py). All times are
  * epoch nanoseconds. */
final class Tracer(val enabled: Boolean) {
  /** Spans are recorded only while active (traced passes). */
  @volatile var active = false
  private val owner = Thread.currentThread()
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  final case class Span(id: Int, name: String, layer: String, group: String,
      parent: Int, start: Long, var end: Long = -1L)

  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  /** Whether a span opened by the calling thread would be recorded. */
  def recording: Boolean = active && (Thread.currentThread() eq owner)

  /** Open a span under the innermost open one; `group` defaults to the
    * parent's. Only the owner thread records. */
  def open(name: String, layer: String, group: String = null): Option[Span] =
    if (!recording) None
    else {
      val g = Option(group).orElse(stack.headOption.map(_.group)).getOrElse("")
      val s = Span(spans.length, name, layer, g, stack.headOption.map(_.id).getOrElse(-1), nowNs)
      spans += s
      stack = s :: stack
      Some(s)
    }

  def close(s: Span): Unit = {
    s.end = nowNs
    stack = stack.filterNot(_ eq s)
  }

  def span[T](name: String, layer: String, group: String)(body: => T): T =
    open(name, layer, group) match {
      case None => body
      case Some(s) => try body finally close(s)
    }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "group" -> s.group,
    "parent" -> s.parent, "start" -> s.start, "end" -> s.end))
}

/** JDBC driver the benchmark registers in place of `PgWireDriver`: it
  * delegates every connection, and while the tracer records it wraps the
  * benchmark thread's connections in a span that lasts until `close`.
  * The span's layer comes from the engine frame that opened it, so the
  * real `Pipelines.loadIncremental` call is split without copying it:
  * `JdbcUpsert.lastUploadedFile` -> sink.watermark, Spark's JDBC writer
  * (staging table DDL and the write job it runs) -> sink.stage, the rest
  * of `JdbcUpsert` (promotion) -> sink.promote, anything else -> sink. */
final class TracingDriver extends java.sql.Driver {
  import java.sql.Connection
  private val inner = new graft.etl.pgwire.PgWireDriver

  override def acceptsURL(url: String): Boolean = inner.acceptsURL(url)
  override def getPropertyInfo(url: String, info: java.util.Properties) =
    inner.getPropertyInfo(url, info)
  override def getMajorVersion: Int = inner.getMajorVersion
  override def getMinorVersion: Int = inner.getMinorVersion
  override def jdbcCompliant(): Boolean = inner.jdbcCompliant()
  override def getParentLogger = inner.getParentLogger

  override def connect(url: String, info: java.util.Properties): Connection = {
    val t = TracingDriver.tracer.orNull
    val span = if (t == null) None
      else t.open("connection", TracingDriver.layerOf(Thread.currentThread().getStackTrace))
    span match {
      case None => inner.connect(url, info)
      case Some(s) =>
        val c = try inner.connect(url, info) catch { case e: Throwable => t.close(s); throw e }
        if (c == null) { t.close(s); null }
        else java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
          Array[Class[_]](classOf[Connection]), new java.lang.reflect.InvocationHandler {
            private var open = true
            def invoke(p: AnyRef, m: java.lang.reflect.Method, args: Array[AnyRef]): AnyRef =
              try m.invoke(c, args: _*)
              catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
              finally if (m.getName == "close" && open) { open = false; t.close(s) }
          }).asInstanceOf[Connection]
    }
  }
}

object TracingDriver {
  @volatile var tracer: Option[Tracer] = None

  def register(t: Tracer): Unit = synchronized {
    tracer = Some(t)
    if (!java.sql.DriverManager.drivers().anyMatch(_.isInstanceOf[TracingDriver]))
      java.sql.DriverManager.registerDriver(new TracingDriver)
  }

  /** Layer of a connection, from the innermost engine or Spark SQL frame
    * that opened it. */
  def layerOf(stack: Array[StackTraceElement]): String =
    stack.find(f => f.getClassName.startsWith("graft.") ||
        f.getClassName.startsWith("org.apache.spark.sql.")) match {
      case Some(f) if f.getClassName.startsWith("org.apache.spark.sql.") => "sink.stage"
      case Some(f) if f.getClassName.startsWith("graft.etl.JdbcUpsert") =>
        if (f.getMethodName == "lastUploadedFile") "sink.watermark" else "sink.promote"
      case _ => "sink"
    }
}

/** Spark-side counters: one record per job with its task totals, plus the
  * Catalyst phase intervals of every finished query execution. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val start: Long) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  private val jobs = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stageJob = scala.collection.mutable.HashMap[Int, Int]()
  private val phases = ArrayBuffer[(String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time * 1000000L)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs * 1000000L, p.endTimeMs * 1000000L))
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map(
      "id" -> j.id, "start" -> j.start, "end" -> j.end, "stages" -> j.stages,
      "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
      "gc_ms" -> j.gcMs, "input_bytes" -> j.inputBytes,
      "input_records" -> j.inputRecords, "shuffle_read" -> j.shuffleRead,
      "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill))
  }
  def phasesJson: Seq[Map[String, Any]] = synchronized {
    phases.toSeq.map { case (n, s, e) => Map("name" -> n, "start" -> s, "end" -> e) }
  }
}
