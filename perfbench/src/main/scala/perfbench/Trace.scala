package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into a layer, timed from outside it. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark-side counts attributed to one span (exclusive of its children). */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output
  }
}

/** The benchmark's tracer. Disabled, `span` only runs its body. Enabled,
  * it records spans in memory, tags every Spark job submitted inside a
  * span with the span's id (a SparkContext local property), and a
  * SparkListener plus a QueryExecutionListener attribute job, stage and
  * task counts and planning-phase times to that span.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.SpanProp

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private var runId = "-"
  private var sc: SparkContext = _

  // listener state, written from the listener-bus thread
  private val counts = mutable.Map[Int, Counts]()
  private val stageSpan = mutable.Map[Int, Int]()
  val phaseMs = mutable.Map[String, Long]().withDefaultValue(0L)
  var actions = 0L

  /** Point measurements taken beside spans (name, value). */
  val gauges = mutable.ArrayBuffer[(String, Double)]()

  def gauge(name: String, value: Double): Unit = gauges += name -> value

  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def withRun[A](id: String)(body: => A): A = {
    val prev = runId
    runId = id
    try body finally runId = prev
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        runId, System.nanoTime())
      spans += s
      stack.push(s)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Waits until the listener bus has delivered every queued event. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def countsOf(id: Int): Counts = synchronized(counts.getOrElse(id, new Counts))

  /** Counts of a span and all its descendants. */
  def inclusive(id: Int): Counts = {
    val c = new Counts
    c += countsOf(id)
    children(id).foreach(ch => c += inclusive(ch.id))
    c
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Span duration minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - children(s.id).map(_.seconds).sum

  def totals: Counts = {
    val c = new Counts
    synchronized(counts.values.foreach(c += _))
    c
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)

  private def at(id: Int): Counts = counts.getOrElseUpdate(id, new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val id = spanOf(e.properties)
      at(id).jobs += 1
      e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = id)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        val c = at(stageSpan.getOrElse(info.stageId, -1))
        c.stages += 1
        c.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!e.taskInfo.successful) Tracer.this.synchronized {
        at(stageSpan.getOrElse(e.stageId, -1)).failedTasks += 1
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      actions += 1
      qe.tracker.phases.foreach { case (phase, p) =>
        phaseMs(phase) += p.durationMs
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Spans as JSON lines: name, start, end, parent, run id, self time
    * and the span's own Spark counts.
    */
  def writeSpans(path: java.nio.file.Path, t0Ns: Long): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val c = countsOf(s.id)
      sb.append(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run_id" -> s.runId,
        "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9,
        "self_s" -> selfSeconds(s), "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "executor_cpu_s" -> c.cpuNs / 1e9,
        "shuffle_write_bytes" -> c.shuffleWrite,
        "output_bytes" -> c.output))).append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
