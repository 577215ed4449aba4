package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.orchestration.{JobRegistry, TaskGraph}

/** What a unit of work sees: the session and the tracer. */
final case class Ctx(spark: SparkSession, tracer: Tracer) {

  /** Runs a registered DAG the way a scheduler triggers it: resolve by
    * name, run its task graph. Under tracing every task's `run` is
    * wrapped in a span, and the DAG run is a span around them.
    * A run whose tasks did not all succeed throws.
    */
  def runDag(dag: String, params: Map[String, String]): Unit = {
    val tasks = JobRegistry.get(dag)
      .getOrElse(sys.error(s"DAG $dag is not registered"))(params)
    val wrapped =
      if (!tracer.enabled) tasks
      else tasks.map(t => t.copy(run = c =>
        tracer.span(s"jobs.$dag.${t.id}")(t.run(c))))
    val res = tracer.span(s"jobs.$dag") {
      TaskGraph.run(wrapped, spark, params, runId = s"$dag-${System.nanoTime()}")
    }
    Runner.taskStates(res)
    if (!res.succeeded)
      throw new IllegalStateException(s"DAG $dag did not succeed: ${res.states}")
  }

  /** A call into a public engine function, as its own span. */
  def call[A](name: String)(body: => A): A = tracer.span(name)(body)
}

/** One closed-loop unit: a DAG run or a public table/kernel call. */
final case class Op(kind: String, rows: Long, bytes: Long, run: Ctx => Unit)

/** One output checker verdict, plus any quality figures it measured. */
final case class Check(name: String, ok: Boolean, detail: String,
    quality: Map[String, Double] = Map.empty)

trait Workload {
  def name: String

  /** Writes the inputs for `seed` at `scale` (1.0 = the benchmark size)
    * under `dir`, using plain JVM code only: the same seed gives
    * byte-identical files.
    */
  def generate(dir: Path, seed: Long, scale: Double): Unit

  /** Optional untimed conversion of generated files into the formats an
    * engine entry point requires (for example parquet inputs). Runs after
    * the set-ups, so a cycle's first unit must not depend on it.
    */
  def stage(spark: SparkSession, in: Path): Unit = ()

  /** The operations of one cycle over inputs `in`, writing under `out`.
    * Every cycle starts from empty state, so cycles are repeatable.
    */
  def cycle(in: Path, out: Path): Seq[Op]

  /** Verifies a completed cycle's outputs against an independent replay
    * of the generated inputs.
    */
  def check(spark: SparkSession, in: Path, out: Path): Seq[Check]

  /** Per-layer figures read off a traced cycle (spans, listener counts
    * and the cycle's outputs), keyed by metric name.
    */
  def layerMetrics(tr: Tracer, in: Path, out: Path): Map[String, Double] =
    Map.empty

  /** Damages a completed cycle's outputs, so a run can show that
    * [[check]] rejects them.
    */
  def corrupt(spark: SparkSession, in: Path, out: Path): Unit

  /** Typical wall time of one cycle on a 4-core host; a pass runs
    * `round(seconds / nominalCycleS)` cycles, at least one.
    */
  def nominalCycleS: Double

}

/** A timed unit. */
final case class Sample(kind: String, seconds: Double, rows: Long,
    bytes: Long, ok: Boolean)

object Runner {
  private var failedTasks = 0L

  /** Counts the `Failed` and `Skipped` tasks of a DAG run. */
  def taskStates(r: TaskGraph.RunResult): Unit = synchronized {
    failedTasks += r.states.values.count {
      case _: TaskGraph.Failed | _: TaskGraph.Skipped => true
      case _ => false
    }
  }

  def takeFailedTasks(): Long = synchronized {
    val n = failedTasks
    failedTasks = 0L
    n
  }

  /** Runs one cycle's ops in order, timing each. A throwing op is a
    * failed unit; the cycle stops there (later ops depend on it).
    */
  def runCycle(ops: Seq[Op], ctx: Ctx, cycleId: String): Seq[Sample] = {
    val out = Seq.newBuilder[Sample]
    var ok = true
    ops.zipWithIndex.foreach { case (op, i) =>
      if (ok) {
        val t = System.nanoTime()
        ok = try {
          ctx.tracer.withRun(s"$cycleId.$i")(op.run(ctx))
          true
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] unit ${op.kind} failed: $e")
            e.printStackTrace()
            false
        }
        out += Sample(op.kind, (System.nanoTime() - t) / 1e9, op.rows,
          op.bytes, ok)
      }
    }
    out.result()
  }
}
