package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.Sessions
import graft.orchestration.JobRegistry

/** Entry point of one benchmark run of one workload:
  *
  *   1. generate the seeded inputs (full size and a ~1% warm-up copy);
  *   2. set up three times — `Sessions.local`, `registerBuiltins`, and
  *      the first unit of a cycle on the small inputs — and keep the
  *      median; then run one whole untimed cycle on the small inputs,
  *      so every unit of the timed pass runs warm;
  *   3. timed pass: whole cycles, closed loop with one client, as many
  *      as fill about `--seconds`, tracing off;
  *   4. check every cycle's outputs against an independent replay;
  *   5. with `--trace 1`, one more cycle with spans and listeners on.
  *
  * Writes `result.json` (metrics, sample counts, provenance) and, when
  * traced, `spans.jsonl` into `--work`. `run.py` builds and launches it.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, corrupt: Boolean)

  val SetupReps = 3

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", Paths.get(get("--work")).toAbsolutePath,
      m.get("--corrupt").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName(a.workload)
    val cores = Runtime.getRuntime.availableProcessors.min(32)
    val load0 = Files.readString(Paths.get("/proc/loadavg")).trim
    val inFull = a.work.resolve("in")
    val inWarm = a.work.resolve("in-warm")

    // 1. inputs (not timed)
    val tg = System.nanoTime()
    w.generate(inFull, a.seed, 1.0)
    w.generate(inWarm, a.seed, Workloads.WarmScale)
    val genS = (System.nanoTime() - tg) / 1e9

    // 2. set-up, several times
    val noTrace = new Tracer(false)
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(cores)
      JobRegistry.registerBuiltins()
      val t1 = System.nanoTime()
      val samples = Runner.runCycle(w.cycle(inWarm, a.work.resolve(s"warm-$r")).take(1),
        Ctx(spark, noTrace), s"warm-$r")
      val t2 = System.nanoTime()
      require(samples.forall(_.ok), s"set-up $r failed")
      Fs.delete(a.work.resolve(s"warm-$r"))
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    // untimed input conversion, after the set-ups so it runs on a warm
    // session; a cycle's first unit never needs staged inputs
    w.stage(spark, inWarm)
    w.stage(spark, inFull)
    val tw = System.nanoTime()
    val warm = Runner.runCycle(w.cycle(inWarm, a.work.resolve("warm")),
      Ctx(spark, noTrace), "warm")
    require(warm.forall(_.ok), "warm-up cycle failed")
    Fs.delete(a.work.resolve("warm"))
    val warmCycleS = (System.nanoTime() - tw) / 1e9

    // 3. timed pass, tracing off: a fixed number of whole cycles, sized
    // so the pass lasts about --seconds on a 4-core host; a fixed amount
    // of work keeps two commits' runs comparable
    val nCycles = math.max(1, math.round(a.seconds / w.nominalCycleS).toInt)
    val cpu0 = processCpuNs()
    val p0 = System.nanoTime()
    val cycles = (0 until nCycles).map { c =>
      val out = a.work.resolve(s"pass/c$c")
      val t = System.nanoTime()
      val s = Runner.runCycle(w.cycle(inFull, out), Ctx(spark, noTrace), s"c$c")
      (out, s, (System.nanoTime() - t) / 1e9)
    }
    val passS = (System.nanoTime() - p0) / 1e9
    val passCpuS = (processCpuNs() - cpu0) / 1e9
    val samples = cycles.flatMap(_._2)
    val retainedMb = retainedHeapMb()

    // 4. checks, one per cycle
    val c0 = System.nanoTime()
    if (a.corrupt) w.corrupt(spark, inFull, cycles.last._1)
    val checks = cycles.flatMap { case (out, s, _) =>
      if (s.forall(_.ok)) checked(w, spark, inFull, out)
      else Seq(Check("cycle", ok = false, "a unit failed; outputs not checked"))
    }
    val storedBytes = Fs.size(cycles.last._1)
    cycles.foreach(c => Fs.delete(c._1))
    val checkS = (System.nanoTime() - c0) / 1e9

    // 5. traced cycle
    val traced: Option[(Tracer, Seq[Sample], Double, Seq[Check], Map[String, Double])] =
      if (!a.trace) None
      else {
        // an untraced cycle right before the traced one is the base of
        // trace.overhead_ratio: both run equally warm
        val base = a.work.resolve("untraced")
        val tb = System.nanoTime()
        Runner.runCycle(w.cycle(inFull, base), Ctx(spark, noTrace), "untraced")
        val baseS = (System.nanoTime() - tb) / 1e9
        Fs.delete(base)
        val tr = new Tracer(true)
        tr.attach(spark)
        Runner.takeFailedTasks()
        val out = a.work.resolve("traced")
        val t = System.nanoTime()
        val s = tr.span("pass")(Runner.runCycle(w.cycle(inFull, out),
          Ctx(spark, tr), "traced"))
        val wall = (System.nanoTime() - t) / 1e9
        tr.drain()
        val ck =
          if (s.forall(_.ok)) checked(w, spark, inFull, out)
          else Seq(Check("traced-cycle", ok = false, "a unit failed"))
        val lm = w.layerMetrics(tr, inFull, out)
        tr.writeSpans(a.work.resolve("spans.jsonl"), t)
        Fs.delete(out)
        Some((tr, s, wall / baseS, ck, lm))
      }

    val allChecks = checks ++ traced.toSeq.flatMap(_._4)
    val allSamples = samples ++ traced.toSeq.flatMap(_._2)
    val failedUnits = allSamples.count(!_.ok)
    val failedChecks = allChecks.count(!_.ok)
    val attempted = allSamples.size + allChecks.size
    val failed = failedUnits + failedChecks

    val rows = samples.map(_.rows).sum
    val inBytes = cycles.head._2.map(_.bytes).sum
    val byKind = samples.filter(_.ok).groupBy(_.kind)
    val kindMedians = byKind.map { case (k, s) => k -> Stats.median(s.map(_.seconds)) }
    val setupS = setups.map { case (s, wu) => s + wu }

    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "rows_per_s" -> rows / passS,
      "op_s.gm_p50" -> Stats.geomean(kindMedians.values.toSeq),
      "cpu_s_per_krow" -> passCpuS / (rows / 1000.0),
      "retained_heap_mb" -> retainedMb)

    val quality = checks.flatMap(_.quality).groupBy(_._1)
      .map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    def kindP50(p: String => Boolean): Double = {
      val xs = samples.filter(s => s.ok && p(s.kind)).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val workloadE2e = Map(
      "dag_run_s.p50" -> kindP50(k => Workloads.RecurringDags(k)),
      "commit_s.p50" -> kindP50(k => k.startsWith("commit:")),
      "read_s.p50" -> kindP50(k => k.startsWith("read:")),
      "stored_bytes_per_user_byte" -> storedBytes.toDouble / inBytes,
      "fail_ratio" -> failed.toDouble / attempted) ++ quality

    val layer: Map[String, Double] = traced match {
      case None => Map.empty
      case Some((tr, _, overhead, _, lm)) =>
        val tot = tr.totals
        val dagSpans = tr.spans.filter(sp => sp.name.startsWith("jobs.") &&
          sp.name.count(_ == '.') == 1)
        val wall = tr.spans.find(_.name == "pass").get.seconds
        Map(
          "core.session_s" -> Stats.median(setups.map(_._1)),
          "core.warmup_s" -> Stats.median(setups.map(_._2)),
          "core.cold_setup_s" -> setupS.head,
          "core.warm_cycle_s" -> warmCycleS,
          "core.peak_rss_mb" -> peakRssMb(),
          "orchestration.overhead_s" -> dagSpans.map(tr.selfSeconds).sum,
          "orchestration.task_attempts" ->
            tr.spans.count(sp => sp.name.count(_ == '.') == 2 &&
              sp.name.startsWith("jobs.")).toDouble,
          "orchestration.tasks_failed" -> Runner.takeFailedTasks().toDouble,
          "plans.analysis_s" -> tr.phaseMs("analysis") / 1e3,
          "plans.optimization_s" -> tr.phaseMs("optimization") / 1e3,
          "plans.planning_s" -> tr.phaseMs("planning") / 1e3,
          "plans.actions" -> tr.actions.toDouble,
          "spark.jobs" -> tot.jobs.toDouble,
          "spark.stages" -> tot.stages.toDouble,
          "spark.tasks" -> tot.tasks.toDouble,
          "spark.executor_cpu_s" -> tot.cpuNs / 1e9,
          "spark.cpu_util" -> tot.cpuNs / 1e9 / (wall * cores),
          "spark.gc_s" -> tot.gcMs / 1e3,
          "spark.shuffle_write_bytes" -> tot.shuffleWrite.toDouble,
          "spark.spill_bytes" -> tot.spill.toDouble,
          "spark.input_bytes" -> tot.input.toDouble,
          "spark.output_bytes" -> tot.output.toDouble,
          "spark.failed_task_attempts" -> tot.failedTasks.toDouble,
          "trace.overhead_ratio" -> overhead
        ) ++ Layers.spanMetrics(tr) ++ lm ++ workloadE2e
    }

    val provenance = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores_used" -> cores, "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "loadavg_start" -> load0, "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "scala_version" -> scala.util.Properties.versionNumberString,
      "input_rows_per_cycle" -> cycles.head._2.map(_.rows).sum,
      "input_bytes_per_cycle" -> inBytes,
      "input_sha256" -> Workloads.digest(inFull))

    val sampleCounts = Seq(
      "cycles" -> cycles.size, "units" -> samples.size,
      "pass_s" -> passS, "setups" -> setupS, "generate_s" -> genS,
      "warm_cycle_s" -> warmCycleS, "check_s" -> checkS,
      "kinds" -> byKind.map { case (k, s) => k -> Map("n" -> s.size,
        "p50_s" -> Stats.median(s.map(_.seconds))) })

    spark.stop()
    val result = Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> e2e, "workload_end_to_end" -> workloadE2e,
      "per_layer" -> layer, "samples" -> Map(sampleCounts: _*),
      "checks" -> allChecks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "provenance" -> Map(provenance: _*)))
    Files.writeString(a.work.resolve("result.json"), result)
    Fs.delete(inFull); Fs.delete(inWarm)
  }

  /** A checker that throws (unreadable outputs) is a failed check. */
  private def checked(w: Workload, spark: SparkSession, in: Path, out: Path): Seq[Check] =
    try w.check(spark, in, out)
    catch {
      case scala.util.control.NonFatal(e) =>
        Seq(Check(s"${w.name} outputs readable", ok = false, e.toString.take(300)))
    }

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap still in use after a full collection: what the session, its
    * caches and the engine's JVM-wide state keep alive between runs.
    */
  private def retainedHeapMb(): Double = {
    // the first collection lets Spark's cleaner drop unreferenced
    // broadcast and shuffle state; the second frees it
    System.gc()
    Thread.sleep(300)
    System.gc()
    val h = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    h.getUsed / 1048576.0
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
