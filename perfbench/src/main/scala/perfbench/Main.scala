package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side; `perfbench/run.py` builds and launches it.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> [--smoke] [--prepare]
  * `--prepare` only generates (or validates) the seeded inputs, of the
  * traced run's legs too; run.py runs it in a JVM of its own before the
  * measured one. `--workload all --smoke` runs
  * every workload on tiny inputs in one JVM, untraced then traced (the
  * legs of a traced run inside it), and prints one result line per run.
  *
  * One measured run: set up once (session with Tuning, schema/baseline/
  * source load, first call on a slice), timed from JVM start; recount the
  * expected outputs; then run closed-loop operations for `--seconds`, at
  * least the workload's `minOps`. `--trace 0` reports the end-to-end metrics.
  * `--trace 1` interleaves a fixed number of untraced and traced operations
  * (spans, job tags, Spark counters), then the workload's layer pass and
  * one operation of each of its legs, and reports the per-layer metrics.
  * The last stdout line is the JSON result; the exit code is non-zero when
  * any output check failed. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        smoke: Boolean, prepare: Boolean, work: Path)

  /** Fresh instances of every workload. */
  def workloads(ctx: Ctx): Seq[Workload] =
    Seq(new TableSuite(ctx), new PartitionResume(ctx), new KyeHotkey(ctx), new StreamCheck(ctx))

  private def workload(ctx: Ctx, name: String): Workload =
    workloads(ctx).find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name"))

  private def parse(args: Array[String]): Args = {
    def opt(k: String): Option[String] = args.indexOf(s"--$k") match {
      case -1 => None
      case i => args.lift(i + 1)
    }
    def req(k: String) = opt(k).getOrElse(throw new IllegalArgumentException(s"--$k is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      args.contains("--smoke"), args.contains("--prepare"), Paths.get(req("work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ctx = Ctx(a.seed, Runtime.getRuntime.availableProcessors, a.smoke, a.work)
    Files.createDirectories(ctx.scratch)
    // smoke mode runs every workload in one JVM, untraced and traced; a
    // workload that is a leg of another runs (with its checks) as that leg
    val runs =
      if (a.workload == "all" && a.smoke) {
        val legs = workloads(ctx).flatMap(_.legs.map(_.name)).toSet
        workloads(ctx).map(_.name).filterNot(legs).flatMap(w =>
          Seq(false, true).map(t => a.copy(workload = w, trace = t)))
      } else Seq(a)
    if (a.prepare) prepare(ctx, runs)
    else {
      val ok = runs.zipWithIndex.map { case (r, i) =>
        val (correct, line) = runOne(r, ctx, workload(ctx, r.workload), sinceJvmStart = i == 0)
        println(line)
        correct
      }
      System.out.flush()
      sys.exit(if (ok.forall(identity)) 0 else 1)
    }
  }

  /** Generates or validates the inputs of every run's workload (and of its
    * legs when traced), so the measured JVM finds them ready. */
  private def prepare(ctx: Ctx, runs: Seq[Args]): Unit = {
    val spark = Session.build(ctx.cores, ctx.work)
    try runs.flatMap { r =>
      val wl = workload(ctx, r.workload)
      wl +: (if (r.trace) wl.legs else Nil)
    }.distinctBy(_.name).foreach { wl =>
      val t0 = System.nanoTime()
      wl.prepare(spark)
      System.err.println(f"[perfbench] prepared ${wl.name} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    } finally spark.stop()
  }

  /** One workload run; returns whether every check passed and the JSON
    * result line. Set-up is timed from JVM start for the process's first
    * run (its inputs were prepared by an earlier JVM), else from the run's
    * own start. */
  private def runOne(a: Args, ctx: Ctx, wl: Workload, sinceJvmStart: Boolean): (Boolean, String) = {
    val cores = ctx.cores
    val t0Ms =
      if (sinceJvmStart) ManagementFactory.getRuntimeMXBean.getStartTime else System.currentTimeMillis()
    def sinceT0 = (System.currentTimeMillis() - t0Ms) / 1e3
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${a.workload} $what at $sinceT0%.1f s")

    val runId = s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}"
    val spark = Session.tuned(cores, a.work)
    val tr = new Tracer(spark.sparkContext, runId, enabled = false)
    wl.open(spark, tr)
    wl.warm()
    val setupS = sinceT0
    phase("set up")
    val legs = if (a.trace) wl.legs else Nil
    legs.foreach { l => l.open(spark, tr); l.warm() }
    val problems = wl.expect() ++ legs.flatMap(l => l.expect().map(p => s"${l.name}: $p"))
    phase("recounted")
    problems.foreach(p => System.err.println(s"[perfbench] ${a.workload}: $p"))
    val cpu0 = Host.cpuTicks()
    val calib = Host.calibrationS(spark, cores, if (a.smoke) 2000000L else 10000000L)

    val (metrics, ops) =
      if (!a.trace) endToEnd(a, wl, setupS)
      else perLayer(a, ctx, spark, wl, tr, calib, cpu0)
    phase("measured")
    val attempted = ops.map(_.attempted).sum
    val failed = ops.map(_.failed).sum
    val correct = problems.isEmpty && failed == 0
    System.err.println(f"[perfbench] ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      f"ops=${ops.size} failed_frac=${failed.toDouble / math.max(1, attempted)}%.4f ratio " +
      f"host.calib_s=$calib%.3f s host.steal_frac=${Host.stealFrac(cpu0, Host.cpuTicks())}%.4f ratio")
    spark.stop()
    (correct, Report.json(correct, attempted, failed, metrics))
  }

  /** Closed loop until `seconds` have passed, at least `minOps` operations. */
  private def loop(wl: Workload, seconds: Double, minOps: Int): Seq[OpResult] = {
    val out = ArrayBuffer.empty[OpResult]
    val t0 = System.nanoTime()
    while (out.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds)
      out += wl.op()
    out.toSeq
  }

  private def endToEnd(a: Args, wl: Workload, setupS: Double): (Seq[Metric], Seq[OpResult]) = {
    val heap = new HeapPeak
    heap.start()
    val ops = loop(wl, a.seconds, minOps = if (a.smoke) 1 else wl.minOps)
    val peak = heap.stop()
    heap.close()
    val perOp = ops.map(_.seconds).sum / ops.size
    val rows = ops.head.rows
    ops.flatMap(_.extra.get("resume_skip_s")).headOption.foreach(_ => Console.err.println(
      f"[perfbench] resume_skip_s=${Stats.median(ops.flatMap(_.extra.get("resume_skip_s")))}%.4f s"))
    Console.err.println(f"[perfbench] ${a.workload}: ${ops.size} ops of $rows rows, mean " +
      f"$perOp%.3f s/op (${ops.map(o => f"${o.seconds}%.2f").mkString("/")}), setup $setupS%.3f s")
    (Seq(
      Metric("setup_s", setupS, "s"),
      Metric("rows_per_s", rows / perOp, "rows/s"),
      Metric("peak_heap_mb", peak, "MB")), ops)
  }

  private def perLayer(a: Args, ctx: Ctx, spark: SparkSession, wl: Workload, tr: Tracer,
                       calib: Double, cpu0: (Long, Long)): (Seq[Metric], Seq[OpResult]) = {
    val sc = spark.sparkContext
    val k = if (a.smoke) 1 else 2
    /** `body` with tracing on and `c` listening. The bus is drained before
      * `c` is added, so no event of earlier work reaches it, and again
      * before it is removed. */
    def recorded[T](c: SparkCounters)(body: => T): T = {
      org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
      sc.addSparkListener(c)
      tr.enabled = true
      try body
      finally {
        c.drain()
        tr.enabled = false
        sc.removeSparkListener(c)
      }
    }
    // untraced and traced operations in ABBA order, so JIT warm-up does not
    // read as (negative) tracing overhead; opCounters cover the traced ones
    val opCounters = new SparkCounters(sc)
    def once(on: Boolean): OpResult = {
      def op = tr.span(s"op.${wl.name}")(wl.op())
      if (on) recorded(opCounters)(op) else op
    }
    val order = (0 until k).flatMap(i => if (i % 2 == 0) Seq(false, true) else Seq(true, false))
    val results = order.map(on => on -> once(on))
    val plain = results.filterNot(_._1).map(_._2)
    val tracedOps = results.filter(_._1).map(_._2)
    val opSpans = tr.all
    // the layer pass and one operation per leg, recorded once each
    val passCounters = new SparkCounters(sc)
    val layer = recorded(passCounters)(wl.layerPass())
    val legOps = wl.legs.map(l => recorded(passCounters)(tr.span(s"op.${l.name}")(l.op())))
    val opIds = opSpans.map(_.id).toSet
    val passSpans = tr.all.filterNot(s => opIds(s.id))
    val opCounts = opCounters.snapshot()
    val passCounts = passCounters.snapshot()
    val steal = Host.stealFrac(cpu0, Host.cpuTicks())
    Report.writeTrace(ctx.work.resolve("traces").resolve(s"${a.workload}-seed${a.seed}.jsonl"),
      tr, Seq("ops" -> opCounts, "pass" -> passCounts))

    val wall = tracedOps.map(_.seconds).sum
    val all = results.map(_._2) ++ legOps
    val metrics = Report.perLayer(wl.name, k, tracedOps ++ legOps, Report.Recorded(opSpans, opCounts),
      Report.Recorded(passSpans, passCounts), layer) ++ Seq(
      Metric("exec.slot_util",
        opCounts.values.map(_.taskMs).sum / 1e3 / (wall * ctx.cores), "ratio"),
      Metric("exec.sched_delay_s", opCounts.values.map(_.schedDelayMs).sum / 1e3 / k, "s"),
      Metric("host.calib_s", calib, "s"),
      Metric("host.steal_frac", steal, "ratio"),
      Metric("trace.overhead_frac",
        Stats.median(tracedOps.map(_.seconds)) / Stats.median(plain.map(_.seconds)) - 1, "ratio"),
      Metric("trace.spans", opSpans.size.toDouble / k, "count"),
      Metric("failed_frac", all.map(_.failed).sum.toDouble / math.max(1, all.map(_.attempted).sum),
        "ratio"))
    (metrics, all)
  }
}
