package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point; run through `perfbench/run.py`.
  *
  *   --workload coverage|resume|suggest --seed N --seconds S --trace 0|1
  *   --work DIR
  *
  * Prints one line per metric (`metric <name> <value> <unit>`), then, as
  * the last line, the JSON result: the end-to-end metrics with --trace 0,
  * the per-layer metrics with --trace 1. */
object Main {
  final val MaxOps = 40

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "128k")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Metric line for humans; the JSON line carries the same values. */
  final case class Metric(name: String, value: Double, unit: String)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val (spark, sessionS) = Util.timed(session(args.work))
    val cache = args.work.resolve("cache")
    val runDir = args.work.resolve(s"run-${args.workload}-${ProcessHandle.current().pid()}")
    try {
      val out = run(spark, args, cache, runDir)
      (out.metrics ++ out.extra).foreach(m =>
        println(f"metric ${m.name}%-36s ${Json.num(m.value)}%s ${m.unit}"))
      out.info.foreach(l => println(s"info $l"))
      println(f"info session_start_s ${sessionS}%.3f")
      println(Json(mutable.LinkedHashMap(
        "correct" -> out.correct, "attempted" -> out.attempted, "failed" -> out.failed,
        "metrics" -> mutable.LinkedHashMap(out.metrics.map(m =>
          m.name -> mutable.LinkedHashMap("value" -> m.value, "unit" -> m.unit)): _*))))
    } finally {
      spark.stop()
      Util.deleteTree(runDir)
    }
  }

  /** `metrics` go into the JSON line; `extra` are printed only. */
  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[Metric], extra: Seq[Metric], info: Seq[String])

  final case class Loop(outcomes: Seq[OpOutcome], scans: Seq[Double], spans: Seq[Span])

  final val ScanControlMinS = 0.5
  final val ScanWarmUpS = 1.0

  /** The scan control, repeated until it has run ScanControlMinS; seconds
    * per repetition. */
  def scanControl(w: Workload): Double = {
    var n = 0
    val t0 = System.nanoTime()
    while (n == 0 || System.nanoTime() - t0 < ScanControlMinS * 1e9) { w.scanControl(); n += 1 }
    (System.nanoTime() - t0) / 1e9 / n
  }

  /** Closed loop: op, then scan control, until `seconds` have passed (at
    * least `minOps` ops, at most MaxOps). */
  def loop(w: Workload, seconds: Int, first: Int, trace: Option[Tracer],
           minOps: Int): Loop = {
    val outcomes = ArrayBuffer.empty[OpOutcome]
    val scans = ArrayBuffer.empty[Double]
    val spans = ArrayBuffer.empty[Span]
    val keep = Workload.persisted(w.spark)
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = first
    while ((System.nanoTime() < deadline || outcomes.size < minOps) && outcomes.size < MaxOps) {
      val o = trace match {
        case None => w.op(i, None)
        case Some(t) =>
          val gc0 = Util.gcSeconds()
          val (o, s) = t.span("op", "harness", s"${w.name}-op-$i")(w.op(i, trace))
          s.attrs("op_id") = i
          s.attrs("gc_s") = Util.gcSeconds() - gc0
          spans += s
          o
      }
      outcomes += o
      if (!o.ok) System.err.println(s"[perfbench] op $i FAILED: ${o.detail}")
      Workload.release(w.spark, keep)
      scans += scanControl(w)
      i += 1
    }
    Loop(outcomes.toSeq, scans.toSeq, spans.toSeq)
  }

  def run(spark: SparkSession, args: Args, cache: Path, runDir: Path): Result = {
    val w = Workload(args.workload, spark, args.seed, cache, runDir)
    val (_, prepS) = Util.timed(w.prepare())
    val setupTimes = (1 to w.setupReps).map(_ => Util.seconds(w.setup()))
    val keep = Workload.persisted(spark)
    val warm = w.warmUp() // checked, not timed
    Workload.release(spark, keep)
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < ScanWarmUpS * 1e9) w.scanControl()
    // a traced run measures twice (untraced, then traced), two ops minimum each
    val minOps = if (args.trace) math.min(2, w.minOps) else w.minOps
    val main = loop(w, args.seconds, warm.size, None, minOps)
    val all = warm ++ main.outcomes
    val info = ArrayBuffer(f"prepare_s ${prepS}%.3f (input generation + reference, cached per seed and size)",
      s"setup_s samples ${setupTimes.map(t => f"$t%.3f").mkString(",")}",
      s"ops n=${main.outcomes.size} after ${warm.size} warm-up; job samples " +
        main.outcomes.map(o => f"${o.timings("job")}%.3f").mkString(","),
      s"scan control samples ${main.scans.map(t => f"$t%.3f").mkString(",")}",
      s"manifest ${Json(w.manifest)}")
    val jobs = main.outcomes.map(_.timings("job"))
    val jobS = Util.median(jobs)
    val rows = main.outcomes.head.rows
    val scanS = Util.median(main.scans)
    // gated end to end (BENCHMARK.json); raw op times are printed beside
    // them: they follow this class of VM's minutes-long speed drift (the
    // scan control moves in lockstep), which the ratio cancels
    val e2e = ArrayBuffer(
      Metric("setup_s", Util.median(setupTimes), "s"),
      Metric("scan_ratio", scanS / jobS, "ratio"),
      Metric("peak_rss_mb", Util.peakRssMb(), "MB"))
    val extra = ArrayBuffer(
      Metric("job_s", jobS, "s"),
      Metric("rows_per_s", rows / jobS, "1/s"))
    Util.tail(jobs) match {
      case Some((p, v)) => extra += Metric(s"job_s_tail_p${p.toInt}", v, "s")
      case None => info += s"job_s_tail n/a: ${jobs.size} samples, a tail needs at least 11"
    }
    if (w.name == "resume") {
      extra += Metric("resume_s", Util.median(main.outcomes.map(_.timings("resume"))), "s")
      extra += Metric("crash_s", Util.median(main.outcomes.map(_.timings("crash"))), "s")
      extra += Metric("write_bytes_per_row", Util.median(main.outcomes.map(_.writeBytesPerRow)), "B/row")
    }
    var failed = all.count(!_.ok)
    var attempted = all.size
    extra += Metric("failed_ratio", failed.toDouble / attempted, "ratio")
    info += s"rows_per_op $rows ${w.rowUnit}; scan control median ${Json.num(scanS)} s"

    if (!args.trace) Result(failed == 0, attempted, failed, e2e.toSeq, extra.toSeq, info.toSeq)
    else {
      val tracer = new Tracer(spark)
      tracer.start()
      val traced = loop(w, args.seconds, warm.size + main.outcomes.size, Some(tracer), minOps)
      tracer.drain()
      failed += traced.outcomes.count(!_.ok)
      attempted += traced.outcomes.size
      val layers = new Layers(spark, args.seed, cache, runDir.resolve("layers"), tracer)
      val layerMetrics = layers.measure()
      tracer.stop()
      val tracedJob = Util.median(traced.outcomes.map(_.timings("job")))
      // per op, over its measured phases only (checks and clean-up excluded)
      val ops = traced.spans.map(s => tracer.opStats(tracer.children(s).filter(_.kind == "phase")))
      def med(f: OpStats => Double) = Util.median(ops.map(f))
      val shape = ops.map(o => tracer.planShape(o.execIds))
      val self = tracer.selfSeconds
      val gc = Util.median(traced.spans.map(_.attrs("gc_s").asInstanceOf[Double]))
      val perLayer = layerMetrics ++ Seq(
        Metric("operators.exchanges", Util.median(shape.map(_._1.toDouble)), "count"),
        Metric("operators.joins", Util.median(shape.map(_._2.toDouble)), "count"),
        Metric("operators.generates", Util.median(shape.map(_._3.toDouble)), "count"),
        Metric("operators.scans", Util.median(shape.map(_._4.toDouble)), "count"),
        Metric("Pipeline.driver_gap_s", med(_.gapS), "s"),
        Metric("Pipeline.jobs_per_op", med(_.jobs.toDouble), "count"),
        Metric("Pipeline.stages_per_op", med(_.stages.toDouble), "count"),
        Metric("Pipeline.tasks_per_op", med(_.tasks.toDouble), "count"),
        Metric("Pipeline.shuffle_bytes_per_row", med(_.shuffleBytes.toDouble) / rows, "B/row"),
        Metric("Pipeline.spill_bytes", med(_.spillBytes.toDouble), "B"),
        Metric("Pipeline.gc_s", gc, "s"),
        Metric("trace.overhead_s", tracedJob - jobS, "s")) ++
        Seq("core", "functions", "sources", "operators", "plans", "Pipeline").flatMap(l => Seq(
          Metric(s"trace.self_s.$l", self.getOrElse(l, (0.0, 0.0))._1, "s"),
          Metric(s"trace.jobs_s.$l", self.getOrElse(l, (0.0, 0.0))._2, "s")))
      val tracePath = args.work.resolve("trace").resolve(s"${w.name}-s${args.seed}.json")
      tracer.write(tracePath, mutable.LinkedHashMap(
        "workload" -> w.name, "seed" -> args.seed,
        "untraced_job_s" -> jobS, "traced_job_s" -> tracedJob,
        "tracing_overhead_s" -> (tracedJob - jobS),
        "layer_self_s" -> self.map { case (l, (sf, _)) => l -> sf },
        "layer_jobs_s" -> self.map { case (l, (_, j)) => l -> j }, "ops" -> ops.map(o => Map("jobs" -> o.jobs, "stages" -> o.stages,
          "tasks" -> o.tasks, "driver_gap_s" -> o.gapS, "exec_ids" -> o.execIds)),
        "metrics" -> mutable.LinkedHashMap(perLayer.map(m => m.name -> m.value): _*)))
      info += s"trace written to $tracePath"
      Result(failed == 0, attempted, failed, perLayer, (e2e ++ extra).toSeq, info.toSeq)
    }
  }
}
