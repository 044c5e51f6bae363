package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal
import graft.GraftSession

/** Benchmark harness: one workload, one process, one Spark `local[k]`
  * session.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --cores <k> --work <dir> --result <json>
  *
  * Set-up (generate + ingest) runs `SetupReps` times and reports the
  * median; then the one-off reference outputs, the workload's unmeasured
  * warm-up iterations, and iterations until `--seconds` have passed
  * (at least `MinIterations`). Untraced,
  * the end-to-end metrics are reported; traced, untraced and traced
  * iterations alternate and the per-layer metrics are reported. Every
  * iteration's outputs are checked. The result is written as JSON to
  * `--result`.
  */
object Main {
  val SetupReps = 5
  val MinIterations = 2

  /** Per-layer spans, as reported: one set of counters each. A span
    * that did not run on a workload reads 0. */
  val SpanNames: Seq[String] = Seq("exports.stop_scan", "exports.wide",
    "exports.edges", "graph.detect_cycles", "graph.topo_order",
    "sink.write_ordered", "exports.locations", "exports.ordertypes",
    "operators.q73", "operators.q223")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val loadStart = Io.loadAvg()
    val t00 = System.nanoTime()

    val master = s"local[$cores]"
    val spark = GraftSession.builder("perfbench", master, cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS = (System.nanoTime() - t00) / 1e9
    val counter = new JobCounter
    sc.addSparkListener(counter)
    val tracer = new Tracer(sc)
    if (traced) sc.addSparkListener(tracer)

    val failures = mutable.ArrayBuffer.empty[String]
    val digests = mutable.LinkedHashSet.empty[String]
    var attempted = 0; var failed = 0
    val wl = Workload(name, spark, seed, work)

    /** One checked iteration; returns its wall seconds and job count. */
    def iteration(sp: Spans): (Double, Long) = {
      val j0 = counter.jobs(sc)
      val t0 = System.nanoTime()
      val calls = try wl.run(sp) catch {
        case NonFatal(e) =>
          failures += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          failed += 1; attempted += 1
          -1
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val jobs = counter.jobs(sc) - j0
      if (calls > 0) {
        attempted += calls
        val bad = wl.check()
        if (bad.nonEmpty) { failures ++= bad; failed += calls }
        digests += wl.digest
      }
      (dt, jobs)
    }

    try {
      val setups = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime(); val (g, i) = wl.setup()
        ((System.nanoTime() - t0) / 1e9, g, i)
      }
      val (_, prepS) = Workload.time(wl.prepare())
      val warm = (1 to wl.warmups).map(_ => iteration(NoSpans)._1)
      // peak_rss_mb covers the measured iterations only: a full GC hands
      // the set-up's garbage back (the heap starts small and grows with
      // the workload's own allocation), then the kernel's high-water
      // mark restarts from the current resident set
      System.gc()
      Io.resetPeakRss()

      val plain = mutable.ArrayBuffer.empty[(Double, Long)]
      val tracedIters = mutable.ArrayBuffer.empty[(Double, Long, Map[String, SpanStats])]
      val tm = System.nanoTime()
      def elapsed = (System.nanoTime() - tm) / 1e9
      while (elapsed < seconds || plain.size < MinIterations ||
          (traced && tracedIters.size < MinIterations)) {
        if (!traced || plain.size <= tracedIters.size) plain += iteration(NoSpans)
        else {
          tracer.reset()
          val (dt, jobs) = iteration(tracer)
          tracedIters += ((dt, jobs, tracer.drained()))
        }
      }
      if (digests.size > 1) {
        failures += s"outputs differ between iterations: ${digests.size} distinct digests"
        failed += 1
      }

      val iterP50 = median(plain.map(_._1).toSeq)
      val jobsPerIter = median(plain.map(_._2.toDouble).toSeq)
      // a traced iteration rebuilds the workload's calls from public
      // functions; it must run exactly the Spark jobs an untraced one runs
      for ((_, jobs, _) <- tracedIters if jobs != jobsPerIter) {
        failures += s"a traced iteration ran $jobs Spark jobs, an untraced one $jobsPerIter"
        failed += 1
      }
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", median(setups.map(_._1)), "s"),
          ("iter_s_p50", iterP50, "s"),
          ("rows_per_s", wl.rowsOut / iterP50, "rows/s"),
          ("jobs_per_iter", jobsPerIter, "count"),
          ("peak_rss_mb", Io.procStatusKb("VmHWM") / 1024.0, "MB"))
        else {
          def med(f: Map[String, SpanStats] => Double) = median(tracedIters.map(t => f(t._3)).toSeq)
          val perSpan = for (s <- SpanNames; (kind, _, unit) <- new SpanStats().values) yield
            (s"$s.$kind", med(_.getOrElse(s, new SpanStats).values.find(_._1 == kind).get._2), unit)
          val tracedP50 = median(tracedIters.map(_._1).toSeq)
          val covered = med(m => m.values.map(_.wallS).sum) / tracedP50
          if (covered < 0.9) failures += f"spans cover only ${covered * 100}%.1f%% of a traced iteration"
          val readRows = med(m => m.values.map(_.inputRows.toDouble).sum)
          perSpan ++ Seq(
            ("setup.generate.wall_s", median(setups.map(_._2)), "s"),
            ("setup.ingest.wall_s", median(setups.map(_._3)), "s"),
            ("sources.rows_read_per_row_out", readRows / wl.rowsOut, "ratio"),
            ("trace.span_coverage", covered, "ratio"),
            ("trace.overhead_s", tracedP50 - iterP50, "s"))
        }

      val report = Seq(
        "workload" -> name, "seed" -> seed, "traced" -> traced,
        "nproc" -> Runtime.getRuntime.availableProcessors(), "master" -> master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version, "inputs" -> wl.inputs,
        "loadavg_start" -> loadStart, "loadavg_end" -> Io.loadAvg(),
        "session_s" -> sessionS, "setup_reps_s" -> setups.map(_._1),
        "prepare_s" -> prepS, "warmup_iterations_excluded" -> wl.warmups,
        "warmup_s" -> warm, "iterations" -> plain.map(_._1),
        "jobs_per_iteration" -> plain.map(_._2),
        "traced_iterations" -> tracedIters.map(_._1),
        "traced_jobs_per_iteration" -> tracedIters.map(_._2),
        "rows_out_per_iter" -> wl.rowsOut, "output_digests" -> digests.toSeq,
        "spans_seen" -> tracedIters.headOption.map(_._3.keys.toSeq.sorted).getOrElse(Nil),
        "failures" -> failures.toSeq)
      val result = Json.obj(Seq(
        "correct" -> (failures.isEmpty && failed == 0),
        "attempted" -> math.max(attempted, 1), "failed" -> failed,
        "metrics" -> ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*),
        "report" -> ListMap(report: _*)))
      Files.write(Paths.get(a("result")), result.getBytes("UTF-8"))
    } finally spark.stop()
  }
}
