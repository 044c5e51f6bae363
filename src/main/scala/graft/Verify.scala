package graft

import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev loop —
    // the driver always calls with exactly (sfDir, outDir))
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).headOption.map(_.split(',').toSet)
    // size to the actual host (the old hard-coded 4 was an unmeasured
    // "verify hosts are small" assumption; the round-11 gate ran 427
    // queries through 4 threads and the round recorded zero rows —
    // SPARK_GRAFT_CPUS still overrides for genuinely small hosts)
    val cpus = math.min(Runtime.getRuntime.availableProcessors, 16)
    val spark = GraftSession.local("graft-verify", defaultCpus = cpus.toString)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Write oracle_sql.json FIRST: round 11's correctness zeroed out
    // because this file used to be written only after all queries ran,
    // so a mid-run crash/timeout left the driver's json.load with
    // nothing and the whole round recorded {}. Writing it up front means
    // a partial run still compares (missing dirs read as red rows, which
    // is the honest outcome for queries that never ran).
    // Filtered runs dump only the selected oracles, so a checker can
    // demand output parity with the json: an oracle whose query ERRORED
    // (no output dir) must read as a failure, not silently vanish.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val t0 = System.nanoTime()
    // Run queries CONCURRENTLY on one session: the 427-query pass is
    // driver-side planning bound (sequential it takes the same ~7 min
    // at 4 threads as at 16 — per-query Catalyst analysis dominates,
    // not executor compute), so a small pool of submitters overlaps
    // planning with execution. Shared stages are built once however
    // many submitters ask concurrently (StageMemo's build-once cell:
    // later callers of a key wait for the first build), session-conf
    // tweaks happen on child sessions, and each query writes its own
    // output dir. Submission is in sorted name order, so the
    // reference-surface gates (q01…) land first if the run is ever cut
    // short.
    // Per-query progress record, appended AS EACH QUERY LANDS (flushed per
    // line): a driver run killed at minute N leaves N honest rows here —
    // the r11/r12 gates both recorded {} because nothing durable existed
    // until the whole pass finished. One jsonl row per query:
    // {"name":..,"ok":..,"rows":..,"sec":..}. Row count comes from a
    // re-read of the just-written single-file parquet (footer-cheap at
    // verify scale) so the record is evidence of what's ON DISK, not of
    // what the plan promised.
    val results = new java.io.PrintWriter(
      new java.io.FileWriter(s"$outDir/results.jsonl", /*append=*/ false), /*autoFlush=*/ true)
    def record(name: String, ok: Boolean, rows: Long, sec: Double): Unit =
      results.synchronized {
        results.println(
          s"""{"name":${q(name)},"ok":$ok,"rows":$rows,"sec":${f"$sec%.2f"}}""")
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val tq = System.nanoTime()
            try {
              fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
              val rows = spark.read.parquet(s"$outDir/$name").count()
              record(name, ok = true, rows, (System.nanoTime() - tq) / 1e9)
              System.err.println(f"[verify] $name ok ${(System.nanoTime() - tq) / 1e9}%.1fs (${done.incrementAndGet()} done, total ${(System.nanoTime() - t0) / 1e9}%.0fs)")
            } catch { case e: Throwable =>
              record(name, ok = false, -1, (System.nanoTime() - tq) / 1e9)
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
          }
        })
      }
    tasks.foreach(_.get())
    pool.shutdown()
    results.close()
    spark.stop()
  }
}
