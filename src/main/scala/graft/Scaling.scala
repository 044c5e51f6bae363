package graft

import java.nio.file.{Files, Paths}

/** Scale-slope harness: times a set of queries at TWO scale factors
  * (default sf0.01 → sf0.1, a 10× row ratio) and reports the growth
  * ratio per query, failing loudly when any query grows super-linearly
  * in rows. A single-sf bench cannot see the quadratic-blowup class —
  * an operator that is fast at sf0.1 but O(n²) in a candidate-pair
  * stage is a 100 TB landmine that only a slope can catch.
  *
  * Method:
  *   - one warm pass at the low dir (codegen + JIT + shared fit
  *     stages), then per dir: one warm run, then median-of-3 timed
  *     runs. Shared-stage memos are keyed by (session, dir), so both
  *     dirs coexist; warm timing measures the steady-state scan path,
  *     matching the committed-bench semantics (fit memos warm via
  *     suite order there, via the warm run here).
  *   - the slope is tHi/tLo against the actual row ratio of the four
  *     extension tables (≈10× between sf0.01 and sf0.1). Linear work
  *     with any fixed per-query overhead gives slope < rowRatio;
  *     O(n log n) adds ~10 % at these sizes. The gate flags
  *     slope > rowRatio × 1.4 (= 14 at 10×): comfortably above
  *     sort/log noise, far below the ~100× a quadratic stage shows.
  *   - a q12 calibration probe runs per dir (same contract as Bench):
  *     probes differing by >2× across dirs mean machine load moved
  *     mid-run and the slopes are noise — the run refuses to gate.
  *
  * Output: `scaling_out.json` (machine-readable) and `SCALING.md` (the
  * committed slope table). Non-zero exit iff a query gates superlinear
  * on a calibration-clean run. Dev loop:
  *   SPARK_GRAFT_SLOPE_QUERIES=q93_label_prop,q92_triangles \
  *     sbt "runMain graft.Scaling"
  */
object Scaling {
  private val SlopeTolerance = 1.4

  def main(args: Array[String]): Unit = {
    val loDir = sys.env.getOrElse("SPARK_GRAFT_SLOPE_LO", "/root/testdata/sf0.01")
    val hiDir = sys.env.getOrElse("SPARK_GRAFT_SLOPE_HI", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val topN = sys.env.get("SPARK_GRAFT_SLOPE_TOP").map(_.toInt).getOrElse(10)

    // Query set: explicit env list, else the N heaviest per the
    // committed bench_metrics.json (hand-rolled parse — no JSON dep).
    val names: Seq[String] = sys.env.get("SPARK_GRAFT_SLOPE_QUERIES") match {
      case Some(s) => s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      case None =>
        val metricsPath = Paths.get("bench_metrics.json")
        require(Files.exists(metricsPath),
          "bench_metrics.json not found and SPARK_GRAFT_SLOPE_QUERIES unset")
        val txt = Files.readString(metricsPath)
        // `stage:` pseudo-entries (bench stage attribution) are not
        // queries — the q-prefix match already excludes them, both
        // from the staleness count and from the heaviest-N sample
        val entry = """"(q[^"]+)":\{"sec":([0-9.Ee+-]+)""".r
        val metrics = entry.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toSeq
        // STALENESS GATE: a bench file that lags SparkEntry.queries
        // means new queries would silently skip the slope check — r8
        // shipped q140 unbenched exactly this way (its stale 136-query
        // metrics file never surfaced the 13 round-8 queries). Refuse
        // to sample from a stale file; re-run Bench at HEAD first.
        require(metrics.size == SparkEntry.queries.size,
          s"bench_metrics.json has ${metrics.size} queries but SparkEntry " +
            s"has ${SparkEntry.queries.size} — stale bench file; re-run " +
            "graft.Bench at HEAD (or set SPARK_GRAFT_SLOPE_QUERIES)")
        metrics.sortBy(-_._2).take(topN).map(_._1)
    }
    val queries = names.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    val missing = names.toSet -- queries.map(_._1).toSet
    if (missing.nonEmpty)
      System.err.println(s"[scaling] unknown queries skipped: ${missing.mkString(",")}")

    val spark = GraftSession.local("graft-scaling")
    def runOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    def median3(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String): Double =
      (1 to 3).map(_ => runOnce(fn, dir)).sorted.apply(1)

    // warm pass (codegen/JIT) at the smallest dir, then drop its blocks
    if (Files.isDirectory(Paths.get(warmDir))) {
      queries.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
      StageMemo.clear()
      System.gc()
    }

    val cal = SparkEntry.queries.get("q12_distinct")
    def calProbe(dir: String): Double =
      cal.map(fn => (1 to 3).map(_ => runOnce(fn, dir)).sorted.apply(1)).getOrElse(0.0)

    // actual row ratio of the extension tables (the slope denominator)
    val ratioTables = Seq("documents", "embeddings", "events", "lineitem")
    def rows(dir: String): Map[String, Long] = ratioTables.map { t =>
      // through Tables.events, not raw spark.read — ts is TIMESTAMP(NANOS)
      t -> (if (t == "events") graft.sources.Tables.events(spark, dir)
            else graft.sources.Tables.load(spark, dir, t)).count()
    }.toMap
    val (loRows, hiRows) = (rows(loDir), rows(hiDir))
    val rowRatio = ratioTables.map(t => hiRows(t).toDouble / loRows(t)).sum / ratioTables.size

    val calLo = calProbe(loDir)
    val results = queries.map { case (name, fn) =>
      val tLo = try { runOnce(fn, loDir); median3(fn, loDir) }
                catch { case e: Throwable => System.err.println(s"[scaling] $name@lo: ${e.getMessage}"); -1.0 }
      val tHi = try { runOnce(fn, hiDir); median3(fn, hiDir) }
                catch { case e: Throwable => System.err.println(s"[scaling] $name@hi: ${e.getMessage}"); -1.0 }
      (name, tLo, tHi)
    }
    val calHi = calProbe(hiDir)
    val calClean = calLo > 0 && calHi > 0 &&
      math.max(calLo, calHi) / math.min(calLo, calHi) < 2.0

    val gate = rowRatio * SlopeTolerance
    val rowsJson = ratioTables.map(t => s""""$t":{"lo":${loRows(t)},"hi":${hiRows(t)}}""").mkString("{", ",", "}")
    val qJson = results.map { case (n, lo, hi) =>
      val slope = if (lo > 0 && hi > 0) hi / lo else -1.0
      s""""$n":{"loSec":$lo,"hiSec":$hi,"slope":$slope,"superlinear":${slope > gate}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"loDir":"$loDir","hiDir":"$hiDir","rowRatio":$rowRatio,"slopeGate":$gate,""" +
      s""""calibration":{"lo":$calLo,"hi":$calHi,"clean":$calClean},""" +
      s""""tables":$rowsJson,"queries":$qJson}"""
    Files.writeString(Paths.get("scaling_out.json"), json + "\n")
    println(json)

    // CUMULATIVE table: merge this run's rows into the committed
    // SCALING.md, keyed by query with the latest gate winning, instead
    // of overwriting the file wholesale — the wholesale writer shipped
    // round 10 with a 6-row file covering only the final wave (the
    // retention defect VERDICT r10 #2 flags). Prior rows are parsed
    // back out of the committed table itself, so the file is its own
    // state; per-wave history lives in git and SCALING_HISTORY.md.
    val mdPath = Paths.get("SCALING.md")
    // DECADE-KEYED cumulative table: a row is the query's latest gate
    // for ONE decade (sf0.01→sf0.1 or sf0.1→sf1); both decades live in
    // the same table, keyed (query, decade), so second-decade evidence
    // accretes without clobbering the first
    def base(p: String) = Paths.get(p).getFileName.toString
    val decade = s"${base(loDir)}→${base(hiDir)}"
    val rowRe =
      """\|\s*(q\S+)\s*\|\s*(\S+)\s*\|\s*([0-9.]+)\s*\|\s*([0-9.]+)\s*\|\s*([0-9.Ee+-]+)\s*\|\s*(\S+)\s*\|""".r
    val prior: Map[(String, String), (Double, Double, Double, String)] =
      if (Files.exists(mdPath))
        rowRe.findAllMatchIn(Files.readString(mdPath)).map { m =>
          (m.group(1), m.group(2)) -> ((m.group(3).toDouble,
            m.group(4).toDouble, m.group(5).toDouble, m.group(6)))
        }.toMap
      else Map.empty
    val fresh = results.map { case (n, lo, hi) =>
      val slope = if (lo > 0 && hi > 0) hi / lo else -1.0
      val verdict =
        if (slope < 0) "ERR" else if (slope > gate) "SUPERLINEAR" else "linear-ok"
      (n, decade) -> ((lo, hi, slope, verdict))
    }.toMap
    val merged = (prior ++ fresh).toSeq.sortBy { case ((n, d), _) => (d, n) }
    val md = new StringBuilder
    md ++= "# SCALING — cumulative slope table (decade-keyed)\n\n"
    md ++= "Each row is the query's LATEST slope gate for one decade (rows "
    md ++= "accumulate across runs, keyed by (query, decade); re-gating "
    md ++= "replaces the row). Slope = median-of-3 warm time at the high dir "
    md ++= "/ the low dir against the extension-table row ratio "
    md ++= s"(${ratioTables.mkString(", ")}). Linear work + fixed overhead ⇒ "
    md ++= "slope < ratio; O(n log n) ≈ ratio × 1.1; a quadratic stage ≈ "
    md ++= "ratio². The sf0.1→sf1 decade runs against GenScale-replicated "
    md ++= "data (10 key-shifted sf0.1 islands; documents token-suffixed and "
    md ++= "embeddings rotated per copy so dedup/ANN pair volume scales like "
    md ++= "real independent data — see GenScale.scala). A hand-set "
    md ++= "`quadratic-by-contract` verdict marks an exact-verifier leg "
    md ++= "(corpus-as-queries brute force) whose measured slope is the "
    md ++= "CONTRACT, not a bug: the operator fail-fast caps its pair volume "
    md ++= "(cosineTopK maxPairs / cosineSimJoin maxRows) and documents the "
    md ++= "index-leg replacement (annTopK/ivfTopK) as the at-scale route; "
    md ++= "such rows persist across merges and are excluded from the gate's "
    md ++= "exit status by hand-adjudication.\n\n"
    md ++= s"Latest run: decade $decade, row ratio ${f"$rowRatio%.2f"}×, "
    md ++= s"gate = ratio × $SlopeTolerance = ${f"$gate%.1f"}, calibration = "
    md ++= s"q12 median-of-3 per dir (lo ${f"$calLo%.3f"} s, hi "
    md ++= s"${f"$calHi%.3f"} s, clean=$calClean — slopes gate only on a "
    md ++= s"clean run); gated ${fresh.size} queries this run, "
    md ++= s"${merged.size} cumulative rows.\n\n"
    md ++= "| query | decade | lo s | hi s | slope | verdict |\n"
    md ++= "|---|---|---|---|---|---|\n"
    merged.foreach { case ((n, d), (lo, hi, slope, verdict)) =>
      md ++= f"| $n | $d | $lo%.3f | $hi%.3f | $slope%.2f | $verdict |%n"
    }
    Files.writeString(mdPath, md.toString)

    spark.stop()
    val bad = results.filter { case (_, lo, hi) => lo > 0 && hi > 0 && hi / lo > gate }
    if (bad.nonEmpty && calClean) {
      System.err.println(s"[scaling] SUPERLINEAR: ${bad.map(_._1).mkString(",")}")
      sys.exit(1)
    }
  }
}
