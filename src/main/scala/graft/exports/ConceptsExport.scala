package graft.exports

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.ConceptsConfig
import graft.functions.{MysqlFunctions => M}
import graft.graph.GraphOps
import graft.sink.CsvSink
import graft.sink.CsvSink.qcol

/** The concepts export pipeline — the reference's main product
  * (`concepts/src/concept_csv_export.py:124-190`, mega-query at
  * `:238-388`), re-expressed Spark-first.
  *
  * Where the reference generates ONE denormalized SQL string with a
  * join per output column (2 joins × locale×type for names, 45 derived-
  * table joins for mappings) and GROUP_CONCAT(DISTINCT …) to undo the
  * resulting fan-out, this pipeline computes each per-concept aggregate
  * independently (names pivot, mappings pivot, members/answers ordered
  * concat, 1:1 lookups) and left-joins them onto the concept base by
  * `concept_id`. Semantically identical output, but no cross-product
  * fan-out to undo, every sub-aggregate shuffles once on `concept_id`,
  * and the final join is co-partitioned — the plan that survives a
  * dictionary 1000× this size.
  *
  * Pinned determinism choices (MySQL leaves them implementation-defined):
  * ordered-distinct concat uses min-weight-per-name (SURVEY §7.4.1);
  * unordered GROUP_CONCAT(DISTINCT code) is pinned to sorted-by-code.
  *
  * Input: a table resolver (name → DataFrame) over the OpenMRS schema
  * (FIXTURES.md §2) — parquet, JDBC, or test fixtures.
  */
object ConceptsExport {

  /** QA stop-character scan (V1, `concept_csv_export.py:193-235`):
    * reference-term codes and default-locale FSNs containing the `;`
    * Initializer delimiter. Returns (kind, id, value) rows to warn on. */
  def stopCharacterScan(t: String => DataFrame, cfg: ConceptsConfig): DataFrame = {
    val codes = t("concept_reference_term").as("crt")
      .join(broadcast(t("concept_reference_source").as("crs")),
        col("crt.concept_source_id") === col("crs.concept_source_id"))
      .filter(col("crt.code").contains(";"))
      .select(lit("code").as("kind"),
        col("crt.concept_reference_term_id").cast("long").as("id"),
        col("crt.code").as("value"))
    val names = t("concept_name")
      .filter(col("locale") === cfg.defaultLocale &&
        col("concept_name_type") === "FULLY_SPECIFIED" &&
        col("voided") === 0 && col("name").contains(";"))
      .select(lit("name").as("kind"), col("concept_id").cast("long").as("id"),
        col("name").as("value"))
    codes.unionByName(names)
  }

  /** Per-concept pivoted name columns: `<Iniz name type>:<locale>`
    * (J4 re-shaped — one aggregation replaces the reference's
    * join-per-(locale,type), `concept_csv_export.py:270-287`). */
  private def namesPivot(t: String => DataFrame, cfg: ConceptsConfig): DataFrame = {
    val typeName = when(col("concept_name_type") === "FULLY_SPECIFIED",
        lit("Fully specified name"))
      .when(col("concept_name_type") === "SHORT", lit("Short name"))
    val wanted = cfg.nameTypes.map {
      case "full" => "FULLY_SPECIFIED"; case "short" => "SHORT"; case o => o
    }
    t("concept_name")
      .filter(col("voided") === 0 &&
        col("locale").isin(cfg.locales: _*) &&
        col("concept_name_type").isin(wanted: _*))
      .withColumn("__hdr", concat(typeName, lit(":"), col("locale")))
      .groupBy("concept_id")
      .pivot("__hdr", cfg.nameColumnHeaders)  // explicit values: no discovery job
      .agg(max(col("name")))
  }

  /** Per-concept pivoted mapping columns `Mappings|<type>|<source>`
    * with the `PIH|Name` / `PIH|Number` cast-split (J5 re-shaped: ONE
    * 4-way join + pivot replaces 45 derived-table joins,
    * `concept_csv_export.py:292-314`). */
  private def mappingsPivot(t: String => DataFrame, cfg: ConceptsConfig): DataFrame = {
    val joined = t("concept_reference_map").as("crm")
      .join(broadcast(t("concept_map_type").as("mt")),
        col("crm.concept_map_type_id") === col("mt.concept_map_type_id"))
      .join(t("concept_reference_term").as("crt"),
        col("crm.concept_reference_term_id") === col("crt.concept_reference_term_id") &&
          col("crt.retired") === 0)
      .join(broadcast(t("concept_reference_source").as("src")),
        col("crt.concept_source_id") === col("src.concept_source_id"))
      .select(col("crm.concept_id").as("concept_id"),
        col("mt.name").as("map_type"), col("crt.code").as("code"),
        col("src.name").as("source_name"))
    // source spec: "<src>|Number" when the code has a numeric prefix,
    // "<src>|Name" otherwise, plain source name else (P4 split)
    val splitSpecs = cfg.conceptSources.filter(_.contains("|"))
    val spec = splitSpecs.foldRight(col("source_name")) { (s, acc) =>
      val Array(base, dt) = s.split("\\|")
      val numeric = M.castUnsigned(col("code")) =!= 0
      val cond = col("source_name") === base &&
        (if (dt == "Number") numeric else !numeric)
      when(cond, lit(s)).otherwise(acc)
    }
    joined
      .withColumn("__hdr", concat(lit("Mappings|"), col("map_type"), lit("|"), spec))
      .filter(col("map_type").isin(cfg.mappingTypes: _*))
      .groupBy("concept_id")
      .pivot("__hdr", cfg.mappingColumnHeaders)
      .agg(M.sortedDistinctConcat(col("code"), ";"))
  }

  /** Members/Answers: the 3-level join chain (J8/J9,
    * `concept_csv_export.py:365-376`) feeding the A3 ordered-distinct
    * concat. `linkTable(parentCol, childCol)` carries sort_weight. */
  private def referentConcat(t: String => DataFrame, cfg: ConceptsConfig,
      linkTable: String, parentCol: String, childCol: String,
      outName: String): DataFrame = {
    val fsn = t("concept_name")
      .filter(col("locale") === cfg.defaultLocale &&
        col("concept_name_type") === "FULLY_SPECIFIED" && col("voided") === 0)
      .select(col("concept_id").as("__cid"), col("name"))
    t(linkTable).as("lnk")
      .join(t("concept").as("m"),
        col(s"lnk.$childCol") === col("m.concept_id") && col("m.retired") === 0,
        "left")
      .join(fsn, col("m.concept_id") === col("__cid"), "left")
      .groupBy(col(s"lnk.$parentCol").as("concept_id"))
      .agg(M.orderedDistinctConcat(col("name"), col("lnk.sort_weight"), ";")
        .as(outName))
  }

  /** The wide per-concept DataFrame (pre graph stage): one row per
    * non-retired concept, all Iniz columns, ordered columns NOT yet
    * applied. Internal helper columns: `concept_id`, `is_set`. */
  def wide(t: String => DataFrame, cfg: ConceptsConfig): DataFrame = {
    val base = t("concept").filter(col("retired") === 0)
      .join(broadcast(t("concept_class").as("cl")),
        col("class_id") === col("cl.concept_class_id"))
      .join(broadcast(t("concept_datatype").as("dt")),
        col("datatype_id") === col("dt.concept_datatype_id"))
      .select(col("concept_id"), col("uuid"), col("is_set"),
        col("cl.name").as("Data class"), col("dt.name").as("Data type"))

    val desc = t("concept_description")
      .filter(col("locale") === cfg.defaultLocale)
      .groupBy("concept_id")
      .agg(max(M.stripNewlines(col("description")))
        .as(s"Description:${cfg.defaultLocale}"))

    val numericCols =
      Seq("hi_absolute" -> "Absolute high", "hi_critical" -> "Critical high",
        "hi_normal" -> "Normal high", "low_absolute" -> "Absolute low",
        "low_critical" -> "Critical low", "low_normal" -> "Normal low",
        "units" -> "Units") ++
      (if (cfg.hasPrecisionColumns)
        Seq("display_precision" -> "Display precision",
          cfg.allowDecimalColumn -> "Allow decimals")
      else Nil)
    val numeric = t("concept_numeric").select(
      col("concept_id") +: numericCols.map { case (c, a) => col(c).as(a) }: _*)

    val complex = t("concept_complex")
      .select(col("concept_id"), col("handler").as("Complex data handler"))

    val members = referentConcat(t, cfg, "concept_set", "concept_set",
      "concept_id", "Members")
    val answers = referentConcat(t, cfg, "concept_answer", "concept_id",
      "answer_concept", "Answers")

    base
      .join(desc, Seq("concept_id"), "left")
      .join(namesPivot(t, cfg), Seq("concept_id"), "left")
      .join(mappingsPivot(t, cfg), Seq("concept_id"), "left")
      .join(numeric, Seq("concept_id"), "left")
      .join(complex, Seq("concept_id"), "left")
      .join(members, Seq("concept_id"), "left")
      .join(answers, Seq("concept_id"), "left")
  }

  /** Key-mapping remap (R5/P9/V3, `concept_csv_export.py:392-404`):
    * `_mapping:<src>` = first SAME-AS code for the key source; hard
    * error when any concept lacks one. */
  def withKeyMapping(df: DataFrame, cfg: ConceptsConfig): DataFrame =
    cfg.conceptKeyMapping match {
      case None => df
      case Some(src) =>
        val mcol = s"Mappings|SAME-AS|$src"
        // Materialize ONCE (localCheckpoint) before the eager guard:
        // the guard scan and every downstream consumer (edge builder,
        // tree filter, topo sort, ordered CSV write) read the
        // checkpoint — previously the guard alone re-executed the full
        // multi-join `wide` plan before the real export ran.
        val out = df.withColumn(cfg.key,
          element_at(split(coalesce(qcol(mcol), lit("")), ";"), 1))
          .localCheckpoint()
        val bad = out.filter(length(qcol(cfg.key)) === 0)
        val badSample = bad.select("uuid").limit(5).collect().map(_.getString(0))
        if (badSample.nonEmpty)
          throw new IllegalStateException(
            s"concepts without a non-retired SAME-AS mapping for source '$src': " +
              s"uuids ${badSample.mkString(", ")}")
        out
    }

  /** Referent edges (G3) at key level: (referrer key, referent key),
    * built from the link tables directly — not by re-parsing the
    * `;`-joined strings (SURVEY §2.6). */
  def edges(t: String => DataFrame, df: DataFrame, cfg: ConceptsConfig): DataFrame = {
    val keyOf = df.select(col("concept_id").as("__cid"), qcol(cfg.key).as("__key"))
    def link(table: String, parentCol: String, childCol: String) =
      t(table)
        .join(keyOf.withColumnRenamed("__key", "src"),
          col(parentCol) === col("__cid")).drop("__cid")
        .join(keyOf.withColumnRenamed("__key", "dst"),
          col(childCol) === col("__cid")).drop("__cid")
        .select("src", "dst")
    link("concept_set", "concept_set", "concept_id")
      .union(link("concept_answer", "concept_id", "answer_concept"))
      .distinct()
  }

  /** Full pipeline: wide → key remap → optional tree filter (G1) →
    * cycle guard (G2) → topological order (O4). Returns the export rows
    * plus `__ord`/`__tie` ordering columns. */
  def pipeline(t: String => DataFrame, cfg: ConceptsConfig): DataFrame = {
    // O3: the reference's optional LIMIT applies to the base query
    // (ORDER BY is_set LIMIT n, concept_csv_export.py:379-385) BEFORE
    // the tree/graph stage
    val widened = cfg.limit match {
      case Some(n) => wide(t, cfg)
        .orderBy(col("is_set"), col("concept_id")).limit(n)
      case None => wide(t, cfg)
    }
    val all0 = timed("withKeyMapping")(withKeyMapping(widened, cfg))
    // withKeyMapping checkpoints when it remaps (its guard needs the
    // materialized rows); the None path returned the LIVE wide plan,
    // so the edge builder, the selEdges semi-join, the topo join and
    // the ordered write each re-executed the multi-join wide plan —
    // 2–3 full executions per export in the q470 gate config (r16).
    // Checkpoint exactly once on whichever path lacks it.
    val all = if (cfg.conceptKeyMapping.isDefined) all0
      else timed("wide materialize")(all0.localCheckpoint())
    val e = edges(t, all, cfg)
    val selected = cfg.setName match {
      case None => all
      case Some(root) =>
        val spark = all.sparkSession
        import spark.implicits._
        val inTree = GraphOps.bfsClosure(e, Seq(root).toDF("node"))
        all.join(inTree.withColumnRenamed("node", cfg.key), Seq(cfg.key), "left_semi")
    }
    // materialize the (dictionary-sized) edge set ONCE: detectCycles
    // and topoOrder each cache-fill AND fully re-compute this plan
    // otherwise (findCycleNodes unpersists on exit), so both fixpoints
    // were paying the JDBC-scan + join + distinct edge derivation per
    // pass — measured 5–10 s each at q470 scale vs ~1.5 s over a
    // materialized frame (perfbench's `graph.detect_cycles` and
    // `graph.topo_order` spans time both passes)
    val selEdges = e.join(
      selected.select(qcol(cfg.key).as("src")), Seq("src"), "left_semi")
      .localCheckpoint()
    timed("detectCycles")(GraphOps.detectCycles(selEdges))
    // O4: depth-sort puts every referent before its referrers; ties
    // stay in the reference's initial order (is_set asc, concept_id).
    timed("topoOrder")(GraphOps.topoOrder(selected, cfg.key, selEdges))
      .withColumn("__tie", struct(col("is_set"), col("concept_id")))
  }

  /** Output column order (R4, `concept_csv_export.py:607-629`): fixed
    * leading block, then remaining columns in SELECT order; `Void/Retire`
    * always present and forced empty (P10). */
  def orderedColumns(df: DataFrame, cfg: ConceptsConfig): Seq[String] = {
    val leading = Seq("uuid", "Void/Retire") ++ cfg.nameColumnHeaders ++
      Seq(s"Description:${cfg.defaultLocale}", "Data class", "Data type",
        "Answers", "Members")
    val rest = df.columns.filterNot(c =>
      leading.contains(c) || c.startsWith("_mapping") || c.startsWith("__") ||
        c == "concept_id" || c == "is_set")
    leading ++ rest
  }

  /** stderr stage timing, on when GRAFT_EXPORT_TIMING is set — used to
    * attribute the q470/stage:omrs_jdbc cost between pipeline stages. */
  private def timed[A](what: String)(body: => A): A =
    if (!sys.env.contains("GRAFT_EXPORT_TIMING")) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[export] $what%s took ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

  /** Run the export end-to-end and write the single ordered CSV. */
  def export(t: String => DataFrame, cfg: ConceptsConfig, outPath: String): Unit = {
    val rows = timed("pipeline")(pipeline(t, cfg))
    timed("writeOrdered")(writeOrdered(rows, cfg, outPath))
  }

  /** Dynamic-schema CSV write of (possibly exclude-filtered) pipeline
    * rows: empty-column pruning, fixed column order, `Void/Retire`
    * forced empty, single ordered file (S5/R4/P10). */
  def writeOrdered(pipelineRows: DataFrame, cfg: ConceptsConfig,
      outPath: String): Unit = {
    // materialize once: pruneEmptyColumns' discovery aggregate AND the
    // ordered write both consume these rows — without the checkpoint
    // the topo-join plan executes twice (dictionary-sized frame; the
    // one-task ordered write downstream is the product contract)
    val rows = pipelineRows.withColumn("Void/Retire", lit(null).cast("string"))
      .localCheckpoint()
    val cols = orderedColumns(rows, cfg)
    val kept = CsvSink.pruneEmptyColumns(
      rows.select((cols.map(qcol) ++ Seq(col("__ord"), col("__tie"))): _*),
      alwaysKeep = Set("Void/Retire", "__ord", "__tie"))
    CsvSink.write(kept,
      kept.columns.filterNot(_.startsWith("__")).toSeq,
      Seq(col("__ord"), col("__tie")), outPath)
  }
}
