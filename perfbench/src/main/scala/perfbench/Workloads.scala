package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, struct}
import graft.{ExportCli, SparkEntry}
import graft.config.ConceptsConfig
import graft.exports.ConceptsExport
import graft.graph.GraphOps
import graft.operators.{CoreQueries, PipelineQueries}
import graft.sink.CsvSink.qcol

/** One benchmark workload. `setup` generates and ingests the inputs
  * (repeatable), `prepare` makes the one-off reference outputs, `run`
  * is one measured iteration and `check` validates what it wrote. */
trait Workload {
  /** Returns (generate seconds, ingest seconds). */
  def setup(): (Double, Double)
  def prepare(): Unit = ()
  /** Unmeasured iterations after `prepare`. */
  def warmups: Int
  /** One iteration; returns the number of public calls it made. */
  def run(sp: Spans): Int
  /** Failures of the last iteration's outputs (empty when correct). */
  def check(): Seq[String]
  /** Digest of the last iteration's outputs. */
  def digest: String
  /** Output rows of one iteration. */
  def rowsOut: Long
  def inputs: Map[String, Any]
}

object Workload {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  def apply(name: String, spark: SparkSession, seed: Long, work: Path): Workload =
    name match {
      case "concepts-jdbc-full" => new ConceptsJdbcFull(spark, seed, work)
      case "queries-graph" => new QueriesGraph(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
}

/** The product path: the whole dictionary from an on-disk Derby database
  * through `ExportCli` (concepts, then locations, then order types). */
final class ConceptsJdbcFull(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import Workload.time

  private val shape = OmrsShape(concepts = 6000, levels = Seq(300, 40),
    locations = 800, orderTypes = 40)
  private val out = Files.createDirectories(work.resolve("out"))
  private val dbDir = work.resolve("derby")
  private val url = s"jdbc:derby:${dbDir.resolve("omrs")}"
  private val user = "bench"
  private val opts = Map("tables" -> url, "user" -> user, "password" -> user)
  private val locales = Seq("en", "es")
  private var omrs: Omrs = _
  private var directBytes: Array[Byte] = _
  private var lastDigest = ""
  private var lastRows = 0L
  private def path(n: String) = out.resolve(n)

  def setup(): (Double, Double) = {
    val (g, gs) = time(OmrsGen.generate(seed, shape))
    omrs = g
    val (_, is) = time {
      Io.closeDerby(url)
      Io.fresh(dbDir)
      Io.writeDerby(url, user, omrs.tables)
    }
    (gs, is)
  }

  /** The reference CSV: the same tables as in-memory frames, exported
    * once. It runs the concepts pipeline, so two warm-up iterations follow. */
  override def warmups: Int = 2
  override def prepare(): Unit = {
    val frames = omrs.tables.map(t => t.name -> Io.frame(spark, t)).toMap
    val direct = path("direct-concepts.csv")
    ConceptsExport.export(frames, ConceptsConfig(locales = locales), direct.toString)
    directBytes = Io.bytes(direct)
  }

  def inputs: Map[String, Any] = Map(
    "concepts" -> shape.concepts, "set_depth" -> shape.levels.size,
    "locations" -> shape.locations, "order_types" -> shape.orderTypes,
    "rows" -> omrs.rowCount, "live_concepts" -> omrs.model.live.size,
    "edges" -> omrs.model.edges.size)

  def run(sp: Spans): Int = {
    val conceptsOpts = opts ++ Map("out" -> path("concepts.csv").toString,
      "locales" -> locales.mkString(","))
    if (sp eq NoSpans) ExportCli.run(spark, "concepts", conceptsOpts)
    else tracedConcepts(sp, conceptsOpts)
    for (domain <- Seq("locations", "ordertypes"))
      sp.span(s"exports.$domain")(ExportCli.run(spark, domain,
        opts + ("out" -> path(s"$domain.csv").toString)))
    3
  }

  /** `ExportCli.run concepts` rebuilt call for call from the public
    * functions it runs (`stopCharacterScan`, then `ConceptsExport.export`
    * = `pipeline` + `writeOrdered`), one span per call. */
  private def tracedConcepts(sp: Spans, o: Map[String, String]): Unit = {
    val t = ExportCli.resolver(spark, o)
    val cfg = ConceptsConfig(locales = locales)
    sp.span("exports.stop_scan")(ConceptsExport.stopCharacterScan(t, cfg).collect())
    val all = sp.span("exports.wide")(ConceptsExport.wide(t, cfg).localCheckpoint())
    val selEdges = sp.span("exports.edges")(ConceptsExport.edges(t, all, cfg)
      .join(all.select(qcol(cfg.key).as("src")), Seq("src"), "left_semi")
      .localCheckpoint())
    sp.span("graph.detect_cycles")(GraphOps.detectCycles(selEdges))
    val rows = sp.span("graph.topo_order")(GraphOps.topoOrder(all, cfg.key, selEdges))
      .withColumn("__tie", struct(col("is_set"), col("concept_id")))
    sp.span("sink.write_ordered")(ConceptsExport.writeOrdered(rows, cfg, o("out")))
  }

  def check(): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    val m = omrs.model
    val conceptsBytes = Io.bytes(path("concepts.csv"))
    if (!java.util.Arrays.equals(conceptsBytes, directBytes))
      f += s"concepts.csv (${conceptsBytes.length} B) differs from the direct-frame " +
        s"export (${directBytes.length} B)"
    val concepts = Io.readCsv(path("concepts.csv"))
    val uuids = concepts.tail.map(_(concepts.head.indexOf("uuid")))
    if (uuids.size != m.live.size)
      f += s"concepts.csv has ${uuids.size} rows, expected ${m.live.size}"
    if (uuids.toSet != m.live.map(m.uuid)) f += "concepts.csv uuids differ from the live concepts"
    val pos = uuids.zipWithIndex.toMap
    val late = m.edges.filter { case (a, b) =>
      pos.getOrElse(m.uuid(b), Int.MaxValue) >= pos.getOrElse(m.uuid(a), -1)
    }
    if (late.nonEmpty)
      f += s"concepts.csv: ${late.size} referents not before their referrer, e.g. ${late.head}"
    val locations = Io.readCsv(path("locations.csv")).size - 1
    if (locations != m.nLocations)
      f += s"locations.csv has $locations rows, expected ${m.nLocations}"
    val orderTypes = Io.readCsv(path("ordertypes.csv")).size - 1
    if (orderTypes != m.nOrderTypes)
      f += s"ordertypes.csv has $orderTypes rows, expected ${m.nOrderTypes}"
    lastDigest = Io.md5(Seq("concepts.csv", "locations.csv", "ordertypes.csv")
      .map(n => Io.md5(Io.bytes(path(n)))).mkString(","))
    lastRows = uuids.size.toLong + locations + orderTypes
    f.toSeq
  }

  def digest: String = lastDigest
  def rowsOut: Long = lastRows
}

/** Graph-family driver queries over generated TPC-H-shaped tables. Every
  * pass clears the shared-stage memos, so each does the same work. */
final class QueriesGraph(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import Workload.time

  val queries = Seq("q73_pagerank", "q223_golden_record")
  // sf0.01-shaped. q223's star CC runs one round and q73 three PageRank
  // iterations at every size up to sf0.1, so the job count is the same;
  // sf0.1 (600k lineitems) doubles an iteration and does not fit the
  // run's time budget (see perfbench/README.md)
  private val size = TpchGen.Size(customers = 1500, suppliers = 100, parts = 2000, orders = 15000)
  private val dir = work.resolve("tpch")
  private val results = work.resolve("results")
  private var tables: Seq[Table] = Nil
  private var last: Seq[(String, String, Int)] = Nil // (query, digest, rows)
  override def warmups: Int = 3

  def setup(): (Double, Double) = {
    val (t, gs) = time(TpchGen.generate(seed, size))
    tables = t
    val (_, is) = time(Io.writeParquet(spark, tables, Io.fresh(dir)))
    (gs, is)
  }

  def inputs: Map[String, Any] =
    tables.map(t => t.name -> t.rows.size).toMap ++ Map("queries" -> queries.mkString(","))

  /** Each query runs to `collect()`, so its full result is checked. The
    * run's first pass is also written out for the DuckDB oracle check. */
  def run(sp: Spans): Int = {
    PipelineQueries.clearSharedStages()
    CoreQueries.clearSharedStages()
    val first = last.isEmpty
    last = queries.map { q =>
      val (schema, rows) = sp.span(s"operators.${q.takeWhile(_ != '_')}") {
        val df = SparkEntry.queries(q)(spark, dir.toString)
        (df.schema, df.collect())
      }
      if (first) Io.frameOf(spark, schema, rows.toSeq).coalesce(1).write
        .parquet(results.resolve(q).toString)
      (q, Io.resultDigest(schema, rows), rows.length)
    }
    if (first) Files.write(work.resolve("oracle_sql.json"),
      Json.obj(queries.map(q => q -> SparkEntry.oracleSql(q))).getBytes("UTF-8"))
    queries.size
  }

  def check(): Seq[String] = last.collect { case (q, _, 0) => s"$q returned no rows" }
  def digest: String = Io.md5(last.map(_._2).mkString(","))
  def rowsOut: Long = last.map(_._3.toLong).sum
}
