package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver test harness (TESTDATA.md).
  *
  * In production the same API fronts a JDBC source (reference reads
  * OpenMRS MySQL via the `mysql` CLI — `concepts/src/concept_csv_export.py:533-558`;
  * we use Spark's JDBC source with per-table pushdown instead). For the
  * harness, every table is a parquet directory under an sf dir.
  *
  * Scale note: parquet scans parallelize per row-group; filters and
  * column pruning push into the scan (verify via `.explain` →
  * `PushedFilters`/`ReadSchema`). No DATA caching here — callers
  * decide; but the resolved RELATION (file listing + footer schema
  * inference) is memoized per (session, dir, table), exactly what a
  * catalog table gives you for free. `spark.read.parquet` re-lists the
  * directory and re-reads footers on every call (~0.03–0.1 s locally,
  * a driver-side metadata job at scale — guide §6 "file listing");
  * the bench's ~500 queries issue ~1000 loads, so the per-load
  * constant is a suite-wide multiplier. Every action on the memoized
  * frame still scans parquet — this caches METADATA, never results.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // The relations follow the graft.StageMemo contract (immutable dirs:
  // a memoized relation pins the file listing and footer schema) in an
  // instance of their own, which StageMemo.clear() leaves alone.
  private val relations = new graft.StageMemo

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    relations.getOrBuild(spark, dir, name)(spark.read.parquet(s"$dir/$name.parquet"))

  /** events.parquet has shipped `ts` in three different parquet encodings
    * across testdata regenerations; normalize all of them here so every
    * consumer sees a plain `TimestampType` column:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark 4 rejects it outright
    *    (ILLEGAL_PARQUET_TYPE) unless the legacy nanos-as-long flag is
    *    on. Read nanos as long, then convert via exact integer division
    *    to micros (no double round-trip — epoch nanos exceed 2^53 and
    *    would lose precision through a double).
    *  - TIMESTAMP with isAdjustedToUTC=false: Spark 4 reads it as
    *    TIMESTAMP_NTZ, which `unix_micros` and friends reject at
    *    analysis. Cast to TIMESTAMP — instant-preserving under the UTC
    *    session timezone the engine pins in its builders.
    *  - TIMESTAMP (LTZ): already the right type, pass through. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
