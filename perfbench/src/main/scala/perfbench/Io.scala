package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A minimal JSON writer for the run report and the oracle queries:
  * maps (objects, in their own order), sequences, strings, numbers and
  * booleans. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** File, hashing, Derby and parquet helpers of the benchmark harness. */
object Io {

  def md5(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map(b => f"$b%02x").mkString

  def md5(s: String): String = md5(s.getBytes("UTF-8"))

  def bytes(p: Path): Array[Byte] = Files.readAllBytes(p)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally all.close()
  }

  def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  /** Rows of a CSV as written by Spark's writer (quote `"`, escape `\`),
    * header included. */
  def readCsv(p: Path): IndexedSeq[IndexedSeq[String]] = {
    val s = new String(bytes(p), "UTF-8")
    val rows = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val row = mutable.ArrayBuffer.empty[String]
    val cell = new StringBuilder
    var i = 0; var quoted = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (quoted) {
        if (c == '\\' && i + 1 < s.length) { cell += s.charAt(i + 1); i += 1 }
        else if (c == '"') quoted = false
        else cell += c
      } else c match {
        case '"' => quoted = true
        case ',' => row += cell.toString; cell.clear()
        case '\n' => row += cell.toString; cell.clear(); rows += row.toIndexedSeq; row.clear()
        case '\r' =>
        case _ => cell += c
      }
      i += 1
    }
    if (row.nonEmpty || cell.nonEmpty) { row += cell.toString; rows += row.toIndexedSeq }
    rows.toIndexedSeq
  }

  def frameOf(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  def frame(spark: SparkSession, t: Table): DataFrame = frameOf(spark, t.schema, t.rows)

  def writeParquet(spark: SparkSession, tables: Seq[Table], dir: Path): Unit =
    tables.foreach(t => frame(spark, t).coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve(s"${t.name}.parquet").toString))

  /** Load the tables into an on-disk embedded Derby database with plain
    * JDBC batches (the database a real deployment would export from). */
  def writeDerby(url: String, user: String, tables: Seq[Table]): Unit = {
    val conn = java.sql.DriverManager.getConnection(url + ";create=true", user, user)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      for (t <- tables) {
        val cols = t.schema.fields.map { f =>
          val sqlType = f.dataType match {
            case org.apache.spark.sql.types.IntegerType => "INTEGER"
            case org.apache.spark.sql.types.DoubleType => "DOUBLE"
            case _ => "VARCHAR(2000)"
          }
          s"${f.name} $sqlType"
        }
        st.execute(s"CREATE TABLE ${t.name} (${cols.mkString(", ")})")
        val ps = conn.prepareStatement(s"INSERT INTO ${t.name} VALUES " +
          t.schema.fields.map(_ => "?").mkString("(", ",", ")"))
        val types = t.schema.fields.map(_.dataType)
        t.rows.zipWithIndex.foreach { case (r, k) =>
          types.indices.foreach { c =>
            if (r.isNullAt(c)) ps.setNull(c + 1, types(c) match {
              case org.apache.spark.sql.types.IntegerType => java.sql.Types.INTEGER
              case org.apache.spark.sql.types.DoubleType => java.sql.Types.DOUBLE
              case _ => java.sql.Types.VARCHAR
            })
            else ps.setObject(c + 1, r.get(c))
          }
          ps.addBatch()
          if (k % 2000 == 1999) ps.executeBatch()
        }
        ps.executeBatch(); ps.close()
      }
      st.close(); conn.commit()
    } finally conn.close()
  }

  /** Shut an embedded Derby database down so its directory can go. */
  def closeDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url + ";shutdown=true")
    catch { case _: java.sql.SQLException => () } // shutdown always "fails"

  /** Order-insensitive digest of a result, doubles rounded to 9 places,
    * columns by name. */
  def resultDigest(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    def norm(v: Any): String = v match {
      case null => "null"
      case d: Double if d.isNaN => "NaN"
      case d: Double => BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
      case f: Float => norm(f.toDouble)
      case x => x.toString
    }
    md5(rows.map(r => order.map(i => norm(r.get(i))).mkString("\u0001")).sorted.mkString("\n"))
  }

  /** Restart the kernel's peak-RSS count (`VmHWM`) from the current
    * resident set. */
  def resetPeakRss(): Unit =
    Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"), "5".getBytes("US-ASCII"))

  def procStatusKb(key: String): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  def loadAvg(): String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
  }
}
