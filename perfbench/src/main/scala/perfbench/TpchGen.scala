package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded generator of the TPC-H-shaped tables the graph queries read,
  * with the schemas of the repository's test data: `customer` (q223) and
  * `lineitem` (about 4 rows per order, q73). */
object TpchGen {

  final case class Size(customers: Int, suppliers: Int, parts: Int, orders: Int)

  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")

  def generate(seed: Long, size: Size): Seq[Table] = {
    val rnd = new SplittableRandom(seed)
    def pick[A](v: IndexedSeq[A]): A = v(rnd.nextInt(v.size))
    def money(lo: Int, hi: Int): Double =
      (lo * 100L + rnd.nextLong((hi - lo) * 100L)) / 100.0
    def schema(cols: (String, DataType)*): StructType =
      StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) })

    val customer = (0 until size.customers).map(k => Row(k.toLong,
      f"Customer#$k%09d", rnd.nextInt(25), money(-999, 9999), pick(segments)))
    val lineitem = mutable.ArrayBuffer.empty[Row]
    for (o <- 0 until size.orders; ln <- 1 to 1 + rnd.nextInt(7))
      lineitem += Row(o.toLong, rnd.nextInt(size.parts).toLong,
        rnd.nextInt(size.suppliers).toLong, ln, (1 + rnd.nextInt(50)).toDouble,
        money(900, 100000), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        pick(Vector("A", "N", "R")), pick(Vector("F", "O")),
        Timestamp.valueOf(java.time.LocalDate.of(1995, 1, 1)
          .plusDays(rnd.nextInt(2555)).atStartOfDay()))

    Seq(
      Table("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      Table("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType), lineitem.toIndexedSeq))
  }
}
