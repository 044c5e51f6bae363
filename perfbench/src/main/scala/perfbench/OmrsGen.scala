package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** One generated table: its name, schema and rows. */
final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

/** What a correct export of the generated dictionary contains, derived
  * from the generated rows alone (no program code). */
final case class OmrsModel(
    live: Set[Int],                  // non-retired concept ids
    uuid: Map[Int, String],
    edges: Seq[(Int, Int)],          // (referrer, referent), both live
    nLocations: Int,
    nOrderTypes: Int)

final case class Omrs(tables: Seq[Table], model: OmrsModel) {
  def rowCount: Long = tables.map(_.rows.size.toLong).sum
}

/** Shape of a generated OpenMRS database.
  *
  * @param levels non-leaf concepts per set-nesting level 1..D; a node at
  *               level L always has a child at level L-1, so the nesting
  *               depth is exactly D */
final case class OmrsShape(
    concepts: Int,
    levels: Seq[Int],
    locations: Int,
    orderTypes: Int)

/** Seeded OpenMRS-shaped generator: concept dictionary, locations and
  * order types, with the features the exporters must handle —
  * multi-locale FULLY_SPECIFIED/SHORT names and voided names, CR-LF
  * descriptions, mappings over the 15 default sources with numeric and
  * named PIH codes, codes containing the `;` stop character, retired
  * terms and concepts, numeric and complex rows, set members and answers
  * with sort-weight ties, a CIEL SAME-AS on every concept, and locations
  * whose parents may have larger ids, with tags and `:`-valued
  * attributes. The same seed and shape give the same rows. */
object OmrsGen {

  private val words = Vector("blood", "pressure", "heart", "rate", "malaria",
    "test", "result", "fever", "cough", "weight", "height", "glucose",
    "serum", "urine", "culture", "visit", "reason", "diagnosis", "drug",
    "dose", "route", "oral", "daily", "chest", "pain", "history",
    "family", "planning", "vaccine", "given", "referral", "status",
    "pregnancy", "hiv", "viral", "load", "cd4", "count", "sputum", "smear")
  private val locales = Seq("en" -> 1.0, "es" -> 0.6, "fr" -> 0.3, "ht" -> 0.2)
  private val classes = Vector("Misc", "Question", "Diagnosis", "Test", "Drug",
    "ConvSet", "LabSet", "Finding", "Symptom", "Program")
  private val datatypes = Vector("N/A", "Numeric", "Coded", "Text", "Complex",
    "Boolean")
  private val sources = Vector("PIH", "CIEL", "AMPATH", "ICD-10-WHO",
    "ICD-10-WHO 2nd", "ICD-11-WHO", "Liberia MoH", "LOINC",
    "org.openmrs.module.emrapi", "PIH Malawi", "RxNORM", "SES Lab",
    "SNOMED CT", "SNOMED UK", "Internal")
  private val mapTypes = Vector("SAME-AS", "NARROWER-THAN", "BROADER-THAN",
    "ASSOCIATED-WITH")
  private val tagNames = Vector("Login Location", "Visit Location",
    "Admission Location", "Transfer Location", "Medical Record Location",
    "Queue Location", "Main Pharmacy", "Appointment Location")
  private val attrNames = Vector("Code", "Phone", "Address", "Catchment",
    "Facility Type")

  private def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, nullable = true) })
  private val I = IntegerType; private val D = DoubleType; private val S = StringType

  def generate(seed: Long, shape: OmrsShape): Omrs = {
    val rnd = new SplittableRandom(seed)
    def pick[A](v: IndexedSeq[A]): A = v(rnd.nextInt(v.size))
    def chance(p: Double): Boolean = rnd.nextDouble() < p
    val uuids = mutable.HashSet.empty[String]
    def uuid(): String = {
      var u = ""
      do {
        u = f"${rnd.nextLong() & 0xffffffffL}%08x-${rnd.nextInt(65536)}%04x-" +
          f"4${rnd.nextInt(4096)}%03x-${8 + rnd.nextInt(4)}%x${rnd.nextInt(4096)}%03x-" +
          f"${rnd.nextLong() & 0xffffffffffffL}%012x"
      } while (!uuids.add(u))
      u
    }
    def phrase(k: Int): String =
      (1 to k).map(_ => pick(words)).mkString(" ").capitalize
    def shuffled(n: Int): Array[Int] = {
      val a = Array.tabulate(n)(i => i + 1)
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }

    // ---- roles: ids are shuffled so structure does not follow id order
    val n = shape.concepts
    val ids = shuffled(n)
    var at = 0
    def take(k: Int): IndexedSeq[Int] = { val r = ids.slice(at, at + k).toIndexedSeq; at += k; r }
    val levelNodes: IndexedSeq[IndexedSeq[Int]] = shape.levels.map(take).toIndexedSeq
    val leaves = ids.drop(at).toIndexedSeq
    val retired = leaves.filter(_ => chance(0.03)).toSet

    // ---- links: (parent, child, sort_weight, isAnswer)
    val isQuestion = mutable.HashSet.empty[Int]
    val links = mutable.ArrayBuffer.empty[(Int, Int, Double, Boolean)]
    def link(parent: Int, kids: Seq[Int], question: Boolean): Unit = {
      if (question) isQuestion += parent
      val top = math.max(2, kids.size / 2)
      kids.distinct.foreach(k => links += ((parent, k, (1 + rnd.nextInt(top)).toDouble, question)))
    }
    def some(pool: IndexedSeq[Int], k: Int): Seq[Int] =
      if (pool.isEmpty) Nil else Seq.fill(k)(pick(pool))
    for ((nodes, li) <- levelNodes.zipWithIndex; p <- nodes) {
      val lower = if (li == 0) Nil
        else some(levelNodes(li - 1), 1 + rnd.nextInt(2)) ++
          (if (li >= 2 && chance(0.3)) some(levelNodes(rnd.nextInt(li - 1)), 1) else Nil)
      link(p, lower ++ some(leaves, 2 + rnd.nextInt(5)), question = chance(0.3))
    }
    val isSet = links.filterNot(_._4).map(_._1).toSet

    // ---- concept rows
    val classId = classes.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    val dtId = datatypes.zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val uuidOf = mutable.LinkedHashMap.empty[Int, String]
    val conceptRows = mutable.ArrayBuffer.empty[Row]
    val numericRows = mutable.ArrayBuffer.empty[Row]
    val complexRows = mutable.ArrayBuffer.empty[Row]
    for (id <- 1 to n) {
      val u = uuid(); uuidOf(id) = u
      val (cls, dt) =
        if (isSet(id)) (pick(Vector("ConvSet", "LabSet")), "N/A")
        else if (isQuestion(id)) ("Question", "Coded")
        else {
          val r = rnd.nextDouble()
          val d = if (r < 0.12) "Numeric" else if (r < 0.14) "Complex"
            else if (r < 0.24) "Text" else if (r < 0.30) "Coded"
            else if (r < 0.32) "Boolean" else "N/A"
          (pick(Vector("Diagnosis", "Test", "Drug", "Finding", "Symptom", "Misc", "Program")), d)
        }
      conceptRows += Row(id, u, classId(cls), dtId(dt),
        if (retired(id)) 1 else 0, if (isSet(id)) 1 else 0)
      if (dt == "Numeric") numericRows += Row(id,
        if (chance(0.7)) (200 + rnd.nextInt(800)).toDouble else null,
        if (chance(0.3)) (150 + rnd.nextInt(50)).toDouble else null,
        (100 + rnd.nextInt(50)).toDouble,
        if (chance(0.7)) 0.0 else null,
        if (chance(0.3)) (5 + rnd.nextInt(5)).toDouble else null,
        (10 + rnd.nextInt(40)).toDouble / 2,
        pick(Vector("mg/dL", "mmHg", "kg", "cm", "%", "cells/uL", null)),
        if (chance(0.5)) rnd.nextInt(3) else null,
        rnd.nextInt(2))
      if (dt == "Complex") complexRows += Row(id, pick(Vector("ImageHandler", "TextHandler")))
    }

    // ---- names: an en FULLY_SPECIFIED name for every concept (unique:
    // it is the export key without --key-mapping), others by chance
    val nameRows = mutable.ArrayBuffer.empty[Row]
    for (id <- 1 to n) {
      for ((loc, p) <- locales if chance(p))
        nameRows += Row(id, s"${phrase(2 + rnd.nextInt(3))} $loc$id", loc, "FULLY_SPECIFIED", 0)
      if (chance(0.3)) nameRows += Row(id, s"${pick(words).toUpperCase} $id", "en", "SHORT", 0)
      if (chance(0.1)) nameRows += Row(id, s"${pick(words)} $id", "es", "SHORT", 0)
      if (chance(0.08)) nameRows += Row(id, s"Old ${phrase(2)} $id", "en", "FULLY_SPECIFIED", 1)
      if (chance(0.05)) nameRows += Row(id, s"${phrase(2)} de$id", "de", "FULLY_SPECIFIED", 0)
    }
    val haveEnFsn = nameRows.collect { case r if r.getString(2) == "en" && r.getInt(4) == 0 &&
      r.getString(3) == "FULLY_SPECIFIED" => r.getInt(0) }.toSet
    for (id <- 1 to n if !haveEnFsn(id))
      nameRows += Row(id, s"${phrase(3)} en$id", "en", "FULLY_SPECIFIED", 0)

    val descRows = mutable.ArrayBuffer.empty[Row]
    for (id <- 1 to n) {
      if (chance(0.5)) descRows += Row(id,
        if (chance(0.2)) s"${phrase(6)}.\r\n${phrase(5)}, ${phrase(3)}." else s"${phrase(8)}.",
        "en")
      if (chance(0.1)) descRows += Row(id, s"${phrase(5)}\r\n(es)", "es")
    }

    // ---- mappings: every concept has exactly one CIEL SAME-AS term
    val sourceId = sources.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    val mapTypeId = mapTypes.zipWithIndex.map { case (m, i) => m -> (i + 1) }.toMap
    val termRows = mutable.ArrayBuffer.empty[Row]
    val mapRows = mutable.ArrayBuffer.empty[Row]
    var termId = 0
    def term(concept: Int, src: String, mt: String, code: String, ret: Int): Unit = {
      termId += 1
      termRows += Row(termId, code, sourceId(src), ret)
      mapRows += Row(concept, mapTypeId(mt), termId)
    }
    val cielPerm = shuffled(3 * n)
    val cielOf = (1 to n).map(id => id -> (100000 + cielPerm(id - 1)).toString).toMap
    for (id <- 1 to n) {
      term(id, "CIEL", "SAME-AS", cielOf(id), 0)
      for (_ <- 0 until rnd.nextInt(5)) {
        val src = pick(sources.filterNot(_ == "CIEL"))
        val mt = if (chance(0.7)) "SAME-AS" else pick(mapTypes)
        val code = src match {
          case "PIH" => rnd.nextInt(10) match {
            case 0 => s"${rnd.nextInt(9000) + 100}abc"     // numeric prefix: Number
            case k if k < 5 => (rnd.nextInt(9000) + 100).toString
            case _ => s"${phrase(2)} ${rnd.nextInt(1000)}"
          }
          case "LOINC" => s"${rnd.nextInt(90000) + 1000}-${rnd.nextInt(10)}"
          case s if s.startsWith("ICD") => f"${('A' + rnd.nextInt(26)).toChar}${rnd.nextInt(100)}%02d.${rnd.nextInt(10)}"
          case _ => (rnd.nextInt(900000) + 1000).toString
        }
        val withStop = if (chance(0.004)) code + ";" + rnd.nextInt(10) else code
        term(id, src, mt, withStop, if (chance(0.04)) 1 else 0)
      }
    }

    // ---- locations: a forest over shuffled ids, so a child may have
    // a smaller id than its parent
    val nl = shape.locations
    val locOrder = shuffled(nl)
    val parentOf = locOrder.zipWithIndex.map { case (l, i) =>
      l -> (if (i < 5) None else Some(locOrder(rnd.nextInt(i))))
    }.toMap
    val locRows = (1 to nl).map(l => Row(l, uuid(), if (chance(0.05)) 1 else 0,
      s"${phrase(2)} $l", if (chance(0.7)) phrase(4) else null,
      parentOf(l).map(Int.box).orNull))
    val tagMap = for (l <- 1 to nl; t <- shuffled(tagNames.size).take(rnd.nextInt(4)))
      yield Row(l, t)
    var attrId = 0
    val attrRows = for (l <- 1 to nl; a <- shuffled(attrNames.size).take(rnd.nextInt(4)))
      yield {
        attrId += 1
        Row(attrId, l, a, s"${attrNames(a - 1).take(3).toUpperCase}:${rnd.nextInt(10000)}:${pick(words)}", 0)
      }

    val no = shape.orderTypes
    val orderRows = (1 to no).map(o => Row(o, uuid(), if (chance(0.1)) 1 else 0,
      s"${phrase(2)} order $o", if (chance(0.5)) phrase(5) else null,
      pick(Vector("org.openmrs.TestOrder", "org.openmrs.DrugOrder", "org.openmrs.ReferralOrder")),
      if (o > 3 && chance(0.5)) Int.box(1 + rnd.nextInt(3)) else null))

    // ---- the expected-output model
    val live = (1 to n).filterNot(retired).toSet
    val edges = links.collect { case (p, c, _, _) if live(p) && live(c) => (p, c) }.distinct.toSeq

    val tables = Seq(
      Table("concept", schema("concept_id" -> I, "uuid" -> S, "class_id" -> I,
        "datatype_id" -> I, "retired" -> I, "is_set" -> I), conceptRows.toIndexedSeq),
      Table("concept_class", schema("concept_class_id" -> I, "name" -> S),
        classes.zipWithIndex.map { case (c, i) => Row(i + 1, c) }),
      Table("concept_datatype", schema("concept_datatype_id" -> I, "name" -> S),
        datatypes.zipWithIndex.map { case (d, i) => Row(i + 1, d) }),
      Table("concept_name", schema("concept_id" -> I, "name" -> S, "locale" -> S,
        "concept_name_type" -> S, "voided" -> I), nameRows.toIndexedSeq),
      Table("concept_description", schema("concept_id" -> I, "description" -> S,
        "locale" -> S), descRows.toIndexedSeq),
      Table("concept_map_type", schema("concept_map_type_id" -> I, "name" -> S),
        mapTypes.zipWithIndex.map { case (m, i) => Row(i + 1, m) }),
      Table("concept_reference_source", schema("concept_source_id" -> I, "name" -> S),
        sources.zipWithIndex.map { case (s, i) => Row(i + 1, s) }),
      Table("concept_reference_term", schema("concept_reference_term_id" -> I,
        "code" -> S, "concept_source_id" -> I, "retired" -> I), termRows.toIndexedSeq),
      Table("concept_reference_map", schema("concept_id" -> I,
        "concept_map_type_id" -> I, "concept_reference_term_id" -> I), mapRows.toIndexedSeq),
      Table("concept_numeric", schema("concept_id" -> I, "hi_absolute" -> D,
        "hi_critical" -> D, "hi_normal" -> D, "low_absolute" -> D, "low_critical" -> D,
        "low_normal" -> D, "units" -> S, "display_precision" -> I,
        "allow_decimal" -> I), numericRows.toIndexedSeq),
      Table("concept_complex", schema("concept_id" -> I, "handler" -> S),
        complexRows.toIndexedSeq),
      Table("concept_set", schema("concept_set" -> I, "concept_id" -> I,
        "sort_weight" -> D),
        links.collect { case (p, c, w, false) => Row(p, c, w) }.toIndexedSeq),
      Table("concept_answer", schema("concept_id" -> I, "answer_concept" -> I,
        "sort_weight" -> D),
        links.collect { case (p, c, w, true) => Row(p, c, w) }.toIndexedSeq),
      Table("location", schema("location_id" -> I, "uuid" -> S, "retired" -> I,
        "name" -> S, "description" -> S, "parent_location" -> I), locRows),
      Table("location_tag", schema("location_tag_id" -> I, "name" -> S),
        tagNames.zipWithIndex.map { case (t, i) => Row(i + 1, t) }),
      Table("location_tag_map", schema("location_id" -> I, "location_tag_id" -> I), tagMap),
      Table("location_attribute_type", schema("location_attribute_type_id" -> I,
        "name" -> S), attrNames.zipWithIndex.map { case (a, i) => Row(i + 1, a) }),
      Table("location_attribute", schema("location_attribute_id" -> I,
        "location_id" -> I, "attribute_type_id" -> I, "value_reference" -> S,
        "voided" -> I), attrRows),
      Table("order_type", schema("order_type_id" -> I, "uuid" -> S, "retired" -> I,
        "name" -> S, "description" -> S, "java_class_name" -> S, "parent" -> I),
        orderRows))

    Omrs(tables, OmrsModel(live, uuidOf.toMap, edges, nl, no))
  }
}
