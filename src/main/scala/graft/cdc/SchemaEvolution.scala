package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType,
  FloatType, IntegerType, LongType, StructField, StructType}

/** Schema-evolution validation — the registry gate the reference deploys
  * (`/root/reference/bin/mskc-connector.sh:443-445`: auto-registration
  * with BACKWARD compatibility; default `bin/osci.sh:21`).
  *
  * The semantics are specified by the reference's own acceptance cases
  * (`/root/reference/README.md:466-479`):
  *   1. drop a column                       → compatible   (pass)
  *   2. add a nullable column               → compatible   (pass)
  *   3. add a NOT NULL column, no default   → INCOMPATIBLE (fail)
  *
  * BACKWARD means: a reader using the NEW schema can read data written
  * with the OLD schema. So additions must be fillable (nullable or
  * defaulted), deletions are always fine, and a field may not tighten
  * from nullable to required.
  */
object SchemaEvolution {

  sealed trait Verdict { def isCompatible: Boolean }
  case object Compatible extends Verdict { val isCompatible = true }
  final case class Incompatible(reasons: Seq[String]) extends Verdict {
    val isCompatible = false
  }

  sealed trait Mode
  case object Backward extends Mode // new reader, old data (registry default)
  case object Forward extends Mode  // old reader, new data
  case object Full extends Mode     // both
  case object None_ extends Mode    // anything goes

  /** Numeric widenings a reader can apply losslessly while decoding. */
  private val widenings: Set[(String, String)] = Set(
    ("integer", "long"), ("integer", "double"), ("long", "double"),
    ("float", "double"))

  private def fieldReadable(writer: StructField, reader: StructField)
      : Option[String] = {
    val (w, r) = (writer.dataType, reader.dataType)
    (w, r) match {
      case (ws: StructType, rs: StructType) =>
        val nested = incompatibilities(ws, rs)
        if (nested.isEmpty) None
        else Some(s"field ${reader.name}: ${nested.mkString("; ")}")
      case _ if w == r => None
      case _ if widenings((w.typeName, r.typeName)) => None
      case _ =>
        Some(s"field ${reader.name}: type ${w.typeName} not readable as ${r.typeName}")
    }
  }

  /** Reasons `reader` cannot decode data written with `writer`. */
  private def incompatibilities(writer: StructType, reader: StructType)
      : Seq[String] = {
    val writerFields = writer.fields.map(f => f.name -> f).toMap
    reader.fields.toSeq.flatMap { rf =>
      writerFields.get(rf.name) match {
        case Some(wf) =>
          fieldReadable(wf, rf).toSeq ++
            (if (wf.nullable && !rf.nullable)
               Seq(s"field ${rf.name}: nullable tightened to required")
             else Seq.empty)
        case None =>
          // Missing in old data: the reader must be able to fill it in.
          if (rf.nullable || rf.getCurrentDefaultValue().isDefined) Seq.empty
          else Seq(s"field ${rf.name}: added as NOT NULL without default")
      }
    }
  }

  /** Can `next` replace `prev` under `mode`? (README.md:466-479 table.) */
  def check(prev: StructType, next: StructType, mode: Mode = Backward)
      : Verdict = {
    val reasons = mode match {
      case Backward => incompatibilities(prev, next)
      case Forward  => incompatibilities(next, prev)
      case Full     => incompatibilities(prev, next) ++
        incompatibilities(next, prev)
      case None_    => Seq.empty
    }
    if (reasons.isEmpty) Compatible else Incompatible(reasons.distinct)
  }

  /** The narrowest type both `a` and `b` read as without loss — the
    * promotions a parquet reader applies to files written under the
    * narrower type: int→long, float→double, and decimal growth (integer
    * digits and scale each the larger of the two, at most 38 digits).
    * None when the two types do not widen into one.
    */
  def widerType(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if a == b => Some(a)
    case (IntegerType, LongType) | (LongType, IntegerType) => Some(LongType)
    case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
    case (x: DecimalType, y: DecimalType) =>
      val scale = math.max(x.scale, y.scale)
      val digits =
        math.max(x.precision - x.scale, y.precision - y.scale) + scale
      if (digits <= DecimalType.MAX_PRECISION) Some(DecimalType(digits, scale))
      else None
    case _ => None
  }

  /** Merged read-schema over a version history: union of fields, newest
    * type wins, everything not present in every version goes nullable —
    * what a consumer uses to scan a mixed-schema topic history.
    */
  def mergeReadSchema(versions: Seq[StructType]): StructType = {
    require(versions.nonEmpty, "empty schema history")
    val everywhere = versions
      .map(_.fields.map(_.name).toSet)
      .reduce(_ intersect _)
    val merged = scala.collection.mutable.LinkedHashMap[String, StructField]()
    versions.foreach { v =>
      v.fields.foreach { f =>
        val nullable = f.nullable || !everywhere(f.name)
        merged(f.name) = f.copy(nullable = nullable)
      }
    }
    StructType(merged.values.toSeq)
  }

  /** Normalize a mixed-schema history of frames for one scan —
    * `unionByName(allowMissingColumns)` fills absent columns with null
    * (SURVEY.md §7.2 "reading mixed-schema histories").
    */
  def normalizeHistory(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "empty frame history")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
