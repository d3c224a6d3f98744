package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Exact type widening for the upsert table format's merge paths —
  * in-place schema evolution for the cases where no data rewrite is
  * needed.
  *
  * A long-lived table's columns outgrow their birth types: int ids
  * cross 2^31, float measures get refined to double. Hudi and Delta
  * both accept these as metadata-only evolution, because the parquet
  * files already on disk stay valid — readers promote the narrow
  * physical values on read (Spark 4's parquet readers do int32→
  * long/double and float→double natively, and the format's scan reads
  * through Spark's vectorized reader, [[UpsertColumnarPartitionReader]]).
  * At 100 TB that distinction is the whole feature: a type change that
  * forced a table rewrite would be a full-table write job; a widening
  * is a `_schema.json` update.
  *
  * The lattice admits only EXACT promotions — every value of the
  * narrow type must be representable in the wide one:
  *
  *   - byte → short → int → long (integral chain)
  *   - byte, short → float (24-bit mantissa covers 16 bits)
  *   - byte, short, int, float → double (53-bit mantissa covers 32)
  *
  * Everything else fails LOUDLY. This deliberately REJECTS pairs
  * Spark's union type-coercion would silently accept: long+double
  * coerces to double and corrupts keys above 2^53; int+string coerces
  * under ANSI rules to a numeric and turns data problems into runtime
  * cast errors mid-merge. A batch that genuinely needs a lossy change
  * must cast explicitly upstream, where the loss is visible in the
  * pipeline code.
  */
object SchemaWidening {

  private val intRank: Map[DataType, Int] =
    Map(ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)

  /** `dt` with every nested nullability flag set true — the form two
    * types are compared in (Spark's own asNullable is private).
    */
  private def allNullable(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => ArrayType(allNullable(et), containsNull = true)
    case MapType(k, v, _) =>
      MapType(allNullable(k), allNullable(v), valueContainsNull = true)
    case StructType(fields) => StructType(fields.map(f =>
      f.copy(dataType = allNullable(f.dataType), nullable = true)))
    case other => other
  }

  /** The exact common supertype of `a` and `b`, or None when the pair
    * is not exactly widenable (equal types return themselves).
    * Nullability — including nested containsNull/valueContainsNull —
    * is NOT a type difference: the table schema is all-nullable by
    * construction (TableSchema.pin), while batches routinely carry
    * non-nullable flavors of the same type.
    */
  def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if a == b => Some(a)
    case _ if allNullable(a) == allNullable(b) => Some(allNullable(a))
    case _ if intRank.contains(a) && intRank.contains(b) =>
      Some(if (intRank(a) >= intRank(b)) a else b)
    case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
    case (FloatType, t) if intRank.get(t).exists(_ <= 2) => Some(FloatType)
    case (t, FloatType) if intRank.get(t).exists(_ <= 2) => Some(FloatType)
    // int meets float at double: neither embeds in the other, both
    // embed exactly in double. long meets NOTHING floating (lossy).
    case (FloatType, IntegerType) | (IntegerType, FloatType) => Some(DoubleType)
    case (DoubleType, t) if intRank.get(t).exists(_ <= 3) => Some(DoubleType)
    case (t, DoubleType) if intRank.get(t).exists(_ <= 3) => Some(DoubleType)
    case _ => None
  }

  /** Widen `cur`'s field types by same-name fields of `incoming`
    * (case-insensitive, like every name lookup in this format), keeping
    * `cur`'s field order and extra fields. Throws on a non-widenable
    * pair. Fields of `incoming` absent from `cur` are NOT appended —
    * pair with the additive-union logic the caller already has.
    */
  def widenFields(cur: StructType, incoming: StructType,
      context: String): StructType =
    StructType(cur.fields.map { f =>
      incoming.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(nf) if nf.dataType != f.dataType =>
          f.copy(dataType = require2(f.name, f.dataType, nf.dataType, context))
        case _ => f
      }
    })

  private def require2(name: String, a: DataType, b: DataType,
      context: String): DataType =
    widen(a, b).getOrElse(throw new IllegalArgumentException(
      s"graft-upsert: $context changes column '$name' from $a to $b, " +
        "which is not an exact widening — cast explicitly upstream if the " +
        "(lossy) change is intended"))

  /** Align `frames` for a merge union: for every column name appearing
    * in more than one frame at different types, compute the exact
    * widened target and cast each frame to it. Throws on a
    * non-widenable pair — the merge must never fall through to union
    * type-coercion, whose common types are silently lossy.
    */
  def alignForMerge(frames: Seq[DataFrame], context: String): Seq[DataFrame] = {
    val target = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    frames.foreach(_.schema.fields.foreach { f =>
      val k = f.name.toLowerCase(java.util.Locale.ROOT)
      target.get(k) match {
        case None => target(k) = f.dataType
        case Some(t) if t == f.dataType => ()
        case Some(t) => target(k) = require2(f.name, t, f.dataType, context)
      }
    })
    frames.map { df =>
      val widened = df.schema.fields.filter(f =>
        target(f.name.toLowerCase(java.util.Locale.ROOT)) != f.dataType)
      widened.foldLeft(df)((d, f) => d.withColumn(f.name,
        col(s"`${f.name}`").cast(
          target(f.name.toLowerCase(java.util.Locale.ROOT)))))
    }
  }
}
