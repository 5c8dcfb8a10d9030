package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Write-side schema coercion (reference `data_generator.py:78`:
  * `pa.Table.from_pylist(..., schema=table.schema().as_arrow())`):
  * an incoming DataFrame is aligned to the table's current schema by
  * **name** — columns reordered, missing optional fields null-filled,
  * compatible types safe-cast, recursively through structs and
  * array-of-struct elements. Missing *required* fields are an error.
  *
  * Name resolution honors `spark.sql.caseSensitive` (default
  * insensitive, like every Spark resolution): a frame column "V"
  * aligns onto table column "v" — silently null-filling it while the
  * value sat one case away would be the classic mergeSchema trap. An
  * exact-case match always wins; two frame columns differing only in
  * case with no exact match are ambiguous and refuse by name.
  */
object Align {

  def apply(df: DataFrame, target: StructType): DataFrame =
    keeping(df, target, Seq.empty)

  /** Align, but carry the named EXTRA columns (when present in `df`)
    * through the aligning select — the rewrite paths use this to keep
    * materialized row-lineage columns alongside the schema-shaped
    * data (a plain Align would silently drop them).
    */
  def keeping(df: DataFrame, target: StructType,
      extras: Seq[String]): DataFrame = {
    val ci = !df.sparkSession.sessionState.conf.caseSensitiveAnalysis
    val cleanTarget = Reconcile.clean(target).asInstanceOf[StructType]
    val cols = cleanTarget.fields.toSeq.zip(target.fields.toSeq).map {
      case (tf, orig) =>
        fieldExpr(tf,
          resolve(df.schema.fields, tf.name, ci)
            .map(f => (col(s"`${f.name.replace("`", "``")}`"), f.dataType,
              f.nullable)),
          tf.name, ci, Some(orig)).as(tf.name)
    }
    val kept = extras.filter(df.columns.contains).map(e => col(s"`$e`"))
    df.select(cols ++ kept: _*)
  }

  /** The input field matching `name`: exact-case first, else the
    * UNIQUE case-insensitive candidate when resolution is insensitive;
    * several case-variant candidates with no exact match refuse. */
  private def resolve(fields: Array[StructField], name: String,
      ci: Boolean): Option[StructField] =
    fields.find(_.name == name).orElse {
      if (!ci) None
      else fields.filter(_.name.equalsIgnoreCase(name)) match {
        case Array() => None
        case Array(one) => Some(one)
        case many => throw new IllegalArgumentException(
          s"ambiguous input for column '$name' under case-insensitive " +
            s"resolution: ${many.map(_.name).mkString(", ")}")
      }
    }

  /** `in`: the input column, its type, and whether it may be null. */
  private def fieldExpr(tf: StructField,
      in: Option[(Column, DataType, Boolean)],
      path: String, ci: Boolean,
      orig: Option[StructField] = None): Column = in match {
    case None =>
      // a column the writer omitted takes its declared WRITE default
      // (SET DEFAULT-mutable, falls back to the add-time initial) —
      // checked BEFORE the required-field guard, because a NOT NULL
      // column WITH a default is the primary SET DEFAULT use-case;
      // `orig` carries the annotated field, `tf` the stripped type
      val default = orig.flatMap(graft.schema.Defaults.writeOf)
      if (default.isEmpty && !tf.nullable)
        throw new IllegalArgumentException(
          s"required field '$path' missing from input")
      orig.map(o => graft.schema.Defaults.writeFill(o, tf.dataType))
        .getOrElse(lit(null).cast(tf.dataType))
    case Some((c, inT, nullable)) =>
      typeExpr(tf.dataType, inT, c, path, ci, nullable)
  }

  private def typeExpr(tgt: DataType, in: DataType, c: Column,
      path: String, ci: Boolean, nullable: Boolean = true): Column =
    (tgt, in) match {
      case (t: StructType, i: StructType) =>
        val fields = struct(t.fields.toSeq.map { tf =>
          fieldExpr(tf,
            resolve(i.fields, tf.name, ci)
              .map(f => (c.getField(f.name), f.dataType, true)),
            s"$path.${tf.name}", ci).as(tf.name)
        }: _*)
        // a top-level struct the frame declares non-nullable stays
        // non-nullable, so its file column is REQUIRED like any other
        // such column
        if (!nullable) fields
        else when(c.isNull, lit(null).cast(t)).otherwise(fields)
      case (ArrayType(te: StructType, _), ArrayType(ie: StructType, _)) =>
        transform(c, x => typeExpr(te, ie, x, s"$path.element", ci))
      case (t, i) if t == i => c
      case (t, _) => c.cast(t)
    }
}
