package graft.schema

import org.apache.spark.sql.types._

/** One detected change for a dotted field path — the engine's version
  * of the reference's `SchemaChange` dataclass
  * (`iceberg_helper.py:24-75`).
  */
sealed trait SchemaChange { def path: String }
case class AddColumn(path: String, dataType: DataType) extends SchemaChange
case class DropColumn(path: String) extends SchemaChange
case class UpdateColumnType(path: String, from: DataType, to: DataType)
  extends SchemaChange
case class DisallowedChange(path: String, from: DataType, to: DataType,
    reason: String) extends SchemaChange

/** Name-based schema diff over flattened dotted paths, mirroring
  * `_update_table`'s three passes (`iceberg_helper.py:254-298`):
  * new-side pass marks updates, existing-side pass marks drops,
  * remainder marks adds. Child adds under a freshly-added parent are
  * suppressed — the parent add carries them (`iceberg_helper.py:
  * 316-321`); same for children of dropped parents.
  *
  * Type-change validation implements real Iceberg promotion rules
  * (int→long, float→double, decimal precision widening at equal
  * scale), unlike the reference which computes
  * `data_type_change_allowed` and then ignores the result
  * (`iceberg_helper.py:297-303` — a documented deliberate fix,
  * SURVEY.md §7.3-7.7).
  */
object SchemaDiff {

  def promotionAllowed(from: DataType, to: DataType): Either[String, Unit] =
    (from, to) match {
      case (a, b) if a == b => Right(())
      case (IntegerType, LongType) => Right(())
      case (FloatType, DoubleType) => Right(())
      case (d1: DecimalType, d2: DecimalType)
        if d2.precision >= d1.precision && d1.scale == d2.scale => Right(())
      case (a @ MapType(ak, _, _), b @ MapType(bk, _, _))
          if shallowKind(ak) != shallowKind(bk) =>
        Left(s"cannot update map keys ($a -> $b)")
      case (a, b) if isNested(a) != isNested(b) =>
        Left(s"cannot change between primitive and non-primitive ($a -> $b)")
      case (a, b) if isNested(a) && isNested(b) =>
        // container shape changes are handled per nested field; a raw
        // container-type swap (e.g. array -> map) is disallowed
        Left(s"cannot change container type ($a -> $b)")
      case (a, b) => Left(s"type promotion $a -> $b is not allowed")
    }

  private def isNested(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType => true
    case _ => false
  }

  /** Compare types shallowly: nested containers are compared by kind
    * only (their children diff via their own paths).
    */
  private def shallowKind(dt: DataType): Any = dt match {
    case _: StructType => "struct"
    case ArrayType(e: StructType, _) => "array<struct>"
    case ArrayType(e, _) => ("array", shallowKind(e))
    case MapType(k, v: StructType, _) => ("map", shallowKind(k), "struct")
    case MapType(k, v, _) => ("map", shallowKind(k), shallowKind(v))
    case other => other
  }

  /** Dotted paths of every map KEY in `schema`, in [[FieldIds.flatten]]
    * spelling: a struct key's fields flatten below `<map>.key`.
    */
  private def mapKeyPaths(schema: StructType): Seq[String] = {
    def walk(dt: DataType, prefix: String): Seq[String] = dt match {
      case s: StructType => s.fields.toSeq.flatMap(f =>
        walk(f.dataType, if (prefix.isEmpty) f.name else s"$prefix.${f.name}"))
      case ArrayType(et, _) => walk(et, s"$prefix.element")
      case MapType(kt, vt, _) =>
        s"$prefix.key" +: (walk(kt, s"$prefix.key") ++ walk(vt, s"$prefix.value"))
      case _ => Seq.empty
    }
    walk(schema, "")
  }

  def diff(current: StructType, target: StructType): Seq[SchemaChange] = {
    val curFlat = FieldIds.flatten(current)
    val curFields = curFlat.toMap
    val cur = curFlat.map { case (p, f) => p -> f.dataType }
    val tgtFlat = FieldIds.flatten(target)
    val tgt = tgtFlat.map { case (p, f) => p -> f.dataType }
    val curMap = cur.toMap
    val tgtMap = tgt.toMap

    val changes = Seq.newBuilder[SchemaChange]

    // initial defaults are set when a column is ADDED and immutable
    // after: a retroactive one would rewrite what files written before
    // the change already serve (old rows would suddenly read the new
    // value instead of null). A verbatim re-statement is idempotent
    // and allowed — TableDef evolutions re-submit whole definitions.
    tgtFlat.foreach { case (p, tf) =>
      curFields.get(p).foreach { cf =>
        val declared = Defaults.of(tf)
        if (declared.isDefined && declared != Defaults.of(cf))
          changes += DisallowedChange(p, cf.dataType, tf.dataType,
            "initial_default is fixed when the column is added; " +
              "it cannot be set or changed on an existing column")
      }
    }

    // adds: in target, not in current; suppress children of added parents
    val addedPaths = tgt.collect { case (p, _) if !curMap.contains(p) => p }
    val addedRoots = addedPaths.filter { p =>
      !addedPaths.exists(parent => p != parent && p.startsWith(parent + "."))
    }
    addedRoots.foreach(p => changes += AddColumn(p, tgtMap(p)))

    // drops: in current, not in target; suppress children of dropped parents
    val droppedPaths = cur.collect { case (p, _) if !tgtMap.contains(p) => p }
    val droppedRoots = droppedPaths.filter { p =>
      !droppedPaths.exists(parent => p != parent && p.startsWith(parent + "."))
    }
    droppedRoots.foreach(p => changes += DropColumn(p))

    // updates: both sides, shallow type differs
    tgt.foreach { case (p, tType) =>
      curMap.get(p).foreach { cType =>
        if (shallowKind(cType) != shallowKind(tType) ||
            (!isNested(cType) && cType != tType)) {
          promotionAllowed(cType, tType) match {
            case Right(_) => changes += UpdateColumnType(p, cType, tType)
            case Left(reason) => changes += DisallowedChange(p, cType, tType, reason)
          }
        }
      }
    }
    // map keys never evolve (Iceberg's UpdateSchema: "Cannot update map
    // keys"): a key is the lookup identity of every entry already
    // written, so an add, drop or promotion inside a struct key is
    // refused like a key type change
    val keyPaths = (mapKeyPaths(current) ++ mapKeyPaths(target)).distinct
    changes.result().map {
      case c @ (_: AddColumn | _: DropColumn | _: UpdateColumnType)
          if keyPaths.exists(k => c.path.startsWith(k + ".")) =>
        DisallowedChange(c.path, curMap.getOrElse(c.path, NullType),
          tgtMap.getOrElse(c.path, NullType), "cannot update map keys")
      case c => c
    }
  }
}
