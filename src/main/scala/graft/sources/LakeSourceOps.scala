package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.{LakeTable, Reconcile}
import graft.schema.FieldIds

/** Shared read-path helpers of the lake DSv2 connector (split from
  * LakeStreamSource.scala — pure move): metadata column names, delete
  * position loading, parquet predicate translation, and schema
  * reconciliation entry points. (Split start-row bookkeeping retired
  * in r15: every reader now takes file-absolute positions from
  * parquet's own row-index machinery, exact per byte-range split with
  * zero footer IO.)
  */
private[graft] object LakeSource {

  /** Metadata column names: row identity as (data file, position),
    * plus the v3 row-lineage pair (same names as the materialized
    * parquet columns rewrites store, so SQL and storage agree).
    */
  val FileMetaCol = "_graft_file"
  val PosMetaCol = "_graft_pos"
  val RowIdMetaCol = "_graft_row_id"
  val LastUpdMetaCol = "_graft_last_updated"
  def isMetaCol(name: String): Boolean =
    name == FileMetaCol || name == PosMetaCol ||
      name == RowIdMetaCol || name == LastUpdMetaCol

  /** Top-level column names no table may take, case-insensitively:
    * the metadata columns, and Spark's row-index temporary column
    * (the vectorized reader fills any requested column of that name
    * with row indexes instead of the stored values).
    */
  def isReservedColumn(name: String): Boolean =
    (Seq(FileMetaCol, PosMetaCol, RowIdMetaCol, LastUpdMetaCol) :+
      LakeVectorize.RowIndexTempCol).exists(_.equalsIgnoreCase(name))

  /** An engine-internal read of `t` through the connector: a
    * `DataSourceV2Relation` over a [[LakeSparkTable]] pinned to the
    * handle's CURRENT view ([[LakeReadPin]]), so the readers apply
    * position deletes, deletion vectors and equality batches inside
    * the scan — no anti-join — and column pruning and row-group
    * skipping apply. It reads the live files `prune`/`statsFilters`
    * keep ([[LakeTable.read]], the merge-on-read row-op scan), or
    * exactly `state` when given: an explicit file list under an
    * explicit delete state ([[LakeTable.readPinned]]). With
    * `changelog` it reads the changelog of those (snapshot, ordinal)
    * pairs through [[LakeScan.changelogPartitions]], the output
    * gaining the three change columns (`LakeTable.changelogBetween`).
    * The output mirrors a parquet read of the reconciled schema: every
    * column nullable, no field metadata. The metadata columns
    * ([[FileMetaCol]] etc.) stay resolvable on the relation; a pinned
    * scan declines VARIANT extraction pushdown, whose accepted scan
    * serves data columns only.
    */
  def engineRead(spark: org.apache.spark.sql.SparkSession, t: LakeTable,
      prune: Map[String, Set[String]] = Map.empty,
      asOfSnapshot: Option[Long] = None,
      statsFilters: Seq[graft.lake.RangeFilter] = Seq.empty,
      state: Option[LakeReadState] = None,
      changelog: Option[Seq[(graft.lake.SnapshotMeta, Int)]] = None)
      : org.apache.spark.sql.DataFrame = {
    LakeLocalScan.install(spark)
    val view = t.frozenView
    val md = view.metadata
    val table = new LakeSparkTable(view.location.getParent.getParent.toString,
      md.database, md.table, 0L, view, asOfSnapshot,
      pin = Some(LakeReadPin(view, prune, statsFilters, state, changelog)))
    val schema = asOfSnapshot.map(view.schemaAsOf)
      .getOrElse(view.currentSchema)
    val data = Reconcile.clean(asNullable(schema)).asInstanceOf[StructType]
    val output = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(if (changelog.isDefined) changelogSchema(data) else data)
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation(
        table, output, None, None,
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(), None))
  }

  /** `st` with every field, element and map value nullable at every
    * level, field metadata (ids) kept — the shape a parquet read
    * declares.
    */
  def asNullable(st: StructType): StructType = {
    def go(dt: DataType): DataType = dt match {
      case s: StructType => asNullable(s)
      case ArrayType(et, _) => ArrayType(go(et), containsNull = true)
      case MapType(kt, vt, _) => MapType(go(kt), go(vt),
        valueContainsNull = true)
      case other => other
    }
    StructType(st.fields.map(f =>
      f.copy(dataType = go(f.dataType), nullable = true)))
  }

  /** `st` with each field some schema in `history` lacks (by field id)
    * declared nullable, at every level: a file written under that
    * schema has no value for the field and reads null (or its initial
    * default) there, whatever the field declares now — a required
    * field added by ALTER. Fields without an id (metadata columns)
    * keep their nullability.
    */
  def nullableWhereAbsent(st: StructType, history: Seq[StructType]): StructType = {
    def ids(s: StructType): Set[Int] = FieldIds.flatten(s).collect {
      case (_, f) if FieldIds.hasId(f) => FieldIds.idOf(f)
    }.toSet
    val always = history.map(ids).reduceOption(_ intersect _).getOrElse(Set.empty)
    def go(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f => f.copy(
        dataType = go(f.dataType),
        nullable = f.nullable || FieldIds.hasId(f) && !always(FieldIds.idOf(f)))))
      case ArrayType(et, n) => ArrayType(go(et), n)
      case MapType(kt, vt, n) => MapType(go(kt), go(vt), n)
      case other => other
    }
    go(st).asInstanceOf[StructType]
  }

  /** Changelog-mode columns (option("changelog", "true") on a stream
    * read): same names/semantics as `LakeTable.changelogBetween`.
    */
  val ChangeTypeCol = "_change_type"
  val ChangeOrdinalCol = "_change_ordinal"
  val ChangeSnapshotCol = "_change_snapshot_id"
  val changelogFields: Seq[StructField] = Seq(
    StructField(ChangeTypeCol, StringType, nullable = false),
    StructField(ChangeOrdinalCol, IntegerType, nullable = false),
    StructField(ChangeSnapshotCol, LongType, nullable = false))
  def isChangelogCol(name: String): Boolean =
    name == ChangeTypeCol || name == ChangeOrdinalCol ||
      name == ChangeSnapshotCol

  /** The changelog schema over `base`: every data column NULLABLE —
    * equality-delete markers carry only key columns, so a required
    * non-key column WILL be null in marker rows and the advertised
    * schema must say so (codegen trusts non-nullability).
    */
  def changelogSchema(base: StructType): StructType =
    StructType(base.fields.toSeq.map(_.copy(nullable = true)) ++
      changelogFields)

  /** Snapshot log truncated to an optional VERSION AS OF pin. */
  def visibleSnapshots(t: LakeTable,
      asOf: Option[Long]): Seq[graft.lake.SnapshotMeta] = asOf match {
    case Some(sid) =>
      require(t.metadata.snapshots.exists(_.id == sid),
        s"no snapshot $sid in ${t.location}")
      t.metadata.snapshots.filter(_.id <= sid)
    case None => t.metadata.snapshots
  }

  /** Identity-partition source types whose Hive dir-value strings can
    * be parsed back into exact internal values for HasPartitionKey.
    * Float/double/decimal/timestamp render through cast("string") whose
    * round-trip is not guaranteed bit-exact — those specs simply do not
    * report key-grouped partitioning.
    */
  def partitionKeyParseable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | BooleanType | DateType => true
    case _ => false
  }

  /** Hive dir value string → Catalyst internal value (identity
    * transform; `__HIVE_DEFAULT_PARTITION__` is a null source value).
    */
  def parsePartitionValue(dt: DataType, v: String): Any =
    if (v == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case IntegerType => v.toInt
      case LongType => v.toLong
      case StringType => UTF8String.fromString(v)
      case BooleanType => v.toBoolean
      case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
      case other => throw new IllegalArgumentException(
        s"unparseable partition value type $other")
    }

  /** RangeFilters → one parquet `FilterPredicate`, for ROW-GROUP (and
    * record-level) skipping INSIDE files that survive the metadata
    * prune — at 100 TB a sorted 512 MB file holds dozens of row groups
    * and file-level pruning alone still decodes them all. Strictly
    * CONSERVATIVE: integral bounds ceil/floor exactly, string bounds
    * compare in parquet's unsigned-byte order (= UTF8String order),
    * float/double bounds (r14) round OUTWARD into their value space
    * and widen past ±0.0 so the SQL equivalence -0.0 = 0.0 can never
    * drop a group on sign (NaN never appears as a bound —
    * [[filterToRanges]] refuses it — and data-side NaN sorts LARGEST
    * under parquet's Float.compare/Double.compare total order, the
    * same "NaN is greater than everything" order Spark's comparisons
    * use, so a gtEq bound keeps NaN rows and an ltEq bound drops only
    * rows the exact predicate also fails; float eq-sets additionally
    * refuse zero and non-roundtripping members); decimal bounds (r14)
    * convert by EXACT unscaled scaling (ceil lo / floor hi at the
    * file's own scale) into the engine's standard physical layouts
    * (unscaled INT32 ≤ 9 digits, INT64 ≤ 18, signed-big-endian FLBA
    * beyond — a foreign layout fails parquet's schema validation at
    * open and the reader retries predicate-free); dates (r14) push as
    * epoch-day INT32; IS [NOT] NULL (r14) pushes as typed null-value
    * predicates answered from per-chunk null counts; small value sets
    * (≤ 16) go down as OR-of-eq so row-group stats check PER VALUE
    * rather than the set envelope. Every remaining unsupported shape
    * (dotted names — FilterApi would misparse them as paths;
    * non-primitive columns; precision-overflowing bounds) contributes
    * NOTHING rather than a maybe-wrong bound. Sound alongside
    * record-level filtering because the predicate is a WEAKENING of
    * the residual filter Spark re-applies: any record parquet drops
    * fails the weak predicate, hence the exact one too. Callers must
    * only pass columns present in the REQUESTED read schema (parquet
    * record filtering assembles its filter columns).
    */
  def parquetPredicate(filters: Seq[graft.lake.RangeFilter],
      fileSchema: StructType, requested: String => Boolean)
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.{FilterApi, Operators}
    import org.apache.parquet.io.api.Binary
    def ceilL(b: BigDecimal): Option[Long] = {
      val v = b.setScale(0, BigDecimal.RoundingMode.CEILING)
      if (v < BigDecimal(Long.MinValue) || v > BigDecimal(Long.MaxValue))
        None
      else Some(v.toLong)
    }
    def floorL(b: BigDecimal): Option[Long] = {
      val v = b.setScale(0, BigDecimal.RoundingMode.FLOOR)
      if (v < BigDecimal(Long.MinValue) || v > BigDecimal(Long.MaxValue))
        None
      else Some(v.toLong)
    }
    def both(lo: Option[org.apache.parquet.filter2.predicate
          .FilterPredicate],
        hi: Option[org.apache.parquet.filter2.predicate.FilterPredicate])
        : Option[org.apache.parquet.filter2.predicate.FilterPredicate] =
      (lo, hi) match {
        case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
        case (a, b) => a.orElse(b)
      }
    // an exact IN-set beats the min/max envelope: the parquet
    // evaluator also consults dictionaries and column-index bloom
    // filters, so a point lookup skips row groups whose range covers
    // the key but whose dictionary lacks it. The cap is 10,000 (was
    // 100 through r13): a 1,000-key probe list — the normal shape of
    // a broadcast-join runtime filter — gets per-row-group dictionary
    // checks, not just the (usually vacuous) scattered-key envelope;
    // parquet evaluates large sets as hash probes per row group, so
    // cost stays O(|set|) per group. Past the cap the envelope still
    // applies. Any unparsable value falls back to the range envelope.
    def inSet[T <: Comparable[T]](vals: Seq[String],
        parse: String => T): Option[java.util.Set[T]] =
      if (vals.isEmpty || vals.size > 10000) None
      else try {
        val s = new java.util.HashSet[T]()
        vals.foreach(v => s.add(parse(v)))
        Some(s)
      } catch { case scala.util.control.NonFatal(_) => None }
    // SMALL sets go down as an OR of point equalities, not in():
    // parquet's in() checks row-group STATS only against the set's
    // envelope (per-value checks need a dictionary or bloom, which
    // high-cardinality or tiny-page columns lack), while each eq
    // tests its own value against [min,max] — so a 2-date IN over a
    // sorted column drops every interior group. 16 mirrors Spark's
    // own inset-to-OR conversion threshold; larger sets keep in()
    // (O(set) hash probes; an OR chain would evaluate per value).
    def orInPred[T <: Comparable[T],
        C <: org.apache.parquet.filter2.predicate.Operators.Column[T]
          with org.apache.parquet.filter2.predicate.Operators
            .SupportsEqNotEq](c: C, s: java.util.Set[T])
        : org.apache.parquet.filter2.predicate.FilterPredicate =
      if (s.size > 16) FilterApi.in(c, s)
      else s.asScala.toSeq
        .map(v => FilterApi.eq(c, v)
          : org.apache.parquet.filter2.predicate.FilterPredicate)
        .reduce(FilterApi.or)
    // IS [NOT] NULL as a typed null-value predicate: parquet's
    // row-group evaluator answers both from per-chunk null counts
    // (all-null groups drop IS NOT NULL, zero-null groups drop
    // IS NULL) and record filtering is exact. Only the column types
    // the bounds translation supports — same physical-layout
    // assumptions (DecimalType routes by the engine's standard
    // precision mapping; the predicate-free retry backstops foreign
    // layouts exactly as for bounds).
    def nullPred(sf: StructField, wantNull: Boolean)
        : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
      def mk[T <: Comparable[T],
          C <: org.apache.parquet.filter2.predicate.Operators.Column[T]
            with org.apache.parquet.filter2.predicate.Operators
              .SupportsEqNotEq](c: C) =
        Some(if (wantNull) FilterApi.eq(c, null.asInstanceOf[T])
          else FilterApi.notEq(c, null.asInstanceOf[T]))
      import org.apache.parquet.filter2.predicate.Operators
      def mkLong = mk[java.lang.Long, Operators.LongColumn](
        FilterApi.longColumn(sf.name))
      def mkInt = mk[java.lang.Integer, Operators.IntColumn](
        FilterApi.intColumn(sf.name))
      def mkBin = mk[Binary, Operators.BinaryColumn](
        FilterApi.binaryColumn(sf.name))
      sf.dataType match {
        case LongType | TimestampType | TimestampNTZType => mkLong
        case IntegerType | DateType => mkInt
        case StringType => mkBin
        case FloatType => mk[java.lang.Float, Operators.FloatColumn](
          FilterApi.floatColumn(sf.name))
        case DoubleType => mk[java.lang.Double, Operators.DoubleColumn](
          FilterApi.doubleColumn(sf.name))
        case dt: DecimalType =>
          if (dt.precision <= 9) mkInt
          else if (dt.precision <= 18) mkLong
          else mkBin
        case BooleanType => mk[java.lang.Boolean, Operators.BooleanColumn](
          FilterApi.booleanColumn(sf.name))
        case _ => None
      }
    }
    val preds = filters.flatMap { f =>
      if (f.column.contains(".") || !requested(f.column)) None
      else fileSchema.fields.find(_.name == f.column).flatMap { sf =>
        if (f.isNull) nullPred(sf, wantNull = true)
        else if (f.notNull && !f.hasBounds) nullPred(sf, wantNull = false)
        else sf.dataType match {
          case LongType =>
            val c = FilterApi.longColumn(sf.name)
            inSet[java.lang.Long](f.eqSet,
              v => java.lang.Long.valueOf(v.toLong))
              .map(orInPred[java.lang.Long, Operators.LongColumn](c, _))
              .orElse(both(
                f.loNum.flatMap(ceilL).map(v =>
                  FilterApi.gtEq(c, java.lang.Long.valueOf(v))),
                f.hiNum.flatMap(floorL).map(v =>
                  FilterApi.ltEq(c, java.lang.Long.valueOf(v)))))
          case TimestampType | TimestampNTZType =>
            val c = FilterApi.longColumn(sf.name)
            both(
              f.loNum.flatMap(ceilL).map(v =>
                FilterApi.gtEq(c, java.lang.Long.valueOf(v))),
              f.hiNum.flatMap(floorL).map(v =>
                FilterApi.ltEq(c, java.lang.Long.valueOf(v))))
          case IntegerType | DateType =>
            // DATE columns store INT32 epoch DAYS — the same unit
            // [[filterToRanges]] renders date predicate values in
            val c = FilterApi.intColumn(sf.name)
            inSet[java.lang.Integer](f.eqSet,
              v => java.lang.Integer.valueOf(v.toInt))
              .map(orInPred[java.lang.Integer, Operators.IntColumn](c, _))
              .orElse(both(
                f.loNum.flatMap(ceilL)
                  .filter(v => v >= Int.MinValue && v <= Int.MaxValue)
                  .map(v => FilterApi.gtEq(c,
                    java.lang.Integer.valueOf(v.toInt))),
                f.hiNum.flatMap(floorL)
                  .filter(v => v >= Int.MinValue && v <= Int.MaxValue)
                  .map(v => FilterApi.ltEq(c,
                    java.lang.Integer.valueOf(v.toInt)))))
          case StringType =>
            val c = FilterApi.binaryColumn(sf.name)
            inSet[Binary](f.eqSet, Binary.fromString)
              .map(orInPred[Binary, Operators.BinaryColumn](c, _))
              .orElse(both(
                f.loStr.map(v => FilterApi.gtEq(c, Binary.fromString(v))),
                f.hiStr.map(v => FilterApi.ltEq(c, Binary.fromString(v)))))
          case FloatType =>
            // bounds round OUTWARD into float space (lo down, hi up);
            // a bound landing exactly on zero steps past it so ±0.0
            // equivalence can never drop a group on sign. toFloat of
            // an out-of-range bound gives ±Inf, which is itself a
            // sound bound under Float.compare (NaN sorts above +Inf,
            // matching Spark's NaN-is-largest comparisons).
            def loF(b: BigDecimal): java.lang.Float = {
              var v = b.toFloat
              if (!v.isInfinite && BigDecimal(v.toDouble) > b)
                v = Math.nextDown(v)
              if (v == 0.0f) v = Math.nextDown(0.0f)
              java.lang.Float.valueOf(v)
            }
            def hiF(b: BigDecimal): java.lang.Float = {
              var v = b.toFloat
              if (!v.isInfinite && BigDecimal(v.toDouble) < b)
                v = Math.nextUp(v)
              if (v == 0.0f) v = Math.nextUp(0.0f)
              java.lang.Float.valueOf(v)
            }
            val c = FilterApi.floatColumn(sf.name)
            // eq-sets must roundtrip EXACTLY (a set is not widenable)
            // and refuse zero (dictionary probes compare by sign)
            inSet[java.lang.Float](f.eqSet, v => {
              val x = v.toFloat
              require(x != 0.0f && !x.isNaN &&
                BigDecimal(x.toDouble) == BigDecimal(v))
              java.lang.Float.valueOf(x)
            })
              .map(orInPred[java.lang.Float, Operators.FloatColumn](c, _))
              .orElse(both(
                f.loNum.map(v => FilterApi.gtEq(c, loF(v))),
                f.hiNum.map(v => FilterApi.ltEq(c, hiF(v)))))
          case DoubleType =>
            def loD(b: BigDecimal): java.lang.Double = {
              var v = b.toDouble
              if (!v.isInfinite && BigDecimal(v) > b) v = Math.nextDown(v)
              if (v == 0.0d) v = Math.nextDown(0.0d)
              java.lang.Double.valueOf(v)
            }
            def hiD(b: BigDecimal): java.lang.Double = {
              var v = b.toDouble
              if (!v.isInfinite && BigDecimal(v) < b) v = Math.nextUp(v)
              if (v == 0.0d) v = Math.nextUp(0.0d)
              java.lang.Double.valueOf(v)
            }
            val c = FilterApi.doubleColumn(sf.name)
            inSet[java.lang.Double](f.eqSet, v => {
              val x = v.toDouble
              require(x != 0.0d && !x.isNaN &&
                BigDecimal(x) == BigDecimal(v))
              java.lang.Double.valueOf(x)
            })
              .map(orInPred[java.lang.Double, Operators.DoubleColumn](c, _))
              .orElse(both(
                f.loNum.map(v => FilterApi.gtEq(c, loD(v))),
                f.hiNum.map(v => FilterApi.ltEq(c, hiD(v)))))
          case dt: DecimalType =>
            // engine-written decimals use Spark's STANDARD (non-legacy)
            // parquet layout: unscaled INT32 (precision ≤ 9), INT64
            // (≤ 18), else fixed_len_byte_array of the minimal width —
            // stats/dictionary comparisons all run on the unscaled
            // integer (FLBA under parquet's signed-big-endian decimal
            // order), so bounds convert by EXACT scaling (ceil for lo,
            // floor for hi; the file's own scale — evolution keeps
            // scale fixed). A bound overflowing the column's precision
            // contributes nothing; a foreign file that disagrees with
            // the layout fails parquet's schema validation at open and
            // the reader retries predicate-free (predicateFallbacks).
            val maxUnscaled = BigInt(10).pow(dt.precision) - 1
            def unscaled(b: BigDecimal, ceil: Boolean): Option[BigInt] = {
              val u = (b * BigDecimal(10).pow(dt.scale)).setScale(0,
                if (ceil) BigDecimal.RoundingMode.CEILING
                else BigDecimal.RoundingMode.FLOOR).toBigInt
              if (u < -maxUnscaled || u > maxUnscaled) None else Some(u)
            }
            if (dt.precision <= 9) {
              val c = FilterApi.intColumn(sf.name)
              both(
                f.loNum.flatMap(unscaled(_, ceil = true)).map(u =>
                  FilterApi.gtEq(c, java.lang.Integer.valueOf(u.toInt))),
                f.hiNum.flatMap(unscaled(_, ceil = false)).map(u =>
                  FilterApi.ltEq(c, java.lang.Integer.valueOf(u.toInt))))
            } else if (dt.precision <= 18) {
              val c = FilterApi.longColumn(sf.name)
              both(
                f.loNum.flatMap(unscaled(_, ceil = true)).map(u =>
                  FilterApi.gtEq(c, java.lang.Long.valueOf(u.toLong))),
                f.hiNum.flatMap(unscaled(_, ceil = false)).map(u =>
                  FilterApi.ltEq(c, java.lang.Long.valueOf(u.toLong))))
            } else {
              // minimal byte width holding ±(10^p − 1) two's-complement
              var n = 1
              while (BigInt(2).pow(8 * n - 1) < BigInt(10).pow(dt.precision))
                n += 1
              def fixed(u: BigInt): Binary = {
                val raw = u.toByteArray // minimal two's complement, BE
                val out = new Array[Byte](n)
                if (u.signum < 0)
                  java.util.Arrays.fill(out, 0, n - raw.length, -1: Byte)
                System.arraycopy(raw, 0, out, n - raw.length, raw.length)
                Binary.fromConstantByteArray(out)
              }
              val c = FilterApi.binaryColumn(sf.name)
              both(
                f.loNum.flatMap(unscaled(_, ceil = true)).map(u =>
                  FilterApi.gtEq(c, fixed(u))),
                f.hiNum.flatMap(unscaled(_, ceil = false)).map(u =>
                  FilterApi.ltEq(c, fixed(u))))
            }
          case _ => None
        }
      }
    }
    preds.reduceOption(FilterApi.and)
  }

  /** v1 source Filter → conservative RangeFilter for stats pruning
    * (None when not convertible). In-lists carry their [min, max]
    * envelope plus — when every member canonicalizes — the exact value
    * set; timestamps/dates convert to epoch micros/days through their
    * LOCAL fields under both the java.sql and java.time value classes.
    */
  def filterToRanges(f: org.apache.spark.sql.sources.Filter)
      : Option[graft.lake.RangeFilter] = {
    import org.apache.spark.sql.sources._
    def num(v: Any): Option[BigDecimal] = v match {
      case d: java.lang.Double if d.isNaN || d.isInfinite => None
      case fl: java.lang.Float if fl.isNaN || fl.isInfinite => None
      case n: Number => Some(BigDecimal(n.toString))
      case t: java.sql.Timestamp =>
        // full microsecond precision: getTime carries millis, getNanos
        // the sub-second part (truncating would over-prune files)
        Some(BigDecimal(
          Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000))
      case t: java.time.Instant =>
        // java8 datetime API sessions push Instant, not Timestamp;
        // BigDecimal arithmetic — extreme instants overflow a long
        Some(BigDecimal(t.getEpochSecond) * 1000000 + t.getNano / 1000)
      // DATE columns: epoch DAYS — the unit parquet's INT32 date
      // physical values and the engine's footer stats both use.
      // java.sql.Date converts through its LOCAL fields (toLocalDate),
      // never through getTime arithmetic (timezone-shifted by a day)
      case d: java.sql.Date => Some(BigDecimal(d.toLocalDate.toEpochDay))
      case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay))
      case _ => None
    }
    def str(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case _ => None
    }
    def range(col: String, lo: Option[Any], hi: Option[Any]) = {
      val (ln, hn) = (lo.flatMap(num), hi.flatMap(num))
      val (ls, hs) = (lo.flatMap(str), hi.flatMap(str))
      if (ln.isDefined || hn.isDefined || ls.isDefined || hs.isDefined)
        Some(graft.lake.RangeFilter(col, ln, hn, ls, hs))
      else None
    }
    f match {
      case EqualTo(c, v) => range(c, Some(v), Some(v))
      case EqualNullSafe(c, null) =>
        Some(graft.lake.RangeFilter(c, isNull = true))
      case EqualNullSafe(c, v) => range(c, Some(v), Some(v))
      case GreaterThan(c, v) => range(c, Some(v), None)
      case GreaterThanOrEqual(c, v) => range(c, Some(v), None)
      case LessThan(c, v) => range(c, None, Some(v))
      case LessThanOrEqual(c, v) => range(c, None, Some(v))
      case IsNull(c) => Some(graft.lake.RangeFilter(c, isNull = true))
      case IsNotNull(c) => Some(graft.lake.RangeFilter(c, notNull = true))
      case StringStartsWith(c, p) if p != null && p.nonEmpty =>
        // rows matching the prefix lie in [p, nextPrefix(p)): bound the
        // lexical range so min/max stats prune. The upper bound
        // increments the last incrementable code unit (chars at
        // Char.MaxValue drop off the end first); an un-incrementable
        // prefix gets only the lower bound — conservative, still prunes
        // files entirely below the prefix.
        val trimmed = p.reverse.dropWhile(_ == Char.MaxValue).reverse
        val hi =
          if (trimmed.isEmpty) None
          else Some(trimmed.init + (trimmed.last + 1).toChar)
        Some(graft.lake.RangeFilter(c, loStr = Some(p), hiStr = hi))
      case In(c, vs) if vs.nonEmpty =>
        // min/max envelope for range pruning, plus the exact value set
        // (canonical cast-to-string renderings) so bloom-equipped
        // files can drop unless they might hold SOME listed value;
        // eqSet stays empty unless every value canonicalizes —
        // probing must be all-or-nothing conservative
        val nums = vs.toSeq.map(num)
        val strs = vs.toSeq.map(str)
        if (nums.forall(_.isDefined)) {
          val canon = nums.flatten.flatMap(b =>
            scala.util.Try(b.toBigIntExact).toOption.flatten
              .map(_.toString))
          Some(graft.lake.RangeFilter(c,
            loNum = Some(nums.flatten.min), hiNum = Some(nums.flatten.max),
            eqSet = if (canon.size == vs.length) canon else Seq.empty))
        } else if (strs.forall(_.isDefined))
          Some(graft.lake.RangeFilter(c,
            loStr = Some(strs.flatten.min), hiStr = Some(strs.flatten.max),
            eqSet = strs.flatten))
        else None
      case _ => None
    }
  }

  /** v1 source Filter → Column, for SQL DELETE routing. */
  def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(s"`$a`") === lit(v)
      case EqualNullSafe(a, v) => col(s"`$a`") <=> lit(v)
      case GreaterThan(a, v) => col(s"`$a`") > lit(v)
      case GreaterThanOrEqual(a, v) => col(s"`$a`") >= lit(v)
      case LessThan(a, v) => col(s"`$a`") < lit(v)
      case LessThanOrEqual(a, v) => col(s"`$a`") <= lit(v)
      case In(a, vs) => col(s"`$a`").isin(vs.toIndexedSeq.map(lit(_)): _*)
      case IsNull(a) => col(s"`$a`").isNull
      case IsNotNull(a) => col(s"`$a`").isNotNull
      case StringStartsWith(a, v) => col(s"`$a`").startsWith(v)
      case StringEndsWith(a, v) => col(s"`$a`").endsWith(v)
      case StringContains(a, v) => col(s"`$a`").contains(v)
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(c) => not(filterToColumn(c))
      case AlwaysTrue() => lit(true)
      case AlwaysFalse() => lit(false)
      case other => throw new UnsupportedOperationException(
        s"DELETE predicate not convertible: $other")
    }
  }

  def convertibleFilter(f: org.apache.spark.sql.sources.Filter): Boolean =
    try { filterToColumn(f); true }
    catch { case _: UnsupportedOperationException => false }

  /** Structural schema equality ignoring nullability and metadata. */
  def sameShape(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.fields.length == y.fields.length &&
        x.fields.zip(y.fields).forall { case (f, g) =>
          f.name == g.name && sameShape(f.dataType, g.dataType)
        }
    case (ArrayType(x, _), ArrayType(y, _)) => sameShape(x, y)
    case (MapType(xk, xv, _), MapType(yk, yv, _)) =>
      sameShape(xk, yk) && sameShape(xv, yv)
    case (x, y) => x == y
  }

  /** The file's footer schema; an unreadable footer fails the read
    * with the IO error, which names the file.
    */
  def readFooterSchema(path: String): org.apache.parquet.schema.MessageType = {
    val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path),
        graft.lake.HadoopConfs.mutable()))
    try fr.getFooter.getFileMetaData.getSchema finally fr.close()
  }

  /** A memoized load: `value` computes once under the lazy-val lock,
    * so concurrent first-touch callers of the SAME key share one load
    * (computeIfAbsent semantics) while loads of DIFFERENT keys run in
    * parallel — the holder is inserted under the map lock, the IO runs
    * outside it.
    */
  private[sources] final class Memo[V](load: () => V) {
    lazy val value: V = load()
  }

  /** Small access-ordered LRU behind a lock: eviction drops the
    * coldest entry instead of wiping entries hot splits are about to
    * reuse (a scan over >bound delete-bearing files must not thrash
    * still-running splits of earlier files).
    */
  private[sources] final class LruMemoCache[V](bound: Int) {
    private val map = new java.util.LinkedHashMap[String, Memo[V]](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Memo[V]]): Boolean = size > bound
    }
    def get(key: String, load: () => V): V = {
      val memo = map.synchronized {
        var m = map.get(key)
        if (m == null) { m = new Memo(load); map.put(key, m) }
        m
      }
      memo.value
    }
  }

  // one positional delete parquet parses ONCE per executor into a
  // (data file → positions) map shared by every data file it covers
  // and every byte-range split — not once per (delete set, data file)
  // pair. Delete files are immutable once written (rewrites publish
  // NEW paths), so entries never go stale; eviction only costs a
  // re-read.
  private val deleteFileParses =
    new LruMemoCache[Map[String, java.util.HashSet[java.lang.Long]]](128)

  // the per-(delete set, data file) UNION the readers probe, assembled
  // from the per-file parses (cheap lookups; the union allocation is
  // what this level saves across ~80 splits of one data file)
  private val deletedPosUnions =
    new LruMemoCache[java.util.HashSet[java.lang.Long]](256)

  /** The rows of one delete file (a position-delete file or an
    * equality batch's marker file) decoded at `requested` by the ONE
    * decoder data files use: a key written before an int→long,
    * float→double or decimal-precision promotion reads back at its
    * current type, in the representation data rows decode into
    * (UTF8String, Decimal, days as Int), so key tuples and data-row
    * keys compare exactly. Rows are reused between `next` calls: copy
    * what outlives one. Close when done.
    */
  def deleteFileRows(path: String, requested: StructType)
      : Iterator[InternalRow] with java.io.Closeable = {
    val reader = LakeVectorize.openReader(path, requested, None,
      returnBatches = false)
    new Iterator[InternalRow] with java.io.Closeable {
      private var pending = false
      override def hasNext: Boolean =
        pending || { pending = reader.nextKeyValue(); pending }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException(path)
        pending = false
        reader.getCurrentValue.asInstanceOf[InternalRow]
      }
      override def close(): Unit = reader.close()
    }
  }

  /** Value `i` of a decoded delete-file row, detached from the reused
    * column vectors.
    */
  def copiedValue(r: InternalRow, i: Int, dt: DataType): Any =
    if (r.isNullAt(i)) null
    else r.get(i, dt) match {
      case s: UTF8String => s.clone()
      case v => v
    }

  private def parseDeleteFile(dp: String)
      : Map[String, java.util.HashSet[java.lang.Long]] = {
    val out = scala.collection.mutable.HashMap
      .empty[String, java.util.HashSet[java.lang.Long]]
    val rows = deleteFileRows(dp, LakeTable.DeleteFileSchema)
    // rows arrive grouped by data file: resolve the set once per run
    var runPath: UTF8String = null
    var run: java.util.HashSet[java.lang.Long] = null
    try rows.foreach { r =>
      val fp = r.getUTF8String(0)
      if (fp != runPath) {
        runPath = fp.clone()
        run = out.getOrElseUpdate(LakeTable.normalizePath(fp.toString),
          new java.util.HashSet[java.lang.Long]())
      }
      run.add(r.getLong(1))
    } finally rows.close()
    out.toMap
  }

  /** Positions of `dataPath`'s rows deleted by the live v2 positional
    * delete files — shared by the row-emitting reader and the columnar
    * MoR reader. Null when there
    * are no delete files. JVM-cached at two levels (per delete FILE,
    * then per (delete set, data file) union) so neither concurrent
    * splits nor sibling data files re-read a delete parquet.
    */
  def loadDeletedPositions(deletes: Seq[String], dataPath: String)
      : java.util.HashSet[java.lang.Long] =
    if (deletes.isEmpty) null
    else {
      val mine = LakeTable.normalizePath(dataPath)
      val sorted = deletes.sorted
      deletedPosUnions.get(sorted.mkString("\u0000") + "\u0000" + mine, () => {
        val perFile = sorted.map(dp =>
          deleteFileParses.get(dp, () => parseDeleteFile(dp)))
        perFile.flatMap(_.get(mine)) match {
          case Seq(one) => one // the common single-delete-file case
          case many =>
            val u = new java.util.HashSet[java.lang.Long]()
            many.foreach(u.addAll)
            u
        }
      })
    }

  /** Planning-time externality test: a data file OUTSIDE the table's
    * own data directory was registered by reference (`add_files`) and
    * may spell columns differently or lack nullable table columns —
    * only those files pay the read-time footer reconciliation.
    * Engine-written files (always under `<table>/data/`) match their
    * registered schema by construction and skip the extra footer IO.
    */
  def externalTest(tableLocation: java.nio.file.Path): String => Boolean = {
    val prefix = LakeTable.normalizePath(
      tableLocation.resolve("data").toString) + "/"
    p => !LakeTable.normalizePath(p).startsWith(prefix)
  }

  /** Rewrite a REGISTERED file schema to the file's physical footer
    * spelling: fields are matched case-insensitively by name (recursing
    * through structs; LIST/MAP-annotated groups keep the registered
    * inner layout) and fields absent from the footer are DROPPED — the
    * readers then serve them as absent columns (initial default or
    * null), the same null-fill contract as `spark.read.parquet`. Identity
    * for engine-written files. Field-id metadata rides along on the
    * renamed StructFields, so by-id matching is unaffected.
    */
  def reconcileToFooter(registered: StructType,
      footer: org.apache.parquet.schema.GroupType): StructType = {
    val byLower = footer.getFields.asScala
      .groupBy(_.getName.toLowerCase(java.util.Locale.ROOT))
      .map { case (k, vs) => k -> vs.head }
    StructType(registered.fields.flatMap { rf =>
      byLower.get(rf.name.toLowerCase(java.util.Locale.ROOT)).map { pf =>
        val dt = rf.dataType match {
          case st: StructType if !pf.isPrimitive &&
              pf.getLogicalTypeAnnotation == null =>
            reconcileToFooter(st, pf.asGroupType())
          case other => other
        }
        rf.copy(name = pf.getName, dataType = dt)
      }
    })
  }
}
