package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.example.data.Group

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
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

  /** An engine-internal read of `t` through the connector
    * ([[LakeTable.read]], the merge-on-read row-op scan): a
    * `DataSourceV2Relation` over a [[LakeSparkTable]] pinned to the
    * handle's CURRENT view, so the readers apply position deletes,
    * deletion vectors and equality batches inside the scan — no
    * anti-join — and column pruning and row-group skipping apply. It
    * reads the files `prune`/`statsFilters` keep ([[LakeReadPin]]).
    * The output mirrors a parquet read of the reconciled schema: every
    * column nullable, no field metadata. The metadata columns
    * ([[FileMetaCol]] etc.) stay resolvable on the relation; a caller
    * that selects them passes `metaCols`, which declines VARIANT
    * extraction pushdown — the accepted-extraction scan serves data
    * columns only (VariantScanPrep declines it only for a Project that
    * extracts from a variant).
    */
  def engineRead(spark: org.apache.spark.sql.SparkSession, t: LakeTable,
      prune: Map[String, Set[String]], asOfSnapshot: Option[Long],
      statsFilters: Seq[graft.lake.RangeFilter], metaCols: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val view = t.frozenView
    val md = view.metadata
    val table = new LakeSparkTable(view.location.getParent.getParent.toString,
      md.database, md.table, 0L, view, asOfSnapshot,
      pin = Some(LakeReadPin(view, prune, statsFilters)))
    val schema = asOfSnapshot.map(view.schemaAsOf)
      .getOrElse(view.currentSchema)
    val output = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(Reconcile.clean(asNullable(schema)).asInstanceOf[StructType])
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation(
        table, output, None, None,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          if (!metaCols) java.util.Map.of()
          else java.util.Map.of(VariantScanPrep.RefuseVariantsKey, "true")),
        None))
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

  /** INT96 parquet timestamp → epoch micros: 8 bytes little-endian
    * nanos-of-day + 4 bytes little-endian julian day.
    */
  def int96Micros(b: org.apache.parquet.io.api.Binary): Long = {
    val buf = b.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
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

  /** Extractor for one target field out of a file-schema group level,
    * matched by FIELD ID (the same reconciliation contract as
    * `Reconcile.projection`): absent → null, promotions applied.
    */
  /** One key value from an equality-delete parquet record, reconciled
    * to the current key type: the batch was written under the schema
    * at delete time, so a later int→long / float→double promotion must
    * not unmatch it. Values come back as Catalyst internals (UTF8String
    * for strings) — the same representation `fieldExtractor` produces
    * for data rows, so tuple equality is exact.
    */
  /** The file's footer schema, None when unreadable (the data read
    * below then surfaces the real error with the file path).
    */
  def readFooterSchema(path: String)
      : Option[org.apache.parquet.schema.MessageType] =
    try {
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path),
          graft.lake.HadoopConfs.mutable()))
      try Some(fr.getFooter.getFileMetaData.getSchema) finally fr.close()
    } catch { case _: Exception => None }

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

  private def parseDeleteFile(dp: String)
      : Map[String, java.util.HashSet[java.lang.Long]] = {
    val out = scala.collection.mutable.HashMap
      .empty[String, java.util.HashSet[java.lang.Long]]
    val r = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(dp)).build()
    try {
      var g = r.read()
      while (g != null) {
        out.getOrElseUpdate(
          LakeTable.normalizePath(g.getString("file_path", 0)),
          new java.util.HashSet[java.lang.Long]())
          .add(g.getLong("pos", 0))
        g = r.read()
      }
    } finally r.close()
    out.toMap
  }

  /** Positions of `dataPath`'s rows deleted by the live v2 positional
    * delete files — shared by both row-emitting readers (Group and
    * vectorized-decode) and the columnar MoR reader. Null when there
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

  def eqKeyValue(g: Group, name: String, dt: DataType): Any = {
    if (g.getFieldRepetitionCount(name) == 0) return null
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // decimal keys: decode the unscaled value by PHYSICAL encoding
    // (Spark writes INT32 for p<=9, INT64 for p<=18, else binary
    // two's-complement) into a Decimal of the TARGET precision/scale —
    // the same representation the data-file extractor produces, so
    // tuple equality and hashing line up
    dt match {
      case d: DecimalType =>
        return g.getType.getType(name).asPrimitiveType()
          .getPrimitiveTypeName match {
          case INT32 => org.apache.spark.sql.types.Decimal(
            g.getInteger(name, 0).toLong, d.precision, d.scale)
          case INT64 => org.apache.spark.sql.types.Decimal(
            g.getLong(name, 0), d.precision, d.scale)
          case _ => org.apache.spark.sql.types.Decimal(
            BigDecimal(new java.math.BigInteger(
              g.getBinary(name, 0).getBytes), d.scale),
            d.precision, d.scale)
        }
      case _ => ()
    }
    val raw: Any = g.getType.getType(name).asPrimitiveType()
      .getPrimitiveTypeName match {
      case INT64 => g.getLong(name, 0)
      case INT32 => g.getInteger(name, 0)
      case BINARY => UTF8String.fromString(g.getString(name, 0))
      case DOUBLE => g.getDouble(name, 0)
      case FLOAT => g.getFloat(name, 0)
      case BOOLEAN => g.getBoolean(name, 0)
      case other => throw new UnsupportedOperationException(
        s"equality-delete key primitive $other")
    }
    dt match {
      case LongType => raw match { case i: Int => i.toLong; case v => v }
      case DoubleType => raw match { case f: Float => f.toDouble; case v => v }
      case _ => raw
    }
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
    * by-id extractor then falls back to the default/null extractor, the
    * same null-fill contract as the Spark-native read path. Identity
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

  def fieldExtractor(tf: StructField,
      fileFields: Seq[StructField]): Group => Any =
    fileFields.find(ff => FieldIds.idOf(ff) == FieldIds.idOf(tf)) match {
      case None =>
        // written before the column existed → its INITIAL DEFAULT
        // (null when none recorded), mirroring Reconcile.fieldExpr
        val d = graft.schema.Defaults.internalValue(tf)
        _ => d
      case Some(ff) =>
        val name = ff.name
        val conv = converter(tf.dataType, ff.dataType)
        g => if (g.getFieldRepetitionCount(name) == 0) null else conv(g, name)
    }

  /** Like `fieldExtractor`, but resolves `tf`'s field ID through
    * struct NESTING in the file schema (equality-delete keys may be
    * struct-nested scalars). The chain is found by ID, so renames at
    * any depth stay readable; a null or missing struct anywhere on
    * the chain — e.g. the field was added after the file was
    * written — reads null, matching the read-reconciliation
    * null-fill.
    */
  def nestedFieldExtractor(tf: StructField,
      fileStruct: StructType): Group => Any = {
    def chain(st: StructType, id: Int): Option[List[StructField]] =
      st.fields.toSeq.flatMap { f =>
        if (FieldIds.hasId(f) && FieldIds.idOf(f) == id) Some(List(f))
        else f.dataType match {
          case s: StructType => chain(s, id).map(f :: _)
          case _ => None
        }
      }.headOption
    chain(fileStruct, FieldIds.idOf(tf)) match {
      case None =>
        // consistent with the reconciling fill: a pre-column file's
        // rows carry the column's initial default (null when none)
        val d = graft.schema.Defaults.internalValue(tf)
        _ => d
      case Some(fs) =>
        val outer = fs.init.map(_.name).toArray
        val leaf = fs.last.name
        val conv = converter(tf.dataType, fs.last.dataType)
        g => {
          var cur: Group = g
          var i = 0
          var ok = true
          while (ok && i < outer.length) {
            if (cur.getFieldRepetitionCount(outer(i)) == 0) ok = false
            else cur = cur.getGroup(outer(i), 0)
            i += 1
          }
          if (!ok || cur.getFieldRepetitionCount(leaf) == 0) null
          else conv(cur, leaf)
        }
    }
  }

  /** (group, fieldName) → Catalyst internal value for a target/file
    * type pair, recursively through structs, 3-level parquet lists and
    * key_value maps. Timestamps are INT64 micros (the engine's writers
    * always produce TIMESTAMP(MICROS); INT96 never occurs in lake
    * files).
    */
  def converter(target: DataType, file: DataType): (Group, String) => Any =
    (target, file) match {
      case (t: StructType, f: StructType) =>
        val exs = t.fields.map(tf => fieldExtractor(tf, f.fields.toSeq))
        (g, n) => {
          val sub = g.getGroup(n, 0)
          new GenericInternalRow(exs.map(_(sub)))
        }
      case (ArrayType(te, _), ArrayType(fe, _)) =>
        // 3-level list encoding: <name> (LIST) { repeated group list
        // { <element> } } — Spark's writer layout
        val elemConv = converter(te, fe)
        (g, n) => {
          val outer = g.getGroup(n, 0)
          val cnt = outer.getFieldRepetitionCount(0)
          val arr = new Array[Any](cnt)
          var i = 0
          while (i < cnt) {
            val rep = outer.getGroup(0, i)
            arr(i) =
              if (rep.getFieldRepetitionCount(0) == 0) null
              else elemConv(rep, rep.getType.getFieldName(0))
            i += 1
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
        }
      case (MapType(tk, tv, _), MapType(fk, fv, _)) =>
        val kConv = converter(tk, fk)
        val vConv = converter(tv, fv)
        (g, n) => {
          val outer = g.getGroup(n, 0)
          val cnt = outer.getFieldRepetitionCount(0)
          val keys = new Array[Any](cnt)
          val values = new Array[Any](cnt)
          var i = 0
          while (i < cnt) {
            val kv = outer.getGroup(0, i)
            keys(i) = kConv(kv, "key")
            values(i) =
              if (kv.getFieldRepetitionCount("value") == 0) null
              else vConv(kv, "value")
            i += 1
          }
          org.apache.spark.sql.catalyst.util.ArrayBasedMapData(keys, values)
        }
      case (BooleanType, BooleanType) => (g, n) => g.getBoolean(n, 0)
      case (IntegerType, IntegerType) => (g, n) => g.getInteger(n, 0)
      case (LongType, IntegerType) => (g, n) => g.getInteger(n, 0).toLong
      case (LongType, LongType) => (g, n) => g.getLong(n, 0)
      case (FloatType, FloatType) => (g, n) => g.getFloat(n, 0)
      case (DoubleType, FloatType) => (g, n) => g.getFloat(n, 0).toDouble
      case (DoubleType, DoubleType) => (g, n) => g.getDouble(n, 0)
      case (StringType, StringType) =>
        (g, n) => UTF8String.fromString(g.getString(n, 0))
      case (BinaryType, BinaryType) => (g, n) => g.getBinary(n, 0).getBytes
      case (TimestampType, TimestampType) |
           (TimestampNTZType, TimestampNTZType) |
           (TimestampType, TimestampNTZType) |
           (TimestampNTZType, TimestampType) => (g, n) => {
        // engine writers pin INT64 micros; INT96 can still appear in
        // files written before that pin — decode both
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
        if (g.getType.getType(n).asPrimitiveType().getPrimitiveTypeName ==
            PrimitiveTypeName.INT96) int96Micros(g.getInt96(n, 0))
        else g.getLong(n, 0)
      }
      case (DateType, DateType) => (g, n) => g.getInteger(n, 0)
      case (t: DecimalType, f: DecimalType)
          if t.scale == f.scale && t.precision >= f.precision =>
        // Spark's writer encodes decimals by precision: INT32 (p<=9),
        // INT64 (p<=18), else fixed/binary two's-complement unscaled.
        // The promotion rule (precision widen, same scale) means the
        // unscaled value carries over unchanged.
        (g, n) => {
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
          g.getType.getType(n).asPrimitiveType().getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 =>
              org.apache.spark.sql.types.Decimal(
                g.getInteger(n, 0).toLong, t.precision, t.scale)
            case PrimitiveTypeName.INT64 =>
              org.apache.spark.sql.types.Decimal(
                g.getLong(n, 0), t.precision, t.scale)
            case _ =>
              org.apache.spark.sql.types.Decimal(
                BigDecimal(new java.math.BigInteger(
                  g.getBinary(n, 0).getBytes), f.scale),
                t.precision, t.scale)
          }
        }
      case (t, f) => throw new UnsupportedOperationException(
        s"graft-lake reader: unsupported conversion $f -> $t")
    }
}
