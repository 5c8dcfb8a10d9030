package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hidden-partitioning transforms (reference `iceberg_helper.py:398-425`:
  * identity / hour / day / month / year). Partition values are *derived*
  * from source columns at write time and stored only in the directory
  * layout + file metadata — user queries never see `_p_*` columns
  * (SURVEY.md §4.1).
  *
  * Values are rendered as strings (Hive dir-value style, human-readable
  * and totally ordered within a transform) so metadata pruning is a
  * plain string compare.
  */
object Transforms {
  val Supported = Seq("identity", "year", "month", "day", "hour")

  /** Engine extension over the reference's transform set: `bucket[N]`
    * hash-partitions a (typically high-cardinality) source column into
    * N stable buckets — Spark's murmur3 `hash()` mod N — so equi-joins
    * on the column can run storage-partitioned with no shuffle.
    */
  private val bucketRe = """(?i)bucket\[(\d+)\]""".r

  def bucketCount(transform: String): Option[Int] = transform match {
    case bucketRe(n) => Some(n.toInt)
    case _ => None
  }

  /** Engine extension mirroring Iceberg's `truncate[W]`: integers floor
    * to the nearest multiple of W (so range predicates cluster into
    * contiguous directories), strings keep their first W characters
    * (prefix clustering). Unlike `bucket`, truncated values preserve
    * ORDER — `id BETWEEN a AND b` prunes to a contiguous dir range.
    */
  private val truncateRe = """(?i)truncate\[(\d+)\]""".r

  def truncateWidth(transform: String): Option[Int] = transform match {
    case truncateRe(w) => Some(w.toInt)
    case _ => None
  }

  def isSupported(transform: String): Boolean =
    Supported.contains(transform) || bucketCount(transform).exists(_ > 0) ||
      truncateWidth(transform).exists(_ > 0)

  /** The derived partition Column for a transform over a source column.
    * `truncate[W]` is type-directed (int floor vs string prefix), so it
    * needs the source type the schema recorded.
    */
  def expr(transform: String, source: Column,
      sourceType: Option[org.apache.spark.sql.types.DataType] = None)
      : Column = transform match {
    case "identity" => source.cast("string")
    case "year" => date_format(source, "yyyy")
    case "month" => date_format(source, "yyyy-MM")
    case "day" => date_format(source, "yyyy-MM-dd")
    case "hour" => date_format(source, "yyyy-MM-dd-HH")
    case bucketRe(n) => pmod(hash(source), lit(n.toInt)).cast("string")
    case truncateRe(w) =>
      import org.apache.spark.sql.types._
      sourceType match {
        case Some(IntegerType | LongType) =>
          // floor-to-multiple; pmod keeps negatives on the floor side
          (source - pmod(source, lit(w.toInt))).cast("string")
        case Some(StringType) => substring(source, 1, w.toInt)
        case Some(dt) => throw new IllegalArgumentException(
          s"truncate[$w] unsupported over ${dt.simpleString} " +
            "(int, long, or string)")
        case None => throw new IllegalArgumentException(
          s"truncate[$w] needs the source column type")
      }
    case other =>
      throw new IllegalArgumentException(s"unknown transform '$other'")
  }

  /** Apply a transform to a literal predicate value (for pruning:
    * `year(order_time) = 2024` arrives as transform="year",
    * value="2024").
    */
  def defaultName(column: String, transform: String): String =
    s"${column}_$transform"

  // ---- executor-side rendering ----------------------------------------
  // The same strings `expr` produces through date_format, computed from
  // raw internal values — for the V2 partition-transform functions (the
  // writers evaluate `expr` itself). Wall-clock types only (NTZ micros /
  // epoch days): tz-aware rendering would depend on the session
  // timezone.

  def renderLocal(transform: String, ldt: java.time.LocalDateTime): String =
    transform match {
      case "year" => f"${ldt.getYear}%04d"
      case "month" => f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d"
      case "day" => f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-" +
        f"${ldt.getDayOfMonth}%02d"
      case "hour" => f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-" +
        f"${ldt.getDayOfMonth}%02d-${ldt.getHour}%02d"
      case other =>
        throw new IllegalArgumentException(s"unknown time transform '$other'")
    }

  def renderNtzMicros(transform: String, micros: Long): String =
    renderLocal(transform, java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))

  def renderEpochDay(transform: String, days: Int): String =
    renderLocal(transform,
      java.time.LocalDate.ofEpochDay(days.toLong).atStartOfDay)
}
