package lakebench

import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.lake.{Engine, LakeTable}

/** Change-data capture on one `orders` table keyed on `o_orderkey`, with
  * an incremental materialized view over it (a grouped count and a
  * decimal(18,4) sum). Each cycle: a merge-on-read MERGE batch, a point
  * read, a merge-on-read DELETE of a key range, a range read, and an
  * incremental refresh of the view; every [[CdcUpsert.CompactEvery]]-th
  * cycle ends with a compaction of the table. The view's backing table is
  * squashed by the engine at its default threshold. Writes sit beside
  * reads on one table, so a cheaper write that leaves more delete files
  * shows up as slower reads and refreshes.
  *
  * Sizes are the same for every seed: the table starts with the 25,000
  * orders of the bench-sized fixture, and each cycle's batch updates and
  * inserts, deletes and reads fixed numbers of rows. The seed picks the
  * values and which live keys the ops hit. An in-memory model applies the
  * same ops; every read, the final table and the final view are checked
  * against it.
  */
final class CdcUpsert(spark: SparkSession, wh: String, seed: Long)
    extends Workload {
  import CdcUpsert._

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DecimalType(18, 4)),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType)))

  private final case class Order(custkey: Long, status: String,
      price: java.math.BigDecimal, date: LocalDate, priority: String) {
    def row(key: Long): Row = Row(key, custkey, status, price,
      java.sql.Date.valueOf(date), priority)
  }

  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val firstDay = LocalDate.of(1992, 1, 1)
  /** TPC-H's orders domains at sf0.1: 15,000 customers, prices
    * 857.71-555,285.16, dates 1992-01-01 to 1998-08-02. */
  private def order(r: scala.util.Random): Order = Order(
    1L + r.nextInt(15000), statuses(r.nextInt(3)),
    java.math.BigDecimal.valueOf(85771L + r.nextInt(55442745), 2).setScale(4),
    firstDay.plusDays(r.nextInt(2405)), priorities(r.nextInt(5)))

  /** The model: live rows by key. */
  private val model = mutable.TreeMap[Long, Order]()
  private var nextKey = 0L

  private val ddl =
    """{"database_name":"cdc","table_name":"orders","columns":[
      |{"column_name":"o_orderkey","data_type":"long","required":true},
      |{"column_name":"o_custkey","data_type":"long"},
      |{"column_name":"o_orderstatus","data_type":"string"},
      |{"column_name":"o_totalprice","data_type":"decimal(18,4)"},
      |{"column_name":"o_orderdate","data_type":"date"},
      |{"column_name":"o_orderpriority","data_type":"string"}],
      |"partitions":[],"properties":{}}""".stripMargin
  private val tbl = "lake.cdc.orders"
  private val mvSql = "SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
    s"sum(o_totalprice) AS revenue FROM $tbl GROUP BY o_orderstatus, o_orderpriority"

  private def load() = Trace.load(LakeTable.load(wh, "cdc", "orders"))
  private def frame(rows: Seq[Row]) = spark.createDataFrame(rows.asJava, schema)
  /** Cycle c's random values, from the seed. */
  private def rnd(c: Int, salt: Long) = new scala.util.Random(seed * 1000003L + c * 7919L + salt)
  /** Cycle c's choice of keys: the same for every seed, so that every seed
    * hits the same files and writes, reads and compacts the same number. */
  private def keyRnd(c: Int, salt: Long) = new scala.util.Random(1000003L + c * 7919L + salt)

  /** The live keys, ascending. */
  private def liveKeys: Array[Long] = model.keysIterator.toArray

  // ---- the ops of one cycle ----

  private def merge(c: Int): Op[_] = {
    val r = rnd(c, 1)
    val pick = keyRnd(c, 1)
    val live = liveKeys
    val updated = mutable.LinkedHashMap[Long, Order]()
    while (updated.size < MergeUpdates) updated(live(pick.nextInt(live.length))) = order(r)
    val inserted = (0 until MergeInserts).map(j => (nextKey + 6L * j) -> order(r))
    val rows = (updated.toSeq ++ inserted).map { case (k, o) => o.row(k) }
    Op.write("merge", rows.map(_.toString.length + 1L).sum) {
      Trace.span("lake.merge")(load().mergeMoR(spark, frame(rows), Seq("o_orderkey")))
    } {
      model ++= updated
      model ++= inserted
      nextKey += 6L * MergeInserts
    }
  }

  /** Exactly `n` consecutive live keys from a random start: (first, last). */
  private def keyRange(r: scala.util.Random, n: Int): (Long, Long) = {
    val live = liveKeys
    val from = r.nextInt(live.length - n + 1)
    (live(from), live(from + n - 1))
  }

  private def delete(c: Int): Op[_] = {
    val (lo, hi) = keyRange(keyRnd(c, 2), DeleteRows)
    Op.write("delete", 0L) {
      Trace.span("lake.delete")(load().deleteMoR(spark, col("o_orderkey").between(lo, hi)))
    } {
      model --= model.range(lo, hi + 1).keys.toSeq
    }
  }

  private def refresh(): Op[_] = Op.write("refresh", 0L) {
    Trace.span("sources.refresh")(
      spark.sql("REFRESH MATERIALIZED VIEW lake.cdc.rev INCREMENTAL").collect())
  } {}

  private def compact(): Op[_] = Op.write("compact", 0L) {
    Trace.span("lake.compact")(load().compact(spark))
  } {}

  /** A read through the catalog whose answer must be exactly the model's
    * rows with keys in [lo, hi]. */
  private def read(lo: Long, hi: Long): Op[Array[Row]] = {
    val where = if (lo == hi) s"o_orderkey = $lo" else s"o_orderkey BETWEEN $lo AND $hi"
    Op[Array[Row]]("read", 0L,
      () => Trace.span("sources.read")(spark.sql(s"SELECT * FROM $tbl WHERE $where").collect()),
      got => {
        val want = model.range(lo, hi + 1).map { case (k, o) => o.row(k).toString }.toSeq
        OpResult(got.map(_.toString).sorted.toSeq == want.sorted, got.length)
      })
  }

  private def pointRead(c: Int): Op[_] = {
    val live = liveKeys
    val k = live(keyRnd(c, 3).nextInt(live.length))
    read(k, k)
  }

  private def rangeRead(c: Int): Op[_] = {
    val (lo, hi) = keyRange(keyRnd(c, 4), RangeReadRows)
    read(lo, hi)
  }

  /** Cycle c's op kinds, in order; each op is built when it is next to
    * run, from the model as the ops before it left it. */
  private def cycle(c: Int): Seq[Int => Op[_]] =
    Seq[Int => Op[_]](merge, pointRead, delete, rangeRead, _ => refresh()) ++
      (if ((c + 1) % CompactEvery == 0) Seq[Int => Op[_]](_ => compact()) else Nil)

  /** (cycle, op kind) of every op so far, warm-up cycles first. */
  private val sequence = mutable.ArrayBuffer[(Int, Int => Op[_])]()
  private def at(idx: Int): Op[_] = {
    while (sequence.size <= idx) {
      val c = sequence.lastOption.fold(0)(_._1 + 1)
      sequence ++= cycle(c).map(c -> _)
    }
    val (c, kind) = sequence(idx)
    kind(c)
  }
  private val warmupOps = (0 until WarmupCycles).map(cycle(_).size).sum

  def build(): Unit = {
    val r = new scala.util.Random(seed)
    (1L to TableRows).foreach(j => model(6L * j) = order(r))
    nextKey = 6L * (TableRows + 1)
    require(!Engine.processTableDefJson(wh, ddl).hasError, "create table")
    LakeTable.load(wh, "cdc", "orders")
      .append(frame(model.toSeq.map { case (k, o) => o.row(k) }))
    spark.sql(s"CREATE MATERIALIZED VIEW lake.cdc.rev AS $mvSql").collect()
  }

  /** The first cycles of the sequence, on the same table, untimed, so that
    * the timed ops start with loaded classes and the first compiled code.
    * (Per-op latency keeps falling for longer than the run budget allows
    * to wait; the timed sequence is fixed, so every run starts it at the
    * same point.) */
  def warmup(): Unit = (0 until warmupOps).foreach { i =>
    val op = at(i).asInstanceOf[Op[Any]]
    require(op.check(op.call()).ok, s"warm-up op $i")
  }

  def timedOps(seconds: Double): Int = {
    val cycles = math.max(1, math.round(seconds / PeriodSeconds).toInt) * PeriodCycles
    (WarmupCycles until WarmupCycles + cycles).map(cycle(_).size).sum
  }

  def op(i: Int): Op[_] = at(warmupOps + i)

  def verify(): Seq[String] = {
    val table = spark.sql(s"SELECT * FROM $tbl").collect().map(_.toString).sorted.toSeq
    val want = model.toSeq.map { case (k, o) => o.row(k).toString }.sorted
    val mv = spark.sql("SELECT o_orderstatus, o_orderpriority, n, revenue FROM lake.cdc.rev")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDecimal(3).setScale(4))).toSet
    val recompute = model.values.groupBy(o => (o.status, o.priority)).map {
      case ((s, p), os) => (s, p, os.size.toLong, os.map(_.price).reduce(_ add _).setScale(4))
    }.toSet
    Seq(
      (table != want) -> s"table has ${table.size} rows, the model ${want.size}; they differ",
      (mv != recompute) -> "materialized view differs from a full recompute"
    ).collect { case (true, msg) => msg }
  }

  def liveRows: Long = model.size.toLong
  def tables: Seq[(String, String)] = Seq("cdc" -> "orders", "cdc" -> "__mat_rev")
}

object CdcUpsert {
  /** sf0.1 orders with o_orderkey % 6 = 0, the bench-sized fixture of the
    * declared view keys (LakeReadQueries.scala:1319); keys 6, 12, .... */
  val TableRows = 25000L
  /** Updates per MERGE: the 1/88 slice the declared min/max view key
    * re-prices in its upsert (LakeReadQueries.scala:1342), at 25,000 rows. */
  val MergeUpdates = 284
  /** Inserts per MERGE and rows per DELETE: assumed, 1% of the table each,
    * equal so that the table keeps its size and only the delete files
    * and the snapshot history grow between compactions. */
  val MergeInserts = 250
  val DeleteRows = 250
  /** Rows of the range read: assumed, twice a delete's range. */
  val RangeReadRows = 500
  /** Table compaction cadence: assumed, every 4 cycles, so that one period
    * of the view's backing-table squash (8 refreshes at the engine's
    * default threshold) holds two whole table compactions. */
  val CompactEvery = 4
  val PeriodCycles = 8
  /** Cycles run before timing starts. */
  val WarmupCycles = 1
  /** About how long one timed period takes on a 4-vCPU host; it turns
    * `--seconds` into the nearest whole number of periods, at least one. */
  val PeriodSeconds = 30.0
}
