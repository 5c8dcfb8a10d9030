package lakebench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.gen.OrdersFixtures
import graft.lake.{Engine, LakeTable, ProcessSchemaResponse}

/** The reference Lambda's traffic (SURVEY §3.1-3.2), replayed on a stream
  * of fresh tables. Each table gets two invocations: the v1 def (CREATE,
  * year partitions), then the v2 def (ALTER: adds order_id,
  * address.address_line, address.zip and order_items.element.item_count;
  * moves year to month), the sequence `handler.py:45-48` runs. Each
  * invocation submits the def, loads the table, and appends orders built
  * against the loaded schema (`data_generator.py:69-79`).
  *
  * Sizes are one fixed block of [[LambdaReplay.BlockOps]] invocations for
  * every seed: orders per invocation are a permutation of 1-20
  * (`data_generator.py:71`), and each order's item count (1-50,
  * `data_generator.py:56`) and order month are drawn once from a constant
  * seed, so the files each append writes are the same for every seed. The
  * seed picks the values: day, customer, address, item prices and counts.
  */
final class LambdaReplay(spark: SparkSession, wh: String, seed: Long)
    extends Workload {
  import LambdaReplay._

  private val db = "customer_order"
  private def table(k: Int) = f"orders_$k%05d"
  private def defJson(k: Int, v2: Boolean) =
    (if (v2) OrdersFixtures.ordersV2Json else OrdersFixtures.ordersV1Json)
      .replace("\"table_name\": \"orders\"", s""""table_name": "${table(k)}"""")

  /** Orders appended to each table by its v1 and by its v2 invocation. */
  private val appended = scala.collection.mutable.Map[Int, (Int, Int)]()

  /** Invocation i against `warehouse`: its def, then load, then append. */
  private def invocation(warehouse: String, i: Int, valueSeed: Long): Op[ProcessSchemaResponse] = {
    val k = i / 2
    val v2 = i % 2 == 1
    val shape = Block(i % BlockOps)
    val rows = orders(shape, v2, i, valueSeed)
    val json = defJson(k, v2)
    Op[ProcessSchemaResponse]("invocation", rows.map(_.toString.length + 1L).sum,
      () => {
        val resp = Trace.span("lake.process_def")(Engine.processTableDefJson(warehouse, json))
        val t = Trace.load(LakeTable.load(warehouse, db, table(k)))
        val df = spark.createDataFrame(rows.asJava, t.currentSchema)
        Trace.span("lake.append")(t.append(df))
        resp
      },
      resp => {
        if (warehouse == wh) {
          val (a, b) = appended.getOrElse(k, (0, 0))
          appended(k) = if (v2) (a, b + rows.size) else (a + rows.size, b)
        }
        OpResult(!resp.hasError &&
          resp.changeType == (if (v2) "ALTER TABLE" else "CREATE TABLE"))
      })
  }

  private def orders(shape: Seq[OrderShape], v2: Boolean, i: Int, valueSeed: Long): Seq[Row] = {
    val r = new scala.util.Random(valueSeed * 1000003L + i)
    def n100 = 1 + r.nextInt(100)
    shape.zipWithIndex.map { case (o, j) =>
      val time = LocalDateTime.of(o.year, o.month, 1 + r.nextInt(28), 1, 1, 1)
      val items = (1 to o.items).map { x =>
        val price = math.round((10.0 + r.nextDouble() * 10.0) * 100.0).toFloat / 100.0f
        if (v2) Row(s"item_$x", 1 + r.nextInt(5), price) else Row(s"item_$x", price)
      }
      if (v2) Row(f"order_$i%06d_$j%02d", time, s"Customer_$n100",
        Row(s"address_line_$n100", s"city_$n100", s"state_$n100", s"zip_$n100"), items)
      else Row(time, s"Customer_$n100", Row(s"city_$n100", s"state_$n100"), items)
    }
  }

  def build(): Unit = () // every table is created by its own first invocation

  /** The first invocations of a block in a scratch warehouse, with other
    * values, so that the timed ops start with loaded classes and the
    * first compiled code, and the measured warehouse holds only their
    * data. (Per-op latency keeps falling for longer than the run budget
    * allows to wait; the timed sequence is fixed, so every run starts it
    * at the same point.) */
  def warmup(): Unit =
    (0 until WarmupOps).foreach { i =>
      val op = invocation(wh + "-warmup", i, ~seed)
      require(op.check(op.call()).ok, s"warm-up invocation $i")
    }

  def timedOps(seconds: Double): Int =
    math.max(1, math.round(seconds / BlockSeconds).toInt) * BlockOps

  def op(i: Int): Op[_] = invocation(wh, i, seed)

  /** Every table holds the rows appended to it, and its v1-era rows read
    * the v2 columns as NULL. */
  def verify(): Seq[String] = {
    val tables = appended.keys.toSeq.sorted
    def union(select: Int => String) = tables.map(select).mkString(" UNION ALL ")
    val counts = spark.sql(union(k =>
      s"SELECT $k AS k, count(*) AS n FROM lake.$db.${table(k)}"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // item_count is required in the v2 def, so both a SQL IS NULL test on
    // it and a collected Row read it as never null: test its JSON instead,
    // which leaves NULL fields out
    val v1 = Trace.checkRead[Array[Row]](_.length)(spark.sql(union(k =>
      s"SELECT $k AS k, address.zip AS zip, to_json(order_items) AS items " +
        s"FROM lake.$db.${table(k)} WHERE order_id IS NULL")).collect())
    val v1Counts = v1.groupBy(_.getInt(0)).map { case (k, rs) => k -> rs.length }
    val leaked = v1.count(r => !r.isNullAt(1) || r.getString(2).contains("\"item_count\""))
    tables.flatMap { k =>
      val (a, b) = appended(k)
      Seq(
        (counts.getOrElse(k, -1L) != a + b) ->
          s"${table(k)}: ${counts.getOrElse(k, -1L)} rows, ${a + b} appended",
        (v1Counts.getOrElse(k, 0) != a) ->
          s"${table(k)}: ${v1Counts.getOrElse(k, 0)} rows without order_id, $a v1 rows appended")
    }.collect { case (true, msg) => msg } ++
      (if (leaked > 0) Seq(s"$leaked v1-era rows read a non-null zip or item_count") else Nil)
  }

  def liveRows: Long = appended.values.map { case (a, b) => a + b }.sum.toLong
  def tables: Seq[(String, String)] = appended.keys.toSeq.sorted.map(k => db -> table(k))
}

object LambdaReplay {
  final case class OrderShape(items: Int, year: Int, month: Int)

  /** Invocations per block: ten tables, each created then evolved. */
  val BlockOps = 20
  /** The block's shape, the same for every seed: invocation j appends
    * `Block(j).size` orders, a permutation of 1-20 over the block. */
  val Block: IndexedSeq[Seq[OrderShape]] = {
    val r = new scala.util.Random(20200101L)
    r.shuffle((1 to BlockOps).toVector).map(n => Seq.fill(n)(
      OrderShape(1 + r.nextInt(50), 2020 + r.nextInt(6), 1 + r.nextInt(12))))
  }
  /** Invocations run before timing starts. */
  val WarmupOps = 10
  /** About how long one timed block takes on a 4-vCPU host; it turns
    * `--seconds` into the nearest whole number of blocks, at least one. */
  val BlockSeconds = 11.5
}
