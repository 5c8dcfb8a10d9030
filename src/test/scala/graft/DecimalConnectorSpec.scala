package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Decimal columns through the DSv2 connector: all three parquet
  * physical encodings (INT32 p<=9, INT64 p<=18, fixed binary beyond),
  * precision-widening promotion on read, scaled footer stats so pushed
  * decimal filters prune correctly, and the SQL surface.
  */
class DecimalConnectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def lakeReader(wh: String) =
    spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")
      .load()

  private def mkDecimalTable(wh: String): LakeTable = {
    // decimal in a table def is the reference's DECIMAL(5,5) quirk, so
    // build the schema through the catalog-free create path with
    // explicit types instead
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("small", DecimalType(7, 2)),   // INT32 encoding
      StructField("mid", DecimalType(15, 4)),    // INT64 encoding
      StructField("wide", DecimalType(30, 6)))) // fixed binary encoding
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1L, BigDecimal("12345.67").bigDecimal,
          BigDecimal("123456789.1234").bigDecimal,
          BigDecimal("123456789012345678.123456").bigDecimal),
        Row(2L, BigDecimal("-0.01").bigDecimal,
          BigDecimal("-99.9999").bigDecimal,
          BigDecimal("-123456789012345678901234.654321").bigDecimal),
        Row(3L, null, null, null)),
      schema)
    val cols = schema.fields.toSeq.map(f =>
      graft.schema.TypeMapper.toColumnDef(f.name, f.dataType, f.nullable))
    val (t, _) = LakeTable.create(wh,
      graft.schema.TableDef("d", "t2", cols, Seq.empty, Map.empty))
    t.append(df)
    t
  }

  test("decimal round-trips through all three parquet encodings") {
    val wh = Files.createTempDirectory("graft-dec").toString
    mkDecimalTable(wh)
    val got = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t2")
      .load().orderBy("id").collect()
    assert(got(0).getDecimal(1).toString == "12345.67")
    assert(got(0).getDecimal(2).toString == "123456789.1234")
    assert(got(0).getDecimal(3).toString == "123456789012345678.123456")
    assert(got(1).getDecimal(1).toString == "-0.01")
    assert(got(1).getDecimal(2).toString == "-99.9999")
    assert(got(1).getDecimal(3).toString == "-123456789012345678901234.654321")
    assert(got(2).isNullAt(1) && got(2).isNullAt(2) && got(2).isNullAt(3))
  }

  test("pushed decimal filters do not skip matching files (scaled stats)") {
    val wh = Files.createTempDirectory("graft-dec-stats").toString
    mkDecimalTable(wh)
    val got = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t2")
      .load()
      .filter(col("small") === BigDecimal("12345.67") ||
        col("wide") < BigDecimal("-1"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
  }

  test("decimal equality-delete keys supersede on both read paths, " +
      "across all three physical encodings") {
    val wh = Files.createTempDirectory("graft-dec-eq").toString
    val schema = StructType(Seq(
      StructField("k32", DecimalType(7, 2)),
      StructField("k64", DecimalType(15, 4)),
      StructField("kbin", DecimalType(30, 6)),
      StructField("v", StringType)))
    def row(i: Int, v: String) = Row(
      BigDecimal(s"$i.25").bigDecimal,
      BigDecimal(s"${i}000.0001").bigDecimal,
      BigDecimal(s"${i}23456789012345678.000001").bigDecimal, v)
    val cols = schema.fields.toSeq.map(f =>
      graft.schema.TypeMapper.toColumnDef(f.name, f.dataType, f.nullable))
    val (t, _) = LakeTable.create(wh,
      graft.schema.TableDef("d", "teq", cols, Seq.empty, Map.empty))
    t.append(spark.createDataFrame(
      java.util.List.of(row(1, "old1"), row(2, "old2")), schema))
    // blind upsert keyed on ALL THREE decimal encodings at once
    t.upsertMoR(spark, spark.createDataFrame(
      java.util.List.of(row(2, "new2"), row(3, "new3")), schema),
      keys = Seq("k32", "k64", "kbin"))
    val expect = Map("1.25" -> "old1", "2.25" -> "new2", "3.25" -> "new3")
    // native (Catalyst) read path
    val native = t.read(spark).select("k32", "v").collect()
      .map(r => r.getDecimal(0).toString -> r.getString(1)).toMap
    assert(native == expect, "native read")
    // DSv2 executor path (marker keys decoded by the data-file decoder)
    val dsv2 = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d")
      .option("table", "teq").load()
      .select("k32", "v").collect()
      .map(r => r.getDecimal(0).toString -> r.getString(1)).toMap
    assert(dsv2 == expect, "DSv2 read")
  }

  test("decimal stats DO prune files outside the range") {
    val wh = Files.createTempDirectory("graft-dec-prune").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DecimalType(10, 2))))
    val cols = schema.fields.toSeq.map(f =>
      graft.schema.TypeMapper.toColumnDef(f.name, f.dataType, f.nullable))
    val (t, _) = LakeTable.create(wh,
      graft.schema.TableDef("d", "t", cols, Seq.empty, Map.empty))
    t.append(spark.createDataFrame(java.util.List.of(
      Row(1L, BigDecimal("1.00").bigDecimal),
      Row(2L, BigDecimal("2.00").bigDecimal)), schema))
    t.append(spark.createDataFrame(java.util.List.of(
      Row(3L, BigDecimal("100.00").bigDecimal)), schema))
    // predicate matching only the second file: stats pruning keeps it
    // and may drop the first; correctness = exactly row 3 back
    val got = lakeReader(wh).filter(col("d") > BigDecimal("50"))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L))
    // range filter conversion really happens for decimals
    val ranges = LakeTable.load(wh, "d", "t").plannedFiles(
      statsFilters = Seq(graft.lake.RangeFilter("d",
        loNum = Some(BigDecimal("50")), hiNum = None)))
    assert(ranges.size == 1)
  }

  test("decimal precision widening reconciles old files on read") {
    val wh = Files.createTempDirectory("graft-dec-widen").toString
    val mk = (p: Int) => StructType(Seq(
      StructField("id", LongType), StructField("d", DecimalType(p, 2))))
    val cols = mk(9).fields.toSeq.map(f =>
      graft.schema.TypeMapper.toColumnDef(f.name, f.dataType, f.nullable))
    val (t, _) = LakeTable.create(wh,
      graft.schema.TableDef("d", "t", cols, Seq.empty, Map.empty))
    t.append(spark.createDataFrame(java.util.List.of(
      Row(1L, BigDecimal("9999999.99").bigDecimal)), mk(9)))
    // widen precision 9 -> 20 (INT32-encoded old file, INT64/binary new)
    val cols2 = mk(20).fields.toSeq.map(f =>
      graft.schema.TypeMapper.toColumnDef(f.name, f.dataType, f.nullable))
    val (msgs, err) = LakeTable.load(wh, "d", "t").evolve(
      graft.schema.TableDef("d", "t", cols2, Seq.empty, Map.empty))
    assert(!err, msgs.mkString("; "))
    val t2 = LakeTable.load(wh, "d", "t")
    t2.append(spark.createDataFrame(java.util.List.of(
      Row(2L, BigDecimal("123456789012345678.12").bigDecimal)), mk(20)))
    val got = lakeReader(wh).orderBy("id").collect()
    assert(got(0).getDecimal(1).toString == "9999999.99")
    assert(got(1).getDecimal(1).toString == "123456789012345678.12")
    assert(got(0).schema("d").dataType == DecimalType(20, 2))
  }

  test("SQL over decimal lake tables (catalog read + aggregate)") {
    val wh = Files.createTempDirectory("graft-dec-sql").toString
    mkDecimalTable(wh)
    spark.conf.set("spark.sql.catalog.gdec", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gdec.warehouse", wh)
    val got = spark.sql(
      "SELECT CAST(sum(small) AS STRING) s FROM gdec.d.t2").collect()
    assert(got(0).getString(0) == "12345.66")
  }
}
