package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}
import graft.schema.FieldIds

/** Every (target, file) schema pair an evolution path can produce maps
  * onto the one decoder ([[LakeVectorize.vectorMap]]). A pair that
  * cannot map is either refused where it would arise (map-key changes,
  * at the DDL boundary) or cannot be produced at all, and then fails
  * the read with an IllegalStateException naming the file and the
  * cause.
  */
class UnmappableSchemaSpec extends AnyFunSuite {
  private val path = "/lake/t/data/f.parquet"

  private def withId(f: StructField, id: Int) = FieldIds.withId(f, id)

  test("a target field without a field id fails naming the file") {
    val file = StructType(Seq(withId(StructField("k", LongType), 1)))
    val e = intercept[IllegalStateException] {
      LakeVectorize.vectorMap(path, StructType(Seq(StructField("k", LongType))),
        file)
    }
    assert(e.getMessage.contains(path) && e.getMessage.contains("no field id"))
  }

  test("a map-key or non-widening type change fails naming the file") {
    def map(k: DataType) = StructType(Seq(withId(
      StructField("m", MapType(k, StringType)), 1)))
    val e = intercept[IllegalStateException] {
      LakeVectorize.vectorMap(path, map(LongType), map(IntegerType))
    }
    assert(e.getMessage.contains(path) && e.getMessage.contains("map key"))
    val narrow = intercept[IllegalStateException] {
      LakeVectorize.vectorMap(path,
        StructType(Seq(withId(StructField("x", IntegerType), 1))),
        StructType(Seq(withId(StructField("x", LongType), 1))))
    }
    assert(narrow.getMessage.contains(path) &&
      narrow.getMessage.contains("not a widening"))
  }

  test("a dropped-and-re-added name is requested under a name the " +
      "file lacks, so it null-fills instead of binding the old column") {
    val file = StructType(Seq(
      withId(StructField("k", LongType), 1),
      withId(StructField("s", StructType(Seq(
        withId(StructField("a", StringType), 3)))), 2)))
    // top-level s and nested s.a re-added under new ids
    val target = StructType(Seq(
      withId(StructField("k", LongType), 1),
      withId(StructField("s", StructType(Seq(
        withId(StructField("a", StringType), 5)))), 4)))
    val vm = LakeVectorize.vectorMap(path, target, file)
    assert(vm.requested.fieldNames.toSeq == Seq("k", "s_"))
    val nested = LakeVectorize.vectorMap(path,
      StructType(Seq(target(0), withId(StructField("s", StructType(Seq(
        withId(StructField("a", StringType), 5)))), 2))), file)
    assert(nested.requested("s").dataType ==
      StructType(Seq(StructField("a_", StringType))))
  }

  test("map keys do not evolve: a key type change or a change inside a " +
      "struct key is refused at the DDL boundary") {
    def mapDef(key: String) =
      s"""{"database_name":"d","table_name":"t","columns":[
         |{"column_name":"k","data_type":"long"},
         |{"column_name":"m","data_type":"map","map_def":{
         |  "key":$key,
         |  "value":{"column_name":"value","data_type":"string"}}}],
         |"partitions":[]}""".stripMargin
    def refused(from: String, to: String): String = {
      val wh = Files.createTempDirectory("graft-mapkey").toString
      Engine.processTableDefJson(wh, mapDef(from))
      val r = Engine.processTableDefJson(wh, mapDef(to))
      assert(r.hasError, s"map-key change must be refused: $r")
      assert(LakeTable.load(wh, "d", "t").metadata.schemas.size == 1,
        "a refused evolution commits no schema")
      r.messageList.mkString("; ")
    }
    val atomic = refused("""{"column_name":"key","data_type":"int"}""",
      """{"column_name":"key","data_type":"long"}""")
    assert(atomic.contains("cannot update map keys"), atomic)
    val structKey = """{"column_name":"key","data_type":"struct","struct_def":[
      |{"column_name":"a","data_type":"int"}%s]}""".stripMargin
    val promoted = refused(structKey.format(""),
      structKey.format("").replace("\"int\"", "\"long\""))
    assert(promoted.contains("cannot update map keys"), promoted)
    val added = refused(structKey.format(""), structKey.format(
      """,{"column_name":"b","data_type":"string"}"""))
    assert(added.contains("cannot update map keys"), added)
  }
}
