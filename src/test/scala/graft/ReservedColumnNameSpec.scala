package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** A table column spelled like a metadata column or Spark's row-index
  * temporary column would read back engine-generated values instead of
  * the stored ones, so every DDL boundary refuses those names,
  * case-insensitively: table-def create and evolve, and catalog CREATE
  * TABLE, ALTER ADD COLUMN and RENAME COLUMN.
  */
class ReservedColumnNameSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val reserved = Seq("_graft_file", "_graft_pos", "_graft_row_id",
    "_graft_last_updated", org.apache.spark.sql.execution.datasources
      .parquet.GraftRowIndexBridge.RowIndexTempCol)

  private def defJson(cols: String*): String =
    s"""{"database_name":"d","table_name":"t","columns":[${cols.map(c =>
      s"""{"column_name":"$c","data_type":"long"}""").mkString(",")}],
       |"partitions":[]}""".stripMargin

  private def refusedNaming(name: String)(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    val named = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .exists(_.isInstanceOf[LakeTable.ReservedColumnNameException])
    assert(named && e.getMessage.contains(name), s"got $e")
  }

  test("table-def create and evolve refuse reserved names") {
    for (name <- reserved; spelled <- Seq(name, name.toUpperCase)) {
      val wh = Files.createTempDirectory("graft-reserved-def").toString
      val create = Engine.processTableDefJson(wh, defJson("k", spelled))
      assert(create.hasError && create.messageList.exists(m =>
        m.contains(spelled) && m.contains("reserved")), create.messageList)
      assert(!LakeTable.exists(wh, "d", "t"))
      assert(!Engine.processTableDefJson(wh, defJson("k")).hasError)
      val evolve = Engine.processTableDefJson(wh, defJson("k", spelled))
      assert(evolve.hasError && evolve.messageList.exists(m =>
        m.contains(spelled) && m.contains("reserved")), evolve.messageList)
      assert(LakeTable.load(wh, "d", "t").currentSchema.fieldNames.toSeq ==
        Seq("k"))
    }
  }

  test("catalog CREATE TABLE, ALTER ADD COLUMN and RENAME COLUMN refuse " +
      "reserved names") {
    val wh = Files.createTempDirectory("graft-reserved-cat").toString
    spark.conf.set("spark.sql.catalog.grn", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.grn.warehouse", wh)
    spark.sql("CREATE TABLE grn.d.t (k BIGINT)")
    for (name <- reserved) {
      val spelled = name.toUpperCase
      refusedNaming(spelled) {
        spark.sql(s"CREATE TABLE grn.d.u (k BIGINT, `$spelled` BIGINT)")
      }
      refusedNaming(name) {
        spark.sql(s"ALTER TABLE grn.d.t ADD COLUMN `$name` BIGINT")
      }
      refusedNaming(spelled) {
        spark.sql(s"ALTER TABLE grn.d.t RENAME COLUMN k TO `$spelled`")
      }
    }
    assert(LakeTable.load(wh, "d", "t").currentSchema.fieldNames.toSeq ==
      Seq("k"))
    assert(!LakeTable.exists(wh, "d", "u"))
  }
}
