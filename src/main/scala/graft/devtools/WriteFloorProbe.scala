package graft.devtools

import org.apache.spark.sql.SparkSession

/** Dev tool: where does the ~40 ms driver-side tiny-parquet write go?
  * Times one-file ParquetWriteSupport writes under (a) the default
  * ChecksumFileSystem (.crc sidecar + checksum maintenance) and (b)
  * RawLocalFileSystem, plus a bare reopen-for-footer read, 50 reps
  * each. Usage: tools/run.sh graft.devtools.WriteFloorProbe
  */
object WriteFloorProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val rows: Seq[InternalRow] = (0 until 100).map(i =>
      InternalRow(i.toLong, UTF8String.fromString(s"value-$i")))
    val dir = java.nio.file.Files.createTempDirectory("wfp")

    def writeOne(p: java.nio.file.Path,
        confTweak: org.apache.hadoop.conf.Configuration => Unit): Unit = {
      val conf = graft.lake.HadoopConfs.mutable()
      confTweak(conf)
      org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
        .setSchema(schema, conf)
      import org.apache.spark.sql.internal.SQLConf
      conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
      conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
      conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "true")
      conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
        SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.defaultValueString)
      final class B(f: org.apache.parquet.io.OutputFile)
          extends org.apache.parquet.hadoop.ParquetWriter.Builder[
            InternalRow, B](f) {
        override def getWriteSupport(
            c: org.apache.hadoop.conf.Configuration) =
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetWriteSupport
        override def self(): B = this
      }
      val out = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString), conf)
      val w = new B(out).withConf(conf)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      try rows.foreach(w.write) finally w.close()
    }

    def bench(name: String)(f: Int => Unit): Unit = {
      for (i <- 0 until 10) f(i) // warm
      val t0 = System.nanoTime()
      for (i <- 10 until 60) f(i)
      println(f"$name%-28s ${(System.nanoTime() - t0) / 50e6}%8.2f ms/op")
    }

    bench("write checksum-fs") { i =>
      writeOne(dir.resolve(s"a$i.parquet"), _ => ()) }
    bench("write raw-fs") { i =>
      writeOne(dir.resolve(s"b$i.parquet"), c => {
        c.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      }) }
    bench("footer read") { i =>
      graft.lake.FileStats.fromFooterWithRows(
        dir.resolve(s"a${10 + i % 50}.parquet").toString, schema) }
    // nio baseline: what does the OS charge for create+write+close?
    bench("nio 8KB write") { i =>
      java.nio.file.Files.write(dir.resolve(s"n$i.bin"),
        new Array[Byte](8192)) }
    spark.stop()
  }
}
