package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge to the write-side VARIANT shredding FileFormatWriter runs per
  * parquet file (ParquetOutputWriterWithVariantShredding): infer the
  * shredding schema from a file's first rows and hand it to
  * ParquetWriteSupport through the writer conf.
  */
object GraftVariantShredding {
  def setInferredSchema(schema: StructType, rows: Seq[InternalRow],
      conf: Configuration): Unit =
    ParquetWriteSupport.setShreddingSchema(
      new InferVariantShreddingSchema(schema).inferSchema(rows), conf)
}
