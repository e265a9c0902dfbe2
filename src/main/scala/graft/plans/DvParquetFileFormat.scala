package graft.plans

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.functions.DeleteBitmap

/** Parquet with MERGE-ON-READ deletion vectors applied inside the
  * reader — how [[SnapshotTable]]'s API reads serve a snapshot whose
  * files carry vectors. The plan is the clean read's plan (one
  * relation, no metadata columns, no filter), so a vectored snapshot
  * plans and schedules like a clean one.
  *
  * It rests on one invariant: a parquet file read WHOLE with NO pushed
  * filters yields its rows in file order, so a running count per file
  * IS the row position the vector names. Hence a vectored file is never
  * split and reads without pushed filters (row-group and page skipping
  * would renumber rows; Spark keeps the Filter above the scan, so this
  * costs skipping, never correctness), and the relation reads row-based
  * (a position is a row, not a batch). Files without a vector keep
  * splits and pushed filters. `dvByBase` is keyed by file basename
  * (commit-UUID-prefixed, globally unique) and ships to tasks as one
  * broadcast per scan. */
private[graft] final class DvParquetFileFormat(
    val dvByBase: Map[String, DeleteBitmap]) extends ParquetFileFormat {

  override def supportBatch(spark: SparkSession, schema: StructType): Boolean =
    false

  override def isSplitable(spark: SparkSession, options: Map[String, String],
                           path: Path): Boolean =
    !dvByBase.contains(path.getName) && super.isSplitable(spark, options, path)

  override def buildReaderWithPartitionValues(
      spark: SparkSession, dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String], hadoopConf: Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    val pushed = super.buildReaderWithPartitionValues(spark, dataSchema,
      partitionSchema, requiredSchema, filters, options, hadoopConf)
    val whole = super.buildReaderWithPartitionValues(spark, dataSchema,
      partitionSchema, requiredSchema, Nil, options, hadoopConf)
    val bc = spark.sparkContext.broadcast(dvByBase)
    (file: PartitionedFile) => {
      bc.value.get(SnapshotTable.basename(file.filePath.toString)) match {
        case None => pushed(file)
        case Some(dv) =>
          var pos = -1L
          whole(file).filter { _ => pos += 1; !dv.contains(pos) }
      }
    }
  }

  // relations (and so cached plans and reused exchanges) over the same
  // files with different vectors must never compare equal
  override def equals(other: Any): Boolean = other match {
    case d: DvParquetFileFormat => d.dvByBase == dvByBase
    case _ => false
  }

  override def hashCode(): Int = dvByBase.keySet.hashCode()
}
