package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** `spark.read.parquet(path)` planned without its schema-inference job.
  *
  * With `mergeSchema` off, Spark infers a parquet read's schema from ONE
  * footer: the first data file, by path, of the listing (summary files
  * first when present). It reads that footer inside a one-task Spark job,
  * which costs a job's scheduling round trip during planning. This helper
  * lists the input the same way, reads the same footer on the driver and
  * converts it with a converter configured exactly as inference configures
  * its own from the session's `SQLConf`, then hands the schema to
  * `spark.read.schema(s)`. The result is the DataFrame `spark.read.parquet`
  * returns, with the same schema, rows and partition columns, and no job.
  *
  * Meant for a read that mounts one parquet file, or one directory written
  * by a single graft write. Reads that need every footer (`mergeSchema`)
  * stay on Spark's inference.
  *
  * It defers to `spark.read.parquet` (so Spark's own listing, inference
  * and errors apply) when the path is missing or a glob, names a hidden
  * file, has a `_spark_metadata` sink log or a `_metadata`/
  * `_common_metadata` summary file, holds no data file, or cannot be
  * listed or its first footer read here.
  */
object FooterSchema {
  def read(spark: SparkSession, path: String): DataFrame =
    schemaOf(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.parquet(path)
    }

  private def summary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** Spark's `InMemoryFileIndex` listing filter: hidden and in-flight
    * names are skipped, summary files and `k=v` dirs are kept. */
  private def skipped(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !summary(name)

  private def leaves(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot(f => skipped(f.getPath.getName)).flatMap { f =>
      if (f.isDirectory) leaves(fs, f.getPath) else Seq(f)
    }

  private def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    if (path.exists("{}[]*?\\".contains(_))) return None
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val c = spark.sessionState.conf
    // the converter inference builds (ParquetFileFormat.mergeSchemasInParallel)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = c.isParquetBinaryAsString,
      assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
      inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
      nanosAsLong = c.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation)
    // Not swallowed: an input this cannot list or read (missing, changed
    // mid-listing, a corrupt footer, an illegal type) defers to Spark's
    // inference, which raises its own error for it.
    try {
      val st = fs.getFileStatus(root)
      val files =
        if (st.isFile) Seq(st)
        else if (fs.exists(new Path(root, "_spark_metadata"))) return None
        else leaves(fs, root)
      // a hidden root file, or summary files, are Spark's to resolve
      if (files.exists { f => val n = f.getPath.getName; skipped(n) || summary(n) })
        return None
      files.sortBy(_.getPath.toString).headOption.map { first =>
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(first, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)),
          converter)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
