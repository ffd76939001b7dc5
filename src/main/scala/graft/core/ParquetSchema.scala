package graft.core

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet schema resolution on the driver. Spark infers a parquet
  * schema by launching a one-task job that reads footers; on a small
  * daily increment those row-free jobs are a large share of all jobs.
  * This runs the same conversion — footer → `StructType` through
  * `ParquetFileFormat.readSchemaFromFooter`, merged with
  * `StructType.merge` under the session's case sensitivity — in the
  * driver, so callers can hand Spark the schema with `.schema(...)`.
  *
  * Every entry point answers None when the driver cannot reproduce
  * Spark's answer (missing path, glob, no data file, unreadable
  * footer) or should not do the work serially: more footers to merge,
  * or more directories to walk, than the session's
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` — the
  * count above which Spark itself lists paths with a parallel job.
  * The caller then lets Spark resolve the schema itself, which also
  * raises Spark's own error for a path it cannot read.
  */
object ParquetSchema {

  /** The schema `spark.read.parquet(files: _*)` reports for exactly
    * these files (all nullable, as a file source reports it): the
    * first file's footer by path, or with merging (`merge`, or the
    * session's `spark.sql.parquet.mergeSchema`) every footer, merged
    * in path order. Parquet summary files (`_metadata`,
    * `_common_metadata`) take precedence in Spark's choice of footers,
    * so a file list holding one is left to Spark. */
  def ofFiles(spark: SparkSession, files: Seq[String],
      merge: Boolean): Option[StructType] = try {
    val conf = GraftBridge.sqlConf(spark)
    val hadoop = GraftBridge.hadoopConf(spark)
    val sorted = files.map { f =>
      val p = new Path(f)
      p.getFileSystem(hadoop).makeQualified(p)
    }.sortBy(_.toString)
    val touch =
      if (merge || conf.isParquetSchemaMergingEnabled) sorted
      else sorted.take(1)
    val summaries = sorted.exists(p =>
      p.getName == "_metadata" || p.getName == "_common_metadata")
    if (summaries || touch.isEmpty ||
        touch.size > conf.parallelPartitionDiscoveryThreshold) None
    else {
      // the converter Spark's inference builds (mergeSchemasInParallel):
      // session conf for these five flags, defaults for the rest
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation)
      val schemas = touch.map { p =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(p, hadoop),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer),
          converter)
      }
      Some(GraftBridge.nullable(schemas.reduce(GraftBridge.mergeSchemas(
        _, _, conf.caseSensitiveAnalysis))))
    }
  } catch { case NonFatal(_) => None }

  /** The data schema of the parquet file or directory at `path`: its
    * leaf files are listed by [[LeafFiles]] and resolved by
    * [[ofFiles]]. Partition columns are not part of it — Spark still
    * infers them from the `k=v` directories when it is given this
    * schema. None also when a data column shares its name with a
    * `k=v` directory: Spark drops such a column from a given schema
    * and appends the partition column instead, so the frame's column
    * order would differ from its own inference. */
  def ofPath(spark: SparkSession, path: String,
      merge: Boolean): Option[StructType] =
    if (path.exists(c => "*?[{".indexOf(c) >= 0)) None
    else try {
      val p = new Path(path)
      val conf = GraftBridge.sqlConf(spark)
      LeafFiles.list(p.getFileSystem(GraftBridge.hadoopConf(spark)), p,
          maxDirs = conf.parallelPartitionDiscoveryThreshold)
        .flatMap { l =>
          def norm(n: String) =
            if (conf.caseSensitiveAnalysis) n
            else n.toLowerCase(java.util.Locale.ROOT)
          val keys = l.partitionKeys.map(norm)
          ofFiles(spark, l.files.map(_.getPath.toString), merge)
            .filterNot(_.fieldNames.exists(f => keys(norm(f))))
        }
    } catch { case NonFatal(_) => None }
}
