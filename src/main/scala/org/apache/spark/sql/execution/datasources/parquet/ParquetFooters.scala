package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]`/`private[parquet]` pieces of Spark's
  * parquet schema inference, so a loader can read a table's footer
  * schema on the driver instead of in a schema-merge job. Each member is
  * the call `DataSource.resolveRelation` or `ParquetFileFormat.inferSchema`
  * makes; the choice of footer file lives with the caller. Lives under
  * the org.apache.spark package for access; contains no logic, the same
  * convention as `org.apache.spark.sql.graft.ExprBridge`.
  */
object ParquetFooters {

  /** The leaf files a schema-less parquet read of `path` infers its schema
    * from: Spark's own glob and existence check (a missing path raises
    * its PATH_NOT_FOUND), then an `InMemoryFileIndex`'s `allFiles`. */
  def indexedFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path),
      spark.sessionState.newHadoopConf(), checkEmptyGlobPath = true,
      checkFilesExist = true, enableGlobbing = true)
    new InMemoryFileIndex(spark, roots, Map.empty, None).allFiles()
  }

  /** The footer schema of `file`, read on the driver with the session's
    * `ignoreCorruptFiles` and the converter flags of the inference job;
    * None when a corrupt footer was ignored. */
  def schema(spark: SparkSession, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(spark.sessionState.newHadoopConf(),
        Seq(file), spark.sessionState.conf.ignoreCorruptFiles),
      spark)

  /** The error inference raises when it finds no footer to read. */
  def noSchemaError(): Throwable =
    QueryCompilationErrors.dataSchemaNotSpecifiedError(new ParquetFileFormat().toString)
}
