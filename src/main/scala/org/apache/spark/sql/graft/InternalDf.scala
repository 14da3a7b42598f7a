package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Bridge into Spark's `private[sql]`/`private[spark]` internals needed by
  * custom file sources (the same surface a built-in FileFormat uses):
  * DataFrame creation over an InternalRow RDD and a task-serializable
  * Hadoop configuration. Lives under the org.apache.spark package for
  * access; contains no logic.
  */
object InternalDf {

  /** DataFrame over an InternalRow RDD with an explicit schema. */
  def fromInternalRdd(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Broadcast the session's Hadoop conf once; the returned thunk is
    * task-serializable and yields the conf executor-side (so `s3a://`
    * credentials and filesystem settings travel with the job). */
  def hadoopConfAccessor(spark: SparkSession): () => Configuration = {
    val bc = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    () => bc.value.value
  }
}
