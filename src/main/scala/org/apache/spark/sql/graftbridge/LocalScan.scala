package org.apache.spark.sql.graftbridge

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Driver-side parquet scan: decodes a few small files in the calling
  * thread and wraps the rows as a `LocalRelation`, so the DataFrame plans
  * as a `LocalTableScan` that collects without scheduling a Spark job.
  * `classic.Dataset.ofRows` is `private[sql]`, hence this subpackage.
  */
object LocalScan {

  /** The session's "small enough for the driver" bound in bytes
    * (`spark.sql.autoBroadcastJoinThreshold`); ≤ 0 turns driver reads off. */
  def threshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** True when every leaf of `df`'s plan is a `LocalRelation`: collecting
    * it runs no Spark job. */
  def isLocal(df: DataFrame): Boolean =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  /** Reads parquet files of one schema on the driver. The file reader is
    * the one a scan task runs (`ParquetFileFormat.buildReaderWithPartitionValues`),
    * asked for rows instead of columnar batches; the vectorized reader
    * hands out one reused row object, so every row is copied into its own
    * `UnsafeRow`. Building that reader copies and broadcasts the Hadoop
    * conf (~10 ms), so it is built once and rebuilt only when the
    * session's SQL conf changes. The output schema is nullable
    * throughout, as a file source's is. */
  final class Reader(spark: SparkSession, schema: StructType) {
    private val session = spark.asInstanceOf[classic.SparkSession]
    private val readSchema = schema.asNullable
    @volatile private var built: (Map[String, String], PartitionedFile => Iterator[InternalRow]) = _

    private def fileReader(): PartitionedFile => Iterator[InternalRow] = {
      val confs = session.sessionState.conf.getAllConfs
      val b = built
      if (b != null && b._1 == confs) b._2
      else {
        val read = new ParquetFileFormat().buildReaderWithPartitionValues(
          session, readSchema, new StructType(), readSchema, Nil,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), session.sessionState.newHadoopConf())
        built = (confs, read)
        read
      }
    }

    /** All rows of `files` (absolute path, size in bytes). */
    def frame(files: Seq[(String, Long)]): DataFrame = session.withActive {
      val rows =
        if (files.isEmpty) Vector.empty[InternalRow]
        else {
          val read = fileReader()
          val copy = UnsafeProjection.create(readSchema)
          files.toVector.flatMap { case (path, size) =>
            val it = read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
              0L, size, Array.empty[String], 0L, size))
            try it.map(r => copy(r).copy(): InternalRow).toVector
            finally it match {
              case c: java.io.Closeable => c.close()
              case _ =>
            }
          }
        }
      classic.Dataset.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(readSchema), rows))
    }
  }
}
