package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** `Dataset.checkpoint`'s construction without the checkpoint: a frame
  * whose logical plan is one `LogicalRDD` leaf over physical rows.
  * Caching it caches those rows, but its plan embeds no other frame's,
  * so a chain of frames each built from the last keeps a constant-size
  * plan; an evicted partition still recomputes through the RDD lineage.
  * `LogicalRDD`, `Dataset.ofRows` and the cache manager's entries are
  * private[sql].
  */
object SnapshotLeaf {

  /** A frame over `rows`, laid out as `schema`. `sizeInBytes` is the
    * leaf's size estimate, which the planner reads until the frame is
    * cached and materialized (and always, for an uncached frame).
    */
  def of(spark: SparkSession, schema: StructType, rows: RDD[InternalRow],
         sizeInBytes: BigInt): DataFrame = {
    val n = rows.getNumPartitions
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session,
      LogicalRDD(DataTypeUtils.toAttributes(schema), rows,
        if (n == 1) SinglePartition else UnknownPartitioning(n))(
        session, Some(Statistics(sizeInBytes = sizeInBytes))))
  }

  /** Build the columnar cache of `df`, which must be cached, with one
    * RDD job over its cached batches (no rows are decoded); returns the
    * number of batches.
    */
  def materializeCache(df: DataFrame): Long = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds) match {
      case Some(c) => c.cachedRepresentation.cacheBuilder.cachedColumnBuffers.count()
      case None => throw new IllegalStateException("frame is not cached")
    }
  }
}
