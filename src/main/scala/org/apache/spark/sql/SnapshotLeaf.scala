package org.apache.spark.sql

import org.apache.spark.sql.execution.LogicalRDD

/** `Dataset.checkpoint`'s construction without the checkpoint: a frame
  * whose logical plan is one `LogicalRDD` leaf over `df`'s physical
  * rows. Caching it caches the same rows as caching `df`, but its plan
  * no longer embeds `df`'s, so a chain of frames each built from the
  * last keeps a constant-size plan; an evicted partition still
  * recomputes through the RDD lineage. `LogicalRDD.fromDataset` and
  * `Dataset.ofRows` are private[sql].
  */
object SnapshotLeaf {
  def of(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, ds.isStreaming))
  }
}
