package graft.store

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine.Align

/**
 * Retention rollover — the whisper/carbon retention policy as a batch
 * maintenance job (graphite stores 60s:1d,3600s:90d style archives; the
 * reference reads whichever archive covers the request): windows older
 * than a cutoff move from a fine time-only layout into a coarse one of
 * the same shape, consolidated to `coarseStep` through the same
 * ScaleToCommonStep kernel every mixed-step read uses. Reads open both
 * dirs as depth-0 [[RoutedSeriesStore]]s and compose them with
 * [[TieredSeriesStore]] (fine tier first), so the rollover is invisible
 * to queries apart from the intended resolution drop. The coarse dir
 * carries no `_store_meta`: open it with the rollover's `windowSec`.
 *
 * Scale shape: the source scan is partition-pruned to exactly the
 * windows being rolled (`pwin < beforeWin`), the consolidation is one
 * broadcast-stats pass + per-row rebucket, and the write is the coarse
 * store's own partitioning. The only driver-side data is the moved
 * window list (bounded by windows-per-retention-period, not data).
 *
 * Concurrent readers during the partition drop: a fetch plan built
 * BEFORE the delete holds the old file listing — executing it after the
 * delete fails loudly (FAILED_READ_FILE.FILE_NOT_EXIST); the caller's
 * retry re-plans against the surviving layout and succeeds, and the
 * tiered read then serves the rolled window from the coarse side (the
 * coarse write always lands before the fine delete). Deployments that
 * prefer degradation over retry set `spark.sql.files.ignoreMissingFiles`
 * (read at execution time): the stale plan then returns the surviving
 * partitions. Both behaviors are pinned in StoreSpec ("reader racing a
 * rollover delete").
 */
object Retention {

  /**
   * Roll windows `pwin < beforeWin` of `fineDir` into `coarseDir` at
   * `coarseStep`, then physically drop the rolled fine partitions.
   * Returns the moved window ordinals (empty = nothing to do).
   */
  def rollover(spark: SparkSession, fineDir: String, coarseDir: String,
               windowSec: Long, beforeWin: Long, coarseStep: Long): Seq[Long] = {
    // readShardedOrEmpty: a previous rollover may have moved EVERY window,
    // leaving the fine dir with no parquet files — that must read as
    // "nothing to roll", not a schema-inference error
    val old = TimePartitionedSeriesStore.readShardedOrEmpty(spark, fineDir)
      .where(col("pwin") < beforeWin)
    val moved = old.select(col("pwin").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    if (moved.isEmpty) return moved
    val rolled = Align
      .scaleToCommonStep(
        old.select(col("name"), col("tags"), col("start"), col("step"), col("values")),
        commonStep = coarseStep)
      .select(col("name"), col("tags"), col("start"), col("step"), col("values"))
    // scaleToCommonStep pads every series to the frame-wide grid; shards
    // that are ALL padding would bloat the coarse store with NaN rows.
    // DYNAMIC partition overwrite makes the move crash-idempotent: a retry
    // after a failure between this write and the delete below re-rolls the
    // same windows and REPLACES their coarse partitions instead of
    // appending duplicates (which the reader's stitch would concatenate);
    // windows from earlier rollovers are untouched.
    TimePartitionedSeriesStore.shard(rolled, windowSec)
      .where(exists(col("values"), v => !isnan(v)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pwin").parquet(coarseDir)
    // drop the rolled fine partitions — directory-level, like a
    // metastore DROP PARTITION; the fine store never rewrites live data
    // coarse catalog gains the rolled names without scanning coarse data
    // (old catalog ∪ rolled names — catalog-sized work). Names come from
    // `old`, not `rolled`: same name set, without re-running the
    // consolidation; and it MUST run before the fine-partition delete
    // below — both are lazy plans over the files about to disappear
    TimePartitionedSeriesStore.appendCatalog(spark, coarseDir,
      old.select(col("name"), col("tags")).dropDuplicates("name"))
    val root = new org.apache.hadoop.fs.Path(fineDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    moved.foreach { w => fs.delete(new org.apache.hadoop.fs.Path(root, s"pwin=$w"), true) }
    // fine catalog rebuilds from what remains (a 2-column pruned scan of
    // the small recent tier)
    TimePartitionedSeriesStore.refreshCatalog(spark, fineDir)
    moved
  }
}
