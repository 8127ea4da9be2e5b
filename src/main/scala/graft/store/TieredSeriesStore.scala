package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Align

/**
 * Mixed-retention-tier composition — the reference's multi-backend zipper
 * merge for the common production layout of a fine recent tier plus
 * coarse history tiers (ref zipper merge semantics + helper
 * ScaleToCommonStep, expr/helper/align.go:39-156): fetch every tier,
 * rebucket the union onto the common (LCM) step with each series' own
 * consolidation — so a 60 s recent tier consolidates onto a 3600 s
 * history grid exactly like the ScaleToCommonStep tables — then merge
 * same-name rows slot-by-slot, earlier-listed tiers winning where both
 * have data (list the recent/authoritative tier first, matching the
 * zipper's first-non-null backend merge).
 *
 * Scale shape: each tier prunes/pushes down independently (compose with
 * a depth-0 [[RoutedSeriesStore]] for the history tiers); the align stats
 * are two broadcast one-row aggregates and the merge groups only the
 * fetched rows — per-request data, not store-sized.
 */
class TieredSeriesStore(tiers: Seq[SeriesStore]) extends SeriesStore {
  require(tiers.nonEmpty, "TieredSeriesStore needs at least one tier")

  /** Uniform only when every tier declares the SAME step — otherwise the
    * planner must treat the store as mixed-step (alignment gated on the
    * fetched metadata, as for any non-uniform store). */
  override def stepHint: Option[Long] = {
    val hints = tiers.map(_.stepHint)
    if (hints.forall(_.isDefined) && hints.flatten.distinct.size == 1) hints.head else None
  }

  override def fetch(spark: SparkSession, pathExpr: String, from: Long, until: Long): DataFrame =
    merge(tiers.map(_.fetch(spark, pathExpr, from, until)))

  override def fetchAll(spark: SparkSession, from: Long, until: Long): DataFrame =
    merge(tiers.map(_.fetchAll(spark, from, until)))

  /** Union of the tiers' catalogs — a name exists in the metric tree if it
    * exists in ANY tier (a fully-rolled fine tier contributes nothing; the
    * coarse tier still answers for its names). */
  override def catalog(spark: SparkSession): DataFrame =
    tiers.map(_.catalog(spark)).reduce(_ unionByName _).dropDuplicates("name")

  /** Union tier frames (tier-indexed), align to the common grid, and
    * coalesce same-name rows: per slot, the first tier with a non-NaN
    * value wins. Pure HOF column math after a name-keyed group of the
    * request-sized frame — no UDF in the merge, no driver collect. */
  private def merge(frames: Seq[DataFrame]): DataFrame = {
    val tagged = frames.zipWithIndex
      .map { case (df, i) => df.withColumn("_tier", lit(i)) }
      .reduce(_ unionByName _)
    val aligned = Align.scaleToCommonStep(tagged)
    aligned
      .groupBy(col("name"))
      .agg(
        first(col("start")).as("start"),
        first(col("step")).as("step"),
        // comparator form: the struct carries a map (tags), which has no
        // natural ordering — sort on the tier index alone
        array_sort(collect_list(struct(
            col("_tier"), col("values").as("v"), col("tags").as("t"),
            col("pathExpression").as("p"))),
          (l, r) => when(l("_tier") < r("_tier"), -1)
            .when(l("_tier") > r("_tier"), 1).otherwise(0)).as("_byTier"))
      .withColumn("tags", element_at(col("_byTier"), 1)("t"))
      .withColumn("pathExpression", element_at(col("_byTier"), 1)("p"))
      .withColumn("values",
        aggregate(col("_byTier"),
          element_at(col("_byTier"), 1)("v"),
          (acc, e) => zip_with(acc, e("v"),
            (a, b) => when(isnan(a) || a.isNull, b).otherwise(a))))
      .select(col("name"), col("tags"), col("start"), col("step"),
        col("values"), col("pathExpression"))
  }
}
