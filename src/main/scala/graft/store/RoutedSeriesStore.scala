package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Glob

/**
 * Name-routed + time-partitioned Parquet series store — the complete
 * analog of the reference's pathcache TLD routing
 * (ref pathcache/pathcache.go:18-56: requests are routed to the backend
 * subset whose known top-level name prefixes can match the query) plus
 * its time-range fetch: the layout partitions by `troute` (the first
 * `routeDepth` dot-segments of the series name) and `pwin` (the
 * [[TimePartitionedSeriesStore]] window ordinal), so a fetch for
 * `web.host-1.cpu.*` over the last hour touches exactly the `web…`
 * route dirs of the requested windows and never lists, let alone reads,
 * the rest of a 100 TB store.
 *
 * Route pruning from the glob: the glob's literal prefix `p` (chars
 * before the first wildcard) constrains the route partition —
 *  - `p` spans ≥ routeDepth complete segments → equality on the exact
 *    route value (one directory);
 *  - shorter `p` → `troute startsWith p`, valid because the route is the
 *    name cut at a segment boundary at or beyond `p`'s end for every
 *    name the glob can match;
 *  - no literal prefix → no route filter (full fan-out, like the
 *    reference broadcasting to all backends when the cache has no entry).
 * Both predicates are partition filters: Spark evaluates them against
 * directory values at planning time.
 *
 * Reads reuse the sharded stitch (prune → slice → reassemble), so the
 * layout is read-invisible: fetch returns the same canonical frame as a
 * flat [[ParquetSeriesStore]] over the same rows.
 */
class RoutedSeriesStore(
    path: String,
    windowSec: Long,
    routeDepth: Int = 1,
    uniformStep: Option[Long] = None) extends SeriesStore {
  require(routeDepth >= 1, "routeDepth must be >= 1")

  override def stepHint: Option[Long] = uniformStep

  // fail fast when the writer persisted a different routeDepth/windowSec:
  // mismatched troute shapes would make every route predicate silently
  // select nothing (ADVICE r8)
  @volatile private var metaChecked = false

  private def pruned(spark: SparkSession, pathExpr: Option[String],
                     from: Long, until: Long): DataFrame =
    prunedBy(spark,
      pathExpr.flatMap(RoutedSeriesStore.routePredicate(_, routeDepth)), from, until)

  /** Time-pruned scan with an explicit (possibly multi-pattern) route
    * predicate — None = full route fan-out. */
  private def prunedBy(spark: SparkSession, route: Option[Column],
                       from: Long, until: Long): DataFrame = {
    if (!metaChecked) {
      TimePartitionedSeriesStore.validateMeta(spark, path,
        Map("routeDepth" -> routeDepth.toString, "windowSec" -> windowSec.toString))
      metaChecked = true
    }
    val df = TimePartitionedSeriesStore.readShardedOrEmpty(
      spark, path, RoutedSeriesStore.routedSchema)
    val lo = if (SeriesStore.bounded(from)) Some(Math.floorDiv(from, windowSec)) else None
    val hi = if (SeriesStore.bounded(until)) Some(Math.floorDiv(until - 1L, windowSec)) else None
    val timed = (lo, hi) match {
      case (Some(l), Some(h)) => df.where(col("pwin") >= l && col("pwin") <= h)
      case (Some(l), None)    => df.where(col("pwin") >= l)
      case (None, Some(h))    => df.where(col("pwin") <= h)
      case _                  => df
    }
    route.map(timed.where).getOrElse(timed)
  }

  override def fetch(spark: SparkSession, pathExpr: String, from: Long, until: Long): DataFrame = {
    val named = SeriesStore.nameFilter(pruned(spark, Some(pathExpr), from, until), pathExpr)
    TimePartitionedSeriesStore.stitch(
      SeriesStore.sliceToRange(
        named.where(col("start") + size(col("values")) * col("step") > from && col("start") < until),
        from, until).drop("troute"))
      .withColumn("pathExpression", lit(pathExpr))
  }

  override def fetchAll(spark: SparkSession, from: Long, until: Long): DataFrame =
    TimePartitionedSeriesStore.stitch(
      SeriesStore.sliceToRange(
        pruned(spark, None, from, until)
          .where(col("start") + size(col("values")) * col("step") > from && col("start") < until),
        from, until).drop("troute"))
      .withColumn("pathExpression", lit("*"))

  /** Batched: one scan pruned to the UNION of every pattern's route dirs
    * (any pattern without a literal route prefix = full fan-out, like the
    * reference broadcasting an uncached query to all backends), the OR of
    * the per-pattern name predicates, one stitch, per-pattern tagging. */
  override def fetchMulti(spark: SparkSession, pathExprs0: Seq[String],
                          from: Long, until: Long): DataFrame = {
    require(pathExprs0.nonEmpty, "fetchMulti: no patterns")
    val pathExprs = pathExprs0.distinct
    if (pathExprs.size == 1) return fetch(spark, pathExprs.head, from, until)
    val preds = pathExprs.map(RoutedSeriesStore.routePredicate(_, routeDepth))
    val route = if (preds.forall(_.isDefined)) Some(preds.flatten.reduce(_ || _)) else None
    val base = prunedBy(spark, route, from, until)
    val pre = SeriesStore.prefixDisjunction(pathExprs).map(base.where).getOrElse(base)
    val named = pre.where(
      pathExprs.map(p => SeriesStore.nameMatch(col("name"), p)).reduce(_ || _))
    SeriesStore.tagByPattern(
      TimePartitionedSeriesStore.stitch(
        SeriesStore.sliceToRange(
          named.where(col("start") + size(col("values")) * col("step") > from && col("start") < until),
          from, until).drop("troute")),
      pathExprs)
  }

  /** Persisted `_catalog` when present, else the 2-column pruned scan. */
  override def catalog(spark: SparkSession): DataFrame =
    TimePartitionedSeriesStore.readCatalog(spark, path).getOrElse(
      TimePartitionedSeriesStore.readShardedOrEmpty(spark, path, RoutedSeriesStore.routedSchema)
        .select(col("name"), col("tags")).dropDuplicates("name"))
}

object RoutedSeriesStore {

  /** The routed layout's row schema, declared on every read like
    * [[TimePartitionedSeriesStore.shardedSchema]]: `troute` stays the
    * STRING the writer cut from the name, even when it is all digits. */
  private[store] val routedSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "name STRING, tags MAP<STRING,STRING>, start BIGINT, step BIGINT, " +
        "values ARRAY<DOUBLE>, troute STRING, pwin BIGINT")

  /** The route key of a name: its first `depth` dot-segments (the whole
    * name when it has fewer). Matches the reference's TLD key at depth 1
    * (ref pathcache/pathcache.go:34-41 cuts at the first dot). */
  private[store] def routeOf(name: Column, depth: Int): Column =
    array_join(slice(split(name, "\\."), 1, depth), ".")

  /** Partition predicate on `troute` implied by the glob — see class doc.
    * Brace alternations expand into per-branch predicates first
    * (`{prod,staging}.web.*` → `troute IN (prod, staging)`), so the most
    * common multi-env query shape prunes to its branch directories
    * instead of fanning out; any branch without a literal prefix — or an
    * over-cap expansion — degrades to full fan-out, matching the
    * reference broadcasting when the pathcache cannot constrain. */
  private[store] def routePredicate(pathExpr: String, depth: Int): Option[Column] = {
    val branches = Glob.expandBraces(pathExpr).getOrElse(Seq(pathExpr))
    val keys = branches.map(branchRouteKey(_, depth))
    if (keys.exists(_.isEmpty)) None
    else {
      val ks = keys.flatten.distinct
      val exact = ks.collect { case Left(r) => r }
      val prefixes = ks.collect { case Right(p) => p }
      val eqPred =
        if (exact.isEmpty) None
        else if (exact.size == 1) Some(col("troute") === exact.head)
        else Some(col("troute").isin(exact: _*))
      val prePred = prefixes.map(p => col("troute").startsWith(p)).reduceOption(_ || _)
      (eqPred.toSeq ++ prePred.toSeq).reduceOption(_ || _)
    }
  }

  /** One brace-free branch's route key: Left(exact route) when the
    * branch's literal prefix spans >= depth complete segments,
    * Right(prefix) for a shorter partial prefix, None when the branch
    * has no literal prefix at all. */
  private def branchRouteKey(branch: String, depth: Int): Option[Either[String, String]] = {
    val p = Glob.literalPrefix(branch)
    if (p.isEmpty) None
    else {
      // complete segments of the literal prefix: pieces before each dot;
      // a non-glob branch is all complete segments (it IS the full name)
      val segs =
        if (!Glob.isGlob(branch)) branch.split("\\.", -1).toSeq
        else p.split("\\.", -1).dropRight(1).toSeq // last piece is partial
      if (segs.length >= depth) Some(Left(segs.take(depth).mkString(".")))
      else Some(Right(p))
    }
  }

  /** Shard at window boundaries, key each shard by its name route, and
    * write partitioned by (troute, pwin). Map-side except the writer's
    * own partitioning — identical cost shape to the unrouted layout. */
  def write(df: DataFrame, path: String, windowSec: Long, routeDepth: Int = 1): Unit = {
    TimePartitionedSeriesStore.shard(df, windowSec)
      .withColumn("troute", routeOf(col("name"), routeDepth))
      .write.mode("overwrite").partitionBy("troute", "pwin").parquet(path)
    TimePartitionedSeriesStore.writeCatalog(df.select(col("name"), col("tags")), path)
    TimePartitionedSeriesStore.writeMeta(df.sparkSession, path,
      Map("layout" -> "routed", "windowSec" -> windowSec.toString,
        "routeDepth" -> routeDepth.toString))
  }
}
