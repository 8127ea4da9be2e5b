package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Glob

/**
 * Name-routed + time-partitioned Parquet series store — the complete
 * analog of the reference's pathcache TLD routing
 * (ref pathcache/pathcache.go:18-56: requests are routed to the backend
 * subset whose known top-level name prefixes can match the query) plus
 * its time-range fetch: every series row is sharded at `windowSec`
 * boundaries ([[TimePartitionedSeriesStore.shard]]) and the layout
 * partitions by `troute` (the first `routeDepth` dot-segments of the
 * series name) and `pwin` (the window ordinal), so a fetch for
 * `web.host-1.cpu.*` over the last hour touches exactly the `web…` route
 * dirs of the requested windows and never lists, let alone reads, the
 * rest of a 100 TB store. Route depth 0 is the time-only layout: no
 * `troute` partition, no route predicate, only the window pruning.
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
 * Reads go through the one [[ScanStore]] pipeline (prune → name filter →
 * slice → stitch the window shards back into one row per series), so the
 * layout is read-invisible: fetch returns the same canonical frame as a
 * flat [[ParquetSeriesStore]] over the same rows. Missing middle shards
 * (a series with no row in some window) NaN-fill.
 */
class RoutedSeriesStore(
    path: String,
    windowSec: Long,
    routeDepth: Int = 1,
    uniformStep: Option[Long] = None) extends ScanStore {
  require(routeDepth >= 0, "routeDepth must be >= 0")

  override def stepHint: Option[Long] = uniformStep

  private val schema =
    if (routeDepth == 0) TimePartitionedSeriesStore.shardedSchema
    else RoutedSeriesStore.routedSchema

  // fail fast when the writer persisted a different routeDepth/windowSec:
  // mismatched troute shapes would make every route predicate silently
  // select nothing, a wrong window prunes the wrong pwin dirs (ADVICE r8)
  @volatile private var metaChecked = false

  /** The pwin range of [from, until) plus the UNION of every pattern's
    * route dirs — any pattern without a literal route prefix, or no
    * pattern at all, is full route fan-out. */
  override protected def read(spark: SparkSession, patterns: Seq[String],
                              from: Long, until: Long): DataFrame = {
    if (!metaChecked) {
      TimePartitionedSeriesStore.validateMeta(spark, path,
        Map("routeDepth" -> routeDepth.toString, "windowSec" -> windowSec.toString))
      metaChecked = true
    }
    val df = TimePartitionedSeriesStore.readShardedOrEmpty(spark, path, schema)
    // partition predicate from the request range: floorDiv keeps negative
    // timestamps on the correct window (SQL DIV is floor division too)
    val window = Seq(
      if (SeriesStore.bounded(from)) Some(col("pwin") >= Math.floorDiv(from, windowSec)) else None,
      if (SeriesStore.bounded(until)) Some(col("pwin") <= Math.floorDiv(until - 1L, windowSec)) else None
    ).flatten.reduceOption(_ && _)
    val route =
      if (routeDepth == 0) None
      else {
        val routes = patterns.map(RoutedSeriesStore.routePredicate(_, routeDepth))
        if (routes.isEmpty || routes.exists(_.isEmpty)) None
        else Some(routes.flatten.reduce(_ || _))
      }
    (window.toSeq ++ route).foldLeft(df)(_ where _)
  }

  /** Persisted `_catalog` when present, else the 2-column pruned scan. */
  override def catalog(spark: SparkSession): DataFrame =
    TimePartitionedSeriesStore.readCatalog(spark, path).getOrElse(
      TimePartitionedSeriesStore.readShardedOrEmpty(spark, path, schema)
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
    * write partitioned by (troute, pwin) — by pwin alone at depth 0.
    * Map-side except the writer's own partitioning. */
  def write(df: DataFrame, path: String, windowSec: Long, routeDepth: Int = 1): Unit = {
    require(routeDepth >= 0, "routeDepth must be >= 0")
    val shards = TimePartitionedSeriesStore.shard(df, windowSec)
    if (routeDepth == 0) shards.write.mode("overwrite").partitionBy("pwin").parquet(path)
    else shards.withColumn("troute", routeOf(col("name"), routeDepth))
      .write.mode("overwrite").partitionBy("troute", "pwin").parquet(path)
    TimePartitionedSeriesStore.writeCatalog(df.select(col("name"), col("tags")), path)
    TimePartitionedSeriesStore.writeMeta(df.sparkSession, path,
      Map("layout" -> "routed", "windowSec" -> windowSec.toString,
        "routeDepth" -> routeDepth.toString))
  }
}
