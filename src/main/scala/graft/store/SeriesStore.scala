package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Glob, SeriesFrame}

/**
 * Storage abstraction replacing the reference's zipper/backend fan-out
 * (ref zipper/protocols): a fetch returns the canonical series frame for a
 * name glob and a [from, until) range. In production this is a Parquet
 * store partitioned by time window and, optionally, by name route
 * ([[RoutedSeriesStore]]; route depth 0 is the time-only layout) —
 * partition pruning is the reference's TLD routing cache analog, SURVEY
 * §4. Every Parquet layout and the event fixture serve all three fetches
 * through one read pipeline ([[ScanStore]]): a single-pattern fetch is a
 * batch of one, like the reference's one fetch request per render.
 */
trait SeriesStore {
  def fetch(spark: SparkSession, pathExpr: String, from: Long, until: Long): DataFrame
  /** All series in range, unfiltered by name — the scan behind seriesByTag,
    * where the predicate is on tags rather than the name glob. */
  def fetchAll(spark: SparkSession, from: Long, until: Long): DataFrame
  /** Native step of this store if uniform — used by the planner to convert
    * point-count windows into scan-range widening before data is read. */
  def stepHint: Option[Long] = None
  /**
   * Distinct (name, tags) across the store — the scan behind the metadata
   * surface (/metrics/find, /metrics/expand, /tags autoComplete). Never
   * reads point data: stores override with a 2-column pruned scan (Parquet
   * column pruning skips the values arrays — the bulk of the store) or a
   * persisted catalog table, so a find over a 100 TB store touches
   * metadata-sized bytes. The TTL cache over this lives in
   * [[graft.api.Catalog]] (ref pathcache/pathcache.go:18-56).
   */
  def catalog(spark: SparkSession): DataFrame =
    fetchAll(spark, Long.MinValue / 4, Long.MaxValue / 4)
      .select(col("name"), col("tags")).dropDuplicates("name")
  /**
   * Batched multi-target fetch — every leaf pattern of a render in ONE
   * backend round-trip (the reference batches all of a request's leaves
   * into one zipper fan-out, ref expr/expr.go:36-96). The result is the
   * exact union of per-pattern [[fetch]] frames: a series matching k
   * patterns appears k times, each tagged with its `pathExpression`.
   * Default: per-pattern fetch unioned (one scan subtree per pattern);
   * a [[ScanStore]] serves it from its single OR-pruned scan — see
   * BASELINE.md "multi-target scan batching" for the measured win.
   */
  def fetchMulti(spark: SparkSession, pathExprs: Seq[String],
                 from: Long, until: Long): DataFrame = {
    require(pathExprs.nonEmpty, "fetchMulti: no patterns")
    pathExprs.distinct.map(fetch(spark, _, from, until)).reduce(_ unionByName _)
  }
}

/**
 * A fetch failure with an upstream HTTP meaning — the analog of the
 * reference's merry errors carrying HTTPCode through the zipper
 * (ref zipper/helper/errors.go:31-55). The render tier records these
 * per-target and masks or propagates them per its success policy.
 */
class StoreFetchException(val httpCode: Int, message: String)
  extends RuntimeException(message)

object SeriesStore {
  /** True when the bound is a real request bound rather than the unbounded
    * sentinel Eval uses for "whole store" evaluation. */
  def bounded(t: Long): Boolean = math.abs(t) < Long.MaxValue / 8

  /** The exact name predicate of ONE pattern: rlike for a glob, equality
    * for a plain name — composable into the OR a batched scan needs. */
  def nameMatch(nameCol: Column, pathExpr: String): Column =
    if (Glob.isGlob(pathExpr)) nameCol.rlike(Glob.toRegex(pathExpr))
    else nameCol === pathExpr

  /** Parquet-pushable prefix disjunction over every brace branch of every
    * pattern: rlike alone can't reach the scan, so each glob's literal
    * prefix pushes to the reader as StringStartsWith (row-group pruning on
    * name column stats), and `{prod,staging}.web.*` pushes as an Or of two
    * instead of losing its prefix entirely. None when any branch lacks a
    * literal prefix (a leading wildcard means full fan-out), and when no
    * pattern is a glob (the equalities push down themselves). */
  private[store] def prefixDisjunction(pathExprs: Seq[String]): Option[Column] = {
    val prefixes = pathExprs
      .flatMap(p => Glob.expandBraces(p).getOrElse(Seq(p)).map(Glob.literalPrefix))
      .distinct
    if (pathExprs.exists(Glob.isGlob) && prefixes.forall(_.nonEmpty))
      Some(prefixes.map(col("name").startsWith).reduce(_ || _))
    else None
  }

  /** Tag each series row of a batched scan with EVERY pattern it matches
    * (array-filter + explode: a series matching k patterns fans out to k
    * rows, exactly what k per-pattern fetches would return — series-count-
    * sized work, the point data is never duplicated at scan time). */
  private[store] def tagByPattern(df: DataFrame, pathExprs: Seq[String]): DataFrame = {
    val tags = array(pathExprs.map(p =>
      when(nameMatch(col("name"), p), lit(p)).otherwise(lit(null).cast("string"))): _*)
    df.withColumn("pathExpression", explode(filter(tags, x => x.isNotNull)))
  }

  /**
   * Trim every series' values array to the grid positions inside [from,
   * until), re-stamping `start` — a fetch must return the REQUESTED window,
   * not whatever the stored row spans (ref carbonzipper fetch semantics;
   * graphite-web slices at the store boundary too). Pure column math on the
   * already-pruned rows: no shuffle, stays inside codegen.
   */
  def sliceToRange(df: DataFrame, from: Long, until: Long): DataFrame = {
    if (!bounded(from) && !bounded(until)) return df
    // first kept index: ceil((from-start)/step); one-past-last: ceil((until-start)/step)
    val lo =
      if (bounded(from)) greatest(lit(0L), -floor((col("start") - lit(from)) / col("step")).cast("long"))
      else lit(0L)
    val hi =
      if (bounded(until)) least(size(col("values")).cast("long"), -floor((col("start") - lit(until)) / col("step")).cast("long"))
      else size(col("values")).cast("long")
    df.withColumn("_lo", lo).withColumn("_n", hi - col("_lo"))
      .where(col("_n") > 0)
      .withColumn("values", slice(col("values"), (col("_lo") + 1).cast("int"), col("_n").cast("int")))
      .withColumn("start", col("start") + col("_lo") * col("step"))
      .drop("_lo", "_n")
  }
}

/**
 * The one read pipeline behind every Parquet layout and the event fixture.
 * A layout supplies only its pruned `read` (a plain read, or the routed
 * store's meta check plus partition predicates); [[fetch]], [[fetchAll]]
 * and [[fetchMulti]] are then one scan: the prefix disjunction and the OR
 * of every pattern's name predicate, the overlap filter,
 * [[SeriesStore.sliceToRange]], the stitch of window shards (rows that
 * carry `pwin`), and the `pathExpression` tag — `"*"` for no pattern,
 * the literal for one, per matched pattern for several.
 */
trait ScanStore extends SeriesStore {

  /** The rows a scan of `patterns` over [from, until) reads: the layout's
    * pruning, before any name or range filter. */
  protected def read(spark: SparkSession, patterns: Seq[String], from: Long, until: Long): DataFrame

  override def fetch(spark: SparkSession, pathExpr: String, from: Long, until: Long): DataFrame =
    scan(spark, Seq(pathExpr), from, until)

  override def fetchAll(spark: SparkSession, from: Long, until: Long): DataFrame =
    scan(spark, Nil, from, until)

  /** ONE scan filtered by the OR of every pattern's predicate, one stitch
    * over the matching series (k overlapping patterns stitch a shared
    * series once, not k times), then per-pattern tagging. */
  override def fetchMulti(spark: SparkSession, pathExprs: Seq[String],
                          from: Long, until: Long): DataFrame = {
    require(pathExprs.nonEmpty, "fetchMulti: no patterns")
    scan(spark, pathExprs.distinct, from, until)
  }

  private def scan(spark: SparkSession, patterns: Seq[String], from: Long, until: Long): DataFrame = {
    val rows = read(spark, patterns, from, until)
    val named =
      if (patterns.isEmpty) rows
      else SeriesStore.prefixDisjunction(patterns).map(rows.where).getOrElse(rows)
        .where(patterns.map(SeriesStore.nameMatch(col("name"), _)).reduce(_ || _))
    // the overlap filter drops whole rows outside the request range
    // before the slice; its `start < until` half pushes to Parquet. Like
    // the slice, an unbounded side builds no predicate.
    val overlap =
      Option.when(SeriesStore.bounded(from))(col("start") + size(col("values")) * col("step") > from) ++
        Option.when(SeriesStore.bounded(until))(col("start") < until)
    val sliced = SeriesStore.sliceToRange(
      overlap.reduceOption(_ && _).map(named.where).getOrElse(named), from, until)
    // only the sharded layouts read a `pwin` column: a series may span
    // several window rows there, stitched back into one
    val series =
      if (rows.columns.contains("pwin")) TimePartitionedSeriesStore.stitch(sliced) else sliced
    patterns match {
      case Seq()  => series.withColumn("pathExpression", lit("*"))
      case Seq(p) => series.withColumn("pathExpression", lit(p))
      case _      => SeriesStore.tagByPattern(series, patterns)
    }
  }
}

/** Reads a Parquet dataset already in canonical series layout.
  * `uniformStep` declares that every series shares one step (the usual case
  * for a single retention tier) — it lets the planner skip the LCM-alignment
  * pre-scan entirely (see Eval.needAlign). */
class ParquetSeriesStore(path: String, uniformStep: Option[Long] = None) extends ScanStore {

  override def stepHint: Option[Long] = uniformStep

  override protected def read(spark: SparkSession, patterns: Seq[String],
                              from: Long, until: Long): DataFrame = spark.read.parquet(path)

  /** Persisted `_catalog` when the store was written through
    * [[ParquetSeriesStore.write]] (catalog-sized read — the pathcache
    * parity every layout now has); else the 2-column pruned scan: the
    * select precedes the distinct, so the Parquet ReadSchema is
    * (name, tags) — values arrays are never materialized. */
  override def catalog(spark: SparkSession): DataFrame =
    TimePartitionedSeriesStore.readCatalog(spark, path).getOrElse(
      spark.read.parquet(path).select(col("name"), col("tags")).dropDuplicates("name"))
}

object ParquetSeriesStore {
  /** Write canonical series rows as a flat Parquet store WITH the
    * persisted `_catalog` the partitioned/routed writers maintain — on a
    * catalog-less flat store every find/tags degrades to a (pruned) full
    * scan per TTL window; the reference's pathcache covers every backend. */
  def write(df: DataFrame, path: String): Unit = {
    df.write.mode("overwrite").parquet(path)
    TimePartitionedSeriesStore.writeCatalog(
      df.select(col("name"), col("tags")), path)
  }
}

/**
 * Series derived on the fly from the driver testdata `events` table:
 * one series per event_type, hourly buckets of sum(value), dense NaN-padded
 * arrays on the global [min,max] hour grid. Deterministic — this is the
 * fixture source for the DuckDB-oracle correctness gate (FIXTURES.md §4).
 */
class EventSeriesStore(sfDir: String, step: Long = 3600L) extends ScanStore {

  override def stepHint: Option[Long] = Some(step)

  /** Build the full canonical frame (all event types). Cached per (spark, dir). */
  def allSeries(spark: SparkSession): DataFrame = EventSeriesStore.cached(spark, sfDir, step)

  override protected def read(spark: SparkSession, patterns: Seq[String],
                              from: Long, until: Long): DataFrame = allSeries(spark)

  /** The derived frame is already cached per (spark, dir); names off it. */
  override def catalog(spark: SparkSession): DataFrame =
    allSeries(spark).select(col("name"), col("tags")).dropDuplicates("name")
}

object EventSeriesStore {
  private val cache = scala.collection.concurrent.TrieMap.empty[(String, Long), DataFrame]

  /** Owns the memoized fixture frames for the life of the process: never
    * closed, so every fetch keeps serving from memory. */
  private val memo = graft.core.Scope.open()

  def cached(spark: SparkSession, sfDir: String, step: Long): DataFrame =
    cache.getOrElseUpdate((sfDir + "@" + spark.hashCode, step), build(spark, sfDir, step))

  def build(spark: SparkSession, sfDir: String, step: Long): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    // ts arrives as TIMESTAMP, or as LongType nanos under
    // spark.sql.legacy.parquet.nanosAsLong (TIMESTAMP(NANOS) input) —
    // integer DIV keeps bucket math exact in the nanos case.
    val epochSec = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts DIV 1000000000")
      case _ => unix_timestamp(col("ts"))
    }
    val pts = ev
      .select(
        concat(lit("events."), col("event_type")).as("name"),
        (floor(epochSec / step) * step).cast("long").as("ts"),
        col("value"))
      .groupBy(col("name"), col("ts"))
      .agg(sum(col("value")).as("value"))
    // grid bounds: one tiny agg (2 longs to the driver) — cheap at any scale
    val row = pts.agg(min(col("ts")), max(col("ts"))).head()
    val t0 = row.getLong(0); val t1 = row.getLong(1)
    // Graphite-style tags per series: the bare name, the event type, and a
    // coarse "kind" (conversion vs engagement) so groupByTags/seriesByTag
    // have real multi-series groups to work with
    memo.persist(SeriesFrame.fromPoints(pts, t0, t1 + step, step)
      .withColumn("tags", map(
        lit("name"), col("name"),
        lit("type"), element_at(split(col("name"), "\\."), -1),
        lit("kind"), when(element_at(split(col("name"), "\\."), -1).isin("purchase", "signup"), "conv")
          .otherwise("eng"))))
  }
}
