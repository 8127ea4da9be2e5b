package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Canonical series relation. One row = one named, regularly-sampled dense
 * time series (ref MetricData, /root/reference/expr/types/types.go:28-37):
 *
 *   name    STRING              -- metric path, may carry ";tag=v" suffixes
 *   tags    MAP<STRING,STRING>  -- always includes "name"
 *   start   BIGINT              -- epoch seconds of values(0)
 *   step    BIGINT              -- seconds between points
 *   values  ARRAY<DOUBLE>       -- NaN = missing point
 *
 * Keeping the vector dense per row mirrors the reference's `[]float64` model:
 * every sequential algorithm (EMA, Holt-Winters, fill) is a local loop on one
 * executor, and cross-series aggregation shuffles ONE array per series
 * instead of one row per point.
 */
case class Series(
    name: String,
    tags: Map[String, String],
    start: Long,
    step: Long,
    values: Array[Double]) {
  def stop: Long = start + values.length * step
}

object SeriesFrame {
  val schema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("start", LongType),
    StructField("step", LongType),
    StructField("values", ArrayType(DoubleType))))

  /** Parse Graphite-style "path;tag1=v1;tag2=v2" into (bare name, tags map
    * incl. "name"). (ref expr/tags/helper.go:157-204) */
  def extractTags(full: String): (String, Map[String, String]) = {
    val parts = full.split(";")
    val bare = parts(0)
    val tags = parts.drop(1).iterator.flatMap { kv =>
      val eq = kv.indexOf('=')
      if (eq <= 0) None else Some(kv.substring(0, eq) -> kv.substring(eq + 1))
    }.toMap + ("name" -> bare)
    (bare, tags)
  }

  /** Exploded long view: (name, ts, value). NaN points retained when
    * keepNaN, else filtered. Derived lazily — only operators that need
    * cross-series point-wise grouping pay for the explode.
    *
    * The NaN-dropping view explodes with `posexplode_outer`: its null row
    * for an empty array fails the NaN filter like any dropped point, and
    * an outer explode gives Catalyst no inferred `size(values) > 0`
    * filter to push below the input's projections, where it would
    * recompute the expression behind `values` (a store stitch, a
    * per-element percentile) once more per series. */
  def toPoints(df: DataFrame, keepNaN: Boolean = false): DataFrame = {
    val explode = if (keepNaN) posexplode(col("values")) else posexplode_outer(col("values"))
    val exploded = df
      .select(col("name"), col("tags"), col("start"), col("step"), explode.as(Seq("pos", "value")))
      .withColumn("ts", col("start") + col("pos") * col("step"))
      .select(col("name"), col("tags"), col("ts"), col("step"), col("value"))
    if (keepNaN) exploded else exploded.where(!isnan(col("value")))
  }

  /**
   * Assemble a dense canonical frame from a long (name, ts, value) frame.
   * All series share the provided [start, stop) grid with the given step;
   * missing buckets become NaN. The per-series map stays bounded because a
   * production store is time-partitioned (one row per series per window).
   */
  def fromPoints(points: DataFrame, start: Long, stopExclusive: Long, step: Long): DataFrame = {
    val grid = sequence(lit(start), lit(stopExclusive - step), lit(step))
    points
      .groupBy(col("name"))
      .agg(map_from_entries(collect_list(struct(col("ts"), col("value")))).as("m"))
      .select(
        col("name"),
        map(lit("name"), col("name")).as("tags"),
        lit(start).as("start"),
        lit(step).as("step"),
        transform(grid, t => coalesce(element_at(col("m"), t), lit(Double.NaN))).as("values"))
  }

  /** Rewrite name to `fn(name[,args])` and record the function tag — the
    * naming discipline every Graphite function follows
    * (ref expr/helper/helper.go:128-145). */
  def rewrap(df: DataFrame, fn: String, extraArgs: Seq[String] = Nil, tagValue: Option[String] = None): DataFrame = {
    val suffix = if (extraArgs.isEmpty) "" else extraArgs.mkString(",", ",", "")
    val newName = concat(lit(fn + "("), col("name"), lit(suffix + ")"))
    df.withColumn("name", newName)
      .withColumn("tags", map_concat(
        map_filter(col("tags"), (k, _) => k =!= lit(fn)),
        map(lit(fn), lit(tagValue.getOrElse("1")))))
  }

  /** UDF helper: apply a pure vector transform to the values column. */
  def mapVec(df: DataFrame, f: Array[Double] => Array[Double]): DataFrame = {
    val u = udf((v: Seq[Double]) => f(v.toArray))
    df.withColumn("values", u(col("values")))
  }

  /** Scalar-per-series column from a pure kernel (for filters/sorts). */
  def vecScalar(f: Array[Double] => Double): Column => Column = {
    val u = udf((v: Seq[Double]) => f(v.toArray))
    c => u(c)
  }

  /** Each series' own xFilesFactor (the setXFilesFactor tag), 0 when unset —
    * the reference's per-series `a.XFilesFactor` default. */
  def xffTag: Column =
    coalesce(element_at(col("tags"), "xFilesFactor").cast("double"), lit(0.0))
}
