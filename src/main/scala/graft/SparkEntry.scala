package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: full parser → compiler →
    * store → vector-agg → moving-window pipeline; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val store = new graft.store.EventSeriesStore("/root/testdata/sf0.001")
    val df = graft.engine.Eval.evalTarget(spark, store, "movingAverage(sumSeries(events.*),6)")
    graft.core.SeriesFrame.toPoints(df).select(col("name"), col("ts"), col("value"))
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ pipeline ops). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracleSql

  /** Whether `SPARK_GRAFT_ONLY` (comma-separated name prefixes; unset =
    * every row) selects catalog row `name` — the local-iteration subset of
    * Verify, Bench, PlanDump and ScaleBench. */
  def selected(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty))
      .forall(_.exists(name.startsWith))
}
