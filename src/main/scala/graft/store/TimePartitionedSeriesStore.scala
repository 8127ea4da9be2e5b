package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Layout helpers of the time-partitioned Parquet stores — the 100 TB scan
 * story for the batch side, mirroring what the streaming ingest already
 * does (`streaming/Ingest.scala` partitionBy("day")). [[shard]] splits
 * every series row at `windowSec` boundaries into rows keyed by the window
 * ordinal `pwin`, so a [from, until) fetch prunes whole directories before
 * any row is read — Spark's partition pruning is the engine analog of the
 * reference's TLD path routing + time-range fetch
 * (ref pathcache/pathcache.go:18-56, SURVEY §4). [[RoutedSeriesStore]]
 * writes and reads the layout (route depth 0 is the time-only
 * `partitionBy("pwin")` one); [[Retention]] rolls its windows between
 * tiers. Reassembly ([[stitch]]) groups only the PRUNED rows — the
 * shuffle is proportional to the requested window, not the store.
 */
object TimePartitionedSeriesStore {

  /** The sharded layout's row schema (fixed, SURVEY §1.4). Every read
    * declares it: Spark then neither runs a footer-inference job per
    * read nor guesses partition types from directory names (a route dir
    * `troute=007` would otherwise read as the integer 7 and match no
    * `00*` glob). It also types an EMPTY store: a retention rollover that
    * moves every window deletes all `pwin=` partition dirs, and such a
    * store reads as an empty frame. */
  private[store] val shardedSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "name STRING, tags MAP<STRING,STRING>, start BIGINT, step BIGINT, " +
        "values ARRAY<DOUBLE>, pwin BIGINT")

  /** Read the sharded dir with the layout's declared `schema`, or an
    * empty frame of it when no partition dir exists (fresh store, or a
    * fully-rolled fine tier). The partition check is any `col=` subdir,
    * covering both the depth-0 `pwin=` layout and the `troute=`/`pwin=`
    * one. Files are still listed on every call, so windows and routes
    * written since the last read are visible without a remount. */
  private[store] def readShardedOrEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType = shardedSchema): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasShards = fs.exists(root) &&
      fs.listStatus(root).exists(st => st.isDirectory && st.getPath.getName.contains("="))
    if (hasShards) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  // ---- persisted name/tag catalog -----------------------------------------
  // The `_catalog` table under the store root (underscore-prefixed, so the
  // data reader never lists it as a partition) holds distinct (name, tags).
  // It is the reference's pathcache content made durable: find/expand/tags
  // read IT instead of scanning the store (pathcache/pathcache.go:18-56 —
  // the path→backend index that answers finds without fanning out).

  private[store] def catalogPath(path: String) = s"$path/_catalog"

  /** The persisted catalog, if this store dir has one. */
  private[store] def readCatalog(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(catalogPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet")))
      Some(spark.read.parquet(catalogPath(path)))
    else None
  }

  /** (Re)write the catalog from a names frame. Writes to a temp dir and
    * renames into place, so a concurrent reader sees the old catalog or the
    * new one, never a half-written dir — and so the input may itself be the
    * old catalog (union-append), which an in-place overwrite would corrupt.
    * The old catalog is renamed ASIDE (not deleted) before the swap and
    * every rename result is checked: a failed swap restores the old
    * catalog and throws, so the store never silently loses its catalog
    * (a missing `_catalog` would downgrade every find to a full scan). */
  private[store] def writeCatalog(names: DataFrame, path: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(catalogPath(path))
    val tmp = new org.apache.hadoop.fs.Path(s"$path/_catalog_tmp")
    names.select(col("name"), col("tags")).dropDuplicates("name")
      .coalesce(1) // catalog-sized output: one file per store
      .write.mode("overwrite").parquet(tmp.toString)
    val fs = dst.getFileSystem(names.sparkSession.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(s"$path/_catalog_old")
    fs.delete(old, true)
    if (fs.exists(dst) && !fs.rename(dst, old))
      throw new java.io.IOException(s"writeCatalog: could not move aside $dst")
    if (!fs.rename(tmp, dst)) {
      if (fs.exists(old)) fs.rename(old, dst) // best-effort restore
      throw new java.io.IOException(s"writeCatalog: rename $tmp -> $dst failed")
    }
    fs.delete(old, true)
  }

  /** Add names to the catalog without scanning the store: old catalog ∪
    * batch, catalog-sized work. Creates the catalog if absent. */
  private[store] def appendCatalog(spark: SparkSession, path: String, names: DataFrame): Unit = {
    val add = names.select(col("name"), col("tags"))
    writeCatalog(readCatalog(spark, path).map(_.unionByName(add)).getOrElse(add), path)
  }

  /** Rebuild the catalog from the store's current data (2-column pruned
    * scan) — the post-delete refresh a rollover uses on the fine tier. */
  private[store] def refreshCatalog(spark: SparkSession, path: String): Unit =
    writeCatalog(readShardedOrEmpty(spark, path).select(col("name"), col("tags")), path)

  // ---- persisted layout metadata ------------------------------------------
  // `_store_meta` pins the layout parameters the reader MUST agree on:
  // a RoutedSeriesStore opened with a different routeDepth than the writer
  // used would build troute predicates against differently-shaped partition
  // values and return silently EMPTY fetches; a windowSec mismatch prunes
  // the wrong pwin dirs the same way. Readers validate once per instance
  // and fail fast on mismatch. An absent file (hand-built or pre-r9
  // layout, or a Retention coarse tier) validates trivially; a time-only
  // store written before route depth 0 was recorded (`layout=time`, no
  // `routeDepth` key) validates as depth 0.

  private[store] def metaPath(path: String) = s"$path/_store_meta"

  private[store] def writeMeta(spark: SparkSession, path: String,
      kv: Map[String, String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(metaPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(kv.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[store] def readMeta(spark: SparkSession, path: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(metaPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(_.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _           => None
        }).toMap
      finally in.close()
    }
  }

  /** Throw unless every expected layout parameter matches the persisted
    * metadata (missing keys/file pass, `layout=time` is depth 0 — see
    * above). */
  private[store] def validateMeta(spark: SparkSession, path: String,
      expect: Map[String, String]): Unit = {
    val persisted = readMeta(spark, path)
    val meta =
      if (persisted.get("layout").contains("time")) Map("routeDepth" -> "0") ++ persisted
      else persisted
    for ((k, v) <- expect; got <- meta.get(k) if got != v)
      throw new IllegalStateException(
        s"store layout mismatch at $path: reader expects $k=$v but the " +
          s"writer persisted $k=$got — open the store with the writer's value")
  }

  /** Exact floor-division window ordinal in INTEGER column math — the
    * double-precision floor(col/w) rounds for |t| beyond 2⁵³ and could
    * disagree with the reader's Math.floorDiv by ±1 window; (t - pmod) is
    * an exact multiple of w and SQL `div` is integral, so no double ever
    * enters. */
  private def winOf(t: Column, windowSec: Long): Column =
    call_function("div", t - pmod(t, lit(windowSec)), lit(windowSec))

  /**
   * Split canonical series rows at `windowSec` boundaries, tagging each
   * shard with its window ordinal `pwin = floor(t / windowSec)`. Each
   * shard keeps the canonical row shape (name, tags, start, step, values)
   * so readers slice with the same index math as the flat store. The
   * per-row explode is map-side; the writer's `partitionBy` is the only
   * data movement.
   */
  def shard(df: DataFrame, windowSec: Long): DataFrame = {
    val w = lit(windowSec)
    df
      .withColumn("_end", col("start") + size(col("values")).cast("long") * col("step"))
      .withColumn("pwin",
        explode(sequence(winOf(col("start"), windowSec),
          winOf(col("_end") - 1L, windowSec))))
      // grid indices of this window's slice: lo = ceil((winStart-start)/step)
      // clamped to [0, n]; hi = ceil((winEnd-start)/step) clamped likewise
      .withColumn("_ws", col("pwin") * w)
      .withColumn("_lo", greatest(lit(0L),
        -floor((col("start") - col("_ws")) / col("step")).cast("long")))
      .withColumn("_hi", least(size(col("values")).cast("long"),
        -floor((col("start") - (col("_ws") + w)) / col("step")).cast("long")))
      .where(col("_hi") > col("_lo"))
      .withColumn("values",
        slice(col("values"), (col("_lo") + 1).cast("int"), (col("_hi") - col("_lo")).cast("int")))
      .withColumn("start", col("start") + col("_lo") * col("step"))
      .drop("_end", "_ws", "_lo", "_hi")
  }

  /**
   * Reassemble window shards into one row per series: sort shards by
   * start, concatenate values, NaN-fill any whole-window gap between
   * shards. Runs AFTER partition pruning + range slicing, so the groupBy
   * shuffles only the rows of the requested window. Pure HOF column math
   * per group — no UDF, no collect.
   */
  private[store] def stitch(shards: DataFrame): DataFrame = {
    val acc0: Column = struct(
      lit(null).cast("long").as("end"),
      lit(Array.empty[Double]).as("vals"))
    shards
      .groupBy(col("name"))
      .agg(
        first(col("tags")).as("tags"),
        first(col("step")).as("step"),
        min(col("start")).as("start"),
        array_sort(collect_list(struct(col("start").as("s"), col("values").as("v")))).as("_shards"))
      .withColumn("values",
        aggregate(
          col("_shards"),
          acc0,
          (acc, sh) => struct(
            (sh("s") + size(sh("v")).cast("long") * col("step")).as("end"),
            concat(
              acc("vals"),
              when(acc("end").isNull, lit(Array.empty[Double]))
                .otherwise(array_repeat(lit(Double.NaN),
                  ((sh("s") - acc("end")) / col("step")).cast("int"))),
              sh("v")).as("vals")),
          acc => acc("vals")))
      .drop("_shards")
      .select(col("name"), col("tags"), col("start"), col("step"), col("values"))
  }
}
