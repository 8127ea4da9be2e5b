package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Glob, Scope}
import graft.store.SeriesStore

/** One /metrics/find result node. (ref find_handlers.go treejson shaping) */
case class FindNode(id: String, text: String, leaf: Boolean, allowChildren: Boolean)

/**
 * The metadata surface: /metrics/find, /metrics/expand, /tags autocomplete.
 * All are queries against the store's (name, tags) CATALOG — a persisted
 * `_catalog` table or 2-column pruned scan ([[SeriesStore.catalog]]), held
 * here in a TTL cache, so a find over a 100 TB store reads metadata-sized
 * bytes and repeat finds within the TTL read nothing at all (the
 * reference's pathcache, pathcache/pathcache.go:18-56). The hierarchy
 * derivation (child truncation at the query's depth, leaf flags) runs as
 * column expressions before the collect, so only result nodes reach the
 * driver. (ref cmd/carbonapi/http/find_handlers.go:120-373,
 * tags_handler.go:22-128)
 */
object Catalog {

  /**
   * TTL for the per-store cached catalog frame — the reference's pathcache
   * expiry (ref pathcache/pathcache.go:18-28 `expireDelaySec`, example
   * config value 10 s): within the TTL every find/expand/tags request for
   * the same store reuses one persisted (name, tags) frame; after it, the
   * next request re-reads the store's catalog (persisted `_catalog` table
   * or 2-column pruned scan) and sees new names.
   */
  @volatile var ttlSeconds: Long = 10L

  /** One TTL entry; its scope owns the persisted frame and expiry closes
    * it. */
  private case class CatEntry(scope: Scope, df: DataFrame, builtNanos: Long, ttlNanos: Long)
  private val catCache =
    scala.collection.concurrent.TrieMap.empty[(SeriesStore, Int), CatEntry]

  /** The store's (name, tags) catalog through the TTL cache. Persisted so
    * the several actions of one find request (and every request within the
    * TTL) scan the store at most once. The TTL is PER CALL (each HttpApi
    * passes its own `expireDelaySec`), recorded on the entry it builds —
    * two servers over different stores in one JVM each get their
    * configured expiry instead of the last-constructed server's
    * overriding both (ADVICE r8). */
  def cachedCatalog(spark: SparkSession, store: SeriesStore,
                    ttlSec: Long = ttlSeconds): DataFrame = synchronized {
    val key = (store, spark.hashCode)
    val now = System.nanoTime()
    // opportunistic expiry sweep on every access: expired entries nobody
    // re-requests (dead stores, one-off fixtures) must not pin their
    // persisted blocks forever — the reference runs an ApproximateCleaner
    // for exactly this (ref pathcache/pathcache.go:25). Each entry expires
    // on the TTL it was built with.
    catCache.foreach { case (k, e) =>
      if (now - e.builtNanos >= e.ttlNanos) { e.scope.close(); catCache.remove(k) }
    }
    catCache.get(key) match {
      // a surviving entry must ALSO satisfy the caller's own freshness
      // bound: a server configured with a shorter expiry sharing a store
      // with a longer-TTL one still sees data no staler than ITS TTL
      case Some(e) if now - e.builtNanos < ttlSec * 1000000000L => e.df
      case stale =>
        stale.foreach { e => e.scope.close(); catCache.remove(key) }
        val scope = Scope.open()
        val fresh = scope.persist(store.catalog(spark))
        catCache.put(key, CatEntry(scope, fresh, now, ttlSec * 1000000000L))
        fresh
    }
  }

  /** Drop every cached catalog (tests; or after an out-of-band store write
    * the caller wants visible before the TTL lapses). */
  def invalidateCatalogCache(): Unit = synchronized {
    catCache.values.foreach(_.scope.close())
    catCache.clear()
  }

  private def names(spark: SparkSession, store: SeriesStore,
                    ttlSec: Long): DataFrame =
    cachedCatalog(spark, store, ttlSec).select(col("name")).distinct()

  /**
   * /metrics/find?query=GLOB: nodes at the query's depth. A node is a leaf
   * if a series ends exactly there, and allowChildren if deeper series
   * exist under it (both can hold — e.g. `a.b` and `a.b.c` both stored).
   */
  def find(spark: SparkSession, store: SeriesStore, query: String,
           ttlSec: Long = ttlSeconds): Seq[FindNode] = {
    val depth = query.count(_ == '.') + 1
    val all = names(spark, store, ttlSec)
    val matched = all
      .withColumn("prefix", concat_ws(".", slice(split(col("name"), "\\."), 1, depth)))
      .where(if (Glob.isGlob(query)) col("prefix").rlike(Glob.toRegex(query))
             else col("prefix") === query)
      .groupBy(col("prefix"))
      .agg(
        max(when(size(split(col("name"), "\\.")) === depth, 1).otherwise(0)).as("leaf"),
        max(when(size(split(col("name"), "\\.")) > depth, 1).otherwise(0)).as("children"))
      .orderBy(col("prefix"))
    matched.collect().toSeq.map { r =>
      val p = r.getString(0)
      FindNode(p, p.split('.').last, r.getInt(1) == 1, r.getInt(2) == 1)
    }
  }

  /** /metrics/expand?query=GLOB: all node paths matching the glob at its
    * own depth (no leaf shaping). */
  def expand(spark: SparkSession, store: SeriesStore, query: String,
             ttlSec: Long = ttlSeconds): Seq[String] = {
    val depth = query.count(_ == '.') + 1
    names(spark, store, ttlSec)
      .withColumn("prefix", concat_ws(".", slice(split(col("name"), "\\."), 1, depth)))
      .where(if (Glob.isGlob(query)) col("prefix").rlike(Glob.toRegex(query))
             else col("prefix") === query)
      .select(col("prefix")).distinct().orderBy(col("prefix"))
      .collect().toSeq.map(_.getString(0))
  }

  /** One parsed `expr=` tag filter: tag=value, tag!=value, tag=~re,
    * tag!=~re — the graphite tag-query operators (ref tags_handler.go and
    * graphite-web's /tags/autoComplete API). */
  private def exprPredicate(e: String): org.apache.spark.sql.Column = {
    val (k, op, v) = Seq("!=~", "=~", "!=", "=")
      .collectFirst { case o if e.contains(o) =>
        val i = e.indexOf(o); (e.take(i), o, e.drop(i + o.length)) }
      .getOrElse(throw new IllegalArgumentException(s"bad tag expr: $e"))
    val tv = element_at(col("tags"), k)
    op match {
      case "="   => tv === v
      case "!="  => tv.isNull || tv =!= v
      case "=~"  => tv.isNotNull && tv.rlike(v)
      case "!=~" => tv.isNull || !tv.rlike(v)
    }
  }

  /** Tags autocomplete consults the store on EVERY request (no TTL frame):
    * the reference delegates /tags wholesale to the backend per request
    * (ref tags_handler.go:22-128), so a failing backend must fail the
    * request — pinned by the tags_error e2e goldens. Still catalog-sized:
    * the store's catalog scan is the persisted `_catalog` table or the
    * 2-column pruned scan, never a data fetch. */
  private def taggedSeries(spark: SparkSession, store: SeriesStore,
                           exprs: Seq[String]): DataFrame = {
    val all = store.catalog(spark)
    if (exprs.isEmpty) all
    else all.where(exprs.map(exprPredicate).reduce(_ && _))
  }

  /** /tags/autoComplete/tags: distinct tag keys across series matching the
    * optional `expr=` filters, EXCLUDING keys the filters already name
    * (graphite-web autocomplete semantics), optional prefix filter. */
  def tagNames(spark: SparkSession, store: SeriesStore,
               tagPrefix: String = "", limit: Int = 100,
               exprs: Seq[String] = Nil): Seq[String] = {
    tagNamesFrame(spark, store, tagPrefix, exprs)
      .limit(limit).collect().toSeq.map(_.getString(0))
  }

  /** The distinct-tag frame behind [[tagNames]], exposed so PlanSpec can
    * assert the prefix pushdown. The prefix and expr-key exclusion apply
    * INSIDE the array filter, BELOW the explode: on a tag-heavy catalog
    * the generate never materializes non-matching keys as rows, so the
    * distinct shuffle sees only candidate tags (was: explode everything,
    * then filter the rows). */
  private[graft] def tagNamesFrame(spark: SparkSession, store: SeriesStore,
                                   tagPrefix: String, exprs: Seq[String]): DataFrame = {
    val inExpr = exprs.flatMap(e => Seq("!=~", "=~", "!=", "=")
      .collectFirst { case o if e.contains(o) => e.take(e.indexOf(o)) })
    val keyPred: org.apache.spark.sql.Column => org.apache.spark.sql.Column = k => {
      val p = if (tagPrefix.isEmpty) lit(true) else k.startsWith(tagPrefix)
      val e = if (inExpr.isEmpty) lit(true) else !k.isin(inExpr: _*)
      p && e
    }
    taggedSeries(spark, store, exprs)
      .select(explode(filter(map_keys(col("tags")), keyPred)).as("tag"))
      .distinct().orderBy(col("tag"))
  }

  /** /tags/autoComplete/values: distinct values of one tag key across
    * series matching the optional `expr=` filters. */
  def tagValues(spark: SparkSession, store: SeriesStore, tag: String,
                valuePrefix: String = "", limit: Int = 100,
                exprs: Seq[String] = Nil): Seq[String] = {
    val vals = taggedSeries(spark, store, exprs)
      .select(element_at(col("tags"), tag).as("v")).where(col("v").isNotNull)
    val filtered = if (valuePrefix.isEmpty) vals else vals.where(col("v").startsWith(valuePrefix))
    filtered.distinct().orderBy(col("v")).limit(limit).collect().toSeq.map(_.getString(0))
  }

  /** treejson marshalling of find results. (ref find_handlers.go:41-103) */
  def treeJson(nodes: Seq[FindNode]): String =
    nodes.map { n =>
      val ac = if (n.allowChildren) 1 else 0
      val leaf = if (n.leaf) 1 else 0
      s"""{"allowChildren":$ac,"expandable":$ac,"leaf":$leaf,"id":${Serve.quote(n.id)},"text":${Serve.quote(n.text)},"context":{}}"""
    }.mkString("[", ",", "]")

  /** List of supported function names (the /functions endpoint's key set). */
  def functions: Seq[String] = graft.engine.Eval.registry.keys.toSeq.sorted
}
