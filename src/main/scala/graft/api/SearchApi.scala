package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.util.control.NonFatal
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * The corpus-retrieval serving front-end — the §2.10 endpoint over the
 * PERSISTED artifacts only (term index + doclen/meta sidecars, IVF-PQ
 * index + centroids + codebooks): a deployed replica mounts the artifact
 * paths and answers ranked queries with zero corpus scans and zero
 * startup training. The graphite twin is [[HttpApi]]; this server carries
 * the LLM-pipeline surface (no reference analog — carbonapi serves series,
 * not documents).
 *
 *   /search?q=w1+w2&k=10                     → BM25 top-k        (p87 path)
 *   /search?bulk=q1;q2;...&k=10              → batched BM25      (p100 path)
 *   /search?q=w1+w2&mode=hybrid&vec=f,f,...  → BM25 × IVF-PQ RRF (p88+p34)
 *   /search?phrase=w1+w2+w3                  → exact phrase      (p89 path)
 *   /search?glob=sc[ae]n*&k=10               → glob terms        (p95 path)
 *   /search?complete=pref&k=10               → term autocomplete (p97 path)
 *   /status                                  → index-health snapshot
 *   /lb_check
 *
 * Admission: /search requests past `maxInflight` concurrent answers get an
 * immediate 429 (the reference's limiter.go analog); 200-bodies cache for
 * `cacheTtlSec` keyed on the raw query (a mount is a snapshot — entries can
 * never be stale, the TTL only bounds memory).
 *
 * The mount contract — like carbonapi resolving its backend routing at
 * startup, not per request: `start()` opens the artifacts ONCE, as a
 * [[graft.pipeline.TextStats.TermIndex]] (postings and doclen relations,
 * bucket count from `.meta`, tombstone-filtered doclen and its corpus
 * stats) and a [[graft.pipeline.Similarity.IvfIndex]] (corpus relation,
 * centroids, codebooks, fingerprint check), with the tombstones pinned.
 * A request then pays only for its own partition-pruned slices — cost
 * tracks the query (terms' df, nprobe cells), never the corpus, the
 * property the p84/p87 ScaleBench query arms measure.
 *
 * A mount is one consistent SNAPSHOT: the relations keep the file listings
 * taken at `start()`, so segments a later refresh appends into the same
 * root stay invisible, exactly like the tombstones that refresh appends.
 * To serve a refresh, start a new server over the same paths (remount)
 * and stop the old one.
 *
 * MAINTAINED indexes: a merge-on-read-refreshed index (delta segments +
 * tombstones) serves correctly only when the server knows the tombstones —
 * an edited doc otherwise has live rows in BOTH its old and new segments
 * (BM25 sums both tf rows AND row-multiplies the doclen join: score
 * INFLATION, not staleness) and deleted docs keep ranking. So the server
 * takes the tombstone artifacts at construction and REFUSES to start over
 * a multi-segment index with none configured (a pure-append history
 * passes an empty tombstone table; alternatively serve the compacted
 * index, which is seg-0-only by construction).
 */
class SearchApi(spark: SparkSession, termIndexDir: String,
                ivfPath: String, codebooksPath: String = null, port: Int = 0,
                termTombstonesPath: Option[String] = None,
                ivfTombstonesPath: Option[String] = None,
                maxInflight: Int = 16, cacheTtlSec: Int = 60) {

  // codebooks default to INSIDE the index dir (compact/retrain write them
  // there — a self-contained mount needs zero extra configuration); an
  // explicit external path stays supported and is fingerprint-checked at
  // startup against the index meta either way
  private val cbPath: String =
    Option(codebooksPath).getOrElse(s"$ivfPath/codebooks")

  // /search admission control (the reference's limiter.go:14-51 analog,
  // which the graphite HttpApi already carries as `concurency`): the
  // worker pool fronts an unbounded HttpServer backlog, so without a
  // limiter a burst queues Spark actions without bound — excess requests
  // get an immediate 429 instead. /status and /lb_check are exempt (a
  // load balancer must always see health).
  private val inflight = new java.util.concurrent.Semaphore(maxInflight)

  // TTL response cache keyed on the raw query string (the reference's
  // render cache symmetry, render_handler.go:230-247). The mount is a
  // snapshot, so entries can never be STALE — the TTL and entry cap only
  // bound memory. 200-bodies only; hits serve without a limiter permit
  // (no Spark action runs).
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
  private val cacheHitCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private val cacheMaxEntries = 256

  /** Served-from-cache count (observable for specs and /status). */
  private[graft] def cacheHits: Long = cacheHitCounter.get()

  @volatile private var server: HttpServer = _
  @volatile private var pool: java.util.concurrent.ExecutorService = _

  // the mount's one scope: it owns every block the mount pins, and
  // stop() releases them
  private val mount = graft.core.Scope.open()

  // tombstones read ONCE (refresh-sized by contract, eagerly pinned):
  // every request reuses the materialized frame instead of re-reading
  private lazy val termTombstones: Option[DataFrame] =
    termTombstonesPath.map(p => mount.checkpoint(spark.read.parquet(p)
      .select(col("doc_id"), col("before_seg"))))
  private lazy val ivfTombstones: Option[DataFrame] =
    ivfTombstonesPath.map(p => mount.checkpoint(spark.read.parquet(p)
      .select(col("vec_id"), col("before_seg"))))

  // the mounted artifacts (see the class doc), opened by start()
  private lazy val termIndex = new graft.pipeline.TextStats.TermIndex(
    spark, termIndexDir, termTombstones)
  private lazy val ivfIndex = new graft.pipeline.Similarity.IvfIndex(
    spark, ivfPath, cbPath, ivfTombstones)

  /** Index-health snapshot for operators (the /info symmetry for the
    * corpus surface), computed ONCE on first request — the mount is a
    * snapshot, so segments/counts cannot drift under it. Metadata-cheap:
    * parquet row counts + distinct-seg scans, never a vector or postings
    * read. */
  private lazy val statusJson: String = {
    def segsOf(df: DataFrame): Seq[Long] =
      if (!df.columns.contains("seg")) Seq(0L)
      else df.select("seg").distinct().collect().map(_.getLong(0)).sorted.toSeq
    val dl = termIndex.doclenRel
    val termSegs = segsOf(dl)
    val corpus = ivfIndex.corpus
    val ivfSegs = segsOf(corpus)
    val nlist = ivfIndex.centroids.length
    // cross-artifact consistency invariant (the orchestrated-refresh
    // contract, graft.pipeline.Refresh): BOTH indexes must have seen the
    // SAME refresh history — equal segment sets AND equal tombstone
    // content fingerprints (tombstones derive from one shared delta). A
    // doc edited in the term index but not re-embedded shows up here as
    // consistent:false instead of ranking fresh BM25 against a stale
    // vector silently.
    val termFp = termTombstones
      .map(graft.pipeline.Refresh.tombstoneFingerprint).getOrElse(0L)
    val ivfFp = ivfTombstones
      .map(graft.pipeline.Refresh.tombstoneFingerprint).getOrElse(0L)
    val consistent = termSegs == ivfSegs && termFp == ivfFp
    def arr(xs: Seq[Long]) = xs.mkString("[", ",", "]")
    s"""{"term_index":{"buckets":${termIndex.buckets},""" +
      s""""segments":${arr(termSegs)},"doclen_rows":${dl.count()},""" +
      s""""tombstones":${termTombstones.map(_.count()).getOrElse(0L)},""" +
      s""""tombstone_fp":$termFp},""" +
      s""""ivf_index":{"nlist":$nlist,"segments":${arr(ivfSegs)},""" +
      s""""rows":${corpus.count()},""" +
      s""""tombstones":${ivfTombstones.map(_.count()).getOrElse(0L)},""" +
      s""""tombstone_fp":$ivfFp},""" +
      s""""consistent":$consistent}"""
  }

  // the ONE segment-resolution rule, shared with the orchestrator's
  // skew gate: reads happen at the call sites, so a broken doclen
  // sidecar or IVF corpus fails start() loudly instead of silently
  // passing the multi-segment refusal gate and erroring per-request
  private def maxSegOrZero(df: DataFrame): Long =
    graft.pipeline.Refresh.maxSegOrZero(df)

  def start(): Int = {
    require(maxInflight >= 0 && cacheTtlSec >= 0,
      s"SearchApi: maxInflight/cacheTtlSec must be non-negative, got " +
        s"$maxInflight/$cacheTtlSec")
    // the whole mount happens HERE, so no request pays for it and every
    // relation's file listing is taken at the same moment (one snapshot):
    // the term index's relations, bucket count and alive corpus stats, and
    // the IVF handle — whose opening verifies the code↔codebook pairing
    // when the index carries a meta fingerprint (a retrained index mounted
    // with the OLD codebooks would decode wrong distances with no
    // per-request error)
    val ti = termIndex
    val dl = ti.doclenRel
    ti.buckets
    ti.stats
    // fail LOUDLY at startup, not silently per query: a multi-segment
    // index without tombstones configured cannot be served correctly
    require(termTombstones.isDefined || maxSegOrZero(dl) == 0L,
      s"SearchApi: term index $termIndexDir has delta segments but no " +
        "termTombstonesPath configured — pass the tombstone artifact " +
        "(empty for a pure-append history) or serve the compacted index")
    val ivf = ivfIndex
    require(ivfTombstones.isDefined || maxSegOrZero(ivf.corpus) == 0L,
      s"SearchApi: IVF index $ivfPath has delta segments but no " +
        "ivfTombstonesPath configured — pass the tombstone artifact " +
        "(empty for a pure-append history) or serve the compacted index")
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/search", handleLimited(search))
    server.createContext("/status", handle(_ =>
      statusJson.dropRight(1) + s""","cache_hits":${cacheHitCounter.get()}}"""))
    server.createContext("/lb_check", handle(_ => "Ok\n"))
    // MORE worker threads than permits, or the limiter is dead code: with
    // a pool smaller than maxInflight, tryAcquire can never see a full
    // semaphore and excess requests queue unboundedly in the pool's own
    // queue — the exact failure the 429 exists to prevent. The extra
    // threads also serve cache hits and 429s while every permit is busy.
    pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, maxInflight + 4))
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    // the worker pool is NON-daemon: without an explicit shutdown a JVM
    // that stopped the server still never exits (caught by the r15
    // ScaleBench servearm run hanging its forked JVM)
    if (pool != null) pool.shutdown()
    mount.close()
  }

  private def handle(f: Map[String, String] => String)(ex: HttpExchange): Unit = {
    val (code, body) = run(f, ex)
    respond(ex, code, body)
  }

  /** The /search wrapper: cache lookup → admission control → compute →
    * cache fill. A cache hit costs no permit and no Spark job; a full
    * limiter answers 429 immediately instead of queueing another action. */
  private def handleLimited(f: Map[String, String] => String)(ex: HttpExchange): Unit = {
    val key = String.valueOf(ex.getRequestURI.getRawQuery)
    if (cacheTtlSec > 0) {
      val e = cache.get(key)
      if (e != null && e._1 > System.nanoTime()) {
        cacheHitCounter.incrementAndGet()
        respond(ex, 200, e._2)
        return
      }
    }
    if (!inflight.tryAcquire()) {
      respond(ex, 429,
        s"""{"error":"too many concurrent requests (limit $maxInflight)"}""")
      return
    }
    val (code, body) =
      try run(f, ex)
      finally inflight.release()
    if (code == 200 && cacheTtlSec > 0) {
      // crude cap: the artifacts are immutable, so a full clear only costs
      // recomputation — no eviction bookkeeping on the request path
      if (cache.size >= cacheMaxEntries) cache.clear()
      cache.put(key, (System.nanoTime() + cacheTtlSec * 1000000000L, body))
    }
    respond(ex, code, body)
  }

  private def run(f: Map[String, String] => String,
                  ex: HttpExchange): (Int, String) =
    // NonFatal only: a VirtualMachineError (OOM) must propagate and kill
    // the worker rather than be masked as a 500 from an undefined state
    try (200, f(query(ex)))
    catch {
      case e: IllegalArgumentException => (400, s"""{"error":${q(e.getMessage)}}""")
      case NonFatal(e) => (500, s"""{"error":${q(String.valueOf(e.getMessage))}}""")
    }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  // untrusted numeric parameters are range-checked BEFORE they size any
  // limit/window/collect (the k rule applied uniformly)
  private def boundedInt(p: Map[String, String], name: String,
                         default: Int, lo: Int, hi: Int): Int = {
    val v = p.get(name).map(_.toInt).getOrElse(default)
    require(v >= lo && v <= hi, s"$name out of range [$lo, $hi]: $v")
    v
  }

  private def search(p: Map[String, String]): String = {
    val k = boundedInt(p, "k", 10, 1, 1000)
    p.get("bulk") match {
      case Some(b) =>
        // batched multi-query BM25: N queries, ONE pruned postings pass
        // (TextStats.bm25TopKBatch) — the fetchMulti lesson applied to
        // the retrieval tier instead of N sequential /search round-trips
        val qs = b.split(";").toSeq
          .map(_.split("[+ ]").filter(_.nonEmpty).toSeq)
        require(qs.nonEmpty && qs.forall(_.nonEmpty),
          "bulk needs q1;q2;... with non-empty queries")
        require(qs.size <= 100, s"bulk: at most 100 queries, got ${qs.size}")
        val rows = termIndex.bm25TopKBatch(
          qs.zipWithIndex.map { case (t, i) => (i.toLong, t) }, k = k).collect()
        val byQ = rows.groupBy(_.getLong(0))
        return qs.indices.map { i =>
          val rs = byQ.getOrElse(i.toLong, Array.empty[org.apache.spark.sql.Row])
            .map(r => s"""{"doc_id":${r.getLong(1)},"n_terms":${r.getLong(2)},"score":${r.getDouble(3)}}""")
            .mkString("[", ",", "]")
          s"""{"query":$i,"results":$rs}"""
        }.mkString("""{"batches":[""", ",", "]}")
      case None => ()
    }
    p.get("complete") match {
      case Some(pref) =>
        val rows = termIndex.completeTerms(pref, k = k).collect()
        return rows.map(r => s"""{"term":${q(r.getString(0))},"df":${r.getLong(1)}}""")
          .mkString("""{"results":[""", ",", "]}")
      case None => ()
    }
    p.get("glob") match {
      case Some(g) =>
        val rows = termIndex.globSearch(g)
          .orderBy(org.apache.spark.sql.functions.desc("n_hits"),
            org.apache.spark.sql.functions.col("doc_id"))
          .limit(k).collect()
        return rows.map(r => s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"n_hits":${r.getLong(2)}}""")
          .mkString("""{"results":[""", ",", "]}")
      case None => ()
    }
    p.get("phrase") match {
      case Some(ph) =>
        val terms = ph.split("[+ ]").filter(_.nonEmpty).toSeq
        val rows = termIndex.phraseSearch(terms)
          .orderBy(org.apache.spark.sql.functions.desc("n_occur"),
            org.apache.spark.sql.functions.col("doc_id"))
          .limit(k).collect()
        rows.map(r => s"""{"doc_id":${r.getLong(0)},"n_occur":${r.getLong(1)}}""")
          .mkString("""{"results":[""", ",", "]}")
      case None =>
        val terms = p.getOrElse("q", "").split("[+ ]").filter(_.nonEmpty).toSeq
        require(terms.nonEmpty, "missing q, phrase, glob or complete parameter")
        p.getOrElse("mode", "bm25") match {
          case "bm25" =>
            val rows = termIndex.bm25TopK(terms, k = k).collect()
            rows.map(r => s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"score":${r.getDouble(2)}}""")
              .mkString("""{"results":[""", ",", "]}")
          case "hybrid" =>
            val vec = p.getOrElse("vec", "")
            require(vec.nonEmpty, "hybrid mode needs vec=f,f,...")
            val qv = vec.split(",").map(_.trim.toFloat)
            require(qv.length == ivfIndex.dim,
              s"vec has ${qv.length} dims, index expects ${ivfIndex.dim}")
            val pool = boundedInt(p, "pool", 20, 1, 1000)
            val nprobe = boundedInt(p, "nprobe", 4, 1, 64)
            val rows = ivfIndex.hybridTopK(termIndex, terms, qv,
              k = k, pool = pool, nprobe = nprobe).collect()
            rows.map(r => s"""{"doc_id":${r.getLong(0)},"bm_rank":${r.getLong(1)},"ann_rank":${r.getLong(2)},"rrf_x1e6":${r.getLong(3)}}""")
              .mkString("""{"results":[""", ",", "]}")
          case other => throw new IllegalArgumentException(s"bad mode: $other")
        }
    }
  }
}
