package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, desc}
import graft.api.Serve.{CacheKey, Request, Route, quote}
import graft.api.Serve.Reply.json
import graft.pipeline.Refresh

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
 * Admission, through [[Serve]]'s pipeline: /search requests past
 * `maxInflight` concurrent answers get an immediate 429, as do requests
 * past `maxInflight + 4` data threads; 200-bodies cache for `cacheTtlSec`
 * keyed on the parameters (a mount is a snapshot — entries can never be
 * stale, the TTL and a 256-entry cap only bound memory), and a hit takes
 * no permit. /status and /lb_check answer inline, without a permit.
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
  // there); an explicit path is fingerprint-checked at startup either way
  private val cbPath: String =
    Option(codebooksPath).getOrElse(s"$ivfPath/codebooks")

  private val serve: Serve = new Serve(port, Seq(
    "/search" -> Route(p => json(search(p)), cacheKey = r =>
      if (cacheTtlSec > 0) Some(CacheKey(r.key(), cacheTtlSec)) else None),
    "/status" -> Route(_ =>
      json(statusJson.dropRight(1) + s""","cache_hits":${serve.cacheHits}}"""), slot = false),
    "/lb_check" -> Route(_ => json("Ok\n"), slot = false)),
    slots = Some(maxInflight), waitSec = 0L, dataThreads = maxInflight + 4,
    reject = (429, s"too many concurrent requests (limit $maxInflight)"),
    error = msg => json(s"""{"error":${quote(msg)}}"""), cacheEntries = 256)

  /** Served-from-cache count (observable for specs and /status). */
  private[graft] def cacheHits: Long = serve.cacheHits

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
    val termFp = termTombstones.map(Refresh.tombstoneFingerprint).getOrElse(0L)
    val ivfFp = ivfTombstones.map(Refresh.tombstoneFingerprint).getOrElse(0L)
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
    // index without tombstones configured cannot be served correctly (the
    // orchestrator's segment rule; a broken doclen sidecar or IVF corpus
    // fails here too, not per request)
    require(termTombstones.isDefined || Refresh.maxSegOrZero(dl) == 0L,
      s"SearchApi: term index $termIndexDir has delta segments but no " +
        "termTombstonesPath configured — pass the tombstone artifact " +
        "(empty for a pure-append history) or serve the compacted index")
    val ivf = ivfIndex
    require(ivfTombstones.isDefined || Refresh.maxSegOrZero(ivf.corpus) == 0L,
      s"SearchApi: IVF index $ivfPath has delta segments but no " +
        "ivfTombstonesPath configured — pass the tombstone artifact " +
        "(empty for a pure-append history) or serve the compacted index")
    serve.start()
  }

  def stop(): Unit = {
    serve.stop()
    mount.close()
  }

  // untrusted numeric parameters are range-checked BEFORE they size any
  // limit/window/collect (the k rule applied uniformly)
  private def boundedInt(p: Request, name: String,
                         default: Int, lo: Int, hi: Int): Int = {
    val v = p.get(name).map(_.toInt).getOrElse(default)
    require(v >= lo && v <= hi, s"$name out of range [$lo, $hi]: $v")
    v
  }

  private def search(p: Request): String = {
    val k = boundedInt(p, "k", 10, 1, 1000)
    def terms(s: String): Seq[String] = s.split("[+ ]").filter(_.nonEmpty).toSeq
    def top(df: DataFrame, by: String): Array[Row] = df.orderBy(desc(by), col("doc_id")).limit(k).collect()
    def results(rows: Array[Row])(f: Row => String): String =
      rows.map(f).mkString("""{"results":[""", ",", "]}")
    (p.get("bulk"), p.get("complete"), p.get("glob"), p.get("phrase")) match {
      case (Some(b), _, _, _) =>
        // batched multi-query BM25: N queries, ONE pruned postings pass
        // (TextStats.bm25TopKBatch) — the fetchMulti lesson applied to
        // the retrieval tier instead of N sequential /search round-trips
        val qs = b.split(";").toSeq.map(terms)
        require(qs.nonEmpty && qs.forall(_.nonEmpty),
          "bulk needs q1;q2;... with non-empty queries")
        require(qs.size <= 100, s"bulk: at most 100 queries, got ${qs.size}")
        val byQ = termIndex.bm25TopKBatch(
          qs.zipWithIndex.map { case (t, i) => (i.toLong, t) }, k = k).collect().groupBy(_.getLong(0))
        qs.indices.map { i =>
          val rs = byQ.getOrElse(i.toLong, Array.empty[Row])
            .map(r => s"""{"doc_id":${r.getLong(1)},"n_terms":${r.getLong(2)},"score":${r.getDouble(3)}}""")
            .mkString("[", ",", "]")
          s"""{"query":$i,"results":$rs}"""
        }.mkString("""{"batches":[""", ",", "]}")
      case (_, Some(pref), _, _) =>
        results(termIndex.completeTerms(pref, k = k).collect())(r =>
          s"""{"term":${quote(r.getString(0))},"df":${r.getLong(1)}}""")
      case (_, _, Some(g), _) =>
        results(top(termIndex.globSearch(g), "n_hits"))(r =>
          s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"n_hits":${r.getLong(2)}}""")
      case (_, _, _, Some(ph)) =>
        results(top(termIndex.phraseSearch(terms(ph)), "n_occur"))(r =>
          s"""{"doc_id":${r.getLong(0)},"n_occur":${r.getLong(1)}}""")
      case _ =>
        val ts = terms(p.one("q"))
        require(ts.nonEmpty, "missing q, phrase, glob or complete parameter")
        p.one("mode", "bm25") match {
          case "bm25" =>
            results(termIndex.bm25TopK(ts, k = k).collect())(r =>
              s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"score":${r.getDouble(2)}}""")
          case "hybrid" =>
            val vec = p.one("vec")
            require(vec.nonEmpty, "hybrid mode needs vec=f,f,...")
            val qv = vec.split(",").map(_.trim.toFloat)
            require(qv.length == ivfIndex.dim,
              s"vec has ${qv.length} dims, index expects ${ivfIndex.dim}")
            val pool = boundedInt(p, "pool", 20, 1, 1000)
            val nprobe = boundedInt(p, "nprobe", 4, 1, 64)
            results(ivfIndex.hybridTopK(termIndex, ts, qv, k = k, pool = pool, nprobe = nprobe).collect())(r =>
              s"""{"doc_id":${r.getLong(0)},"bm_rank":${r.getLong(1)},"ann_rank":${r.getLong(2)},"rrf_x1e6":${r.getLong(3)}}""")
          case other => throw new IllegalArgumentException(s"bad mode: $other")
        }
    }
  }
}
