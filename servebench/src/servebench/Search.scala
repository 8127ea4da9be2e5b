package servebench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, desc}
import graft.api.SearchApi
import graft.pipeline.{Quantize, Refresh, Similarity, TextStats}

/**
 * The `search` workload: `SearchApi` over a merge-on-read mount — a
 * segment-0 build, then seeded deltas appended as delta segments with
 * their tombstones, the state production serves between compactions.
 *
 * The mount is built from the per-artifact functions `Refresh.buildAll`
 * and `Refresh.refreshCorpus` call for the artifacts `SearchApi` reads
 * (term index, IVF-PQ index, term and IVF tombstones). The orchestrators
 * also maintain the shingle index, near-dup pairs and clusters, which no
 * search reads and which cost ~25 s per refresh on a 4-core host.
 */
final class Search(env: Env) {
  import CorpusGen._
  private val spark = env.spark
  private val gen = new CorpusGen(env.seed)

  private var mount: Refresh.CorpusArtifacts = _
  private var api: SearchApi = _
  private var port = 0
  private var live: Vector[Doc] = _
  private var termTombs: DataFrame = _
  private var ivfTombs: DataFrame = _
  /** Wall time of each delta append in set-up (term + IVF + tombstones). */
  private var appendMs: Seq[Double] = Nil

  private def docFrame(ds: Seq[Doc]): DataFrame = {
    import spark.implicits._
    ds.map(d => (d.id, d.text, d.embedding)).toDF("doc_id", "text", "embedding")
  }

  /** Segment-0 term and IVF-PQ indexes with empty tombstones. */
  private def build(a: Refresh.CorpusArtifacts, docs: Seq[Doc]): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val all = docFrame(docs)
    TextStats.writeTermIndex(all.select("doc_id", "text"), a.termIndexDir, buckets = Buckets)
    val emb = all.select(col("doc_id").as("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(emb, 8, 3, 2000)
    val cb = Quantize.trainPqCodebooks(emb, 16, 16, 3, 2000)
    Similarity.writeIndex(Quantize.pqEncode(Similarity.assignCells(emb, cents), cb), cents, a.ivfPath)
    Quantize.writeCodebooks(spark, cb, s"${a.ivfPath}/codebooks")
    Similarity.writeIndexMeta(spark, a.ivfPath, cb)
    Seq.empty[(Long, Long)].toDF("doc_id", "before_seg").write.parquet(a.termTombstonesPath)
    Seq.empty[(Long, Long)].toDF("vec_id", "before_seg").write.parquet(a.ivfTombstonesPath)
    cb
  }

  /** One delta as segment `seg`: changed docs appended to both indexes,
    * edited and removed ids tombstoned before `seg` in both. */
  private def append(a: Refresh.CorpusArtifacts, cb: Array[Array[Array[Double]]], d: Delta, seg: Long): Unit = {
    import spark.implicits._
    val changed = docFrame(d.edited ++ d.added)
    TextStats.appendToTermIndex(changed.select("doc_id", "text"), a.termIndexDir, seg = seg)
    Similarity.appendToIvfIndex(changed.select(col("doc_id").as("vec_id"), col("embedding")), a.ivfPath, cb, seg = seg)
    val tombs = (d.edited.map(_.id) ++ d.removed).map(id => (id, seg)).toDF("doc_id", "before_seg")
    tombs.write.mode("append").parquet(a.termTombstonesPath)
    tombs.withColumnRenamed("doc_id", "vec_id").write.mode("append").parquet(a.ivfTombstonesPath)
  }

  /** Build, append the deltas, mount. Returns the set-up seconds. */
  def setup(): Double = {
    val t0 = System.nanoTime()
    val docs = gen.corpus
    mount = Refresh.CorpusArtifacts(env.work.resolve("search").toString)
    val cb = build(mount, docs)
    val deltas = new gen.Deltas(0xde17aL)
    val byId = scala.collection.mutable.LinkedHashMap(docs.map(d => d.id -> d): _*)
    (1 to SetupDeltas).foreach { seg =>
      val d = deltas.next()
      val t = System.nanoTime()
      append(mount, cb, d, seg.toLong)
      appendMs :+= (System.nanoTime() - t) / 1e6
      d.removed.foreach(byId.remove)
      (d.edited ++ d.added).foreach(x => byId(x.id) = x)
    }
    live = byId.values.toVector
    termTombs = spark.read.parquet(mount.termTombstonesPath)
    ivfTombs = spark.read.parquet(mount.ivfTombstonesPath)
    api = new SearchApi(spark, mount.termIndexDir, mount.ivfPath, port = 0,
      termTombstonesPath = Some(mount.termTombstonesPath),
      ivfTombstonesPath = Some(mount.ivfTombstonesPath))
    port = api.start()
    (System.nanoTime() - t0) / 1e9
  }

  private def get(c: java.net.http.HttpClient, path: String): Unit = {
    val (code, _, _) = Load.get(c, port, path)
    require(code == 200, s"warm-up $path answered $code")
  }

  /** A query of mode `m` with k=20+i: the stream uses k<=15, so no warm-up
    * reply is ever cached for a timed request. */
  private def warmQuery(m: String, i: Int): String =
    gen.queries(ModeCycle.size * (i + 1), live).filter(_.mode == m)(i).path
      .replaceFirst("&k=\\d+", s"&k=${20 + i}")

  /** The warm-up pass, once per process: the status snapshot (the mount's
    * lazy state: tombstone checkpoints, segment scans), then a query of
    * every mode from all clients (JIT and codegen of each plan shape). */
  def warmAll(): Unit = {
    val c = Load.client()
    val paths = ModeCycle.distinct.map(warmQuery(_, 1))
    Load.parallel(env.clients, paths.size + 1) { i =>
      if (i == 0) consistent = Check.parse(Load.get(c, port, "/status")._2).get("consistent").asBoolean
      else get(c, paths(i - 1))
    }
  }

  /** The mount's own cross-artifact check (`/status`): equal segment sets
    * and equal term/IVF tombstone fingerprints. */
  private var consistent = false

  private def stream(): Vector[SearchReq] = gen.queries(env.seconds * 50 + 200, live)

  def run(): Outcome = {
    val reqs = stream()
    val c = Load.client()
    val t0 = System.nanoTime()
    val (replies, _) = Load.run(env.clients, reqs.size, t0 + env.seconds * 1000000000L) { i =>
      val s = System.nanoTime()
      val (code, body, cached) = Load.get(c, port, reqs(i).path)
      Reply(i, code, body, cached, s, System.nanoTime())
    }
    val hits = cacheHits()
    Main.log(s"timed phase: ${replies.size} replies")
    val verdicts = Load.parallel(env.clients, replies.size)(k => verify(reqs(replies(k).index), replies(k)))
    val single = replies.filter(r => reqs(r.index).mode != "bulk")
    Load.drain()
    Main.log(s"checked: ${verdicts.count(!_)} failed; median ms by mode: " +
      replies.groupBy(r => reqs(r.index).mode).map { case (m, rs) => f"$m ${Stats.median(rs.map(_.ms))}%.0f (${rs.size})" }.mkString(", "))
    val heap = Probe.liveHeapMb()
    if (!consistent) Main.log("mount status: consistent=false")
    Outcome(
      attempted = replies.size, failed = verdicts.count(!_),
      wrong = verdicts.zip(replies).count { case (v, r) => !v && r.status == 200 } + (if (consistent) 0 else 1),
      e2e = Seq(
        Metric("req_p50_ms", Stats.median(single.map(_.ms)), "ms"),
        Metric("req_per_s", single.size / ((replies.map(_.endNs).max - t0) / 1e9), "req/s"),
        Metric("heap_live_mb", heap, "MB")),
      samples = Map("req_p50_ms" -> single.size, "req_per_s" -> single.size),
      floors = Main.Floors, primaryMs = single.map(_.ms),
      cacheHits = hits.toInt)
  }

  /** The server's own served-from-cache counter, from /status. */
  private def cacheHits(): Long =
    Check.parse(Load.get(Load.client(), port, "/status")._2).get("cache_hits").asLong

  // ------------------------------------------------------------- checks

  private def verify(q: SearchReq, r: Reply): Boolean =
    r.status == 200 && (try sameAnswer(q, Check.parse(r.body), Check.parse(direct(q)))
    catch { case e: Exception => System.err.println(s"check ${q.path}: $e"); false })

  /** Equal result lists, up to the order of entries tied on the mode's
    * ranking key. */
  private def sameAnswer(q: SearchReq, got: com.fasterxml.jackson.databind.JsonNode,
                         want: com.fasterxml.jackson.databind.JsonNode): Boolean = q.mode match {
    case "bulk" =>
      val (g, w) = (got.get("batches"), want.get("batches"))
      g.size == w.size && (0 until w.size).forall(i =>
        Check.sameRanked(g.get(i).get("results"), w.get(i).get("results"), "score"))
    case m => Check.sameRanked(got.get("results"), want.get("results"), RankKey(m))
  }

  private val RankKey = Map("bm25" -> "score", "hybrid" -> "rrf_x1e6", "phrase" -> "n_occur",
    "glob" -> "n_hits", "complete" -> "df")

  /** The pipeline call behind a mode, as a lazy frame. */
  private def frame(q: SearchReq): DataFrame = q.mode match {
    case "bm25" => TextStats.bm25TopK(spark, mount.termIndexDir, q.terms, k = q.k, tombstones = Some(termTombs))
    case "hybrid" => Similarity.hybridServeTopK(spark, mount.termIndexDir, q.terms, mount.ivfPath,
      s"${mount.ivfPath}/codebooks", q.vec, k = q.k, termTombstones = Some(termTombs),
      ivfTombstones = Some(ivfTombs))
    case "phrase" => TextStats.phraseSearch(spark, mount.termIndexDir, q.terms, tombstones = Some(termTombs))
      .orderBy(desc("n_occur"), col("doc_id")).limit(q.k)
    case "glob" => TextStats.globSearchTermIndex(spark, mount.termIndexDir, q.text, tombstones = Some(termTombs))
      .orderBy(desc("n_hits"), col("doc_id")).limit(q.k)
    case "complete" => TextStats.completeTerms(spark, mount.termIndexDir, q.text, k = q.k, tombstones = Some(termTombs))
    case "bulk" => TextStats.bm25TopKBatch(spark, mount.termIndexDir,
      q.bulk.zipWithIndex.map { case (t, i) => (i.toLong, t) }, k = q.k, tombstones = Some(termTombs))
  }

  /** Rows of a mode's frame in the server's JSON. */
  private def json(q: SearchReq, rows: Array[Row]): String = {
    def res(xs: Seq[String]) = xs.mkString("""{"results":[""", ",", "]}")
    q.mode match {
      case "bm25" => res(rows.map(r => s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"score":${r.getDouble(2)}}"""))
      case "hybrid" => res(rows.map(r =>
        s"""{"doc_id":${r.getLong(0)},"bm_rank":${r.getLong(1)},"ann_rank":${r.getLong(2)},"rrf_x1e6":${r.getLong(3)}}"""))
      case "phrase" => res(rows.map(r => s"""{"doc_id":${r.getLong(0)},"n_occur":${r.getLong(1)}}"""))
      case "glob" => res(rows.map(r => s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"n_hits":${r.getLong(2)}}"""))
      case "complete" => res(rows.map(r => s"""{"term":"${r.getString(0)}","df":${r.getLong(1)}}"""))
      case "bulk" =>
        val byQ = rows.groupBy(_.getLong(0))
        q.bulk.indices.map { i =>
          val rs = byQ.getOrElse(i.toLong, Array.empty[Row])
            .map(r => s"""{"doc_id":${r.getLong(1)},"n_terms":${r.getLong(2)},"score":${r.getDouble(3)}}""")
          s"""{"query":$i,"results":${rs.mkString("[", ",", "]")}}"""
        }.mkString("""{"batches":[""", ",", "]}")
    }
  }

  private def direct(q: SearchReq): String = json(q, frame(q).collect())

  // ------------------------------------------------------------- traced

  /** An untraced phase (overhead baseline), then each query through its
    * pipeline call with spans and job tags, followed by the same query over
    * HTTP for the HTTP tier's share. */
  def traced(tr: Tracer, ls: OpListener): Outcome = {
    val reqs = stream()
    val phase = env.seconds * 1000000000L
    val c = Load.client()
    val rddsBase = Probe.persistedRdds(spark)
    val t0 = System.nanoTime()
    val (untraced, offset) = Load.run(env.clients, reqs.size, t0 + phase / 2) { i =>
      val s = System.nanoTime()
      val (code, body, cached) = Load.get(c, port, reqs(i).path)
      Reply(i, code, body, cached, s, System.nanoTime())
    }
    Load.drain()
    val gc0 = Probe.driverGcMs()
    val httpMs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()
    val t1 = System.nanoTime()
    val (traced, _) = Load.run(env.clients, reqs.size - offset, t1 + phase) { j =>
      val i = offset + j
      val q = reqs(i)
      val op = i.toLong
      // HTTP first on even ops, in-process first on odd ones, so neither
      // side gets the other's warm caches in the api.http_ms difference
      def service(): (String, Double) = {
        val s = System.nanoTime()
        val out = tr.request(op, "op")(tr.span("service") {
          OpListener.tagged(spark, OpListener.tag(op, "exec")) {
            val df = tr.span("pipeline." + q.mode)(frame(q))
            Probe.plan(tr, df)
            json(q, tr.span("spark.exec")(df.collect()))
          }
        })
        (out, (System.nanoTime() - s) / 1e6)
      }
      def http(): (Int, Array[Byte], Boolean, Long, Long) = {
        val h0 = System.nanoTime()
        val (code, body, cached) = Load.get(c, port, q.path)
        (code, body, cached, h0, System.nanoTime())
      }
      val ((mineBody, svcMs), (code, body, cached, h0, h1)) =
        if (op % 2 == 0) { val h = http(); (service(), h) } else { val m = service(); (m, http()) }
      httpMs.put(op, (h1 - h0) / 1e6 - svcMs)
      val ok = code == 200 && sameAnswer(q, Check.parse(body), Check.parse(mineBody))
      Reply(i, if (ok) code else -2, Array.emptyByteArray, cached, h0, h1)
    }
    Load.drain()
    val gcMs = Probe.driverGcMs() - gc0
    val self = tr.selfTimes
    val inclusive = tr.all.map(s => (s.op, s.name) -> s.ms).toMap
    val ops = traced.map(_.index.toLong)
    val phases = (m: String) => Seq("pipeline." + m, "spark.analyze", "spark.optimize", "spark.plan", "spark.exec")
    def incl(m: String): Double = {
      val os = traced.filter(r => reqs(r.index).mode == m).map(_.index.toLong)
      if (os.isEmpty) 0.0 else Stats.median(os.map(o => phases(m).map(n => inclusive.getOrElse((o, n), 0.0)).sum))
    }
    val singleOps = traced.filter(r => reqs(r.index).mode != "bulk").map(_.index.toLong)
    def med(name: String): Double = Stats.median(singleOps.map(o => self.getOrElse((o, name), 0.0)))
    def cnt(f: OpListener#Counts => Long): Double =
      ops.map(o => ls.get(OpListener.tag(o, "exec")).map(f).getOrElse(0L)).sum.toDouble / math.max(1, ops.size)
    val accounted = Stats.median(singleOps.map(o =>
      phases(reqs(o.toInt).mode).map(n => self.getOrElse((o, n), 0.0)).sum + httpMs.get(o)))
    val untracedP50 = Stats.median(untraced.filter(r => reqs(r.index).mode != "bulk").map(_.ms))
    val tracedP50 = Stats.median(traced.filter(r => reqs(r.index).mode != "bulk").map(_.ms))
    val layer = Seq(
      Metric("spark.analyze_ms", med("spark.analyze"), "ms"),
      Metric("spark.optimize_ms", med("spark.optimize"), "ms"),
      Metric("spark.plan_ms", med("spark.plan"), "ms"),
      Metric("spark.exec_ms", med("spark.exec"), "ms"),
      Metric("spark.jobs", cnt(_.jobs.get), "count"),
      Metric("spark.stages", cnt(_.stages.get), "count"),
      Metric("spark.tasks", cnt(_.tasks.get), "count"),
      Metric("spark.sched_delay_ms", cnt(_.schedDelayMs.get), "ms"),
      Metric("spark.input_mb", cnt(_.inputBytes.get) / 1048576.0, "MB"),
      Metric("spark.shuffle_mb", cnt(_.shuffleBytes.get) / 1048576.0, "MB"),
      Metric("spark.spill_mb", cnt(_.spillBytes.get) / 1048576.0, "MB"),
      Metric("spark.gc_ms", cnt(_.gcMs.get) + gcMs.toDouble / math.max(1, traced.size), "ms"),
      Metric("spark.persisted_rdds_delta", (Probe.persistedRdds(spark) - rddsBase).toDouble, "count"),
      Metric("spark.storage_mb_end", Probe.storageMb(spark), "MB"),
      Metric("api.http_ms", Stats.median(singleOps.map(o => httpMs.get(o).doubleValue)), "ms"),
      Metric("api.cache_hits", cacheHits().toDouble, "count"),
      Metric("pipeline.append_ms", Stats.median(appendMs), "ms"),
      Metric("trace.untraced_p50_ms", untracedP50, "ms"),
      Metric("trace.traced_p50_ms", tracedP50, "ms"),
      Metric("trace.overhead_ms", tracedP50 - untracedP50, "ms"),
      Metric("trace.accounted_ms", accounted, "ms")) ++
      ModeCycle.distinct.map(m => Metric(s"pipeline.${m}_ms", incl(m), "ms"))
    val all = untraced ++ traced
    Outcome(attempted = all.size, failed = all.count(_.status != 200),
      wrong = traced.count(_.status == -2), layer = layer,
      samples = Map("traced_searches" -> singleOps.size, "untraced_searches" -> untraced.size),
      floors = Map("traced_searches" -> 4), cacheHits = cacheHits().toInt)
  }

  def close(): Unit = if (api != null) api.stop()
}
