package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.api.SearchApi

/** End-to-end retrieval serving: real server over PERSISTED artifacts only
  * (term index + sidecars, IVF-PQ index + codebooks built once in
  * beforeAll, like a deployment's artifact mount) — every route's body
  * must equal the direct engine call it serves. */
class SearchApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var api: SearchApi = _
  private var port: Int = _
  private var root: String = _
  private var tiDir: String = _
  private var ivfDir: String = _
  private var cbDir: String = _
  private var cents: Array[(Int, Array[Double])] = _
  private var cb: Array[Array[Array[Double]]] = _
  private val client = HttpClient.newHttpClient()
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    root = java.nio.file.Files.createTempDirectory("graft-serve").toString
    tiDir = s"$root/ti"; ivfDir = s"$root/ivf"; cbDir = s"$root/cb"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.pipeline.TextStats.writeTermIndex(docs, tiDir)
    cents = graft.pipeline.Similarity.trainCentroids(emb, nlist = 8, iters = 3, sampleN = 2000)
    cb = graft.pipeline.Quantize.trainPqCodebooks(emb, m = 16, ksub = 16, iters = 10, sampleN = 2000)
    graft.pipeline.Similarity.writeIndex(
      graft.pipeline.Quantize.pqEncode(
        graft.pipeline.Similarity.assignCells(emb, cents), cb), cents, ivfDir)
    graft.pipeline.Quantize.writeCodebooks(spark, cb, cbDir)
    api = new SearchApi(spark, tiDir, ivfDir, cbDir, port = 0)
    port = api.start()
  }
  override def afterAll(): Unit = {
    if (api != null) api.stop()
    if (spark != null) spark.stop()
  }

  private def via(p: Int, pathAndQuery: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
  private def get(pathAndQuery: String): (Int, String) = via(port, pathAndQuery)

  test("/search bm25 equals the direct bm25TopK call over the same artifacts") {
    val (code, body) = get("/search?q=window+scan+merge&k=5")
    assert(code == 200, body)
    val direct = graft.pipeline.TextStats
      .bm25TopK(spark, tiDir, Seq("window", "scan", "merge"), k = 5).collect()
      .map(r => s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"score":${r.getDouble(2)}}""")
      .mkString("""{"results":[""", ",", "]}")
    assert(body == direct, s"served $body vs direct $direct")
  }

  test("/search phrase equals the direct phraseSearch call") {
    val (code, body) = get("/search?phrase=table+scan+merge&k=100")
    assert(code == 200, body)
    import org.apache.spark.sql.functions.desc
    val direct = graft.pipeline.TextStats
      .phraseSearch(spark, tiDir, Seq("table", "scan", "merge"))
      .orderBy(desc("n_occur"), col("doc_id")).limit(100).collect()
      .map(r => s"""{"doc_id":${r.getLong(0)},"n_occur":${r.getLong(1)}}""")
      .mkString("""{"results":[""", ",", "]}")
    assert(body == direct)
    assert(body.contains("\"doc_id\""), s"phrase must hit at sf0.001: $body")
  }

  test("/search hybrid fuses the BM25 and IVF-PQ arms from artifacts and matches the direct composition") {
    // query vector = embedding 7 (the p88 convention), shipped as the
    // request payload like a real encoder-in-front deployment
    val qv = spark.read.parquet(s"$sf/embeddings.parquet")
      .where(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).toArray
    val vecParam = qv.map(_.toString).mkString(",")
    val t0 = System.nanoTime()
    val (code, body) = get(s"/search?q=window+scan+merge&mode=hybrid&k=10&vec=$vecParam")
    val latencyMs = (System.nanoTime() - t0) / 1e6
    assert(code == 200, body)
    val direct = graft.pipeline.Similarity.hybridServeTopK(spark, tiDir,
        Seq("window", "scan", "merge"), ivfDir, cbDir, qv, k = 10).collect()
      .map(r => s"""{"doc_id":${r.getLong(0)},"bm_rank":${r.getLong(1)},"ann_rank":${r.getLong(2)},"rrf_x1e6":${r.getLong(3)}}""")
      .mkString("""{"results":[""", ",", "]}")
    assert(body == direct, s"served $body vs direct $direct")
    // both arms must contribute somewhere in the fused list
    assert(body.contains("\"bm_rank\":") && !body.contains("\"results\":[]"))
    info(f"hybrid request latency: $latencyMs%.0f ms (sf0.001, cold plans)")
  }

  test("/search glob equals the direct globSearchTermIndex call") {
    val (code, body) = get("/search?glob=sc%5Bae%5Dn*&k=100")
    assert(code == 200, body)
    import org.apache.spark.sql.functions.desc
    val direct = graft.pipeline.TextStats
      .globSearchTermIndex(spark, tiDir, "sc[ae]n*")
      .orderBy(desc("n_hits"), col("doc_id")).limit(100).collect()
      .map(r => s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"n_hits":${r.getLong(2)}}""")
      .mkString("""{"results":[""", ",", "]}")
    assert(body == direct)
    assert(body.contains("\"doc_id\""), s"glob must hit at sf0.001: $body")
  }

  test("/status reports the index-health snapshot (fresh artifacts: seg 0 only, no tombstones)") {
    val (code, body) = get("/status")
    assert(code == 200, body)
    assert(body.contains("\"segments\":[0]"), body)
    assert(body.contains("\"tombstones\":0"), body)
    assert(body.contains("\"buckets\":64"), body)
    assert(body.contains("\"nlist\":8"), body)
  }

  test("errors are 400 with a JSON body; /lb_check stays up") {
    assert(get("/search?k=5")._1 == 400)
    assert(get("/search?q=a&mode=bogus")._1 == 400)
    assert(get("/search?q=a&mode=hybrid")._1 == 400) // missing vec
    val (c, b) = get("/lb_check")
    assert(c == 200 && b == "Ok\n")
  }

  test("untrusted numeric/vector parameters are range-checked before they size anything") {
    assert(get("/search?q=a&k=0")._1 == 400)
    assert(get("/search?q=a&k=100000000")._1 == 400)
    val vec3 = "0.1,0.2,0.3" // index expects 64 dims
    assert(get(s"/search?q=a&mode=hybrid&vec=$vec3")._1 == 400)
    val vec64 = Array.fill(64)("0.1").mkString(",")
    assert(get(s"/search?q=a&mode=hybrid&vec=$vec64&pool=100000000")._1 == 400)
    assert(get(s"/search?q=a&mode=hybrid&vec=$vec64&nprobe=999")._1 == 400)
    assert(get("/search?q=a&k=notanint")._1 == 400)
  }

  test("/search complete equals the direct completeTerms call (term autocomplete)") {
    val (code, body) = get("/search?complete=sc&k=8")
    assert(code == 200, body)
    val direct = graft.pipeline.TextStats.completeTerms(spark, tiDir, "sc", k = 8)
      .collect()
      .map(r => s"""{"term":"${r.getString(0)}","df":${r.getLong(1)}}""")
      .mkString("""{"results":[""", ",", "]}")
    assert(body == direct, s"served $body vs direct $direct")
    assert(body.contains("\"term\""), s"prefix sc must complete at sf0.001: $body")
  }

  test("a maintained (multi-segment) index refuses to serve without tombstones; serves correctly with them") {
    import org.apache.spark.sql.functions.{concat, lit, transform => atransform}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // the standard refresh: edited (%5 of the %7 survivors), added (%13,
    // shifted ids), deleted (%7) — docs and vectors move in lockstep
    val editedD = docs.where(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 === 0)
      .withColumn("text", concat(col("text"), lit(" rev2")))
    val addedD = docs.where(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val deletedD = docs.where(col("doc_id") % 7 === 0).select("doc_id")
    val ti2 = s"$root/ti2"
    graft.pipeline.TextStats.writeTermIndex(docs, ti2)
    graft.pipeline.TextStats.appendToTermIndex(
      editedD.unionByName(addedD).select("doc_id", "text"), ti2, seg = 1L)
    val tomb = deletedD.select(col("doc_id"), lit(Long.MaxValue).as("before_seg"))
      .unionByName(editedD.select(col("doc_id"), lit(1L).as("before_seg")))
    val tombDir = s"$root/tomb"
    tomb.write.mode("overwrite").parquet(tombDir)

    val editedE = emb.where(col("vec_id") % 7 =!= 0 && col("vec_id") % 5 === 0)
      .withColumn("embedding", atransform(col("embedding"), x => (x * lit(1.5f)).cast("float")))
    val addedE = emb.where(col("vec_id") % 13 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val deletedE = emb.where(col("vec_id") % 7 === 0).select("vec_id")
    val ivf2 = s"$root/ivf2"
    graft.pipeline.Similarity.writeIndex(
      graft.pipeline.Quantize.pqEncode(
        graft.pipeline.Similarity.assignCells(emb, cents), cb), cents, ivf2)
    graft.pipeline.Similarity.appendToIvfIndex(
      editedE.unionByName(addedE), ivf2, cb, seg = 1L)
    val ivfTomb = deletedE.select(col("vec_id"), lit(Long.MaxValue).as("before_seg"))
      .unionByName(editedE.select(col("vec_id"), lit(1L).as("before_seg")))
    val ivfTombDir = s"$root/ivftomb"
    ivfTomb.write.mode("overwrite").parquet(ivfTombDir)

    // 1) the refusal: a multi-segment index with no tombstones configured
    //    must fail AT STARTUP (the r14 silent-score-inflation hole)
    val bare = new SearchApi(spark, ti2, ivf2, cbDir, port = 0)
    val ex = intercept[IllegalArgumentException] { bare.start() }
    assert(ex.getMessage.contains("tombstone"))

    // 2) with the tombstone artifacts configured, every route equals the
    //    tombstone-aware engine composition — and bm25 equals a FULL
    //    REBUILD over the refreshed corpus (the ground truth)
    val api2 = new SearchApi(spark, ti2, ivf2, cbDir, port = 0,
      termTombstonesPath = Some(tombDir), ivfTombstonesPath = Some(ivfTombDir))
    val port2 = api2.start()
    def get2(pq: String): (Int, String) = {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port2$pq")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      def fmt(rows: Array[org.apache.spark.sql.Row]): String =
        rows.map(r => s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"score":${r.getDouble(2)}}""")
          .mkString("""{"results":[""", ",", "]}")
      val (c1, served) = get2("/search?q=window+scan+merge&k=10")
      assert(c1 == 200, served)
      val direct = fmt(graft.pipeline.TextStats.bm25TopK(spark, ti2,
        Seq("window", "scan", "merge"), k = 10,
        tombstones = Some(tomb)).collect())
      assert(served == direct, s"maintained serve $served vs direct $direct")
      val refreshedDocs = docs.where(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 =!= 0)
        .unionByName(editedD).unionByName(addedD)
      val tiRebuilt = s"$root/ti2_rebuilt"
      graft.pipeline.TextStats.writeTermIndex(refreshedDocs, tiRebuilt)
      val rebuilt = fmt(graft.pipeline.TextStats.bm25TopK(spark, tiRebuilt,
        Seq("window", "scan", "merge"), k = 10).collect())
      assert(served == rebuilt,
        s"maintained serve $served must equal the full-rebuild truth $rebuilt")

      // the hybrid arm over BOTH maintained indexes
      val qv = emb.where(col("vec_id") === 3L).select("embedding")
        .head().getSeq[Float](0).toArray
      val vecParam = qv.map(_.toString).mkString(",")
      val (c2, hybrid) = get2(s"/search?q=window+scan+merge&mode=hybrid&k=10&vec=$vecParam")
      assert(c2 == 200, hybrid)
      val hybridDirect = graft.pipeline.Similarity.hybridServeTopK(spark, ti2,
          Seq("window", "scan", "merge"), ivf2, cbDir, qv, k = 10,
          termTombstones = Some(tomb), ivfTombstones = Some(ivfTomb)).collect()
        .map(r => s"""{"doc_id":${r.getLong(0)},"bm_rank":${r.getLong(1)},"ann_rank":${r.getLong(2)},"rrf_x1e6":${r.getLong(3)}}""")
        .mkString("""{"results":[""", ",", "]}")
      assert(hybrid == hybridDirect, s"maintained hybrid $hybrid vs $hybridDirect")

      // autocomplete over the maintained index: dfs reflect the refresh
      val (c3, comp) = get2("/search?complete=sc&k=8")
      assert(c3 == 200, comp)
      val compDirect = graft.pipeline.TextStats.completeTerms(spark, ti2, "sc",
          k = 8, tombstones = Some(tomb)).collect()
        .map(r => s"""{"term":"${r.getString(0)}","df":${r.getLong(1)}}""")
        .mkString("""{"results":[""", ",", "]}")
      assert(comp == compDirect)

      // /status sees the maintained shape: two segments, live tombstones
      val (c4, status) = get2("/status")
      assert(c4 == 200, status)
      assert(status.contains("\"segments\":[0,1]"), status)
      assert(!status.contains("\"tombstones\":0"), status)
    } finally api2.stop()
  }

  test("/search?bulk= answers N queries from one batched pass, each equal to its solo bm25TopK answer") {
    val (code, body) = get("/search?bulk=window+scan+merge;table+scan&k=5")
    assert(code == 200, body)
    def solo(terms: Seq[String]): String = graft.pipeline.TextStats
      .bm25TopK(spark, tiDir, terms, k = 5).collect()
      .map(r => s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"score":${r.getDouble(2)}}""")
      .mkString("[", ",", "]")
    val want = s"""{"batches":[{"query":0,"results":${solo(Seq("window", "scan", "merge"))}},""" +
      s"""{"query":1,"results":${solo(Seq("table", "scan"))}}]}"""
    assert(body == want, s"bulk $body vs $want")
    assert(get("/search?bulk=;&k=5")._1 == 400)
  }

  test("admission control: a zero-permit server 429s /search but keeps /lb_check and /status up; the TTL cache serves repeats byte-identically") {
    val closed = new SearchApi(spark, tiDir, ivfDir, cbDir, port = 0,
      maxInflight = 0, cacheTtlSec = 0)
    val p2 = closed.start()
    try {
      val (c, b) = via(p2, "/search?q=window&k=5")
      assert(c == 429, s"$c $b")
      assert(b.contains("too many concurrent"), b)
      assert(via(p2, "/lb_check")._1 == 200, "health must bypass the limiter")
      assert(via(p2, "/status")._1 == 200, "status must bypass the limiter")
    } finally closed.stop()

    val caching = new SearchApi(spark, tiDir, ivfDir, cbDir, port = 0,
      cacheTtlSec = 600)
    val p3 = caching.start()
    try {
      val first = via(p3, "/search?q=window+scan+merge&k=5")
      val h0 = caching.cacheHits
      val second = via(p3, "/search?q=window+scan+merge&k=5")
      assert(first == second, "cache hit must be byte-identical")
      assert(caching.cacheHits == h0 + 1, "second request must be a cache hit")
      // a cached answer equals an uncached server's answer
      assert(second._2 == get("/search?q=window+scan+merge&k=5")._2)
      val (sc, status) = via(p3, "/status")
      assert(sc == 200 && status.contains("\"cache_hits\":"), status)
    } finally caching.stop()
  }

  test("compacted and retrained IVF dirs mount with zero extra configuration; a mismatched codebook mount fails loudly at startup") {
    import org.apache.spark.sql.functions.{lit, transform => atransform}
    val S = graft.pipeline.Similarity
    val Q = graft.pipeline.Quantize
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // a maintained index that carries its OWN codebooks + meta fingerprint
    val ivf3 = s"$root/ivf3"
    S.writeIndex(Q.pqEncode(S.assignCells(emb, cents), cb), cents, ivf3)
    Q.writeCodebooks(spark, cb, s"$ivf3/codebooks")
    S.writeIndexMeta(spark, ivf3, cb)
    val editedE = emb.where(col("vec_id") % 5 === 0)
      .withColumn("embedding", atransform(col("embedding"), x => (x * lit(1.5f)).cast("float")))
    S.appendToIvfIndex(editedE, ivf3, cb, seg = 1L)
    val tomb = editedE.select(col("vec_id"), lit(1L).as("before_seg"))

    val qv = emb.where(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).toArray
    val vecParam = qv.map(_.toString).mkString(",")
    def hybridVia(p: Int): (Int, String) = {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$p/search?q=window+scan+merge&mode=hybrid&k=10&vec=$vecParam")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    def fmt(rows: Array[org.apache.spark.sql.Row]): String =
      rows.map(r => s"""{"doc_id":${r.getLong(0)},"bm_rank":${r.getLong(1)},"ann_rank":${r.getLong(2)},"rrf_x1e6":${r.getLong(3)}}""")
        .mkString("""{"results":[""", ",", "]}")

    // 1) COMPACT: codebooks read from inside the dir (no codebooksPath),
    //    and the served answer equals the maintained (index + tombstones)
    //    composition — compaction is a transparent drop-in
    val ivf3c = s"$root/ivf3c"
    S.compactIvfIndex(spark, ivf3, tomb, ivf3c)
    val apiC = new SearchApi(spark, tiDir, ivf3c, port = 0)
    val portC = apiC.start()
    try {
      val (cc, servedC) = hybridVia(portC)
      assert(cc == 200, servedC)
      val maintained = fmt(S.hybridServeTopK(spark, tiDir,
        Seq("window", "scan", "merge"), ivf3, s"$ivf3/codebooks", qv, k = 10,
        ivfTombstones = Some(tomb)).collect())
      assert(servedC == maintained,
        s"compacted mount $servedC must equal the maintained serve $maintained")
    } finally apiC.stop()

    // 2) RETRAIN: the new codebooks persist inside outDir; a zero-config
    //    mount serves, equal to the direct composition over the new dir
    val ivf3r = s"$root/ivf3r"
    S.retrainIvfIndex(spark, ivf3, tomb, ivf3r,
      nlist = 8, m = 16, ksub = 16, iters = 3, sampleN = 2000)
    val apiR = new SearchApi(spark, tiDir, ivf3r, port = 0)
    val portR = apiR.start()
    try {
      val (cr, servedR) = hybridVia(portR)
      assert(cr == 200, servedR)
      val direct = fmt(S.hybridServeTopK(spark, tiDir,
        Seq("window", "scan", "merge"), ivf3r, s"$ivf3r/codebooks", qv,
        k = 10).collect())
      assert(servedR == direct)
      assert(servedR.contains("\"doc_id\""), servedR)
    } finally apiR.stop()

    // 3) the OLD codebooks against the retrained codes REFUSE at startup
    //    (wrong distances would otherwise serve silently)
    val bad = new SearchApi(spark, tiDir, ivf3r, cbDir, port = 0)
    val ex = intercept[IllegalArgumentException] { bad.start() }
    assert(ex.getMessage.contains("fingerprint"), ex.getMessage)
    // ... and so does a mount with tombstones configured, which skips the
    // multi-segment probe of the IVF corpus: the pairing check must not
    // hang off that probe
    val ivf3Tomb = s"$root/ivf3tomb"
    tomb.write.parquet(ivf3Tomb)
    val badT = new SearchApi(spark, tiDir, ivf3r, cbDir, port = 0,
      ivfTombstonesPath = Some(ivf3Tomb))
    val exT = intercept[IllegalArgumentException] { badT.start() }
    assert(exT.getMessage.contains("fingerprint"), exT.getMessage)
  }

  test("racing mixed requests equal their serial answers (the HttpApi 12-way gate, search edition)") {
    val reqs = Seq(
      "/search?q=window+scan+merge&k=5",
      "/search?q=dup+alpha&k=7",
      "/search?phrase=table+scan+merge&k=50",
      "/search?glob=sc%5Bae%5Dn*&k=50",
      "/search?complete=sc&k=8")
    val want = reqs.map(r => r -> get(r)).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    try {
      val futs = (0 until 36).map { i =>
        val r = reqs(i % reqs.size)
        pool.submit(new java.util.concurrent.Callable[(String, (Int, String))] {
          def call(): (String, (Int, String)) = r -> get(r)
        })
      }
      futs.foreach { f =>
        val (r, got) = f.get(180, java.util.concurrent.TimeUnit.SECONDS)
        assert(got == want(r), s"racing $r diverged: $got vs ${want(r)}")
      }
    } finally pool.shutdown()
  }

  test("a mount whose every doc is tombstoned answers empty results, not an error") {
    val sp = spark
    import sp.implicits._
    val tombDir = s"$root/tomb_all"
    spark.read.parquet(s"$tiDir.doclen").select(col("doc_id"))
      .withColumn("before_seg", lit(Long.MaxValue))
      .write.mode("overwrite").parquet(tombDir)
    Seq.empty[(Long, Long)].toDF("vec_id", "before_seg")
      .write.mode("overwrite").parquet(s"$root/ivftomb_none")
    val dead = new SearchApi(spark, tiDir, ivfDir, cbDir, port = 0,
      termTombstonesPath = Some(tombDir),
      ivfTombstonesPath = Some(s"$root/ivftomb_none"))
    val p = dead.start()
    try {
      for (pq <- Seq("/search?q=window+scan+merge&k=5", "/search?phrase=table+scan+merge",
                     "/search?complete=sc", "/search?glob=sc*",
                     "/search?bulk=window;scan+merge")) {
        val (c, b) = via(p, pq)
        assert(c == 200, s"$pq: $b")
        assert(b == """{"results":[]}""" ||
          b == """{"batches":[{"query":0,"results":[]},{"query":1,"results":[]}]}""", s"$pq: $b")
      }
    } finally dead.stop()
  }

  test("driver-side term buckets equal the written bucket partition for every term; the .meta count wins over the caller's") {
    val sp = spark
    import sp.implicits._
    val long = "q" * 4000 + "z"
    val extra = Seq(
      (9000001L, "naïve café Straße ΩMEGA ωmega tōkyō 東京 данные ünïcödé"),
      (9000002L, s"$long ${long}x çà ñandú 가나다 αβγ"))
      .toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").unionByName(extra)
    for (b <- Seq(7, 64)) {
      val dir = s"$root/ti_hash$b"
      graft.pipeline.TextStats.writeTermIndex(docs, dir, buckets = b)
      val ti = new graft.pipeline.TextStats.TermIndex(spark, dir, fallbackBuckets = 13)
      assert(ti.buckets == b, s"meta says $b, handle resolved ${ti.buckets}")
      val rows = ti.postingsRel.select("term", "bucket").distinct().collect()
        .map(r => (r.getString(0), r.getInt(1)))
      val terms = rows.map(_._1).toSet
      for (t <- Seq("naïve", "straße", "ωmega", "東京", "данные", "가나다", long, long + "x"))
        assert(terms.contains(t), s"term ${t.take(20)} missing from the index")
      val wrong = rows.filter { case (t, bk) => ti.bucketOf(t) != bk }
      assert(wrong.isEmpty,
        s"${wrong.length} of ${rows.length} terms hash off their partition at $b buckets, " +
          s"e.g. ${wrong.take(3).map { case (t, bk) => s"${t.take(20)}→$bk vs ${ti.bucketOf(t)}" }.mkString(", ")}")
    }
  }

  // ------------------------------------------------ orchestrated mount

  /** An orchestrated artifact root (sf0.001 build + one refresh: delta
    * segments and tombstones) — shared by the two tests below; the
    * snapshot test refreshes it again, so it runs last. */
  private lazy val orch: graft.pipeline.Refresh.CorpusArtifacts = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val corpus0 = docs.join(emb, "doc_id").select("doc_id", "text", "embedding")
    val r = s"$root/orch"
    graft.pipeline.Refresh.buildAll(spark, corpus0.select("doc_id", "text"),
      corpus0.select(col("doc_id").as("vec_id"), col("embedding")), r,
      nlist = 8, m = 16, ksub = 16, trainIters = 3, sampleN = 2000)
    val (edited, added, removed) = Queries.corpusRefreshDelta(corpus0)
    graft.pipeline.Refresh.refreshCorpus(spark, r, edited, added, removed).artifacts
  }

  private def mountOrch(): SearchApi =
    new SearchApi(spark, orch.termIndexDir, orch.ivfPath, port = 0,
      termTombstonesPath = Some(orch.termTombstonesPath),
      ivfTombstonesPath = Some(orch.ivfTombstonesPath), cacheTtlSec = 0)

  private lazy val vec7: String = spark.read.parquet(s"$sf/embeddings.parquet")
    .where(col("vec_id") === 7L).select("embedding")
    .head().getSeq[Float](0).map(_.toString).mkString(",")

  private def routes: Seq[(String, String)] = Seq(
    "bm25" -> "/search?q=window+scan+merge&k=10",
    "phrase" -> "/search?phrase=table+scan+merge&k=10",
    "complete" -> "/search?complete=sc&k=8",
    "glob" -> "/search?glob=sc%5Bae%5Dn*&k=10",
    "hybrid" -> s"/search?q=window+scan+merge&mode=hybrid&k=10&vec=$vec7")

  private def jobsDuring(f: => Unit): Int = SparkJobs.during(spark)(f)

  test("a warm /search starts at most the pinned number of Spark jobs per route (mount with tombstones)") {
    // the mount resolves postings/doclen relations, bucket count, corpus
    // stats, centroids and codebooks once; a request runs only its own
    // slices. Measured on this corpus: bm25 6, phrase 4, complete 3,
    // glob 4, hybrid 14 (14 / 9 / 4 / 5 / 29 when every request
    // re-resolved them)
    val pinned = Map("bm25" -> 6, "phrase" -> 4, "complete" -> 3, "glob" -> 4, "hybrid" -> 14)
    val api = mountOrch()
    val rs = routes
    val blocks = spark.sparkContext.getPersistentRDDs.keySet
    val p = api.start()
    try {
      val counts = rs.map { case (name, pq) =>
        assert(via(p, pq)._1 == 200, pq) // warm: plan shapes and codegen
        var code = 0
        val n = jobsDuring { code = via(p, pq)._1 }
        assert(code == 200, pq)
        name -> n
      }.toMap
      info(s"jobs per warm request: ${routes.map(r => s"${r._1} ${counts(r._1)}").mkString(", ")}")
      for ((name, n) <- counts)
        assert(n <= pinned(name), s"$name started $n jobs, pinned at ${pinned(name)}")
    } finally api.stop()
    // the mount's scope owns its pinned tombstones, and stop() closes it
    val left = spark.sparkContext.getPersistentRDDs.keySet
    assert(left == blocks, s"start/serve/stop left ${left -- blocks}, dropped ${blocks -- left}")
  }

  test("a mount is a snapshot: an in-place refresh leaves its answers unchanged; a fresh mount equals the direct call") {
    val terms = Seq("window", "scan", "merge")
    val qv = vec7.split(",").map(_.toFloat)
    def bm25Body(rows: Array[org.apache.spark.sql.Row]): String =
      rows.map(r => s"""{"doc_id":${r.getLong(0)},"n_terms":${r.getLong(1)},"score":${r.getDouble(2)}}""")
        .mkString("""{"results":[""", ",", "]}")
    def hybridBody(rows: Array[org.apache.spark.sql.Row]): String =
      rows.map(r => s"""{"doc_id":${r.getLong(0)},"bm_rank":${r.getLong(1)},"ann_rank":${r.getLong(2)},"rrf_x1e6":${r.getLong(3)}}""")
        .mkString("""{"results":[""", ",", "]}")
    /** The direct bm25 and hybrid answers over the root as it is now. */
    def direct(): (String, String) = {
      val tomb = Some(spark.read.parquet(orch.termTombstonesPath))
      val ivfTomb = Some(spark.read.parquet(orch.ivfTombstonesPath))
      (bm25Body(graft.pipeline.TextStats.bm25TopK(spark, orch.termIndexDir,
        terms, k = 10, tombstones = tomb).collect()),
        hybridBody(graft.pipeline.Similarity.hybridServeTopK(spark,
          orch.termIndexDir, terms, orch.ivfPath, s"${orch.ivfPath}/codebooks",
          qv, k = 10, termTombstones = tomb, ivfTombstones = ivfTomb).collect()))
    }
    val (bm25Before, hybridBefore) = direct()

    val old = mountOrch()
    val oldPort = old.start()
    // a second mount that serves nothing until after the refresh: its
    // FIRST answers must still be those of the root at its start()
    val cold = mountOrch()
    val coldPort = cold.start()
    try {
      val before = routes.map { case (_, pq) => pq -> via(oldPort, pq) }
      before.foreach { case (pq, (c, b)) => assert(c == 200, s"$pq: $b") }
      assert(before.head._2._2 == bm25Before && before.last._2._2 == hybridBefore)

      // a second refresh into the SAME root: edits that add the query
      // terms, new ids, removals — all of them alive before it
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val corpus0 = docs.join(emb, "doc_id").select("doc_id", "text", "embedding")
      val alive = col("doc_id") % 7 =!= 0
      val edited = corpus0.where(alive && col("doc_id") % 3 === 0)
        .withColumn("text", concat(col("text"), lit(" window scan merge table scan rev3")))
      val added = corpus0.where(col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + 3000000L)
      val removed = corpus0.where(alive && col("doc_id") % 3 =!= 0 && col("doc_id") % 11 === 0)
        .select("doc_id")
      graft.pipeline.Refresh.refreshCorpus(spark, orch.root, edited, added, removed)

      for ((pq, want) <- before)
        assert(via(oldPort, pq) == want, s"the old mount's $pq moved after the refresh")
      assert(via(coldPort, routes.last._2) == (200, hybridBefore),
        "the cold mount's first hybrid answer must be the root's at its start()")
      assert(via(coldPort, routes.head._2) == (200, bm25Before))
      val (cs, coldStatus) = via(coldPort, "/status")
      assert(cs == 200 && coldStatus.contains("\"segments\":[0,1]") &&
        coldStatus.contains("\"consistent\":true"), coldStatus)

      val fresh = mountOrch()
      val freshPort = fresh.start()
      try {
        val (bm25, hybrid) = direct()
        assert(via(freshPort, routes.head._2) == (200, bm25))
        assert(bm25 != bm25Before, "the refresh must move the bm25 answer")
        assert(via(freshPort, routes.last._2) == (200, hybrid))
        val (sc, status) = via(freshPort, "/status")
        assert(sc == 200 && status.contains("\"segments\":[0,1,2]") &&
          status.contains("\"consistent\":true"), status)
      } finally fresh.stop()
    } finally { old.stop(); cold.stop() }
  }
}
