package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Dedup, PairMaintenance, Quantize, Refresh, Similarity, TextStats}

/**
 * The corpus-refresh orchestrator's coherence gates: ONE delta through
 * [[Refresh.refreshCorpus]] must leave EVERY artifact equal to its
 * full-rebuild twin — term retrieval, ANN serving, near-dup pairs and
 * cluster labels — and the cross-artifact consistency invariant must hold
 * on the orchestrated set and FAIL on a deliberately skewed one (a doc
 * edited in the term index but not re-embedded). The BM25 consumer is
 * additionally DuckDB-oracle-gated as catalog rows p98/p99.
 */
class RefreshSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"
  private var root: String = _
  private var report: Refresh.RefreshReport = _
  private var corpus0: DataFrame = _   // (doc_id, text, embedding), build state
  private var refreshed: DataFrame = _ // the post-delta truth

  // the canonical %5/%7/%13 delta — ONE definition (Queries), shared with
  // the p98/p99 catalog rows and ScaleBench's refreshArm
  private def delta(d: DataFrame): (DataFrame, DataFrame, DataFrame) =
    Queries.corpusRefreshDelta(d)

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[4]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    corpus0 = docs.join(emb, "doc_id").select("doc_id", "text", "embedding")
      .localCheckpoint(true)
    root = java.nio.file.Files.createTempDirectory("graft-refresh").toString + "/a"
    Refresh.buildAll(spark, corpus0.select("doc_id", "text"),
      corpus0.select(col("doc_id").as("vec_id"), col("embedding")), root,
      nlist = 8, m = 16, ksub = 16, trainIters = 3, sampleN = 2000)
    val (edited, added, removed) = delta(corpus0)
    report = Refresh.refreshCorpus(spark, root, edited, added, removed)
    refreshed = corpus0.where(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 =!= 0)
      .unionByName(edited).unionByName(added).localCheckpoint(true)
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def a = report.artifacts

  test("one delta, all consumers: BM25 + phrase over the orchestrated term artifacts equal a full rebuild on the refreshed corpus") {
    assert(report.seg == 1L)
    val tomb = spark.read.parquet(a.termTombstonesPath)
    val rebuilt = java.nio.file.Files.createTempDirectory("refresh-ti").toString
    TextStats.writeTermIndex(refreshed.select("doc_id", "text"), rebuilt)
    def rows(df: DataFrame) = df.collect().map(_.toString).toList
    assert(
      rows(TextStats.bm25TopK(spark, a.termIndexDir,
        Seq("window", "scan", "merge"), k = 10, tombstones = Some(tomb))) ==
      rows(TextStats.bm25TopK(spark, rebuilt,
        Seq("window", "scan", "merge"), k = 10)),
      "orchestrated BM25 must equal the full-rebuild truth")
    assert(
      rows(TextStats.phraseSearch(spark, a.termIndexDir,
        Seq("table", "scan", "merge"), tombstones = Some(tomb))
        .orderBy("doc_id")) ==
      rows(TextStats.phraseSearch(spark, rebuilt,
        Seq("table", "scan", "merge")).orderBy("doc_id")),
      "orchestrated phrase search must equal the full-rebuild truth")
  }

  test("one delta, ANN: the orchestrated IVF serve equals a same-quantizer re-encode of the refreshed vectors") {
    val tomb = spark.read.parquet(a.ivfTombstonesPath)
    val (idx, cents) = Similarity.readIndex(spark, a.ivfPath)
    val cb = Quantize.readCodebooks(spark, s"${a.ivfPath}/codebooks")
    val vecs = refreshed.select(col("doc_id").as("vec_id"), col("embedding"))
    val reDir = java.nio.file.Files.createTempDirectory("refresh-ivf").toString
    Similarity.writeIndex(
      Quantize.pqEncode(Similarity.assignCells(vecs, cents), cb), cents, reDir)
    val (reIdx, reCents) = Similarity.readIndex(spark, reDir)
    val queries = vecs.where(col("vec_id") < 12 || col("vec_id") >= 1000000L)
      .limit(8)
    def key(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(3),
        math.round(r.getDouble(2) * 1e6))).toSet
    assert(
      key(Similarity.ivfPqTopK(idx, queries, cb, cents, k = 5, nprobe = 4,
        shortlist = 50, tombstones = Some(tomb))) ==
      key(Similarity.ivfPqTopK(reIdx, queries, cb, reCents, k = 5, nprobe = 4,
        shortlist = 50)),
      "orchestrated ANN serve must equal the same-quantizer re-encode")
  }

  test("one delta, dedup: the orchestrated pairs + cluster labels equal a full recompute on the refreshed corpus") {
    val pairs = spark.read.parquet(a.pairsPath(report.seg))
    val cc = spark.read.parquet(a.clustersPath(report.seg))
    val truthPairs = Dedup.ngramJaccardPairs(
      refreshed.select("doc_id", "text"), k = 3, threshold = 0.5)
    def pk(df: DataFrame) = df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pk(pairs) == pk(truthPairs),
      "orchestrated pair set must equal the full recompute")
    val truthCC = Dedup.dedupClusters(refreshed.select("doc_id", "text"),
      truthPairs)
    def ck(df: DataFrame) = df.select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ck(cc) == ck(truthCC),
      "orchestrated cluster labels must equal the full recompute")
  }

  test("buildAll + refreshCorpus leave the block store as they found it (each call owns and closes one scope)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val r = java.nio.file.Files.createTempDirectory("graft-refresh-residue").toString + "/a"
    Refresh.buildAll(spark, corpus0.select("doc_id", "text"),
      corpus0.select(col("doc_id").as("vec_id"), col("embedding")), r,
      nlist = 8, m = 16, ksub = 16, trainIters = 3, sampleN = 2000)
    val (edited, added, removed) = delta(corpus0)
    Refresh.refreshCorpus(spark, r, edited, added, removed)
    val left = sc.getPersistentRDDs
    assert(left.keySet == before,
      s"left behind: ${(left.keySet -- before).toSeq.sorted.map(id =>
        s"$id${if (left(id).isCheckpointed) "(checkpoint)" else ""}")}; " +
        s"dropped: ${before -- left.keySet}")
  }

  test("the manifest witnesses the refresh and the tombstone fingerprints correspond across artifacts") {
    val m = spark.read.parquet(a.manifestPath).orderBy("seg").collect()
    assert(m.map(_.getLong(0)).toSeq == Seq(0L, 1L), m.mkString(","))
    val last = m.last
    assert(last.getLong(1) > 0 && last.getLong(2) > 0 && last.getLong(3) > 0,
      "refresh row must carry the delta counts")
    // the invariant the manifest records: equal term/ivf tombstone
    // fingerprints (same delta, same before_seg payload)
    assert(last.getLong(5) == last.getLong(6),
      "term and ivf tombstone fingerprints must be equal")
    assert(Refresh.tombstoneFingerprint(
        spark.read.parquet(a.termTombstonesPath)) ==
      Refresh.tombstoneFingerprint(spark.read.parquet(a.ivfTombstonesPath)))
  }

  test("/status over the orchestrated artifact set reads consistent:true; a term/IVF refresh skew reads consistent:false") {
    val api = new graft.api.SearchApi(spark, a.termIndexDir, a.ivfPath,
      port = 0, termTombstonesPath = Some(a.termTombstonesPath),
      ivfTombstonesPath = Some(a.ivfTombstonesPath))
    val port = api.start()
    try {
      val body = new String(java.net.URI.create(
        s"http://127.0.0.1:$port/status").toURL.openStream().readAllBytes())
      assert(body.contains("\"consistent\":true"), body)
    } finally api.stop()

    // the skew: the term side saw the refresh, the IVF side claims a
    // DIFFERENT tombstone history (one extra edit never re-embedded) —
    // /status must surface it
    val skewDir = java.nio.file.Files.createTempDirectory("refresh-skew").toString
    val sp = spark
    import sp.implicits._
    spark.read.parquet(a.ivfTombstonesPath)
      .unionByName(Seq((424242L, 1L)).toDF("vec_id", "before_seg"))
      .write.mode("overwrite").parquet(skewDir)
    val api2 = new graft.api.SearchApi(spark, a.termIndexDir, a.ivfPath,
      port = 0, termTombstonesPath = Some(a.termTombstonesPath),
      ivfTombstonesPath = Some(skewDir))
    val port2 = api2.start()
    try {
      val body = new String(java.net.URI.create(
        s"http://127.0.0.1:$port2/status").toURL.openStream().readAllBytes())
      assert(body.contains("\"consistent\":false"), body)
    } finally api2.stop()
  }

  test("an out-of-band single-index append makes the next orchestrated refresh REFUSE (segment-skew precondition)") {
    // clone the artifact root, then bump ONLY the term index
    val root2 = java.nio.file.Files.createTempDirectory("refresh-oob").toString + "/b"
    val a2 = Refresh.CorpusArtifacts(root2)
    def cp(from: String, to: String): Unit = {
      val src = java.nio.file.Paths.get(from)
      if (!java.nio.file.Files.exists(src)) return
      val dst = java.nio.file.Paths.get(to)
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else {
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.copy(p, t)
        }
      }
    }
    for (sub <- Seq("term_index", "term_index.doclen", "term_index.meta",
        "shingle_index", "shingle_index.sizes", "shingle_index.meta", "ivf",
        "term_tombstones", "ivf_tombstones", "shingle_tombstones", "pairs",
        "clusters", "manifest"))
      cp(s"$root/$sub", s"$root2/$sub")
    TextStats.appendToTermIndex(
      refreshed.select("doc_id", "text").limit(3), a2.termIndexDir, seg = 2L)
    val (edited, added, removed) = delta(refreshed)
    val ex = intercept[IllegalArgumentException] {
      Refresh.refreshCorpus(spark, root2, edited, added, removed)
    }
    assert(ex.getMessage.contains("segment skew"), ex.getMessage)
  }

  test("a doc removed in refresh N and re-added in refresh N+1 ranks again (delete tombstones cap at their segment, never forever)") {
    val sp = spark
    import sp.implicits._
    // a small corpus whose first doc has searchable words
    val d0 = corpus0.where(size(split(col("text"), "\\s+")) > 3)
      .orderBy("doc_id").limit(60).localCheckpoint(true)
    val doomed = d0.orderBy("doc_id").limit(1).localCheckpoint(true)
    val doomedId = doomed.head().getLong(0)
    val words = doomed.head().getString(1).toLowerCase.split("\\s+")
      .filter(_.matches("[a-z0-9]{2,}")).take(2).toSeq
    assert(words.size == 2, s"fixture doc $doomedId needs 2 clean words")
    val root2 = java.nio.file.Files.createTempDirectory("refresh-readd").toString + "/r"
    Refresh.buildAll(spark, d0.select("doc_id", "text"),
      d0.select(col("doc_id").as("vec_id"), col("embedding")), root2,
      nlist = 4, m = 16, ksub = 8, trainIters = 2, sampleN = 2000)
    val a2 = Refresh.CorpusArtifacts(root2)
    val none = d0.limit(0)
    def hits(): Set[Long] = TextStats.searchTermIndexMoR(spark,
        a2.termIndexDir, spark.read.parquet(a2.termTombstonesPath), words,
        mode = "or")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits().contains(doomedId), "fixture doc must match its own words")
    // refresh 1: REMOVE the doc
    Refresh.refreshCorpus(spark, root2, none, none,
      doomed.select("doc_id"))
    assert(!hits().contains(doomedId), "removed doc must not rank")
    // refresh 2: RE-ADD the same doc — a Long.MaxValue delete tombstone
    // would kill these seg-2 rows forever; before_seg = seg must not
    Refresh.refreshCorpus(spark, root2, none, doomed, none.select("doc_id"))
    assert(hits().contains(doomedId), "re-added doc must rank again")
    // and the ANN side re-serves it too: its own embedding finds it
    val (idx, cents) = Similarity.readIndex(spark, a2.ivfPath)
    val cb = Quantize.readCodebooks(spark, s"${a2.ivfPath}/codebooks")
    val nn = Similarity.ivfPqTopK(idx,
        doomed.select(col("doc_id").as("vec_id"), col("embedding")),
        cb, cents, k = 3, nprobe = 4, shortlist = 50,
        tombstones = Some(spark.read.parquet(a2.ivfTombstonesPath)))
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(!nn.contains(doomedId), "self excluded by contract") // sanity
    // serve with the re-added doc as a NEIGHBOR of a nearby query
    val q2 = d0.where(col("doc_id") =!= doomedId).limit(1)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val nn2 = Similarity.ivfPqTopK(idx, q2, cb, cents, k = 60, nprobe = 4,
        shortlist = 200,
        tombstones = Some(spark.read.parquet(a2.ivfTombstonesPath)))
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(nn2.contains(doomedId),
      "re-added vector must be probe-visible again")
    // a delta that both removes and re-adds the same id REFUSES
    val ex = intercept[IllegalArgumentException] {
      Refresh.refreshCorpus(spark, root2, none, doomed, doomed.select("doc_id"))
    }
    assert(ex.getMessage.contains("disjoint"), ex.getMessage)
  }

  test("consolidate: every consumer over the fresh root equals the refreshed-corpus truth with ZERO tombstone configuration") {
    val outRoot = java.nio.file.Files.createTempDirectory("refresh-cons").toString + "/c"
    val out = Refresh.consolidate(spark, root, outRoot,
      nlist = 8, m = 16, ksub = 16, trainIters = 3, sampleN = 2000)
    val rebuilt = java.nio.file.Files.createTempDirectory("refresh-ti2").toString
    TextStats.writeTermIndex(refreshed.select("doc_id", "text"), rebuilt)
    def rows(df: DataFrame) = df.collect().map(_.toString).toList
    assert(
      rows(TextStats.bm25TopK(spark, out.termIndexDir,
        Seq("window", "scan", "merge"), k = 10)) ==
      rows(TextStats.bm25TopK(spark, rebuilt,
        Seq("window", "scan", "merge"), k = 10)),
      "consolidated BM25 must equal the full-rebuild truth, no tombstones")
    // tombstone tables are present and EMPTY (a serving mount needs them)
    assert(spark.read.parquet(out.termTombstonesPath).count() == 0L)
    assert(spark.read.parquet(out.ivfTombstonesPath).count() == 0L)
    // the consolidated IVF dir is self-contained: a SearchApi mount with
    // zero extra configuration starts and reports a clean seg-0 state
    val api = new graft.api.SearchApi(spark, out.termIndexDir, out.ivfPath,
      port = 0)
    val port = api.start()
    try {
      val body = new String(java.net.URI.create(
        s"http://127.0.0.1:$port/status").toURL.openStream().readAllBytes())
      assert(body.contains("\"consistent\":true"), body)
      assert(body.contains("\"segments\":[0]"), body)
    } finally api.stop()
    // pairs/clusters carried over as version 0 of the new root
    assert(spark.read.parquet(out.pairsPath(0L)).count() ==
      spark.read.parquet(a.pairsPath(report.seg)).count())
    // a further orchestrated refresh lands on the consolidated root
    // (hand-rolled delta: the canonical one would re-shift refresh-1's
    // added ids onto ids that are still ALIVE here — the duplicate-doc
    // hazard the disjointness/new-ids contract exists to prevent)
    val e2 = refreshed.where(col("doc_id") % 3 === 0)
      .withColumn("text", concat(col("text"), lit(" rev3")))
    val ad2 = refreshed.where(col("doc_id") % 11 === 1)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    val rm2 = refreshed.where(col("doc_id") % 3 =!= 0 && col("doc_id") % 11 === 2)
      .select("doc_id")
    val r2 = Refresh.refreshCorpus(spark, outRoot, e2, ad2, rm2)
    assert(r2.seg == 1L)
  }
}
