package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Curation

/** Unit gates for the curation operators (p16-p20): planted fixtures with
  * hand-computed expectations; the sf0.01 driver oracle covers the full
  * corpus behavior. */
class CurationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[4]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docsOf(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("contamination: a leaked benchmark doc is fully contained; unrelated docs emit nothing") {
    val bench = docsOf(100L -> "the quick brown fox jumps over dogs")
    val corpus = docsOf(
      1L -> "padding words then the quick brown fox jumps over dogs and more padding",
      2L -> "completely unrelated text about something else entirely here")
    val out = Curation.contamination(corpus, bench, n = 3, minOverlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // bench doc has 5 distinct 3-grams, all present in doc 1
    assert(out.toSeq == Seq((1L, 100L, 5L, 1.0)))
  }

  test("tfidf: rare terms outrank common ones; tf/df/weight match the closed form") {
    val corpus = docsOf(
      1L -> "apple banana apple",
      2L -> "banana cherry",
      3L -> "banana durian durian")
    val rows = Curation.tfidfTopTerms(corpus, k = 2, totalDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).sortBy(r => (r._1, r._6))
    // banana df=3 (idf floor), apple/cherry/durian df=1
    def w(tf: Long, df: Long) = tf * (math.log(4.0 / (1.0 + df)) + 1.0)
    val top = rows.filter(_._6 == 1).map(r => r._1 -> r._2).toMap
    assert(top == Map(1L -> "apple", 2L -> "cherry", 3L -> "durian"))
    rows.foreach { case (_, term, tf, df, tfidf, _) =>
      assert(math.abs(tfidf - w(tf, df)) < 1e-9, s"$term: $tfidf vs ${w(tf, df)}")
      assert(df == (if (term == "banana") 3 else 1))
    }
  }

  test("kmeans: two planted blobs separate in one iteration; assignment is deterministic") {
    val s = spark
    import s.implicits._
    // ids 0,1 seed the two blobs (init = lowest-k ids), the rest cluster around them
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.5f, -0.5f)), (3L, Array(0.2f, 0.1f)),
      (4L, Array(10.5f, 9.5f)), (5L, Array(9.8f, 10.2f)))
    val emb = pts.toDF("vec_id", "embedding")
    val out = Curation.kmeansAssign(emb, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(out(0L), out(2L), out(3L)).size == 1)
    assert(Set(out(1L), out(4L), out(5L)).size == 1)
    assert(out(0L) != out(1L))
    val again = Curation.kmeansAssign(emb, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == again)
  }

  test("pii: counts and redaction hit emails, urls, ips and phones; clean text is untouched") {
    val corpus = docsOf(
      1L -> "contact me at jane.doe@example.com or +1 (555) 123-4567 ok",
      2L -> "see https://example.com/path?q=1 from host 192.168.0.1 now",
      3L -> "no sensitive content in this one at all")
    val sig = Curation.piiSignals(corpus)
      .select(col("doc_id"), col("n_emails"), col("n_urls"), col("n_ipv4"),
        col("n_phones"), col("has_pii"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(5))).toMap
    assert(sig(1L) == ((1, 0, 0, 1, true)))
    assert(sig(2L) == ((0, 1, 1, 0, true)))
    assert(sig(3L) == ((0, 0, 0, 0, false)))
    val red = corpus.select(col("doc_id"), Curation.piiRedact(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(1L) == "contact me at <EMAIL> or <PHONE> ok")
    assert(red(2L) == "see <URL> from host <IP> now")
    assert(red(3L) == "no sensitive content in this one at all")
  }

  test("dedup clusters: components label with min id, chains propagate, singletons self-label") {
    val s = spark
    import s.implicits._
    val d = (1L to 13L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // triangle-ish {1,2,3}, pair {5,6}, 4-chain {10..13} (needs >1 round), rest singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("doc_a", "doc_b")
    val out = graft.pipeline.Dedup.dedupClusters(d, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 8L, 9L -> 9L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L)
    assert(out == want)
  }

  test("curated corpus: language, length, PII and keeper gates each drop their doc") {
    val s = spark
    import s.implicits._
    val corpus = docsOf(
      1L -> "the quick brown fox jumps over the lazy dog and runs off with it",
      2L -> "the quick brown fox jumps over the lazy dog and runs off with it", // dup of 1 → dropped (keeper is 1)
      3L -> "der hund und die katze und das haus und der baum und nicht mehr", // german → dropped
      4L -> "too short for the gate", // < 10 tokens → dropped
      5L -> "write to the admin at root@example.com for all of the access and the keys", // PII → dropped
      6L -> "a completely clean english document that is long enough to pass all of the gates")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val kept = Curation.curatedCorpus(corpus, pairs, lang = "en", minTokens = 10)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 6L))
  }

  /** Brute-force union-find reference: min reachable id per node. */
  private def unionFindLabels(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** dedupClusters' labels with the default gate and with the driver side
    * switched off (`graft.cc.maxDriverEdges=0` forces star contraction). */
  private def labelsBothSides(d: org.apache.spark.sql.DataFrame,
                              pairs: org.apache.spark.sql.DataFrame): (Map[Long, Long], Map[Long, Long]) = {
    def run() = graft.pipeline.Dedup.dedupClusters(d, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gated = run()
    spark.conf.set("graft.cc.maxDriverEdges", "0")
    try (gated, run()) finally spark.conf.unset("graft.cc.maxDriverEdges")
  }

  /** Random graphs over ids 0 until n; graph 0 is edgeless (everyone
    * self-labels), the rest carry duplicate, reversed and self-loop edges. */
  private def randomGraphs(seed: Int, count: Int): Seq[(Seq[Long], Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(seed)
    (0 until count).map { g =>
      val n = 2 + rnd.nextInt(40)
      val edges = if (g == 0) Seq.empty[(Long, Long)]
        else Seq.fill(rnd.nextInt(2 * n))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      ((0L until n.toLong), edges)
    }
  }

  test("dedup clusters: random graphs match brute-force union-find") {
    val s = spark
    import s.implicits._
    for ((ids, edges) <- randomGraphs(seed = 7, count = 8)) {
      val d = ids.map(i => (i, s"d$i")).toDF("doc_id", "text")
      val got = graft.pipeline.Dedup.dedupClusters(d, edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFindLabels(ids, edges), s"n=${ids.size} edges=$edges")
    }
  }

  test("star contraction: random graphs match union-find; empty graph self-labels") {
    val s = spark
    import s.implicits._
    for ((ids, edges) <- randomGraphs(seed = 11, count = 6)) {
      val d = ids.map(i => (i, s"d$i")).toDF("doc_id", "text")
      val (_, dist) = labelsBothSides(d, edges.toDF("doc_a", "doc_b"))
      assert(dist == unionFindLabels(ids, edges), s"n=${ids.size} edges=$edges")
    }
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val (_, none) = labelsBothSides(d1, Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(none == Map(1L -> 1L, 2L -> 2L))
  }

  test("small-graph gate: driver union-find labels equal the distributed loops' on random graphs") {
    val s = spark
    import s.implicits._
    for ((ids, edges) <- randomGraphs(seed = 41, count = 5)) {
      val d = ids.map(i => (i, s"d$i")).toDF("doc_id", "text")
      val (gated, dist) = labelsBothSides(d, edges.toDF("doc_a", "doc_b"))
      assert(gated == dist, s"n=${ids.size} edges=$edges")
    }
  }

  test("dedup clusters: the ngram-jaccard graph of the sf0.001 corpus labels identically on both sides of the gate") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    val pairs = graft.pipeline.Dedup.ngramJaccardPairs(d, k = 3, threshold = 0.5).localCheckpoint(true)
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.nonEmpty)
    val want = unionFindLabels(d.collect().map(_.getLong(0)).toSeq, edges)
    // a real dup graph: multi-member components, not just isolated pairs
    assert(want.values.groupBy(identity).values.exists(_.size >= 3))
    val (gated, dist) = labelsBothSides(d, pairs)
    assert(gated == want)
    assert(dist == want)
  }

  test("dedup clusters: a 120-long chain converges within 15 distributed rounds") {
    val s = spark
    import s.implicits._
    val n = 120L
    val d = (0L until n).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // force the distributed side: the driver union-find would otherwise
    // resolve this tiny chain, and the round bound is what this gates
    spark.conf.set("graft.cc.maxDriverEdges", "0")
    try {
      val star = graft.pipeline.Dedup.dedupClusters(d, chain, maxIters = 15)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(star.length == n && star.forall(_._2 == 0L))
    } finally spark.conf.unset("graft.cc.maxDriverEdges")
  }

  test("vocab: counts, doc frequency and the top-N cut are exact") {
    val corpus = docsOf(
      1L -> "apple banana apple",
      2L -> "banana cherry",
      3L -> "banana apple")
    val rows = Curation.vocab(corpus, topN = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(("apple", 3L, 2L), ("banana", 3L, 3L)))
  }

  test("bloom decontamination: every doc the exact scan flags is flagged, hits bound overlap") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.where(col("doc_id") % 20 =!= 0)
    val bench = docs.where(col("doc_id") % 20 === 0)
    val exact = Curation.contamination(corpus, bench).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("overlap")).max).toMap
    val bloom = Curation.contaminationBloom(corpus, bench).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bloom_hits")).toMap
    // recall 1 by construction: a true bench gram always "mightContain"
    exact.foreach { case (id, maxOverlap) =>
      assert(bloom.contains(id), s"exact-flagged doc $id missing from bloom pass")
      assert(bloom(id) >= maxOverlap,
        s"doc $id bloom hits ${bloom(id)} < exact overlap $maxOverlap")
    }
    // 1% fpp over ~100-gram docs: the cheap pass must not flag everything
    val corpusN = corpus.count()
    assert(bloom.size < corpusN, s"bloom pass flagged all $corpusN docs")
  }

  test("shared spans: a planted 7-word quote yields exactly its span-grams and run length") {
    // docs 1 and 2 share exactly the 7-word quote; doc 3 is disjoint
    val quote = "to be or not to be said"
    val corpus = docsOf(
      1L -> s"alpha beta gamma $quote delta epsilon",
      2L -> s"one two $quote three four five six",
      3L -> "completely different words with no overlap at all whatsoever here")
    // spanTokens=5 inside a 7-word shared run → 3 span-grams, run of 3
    val rows = graft.pipeline.Dedup.sharedSpanPairs(corpus, spanTokens = 5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("shared_grams"), r.getAs[Long]("max_span_tokens")))
    assert(rows.toSeq == Seq((1L, 2L, 3L, 7L)), rows.mkString(","))
  }

  test("span removal: the quote is cut from the higher-id doc only; first holder and disjoint doc untouched") {
    val quote = "to be or not to be said"
    val corpus = docsOf(
      1L -> s"alpha beta gamma $quote delta epsilon",
      2L -> s"one two $quote three four five six",
      3L -> "completely different words with no overlap at all whatsoever here")
    val out = graft.pipeline.Dedup.removeSharedSpans(corpus, spanTokens = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"), r.getAs[Long]("n_removed")))).toMap
    assert(out(1L) == ((s"alpha beta gamma $quote delta epsilon", 12L, 0L)), out(1L).toString)
    assert(out(2L) == (("one two three four five six", 6L, 7L)), out(2L).toString)
    assert(out(3L)._3 == 0L, "disjoint doc must lose nothing")
  }

  test("two-phase decontamination equals the exact pass (recall-1 bloom composition)") {
    val corpus = docsOf(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "a completely unrelated document with none of the benchmark content",
      3L -> "quick brown fox jumps over the lazy dog is a benchmark sentence")
    val bench = docsOf(9L -> "quick brown fox jumps over the lazy dog")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"), r.getAs[Long]("overlap"),
        math.round(r.getAs[Double]("containment") * 1e4))
    val exact = graft.pipeline.Curation.contamination(corpus, bench).collect().map(key).toSet
    val two = graft.pipeline.Curation.contaminationTwoPhase(corpus, bench).collect().map(key).toSet
    assert(exact.nonEmpty, "planted overlap must flag")
    assert(two == exact, s"two-phase must equal exact: $two vs $exact")
  }

  test("quality keeper: the cleaner duplicate wins its cluster even with the higher doc_id") {
    val body = "the quick brown fox jumps over the lazy dog and runs far away from home"
    val corpus = docsOf(
      1L -> s"$body !!! ??? ;;; ,,, ... !!!",   // same words, punctuation-riddled → lower score
      2L -> body,                               // clean copy
      3L -> "an entirely different document about nothing shared with those two")
    val pairs = graft.pipeline.Dedup.ngramJaccardPairs(corpus, k = 3, threshold = 0.5)
    val out = graft.pipeline.Dedup.qualityKeeper(corpus, pairs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Long]("keep")))).toMap
    assert(out(1L) == ((1L, 0L)), s"noisy dup must lose: ${out(1L)}")
    assert(out(2L) == ((1L, 1L)), s"clean dup must keep despite higher id: ${out(2L)}")
    assert(out(3L)._2 == 1L, "singleton keeps itself")
  }

  test("word entropy: uniform text maxes H at ln(n_types); repeated word collapses it; ttr exact") {
    val corpus = docsOf(
      1L -> "a b c d",          // uniform: H = ln 4, ttr = 1
      2L -> "x x x x",          // degenerate: H = 0, ttr = 1/4
      3L -> "a a b")            // H = ln 3 - (2 ln 2)/3
    val out = graft.pipeline.TextStats.wordEntropy(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_types"),
          r.getAs[Double]("entropy"), r.getAs[Double]("ttr")))).toMap
    // tolerance 1e-5: the engine quantizes each c·ln(c) term to a
    // 1e6-scaled long (order-independent integer sum — the p67 class),
    // so closed-form floats match to ~1e-6, not machine epsilon
    assert(out(1L)._1 == 4 && out(1L)._2 == 4 && out(1L)._4 == 1.0)
    assert(math.abs(out(1L)._3 - math.log(4)) < 1e-5)
    assert(math.abs(out(2L)._3) < 1e-5 && out(2L)._4 == 0.25)
    assert(math.abs(out(3L)._3 - (math.log(3) - 2 * math.log(2) / 3)) < 1e-5)
  }

  test("word entropy: randomized docs match a local reference; 0 ≤ H ≤ ln(n_types)") {
    val rnd = new scala.util.Random(11)
    val fixture = (1L to 30L).map { id =>
      val n = 1 + rnd.nextInt(40)
      id -> Seq.fill(n)(('a' + rnd.nextInt(5)).toChar.toString).mkString(" ")
    }
    val out = graft.pipeline.TextStats.wordEntropy(docsOf(fixture: _*)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    fixture.foreach { case (id, text) =>
      val counts = text.split(" ").groupBy(identity).view.mapValues(_.length)
      val n = counts.values.sum
      val h = math.log(n) - counts.values.map(c => c * math.log(c)).sum / n
      val r = out(id)
      // 1e-5 tolerance: per-term 1e6 quantization (see above)
      assert(math.abs(r.getAs[Double]("entropy") - h) < 1e-5, s"doc $id")
      assert(r.getAs[Double]("entropy") >= -1e-5 &&
        r.getAs[Double]("entropy") <= math.log(counts.size) + 1e-5, s"doc $id bounds")
    }
  }

  test("source overlap: half-shared trigram sets give the closed-form jaccard and containment") {
    val s = spark
    import s.implicits._
    // srcA grams: {a b c, b c d} ; srcB grams: {b c d, c d e} → ∩=1, ∪=3
    val corpus = Seq(
      (1L, "a b c d", "srcA"),
      (2L, "b c d e", "srcB")).toDF("doc_id", "text", "source")
    val out = Curation.sourceOverlap(corpus, k = 3).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("src_a") == "srcA" && r.getAs[String]("src_b") == "srcB")
    assert(r.getAs[Long]("n_common") == 1 && r.getAs[Long]("sz_a") == 2 &&
      r.getAs[Long]("sz_b") == 2)
    assert(math.abs(r.getAs[Double]("jaccard") - 1.0 / 3) < 1e-12)
    assert(math.abs(r.getAs[Double]("containment") - 0.5) < 1e-12)
  }

  test("token encode: rank ids, OOV zeros, first/last/checksum on a planted vocab") {
    // counts: a:3, b:2, c:1 → vocab(2): a=1, b=2; c is OOV
    val corpus = docsOf(1L -> "b a a", 2L -> "c b a")
    val out = Curation.tokenEncode(corpus, vocabSize = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("first_id"), r.getAs[Long]("last_id"),
          r.getAs[Long]("id_sum")))).toMap
    assert(out(1L) == ((3L, 0L, 2L, 1L, 4L)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((3L, 1L, 0L, 1L, 3L)), s"doc2: ${out(2L)}")
  }

  test("bpe pairs: adjacent pair counts weight by word frequency and the top pair is the merge") {
    val corpus = docsOf(
      1L -> "low low lower",
      2L -> "low newest")
    // counts: low×3, lower×1, newest×1
    // 'lo': 4, 'ow': 4, 'we': 1+1, 'er': 1, 'ne': 1, 'ew': 1, 'es': 1, 'st': 1
    val out = Curation.bpePairs(corpus, topN = 10).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("cnt"))
    assert(out.take(2).toSet == Set("lo" -> 4L, "ow" -> 4L))
    assert(out.toMap == Map("lo" -> 4L, "ow" -> 4L, "we" -> 2L, "er" -> 1L,
      "ne" -> 1L, "ew" -> 1L, "es" -> 1L, "st" -> 1L))
  }

  test("corpus report: counts, exact-dup tally and language mix on a planted corpus") {
    val sp = spark
    import sp.implicits._
    val d = Seq(
      (1L, "the cat and the dog", "web"),
      (2L, "the cat and the dog", "web"),      // exact duplicate of doc 1
      (3L, "der hund und die katze", "books")
    ).toDF("doc_id", "text", "source")
    val r = graft.pipeline.Curation.corpusReport(d).collect().head
    assert(r.getAs[Long]("n_docs") == 3L && r.getAs[Long]("n_sources") == 2L)
    assert(r.getAs[Long]("dup_docs") == 1L, "one doc beyond the first holder")
    assert(r.getAs[Long]("n_tokens") == 15L)
    assert(r.getAs[Long]("n_en") == 2L, "the German doc must not count as English")
  }
}
