package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Dedup, PairMaintenance, Quantize, Refresh, Similarity, TextStats}

object LifecycleSpec {
  final case class Doc(text: String, vec: Seq[Float])
  final case class Delta(edits: Seq[(Long, Doc)], dels: Seq[Long], adds: Seq[(Long, Doc)]) {
    def changed: Seq[(Long, Doc)] = edits ++ adds
    /** Edits and deletes kill every earlier segment's rows of their id. */
    def tombIds: Seq[Long] = edits.map(_._1) ++ dels
  }
  def applied(m: Map[Long, Doc], d: Delta): Map[Long, Doc] = m -- d.dels ++ d.edits ++ d.adds
}

/**
 * Lifecycle differentials: one seeded random history of edit / delete /
 * add generations drives each maintained artifact (the merge-on-read term
 * index, the shingle index's pairs and clusters, the IVF-PQ index, and the
 * [[Refresh]] orchestrator behind `/search`); after every generation it
 * must answer exactly like a rebuild of the live corpus. Each seed
 * resamples sf0.001 the way `tools/fuzz_gate.py`'s `gen_corpus` does.
 * Every history re-edits docs, deletes edited docs, re-adds removed ids,
 * adds clones, delta-only terms and a zero vector, and compacts (the
 * orchestrator: consolidates) before generation 3. Corpus state lives on
 * the driver on purpose: a few hundred docs, and the map is the truth.
 */
class LifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {
  import LifecycleSpec._

  private lazy val spark: SparkSession =
    graft.core.GraftSession.builder("local[4]", 8).config("spark.log.level", "ERROR").getOrCreate()
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private val Seeds = 1 to 3
  private lazy val scratch = java.nio.file.Files.createTempDirectory("graft-lifecycle").toString
  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
  }

  private val Dim = 64
  private def pseudoVec(id: Long): Seq[Float] = {
    val r = new scala.util.Random(id)
    Vector.fill(Dim)((r.nextInt(2001) - 1000) / 1000.0f)
  }

  /** The seed's corpus: `gen_corpus`'s resample of the sf0.001 documents;
    * docs without a resampled embedding get a deterministic vector. */
  private def resample(seed: Int): Map[Long, Doc] = {
    def keep(id: Long) = (id * 2654435761L + seed) % 1000000007L % 10 < 6 + seed % 4
    val base = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse(""))
      .filter(r => keep(r._1)).toSeq
    val dups = base.collect { case (id, t) if id % (7 + seed % 5) == 0 => (id + 100000L, t) }
    val extras = Seq(200001L -> "one", 200002L -> "tie tie tie " * (3 + seed % 3),
      200003L -> "zz qq ww ee rr " * 40, 200004L -> "", 200005L -> "  \t  ",
      200006L -> "a" * (3000 + seed % 100), 200007L -> "naïve")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector)
      .filter(r => keep(r._1)).toMap
    (base ++ dups ++ extras).map { case (id, t) => id -> Doc(t, emb.getOrElse(id, pseudoVec(id))) }.toMap
  }

  /** One generation's delta over the alive corpus `m`. `edited` and
    * `removed` are the ids edited and removed (not re-added) so far. */
  private def deltaGen(g: Int, m: Map[Long, Doc], edited: Set[Long],
                       removed: Vector[Long]): Gen[Delta] = {
    val alive = m.keys.toVector.sorted
    def someOf(xs: Vector[Long]): Gen[Option[Long]] =
      if (xs.isEmpty) Gen.const(None) else Gen.oneOf(xs).map(Some(_))
    for {
      rolls <- Gen.listOfN(alive.size, Gen.zip(Gen.choose(0, 19), Gen.choose(0, 49)))
      reEdit <- someOf(alive.filter(edited))
      delAfterEdit <- someOf(alive.filter(id => edited(id) && !reEdit.contains(id)))
      nAdds <- Gen.choose(3, 7)
      picks <- Gen.listOfN(nAdds, Gen.choose(0, Int.MaxValue))
      tails <- Gen.listOfN(nAdds, Gen.choose(0, 19))
    } yield {
      val roll = alive.zip(rolls).toMap // (edit/delete roll, edit word)
      val editIds = (alive.filter(roll(_)._1 < 4) ++ reEdit).distinct.filterNot(delAfterEdit.contains)
      val dels = (alive.filter(roll(_)._1 >= 18) ++ delAfterEdit).distinct.filterNot(editIds.contains)
      val edits = editIds.map { id =>
        val (w, Doc(t, v)) = (roll(id)._2, m(id))
        // an eighth of the edits empty the text out; the vector moves cells
        id -> Doc(if (w % 8 == 0) "" else s"$t e$g fuzzterm$g w$w",
          v.zipWithIndex.map { case (x, i) => if ((i + w) % 3 == 0) -1.5f * x else 0.7f * x })
      }
      val adds = (0 until nAdds).map { i =>
        val id =
          if (i % 3 == 1 && removed.nonEmpty) removed(picks(i) % removed.size)
          else 9000000L + g * 10000L + i
        val doc =
          if (g == 1 && i == 0) Doc("zero vector doc", Vector.fill(Dim)(0.0f))
          else if (i % 2 == 0) m(alive(picks(i) % alive.size)) // clone: dup and tie mass
          else Doc(s"added$g alpha window scan merge uniq${g}x$i w${tails(i)}", pseudoVec(id * 7 + g))
        id -> doc
      }.distinctBy(_._1)
      Delta(edits, dels, adds)
    }
  }

  /** Three generations, each generated against the corpus the previous
    * ones left behind. */
  private def historyGen(m: Map[Long, Doc], g: Int = 1, edited: Set[Long] = Set.empty,
                         removed: Vector[Long] = Vector.empty): Gen[List[Delta]] =
    if (g > 3) Gen.const(Nil)
    else deltaGen(g, m, edited, removed).flatMap { d =>
      val back = d.adds.map(_._1).toSet
      historyGen(applied(m, d), g + 1, edited ++ d.edits.map(_._1),
        (removed ++ d.dels).filterNot(back)).map(d :: _)
    }

  private val histories = scala.collection.concurrent.TrieMap.empty[Int, (Map[Long, Doc], List[Delta])]
  private def history(seed: Int) = histories.getOrElseUpdate(seed, {
    val m = resample(seed)
    (m, historyGen(m).pureApply(Gen.Parameters.default, Seed(seed.toLong)))
  })

  private def textDf(rows: Iterable[(Long, Doc)]): DataFrame =
    rows.toSeq.sortBy(_._1).map { case (id, d) => (id, d.text) }.toDF("doc_id", "text")
  private def vecDf(rows: Iterable[(Long, Doc)]): DataFrame =
    rows.toSeq.sortBy(_._1).map { case (id, d) => (id, d.vec) }.toDF("vec_id", "embedding")
  private def fullDf(rows: Iterable[(Long, Doc)]): DataFrame =
    rows.toSeq.sortBy(_._1).map { case (id, d) => (id, d.text, d.vec) }.toDF("doc_id", "text", "embedding")
  private def idDf(ids: Seq[Long]): DataFrame = ids.toDF("doc_id")
  /** An IVF-PQ index of `m`'s vectors under the given quantizers. */
  private def writeIvf(m: Map[Long, Doc], cents: Array[(Int, Array[Double])],
                       cb: Array[Array[Array[Double]]], to: String): Unit =
    Similarity.writeIndex(Quantize.pqEncode(Similarity.assignCells(vecDf(m), cents), cb), cents, to)

  private def assertSame[T](clue: String, got: Seq[T], want: Seq[T]): Unit =
    assert(got == want, s"$clue: maintained-only ${got.diff(want).take(8)}, rebuild-only ${want.diff(got).take(8)}")
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  /** Independent actions on parallel driver threads (tiny jobs: latency-bound). */
  private def inParallel[T](fs: Seq[() => T]): Seq[T] =
    Await.result(Future.traverse(fs)(f => Future(f())), Duration.Inf)

  test("every seeded history covers the lifecycle shapes") {
    for (seed <- Seeds) {
      val (m0, ds) = history(seed)
      val before = ds.zip(ds.scanLeft(m0)(applied))
      val edited = ds.scanLeft(Set.empty[Long])(_ ++ _.edits.map(_._1))
      val removed = ds.scanLeft(Set.empty[Long])(_ ++ _.dels)
      assert(Seq(200004L, 200005L, 200007L).forall(m0.contains), "empty, whitespace, non-ASCII docs")
      assert(ds.zip(edited).exists { case (d, e) => d.edits.exists(x => e(x._1)) }, "re-edit")
      assert(ds.zip(edited).exists { case (d, e) => d.dels.exists(e) }, "delete after edit")
      assert(ds.zip(removed).exists { case (d, r) => d.adds.exists(x => r(x._1)) }, "re-add")
      assert(before.exists { case (d, m) => d.adds.exists(x => m.values.exists(_ == x._2)) }, "clone")
      assert(ds.exists(_.edits.exists(_._2.text.isEmpty)), "edit empties the text")
      assert(ds.head.adds.exists(_._2.vec.forall(_ == 0.0f)), "zero vector")
    }
  }

  /** One maintained artifact at `dir`: built on the initial corpus,
    * appended to as segment `seg` per generation with `(id, seg)`
    * tombstones for edits and deletes, compacted before generation 3. */
  private abstract class Artifact(root: String, protected var dir: String) {
    protected var seg = 0L
    protected var tombs = Vector.empty[(Long, Long)]
    private var rebuilds = 0
    protected def freshDir(): String = { rebuilds += 1; s"$root/re$rebuilds" }
    protected def tombDf(idCol: String, ts: Seq[(Long, Long)] = tombs): DataFrame =
      ts.toDF(idCol, "before_seg")
    def build(m: Map[Long, Doc]): Unit
    protected def append(d: Delta): Unit
    protected def compactInto(out: String): Unit
    /** `g` = generations applied so far. */
    def check(clue: String, g: Int, m: Map[Long, Doc]): Unit
    def refresh(d: Delta): Unit = { seg += 1; append(d); tombs ++= d.tombIds.map(_ -> seg) }
    def compact(clue: String, g: Int, m: Map[Long, Doc]): Unit = {
      val out = s"$root/compacted"
      compactInto(out)
      dir = out; seg = 0L; tombs = Vector.empty
      check(clue, g, m)
    }
  }

  private def replay(seed: Int, a: Artifact): Unit = {
    val (initial, deltas) = history(seed)
    a.build(initial)
    deltas.zipWithIndex.foldLeft(initial) { case (m, (d, i)) =>
      if (i == 2) a.compact(s"seed $seed compacted before gen 3", 2, m)
      a.refresh(d)
      val next = applied(m, d)
      a.check(s"seed $seed gen ${i + 1}", i + 1, next)
      next
    }
  }

  private class TermIndex(root: String) extends Artifact(root, s"$root/idx") {
    def build(m: Map[Long, Doc]): Unit = TextStats.writeTermIndex(textDf(m), dir, buckets = 32)
    protected def append(d: Delta): Unit = TextStats.appendToTermIndex(textDf(d.changed), dir, seg = seg)
    protected def compactInto(out: String): Unit = TextStats.compactTermIndex(spark, dir, tombDf("doc_id"), out)
    def check(clue: String, g: Int, m: Map[Long, Doc]): Unit = {
      val re = freshDir()
      TextStats.writeTermIndex(textDf(m), re, buckets = 32)
      // frequent / mid / rare corpus terms, an absent term, and terms that
      // only edits (fuzzterm<g>) or added docs (added<g>) carry
      val byFreq = m.values.flatMap(_.text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).distinct)
        .groupBy(identity).toSeq.sortBy { case (w, n) => (-n.size, w) }.map(_._1)
      val Seq(top1, top2, mid, rare) = Seq(0, 1, byFreq.size / 2, byFreq.size - 1).map(byFreq)
      val T = TextStats
      def mor(terms: String*)(mode: String)(d: String, tb: Option[DataFrame]) =
        T.searchTermIndexMoR(spark, d, tb.getOrElse(tombDf("doc_id", Nil)), terms, mode)
      val queries: Seq[(String, (String, Option[DataFrame]) => DataFrame)] = Seq(
        "AND" -> mor(top1, mid)("and"),
        "OR" -> mor(rare, "zzqxvnope")("or"),
        "AND delta-term" -> mor(top1, "fuzzterm2")("and"),
        "bm25" -> ((d, tb) => T.bm25TopK(spark, d, Seq(top1, mid, rare), k = 20, tombstones = tb)),
        "bm25 delta-terms" -> ((d, tb) =>
          T.bm25TopK(spark, d, Seq(s"fuzzterm$g", top2, s"added$g"), k = 20, tombstones = tb)),
        "phrase edit-suffix" -> ((d, tb) => T.phraseSearch(spark, d, Seq(s"e$g", s"fuzzterm$g"), tombstones = tb)),
        "phrase added-doc" -> ((d, tb) =>
          T.phraseSearch(spark, d, Seq(s"added$g", "alpha", "window"), tombstones = tb)),
        "prefix fuzzterm*" -> ((d, tb) => T.prefixSearchTermIndex(spark, d, "fuzzterm", tombstones = tb)))
      val tb = Some(tombDf("doc_id"))
      val answers = inParallel(queries.flatMap { case (_, q) => Seq(() => rows(q(dir, tb)), () => rows(q(re, None))) })
      queries.zip(answers.grouped(2)).foreach { case ((name, _), Seq(got, want)) =>
        assertSame(s"$clue $name", got, want) }
    }
  }

  private class Pairs(root: String) extends Artifact(root, s"$root/shx") {
    private var pairs: DataFrame = _
    private var cc: DataFrame = _
    private def fullPairs(m: Map[Long, Doc]) =
      Dedup.ngramJaccardPairs(textDf(m), k = 3, threshold = 0.5).localCheckpoint(true)
    def build(m: Map[Long, Doc]): Unit = {
      PairMaintenance.writeShingleIndex(textDf(m), dir)
      pairs = fullPairs(m)
      cc = Dedup.dedupClusters(textDf(m), pairs).localCheckpoint(true)
    }
    // each generation refreshes over the previous generation's own outputs
    protected def append(d: Delta): Unit = {
      PairMaintenance.appendToShingleIndex(textDf(d.changed), dir, seg = seg)
      val (c, p) = PairMaintenance.incrementalClusters(spark, dir, pairs, cc,
        changedIds = idDf(d.changed.map(_._1)), removedIds = idDf(d.dels),
        tombstonesOld = tombDf("doc_id"), tombstonesNew = tombDf("doc_id", tombs ++ d.tombIds.map(_ -> seg)),
        refreshSegFrom = seg)
      cc = c.localCheckpoint(true)
      pairs = p.localCheckpoint(true)
    }
    protected def compactInto(out: String): Unit =
      PairMaintenance.compactShingleIndex(spark, dir, tombDf("doc_id"), out)
    def check(clue: String, g: Int, m: Map[Long, Doc]): Unit = {
      val full = fullPairs(m)
      def pairKeys(p: DataFrame) = p.collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).sorted.toSeq
      def labels(c: DataFrame) = c.select("doc_id", "cluster_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assertSame(s"$clue pairs", pairKeys(pairs), pairKeys(full))
      assertSame(s"$clue labels", labels(cc), labels(Dedup.dedupClusters(textDf(m), full)))
    }
  }

  private class Ivf(root: String) extends Artifact(root, s"$root/ivf") {
    private var cents: Array[(Int, Array[Double])] = _
    private var cb: Array[Array[Array[Double]]] = _
    // quantizers train once on the initial corpus: appends assign against them
    def build(m: Map[Long, Doc]): Unit = {
      cents = Similarity.trainCentroids(vecDf(m), nlist = 8, iters = 3, sampleN = 2000)
      cb = Quantize.trainPqCodebooks(vecDf(m), m = 16, ksub = 16, iters = 5, sampleN = 2000)
      writeIvf(m, cents, cb, dir)
    }
    protected def append(d: Delta): Unit = Similarity.appendToIvfIndex(vecDf(d.changed), dir, cb, seg = seg)
    protected def compactInto(out: String): Unit = Similarity.compactIvfIndex(spark, dir, tombDf("vec_id"), out)
    def check(clue: String, g: Int, m: Map[Long, Doc]): Unit = {
      val alive = m.keys.toVector.sorted
      val queries = vecDf((alive.take(5) :+ alive.last).map(id => id -> m(id)))
      // (query, hit, rank, exact rerank distance)
      def serve(d: String, tb: Option[DataFrame]) = {
        val (idx, dc) = Similarity.readIndex(spark, d)
        Similarity.ivfPqTopK(idx, queries, cb, dc, k = 5, nprobe = 4, shortlist = 50, tombstones = tb)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(2))).sorted.toSeq
      }
      val re = freshDir()
      writeIvf(m, cents, cb, re)
      assertSame(clue, serve(dir, Some(tombDf("vec_id"))), serve(re, None))
    }
  }

  /** The whole artifact set, maintained by [[Refresh]] (which numbers its
    * own segments and tombstones), compared through two `/search` servers. */
  private class Orchestrated(root: String) extends Artifact(root, s"$root/r0") {
    private val client = java.net.http.HttpClient.newHttpClient()
    private def get(port: Int, pq: String): (Int, String) = {
      val r = client.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$pq"))
        .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    def build(m: Map[Long, Doc]): Unit = Refresh.buildAll(spark, textDf(m), vecDf(m), dir,
      nlist = 8, m = 16, ksub = 16, trainIters = 3, sampleN = 2000)
    protected def append(d: Delta): Unit = Refresh.refreshCorpus(spark, dir,
      edited = fullDf(d.edits), added = fullDf(d.adds), removedIds = idDf(d.dels))
    protected def compactInto(out: String): Unit = Refresh.consolidate(spark, dir, out,
      nlist = 8, m = 16, ksub = 16, trainIters = 3, sampleN = 2000)
    def check(clue: String, g: Int, m: Map[Long, Doc]): Unit = {
      // the rebuild: term index from text; IVF re-encoded under the
      // maintained quantizers, so hybrid answers must match exactly too
      val a = Refresh.CorpusArtifacts(dir)
      val re = freshDir()
      TextStats.writeTermIndex(textDf(m), s"$re/term_index")
      val (_, cents) = Similarity.readIndex(spark, a.ivfPath)
      val cb = Quantize.readCodebooks(spark, s"${a.ivfPath}/codebooks")
      writeIvf(m, cents, cb, s"$re/ivf")
      Quantize.writeCodebooks(spark, cb, s"$re/ivf/codebooks")
      Similarity.writeIndexMeta(spark, s"$re/ivf", cb)
      val maintained = new graft.api.SearchApi(spark, a.termIndexDir, a.ivfPath,
        termTombstonesPath = Some(a.termTombstonesPath), ivfTombstonesPath = Some(a.ivfTombstonesPath))
      val rebuilt = new graft.api.SearchApi(spark, s"$re/term_index", s"$re/ivf")
      val (pM, pR) = (maintained.start(), rebuilt.start())
      try {
        val alive = m.keys.toVector.sorted
        val pick = m(alive(alive.size / 2))
        // URL-safe words only: punctuation and non-ASCII belong in the index
        val words = pick.text.toLowerCase.split("\\s+").filter(_.matches("[a-z0-9]{2,}")).take(2)
        val reqs = Seq("/search?q=window+scan+merge&k=10",
          s"/search?q=${if (words.isEmpty) "window" else words.mkString("+")}&k=10",
          "/search?phrase=table+scan+merge&k=50", "/search?phrase=alpha+window+scan&k=50",
          "/search?complete=sc&k=8",
          s"/search?q=window+scan+merge&mode=hybrid&k=10&vec=${pick.vec.mkString(",")}")
        val answers = inParallel(reqs.flatMap(r => Seq(() => get(pM, r), () => get(pR, r))))
        reqs.zip(answers.grouped(2)).foreach { case (r, Seq(got, want)) => assert(got == want, s"$clue $r") }
        val (code, status) = get(pM, "/status")
        assert(code == 200 && status.contains("\"consistent\":true"), s"$clue /status: $status")
      } finally { maintained.stop(); rebuilt.stop() }
    }
  }

  private val artifacts: Seq[(String, String => Artifact)] = Seq(
    "term index (boolean, BM25, phrase, prefix)" -> (new TermIndex(_)),
    "shingle index (pairs and cluster labels)" -> (new Pairs(_)),
    "IVF-PQ index (ids, ranks, distances)" -> (new Ivf(_)),
    "refresh orchestrator (/search routes, /status)" -> (new Orchestrated(_)))

  // the seeds' histories are independent: replay them on parallel threads
  for (((name, make), k) <- artifacts.zipWithIndex)
    test(s"$name: maintained ≡ rebuild over the random histories of seeds 1-3") {
      inParallel(Seeds.map(seed => () => replay(seed, make(s"$scratch/a${k}s$seed"))))
    }
}
