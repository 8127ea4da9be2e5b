package servebench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Random

/** One generated document: its text and its embedding move together, the
  * lockstep a refresh delta needs. */
final case class Doc(id: Long, text: String, embedding: Array[Float])

/** One refresh delta: edited and added documents plus removed ids. */
final case class Delta(edited: Seq[Doc], added: Seq[Doc], removed: Seq[Long])

/** One `/search` request; `terms` etc. are what the direct call needs. */
final case class SearchReq(mode: String, path: String, terms: Seq[String],
                           text: String, vec: Array[Float], k: Int,
                           bulk: Seq[Seq[String]])

/**
 * Seeded inputs of the `search` and `refresh` workloads: a Zipf-distributed
 * vocabulary, documents with clustered embeddings, refresh deltas of fixed
 * size, and the query stream. Query terms are drawn from fixed
 * document-frequency rank bands, so the seed picks which words a query
 * uses but not how many postings it touches.
 */
final class CorpusGen(val seed: Long) {
  import CorpusGen._

  val vocab: Vector[String] = {
    val r = new Random(seed ^ 0x70cabL)
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < Vocab) {
      val syl = 2 + r.nextInt(2)
      seen += (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }
    seen.toVector
  }

  // Zipf(1.0) over vocabulary ranks
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Vocab)(i => 1.0 / (i + 1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }
  private def word(r: Random): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocab(math.min(Vocab - 1, if (i >= 0) i else -i - 1))
  }

  private val centers: Array[Array[Float]] = {
    val r = new Random(seed ^ 0xce17e5L)
    Array.fill(Topics)(Array.fill(Dim)(r.nextGaussian().toFloat))
  }

  /** Document `id` at `version` (0 = initial; an edit bumps the version). */
  def doc(id: Long, version: Int = 0): Doc = {
    val r = new Random(seed * 31L + id * 1000003L + version)
    val len = MinLen + r.nextInt(MaxLen - MinLen + 1)
    val text = Iterator.fill(len)(word(r)).mkString(" ")
    val c = centers(r.nextInt(Topics))
    Doc(id, text, Array.tabulate(Dim)(d => c(d) + (r.nextGaussian() * 0.3).toFloat))
  }

  def corpus: Vector[Doc] = Vector.tabulate(Docs)(i => doc(i.toLong))

  /** A stream of deltas over the live corpus: each has exactly
    * [[Edits]] edits, [[Adds]] adds and [[Removes]] removals, pairwise
    * disjoint, removals and edits drawn from live ids, adds fresh. */
  final class Deltas(salt: Long) {
    private val r = new Random(seed ^ salt)
    private val alive = scala.collection.mutable.ArrayBuffer.range(0L, Docs.toLong)
    private val version = scala.collection.mutable.HashMap.empty[Long, Int]
    private var nextId = Docs.toLong
    def next(): Delta = {
      val picked = r.shuffle(alive.indices.toVector).take(Edits + Removes)
      val ids = picked.map(alive)
      val edited = ids.take(Edits).map { id =>
        val v = version.getOrElse(id, 0) + 1; version(id) = v; doc(id, v)
      }
      val removed = ids.drop(Edits)
      picked.drop(Edits).sorted.reverse.foreach(alive.remove)
      val added = Vector.fill(Adds) { val d = doc(nextId); nextId += 1; d }
      alive ++= added.map(_.id)
      Delta(edited, added, removed)
    }
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)
  private def band(r: Random, b: (Int, Int)) = vocab(b._1 + r.nextInt(b._2 - b._1))
  /** One head, one body and one tail term: fixed df bands. */
  private def bm25Terms(r: Random) = Seq(band(r, HeadBand), band(r, BodyBand), band(r, TailBand))

  /** The query stream: modes in the fixed order of [[ModeCycle]], so every
    * run at every seed serves the same mix in the same order; every raw
    * query string is unique, so the response cache never hits. */
  def queries(n: Int, docs: Vector[Doc]): Vector[SearchReq] = {
    val r = new Random(seed ^ 0x9e37L)
    val seen = scala.collection.mutable.HashSet.empty[String]
    Vector.tabulate(n) { i =>
      val mode = ModeCycle(i % ModeCycle.size)
      var q = query(mode, r, docs)
      while (!seen.add(q.path)) q = query(mode, r, docs)
      q
    }
  }

  private def query(mode: String, r: Random, docs: Vector[Doc]): SearchReq = {
    val k = 5 + r.nextInt(11)
    mode match {
      case "bm25" =>
        val t = bm25Terms(r)
        SearchReq(mode, s"/search?q=${t.mkString("+")}&k=$k", t, "", null, k, Nil)
      case "hybrid" =>
        val t = bm25Terms(r)
        val d = docs(r.nextInt(docs.size))
        val v = d.embedding.map(x => (x + r.nextGaussian() * 0.05).toFloat)
        SearchReq(mode, s"/search?q=${t.mkString("+")}&mode=hybrid&k=$k&vec=" +
          enc(v.mkString(",")), t, "", v, k, Nil)
      case "phrase" =>
        // three consecutive words of a live document: at least one hit
        val w = docs(r.nextInt(docs.size)).text.split(' ')
        val i = r.nextInt(w.length - 2)
        val t = w.slice(i, i + 3).toSeq
        SearchReq(mode, s"/search?phrase=${t.mkString("+")}&k=$k", t, "", null, k, Nil)
      case "glob" =>
        val w = band(r, BodyBand)
        val g = w.take(2) + "*" + w.last
        SearchReq(mode, s"/search?glob=${enc(g)}&k=$k", Nil, g, null, k, Nil)
      case "complete" =>
        val p = band(r, BodyBand).take(3)
        SearchReq(mode, s"/search?complete=$p&k=$k", Nil, p, null, k, Nil)
      case _ =>
        val qs = Vector.fill(BulkQueries)(bm25Terms(r).take(2))
        SearchReq("bulk", s"/search?bulk=${qs.map(_.mkString("+")).mkString(";")}&k=$k",
          Nil, "", null, k, qs)
    }
  }
}

object CorpusGen {
  val Vocab = 3000
  val Docs = 1500
  val MinLen = 30
  val MaxLen = 70
  val Dim = 64
  val Topics = 16
  val Edits = 15
  val Adds = 10
  val Removes = 5
  val BulkQueries = 10
  val SetupDeltas = 1
  val Buckets = 8
  val HeadBand: (Int, Int) = (5, 50)
  val BodyBand: (Int, Int) = (50, 500)
  val TailBand: (Int, Int) = (500, 2000)
  /** Mode order of the query stream, cycled. Two thirds of the single
    * queries are bm25, interleaved with the faster complete/phrase/glob and
    * the slower hybrid, so the median single-query latency of any run
    * sits inside bm25's band. */
  val ModeCycle: Vector[String] = Vector("bm25", "complete", "bm25", "phrase", "bm25", "bulk",
    "glob", "bm25", "hybrid", "bm25", "bm25", "complete", "bm25", "phrase", "bm25", "bm25",
    "bm25", "bm25", "bm25", "bm25")
}
