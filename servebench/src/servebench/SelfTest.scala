package servebench

/** The benchmark's own tests (no Spark): `python3 servebench/run.py --self-test`. */
object SelfTest {
  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def digest(xs: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
  private def dashDigest(g: DashGen) =
    digest(Iterator.range(0, g.ns.size).map(i => g.ns.name(i) + g.values(i).mkString(",")))
  private def corpusDigest(g: CorpusGen) = {
    val d = new g.Deltas(1L)
    digest(g.corpus.iterator.map(x => x.text + x.embedding.mkString(",")) ++
      Iterator.fill(3)(d.next()).map(x => (x.edited ++ x.added).map(y => y.id + y.text).mkString + x.removed))
  }

  def main(args: Array[String]): Unit = {
    val n = 2000
    check("same seed gives the same dashboard requests and data") {
      val (a, b) = (new DashGen(7), new DashGen(7))
      a.requests(n) == b.requests(n) && dashDigest(a) == dashDigest(b)
    }
    check("another seed gives other names and data") {
      val (a, b) = (new DashGen(7), new DashGen(8))
      a.requests(50) != b.requests(50) && dashDigest(a) != dashDigest(b)
    }
    check("same seed gives the same queries and corpus") {
      val (a, b) = (new CorpusGen(7), new CorpusGen(7))
      a.queries(n, a.corpus).map(_.path) == b.queries(n, b.corpus).map(_.path) &&
        corpusDigest(a) == corpusDigest(b)
    }
    check("no render or search cache key repeats within a run") {
      val r = new DashGen(3).requests(20000).filter(_.isRender).map(_.path)
      val g = new CorpusGen(3)
      val q = g.queries(10000, g.corpus).map(_.path)
      r.distinct.size == r.size && q.distinct.size == q.size
    }
    check("percentile rule: highest percentile with ten samples beyond it") {
      Stats.highestSupported(9) == 50.0 && Stats.highestSupported(40) == 75.0 &&
        Stats.highestSupported(100) == 90.0 && Stats.highestSupported(199) == 90.0 &&
        Stats.highestSupported(200) == 95.0 && Stats.highestSupported(1000) == 99.0 &&
        Stats.highestSupported(10000) == 99.9 &&
        Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0 &&
        Stats.median(Seq(1.0, 3.0, 2.0, 4.0)) == 2.5
    }
    check("dashboard mix: same shape/kind/target-count/window histogram at any seed") {
      def hist(g: DashGen) = {
        val rs = g.requests(9000) // whole cycles of shapes, counts, bands and routes
        (rs.groupBy(_.route).view.mapValues(_.size).toMap,
          rs.flatMap(_.targets.map(t => DashGen.Shapes(t.shape).name)).groupBy(identity).view.mapValues(_.size).toMap,
          rs.filter(_.isRender).groupBy(_.targets.size).view.mapValues(_.size).toMap,
          rs.filter(_.isRender).groupBy(r => DashGen.WindowBands.reverse.find(b => r.until - r.from > b * 0.85).get)
            .view.mapValues(_.size).toMap)
      }
      hist(new DashGen(1)) == hist(new DashGen(2)) && hist(new DashGen(1)) == hist(new DashGen(99))
    }
    check("dashboard fan-out per shape is seed-independent") {
      def fan(g: DashGen) = g.requests(500).filter(_.isRender).flatMap(_.targets)
        .map(t => DashGen.Shapes(t.shape).name -> """[a-z]+\.[a-z0-9*]+\.[a-z0-9*]+\.[a-z*]+\.[a-z*]+""".r
          .findAllIn(t.expr).map(p => g.ns.names.count(Check.globMatch(p, _))).toVector).toSet
      fan(new DashGen(1)) == fan(new DashGen(5))
    }
    check("search mix: same mode histogram at any seed") {
      def modes(g: CorpusGen) = g.queries(CorpusGen.ModeCycle.size * 30, g.corpus).groupBy(_.mode).view.mapValues(_.size).toMap
      modes(new CorpusGen(1)) == modes(new CorpusGen(2))
    }
    check("search terms come from their document-frequency bands") {
      val g = new CorpusGen(4)
      val rank = g.vocab.zipWithIndex.toMap
      g.queries(400, g.corpus).filter(_.mode == "bm25").forall { q =>
        val rs = q.terms.map(rank)
        rs(0) >= CorpusGen.HeadBand._1 && rs(0) < CorpusGen.HeadBand._2 &&
          rs(1) >= CorpusGen.BodyBand._1 && rs(1) < CorpusGen.BodyBand._2 &&
          rs(2) >= CorpusGen.TailBand._1 && rs(2) < CorpusGen.TailBand._2
      }
    }
    check("refresh deltas have fixed sizes and disjoint id sets") {
      val g = new CorpusGen(5)
      val d = new g.Deltas(2L)
      (0 until 30).map(_ => d.next()).forall { x =>
        val ids = x.edited.map(_.id) ++ x.added.map(_.id) ++ x.removed
        x.edited.size == CorpusGen.Edits && x.added.size == CorpusGen.Adds &&
          x.removed.size == CorpusGen.Removes && ids.distinct.size == ids.size
      }
    }
    check("self times subtract child spans") {
      val t = new Tracer
      t.request(1L, "op") { t.span("a")(Thread.sleep(20)); t.span("b")(Thread.sleep(20)) }
      val s = t.selfTimes
      s((1L, "op")) < 10.0 && s((1L, "a")) >= 19.0 && s((1L, "b")) >= 19.0
    }
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
