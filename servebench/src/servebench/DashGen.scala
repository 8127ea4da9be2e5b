package servebench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Random

/** The dashboard namespace `dc.role.host.sub.metric`. Every level has a
  * fixed width, so a glob's fan-out depends only on where its wildcards
  * sit, never on the seed: the seed picks names, not cost. */
final case class Namespace(dcs: Vector[String], roles: Vector[String],
                           hosts: Vector[String], subs: Vector[String],
                           metrics: Vector[String]) {
  val size: Int = dcs.size * roles.size * hosts.size * subs.size * metrics.size

  /** Series `i` in a fixed mixed-radix order (metric fastest). */
  def parts(i: Int): Vector[String] = {
    var r = i
    val m = metrics(r % metrics.size); r /= metrics.size
    val s = subs(r % subs.size); r /= subs.size
    val h = hosts(r % hosts.size); r /= hosts.size
    val ro = roles(r % roles.size); r /= roles.size
    Vector(dcs(r), ro, h, s, m)
  }
  def name(i: Int): String = parts(i).mkString(".")
  def tags(i: Int): Map[String, String] = {
    val p = parts(i)
    Map("name" -> p.mkString("."), "dc" -> p(0), "role" -> p(1),
      "host" -> p(2), "sub" -> p(3), "metric" -> p(4))
  }
  lazy val names: Vector[String] = Vector.tabulate(size)(name)
  lazy val index: Map[String, Int] = names.zipWithIndex.toMap
}

/**
 * Seeded inputs of the `dashboard` workload: the series store content and
 * the request stream. Values are a pure function of (seed, series index),
 * so the answer checker recomputes any series instead of holding the
 * whole store in memory.
 */
final class DashGen(val seed: Long) extends Serializable {
  import DashGen._

  val ns: Namespace = {
    val r = new Random(seed)
    def pick(pool: Seq[String], n: Int) = r.shuffle(pool).take(n).toVector.sorted
    val hostBase = pick(HostPool, 1).head
    Namespace(
      pick(DcPool, Dcs), pick(RolePool, Roles),
      r.shuffle((100 until 1000).toVector).take(Hosts).sorted.map(n => s"$hostBase$n"),
      pick(SubPool, Subs), pick(MetricPool, Metrics))
  }

  /** Random walk with NaN gaps; ~3% of points missing. */
  def values(i: Int): Array[Double] = {
    val r = new Random(seed * 1000003L + i)
    val out = new Array[Double](Points)
    var v = 10.0 + r.nextInt(90)
    var gap = 0
    var k = 0
    while (k < Points) {
      v = math.max(0.0, v + (r.nextInt(201) - 100) / 50.0)
      if (gap > 0) { out(k) = Double.NaN; gap -= 1 }
      else if (r.nextInt(200) == 0) { out(k) = Double.NaN; gap = r.nextInt(10) }
      else out(k) = v
      k += 1
    }
    out
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  /** The request stream: a fixed cycle (which shape, target count, window
    * band and metadata route sits at each position never changes), so
    * every run at every seed serves the same mix in the same order; the
    * seed picks names and window positions only. One cycle's first 20
    * renders already carry every shape. Every render key is unique, so
    * the response cache never hits. */
  def requests(n: Int): Vector[DashReq] = {
    val r = new Random(seed ^ 0x5eed5eedL)
    val seen = scala.collection.mutable.HashSet.empty[String]
    var shape = 0
    var render = 0
    var meta = 0
    Vector.tabulate(n) { i =>
      if (i % MetaEvery == MetaEvery - 1) {
        meta += 1
        this.meta(r, MetaOrder((meta - 1) % MetaOrder.size))
      } else {
        val k = TargetCounts(render % TargetCounts.size)
        val shapes = (0 until k).map(j => (shape + j) % Shapes.size)
        shape += k
        val band = WindowBands(render % WindowBands.size)
        render += 1
        this.render(r, shapes, band, seen)
      }
    }
  }

  private def render(r: Random, shapes: Seq[Int], band: Long,
                     seen: scala.collection.mutable.HashSet[String]): DashReq = {
    val targets = shapes.map(s => Target(s, Shapes(s).expr(ns, r)))
    // window length up to 10% below its band, aligned to the step; windows
    // shorter than a day stay inside one store window (day) and longer
    // ones span both, so the partitions a render reads never depend on
    // the seed
    val len = band - (1 + r.nextInt((band / 10 / Step).toInt)) * Step
    val (lo, hi) =
      if (len < WindowSec) { val d = T0 + r.nextInt(2) * WindowSec; (d, d + WindowSec - len) }
      else (T0, T0 + Span - len)
    var from = lo + r.nextInt(((hi - lo) / Step).toInt + 1) * Step
    val mdp = 300 + r.nextInt(701)
    def key(f: Long) = targets.map(_.expr).mkString("|") + s"@$f+$len/$mdp"
    while (seen.contains(key(from))) from = if (from + Step <= hi) from + Step else lo
    seen += key(from)
    val q = targets.map(t => "target=" + enc(t.expr)).mkString("&") +
      s"&from=$from&until=${from + len}&format=json&maxDataPoints=$mdp"
    DashReq("render", "/render?" + q, targets, from, from + len, mdp)
  }

  private def meta(r: Random, j: Int): DashReq = {
    val p = ns.parts(r.nextInt(ns.size))
    val (route, q) = j match {
      case 0 => ("find", s"/metrics/find?query=${p(0)}.*")
      case 1 => ("find", s"/metrics/find?query=${p(0)}.${p(1)}.*")
      case 2 => ("find", s"/metrics/find?query=${p(0)}.${p(1)}.${p(2)}.*")
      case 3 => ("find", s"/metrics/find?query=${p(0)}.${p(1)}.${p(2)}.${p(3)}.*")
      case 4 => ("find", s"/metrics/find?query=*.${p(1)}")
      case 5 => ("expand", s"/metrics/expand?query=${p(0)}.${p(1)}.*.${p(3)}")
      case 6 => ("expand", s"/metrics/expand?query=${p(0)}.*.${p(2).take(3)}*")
      case 7 => ("expand", s"/metrics/expand?query=*.${p(1)}.*.${p(3)}.${p(4)}")
      case 8 => ("expand", s"/metrics/expand?query=${p(0)}.${p(1)}.${p(2)}.*.*")
      case 9 => ("tags", s"/tags/autoComplete/tags?tagPrefix=${TagKeys(r.nextInt(TagKeys.size)).take(1)}")
      case 10 => ("tags", "/tags/autoComplete/tags?limit=" + (3 + r.nextInt(4)))
      case 11 => ("tags", s"/tags/autoComplete/tags?expr=${enc("dc=" + p(0))}")
      case 12 => ("values", s"/tags/autoComplete/values?tag=role&valuePrefix=${p(1).take(1)}")
      case 13 => ("values", s"/tags/autoComplete/values?tag=sub&valuePrefix=${p(3).take(1)}")
      case _ => ("values", s"/tags/autoComplete/values?tag=dc&expr=${enc("role=" + p(1))}")
    }
    DashReq(route, q, Nil, 0L, 0L, 0)
  }
}

/** One dashboard request: a `/render` (targets, window, maxDataPoints) or
  * a metadata route. */
final case class DashReq(route: String, path: String, targets: Seq[Target],
                         from: Long, until: Long, mdp: Int) {
  def isRender: Boolean = route == "render"
}
final case class Target(shape: Int, expr: String)

/** A templated target: `checkable` shapes have answers the checker derives
  * from the generator's values; the rest are checked against the engine
  * evaluated in-process. */
final case class Shape(name: String, checkable: Boolean,
                       expr: (Namespace, Random) => String)

object DashGen {
  val Dcs = 4; val Roles = 4; val Hosts = 8; val Subs = 4; val Metrics = 2
  val Step = 60L
  val T0 = 1600041600L // 2020-09-14T00:00Z, a day boundary
  val Span: Long = 2 * 86400L
  val Points: Int = (Span / Step).toInt
  val WindowSec = 86400L
  /** Every sixth request (~17%) is a metadata request. */
  val MetaEvery = 6
  /** Metadata variants (see `meta`), ordered so routes alternate. */
  val MetaOrder: Vector[Int] = Vector(0, 5, 9, 12, 1, 6, 10, 13, 2, 7, 11, 14, 3, 8, 4)
  /** Targets per render, cycled: 1 to 4 targets, mostly 1, like panels. */
  val TargetCounts: Vector[Int] = Vector(1, 1, 2, 1, 1, 1, 3, 1, 1, 1, 2, 1, 4, 1, 1, 1, 2, 1, 1, 1, 3, 1, 1, 1, 2)
  /** Window lengths, cycled (shortened by up to 10% per request). */
  val WindowBands: Vector[Long] = Vector(3600L, 6 * 3600L, 86400L, Span)

  private val DcPool = Seq("ams", "fra", "iad", "lhr", "nrt", "sjc", "syd", "gru", "sin", "ord", "cdg", "dfw")
  private val RolePool = Seq("web", "db", "cache", "queue", "api", "batch", "proxy", "search", "auth", "etl")
  private val HostPool = Seq("h", "node", "srv", "box", "vm")
  private val SubPool = Seq("cpu", "mem", "disk", "net", "io", "load", "proc", "fs")
  private val MetricPool = Seq("user", "system", "idle", "wait", "rx", "tx", "used", "free", "errs", "drops")
  val TagKeys: Vector[String] = Vector("dc", "role", "host", "sub", "metric")

  private def pick(v: Vector[String], r: Random) = v(r.nextInt(v.size))
  /** `dc.role.*.sub.metric` — fan-out Hosts. */
  private def hostGlob(ns: Namespace, r: Random) =
    s"${pick(ns.dcs, r)}.${pick(ns.roles, r)}.*.${pick(ns.subs, r)}.${pick(ns.metrics, r)}"
  private def one(ns: Namespace, r: Random) = ns.name(r.nextInt(ns.size))
  private def hostSubs(ns: Namespace, r: Random) = {
    val p = ns.parts(r.nextInt(ns.size)); s"${p(0)}.${p(1)}.${p(2)}.${p(3)}.*"
  }

  /** The templates, ordered so cheap, middling and costly shapes
    * alternate: any run of consecutive positions has a similar cost mix. */
  val Shapes: Vector[Shape] = Vector(
    Shape("glob", true, hostGlob),
    Shape("averageSeries", true, (ns, r) => s"averageSeries(${hostGlob(ns, r)})"),
    Shape("asPercent", false, (ns, r) => s"asPercent(${hostGlob(ns, r)})"),
    Shape("groupByNodeSum", false, (ns, r) =>
      s"groupByNode(${pick(ns.dcs, r)}.${pick(ns.roles, r)}.*.${pick(ns.subs, r)}.*,4,'sum')"),
    Shape("timeShift", false, (ns, r) => s"timeShift(${one(ns, r)},'1h')"),
    Shape("movingAverageTime", false, (ns, r) => s"movingAverage(${hostGlob(ns, r)},'5min')"),
    Shape("limit", false, (ns, r) => s"limit(${hostGlob(ns, r)},5)"),
    Shape("highestMax", false, (ns, r) => s"highestMax(${hostGlob(ns, r)},3)"),
    Shape("divideSeries", false, (ns, r) => {
      val d = pick(ns.dcs, r); val ro = pick(ns.roles, r); val s = pick(ns.subs, r)
      val ms = r.shuffle(ns.metrics).take(2)
      s"divideSeries(sumSeries($d.$ro.*.$s.${ms(0)}),sumSeries($d.$ro.*.$s.${ms(1)}))"
    }),
    Shape("sortByTotal", false, (ns, r) => s"sortByTotal(${hostSubs(ns, r)})"),
    Shape("globMetrics", true, hostSubs),
    Shape("aliasByNode", false, (ns, r) => s"aliasByNode(${hostGlob(ns, r)},2)"),
    Shape("perSecond", false, (ns, r) => s"perSecond(${hostSubs(ns, r)})"),
    Shape("summarize", false, (ns, r) => s"summarize(${one(ns, r)},'1h','sum')"),
    Shape("plain", true, one),
    Shape("averageSeriesHosts", false, (ns, r) =>
      s"averageSeries(${pick(ns.dcs, r)}.${pick(ns.roles, r)}.*.*.${pick(ns.metrics, r)})"),
    Shape("sumSeriesRoles", false, (ns, r) =>
      s"sumSeries(${pick(ns.dcs, r)}.*.*.${pick(ns.subs, r)}.${pick(ns.metrics, r)})"),
    Shape("movingAveragePoints", false, (ns, r) => s"movingAverage(${hostSubs(ns, r)},10)"),
    Shape("groupByNodeAvg", false, (ns, r) =>
      s"groupByNode(${pick(ns.dcs, r)}.*.*.${pick(ns.subs, r)}.${pick(ns.metrics, r)},1,'avg')"),
    Shape("highestAverage", false, (ns, r) => s"highestAverage(${hostGlob(ns, r)},2)"),
    Shape("timeShiftSum", false, (ns, r) => s"timeShift(sumSeries(${hostGlob(ns, r)}),'1d')"),
    Shape("sortByMaxima", false, (ns, r) => s"sortByMaxima(${hostGlob(ns, r)})"),
    Shape("sumSeries", true, (ns, r) => s"sumSeries(${hostGlob(ns, r)})"),
    Shape("aliasByNodeMoving", false, (ns, r) =>
      s"aliasByNode(movingAverage(${hostSubs(ns, r)},5),4)"),
    Shape("maxSeriesDcs", false, (ns, r) =>
      s"maxSeries(*.${pick(ns.roles, r)}.*.${pick(ns.subs, r)}.${pick(ns.metrics, r)})"))
}
