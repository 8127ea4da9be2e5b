package servebench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

final case class Env(spark: SparkSession, work: Path, seed: Long, seconds: Int, clients: Int)

final case class Metric(name: String, value: Double, unit: String)

/** A run's result: ops attempted and failed (non-200, timeout, cache hit
  * or wrong answer), of which `wrong` were answered wrongly; metrics with
  * the sample counts behind them and each count's floor. */
final case class Outcome(attempted: Long, failed: Long, wrong: Long,
                         e2e: Seq[Metric] = Nil, layer: Seq[Metric] = Nil,
                         samples: Map[String, Int] = Map.empty,
                         floors: Map[String, Int] = Map.empty,
                         cacheHits: Int = 0, primaryMs: Seq[Double] = Nil)

/**
 * The serving benchmark's load generator. One JVM starts the real servers
 * over seed-generated inputs, drives one workload with closed-loop
 * clients, checks every answer and prints one JSON result line:
 *
 *   servebench.Main --workload dashboard|search --seed N
 *                   --seconds S --trace 0|1 --work DIR
 *
 * `--trace 1` replays the workload through each layer's public functions
 * with spans and a Spark listener, and prints per-layer metrics instead.
 */
object Main {

  /** Samples each timing needs; a run under a floor exits non-zero. A
    * timed phase yields 10-20 primary requests, so only the median is a
    * metric; the detail line adds the highest percentile with ten samples
    * beyond it, when there is one. */
  val Floors: Map[String, Int] = Map("req_p50_ms" -> 6, "req_per_s" -> 6)

  /** End-to-end metrics every untraced run prints. `req_*` is the
    * workload's primary request: `/render` on dashboard, single-query
    * `/search` on search. The live heap goes to the detail line only: on
    * search it varies by a quarter from run to run. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "req_p50_ms" -> "ms",
    "req_per_s" -> "req/s")

  /** Per-layer metrics every traced run prints; a layer a workload leaves
    * idle reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "parser.parse_ms" -> "ms", "engine.build_ms" -> "ms", "engine.build_jobs" -> "count",
    "engine.release_ms" -> "ms", "spark.analyze_ms" -> "ms", "spark.optimize_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.sched_delay_ms" -> "ms",
    "spark.input_mb" -> "MB", "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.gc_ms" -> "ms", "spark.persisted_rdds_delta" -> "count", "spark.storage_mb_end" -> "MB",
    "store.write_s" -> "s", "store.files_read" -> "count", "store.scan_rows_per_result" -> "ratio",
    "api.http_ms" -> "ms", "api.consolidate_ms" -> "ms", "api.serialize_ms" -> "ms",
    "api.response_kb" -> "KB", "api.catalog_ms" -> "ms", "api.cache_hits" -> "count",
    "pipeline.bm25_ms" -> "ms", "pipeline.phrase_ms" -> "ms", "pipeline.glob_ms" -> "ms",
    "pipeline.complete_ms" -> "ms", "pipeline.hybrid_ms" -> "ms", "pipeline.bulk_ms" -> "ms",
    "pipeline.append_ms" -> "ms",
    "trace.untraced_p50_ms" -> "ms", "trace.traced_p50_ms" -> "ms", "trace.overhead_ms" -> "ms",
    "trace.accounted_ms" -> "ms")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    require(seconds > 0, "--seconds must be positive")
    Files.createDirectories(work)
    val clients = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.builder(s"local[$clients]", clients)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val env = Env(spark, work, seed, seconds, clients)
    val tracer = new Tracer
    val listener = new OpListener
    val out =
      try {
        if (trace) spark.sparkContext.addSparkListener(listener)
        workload match {
          case "dashboard" => dashboard(env, trace, tracer, listener)
          case "search" => search(env, trace, tracer, listener)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
      } finally spark.stop()
    if (trace) tracer.write(work.resolve(s"../traces/$workload-seed$seed.jsonl").normalize())
    report(workload, out, trace)
    sys.exit(0)
  }

  /** Set-up seconds: one full set-up (generate, write, start, first
    * requests of the mount) plus one warm-up pass over every request shape.
    * A second set-up would add 5-13 s to a run that should take a minute. */
  private def setupAll(setup: () => Double, warm: () => Unit): Double = {
    val s = setup()
    log(f"set-up: $s%.1f s")
    val t = System.nanoTime()
    warm()
    val w = (System.nanoTime() - t) / 1e9
    log(f"warm-up pass: $w%.1f s")
    s + w
  }

  private val started = System.nanoTime()
  /** Progress on standard error, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"servebench ${(System.nanoTime() - started) / 1e9}%6.1f s: $msg")

  private def dashboard(env: Env, trace: Boolean, tr: Tracer, ls: OpListener): Outcome = {
    val d = new Dashboard(env)
    try {
      val setupS = setupAll(() => d.setup(), () => d.warmAll())
      if (trace) d.traced(tr, ls) else withSetup(d.run(), setupS)
    } finally d.close()
  }

  private def search(env: Env, trace: Boolean, tr: Tracer, ls: OpListener): Outcome = {
    val s = new Search(env)
    try {
      val setupS = setupAll(() => s.setup(), () => s.warmAll())
      if (trace) s.traced(tr, ls) else withSetup(s.run(), setupS)
    } finally s.close()
  }

  private def withSetup(o: Outcome, setupS: Double): Outcome =
    o.copy(e2e = Metric("setup_s", setupS, "s") +: o.e2e)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def report(workload: String, o: Outcome, trace: Boolean): Unit = {
    val under = o.floors.collect { case (k, f) if o.samples.getOrElse(k, 0) < f =>
      s"$k has ${o.samples.getOrElse(k, 0)} samples, floor $f" }
    val detail = o.samples.toSeq.sorted.map { case (k, n) => s""""$k":$n""" }.mkString(",")
    val p = Stats.highestSupported(o.primaryMs.size)
    val tail =
      if (o.primaryMs.size * (1 - p / 100) < 10) ""
      else s""","tail":{"p":$p,"ms":${num(Stats.percentile(o.primaryMs, p))}}"""
    val heap = o.e2e.find(_.name == "heap_live_mb").map(m => s""","heap_live_mb":${num(m.value)}""").getOrElse("")
    println(s"""{"workload":"$workload","samples":{$detail},"cache_hits":${o.cacheHits},""" +
      s""""wrong_answers":${o.wrong}$tail$heap}""")
    if (under.nonEmpty) {
      System.err.println("sample floor not met: " + under.mkString("; "))
      sys.exit(3)
    }
    val got = (if (trace) o.layer else o.e2e).map(m => m.name -> m).toMap
    val ms = (if (trace) PerLayer else EndToEnd).map { case (name, unit) =>
      val v = got.get(name).map(_.value).getOrElse(0.0)
      s""""$name":{"value":${num(v)},"unit":"$unit"}"""
    }.mkString(",")
    println(s"""{"correct":${o.wrong == 0 && o.cacheHits == 0},"attempted":${o.attempted},""" +
      s""""failed":${o.failed},"metrics":{$ms}}""")
  }
}
