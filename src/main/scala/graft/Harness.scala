package graft

import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The one timing harness of the catalog mains (`Bench`, `ScaleBench`,
 * `Verify`, `PlanDump`): the session, the untimed warm-up and the timed
 * rep. A rep times the FULL answer — the executed plan with its final
 * sort and every computed column — not a `count()` that Catalyst may
 * prune down to a scan.
 *
 * Env: `SPARK_GRAFT_CPUS` (local cores, default every available
 * processor), `SPARK_GRAFT_CONF` (comma-separated `key=value` session
 * overrides, e.g. `graft.cc.maxDriverEdges=0` forces a size gate's
 * distributed side), `SPARK_GRAFT_REPS` (best-of count; each main keeps
 * its own default).
 */
object Harness {

  /** One rep split by layer: driver plan build (`fn`), Catalyst analyze,
    * optimize and physical plan, then execution of that same executed
    * plan, with the Spark work it started. */
  final case class Layers(build: Double, analyze: Double, optimize: Double,
                          plan: Double, exec: Double, jobs: Int, stages: Int,
                          shuffleBytes: Long, spillBytes: Long) {
    def seconds: Double = build + analyze + optimize + plan + exec
    def json: String = {
      def f(v: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, v)
      s"""{"build":${f(build)},"analyze":${f(analyze)},"optimize":${f(optimize)},""" +
        s""""plan":${f(plan)},"exec":${f(exec)},"jobs":$jobs,"stages":$stages,""" +
        s""""shuffle_bytes":$shuffleBytes,"spill_bytes":$spillBytes}"""
    }
  }

  def session(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    spark
  }

  def reps(default: Int): Int = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(default)

  /** Untimed warm-up of `sfDir`: the shared event-series fixture (built
    * once from events.parquet, so its derivation is not charged to the
    * first row), the flagship entry (first whole-stage codegen) and the
    * documents and embeddings scans (Parquet footers). Returns the
    * fixture, which a main re-counts before each row: a heavy row's
    * persists can evict its blocks, and the NEXT row would pay the
    * rebuild (observed in-suite: g23 16.7 s vs 1.3 s isolated). */
  def warm(spark: SparkSession, sfDir: String): DataFrame = {
    val fixture = new graft.store.EventSeriesStore(sfDir).allSeries(spark)
    fixture.count()
    SparkEntry.entry(spark).count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    fixture
  }

  /** One timed rep of `fn` in its own scope, so it never reads what an
    * earlier rep cached. Execution runs `toRdd` of the executed plan the
    * split just built: a noop write or `count()` would optimize a second,
    * different plan. A failure is rethrown with the row name — a
    * swallowed error would REDUCE the published total. */
  def time(spark: SparkSession, name: String)(fn: => DataFrame): Layers = {
    val probe = new Probe
    val sc = spark.sparkContext
    sc.addSparkListener(probe)
    try {
      probe.marker(sc, counting = true)
      val ns = graft.core.Scope { _ =>
        try {
          val t0 = System.nanoTime()
          val qe = fn.queryExecution
          val t1 = System.nanoTime()
          qe.assertAnalyzed()
          val t2 = System.nanoTime()
          qe.optimizedPlan
          val t3 = System.nanoTime()
          qe.executedPlan
          val t4 = System.nanoTime()
          qe.toRdd.count()
          Seq(t0, t1, t2, t3, t4, System.nanoTime())
        } catch { case NonFatal(e) => throw new RuntimeException(s"row '$name' failed", e) }
      }
      probe.marker(sc, counting = false)
      val s = ns.sliding(2).map { case Seq(a, b) => (b - a) / 1e9 }.toIndexedSeq
      Layers(s(0), s(1), s(2), s(3), s(4), probe.jobs, probe.stages,
        probe.shuffleBytes, probe.spillBytes)
    } finally sc.removeSparkListener(probe)
  }

  /** Wall seconds of driver-side work with no plan to split (an HTTP
    * round trip, a catalog lookup). */
  def wall(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The fastest of `reps` reps. When the reps disagree by more than
    * 1.5× (a GC pause or a co-resident JVM stole the host mid-row) ONE
    * extra rep runs, so a transient spike cannot stand as the best-of;
    * only unstable rows pay it. */
  def bestOf(spark: SparkSession, name: String, reps: Int)(fn: => DataFrame): Layers = {
    val first = (1 to reps).map(_ => time(spark, name)(fn))
    val secs = first.map(_.seconds)
    val all = if (reps >= 2 && secs.max > 1.5 * secs.min) first :+ time(spark, name)(fn) else first
    all.minBy(_.seconds)
  }

  /** Counts the work between two marker jobs. The listener bus delivers
    * events in order on one thread, so once a marker job's end is seen
    * every event before it has been counted; the markers' own jobs and
    * stages are not. */
  private final class Probe extends SparkListener {
    private val Key = "graft.harness.marker"
    var jobs = 0
    var stages = 0
    var shuffleBytes = 0L
    var spillBytes = 0L
    private var on = false
    private val markers = scala.collection.mutable.Map.empty[Int, String]
    private val seen = new java.util.concurrent.LinkedBlockingQueue[String]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))) match {
        case Some(id) => markers(e.jobId) = id; if (id.startsWith("off")) on = false
        case None => if (on) jobs += 1
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      markers.remove(e.jobId).foreach { id =>
        if (id.startsWith("on")) on = true
        seen.put(id)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      stages += 1
      Option(e.stageInfo.taskMetrics).foreach { m =>
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.diskBytesSpilled
      }
    }

    /** Run a one-task marker job and wait until the bus delivered its
      * end: counting starts after an `on` marker and stops at an `off`. */
    def marker(sc: org.apache.spark.SparkContext, counting: Boolean): Unit = {
      val id = s"${if (counting) "on" else "off"}:${java.util.UUID.randomUUID()}"
      sc.setLocalProperty(Key, id)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Key, null)
      if (seen.poll(60, java.util.concurrent.TimeUnit.SECONDS) != id)
        throw new IllegalStateException("listener bus never delivered the marker job")
    }
  }
}
