package servebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** One timed interval. `op` groups the spans of one request; `parent` is
  * the span that caused this one (-1 for a request's root). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; written out once, when the run ends. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val curOp = new ThreadLocal[Long] { override def initialValue() = -1L }

  /** Run `body` as the root span of request `op`. */
  def request[T](op: Long, name: String)(body: => T): T = {
    curOp.set(op)
    try span(name)(body) finally curOp.set(-1L)
  }

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(-1L)
    stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, curOp.get(), name, t0, System.nanoTime()))
      stack.set(stack.get().tail)
    }
  }

  def all: Vector[Span] = spans.asScala.toVector

  /** Self time per (op, span name): duration minus the union of the
    * intervals its child spans cover. */
  def selfTimes: Map[(Long, String), Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Vector.empty).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L; var hi = Long.MinValue
      kids.foreach { case (a, b) =>
        val lo = math.max(a, hi)
        if (b > lo) covered += b - lo
        hi = math.max(hi, b)
      }
      (s.op, s.name) -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark work attributed per job tag: the benchmark tags its calling
  * thread, every job started there carries the tag, and this listener sums
  * the job's stages and tasks under it. */
final class OpListener extends SparkListener {
  final class Counts {
    val jobs, stages, tasks, schedDelayMs, inputBytes, shuffleBytes, spillBytes, gcMs = new AtomicLong
  }
  val byTag = new ConcurrentHashMap[String, Counts]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()

  private def counts(tag: String) = byTag.computeIfAbsent(tag, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil).filter(_.startsWith(OpListener.Prefix))
    tags.headOption.foreach { t =>
      counts(t).jobs.incrementAndGet()
      e.stageIds.foreach(stageTag.put(_, t))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmit.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    Option(stageTag.get(id)).foreach(t => counts(t).stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { t =>
      val c = counts(t)
      c.tasks.incrementAndGet()
      val sub = stageSubmit.get(e.stageId)
      if (e.taskInfo != null && sub != 0L) c.schedDelayMs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub))
      val m = e.taskMetrics
      if (m != null) {
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
    }

  def get(tag: String): Option[Counts] = Option(byTag.get(tag))
}

object OpListener {
  val Prefix = "servebench-"
  def tag(op: Long, phase: String): String = s"$Prefix$op-$phase"

  /** Run `body` with job tag `tag` on this thread. */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    spark.sparkContext.addJobTag(tag)
    try body finally spark.sparkContext.removeJobTag(tag)
  }
}

/** Metrics read from outside the program: the executed plan's scans, the
  * driver heap, the block store. */
object Probe {
  /** Force Catalyst's phases one at a time, each in its own span. */
  def plan(tr: Tracer, df: DataFrame): Unit = {
    val qe = df.queryExecution
    tr.span("spark.analyze")(qe.analyzed)
    tr.span("spark.optimize")(qe.optimizedPlan)
    tr.span("spark.plan")(qe.executedPlan)
  }

  /** (files read, rows output) over every Parquet scan an executed plan
    * ran, through adaptive stages and in-memory relations. */
  def scanStats(df: DataFrame): (Long, Long) = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    var files = 0L; var rows = 0L
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case i: InMemoryTableScanExec => walk(i.relation.cachedPlan)
      case f: FileSourceScanExec =>
        files += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    (files, rows)
  }

  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def driverGcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def persistedRdds(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0
}
