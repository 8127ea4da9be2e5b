package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Assembly, Dedup, PairMaintenance, TextStats}

/** Scratch stage-level profiler (r17 optimization round). Select a section
  * with GRAFT_PROF=p91|... Times each stage with the noop sink. */
object ProfOps {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val what = sys.env.getOrElse("GRAFT_PROF", "p91")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $tag%-44s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // one scope per section and rep: it releases what the rep cached
    def scoped(body: => Unit): Unit = graft.core.Scope { _ => body }

    // per-job wall clock: find which of the many eager actions eats the time
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStart.put(js.jobId, (System.nanoTime(),
          Option(js.properties.getProperty("spark.job.description")).getOrElse("")))
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val (t0, desc) = jobStart.getOrDefault(je.jobId, (0L, "?"))
        jobLog.add(f"job ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%6.2fs  $desc")
      }
    })
    def dumpJobs(tag: String, minSec: Double = 0.15): Unit = {
      var n = 0
      var tot = 0.0
      val it = jobLog.iterator()
      while (it.hasNext) {
        val line = it.next()
        val secs = line.split("\\s+")(2).dropRight(1).toDouble
        n += 1; tot += secs
        if (secs >= minSec) println(s"[jobs:$tag] $line")
      }
      println(f"[jobs:$tag] TOTAL $n jobs, $tot%.2fs summed wall")
      jobLog.clear()
    }

    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    d.count()

    what match {
      case "p91" =>
        // previous-build artifacts, built once (as ensure-steps do)
        val pairsPath = s"/tmp/prof_pairs"
        Dedup.ngramJaccardPairs(d, k = 3, threshold = 0.5)
          .write.mode("overwrite").parquet(pairsPath)
        val shxPath = s"/tmp/prof_shx"
        val edited = d.where(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 === 0)
          .withColumn("text", concat(col("text"), lit(" rev2")))
        val added = d.where(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val deletedIds = d.where(col("doc_id") % 7 === 0).select("doc_id")
        scoped {
          PairMaintenance.writeShingleIndex(d, shxPath)
          PairMaintenance.appendToShingleIndex(
            edited.unionByName(added).select("doc_id", "text"), shxPath, seg = 1L)
        }

        for (rep <- 1 to 2) scoped {
          val oldPairs = spark.read.parquet(pairsPath)
          val t0 = System.nanoTime()
          val oldCC = time(s"r$rep oldCC star")(
            graft.core.Scope.checkpoint(Dedup.dedupClusters(d, oldPairs)))
          val changed = edited.unionByName(added).select("doc_id", "text")
          val noTomb = d.select(col("doc_id"), lit(0L).as("before_seg")).limit(0)
          val tomb = deletedIds.select(col("doc_id"),
              lit(Long.MaxValue).as("before_seg"))
            .unionByName(edited.select(col("doc_id"), lit(1L).as("before_seg")))
          jobLog.clear()
          val (newCC, _) = time(s"r$rep incrementalClusters")(
            PairMaintenance.incrementalClusters(spark, shxPath,
              oldPairs, oldCC, changedIds = changed.select("doc_id"),
              removedIds = deletedIds, tombstonesOld = noTomb,
              tombstonesNew = tomb, refreshSegFrom = 1L))
          if (rep == 2) dumpJobs(s"r$rep-inc", minSec = 0.05)
          val newSnap = d.where(col("doc_id") % 7 =!= 0)
            .withColumn("text",
              when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
                .otherwise(col("text")))
            .unionByName(d.where(col("doc_id") % 13 === 0)
              .withColumn("doc_id", col("doc_id") + 1000000L))
          def assignOf(cc: DataFrame, corpus: DataFrame) = cc
            .withColumn("split", Assembly.splitLabel(col("cluster_id"), 0.9, 0.05, 9377L))
            .join(corpus.select(col("doc_id"),
              TextStats.tokenCount(col("text")).cast("long").as("n_tokens")), "doc_id")
            .select(col("doc_id"), col("split"), col("n_tokens"))
          time(s"r$rep splitMoves tail")(
            sink(Assembly.splitMoves(assignOf(oldCC, d), assignOf(newCC, newSnap))
              .orderBy("split_from", "split_to")))
          println(f"[prof] r$rep p91 total ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      case "pq" =>
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        emb.count()
        for (rep <- 1 to 2) scoped {
          val t0 = System.nanoTime()
          val cents = time(s"r$rep trainCentroids")(
            graft.pipeline.Similarity.trainCentroids(emb, nlist = 8, iters = 3, sampleN = 2000))
          val cb = time(s"r$rep trainPqCodebooks")(
            graft.pipeline.Quantize.trainPqCodebooks(emb, m = 16, ksub = 16, iters = 10, sampleN = 2000))
          time(s"r$rep pqEncode noop")(
            sink(graft.pipeline.Quantize.pqEncode(emb, cb)))
          val path = "/tmp/prof_ivfpq"
          time(s"r$rep writeIndex")(
            graft.pipeline.Similarity.writeIndex(
              graft.pipeline.Quantize.pqEncode(graft.pipeline.Similarity.assignCells(emb, cents), cb), cents, path))
          val (index, diskCents) = time(s"r$rep readIndex")(
            graft.pipeline.Similarity.readIndex(spark, path))
          time(s"r$rep ivfPqTopK")(
            sink(graft.pipeline.Similarity.ivfPqTopK(index, emb.where(col("vec_id") < 10), cb, diskCents,
              k = 5, nprobe = 5, shortlist = 50)))
          time(s"r$rep pqTopKReranked")(
            sink(graft.pipeline.Quantize.pqTopKReranked(
              graft.pipeline.Quantize.pqEncode(emb, cb), emb.where(col("vec_id") < 10), cb, k = 5, shortlist = 50)))
          println(f"[prof] r$rep pq total ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      case q if q.startsWith("q:") =>
        val name = q.drop(2)
        val fn = SparkEntry.queries(name)
        new graft.store.EventSeriesStore(sfDir).allSeries(spark).count()
        for (rep <- 1 to 2) scoped {
          jobLog.clear()
          time(s"r$rep $name")(fn(spark, sfDir).count())
          if (rep == 2) dumpJobs(s"r$rep", minSec = 0.10)
        }
      // phase split per catalog row: plan BUILD (driver Scala), analysis,
      // optimization, physical planning, then the action — where does a
      // ~0.17 s g-row actually spend?
      case g if g.startsWith("gp:") =>
        val names = g.drop(3).split(",").map(_.trim)
        new graft.store.EventSeriesStore(sfDir).allSeries(spark).count()
        SparkEntry.entry(spark).count()
        for (name <- names; rep <- 1 to 3) scoped {
          val fn = SparkEntry.queries(name)
          jobLog.clear()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.assertAnalyzed()
          val t2 = System.nanoTime()
          df.queryExecution.optimizedPlan
          val t3 = System.nanoTime()
          df.queryExecution.executedPlan
          val t4 = System.nanoTime()
          val n = df.count()
          val t5 = System.nanoTime()
          println(f"[prof] $name%-28s rep$rep build=${(t1 - t0) / 1e9}%.3f " +
            f"analyze=${(t2 - t1) / 1e9}%.3f optimize=${(t3 - t2) / 1e9}%.3f " +
            f"plan=${(t4 - t3) / 1e9}%.3f exec=${(t5 - t4) / 1e9}%.3f rows=$n")
          if (rep == 3) dumpJobs(s"$name-r$rep", minSec = 0.0)
        }
      case other => println(s"unknown GRAFT_PROF=$other")
    }
    spark.stop()
  }
}
