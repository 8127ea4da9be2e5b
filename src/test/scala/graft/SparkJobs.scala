package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a served request starts (the job pins in
  * SearchApiSpec and HttpApiSpec). */
object SparkJobs {

  /** Spark jobs started while `f` runs. Marker jobs (tagged by a local
    * property) bracket it, so every job between them on the ordered
    * listener bus is `f`'s, whenever the bus delivers the events. */
  def during(spark: SparkSession)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val events = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.put(Option(e.properties).flatMap(p => Option(p.getProperty("jobs.marker"))).getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setLocalProperty("jobs.marker", name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("jobs.marker", null)
    }
    sc.addSparkListener(listener)
    try {
      marker("start"); f; marker("end")
      var seen = Vector.empty[String]
      while (!seen.contains("end")) {
        val e = events.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        if (e == null) throw new IllegalStateException("listener bus never delivered the end marker")
        seen :+= e
      }
      seen.dropWhile(_ != "start").drop(1).takeWhile(_ != "end").size
    } finally sc.removeSparkListener(listener)
  }
}
