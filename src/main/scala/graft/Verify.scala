package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.api.Serve.quote
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration subset: SPARK_GRAFT_ONLY=g99,g100 runs only matching
    // prefixes (the driver never sets this — full catalog by default)
    val selected = SparkEntry.queries.filter { case (n, _) => SparkEntry.selected(n) }
    // warm the shared fixture memo, then give each query one scope: it
    // owns the query's persists and checkpoints (incl. the evaluator's
    // pins) and releases them after the dump, so they don't accumulate
    // across the catalog — same protocol as Bench
    new graft.store.EventSeriesStore(sfDir).allSeries(spark).count()
    selected.foreach { case (name, fn) =>
      try graft.core.Scope { _ =>
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every control char escaped: a tab or CR in an oracle SQL would
    // otherwise break the json.load that reads this file
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
