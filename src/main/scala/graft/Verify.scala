package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
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
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq.filter(_.nonEmpty))
    val selected = only match {
      case Some(ps) => SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
