package graft

/**
 * Measurement tooling (optimization rounds): dump `.explain("formatted")`
 * for selected catalog queries to files, so plan-shape claims
 * (Exchange count, join strategy, PushedFilters/ReadSchema) are checkable
 * without running Spark.
 *
 * Usage: SPARK_GRAFT_ONLY=p83,q08 SPARK_GRAFT_PLAN_DIR=target/plans \
 *          SPARK_GRAFT_PLAN_SUFFIX=before sbt "runMain graft.PlanDump"
 *
 * `SPARK_GRAFT_ONLY` takes name prefixes, like Verify's (`g` = every
 * g-row). Writes $PLAN_DIR/<query>_<suffix>.txt (default `target/plans`). Never used by the bench or the
 * driver — read-only diagnostics over the same catalog entries.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "target/plans")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    // SPARK_GRAFT_CONF (read by the shared session) dumps a size gate's
    // other side, e.g. "graft.cc.maxDriverEdges=0,graft.series.maxWindowIndex=0"
    val spark = Harness.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val catalog = SparkEntry.queries.filter { case (n, _) => SparkEntry.selected(n) }
    catalog.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Exception =>
          System.err.println(s"[plandump] FAILED $name: $e")
      }
    }
    spark.stop()
  }
}
