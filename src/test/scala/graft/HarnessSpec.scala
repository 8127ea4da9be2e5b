package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Sha2
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/**
 * The catalog timing harness: a rep executes the full answer — the plan
 * a `count()` would prune — and records every layer column; the bench's
 * history reader compares only like with like.
 */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[2]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def frame: DataFrame = spark.range(0, 2000, 1, 4)
    .withColumn("h", sha2(col("id").cast("string"), 256))
    .orderBy(col("h"))
  private def sorts(p: SparkPlan): Int = collect(p) { case s: SortExec => s }.size
  private def hashes(p: SparkPlan): Int =
    collect(p) { case n => n }.flatMap(_.expressions).count(_.exists(_.isInstanceOf[Sha2]))

  test("a rep executes the plan with the final sort and the computed column") {
    var timed: DataFrame = null
    val layers = Harness.time(spark, "sorted_hash") { timed = frame; timed }
    val executed = timed.queryExecution.executedPlan
    // adaptive execution finalizes a plan only by running it: the rep ran
    // this plan, not a second one optimized for another action
    assert(executed.toString.contains("isFinalPlan=true"), executed)
    assert(sorts(executed) >= 1, executed)
    assert(hashes(executed) >= 1, executed)
    // what the count-timed bench executed for the same frame
    val counted = frame.groupBy().count().queryExecution.executedPlan
    assert(sorts(counted) == 0, counted)
    assert(hashes(counted) == 0, counted)

    assert(layers.jobs >= 1 && layers.stages >= 1, layers)
    assert(layers.shuffleBytes > 0, layers)
    Seq(layers.build, layers.analyze, layers.optimize, layers.plan, layers.exec)
      .foreach(v => assert(v >= 0, layers))
    val keys = """"([a-z_]+)":""".r.findAllMatchIn(layers.json).map(_.group(1)).toSeq
    assert(keys == Seq("build", "analyze", "optimize", "plan", "exec", "jobs",
      "stages", "shuffle_bytes", "spill_bytes"))
  }

  test("a failed rep is rethrown with the row name") {
    val e = intercept[RuntimeException] {
      Harness.time(spark, "broken_row")(throw new IllegalStateException("no input"))
    }
    assert(e.getMessage.contains("broken_row"))
    assert(e.getCause.getMessage == "no input")
  }

  test("history: same sf, full-timed lines only, minimum per row") {
    def line(sf: String, stamp: Boolean, qs: String) =
      s"""{"at":"t","metric":"total","value":1.0,"unit":"sec",""" +
        (if (stamp) Bench.Timing + "," else "") +
        s""""queries":{$qs},"variance_flags":{"g01":{"now":9.000,"hist_min":0.001}},"sf":"$sf"}"""
    val lines = Seq(
      line("/d/sf0.01", stamp = true, """"g01":0.500,"p02":2.000"""),
      line("/d/sf0.01", stamp = true, """"g01":0.300,"p02":2.500"""),
      // count-timed: faster than any full answer, never compared against
      line("/d/sf0.01", stamp = false, """"g01":0.010,"p02":0.020,"q03":0.030"""),
      line("/d/sf0.1", stamp = true, """"g01":0.001,"q09":1.000"""))
    assert(Bench.historyMin(lines, "/d/sf0.01") == Map("g01" -> 0.3, "p02" -> 2.0))
    assert(Bench.historyMin(lines, "/d/sf0.1") == Map("g01" -> 0.001, "q09" -> 1.0))
    assert(Bench.historyMin(lines, "/d/sf1") == Map.empty)
  }
}
