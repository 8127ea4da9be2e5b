package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Scope

/**
 * Block-store residue: every catalog row, run to its full answer inside one
 * [[Scope]], leaves the set of persisted RDDs exactly as it found it —
 * plain persists, RDD persists and local checkpoints alike. This is the
 * lifetime contract a long-lived server or refresh loop depends on; no
 * harness sweeps after a row.
 */
class ResidueSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[4]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("every catalog row leaves the block store as it found it once its scope closes") {
    val sc = spark.sparkContext
    // the event-series fixture memo is process-lifetime by design: warm it
    // before the first row, so no row is charged for it
    new graft.store.EventSeriesStore(sfDir).allSeries(spark).count()
    val residue = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val before = sc.getPersistentRDDs.keySet
      Scope { _ => fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      val after = sc.getPersistentRDDs
      if (after.keySet == before) None
      else Some(s"$name: +${(after.keySet -- before).toSeq.sorted
        .map(id => s"$id${if (after(id).isCheckpointed) "(checkpoint)" else ""}")
        .mkString(",")} -${(before -- after.keySet).toSeq.sorted.mkString(",")}")
    }
    assert(residue.isEmpty,
      s"${residue.size} rows changed the block store:\n${residue.mkString("\n")}")
  }

  test("Scope: nested scopes restore the current one; close releases persists and checkpoints once; local results outlive the inner scope") {
    val sc = spark.sparkContext
    val df = spark.range(100).toDF("id")
    val before = sc.getPersistentRDDs.keySet
    val outer = Scope.open()
    val kept = Scope.within(outer) {
      Scope.local { inner =>
        assert(Scope.current.contains(inner))
        inner.persist(df.where("id % 2 = 0")).where("id < 50")
      }
    }
    assert(Scope.current.isEmpty)
    // the inner persist is gone; the checkpointed result is outer's
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    assert(kept.count() == 25)
    val cp = outer.checkpoint(df)
    val p = outer.persist(df.where("id > 10"))
    p.count()
    assert((sc.getPersistentRDDs.keySet -- before).size == 3)
    outer.close()
    outer.close()
    assert(sc.getPersistentRDDs.keySet == before)
    assert(cp.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
  }
}
