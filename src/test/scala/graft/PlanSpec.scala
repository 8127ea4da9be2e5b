package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Series
import graft.engine.Eval
import graft.store.ParquetSeriesStore

/**
 * Physical-plan assertions — the 100 TB contract, checked structurally:
 * filters reach the Parquet scan, point-wise chains stay shuffle-free inside
 * whole-stage codegen, and cross-series aggregation shuffles exactly once
 * with a map-side partial. A plan regression fails here before it shows up
 * as a wall-clock regression at scale.
 */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _
  private var store: ParquetSeriesStore = _

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[2]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = java.nio.file.Files.createTempDirectory("planspec").toString + "/series"
    val sp = spark
    import sp.implicits._
    Seq(
      Series("events.click", Map("name" -> "events.click"), 0L, 60L, Array.tabulate(10)(_.toDouble)),
      Series("events.view", Map("name" -> "events.view"), 0L, 60L, Array.tabulate(10)(_ * 2.0)),
      Series("other.metric", Map("name" -> "other.metric"), 0L, 60L, Array.fill(10)(1.0))
    ).toDF().write.mode("overwrite").parquet(dir)
    store = new ParquetSeriesStore(dir, uniformStep = Some(60L))
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def physical(target: String): String =
    Eval.evalTarget(spark, store, target).queryExecution.executedPlan.toString

  test("glob literal prefix pushes into the Parquet scan (row-group pruning key)") {
    val plan = physical("events.c*")
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("StringStartsWith(name,events.c"), plan.take(2000))
  }

  test("brace-alternation glob pushes per-branch StartsWith filters (no prefix loss)") {
    // {click,view}'s bare literal prefix is just "events." — per-branch
    // expansion pushes the full branch prefixes as an Or of StartsWith
    // the plan string elides long filter lists, so assert the Or + the
    // first branch (enough to prove the per-branch push happened)
    val plan = physical("events.{click,view}")
    assert(plan.contains("Or(StringStartsWith(name,events.click"), plan.take(3000))
    // correctness untouched: both branches return, the third series doesn't
    val names = Eval.evalTarget(spark, store, "events.{click,view}")
      .select("name").collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("events.click", "events.view"))
  }

  test("point-wise transform chains are shuffle-free whole-stage codegen") {
    val plan = physical("scale(absolute(offset(events.*,1)),2)")
    assert(!plan.contains("Exchange"), "point-wise chain must not shuffle:\n" + plan.take(3000))
    // codegen stages print as "*(n)" prefixes in the physical plan string
    assert(plan.contains("*(1)") || plan.contains("WholeStageCodegen"), plan.take(2000))
  }

  test("sequential vector ops (derivative/keepLastValue) stay shuffle-free") {
    val plan = physical("keepLastValue(derivative(events.*))")
    assert(!plan.contains("Exchange"), plan.take(3000))
  }

  test("decomposable aggregation shuffles once with a map-side partial") {
    val plan = physical("sumSeries(events.*)")
    val exchanges = "Exchange".r.findAllMatchIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n" + plan.take(3000))
    // ObjectHashAggregate/SortAggregate appear twice: partial then final
    val aggs = "Aggregate".r.findAllMatchIn(plan).size
    assert(aggs >= 2, "expected partial + final aggregation:\n" + plan.take(3000))
  }

  test("asPercent total broadcasts the one-row total (no shuffle of the big side)") {
    val plan = physical("asPercent(events.*)")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(3000))
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = physical("highestAverage(events.*,1)")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("IVF cell assignment is map-side (no shuffle, no join, no row expansion)") {
    val sp = spark
    import sp.implicits._
    val emb = Seq((0L, Seq(0.0f, 0.0f), 0), (1L, Seq(4.0f, 4.0f), 1), (2L, Seq(0.1f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val cents = Array((0, Array(0.0, 0.0)), (1, Array(4.0, 4.0)))
    val assigned = graft.pipeline.Similarity.assignCells(emb, cents)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "assignCells must not shuffle:\n" + plan.take(3000))
    assert(!plan.contains("Join"), "assignCells must not join:\n" + plan.take(3000))
    val rows = assigned.select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(rows == Map(0L -> 0, 1L -> 1, 2L -> 0))
  }

  test("contamination broadcasts the benchmark side; the corpus never shuffles pre-join") {
    val sp = spark
    import sp.implicits._
    val corpus = Seq((1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c d")).toDF("doc_id", "text")
    val plan = graft.pipeline.Curation.contamination(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "bench side must broadcast:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "corpus must not sort-merge against the bench set:\n" + plan.take(3000))
  }

  test("kmeans assignment is map-side against literal centroids (no shuffle, no join)") {
    val sp = spark
    import sp.implicits._
    val emb = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(4.0f, 4.0f))).toDF("vec_id", "embedding")
    // peek at one iteration's assignment shape via iters=0 (pure final assign)
    val out = graft.pipeline.Curation.kmeansAssign(emb, k = 2, iters = 0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "assignment must not shuffle:\n" + plan.take(3000))
    assert(!plan.contains("Join"), "assignment must not join:\n" + plan.take(3000))
  }

  test("vocab top-N compiles to TakeOrderedAndProject with partial aggregation") {
    val sp = spark
    import sp.implicits._
    val corpus = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val plan = graft.pipeline.Curation.vocab(corpus, topN = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert("Aggregate".r.findAllMatchIn(plan).size >= 2,
      "expected partial + final aggregation:\n" + plan.take(3000))
  }

  test("dsirSelect: target vocab broadcasts, selection is TakeOrdered (no global sort)") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b c", "s1"), (2L, "a a d", "s2"), (3L, "b d e", "s1"))
      .toDF("doc_id", "text", "source")
    val plan = graft.pipeline.Assembly
      .dsirSelect(docs, docs.where($"source" === "s1"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "target vocab must broadcast-join the token stream:\n" + plan.take(3000))
  }

  test("whiten projection is map-side against literal matrices (no shuffle, no join)") {
    val sp = spark
    import sp.implicits._
    val emb = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 1.0f)), (2L, Seq(0.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val (mean, w) = graft.pipeline.Quantize.trainWhitening(emb)
    val plan = graft.pipeline.Quantize.whiten(emb, mean, w)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "whitening must not shuffle:\n" + plan.take(3000))
    assert(!plan.contains("Join"), "whitening must not join:\n" + plan.take(3000))
  }

  test("packPlan windows per bucket — no single-partition exchange in the offset stage") {
    val sp = spark
    import sp.implicits._
    val docs = Seq.tabulate(20)(i => (i.toLong, "w " * (i + 1))).toDF("doc_id", "text")
    val plan = graft.pipeline.Assembly.packPlan(docs, blockTokens = 16, bucketWidth = 4L)
      .queryExecution.executedPlan.toString
    // the naive formulation is Window over an Exchange SinglePartition —
    // the whole corpus through one task; the two-phase prefix sum must not
    assert(!plan.contains("Exchange SinglePartition"),
      "global-window prefix sum detected:\n" + plan.take(3000))
    assert(plan.contains("Window"), plan.take(2000)) // per-bucket window remains
  }

  test("sq quantization codes/mse are map-side against literal ranges (no join, no explode)") {
    val sp = spark
    import sp.implicits._
    val emb = Seq((0L, Seq(0.0f, 1.0f)), (1L, Seq(4.0f, 5.0f))).toDF("vec_id", "embedding")
    val out = graft.pipeline.Quantize.sqQuantize(emb, levels = 16, dimOverride = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "codes must not join:\n" + plan.take(3000))
    assert(!plan.contains("Generate"), "codes must not explode rows:\n" + plan.take(3000))
  }

  test("stratified sampling broadcasts the rate table; the corpus never shuffles") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "en", "a b c"), (2L, "de", "d e f")).toDF("doc_id", "lang", "text")
    val plan = graft.pipeline.Assembly.sampleStratified(docs, Map("en" -> 0.5, "de" -> 0.5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "rate table must broadcast:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), "corpus must not shuffle for rates:\n" + plan.take(3000))
  }

  test("shared-span pair generation is an equality join, never a cartesian product") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "x y z w v u t"))
      .toDF("doc_id", "text")
    val plan = graft.pipeline.Dedup.sharedSpanPairs(docs, spanTokens = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "span matching must stay an equality join:\n" + plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "span matching must stay an equality join:\n" + plan.take(3000))
  }

  test("span removal never joins documents pairwise: equality joins only, no pair-keyed stage") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "x y z w v u t"))
      .toDF("doc_id", "text")
    val plan = graft.pipeline.Dedup.removeSharedSpans(docs, spanTokens = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "span removal must stay equality-keyed:\n" + plan.take(3000))
    assert(!plan.contains("UDF"), "span removal is pure built-in codegen:\n" + plan.take(3000))
  }

  test("semantic dedup self-join is keyed by cluster, never a cartesian product") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val emb = Seq.tabulate(24)(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val plan = graft.pipeline.Similarity.semanticDedup(emb, k = 4, iters = 1, tau = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "cosine pairs must block on the k-means cell:\n" + plan.take(3000))
  }

  test("srp near-dup signature scan carries no Scala UDF (native band-key codegen)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(3)
    val emb = Seq.tabulate(30)(i =>
        (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f), i % 3))
      .toDF("vec_id", "embedding", "label")
    val out = graft.pipeline.Similarity.srpNearDupPairs(emb, threshold = 0.9,
      nOverride = 30L, dimOverride = 8)
    val physical = out.queryExecution.executedPlan.toString
    assert(!physical.contains("UDF"), "band keys must be native codegen:\n" + physical.take(3000))
    // the signature scan is persisted, so the expression lives in the cached
    // plan — assert on the logical tree, where it is always visible
    val analyzed = out.queryExecution.analyzed.toString
    assert(analyzed.contains("srp_band_keys"), analyzed.take(3000))
  }

  test("bloom decontamination is a pure map-side scan (no join, no Scala UDF)") {
    val sp = spark
    import sp.implicits._
    val corpus = Seq((1L, "a b c d e f"), (2L, "x y z w v u")).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    val out = graft.pipeline.Curation.contaminationBloom(corpus, bench, minHits = 1L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "bloom pass must not join:\n" + plan.take(3000))
    assert(!plan.contains("UDF"), "membership must be native codegen:\n" + plan.take(3000))
    assert(plan.contains("bloom_might_contain_long"), plan.take(3000))
    // the contaminated doc is flagged, the clean one is not
    assert(out.collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("pq encode is map-side against literal codebooks (no shuffle, no join)") {
    val sp = spark
    import sp.implicits._
    val emb = Seq((0L, Seq(0.0f, 0.0f, 4.0f, 4.0f)), (1L, Seq(1.0f, 1.0f, 5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val cb = graft.pipeline.Quantize.trainPqCodebooks(emb, m = 2, ksub = 2, iters = 1, sampleN = 2)
    val plan = graft.pipeline.Quantize.pqEncode(emb, cb)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "encode must not shuffle:\n" + plan.take(3000))
    assert(!plan.contains("Join"), "encode must not join:\n" + plan.take(3000))
  }

  test("shard plan shuffles exactly once — by shard, the writer's own partitioning") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f"), (10L, "g h i j"))
      .toDF("doc_id", "text")
    val plan = graft.pipeline.Assembly.shardPlan(docs, nShards = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "shard plan must not join:\n" + plan.take(3000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected the single by-shard exchange, got $exchanges:\n" + plan.take(3000))
    assert(plan.contains("hashpartitioning(shard"), plan.take(3000))
  }

  test("word entropy never joins: two doc_id-keyed aggregations only") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a a b"), (2L, "c d")).toDF("doc_id", "text")
    val plan = graft.pipeline.TextStats.wordEntropy(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "entropy must not join:\n" + plan.take(3000))
    assert(!plan.contains("Window"), "entropy must not window:\n" + plan.take(3000))
  }

  test("source overlap has no pairwise document join: gram agg + broadcast size lookups only") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b c d", "srcA"), (2L, "b c d e", "srcB"))
      .toDF("doc_id", "text", "source")
    val plan = graft.pipeline.Curation.sourceOverlap(docs, k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "overlap must stay equality-keyed:\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "the only joins are the broadcast |sources|-row size lookups:\n" + plan.take(3000))
  }

  test("bpe pair count is a TakeOrdered top-k over the vocab, never a global sort or join") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "low lower"), (2L, "newest")).toDF("doc_id", "text")
    val plan = graft.pipeline.Curation.bpePairs(docs, topN = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "bpe pairs must not join:\n" + plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("bigram LM joins stay equality-keyed (no cartesian, no nested loop)") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val plan = graft.pipeline.Assembly.bigramLmScore(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the only nested-loop join allowed is the 1-row vocab-size cross join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"only the 1-row V cross join may nest-loop ($bnlj):\n" + plan.take(3000))
  }

  test("token encode looks ids up via the broadcast vocab, never a shuffled join of the corpus") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val plan = graft.pipeline.Curation.tokenEncode(docs, vocabSize = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "the corpus must not shuffle for the id lookup:\n" + plan.take(3000))
  }

  test("curriculum plan joins stay equality-keyed: no cartesian, only the tercile math's 1-row nested loop") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "the cat sat"), (2L, "a dog ran far"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val plan = graft.pipeline.Assembly.curriculumPlan(docs, nShards = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the unigram-LM tercile math cross-joins two 1-row aggregates (total
    // tokens + vocab size); nothing corpus-sized may nest-loop
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 2, s"only the 1-row stat joins may nest-loop ($bnlj):\n" + plan.take(3000))
  }

  test("NB domain score joins stay equality-keyed: only the two 1-row stat joins may nest-loop") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b a", "src1"), (2L, "b c", "src0"))
      .toDF("doc_id", "text", "source")
    val plan = graft.pipeline.Assembly.nbDomainScore(docs, "src1")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // class totals + doc priors are the only 1-row cross joins; the token
    // stream joins the vocab stats by word key, never nest-loops
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 2, s"only the 1-row stat joins may nest-loop ($bnlj):\n" + plan.take(3000))
  }

  test("source drift never joins the corpus: vocab-keyed aggs + bounded pair/vocab-size cross joins") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "a b a", "s1"), (2L, "b c", "s2"))
      .toDF("doc_id", "text", "source")
    val plan = graft.pipeline.Curation.sourceDrift(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // allowed nest-loops: the |S|x|S| pair builder, the pair table onto the
    // vocab map, and the 1-row vocab size — all broadcast, all bounded
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 3, s"only the bounded stat joins may nest-loop ($bnlj):\n" + plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "no corpus-sized shuffled join exists in this plan:\n" + plan.take(3000))
  }

  test("prototype prune broadcasts the k-row cut table back onto the assignment") {
    val sp = spark
    import sp.implicits._
    val vecs = (0 until 12).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val plan = graft.pipeline.Curation.prototypePrune(vecs, k = 2, iters = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "the cut join must broadcast, not shuffle the assignment:\n" + plan.take(3000))
  }

  test("token-budget selection: the only unpartitioned window runs over the score-cutoff tie group, never the corpus") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = spark
    import sp.implicits._
    // four distinct scores; budget cuts inside the ranking
    val docs = Seq((1L, "aa bb aa bb aa"), (2L, "cc dd"), (3L, "aa bb cc"),
      (4L, "ee ff gg hh"), (5L, "aa aa aa")).toDF("doc_id", "text")
    val out = graft.pipeline.Assembly.tokenBudgetSelect(docs, budget = 8L)
    val plan = out.queryExecution.sparkPlan
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.size <= 1, "at most the tie-group window may exist:\n" + plan.toString.take(2000))
    wins.foreach { w =>
      // keyed by score (single-valued inside the tie frame — an honest
      // partition key, not an unpartitioned window)
      assert(w.partitionSpec.map(_.toString).exists(_.contains("score")),
        "tie window must partition by the score key: " + w.partitionSpec)
      // the window must sit above the cutoff equality filter — i.e. it
      // consumes one score's docs, not the corpus
      assert(w.child.toString.contains("Filter") && w.child.toString.contains("score"),
        "tie window must consume only the score-cutoff filter output:\n" + w.child.toString.take(2000))
    }
  }

  test("source cap is two-phase: the heavy rank runs over (source, salt), never the bare source key") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = spark
    import sp.implicits._
    val scored = (0 until 40)
      .map(i => (i.toLong, s"src${i % 3}", (i % 7).toDouble / 7.0))
      .toDF("doc_id", "source", "qscore")
    val plan = graft.pipeline.Curation
      .sourceCap(scored, cap = 2, scoreCol = "qscore")
      .queryExecution.sparkPlan
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.size == 2, "expected exactly 2 window phases:\n" + plan.toString.take(3000))
    val partial = wins.filter(_.partitionSpec.size == 2)
    val fin = wins.filter(_.partitionSpec.size == 1)
    assert(partial.size == 1 &&
      partial.head.partitionSpec.map(_.toString).exists(_.contains("_salt")),
      "the corpus must only ever enter a (source, salt)-partitioned window:\n" +
        wins.map(_.partitionSpec).mkString("\n"))
    assert(fin.size == 1 && fin.head.partitionSpec.head.toString.contains("source"))
    assert(fin.head.child.toString.contains("_prk"),
      "final window must consume only phase-1 survivors:\n" + fin.head.child.toString.take(2000))
  }

  test("source percentile windows only the score histogram: every Window consumes an aggregate, never corpus rows") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
    val sp = spark
    import sp.implicits._
    val docs = (0 until 40)
      .map(i => (i.toLong, s"w$i " * (i % 5 + 1), s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val plan = graft.pipeline.Curation.sourcePercentile(docs)
      .queryExecution.sparkPlan
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the cumulative histogram window:\n" + plan.toString.take(2000))
    for (w <- wins) {
      val aggsBelow = w.child.collect {
        case a: HashAggregateExec => a
        case a: ObjectHashAggregateExec => a
      }
      assert(aggsBelow.nonEmpty,
        "the low-cardinality source window must sit ABOVE the (source, quality) " +
          "histogram aggregate — corpus rows must never enter it:\n" + w.toString.take(2000))
    }
  }

  test("epoch plan is map-side after the cut aggregate: no window, no join, no shuffle in the instance manifest") {
    val sp = spark
    import sp.implicits._
    val docs = (0 until 30).map(i => (i.toLong, ("w " * (i + 1)).trim))
      .toDF("doc_id", "text")
    val plan = graft.pipeline.Assembly.epochPlan(docs, nShards = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "the instance explode must not shuffle:\n" + plan.take(3000))
    assert(!plan.contains("Window") && !plan.contains("Join"), plan.take(3000))
    assert(plan.contains("Generate"), "the epoch explode is the manifest's only expansion")
  }

  test("pii redaction is a pure map-side scan: chained codegen regexp_replace, no join, no shuffle") {
    val plan = SparkEntry.queries("p61_pii_redact")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the entry's orderBy adds the final sort exchange; nothing else may shuffle
    assert("Exchange".r.findAllIn(plan).size <= 1,
      "redaction must be map-side up to the output sort:\n" + plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan.take(3000))
  }

  test("snapshot diff is one doc_id-keyed equality join of hash projections — no cartesian, text never past its md5") {
    val sp = spark
    import sp.implicits._
    val a = (0 until 20).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
    val b = (5 until 25).map(i => (i.toLong, s"text $i x")).toDF("doc_id", "text")
    val plan = graft.pipeline.Curation.snapshotDiff(a, b)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"), plan.take(2000))
    assert("Join FullOuter".r.findFirstIn(plan).nonEmpty ||
      plan.contains("full_outer") || plan.contains("FullOuter"), plan.take(2000))
  }

  test("zipf fit and weighted sample rank via bounded top-k, never a global sort surviving to the output") {
    val sp = spark
    import sp.implicits._
    val d = (0 until 50).map(i => (i.toLong, ("w " * (i + 1)).trim)).toDF("doc_id", "text")
    val zp = graft.pipeline.TextStats.zipfFit(d, k = 10)
      .queryExecution.executedPlan.toString
    assert(zp.contains("TakeOrderedAndProject"),
      "the spectrum head must rank via TakeOrdered:\n" + zp.take(2500))
    val wp = graft.pipeline.Assembly.weightedSample(d, k = 10)
      .queryExecution.executedPlan.toString
    assert(wp.contains("TakeOrderedAndProject"),
      "the A-ES key rank must be a TakeOrdered top-k:\n" + wp.take(2500))
    assert(!wp.contains("Exchange rangepartitioning"),
      "no global sort shuffle in the sample:\n" + wp.take(2500))
  }

  test("video frame kernel: plan column math + one equality join, no cartesian") {
    val plan = SparkEntry.queries("m05_video_frames")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"), plan.take(2500))
    assert(plan.contains("Generate"), "the frame explode is the plan's only expansion")
  }

  test("q04 EXISTS anchors as a LEFT SEMI join — orders never multiply by matching lines") {
    val plan = SparkEntry.queries("q04_order_priority")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), "EXISTS must plan as a semi join:\n" + plan.take(2500))
    assert(!plan.contains("Cartesian"), plan.take(2500))
  }

  test("q09 NOT EXISTS anchors as a LEFT ANTI join with the date filter pushed into the order scan") {
    val plan = SparkEntry.queries("q09_inactive_customers")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), "NOT EXISTS must plan as an anti join:\n" + plan.take(2500))
    assert(plan.contains("PushedFilters") &&
      "o_orderdate".r.findFirstIn(plan).nonEmpty, plan.take(2500))
  }

  test("q10 correlated subquery decorrelates onto the brand-pruned shared intermediate: broadcast part list, cached projection feeds both branches") {
    val plan = SparkEntry.queries("q10_small_qty_parts")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the brand part list must broadcast:\n" + plan.take(2500))
    // the pruned (l_partkey, qty, price) projection is persisted and read
    // by BOTH the per-part avg branch and the probe branch — the lineitem
    // parquet scan must not appear twice
    // (the InMemoryRelation description embeds its build scan per
    // reference, so raw "Scan parquet" counts over-report — the two
    // InMemoryTableScans themselves prove the physical scan runs once)
    assert("InMemoryTableScan".r.findAllIn(plan).length >= 2,
      "agg and probe branches must both read the cached projection:\n" + plan.take(3000))
  }

  test("q11 HAVING-scalar decorrelates onto the per-part aggregate: the threshold is a broadcast 1-row join over the cached group sums, lineitem scans once") {
    val plan = SparkEntry.queries("q11_revenue_share_parts")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the 1-row total rides a broadcast nested-loop cross join
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the scalar threshold must broadcast:\n" + plan.take(2500))
    // the per-part cents aggregate is persisted and read by BOTH the
    // total branch and the probe branch — lineitem never scans twice
    assert("InMemoryTableScan".r.findAllIn(plan).length >= 2,
      "total and probe must both read the cached per-part aggregate:\n" + plan.take(3000))
  }

  test("q15 Q21-shape runs as the aggregation rewrite: lineitem scans ONCE (the oracle's EXISTS/NOT-EXISTS self-joins never appear), dims broadcast") {
    val df = SparkEntry.queries("q15_waiting_suppliers")(spark, "/root/testdata/sf0.001")
    df.collect() // finalize the adaptive plan so the string form is the real one
    // AQE's string repeats the tree under "== Initial Plan ==" — grade the
    // final plan only
    val s = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val liScans = "lineitem\\.parquet".r.findAllIn(s).length
    assert(liScans == 1,
      s"the existence tests must fold into per-order aggregates, not self-joins: $liScans lineitem scan refs\n" + s.take(2500))
    assert(!s.contains("SortMergeJoin") || "SortMergeJoin".r.findAllIn(s).length <= 1,
      "only the natural orderkey equijoin may shuffle facts:\n" + s.take(2500))
    assert("BroadcastHashJoin".r.findAllIn(s).length >= 2,
      "supplier and nation must broadcast:\n" + s.take(2500))
  }

  test("q16 rollup: ONE Expand over order-cardinality rows (fact pre-aggregated per order before any join), nation broadcast") {
    val df = SparkEntry.queries("q16_rollup_revenue")(spark, "/root/testdata/sf0.001")
    df.collect()
    val s = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Expand".r.findAllIn(s).length == 1,
      "rollup must plan exactly one Expand:\n" + s.take(2500))
    // the Expand consumes an already-joined, already order-aggregated
    // stream — lineitem appears exactly once, and the per-ORDER aggregate
    // (keyed by l_orderkey — a key the rollup itself never groups by)
    // proves the fact pre-aggregation happened below the joins
    assert("lineitem\\.parquet".r.findAllIn(s).length == 1,
      "lineitem must scan once:\n" + s.take(2500))
    assert(s.contains("HashAggregate(keys=[l_orderkey"),
      "the fact must pre-aggregate per order before joining:\n" + s.take(2500))
    assert(s.contains("BroadcastHashJoin"), "nation must broadcast:\n" + s.take(2500))
  }

  test("q17 star join: selective part filter reaches the part scan and broadcasts into lineitem; dims broadcast; no cartesian") {
    val df = SparkEntry.queries("q17_market_share")(spark, "/root/testdata/sf0.001")
    df.collect()
    val s = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("lineitem\\.parquet".r.findAllIn(s).length == 1,
      "lineitem must scan once:\n" + s.take(2500))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "every join must stay equality-keyed:\n" + s.take(2500))
    // the p_type disjunct must be pushed into the part parquet scan, not
    // filtered above the join
    assert(s.contains("PushedFilters: [IsNotNull(p_type), EqualTo(p_type,PROMO)]") ||
      s.contains("EqualTo(p_type,PROMO)"),
      "p_type filter must reach the part scan:\n" + s.take(3000))
    assert("BroadcastHashJoin".r.findAllIn(s).length >= 4,
      "part, supplier, both nation lookups and the region-filtered key list must broadcast:\n" + s.take(2500))
  }

  test("q18 Q18-shape scans lineitem ONCE (the oracle's IN-subquery reads it twice) and broadcasts the HAVING survivors") {
    val df = SparkEntry.queries("q18_large_orders")(spark, "/root/testdata/sf0.001")
    df.collect()
    val s = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("lineitem\\.parquet".r.findAllIn(s).length == 1,
      "lineitem must scan once — the per-order agg serves the HAVING filter AND the output:\n" + s.take(2500))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "every join must stay equality-keyed:\n" + s.take(2500))
    // the tiny filtered aggregate broadcasts into orders, and that result
    // into customer — the fact side never shuffles past its own agg
    assert("BroadcastHashJoin".r.findAllIn(s).length == 2,
      "survivor-side broadcasts expected into orders and customer:\n" + s.take(2500))
    assert(s.contains("TakeOrderedAndProject"),
      "the top-100 must run as TakeOrdered, not a global sort:\n" + s.take(2500))
  }

  test("q19 NOT-IN decomposition: hash LEFT ANTI on the key, the only nested loop is the 1-row null-flag broadcast") {
    val df = SparkEntry.queries("q19_never_ordered_parts")(spark, "/root/testdata/sf0.001")
    df.collect()
    val s = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(s.contains("LeftAnti"),
      "the NOT IN must run as a LEFT ANTI equijoin:\n" + s.take(2500))
    assert(!s.contains("CartesianProduct"),
      "no cartesian anywhere:\n" + s.take(2500))
    // Spark's literal NOT IN falls back to a corpus-sized
    // BroadcastNestedLoopJoin when the subquery can't broadcast — the
    // decomposition's only nested loop is the 1-row has-null flag
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(s).length
    assert(bnlj <= 1, s"only the 1-row flag may nest-loop ($bnlj):\n" + s.take(2500))
  }

  test("p87 BM25 serves from pruned postings: bucket partition filters, 1-row stats broadcast, TakeOrdered top-k") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bmplan").toString
    val docs = (1L to 50L).map(i => (i, s"alpha beta w$i filler text number $i"))
      .toDF("doc_id", "text")
    graft.pipeline.TextStats.writeTermIndex(docs, dir, buckets = 16)
    val df = graft.pipeline.TextStats.bm25TopK(sp, dir,
      Seq("alpha", "beta"), k = 5, buckets = 16)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    val idxScans = scans.filter(_.toString.contains("PartitionFilters: [bucket"))
    assert(idxScans.nonEmpty, "postings scan must carry bucket partition filters:\n" +
      scans.map(_.toString.take(400)).mkString("\n"))
    assert(idxScans.head.selectedPartitions.partitionCount <= 2,
      s"2 query terms must prune to <= 2 bucket dirs, read ${idxScans.head.selectedPartitions.partitionCount}")
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("TakeOrderedAndProject"),
      "the top-k must run as TakeOrdered, not a global sort:\n" + s.take(2000))
  }

  test("p89 phrase search reads only the phrase terms' postings partitions and joins hash-keyed") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-phplan").toString
    val docs = (1L to 50L).map(i => (i, s"alpha beta w$i filler text number $i"))
      .toDF("doc_id", "text")
    graft.pipeline.TextStats.writeTermIndex(docs, dir, buckets = 16)
    val df = graft.pipeline.TextStats.phraseSearch(sp, dir,
      Seq("alpha", "beta"), buckets = 16)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .filter(_.toString.contains("PartitionFilters: [bucket"))
    assert(scans.nonEmpty, "postings scans must carry bucket partition filters")
    assert(scans.forall(_.selectedPartitions.partitionCount <= 2),
      s"2 phrase terms must prune to <= 2 bucket dirs: ${scans.map(_.selectedPartitions.partitionCount)}")
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "the fold joins must stay doc_id-equality-keyed:\n" + s.take(2000))
  }

  test("p94 prefix search pushes StartsWith into the parquet reader and answers from postings only") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pfplan").toString
    val docs = (1L to 50L).map(i => (i, s"scan scatter w$i filler text number $i"))
      .toDF("doc_id", "text")
    graft.pipeline.TextStats.writeTermIndex(docs, dir, buckets = 16)
    val df = graft.pipeline.TextStats.prefixSearchTermIndex(sp, dir, "sc")
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty, "expected a parquet scan of the index")
    // the prefix predicate must reach the reader (row-group min/max stats
    // skip non-matching term ranges thanks to the term-sorted write)
    assert(scans.exists(_.toString.contains("StringStartsWith(term,sc)")),
      "StartsWith must be a pushed filter:\n" +
        scans.map(_.toString.take(500)).mkString("\n"))
    // correctness: both terms start with 'sc', every doc matches twice
    val got = df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 50 && got.forall(r => r._2 == 2L && r._3 == 2L),
      got.take(5).mkString(", "))
    // the glob operator on the same index: prefix pushes, regex residual
    // filters — 'sc?n*' matches scan only (scatter fails the ?-then-n)
    val g1 = graft.pipeline.TextStats.globSearchTermIndex(sp, dir, "sc?n*")
    assert(g1.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .exists(_.toString.contains("StringStartsWith(term,sc)")),
      "glob's literal prefix must push as StartsWith")
    val got1 = g1.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got1.length == 50 && got1.forall(r => r._2 == 1L && r._3 == 1L),
      got1.take(5).mkString(", "))
    // brace alternation with NO literal prefix: full scan, still correct
    val got2 = graft.pipeline.TextStats
      .globSearchTermIndex(sp, dir, "{scan,scatter}")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got2.length == 50 && got2.forall(r => r._2 == 2L && r._3 == 2L),
      got2.take(5).mkString(", "))
  }

  test("p75 memorization audit counts gram df in a gram-PARTITIONED window — no unpartitioned window, no second corpus scan") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "one two three four five six"),
      (2L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val plan = graft.pipeline.TextStats.memorizationAudit(docs).queryExecution.sparkPlan
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.size == 1 && wins.head.partitionSpec.nonEmpty &&
      wins.head.partitionSpec.head.toString.contains("gram"),
      "df must come from one gram-keyed window: " + wins.map(_.partitionSpec))
  }

  test("q12 point-in-time join is JOIN-FREE: one user-keyed window over the tagged union, never a range join") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = SparkEntry.queries("q12_pit_features")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val s = plan.toString
    // the naive rewrite multiplies each example by its feature history —
    // no join node of any kind may appear
    assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastHashJoin") &&
      !s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      "as-of must compose join-free:\n" + s.take(2500))
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.forall(_.partitionSpec.exists(_.toString.contains("user_id"))),
      "the as-of carry-forward must run user-keyed: " + wins.map(_.partitionSpec))
  }

  test("q13 trailing-window features run as a BUCKETED equality join on (user, day-bin) — never a nested-loop range join") {
    val plan = SparkEntry.queries("q13_window_features")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan.toString
    // the naive v.ts-between-range join plans as BroadcastNestedLoopJoin /
    // cartesian when the range is the only non-equi predicate left
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "range probe must not nested-loop:\n" + plan.take(2500))
    // the candidate join keys on both user and the day bin
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findFirstIn(plan).nonEmpty)
    assert(plan.contains("bin"), "join must include the day-bin key:\n" + plan.take(2500))
  }

  test("q14 disjunctive predicates: the OR-of-ANDs reaches the part scan's PushedFilters and the join broadcasts") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = SparkEntry.queries("q14_disjunctive_promo")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan
    val partScan = plan.collect { case f: FileSourceScanExec
      if f.toString.contains("p_brand") => f }
    assert(partScan.nonEmpty, "no part scan found:\n" + plan.toString.take(2000))
    val pushed = partScan.head.toString
    assert("PushedFilters: \\[[^\\]]*Or".r.findFirstIn(pushed).nonEmpty,
      "the brand/size disjunction must push into the part scan:\n" + pushed.take(2500))
    assert(plan.toString.contains("BroadcastHashJoin"),
      "the pruned part list must broadcast:\n" + plan.toString.take(2000))
  }

  test("q08 per-nation top-k is two-phase: the heavy rank runs over salted keys only") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q08_top_orders_per_nation")(spark, "/root/testdata/sf0.001")
    // sparkPlan: the physical plan before the AQE wrapper, so nodes are collectible
    val plan = df.queryExecution.sparkPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size == 2, "expected exactly 2 window phases:\n" + plan.toString.take(3000))
    val partial = windows.filter(_.partitionSpec.size == 2)
    val fin = windows.filter(_.partitionSpec.size == 1)
    assert(partial.size == 1,
      "the full order-grain data must only ever enter a (nation, salt)-partitioned window:\n" +
        windows.map(_.partitionSpec).mkString("\n"))
    assert(partial.head.partitionSpec.map(_.toString).exists(_.contains("_salt")),
      "phase-1 partition keys must include the salt: " + partial.head.partitionSpec)
    assert(fin.size == 1 && fin.head.partitionSpec.head.toString.contains("n_name"))
    // the unsalted window must consume only phase-1 survivors (≤3 per salt bucket)
    assert(fin.head.child.toString.contains("_prk"),
      "final window must sit above the phase-1 rank filter:\n" + fin.head.child.toString.take(2000))
  }

  test("tags autocomplete prefix pushdown: the prefix filters keys INSIDE the generate, not rows above it") {
    import org.apache.spark.sql.execution.GenerateExec
    val frame = graft.api.Catalog.tagNamesFrame(spark, store, "na", Nil)
    val plan = frame.queryExecution.sparkPlan
    val gens = plan.collect { case g: GenerateExec => g }
    assert(gens.size == 1, "expected one generate:\n" + plan.toString.take(2000))
    val gen = gens.head.generator.toString
    assert(gen.contains("filter(map_keys") && gen.contains("StartsWith"),
      "prefix must filter the key array below the explode: " + gen)
    // and no row-level StartsWith filter survives above the generate
    val above = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("StartsWith") => f
    }
    assert(above.isEmpty, "prefix must not re-filter exploded rows: " + above.mkString)
    // semantics unchanged: only the prefix-matching key comes back
    assert(frame.collect().map(_.getString(0)).toSeq == Seq("name"))
  }

  test("p78 shard manifest: pruned 2-column scan, map-side partial agg, ONE nShards-key exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.pipeline.Assembly.shardManifest(docs, 8, "v1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "manifest must scan only (doc_id, text):\n" + plan.take(2000))
    assert(plan.contains("partial_sum") && plan.contains("partial_count"),
      "checksum/count terms must fold map-side before the shard exchange:\n" + plan.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"one shard-keyed shuffle expected, got $exchanges:\n" + plan.take(2000))
  }

  test("p80 backfill plan: two pruned manifest scans, shard-keyed exchanges only, no corpus-sized window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.pipeline.Assembly.backfillPlan(
        docs, docs.where(org.apache.spark.sql.functions.col("doc_id") % 2 === 0), 8, "v1")
      .queryExecution.executedPlan.toString
    // both manifest builds prune to (doc_id, text)
    val scans = "ReadSchema: struct<doc_id:bigint,text:string>".r.findAllIn(plan).size
    assert(scans == 2, s"two pruned manifest scans expected, got $scans:\n" + plan.take(2000))
    // checksum terms fold map-side before the shard exchanges
    assert(plan.contains("partial_sum"),
      "manifest terms must fold map-side:\n" + plan.take(2000))
    // every exchange is keyed on shard-cardinality data (shard or action):
    // corpus rows never shuffle on anything else, and the priority window
    // runs on the metadata-sized join result
    val exchanges = "Exchange hashpartitioning\\((shard|action)".r.findAllIn(plan).size
    val allExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == allExchanges && allExchanges >= 2,
      s"all hash exchanges must key on shard/action ($exchanges of $allExchanges):\n" + plan.take(3000))
    assert(!plan.contains("WindowExec: No Partition Defined"),
      "priority window must be partition-bounded")
  }

  test("p81 split manifest: one pruned 2-column scan, map-side partial agg, split-key exchange only") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.pipeline.Assembly.splitManifest(docs, "v1")
      .queryExecution.executedPlan.toString
    val scans = "ReadSchema: struct<doc_id:bigint,text:string>".r.findAllIn(plan).size
    assert(scans == 1, s"one pruned manifest scan expected, got $scans:\n" + plan.take(2000))
    assert(plan.contains("partial_sum"),
      "checksum/token terms must fold map-side:\n" + plan.take(2000))
    val exchanges = "Exchange hashpartitioning\\(split".r.findAllIn(plan).size
    val allExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == allExchanges && allExchanges == 1,
      s"the only exchange is the 3-row split agg ($exchanges of $allExchanges):\n" +
        plan.take(3000))
  }

  test("p82 split moves: two pruned scans, ONE doc_id equijoin, matrix-key agg — nothing pairwise") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def assign(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Assembly.trainValTestSplit(df)
        .select(col("doc_id"), col("split"),
          graft.pipeline.TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
    val plan = graft.pipeline.Assembly.splitMoves(
        assign(docs), assign(docs.where(col("doc_id") % 2 === 0)))
      .queryExecution.executedPlan.toString
    val scans = "ReadSchema: struct<doc_id:bigint,text:string>".r.findAllIn(plan).size
    assert(scans == 2, s"two pruned assignment scans expected, got $scans:\n" + plan.take(2000))
    // the full-outer doc_id equijoin is the only corpus-sized shuffle; the
    // matrix agg keys on (split_from, split_to) and folds map-side
    val keyed = "Exchange hashpartitioning\\((doc_id|split_from)".r.findAllIn(plan).size
    val allExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(keyed == allExchanges && allExchanges >= 2,
      s"exchanges must key on doc_id or the matrix ($keyed of $allExchanges):\n" +
        plan.take(3000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "split moves must never go pairwise:\n" + plan.take(2000))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      "matrix agg must fold map-side:\n" + plan.take(2000))
  }

  test("applyByNode batches its rewritten targets into ONE fetchMulti scan (not one store read per prefix)") {
    var multiCalls = Vector.empty[Seq[String]]
    val counting = new MockBackendStore(Map(
      "a.one.m" -> MockData(MockSeries("a.one.m", Seq(1, 2, 3))),
      "a.two.m" -> MockData(MockSeries("a.two.m", Seq(4, 5, 6))))) {
      override def fetchMulti(spark: SparkSession, pathExprs: Seq[String],
                              from: Long, until: Long) = {
        multiCalls :+= pathExprs
        super.fetchMulti(spark, pathExprs, from, until)
      }
    }
    val out = Eval.evalTarget(spark, counting,
        "applyByNode(a.*.m, 1, \"sumSeries(%.m)\")")
      .select("name").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("sumSeries(a.one.m)", "sumSeries(a.two.m)"), out.toSeq)
    // two prefixes → one batched store read carrying both rewritten leaves
    assert(multiCalls.size == 1, s"expected one fetchMulti, got $multiCalls")
    assert(multiCalls.head.toSet == Set("a.one.m", "a.two.m"), multiCalls.toString)
  }

  test("aliasQuery batches its regex-derived lookup targets into ONE fetchMulti scan") {
    var multiCalls = Vector.empty[Seq[String]]
    val counting = new MockBackendStore(Map(
      "cpu.one.load" -> MockData(MockSeries("cpu.one.load", Seq(1, 2))),
      "cpu.two.load" -> MockData(MockSeries("cpu.two.load", Seq(3, 4))),
      "rate.one" -> MockData(MockSeries("rate.one", Seq(10, 20))),
      "rate.two" -> MockData(MockSeries("rate.two", Seq(30, 40))))) {
      override def fetchMulti(spark: SparkSession, pathExprs: Seq[String],
                              from: Long, until: Long) = {
        multiCalls :+= pathExprs
        super.fetchMulti(spark, pathExprs, from, until)
      }
    }
    val out = Eval.evalTarget(spark, counting,
        "aliasQuery(cpu.*.load, 'cpu\\.([^.]+)\\.load', 'rate.\\1', 'q %d')")
      .select("name").collect().map(_.getString(0)).sorted
    assert(out.toSeq == Seq("q 20", "q 40"), out.toSeq)
    assert(multiCalls.size == 1, s"expected one fetchMulti, got $multiCalls")
    assert(multiCalls.head.toSet == Set("rate.one", "rate.two"), multiCalls.toString)
  }
  test("removeAbove/BelowPercentile: no lambda body in the optimized plan calls a UDF (the series percentile runs once per row, not once per point)") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, ScalaUDF}
    for ((t, want) <- Seq(
        "removeAbovePercentile(events.click,50)" -> Seq(0.0, 1, 2, 3, 4, 5),
        "removeBelowPercentile(events.click,50)" -> Seq(5.0, 6, 7, 8, 9))) {
      val df = Eval.evalTarget(spark, store, t)
      val plan = df.queryExecution.optimizedPlan
      val inLambda = plan.flatMap(_.expressions).flatMap(_.collect {
        case l: LambdaFunction => l.function.collect { case u: ScalaUDF => u }
      }.flatten)
      assert(inLambda.isEmpty, s"$t: a per-point lambda calls a UDF:\n$plan")
      // 10 points 0..9: the non-interpolated 50th percentile is 5
      val vals = df.select("values").head().getSeq[Double](0)
      assert(vals.filterNot(_.isNaN) == want, s"$t: $vals")
    }
  }
}
