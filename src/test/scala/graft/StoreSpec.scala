package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Series
import graft.store.{ParquetSeriesStore, RoutedSeriesStore, TieredSeriesStore, TimePartitionedSeriesStore}

/**
 * Parquet store layouts (flat, and time-partitioned at route depth 0, 1
 * and 2): the sharded layout must be invisible to readers — a fetch
 * returns exactly the flat store's canonical frame —
 * while a bounded [from, until) prunes whole partitions before any row
 * is read (the reference's pathcache TLD-routing analog, SURVEY §4).
 */
class StoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var flatDir: String = _
  private var partDir: String = _
  private var flat: ParquetSeriesStore = _
  private var part: RoutedSeriesStore = _

  // 2 series on a 60 s step spanning 3 windows of 3600 s; one starts
  // mid-window and one is short (absent from later windows entirely)
  private def fixture(sp: SparkSession) = {
    import sp.implicits._
    Seq(
      Series("events.click", Map("name" -> "events.click"), 0L, 60L,
        Array.tabulate(180)(_.toDouble)),                      // [0, 10800)
      Series("events.view", Map("name" -> "events.view"), 1500L, 60L,
        Array.tabulate(40)(i => i * 2.0)),                     // [1500, 3900) mid-window start
      Series("other.metric", Map("name" -> "other.metric"), 3600L, 60L,
        Array.fill(60)(1.0))                                   // exactly window 1
    ).toDF()
  }

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[2]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("storespec").toString
    flatDir = s"$base/flat"; partDir = s"$base/part"
    fixture(spark).write.mode("overwrite").parquet(flatDir)
    RoutedSeriesStore.write(fixture(spark), partDir, windowSec = 3600L, routeDepth = 0)
    flat = new ParquetSeriesStore(flatDir, uniformStep = Some(60L))
    part = new RoutedSeriesStore(partDir, windowSec = 3600L, routeDepth = 0, uniformStep = Some(60L))
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Seq[Double])] =
    df.select("name", "start", "step", "values").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getSeq[Double](3)))
      .sortBy(_._1).toSeq

  test("partitioned fetch returns the flat store's canonical frame (full range)") {
    assert(canon(part.fetch(spark, "events.*", 0L, 10800L)) ==
      canon(flat.fetch(spark, "events.*", 0L, 10800L)))
  }

  test("partitioned fetch matches flat on a range cutting mid-window and mid-series") {
    val f = canon(flat.fetch(spark, "*.*", 1800L, 5400L))
    assert(canon(part.fetch(spark, "*.*", 1800L, 5400L)) == f)
    assert(f.nonEmpty)
  }

  test("a missing middle window NaN-fills instead of silently concatenating") {
    val sp = spark
    import sp.implicits._
    // hand-build a sharded layout with window 1 absent for events.gap
    val dir = java.nio.file.Files.createTempDirectory("gapstore").toString
    val shards = TimePartitionedSeriesStore.shard(
      Seq(Series("events.gap", Map.empty[String, String], 0L, 60L,
        Array.tabulate(180)(_.toDouble))).toDF(), 3600L)
    shards.where(org.apache.spark.sql.functions.col("pwin") =!= 1L)
      .write.mode("overwrite").partitionBy("pwin").parquet(dir)
    val st = new RoutedSeriesStore(dir, 3600L, 0, Some(60L))
    val Seq((_, start, _, vals)) = canon(st.fetch(spark, "events.gap", 0L, 10800L))
    assert(start == 0L && vals.size == 180)
    assert(vals.slice(0, 60) == (0 until 60).map(_.toDouble))
    assert(vals.slice(60, 120).forall(_.isNaN), "pruned-away window must read as NaN")
    assert(vals.slice(120, 180) == (120 until 180).map(_.toDouble))
  }

  test("sharding is lossless: every value lands in exactly one window shard") {
    val sh = TimePartitionedSeriesStore.shard(fixture(spark), 3600L)
    import org.apache.spark.sql.functions._
    // each shard lies inside its window and total value count is preserved
    val bad = sh.where(col("start") < col("pwin") * 3600L ||
      col("start") + size(col("values")) * col("step") > (col("pwin") + 1) * 3600L).count()
    assert(bad == 0L)
    val total = sh.agg(sum(size(col("values")))).head().getLong(0)
    assert(total == 180L + 40L + 60L)
  }

  test("a narrow [from,until) reaches the scan as a partition filter and prunes directories") {
    val out = part.fetch(spark, "events.*", 3600L, 7200L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(3000))
    assert("PartitionFilters: \\[[^\\]]*pwin".r.findFirstIn(plan).nonEmpty,
      "the [from,until) bound must prune on pwin:\n" + plan.take(3000))
    // structurally: the scan selects only window 1 of the 3 on disk
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = out.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"expected 1 of 3 partitions, read ${scans.head.selectedPartitions.partitionCount}")
  }

  test("routed store: name-route + window pruning both reach the scan as partition filters (pathcache TLD analog)") {
    val dir = java.nio.file.Files.createTempDirectory("routed").toString
    graft.store.RoutedSeriesStore.write(fixture(spark), dir, windowSec = 3600L)
    val routed = new graft.store.RoutedSeriesStore(dir, 3600L, routeDepth = 1, Some(60L))
    // layout invisibility across glob shapes, incl. a mid-window range
    for ((glob, a, b) <- Seq(("events.*", 0L, 10800L), ("*.*", 1800L, 5400L),
        ("events.click", 0L, 10800L), ("other.metric", 0L, 10800L)))
      assert(canon(routed.fetch(spark, glob, a, b)) == canon(flat.fetch(spark, glob, a, b)),
        s"routed != flat for $glob [$a,$b)")
    // disk layout: (events × win 0,1,2) + (other × win 1) = 4 partition dirs.
    // "events.*" over window 1 must touch exactly (events, 1)
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }.head
    val one = scan(routed.fetch(spark, "events.*", 3600L, 7200L))
    assert(one.selectedPartitions.partitionCount == 1,
      s"expected 1 of 4 partitions, read ${one.selectedPartitions.partitionCount}")
    val plan = one.toString
    assert("PartitionFilters: \\[[^\\]]*troute".r.findFirstIn(plan).nonEmpty,
      "the glob's literal prefix must prune on troute:\n" + plan.take(3000))
    assert("PartitionFilters: \\[[^\\]]*pwin".r.findFirstIn(plan).nonEmpty,
      "the [from,until) bound must still prune on pwin:\n" + plan.take(3000))
    // an exact name routes by equality: only the `other` dirs survive
    val eq = scan(routed.fetch(spark, "other.metric", 0L, 10800L))
    assert(eq.selectedPartitions.partitionCount == 1,
      s"other.metric must route to its 1 dir, read ${eq.selectedPartitions.partitionCount}")
    // no literal prefix -> full fan-out over the requested windows
    val fan = scan(routed.fetch(spark, "*.*", 3600L, 7200L))
    assert(fan.selectedPartitions.partitionCount == 2,
      s"*.* over window 1 must read (events,1)+(other,1), read ${fan.selectedPartitions.partitionCount}")
  }

  test("routed store: all-digit and leading-zero route segments stay strings — exact and prefix globs match the flat store") {
    // the route dir names are `troute=007`, `troute=10`, ...; a read that
    // inferred partition types would turn them into integers (007 -> 7), so
    // the `00*` prefix predicate and the name filter would select nothing
    val sp = spark
    import sp.implicits._
    def series(names: Seq[String]) = names.zipWithIndex.map { case (n, i) =>
      Series(n, Map("name" -> n), 0L, 60L, Array.tabulate(120)(j => i * 1000.0 + j))
    }.toDF()
    val digits = Seq("007.cpu.a", "007.cpu.b", "10.cpu.a", "2020.disk.x", "0.cpu.a")
    val mixed = digits ++ Seq("web.cpu.a", "0x1f.cpu.a", "7a.cpu.b")
    val globs = Seq("00*.cpu.*", "0*.cpu.a", "007.cpu.*", "007.cpu.a", "007.*.b",
      "10.cpu.a", "1*.*.*", "2020.*.*", "20*.disk.x", "0.cpu.a", "{007,10}.cpu.a",
      "*.cpu.a", "0x*.cpu.*", "7*.cpu.b", "web.cpu.a")
    for ((label, names) <- Seq("all-digit routes" -> digits, "mixed routes" -> mixed)) {
      val base = java.nio.file.Files.createTempDirectory("numroutes").toString
      series(names).write.mode("overwrite").parquet(s"$base/flat")
      graft.store.RoutedSeriesStore.write(series(names), s"$base/routed", windowSec = 3600L)
      val flatSt = new ParquetSeriesStore(s"$base/flat", uniformStep = Some(60L))
      val routedSt = new graft.store.RoutedSeriesStore(s"$base/routed", 3600L, 1, Some(60L))
      def matching(gs: String*) = names.filter(n => gs.exists(graft.core.Glob.matcher(_)(n))).sorted
      // a range cutting both windows: the pwin bounds apply too
      for (glob <- globs) {
        val want = canon(flatSt.fetch(spark, glob, 1800L, 5400L))
        assert(canon(routedSt.fetch(spark, glob, 1800L, 5400L)) == want,
          s"$label: routed != flat for $glob")
        assert(want.map(_._1) == matching(glob), s"$label: flat fetch of $glob")
      }
      assert(matching("00*.cpu.*") == Seq("007.cpu.a", "007.cpu.b"))
      assert(canon(routedSt.fetchMulti(spark, Seq("0*.cpu.a", "2020.*.*"), 0L, 7200L))
        .map(_._1) == matching("0*.cpu.a", "2020.*.*"), label)
    }
  }

  test("routed store at depth 2 routes per event type, and a partial literal prefix prunes by startsWith") {
    val dir = java.nio.file.Files.createTempDirectory("routed2").toString
    graft.store.RoutedSeriesStore.write(fixture(spark), dir, windowSec = 3600L, routeDepth = 2)
    val routed = new graft.store.RoutedSeriesStore(dir, 3600L, routeDepth = 2, Some(60L))
    import org.apache.spark.sql.execution.FileSourceScanExec
    def parts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
        .head.selectedPartitions.partitionCount
    // dirs: events.click × {0,1,2}, events.view × {0,1}, other.metric × {1}
    assert(canon(routed.fetch(spark, "events.cl*", 0L, 10800L)) ==
      canon(flat.fetch(spark, "events.cl*", 0L, 10800L)))
    assert(parts(routed.fetch(spark, "events.cl*", 0L, 10800L)) == 3,
      "partial second segment must startsWith-prune to the events.click dirs")
    assert(parts(routed.fetch(spark, "events.view", 0L, 10800L)) == 2,
      "a full literal name must equality-route at depth 2")
    // depth-2 route with only the FIRST segment literal: 'events.' prefix
    // keeps both events types, drops other.*
    assert(parts(routed.fetch(spark, "events.*", 3600L, 7200L)) == 2)
  }

  test("mixed-retention tiers: a 60s recent tier consolidates onto the 3600s history grid through ScaleToCommonStep, recent winning overlaps") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("tiered").toString
    // history: 3600s step, [0,10800) — slot 2 present with a STALE value
    // (99.0) that the recent tier must override, slot 1 of events.view
    // missing so history itself has a NaN to merge over
    Seq(
      Series("events.click", Map("name" -> "events.click"), 0L, 3600L, Array(10.0, 20.0, 99.0)),
      Series("events.view", Map("name" -> "events.view"), 0L, 3600L, Array(1.0, Double.NaN, Double.NaN))
    ).toDF().write.mode("overwrite").parquet(s"$base/hist")
    // recent: 60s step, [7200,10800) — one history-slot of fine data
    Seq(
      Series("events.click", Map("name" -> "events.click"), 7200L, 60L,
        Array.tabulate(60)(_.toDouble)),                      // avg = 29.5
      Series("events.view", Map("name" -> "events.view"), 7200L, 60L, Array.fill(60)(4.0))
    ).toDF().write.mode("overwrite").parquet(s"$base/recent")
    val tiered = new TieredSeriesStore(Seq(
      new ParquetSeriesStore(s"$base/recent", uniformStep = Some(60L)),
      new ParquetSeriesStore(s"$base/hist", uniformStep = Some(3600L))))
    assert(tiered.stepHint.isEmpty, "mixed steps must not claim uniformity")
    val rows = canon(tiered.fetch(spark, "events.*", 0L, 10800L))
    assert(rows.map(_._1) == Seq("events.click", "events.view"))
    // one row per series on the COARSE grid; fine data consolidated by avg
    assert(rows.forall { case (_, start, step, vals) =>
      start == 0L && step == 3600L && vals.size == 3 })
    val click = rows(0)._4
    assert(click(0) == 10.0 && click(1) == 20.0)
    assert(click(2) == 29.5, s"recent tier must win the overlap slot, got ${click(2)}")
    val view = rows(1)._4
    assert(view(0) == 1.0 && view(1).isNaN && view(2) == 4.0)
    // end-to-end: a cross-series aggregate evaluates across the tier
    // boundary on the merged grid
    val sum = graft.engine.Eval.evalTarget(spark, tiered, "sumSeries(events.*)", 0L, 10800L)
      .collect()
    assert(sum.length == 1)
    val sv = sum.head.getAs[scala.collection.Seq[Double]]("values")
    assert(sv == Seq(11.0, 20.0, 33.5), s"got $sv")
  }

  test("randomized layout equivalence: partitioned and tiered fetches reproduce the flat store under random series, windows and ranges") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    def points(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Double)] =
      graft.core.SeriesFrame.toPoints(df)
        .select(col("name"), col("ts"), col("value")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    for (round <- 1 to 4) {
      val step = Seq(10L, 60L, 300L)(rnd.nextInt(3))
      // window deliberately NOT a multiple of the step half the time, and
      // starts may be negative — the floorDiv/ceil index paths must agree
      val windowSec = step + rnd.nextInt((step * 40).toInt)
      val series = (1 to 1 + rnd.nextInt(4)).map { i =>
        val start = (rnd.nextInt(400) - 100) * step
        val n = 1 + rnd.nextInt(200)
        // two TLDs so the routed layout genuinely splits by route
        val nm = s"${if (i % 2 == 0) "metrics" else "events"}.s$i"
        Series(nm, Map("name" -> nm), start, step,
          Array.tabulate(n)(j => if (rnd.nextInt(10) == 0) Double.NaN else rnd.nextInt(1000).toDouble))
      }
      val base = java.nio.file.Files.createTempDirectory(s"storeprop$round").toString
      series.toDF().write.mode("overwrite").parquet(s"$base/flat")
      RoutedSeriesStore.write(series.toDF(), s"$base/part", windowSec, routeDepth = 0)
      val fl = new ParquetSeriesStore(s"$base/flat", Some(step))
      val pt = new RoutedSeriesStore(s"$base/part", windowSec, 0, Some(step))
      // routed at depth 1 (per TLD) and depth 2 (per full name)
      val routedAt = Seq(1, 2).map { d =>
        RoutedSeriesStore.write(series.toDF(), s"$base/routed$d", windowSec, routeDepth = d)
        new RoutedSeriesStore(s"$base/routed$d", windowSec, d, Some(step))
      }
      // tiered split of the SAME data at a random boundary with overlap:
      // same step, so the merge must be the identity on the flat points
      val span = series.map(s => s.start + s.values.length * step).max
      val cut = series.map(_.start).min + rnd.nextInt(math.max(1, (span / step).toInt)) * step
      val sliceA = graft.store.SeriesStore.sliceToRange(series.toDF(), Long.MinValue / 4, cut + 5 * step)
      val sliceB = graft.store.SeriesStore.sliceToRange(series.toDF(), cut, Long.MaxValue / 4)
      sliceA.write.mode("overwrite").parquet(s"$base/tierA")
      sliceB.write.mode("overwrite").parquet(s"$base/tierB")
      val td = new TieredSeriesStore(Seq(
        new ParquetSeriesStore(s"$base/tierA", Some(step)),
        new ParquetSeriesStore(s"$base/tierB", Some(step))))
      // NaN-safe structural equality: boxed-double == is NaN-hostile
      def bits(s: Seq[(String, Long, Long, Seq[Double])]) =
        s.map { case (n, st, sp, v) => (n, st, sp, v.map(java.lang.Double.doubleToLongBits)) }
      def tagged(df: org.apache.spark.sql.DataFrame) =
        df.select("pathExpression", "name", "start", "step", "values").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
            r.getSeq[Double](4).map(java.lang.Double.doubleToLongBits)))
          .sortBy(t => (t._1, t._2, t._3)).toSeq
      val multi = Seq("events.*", "*.s1", "metrics.s2", "{events,metrics}.s*")
      for (_ <- 1 to 3) {
        val a = (rnd.nextInt(500) - 150) * step + rnd.nextInt(step.toInt)
        val b = a + rnd.nextInt(300) * step + rnd.nextInt(step.toInt)
        for ((st, depth) <- (pt +: routedAt).zipWithIndex) {
          val label = s"route depth $depth, round $round step $step window $windowSec range [$a,$b)"
          for (glob <- Seq("events.*", "*.*"))
            assert(bits(canon(st.fetch(spark, glob, a, b))) == bits(canon(fl.fetch(spark, glob, a, b))),
              s"fetch $glob != flat ($label)")
          assert(tagged(st.fetchMulti(spark, multi, a, b)) == tagged(fl.fetchMulti(spark, multi, a, b)),
            s"fetchMulti != flat ($label)")
          assert(tagged(st.fetchAll(spark, a, b)) == tagged(fl.fetchAll(spark, a, b)),
            s"fetchAll != flat ($label)")
        }
        assert(points(td.fetch(spark, "events.*", a, b)) == points(fl.fetch(spark, "events.*", a, b)),
          s"tiered != flat (round $round step $step cut $cut range [$a,$b))")
      }
    }
  }

  test("retention rollover: old windows consolidate into the coarse store, fine partitions drop, and the tiered read shows the intended resolution") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("retention").toString
    // 3 days of 60s data for one series; roll days 0-1 to 3600s
    val fine = Seq(Series("events.m", Map("name" -> "events.m"), 0L, 60L,
      Array.tabulate(3 * 1440)(_.toDouble))).toDF()
    graft.store.RoutedSeriesStore.write(fine, s"$base/fine", 86400L, routeDepth = 0)
    val moved = graft.store.Retention.rollover(spark, s"$base/fine", s"$base/coarse",
      windowSec = 86400L, beforeWin = 2L, coarseStep = 3600L)
    assert(moved == Seq(0L, 1L))
    // the rolled partitions are physically gone from the fine store
    val fineLeft = spark.read.parquet(s"$base/fine")
      .select("pwin").distinct().collect().map(_.getInt(0)).toSet
    assert(fineLeft == Set(2), s"fine store must only keep recent windows: $fineLeft")
    // idempotence: nothing left below the cutoff
    assert(graft.store.Retention.rollover(spark, s"$base/fine", s"$base/coarse",
      86400L, 2L, 3600L).isEmpty)
    // crash-retry idempotence: a failure BETWEEN the coarse write and the
    // fine delete replays the whole rollover — simulate by re-rolling from
    // an untouched copy of the original fine store into the SAME coarse
    // dir; dynamic partition overwrite must replace, not duplicate
    val fine2 = s"$base/fine2"
    graft.store.RoutedSeriesStore.write(fine, fine2, 86400L, routeDepth = 0)
    val coarseBefore = spark.read.parquet(s"$base/coarse").count()
    assert(graft.store.Retention.rollover(spark, fine2, s"$base/coarse",
      86400L, 2L, 3600L) == Seq(0L, 1L))
    assert(spark.read.parquet(s"$base/coarse").count() == coarseBefore,
      "a replayed rollover must overwrite its windows, not append duplicates")
    // tiered read (fine first) = the original data consolidated to 3600s
    // on days 0-1 and avg-of-60 pairs everywhere per the LCM merge
    val tiered = new TieredSeriesStore(Seq(
      new RoutedSeriesStore(s"$base/fine", 86400L, 0, Some(60L)),
      new RoutedSeriesStore(s"$base/coarse", 86400L, 0, Some(3600L))))
    val rows = canon(tiered.fetch(spark, "events.m", 0L, 3L * 86400))
    assert(rows.size == 1)
    val (_, start, step, vals) = rows.head
    assert(start == 0L && step == 3600L && vals.size == 72)
    // every hourly bucket = avg of its 60 original minutely values
    val want = (0 until 72).map(h => (h * 60 until (h + 1) * 60).map(_.toDouble).sum / 60)
    assert(vals == want, s"first mismatch at ${vals.zip(want).indexWhere(p => p._1 != p._2)}")
  }

  test("a fully-rolled fine tier reads as empty: rollover of EVERY window leaves a no-parquet dir that must not break reads") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("retention_all").toString
    val fine = Seq(Series("events.m", Map("name" -> "events.m"), 0L, 60L,
      Array.tabulate(2 * 1440)(_.toDouble))).toDF()
    graft.store.RoutedSeriesStore.write(fine, s"$base/fine", 86400L, routeDepth = 0)
    // cutoff above the newest window: EVERYTHING rolls, fine dir keeps no
    // pwin= partitions (only parquet's _SUCCESS-style metadata, no data)
    assert(graft.store.Retention.rollover(spark, s"$base/fine", s"$base/coarse",
      86400L, beforeWin = 99L, coarseStep = 3600L) == Seq(0L, 1L))
    // a second rollover over the emptied dir is a clean no-op, not an
    // "unable to infer schema" AnalysisException
    assert(graft.store.Retention.rollover(spark, s"$base/fine", s"$base/coarse",
      86400L, 99L, 3600L).isEmpty)
    // and a direct store read over the emptied dir returns no rows
    val emptied = new RoutedSeriesStore(s"$base/fine", 86400L, 0, Some(60L))
    assert(emptied.fetch(spark, "events.m", 0L, 2L * 86400).count() == 0L)
    // the tiered composition still serves everything from the coarse tier
    val tiered = new TieredSeriesStore(Seq(
      emptied, new RoutedSeriesStore(s"$base/coarse", 86400L, 0, Some(3600L))))
    val rows = canon(tiered.fetch(spark, "events.m", 0L, 2L * 86400))
    assert(rows.size == 1 && rows.head._3 == 3600L && rows.head._4.size == 48)
  }

  test("tiered fetch pushes the name prefix into EVERY tier's scan and prunes partitioned tiers") {
    val tiered = new TieredSeriesStore(Seq(flat, part))
    val plan = tiered.fetch(spark, "events.c*", 3600L, 7200L)
      .queryExecution.executedPlan.toString
    val pushes = "StringStartsWith\\(name,events.c".r.findAllIn(plan).length
    assert(pushes >= 2, s"both tier scans must carry the prefix pushdown ($pushes):\n" + plan.take(3000))
    assert("PartitionFilters: \\[[^\\]]*pwin".r.findFirstIn(plan).nonEmpty,
      "the partitioned tier must still prune by window inside the composition:\n" + plan.take(3000))
  }

  test("flat-store catalog is a 2-column pruned scan: the values arrays never enter the metadata read") {
    val df = flat.catalog(spark)
    val plan = df.queryExecution.executedPlan.toString
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("name"), plan.take(3000))
    assert(!read.contains("values"),
      s"find's metadata scan must prune the point data: $read")
    assert(df.select("name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("events.click", "events.view", "other.metric"))
  }

  test("partitioned store serves its catalog from the persisted _catalog table, not a data scan") {
    val df = part.catalog(spark)
    assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains("_catalog")),
      s"catalog must read the pathcache table: ${df.inputFiles.toSeq}")
    assert(df.select("name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("events.click", "events.view", "other.metric"))
    // the data readers never see the underscore-prefixed catalog dir
    assert(part.fetch(spark, "*.*", 0L, 10800L).inputFiles.forall(!_.contains("_catalog")))
  }

  test("rollover keeps both tiers' catalogs truthful and the tiered catalog is their union") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("retcat").toString
    // one series entirely in old windows, one only recent
    val fine = Seq(
      Series("events.old", Map("name" -> "events.old"), 0L, 60L,
        Array.tabulate(1440)(_.toDouble)),                     // day 0 only
      Series("events.recent", Map("name" -> "events.recent"), 86400L, 60L,
        Array.tabulate(1440)(_.toDouble))                      // day 1 only
    ).toDF()
    graft.store.RoutedSeriesStore.write(fine, s"$base/fine", 86400L, routeDepth = 0)
    assert(graft.store.Retention.rollover(spark, s"$base/fine", s"$base/coarse",
      86400L, beforeWin = 1L, coarseStep = 3600L) == Seq(0L))
    val fineStore = new RoutedSeriesStore(s"$base/fine", 86400L, 0, Some(60L))
    val coarseStore = new RoutedSeriesStore(s"$base/coarse", 86400L, 0, Some(3600L))
    def names(s: graft.store.SeriesStore) =
      s.catalog(spark).select("name").collect().map(_.getString(0)).sorted.toSeq
    // fine catalog rebuilt from what remains; coarse gained the rolled name
    assert(names(fineStore) == Seq("events.recent"), "fine catalog must drop rolled-away names")
    assert(names(coarseStore) == Seq("events.old"), "coarse catalog must gain rolled names")
    // both catalogs come from the persisted table, not a data scan
    assert(fineStore.catalog(spark).inputFiles.forall(_.contains("_catalog")))
    assert(coarseStore.catalog(spark).inputFiles.forall(_.contains("_catalog")))
    assert(names(new TieredSeriesStore(Seq(fineStore, coarseStore))) ==
      Seq("events.old", "events.recent"))
  }

  test("pathcache TTL: one persisted catalog frame serves every find within the TTL; expiry rebuilds (ref pathcache/pathcache.go:18-56, expireDelaySec)") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ttlcat").toString
    Seq(Series("events.a", Map("name" -> "events.a"), 0L, 60L, Array(1.0)))
      .toDF().write.mode("overwrite").parquet(dir)
    val store = new ParquetSeriesStore(dir)
    val prevTtl = graft.api.Catalog.ttlSeconds
    try {
      graft.api.Catalog.ttlSeconds = 600L
      graft.api.Catalog.invalidateCatalogCache()
      def ids() = graft.api.Catalog.find(spark, store, "events.*").map(_.id)
      assert(ids() == Seq("events.a"))
      // within the TTL every request reuses the SAME persisted frame — the
      // store is scanned at most once per TTL window, the pathcache deal
      val df1 = graft.api.Catalog.cachedCatalog(spark, store)
      assert(df1 eq graft.api.Catalog.cachedCatalog(spark, store))
      assert(df1.storageLevel.useMemory, "the cached catalog must be persisted")
      // a write through this session recaches by path (Spark CacheManager),
      // so in-session appends are visible immediately — strictly fresher
      // than the reference's staleness window, never staler
      Seq(Series("events.b", Map("name" -> "events.b"), 0L, 60L, Array(2.0)))
        .toDF().write.mode("append").parquet(dir)
      // TTL 0 = every entry is already expired: the next request rebuilds
      // (out-of-band writes become visible at most one TTL later)
      graft.api.Catalog.ttlSeconds = 0L
      val df3 = graft.api.Catalog.cachedCatalog(spark, store)
      assert(!(df3 eq df1), "an expired catalog entry must rebuild")
      assert(ids() == Seq("events.a", "events.b"))
    } finally {
      graft.api.Catalog.ttlSeconds = prevTtl
      graft.api.Catalog.invalidateCatalogCache()
    }
  }

  test("reader racing a rollover delete: a pre-delete plan fails by default (retry re-plans to the surviving layout); ignoreMissingFiles serves survivors") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("racedel").toString
    val fine = Seq(
      Series("events.a", Map("name" -> "events.a"), 0L, 60L,
        Array.tabulate(2 * 60)(_.toDouble)),                   // windows 0-1
      Series("events.b", Map("name" -> "events.b"), 3600L, 60L,
        Array.tabulate(60)(i => i * 2.0))                      // window 1 only
    ).toDF()
    graft.store.RoutedSeriesStore.write(fine, s"$base/fine", 3600L, routeDepth = 0)
    val store = new RoutedSeriesStore(s"$base/fine", 3600L, 0, Some(60L))
    // both plans list files BEFORE the delete — the rollover race window
    val racingDefault = store.fetch(spark, "events.*", 0L, 7200L)
    val racingLenient = store.fetch(spark, "events.*", 0L, 7200L)
    // rollover's partition drop, mid-"scan"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/fine/pwin=0"), true)
    // default: the stale plan fails loudly; the caller's retry re-plans
    // against the post-rollover listing and succeeds
    intercept[org.apache.spark.SparkException] { racingDefault.collect() }
    val retried = canon(store.fetch(spark, "events.*", 0L, 7200L))
    assert(retried.map(_._1) == Seq("events.a", "events.b"))
    assert(retried.head._2 == 3600L, "retry serves exactly the surviving windows")
    // lenient: with ignoreMissingFiles (read at execution time) the stale
    // plan degrades to the surviving partitions instead of failing
    try {
      spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
      val lenient = canon(racingLenient)
      assert(lenient.map(_._1) == Seq("events.a", "events.b"))
      assert(lenient.head._4.size == 60, "window 0's points are gone; window 1 serves")
    } finally spark.conf.set("spark.sql.files.ignoreMissingFiles", "false")
  }

  test("parallel finds share one catalog build: the store is scanned once however many requests race the cold cache") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("conccat").toString
    Seq(Series("events.a", Map("name" -> "events.a"), 0L, 60L, Array(1.0)))
      .toDF().write.mode("overwrite").parquet(dir)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val inner = new ParquetSeriesStore(dir)
    val counting = new graft.store.SeriesStore {
      def fetch(s: org.apache.spark.sql.SparkSession, p: String, f: Long, u: Long) =
        inner.fetch(s, p, f, u)
      def fetchAll(s: org.apache.spark.sql.SparkSession, f: Long, u: Long) =
        inner.fetchAll(s, f, u)
      override def catalog(s: org.apache.spark.sql.SparkSession) = {
        builds.incrementAndGet(); inner.catalog(s)
      }
    }
    val prevTtl = graft.api.Catalog.ttlSeconds
    try {
      graft.api.Catalog.ttlSeconds = 600L
      graft.api.Catalog.invalidateCatalogCache()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val results = (0 until 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call() = graft.api.Catalog.find(spark, counting, "events.*").map(_.id)
        })
      }.map(_.get())
      pool.shutdown()
      assert(results.forall(_ == Seq("events.a")))
      assert(builds.get() == 1,
        s"16 racing finds must share ONE catalog build, saw ${builds.get()}")
    } finally {
      graft.api.Catalog.ttlSeconds = prevTtl
      graft.api.Catalog.invalidateCatalogCache()
    }
  }

  test("an unbounded fetchAll still stitches but applies no partition bound") {
    // Eval's whole-store sentinel (Eval.scala:52) — outside bounded()'s range
    val rows = canon(part.fetchAll(spark, Long.MinValue / 4, Long.MaxValue / 4))
    assert(rows.map(_._1) == Seq("events.click", "events.view", "other.metric"))
    assert(rows.head._4.size == 180)
  }

  // 3 routes in one window — the multi-env shape brace pruning exists for
  private def envFixture(sp: SparkSession) = {
    import sp.implicits._
    Seq("prod", "staging", "dev").map { env =>
      Series(s"$env.web.cpu", Map("name" -> s"$env.web.cpu"), 0L, 60L,
        Array.tabulate(60)(_.toDouble))
    }.toDF()
  }

  test("brace-alternation glob prunes to its branch route dirs ({prod,staging}.web.* reads 2 of 3)") {
    val dir = java.nio.file.Files.createTempDirectory("braceroute").toString
    graft.store.RoutedSeriesStore.write(envFixture(spark), dir, windowSec = 3600L)
    val routed = new graft.store.RoutedSeriesStore(dir, 3600L, routeDepth = 1, Some(60L))
    val flatEnv = {
      val fdir = java.nio.file.Files.createTempDirectory("braceflat").toString
      envFixture(spark).write.mode("overwrite").parquet(fdir)
      new ParquetSeriesStore(fdir, Some(60L))
    }
    import org.apache.spark.sql.execution.FileSourceScanExec
    def parts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
        .head.selectedPartitions.partitionCount
    // results identical to flat; scan touches exactly the 2 branch dirs
    val got = routed.fetch(spark, "{prod,staging}.web.*", 0L, 3600L)
    assert(canon(got) == canon(flatEnv.fetch(spark, "{prod,staging}.web.*", 0L, 3600L)))
    assert(canon(got).map(_._1).sorted == Seq("prod.web.cpu", "staging.web.cpu"))
    assert(parts(got) == 2,
      s"2-branch brace must read 2 of 3 route dirs, read ${parts(got)}")
    // a brace BEYOND the route depth keeps the exact single-route predicate
    assert(parts(routed.fetch(spark, "prod.{web,db}.*", 0L, 3600L)) == 1)
    // branches with no literal prefix degrade to full fan-out (still correct)
    val fan = routed.fetch(spark, "*.{web,db}.cpu", 0L, 3600L)
    assert(parts(fan) == 3)
    assert(canon(fan).map(_._1).sorted ==
      Seq("dev.web.cpu", "prod.web.cpu", "staging.web.cpu"))
  }

  test("flat ParquetSeriesStore.write maintains _catalog: find reads catalog-sized bytes, fetch is unaffected") {
    val dir = java.nio.file.Files.createTempDirectory("flatcat").toString
    graft.store.ParquetSeriesStore.write(envFixture(spark), dir)
    val store = new ParquetSeriesStore(dir, Some(60L))
    // the catalog read touches ONLY the persisted _catalog files
    val catFiles = store.catalog(spark).inputFiles
    assert(catFiles.nonEmpty && catFiles.forall(_.contains("_catalog")),
      s"find over a flat store must read _catalog only, read: ${catFiles.mkString(",")}")
    // the data read never lists the underscore-prefixed catalog dir
    val fetched = store.fetch(spark, "prod.web.cpu", 0L, 3600L)
    assert(fetched.inputFiles.forall(!_.contains("_catalog")))
    assert(canon(fetched).map(_._1) == Seq("prod.web.cpu"))
  }

  test("layout metadata fails fast on reader/writer mismatch (routeDepth, windowSec); hand-built stores without _store_meta still read") {
    val dir = java.nio.file.Files.createTempDirectory("metacheck").toString
    graft.store.RoutedSeriesStore.write(envFixture(spark), dir, windowSec = 3600L, routeDepth = 1)
    // wrong depth: troute predicates would silently select nothing — throw
    val wrongDepth = new graft.store.RoutedSeriesStore(dir, 3600L, routeDepth = 2, Some(60L))
    val e1 = intercept[IllegalStateException] {
      wrongDepth.fetch(spark, "prod.web.*", 0L, 3600L).collect()
    }
    assert(e1.getMessage.contains("routeDepth"))
    // wrong window: pwin predicates would prune the wrong dirs — throw
    val pdir = java.nio.file.Files.createTempDirectory("metawin").toString
    RoutedSeriesStore.write(envFixture(spark), pdir, windowSec = 3600L, routeDepth = 0)
    val wrongWin = new RoutedSeriesStore(pdir, 7200L, 0, Some(60L))
    val e2 = intercept[IllegalStateException] {
      wrongWin.fetch(spark, "prod.web.*", 0L, 3600L).collect()
    }
    assert(e2.getMessage.contains("windowSec"))
    // a routed reader over the time-only layout: no troute dirs exist, so
    // route predicates would silently select nothing — the depth-0 writer
    // records routeDepth=0, and the mismatch throws
    val routedOverTime = new RoutedSeriesStore(pdir, 3600L, routeDepth = 1, Some(60L))
    val e3 = intercept[IllegalStateException] {
      routedOverTime.fetch(spark, "prod.web.*", 0L, 3600L).collect()
    }
    assert(e3.getMessage.contains("routeDepth"))
    // a time-only store written before depth 0 was recorded (meta without
    // a routeDepth key) still opens at depth 0, and a routed reader over it
    // throws just the same
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(pdir, "._store_meta.crc"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(pdir, "_store_meta"),
      "layout=time\nwindowSec=3600\n")
    val legacy = new RoutedSeriesStore(pdir, 3600L, routeDepth = 0, Some(60L))
    assert(canon(legacy.fetch(spark, "prod.web.*", 0L, 3600L)).map(_._1) == Seq("prod.web.cpu"))
    val routedOverLegacy = new RoutedSeriesStore(pdir, 3600L, routeDepth = 1, Some(60L))
    val e4 = intercept[IllegalStateException] {
      routedOverLegacy.fetch(spark, "prod.web.*", 0L, 3600L).collect()
    }
    assert(e4.getMessage.contains("routeDepth"))
    // matching reader works, and a hand-built layout (no _store_meta)
    // validates trivially (the gap-store test above relies on this too)
    val ok = new graft.store.RoutedSeriesStore(dir, 3600L, routeDepth = 1, Some(60L))
    assert(canon(ok.fetch(spark, "prod.web.*", 0L, 3600L)).map(_._1) == Seq("prod.web.cpu"))
  }

  test("catalog TTL is per entry: one server's 0s expiry cannot evict another store's long-TTL frame (ADVICE r8)") {
    val sp = spark
    import sp.implicits._
    def mkStore(tag: String) = {
      val dir = java.nio.file.Files.createTempDirectory(s"ttl$tag").toString
      Seq(Series(s"$tag.a", Map("name" -> s"$tag.a"), 0L, 60L, Array(1.0)))
        .toDF().write.mode("overwrite").parquet(dir)
      new ParquetSeriesStore(dir)
    }
    val longStore = mkStore("long"); val shortStore = mkStore("short")
    try {
      graft.api.Catalog.invalidateCatalogCache()
      val longDf = graft.api.Catalog.cachedCatalog(spark, longStore, ttlSec = 600L)
      // a 0-TTL entry for ANOTHER store expires (and rebuilds) per access…
      val s1 = graft.api.Catalog.cachedCatalog(spark, shortStore, ttlSec = 0L)
      val s2 = graft.api.Catalog.cachedCatalog(spark, shortStore, ttlSec = 0L)
      assert(!(s1 eq s2), "a 0-TTL entry must expire on the next access")
      // …while the long-TTL store's frame survives every sweep
      assert(longDf eq graft.api.Catalog.cachedCatalog(spark, longStore, ttlSec = 600L),
        "another server's short TTL must not expire this store's catalog")
    } finally graft.api.Catalog.invalidateCatalogCache()
  }

  test("fetchMulti batched scan == per-pattern union on every layout, incl. overlapping and no-prefix patterns") {
    val routedDir = java.nio.file.Files.createTempDirectory("routedmulti").toString
    graft.store.RoutedSeriesStore.write(fixture(spark), routedDir, windowSec = 3600L)
    val routed = new graft.store.RoutedSeriesStore(routedDir, 3600L, routeDepth = 1, Some(60L))
    // overlapping patterns (events.click matches 3 of them), a brace glob,
    // an exact name, and a no-literal-prefix wildcard forcing full fan-out
    val patterns = Seq("events.*", "events.cl*", "events.click",
      "{events,other}.*", "*.metric")
    def canonTagged(df: org.apache.spark.sql.DataFrame) =
      df.select("pathExpression", "name", "start", "step", "values").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getSeq[Double](4)))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
    for (store <- Seq[graft.store.SeriesStore](flat, part, routed);
         (a, b) <- Seq((0L, 10800L), (1800L, 5400L))) {
      val union = patterns.map(store.fetch(spark, _, a, b)).reduce(_ unionByName _)
      assert(canonTagged(store.fetchMulti(spark, patterns, a, b)) == canonTagged(union),
        s"fetchMulti != per-pattern union for ${store.getClass.getSimpleName} [$a,$b)")
    }
    // a single pattern falls back to the plain fetch shape
    assert(canonTagged(routed.fetchMulti(spark, Seq("events.*"), 0L, 10800L)) ==
      canonTagged(routed.fetch(spark, "events.*", 0L, 10800L)))
  }

  test("concurrent renders on one cold store: per-request prefetch batches stay correct and release cleanly under a 12-way race") {
    // the prefetch batch is REQUEST-scoped by design (documented in
    // Eval.Ctx.prefetch): two racing renders each pin their own batch —
    // no cross-request refcounting, each request's scope drops exactly
    // what it pinned.
    // This gate pins what the design owes: identical results under the
    // race and zero leaked pins afterwards
    val targets = Seq("sumSeries(events.*)", "scale(other.metric, 2)",
      "maxSeries(events.cl*, other.*)")
    // the path the server runs: HttpApi calls evalWithErrors per request
    def render() = {
      val (rows, errors) = graft.api.Render.evalWithErrors(spark, flat, targets, 0L, 10800L)
      assert(errors.isEmpty, s"no fetch may fail: $errors")
      rows.map(r => (r.name, r.start, r.step, r.values.toSeq)).sortBy(_._1)
    }
    val sequential = render()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val raced = (1 to 12).map(_ => scala.concurrent.Future(render()))
    val all = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(raced),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(all.forall(_ == sequential),
      "a racing render must return exactly the sequential result")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"request pins must all release: $leaked")
  }

  test("positional ops release their internal RDD cache at request end (indexByName pin accounting)") {
    // PairOps.indexByName persists the sorted RDD; inside a render that
    // persist must register with the request's scope and release with
    // the request, not linger until a ContextCleaner GC (ADVICE r11).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (rows, errors) = graft.api.Render.evalWithErrors(spark, flat,
      Seq("divideSeriesLists(events.*, events.*)"), 0L, 10800L)
    assert(errors.isEmpty && rows.nonEmpty)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"indexByName caches must release with the request: $leaked")
  }
}
