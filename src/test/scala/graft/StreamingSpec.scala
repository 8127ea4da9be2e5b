package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Ingest

/** End-to-end micro-batch ingest: events parquet → streaming hourly rollup
  * → parquet sink → canonical series frame, compared against the batch
  * fixture derivation on the same input. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[2]", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("streamed rollup matches the batch fixture derivation") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val srcDir = s"$tmp/events"
    val outDir = s"$tmp/points"
    val ckDir = s"$tmp/ck"

    // stage the sf0.001 events as the stream source (ts is TIMESTAMP(NANOS)
    // read as long under nanosAsLong — convert to a real timestamp column)
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val ev = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_seconds(expr("ts DIV 1000000000")))
      case _ => raw
    }).select("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.write.mode("overwrite").parquet(srcDir)

    val q = Ingest.writer(
      Ingest.hourlyRollup(Ingest.eventStream(spark, srcDir)),
      outDir, ckDir).start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(outDir)
      .select(col("name"), col("ts"), round(col("value"), 6).as("v"))
    val batch = graft.core.SeriesFrame.toPoints(
        graft.store.EventSeriesStore.build(spark, "/root/testdata/sf0.001", 3600L))
      .select(col("name"), col("ts"), round(col("value"), 6).as("v"))
    // windows still inside the watermark at end-of-stream stay in state and
    // are not emitted (append semantics) — compare only finalized buckets
    val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
    val finalized = batch.where(col("ts") + 3600 < maxTs - 7200 - 3600)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty, "streamed rows must match batch values")
    assert(finalized.except(streamed).isEmpty, "all watermark-finalized buckets must be emitted")
  }

  test("streaming first-seen dedup drops copies across micro-batches; quality gate runs stateless") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-docstream").toString
    val srcDir = s"$tmp/docs"
    val ckDir = s"$tmp/ck"
    val sp = spark
    import sp.implicits._

    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textB = "an entirely different document body with plenty of ordinary words"
    val junk = "!!! ??? ***"
    val leaky = "please write to the list admin at owner@example.com for details about it"
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // file 1 = batch 1: doc 1 and 2 share textA (in-batch dup), doc 9 is
    // junk, doc 8 carries PII
    Seq((1L, ts(0), textA), (2L, ts(1), textA), (9L, ts(1), junk), (8L, ts(1), leaky))
      .toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$srcDir/f1")
    // file 2 = batch 2: doc 3 repeats textA (cross-batch dup), doc 4 is new
    Seq((3L, ts(2), textA), (4L, ts(3), textB))
      .toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$srcDir/f2")

    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .option("maxFilesPerTrigger", 1) // force one micro-batch per file
      .parquet(s"$srcDir/*")
    val deduped = graft.streaming.DocPipeline.firstSeenDedup(
      graft.streaming.DocPipeline.piiGate(graft.streaming.DocPipeline.qualityGate(src)),
      watermark = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("doc_dedup")
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val out = sp.table("doc_dedup").select("doc_id").as[Long].collect().sorted.toSeq
    // doc 1 wins textA (lowest ts); 2 drops in-batch, 3 drops CROSS-batch
    // via flatMapGroupsWithState state; 9 never reaches the state store
    // (quality gate); 8 drops at the PII gate; 4 passes as the first of textB
    assert(out == Seq(1L, 4L), s"got $out")
  }

  test("streaming multimodal feature extraction matches the batch kernel per asset") {
    // the mapPartitions batch kernel is deterministic and stateless, so it
    // lifts to a streaming micro-batch unchanged — gate stream ≡ batch
    import graft.pipeline.Multimodal
    val tmp = Files.createTempDirectory("graft-assets").toString
    val srcDir = s"$tmp/assets"; val ckDir = s"$tmp/ck"
    val sp = spark
    import sp.implicits._
    val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, if (y < 4) 0x000000 else 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val rows = Seq(
      (1L, "image", png), (2L, "image", "junk bytes".getBytes("UTF-8")),
      (3L, "audio", "pcm-ish".getBytes("UTF-8")))
    rows.take(2).toDF("asset_id", "modality", "payload").repartition(1)
      .write.parquet(s"$srcDir/f1")
    rows.drop(2).toDF("asset_id", "modality", "payload").repartition(1)
      .write.parquet(s"$srcDir/f2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("asset_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("modality", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType)))
    val src = sp.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q = Multimodal.extractFeatures(src, dim = 8)
      .writeStream.format("memory").queryName("mm_stream")
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = sp.table("mm_stream").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val batch = Multimodal.extractFeatures(
      rows.toDF("asset_id", "modality", "payload"), dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(streamed.keySet == Set(1L, 2L, 3L))
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("streaming corpus stats match the batch rollup for finalized windows") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-corpusstats").toString
    val srcDir = s"$tmp/docs"
    val ckDir = s"$tmp/ck"
    val sp = spark
    import sp.implicits._

    val en = "the cat and the dog sat with that for the evening"
    val de = "der hund und die katze sind mit der nacht nicht fertig"
    def ts(h: Int, m: Int) = new Timestamp(1700000000000L + (h * 60L + m) * 60000L)
    // two docs per language in hour 0, one in hour 1, then a late hour-3
    // doc whose arrival finalizes everything before it
    Seq((1L, ts(0, 5), en), (2L, ts(0, 25), en), (3L, ts(0, 30), de))
      .toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$srcDir/f1")
    Seq((4L, ts(1, 10), de), (5L, ts(3, 30), en))
      .toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$srcDir/f2")

    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = graft.streaming.DocPipeline.corpusStats(src)
      .writeStream.format("memory").queryName("corpus_stats")
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = sp.table("corpus_stats")
      .select(unix_timestamp(col("window_start")).as("w"), col("lang_pred"),
        col("n_docs"), col("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // batch twin on the union, finalized windows only (hour-3 doc is held
    // back by the 1h watermark at end of stream)
    val union = Seq((1L, ts(0, 5), en), (2L, ts(0, 25), en), (3L, ts(0, 30), de),
      (4L, ts(1, 10), de)).toDF("doc_id", "ts", "text")
    val batch = graft.pipeline.TextStats.languageId(union)
      .withColumn("n_tokens", graft.pipeline.TextStats.tokenCount(col("text")).cast("long"))
      .groupBy(window(col("ts"), "1 hour"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .select(unix_timestamp(col("window.start")).as("w"), col("lang_pred"),
        col("n_docs"), col("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("streaming near-dup pairs match the batch OPH operator; each pair emitted once") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-neardup").toString
    val srcDir = s"$tmp/docs"
    val ckDir = s"$tmp/ck"
    val sp = spark
    import sp.implicits._

    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "watches from the window and the birds sing in the tall green trees " +
      "beside the quiet river bank every single morning"
    val nearA = base.replace("morning", "evening") // one-word change: high jaccard
    val other = "completely unrelated text about distributed query engines " +
      "columnar storage formats partition pruning predicate pushdown and " +
      "whole stage code generation inside modern analytical database systems"
    val otherCopy = other // exact copy → jaccard 1.0
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)

    // batch 1: base + other; batch 2: their near-dups + one unrelated doc
    Seq((1L, ts(0), base), (2L, ts(1), other))
      .toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$srcDir/f1")
    Seq((3L, ts(2), nearA), (4L, ts(3), otherCopy),
        (5L, ts(4), "short framework note unrelated to either corpus topic here"))
      .toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$srcDir/f2")

    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = graft.streaming.NearDup.nearDupPairs(src, threshold = 0.8,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("near_dup")
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = sp.table("near_dup")
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // exactly-once: no pair appears twice even though near-identical sigs
    // collide in many bands
    assert(streamed.map(p => (p._1, p._2)).distinct.size == streamed.size,
      s"duplicate emissions: $streamed")

    // the batch operator on the union corpus is the reference result
    val union = Seq((1L, base), (2L, other), (3L, nearA), (4L, otherCopy),
      (5L, "short framework note unrelated to either corpus topic here"))
      .toDF("doc_id", "text")
    val batch = graft.pipeline.Dedup.minhashPairsOph(union, k = 3, numBins = 64,
        bands = 16, threshold = 0.8)
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(batch.nonEmpty, "fixture must contain batch-detectable near-dups")
    assert(streamed.toSet == batch.toSet,
      s"stream $streamed vs batch $batch")
  }

  test("streaming curated corpus matches the batch capstone + split derivation") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-curated").toString
    val srcDir = s"$tmp/docs"
    val ckDir = s"$tmp/ck"
    val sp = spark
    import sp.implicits._

    val enA = "the cat and the dog sat with that for the evening"
    val enB = "the house and the tree stand near the river for the night"
    val short = "the cat sat"
    val leaky = "please write to the list admin at owner@example.com for details about it all"
    val de = "der hund und die katze sind mit der nacht nicht fertig"
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // batch 1: keeper enA + the gate victims; batch 2: cross-batch dup of
    // enA, a fresh clean doc, a non-English doc
    Seq((1L, ts(0), enA), (2L, ts(1), short), (3L, ts(2), leaky))
      .toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$srcDir/f1")
    Seq((4L, ts(3), enA), (5L, ts(4), enB), (6L, ts(5), de))
      .toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$srcDir/f2")

    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$srcDir/*")
    val q = graft.streaming.DocPipeline.curatedStream(src, minTokens = 10,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("curated_stream")
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = sp.table("curated_stream")
      .select("doc_id", "lang_pred", "n_tokens", "split")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet

    // batch twin: the p22 capstone (exact-dup pair graph) joined with the
    // p32 split assignment on the union corpus
    val d = Seq((1L, enA), (2L, short), (3L, leaky), (4L, enA), (5L, enB), (6L, de))
      .toDF("doc_id", "text")
    val h = d.select(col("doc_id"), md5(col("text")).as("h"))
    val pairs = h.as("a").join(h.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val batch = graft.pipeline.Curation.curatedCorpus(d, pairs, lang = "en", minTokens = 10)
      .join(graft.pipeline.Assembly.trainValTestSplit(d).select("doc_id", "split"), "doc_id")
      .select("doc_id", "lang_pred", "n_tokens", "split")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(batch.nonEmpty, "batch capstone must keep at least one doc")
    assert(batch.map(_._1) == Set(1L, 5L), s"fixture drift: $batch")
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("streaming shard assignment matches the batch shard plan per document") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-shard").toString
    val sp = spark
    import sp.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val rows = Seq((1L, ts(0), "alpha beta gamma"), (2L, ts(1), "delta"),
      (7L, ts(2), "one two three four five"), (1000L, ts(3), "six seven"))
    rows.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f1")

    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.shardAssign(src, nShards = 4)
      .select("doc_id", "n_tokens", "pos", "shard")
      .writeStream.format("memory").queryName("shard_stream")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = sp.table("shard_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.pipeline.Assembly.shardPlan(
        rows.map(r => (r._1, r._3)).toDF("doc_id", "text"), nShards = 4)
      .select("doc_id", "n_tokens", "pos", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch.size == 4)
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("streaming fertility monitor: per-source aggregation of the streamed rows reproduces the batch p74 report") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-fertstream").toString
    val sp = spark
    import sp.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val rows = Seq(
      (1L, ts(0), "aa bb aa bb", "srcCommon"), (2L, ts(1), "aa bb", "srcCommon"),
      (3L, ts(2), "zz yy xx", "srcRare"), (4L, ts(3), "...", "srcEmpty"))
    rows.toDF("doc_id", "ts", "text", "source")
      .repartition(1).write.parquet(s"$tmp/docs/f1")
    val static = rows.map(r => (r._1, r._3, r._4)).toDF("doc_id", "text", "source")
    // offline vocab training, bounded literal deployment — same shape as NB
    val vocabWords = graft.pipeline.Curation.vocab(static, 2)
      .collect().map(_.getString(0)).toSeq

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType)))
    val src = sp.readStream.schema(schema).parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.fertilityStream(src, vocabWords)
      .writeStream.format("memory").queryName("fert_stream")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // the sink-side per-source report: same integer sums -> same 4dp ratios
    val r4 = (c: org.apache.spark.sql.Column) => round(c * 1e4) / 1e4
    val report = sp.table("fert_stream").groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("n_oov").as("n_oov"), sum("n_chars").as("_chars"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_oov"),
        r4(coalesce(col("n_oov").cast("double") / col("n_tokens"), lit(0.0))).as("oov_rate"),
        r4(coalesce(col("_chars").cast("double") / col("n_tokens"), lit(0.0))).as("chars_per_token"),
        r4(coalesce(col("n_tokens").cast("double") / col("n_docs"), lit(0.0))).as("tokens_per_doc"))
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.pipeline.Curation.tokenizerFertility(static, vocabSize = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(report == batch, s"stream report $report vs batch $batch")
  }

  test("streaming NB scoring with the offline-trained bounded model matches the batch scorer per document") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-nbstream").toString
    val sp = spark
    import sp.implicits._
    // offline training corpus: target (src1) speaks alpha/beta
    val train = Seq(
      (100L, "alpha beta alpha", "src1"), (101L, "beta beta alpha", "src1"),
      (102L, "gamma delta", "src0"), (103L, "delta gamma gamma", "src0"))
      .toDF("doc_id", "text", "source")
    val (model, prior) = graft.pipeline.Assembly.nbModelTopK(train, "src1", k = 16)
    assert(model.nonEmpty && model("alpha") > 0 && model("gamma") < 0)

    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val rows = Seq((1L, ts(0), "alpha beta"), (2L, ts(1), "gamma delta gamma"),
      (3L, ts(2), "alpha gamma"), (4L, ts(3), "zzz unseen words"))
    rows.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f1")

    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.nbScoreStream(src, model, prior)
      .writeStream.format("memory").queryName("nb_stream")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = sp.table("nb_stream").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getBoolean(3))).toSet
    val batch = graft.pipeline.Assembly.nbScoreWithModel(
        rows.map(r => (r._1, r._3)).toDF("doc_id", "text"), model, prior)
      .select(col("doc_id"), col("nb_logodds"), (col("nb_logodds") > 0).as("pred"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    assert(batch.size == 4)
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // OOV-only docs score exactly the prior
    assert(streamed.exists { case (id, s, _) => id == 4L && math.abs(s - prior) < 1e-12 })
  }

  test("streaming epoch/shard assignment with offline cuts equals the batch epoch plan per document") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-epoch").toString
    val sp = spark
    import sp.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // lengths spread the heuristic score across terciles
    val rows = (0 until 12).map(i => (i.toLong, ts(i), ("w " * (8 * i + 1)).trim))
    val batchDocs = rows.map(r => (r._1, r._3)).toDF("doc_id", "text")
    val plan = graft.pipeline.Assembly.epochPlan(batchDocs, nShards = 4)
    val batch = plan.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // the offline cuts the deployment ships (same computation as the plan)
    val scored = graft.pipeline.TextStats.qualityScore(batchDocs)
      .select(col("doc_id"), (round(col("quality_score") * 1e4) / 1e4).as("score"))
    val cuts = scored.agg(
      (round(expr("percentile(score, 1.0/3)") * 1e4) / 1e4),
      (round(expr("percentile(score, 2.0/3)") * 1e4) / 1e4)).head()
    rows.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f1")
    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.epochAssignStream(
        src, cuts.getDouble(0), cuts.getDouble(1), nShards = 4)
      .writeStream.format("memory").queryName("epoch_stream")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = sp.table("epoch_stream").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(batch.map(_._1).size == 12 && batch.size > 12,
      "the tercile repetition must actually multiply instances")
  }

  test("streaming percentile scoring: stream-static join against offline ranks equals batch; unseen bins flag -1") {
    val tmp = Files.createTempDirectory("graft-pct").toString
    val sp = spark
    import sp.implicits._
    val train = sp.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ranks = graft.pipeline.Curation.sourcePercentileRanks(
      graft.pipeline.Curation.scoredQuality(train))
    // stream the SAME corpus (every bin known) plus one alien doc whose
    // quality bin cannot exist in training (empty text, novel source)
    train.select(col("doc_id"), col("text"), col("source"))
      .unionByName(Seq((999999L, "", "neverseen")).toDF("doc_id", "text", "source"))
      .withColumn("ts", expr("timestamp_seconds(1700000000 + doc_id)"))
      .repartition(1).write.parquet(s"$tmp/docs/f1")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("source", StringType),
      StructField("ts", TimestampType)))
    val src = sp.readStream.schema(schema).parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.percentileStream(src, ranks)
      .writeStream.format("memory").queryName("pct_stream")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = sp.table("pct_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toSet
    val batch = graft.pipeline.Curation.sourcePercentile(train).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4))).toSet
    assert(batch.nonEmpty)
    val alien = streamed.find(_._1 == 999999L).get
    assert(alien._4 == -1.0 && alien._5 == 0L,
      s"an unseen (source, quality) bin must flag -1 / keep 0: $alien")
    assert(streamed - alien == batch,
      s"known bins must score exactly as batch; diff ${((streamed - alien) diff batch) ++ (batch diff (streamed - alien))}")
  }

  test("streaming decontamination gate equals the batch embedDecontam scores bit-for-bit") {
    val tmp = Files.createTempDirectory("graft-decontam").toString
    val sp = spark
    val emb = sp.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val model = graft.pipeline.Similarity.decontamModel(emb, heldoutMod = 20L)
    assert(model._1.nonEmpty && model._1.length == model._2.length)
    // stage the non-heldout vectors as an ingest stream
    emb.where(col("vec_id") % 20 =!= 0)
      .withColumn("ts", expr("timestamp_seconds(1700000000 + vec_id)"))
      .select("vec_id", "ts", "embedding")
      .repartition(1).write.parquet(s"$tmp/vecs/f1")
    val src = sp.readStream.schema(graft.streaming.DocPipeline.vecSchema)
      .parquet(s"$tmp/vecs/*")
    val q = graft.streaming.DocPipeline.decontamStream(src, model, tau = 0.3)
      .writeStream.format("memory").queryName("decontam_stream")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // literal-fold (stream) and broadcast-join-max (batch) must agree
    // BIT-for-bit: same double dots in the same element order, same
    // tn·hn-then-divide association, max is order-independent
    val streamed = sp.table("decontam_stream").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).toSet
    val batch = graft.pipeline.Similarity.embedDecontam(emb, tau = 0.3).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(3))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"stream and batch disagree on ${(streamed diff batch) ++ (batch diff streamed)}")
  }

  test("streaming repetition battery equals the batch doc-keyed aggregation row-for-row") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-rep").toString
    val sp = spark
    import sp.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val rows = Seq(
      (1L, ts(0), "a a a b"),                          // heavy repetition
      (2L, ts(1), "alpha beta gamma delta"),           // all distinct
      (3L, ts(2), "spam spam spam spam spam"),         // one word only
      (4L, ts(3), ""))                                 // empty
    rows.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f1")
    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.repetitionStream(src)
      .writeStream.format("memory").queryName("rep_stream")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // the streamed HOF shape and the batch agg shape reduce to the same
    // integer counts → fractions must be BIT-identical per doc
    val streamed = sp.table("rep_stream").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSet
    val batch = graft.pipeline.TextStats.repetitionStats(
        rows.map(r => (r._1, r._3)).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(batch.size == 4)
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // the all-one-word doc: 4 of 5 occurrences are dups and the repeated
    // bigram's coverage product (4 × 8 chars over 20 word chars = 1.6 —
    // overlaps may exceed 1 by design; x1e4 = 16000) must reject it
    assert(streamed.exists { case (id, n, dw, _, topc, keep) =>
      id == 3L && n == 5L && dw == 8000L && topc == 16000L && keep == 0L })
  }

  test("streaming shard manifest: the complete-mode table after all micro-batches equals the batch manifest byte-for-byte") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-manifest").toString
    val sp = spark
    import sp.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val rows1 = (1L to 25L).map(i => (i, ts(i.toInt), s"alpha beta doc $i " * ((i % 3) + 1).toInt))
    val rows2 = (26L to 50L).map(i => (i, ts(i.toInt), s"gamma delta doc $i"))
    rows1.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f1")
    rows2.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f2")
    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .option("maxFilesPerTrigger", 1) // one micro-batch per file
      .parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.manifestStream(src, 4, "v1")
      .writeStream.format("memory").queryName("manifest_stream")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // complete mode: the memory table IS the running manifest after the
    // last micro-batch — sum-mod is a commutative monoid, so it must be
    // byte-identical to the batch manifest over the union
    val streamed = sp.table("manifest_stream").collect()
      .map(_.toSeq.toList).sortBy(_.head.asInstanceOf[Long].toString).toList
    val batch = graft.pipeline.Assembly.shardManifest(
        (rows1 ++ rows2).map(r => (r._1, r._3)).toDF("doc_id", "text"), 4, "v1")
      .orderBy("shard").collect().map(_.toSeq.toList).toList
    assert(streamed.size == 4 && streamed == batch,
      s"stream $streamed vs batch $batch")
  }

  test("streaming split manifest: the complete-mode lineage table equals the batch split manifest byte-for-byte") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-splitmanifest").toString
    val sp = spark
    import sp.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // 1..60 populates all three splits (5,28,51 test; 15,38 val)
    val rows1 = (1L to 30L).map(i => (i, ts(i.toInt), s"alpha beta doc $i " * ((i % 3) + 1).toInt))
    val rows2 = (31L to 60L).map(i => (i, ts(i.toInt), s"gamma delta doc $i"))
    rows1.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f1")
    rows2.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f2")
    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.splitManifestStream(src, "v1")
      .writeStream.format("memory").queryName("split_manifest_stream")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = sp.table("split_manifest_stream").collect()
      .map(_.toSeq.toList).sortBy(_.head.asInstanceOf[String]).toList
    val batch = graft.pipeline.Assembly.splitManifest(
        (rows1 ++ rows2).map(r => (r._1, r._3)).toDF("doc_id", "text"), "v1")
      .orderBy("split").collect().map(_.toSeq.toList).toList
    assert(streamed.size == 3 && streamed == batch,
      s"stream $streamed vs batch $batch")
  }

  test("streaming shingle-index ingest: arriving docs join the next incremental pair refresh, equal to a full recompute") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-sii").toString
    val sp = spark
    import sp.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val initial = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "x1 x2 x3"))
      .toDF("doc_id", "text")
    graft.pipeline.PairMaintenance.writeShingleIndex(initial, s"$tmp/idx",
      k = 3, buckets = 16)
    // two arriving files → segments 1, 2 (a near-dup of 1 and of 2)
    val rows1 = Seq((3L, ts(1), "w1 w2 w3 w4 w5"))
    val rows2 = Seq((4L, ts(2), "x1 x2 x3"))
    rows1.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f1")
    rows2.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f2")
    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.shingleIndexIngest(
      src.select(col("doc_id"), col("text")), s"$tmp/idx", s"$tmp/ck")
    q.awaitTermination(120000)
    // the maintained index drives the incremental refresh: old artifacts
    // from the initial build, arrivals as the changed set, no deletions
    val oldPairs = graft.pipeline.Dedup.ngramJaccardPairs(initial, k = 3,
      threshold = 0.5).localCheckpoint(true)
    val oldCC = graft.pipeline.Dedup.dedupClusters(initial, oldPairs)
      .localCheckpoint(true)
    val noTomb = Seq.empty[(Long, Long)].toDF("doc_id", "before_seg")
    val (cc, pairs) = graft.pipeline.PairMaintenance.incrementalClusters(
      sp, s"$tmp/idx", oldPairs, oldCC,
      changedIds = Seq(3L, 4L).toDF("doc_id"),
      removedIds = Seq.empty[Long].toDF("doc_id"),
      tombstonesOld = noTomb, tombstonesNew = noTomb, refreshSegFrom = 1L)
    val all = initial.unionByName(
      (rows1 ++ rows2).map(r => (r._1, r._3)).toDF("doc_id", "text"))
    val fullPairs = graft.pipeline.Dedup.ngramJaccardPairs(all, k = 3,
      threshold = 0.5)
    def ps(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ps(pairs) == ps(fullPairs), s"${ps(pairs)} vs ${ps(fullPairs)}")
    def cs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cs(cc) == cs(graft.pipeline.Dedup.dedupClusters(all, fullPairs)))
    // each micro-batch landed as its own segment, sizes sidecar included
    val segs = sp.read.parquet(s"$tmp/idx").select("seg").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(segs == Set(0L, 1L, 2L), segs.toString)
    val szSegs = sp.read.parquet(s"$tmp/idx.sizes").select("seg").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(szSegs == Set(0L, 1L, 2L), szSegs.toString)
  }

  test("streaming term-index ingest: arriving docs become searchable and the maintained index equals a full rebuild") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-tii").toString
    val sp = spark
    import sp.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // offline build over the initial corpus
    val initial = Seq((1L, "alpha beta gamma"), (2L, "alpha delta"))
      .toDF("doc_id", "text")
    graft.pipeline.TextStats.writeTermIndex(initial, s"$tmp/idx", buckets = 16)
    // two arriving files → two micro-batches appended as segments 1, 2
    val rows1 = Seq((3L, ts(1), "gamma beta alpha extra"))
    val rows2 = Seq((4L, ts(2), "alpha beta gamma gamma"))
    rows1.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f1")
    rows2.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f2")
    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.termIndexIngest(
      src.select(col("doc_id"), col("text")), s"$tmp/idx", s"$tmp/ck", buckets = 16)
    q.awaitTermination(120000)
    // the maintained index answers like a rebuild over everything seen
    val got = graft.pipeline.TextStats.searchTermIndex(sp, s"$tmp/idx",
        Seq("alpha", "beta", "gamma"), buckets = 16)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val rebuilt = Files.createTempDirectory("graft-tii2").toString
    graft.pipeline.TextStats.writeTermIndex(
      initial.unionByName(
        (rows1 ++ rows2).map(r => (r._1, r._3)).toDF("doc_id", "text")),
      rebuilt, buckets = 16)
    val full = graft.pipeline.TextStats.searchTermIndex(sp, rebuilt,
        Seq("alpha", "beta", "gamma"), buckets = 16)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == full, s"maintained $got vs rebuild $full")
    assert(got == List((1L, 3L), (3L, 3L), (4L, 4L)), got.toString)
    // each micro-batch landed as its own segment (batchId + 1)
    val segDocs = sp.read.parquet(s"$tmp/idx")
      .select("seg", "doc_id").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(segDocs == Set(0L -> 1L, 0L -> 2L, 1L -> 3L, 2L -> 4L), segDocs.toString)
  }

  test("streaming IVF-index ingest: arriving vectors become probe-visible and the maintained index serves exactly like a same-quantizer re-encode") {
    val tmp = Files.createTempDirectory("graft-ivfing").toString
    val sp = spark
    import sp.implicits._
    val S = graft.pipeline.Similarity
    val Q = graft.pipeline.Quantize
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian() * 5))
    def blob(id: Long, c: Int) =
      (id, centers(c).map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq, c)
    val initial = (0 until 80).map(i => blob(i.toLong, i % 4))
      .toDF("vec_id", "embedding", "label")
    val cents = S.trainCentroids(initial, nlist = 4, iters = 3, sampleN = 2000)
    val cb = Q.trainPqCodebooks(initial, m = 4, ksub = 8, iters = 5, sampleN = 2000)
    S.writeIndex(Q.pqEncode(S.assignCells(initial, cents), cb), cents, s"$tmp/ivf")
    Q.writeCodebooks(sp, cb, s"$tmp/cb")
    // two arriving files → segments 1, 2 (vectors in fresh blob corners)
    val rows1 = (100 until 105).map(i => blob(i.toLong, i % 4))
    val rows2 = (200 until 206).map(i => blob(i.toLong, (i + 1) % 4))
    rows1.toDF("vec_id", "embedding", "label").repartition(1)
      .write.parquet(s"$tmp/vecs/f1")
    rows2.toDF("vec_id", "embedding", "label").repartition(1)
      .write.parquet(s"$tmp/vecs/f2")
    val vecSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType)))
    val src = sp.readStream.schema(vecSchema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/vecs/*")
    val q = graft.streaming.DocPipeline.ivfIndexIngest(
      src, s"$tmp/ivf", s"$tmp/cb", s"$tmp/ck")
    q.awaitTermination(120000)
    // the maintained index serves EXACTLY like a same-quantizer re-encode
    // over everything seen (pure appends — no tombstones needed)
    val all = initial.unionByName(
      (rows1 ++ rows2).toDF("vec_id", "embedding", "label"))
    val reDir = s"$tmp/re"
    S.writeIndex(Q.pqEncode(S.assignCells(all, cents), cb), cents, reDir)
    val queries = all.where(col("vec_id").isin(0L, 1L, 100L, 201L))
    def serve(d: String) = {
      val (idx, dc) = S.readIndex(sp, d)
      S.ivfPqTopK(idx, queries, cb, dc, k = 3, nprobe = 2, shortlist = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3),
          math.round(r.getDouble(2) * 1e6))).toSet
    }
    assert(serve(s"$tmp/ivf") == serve(reDir),
      "streamed index must serve identically to the re-encode")
    // each micro-batch landed as its own segment (batchId + 1)
    val segVecs = sp.read.parquet(s"$tmp/ivf/corpus")
      .select("seg", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(segVecs.filter(_._1 == 1L).map(_._2) == rows1.map(_._1).toSet ||
      segVecs.filter(_._1 == 2L).map(_._2) == rows1.map(_._1).toSet,
      s"each batch must land as one segment: $segVecs")
    assert(segVecs.filter(_._1 == 0L).map(_._2) == (0L until 80L).toSet)
    assert(segVecs.count(_._1 > 0L) == 11, segVecs.toString)
    // at-least-once REPLAY is a no-op: re-running a committed batch with
    // its checkpointed segment must not re-append (ivfPqTopK has no dedup
    // pass — a same-seg duplicate would rank the same neighbor twice)
    graft.streaming.DocPipeline.ivfIngestBatch(
      rows1.toDF("vec_id", "embedding", "label"), s"$tmp/ivf", cb, seg = 1L)
    graft.streaming.DocPipeline.ivfIngestBatch(
      rows2.toDF("vec_id", "embedding", "label"), s"$tmp/ivf", cb, seg = 2L)
    assert(sp.read.parquet(s"$tmp/ivf/corpus").count() == 91L,
      "replayed batches must not duplicate their segment's rows")
    assert(serve(s"$tmp/ivf") == serve(reDir),
      "post-replay serve must still equal the re-encode")
  }

  test("streaming PII redaction equals the batch redaction byte-for-byte per document") {
    import java.sql.Timestamp
    val tmp = Files.createTempDirectory("graft-redact").toString
    val sp = spark
    import sp.implicits._
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val rows = Seq(
      (1L, ts(0), "mail a.b@c.example and visit https://x.example/y now"),
      (2L, ts(1), "host 172.16.0.9 phone +1 (202) 555-0147 done"),
      (3L, ts(2), "nothing sensitive here at all"))
    rows.toDF("doc_id", "ts", "text").repartition(1).write.parquet(s"$tmp/docs/f1")

    val src = sp.readStream.schema(graft.streaming.DocPipeline.docSchema)
      .parquet(s"$tmp/docs/*")
    val q = graft.streaming.DocPipeline.redactStream(src)
      .writeStream.format("memory").queryName("redact_stream")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = sp.table("redact_stream").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getInt(6))).toSet
    val batch = graft.pipeline.Curation.piiSignals(
        rows.map(r => (r._1, r._3)).toDF("doc_id", "text"))
      .withColumn("clean_text", graft.pipeline.Curation.piiRedact(col("text")))
      .select("doc_id", "clean_text", "n_emails", "n_urls", "n_ipv4", "n_phones")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getInt(5))).toSet
    assert(batch.size == 3)
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.exists { case (id, t, _, _, _, _) =>
      id == 1L && t == "mail <EMAIL> and visit <URL> now" })
  }

  test("streaming sessionization matches the batch q07 derivation for watermark-closed sessions") {
    val tmp = Files.createTempDirectory("graft-sess").toString
    val srcDir = s"$tmp/events"
    val ckDir = s"$tmp/ck"
    val sp = spark
    // stage the sf0.001 events with µs timestamps (raw parquet is
    // TIMESTAMP(NANOS) read as long under nanosAsLong)
    val raw = sp.read.parquet("/root/testdata/sf0.001/events.parquet")
    val ev = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      // TIMESTAMP(NANOS) may surface as NTZ — normalize to TIMESTAMP
      // (instant-preserving under the UTC session tz)
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }).select("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.write.mode("overwrite").parquet(srcDir)

    val q = graft.streaming.Ingest.sessionize(
        graft.streaming.Ingest.eventStream(sp, srcDir))
      .writeStream.format("memory").queryName("sessions_stream")
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
        r.getAs[Long]("n_events"), r.getAs[Long]("duration_us"),
        math.round(r.getAs[Double]("total_value") * 100))
    val streamed = sp.table("sessions_stream").collect().map(key).toSet

    // batch twin: q07's lag/cumsum derivation over the same staged source
    import org.apache.spark.sql.expressions.Window
    val gapUs = 6L * 3600L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val batchAll = sp.read.parquet(srcDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"), col("value"))
      .withColumn("prev", lag("tus", 1).over(w))
      .withColumn("new_sess", (col("prev").isNull || col("tus") - col("prev") > gapUs).cast("int"))
      .withColumn("sess_seq", sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_seq")
      .agg(min("tus").as("session_start_us"), count(lit(1)).as("n_events"),
        (max("tus") - min("tus")).as("duration_us"),
        round(sum("value"), 2).as("total_value"),
        max("tus").as("last_us"))
    // only sessions the watermark closed by end-of-stream are emitted:
    // last event + gap must fall behind (max event time - watermark)
    val maxUs = batchAll.agg(max("last_us")).head().getLong(0)
    val closed = batchAll
      .where(col("last_us") + gapUs < maxUs - 12L * 3600L * 1000000L)
      .drop("sess_seq", "last_us").collect().map(key).toSet
    assert(closed.nonEmpty, "fixture must contain watermark-closed sessions")
    assert(closed.subsetOf(streamed), s"missing closed sessions: ${closed.diff(streamed).take(3)}")
    // and everything the stream emitted must be a real batch session
    val all = batchAll.drop("sess_seq", "last_us").collect().map(key).toSet
    assert(streamed.subsetOf(all), s"stream emitted non-batch sessions: ${streamed.diff(all).take(3)}")
  }

  test("streaming incremental near-dup: each micro-batch queries the persisted index and later batches see earlier ones") {
    import graft.pipeline.Dedup
    import graft.streaming.DocPipeline
    val tmp = Files.createTempDirectory("graft-ndingest").toString
    val idx = s"$tmp/idx"; val srcDir = s"$tmp/src"
    val pairsOut = s"$tmp/pairs"; val ck = s"$tmp/ck"
    val sp = spark
    import sp.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten eleven"
    // index bootstrapped ONCE with the base corpus
    Dedup.writeNearDupIndex(Seq((1L, t1), (2L, t2)).toDF("doc_id", "text"), idx)
    // two arrivals: 101 duplicates base doc 1; 201 duplicates it again —
    // 201 must ALSO pair with 101, which only the index append can see
    Seq((101L, t1)).toDF("doc_id", "text").repartition(1).write.parquet(s"$srcDir/f1")
    Seq((201L, t1)).toDF("doc_id", "text").repartition(1).write.parquet(s"$srcDir/f2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val src = sp.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q = DocPipeline.nearDupIngest(src, idx, pairsOut, ck, threshold = 0.9)
    q.awaitTermination(120000)
    val pairs = sp.read.parquet(pairsOut)
      .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((101L, 1L), (201L, 1L), (201L, 101L)),
      s"stream pairs must include the cross-batch rediscovery: $pairs")
    // the index now holds all four docs: a fresh batch pairs with each copy
    val fresh = Dedup.nearDupAgainstIndex(Seq((301L, t1)).toDF("doc_id", "text"), idx, threshold = 0.9)
      .select("old_id").collect().map(_.getLong(0)).toSet
    assert(fresh == Set(1L, 101L, 201L), s"appended index must serve batch queries too: $fresh")
  }

  test("streaming novelty gate: re-crawled text scores 0 against the index, novel text 1, and later batches see earlier appends") {
    import graft.pipeline.TextStats
    import graft.streaming.DocPipeline
    val tmp = Files.createTempDirectory("graft-novelty").toString
    val idx = s"$tmp/idx"; val srcDir = s"$tmp/src"
    val out = s"$tmp/scores"; val ck = s"$tmp/ck"
    val sp = spark
    import sp.implicits._
    val known = "alpha beta gamma delta epsilon zeta eta theta"
    val fresh = "one two three four five six seven eight"
    TextStats.writeGramIndex(Seq((1L, known)).toDF("doc_id", "text"), idx)
    // batch 1: a re-crawl of the known doc + a genuinely novel doc;
    // batch 2: a re-crawl of BATCH 1's novel doc — only the index append
    // can make it read as seen
    Seq((101L, known), (102L, fresh)).toDF("doc_id", "text")
      .repartition(1).write.parquet(s"$srcDir/f1")
    Seq((201L, fresh)).toDF("doc_id", "text")
      .repartition(1).write.parquet(s"$srcDir/f2")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val src = sp.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(s"$srcDir/*")
    val q = DocPipeline.noveltyIngest(src, idx, out, ck)
    q.awaitTermination(120000)
    val scores = sp.read.parquet(out).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(scores(101L) == ((4L, 4L, 0.0)), s"re-crawl must read fully known: ${scores(101L)}")
    assert(scores(102L) == ((4L, 0L, 1.0)), s"novel doc must read fully novel: ${scores(102L)}")
    assert(scores(201L) == ((4L, 4L, 0.0)),
      s"batch 2's re-crawl of batch 1's doc must see the appended grams: ${scores(201L)}")
  }
}
