package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Curation, Dedup, Similarity, TextStats}

/**
 * Self-consistency gates for the hash-dependent pipeline operators that have
 * no DuckDB oracle (p05 minhash, p06 simhash, p08 fingerprint, p09 IVF):
 * each approximate result is checked against an exact computation on the
 * same driver testdata, so the sketch math has a hard accuracy bound instead
 * of a rows-only count.
 */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[4]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("p43: Gopher rules trip on crafted violations and pass clean prose") {
    val sp = spark
    import sp.implicits._
    val clean = ("the quick brown fox jumps over the lazy dog and runs far away " * 5).trim
    val fixture = Seq(
      (1L, clean),                                       // passes everything
      (2L, "tiny doc"),                                  // r_wc (too short)
      (3L, ("a " * 60).trim),                            // r_mwl (mean len 1)
      (4L, (clean.split(" ").map("#" + _).mkString(" "))), // r_sym (# per word)
      (5L, Seq.fill(10)("- item of the list and that").mkString("\n")), // r_bullet
      (6L, ("7 " * 30 + "42 " * 30).trim),               // r_alpha (no letters)
      (7L, ("lorem ipsum dolor sit amet " * 12).trim)    // r_stop (no stop words)
    ).toDF("doc_id", "text")
    val r = graft.pipeline.TextStats.gopherRules(fixture).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("keep") == 1, "clean prose must keep")
    assert(r(2L).getAs[Long]("r_wc") == 0)
    assert(r(3L).getAs[Long]("r_mwl") == 0)
    assert(r(4L).getAs[Long]("r_sym") == 0)
    assert(r(5L).getAs[Long]("r_bullet") == 0)
    assert(r(6L).getAs[Long]("r_alpha") == 0)
    assert(r(7L).getAs[Long]("r_stop") == 0)
    assert(Seq(2L, 3L, 4L, 5L, 6L, 7L).forall(r(_).getAs[Long]("keep") == 0))
  }

  test("p05: minhash est_jaccard tracks exact jaccard on every emitted pair; high-sim recall is total") {
    // exact jaccard on the SAME shingle definition (word 3-shingles)
    val sh = docs.select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("sh")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val exact = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("szA")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szB")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("i") / (col("szA") + col("szB") - col("i"))).as("exact"))

    val est = Dedup.minhashPairs(docs, k = 3, numHashes = 64, bands = 16, threshold = 0.8)
    val joined = est.join(exact, Seq("doc_a", "doc_b"), "left").collect()
    assert(joined.nonEmpty, "minhash found no candidate pairs")
    joined.foreach { r =>
      val e = r.getAs[Double]("est_jaccard")
      val x = if (r.isNullAt(r.fieldIndex("exact"))) 0.0 else r.getAs[Double]("exact")
      // 64 hashes → std error ~ sqrt(x(1-x)/64) ≤ 0.0625; allow 4 sigma
      assert(math.abs(e - x) <= 0.25, s"pair (${r.get(0)},${r.get(1)}): est $e vs exact $x")
    }
    // recall: every pair with exact jaccard ≥ 0.95 must surface as a candidate
    val mustFind = exact.where(col("exact") >= 0.95)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = est.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mustFind.subsetOf(found),
      s"missed near-exact duplicates: ${mustFind.diff(found).take(5)}")
  }

  test("p15: OPH minhash tracks exact jaccard and recalls near-exact duplicates like the classic path") {
    // identical text ⇒ identical OPH signature (determinism across plans)
    val s1 = docs.select(col("doc_id"),
      graft.functions.SketchExpressions.ophSig(
        transform(Dedup.shingles(col("text"), 3), s => xxhash64(s)), 64).as("sig"))
    val s2 = docs.select(col("doc_id"),
      graft.functions.SketchExpressions.ophSig(
        transform(Dedup.shingles(col("text"), 3), s => xxhash64(s)), 64).as("sig2"))
    assert(s1.join(s2, "doc_id").where(col("sig") =!= col("sig2")).count() == 0)

    val sh = docs.select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("sh")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val exact = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("szA")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szB")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("i") / (col("szA") + col("szB") - col("i"))).as("exact"))

    val est = Dedup.minhashPairsOph(docs, k = 3, numBins = 64, bands = 16, threshold = 0.8)
    val joined = est.join(exact, Seq("doc_a", "doc_b"), "left").collect()
    assert(joined.nonEmpty, "OPH minhash found no candidate pairs")
    joined.foreach { r =>
      val e = r.getAs[Double]("est_jaccard")
      val x = if (r.isNullAt(r.fieldIndex("exact"))) 0.0 else r.getAs[Double]("exact")
      // one sample per bin → same width as classic 64-hash minhash; allow the
      // same 4-sigma band (densified bins add variance only on short docs)
      assert(math.abs(e - x) <= 0.25, s"pair (${r.get(0)},${r.get(1)}): est $e vs exact $x")
    }
    val mustFind = exact.where(col("exact") >= 0.95)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = est.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mustFind.subsetOf(found),
      s"missed near-exact duplicates: ${mustFind.diff(found).take(5)}")
  }

  test("minhash band join runs on narrow rows (no signature below the join) and matches the wide-row pair set") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val est = Dedup.minhashPairs(docs, k = 3, numHashes = 64, bands = 16, threshold = 0.8)
    // the band-bucket self-join must not carry the 64-long signatures: a
    // pair can collide in up to 16 bands, so a sig below the join would
    // shuffle every signature 16×
    val plan = est.queryExecution.sparkPlan
    val bandJoins = plan.collect {
      case j: SortMergeJoinExec if j.leftKeys.exists(_.references.exists(_.name == "band")) => j.children
      case j: ShuffledHashJoinExec if j.leftKeys.exists(_.references.exists(_.name == "band")) => j.children
      case j: BroadcastHashJoinExec if j.leftKeys.exists(_.references.exists(_.name == "band")) => j.children
    }
    assert(bandJoins.nonEmpty, "no band-keyed join found in the minhash plan")
    bandJoins.flatten.foreach { side =>
      val wide = side.output.map(_.name).filter(_.startsWith("sig"))
      assert(wide.isEmpty, s"band join side still carries signature columns: $wide")
    }
    // identical pair set as the straightforward wide-row formulation
    val sigs = docs.select(col("doc_id"), Dedup.minhashSignature(col("text"), 3, 64).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(15)),
        b => hash(slice(col("sig"), b * lit(4) + lit(1), lit(4))))).as(Seq("band", "bandHash")))
    val wideRef = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandHash") === col("b.bandHash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sigA"), col("b.sig").as("sigB"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sigA"), col("sigB"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(64))
      .where(col("est_jaccard") >= 0.8)
    val got = est.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = wideRef.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"pair sets differ: only-narrow=${got.diff(want).take(5)} only-wide=${want.diff(got).take(5)}")
  }

  test("multimodal image decode is real: PNG features come from decoded pixels; non-images fall back to the stub") {
    import graft.pipeline.Multimodal
    // 8x8 PNG, left half black, right half white → luminance histogram
    // puts exactly half the pixels in the first bin and half in the last
    val img = new java.awt.image.BufferedImage(8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val textBytes = "not an image at all".getBytes("UTF-8")

    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("asset_id", LongType), StructField("modality", StringType),
      StructField("payload", BinaryType)))
    val assets = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "image", png),
        Row(2L, "image", textBytes), // undecodable image payload → stub
        Row(3L, "audio", png)        // non-image modality → stub even for real PNG bytes
      ), schema)
    val out = Multimodal.extractFeatures(assets, dim = 8).collect()
      .map(r => r.getLong(0) -> r).toMap

    val f1 = out(1L).getSeq[Float](2)
    assert(math.abs(f1.head - 0.5f) < 1e-6 && math.abs(f1.last - 0.5f) < 1e-6,
      s"decoded PNG histogram should be half black, half white: $f1")
    assert(f1.slice(1, 7).forall(_ == 0.0f), s"middle luminance bins must be empty: $f1")
    assert(out(1L).getInt(3) == 8 && out(1L).getInt(4) == 8, "decoded dimensions")

    val f2 = out(2L).getSeq[Float](2)
    assert(f2 == Multimodal.decodeImageStub(textBytes, 8).toSeq, "undecodable payload → byte stub")
    assert(out(2L).isNullAt(3) && out(2L).isNullAt(4), "stub path reports no decoded dims")

    val f3 = out(3L).getSeq[Float](2)
    assert(f3 == Multimodal.decodeImageStub(png, 8).toSeq, "audio modality stays stubbed")
  }

  test("m04: audio frame features — planted waveform gives the closed-form rms/zc; short payloads yield no frames; only audio modality runs") {
    import graft.pipeline.Multimodal
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // alternating bytes 32/128 → samples (32-80)/48 = -1 and (128-80)/48 = 1:
    // rms exactly 1, a sign flip at every step → 63 crossings per 64-frame
    val square = Array.tabulate[Byte](128)(i => if (i % 2 == 0) 32.toByte else 128.toByte)
    val schema = StructType(Seq(
      StructField("asset_id", LongType), StructField("modality", StringType),
      StructField("payload", BinaryType)))
    val assets = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "audio", square),
        Row(2L, "audio", Array.fill[Byte](63)(100)),   // < one frame → no rows
        Row(3L, "image", square)                       // wrong modality → skipped
      ), schema)
    val out = Multimodal.audioFeatures(assets, frameLen = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.map(_._1).toSet == Set(1L), s"only full-frame audio assets emit: ${out.toSeq}")
    assert(out.length == 2, "128 samples at frameLen=64 = exactly 2 frames")
    assert(out.forall { case (_, _, rms, zc) => math.abs(rms - 1.0) < 1e-12 && zc == 63L },
      s"square wave: rms 1, 63 crossings: ${out.toSeq}")
    // a constant payload has zero crossings and the closed-form rms
    val const = spark.createDataFrame(
      java.util.Arrays.asList(Row(9L, "audio", Array.fill[Byte](64)(104))), schema)
    val c = Multimodal.audioFeatures(const, frameLen = 64).collect().head
    assert(c.getLong(3) == 0L && math.abs(c.getDouble(2) - 0.5) < 1e-12) // (104-80)/48 = 0.5
  }

  test("m06: image dHash near-dup — exact copy at radius 0, one-char change within radius, banding matches brute force") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.pipeline.Multimodal
    val base = "the quick brown fox jumps over the lazy dog again and again for luck"
    val oneChar = base.updated(20, 'x').toString // same length, one byte differs
    val other = "completely different pixel content with another structure entirely here"
    val schema = StructType(Seq(
      StructField("asset_id", LongType), StructField("modality", StringType),
      StructField("payload", BinaryType)))
    def b(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val assets = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0L, "image", b(base)), Row(3L, "image", b(base)),      // exact dup
        Row(6L, "image", b(oneChar)),                              // near dup
        Row(9L, "image", b(other)),                                // unrelated
        Row(1L, "audio", b(base))                                  // wrong modality
      ), schema)
    val pairs = Multimodal.imageNearDupPairs(assets, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(p => (p._1, p._2))
    assert(pairs.exists { case (a, bb, h) => a == 0L && bb == 3L && h == 0L },
      s"exact payload copy must pair at hamming 0: ${pairs.mkString(",")}")
    assert(pairs.filter(p => Set(p._1, p._2) == Set(0L, 6L))
      .forall(_._3 <= 2), "a one-byte same-length change flips at most its 2 gradient bits")
    assert(!pairs.exists(p => p._1 == 9L || p._2 == 9L), "unrelated image must not pair")
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L), "non-image modality excluded")
    // recall gate: banding reproduces the quadratic brute force exactly
    val sig = Multimodal.imageDHash(assets).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val brute = (for {
      a <- sig.keys; bb <- sig.keys if a < bb
      h = sig(a).zip(sig(bb)).count { case (x, y) => x != y } if h <= 3
    } yield (a, bb, h.toLong)).toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.toSeq == brute, s"banding ${pairs.mkString(",")} vs brute ${brute.mkString(",")}")
  }

  test("m07: audio energy-delta hash near-dup — exact copy at radius 0, one-char change within radius, banding matches brute force") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.pipeline.Multimodal
    val base = "the quick brown fox jumps over the lazy dog again and again for luck"
    val oneChar = base.updated(20, 'x').toString
    val other = "completely different waveform content with another structure entirely"
    val schema = StructType(Seq(
      StructField("asset_id", LongType), StructField("modality", StringType),
      StructField("payload", BinaryType)))
    def b(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val assets = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "audio", b(base)), Row(4L, "audio", b(base)),      // exact dup
        Row(7L, "audio", b(oneChar)),                              // near dup
        Row(10L, "audio", b(other)),                               // unrelated
        Row(0L, "image", b(base)),                                 // wrong modality
        Row(13L, "audio", Array.emptyByteArray)                    // empty: no signature
      ), schema)
    val pairs = Multimodal.audioNearDupPairs(assets, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(p => (p._1, p._2))
    assert(pairs.exists { case (a, bb, h) => a == 1L && bb == 4L && h == 0L },
      s"exact payload copy must pair at hamming 0: ${pairs.mkString(",")}")
    assert(pairs.filter(p => Set(p._1, p._2) == Set(1L, 7L))
      .forall(_._3 <= 2), "a one-char change moves one segment's energy -> at most its 2 delta bits")
    assert(!pairs.exists(p => p._1 == 10L || p._2 == 10L), "unrelated audio must not pair")
    assert(!pairs.exists(p => p._1 == 0L || p._2 == 0L), "non-audio modality excluded")
    assert(!pairs.exists(p => p._1 == 13L || p._2 == 13L), "empty payload emits no signature")
    // recall gate: banding reproduces the quadratic brute force exactly
    val sig = Multimodal.audioEnergyHash(assets).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(!sig.contains(13L))
    val brute = (for {
      a <- sig.keys; bb <- sig.keys if a < bb
      h = sig(a).zip(sig(bb)).count { case (x, y) => x != y } if h <= 3
    } yield (a, bb, h.toLong)).toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.toSeq == brute, s"banding ${pairs.mkString(",")} vs brute ${brute.mkString(",")}")
  }

  test("m08: video frame-gradient hash near-dup — exact copy at radius 0, banding matches brute force, modality/empty excluded") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.pipeline.Multimodal
    val base = "the quick brown fox jumps over the lazy dog again and again for luck"
    val oneChar = base.updated(20, 'x').toString
    val other = "completely different framestream content with another structure entirely"
    val schema = StructType(Seq(
      StructField("asset_id", LongType), StructField("modality", StringType),
      StructField("payload", BinaryType)))
    def b(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val assets = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(2L, "video", b(base)), Row(5L, "video", b(base)),      // exact dup
        Row(8L, "video", b(oneChar)),                              // near dup
        Row(11L, "video", b(other)),                               // unrelated
        Row(1L, "audio", b(base)),                                 // wrong modality
        Row(14L, "video", Array.emptyByteArray)                    // empty: no signature
      ), schema)
    val pairs = Multimodal.videoNearDupPairs(assets, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(p => (p._1, p._2))
    assert(pairs.exists { case (a, bb, h) => a == 2L && bb == 5L && h == 0L },
      s"exact payload copy must pair at hamming 0: ${pairs.mkString(",")}")
    assert(!pairs.exists(p => p._1 == 11L || p._2 == 11L), "unrelated video must not pair")
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L), "non-video modality excluded")
    assert(!pairs.exists(p => p._1 == 14L || p._2 == 14L), "empty payload emits no signature")
    // recall gate: banding reproduces the quadratic brute force exactly
    val sig = Multimodal.videoFrameHash(assets).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(!sig.contains(14L) && !sig.contains(1L))
    val brute = (for {
      a <- sig.keys; bb <- sig.keys if a < bb
      h = sig(a).zip(sig(bb)).count { case (x, y) => x != y } if h <= 3
    } yield (a, bb, h.toLong)).toSeq.sortBy(p => (p._1, p._2))
    assert(pairs.toSeq == brute, s"banding ${pairs.mkString(",")} vs brute ${brute.mkString(",")}")
    // the one-char edit shifts MANY frame windows (frames overlap the
    // edit position across the whole stub duration), so unlike m07 it may
    // exceed radius 3 — assert only that the exact-dup edge and brute
    // equality hold; the radius behavior is the signature's own contract
    assert(sig(2L) == sig(5L), "identical payloads must hash identically")
  }

  test("m05: video frame kernel executes the m02 plan — planted payload gives closed-form luma/contrast; frames cap at the plan bound") {
    import graft.pipeline.Multimodal
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // payload bytes 0,1,...,99 cycling: frame at ts reads 32 bytes from
    // (ts/10) mod 100 — frame 0 covers 0..31 (mean 15.5, contrast 31);
    // frame at ts=1000 starts at offset 0 again (100 % 100)
    val ramp = Array.tabulate[Byte](100)(i => i.toByte)
    val schema = StructType(Seq(
      StructField("asset_id", LongType), StructField("modality", StringType),
      StructField("payload", BinaryType), StructField("duration_ms", LongType)))
    val assets = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "video", ramp, 2500L),                // frames at 0,1000,2000
        Row(2L, "video", ramp, 200000L),              // capped at maxFrames
        Row(3L, "image", ramp, 2500L)                 // wrong modality → skipped
      ), schema)
    val out = Multimodal.videoFrameFeatures(assets, everyMs = 1000L, maxFrames = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val byAsset = out.groupBy(_._1)
    assert(byAsset.keySet == Set(1L, 2L), "only video assets emit")
    assert(byAsset(1L).length == 3 && byAsset(2L).length == 32,
      s"plan bounds: 3 frames for 2.5 s, maxFrames cap for long videos: ${byAsset.view.mapValues(_.length).toMap}")
    val f0 = byAsset(1L).find(_._2 == 0L).get
    assert(f0._4 == 15.5 && f0._5 == 31L, s"ramp frame 0: mean 15.5, contrast 31: $f0")
    // ts=1000 → offset (1000/10) % 100 = 0: identical to frame 0
    val f1 = byAsset(1L).find(_._2 == 1L).get
    assert(f1._4 == f0._4 && f1._5 == f0._5)
  }

  test("m03: real pixel resize fits decodable images into the box; non-images pass through") {
    import graft.pipeline.Multimodal
    // 128x32 gradient PNG → fit into 64x64 is (64, 16)
    val img = new java.awt.image.BufferedImage(128, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 128) img.setRGB(x, y, (x * 2) << 16)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val textBytes = "definitely not pixels".getBytes("UTF-8")

    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("asset_id", LongType), StructField("modality", StringType),
      StructField("payload", BinaryType)))
    val assets = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "image", png),
        Row(2L, "image", textBytes),
        Row(3L, "video", png)), schema)
    val out = Multimodal.resizeImages(assets, box = 64).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the resized payload is itself a decodable PNG with the planned dims
    assert(out(1L).getInt(5) == 1)
    assert(out(1L).getInt(3) == 64 && out(1L).getInt(4) == 16, "aspect fit 128x32 → 64x16")
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).getAs[Array[Byte]]("payload_out")))
    assert(back.getWidth == 64 && back.getHeight == 16)
    // deterministic: same input bytes → same output bytes
    val again = Multimodal.resizeImages(assets, box = 64).collect().map(r => r.getLong(0) -> r).toMap
    assert(java.util.Arrays.equals(out(1L).getAs[Array[Byte]]("payload_out"),
      again(1L).getAs[Array[Byte]]("payload_out")))
    // pass-throughs keep the original bytes
    assert(out(2L).getInt(5) == 0 &&
      java.util.Arrays.equals(out(2L).getAs[Array[Byte]]("payload_out"), textBytes))
    assert(out(3L).getInt(5) == 0 &&
      java.util.Arrays.equals(out(3L).getAs[Array[Byte]]("payload_out"), png))
    // an already-small image is left at its own size
    val small = Multimodal.resizeImages(assets.where(col("asset_id") === 1L), box = 256).collect()
    assert(small.head.getInt(3) == 128 && small.head.getInt(4) == 32)
  }

  test("p06: every simhash pair is within the Hamming budget of the full 64-bit fingerprints") {
    val fp = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
    val pairs = Dedup.simhashPairs(docs, maxHammingDistance = 3)
      .join(fp.select(col("doc_id").as("doc_a"), col("sh").as("shA")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("sh").as("shB")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        bit_count(col("shA").bitwiseXOR(col("shB"))).as("recomputed"))
      .collect()
    assert(pairs.nonEmpty, "simhash found no pairs")
    pairs.foreach { r =>
      assert(r.getAs[Number]("hamming").intValue == r.getAs[Number]("recomputed").intValue,
        s"pair (${r.get(0)},${r.get(1)}): reported ${r.get(2)} != recomputed ${r.get(3)}")
      assert(r.getAs[Number]("hamming").intValue <= 3)
    }
    // FULL recall: the banded join must find exactly the brute-force set of
    // pairs within the radius (the r1→r2 5-block redesign is recall-complete
    // for radius 3 by pigeonhole; this catches any regression)
    val all = fp.as("a").crossJoin(fp.as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("h"))
      .where(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val foundPairs = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(foundPairs == all,
      s"banded simhash != brute force: missed ${all.diff(foundPairs).take(5)}, extra ${foundPairs.diff(all).take(5)}")
  }

  test("p14: SRP near-dup has exact precision and full recall on planted duplicates") {
    // every emitted pair is verified by the exact cosine → precision is
    // exact by construction; check it against the blocked-exact join
    val est = Similarity.srpNearDupPairs(embeddings, threshold = 0.4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactAll = Similarity.labelBlockedNearDup(
        embeddings.withColumn("label", lit(0)), threshold = 0.4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(est.subsetOf(exactAll), s"false positives: ${est.diff(exactAll).take(5)}")
    // auto-tuned bands solve for ≥0.95 expected recall at the threshold
    val recall = est.size.toDouble / math.max(1, exactAll.size)
    assert(recall >= 0.7, s"SRP recall $recall below 0.7 at threshold 0.4")

    // the scale contract: at a real near-dup threshold the default 8-bit
    // bands must find every planted duplicate (tiny perturbation ⇒ cos ≈ 1)
    val planted = embeddings.limit(50)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01f) + lit(0.001f)).as("embedding"),
        col("label"))
    val withDups = embeddings.unionByName(planted)
    val found = Similarity.srpNearDupPairs(withDups, threshold = 0.95)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = embeddings.limit(50).select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(wanted.subsetOf(found),
      s"missed planted near-dups: ${wanted.diff(found).take(5)}")
  }

  test("p08: fingerprints are deterministic and equal exactly for equal texts") {
    val fp1 = docs.select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
    val fp2 = docs.select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp2"))
    assert(fp1.join(fp2, "doc_id").where(col("fp") =!= col("fp2")).count() == 0)
    // same text ⇒ same fingerprint; the corpus has planted exact duplicates
    val byText = docs.select(col("text"), col("doc_id"))
      .join(fp1, "doc_id")
      .groupBy("text").agg(countDistinct(col("fp")).as("n"))
    assert(byText.where(col("n") > 1).count() == 0, "equal texts produced different fingerprints")
  }

  test("p09: IVF top-k recall vs brute force is high at nprobe=3/8") {
    val emb = embeddings
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.trainCentroids(emb, nlist = 8, iters = 3, sampleN = 2000)
    val approx = Similarity.ivfTopK(Similarity.assignCells(emb, cents), queries, cents, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall below 0.5 — probe path broken")
  }

  test("p36: semantic dedup keeper rule — keep iff no lower-id cell-mate above tau; dup_of is that minimum") {
    val emb = embeddings
    val out = Similarity.semanticDedup(emb, k = 8, iters = 2, tau = 0.3)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(rows.size == emb.count(), "every vector gets a verdict")
    // brute-force reference: in-cell pairs above tau from first principles
    val cells = rows.map(r => r._1 -> r._2).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = vecs.keys.toSeq.sorted
    for ((id, cl, keep, dupOf) <- rows) {
      val smaller = ids.filter(o => o < id && cells(o) == cl && cos(vecs(o), vecs(id)) >= 0.3)
      if (smaller.isEmpty) assert(keep == 1L && dupOf == -1L, s"vec $id should be kept")
      else assert(keep == 0L && dupOf == smaller.min, s"vec $id: expected dup_of ${smaller.min}, got $dupOf")
    }
    assert(rows.count(_._3 == 0L) > 0, "corpus should contain semantic dups at tau=0.3")
  }

  test("p40: cluster-balanced sampling keeps whole under-target cells and thins over-target ones") {
    val emb = embeddings
    val target = 16L
    val out = Curation.clusterBalancedSample(emb, k = 8, iters = 2, targetPerCell = target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(out.length == emb.count(), "every vector gets a verdict")
    val byCell = out.groupBy(_._2)
    for ((cell, rows) <- byCell) {
      val n = rows.head._3
      val kept = rows.count(_._5 == 1L)
      assert(rows.forall(_._3 == n), s"cell $cell: inconsistent cell_n")
      if (n <= target) assert(kept == n, s"under-target cell $cell must keep all: $kept/$n")
      else assert(kept < n, s"over-target cell $cell (n=$n) must drop some, kept $kept")
    }
    val total = out.count(_._5 == 1L)
    assert(total < out.length, "an over-represented corpus must thin overall")
  }

  test("p45: temperature mixing — alpha=1 is natural-proportion uniform, alpha=0 flattens source mass") {
    val d = docs
    val total = d.count()
    val nSources = d.select("source").distinct().count()
    // alpha=1: w_s = n_s/N, so rate = target/N for EVERY doc
    val nat = Curation.temperatureMix(d, alpha = 1.0, targetTotal = 100L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(nat.length == total)
    val expect = math.round(100.0 / total * 1e4) / 1e4
    assert(nat.forall(_._4 == expect), s"alpha=1 rate must be target/N=$expect")
    // alpha=0: w_s = 1/|S|, so each source's EXPECTED kept mass is equal:
    // rate_s = target/(|S| n_s); smaller sources get proportionally higher rates
    val flat = Curation.temperatureMix(d, alpha = 0.0, targetTotal = 100L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val bySrc = flat.groupBy(_._2)
    for ((_, rows) <- bySrc) {
      val n = rows.head._3
      val want = math.min(1.0, 100.0 / (nSources * n))
      assert(math.abs(rows.head._4 - want) < 1e-3, s"alpha=0 rate ${rows.head._4} want $want")
    }
    // keep is the deterministic hash draw: rerunning reproduces it exactly
    val again = Curation.temperatureMix(d, alpha = 0.0, targetTotal = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(4))).toMap
    assert(flat.forall(r => again(r._1) == r._5))
  }

  test("IVF index round-trips through cell-partitioned parquet; probe prunes partitions") {
    val emb = embeddings
    val queries = emb.where(col("vec_id") < 5)
    val cents = Similarity.trainCentroids(emb, nlist = 8, iters = 3, sampleN = 2000)
    val live = Similarity.assignCells(emb, cents)
    val inMem = Similarity.ivfTopK(live, queries, cents, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    val dir = java.nio.file.Files.createTempDirectory("ivf-index").toString
    Similarity.writeIndex(live, cents, dir)
    val (loaded, loadedCents) = Similarity.readIndex(spark, dir)
    assert(loadedCents.map(_._1).toSeq == cents.map(_._1).toSeq)
    loadedCents.zip(cents).foreach { case ((_, a), (_, b)) => assert(a.sameElements(b)) }
    val fromDisk = Similarity.ivfTopK(loaded, queries, cents, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromDisk == inMem, "persisted index must answer identically")

    // the scale point of partitionBy(cell): a cell-equality filter reaches
    // the scan as a PartitionFilter (probe reads nprobe dirs, not the corpus)
    val plan = loaded.where(col("cell") === 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      "cell filter must prune partitions:\n" + plan.take(2000))
  }

  test("IVF+PQ serving path: recall vs brute force >= 0.9 at nprobe 3/8; both scans partition-pruned") {
    // planted-blob corpus — the clustered regime IVF serves; on the driver's
    // structureless gaussian embeddings probe loss is ~2%/cell BY DESIGN
    // (measured 0.76@3 ... 0.88@7), which gates nothing about the plumbing
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian() * 5))
    val emb = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq, i % 8)
    }.toDF("vec_id", "embedding", "label")
    val queries = emb.where(col("vec_id") < 10)
    val cents = Similarity.trainCentroids(emb, nlist = 8, iters = 3, sampleN = 2000)
    val cb = graft.pipeline.Quantize.trainPqCodebooks(emb, m = 16, ksub = 16,
      iters = 10, sampleN = 2000)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-index").toString
    Similarity.writeIndex(
      graft.pipeline.Quantize.pqEncode(Similarity.assignCells(emb, cents), cb), cents, dir)
    val (index, diskCents) = Similarity.readIndex(spark, dir)
    val served = Similarity.ivfPqTopK(index, queries, cb, diskCents,
      k = 5, nprobe = 3, shortlist = 50)
    // the serving plan reads the index through partition filters on cell —
    // the probe's literal cell set, never the whole corpus
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      "serving scans must partition-prune on cell:\n" + plan.take(3000))
    // recall@5 vs the exact answer (L2 like the serving path)
    val got = served.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val exact = graft.pipeline.Quantize.pqTopKReranked(
      graft.pipeline.Quantize.pqEncode(emb, cb), queries, cb, k = 5, shortlist = 10000)
    val brute = exact.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val hits = brute.toSeq.map { case (q, want) =>
      want.intersect(got.getOrElse(q, Set.empty)).size.toDouble / want.size }
    val recall = hits.sum / hits.size
    assert(recall >= 0.9, s"serving recall $recall < 0.9")

    // the driver-side contract is ENFORCED, not assumed: a query frame
    // bigger than maxQ must fail fast (before any driver math), not OOM
    // the driver
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(index, emb.limit(11), cb, diskCents,
        k = 5, nprobe = 3, shortlist = 50, maxQ = 10)
    }
    assert(ex.getMessage.contains("driver-side contract"))
    // at the boundary itself the call succeeds
    assert(Similarity.ivfPqTopK(index, emb.limit(10), cb, diskCents,
      k = 5, nprobe = 3, shortlist = 50, maxQ = 10).count() > 0)
  }

  test("IVF-PQ merge-on-read lifecycle: refreshed index serves exactly like a same-quantizer re-encode; recall holds; compaction is a drop-in; retrain janitor recovers drift") {
    // planted-blob corpus, same regime as the p34 serving gate
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian() * 5))
    def blob(id: Long, c: Int, jitter: Double): (Long, Seq[Float], Int) =
      (id, centers(c).map(x => (x + rnd.nextGaussian() * jitter).toFloat).toSeq, c)
    val base = (0 until 400).map(i => blob(i.toLong, i % 8, 0.3))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.trainCentroids(base, nlist = 8, iters = 3, sampleN = 2000)
    val cb = graft.pipeline.Quantize.trainPqCodebooks(base, m = 16, ksub = 16,
      iters = 10, sampleN = 2000)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-mor").toString
    Similarity.writeIndex(
      graft.pipeline.Quantize.pqEncode(Similarity.assignCells(base, cents), cb), cents, dir)

    // the refresh: edits RELOCATE vectors to a different blob (cell moves),
    // adds land in fresh blobs, deletes take a modulus class out
    val edited = base.where(col("vec_id") % 7 =!= 0 && col("vec_id") % 5 === 0)
      .withColumn("embedding",
        transform(col("embedding"), x => (x * lit(-1.0f)).cast("float")))
    val added = (0 until 40).map(i => blob(10000L + i, (i + 3) % 8, 0.3))
      .toDF("vec_id", "embedding", "label")
    val deletedIds = base.where(col("vec_id") % 7 === 0).select("vec_id")
    Similarity.appendToIvfIndex(edited.unionByName(added), dir, cb, seg = 1L)
    val tomb = deletedIds.select(col("vec_id"), lit(Long.MaxValue).as("before_seg"))
      .unionByName(edited.select(col("vec_id"), lit(1L).as("before_seg")))
    val refreshed = base.where(col("vec_id") % 7 =!= 0 && col("vec_id") % 5 =!= 0)
      .unionByName(edited).unionByName(added)
    val queries = refreshed.where(col("vec_id") < 12 || col("vec_id") >= 10000L && col("vec_id") < 10004L)

    def served(d: String, tb: Option[org.apache.spark.sql.DataFrame],
               b: Array[Array[Array[Double]]] = cb) = {
      val (idx, dc) = Similarity.readIndex(spark, d)
      Similarity.ivfPqTopK(idx, queries, b, dc, k = 5, nprobe = 4,
        shortlist = 50, tombstones = tb)
    }
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(3),
        math.round(r.getDouble(2) * 1e6))).toSet

    // 1) MoR parity: (index + delta + tombstones) must serve EXACTLY like a
    //    fresh re-encode of the refreshed corpus under the SAME quantizers —
    //    assignment and PQ encode are deterministic functions of (vec, cents, cb)
    val reDir = java.nio.file.Files.createTempDirectory("ivfpq-re").toString
    Similarity.writeIndex(
      graft.pipeline.Quantize.pqEncode(Similarity.assignCells(refreshed, cents), cb),
      cents, reDir)
    val mor = served(dir, Some(tomb))
    assert(key(mor) == key(served(reDir, None)),
      "MoR serve must equal the same-quantizer re-encode serve")
    // deleted ids never rank; each neighbor appears at most once per query
    val morRows = mor.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // deleted = BASE ids %7==0 (appended 10000+ ids are alive whatever
    // their modulus)
    assert(morRows.forall(r => !(r._2 < 10000L && r._2 % 7 == 0)),
      "deleted vectors must not rank")
    assert(morRows.distinct.length == morRows.length,
      "an edited vector must rank once, not once per segment")

    // 2) recall on the refreshed corpus >= the fresh-build gate (0.9)
    val brute = graft.pipeline.Quantize.pqTopKReranked(
      graft.pipeline.Quantize.pqEncode(refreshed, cb), queries, cb, k = 5,
      shortlist = 10000)
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet)
    val want = topSets(brute); val got = topSets(mor)
    val hits = want.toSeq.map { case (q, w) =>
      w.intersect(got.getOrElse(q, Set.empty)).size.toDouble / w.size }
    val recall = hits.sum / hits.size
    assert(recall >= 0.9, s"post-refresh recall $recall < 0.9")

    // 3) the serve plan still partition-prunes on cell THROUGH the
    //    tombstone anti-join
    val plan = mor.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      "tombstone-aware serve must keep cell pruning:\n" + plan.take(3000))

    // 4) generation 2: compact (drop-in, empty tombstones), refresh AGAIN,
    //    and the second MoR serve equals the re-encode of the gen-2 corpus
    val cDir = java.nio.file.Files.createTempDirectory("ivfpq-compact").toString
    Similarity.compactIvfIndex(spark, dir, tomb, cDir)
    assert(key(served(cDir, None)) == key(served(reDir, None)),
      "compacted index must serve identically with empty tombstones")
    val edited2 = refreshed.where(col("vec_id") % 11 === 0)
      .withColumn("embedding",
        transform(col("embedding"), x => (x + lit(2.5f)).cast("float")))
    Similarity.appendToIvfIndex(edited2, cDir, cb, seg = 1L)
    val tomb2 = edited2.select(col("vec_id"), lit(1L).as("before_seg"))
    val gen2 = refreshed.where(col("vec_id") % 11 =!= 0).unionByName(edited2)
    val re2Dir = java.nio.file.Files.createTempDirectory("ivfpq-re2").toString
    Similarity.writeIndex(
      graft.pipeline.Quantize.pqEncode(Similarity.assignCells(gen2, cents), cb),
      cents, re2Dir)
    // gen-2 queries: drop the ids edited2 moved (their stored position no
    // longer matches the query vector, which is fine but not the parity point)
    assert(key(served(cDir, Some(tomb2))) == key(served(re2Dir, None)),
      "generation-2 MoR serve must equal the gen-2 re-encode serve")

    // 5) the retrain janitor: fresh quantizers over the alive rows — recall
    //    on the refreshed corpus must still meet the fresh-build gate
    val rDir = java.nio.file.Files.createTempDirectory("ivfpq-retrain").toString
    val cb2 = Similarity.retrainIvfIndex(spark, dir, tomb, rDir,
      nlist = 8, m = 16, ksub = 16, iters = 3, sampleN = 2000)
    val retrained = served(rDir, None, cb2)
    val brute2 = graft.pipeline.Quantize.pqTopKReranked(
      graft.pipeline.Quantize.pqEncode(refreshed, cb2), queries, cb2, k = 5,
      shortlist = 10000)
    val want2 = topSets(brute2); val got2 = topSets(retrained)
    val hits2 = want2.toSeq.map { case (q, w) =>
      w.intersect(got2.getOrElse(q, Set.empty)).size.toDouble / w.size }
    val recall2 = hits2.sum / hits2.size
    assert(recall2 >= 0.9, s"post-retrain recall $recall2 < 0.9")
  }

  test("ivfCellStats: appended drift raises mean_d2 in its cells and counts as delta mass; tombstoning it restores the base profile") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian() * 5))
    val base = (0 until 200).map { i =>
      (i.toLong, centers(i % 8).map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq, i % 8)
    }.toDF("vec_id", "embedding", "label")
    val cents = Similarity.trainCentroids(base, nlist = 8, iters = 3, sampleN = 2000)
    val cb = graft.pipeline.Quantize.trainPqCodebooks(base, m = 16, ksub = 16,
      iters = 5, sampleN = 2000)
    val dir = java.nio.file.Files.createTempDirectory("ivf-cellstats").toString
    Similarity.writeIndex(
      graft.pipeline.Quantize.pqEncode(Similarity.assignCells(base, cents), cb), cents, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val before = Similarity.ivfCellStats(spark, dir)
    val beforeRows = before.collect()
    assert(beforeRows.map(_.getLong(1)).sum == 200L, "all base vectors counted")
    assert(beforeRows.forall(_.getLong(2) == 0L), "no delta mass on a fresh build")
    val maxBaseD2 = beforeRows.map(_.getDouble(3)).max

    // drifted delta: far from every trained centroid (10× the blob radius)
    val drifted = (0 until 30).map { i =>
      (10000L + i, centers(i % 8).map(x => (x * 10.0 + rnd.nextGaussian()).toFloat).toSeq, 9)
    }.toDF("vec_id", "embedding", "label")
    Similarity.appendToIvfIndex(drifted, dir, cb, seg = 1L)
    val afterRows = Similarity.ivfCellStats(spark, dir).collect()
    assert(afterRows.map(_.getLong(1)).sum == 230L)
    assert(afterRows.map(_.getLong(2)).sum == 30L, "delta mass counted per cell")
    assert(afterRows.map(_.getDouble(3)).max > maxBaseD2 * 5,
      "drifted mass must raise its cells' mean_d2 — the retrain trigger")

    // tombstoning the drifted rows restores the base profile exactly
    val tomb = drifted.select(col("vec_id"), lit(Long.MaxValue).as("before_seg"))
    assert(key(Similarity.ivfCellStats(spark, dir, Some(tomb))) == key(before),
      "tombstone-filtered stats must equal the pre-append profile")
  }

  test("ivfMaintenanceAdvice: measured state chooses none/compact/retrain; compacted and retrained dirs are self-contained and fingerprint-guarded") {
    val sp = spark
    import sp.implicits._
    val Q = graft.pipeline.Quantize
    val rnd = new scala.util.Random(29)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian() * 5))
    def blob(id: Long, c: Int): (Long, Seq[Float], Int) =
      (id, centers(c).map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq, c)
    val base = (0 until 200).map(i => blob(i.toLong, i % 8))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.trainCentroids(base, nlist = 8, iters = 3, sampleN = 2000)
    val cb = Q.trainPqCodebooks(base, m = 16, ksub = 16, iters = 5, sampleN = 2000)
    val dir = java.nio.file.Files.createTempDirectory("ivf-advice").toString
    Similarity.writeIndex(
      Q.pqEncode(Similarity.assignCells(base, cents), cb), cents, dir)
    Q.writeCodebooks(spark, cb, s"$dir/codebooks")
    Similarity.writeIndexMeta(spark, dir, cb)

    // fresh build: keep appending deltas
    assert(Similarity.ivfMaintenanceAdvice(spark, dir).action == "none")

    // a small in-distribution delta: still none (the steady-state refresh)
    val small = (0 until 20).map(i => blob(20000L + i, i % 8))
      .toDF("vec_id", "embedding", "label")
    Similarity.appendToIvfIndex(small, dir, cb, seg = 1L)
    val a1 = Similarity.ivfMaintenanceAdvice(spark, dir)
    assert(a1.action == "none", a1.toString)

    // heavy deletes: dead rows past the gate, quantizer still right → compact
    val tombDel = base.where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), lit(Long.MaxValue).as("before_seg"))
    val a2 = Similarity.ivfMaintenanceAdvice(spark, dir, Some(tombDel))
    assert(a2.action == "compact", a2.toString)
    assert(a2.deadFraction > 0.25 && a2.d2Ratio < 1.5, a2.toString)

    // drifted appended mass: both retrain triggers fire (appended fraction
    // AND alive mean_d2 risen past the build-time baseline)
    val drifted = (0 until 80).map { i =>
      (30000L + i, centers(i % 8).map(x => (x * 10.0 + rnd.nextGaussian()).toFloat).toSeq, 9)
    }.toDF("vec_id", "embedding", "label")
    Similarity.appendToIvfIndex(drifted, dir, cb, seg = 2L)
    val a3 = Similarity.ivfMaintenanceAdvice(spark, dir)
    assert(a3.action == "retrain", a3.toString)
    assert(a3.d2Ratio > 1.5 && a3.appendedFraction > 0.25, a3.toString)

    // compact is SELF-CONTAINED: codebooks + meta travel; profile clean again
    val tombAll = drifted.select(col("vec_id"), lit(Long.MaxValue).as("before_seg"))
    val cDir = java.nio.file.Files.createTempDirectory("ivf-advice-c").toString
    Similarity.compactIvfIndex(spark, dir, tombAll, cDir)
    val cbC = Q.readCodebooks(spark, s"$cDir/codebooks")
    Similarity.requireCodebookMatch(spark, cDir, cbC) // must not throw
    assert(Q.codebookFingerprint(cbC) == Q.codebookFingerprint(cb),
      "compaction must carry the encoding codebooks unchanged")
    assert(Similarity.ivfMaintenanceAdvice(spark, cDir).action == "none")

    // retrain is SELF-CONTAINED: new codebooks persist inside outDir and
    // fingerprint-match the new codes; the OLD codebooks fail LOUDLY
    val rDir = java.nio.file.Files.createTempDirectory("ivf-advice-r").toString
    Similarity.retrainIvfIndex(spark, dir, tombAll, rDir,
      nlist = 8, m = 16, ksub = 16, iters = 3, sampleN = 2000)
    Similarity.requireCodebookMatch(spark, rDir,
      Q.readCodebooks(spark, s"$rDir/codebooks")) // must not throw
    val ex = intercept[IllegalArgumentException] {
      Similarity.requireCodebookMatch(spark, rDir, cb)
    }
    assert(ex.getMessage.contains("fingerprint"), ex.getMessage)
    assert(Similarity.ivfMaintenanceAdvice(spark, rDir).action == "none")
  }

  test("incremental near-dup vs the persisted index equals the one-shot OPH pair set; planted dups rediscover their originals; disjoint docs stay silent") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-ndidx").toString
    Dedup.writeNearDupIndex(docs, path)
    // 1) same corpus, same ids: the index query's canonicalized pair set
    //    must equal the one-shot in-memory band join's
    val oneShot = Dedup.minhashPairsOph(docs, threshold = 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaIndex = Dedup.nearDupAgainstIndex(docs, path, threshold = 0.8)
      .select(least(col("new_id"), col("old_id")).as("a"),
        greatest(col("new_id"), col("old_id")).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == oneShot,
      s"index query diverges from one-shot: only-index=${viaIndex.diff(oneShot).take(5)} only-oneshot=${oneShot.diff(viaIndex).take(5)}")
    // 2) planted new batch: shifted copies must each rediscover their
    //    original at est_jaccard 1.0
    val batch = docs.where(pmod(col("doc_id"), lit(11)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(5_000_000L))
    val hits = Dedup.nearDupAgainstIndex(batch, path, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val selfHits = hits.filter { case (n, o, _) => n - 5_000_000L == o }
    val planted = batch.count()
    assert(selfHits.length == planted,
      s"only ${selfHits.length} of $planted planted dups rediscovered their original")
    assert(selfHits.forall(_._3 == 1.0), "identical text must estimate jaccard 1.0")
    // 3) a shingle-disjoint batch produces nothing
    val sp = spark
    import sp.implicits._
    val disjoint = Seq((9_000_001L, "qqq www eee rrr ttt yyy uuu iii ooo ppp"))
      .toDF("doc_id", "text")
    assert(Dedup.nearDupAgainstIndex(disjoint, path, threshold = 0.8).count() == 0)
  }

  test("near-dup index query enforces the broadcast contract: above maxBroadcastDocs it degrades to shuffle joins with identical results") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-ndguard").toString
    Dedup.writeNearDupIndex(docs, path)
    val batch = docs.where(pmod(col("doc_id"), lit(11)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(5_000_000L))
    val n = batch.count()
    def pairs(maxB: Long) =
      Dedup.nearDupAgainstIndex(batch, path, threshold = 0.95, maxBroadcastDocs = maxB)
        .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // at the boundary the broadcast path runs; one past it, the shuffle
    // path — both must produce the same pair set
    val atLimit = pairs(n)
    assert(atLimit.nonEmpty)
    assert(pairs(n - 1) == atLimit, "shuffle fallback must be result-identical")
    // plan shapes: the broadcast path hashes the batch side; the fallback
    // carries NO forced-broadcast hint, so an oversize batch can never be
    // driver-collected no matter what the size stats say (auto-broadcast
    // still respects autoBroadcastJoinThreshold, which is the point)
    val sigs = spark.read.parquet(s"$path/sigs")
    val bPlan = Dedup.indexQueryPlan(sigs, path, 64, 16, 0.95, broadcastBatch = true)
      .queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan.take(3000))
    val sHints = Dedup.indexQueryPlan(sigs, path, 64, 16, 0.95, broadcastBatch = false)
      .queryExecution.analyzed.toString
    assert(!sHints.contains("ResolvedHint"),
      "oversize batch must never carry a broadcast hint:\n" + sHints.take(3000))
  }

  test("p55: NB domain classifier separates planted vocabularies and honors the prior") {
    val sp = spark
    import sp.implicits._
    // two disjoint vocabularies: target docs (src1) speak alpha/beta,
    // background speaks gamma/delta; one ambiguous doc shares both
    val d = Seq(
      (1L, "alpha beta alpha beta", "src1"), (2L, "beta alpha beta", "src1"),
      (3L, "gamma delta gamma", "src0"), (4L, "delta gamma delta delta", "src0"),
      (5L, "gamma delta gamma gamma", "src0"),
      (6L, "alpha gamma", "src0")).toDF("doc_id", "text", "source")
    val out = graft.pipeline.Assembly.nbDomainScore(d, "src1")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) > 0 && out(2L) > 0, s"target-vocab docs must score positive: $out")
    assert(out(3L) < 0 && out(4L) < 0, s"background docs must score negative: $out")
    // the ambiguous doc's word terms cancel; the prior (2 vs 4 docs) decides
    assert(out(6L) < 0, s"prior log(2/4) must tip the balanced doc negative: $out")
  }

  test("p55: a targetSource matching all or none of the corpus fails loudly instead of NULLing every score") {
    val sp = spark
    import sp.implicits._
    val d = Seq((1L, "alpha beta", "src1"), (2L, "gamma delta", "src1"))
      .toDF("doc_id", "text", "source")
    // Spark wraps executor-side raise_error — search the cause chain
    def chainMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    // all docs match: log(dt/(dall-dt)) is log-of-division-by-zero — the
    // r8 shape silently returned all-NULL logodds under non-ANSI semantics
    val all = intercept[Exception] {
      graft.pipeline.Assembly.nbDomainScore(d, "src1").collect()
    }
    assert(chainMsg(all).contains("targetSource"),
      s"degenerate all-match must raise the guard, got: ${chainMsg(all)}")
    // no docs match
    val none = intercept[Exception] {
      graft.pipeline.Assembly.nbDomainScore(d, "nope").collect()
    }
    assert(chainMsg(none).contains("targetSource"))
  }

  test("p70: per-source percentile keeps each source's best docs even when one source scores globally lower") {
    val sp = spark
    import sp.implicits._
    def words(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")
    // s1: three docs with clearly distinct quality (token-count term);
    // s2: two docs, BOTH worse than every s1 doc on the global scale
    val d = Seq(
      (1L, words(10, "a"), "s1"), (2L, words(30, "b"), "s1"), (3L, words(60, "c"), "s1"),
      (4L, words(3, "x"), "s2"), (5L, words(5, "y"), "s2")
    ).toDF("doc_id", "text", "source")
    val out = graft.pipeline.Curation.sourcePercentile(d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))
    val s1 = out.filter(_._2 == "s1").sortBy(_._3)
    val s2 = out.filter(_._2 == "s2").sortBy(_._3)
    assert(s1.map(_._4).toSeq == Seq(0.0, 0.5, 1.0), s"s1 pcts: ${s1.mkString(",")}")
    assert(s2.map(_._4).toSeq == Seq(0.0, 1.0), s"s2 pcts: ${s2.mkString(",")}")
    // the global-threshold failure mode p70 exists to fix: every s2 score
    // is below every s1 score, yet each source keeps exactly its best doc
    assert(s2.map(_._3).max < s1.map(_._3).min)
    assert(out.filter(_._5 == 1L).map(t => t._2 -> t._1).sorted.toSeq ==
      Seq("s1" -> s1.last._1, "s2" -> s2.last._1))
  }

  test("p68: the HOF (streaming) shape and the agg (batch) shape agree bit-for-bit on random corpora (seeded)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "bb", "ccc", "dddd", "e", "ff")
    val docs = (0 until 60).map { i =>
      val n = rnd.nextInt(12) // includes empty and single-word docs
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val batch = graft.pipeline.TextStats.repetitionStats(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val hof = graft.streaming.DocPipeline.repetitionStream(
        df.withColumn("ts", expr("timestamp_seconds(1700000000)"))).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSet
    assert(batch.size == 60)
    assert(hof == batch,
      s"shapes disagree on ${(hof diff batch) ++ (batch diff hof)}")
  }

  test("p73: PSI drift — identical snapshots read stable (psi ~ 0), a rewritten source reads shifted") {
    val sp = spark
    import sp.implicits._
    def corp(s2text: String) = (
      (1 to 40).map(i => (i.toLong, s"w$i " * (i % 5 + 2), "s1")) ++
      (41 to 80).map(i => (i.toLong, s2text * (i % 3 + 1), "s2"))
    ).toDF("doc_id", "text", "source")
    val old = corp("tiny ")
    // s1 unchanged; s2 rewritten to much longer docs → quality bins move
    val newSnap = old.where(col("source") === "s1").unionByName(
      corp(("lots of much longer replacement content here " * 4)).where(col("source") === "s2"))
    val out = graft.pipeline.Curation.scoreDrift(old, newSnap).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getString(4))).toMap
    assert(out("s1")._1 == 0.0 && out("s1")._2 == "stable",
      s"identical s1 snapshot must read psi 0: ${out("s1")}")
    assert(out("s2")._1 > 0.25 && out("s2")._2 == "shifted",
      s"rewritten s2 must cross the action threshold: ${out("s2")}")
  }

  test("p73: drift bands near the 0.1 boundary — the class always equals the classification of the reported quantized psi") {
    val sp = spark
    import sp.implicits._
    // rewrite every m-th s2 doc: m=10 lands just ABOVE the stable/moderate
    // boundary (psi 0.137), m=13 just BELOW it (psi 0.0877) — both within
    // float-sum noise of 0.1 had the engine classified on the raw sum
    def corp(rewrite: Long => Boolean) = (
      (1 to 40).map(i => (i.toLong, s"w$i " * (i % 5 + 2), "s1")) ++
      (41 to 80).map { i =>
        val txt = if (rewrite(i.toLong))
          "lots of much longer replacement content here " * 2
        else "tiny " * (i % 3 + 1)
        (i.toLong, txt, "s2")
      }).toDF("doc_id", "text", "source")
    val old = corp(_ => false)
    val bands = scala.collection.mutable.Set[String]()
    for (m <- Seq(5, 10, 13)) {
      val rows = graft.pipeline.Curation.scoreDrift(old, corp(_ % m == 0))
        .collect().map(r => (r.getString(0), r.getDouble(3), r.getString(4)))
      rows.foreach { case (src, psi, drift) =>
        val expect = if (psi < 0.1) "stable"
                     else if (psi <= 0.25) "moderate" else "shifted"
        assert(drift == expect, s"m=$m $src: psi=$psi classified $drift")
        bands += drift
      }
    }
    assert(bands == Set("stable", "moderate", "shifted"),
      s"the sweep must exercise all three bands: $bands")
  }

  test("p77: the ensemble demands ALL THREE signals — a doc strong on two but weak on one ranks below an all-rounder") {
    val sp = spark
    import sp.implicits._
    // target-domain vocabulary = alpha/beta (NB signal); common fluent
    // words = the stopword-heavy long text (heuristic + LM signals)
    val good = "the alpha beta of alpha and beta in the alpha beta " * 4
    val offDomain = "the one of two and three in the four five " * 4  // fluent but wrong domain
    val gibberish = "alpha beta zzq xqv wvx qqz alpha beta"           // on-domain but low quality/LM
    val d = Seq(
      (1L, good, "src1"), (2L, good + "the alpha", "src1"),
      (3L, offDomain, "src0"), (4L, gibberish, "src0"),
      (5L, offDomain + " six", "src0"))
      .toDF("doc_id", "text", "source")
    val out = graft.pipeline.Assembly.qualityEnsemble(d, "src1")
      .collect().map(r => r.getLong(0) -> (r.getDouble(4), r.getLong(5))).toMap
    // the all-rounders beat both one-dimensional docs (on a 5-doc corpus
    // rank granularity is 0.25, so the weaker all-rounder may TIE the
    // fluent off-domain doc — never fall below it)
    assert(out(1L)._1 >= out(3L)._1 && out(1L)._1 > out(4L)._1,
      s"all-three-signals doc must not rank below partial docs: $out")
    assert(out(2L)._1 > out(3L)._1 && out(2L)._1 > out(4L)._1, s"$out")
    // fused is a mean of exact ranks in [0, 1]
    out.values.foreach { case (f, _) => assert(f >= 0.0 && f <= 1.0) }
  }

  test("q13: bucketed 24h window — a view 23h59m back counts, 24h01m back and 1µs after do not; bin-crossing windows stay exact") {
    val sp = spark
    import sp.implicits._
    val day = 86400000000L; val hr = 3600000000L
    // purchase at 2.5 days: its window [1.5d, 2.5d) crosses the day-1/day-2
    // bin boundary — the explode must cover both bins
    val buyT = (2 * day + day / 2)
    val ev = Seq(
      (100L, 1L, "purchase", 10.0, buyT),
      (1L, 1L, "view", 1.0, buyT - 1L),              // 1µs before: IN
      (2L, 1L, "view", 2.0, buyT - 24L * hr + 1L),   // just inside: IN
      (3L, 1L, "view", 4.0, buyT - 24L * hr - hr),   // 25h back: OUT
      (4L, 1L, "view", 8.0, buyT),                   // same instant: OUT (strictly before)
      (5L, 2L, "view", 16.0, buyT - 1L)              // other user: OUT
    ).toDF("event_id", "user_id", "event_type", "value", "tus")
    // drive the same derivation the catalog entry uses, on a prepared frame
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("tus").as("vtus"),
        round(col("value") * 100).cast("long").as("_vc"))
      .withColumn("bin", expr(s"vtus div $day"))
    val buys = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("example_id"), col("user_id"), col("tus"),
        col("value").as("label"))
    val probes = buys.withColumn("bin",
      explode(array(expr(s"tus div $day") - 1, expr(s"tus div $day"))))
    val m = probes.join(views, Seq("user_id", "bin"))
      .where(col("vtus") >= col("tus") - day && col("vtus") < col("tus"))
      .groupBy("example_id")
      .agg(count(lit(1)).as("n"), sum(col("_vc")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(m.toSeq == Seq((100L, 2L, 300L)),
      s"window must keep exactly views 1+2 (1.0+2.0 = 300 cents): ${m.toSeq}")
  }

  test("q12: asofJoin attaches the latest feature at-or-before each example, NULL before any feature exists") {
    val sp = spark
    import sp.implicits._
    val feats = Seq((1L, 100L, 10.0), (1L, 200L, 20.0), (2L, 150L, 5.0))
      .toDF("user_id", "tus", "view_value")
    val labels = Seq(
      (10L, 1L, 50L),    // before any feature -> NULL
      (11L, 1L, 100L),   // equal ts -> INCLUSIVE (>= semantics): 10.0
      (12L, 1L, 199L),   // between features -> 10.0
      (13L, 1L, 5000L),  // after all -> 20.0
      (14L, 3L, 100L))   // keyless user -> NULL
      .toDF("example_id", "user_id", "tus")
    val out = graft.pipeline.Assembly.asofJoin(labels, feats, "user_id", "tus")
      .select(col("example_id"), col("asof.view_value"), col("asof.asof_ts"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getDouble(1), r.getLong(2))))).toMap
    assert(out(10L).isEmpty, s"pre-feature example must be NULL: ${out(10L)}")
    assert(out(11L).contains((10.0, 100L)), s"equal ts is inclusive: ${out(11L)}")
    assert(out(12L).contains((10.0, 100L)), s"between: ${out(12L)}")
    assert(out(13L).contains((20.0, 200L)), s"latest wins: ${out(13L)}")
    assert(out(14L).isEmpty, s"unseen key must be NULL: ${out(14L)}")
  }

  test("q12 property: asofJoin equals a sequential reference over randomized keys/timestamps/collisions") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(17)
    // right side distinct per (key, ts) BY CONTRACT; left ts values
    // deliberately collide with right ts values to exercise the
    // inclusive boundary
    val feats0 = (1 to 120).map(_ => (rnd.nextInt(6).toLong,
      rnd.nextInt(40).toLong * 10L, rnd.nextInt(1000).toDouble))
      .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
    val labels = (1 to 200).map(i => (i.toLong, rnd.nextInt(8).toLong,
      rnd.nextInt(450).toLong))
    val out = graft.pipeline.Assembly.asofJoin(
        labels.toDF("example_id", "user_id", "tus"),
        feats0.toDF("user_id", "tus", "v"), "user_id", "tus")
      .select(col("example_id"), col("asof.asof_ts"), col("asof.v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap
    labels.foreach { case (id, u, t) =>
      val want = feats0.filter(f => f._1 == u && f._2 <= t)
        .sortBy(_._2).lastOption.map(f => (f._2, f._3))
      assert(out(id) == want, s"example $id (user $u, ts $t): ${out(id)} vs $want")
    }
  }

  test("p74: tokenizer fertility flags the OOV-heavy source; empty-text sources keep a zeroed row") {
    val sp = spark
    import sp.implicits._
    // vocabSize=2 over a corpus where 'aa' and 'bb' dominate; srcRare
    // speaks entirely out-of-vocab, srcEmpty has no words at all
    val d = (
      (1 to 10).map(i => (i.toLong, "aa bb aa bb", "srcCommon")) ++
      Seq((11L, "zz yy xx ww", "srcRare"), (12L, "...", "srcEmpty"))
    ).toDF("doc_id", "text", "source")
    val out = graft.pipeline.Curation.tokenizerFertility(d, vocabSize = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(6))).toMap
    assert(out("srcCommon") == ((10L, 40L, 0L, 0.0, 4.0)), s"common: ${out("srcCommon")}")
    val (nd, nt, noov, rate, tpd) = out("srcRare")
    assert(nd == 1L && nt == 4L && noov == 4L && rate == 1.0 && tpd == 4.0,
      s"rare source must read 100% OOV: ${out("srcRare")}")
    assert(out("srcEmpty") == ((1L, 0L, 0L, 0.0, 0.0)),
      s"wordless source must zero, not NULL: ${out("srcEmpty")}")
    // chars_per_token: srcCommon words are all 2 chars
    val cpt = graft.pipeline.Curation.tokenizerFertility(d, vocabSize = 2)
      .where(col("source") === "srcCommon").collect().head.getDouble(5)
    assert(cpt == 2.0, s"chars/token: $cpt")
  }

  test("p75: memorization audit — corpus-unique grams flag the one-of-a-kind doc, shared text stays clean") {
    val sp = spark
    import sp.implicits._
    val boiler = "one two three four five six"            // 2 shared 5-grams
    val d = Seq(
      (1L, boiler), (2L, boiler),                          // df=2 everywhere
      (3L, "alpha beta gamma delta epsilon zeta"),         // all grams unique
      (4L, boiler + " unique tail here"),                  // mixed
      (5L, "too short")                                    // no 5-grams
    ).toDF("doc_id", "text")
    val out = graft.pipeline.TextStats.memorizationAudit(d, k = 5, tau = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(out(1L)._2 == 0L && out(1L)._4 == 0L, s"boilerplate doc must be clean: ${out(1L)}")
    assert(out(3L) == ((2L, 2L, 1.0, 1L)), s"all-unique doc must flag: ${out(3L)}")
    // doc 4 shares its first 2 grams with the boilerplate (df=3), its last
    // 3 grams (crossing into 'unique tail here') are df=1
    assert(out(4L)._1 == 5L && out(4L)._2 == 3L && out(4L)._4 == 1L, s"mixed: ${out(4L)}")
    assert(out(5L) == ((0L, 0L, 0.0, 0L)), s"gram-less doc must keep a zero row: ${out(5L)}")
  }

  test("p73: a source present only in the NEW snapshot still gets a drift row (grid = old ∪ new)") {
    val sp = spark
    import sp.implicits._
    val old = (1 to 20).map(i => (i.toLong, s"w$i " * 5, "s1"))
      .toDF("doc_id", "text", "source")
    val newSnap = old.unionByName(
      (21 to 40).map(i => (i.toLong, "brand new source content here " * 3, "sNew"))
        .toDF("doc_id", "text", "source"))
    val out = graft.pipeline.Curation.scoreDrift(old, newSnap).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    assert(out.keySet == Set("s1", "sNew"), s"new-only source must appear: ${out.keySet}")
    val (nOld, nNew, drift) = out("sNew")
    assert(nOld == 0L && nNew == 20L, s"sNew counts: $nOld/$nNew")
    // all mass moved from the smoothing prior to one bin — maximal drift
    assert(drift == "shifted", s"a source born after the snapshot is a shift by definition: $drift")
  }

  test("p72: cluster-closed split — near-dup members never straddle the train/eval boundary; singletons reduce to p32") {
    val sp = spark
    import sp.implicits._
    // ids chosen so the p32 doc-keyed hash WOULD split the pair (that's
    // the leak p72 closes); text drives the 3-gram pairs
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, quote), (2L, quote + " iota"),      // near-dup cluster {1, 2}
      (7L, "one two three four five six seven"),
      (9L, "eight nine ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    val pairs = graft.pipeline.Dedup.ngramJaccardPairs(d, k = 3, threshold = 0.5)
    val out = graft.pipeline.Dedup.splitByCluster(d, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 == 1L && byId(2L)._2 == 1L, s"1,2 must cluster: $out")
    assert(byId(1L)._3 == byId(2L)._3,
      s"cluster members must share a split: ${byId(1L)} vs ${byId(2L)}")
    // singletons: cluster_id = own id → identical to the p32 assignment
    val p32 = graft.pipeline.Assembly.trainValTestSplit(d.where(col("doc_id").isin(7L, 9L)))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byId(7L)._3 == p32(7L) && byId(9L)._3 == p32(9L))
  }

  test("p69: embedding decontamination — planted geometry flags the near-copy, spares the orthogonal") {
    val sp = spark
    import sp.implicits._
    // heldout slice = vec_id % 20 == 0 → ids 0 and 20
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),   // heldout axis-x
      (20L, Array(0.0f, 1.0f, 0.0f)),  // heldout axis-y
      (1L, Array(2.0f, 0.0f, 0.0f)),   // same direction as heldout 0 → cos 1
      (2L, Array(0.0f, 0.0f, 5.0f)),   // orthogonal to both → cos 0
      (3L, Array(1.0f, 1.0f, 0.0f))    // 45° to both → cos ≈ 0.7071
    ).toDF("vec_id", "embedding")
    val out = graft.pipeline.Similarity.embedDecontam(emb, tau = 0.9)
      .orderBy("vec_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(_.getLong(2) == 2L), "every row scores against both heldout vectors")
    val byId = out.map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(3))).toMap
    assert(byId(1L) == ((1.0, 1L)), s"near-copy must flag: ${byId(1L)}")
    assert(byId(2L) == ((0.0, 0L)), s"orthogonal must be clean: ${byId(2L)}")
    assert(byId(3L) == ((0.7071, 0L)), s"45-degree vector: ${byId(3L)}")
  }

  test("p68: repetition battery — duplicate word/bigram fractions and top-bigram coverage, hand-checked") {
    val sp = spark
    import sp.implicits._
    val d = Seq(
      (1L, "a a a b"),                    // heavy repetition
      (2L, "alpha beta gamma delta"),     // all-distinct
      (3L, "")                            // empty: all-zero, keeps
    ).toDF("doc_id", "text")
    val out = graft.pipeline.TextStats.repetitionStats(d).orderBy("doc_id").collect()
    val r1 = out(0)
    // words [a,a,a,b]: 2 of 4 occurrences are repeats; bigrams
    // [a a, a a, a b]: 1 of 3 repeats; top bigram "a a" covers
    // 2 occurrences x 2 chars = all 4 word chars (x1e4-scaled longs)
    assert(r1.getLong(1) == 4 && r1.getLong(2) == 5000L)
    assert(r1.getLong(3) == 3333L && r1.getLong(4) == 10000L && r1.getLong(5) == 0L)
    val r2 = out(1)
    // no repeats anywhere; densest bigram "gamma delta" = 10 of 19 chars
    assert(r2.getLong(1) == 4 && r2.getLong(2) == 0L && r2.getLong(3) == 0L)
    assert(r2.getLong(4) == 5263L && r2.getLong(5) == 0L)
    val r3 = out(2)
    assert(r3.getLong(1) == 0 && r3.getLong(2) == 0L &&
      r3.getLong(4) == 0L && r3.getLong(5) == 1L)
  }

  test("p56: drift is zero between identical sources and orders by actual distribution shift") {
    val sp = spark
    import sp.implicits._
    val d = Seq(
      (1L, "a a b c", "s1"), (2L, "a a b c", "s2"),        // identical dists
      (3L, "x y z w", "s3")                                 // disjoint vocab
    ).toDF("doc_id", "text", "source")
    val rows = graft.pipeline.Curation.sourceDrift(d)
      .select("src_a", "src_b", "jsd")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    val bySrc = rows.map { case (a, b, j) => (a, b) -> j }.toMap
    assert(math.abs(bySrc(("s1", "s2"))) < 1e-12,
      s"identical unigram dists must have JSD 0: $bySrc")
    assert(bySrc(("s1", "s3")) > bySrc(("s1", "s2")),
      s"disjoint vocab must drift more than identical: $bySrc")
    // JSD is symmetric by construction: both (s1,s3) and (s2,s3) see the
    // same distributions, so their drift matches to fp noise
    assert(math.abs(bySrc(("s1", "s3")) - bySrc(("s2", "s3"))) < 1e-9)
  }

  test("p58: token-budget selection spends the budget on the best-ranked docs, tie-broken by doc_id") {
    val out = graft.pipeline.Assembly.tokenBudgetSelect(docs, budget = 600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val kept = out.filter(_._4 == 1L)
    assert(kept.nonEmpty && kept.map(_._2).sum <= 600L, "kept tokens must fit the budget")
    // equivalence with the straightforward ranking: greedy prefix over
    // (score desc, doc_id asc) capped at the budget
    val ranked = out.sortBy { case (id, _, s, _) => (-s, id) }
    var cum = 0L
    val expect = ranked.map { case (id, n, _, _) => cum += n; (id, cum <= 600L) }.toMap
    out.foreach { case (id, _, _, k) =>
      assert((k == 1L) == expect(id), s"doc $id keep=$k disagrees with the ranked prefix") }
    // the budget is actually binding at this SF (some doc is excluded)
    assert(out.exists(_._4 == 0L))
  }

  test("p57: prototype pruning keeps the hard margin and drops the tight core per cluster") {
    val sp = spark
    import sp.implicits._
    // cluster A: 8 nearly-identical vectors + 2 far outliers around the
    // same centroid; the outliers MUST survive, some core must not
    val vecs = ((0 until 8).map(i => (i.toLong, Array.fill(4)(1.0f + i * 0.01f))) ++
      Seq((8L, Array(3.0f, 1f, 1f, 1f)), (9L, Array(-1.0f, 1f, 1f, 1f))))
      .toDF("vec_id", "embedding")
    val out = Curation.prototypePrune(vecs, k = 1, iters = 2, pruneFrac = 0.3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out(8L) && out(9L), s"far outliers are the hard margin and must be kept: $out")
    assert((0 until 8).count(i => !out(i.toLong)) >= 2,
      s"the prototypical core must lose ~30%: $out")
  }

  test("p59: source cap keeps exactly the best `cap` docs per source, tie-broken by doc_id; small sources survive whole") {
    val sp = spark
    import sp.implicits._
    // src_a: 6 docs with two tied at the top score; src_b: 2 docs (< cap)
    val scored = Seq(
      (1L, "src_a", 0.9), (2L, "src_a", 0.9), (3L, "src_a", 0.7),
      (4L, "src_a", 0.6), (5L, "src_a", 0.5), (6L, "src_a", 0.4),
      (7L, "src_b", 0.1), (8L, "src_b", 0.2)
    ).toDF("doc_id", "source", "qscore")
    val out = Curation.sourceCap(scored, cap = 3, scoreCol = "qscore")
      .select("source", "rk", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(out == Seq(
      ("src_a", 1L, 1L), ("src_a", 2L, 2L), ("src_a", 3L, 3L),
      ("src_b", 1L, 8L), ("src_b", 2L, 7L)), out.toString)
  }

  test("p59: salting is result-invisible — any salt count selects exactly the unsalted top-cap per source (randomized)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 5) {
      val n = 120 + rnd.nextInt(80)
      val rows = (0 until n).map { i =>
        (i.toLong, s"src${rnd.nextInt(4)}",
          // coarse grid forces plenty of score ties across AND within salts
          (rnd.nextInt(6) / 10.0))
      }
      val scored = rows.toDF("doc_id", "source", "qscore")
      def run(salts: Int) = Curation.sourceCap(scored, cap = 7, salts = salts, scoreCol = "qscore")
        .select("source", "rk", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val unsalted = run(1)
      assert(run(16) == unsalted, s"trial $trial: salts=16 diverged")
      assert(run(3) == unsalted, s"trial $trial: salts=3 diverged")
    }
  }

  test("p60: epoch plan repeats terciles 3/2/1, assigns bounded shards, and replays deterministically") {
    val sp = spark
    import sp.implicits._
    // token count drives the score: longer docs score higher here
    val docs = (0 until 30).map(i => (i.toLong, ("w " * (3 * i + 1)).trim))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Assembly.epochPlan(docs, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc.keySet == (0 until 30).map(_.toLong).toSet, "every doc plans")
    byDoc.foreach { case (id, rows) =>
      val ne = rows.head._2
      assert(ne >= 1L && ne <= 3L)
      assert(rows.map(_._3).sorted.toSeq == (1L to ne).toSeq,
        s"doc $id must appear once per epoch 1..$ne")
    }
    assert(out.forall(r => r._4 >= 0 && r._4 < 4), "shards bounded by nShards")
    // top tercile docs (longest) repeat more than bottom ones
    assert(byDoc(29L).head._2 == 3L && byDoc(0L).head._2 == 1L)
    // deterministic replay: a second run is row-identical
    val again = graft.pipeline.Assembly.epochPlan(docs, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.sorted.toSeq == again.sorted.toSeq)
  }

  test("p62: dedup weights share unit mass inside a near-dup cluster and leave unique docs at 1") {
    val sp = spark
    import sp.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta eta"),
      (4L, "one two three four five six seven"),
      (5L, "red green blue cyan magenta yellow")).toDF("doc_id", "text")
    val out = Dedup.dedupWeights(d, Dedup.ngramJaccardPairs(d, k = 3, threshold = 0.5))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(Seq(1L, 2L, 3L).forall(id => out(id)._1 == 1L && out(id)._2 == 3L),
      s"the three near-dups must form one cluster rooted at 1: $out")
    assert(math.abs(out(1L)._3 - 0.3333) < 1e-9, "weight = round(1/3, 4)")
    assert(out(4L) == (4L, 1L, 1.0) && out(5L) == (5L, 1L, 1.0),
      s"unique docs keep weight 1: $out")
  }

  test("p63: split leakage flags heldout docs sharing 3-grams with train under the deterministic split") {
    val sp = spark
    import sp.implicits._
    // split is the p32 hash: ids 0-4 land train, 5 test, 15 val
    val leak = "quick brown fox jumps over lazy dog tonight"
    val d = Seq(
      (0L, leak),
      (1L, "completely different content one two three four"),
      (2L, "another train doc with its own words here"),
      (5L, leak),                                            // copies train 0
      (15L, "unrelated heldout text nothing shared at all")) // clean
      .toDF("doc_id", "text")
    val out = graft.pipeline.Assembly.splitLeakage(d, n = 3, minOverlap = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out.keySet == Set(5L, 15L), s"only heldout docs audit: $out")
    assert(out(5L)._1 == "test" && out(5L)._3 == 6L && out(5L)._4,
      s"the copied doc shares all 6 grams and is leaked: $out")
    assert(out(15L)._1 == "val" && out(15L)._3 == 0L && !out(15L)._4)
  }

  test("p66: weighted sample is deterministic, k-bounded, and pulls heavy docs with near-certainty") {
    val sp = spark
    import sp.implicits._
    // one 5000-token doc among 60 one-token docs: P(heavy in a w-prop
    // 10-sample) ≈ 1 − ∏(1 − 5000/(5060−…)) ≈ 1; A-ES realizes that as
    // the heavy doc's key u^(1/5000) ≈ 1 beating almost any 1-token key
    val d = ((0L until 60L).map(i => (i, "tok")) :+ (99L, ("w " * 5000).trim))
      .toDF("doc_id", "text")
    val out = graft.pipeline.Assembly.weightedSample(d, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 10)
    assert(out.exists(_._1 == 99L), s"the 5000-token doc must be sampled: ${out.toSeq}")
    // replay determinism
    val again = graft.pipeline.Assembly.weightedSample(d, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == again.toSeq)
    // keys are valid A-ES log-keys: non-positive, heavier ⇒ closer to 0
    assert(out.forall(_._3 <= 0.0))
  }

  test("p67: calibration bins are label-consistent on a separable corpus — positive rate rises with the score bin") {
    val sp = spark
    import sp.implicits._
    // src1 speaks alpha/beta, src0 gamma/delta, with a few mixed docs
    val d = (
      (0 until 10).map(i => (i.toLong, "alpha beta alpha beta alpha", "src1")) ++
      (10 until 20).map(i => (i.toLong, "gamma delta gamma delta gamma", "src0")) ++
      Seq((20L, "alpha gamma", "src0"), (21L, "beta delta", "src1"))
    ).toDF("doc_id", "text", "source")
    val out = graft.pipeline.Assembly.nbCalibration(d, "src1", bound = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    // every doc lands in exactly one bin
    assert(out.values.map(_._1).sum == 22L)
    // the clamped extremes separate the pure-vocabulary docs (x1e4 rate)
    assert(out(5L)._3 == 10000L, s"top bin must be all-positive: $out")
    assert(out(-5L)._3 == 0L, s"bottom bin must be all-negative: $out")
    // monotone across populated bins: pos_rate never decreases with bin
    val rates = out.toSeq.sortBy(_._1).map(_._2._3)
    assert(rates.zip(rates.tail).forall { case (a, b) => a <= b },
      s"pos_rate must be monotone on a separable corpus: $out")
  }

  test("p78: shard manifest is order-independent, localizes an edit to its shard, and re-keys on config change") {
    val sp = spark
    import sp.implicits._
    val docs = (1 to 40).map(i => (i.toLong, s"doc number $i " * (i % 4 + 1)))
      .toDF("doc_id", "text")
    val m1 = graft.pipeline.Assembly.shardManifest(docs, 4, "v1")
      .orderBy("shard").collect().map(_.toSeq.toList)
    assert(m1.length == 4 && m1.map(_(1).asInstanceOf[Long]).sum == 40L)
    // partition layout and row order must not move a single byte
    val m2 = graft.pipeline.Assembly.shardManifest(
        docs.repartition(7).orderBy(desc("doc_id")), 4, "v1")
      .orderBy("shard").collect().map(_.toSeq.toList)
    assert(m1.toSeq == m2.toSeq, "manifest must be partition/order independent")
    // one edited doc flips EXACTLY its shard's checksum
    val edited = docs.withColumn("text",
      when(col("doc_id") === 17L, lit("seventeen rewritten")).otherwise(col("text")))
    val m3 = graft.pipeline.Assembly.shardManifest(edited, 4, "v1")
      .orderBy("shard").collect().map(_.toSeq.toList)
    val changed = m1.zip(m3).filter { case (a, b) => a(5) != b(5) } // checksum col
    assert(changed.size == 1, s"exactly one shard's checksum must change: $changed")
    assert(m1.zip(m3).forall { case (a, b) => a(1) == b(1) },
      "an edit (not add/drop) keeps every shard's doc count")
    // a config change re-keys the run but not the content checksums
    val m4 = graft.pipeline.Assembly.shardManifest(docs, 4, "v2")
      .orderBy("shard").collect().map(_.toSeq.toList)
    assert(m1.zip(m4).forall { case (a, b) => a(5) == b(5) && a(6) != b(6) },
      "config change must flip config_fp only")
  }

  test("p78: manifest invariance on random corpora (seeded) — permutation/partitioning never moves a byte, any single edit localizes") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "bb", "seven", "dddd", "x", "yzw", "qq")
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(40)
      val rows = (1 to n).map { i =>
        (i.toLong, Seq.fill(rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val docs = rows.toDF("doc_id", "text")
      val m1 = graft.pipeline.Assembly.shardManifest(docs, 4, "v1")
        .orderBy("shard").collect().map(_.toSeq.toList).toList
      val m2 = graft.pipeline.Assembly.shardManifest(
          rnd.shuffle(rows).toDF("doc_id", "text").repartition(1 + rnd.nextInt(9)), 4, "v1")
        .orderBy("shard").collect().map(_.toSeq.toList).toList
      assert(m1 == m2, s"trial $trial: layout moved the manifest")
      val victim = rows(rnd.nextInt(n))._1
      val m3 = graft.pipeline.Assembly.shardManifest(
          docs.withColumn("text", when(col("doc_id") === victim,
            concat(col("text"), lit(" edited"))).otherwise(col("text"))), 4, "v1")
        .orderBy("shard").collect().map(_.toSeq.toList).toList
      val changed = m1.zip(m3).count { case (a, b) => a(5) != b(5) }
      assert(changed == 1, s"trial $trial: edit of doc $victim changed $changed shards")
    }
  }

  test("p78: null-text docs participate in the checksum, distinct from empty text (manifestTerm null marker)") {
    val sp = spark
    import sp.implicits._
    val base = (1 to 20).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Assembly.shardManifest(df, 4, "v1")
        .orderBy("shard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(5))).toList
    val m1 = manifest(base)
    // null the text of one doc: its shard's checksum must CHANGE (the doc
    // still contributes a term), its doc count must not
    val nulled = base.withColumn("text",
      when(col("doc_id") === 7L, lit(null: String)).otherwise(col("text")))
    val m2 = manifest(nulled)
    assert(m1.map(_._2) == m2.map(_._2), "nulling text keeps every doc counted")
    assert(m1.zip(m2).count { case (a, b) => a._3 != b._3 } == 1,
      "a null-text doc must still move exactly its shard's checksum")
    // null text and empty text are distinct corpus states
    val emptied = base.withColumn("text",
      when(col("doc_id") === 7L, lit("")).otherwise(col("text")))
    val m3 = manifest(emptied)
    assert(m2 != m3, "null text must not collide with empty text")
    // the term itself is non-null for null text
    val term = base.where(col("doc_id") === 1L)
      .select(graft.pipeline.Assembly.manifestTerm(col("doc_id"), lit(null: String)))
      .collect()(0)
    assert(!term.isNullAt(0), "manifestTerm(nullText) must produce a term")
  }

  test("p79: manifest diff reports new/gone/changed/unchanged shard statuses with volume deltas") {
    val sp = spark
    import sp.implicits._
    // the LCG shard mod 4 reduces to (doc_id + 1) % 4 (multiplier and
    // increment are both 1 mod 4) — pick ids per shard directly
    def shardOf(id: Long) = (id + 1) % 4
    val byShard = (1L to 60L).groupBy(shardOf)
    val olds = (byShard(0L) ++ byShard(1L) ++ byShard(2L)).map(i => (i, s"text $i"))
    val news = (byShard(1L).map(i => (i, s"text $i")) ++
      byShard(2L).map(i => (i, if (i == byShard(2L).head) s"edited $i" else s"text $i")) ++
      byShard(3L).map(i => (i, s"text $i")))
    val out = graft.pipeline.Assembly.manifestDiff(
        olds.toSeq.toDF("doc_id", "text"), news.toSeq.toDF("doc_id", "text"), 4, "v1")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.view.mapValues(_._1).toMap ==
      Map(0L -> "gone", 1L -> "unchanged", 2L -> "changed", 3L -> "new"), out.toString)
    assert(out(3L)._2 == byShard(3L).size.toLong &&
      out(0L)._2 == -byShard(0L).size.toLong &&
      out(1L)._2 == 0L && out(2L)._2 == 0L, s"doc deltas: $out")
  }

  test("p80: backfill plan retires gone shards, rebuilds drifted/new ones with cost-ranked priorities, skips the rest") {
    val sp = spark
    import sp.implicits._
    // same LCG-mod-4 trick as the p79 spec: shard = (doc_id + 1) % 4
    def shardOf(id: Long) = (id + 1) % 4
    val byShard = (1L to 60L).groupBy(shardOf)
    // shard 0 exists only in old (retire), shard 1 unchanged (none),
    // shard 2 edited (rebuild), shard 3 only in new (rebuild)
    val olds = (byShard(0L) ++ byShard(1L) ++ byShard(2L)).map(i => (i, s"text $i"))
    val news = (byShard(1L).map(i => (i, s"text $i")) ++
      byShard(2L).map(i => (i, if (i == byShard(2L).head) s"edited longer $i" else s"text $i")) ++
      byShard(3L).map(i => (i, s"text $i")))
    val out = graft.pipeline.Assembly.backfillPlan(
        olds.toSeq.toDF("doc_id", "text"), news.toSeq.toDF("doc_id", "text"), 4, "v1")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toMap
    assert(out.view.mapValues(_._1).toMap ==
      Map(0L -> "retire", 1L -> "none", 2L -> "rebuild", 3L -> "rebuild"), out.toString)
    // non-rebuild actions carry zero cost and priority 0
    assert(out(0L) == ("retire", 0L, 0L, 0) && out(1L) == ("none", 0L, 0L, 0), out.toString)
    // rebuild cost = NEW-side volumes (the shard republishes whole)
    assert(out(2L)._2 == byShard(2L).size.toLong && out(3L)._2 == byShard(3L).size.toLong)
    assert(out(2L)._3 > 0L && out(3L)._3 > 0L)
    // priorities are contiguous 1..k among rebuilds, ordered by token cost
    // desc (shard 2 has one 3-word doc over shard 3's all-2-word docs and
    // both have 15 docs, so shard 2 outranks 3)
    assert(Set(out(2L)._4, out(3L)._4) == Set(1, 2), out.toString)
    assert(out(2L)._3 > out(3L)._3 && out(2L)._4 == 1, out.toString)
    // empty diff → all none, nothing to do
    val idle = graft.pipeline.Assembly.backfillPlan(
        olds.toSeq.toDF("doc_id", "text"), olds.toSeq.toDF("doc_id", "text"), 4, "v1")
      .collect()
    assert(idle.forall(r => r.getString(1) == "none" && r.getInt(4) == 0))
  }

  test("p81: split manifest covers the corpus, localizes an edit to its split, re-keys on ANY config field") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 60L).map(i => (i, s"doc number $i " * (i % 4 + 1).toInt))
      .toDF("doc_id", "text")
    def manifest(df: org.apache.spark.sql.DataFrame, tag: String = "v1",
                 train: Double = 0.9, value: Double = 0.05) =
      graft.pipeline.Assembly.splitManifest(df, tag, train, value)
        .orderBy("split").collect().map(_.toSeq.toList).toList
    val m1 = manifest(docs)
    // ids 5,28,51 hash test; 15,38 val; the rest train — all three splits
    // populated, volumes partition the corpus exactly
    assert(m1.map(_(0)) == List("test", "train", "val"), m1.toString)
    assert(m1.map(_(1).asInstanceOf[Long]).sum == 60L)
    assert(m1.map(_(1)) == List(3L, 55L, 2L), m1.toString)
    // partition/order invariance (the p78 contract)
    val m2 = manifest(docs.repartition(7).orderBy(desc("doc_id")))
    assert(m1 == m2, "manifest must be partition/order independent")
    // an edited doc flips EXACTLY its split's checksum (doc 5 is test)
    val m3 = manifest(docs.withColumn("text",
      when(col("doc_id") === 5L, lit("rewritten")).otherwise(col("text"))))
    val changed = m1.zip(m3).filter { case (a, b) => a(5) != b(5) }
    assert(changed.map(_._1(0)) == List("test"), changed.toString)
    // any config field re-keys config_fp and nothing else: tag, fractions
    val mTag = manifest(docs, tag = "v2")
    val mFrac = manifest(docs, train = 0.8)
    assert(m1.zip(mTag).forall { case (a, b) => a(5) == b(5) && a(6) != b(6) },
      "tag change must flip config_fp only")
    assert(m1.map(_(6)).distinct.size == 1 &&
      mTag.map(_(6)) != m1.map(_(6)) && mFrac.map(_(6)) != m1.map(_(6)) &&
      mTag.map(_(6)) != mFrac.map(_(6)),
      "each config must carry its own fingerprint")
  }

  test("p82: hash-split transition matrix is diagonal + new/gone — a refresh can never move a surviving doc") {
    val sp = spark
    import sp.implicits._
    val olds = (1L to 60L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    // refresh: edit doc 3 (train stays train — text is irrelevant to the
    // hash), delete doc 5 (test → absent), add doc 100
    val news = olds.where(col("doc_id") =!= 5L)
      .withColumn("text", when(col("doc_id") === 3L, lit("edited much longer text here"))
        .otherwise(col("text")))
      .unionByName(Seq((100L, "fresh arrival")).toDF("doc_id", "text"))
    def assign(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Assembly.trainValTestSplit(df)
        .select(col("doc_id"), col("split"),
          graft.pipeline.TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
    val out = graft.pipeline.Assembly.splitMoves(assign(olds), assign(news))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // zero moved cells: every both-present doc stays on the diagonal
    assert(out.forall { case (_, (_, _, moved)) => moved == 0L }, out.toString)
    assert(out.keys.forall { case (f, t) => f == t || f == "absent" || t == "absent" },
      s"hash split must never move a surviving doc: $out")
    // the refresh events land in the absent row/column
    assert(out(("test", "absent"))._1 == 1L, out.toString)   // doc 5 gone
    assert(out(("absent", "train"))._1 == 1L, out.toString)  // doc 100 new
    // diagonal counts: all 55 train survive, 2 val, 2 surviving test (28,51)
    assert(out(("train", "train"))._1 == 55L && out(("val", "val"))._1 == 2L
      && out(("test", "test"))._1 == 2L, out.toString)
    // token volumes are NEW-side for survivors: doc 3's edit shows up
    // ("doc number i" = 3 tokens each; the edit is 5 tokens, +2)
    assert(out(("train", "train"))._2 == 55L * 3L + 2L, out.toString)
  }

  test("p83: cluster-closed split moves docs when a refresh deletes the cluster's min (label shifts, split re-hashes)") {
    val sp = spark
    import sp.implicits._
    // docs 5 and 6 share identical text → one cluster labeled 5 → both
    // split as hash(5) = test; the others are unique singletons
    val dupText = "alpha beta gamma delta epsilon"
    val olds = (Seq((5L, dupText), (6L, dupText)) ++
      (1L to 4L).map(i => (i, s"unique text number $i word$i end$i")))
      .toDF("doc_id", "text")
    // refresh deletes doc 5: doc 6 becomes its own cluster (label 6) →
    // split re-hashes to hash(6) = train — a genuine test→train move
    val news = olds.where(col("doc_id") =!= 5L)
    def assign(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Dedup.splitByCluster(df,
          graft.pipeline.Dedup.ngramJaccardPairs(df, k = 3, threshold = 0.5))
        .join(df.select(col("doc_id"),
          graft.pipeline.TextStats.tokenCount(col("text")).cast("long").as("n_tokens")), "doc_id")
        .select(col("doc_id"), col("split"), col("n_tokens"))
    // closure sanity on the old side: 5 and 6 share a split (the p72
    // leakage-free contract)
    val oldSplits = assign(olds).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(oldSplits(5L) == "test" && oldSplits(6L) == "test", oldSplits.toString)
    val out = graft.pipeline.Assembly.splitMoves(assign(olds), assign(news))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(4)))
      .toMap
    // the deletion of the cluster min MOVES the surviving member
    assert(out(("test", "train")) == ((1L, 1L)), out.toString)
    assert(out(("test", "absent"))._1 == 1L, out.toString) // doc 5 itself
    // the untouched singletons stay put
    assert(out(("train", "train"))._1 == 4L && out(("train", "train"))._2 == 0L,
      out.toString)
  }

  test("p84/p85: boolean retrieval equals the corpus scan and reads only the query terms' postings partitions") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ti").toString
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta"),
      (3L, "beta gamma delta"),
      (4L, "epsilon zeta"),
      (5L, "alpha gamma gamma beta")).toDF("doc_id", "text")
    graft.pipeline.TextStats.writeTermIndex(docs, dir, buckets = 16)
    val and = graft.pipeline.TextStats.searchTermIndex(sp, dir,
      Seq("alpha", "beta", "gamma"), buckets = 16)
    val got = and.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    // doc 2 lacks gamma, doc 3 lacks alpha; relevance = summed tf
    assert(got == List((1L, 4L), (5L, 4L)), got.toString)
    val or = graft.pipeline.TextStats.searchTermIndex(sp, dir,
        Seq("delta", "zzq"), mode = "or", buckets = 16)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    // the absent term contributes nothing; delta matches doc 3 only
    assert(or == List((3L, 1L, 1L)), or.toString)
    // the AND scan reads at most the 3 query terms' bucket partitions
    val scans = and.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty, "expected a parquet scan of the index")
    val nParts = scans.head.selectedPartitions.partitionCount
    assert(nParts <= 3, s"query must prune to <= 3 bucket dirs, read $nParts")
    assert(scans.head.toString.contains("PartitionFilters"),
      "bucket literals must reach the scan as partition filters")
  }

  test("p86: merge-on-read index (delta segment + tombstones) answers queries identically to a full rebuild") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tim").toString
    val olds = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta"),       // will be edited to gain gamma
      (3L, "alpha beta gamma"), // will be deleted
      (4L, "delta epsilon")).toDF("doc_id", "text")
    graft.pipeline.TextStats.writeTermIndex(olds, dir, buckets = 16)
    // refresh: edit 2, delete 3, add 5
    val edited = Seq((2L, "alpha beta gamma gamma")).toDF("doc_id", "text")
    val added = Seq((5L, "gamma beta alpha")).toDF("doc_id", "text")
    graft.pipeline.TextStats.appendToTermIndex(
      edited.unionByName(added), dir, seg = 1L, buckets = 16)
    val tomb = Seq((3L, Long.MaxValue), (2L, 1L)).toDF("doc_id", "before_seg")
    val mor = graft.pipeline.TextStats.searchTermIndexMoR(sp, dir, tomb,
        Seq("alpha", "beta", "gamma"), buckets = 16)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // the ground truth: a full rebuild over the refreshed corpus
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-tim2").toString
    val newCorpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma gamma"),
      (4L, "delta epsilon"),
      (5L, "gamma beta alpha")).toDF("doc_id", "text")
    graft.pipeline.TextStats.writeTermIndex(newCorpus, rebuilt, buckets = 16)
    val full = graft.pipeline.TextStats.searchTermIndex(sp, rebuilt,
        Seq("alpha", "beta", "gamma"), buckets = 16)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(mor == full, s"merge-on-read $mor vs rebuild $full")
    // the edit is visible (doc 2 gained gamma, tf 4), the deleted doc is
    // gone, the addition is present
    assert(mor == List((1L, 3L), (2L, 4L), (5L, 3L)), mor.toString)
    // the refresh wrote only the CHANGED docs' postings: seg 1 carries
    // exactly the edited + added docs
    val seg1 = sp.read.parquet(dir).where(col("seg") === 1L)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(seg1 == Set(2L, 5L), seg1.toString)
    // compaction: alive postings rewritten as a fresh seg 0 — the same
    // query with EMPTY tombstones returns the same answer, the dead
    // postings are physically gone, every row is seg 0 again
    val compacted = java.nio.file.Files.createTempDirectory("graft-tim3").toString
    graft.pipeline.TextStats.compactTermIndex(sp, dir, tomb, compacted)
    val noTomb = Seq.empty[(Long, Long)].toDF("doc_id", "before_seg")
    val afterCompact = graft.pipeline.TextStats.searchTermIndexMoR(sp, compacted,
        noTomb, Seq("alpha", "beta", "gamma"), buckets = 16)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(afterCompact == mor, s"compaction moved the answer: $afterCompact vs $mor")
    val segs = sp.read.parquet(compacted).select("seg").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(segs == Set(0L), segs.toString)
    assert(sp.read.parquet(compacted).where(col("doc_id") === 3L).count() == 0L,
      "the deleted doc's postings must be physically gone after compaction")
  }

  test("bm25/phrase over (write + append + edit + delete tombstones) equal a full rebuild; compacted dir is a ranking drop-in; meta overrides a wrong bucket arg") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bmor").toString
    val olds = Seq(
      (1L, "alpha beta gamma alpha beta gamma"),
      (2L, "alpha beta filler filler"),        // edited: gains the phrase
      (3L, "alpha beta gamma filler"),         // deleted
      (4L, "delta epsilon filler")).toDF("doc_id", "text")
    graft.pipeline.TextStats.writeTermIndex(olds, dir, buckets = 16)
    val edited = Seq((2L, "alpha beta gamma alpha")).toDF("doc_id", "text")
    val added = Seq((5L, "gamma alpha beta gamma beta")).toDF("doc_id", "text")
    graft.pipeline.TextStats.appendToTermIndex(
      edited.unionByName(added), dir, seg = 1L, buckets = 16)
    val tomb = Seq((3L, Long.MaxValue), (2L, 1L)).toDF("doc_id", "before_seg")
    // ground truth: a fresh build over the refreshed corpus
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-bmor2").toString
    graft.pipeline.TextStats.writeTermIndex(Seq(
      (1L, "alpha beta gamma alpha beta gamma"),
      (2L, "alpha beta gamma alpha"),
      (4L, "delta epsilon filler"),
      (5L, "gamma alpha beta gamma beta")).toDF("doc_id", "text"), rebuilt, buckets = 16)
    val q = Seq("alpha", "gamma")
    def bmOf(d: String, tb: Option[org.apache.spark.sql.DataFrame]) =
      graft.pipeline.TextStats.bm25TopK(sp, d, q, k = 10, buckets = 16,
          tombstones = tb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val morBm = bmOf(dir, Some(tomb))
    val fullBm = bmOf(rebuilt, None)
    // scores too, not just membership: df, dl, n_docs, total_tokens must
    // all reflect the refreshed corpus — the appended doc ranks (the old
    // inner-dl-join silently dropped it), the deleted doc does not, the
    // edit ranks with its NEW length and the re-folded corpus stats
    assert(morBm == fullBm, s"bm25 over MoR $morBm vs rebuild $fullBm")
    assert(morBm.exists(_._1 == 5L) && !morBm.exists(_._1 == 3L), morBm.toString)
    val ph = Seq("alpha", "beta", "gamma")
    def phOf(d: String, tb: Option[org.apache.spark.sql.DataFrame]) =
      graft.pipeline.TextStats.phraseSearch(sp, d, ph, buckets = 16,
          tombstones = tb)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(phOf(dir, Some(tomb)) == phOf(rebuilt, None),
      s"phrase over MoR ${phOf(dir, Some(tomb))} vs rebuild ${phOf(rebuilt, None)}")
    // the edited doc's phrase occurrence comes from the DELTA segment
    assert(phOf(dir, Some(tomb)).exists(_._1 == 2L), phOf(dir, Some(tomb)).toString)
    // the compacted index is a full ranking drop-in: sidecars travel, so
    // bm25 works on it with no tombstones and identical scores
    val compacted = java.nio.file.Files.createTempDirectory("graft-bmor3").toString
    graft.pipeline.TextStats.compactTermIndex(sp, dir, tomb, compacted)
    assert(bmOf(compacted, None) == fullBm,
      s"bm25 over compacted ${bmOf(compacted, None)} vs rebuild $fullBm")
    // the meta sidecar is authoritative: a caller passing the WRONG bucket
    // count still gets the right answer (pre-meta behavior silently pruned
    // the wrong partition dirs and returned incomplete results)
    assert(bmOf(rebuilt, None) ==
      graft.pipeline.TextStats.bm25TopK(sp, rebuilt, q, k = 10, buckets = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList)
    val wrongB = graft.pipeline.TextStats.searchTermIndex(sp, rebuilt, q,
        buckets = 7)
      .orderBy("doc_id").collect().map(_.getLong(0)).toList
    assert(wrongB == graft.pipeline.TextStats.searchTermIndex(sp, rebuilt, q,
        buckets = 16)
      .orderBy("doc_id").collect().map(_.getLong(0)).toList, wrongB.toString)
  }

  test("incremental cluster maintenance equals full recompute: bridge-delete splits, edit merges, adds attach, df-crossing ripples to unchanged pairs") {
    val sp = spark
    import sp.implicits._
    val P = graft.pipeline.PairMaintenance
    val D = graft.pipeline.Dedup

    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    def ccOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def check(olds: Seq[(Long, String)], edits: Seq[(Long, String)],
              adds: Seq[(Long, String)], dels: Seq[Long],
              maxDf: Long): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft-pm").toString + "/idx"
      val oldDocs = olds.toDF("doc_id", "text")
      // the artifact contract: oldPairs/oldCC arrive PERSISTED (parquet
      // from the previous build) — materialize the live plans like a
      // caller reading them back would
      val oldPairs = D.ngramJaccardPairs(oldDocs, k = 3, threshold = 0.5,
        maxDocFreq = maxDf).localCheckpoint(true)
      val oldCC = D.dedupClusters(oldDocs, oldPairs).localCheckpoint(true)
      P.writeShingleIndex(oldDocs, dir, k = 3, buckets = 16)
      P.appendToShingleIndex((edits ++ adds).toDF("doc_id", "text"), dir, seg = 1L)
      val noTomb = Seq.empty[(Long, Long)].toDF("doc_id", "before_seg")
      val tomb = (dels.map((_, Long.MaxValue)) ++ edits.map(e => (e._1, 1L)))
        .toDF("doc_id", "before_seg")
      val (incCC, incPairs) = P.incrementalClusters(sp, dir,
        oldPairs, oldCC,
        changedIds = (edits ++ adds).map(_._1).toDF("doc_id"),
        removedIds = dels.toDF("doc_id"),
        tombstonesOld = noTomb, tombstonesNew = tomb, refreshSegFrom = 1L,
        threshold = 0.5, maxDocFreq = maxDf)
      val editIds = edits.map(_._1).toSet
      val newCorpus = (olds.filterNot(d => dels.contains(d._1) ||
        editIds.contains(d._1)) ++ edits ++ adds).toDF("doc_id", "text")
      val fullPairs = D.ngramJaccardPairs(newCorpus, k = 3, threshold = 0.5,
        maxDocFreq = maxDf)
      assert(pairsOf(incPairs) == pairsOf(fullPairs),
        s"pairs: inc=${pairsOf(incPairs)} full=${pairsOf(fullPairs)}")
      assert(ccOf(incCC) == ccOf(D.dedupClusters(newCorpus, fullPairs)),
        s"cc: inc=${ccOf(incCC)} full=${ccOf(D.dedupClusters(newCorpus, fullPairs))}")
    }

    // A: chain 1-2-3 (2 is the bridge), identical pair {5,6}, singleton 7.
    // Refresh: delete the bridge (split), edit 7 into the {5,6} cluster
    // (merge), add 8 as a near-dup of 1 (attach).
    check(
      olds = Seq(
        (1L, "w1 w2 w3 w4 w5"), (2L, "w2 w3 w4 w5 w6"), (3L, "w3 w4 w5 w6 w7"),
        (5L, "x1 x2 x3"), (6L, "x1 x2 x3"), (7L, "z1 z2 z3")),
      edits = Seq((7L, "x1 x2 x3")),
      adds = Seq((8L, "w1 w2 w3 w4 w5")),
      dels = Seq(2L),
      maxDf = 10L)
    // B: the df-boundary ripple — {10,11} identical (each gram df=2,
    // eligible at maxDf=2); the refresh ADDS a third copy, pushing the
    // grams to df=3 > maxDf: the UNCHANGED pair (10,11) must vanish, and
    // only the crossing-gram expansion can see that
    check(
      olds = Seq((10L, "q1 q2 q3 q4 q5"), (11L, "q1 q2 q3 q4 q5"),
        (20L, "m1 m2 m3 m4")),
      edits = Seq.empty,
      adds = Seq((12L, "q1 q2 q3 q4 q5")),
      dels = Seq.empty,
      maxDf = 2L)
    // C: the reverse crossing — three copies (df=3, ineligible, no pairs);
    // deleting one drops df to 2: the two UNCHANGED survivors must PAIR UP
    check(
      olds = Seq((30L, "r1 r2 r3 r4 r5"), (31L, "r1 r2 r3 r4 r5"),
        (32L, "r1 r2 r3 r4 r5"), (40L, "s1 s2 s3 s4")),
      edits = Seq.empty,
      adds = Seq.empty,
      dels = Seq(32L),
      maxDf = 2L)

    // D: generation 2 over a COMPACTED index — the janitor output is a
    // drop-in: refresh, compact (tombstones applied, seg 0 again), then a
    // SECOND refresh on the compacted index must equal the full recompute
    // on the doubly-refreshed corpus (pair set and labels)
    {
      val root = java.nio.file.Files.createTempDirectory("graft-pm2").toString
      val dir1 = s"$root/idx1"; val dir2 = s"$root/idx2"
      val olds = Seq(
        (1L, "w1 w2 w3 w4 w5"), (2L, "w2 w3 w4 w5 w6"), (3L, "w3 w4 w5 w6 w7"),
        (5L, "x1 x2 x3"), (6L, "x1 x2 x3"), (7L, "z1 z2 z3"))
      val oldDocs = olds.toDF("doc_id", "text")
      val pairs0 = D.ngramJaccardPairs(oldDocs, k = 3, threshold = 0.5,
        maxDocFreq = 10L).localCheckpoint(true)
      val cc0 = D.dedupClusters(oldDocs, pairs0).localCheckpoint(true)
      P.writeShingleIndex(oldDocs, dir1, k = 3, buckets = 16)
      val ch1 = Seq((7L, "x1 x2 x3"), (8L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
      P.appendToShingleIndex(ch1, dir1, seg = 1L)
      val noTomb = Seq.empty[(Long, Long)].toDF("doc_id", "before_seg")
      val tomb1 = Seq((2L, Long.MaxValue), (7L, 1L)).toDF("doc_id", "before_seg")
      val (cc1, pairs1) = P.incrementalClusters(sp, dir1, pairs0, cc0,
        changedIds = Seq(7L, 8L).toDF("doc_id"),
        removedIds = Seq(2L).toDF("doc_id"),
        tombstonesOld = noTomb, tombstonesNew = tomb1, refreshSegFrom = 1L,
        threshold = 0.5, maxDocFreq = 10L)
      val cc1m = cc1.localCheckpoint(true); val pairs1m = pairs1.localCheckpoint(true)
      P.compactShingleIndex(sp, dir1, tomb1, dir2)
      // generation 2 over dir2: delete 8, edit 3 into the x-cluster, add 9
      val ch2 = Seq((3L, "x1 x2 x3"), (9L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
      P.appendToShingleIndex(ch2, dir2, seg = 1L)
      val tomb2 = Seq((8L, Long.MaxValue), (3L, 1L)).toDF("doc_id", "before_seg")
      val (cc2, pairs2) = P.incrementalClusters(sp, dir2, pairs1m, cc1m,
        changedIds = Seq(3L, 9L).toDF("doc_id"),
        removedIds = Seq(8L).toDF("doc_id"),
        tombstonesOld = noTomb, tombstonesNew = tomb2, refreshSegFrom = 1L,
        threshold = 0.5, maxDocFreq = 10L)
      val corpus2 = Seq(
        (1L, "w1 w2 w3 w4 w5"), (3L, "x1 x2 x3"),
        (5L, "x1 x2 x3"), (6L, "x1 x2 x3"), (7L, "x1 x2 x3"),
        (9L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
      val full2 = D.ngramJaccardPairs(corpus2, k = 3, threshold = 0.5,
        maxDocFreq = 10L)
      assert(pairsOf(pairs2) == pairsOf(full2),
        s"gen-2 pairs: inc=${pairsOf(pairs2)} full=${pairsOf(full2)}")
      assert(ccOf(cc2) == ccOf(D.dedupClusters(corpus2, full2)),
        s"gen-2 cc: inc=${ccOf(cc2)}")
    }
  }

  test("SqlOps.notIn reproduces three-valued NOT IN: null probe excluded, any subquery null empties, empty subquery keeps all") {
    val sp = spark
    import sp.implicits._
    val probe = Seq(Some(1L), Some(2L), Some(3L), None).toDF("k")
    def run(sub: Seq[Option[Long]]): List[Long] =
      graft.core.SqlOps.notIn(probe, col("k"), sub.toDF("s"), col("s"))
        .orderBy("k").collect().map(_.getLong(0)).toList
    // the plain case: 2 is in, null probe never qualifies
    assert(run(Seq(Some(2L), Some(9L))) == List(1L, 3L))
    // ANY subquery null → UNKNOWN for every unmatched probe → empty
    assert(run(Seq(Some(2L), None)) == Nil)
    // empty subquery → NOT IN () is true for every non-null probe
    assert(run(Seq.empty) == List(1L, 2L, 3L))
  }

  test("p87/p88: BM25 ranks by tf and idf as Robertson intends; RRF puts a both-arms doc above single-arm peers") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bm").toString
    // 'rare' appears in one doc, 'common' in all — idf separates them;
    // doc 2 repeats 'common' — tf separates 2 from 3 within a term
    val docs = Seq(
      (1L, "rare common filler filler"),
      (2L, "common common common filler"),
      (3L, "common filler filler filler"),
      (4L, "filler filler filler filler")).toDF("doc_id", "text")
    graft.pipeline.TextStats.writeTermIndex(docs, dir, buckets = 16)
    val bm = graft.pipeline.TextStats.bm25TopK(sp, dir,
        Seq("rare", "common"), k = 4, buckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // doc 1 holds the rare term → top; doc 2's tf beats doc 3; 4 matches nothing
    assert(bm.map(_._1) == List(1L, 2L, 3L), bm.toString)
    assert(bm.head._2 == 2L, s"doc 1 matches both terms: $bm")
    assert(bm.forall(_._3 > 0.0), bm.toString)
    // the fused catalog row on the real corpus: rrf-descending, every row
    // carries at least one real rank, a both-arms doc outranks a
    // same-rank single-arm doc (1/(60+r)+1/(60+r') > either alone)
    val hybrid = graft.SparkEntry.queries("p88_hybrid_rrf")(sp, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hybrid.length == 10 && hybrid.map(_._4).toList == hybrid.map(_._4).sortBy(-_).toList,
      s"fused output must be rrf-descending: ${hybrid.toList}")
    assert(hybrid.forall(h => h._2 > 0L || h._3 > 0L), hybrid.toList.toString)
  }

  test("p89: phrase search counts overlapping occurrences, handles repeated terms, and never matches reversed order") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ph").toString
    val docs = Seq(
      (1L, "a b a b a b"),   // 'a b' × 3
      (2L, "b a"),           // reversed — no match
      (3L, "x x x"),         // 'x x' × 2: overlapping starts both count
      (4L, "a c b"),         // gap — no match
      (5L, "start a b")).toDF("doc_id", "text")
    graft.pipeline.TextStats.writeTermIndex(docs, dir, buckets = 16)
    def phrase(ts: String*) =
      graft.pipeline.TextStats.phraseSearch(sp, dir, ts, buckets = 16)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(phrase("a", "b") == List((1L, 3L), (5L, 1L)))
    assert(phrase("x", "x") == List((3L, 2L)))
    assert(phrase("b", "a") == List((1L, 2L), (2L, 1L)))
    assert(phrase("a", "c", "b") == List((4L, 1L)))
    assert(phrase("c", "a") == Nil)
  }

  test("p90: provenance flags each doc for exactly its own reason and carries its split/shard") {
    val sp = spark
    import sp.implicits._
    val en = "the quick and brown fox of the meadow is with that fur for winter"
    val docs = Seq(
      (1L, en),                                    // everything green
      (2L, en),                                    // exact dup of 1 → keeper 0
      (3L, "der hund ist mit der katze und nicht für das haus der die das"), // German
      (4L, "the and of"),                          // too short
      (5L, en + " mail me a.b@c.example please")   // PII
    ).toDF("doc_id", "text")
    val out = graft.pipeline.Curation.docProvenance(docs)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getLong(6), r.getLong(7))).toMap
    assert(out(1L)._1 == "en" && out(1L)._7 == 1L, out(1L).toString)
    // each rejection is attributable to exactly one gate
    assert(out(2L)._4 == 0L && out(2L)._1 == "en" && out(2L)._3 == 1L
      && out(2L)._7 == 0L, s"dup must fail only the keeper: ${out(2L)}")
    assert(out(3L)._1 == "de" && out(3L)._4 == 1L && out(3L)._7 == 0L,
      s"German must fail only language: ${out(3L)}")
    assert(out(4L)._2 < 10L && out(4L)._1 == "en" && out(4L)._7 == 0L,
      s"short must fail only length: ${out(4L)}")
    assert(out(5L)._3 == 0L && out(5L)._1 == "en" && out(5L)._7 == 0L,
      s"PII must fail only the clean gate: ${out(5L)}")
    // split/shard are the p32/p46 hashes of doc_id (1 → train; shard LCG
    // mod 8 reduces to known constants for small ids)
    assert(out(1L)._5 == "train", out(1L).toString)
    def shardOf(id: Long) = ((1103515245L * id + 12345L) % 2147483648L) % 8L
    assert((1L to 5L).forall(i => out(i)._6 == shardOf(i)),
      out.view.mapValues(_._6).toMap.toString)
  }

  test("retrieval family: randomized differential — index answers equal direct computation on seeded corpora") {
    val sp = spark
    import sp.implicits._
    val vocab = Vector("alpha", "bb", "seven", "dddd", "x", "yzw", "qq", "zort")
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 25 + rnd.nextInt(25)
      val rows = (1 to n).map { i =>
        (i.toLong, Seq.fill(2 + rnd.nextInt(16))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val words: Map[Long, Seq[String]] = rows.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val dir = java.nio.file.Files.createTempDirectory(s"graft-prop$trial").toString
      graft.pipeline.TextStats.writeTermIndex(rows.toDF("doc_id", "text"), dir, buckets = 16)
      // AND: every doc holding all query terms, relevance = summed tf
      val q = Seq("alpha", "x")
      val andTruth = words.collect { case (id, w) if q.forall(w.contains) =>
        (id, q.map(t => w.count(_ == t).toLong).sum) }.toList.sorted
      val andGot = graft.pipeline.TextStats.searchTermIndex(sp, dir, q, buckets = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      assert(andGot == andTruth, s"trial $trial AND: $andGot vs $andTruth")
      // phrase: adjacency occurrences, overlapping included
      val ph = Seq("bb", "bb")
      val phTruth = words.collect { case (id, w) =>
        (id, w.indices.dropRight(1).count(i => w(i) == "bb" && w(i + 1) == "bb").toLong) }
        .filter(_._2 > 0).toList.sorted
      val phGot = graft.pipeline.TextStats.phraseSearch(sp, dir, ph, buckets = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      assert(phGot == phTruth, s"trial $trial phrase: $phGot vs $phTruth")
      // BM25: the exact same arithmetic replayed in plain Scala (same JVM
      // double ops, same 1e6 quantization, same output rounding)
      val nDocs = n.toLong
      val totalTokens = words.values.map(_.size.toLong).sum
      val hitsByDoc = words.toSeq.flatMap { case (id, w) =>
        q.flatMap { t => val tf = w.count(_ == t).toLong
          if (tf > 0) Some((t, id, tf)) else None } }
      val dfOf = hitsByDoc.groupBy(_._1).map { case (t, xs) => t -> xs.size.toLong }
      val scores = hitsByDoc.groupBy(_._2).map { case (id, xs) =>
        val s = xs.map { case (t, _, tf) =>
          val dl = words(id).size.toLong
          val idf = math.log(1.0 + (nDocs - dfOf(t) + 0.5) / (dfOf(t) + 0.5))
          val norm = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (dl * nDocs).toDouble / totalTokens))
          math.round(idf * norm * 1e6)
        }.sum
        (id, xs.size.toLong, math.round(s.toDouble / 1e6 * 1e4) / 1e4)
      }
      val k = 5
      val bmTruth = scores.toList.sortBy { case (id, _, sc) => (-sc, id) }.take(k)
        .map { case (id, nt, sc) => (id, nt, sc) }
      val bmGot = graft.pipeline.TextStats.bm25TopK(sp, dir, q, k = k, buckets = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
      assert(bmGot == bmTruth, s"trial $trial bm25: $bmGot vs $bmTruth")
    }
  }

  test("p64: snapshot diff classifies added/removed/changed/unchanged by content hash") {
    val sp = spark
    import sp.implicits._
    val old = Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four")).toDF("doc_id", "text")
    val now = Seq((2L, "two"), (3L, "three edited"), (5L, "five")).toDF("doc_id", "text")
    val out = Curation.snapshotDiff(old, now)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed",
      4L -> "removed", 5L -> "added"), out.toString)
  }

  test("p65: zipf fit recovers ~-1 slope on a planted 1/rank spectrum") {
    val sp = spark
    import sp.implicits._
    // word w<i> appears floor(1000/i) times: an exact Zipf head
    val text = (1 to 30).flatMap(i => Seq.fill(1000 / i)(s"w$i")).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val row = graft.pipeline.TextStats.zipfFit(d, k = 30).head()
    assert(row.getLong(0) == 30L && row.getLong(1) == 30L)
    val slope = row.getDouble(2)
    assert(slope > -1.1 && slope < -0.9, s"planted spectrum must fit ~-1: $slope")
  }

  test("p61: redaction replaces every planted PII span with its type tag and counts agree with the signals") {
    val sp = spark
    import sp.implicits._
    val d = Seq(
      (1L, "reach me at jane.doe+x@corp.example or https://c.example/a?b=1 soon"),
      (2L, "server 192.168.10.42 answered, call +44 20 7946 0958 after noon"),
      (3L, "plain text with no pii at all")
    ).toDF("doc_id", "text")
    val out = Curation.piiSignals(d)
      .withColumn("clean", Curation.piiRedact(col("text")))
      .select("doc_id", "clean", "n_emails", "n_urls", "n_ipv4", "n_phones")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))).toMap
    assert(out(1L)._1 == "reach me at <EMAIL> or <URL> soon")
    assert(out(1L)._2 == 1 && out(1L)._3 == 1)
    assert(out(2L)._1 == "server <IP> answered, call <PHONE> after noon")
    assert(out(2L)._4 == 1 && out(2L)._5 == 1)
    assert(out(3L) == ("plain text with no pii at all", 0, 0, 0, 0))
  }
}
