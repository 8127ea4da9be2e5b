package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import graft.core.Scope
import org.apache.spark.sql.types._

/**
 * Multimodal (image/audio/video) pipeline plumbing: opaque `BINARY` payload
 * columns plus typed metadata, processed per-partition in fixed-size batches.
 *
 * IMAGE decode is real (`decodeImage` — JDK `javax.imageio` handles
 * PNG/JPEG/GIF/BMP with zero external codecs). Audio/video decode remains
 * STUBBED (this container ships no codecs for them — see
 * `decodeImageStub`): those produce deterministic fake features derived
 * from the payload bytes. Everything Spark-side is real and tested: the
 * schema contract, the `mapPartitions` batch shape (mirroring
 * `mapInPandas`-style arrow batches), partition sizing, and the downstream
 * feature columns.
 */
object Multimodal {

  /** Canonical multimodal asset schema: payload + typed metadata. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("modality", StringType),          // image | audio | video
    StructField("mime", StringType),
    StructField("payload", BinaryType),           // opaque encoded bytes
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Build a deterministic synthetic asset table from `documents` (payload =
    * UTF-8 bytes of the text — a stand-in opaque blob). */
  def syntheticAssets(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      when(col("doc_id") % 3 === 0, "image").when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("modality"),
      lit("application/octet-stream").as("mime"),
      encode(col("text"), "UTF-8").as("payload"),
      (col("doc_id") % 640 + 32).cast("int").as("width"),
      (col("doc_id") % 480 + 32).cast("int").as("height"),
      (col("n_chars") * 10).cast("long").as("duration_ms"))

  /**
   * STUB decode kernel: a real deployment swaps this for an image decoder
   * (e.g. arrow-batched JNI or `mapInPandas`+PIL on PySpark). Deterministic:
   * "features" are byte-histogram moments of the payload.
   */
  def decodeImageStub(payload: Array[Byte], dim: Int): Array[Float] = {
    val hist = new Array[Long](256)
    payload.foreach(b => hist(b & 0xff) += 1)
    val n = math.max(payload.length, 1)
    Array.tabulate(dim) { i =>
      val lo = i * 256 / dim; val hi = (i + 1) * 256 / dim
      var s = 0L; var j = lo
      while (j < hi) { s += hist(j); j += 1 }
      s.toFloat / n
    }
  }

  /**
   * REAL image decode for the formats the JDK ships codecs for (PNG, JPEG,
   * GIF, BMP via `javax.imageio` — zero external deps): features are a
   * `dim`-bin luminance histogram (rec.601 luma) over the decoded pixels,
   * normalized by pixel count. Returns None when the payload is not a
   * decodable image, so callers fall back to the byte stub — audio/video
   * decode stays stubbed, as this container ships no codecs for them.
   */
  def decodeImage(payload: Array[Byte], dim: Int): Option[(Array[Float], Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val hist = new Array[Long](dim)
        val w = img.getWidth; val h = img.getHeight
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
            val luma = math.min((0.299 * r + 0.587 * g + 0.114 * b).toInt, 255)
            hist(luma * dim / 256) += 1
            x += 1
          }
          y += 1
        }
        val n = math.max(w.toLong * h, 1L)
        Some((Array.tabulate(dim)(i => hist(i).toFloat / n), w, h))
      }
    } catch { case _: Exception => None }

  /**
   * Feature extraction over asset batches. `mapPartitions` with an explicit
   * batch buffer mirrors the arrow-batch execution shape of `mapInPandas`:
   * the decode kernel sees `batchSize` payloads at a time (amortizing model
   * / codec init), and the iterator never materializes the whole partition.
   *
   * image assets run the REAL [[decodeImage]] kernel (JDK ImageIO) and fall
   * back to the byte stub when the payload isn't a decodable image;
   * `decoded_w`/`decoded_h` are null on the stub path.
   */
  def extractFeatures(assets: DataFrame, dim: Int = 16, batchSize: Int = 64): DataFrame = {
    val spark = assets.sparkSession
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("modality", StringType),
      StructField("features", ArrayType(FloatType)),
      StructField("decoded_w", IntegerType),
      StructField("decoded_h", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val projected = assets.select(col("asset_id"), col("modality"), col("payload"))
    projected.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // per-batch "codec init" happens here in a real kernel
        batch.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val modality = r.getString(1)
          val decoded = if (modality == "image") decodeImage(payload, dim) else None
          decoded match {
            case Some((feats, w, h)) => Row(r.getLong(0), modality, feats.toSeq, w, h)
            case None => Row(r.getLong(0), modality, decodeImageStub(payload, dim).toSeq, null, null)
          }
        }
      }
    }(enc)
  }

  /**
   * STUB audio decode: deterministic PCM from the opaque payload bytes —
   * sample = (byte - 80) / 48, which spans negative AND positive for
   * printable-ASCII payloads so zero-crossing counts are non-trivial. A
   * real deployment swaps this for an audio codec (this container ships
   * none); everything downstream of the sample array is the real pipeline.
   */
  def decodeAudioStub(payload: Array[Byte]): Array[Double] =
    payload.map(b => ((b & 0xff) - 80) / 48.0)

  /**
   * Per-frame audio features over the (stub) decoded PCM: frame-RMS and
   * zero-crossing count per full `frameLen`-sample frame — the framing /
   * energy pass an audio curation pipeline runs for silence and clipping
   * detection. Same batched mapPartitions execution shape as
   * [[extractFeatures]] (the kernel sees `batchSize` payloads at a time,
   * mirroring arrow-batch `mapInPandas`); map-side only, no shuffle —
   * frames explode inside the kernel, not through the planner.
   */
  def audioFeatures(assets: DataFrame, frameLen: Int = 64, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("frame_idx", LongType),
      StructField("rms", DoubleType),
      StructField("zc", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    assets.where(col("modality") === "audio")
      .select(col("asset_id"), col("payload"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // per-batch codec init would happen here in a real kernel
          batch.iterator.flatMap { r =>
            val pcm = decodeAudioStub(r.getAs[Array[Byte]]("payload"))
            val nf = pcm.length / frameLen
            (0 until nf).iterator.map { f =>
              val off = f * frameLen
              var s2 = 0.0; var zc = 0L; var i = 0
              while (i < frameLen) {
                val x = pcm(off + i)
                s2 += x * x
                if (i > 0 && pcm(off + i - 1) * x < 0) zc += 1
                i += 1
              }
              Row(r.getLong(0), f.toLong, math.sqrt(s2 / frameLen), zc)
            }
          }
        }
      }(enc)
  }

  /**
   * Resize PLAN for image assets: aspect-preserving fit of the declared
   * (width, height) metadata into a `box`×`box` square, INTEGER math only
   * (`w*box div max(w,h)`) so the plan is bit-identical across engines —
   * the sizing pass a 100 TB image corpus runs before any pixel touches an
   * executor. Non-image modalities are not planned. Pure column math, one
   * scan, no decode and no shuffle.
   */
  def resizePlan(assets: DataFrame, box: Int = 64): DataFrame =
    assets.where(col("modality") === "image")
      .withColumn("_m", greatest(col("width"), col("height")).cast("long"))
      .select(col("asset_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        when(col("_m") <= box, col("width").cast("long"))
          .otherwise(greatest(lit(1L), expr(s"CAST(width AS BIGINT) * $box div _m"))).as("out_w"),
        when(col("_m") <= box, col("height").cast("long"))
          .otherwise(greatest(lit(1L), expr(s"CAST(height AS BIGINT) * $box div _m"))).as("out_h"))

  /** REAL pixel resize for JDK-decodable payloads: AWT bilinear scale to
    * (w, h), re-encoded as PNG. None when the payload doesn't decode —
    * callers pass those through untouched (the audio/video stub rule). */
  def resizeImage(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case _: Exception => None }

  /** Batched resize over asset frames: plan dims from the DECODED image
    * (metadata can lie at 100 TB), same mapPartitions batch shape as
    * [[extractFeatures]]; non-decodable payloads pass through with
    * resized=0. */
  def resizeImages(assets: DataFrame, box: Int = 64, batchSize: Int = 64): DataFrame = {
    val spark = assets.sparkSession
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("modality", StringType),
      StructField("payload_out", org.apache.spark.sql.types.BinaryType),
      StructField("out_w", IntegerType),
      StructField("out_h", IntegerType),
      StructField("resized", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    assets.select(col("asset_id"), col("modality"), col("payload"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.map { r =>
            val payload = r.getAs[Array[Byte]]("payload")
            val modality = r.getString(1)
            val resizedOpt =
              if (modality != "image") None
              else decodeImage(payload, 2).flatMap { case (_, w, h) =>
                val m = math.max(w, h)
                val (ow, oh) =
                  if (m <= box) (w, h)
                  else (math.max(1, w * box / m), math.max(1, h * box / m))
                resizeImage(payload, ow, oh).map(b => (b, ow, oh))
              }
            resizedOpt match {
              case Some((b, ow, oh)) => Row(r.getLong(0), modality, b, ow, oh, 1)
              case None => Row(r.getLong(0), modality, payload, null, null, 0)
            }
          }
        }
      }(enc)
  }

  /** Deterministic frame sampling plan for video assets: every `everyMs`
    * milliseconds, capped at `maxFrames` — pure column math, no decode. */
  def frameSamplePlan(assets: DataFrame, everyMs: Long = 1000L, maxFrames: Int = 32): DataFrame =
    assets.where(col("modality") === "video")
      .select(col("asset_id"), col("duration_ms"),
        sequence(lit(0L), least(col("duration_ms"), lit(everyMs * (maxFrames - 1))), lit(everyMs)).as("frame_ts_ms"))
      .select(col("asset_id"), posexplode(col("frame_ts_ms")).as(Seq("frame_idx", "ts_ms")))

  /** STUB frame decode: the "frame" at ts is `n` payload bytes starting at
    * (ts/10) mod len, wrapped — deterministic, byte-exact (a real
    * deployment swaps this for a video codec seek+decode; this container
    * ships none). Everything around it — the sample plan, the payload
    * join, the batched kernel — is the real pipeline. */
  def decodeFrameStub(payload: Array[Byte], tsMs: Long, n: Int = 32): Array[Int] = {
    val len = payload.length
    val off = ((tsMs / 10) % len).toInt
    Array.tabulate(n)(j => payload((off + j) % len) & 0xFF)
  }

  /**
   * Execute the [[frameSamplePlan]] — the video leg of the multimodal
   * kernel family (m01 image, m04 audio): per planned (asset, frame ts),
   * decode the frame (stub) and emit luma mean + contrast.
   *
   * Scale shape: the plan is column math; payloads attach with ONE
   * asset_id-keyed equality join (frames-per-asset bounded by maxFrames,
   * so the join output is plan-sized); the pixel work runs in the batched
   * mapPartitions kernel, map-side.
   */
  def videoFrameFeatures(assets: DataFrame, everyMs: Long = 1000L,
                         maxFrames: Int = 32, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("frame_idx", LongType),
      StructField("ts_ms", LongType),
      StructField("luma_mean", DoubleType),
      StructField("contrast", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    frameSamplePlan(assets, everyMs, maxFrames)
      .join(assets.select(col("asset_id"), col("payload"))
        .where(length(col("payload")) > 0), "asset_id")
      .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("ts_ms"), col("payload"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // per-batch codec init would happen here in a real kernel
          batch.map { r =>
            val px = decodeFrameStub(r.getAs[Array[Byte]]("payload"), r.getLong(2))
            val mean = px.sum.toDouble / px.length
            Row(r.getLong(0), r.getLong(1), r.getLong(2),
              math.round(mean * 1e4) / 1e4, (px.max - px.min).toLong)
          }
        }
      }(enc)
  }

  /**
   * dHash perceptual signature for image assets — the standard
   * duplicate-image fingerprint (gradient hash: downsample, then
   * bit_i = sample_i > sample_{i+1}): `nBits`+1 evenly-spaced samples
   * over the decoded luminance stream (STUB: the payload bytes stand in
   * for pixels, same posture as the other mNN kernels — a real
   * deployment swaps the sampler for the decoded 9×8 grayscale grid),
   * `nBits` gradient bits, plus 16-bit block keys for banding. Pure
   * codegen column math — no UDF, no kernel.
   */
  def imageDHash(assets: DataFrame, nBits: Int = 64): DataFrame = {
    require(nBits > 0 && nBits % 16 == 0,
      s"imageDHash: nBits must pack into 16-bit blocks, got $nBits")
    val txt = decode(col("payload"), "UTF-8")
    val n = greatest(length(txt), lit(1))
    val samples = transform(sequence(lit(0), lit(nBits)),
      i => ascii(txt.substr(
        floor(i.cast("double") * (n - 1) / nBits).cast("int") + 1, lit(1))))
    // materialize the sampling chain through an explode→agg fence BEFORE
    // the bit/block folds: CollapseProject otherwise re-inlines the whole
    // decode+substr chain into every element_at reference of the nested
    // HOFs (~64 × 130 payload decodes per row — the r1b shingle lesson;
    // measured 115 s at sf0.1 before the fence, ~2 s after). Past the
    // fence everything downstream is integer array math, harmless to
    // re-inline. The shuffle carries 65 ints per asset — asset-count-
    // sized, the natural cost of materializing a signature.
    // signature math is per-row/integer — spread a single-split local
    // input across the cores (r17; Par.spread is a no-op at scale)
    val sampled = Par.spread(assets).where(col("modality") === "image")
      .select(col("asset_id"), posexplode(samples).as(Seq("i", "v")))
      .groupBy("asset_id")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("v")))),
        x => x("v")).as("_s"))
    sampled
      .withColumn("bits", zip_with(
        slice(col("_s"), 1, nBits), slice(col("_s"), 2, nBits),
        (a, b) => when(a > b, 1).otherwise(0)))
      // Horner fold per 16-bit block (no shift-by-column in Spark SQL)
      .withColumn("blocks", transform(sequence(lit(0), lit(nBits / 16 - 1)),
        b => aggregate(sequence(lit(15), lit(0), lit(-1)), lit(0L),
          (acc, j) => acc * 2 +
            element_at(col("bits"), (b * 16 + j + 1).cast("int")).cast("long"))))
      .select(col("asset_id"), col("bits"), col("blocks"))
  }

  /**
   * Exact-recall near-duplicate image pairs at Hamming radius ≤ 3 over
   * the [[imageDHash]] signature: band on the four 16-bit blocks
   * (pigeonhole — ≤3 differing bits leave ≥1 of 4 blocks identical, so
   * banding is recall-1 at radius 3, the same guarantee as the text
   * simhash 5-block scheme), then verify candidates with the exact
   * bit count. Candidate volume scales with block collision density,
   * never corpus²; everything is equality-keyed joins + column math.
   */
  def imageNearDupPairs(assets: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"imageNearDupPairs: 4-block banding guarantees recall only for radius <= 3, got $maxHamming")
    bandedHammingPairs(imageDHash(assets), maxHamming)
  }

  /** The shared pigeonhole band-join behind the three modality near-dup
    * operators: the signature table (asset-count-sized — both join sides
    * read it, so it persists for the join's duration) explodes into its
    * four 16-bit blocks, equal blocks propose candidates, the exact
    * Hamming verify keeps <= maxHamming. Candidates carry only the FOUR
    * packed block longs (hamming = Σ bit_count(xor) per block — identical
    * to the bitwise compare), not the 64-int bit arrays: the candidate
    * shuffle is the growth term at scale and this makes each row 8×
    * smaller.
    *
    * Eager: the pair set is checkpointed into the caller's scope
    * (collision-bounded — it tracks band collision density, never
    * corpus²) and the signature persist is released before returning; a
    * long-lived server accumulates NO cache residue across calls (the r11
    * p77 lesson, same contract as Dedup.nearDupAgainstIndex). */
  private def bandedHammingPairs(signatures: DataFrame, maxHamming: Int): DataFrame = {
    Scope.local { s =>
      val sig = s.persist(signatures)
      val bands = sig.select(col("asset_id"), col("blocks"),
        posexplode(col("blocks")).as(Seq("block", "key")))
      val a = bands.select(col("asset_id").as("asset_a"), col("blocks").as("_pa"),
        col("block"), col("key"))
      val b = bands.select(col("asset_id").as("asset_b"), col("blocks").as("_pb"),
        col("block"), col("key"))
      a.join(b, Seq("block", "key"))
        .where(col("asset_a") < col("asset_b"))
        .select("asset_a", "asset_b", "_pa", "_pb")
        .dropDuplicates("asset_a", "asset_b")
        .withColumn("hamming",
          aggregate(zip_with(col("_pa"), col("_pb"),
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
            lit(0L), (acc, v) => acc + v))
        .where(col("hamming") <= maxHamming)
        .select("asset_a", "asset_b", "hamming")
    }
  }

  /**
   * Segment-energy-delta hash for (stub-decoded) audio — the audio twin of
   * [[imageDHash]], linking the audio family to the dedup story the way
   * m06 does for images. The PCM splits into nBits+1 equal-span segments;
   * bit k = 1 iff segment k+1's MEAN energy exceeds segment k's (the
   * sign-of-energy-delta sub-fingerprint of Haitsma–Kalker 2002-style
   * audio fingerprinting; segment-normalized framing keeps the signature
   * length-adaptive). The comparison is INTEGER-exact end to end: stub
   * samples are ((byte)-80)/48, so comparing mean((x/48)^2) reduces to
   * cross-multiplied integer sums of (code-80)^2 — s2*c1 > s1*c2 with
   * s <= n*175^2 and c <= n keeps the product under 2^63 for any doc
   * below ~3e6 chars. No float enters the signature, so the DuckDB
   * oracle replays it bit-for-bit. Pure codegen column math: one
   * split-explode (the m06 fence — substr-per-char would re-decode the
   * payload per char), one (asset, segment) partial agg, map-side folds.
   */
  def audioEnergyHash(assets: DataFrame, nBits: Int = 64): DataFrame = {
    require(nBits > 0 && nBits % 16 == 0,
      s"audioEnergyHash: nBits must pack into 16-bit blocks, got $nBits")
    val nSeg = nBits + 1
    val txt = decode(col("payload"), "UTF-8")
    val chars = Par.spread(assets).where(col("modality") === "audio" && length(txt) > 0)
      .select(col("asset_id"), length(txt).cast("long").as("n"),
        posexplode(split(txt, "")).as(Seq("i", "ch")))
      .where(length(col("ch")) === 1)
      .select(col("asset_id"), col("n"),
        expr(s"CAST(i AS BIGINT) * $nSeg div n").cast("int").as("seg"),
        (ascii(col("ch")).cast("long") - 80).as("d"))
    val segs = chars.groupBy(col("asset_id"), col("seg"))
      .agg(sum(col("d") * col("d")).as("s"), count(lit(1)).as("c"))
    val dense = segs.groupBy("asset_id")
      .agg(map_from_entries(collect_list(
        struct(col("seg"), struct(col("s"), col("c"))))).as("m"))
      .withColumn("_e", transform(sequence(lit(0), lit(nBits)),
        g => coalesce(element_at(col("m"), g),
          struct(lit(0L).as("s"), lit(0L).as("c")))))
    dense
      .withColumn("bits", zip_with(
        slice(col("_e"), 1, nBits), slice(col("_e"), 2, nBits),
        (a, b) => when(b("s") * a("c") > a("s") * b("c"), 1).otherwise(0)))
      .withColumn("blocks", transform(sequence(lit(0), lit(nBits / 16 - 1)),
        b => aggregate(sequence(lit(15), lit(0), lit(-1)), lit(0L),
          (acc, j) => acc * 2 +
            element_at(col("bits"), (b * 16 + j + 1).cast("int")).cast("long"))))
      .select(col("asset_id"), col("bits"), col("blocks"))
  }

  /**
   * Exact-recall near-duplicate AUDIO pairs at Hamming radius <= 3 over the
   * [[audioEnergyHash]] signature — the same 4x16-bit pigeonhole banding +
   * exact-verify contract as [[imageNearDupPairs]] (<= 3 differing bits
   * leave >= 1 of 4 blocks identical). Candidates carry the four packed
   * block longs only; volume scales with block collision density, never
   * corpus².
   */
  /**
   * Perceptual VIDEO fingerprint — the frame-gradient signature closing
   * the modality triple (m06 image dHash, m07 audio energy deltas):
   * `nBits`+1 frames sampled evenly across the asset's stub duration
   * (the m02/m05 convention — ts g·dur/64, frame pixels via the same
   * offset rule as [[decodeFrameStub]]), each frame reduced to its
   * INTEGER pixel sum, bit_i = sum(frame i+1) > sum(frame i). Integer
   * end to end — no float in the signature — and pure codegen column
   * math behind one explode→agg fence (the m06 CollapseProject lesson:
   * the code array materializes ONCE per asset; the 65×32 element_at
   * folds then read the materialized array, never the decode chain).
   */
  def videoFrameHash(assets: DataFrame, nBits: Int = 64): DataFrame = {
    require(nBits > 0 && nBits % 16 == 0,
      s"videoFrameHash: nBits must pack into 16-bit blocks, got $nBits")
    val txt = decode(col("payload"), "UTF-8")
    val chars = Par.spread(assets).where(col("modality") === "video" && length(txt) > 0)
      .select(col("asset_id"), posexplode(split(txt, "")).as(Seq("i", "ch")))
      .where(length(col("ch")) === 1)
      .select(col("asset_id"), col("i"), ascii(col("ch")).cast("long").as("v"))
    val arr = chars.groupBy("asset_id")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("v")))),
        x => x("v")).as("os"),
        count(lit(1)).as("L"))
    // frame g's stub offset: ((g·L·10 / 64) / 10) mod L — all-positive
    // exact integer math (≤ 64·3000·10 ≈ 2e6, double-exact, cast = floor)
    val frameSums = transform(sequence(lit(0), lit(nBits)), g => {
      val off = pmod(((g.cast("long") * col("L") * 10L) / lit(nBits.toLong))
        .cast("long")./(lit(10L)).cast("long"), col("L"))
      aggregate(sequence(lit(0), lit(31)), lit(0L),
        (acc, j) => acc + element_at(col("os"),
          (pmod(off + j, col("L")) + 1).cast("int")))
    })
    arr
      .withColumn("_s", frameSums)
      .withColumn("bits", zip_with(
        slice(col("_s"), 1, nBits), slice(col("_s"), 2, nBits),
        (a, b) => when(b > a, 1).otherwise(0)))
      .withColumn("blocks", transform(sequence(lit(0), lit(nBits / 16 - 1)),
        b => aggregate(sequence(lit(15), lit(0), lit(-1)), lit(0L),
          (acc, j) => acc * 2 +
            element_at(col("bits"), (b * 16 + j + 1).cast("int")).cast("long"))))
      .select(col("asset_id"), col("bits"), col("blocks"))
  }

  /** Exact-recall near-duplicate VIDEO pairs at Hamming radius <= 3 over
    * the [[videoFrameHash]] signature — the identical 4x16-bit pigeonhole
    * banding + exact-verify contract as [[imageNearDupPairs]] and
    * [[audioNearDupPairs]]. */
  def videoNearDupPairs(assets: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"videoNearDupPairs: 4-block banding guarantees recall only for radius <= 3, got $maxHamming")
    bandedHammingPairs(videoFrameHash(assets), maxHamming)
  }

  def audioNearDupPairs(assets: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"audioNearDupPairs: 4-block banding guarantees recall only for radius <= 3, got $maxHamming")
    bandedHammingPairs(audioEnergyHash(assets), maxHamming)
  }
}
