package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.Scope

/**
 * Large-scale document deduplication operators over a `documents` table
 * (doc_id BIGINT, text STRING, ...).
 *
 * Scale design: every method is a pure DataFrame pipeline — hashing and
 * shingling run map-side (codegen'd built-ins or tight UDFs), the only
 * shuffles are the groupBy on hash/band keys, and candidate verification
 * joins are band-bucket joins (never an all-pairs cross join). At 100 TB the
 * band join's key cardinality scales with corpus size, keeping partitions
 * bounded; skewed buckets (boilerplate text) are handled by AQE skew-join.
 *
 * Lifecycle note: the LSH methods persist their signature table (it
 * feeds both sides of the band self-join) and [[sharedSpanPairs]] its
 * positional gram table. Each returned plan references its cache, so each
 * registers with the caller's [[graft.core.Scope]], which releases it.
 * [[dedupClusters]] checkpoints its canonical edge set (and, above the
 * driver gate, each contraction round) into the same scope.
 */
object Dedup {

  /** Size gate for [[dedupClusters]]' driver side (r18): a pair graph whose
    * materialized canonical edge count is at or below this resolves its
    * labels with an in-memory union-find instead of iterating distributed
    * star-contraction rounds — each distributed round on a tiny edge set is
    * pure control-plane cost (~3 exchanges + per-round plan analysis,
    * measured ~0.45 s/round on a 400-edge blast-radius subgraph), where
    * the driver fold is milliseconds. Same bounded-driver-fold contract as
    * packPlan's bucket bases and trainCentroids' sample: the collected
    * state is capped (≤ ~16 B/edge primitive, default 1M edges), labels
    * are bit-identical (min reachable id is unique), and graphs above the
    * cap keep the distributed loop untouched — at 100 TB a real dup graph
    * takes that path, exactly like AQE picking a broadcast only when the
    * side fits. Tunable per deployment via `graft.cc.maxDriverEdges`. */
  private def maxDriverEdges(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.cc.maxDriverEdges").map(_.toLong)
      .getOrElse(1000000L)

  /** Exact min-reachable-id labels over a collected edge list: union-find
    * with path compression, then min doc_id per component. Returns one
    * (doc_id, label) row per edge ENDPOINT (singletons resolve through the
    * caller's left join + coalesce, as on the distributed side). */
  private def driverCcLabels(spark: org.apache.spark.sql.SparkSession,
                             edgeRows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val idx = new java.util.HashMap[Long, Integer](edgeRows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]
    def nodeOf(id: Long): Int = {
      val got = idx.get(id)
      if (got != null) got.intValue()
      else { val i = ids.length; idx.put(id, i); ids += id; i }
    }
    val us = new Array[Int](edgeRows.length)
    val vs = new Array[Int](edgeRows.length)
    var e = 0
    while (e < edgeRows.length) {
      us(e) = nodeOf(edgeRows(e).getLong(0))
      vs(e) = nodeOf(edgeRows(e).getLong(1))
      e += 1
    }
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    e = 0
    while (e < edgeRows.length) {
      val ra = find(us(e)); val rb = find(vs(e))
      if (ra != rb) parent(rb) = ra
      e += 1
    }
    val minOf = new Array[Long](ids.length)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    var i = 0
    while (i < ids.length) {
      val r = find(i)
      if (ids(i) < minOf(r)) minOf(r) = ids(i)
      i += 1
    }
    val rows = new Array[org.apache.spark.sql.Row](ids.length)
    i = 0
    while (i < ids.length) {
      rows(i) = org.apache.spark.sql.Row(ids(i), minOf(find(i)))
      i += 1
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("label", LongType, nullable = false)))
    val slices = math.max(1, ids.length / 500000)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, slices), schema)
  }

  /** Exact dedup on md5(text): one row per distinct content, keeper =
    * min(doc_id), plus the duplicate count. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup: keep the lowest doc_id per distinct text. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val keep = exactGroups(docs).select(col("keeper_doc_id").as("doc_id"))
    docs.join(keep, "doc_id", "left_semi")
  }

  // ------------------------------------------------------------- shingling

  /** Normalized word array (lowercased, punctuation stripped). */
  def wordsOf(text: Column): Column =
    filter(split(lower(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", " ")), "\\s+"),
      w => length(w) > 0)

  /**
   * Distinct word k-shingles from a MATERIALIZED words-array column.
   * The lambda below references the outer array (`slice(w, ...)`) — if that
   * array were an unmaterialized expression, codegen would re-run the whole
   * regex+split chain once per element (measured 7.7 s vs 0.3 s over 5k
   * docs). Callers must project [[wordsOf]] into a column first.
   */
  def shinglesOf(w: Column, k: Int): Column =
    array_distinct(
      filter(
        transform(w, (_, i) => concat_ws(" ", slice(w, i + lit(1), lit(k)))),
        s => size(split(s, " ")) === k))

  /** Normalized word k-shingles straight from text — convenience for small
    * inputs/tests; hot paths should materialize [[wordsOf]] first. */
  def shingles(text: Column, k: Int): Column = shinglesOf(wordsOf(text), k)

  /** splitmix64 finalizer — cheap independent re-mix of a base hash per
    * seed (public-domain bit mixer). */
  private def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /**
   * MinHash signatures: `numHashes` permutations over the shingle set;
   * signature(i) = min over shingles of mix(hash(shingle), i).
   *
   * Split in two stages on purpose: shingle strings are hashed ONCE by a
   * codegen'd `xxhash64` HOF, then a vector UDF does the numHashes×shingles
   * min-fold on primitive longs. (A pure-HOF formulation re-inlines the
   * whole shingling expression once per seed — 64× codegen blowup measured
   * at ~80 s for 500 docs.)
   */
  def minhashSignature(text: Column, k: Int = 3, numHashes: Int = 64): Column =
    minhashFromWords(wordsOf(text), k, numHashes)

  /** MinHash signature from a materialized words-array column (hot path).
    * The numHashes×shingles min-fold is a native codegen'd expression
    * ([[graft.functions.MinhashSig]]) — the former Scala UDF boxed every
    * base hash into a Seq[Long] and broke whole-stage codegen. */
  def minhashFromWords(w: Column, k: Int = 3, numHashes: Int = 64): Column =
    graft.functions.SketchExpressions.minhashSig(
      transform(shinglesOf(w, k), s => xxhash64(s)), numHashes)

  /**
   * MinHash + LSH near-duplicate pairs: signatures are banded
   * (`bands` × `rowsPerBand`), docs sharing any band bucket become
   * candidates, candidates are verified by estimated Jaccard =
   * fraction of matching signature positions >= threshold.
   *
   * The join is bucket-equality on (band, bandHash) — candidate count scales
   * with true duplicate density, not corpus².
   */
  def minhashPairs(docs: DataFrame, k: Int = 3, numHashes: Int = 64,
                   bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    // materialize signatures once: they feed BOTH sides of the band join, and
    // an unpersisted plan would re-shingle + re-hash the corpus per side
    // (and double the codegen'd expression tree). One row per doc — tiny
    // relative to the corpus text it replaces.
    val sigs = Scope.persist(Par.spread(docs)
      .select(col("doc_id"), wordsOf(col("text")).as("_w"))
      .select(col("doc_id"), minhashFromWords(col("_w"), k, numHashes).as("sig")))
    lshBandPairs(sigs, numHashes, bands, threshold)
  }

  /** One-permutation-hashing variant of [[minhashPairs]]: same signature
    * width, banding and verification, but the signature fold is a single
    * pass over the shingle hashes ([[graft.functions.OphSig]]) instead of
    * numHashes passes — the per-document hashing cost at 100 TB drops
    * numHashes-fold for the same candidate quality (empty bins are
    * rotation-densified, so position-match estimation stays valid). */
  def minhashPairsOph(docs: DataFrame, k: Int = 3, numBins: Int = 64,
                      bands: Int = 16, threshold: Double = 0.8): DataFrame =
    lshBandPairs(Scope.persist(ophSigs(docs, k, numBins)), numBins, bands, threshold)

  /** (doc_id, sig) OPH signatures — shared by the pair join, the persisted
    * index writer and the incremental query. */
  private def ophSigs(docs: DataFrame, k: Int, numBins: Int): DataFrame =
    Par.spread(docs)
      .select(col("doc_id"), wordsOf(col("text")).as("_w"))
      .select(col("doc_id"),
        graft.functions.SketchExpressions.ophSig(
          transform(shinglesOf(col("_w"), k), s => xxhash64(s)), numBins).as("sig"))

  /** (doc_id, band, bandHash) rows from a (doc_id, sig) table. */
  private def bandRows(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)))))
        .as(Seq("band", "bandHash")))
  }

  /**
   * Persisted near-dup signature index — the production shape for rolling
   * corpus ingestion: sign the existing corpus ONCE and write the
   * signatures plus their band buckets to parquet; each incoming batch is
   * then checked by [[nearDupAgainstIndex]] without re-signing or
   * shuffling the corpus. Batch twin of the streaming OPH near-dup
   * ([[graft.streaming.NearDup]]).
   */
  def writeNearDupIndex(docs: DataFrame, dir: String, k: Int = 3,
                        numBins: Int = 64, bands: Int = 16): Unit = {
    ophSigs(docs, k, numBins).write.mode("overwrite").parquet(s"$dir/sigs")
    // band off the persisted signatures, not a second corpus scan
    val stored = docs.sparkSession.read.parquet(s"$dir/sigs")
    bandRows(stored, numBins, bands).write.mode("overwrite").parquet(s"$dir/bands")
  }

  /** Append a new batch's signatures + band rows to an existing index so
    * later batches see it — the index grows by parquet append, it never
    * rewrites (at-least-once on a retried writer: duplicate sig rows only
    * produce duplicate CANDIDATES, which the query dedups before scoring). */
  def appendToNearDupIndex(newDocs: DataFrame, dir: String, k: Int = 3,
                           numBins: Int = 64, bands: Int = 16): Unit = {
    Scope { s =>
      val sigs = s.persist(ophSigs(newDocs, k, numBins))
      sigs.write.mode("append").parquet(s"$dir/sigs")
      bandRows(sigs, numBins, bands).write.mode("append").parquet(s"$dir/bands")
    }
  }

  /**
   * Incremental near-dup query: (new_id, old_id, est_jaccard) for every
   * new-batch document whose estimated Jaccard against an indexed document
   * clears `threshold`. Same-id rows are dropped so re-checking the
   * indexed corpus against itself reports only genuine cross-document
   * pairs (gated ≡ [[minhashPairsOph]] in PipelineSpec).
   *
   * Scale shape: the index is the big side and NEVER moves — the new
   * batch's band keys and signatures broadcast (a batch is small relative
   * to the corpus by construction), so the query is two broadcast hash
   * joins over index scans; candidates scale with true duplicate density.
   * The smallness contract is ENFORCED, not assumed: a batch above
   * `maxBroadcastDocs` degrades to shuffle joins instead of OOMing the
   * driver (a big re-index batch is legitimate, just not broadcastable —
   * the soft-degrade twin of p34's hard `require`, Similarity.scala).
   *
   * Eager: the result is checkpointed into the caller's scope (pairs
   * scale with duplicate density, so it is small) and the cached batch
   * signatures are released before returning; a long-running ingestion
   * driver calling this per batch leaks nothing.
   */
  def nearDupAgainstIndex(newDocs: DataFrame, dir: String, k: Int = 3,
                          numBins: Int = 64, bands: Int = 16,
                          threshold: Double = 0.8,
                          maxBroadcastDocs: Long = 4_000_000L): DataFrame = {
    Scope.local { s =>
      val newSigs = s.persist(ophSigs(newDocs, k, numBins))
      val small = newSigs.count() <= maxBroadcastDocs
      indexQueryPlan(newSigs, dir, numBins, bands, threshold, broadcastBatch = small)
    }
  }

  /** The lazy plan behind [[nearDupAgainstIndex]], parameterized on whether
    * the batch side may broadcast — split out so plan-shape tests can
    * inspect both join strategies before checkpoint truncation. */
  private[graft] def indexQueryPlan(newSigs: DataFrame, dir: String,
                                    numBins: Int, bands: Int, threshold: Double,
                                    broadcastBatch: Boolean): DataFrame = {
    val spark = newSigs.sparkSession
    def batchSide(df: DataFrame): DataFrame = if (broadcastBatch) broadcast(df) else df
    val newBands = bandRows(newSigs, numBins, bands)
      .withColumnRenamed("doc_id", "new_id")
    val cand = spark.read.parquet(s"$dir/bands")
      .join(batchSide(newBands), Seq("band", "bandHash"))
      .select(col("doc_id").as("old_id"), col("new_id"))
      .where(col("old_id") =!= col("new_id"))
      .dropDuplicates("old_id", "new_id")
    spark.read.parquet(s"$dir/sigs")
      .select(col("doc_id").as("old_id"), col("sig").as("old_sig"))
      .join(batchSide(cand), "old_id")
      .join(batchSide(newSigs.select(col("doc_id").as("new_id"), col("sig").as("new_sig"))), "new_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("old_sig"), col("new_sig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numBins))
      .where(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("est_jaccard"))
  }

  /** Shared LSH tail: band the (doc_id, sig) table, bucket-join for
    * candidates, verify by position-match estimated Jaccard.
    *
    * The band join runs on NARROW rows (doc_id, band, bandHash only): a pair
    * can collide in up to `bands` bands, so carrying the numHashes-long
    * signatures through the self-join would shuffle each one bands× (16× at
    * the defaults — ~512 B/doc amplified through every exchange) and run the
    * pair dedup on wide rows. Instead the id pairs dedup first and the
    * signatures re-attach ONCE per surviving candidate for the est-Jaccard
    * verification — the same shape as [[Similarity.srpNearDupPairs]]. */
  private def lshBandPairs(sigs: DataFrame, numHashes: Int, bands: Int,
                           threshold: Double): DataFrame = {
    val banded = bandRows(sigs, numHashes, bands)
    val candIds = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandHash") === col("b.bandHash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    candIds
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sigA")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sigB")), "doc_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sigA"), col("sigB"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes))
      .where(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  /**
   * SimHash: 64-bit locality-sensitive fingerprint — sign of the per-bit
   * sum of token hashes. Near-dup candidates = fingerprints within
   * `maxHammingDistance` (verified pairwise on band-partitioned buckets).
   */
  def simhash(text: Column): Column = {
    val words = filter(split(lower(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", " ")), "\\s+"), w => length(w) > 0)
    // hash tokens once (codegen'd), then fold the 64 bit-votes in a native
    // codegen'd expression ([[graft.functions.SimhashFp]]) — same two-stage
    // split as minhashSignature, now with zero boxing end to end.
    graft.functions.SketchExpressions.simhashFp(transform(words, w => xxhash64(w)))
  }

  /**
   * SimHash near-dup pairs within a Hamming radius. Blocking: the 64-bit
   * fingerprint splits into FIVE ~13-bit blocks; with radius ≤ 3, at most 3
   * blocks are touched, so at least 2 are clean and at least one of the
   * C(5,2)=10 block PAIRS is fully untouched — bucketing on ~26-bit pair
   * keys keeps full recall while giving ~64M buckets instead of the 65536 a
   * single-16-bit-block scheme allows. Expected bucket size at 10^9 docs is
   * ~15 docs, so in-bucket candidate pairs stay sub-quadratic (the permuted-
   * table idea of the public simhash near-dup literature). Cost: 10 keys/doc.
   */
  def simhashPairs(docs: DataFrame, maxHammingDistance: Int = 3): DataFrame = {
    require(maxHammingDistance <= 3,
      s"simhashPairs: 5-block pair keys guarantee recall only for radius <= 3, got $maxHammingDistance")
    val fp = Par.spread(docs).select(col("doc_id"), simhash(col("text")).as("fp"))
    val widths = Seq(13, 13, 13, 13, 12)
    val offsets = widths.scanLeft(0)(_ + _)
    def block(b: Int) =
      call_function("shiftright", col("fp"), lit(offsets(b))).bitwiseAND(lit((1L << widths(b)) - 1))
    val pairKeys = for (i <- widths.indices; j <- i + 1 until widths.size)
      yield block(i) * lit(1L << 13) + block(j)
    val banded = fp.select(col("doc_id"), col("fp"),
      posexplode(array(pairKeys: _*)).as(Seq("band", "key")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("int").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .where(col("hamming") <= maxHammingDistance)
  }

  /**
   * Exact n-gram Jaccard similarity for candidate pairs via a ONE-PASS
   * inverted index: explode distinct shingle hashes, fold each gram's
   * posting list in a single size-capped aggregate
   * ([[graft.functions.BoundedCollectLong]] — memory stays bounded however
   * hot the gram), drop grams outside `df ∈ [2, maxDocFreq]` (standard
   * inverted-index pruning), emit each eligible gram's doc pairs map-side
   * from the sorted list, count intersections per pair, divide by union.
   *
   * r17 optimization (guide §2.3/§2.4): the previous shape was a df
   * aggregate + left_semi probe + postings SELF-JOIN — four gram-keyed
   * exchanges carrying the full gram stream. This computes the identical
   * pair set from ONE gram-keyed exchange (partial aggregation reduces
   * map-side) plus the pair-keyed count; the bounded aggregate keeps the
   * old shape's hot-gram safety (a boilerplate gram retires at cap+1
   * values per partial buffer instead of materializing its full posting
   * list before the filter). Verified pair-for-pair equal to the join
   * formulation (DedupSpec + the p11/p83 oracle rows).
   */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.5,
                        maxDocFreq: Long = 1000): DataFrame = {
    require(maxDocFreq <= Int.MaxValue - 1, "ngramJaccardPairs: maxDocFreq too large")
    // hash shingles into one array per doc and materialize: the plan below
    // reuses it three ways (postings, both size joins) — without the
    // persist each reuse re-runs the whole shingling expression
    val hashed = Scope.persist(Par.spread(docs)
      .select(col("doc_id"), wordsOf(col("text")).as("_w"))
      .select(col("doc_id"), transform(shinglesOf(col("_w"), k), s => xxhash64(s)).as("shs")))
    val sh = hashed.select(col("doc_id"), explode(col("shs")).as("sh"))
    val sizes = hashed.select(col("doc_id"), size(col("shs")).as("setSize"))
    // posting lists arrive SORTED for df <= maxDocFreq (BoundedCollectLong
    // sorts at eval), so the i<j slice below emits canonical doc_a < doc_b
    // pairs deterministically regardless of partitioning
    val postings = sh.groupBy("sh")
      .agg(graft.functions.SketchExpressions.boundedCollectLong(
        col("doc_id"), maxDocFreq.toInt).as("ids"))
      .where(size(col("ids")) >= 2 && size(col("ids")) <= maxDocFreq)
    val inter = postings
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("setSize", "sizeA"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("setSize", "sizeB"), "doc_b")
      .withColumn("jaccard", col("inter").cast("double") / (col("sizeA") + col("sizeB") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /**
   * Substring-level duplication: document pairs sharing at least one
   * contiguous `spanTokens`-word span (the exact-substring signal used to
   * catch boilerplate and quoted passages that set-based Jaccard dilutes
   * away on long documents). Emits the distinct shared span-grams and the
   * longest contiguous shared run in tokens.
   *
   * Shape: positional span-grams feed an inverted-index equality join (the
   * [[ngramJaccardPairs]] pattern — candidates scale with shared-content
   * density, not corpus²), with grams above `maxDocFreq` documents dropped
   * as boilerplate before the join. The run-length pass windows over
   * (doc_a, doc_b) — keyed by pair, never a global sort.
   *
   * Spans are keyed INTERNALLY by a 64-bit xxhash fingerprint of the
   * token-slice (the same convention as [[ngramJaccardPairs]]' hashed
   * shingles and Lee et al.'s suffix-array fingerprints): a 10-word span
   * STRING is ~60 bytes and dominated the r11 100× profile (the persisted
   * index and both join shuffles carried ~10× the corpus text); the
   * fingerprint is 8 bytes and never materializes the span text at all.
   * A fingerprint collision (p ≈ 2⁻⁶⁴ per gram pair) could overcount
   * shared_grams by one — the string-exact DuckDB oracle gates equality
   * at both SFs every round, so a collision in test data cannot hide.
   */
  def sharedSpanPairs(docs: DataFrame, spanTokens: Int = 10,
                      maxDocFreq: Long = 100): DataFrame = {
    val w = docs.select(col("doc_id"), wordsOf(col("text")).as("_w"))
      .where(size(col("_w")) >= spanTokens)
    // (doc_id, pos, gram): gram = the fingerprint of the span at pos (1-based)
    val grams = Scope.persist(w.select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("_w")) - (spanTokens - 1)),
          i => xxhash64(slice(col("_w"), i, lit(spanTokens))))).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gram")))
    val keep = grams.select(col("gram"), col("doc_id")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDocFreq)
    val pruned = grams.join(keep, Seq("gram"), "left_semi")
    val matched = pruned.as("a").join(pruned.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos"), col("a.gram").as("gram"))
    val shared = matched.groupBy("doc_a", "doc_b")
      .agg(countDistinct("gram").as("shared_grams"))
    // longest run of consecutive matched positions in doc_a: pos - rank is
    // constant within a run (the classic gaps-and-islands grouping)
    val pw = Window.partitionBy("doc_a", "doc_b").orderBy("pos")
    val runs = matched.select(col("doc_a"), col("doc_b"), col("pos")).distinct()
      .withColumn("grp", col("pos") - row_number().over(pw))
      .groupBy("doc_a", "doc_b", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b").agg(max("run").as("max_run"))
    shared.join(runs, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared_grams"),
        (col("max_run") + (spanTokens - 1)).as("max_span_tokens"))
  }

  /**
   * Exact-substring span REMOVAL — the corpus-rewriting counterpart of
   * [[sharedSpanPairs]] (which only reports pairs). Every word `spanTokens`-
   * gram that also occurs in a lower-id document is cut from this document
   * (all covered token positions dropped; the lowest-id document keeps its
   * text untouched), and the surviving tokens are re-joined. The
   * keep-the-first-occurrence rule follows Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better" (arXiv:2107.06499), §4 —
   * restricted to cross-document duplicates (within-doc repeats survive).
   *
   * Scale shape: unlike the pair-reporting path this never joins documents
   * against each other — gram→min(doc_id) is one agg keyed by gram,
   * coverage expansion is a bounded ×spanTokens explode, and the kept-token
   * anti-join and reconstruction are keyed by (doc_id, pos)/doc_id. Every
   * stage is linear in corpus tokens.
   *
   * Returns (doc_id, clean_text, n_kept, n_removed); docs shorter than
   * `spanTokens` pass through unchanged.
   */
  def removeSharedSpans(docs: DataFrame, spanTokens: Int = 10): DataFrame = {
    val w = Par.spread(docs).select(col("doc_id"), wordsOf(col("text")).as("_w"))
    val grams = w.where(size(col("_w")) >= spanTokens).select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("_w")) - (spanTokens - 1)),
          i => concat_ws(" ", slice(col("_w"), i, lit(spanTokens))))).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gram"))
    val firstDoc = grams.groupBy("gram").agg(min("doc_id").as("first_doc"))
    val cut = grams.join(firstDoc, "gram").where(col("doc_id") > col("first_doc"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (spanTokens - 1))).as("pos"))
      .distinct()
    val positions = w.select(col("doc_id"), posexplode(col("_w")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("word"))
    val rebuilt = positions.join(cut, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    // left join back: a doc whose every token was cut still gets a row
    w.select(col("doc_id"), size(col("_w")).cast("long").as("n_total"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /**
   * Duplicate-cluster formation: connected components over a near-dup pair
   * graph (from [[minhashPairs]]/[[simhashPairs]]/[[ngramJaccardPairs]]),
   * labeling every document with the minimum doc_id reachable in its
   * component — the keeper-selection step after candidate generation.
   * `docs` supplies ids so singletons label themselves.
   *
   * One path with two sides, chosen from the measured canonical edge count
   * (see [[maxDriverEdges]]): at or below the gate the edges collect once
   * and a driver union-find labels them; above it, alternating large-star /
   * small-star contraction runs distributed. Both sides produce the same
   * labels (the min reachable id is unique).
   *
   * Star contraction needs O(log n) rounds for ANY graph shape, so
   * chain-shaped components (diameter ≫ rounds) converge too. Each round,
   * large-star hangs every bigger neighbor of u onto min(N(u) ∪ {u}), and
   * small-star re-hangs the smaller neighbors and u itself onto the
   * minimum — two groupBy+join shuffles per phase over an edge set that
   * only shrinks toward one star per component. Edges stay canonically
   * oriented (u > v) throughout, so convergence (= the edge set is a fixed
   * point) is one anti-join test per round.
   *
   * Each round's result is checkpointed into the caller's
   * [[graft.core.Scope]]: the round plan references the previous edge set
   * several times, so un-truncated lineage grows multiplicatively per
   * round and OOMs the driver during analysis after ~8 rounds.
   * Checkpointing makes every round start from materialized blocks; the
   * edge sets only shrink, and the scope releases every round at once. On
   * a cluster with executor churn, prefer a real `checkpoint` dir.
   *
   * Throws if the contraction has not converged after `maxIters` rounds —
   * non-converged labels are silently WRONG, so failing loudly is the only
   * safe exit.
   */
  def dedupClusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // LAZY checkpoints throughout the loop — the count that follows each
    // checkpoint is its first action, so materialization and count share
    // ONE job per round
    var edges = Scope.checkpoint(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"), least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v")).distinct(), eager = false)
    // the materialized count carries across rounds (no re-count of the
    // previous edge set)
    var nEdges = edges.count()
    if (nEdges > 0 && nEdges <= maxDriverEdges(docs.sparkSession)) {
      val labels = driverCcLabels(docs.sparkSession, edges.collect())
      return docs.select(col("doc_id"))
        .join(broadcast(labels), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
    }
    var converged = nEdges == 0L
    var it = 0
    while (!converged && it < maxIters) {
      // large-star over the symmetric neighborhood: (v, m) for every v > u
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // NO distinct here (r17): duplicates of (u,m) cannot change mins2's
      // min or the final distinct below — the old intermediate distinct
      // was one full exchange per round for nothing
      val ls = sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u >= m keeps u > v
        .where(col("u") =!= col("v"))
      // small-star over the canonical (bigger → smaller) orientation: hang
      // each smaller neighbor and u itself onto u's minimum neighbor
      val mins2 = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = ls.join(mins2, "u")
      val next = Scope.checkpoint(withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct(), eager = false)
      val nNext = next.count()
      // set equality on two DISTINCT sets = equal counts + empty anti join
      // (cheaper than the old exceptAll, which built a counted union)
      converged = nNext == nEdges &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      nEdges = nNext
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupClusters: not converged after $maxIters rounds — " +
          "this bounds O(log n); raise maxIters only for astronomically large n")
    // at the fixed point every component is a star rooted at its minimum:
    // non-roots appear exactly once as u, roots/singletons only as v or not
    // at all, so a left join + coalesce labels everyone
    val labels = edges.groupBy(col("u")).agg(min(col("v")).as("label"))
      .withColumnRenamed("u", "doc_id")
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /**
   * Leakage-free train/val/test split — the dedup-aware refinement of
   * the p32 hash split: a near-duplicate of a training document landing
   * in val/test leaks training content into evaluation (the
   * arXiv:2107.06499 measurement), so the split hash keys on each
   * document's duplicate-CLUSTER label: every member of a cluster lands
   * in the same split, and singletons (cluster_id = own id) reduce to
   * exactly the plain p32 assignment.
   *
   * Scale shape: the [[dedupClusters]] chain plus the p32 map-side
   * multiplicative hash on the cluster label — the only addition over p35 is
   * arithmetic; nothing new moves.
   */
  def splitByCluster(docs: DataFrame, pairs: DataFrame, trainFrac: Double = 0.9,
                     valFrac: Double = 0.05, seed: Long = 9377L): DataFrame =
    dedupClusters(docs, pairs).withColumn("split",
      Assembly.splitLabel(col("cluster_id"), trainFrac, valFrac, seed))

  /**
   * Dedup-aware sampling weights — the SemDeDup/D4-style alternative to
   * dropping duplicates (Abbas et al. 2023 arXiv:2303.09540; Tirumala et
   * al. 2023 arXiv:2308.12284): every near-dup cluster's members share
   * unit sampling mass, weight = 1/|cluster|, so epoch sampling sees each
   * cluster once in expectation and repeated boilerplate stops dominating
   * the mix while unique text keeps weight 1.
   *
   * Scale shape: the [[dedupClusters]] chain plus ONE cluster-keyed
   * count aggregate joined back onto the label table by cluster_id —
   * equality-keyed, label-table-sized; the corpus text never moves.
   */
  def dedupWeights(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = dedupClusters(docs, pairs)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("n_dups"))
    cc.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_dups"),
        (round(lit(1.0) / col("n_dups") * 1e4) / 1e4).as("weight"))
  }

  /**
   * Quality-aware keeper selection: each duplicate cluster keeps its
   * highest-quality member instead of the lowest doc_id — the rule
   * production corpora actually want (drop the truncated/boilerplate copy,
   * keep the clean one). Ranking uses the 1e-4-rounded
   * [[TextStats.qualityScore]] (so the order is reproducible across
   * engines), doc_id ascending as the tiebreak.
   *
   * One window per cluster over (score, id) — clusters are near-dup groups
   * and tiny, so the partitioned sort never concentrates load.
   *
   * Labels come from [[dedupClusters]], which converges in O(log n)
   * rounds whatever the pair graph's shape.
   *
   * Returns (doc_id, cluster_id, quality_score rounded, keep ∈ {0,1}).
   */
  def qualityKeeper(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = dedupClusters(docs, pairs)
    val q = TextStats.qualityScore(docs).select(col("doc_id"),
      (round(col("quality_score") * 1e4) / 1e4).as("quality_score"))
    val w = Window.partitionBy("cluster_id").orderBy(col("quality_score").desc, col("doc_id"))
    labels.join(q, "doc_id")
      .withColumn("keep", (row_number().over(w) === 1).cast("long"))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"), col("keep"))
  }
}
