package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Scope

/**
 * The corpus-refresh orchestrator — ONE document delta in, EVERY persisted
 * retrieval artifact consistently out.
 *
 * The three index lifecycles (term postings — [[TextStats.appendToTermIndex]],
 * hashed shingles — [[PairMaintenance.appendToShingleIndex]], IVF-PQ vectors —
 * [[Similarity.appendToIvfIndex]]) are complete individually, but a real
 * production refresh must drive ALL of them from the SAME delta or the
 * serving tier skews silently: a doc edited in the term index but not
 * re-embedded ranks with fresh BM25 and a stale vector — no error anywhere.
 * The reference's analog is the zipper's single coherent backend snapshot
 * per request (ref `zipper/broadcast/broadcast_group.go:226-297` merges one
 * consistent view); here the coherence is enforced at WRITE time: one
 * orchestrated segment number, one tombstone derivation, one manifest row.
 *
 * Artifact layout under one root (the set [[graft.api.SearchApi]] mounts):
 * {{{
 *   root/term_index            postings (+ .doclen / .meta sidecars)
 *   root/shingle_index         hashed shingles (+ .sizes / .meta)
 *   root/ivf                   corpus/ centroids/ codebooks/ meta/
 *   root/term_tombstones       (doc_id, before_seg) — cumulative
 *   root/ivf_tombstones        (vec_id, before_seg) — cumulative
 *   root/shingle_tombstones    (doc_id, before_seg) — cumulative
 *   root/pairs/v<seg>          near-dup pair set after refresh <seg>
 *   root/clusters/v<seg>       (doc_id, cluster_id) labels after <seg>
 *   root/manifest              one row per build/refresh (append-only)
 * }}}
 *
 * Scale shape: a refresh costs work proportional to the CHANGED documents —
 * three delta-sized segment appends (each lands inside the existing
 * bucket/cell partition dirs, indexes never rewrite), one delta-sized
 * tombstone append per index, and the churn-bounded incremental pair/cluster
 * refresh. Versioned pairs/clusters dirs are append-only (a crash mid-write
 * never corrupts the previous version; readers take the max version), and
 * the manifest row lands LAST, so a manifest entry implies every artifact
 * of its segment committed.
 */
object Refresh {

  /** Path schema for one orchestrated artifact root. */
  final case class CorpusArtifacts(root: String) {
    val termIndexDir: String = s"$root/term_index"
    val shingleIndexDir: String = s"$root/shingle_index"
    val ivfPath: String = s"$root/ivf"
    val termTombstonesPath: String = s"$root/term_tombstones"
    val ivfTombstonesPath: String = s"$root/ivf_tombstones"
    val shingleTombstonesPath: String = s"$root/shingle_tombstones"
    val manifestPath: String = s"$root/manifest"
    def pairsPath(v: Long): String = s"$root/pairs/v$v"
    def clustersPath(v: Long): String = s"$root/clusters/v$v"
  }

  /** What a refresh did: the segment it landed as, the artifact set, and
    * the measured IVF consolidation advice (the FreshDiskANN decision —
    * callers schedule [[consolidate]] when it says compact/retrain). */
  final case class RefreshReport(seg: Long, artifacts: CorpusArtifacts,
                                 advice: Similarity.IvfAdvice)

  /** Order-independent content fingerprint of a tombstone table — the
    * cross-artifact consistency check: term and IVF tombstones derive from
    * the SAME delta, so their fingerprints (over the shared id + before_seg
    * payload) must be EQUAL. `/status` recomputes both sides and compares;
    * a mismatch means one index saw a refresh the other didn't. */
  def tombstoneFingerprint(tombstones: DataFrame): Long = {
    val idCol = tombstones.columns.find(c => c == "doc_id" || c == "vec_id")
      .getOrElse(throw new IllegalArgumentException(
        "tombstoneFingerprint: need a doc_id or vec_id column"))
    val r = tombstones
      .select(xxhash64(col(idCol), col("before_seg")).as("h"))
      .agg(sum(col("h"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /**
   * Build the initial (segment-0) artifact set from the full corpus.
   * `documents` is (doc_id, text, ...); `embeddings` is (vec_id, embedding,
   * ...) with vec_id ≡ doc_id (the corpus id space is shared — the hybrid
   * RRF join depends on it). Tombstone tables start EMPTY (present so a
   * serving mount needs zero conditional configuration).
   */
  def buildAll(spark: SparkSession, documents: DataFrame, embeddings: DataFrame,
               root: String, buckets: Int = 64, shingleK: Int = 3,
               nlist: Int = 8, m: Int = 16, ksub: Int = 16,
               trainIters: Int = 5, sampleN: Int = 10000,
               pairThreshold: Double = 0.5): CorpusArtifacts = Scope { _ =>
    val a = CorpusArtifacts(root)
    // a fresh root only: re-building in place would append a duplicate
    // manifest row and leave stale pairs/clusters VERSIONS from the old
    // lifecycle alive, which the next refresh's latestVersion would then
    // consume as its base — silent wrong pairs, no error
    require(!dirExists(spark, a.manifestPath),
      s"buildAll: $root already carries an artifact set (manifest " +
        "present) — build into a fresh root")
    val docs = documents.select(col("doc_id"), col("text"))
    TextStats.writeTermIndex(docs, a.termIndexDir, buckets = buckets)
    PairMaintenance.writeShingleIndex(docs, a.shingleIndexDir, k = shingleK,
      buckets = buckets)
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainCentroids(emb, nlist, trainIters, sampleN)
    val cb = Quantize.trainPqCodebooks(emb, m, ksub, trainIters, sampleN)
    Similarity.writeIndex(
      Quantize.pqEncode(Similarity.assignCells(emb, cents), cb), cents, a.ivfPath)
    Quantize.writeCodebooks(spark, cb, s"${a.ivfPath}/codebooks")
    Similarity.writeIndexMeta(spark, a.ivfPath, cb)
    // empty cumulative tombstones, correctly typed
    emptyTombstones(spark, "doc_id").write.mode("overwrite")
      .parquet(a.termTombstonesPath)
    emptyTombstones(spark, "doc_id").write.mode("overwrite")
      .parquet(a.shingleTombstonesPath)
    emptyTombstones(spark, "vec_id").write.mode("overwrite")
      .parquet(a.ivfTombstonesPath)
    // the exact near-dup pair set + CC labels, version 0
    val pairs = Dedup.ngramJaccardPairs(docs, k = shingleK,
      threshold = pairThreshold)
    pairs.write.mode("overwrite").parquet(a.pairsPath(0L))
    Dedup.dedupClusters(docs, spark.read.parquet(a.pairsPath(0L)))
      .write.mode("overwrite").parquet(a.clustersPath(0L))
    writeManifestRow(spark, a, seg = 0L, nEdited = 0L,
      nAdded = docs.count(), nRemoved = 0L, cb = cb)
    a
  }

  private def emptyTombstones(spark: SparkSession, idName: String): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF(idName, "before_seg")
  }

  private def dirExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /**
   * One delta in, all artifacts out. `edited` and `added` are
   * (doc_id, text, embedding) — the doc and its re-embedding move in
   * LOCKSTEP by construction, the skew the orchestrator exists to prevent;
   * `removedIds` is 1-col (doc_id).
   *
   * Effects, all derived from the same delta and the same segment number:
   *   1. term index — changed docs' postings + doclen append as segment N
   *   2. shingle index — changed docs' shingles + sizes append as segment N
   *   3. IVF index — changed vectors assign/encode against the EXISTING
   *      quantizers (read from inside the index dir) and append as segment N
   *   4. three tombstone tables — every edited AND removed id gets
   *      (id, before_seg = N) appended to each cumulative artifact.
   *      Removals deliberately do NOT use Long.MaxValue (the single-refresh
   *      convention of the hand-maintained rows): a MaxValue tombstone is
   *      forever, so a document removed at refresh N and RE-ADDED at
   *      refresh M > N would have its new rows silently killed by the
   *      stale tombstone in every consumer. `before_seg = N` means "dead
   *      strictly before this refresh" — a removal kills everything the
   *      corpus held, and a later re-add (seg M ≥ N) survives it.
   *   5. pairs + clusters — [[PairMaintenance.incrementalClusters]] over the
   *      previous version's artifacts, written as version N
   *   6. manifest — one row (LAST: its presence implies 1-5 committed)
   *
   * Preconditions (checked, fail loudly): the three indexes agree on their
   * max segment and none exceeds the manifest — a caller that refreshed
   * one index out-of-band has already broken coherence, and appending more
   * segments would bury the skew; and the delta's three id sets are
   * pairwise disjoint — an id both removed and re-added within ONE refresh
   * has no well-defined order. `added` ids must be NEW to the corpus (an
   * id that is still alive belongs in `edited` — "adding" it would leave
   * two alive rows and the doc would rank twice); the corpus-membership
   * half is the caller's contract, not re-checked here, because verifying
   * it costs a corpus-sized scan per refresh.
   */
  def refreshCorpus(spark: SparkSession, root: String,
                    edited: DataFrame, added: DataFrame,
                    removedIds: DataFrame,
                    pairThreshold: Double = 0.5,
                    maxDocFreq: Long = 1000): RefreshReport = Scope { _ =>
    val a = CorpusArtifacts(root)
    val termSeg = maxSegOrZero(spark.read.parquet(s"${a.termIndexDir}.doclen"))
    val shingleSeg = maxSegOrZero(spark.read.parquet(a.shingleIndexDir))
    val ivfSeg = maxSegOrZero(spark.read.parquet(s"${a.ivfPath}/corpus"))
    // the NEXT segment comes from the append-only MANIFEST, not from
    // committed index content: an all-delete refresh appends zero rows
    // everywhere, so content-derived numbering would reuse its segment
    // (and its pairs/clusters version) on the next refresh. Index maxSegs
    // can therefore LAG the manifest (empty appends) but must never
    // exceed it, and must agree with each other.
    val manifestSeg = maxSegOrZero(spark.read.parquet(a.manifestPath))
    require(termSeg == shingleSeg && shingleSeg == ivfSeg &&
      termSeg <= manifestSeg,
      s"refreshCorpus: artifact segment skew under $root — term=$termSeg " +
        s"shingle=$shingleSeg ivf=$ivfSeg manifest=$manifestSeg; one " +
        "index was refreshed out-of-band and serving it would skew " +
        "silently (fresh BM25 with a stale vector). Rebuild or " +
        "consolidate before refreshing.")
    val seg = manifestSeg + 1L

    // the delta, pinned once: every consumer below derives from these
    // exact frames (a lazy re-read of a mutating source between appends
    // would let the indexes diverge within one refresh). Every consumer
    // is eager (writes/appends/counts), so this call's scope releases the
    // checkpoints when it returns.
    val ed = Scope.checkpoint(edited.select(col("doc_id"), col("text"), col("embedding")))
    val ad = Scope.checkpoint(added.select(col("doc_id"), col("text"), col("embedding")))
    val rm = Scope.checkpoint(removedIds.select(col("doc_id")))
    val overlap = ed.select("doc_id").intersect(ad.select("doc_id"))
      .unionByName(ed.select("doc_id").intersect(rm))
      .unionByName(ad.select("doc_id").intersect(rm))
      .limit(1).collect()
    require(overlap.isEmpty,
      s"refreshCorpus: delta id sets overlap (e.g. doc ${overlap.headOption
        .map(_.getLong(0)).getOrElse(-1L)}) — edited/added/removed must be " +
        "pairwise disjoint within one refresh")
    val changedDocs = ed.unionByName(ad).select("doc_id", "text")
    val changedVecs = ed.unionByName(ad)
      .select(col("doc_id").as("vec_id"), col("embedding"))

    // tombstone state BEFORE this refresh (the incremental pair refresh
    // needs both sides) — pinned before the appends below mutate the dirs
    val tombsOld = Scope.checkpoint(spark.read.parquet(a.shingleTombstonesPath))

    // 1-3) the three delta-sized segment appends
    TextStats.appendToTermIndex(changedDocs, a.termIndexDir, seg = seg)
    PairMaintenance.appendToShingleIndex(changedDocs, a.shingleIndexDir,
      seg = seg)
    val cb = Quantize.readCodebooks(spark, s"${a.ivfPath}/codebooks")
    Similarity.requireCodebookMatch(spark, a.ivfPath, cb)
    Similarity.appendToIvfIndex(changedVecs, a.ivfPath, cb, seg = seg)

    // 4) tombstones — ONE derivation, appended to all three artifacts.
    // before_seg = seg for removals TOO (not Long.MaxValue): "dead
    // strictly before this refresh", so a later RE-ADD of a removed id
    // lands at a higher segment and survives — a forever-tombstone would
    // silently kill the returning document in every consumer
    val deltaTombs = Scope.checkpoint(ed.select("doc_id").unionByName(rm)
      .select(col("doc_id"), lit(seg).as("before_seg")))
    deltaTombs.write.mode("append").parquet(a.termTombstonesPath)
    deltaTombs.write.mode("append").parquet(a.shingleTombstonesPath)
    deltaTombs.withColumnRenamed("doc_id", "vec_id")
      .write.mode("append").parquet(a.ivfTombstonesPath)

    // 5) incremental pairs + clusters over the PREVIOUS version's artifacts
    val prevV = latestVersion(spark, s"$root/pairs")
    val tombsNew = spark.read.parquet(a.shingleTombstonesPath)
    val (newCC, newPairs) = PairMaintenance.incrementalClusters(spark,
      a.shingleIndexDir,
      oldPairs = spark.read.parquet(a.pairsPath(prevV)),
      oldCC = spark.read.parquet(a.clustersPath(prevV)),
      changedIds = changedDocs.select("doc_id"), removedIds = rm,
      tombstonesOld = tombsOld, tombstonesNew = tombsNew,
      refreshSegFrom = seg, threshold = pairThreshold,
      maxDocFreq = maxDocFreq)
    newPairs.write.mode("overwrite").parquet(a.pairsPath(seg))
    newCC.write.mode("overwrite").parquet(a.clustersPath(seg))

    // 6) manifest row LAST — it witnesses the whole segment
    writeManifestRow(spark, a, seg, nEdited = ed.count(), nAdded = ad.count(),
      nRemoved = rm.count(), cb = cb)

    RefreshReport(seg, a,
      Similarity.ivfMaintenanceAdvice(spark, a.ivfPath,
        Some(spark.read.parquet(a.ivfTombstonesPath))))
  }

  /**
   * The consolidation janitor, orchestrated: compact (or, when the measured
   * [[Similarity.ivfMaintenanceAdvice]] says the quantizer drifted, RETRAIN)
   * every index into a FRESH artifact root with empty tombstones and the
   * latest pairs/clusters carried over as version 0. The old root keeps
   * serving until the caller swaps mounts — the offline half of the
   * FreshDiskANN split, applied to the whole artifact set.
   */
  def consolidate(spark: SparkSession, root: String, outRoot: String,
                  nlist: Int = 8, m: Int = 16, ksub: Int = 16,
                  trainIters: Int = 5, sampleN: Int = 10000): CorpusArtifacts = Scope { _ =>
    require(outRoot != root, "consolidate: outRoot must be a fresh location")
    val a = CorpusArtifacts(root)
    val out = CorpusArtifacts(outRoot)
    val termTombs = spark.read.parquet(a.termTombstonesPath)
    val shingleTombs = spark.read.parquet(a.shingleTombstonesPath)
    val ivfTombs = spark.read.parquet(a.ivfTombstonesPath)
    TextStats.compactTermIndex(spark, a.termIndexDir, termTombs,
      out.termIndexDir)
    PairMaintenance.compactShingleIndex(spark, a.shingleIndexDir,
      shingleTombs, out.shingleIndexDir)
    val advice = Similarity.ivfMaintenanceAdvice(spark, a.ivfPath,
      Some(ivfTombs))
    val cb =
      if (advice.action == "retrain")
        Similarity.retrainIvfIndex(spark, a.ivfPath, ivfTombs, out.ivfPath,
          nlist = nlist, m = m, ksub = ksub, iters = trainIters,
          sampleN = sampleN)
      else {
        Similarity.compactIvfIndex(spark, a.ivfPath, ivfTombs, out.ivfPath)
        Quantize.readCodebooks(spark, s"${out.ivfPath}/codebooks")
      }
    emptyTombstones(spark, "doc_id").write.mode("overwrite")
      .parquet(out.termTombstonesPath)
    emptyTombstones(spark, "doc_id").write.mode("overwrite")
      .parquet(out.shingleTombstonesPath)
    emptyTombstones(spark, "vec_id").write.mode("overwrite")
      .parquet(out.ivfTombstonesPath)
    val prevV = latestVersion(spark, s"$root/pairs")
    spark.read.parquet(a.pairsPath(prevV))
      .write.mode("overwrite").parquet(out.pairsPath(0L))
    spark.read.parquet(a.clustersPath(prevV))
      .write.mode("overwrite").parquet(out.clustersPath(0L))
    writeManifestRow(spark, out, seg = 0L, nEdited = 0L, nAdded = 0L,
      nRemoved = 0L, cb = cb)
    out
  }

  /** Latest pairs/clusters version under `dir` (subdirs named v<seg>). */
  def latestVersion(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"latestVersion: no versions under $dir")
    val vs = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("v")).map(_.drop(1).toLong)
    require(vs.nonEmpty, s"latestVersion: no v<seg> dirs under $dir")
    vs.max
  }

  /** The ONE segment-resolution rule (shared with [[graft.api.SearchApi]]'s
    * startup gate): only the absent-`seg`-column case reads as segment 0
    * (a legacy single-segment artifact); read errors propagate — a broken
    * artifact must fail loudly, never pass as "segment 0". */
  def maxSegOrZero(df: DataFrame): Long =
    if (!df.columns.contains("seg")) 0L
    else df.agg(max(col("seg"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }


  private def writeManifestRow(spark: SparkSession, a: CorpusArtifacts,
                               seg: Long, nEdited: Long, nAdded: Long,
                               nRemoved: Long,
                               cb: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    val termFp = tombstoneFingerprint(
      spark.read.parquet(a.termTombstonesPath))
    val ivfFp = tombstoneFingerprint(spark.read.parquet(a.ivfTombstonesPath))
    Seq((seg, nEdited, nAdded, nRemoved,
        Quantize.codebookFingerprint(cb), termFp, ivfFp))
      .toDF("seg", "n_edited", "n_added", "n_removed",
        "codebook_fp", "term_tombstone_fp", "ivf_tombstone_fp")
      .coalesce(1).write.mode("append").parquet(a.manifestPath)
  }
}
