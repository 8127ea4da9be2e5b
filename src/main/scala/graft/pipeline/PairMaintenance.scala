package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Scope

/**
 * Incremental maintenance of the exact n-gram-Jaccard pair set and its
 * connected-component labels — the scale path behind the p83 full-recompute
 * churn baseline: a corpus refresh should cost work proportional to its
 * BLAST RADIUS (changed docs + the df-boundary ripple), never a fresh
 * all-pairs pass over the corpus.
 *
 * The persisted artifact is a hashed-shingle postings index riding the
 * exact merge-on-read contract as [[TextStats]]' term index (Lucene/Delta
 * segments over parquet): `(sh, doc_id, seg)` bucket-partitioned by
 * `pmod(sh, buckets)`, a `(doc_id, set_size, seg)` sidecar, a 1-row meta
 * sidecar carrying the bucket count, and `(doc_id, before_seg)` tombstones
 * killing a doc's rows in earlier segments. A refresh appends the changed
 * docs' postings as a new segment and records tombstones — the
 * corpus-sized seg-0 postings never rewrite.
 *
 * EXACTNESS (the property the p91 oracle gates): a pair of two UNCHANGED
 * docs can still change under [[Dedup.ngramJaccardPairs]]' semantics,
 * because a shared gram's document frequency may cross the `[2, maxDocFreq]`
 * eligibility boundary when changed/removed docs add or drop occurrences.
 * [[incrementalClusters]] therefore computes each delta gram's df under the
 * OLD and NEW tombstone states, finds the boundary-CROSSING grams, and
 * widens the recompute set to every alive doc containing one — the exact
 * dependency closure, so the refreshed pair set equals a full recompute
 * gram-for-gram. CC then re-runs ONLY on the touched components (old
 * components holding any seed doc), stitched back onto the untouched
 * labels — a component with no dropped pair, no new pair and no member
 * churn cannot change its min-id label.
 *
 * Scale shape per refresh: the postings index scans (columnar, pruned to
 * 3 narrow columns, no corpus text) feed broadcast semi-joins against
 * delta-sized id/gram sets; the only shuffles are the delta-gram df folds
 * and the probe-partner intersection aggregate, all keyed and bounded by
 * the blast radius; connected components run on the touched subgraph
 * only. All small sides (changed ids, delta grams, crossing grams, seeds,
 * touched labels, sub-corpus ids) are refresh-blast-radius-bounded in
 * production, but only the genuinely delta-sized ones carry a broadcast
 * HINT; the radius-derived sets materialize eagerly and let AQE broadcast
 * them when they actually fit (a pathological churn can grow them toward
 * index size, where a forced broadcast would OOM the driver).
 *
 * No analog in the reference (carbonapi has no corpus dedup surface); the
 * construction follows the published MoR segment model and the r13 term
 * index.
 */
object PairMaintenance {

  private def writeMeta(spark: SparkSession, dir: String, buckets: Int,
                        k: Int): Unit = {
    import spark.implicits._
    Seq((buckets, k)).toDF("buckets", "k").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir.meta")
  }

  private def readMeta(spark: SparkSession, dir: String): (Int, Int) = {
    val r = spark.read.parquet(s"$dir.meta").select("buckets", "k").head()
    (r.getInt(0), r.getInt(1))
  }

  /** Hashed distinct k-shingle postings for one batch at one segment. */
  private def postings(docs: DataFrame, seg: Long, buckets: Int,
                       k: Int): DataFrame =
    docs.select(col("doc_id"), Dedup.wordsOf(col("text")).as("_w"))
      .select(col("doc_id"),
        explode(transform(Dedup.shinglesOf(col("_w"), k),
          s => xxhash64(s))).as("sh"))
      .withColumn("seg", lit(seg))
      .withColumn("bucket", pmod(col("sh"), lit(buckets.toLong)).cast("int"))

  /** Per-doc distinct-shingle set size for one batch at one segment. */
  private def sizes(docs: DataFrame, seg: Long, k: Int): DataFrame =
    docs.select(col("doc_id"),
        size(Dedup.shinglesOf(Dedup.wordsOf(col("text")), k))
          .cast("long").as("set_size"))
      .withColumn("seg", lit(seg))

  def writeShingleIndex(docs: DataFrame, dir: String, k: Int = 3,
                        buckets: Int = 64): Unit = {
    postings(docs, seg = 0L, buckets, k)
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    sizes(docs, seg = 0L, k).write.mode("overwrite").parquet(s"$dir.sizes")
    writeMeta(docs.sparkSession, dir, buckets, k)
  }

  /** Delta-sized segment append — the changed docs' postings and set
    * sizes; the caller records tombstones for edited/deleted docs exactly
    * as with [[TextStats.appendToTermIndex]]. */
  def appendToShingleIndex(docs: DataFrame, dir: String, seg: Long): Unit = {
    require(seg > 0L, "appendToShingleIndex: appended segments start at 1")
    val (buckets, k) = readMeta(docs.sparkSession, dir)
    postings(docs, seg, buckets, k)
      .write.mode("append").partitionBy("bucket").parquet(dir)
    sizes(docs, seg, k).write.mode("append").parquet(s"$dir.sizes")
  }

  /** The offline janitor (the [[TextStats.compactTermIndex]] twin):
    * rewrite the ALIVE postings and set-size sidecar as a fresh seg-0
    * index at `outDir`, carrying the meta sidecar — a full drop-in for a
    * fresh [[writeShingleIndex]] build, after which the tombstone table
    * is empty and the next [[incrementalClusters]] refresh starts clean. */
  def compactShingleIndex(spark: SparkSession, indexDir: String,
                          tombstones: DataFrame, outDir: String): Unit = {
    require(outDir != indexDir,
      "compactShingleIndex: outDir must be a fresh location (the scan reads indexDir)")
    TextStats.dropTombstoned(spark.read.parquet(indexDir), Some(tombstones), "doc_id")
      .withColumn("seg", lit(0L))
      .write.mode("overwrite").partitionBy("bucket").parquet(outDir)
    TextStats.dropTombstoned(spark.read.parquet(s"$indexDir.sizes"), Some(tombstones), "doc_id")
      .withColumn("seg", lit(0L))
      .write.mode("overwrite").parquet(s"$outDir.sizes")
    val (b, k) = readMeta(spark, indexDir)
    writeMeta(spark, outDir, b, k)
  }

  /**
   * The incremental refresh: new `(doc_id, cluster_id)` labels and the
   * refreshed exact pair set, equal to a full
   * [[Dedup.ngramJaccardPairs]] + [[Dedup.dedupClusters]] recompute
   * over the refreshed corpus.
   *
   * Inputs: `indexDir` — the shingle index AFTER the refresh's segment
   * append; `oldPairs`/`oldCC` — the previous build's persisted pair set
   * and labels; `changedIds` — edited + added doc ids (1-col `doc_id`);
   * `removedIds` — deleted doc ids; `tombstonesOld`/`tombstonesNew` — the
   * index tombstone state before/after the refresh (old is empty for a
   * fresh seg-0 build); `refreshSegFrom` — the first segment this refresh
   * appended (the OLD corpus state is `seg < refreshSegFrom` under the old
   * tombstones — newly appended rows are invisible to it).
   *
   * Returns (newCC, newPairs) — both are the artifacts the next refresh
   * consumes, closing the loop.
   */
  def incrementalClusters(spark: SparkSession, indexDir: String,
                          oldPairs: DataFrame, oldCC: DataFrame,
                          changedIds: DataFrame, removedIds: DataFrame,
                          tombstonesOld: DataFrame, tombstonesNew: DataFrame,
                          refreshSegFrom: Long,
                          threshold: Double = 0.5,
                          maxDocFreq: Long = 1000): (DataFrame, DataFrame) = {
    require(maxDocFreq <= Int.MaxValue - 1,
      "incrementalClusters: maxDocFreq too large")
    // alive-ness under either tombstone state as per-row FLAGS from one
    // broadcast tombstone fold (dead iff seg < max(before_seg) over the
    // doc's tombstones) — so one index scan can serve both states, instead
    // of one anti-join scan per state per consumer

    // every small frame below materializes EAGERLY (a checkpoint into the
    // caller's scope — the returned frames read them):
    // they are referenced 2-4 times each, and a lazy plan would re-run
    // the full index scans feeding them once per reference (measured 35 s
    // → the fix; the frames are churn-gram-df-mass-bounded by contract).
    // The whole refresh costs FOUR narrow index scans — delta grams, the
    // delta grams' posting slice, the probe docs' grams, the probe grams'
    // posting slice — every aggregate and join after a scan runs on a
    // materialized restricted slice, never a rescan. Gram-cardinality
    // joins carry NO broadcast hint — sizes are known after
    // materialization, AQE picks broadcast exactly when they fit.

    // the gram-keyed slices below scale with the churn's gram-DF MASS —
    // delta-bounded in production, but a pathological churn (every copy
    // of a duplicated family touched) can approach index size, so they
    // materialize eagerly to DISK_ONLY (no unroll heap — a checkpoint
    // OOM'd the 100× sweep) into their own nested scope, released before
    // return (every consumer below is itself eager, so nothing re-reads
    // them afterwards)
    val slices = Scope.open()
    val sc = spark.sparkContext
    def slice(df: DataFrame, tag: String): DataFrame = {
      sc.setJobDescription(s"incrementalClusters: $tag")
      try {
        val p = slices.persist(df, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        p.count(); p
      } finally sc.setJobDescription(null)
    }
    def labeled[T](tag: String)(f: => T): T = {
      sc.setJobDescription(s"incrementalClusters: $tag")
      try f finally sc.setJobDescription(null)
    }
    try {

    // r18: BOTH tombstone folds materialize in ONE job and broadcast from
    // the checkpoint — the folds are tombstone-table-sized, but their lazy
    // plans re-ran the caller's tombstone derivations (corpus-projection
    // scans) inside EVERY job that touches the index or the sizes sidecar
    // (~8 embedded rescans per refresh before this)
    val tombF = labeled("tombFold")(Scope.checkpoint(
      tombstonesOld.select(col("doc_id"), col("before_seg"), lit(0).as("_w"))
        .unionByName(tombstonesNew.select(col("doc_id"), col("before_seg"),
          lit(1).as("_w")))
        .groupBy("doc_id", "_w").agg(max(col("before_seg")).as("_b"))))
    val bo = tombF.where(col("_w") === 0).select(col("doc_id"), col("_b").as("_bo"))
    val bn = tombF.where(col("_w") === 1).select(col("doc_id"), col("_b").as("_bn"))
    val idx = spark.read.parquet(indexDir).select("sh", "doc_id", "seg")
      .join(broadcast(bo), Seq("doc_id"), "left")
      .join(broadcast(bn), Seq("doc_id"), "left")
      .withColumn("_aliveOld", col("seg") < refreshSegFrom &&
        col("seg") >= coalesce(col("_bo"), lit(0L)))
      .withColumn("_aliveNew", col("seg") >= coalesce(col("_bn"), lit(0L)))
      .select("sh", "doc_id", "_aliveOld", "_aliveNew")

    // scans 1+2) delta grams (every gram whose df could have moved — grams
    //    of any changed or removed doc, ANY segment: the index still holds
    //    tombstoned rows) flowing STRAIGHT into their full posting slice.
    //    r17: deltaGrams is referenced exactly once, so it rides inside the
    //    deltaHits job instead of paying its own eager materialization —
    //    df under both states and the crossing-gram holders all derive
    //    from this one frame. Eligibility = df in [2, maxDocFreq]
    //    (ngramJaccardPairs' inter filter); a flip is a CROSSING gram.
    // r18: deltaIds is referenced exactly once (the semi-join below) and
    // carries an explicit broadcast hint — it rides inside the deltaHits
    // job instead of paying its own eager-checkpoint job
    val deltaIds = broadcast(changedIds.select(col("doc_id"))
      .unionByName(removedIds.select(col("doc_id"))).distinct())
    val deltaGrams = idx.join(deltaIds, Seq("doc_id"), "left_semi")
      .select("sh").distinct()
    val deltaHits = slice(idx.join(deltaGrams, Seq("sh"), "left_semi"), "deltaHits")
    val eligible = (c: org.apache.spark.sql.Column) =>
      c >= 2L && c <= maxDocFreq
    val crossing = deltaHits.groupBy("sh")
      .agg(sum(col("_aliveOld").cast("long")).as("df_old"),
        sum(col("_aliveNew").cast("long")).as("df_new"))
      .where(eligible(col("df_old")) =!= eligible(col("df_new")))
      .select("sh")

    // blast radius: changed docs plus every ALIVE doc holding a crossing
    // gram (their unchanged pairs can change through the df boundary
    // alone) — derived from the slice, not a rescan
    val expandedIds = deltaHits.where(col("_aliveNew"))
      .join(crossing, Seq("sh"), "left_semi")
      .select("doc_id").distinct()
    // NO broadcast hint on the blast-radius id sets (probeIds/dropIds and
    // seeds/touched below): delta-sized in production, but a pathological
    // churn can pull the crossing-gram holder set toward index size, and a
    // forced broadcast then OOMs the driver instead of degrading to a
    // shuffle join. They are eager checkpoints, so AQE knows their
    // true size and broadcasts exactly when they fit — same policy as the
    // gram-keyed joins.
    // r18: probeIds and dropIds (dropIds ⊇ probeIds ∪ removedIds) share ONE
    // materialization job — a probe flag per blast-radius id — instead of
    // two sequential checkpoints over overlapping unions
    val radius = labeled("radiusIds")(Scope.checkpoint(changedIds.select(col("doc_id"))
      .withColumn("_p", lit(1L))
      .unionByName(expandedIds.withColumn("_p", lit(1L)))
      .unionByName(removedIds.select(col("doc_id")).withColumn("_p", lit(0L)))
      .groupBy("doc_id").agg(max(col("_p")).as("_p"))))
    val probeIds = radius.where(col("_p") === 1L).select("doc_id")
    val dropIds = radius.select("doc_id")

    // scan 3 + 4) recompute the blast radius' pairs against the index:
    //    probe grams, then the probe grams' posting slice. r18: both scans
    //    ride ONE eager job — the probe-gram distinct is a subquery of the
    //    posting-slice job (the old shape materialized the probe grams as
    //    their own persist+count job and DISK_ONLY copy first)
    val probeSh = idx.where(col("_aliveNew"))
      .join(probeIds, Seq("doc_id"), "left_semi")
      .select("sh").distinct()
    // each posting row carries its probe flag (the radius join is
    // blast-radius-sized; a doc outside the radius is never a probe)
    val hits0 = slice(idx.where(col("_aliveNew"))
      .join(probeSh, Seq("sh"), "left_semi")
      .join(radius, Seq("doc_id"), "left")
      .select(col("sh"), col("doc_id").as("_oid"),
        coalesce(col("_p"), lit(0L)).as("_p")), "hits0")
    // r18: the probe-pair intersection counts via the r17 one-pass bounded
    // posting lists (the ngramJaccardPairs shape): fold each gram's full
    // alive posting list AND its probe sublist in one size-capped
    // aggregate — the [2, maxDocFreq] size filter on the full list IS the
    // old probe-df eligibility (both sublists are ≤ cap whenever the gram
    // survives, so both arrive sorted) — then emit the gram's pairs
    // MAP-SIDE: probe×probe i<j pairs plus probe×partner pairs, each
    // exactly once, never partner×partner (those pairs live in keptPairs).
    // Replaces the probeGrams ⋈ probeDf ⋈ hits join web: two gram-keyed
    // shuffle joins, the probe-probe double-count correction and the
    // post-aggregate probe filter all disappear; per-gram work stays
    // p·d like the join shape (NOT d²/2 — at a production blast radius
    // p ≪ d and the full pair explode would dwarf the old join).
    def fslice(x: org.apache.spark.sql.Column, start: org.apache.spark.sql.Column,
               length: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.slice(x, start, length)
    val inter = hits0.groupBy("sh")
      .agg(graft.functions.SketchExpressions.boundedCollectLong(
          col("_oid"), maxDocFreq.toInt).as("ids"),
        graft.functions.SketchExpressions.boundedCollectLong(
          when(col("_p") === 1L, col("_oid")), maxDocFreq.toInt).as("pids"))
      .where(size(col("ids")) >= 2 && size(col("ids")) <= maxDocFreq)
      .select(explode(flatten(concat(
        transform(col("pids"), (a, i) =>
          transform(fslice(col("pids"), i + lit(2), size(col("pids"))),
            b => struct(a.as("doc_a"), b.as("doc_b")))),
        transform(col("pids"), a =>
          transform(array_except(col("ids"), col("pids")),
            b => struct(least(a, b).as("doc_a"), greatest(a, b).as("doc_b"))))
      ))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // same alive rule as the index flags, from the same checkpointed fold
    // (alive iff seg >= max(before_seg)): the old tombstone anti-join
    // re-ran the caller's tombstone derivation per consumer
    val szAll = spark.read.parquet(s"$indexDir.sizes")
      .join(broadcast(bn), Seq("doc_id"), "left")
      .where(col("seg") >= coalesce(col("_bn"), lit(0L)))
      .select(col("doc_id"), col("set_size"))
    val newPairsRecomputed = labeled("newPairsRecomputed")(Scope.checkpoint(inter
      .join(szAll.select(col("doc_id").as("doc_a"), col("set_size").as("_sa")), "doc_a")
      .join(szAll.select(col("doc_id").as("doc_b"), col("set_size").as("_sb")), "doc_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("_sa") + col("_sb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")))

    // 5) the refreshed pair artifact: old pairs not touching the blast
    //    radius + the recomputed radius pairs
    val da = dropIds.select(col("doc_id").as("doc_a"))
    val db = dropIds.select(col("doc_id").as("doc_b"))
    val keptPairs = oldPairs
      .join(da, Seq("doc_a"), "left_anti")
      .join(db, Seq("doc_b"), "left_anti")
    // the using-column joins above rotate the key columns to the front —
    // pin the artifact's (doc_a, doc_b, jaccard) order for positional readers
    val newPairs = keptPairs.unionByName(newPairsRecomputed)
      .select("doc_a", "doc_b", "jaccard")

    // 6) CC only on the touched components: seeds = blast radius + every
    //    endpoint of a dropped old pair + every endpoint of a recomputed
    //    pair (merges pull their partner components in; splits need the
    //    orphaned partners relabelled)
    val droppedOld = oldPairs
      .join(da, Seq("doc_a"), "left_semi")
      .unionByName(oldPairs.join(db, Seq("doc_b"), "left_semi"))
    // r17: seeds is referenced exactly once (by touched) — it rides inside
    // touched's checkpoint job instead of paying its own; every seed source
    // is either an input, an eager checkpoint (dropIds/newPairsRecomputed)
    // or a cheap semi-join over oldPairs (droppedOld)
    val seeds = dropIds.select("doc_id")
      .unionByName(droppedOld.select(col("doc_a").as("doc_id")))
      .unionByName(droppedOld.select(col("doc_b").as("doc_id")))
      .unionByName(newPairsRecomputed.select(col("doc_a").as("doc_id")))
      .unionByName(newPairsRecomputed.select(col("doc_b").as("doc_id")))
      .distinct()
    val touched = labeled("touched")(Scope.checkpoint(
      oldCC.join(seeds, Seq("doc_id"), "left_semi").select("cluster_id").distinct()))
    // sub-corpus: touched components' surviving members + added docs
    // (changed ids with no old label)
    val subDocs = oldCC.join(touched, Seq("cluster_id"), "left_semi")
      .select("doc_id")
      .join(broadcast(removedIds.select("doc_id")), Seq("doc_id"), "left_anti")
      .unionByName(changedIds.select("doc_id")
        .join(oldCC.select("doc_id"), Seq("doc_id"), "left_anti"))
      .distinct()
    // a kept pair has both endpoints in one old component, so doc_a alone
    // decides membership; recomputed pairs are in by construction
    val subPairs = keptPairs
      .join(oldCC.select(col("doc_id").as("doc_a"), col("cluster_id")), "doc_a")
      .join(touched, Seq("cluster_id"), "left_semi")
      .select("doc_a", "doc_b", "jaccard")
      .unionByName(newPairsRecomputed)
    // constraint-stripping re-wrap (blast-radius-sized, one deserialization
    // boundary): the composed join/filter constraints riding subDocs/
    // subPairs survive the star loop's checkpoints (LogicalRDD keeps
    // origin constraints) and trip Catalyst's union constraint rewrite
    // ("key not found: u#N") inside dedupClusters' symmetric union
    def strip(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    // r18: no eager checkpoint on the CC result — the star loop inside is
    // eager (its rounds are checkpoint+count jobs), but the returned
    // label-join tail references only the loop's final checkpointed edge
    // set and the strip()-RDD inputs, so it rides the CALLER's one action
    // instead of paying a materialization job here
    val subCC = labeled("subCC")(Dedup.dedupClusters(strip(subDocs), strip(subPairs)))
    val untouched = oldCC.join(touched, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
    // the returned frames reference only inputs and the eager checkpoints
    // above — the disk slices can release now, whatever the caller does
    (untouched.unionByName(subCC.select("doc_id", "cluster_id")), newPairs)
    } finally slices.close()
  }
}
