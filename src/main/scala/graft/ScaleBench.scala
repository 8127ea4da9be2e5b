package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Empirical scale-story validation: synthesize a 10× corpus from the largest
 * driver SF (more series, more docs, more vectors — the axis a 100 TB
 * deployment actually grows along), run the headline queries at 1× and 10×,
 * and print per-query growth ratios.
 *
 * The copies are deterministic (no RNG) and perturbed so they do NOT form
 * artificial near-duplicate groups — a naive 10× copy would multiply every
 * doc's dup-pair count by C(10,2) and turn the sub-quadratic dedup claim
 * into an unreadable measurement:
 *   - events: event_type gets a per-copy suffix → 10× distinct series
 *   - documents: per-copy vowel substitution rewrites most words → disjoint
 *     shingle sets across copies
 *   - embeddings: per-(copy, dim) sinusoidal offset → cosine < near-dup
 *     threshold across copies
 *
 * Usage: runMain graft.ScaleBench [baseDir] [workDir]
 * (defaults /root/testdata/sf0.1 → /tmp/graft_sf1; generation is idempotent)
 */
object ScaleBench {

  /** Copy factor: 10 by default; SPARK_GRAFT_COPIES=100 runs the 100×
    * spot-check (the vowel×consonant rotation grid below keeps up to 100
    * copies pairwise shingle-disjoint). */
  private val Copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt

  def generate(spark: SparkSession, baseDir: String, workDir: String): Unit = {
    generateCore(spark, baseDir, workDir)
    generateTpch(spark, baseDir, workDir)
  }

  private def generateCore(spark: SparkSession, baseDir: String, workDir: String): Unit = {
    val done = new java.io.File(s"$workDir/_DONE")
    if (done.exists()) return
    val vowelMaps = // copy 0 is the identity; others rotate the vowel set
      Seq("aeiou", "eioua", "iouae", "ouaei", "uaeio",
        "aeiuo", "eiuoa", "iuoae", "uoaei", "oaeiu")
    // a second rotation axis over frequent consonants: copy i applies
    // vowelMaps(i%10) ∘ consMaps(i/10), so all 100 (vowel, consonant)
    // combinations rewrite words differently — copies 1 and 11 would
    // otherwise be byte-identical and plant artificial dup clusters
    val consMaps =
      Seq("rstln", "stlnr", "tlnrs", "lnrst", "nrstl",
        "nltsr", "ltsrn", "tsrnl", "srnlt", "rnlts")

    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(i => f(df, i)).reduce(_ unionByName _)

    val events = spark.read.parquet(s"$baseDir/events.parquet")
    copies(events) { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("event_id", col("event_id") + lit(i.toLong * 100_000_000L))
        .withColumn("event_type", concat(col("event_type"), lit(s"_$i")))
        .withColumn("value", col("value") * lit(1.0 + i * 0.01))
    }.write.mode("overwrite").parquet(s"$workDir/events.parquet")

    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    copies(docs) { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 10_000_000L))
        .withColumn("text", translate(translate(col("text"),
          "aeiou", vowelMaps(i % 10)), "rstln", consMaps(i / 10 % 10)))
    }.write.mode("overwrite").parquet(s"$workDir/documents.parquet")

    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    copies(emb) { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("vec_id", col("vec_id") + lit(i.toLong * 10_000_000L))
        .withColumn("embedding",
          zip_with(col("embedding"),
            transform(sequence(lit(1), size(col("embedding"))),
              j => sin(j.cast("double") * lit(i.toDouble))),
            (x, s) => (x + lit(0.3f) * s.cast("float")).cast("float")))
    }.write.mode("overwrite").parquet(s"$workDir/embeddings.parquet")

    done.createNewFile()
  }

  /** Fact-table scaling for the relational anchors (q08's per-nation
    * top-k): Copies× orders/lineitem under key offsets, dimensions
    * unchanged — so each 25-value nation group grows Copies× while the
    * kept rows stay 3, exactly the low-cardinality-top-k stress axis.
    * Separate guard from _DONE so pre-existing work dirs from earlier
    * rounds regenerate just the relational tables. */
  private def generateTpch(spark: SparkSession, baseDir: String, workDir: String): Unit = {
    // the guard checks the LAST artifact written — a crash mid-generation
    // must regenerate, not leave a half-written dir that every later run
    // skips over
    if (new java.io.File(s"$workDir/part.parquet/_SUCCESS").exists()) return
    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(i => f(df, i)).reduce(_ unionByName _)
    copies(spark.read.parquet(s"$baseDir/lineitem.parquet")) { (df, i) =>
      if (i == 0) df
      else df.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 1_000_000_000L))
    }.write.mode("overwrite").parquet(s"$workDir/lineitem.parquet")
    copies(spark.read.parquet(s"$baseDir/orders.parquet")) { (df, i) =>
      if (i == 0) df
      // same o_custkey → same customers/nations: only the group SIZE grows
      else df.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 1_000_000_000L))
    }.write.mode("overwrite").parquet(s"$workDir/orders.parquet")
    Seq("customer", "nation", "region", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$workDir/$t.parquet")
    }
  }

  /** Row-multiplied events variant for the as-of / trailing-window
    * feature anchors (q12/q13): the standard grid suffixes `event_type`
    * per copy, so those queries' view/purchase cores never see more rows
    * per user — the corpus grows along an axis their joins don't stress.
    * This axis multiplies the ROWS INSIDE each key: copy i keeps
    * user/event_type and shifts ts by i seconds (keeping (user, ts)
    * distinct across copies, so q12's per-(user, ts) feature dedup keeps
    * every copy), so each user's view history and purchase probe set both
    * grow Copies× — the one user-keyed shuffle and the 2-bin candidate
    * bound are what actually gets measured. */
  private def generateRowMult(spark: SparkSession, baseDir: String, workDir: String): Unit = {
    if (new java.io.File(s"$workDir/events.parquet/_SUCCESS").exists()) return
    val ev = spark.read.parquet(s"$baseDir/events.parquet")
    val shifted = (0 until Copies).map { i =>
      if (i == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(i.toLong * 100_000_000L))
        .withColumn("ts", ev.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => // epoch nanos
            col("ts") + lit(i.toLong * 1_000_000_000L)
          case _ => col("ts") + expr(s"INTERVAL '$i' SECOND")
        })
        .withColumn("value", col("value") * lit(1.0 + i * 0.01))
    }.reduce(_ unionByName _)
    shifted.write.mode("overwrite").parquet(s"$workDir/events.parquet")
  }

  /** Signals-constant document growth for the vocab-keyed scorers (p77):
    * the standard grid's vowel/consonant rotation grows the VOCABULARY
    * with the corpus, so p77's 100× curve mixes two axes — more docs AND
    * ~60× more distinct words through its LM/NB vocab aggregates. This
    * axis multiplies docs with text UNCHANGED (doc_id offset only):
    * vocab cardinality, score spread and therefore the 4dp histogram
    * window sizes stay fixed while the doc-keyed scans and shuffles grow
    * Copies× — isolating the rank-window cost the ensemble's scale claim
    * rests on. Duplicate texts are fine here: the ensemble scores, it
    * does not dedup. */
  private def generateDocMult(spark: SparkSession, baseDir: String, workDir: String): Unit = {
    if (new java.io.File(s"$workDir/documents.parquet/_SUCCESS").exists()) return
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    (0 until Copies).map { i =>
      if (i == 0) docs
      else docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10_000_000L))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$workDir/documents.parquet")
  }

  /** Best-of-`reps` seconds of `run`, each rep in its own scope, so a rep
    * never reads what an earlier rep cached and per-query persists never
    * accumulate and evict each other (in-suite numbers would turn
    * order-dependent). A failed rep contributes NO timing — elapsed-to-
    * exception would let a fast failure publish itself as the best-of
    * number; if every rep fails, the -1 sentinel rides into the emitted
    * JSON where a ratio consumer can't miss it (stderr alone is droppable). */
  private def bestOf(name: String, reps: Int)(run: => Unit): Double = {
    val times = (1 to reps).flatMap { _ =>
      graft.core.Scope { _ =>
        val t0 = System.nanoTime()
        try { run; Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => System.err.println(s"[scale] $name failed: $e"); None }
      }
    }
    if (times.isEmpty) -1.0 else times.min
  }

  /** p77 on one documents dir (docmult axis) or the q12/q13 pair on one
    * events dir (rowmult axis — that dir carries only events.parquet):
    * untimed scan and codegen warm-up of `table`, then best-of-reps.
    * Timed action is toRdd.count(), NOT Dataset.count(): count() lets
    * Catalyst prune every feature column, which deletes the as-of window
    * and the bucketed join body — the exact work the rowmult axis exists
    * to measure. toRdd executes the full physical plan (all output
    * columns, including the catalog entry's determinism orderBy — present
    * equally at 1× and N×, so the ratio still isolates growth). */
  private def runMult(spark: SparkSession, dir: String, table: String,
                      qs: Seq[String]): Seq[(String, Double)] = {
    def full(q: String): Unit = SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
    spark.read.parquet(s"$dir/$table.parquet").count() // untimed scan warm
    qs.foreach(q => graft.core.Scope(_ => full(q))) // codegen warm
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    qs.map(name => name -> bestOf(name, reps)(full(name)))
  }
  private val DocMult = Seq("p77_quality_ensemble")
  private val RowMult = Seq("q12_pit_features", "q13_window_features")


  /** Headline subset: the scan/agg/window graphite shapes plus every
    * pipeline operator whose growth curve the scale claim rests on. */
  private val Headline = Seq(
    "g01_sum_series", "g02_avg_series", "g08_percentile_series",
    "g14_moving_avg", "g16_summarize_day", "g18_groupbynode", "g41_countvalues",
    "p01_dedup_exact", "p02_token_count", "p04_language_id",
    "p05_minhash_pairs", "p15_minhash_oph", "p06_simhash_pairs", "p11_ngram_jaccard",
    "p12_embed_neardup", "p14_srp_neardup", "p07_cosine_topk", "p09_ivf_topk",
    "p16_contamination", "p17_tfidf_terms", "p18_kmeans_assign",
    "p19_pii_signals", "p20_vocab", "p21_dedup_clusters",
    "p23_pack_plan", "p27_unigram_lm", "p28_sq_quantize", "p29_pq_topk",
    "p30_shared_spans", "p31_contamination_bloom", "p32_train_val_test",
    "p33_length_buckets", "p34_ivf_pq_serve", "p35_dedup_clusters_star",
    "p36_semantic_dedup", "p37_remove_spans", "p38_quality_keeper",
    "p39_contamination_2phase", "p40_cluster_sample", "p41_ppl_buckets",
    "p42_dsir_select", "p43_gopher_rules", "p44_pca_whiten", "p45_source_mix",
    "p46_shard_plan", "p47_word_entropy", "p48_source_overlap",
    "p49_bpe_pairs", "p50_bigram_lm", "p51_token_encode",
    "p52_neardup_incremental", "q07_sessions",
    // r7: the salted two-phase per-nation top-k and the storage-layer rows
    "q08_top_orders_per_nation", "g146_partitioned_fetch", "g147_tiered_fetch",
    "p53_corpus_report", "p54_curriculum_plan",
    // r8: the routed store and the classifier/drift/pruning operators
    "g148_routed_fetch", "p55_nb_domain", "p56_source_drift", "p57_prototype_prune",
    "p58_token_budget", "p59_source_cap", "p60_epoch_plan", "p61_pii_redact",
    "p62_dedup_weights", "p63_split_leakage", "p64_snapshot_diff", "p65_zipf_fit",
    "p66_weighted_sample", "m05_video_frames", "p67_nb_calibration2",
    "q04_order_priority", "q09_inactive_customers",
    // r9: repetition battery, embedding decontamination, source percentile,
    // perceptual image dedup
    "p68_repetition2", "p69_embed_decontam", "p70_source_percentile",
    "m06_image_neardup", "q10_small_qty_parts", "p72_split_by_cluster",
    "p73_score_drift",
    // r10: tukey's histogram-CDF rewrite (the r9 perf-weak row), the
    // fertility/memorization audits, the Q11 HAVING-scalar anchor
    "g36_tukey_above", "p74_tokenizer_fertility", "p75_memorization_audit",
    "q11_revenue_share_parts", "q12_pit_features", "q13_window_features",
    "p76_heavy_hitters", "q14_disjunctive_promo",
    // r11: the 3-fact-join anchor (the heaviest driver-capture row, never
    // curved before — fact side grows, customer/nation dims fixed), plus
    // the lineage manifest family
    "q02_revenue_by_nation", "p78_shard_manifest", "p79_manifest_diff", "p80_backfill_plan",
    "p77_quality_ensemble",
    // r12: the audio perceptual-dedup twin + the Q21 multi-EXISTS anchor
    "m07_audio_neardup", "q15_waiting_suppliers",
    // r13: the rollup/star-join anchors and the split lineage family
    "q16_rollup_revenue", "q17_market_share", "q18_large_orders",
    "p81_split_manifest", "p82_split_moves", "p83_cluster_split_moves",
    "p84_term_search", "p85_term_search_or", "p86_term_search_refresh",
    "q19_never_ordered_parts", "p87_bm25_topk", "p88_hybrid_rrf", "p89_phrase_search", "p90_doc_provenance", "m08_video_neardup",
    // r15: the maintained-vector-index serve and the autocomplete row
    "p96_ivf_pq_refresh", "p97_complete_terms")

  private def runAll(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    new graft.store.EventSeriesStore(dir).allSeries(spark).count() // warm fixture
    // untimed codegen/scan warm-up per dir (like Bench): without it the
    // first timed query absorbs the whole-stage-codegen compile and the
    // base-vs-10x ratios of cheap queries read as <1
    graft.core.Scope { _ => SparkEntry.queries("g01_sum_series")(spark, dir).count() }
    spark.read.parquet(s"$dir/documents.parquet").count()
    spark.read.parquet(s"$dir/embeddings.parquet").count()
    val fixture = new graft.store.EventSeriesStore(dir).allSeries(spark)
    // single-shot timings are GC/cache-pressure-sensitive (a one-off pause
    // once measured p15 at 30 s where a re-run shows 2.3 s); best-of-REPS
    // keeps the ratios about plan shape, not scheduler luck
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    // SPARK_GRAFT_ONLY=p36,p37 → measure just those rows — full-headline
    // runs stay the default
    val selected = Headline.filter(SparkEntry.selected)
    // rows whose body Dataset.count() would DELETE via column pruning (the
    // manifest's md5+token fold reduces to a doc_id-only scan; the as-of
    // window and bucketed-join feature columns vanish the same way) are
    // timed with toRdd.count() — the full physical plan, all columns.
    // Everything else keeps count() for cross-round comparability.
    val forceFullEval = Set("p78_shard_manifest", "p79_manifest_diff", "p80_backfill_plan",
      "q12_pit_features", "q13_window_features",
      // the split manifests/matrices and the rollup/star anchors reduce to
      // tiny aggregates whose sum/avg expressions count() would prune away
      "p81_split_manifest", "p82_split_moves", "p83_cluster_split_moves",
      "q16_rollup_revenue", "q17_market_share", "p90_doc_provenance")
    // p52's catalog row times index build + probe TOGETHER; the curve
    // wants them apart — the build is ingest-side work amortized over
    // every later batch, the probe is the steady-state per-batch cost
    // (r13). Measured into separate synthetic rows on a split-off index
    // path so the catalog row's own index stays untouched.
    val p52Split: Seq[(String, Double)] =
      if (selected.contains("p52_neardup_incremental")) graft.core.Scope { _ =>
        val d = spark.read.parquet(s"$dir/documents.parquet")
        val path = Queries.ndIndexPath(dir) + "_split"
        // untimed warm pass on a 50-doc sample: the suite warm-up covers
        // scans but not the OPH/band codegen, and the FIRST build would
        // otherwise absorb the compile and invert the base-vs-x ratio
        graft.pipeline.Dedup.writeNearDupIndex(d.limit(50), path + "_warm")
        graft.pipeline.Dedup.nearDupAgainstIndex(d.limit(50), path + "_warm",
          threshold = 0.9).count()
        val t0 = System.nanoTime()
        graft.pipeline.Dedup.writeNearDupIndex(d, path)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val batch = d.where(pmod(col("doc_id"), lit(7)) === 0)
          .withColumn("doc_id", col("doc_id") + lit(10_000_000L))
        val t1 = System.nanoTime()
        graft.pipeline.Dedup.nearDupAgainstIndex(batch, path, threshold = 0.9).count()
        val tProbe = (System.nanoTime() - t1) / 1e9
        Seq("p52_index_build" -> tBuild, "p52_index_probe" -> tProbe)
      } else Nil
    // p84's catalog row also times build + query together; the curve wants
    // the steady-state query alone (the build is one-time ingest work)
    val p84Split: Seq[(String, Double)] =
      if (selected.contains("p84_term_search")) graft.core.Scope { _ =>
        val d = spark.read.parquet(s"$dir/documents.parquet")
        val path = Queries.ndIndexPath(dir) + "_ti_split"
        // untimed warm pass for the explode/agg codegen
        graft.pipeline.TextStats.writeTermIndex(d.limit(50), path + "_warm")
        graft.pipeline.TextStats.searchTermIndex(spark, path + "_warm",
          Seq("window", "scan", "merge")).count()
        val t0 = System.nanoTime()
        graft.pipeline.TextStats.writeTermIndex(d, path)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        graft.pipeline.TextStats.searchTermIndex(spark, path,
          Seq("window", "scan", "merge")).count()
        val tQuery = (System.nanoTime() - t1) / 1e9
        // the r14 query-only arms over the SAME one-time build: the
        // catalog rows p87/p89/p94 time build + query together, the flat
        // claim is about the steady state
        val t2 = System.nanoTime()
        graft.pipeline.TextStats.bm25TopK(spark, path,
          Seq("window", "scan", "merge"), k = 10).count()
        val tBm = (System.nanoTime() - t2) / 1e9
        val t3 = System.nanoTime()
        graft.pipeline.TextStats.phraseSearch(spark, path,
          Seq("table", "scan", "merge")).count()
        val tPh = (System.nanoTime() - t3) / 1e9
        val t4 = System.nanoTime()
        graft.pipeline.TextStats.prefixSearchTermIndex(spark, path, "sc").count()
        val tPre = (System.nanoTime() - t4) / 1e9
        val t5 = System.nanoTime()
        graft.pipeline.TextStats.globSearchTermIndex(spark, path, "sc[ae]n*").count()
        val tGlob = (System.nanoTime() - t5) / 1e9
        val t6 = System.nanoTime()
        graft.pipeline.TextStats.completeTerms(spark, path, "sc", k = 10).count()
        val tComp = (System.nanoTime() - t6) / 1e9
        Seq("p84_index_build" -> tBuild, "p84_index_query" -> tQuery,
          "p87_bm25_query" -> tBm, "p89_phrase_query" -> tPh,
          "p94_prefix_query" -> tPre, "p95_glob_query" -> tGlob,
          "p97_complete_query" -> tComp)
      } else Nil
    // the vector-index lifecycle asymmetry, measured: a corpus refresh
    // absorbed as ONE delta segment + tombstone-aware serve (the p96 MoR
    // path) vs the only alternative a write-once index had — full retrain
    // + re-encode + rewrite + serve. The base build is untimed (the
    // previous build's artifact, the p91 convention).
    val p96Split: Seq[(String, Double)] =
      if (selected.contains("p34_ivf_pq_serve")) graft.core.Scope { _ =>
        val S = graft.pipeline.Similarity
        val Q = graft.pipeline.Quantize
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val path = Queries.ndIndexPath(dir) + "_ivf_split"
        val cents = S.trainCentroids(emb, nlist = 8, iters = 3, sampleN = 2000)
        val cb = Q.trainPqCodebooks(emb, m = 16, ksub = 16, iters = 10, sampleN = 2000)
        S.writeIndex(Q.pqEncode(S.assignCells(emb, cents), cb), cents, path)
        val edited = emb.where(col("vec_id") % 7 =!= 0 && col("vec_id") % 5 === 0)
          .withColumn("embedding",
            transform(col("embedding"), x => (x * lit(1.5f)).cast("float")))
        val added = emb.where(col("vec_id") % 13 === 0)
          .withColumn("vec_id", col("vec_id") + 1000000L)
        val deleted = emb.where(col("vec_id") % 7 === 0).select("vec_id")
        val tomb = deleted.select(col("vec_id"), lit(Long.MaxValue).as("before_seg"))
          .unionByName(edited.select(col("vec_id"), lit(1L).as("before_seg")))
        val queries = emb.where(col("vec_id") < 10 &&
          col("vec_id") % 7 =!= 0 && col("vec_id") % 5 =!= 0)
        val t0 = System.nanoTime()
        S.appendToIvfIndex(edited.unionByName(added), path, cb, seg = 1L)
        val (idx, dc) = S.readIndex(spark, path)
        S.ivfPqTopK(idx, queries, cb, dc, k = 5, nprobe = 5, shortlist = 50,
          tombstones = Some(tomb)).count()
        val tRefresh = (System.nanoTime() - t0) / 1e9
        val path2 = path + "_rebuild"
        val t1 = System.nanoTime()
        val cb2 = S.retrainIvfIndex(spark, path, tomb, path2,
          nlist = 8, m = 16, ksub = 16, iters = 10, sampleN = 2000)
        val (idx2, dc2) = S.readIndex(spark, path2)
        S.ivfPqTopK(idx2, queries, cb2, dc2, k = 5, nprobe = 5,
          shortlist = 50).count()
        val tRebuild = (System.nanoTime() - t1) / 1e9
        Seq("p96_ivf_refresh" -> tRefresh, "p96_ivf_rebuild" -> tRebuild)
      } else Nil
    // p91's catalog row times the OLD build + the refresh together; the
    // scale claim is refresh-only (the old artifacts are the previous
    // build's outputs) — timed against p83's full recompute row
    val p91Split: Seq[(String, Double)] =
      if (selected.contains("p83_cluster_split_moves")) graft.core.Scope { _ =>
        import org.apache.spark.sql.functions._
        val d = spark.read.parquet(s"$dir/documents.parquet")
        val path = Queries.ndIndexPath(dir) + "_shx_split"
        val oldPairs = graft.core.Scope.checkpoint(graft.pipeline.Dedup
          .ngramJaccardPairs(d, k = 3, threshold = 0.5))
        val oldCC = graft.core.Scope.checkpoint(graft.pipeline.Dedup.dedupClusters(d, oldPairs))
        graft.pipeline.PairMaintenance.writeShingleIndex(d, path)
        val edited = d.where(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 === 0)
          .withColumn("text", concat(col("text"), lit(" rev2")))
        val added = d.where(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val changed = edited.unionByName(added).select("doc_id", "text")
        val deletedIds = d.where(col("doc_id") % 7 === 0).select("doc_id")
        val noTomb = d.select(col("doc_id"), lit(0L).as("before_seg")).limit(0)
        val tomb = deletedIds.select(col("doc_id"),
            lit(Long.MaxValue).as("before_seg"))
          .unionByName(edited.select(col("doc_id"), lit(1L).as("before_seg")))
        val t0 = System.nanoTime()
        graft.pipeline.PairMaintenance.appendToShingleIndex(changed, path, seg = 1L)
        val (newCC, newPairs) = graft.pipeline.PairMaintenance
          .incrementalClusters(spark, path, oldPairs, oldCC,
            changed.select("doc_id"), deletedIds, noTomb, tomb,
            refreshSegFrom = 1L)
        newPairs.count(); newCC.count()
        val tRefresh = (System.nanoTime() - t0) / 1e9
        // the ~1%-churn arm — the production steady state: refresh cost
        // must track CHURN, not corpus (the ~25% arm above deliberately
        // matches p83's refresh convention for the apples-to-apples row)
        // %89 guard mirrors refreshDelta's edit/delete exclusion: an id in
        // BOTH sets would append seg-1 postings instantly dead under the
        // MaxValue tombstone, inflating the append and skewing the churn
        val editedS = d.where(col("doc_id") % 97 === 0 && col("doc_id") % 89 =!= 0)
          .withColumn("text", concat(col("text"), lit(" rev2")))
        val addedS = d.where(col("doc_id") % 101 === 0)
          .withColumn("doc_id", col("doc_id") + 2000000L)
        val changedS = editedS.unionByName(addedS).select("doc_id", "text")
        val deletedS = d.where(col("doc_id") % 89 === 0).select("doc_id")
        val tombS = deletedS.select(col("doc_id"),
            lit(Long.MaxValue).as("before_seg"))
          .unionByName(editedS.select(col("doc_id"), lit(1L).as("before_seg")))
        val pathS = Queries.ndIndexPath(dir) + "_shx_small"
        graft.pipeline.PairMaintenance.writeShingleIndex(d, pathS)
        val t1 = System.nanoTime()
        graft.pipeline.PairMaintenance.appendToShingleIndex(changedS, pathS, seg = 1L)
        val (ccS, prS) = graft.pipeline.PairMaintenance
          .incrementalClusters(spark, pathS, oldPairs, oldCC,
            changedS.select("doc_id"), deletedS, noTomb, tombS,
            refreshSegFrom = 1L)
        prS.count(); ccS.count()
        val tSmall = (System.nanoTime() - t1) / 1e9
        Seq("p91_incremental_refresh" -> tRefresh,
          "p91_small_refresh" -> tSmall)
      } else Nil
    p52Split ++ p84Split ++ p91Split ++ p96Split ++ selected.map { name =>
      // untimed fixture re-warm between queries (same eviction artifact as
      // Bench: a heavy query's persists evict the shared series cache and
      // the next timed query pays the rebuild — the documented g18 7.57 s
      // in-suite vs 0.60 s isolated reading)
      fixture.count()
      name -> bestOf(name, reps) {
        val df = SparkEntry.queries(name)(spark, dir)
        if (forceFullEval(name)) df.queryExecution.toRdd.count() else df.count()
      }
    }
  }

  /** The metadata surface's own curve (find over a routed store's
    * persisted `_catalog`, cold TTL cache): the one surface whose cost
    * must track NAME CARDINALITY, not data volume — the catalog read is
    * `_catalog`-sized however big the point data grows. Returns (seconds,
    * result-node count). The routed store is built once per dir (the
    * build itself is untimed — ingest-side work). */
  private def catalogSurface(spark: SparkSession, dir: String): (Double, Long) = {
    val out = s"/tmp/graft_catbench_${java.lang.Integer.toHexString(dir.hashCode)}"
    if (!new java.io.File(s"$out/_catalog/_SUCCESS").exists())
      graft.store.RoutedSeriesStore.write(
        new graft.store.EventSeriesStore(dir).allSeries(spark), out,
        windowSec = 86400L, routeDepth = 2)
    val store = new graft.store.RoutedSeriesStore(out, 86400L, routeDepth = 2, Some(3600L))
    // warm pass pays codegen/footer reads; the timed pass is a COLD-cache
    // catalog read (the within-TTL path reads nothing at all)
    graft.api.Catalog.find(spark, store, "events.*")
    graft.api.Catalog.invalidateCatalogCache()
    val t0 = System.nanoTime()
    val n = graft.api.Catalog.find(spark, store, "events.*").size
    ((System.nanoTime() - t0) / 1e9, n.toLong)
  }

  /** End-to-end /search latency over one dir's PERSISTED artifacts — the
    * serving claim measured THROUGH the HTTP tier (driver planning +
    * probe + collect + marshal), not inferred from the engine query arms:
    * build term + IVF-PQ indexes (untimed — ingest-side), start the real
    * server, time each route warm (best of 3 after one untimed pass). */
  private def serveArm(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val S = graft.pipeline.Similarity
    val Q = graft.pipeline.Quantize
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ti = Queries.ndIndexPath(dir) + "_serve_ti"
    val ivf = Queries.ndIndexPath(dir) + "_serve_ivf"
    val cbp = Queries.ndIndexPath(dir) + "_serve_cb"
    graft.pipeline.TextStats.writeTermIndex(docs, ti)
    val cents = S.trainCentroids(emb, nlist = 8, iters = 3, sampleN = 2000)
    val cb = Q.trainPqCodebooks(emb, m = 16, ksub = 16, iters = 10, sampleN = 2000)
    S.writeIndex(Q.pqEncode(S.assignCells(emb, cents), cb), cents, ivf)
    Q.writeCodebooks(spark, cb, cbp)
    // cache OFF: the arm measures request compute, and with the TTL cache
    // on (the serving default) every post-warm rep would time a map lookup
    val api = new graft.api.SearchApi(spark, ti, ivf, cbp, cacheTtlSec = 0)
    val port = api.start()
    val qv = emb.where(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).toArray
    val vecParam = qv.map(_.toString).mkString(",")
    val client = java.net.http.HttpClient.newHttpClient()
    def hit(pq: String): Double = {
      val t0 = System.nanoTime()
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$pq")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200, s"$pq -> ${resp.body().take(200)}")
      (System.nanoTime() - t0) / 1e9
    }
    val routes = Seq(
      "serve_bm25" -> "/search?q=window+scan+merge&k=10",
      "serve_phrase" -> "/search?phrase=table+scan+merge&k=10",
      "serve_hybrid" -> s"/search?q=window+scan+merge&mode=hybrid&k=10&vec=$vecParam",
      "serve_glob" -> "/search?glob=sc%5Bae%5Dn*&k=10",
      "serve_complete" -> "/search?complete=sc&k=10")
    // the batching claim, measured (r15 ask #7): 10 distinct bm25 queries
    // as ONE bulk request (one pruned postings pass) vs 10 round-trips
    val tenQueries = Seq("window", "scan", "merge", "table",
      "window+scan", "scan+merge", "merge+table", "table+window",
      "window+merge", "scan+table")
    val bulkPq = s"/search?bulk=${tenQueries.mkString(";")}&k=10"
    val seqPqs = tenQueries.map(q => s"/search?q=$q&k=10")
    try {
      val base = routes.map { case (n, pq) =>
        hit(pq) // untimed warm pass (plan compile, footer reads)
        n -> (1 to 3).map(_ => hit(pq)).min
      }
      hit(bulkPq); seqPqs.foreach(hit) // warm both shapes
      val bulk = (1 to 3).map(_ => hit(bulkPq)).min
      val seq = (1 to 3).map(_ => seqPqs.map(hit).sum).min
      base ++ Seq("serve_bulk10" -> bulk, "serve_seq10" -> seq)
    } finally api.stop()
  }

  /** The COMPOSED orchestrated refresh vs the full artifact rebuild
    * (Refresh.refreshCorpus vs Refresh.buildAll on the refreshed corpus) —
    * the r15 verdict's composed-refresh arm: the delta path must track the
    * CHANGE, the rebuild the corpus. The base build is untimed (it is the
    * previous round's artifact). */
  private def refreshArm(spark: SparkSession, dir: String): Seq[(String, Double)] = graft.core.Scope { _ =>
    import org.apache.spark.sql.functions._
    val R = graft.pipeline.Refresh
    val d = graft.core.Scope.checkpoint(Queries.orchCorpus(spark, dir))
    val root = Queries.ndIndexPath(dir) + "_orch_arm"
    R.buildAll(spark, d.select("doc_id", "text"),
      d.select(col("doc_id").as("vec_id"), col("embedding")), root,
      nlist = 8, m = 16, ksub = 16, trainIters = 3, sampleN = 2000)
    val (edited, added, removed) = Queries.corpusRefreshDelta(d)
    val t0 = System.nanoTime()
    R.refreshCorpus(spark, root, edited, added, removed)
    val tRefresh = (System.nanoTime() - t0) / 1e9
    val refreshed = graft.core.Scope.checkpoint(
      d.where(col("doc_id") % 7 =!= 0 && col("doc_id") % 5 =!= 0)
        .unionByName(edited).unionByName(added))
    val t1 = System.nanoTime()
    R.buildAll(spark, refreshed.select("doc_id", "text"),
      refreshed.select(col("doc_id").as("vec_id"), col("embedding")),
      root + "_rebuild", nlist = 8, m = 16, ksub = 16, trainIters = 3,
      sampleN = 2000)
    val tRebuild = (System.nanoTime() - t1) / 1e9
    Seq("orch_refresh" -> tRefresh, "orch_rebuild" -> tRebuild)
  }

  /** The retrain-policy recall arm (r15 ask #4): recall on a fresh index,
    * recall SAG after a planted out-of-distribution drift lands as delta
    * segments, the measured advice firing `retrain`, and recall RECOVERY
    * after the retrain janitor runs. Truth per state is the exact top-k
    * (ADC with an everything-sized shortlist reranks exactly). */
  private def driftArm(spark: SparkSession, dir: String): String = graft.core.Scope { _ =>
    import org.apache.spark.sql.functions._
    val S = graft.pipeline.Similarity
    val Q = graft.pipeline.Quantize
    val sp = spark
    import sp.implicits._
    val emb = graft.core.Scope.checkpoint(spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val n = emb.count()
    val path = Queries.ndIndexPath(dir) + "_drift_ivf"
    val cents = S.trainCentroids(emb, nlist = 8, iters = 3, sampleN = 2000)
    val cb = Q.trainPqCodebooks(emb, m = 16, ksub = 16, iters = 10, sampleN = 2000)
    S.writeIndex(Q.pqEncode(S.assignCells(emb, cents), cb), cents, path)
    Q.writeCodebooks(spark, cb, s"$path/codebooks")
    S.writeIndexMeta(spark, path, cb)
    // the drift: ~40% of corpus size in a TIGHT cluster far outside the
    // trained distribution — the worst case for stale quantizers: every
    // drifted vector lands in the same few cells and their PQ codes
    // collapse toward one extreme codeword (ADC distances go flat, the
    // shortlist can no longer separate true neighbors)
    // scale 0.3 keeps within-cluster variance meaningful (a fully
    // degenerate cluster makes the exact top-5 a n_drifted-way near-tie
    // that NO shortlist can match — the measurement would then read
    // tie-resolution noise, not quantizer quality)
    val drifted = graft.core.Scope.checkpoint(emb.limit((n / 5 * 2).toInt)
      .withColumn("vec_id", col("vec_id") + 5000000L)
      .withColumn("embedding",
        transform(col("embedding"), x => (x * lit(0.3f) + lit(15.0f)).cast("float"))))
    def recall(idx: DataFrame, dcents: Array[(Int, Array[Double])],
               dcb: Array[Array[Array[Double]]], corpus: DataFrame,
               queries: DataFrame): Double = {
      val got = S.ivfPqTopK(idx, queries, dcb, dcents, k = 5, nprobe = 2,
          shortlist = 50)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val truth = Q.pqTopKReranked(Q.pqEncode(corpus, dcb), queries, dcb,
          k = 5, shortlist = n.toInt * 2)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet)
      val hits = truth.toSeq.map { case (q, w) =>
        w.intersect(got.getOrElse(q, Set.empty)).size.toDouble / w.size }
      hits.sum / hits.size
    }
    val qBase = emb.where(col("vec_id") < 8)
    // drift-weighted query mix: the sag is what the arm measures, and a
    // production corpus that drifted 40% sees mostly drifted queries
    val qDrift = emb.where(col("vec_id") < 4).unionByName(drifted.limit(12))
    val (idx0, dc0) = S.readIndex(spark, path)
    val rFresh = recall(idx0, dc0, cb, emb, qBase)
    S.appendToIvfIndex(drifted, path, cb, seg = 1L)
    val (idx1, dc1) = S.readIndex(spark, path)
    val corpus1 = emb.unionByName(drifted)
    val rDrift = recall(idx1, dc1, cb, corpus1, qDrift)
    val advice = S.ivfMaintenanceAdvice(spark, path)
    val rDir = path + "_retrained"
    val noTomb = emb.select(col("vec_id"), lit(0L).as("before_seg")).limit(0)
    // sampleN must COVER the drifted ids: train sampling is ordered by
    // vec_id, and the drift's high ids sort last — a corpus-sized sample
    // makes the retrain actually see the new distribution (the
    // deterministic id-ordered sample's recency blindness is a real
    // production hazard, recorded in BASELINE)
    val cb2 = S.retrainIvfIndex(spark, path, noTomb, rDir,
      nlist = 8, m = 16, ksub = 16, iters = 10,
      sampleN = (n + drifted.count()).toInt)
    val (idx2, dc2) = S.readIndex(spark, rDir)
    val rRetrained = recall(idx2, dc2, cb2, corpus1, qDrift)
    f"""{"metric":"driftarm","recall_fresh":$rFresh%.3f,""" +
      f""""recall_drifted":$rDrift%.3f,"advice":"${advice.action}",""" +
      f""""d2_ratio":${advice.d2Ratio}%.3f,"appended_fraction":${advice.appendedFraction}%.3f,""" +
      f""""recall_retrained":$rRetrained%.3f}"""
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse(s"/tmp/graft_sf_x$Copies")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.get("SPARK_GRAFT_DOCMULT").contains("1")) {
      // the p77 signals-constant doc-growth axis (see generateDocMult)
      val dmDir = s"${workDir}_docmult"
      generateDocMult(spark, baseDir, dmDir)
      val base = runMult(spark, baseDir, "documents", DocMult)
      val big = runMult(spark, dmDir, "documents", DocMult).toMap
      def fmtD(xs: Seq[(String, Double)]) =
        xs.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      val ratios = base.map { case (k, v) => k -> (if (v > 0) big(k) / v else -1.0) }
      println(s"""{"metric":"docmult_x${Copies}","base":${fmtD(base)},"x":${fmtD(big.toSeq)},"ratio":${fmtD(ratios)}}""")
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_ROWMULT").contains("1")) {
      // the q12/q13 per-key row-growth axis (see generateRowMult)
      val rmDir = s"${workDir}_rowmult"
      generateRowMult(spark, baseDir, rmDir)
      val base = runMult(spark, baseDir, "events", RowMult)
      val big = runMult(spark, rmDir, "events", RowMult).toMap
      def fmtR(xs: Seq[(String, Double)]) =
        xs.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      val ratios = base.map { case (k, v) => k -> (if (v > 0) big(k) / v else -1.0) }
      println(s"""{"metric":"rowmult_x${Copies}","base":${fmtR(base)},"x":${fmtR(big.toSeq)},"ratio":${fmtR(ratios)}}""")
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_REFRESHARM").contains("1")) {
      // the composed orchestrated refresh vs the full artifact rebuild,
      // at 1× and Copies× (see refreshArm)
      generateCore(spark, baseDir, workDir)
      val base = refreshArm(spark, baseDir)
      val big = refreshArm(spark, workDir).toMap
      def fmtO(xs: Seq[(String, Double)]) =
        xs.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      val ratios = base.map { case (k, v) => k -> (if (v > 0) big(k) / v else -1.0) }
      println(s"""{"metric":"refresharm_x${Copies}","base":${fmtO(base)},"x":${fmtO(big.toSeq)},"ratio":${fmtO(ratios)}}""")
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_DRIFTARM").contains("1")) {
      // recall sag under planted drift + recovery after the measured
      // retrain policy fires (see driftArm); runs on the base dir — the
      // claim is a recall property, not a scale curve
      println(driftArm(spark, baseDir))
      spark.stop()
      return
    }
    if (sys.env.get("SPARK_GRAFT_SERVEARM").contains("1")) {
      // /search end-to-end latency at 1× and Copies× (see serveArm)
      generateCore(spark, baseDir, workDir)
      val base = serveArm(spark, baseDir)
      val big = serveArm(spark, workDir).toMap
      def fmtS(xs: Seq[(String, Double)]) =
        xs.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
      val ratios = base.map { case (k, v) => k -> (if (v > 0) big(k) / v else -1.0) }
      println(s"""{"metric":"servearm_x${Copies}","base":${fmtS(base)},"x":${fmtS(big.toSeq)},"ratio":${fmtS(ratios)}}""")
      spark.stop()
      return
    }
    generate(spark, baseDir, workDir)
    val base = runAll(spark, baseDir)
    val x10 = runAll(spark, workDir).toMap
    def fmt(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val ratios = base.map { case (k, v) => k -> (if (v > 0) x10(k) / v else -1.0) }
    println(s"""{"metric":"scaleup_x${Copies}","base":${fmt(base)},"x10":${fmt(x10.toSeq)},"ratio":${fmt(ratios)}}""")
    if (sys.env.get("SPARK_GRAFT_CATSURFACE").contains("1")) {
      val (tb, nb) = catalogSurface(spark, baseDir)
      val (tx, nx) = catalogSurface(spark, workDir)
      println(f"""{"metric":"catalog_find_x$Copies%d","base_sec":$tb%.3f,"x_sec":$tx%.3f,"ratio":${tx / tb}%.3f,"names_base":$nb%d,"names_x":$nx%d}""")
    }
    spark.stop()
  }
}
