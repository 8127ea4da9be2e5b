package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Scope

/**
 * Corpus-assembly operators: the steps between a curated document set and a
 * training run — sequence packing, chunking, deterministic sampling, domain
 * mixing, and corpus-statistics LM scoring.
 *
 * Scale notes (100 TB): everything here is either map-side (chunking,
 * sampling, LM scoring after a vocab-sized shuffle) or a two-phase
 * distributed prefix sum (packing) — no global single-partition windows.
 *
 * Lifecycle note (the [[Dedup]] convention): the scorers whose plans reuse
 * an intermediate (unigram/bigram LM token+vocab frames, nbDomainScore's
 * class-count frames, dsirSelect's word frames) persist it, and the
 * returned plan references the cache, so each registers with the caller's
 * [[graft.core.Scope]]; [[qualityEnsemble]] runs its chains in a nested
 * scope. A long-lived service calls a bare scorer inside a scope per call,
 * or the corpus-scale caches stay owned by the enclosing one.
 */
object Assembly {

  /** Whitespace token count — the same convention as TextStats.tokenCount. */
  private def nTokens(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0)).cast("long")

  /** Hard bound on the (bucket, sum) rows [[packPlan]]'s driver fold may
    * collect when sizing buckets adaptively. */
  val MaxPackBuckets: Long = 4096L

  /** Bucket width that caps bucket COUNT at [[MaxPackBuckets]] for ids in
    * [0, maxDocId]: distinct floor(id/width) values <= maxId/width + 1. */
  private[pipeline] def adaptiveBucketWidth(maxDocId: Long): Long =
    math.max(128L, maxDocId / MaxPackBuckets + 1L)

  /** Test hook for the bucket-count bound (the spec lives outside the
    * pipeline package). */
  def adaptiveBucketWidthForTest(maxDocId: Long): Long = adaptiveBucketWidth(maxDocId)

  // --------------------------------------------------------------- packing

  /**
   * GPT-style sequence-packing plan: documents are concatenated in doc_id
   * order and cut into fixed `blockTokens` training blocks; each doc maps to
   * its token offset and the [first,last] block it lands in.
   *
   * The global running offset is a distributed prefix sum, NOT a global
   * window (a window without partitionBy collapses to one partition — a
   * non-starter at 1e9 docs): stage 1 aggregates per-bucket token sums
   * (buckets = contiguous doc_id ranges), the driver folds those into
   * per-bucket base offsets, stage 2 is a per-bucket window cumsum plus the
   * broadcast base. Identical output to the naive global window — the result
   * is bucketWidth-invariant.
   *
   * `bucketWidth <= 0` (the default) sizes buckets ADAPTIVELY from one
   * metadata-scale max(doc_id) aggregate so the driver fold is bounded at
   * ~[[MaxPackBuckets]] rows no matter the corpus size — a fixed width would
   * collect ~nDocs/width rows, which melts the driver at 1e9 docs.
   */
  def packPlan(docs: DataFrame, blockTokens: Int = 256, bucketWidth: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bw =
      if (bucketWidth > 0) bucketWidth
      else {
        val r = docs.agg(max(col("doc_id"))).head()
        adaptiveBucketWidth(if (r.isNullAt(0)) 0L else r.getLong(0))
      }
    // doc-count-sized shared intermediate: the bucket-sum action and the
    // final join would otherwise each re-run the token-count scan
    val withN = Scope.persist(docs.select(col("doc_id"), nTokens(col("text")).as("n_tokens"))
      .withColumn("bucket", floor(col("doc_id") / bw)))
    val bucketSums = withN.groupBy("bucket").agg(sum("n_tokens").as("bsum"))
      .orderBy("bucket").as[(Long, Long)].collect()
    val bases = bucketSums.scanLeft((Long.MinValue, 0L)) {
      case ((_, acc), (b, s)) => (b, acc + s)
    }.sliding(2).collect { case Array((_, prev), (b, _)) => (b, prev) }.toSeq
    val baseDf = broadcast(spark.createDataFrame(bases).toDF("bucket", "base"))
    val w = Window.partitionBy("bucket").orderBy("doc_id")
    withN.join(baseDf, "bucket")
      .withColumn("tok_start", col("base") + sum("n_tokens").over(w) - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("tok_start"),
        floor(col("tok_start") / blockTokens).as("block_first"),
        when(col("n_tokens") === 0, floor(col("tok_start") / blockTokens))
          .otherwise(floor((col("tok_start") + col("n_tokens") - 1) / blockTokens))
          .as("block_last"))
  }

  // -------------------------------------------------------------- chunking

  /**
   * Sliding-window chunking plan: each doc becomes ceil((n-window)/stride)+1
   * overlapping [tok_start, tok_end) chunks (one chunk when n <= window).
   * Pure map-side sequence explode — scales linearly in output chunks.
   */
  def chunkPlan(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && window >= stride, s"need 0 < stride <= window, got $window/$stride")
    val n = nTokens(col("text"))
    docs.select(col("doc_id"), n.as("n_tokens"))
      .withColumn("n_chunks",
        when(col("n_tokens") <= window, lit(1L))
          .otherwise(ceil((col("n_tokens") - window).cast("double") / stride).cast("long") + 1))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("tok_start"),
        least(col("chunk_idx") * stride + window, col("n_tokens")).as("tok_end"))
  }

  // -------------------------------------------------------------- sampling

  /**
   * Deterministic stratified sampling: a multiplicative hash of doc_id maps
   * each doc to a uniform u in [0,1); a doc survives when u < rate(lang).
   * Restartable (no RNG state), reproducible across engines — the hash stays
   * inside BIGINT range so a SQL oracle computes the identical decision.
   * Survivors carry weight = 1/rate for unbiased downstream statistics.
   */
  def sampleStratified(docs: DataFrame, rates: Map[String, Double],
                       defaultRate: Double = 0.0, seed: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rateDf = broadcast(rates.toSeq.toDF("lang", "rate"))
    val u = (((col("doc_id") % 1000003L + seed) * 2654435761L) % 1000000007L % 10000L)
      .cast("double") / 10000.0
    docs.join(rateDf, Seq("lang"), "left")
      .withColumn("rate", coalesce(col("rate"), lit(defaultRate)))
      .where(u < col("rate"))
      .select(col("doc_id"), col("lang"), col("rate"),
        (lit(1.0) / col("rate")).as("weight"))
  }

  // -------------------------------------------------------- domain mixing

  /**
   * Domain-mixing weights: per-source token shares and the per-doc sampling
   * weight that re-balances the corpus to equal share per source (the
   * "uniform domain mixture" baseline). weight = target_share / actual_share.
   */
  def mixWeights(docs: DataFrame): DataFrame = {
    val perSource = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(nTokens(col("text"))).as("n_tokens"))
    val totals = perSource.agg(sum("n_tokens").as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens") / col("total_tokens")).as("share"),
        ((lit(1.0) / col("n_sources")) /
          (col("n_tokens") / col("total_tokens"))).as("weight"))
  }

  // ------------------------------------------------------------- splitting

  /**
   * Deterministic train/validation/test split: a multiplicative hash maps
   * each doc to [0,1); cut points at trainFrac and trainFrac+valFrac.
   * Restartable, engine-replayable, and stable under corpus growth (a doc's
   * split never changes when new docs arrive — the property random shuffles
   * lack).
   *
   * The hash is DELIBERATELY decorrelated from [[sampleStratified]]'s
   * (different multiplier + per-operator seed, 1e6-value resolution): with
   * the identical hash, sampling at rate r <= trainFrac followed by this
   * split put 100% of survivors in 'train' (every sampled doc had u < r)
   * — the composition a real pipeline runs constantly.
   */
  /** The p32 split assignment as a column: a multiplicative-LCG uniform on
    * `key` cut at the train/val fractions. Shared by [[trainValTestSplit]]
    * (key = doc_id), `Dedup.splitByCluster` (key = cluster_id) and the
    * split lineage manifest — one definition so the manifest can never
    * drift from the assignment it audits. */
  def splitLabel(key: Column, trainFrac: Double, valFrac: Double,
                 seed: Long): Column = {
    require(trainFrac + valFrac <= 1.0, "fractions exceed 1")
    val u = (((key % 1000003L + seed) * 22695477L) % 1000000007L % 1000000L)
      .cast("double") / 1000000.0
    when(u < trainFrac, lit("train"))
      .when(u < trainFrac + valFrac, lit("val"))
      .otherwise(lit("test"))
  }

  def trainValTestSplit(docs: DataFrame, trainFrac: Double = 0.9,
                        valFrac: Double = 0.05, seed: Long = 9377L): DataFrame =
    docs.withColumn("split",
      splitLabel(col("doc_id"), trainFrac, valFrac, seed))

  /**
   * Length-bucketed batching plan: docs grouped by floor(log2(n_tokens))
   * so batches hold similar-length documents (padding waste bounded by 2×).
   * Emits per-bucket doc counts, token totals, and the batch count at a
   * given per-batch doc budget. Pure map-side bucket assignment + one agg.
   */
  def lengthBuckets(docs: DataFrame, batchDocs: Int = 32): DataFrame = {
    val n = nTokens(col("text"))
    docs.select(col("doc_id"), n.as("n_tokens"))
      // floor(log2(n)) via binary-string length — exact integer math (a
      // float log2 rounds 2^k down on one engine and not the other)
      .withColumn("bucket",
        when(col("n_tokens") <= 0, lit(-1L))
          .otherwise((length(bin(col("n_tokens"))) - 1).cast("long")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        ceil(count(lit(1)).cast("double") / batchDocs).cast("long").as("n_batches"))
  }

  // ------------------------------------------------------ unigram LM score

  /**
   * Corpus-statistics quality score: average add-one-smoothed unigram
   * log-probability per token. Common fluent text scores higher; gibberish
   * and rare-token soup score lower — the classic cheap LM filter.
   *
   * Plan shape: one vocab aggregation (map-side partial then shuffle on
   * word — Zipf-bounded), one shuffle join of exploded tokens against the
   * vocab, one per-doc re-aggregation. No driver-side loops.
   *
   * Determinism: the per-word log-prob quantizes to a 1e6-scaled long
   * BEFORE the per-doc mean, so the sum is exact integer math — an
   * unordered double sum can move by an ulp with partition-merge order
   * and flip a downstream 4dp rounding boundary (the class that held
   * p67's driver hash red for two rounds). `avg_logp` is then a pure
   * function of integers, bit-identical in any engine.
   */
  def unigramLmScore(docs: DataFrame): DataFrame = {
    // r17: the tokenized frame feeds the vocab aggregate AND the scoring
    // join, and the vocab feeds the totals AND the join — persist both so
    // the regex+split chain and the word-keyed aggregate each run ONCE
    // (vocab is Zipf-bounded, tiny state at any scale; the caller's scope
    // owns both, like the Dedup signature tables)
    val words = Scope.persist(docs.select(col("doc_id"), Dedup.wordsOf(col("text")).as("w")))
    val toks = words.select(col("doc_id"), explode(col("w")).as("word"))
    val vocab = Scope.persist(toks.groupBy("word").agg(count(lit(1)).as("c")))
    val totals = vocab.agg(sum("c").as("t"), count(lit(1)).as("v"))
    val termQ = round(log((col("c") + 1.0) / (col("t") + col("v"))) * 1e6).cast("long")
    toks.join(vocab, "word")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        (sum(termQ).cast("double") / count(lit(1)) / 1e6).as("avg_logp"))
  }

  /**
   * Bigram LM quality score with add-one smoothing — the next step from
   * [[unigramLmScore]] toward CCNet's KenLM n-gram scorer:
   * P(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), V = corpus vocabulary
   * size, scored as the mean log-prob over a document's bigrams. Documents
   * with fewer than two words have no bigrams and drop out (same rule in
   * the oracle).
   *
   * Scale shape: the bigram and context tables come from ONE explode of
   * the token stream via two map-side-partial aggregations; scoring is two
   * hash joins keyed by (w1, w2) and w1 — both sides partitioned on their
   * join keys, no broadcast of corpus-sized state (the only broadcast is
   * the 1-row vocabulary size). Zipf skew on the hottest contexts is the
   * usual salting candidate at extreme scale; counts stay exact either way.
   */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    // same spreading rationale as unigramLmScore (r17); words feeds the
    // vocab count and THREE bigram-stream references — persist it so the
    // regex+split chain runs once, not four times (spills gracefully at
    // scale; recompute is the expensive part per guide §5)
    val words = Scope.persist(Par.spread(docs)
      .select(col("doc_id"), Dedup.wordsOf(col("text")).as("w")))
    val vocabSize = words.select(explode(col("w")).as("word"))
      .agg(countDistinct(col("word")).as("v"))
    val bigr = words.where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bigr.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cu = bigr.groupBy("w1").agg(count(lit(1)).as("cu"))
    // per-bigram term quantized to a 1e6-scaled long before the mean —
    // same order-independence contract as unigramLmScore
    val termQ = round(log((col("cb") + 1.0) / (col("cu") + col("v"))) * 1e6).cast("long")
    bigr.join(bc, Seq("w1", "w2")).join(cu, Seq("w1"))
      .crossJoin(broadcast(vocabSize))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(termQ).cast("double") / count(lit(1)) / 1e6).as("avg_logp"))
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020, arXiv:1911.00359
   * §4.3): score every document by language-model perplexity
   * (exp of the negative mean log-prob — CCNet uses a KenLM 5-gram; the
   * corpus unigram LM from [[unigramLmScore]] keeps the oracle exact while
   * preserving the pipeline shape) and split the corpus at the perplexity
   * TERCILES into `head` (lowest perplexity, most in-domain), `middle`,
   * `tail` — the buckets CCNet feeds to downstream sampling/filtering.
   *
   * Both the per-doc log-prob and the perplexity are rounded to 1e-4
   * BEFORE the tercile cut so the bucket boundaries are reproducible
   * across engines (sum order varies the last ulp of the mean).
   *
   * Scale shape: the two cut points are one global percentile aggregate
   * (two doubles to the driver, re-entering the plan as literals); the
   * bucket label is a map-side comparison. Nothing shuffles beyond
   * unigramLmScore's own vocab join.
   */
  /**
   * Exact interpolated-tercile cuts over a 1e4-scaled LONG column,
   * floored to the integer grid: returns (floor(q⅓·1e4), floor(q⅔·1e4))
   * as PURE INTEGER math — rank r = (n−1)·p splits into (n−1)·num/3 +
   * rem/3, so the interpolated cut a + (b−a)·rem/3 floors to
   * a + (b−a)·rem div 3 with a, b the two order statistics around r.
   * A 4dp-grid value v then satisfies v ≤ cut ⟺ v·1e4 ≤ floor(cut·1e4),
   * so bucket membership is a pure function of integers — no engine's
   * float interpolation order can flip a boundary doc (the r11 sf0.001
   * sweep caught Spark and DuckDB disagreeing in the last ulp of the
   * double cut, moving one doc across the head/middle line).
   *
   * Selection runs on a distributed (value, count) histogram with
   * per-partition offsets (the tukey r10 machinery): value-cardinality-
   * sized and range-sorted — never the corpus through one partition,
   * never a value-sized driver collect (the #partitions offset array and
   * ≤4 matched rows are all that reach the driver). Spark's builtin
   * `percentile` agg would pool every value into executor memory.
   */
  private[pipeline] def tercileCutsX1e4(vals: DataFrame, qCol: String): (Long, Long) = {
    Scope { s =>
      val hist = s.persist(vals.groupBy(col(qCol)).agg(count(lit(1)).as("_c")).sort(qCol))
      val partSums = hist.rdd
        .mapPartitionsWithIndex((i, it) => Iterator.single((i, it.map(_.getLong(1)).sum)))
        .collect().sortBy(_._1).map(_._2)
      val n = partSums.sum
      require(n > 0, "tercileCutsX1e4: empty input")
      def at(num: Long): (Long, Long) = (((n - 1) * num) / 3, ((n - 1) * num) % 3)
      val (i1, r1) = at(1); val (i2, r2) = at(2)
      // 1-indexed ranks of the order statistics the two cuts interpolate
      val wanted = Seq(i1, math.min(i1 + 1, n - 1), i2, math.min(i2 + 1, n - 1))
        .map(_ + 1).distinct
      val offsets = partSums.scanLeft(0L)(_ + _)
      val found = hist.rdd.mapPartitionsWithIndex { (i, it) =>
        var cum = offsets(i)
        it.flatMap { r =>
          val lo = cum
          cum += r.getLong(1)
          wanted.filter(t => t > lo && t <= cum).map(t => (t, r.getLong(0)))
        }
      }.collect().toMap
      val (a1, b1) = (found(i1 + 1), found(math.min(i1 + 1, n - 1) + 1))
      val (a2, b2) = (found(i2 + 1), found(math.min(i2 + 1, n - 1) + 1))
      (a1 + (b1 - a1) * r1 / 3, a2 + (b2 - a2) * r2 / 3)
    }
  }

  def perplexityBuckets(docs: DataFrame): DataFrame = {
    // doc-count-sized shared intermediate: the tercile-cut action and the
    // bucket projection would otherwise each re-run the LM score chain
    val scored = Scope.persist(unigramLmScore(docs)
      .withColumn("avg_logp", round(col("avg_logp") * 1e4) / 1e4)
      .withColumn("ppl", round(exp(-col("avg_logp")) * 1e4) / 1e4)
      .withColumn("_q", round(col("ppl") * 1e4).cast("long")))
    // exact integer cuts (see tercileCutsX1e4) — the double-interpolated
    // percentile classified boundary docs differently per engine
    val (c1f, c2f) = tercileCutsX1e4(scored.select(col("_q")), "_q")
    scored.withColumn("bucket",
      when(col("_q") <= c1f, "head")
        .when(col("_q") <= c2f, "middle")
        .otherwise("tail"))
      .select(col("doc_id"), col("n_words"), col("ppl"), col("bucket"))
  }

  /**
   * DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
   * importance score = mean log-ratio of target-vs-raw unigram
   * probabilities (both add-one smoothed over their own vocab), rank the
   * raw corpus and keep the top-k most target-like documents. The paper
   * samples hashed n-gram features under Gumbel noise; this deterministic
   * top-k unigram variant keeps the DuckDB oracle exact while preserving
   * the selection shape. Scores round to 1e-4 and ties at the cutoff
   * break by doc_id, so membership is engine-reproducible.
   *
   * Scale shape: the raw vocab joins the token stream on its own
   * distribution (one shuffle); the TARGET vocab is the small curated
   * side by construction and broadcasts, as do both total rows; the
   * selection is a TakeOrdered top-k, never a global sort.
   */
  def dsirSelect(docs: DataFrame, target: DataFrame, k: Int): DataFrame = {
    // r17: the tokenized frame feeds the raw-vocab aggregate AND the
    // scoring join; each vocab feeds its totals AND the join — persist
    // the words frame + both vocab-sized aggregates so the regex chain
    // and the word-keyed shuffles run once each
    val wd = Scope.persist(docs.select(col("doc_id"), Dedup.wordsOf(col("text")).as("_w")))
    val toks = wd.select(col("doc_id"), explode(col("_w")).as("word"))
    val rawVocab = Scope.persist(toks.groupBy("word").agg(count(lit(1)).as("cr")))
    val rawTot = rawVocab.agg(sum("cr").as("tr"), count(lit(1)).as("vr"))
    val tgtVocab = Scope.persist(target.select(explode(Dedup.wordsOf(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("ct")))
    val tgtTot = tgtVocab.agg(sum("ct").as("tt"), count(lit(1)).as("vt"))
    toks.join(rawVocab, "word")
      .join(broadcast(tgtVocab), Seq("word"), "left")
      .crossJoin(broadcast(rawTot)).crossJoin(broadcast(tgtTot))
      // per-word log-ratio quantized to a 1e6-scaled long before the mean
      // — the p67/p27 order-independence contract (an unordered double sum
      // can flip the 4dp score at a boundary with partition-merge order)
      .withColumn("_lrq", round((
        log((coalesce(col("ct"), lit(0L)) + 1.0) / (col("tt") + col("vt"))) -
          log((col("cr") + 1.0) / (col("tr") + col("vr")))) * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        (round((sum(col("_lrq")).cast("double") / count(lit(1)) / 1e6) * 1e4) / 1e4)
          .as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id")).limit(k)
  }

  /**
   * Naive-Bayes domain-classifier score — the classifier-filtering step of
   * the GPT-3/CCNet/DataComp pipelines (a linear classifier over unigram
   * features scores every document's similarity to a trusted domain; docs
   * are kept by score). Weak labels come from the corpus itself: the
   * target class is `source === targetSource`, the rest is background.
   * Add-one-smoothed class likelihoods give the per-doc summed log-odds
   * plus the class-prior log-ratio — positive means "reads like the
   * target domain".
   *
   * Scale shape: one token explode; ONE vocab-keyed aggregate builds both
   * class counts simultaneously (a conditional sum, not two passes); the
   * class totals and doc priors are 1-row broadcasts; scoring is a
   * word-key-partitioned hash join of the token stream onto the vocab
   * stats plus a per-doc re-aggregate. The corpus never broadcasts; the
   * only shuffles are by word and by doc_id.
   *
   * Determinism: each per-word log-odds term is quantized to a 1e6-scaled
   * long BEFORE the per-doc sum, so the sum is exact integer math — no
   * partition-merge order can move the result by an ulp and flip a later
   * 4dp rounding boundary (an unordered double sum did exactly that to
   * the r8/r9 driver captures of p67). `logodds` is the scaled-long sum
   * divided by 1e6: a pure function of integers, bit-identical in any
   * engine that computes the same per-word terms.
   */
  def nbDomainScore(docs: DataFrame, targetSource: String): DataFrame = {
    // r17: the token stream feeds the class-count aggregate AND the
    // scoring join, and wc feeds the totals AND the join — persist the
    // tokenized frame + the vocab-sized class counts so each computes once
    val w0 = Scope.persist(docs.select(col("doc_id"),
      (col("source") === targetSource).as("tgt"),
      Dedup.wordsOf(col("text")).as("_w")))
    val toks = w0.select(col("doc_id"), col("tgt"), explode(col("_w")).as("word"))
    val wc = Scope.persist(toks.groupBy("word").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cw"))
      .withColumn("cr", col("cw") - col("ct")))
    val tot = wc.agg(sum("ct").as("nt"), sum("cr").as("nr"), count(lit(1)).as("v"))
    // Guard the prior: if targetSource matches none or all documents the
    // log-ratio goes to ln(0)/ln(inf) and Spark's non-ANSI semantics would
    // silently NULL every logodds — fail loudly instead. The guard rides
    // the 1-row prior frame, so it costs no extra corpus scan.
    val pri = docs.agg(
      sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("dt"),
      count(lit(1)).as("dall"))
      .select(
        when(col("dt") > 0 && col("dt") < col("dall"), col("dt"))
          .otherwise(raise_error(format_string(
            "nbDomainScore: targetSource must match some but not all documents (dt=%d, dall=%d)",
            col("dt"), col("dall")))).as("dt"),
        col("dall"))
    val termQ = round((log((col("ct") + 1.0) / (col("nt") + col("v"))) -
      log((col("cr") + 1.0) / (col("nr") + col("v")))) * 1e6).cast("long")
    val priQ = round(
      log(col("dt").cast("double") / (col("dall") - col("dt"))) * 1e6).cast("long")
    toks.join(wc.select("word", "ct", "cr"), "word")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(pri))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        ((first(priQ) + sum(termQ)).cast("double") / 1e6).as("logodds"))
  }

  /**
   * Classifier calibration audit (reliability diagram) — before a score
   * gates a 100 TB corpus, check it means what it claims: bin each doc's
   * 4dp-rounded NB log-odds into unit-width bins clamped to ±`bound` and
   * report per bin the volume, the weak-label positive rate, and the mean
   * score. A calibrated classifier's pos_rate rises with the bin; a flat
   * or inverted band is the signal to retrain before filtering.
   *
   * Scale shape: the [[nbDomainScore]] chain + one doc_id-keyed label
   * join + a ≤(2·bound+1)-row aggregation — nothing new moves.
   *
   * The reported mean/rate columns are 1e4-scaled BIGINTs
   * (`mean_logodds_x1e4`, `pos_rate_x1e4`): every compared value is an
   * integer, so no float representation, rounding mode, or libm build
   * can perturb a downstream comparison (divide by 1e4 at the consumer
   * when a display double is wanted).
   */
  def nbCalibration(docs: DataFrame, targetSource: String, bound: Int = 5): DataFrame = {
    require(bound > 0, s"nbCalibration: bound must be positive, got $bound")
    val scored = nbDomainScore(docs, targetSource)
      .withColumn("logodds", round(col("logodds") * 1e4) / 1e4)
    scored
      .join(docs.select(col("doc_id"),
        (col("source") === targetSource).as("pos")), "doc_id")
      .withColumn("bin",
        least(greatest(floor(col("logodds")), lit(-bound.toDouble)),
          lit(bound.toDouble)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        // the summands are already 4dp-rounded, so the mean is exact
        // integer math: summing the 1e4-scaled longs is partition-order
        // independent, unlike avg over doubles whose merge-order last
        // ulp can flip a 0.00005 boundary at the final round
        round(sum(round(col("logodds") * 1e4).cast("long")).cast("double") /
          count(lit(1))).cast("long").as("mean_logodds_x1e4"))
      .withColumn("pos_rate_x1e4",
        round(col("n_pos").cast("double") / col("n_docs") * 1e4).cast("long"))
  }

  /**
   * Bounded serving model for [[nbDomainScore]]: the top-k corpus words by
   * count with their per-word class log-odds, plus the prior log-ratio —
   * the quantize-for-deployment step every production classifier filter
   * takes (fastText prunes its vocab the same way). k bounds the driver
   * collect and the broadcast literal; OOV words score 0. Returns
   * (word → log-odds, prior).
   */
  def nbModelTopK(train: DataFrame, targetSource: String, k: Int = 4096): (Map[String, Double], Double) = {
    val toks = train.select((col("source") === targetSource).as("tgt"),
      explode(Dedup.wordsOf(col("text"))).as("word"))
    val wc = toks.groupBy("word").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cw"))
      .withColumn("cr", col("cw") - col("ct"))
    val t = wc.agg(sum("ct"), sum("cr"), count(lit(1))).head()
    val (nt, nr, v) = (t.getLong(0), t.getLong(1), t.getLong(2))
    val p = train.agg(
      sum(when(col("source") === targetSource, 1L).otherwise(0L)), count(lit(1))).head()
    val prior = math.log(p.getLong(0).toDouble / (p.getLong(1) - p.getLong(0)))
    val weights = wc.orderBy(col("cw").desc, col("word")).limit(k).collect()
      .map { r =>
        r.getString(0) -> (math.log((r.getLong(1) + 1.0) / (nt + v)) -
          math.log((r.getLong(3) + 1.0) / (nr + v)))
      }.toMap
    (weights, prior)
  }

  /** Score documents with a bounded NB model map-side: one HOF fold over
    * the token array against the broadcast literal map — no explode, no
    * join, no per-doc shuffle, so it drops into a streaming pipeline
    * stateless (see streaming DocPipeline.nbScoreStream). */
  def nbScoreWithModel(docs: DataFrame, model: Map[String, Double], prior: Double): DataFrame = {
    val m = typedLit(model)
    docs.withColumn("nb_logodds",
      aggregate(Dedup.wordsOf(col("text")), lit(prior),
        (acc, w) => acc + coalesce(element_at(m, w), lit(0.0))))
  }

  /**
   * Token-budget quality selection — "keep the best documents until the
   * token budget is spent" (the FineWeb-Edu-style final cut): documents
   * rank by (quality score desc, doc_id asc) and keep while the running
   * token total fits `budget`. The score is the [[unigramLmScore]]
   * average log-prob rounded to 4 decimals, so the rank order replays
   * exactly in any engine.
   *
   * Scale shape: NO global sort of the corpus. A score-keyed aggregate
   * histograms tokens per rounded score (bounded by score RANGE ÷
   * precision — ~10⁵ buckets for log-probs, independent of corpus size);
   * the driver prefix-sums the descending histogram to find the cutoff
   * score; everything strictly above keeps map-side; only the single
   * cutoff TIE GROUP pays a doc_id-ordered window for the remaining
   * budget (one score value — degenerate all-equal-score corpora are the
   * only way it grows, and then the score itself carries no signal).
   */
  def tokenBudgetSelect(docs: DataFrame, budget: Long): DataFrame = {
    // persist the doc-count-sized score projection: the histogram action
    // plus the three keep branches would otherwise re-run the whole
    // explode + vocab-join + per-doc-agg chain up to four times (the r9
    // plan audit's shared-intermediate pattern; the caller's scope owns
    // the persist)
    val scored = Scope.persist(unigramLmScore(docs)
      .withColumn("score", round(col("avg_logp") * 1e4) / 1e4)
      .select(col("doc_id"), col("n_words"), col("score")))
    val hist = scored.groupBy("score").agg(sum("n_words").as("t")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).sortBy(-_._1)
    var cum = 0L; var cutoff = 0.0; var rem = 0L; var crossed = false
    for ((s, t) <- hist if !crossed) {
      if (cum + t <= budget) cum += t
      else { cutoff = s; rem = budget - cum; crossed = true }
    }
    if (!crossed) scored.withColumn("keep", lit(1L))
    else {
      val above = scored.where(col("score") > cutoff).withColumn("keep", lit(1L))
      // the tie frame holds exactly one score value, so partitioning the
      // running sum by score is a no-op semantically — but it keeps the
      // cumulative window off the unpartitioned-window path (and its
      // WindowExec warning) while staying an honest keyed window
      val w = Window.partitionBy(col("score")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tie = scored.where(col("score") === cutoff)
        .withColumn("keep", (sum(col("n_words")).over(w) <= rem).cast("long"))
      val below = scored.where(col("score") < cutoff).withColumn("keep", lit(0L))
      above.unionByName(tie).unionByName(below)
    }
  }

  /**
   * Training-shard shuffle plan — the final step before a corpus is written
   * out as training shards: give every document a deterministic
   * pseudo-random position (LCG over doc_id, exact 64-bit integer math so
   * any engine replays it), assign shards round-robin over the position
   * space, and lay out each shard's write order plus the running token
   * offset a sequential shard writer needs.
   *
   * Scale shape: the position/shard columns are map-side arithmetic; the
   * only shuffle is the hash partition by `shard` that the per-shard
   * sequence/offset window needs — which is exactly the partitioning the
   * shard writer itself wants, so at 100 TB the plan IS the write: one
   * shuffle, then each task streams one shard in order. No global sort
   * anywhere.
   */
  /** The LCG position column shared by [[shardPlan]] and the streaming
    * shard assignment — pure 64-bit integer arithmetic, replayable by any
    * engine (and by the DuckDB oracle). The id folds mod 2³¹ BEFORE the
    * multiply so the product stays ≤ ~2⁶¹ for every Long doc_id — without
    * the fold, ids ≳ 8.4e9 overflow Int64, which Spark wraps silently but
    * an ANSI engine (DuckDB) raises on; pmod also pins negative ids to the
    * same non-negative residue both engines compute. */
  def shardPos(docId: Column): Column =
    pmod(lit(1103515245L) * pmod(docId, lit(1L << 31)) + lit(12345L), lit(1L << 31))

  def shardPlan(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"shardPlan: nShards must be positive, got $nShards")
    val pos = shardPos(col("doc_id"))
    val w = Window.partitionBy("shard").orderBy(col("pos"), col("doc_id"))
    docs
      .select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("pos", pos)
      .withColumn("shard", pmod(col("pos"), lit(nShards.toLong)))
      .withColumn("shard_seq", row_number().over(w).cast("long"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
  }

  /**
   * Shard lineage manifest — the data-versioning record a corpus build
   * publishes so "reproduce shard 17" is answerable months later: per
   * [[shardPlan]] shard, the row/token volume, the doc-id range, and an
   * ORDER-INDEPENDENT content checksum (each doc folds to a 60-bit md5
   * prefix of `doc_id  text`, reduced mod 1e9+7 and summed), all
   * stamped with a config fingerprint (md5 of the canonical config
   * string). Same corpus + same config ⇒ byte-identical manifest; any
   * doc edit/add/drop flips EXACTLY its shard's checksum; a config
   * change re-keys the run. md5 (not xxhash64) keeps the checksum
   * engine-portable — any ANSI engine reproduces it for an audit.
   *
   * Scale shape: one corpus scan, map-side hash arithmetic, ONE
   * nShards-row aggregation — the manifest is shard-count-sized however
   * big the corpus grows, and checksum terms fold per row so nothing
   * corpus-global ever moves. Exactness bound: the pre-mod sum stays
   * inside 2^63 for < ~9.2e9 docs per shard (the g105 rule — documented,
   * not silently assumed; size nShards so shards stay under it).
   */
  /** Checksum modulus for [[shardManifest]] — folded per term so the
    * shard sum is exact integer math on any engine. */
  val ManifestMod: Long = 1000000007L

  /** Per-doc manifest checksum term: a 60-bit md5 prefix of
    * doc_id \u0001 text folded mod [[ManifestMod]] (the separator keeps
    * (1, "2x") and (12, "x") distinct). A NULL text participates with the
    * distinct marker \u0002 instead of being silently skipped (concat_ws
    * would drop the column while SQL `||` would NULL the whole term —
    * either way a null-text doc vanishes from the checksum on one engine
    * only); \u0002-for-null keeps it distinct from empty text and folds
    * identically on both engines. Shared by the batch manifest and the
    * streaming twin so a streamed corpus folds to the same sums.
    *
    * Collision contract: the checksum is DRIFT-evidence, not
    * tamper-evidence. An edited doc's new term equals its old term with
    * probability ~1/mod = 1e-9 (the edit then goes unseen), and distinct
    * docs birthday-collide on terms at ~n^2/(2*mod) — ~1e-3 odds of SOME
    * same-term pair at ~45k docs/shard — which is harmless for the sum
    * (terms add, they don't key anything) but means the fold must not be
    * repurposed as a per-doc identity. A tamper-evident record would need
    * a second independent fold or the full 128-bit digest. */
  def manifestTerm(docId: Column, text: Column): Column =
    pmod(conv(substring(
      md5(concat(docId.cast("string"),
        when(text.isNull, lit("\u0002"))
          .otherwise(concat(lit("\u0001"), text)))), 1, 15), 16, 10).cast("long"),
      lit(ManifestMod))

  /** md5-prefix fingerprint of the canonical config string. */
  def configFingerprint(configTag: String, nShards: Int): Column =
    conv(substring(md5(lit(s"$configTag|nShards=$nShards")), 1, 15), 16, 10)
      .cast("long")

  def shardManifest(docs: DataFrame, nShards: Int, configTag: String): DataFrame = {
    require(nShards > 0, s"shardManifest: nShards must be positive, got $nShards")
    docs
      .select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        pmod(shardPos(col("doc_id")), lit(nShards.toLong)).as("shard"),
        manifestTerm(col("doc_id"), col("text")).as("_h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        pmod(sum(col("_h")), lit(ManifestMod)).as("checksum"))
      .withColumn("config_fp", configFingerprint(configTag, nShards))
  }

  /**
   * Manifest diff — the shard-level change report between two corpus
   * builds under the SAME config: full-outer join of the two
   * [[shardManifest]]s on shard, status by checksum equality
   * (unchanged / changed / new / gone), plus doc and token deltas. With
   * shardManifest's edit-locality this answers "which shards must
   * re-publish after this refresh" from metadata alone — no second pass
   * over document bytes beyond the manifest builds themselves.
   *
   * Scale shape: two manifest builds (each one corpus scan reduced
   * map-side to nShards rows) and an nShards-row full-outer join — the
   * diff itself never exceeds shard cardinality.
   */
  def manifestDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   nShards: Int, configTag: String): DataFrame = {
    val om = shardManifest(oldDocs, nShards, configTag)
      .select(col("shard"), col("n_docs").as("_od"),
        col("n_tokens").as("_ot"), col("checksum").as("_oc"))
    val nm = shardManifest(newDocs, nShards, configTag)
      .select(col("shard"), col("n_docs").as("_nd"),
        col("n_tokens").as("_nt"), col("checksum").as("_nc"))
    om.join(nm, Seq("shard"), "full_outer")
      .select(col("shard"),
        when(col("_oc").isNull, "new").when(col("_nc").isNull, "gone")
          .when(col("_oc") === col("_nc"), "unchanged")
          .otherwise("changed").as("status"),
        (coalesce(col("_nd"), lit(0L)) - coalesce(col("_od"), lit(0L))).as("doc_delta"),
        (coalesce(col("_nt"), lit(0L)) - coalesce(col("_ot"), lit(0L))).as("token_delta"))
  }

  /**
   * Backfill/repair planner — the [[manifestDiff]] consumer: given two
   * corpus builds under the same config, the MINIMAL per-shard repair
   * plan a publisher executes. A shard whose checksum moved (or that is
   * new) is `rebuild` with its cost = the NEW build's volumes (a shard
   * republishes whole — the manifest proves drift, not which doc moved);
   * a shard present only in the old build is `retire` (delete, zero write
   * cost); an unchanged shard is `none`. `priority` ranks the rebuilds
   * 1..k by descending write cost (tokens, then docs, then shard for
   * determinism) — the order a budget-bounded repair job should take
   * them — and is 0 for non-rebuilds.
   *
   * Scale shape: two [[shardManifest]] builds (each ONE corpus scan
   * folded map-side to nShards rows), an nShards-row full-outer join,
   * and one rank window over those nShards rows (constant-key partition
   * is bounded by shard cardinality BY CONTRACT — the same bounded-frame
   * idiom as the score histograms). The plan never exceeds shard
   * cardinality however big either corpus grows.
   */
  def backfillPlan(oldDocs: DataFrame, newDocs: DataFrame,
                   nShards: Int, configTag: String): DataFrame = {
    val om = shardManifest(oldDocs, nShards, configTag)
      .select(col("shard"), col("checksum").as("_oc"))
    val nm = shardManifest(newDocs, nShards, configTag)
      .select(col("shard"), col("n_docs").as("_nd"),
        col("n_tokens").as("_nt"), col("checksum").as("_nc"))
    val planned = om.join(nm, Seq("shard"), "full_outer")
      .select(col("shard"),
        when(col("_nc").isNull, "retire")
          .when(col("_oc").isNotNull && col("_oc") === col("_nc"), "none")
          .otherwise("rebuild").as("action"),
        col("_nd"), col("_nt"))
      .select(col("shard"), col("action"),
        when(col("action") === "rebuild", coalesce(col("_nd"), lit(0L)))
          .otherwise(lit(0L)).as("rebuild_docs"),
        when(col("action") === "rebuild", coalesce(col("_nt"), lit(0L)))
          .otherwise(lit(0L)).as("rebuild_tokens"))
    // rank within the rebuild partition so priorities stay contiguous
    // 1..k whatever the other actions' volumes are; the action key keeps
    // the window partition-bounded (≤ nShards rows per action)
    val w = Window.partitionBy("action")
      .orderBy(desc("rebuild_tokens"), desc("rebuild_docs"), col("shard"))
    planned
      .withColumn("priority",
        when(col("action") === "rebuild", row_number().over(w)).otherwise(lit(0)))
  }

  /**
   * Split lineage manifest — the [[shardManifest]] contract applied to the
   * train/val/test SPLIT family: per split, volumes, doc-id range, the
   * order-independent md5-fold content checksum, and a fingerprint of the
   * full split config (tag + fractions + seed). The versioned, diffable
   * record of "which split did each doc land in, under which config" —
   * publish one per corpus build and two builds' manifests answer whether
   * an eval set silently changed under a refresh.
   *
   * `splitOf` defaults to the p32 doc_id hash ([[splitLabel]]); pass the
   * cluster-closed assignment (`Dedup.splitByCluster`'s `split` column
   * joined back) through a custom `splitOf` to audit that family instead.
   *
   * Scale shape: identical to [[shardManifest]] — one corpus scan,
   * map-side split hash + checksum terms, ONE 3-row aggregation. The
   * manifest is split-cardinality-sized however big the corpus grows.
   */
  def splitManifest(docs: DataFrame, configTag: String,
                    trainFrac: Double = 0.9, valFrac: Double = 0.05,
                    seed: Long = 9377L): DataFrame = {
    val cfg = s"$configTag|train=$trainFrac|val=$valFrac|seed=$seed"
    docs
      .select(splitLabel(col("doc_id"), trainFrac, valFrac, seed).as("split"),
        col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        manifestTerm(col("doc_id"), col("text")).as("_h"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        pmod(sum(col("_h")), lit(ManifestMod)).as("checksum"))
      .withColumn("config_fp",
        conv(substring(md5(lit(cfg)), 1, 15), 16, 10).cast("long"))
  }

  /**
   * Doc-level split transition matrix between two corpus builds: given the
   * per-doc assignments of an old and a new build (any `(doc_id, split,
   * n_tokens)` frames — the p32 hash split, the cluster-closed p72 split,
   * or mixed configs), the (split_from, split_to) matrix with doc counts
   * and token volumes. Docs present in only one build land in the
   * `absent` row/column; `moved` flags the off-diagonal both-present
   * cells — the "did the refresh move doc X across the train/eval
   * boundary" answer, aggregated. For the p32 hash split the moved cells
   * are empty BY CONSTRUCTION (assignment depends only on doc_id);
   * for the cluster-closed split a refresh that merges two near-dup
   * clusters genuinely moves the smaller cluster's docs — the event this
   * matrix exists to surface (eval contamination via silent split churn).
   *
   * Token volumes are new-side where the doc survives (what a trainer
   * consumes now), old-side for `gone` docs (what left).
   *
   * Scale shape: two map-side assignment scans and ONE doc_id-keyed
   * full-outer join (linear in corpus size, the natural equijoin), folded
   * map-side to a ≤ (|splits|+1)² matrix. Nothing pairwise, nothing
   * corpus-global.
   */
  def splitMoves(oldAssign: DataFrame, newAssign: DataFrame): DataFrame = {
    val o = oldAssign.select(col("doc_id"), col("split").as("_os"),
      col("n_tokens").as("_ot"))
    val n = newAssign.select(col("doc_id"), col("split").as("_ns"),
      col("n_tokens").as("_nt"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("_os"), lit("absent")).as("split_from"),
        coalesce(col("_ns"), lit("absent")).as("split_to"),
        coalesce(col("_nt"), col("_ot")).as("n_tokens"))
      .groupBy("split_from", "split_to")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("moved",
        (col("split_from") =!= col("split_to") &&
          col("split_from") =!= "absent" && col("split_to") =!= "absent")
          .cast("long"))
  }

  /**
   * Curriculum-ordered shard plan: the [[shardPlan]] assignment with each
   * shard's write order STAGED easy→hard — CCNet head documents first,
   * then middle, then tail (curriculum learning over data quality,
   * Bengio et al. 2009), the deterministic LCG order within a stage.
   *
   * Scale shape: [[perplexityBuckets]]' two corpus-vocab aggregates plus
   * one doc_id-keyed join to attach the stage (map-side partials, never
   * pairwise), then the SAME single hash-by-shard shuffle shardPlan has —
   * the per-shard window ordering by (stage, pos) IS the sequential order
   * the shard writer streams.
   */
  def curriculumPlan(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"curriculumPlan: nShards must be positive, got $nShards")
    val stages = perplexityBuckets(docs).select(col("doc_id"), col("bucket"))
      .withColumn("stage",
        when(col("bucket") === "head", 0L)
          .when(col("bucket") === "middle", 1L).otherwise(2L))
    val w = Window.partitionBy("shard")
      .orderBy(col("stage"), col("pos"), col("doc_id"))
    docs
      .select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(stages, "doc_id")
      .withColumn("pos", shardPos(col("doc_id")))
      .withColumn("shard", pmod(col("pos"), lit(nShards.toLong)))
      .withColumn("shard_seq", row_number().over(w).cast("long"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
  }

  /**
   * Weighted sampling without replacement — Efraimidis–Spirakis A-ES
   * (Inf. Proc. Letters 2006): each item draws u ∈ (0,1) and the top-k by
   * u^(1/w) are EXACTLY a w-proportional sample without replacement. Here
   * w = token count (the token-proportional doc sample a per-token corpus
   * estimate wants), u is the p32-style deterministic multiplicative hash
   * (restartable, engine-replayable), and the key is the monotone-
   * equivalent ln(u)/w rounded at 4dp with doc_id tie-break so membership
   * replays in any engine (the p42 cutoff rule).
   *
   * Scale shape: one map-side scan computing (w, key) + a TakeOrdered
   * top-k — no shuffle, no global sort, no RNG state.
   */
  def weightedSample(docs: DataFrame, k: Int, seed: Long = 4241L): DataFrame = {
    require(k > 0, s"weightedSample: k must be positive, got $k")
    val raw = ((col("doc_id") % 1000003L + seed) * 22695477L) % 1000000007L % 1000000L
    val u = (raw.cast("double") + 0.5) / 1000000.0
    docs
      .select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      // + 0.0 canonicalizes IEEE -0.0 (a key that rounds to zero) to +0.0
      // so the comparison hash agrees across engines
      .withColumn("skey",
        round(log(u) / col("n_tokens").cast("double") * 1e4) / 1e4 + lit(0.0))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(k)
  }

  /**
   * Split-leakage audit — the eval-integrity check a pipeline runs after
   * splitting: which heldout (val/test) documents share at least
   * `minOverlap` distinct word `n`-grams with ANY train document? The
   * train→eval twin of benchmark decontamination (p16): a leaked heldout
   * doc inflates eval scores exactly like a contaminated benchmark.
   *
   * Scale shape: the split is the p32 map-side hash; the gram tables are
   * doc-keyed DISTINCT sets; the only join is gram-keyed equality between
   * the heldout grams and the train DISTINCT-gram set (the heldout side
   * is frac-bounded by construction, the train side reduces to one row
   * per distinct gram) — never a pairwise doc join. The per-doc re-agg
   * partitions by doc_id with map-side partials.
   */
  def splitLeakage(docs: DataFrame, n: Int = 3, minOverlap: Int = 2,
                   trainFrac: Double = 0.9, valFrac: Double = 0.05): DataFrame = {
    // words materialized before shingling (the Dedup.shinglesOf trap), and
    // grams reduced to 64-bit fingerprints before the distinct + join (the
    // p30/r11 convention — the train-gram index and the probe join carry
    // 8 bytes per gram, and only counts leave this chain; the string-exact
    // oracle gates equality per round)
    val split = trainValTestSplit(docs, trainFrac, valFrac)
      .select(col("doc_id"), col("split"), col("text"))
      .withColumn("_w", Dedup.wordsOf(col("text")))
      .select(col("doc_id"), col("split"),
        transform(Dedup.shinglesOf(col("_w"), n), g => xxhash64(g)).as("_grams"))
    val trainGrams = split.where(col("split") === "train")
      .select(explode(col("_grams")).as("gram")).distinct()
    val held = split.where(col("split") =!= "train")
    val hits = held
      .select(col("doc_id"), explode(col("_grams")).as("gram"))
      .join(trainGrams, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_leaked"))
    held.select(col("doc_id"), col("split"), size(col("_grams")).cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_leaked", coalesce(col("n_leaked"), lit(0L)))
      .withColumn("leaked", col("n_leaked") >= minOverlap)
  }

  /**
   * Epoch-repetition plan — the data-constrained scaling recipe
   * (Muennighoff et al. 2023, arXiv:2305.16264: repeating the best data
   * for a few epochs is near-free when unique tokens run out): documents
   * cut into quality terciles on the ROUNDED heuristic score (exact
   * interpolated percentiles, the p41 cut shape), the top tercile
   * repeated `maxEpochs` times down to 1 for the bottom, and every
   * (doc, epoch) instance placed on a shard by the replayable LCG over
   * the folded (doc_id, epoch) key.
   *
   * Scale shape: the score is pure map-side column math
   * ([[TextStats.qualityScore]]); the tercile cut is one aggregate
   * reduced to two doubles on the driver; the instance explode is
   * map-side with a bounded factor (≤ maxEpochs); shard assignment is
   * arithmetic. The only shuffle anywhere is the cut aggregate's — the
   * instance manifest itself never shuffles.
   */
  def epochPlan(docs: DataFrame, nShards: Int, maxEpochs: Int = 3): DataFrame = {
    require(nShards > 0, s"epochPlan: nShards must be positive, got $nShards")
    require(maxEpochs >= 1 && maxEpochs <= 3,
      s"epochPlan: the tercile cut supports 1..3 epochs, got $maxEpochs")
    // doc-count-sized shared intermediate: the cut aggregate and the
    // epoch assignment would otherwise each re-run the quality regexes
    val scored = Scope.persist(TextStats.qualityScore(docs)
      .select(col("doc_id"),
        (round(col("quality_score") * 1e4) / 1e4).as("score")))
    // cuts round to 4dp; UNLIKE the p41/p57 cuts this rounded form is
    // boundary-safe by construction: a tercile's interpolation fraction
    // is 0, 1/3 or 2/3, so cut·1e4's fractional part is never .5 and a
    // last-ulp engine difference cannot flip the round (the p41 failure
    // needed the UNROUNDED cut; a quartile's .5 fraction needed p57's
    // integer rewrite)
    val cuts = scored.agg(
      (round(expr("percentile(score, 1.0/3)") * 1e4) / 1e4).as("c1"),
      (round(expr("percentile(score, 2.0/3)") * 1e4) / 1e4).as("c2")).head()
    val (c1, c2) = (cuts.getDouble(0), cuts.getDouble(1))
    // epoch key folds like shardPos: (doc_id mod 2^31)*maxEpochs + epoch
    // stays well under 2^61 after the LCG multiply's own fold
    scored.transform(epochAssign(_, c1, c2, nShards, maxEpochs))
  }

  /**
   * The stateless half of [[epochPlan]] with the tercile cuts given —
   * the deployment shape: cuts trained offline on a static corpus, then
   * any batch OR stream of scored documents assigns epochs/shards
   * map-side with zero state (gated stream ≡ batch in StreamingSpec,
   * like the NB model twin). Expects a (doc_id, score) frame with the
   * score already 4dp-rounded.
   */
  def epochAssign(scored: DataFrame, c1: Double, c2: Double,
                  nShards: Int, maxEpochs: Int = 3): DataFrame = {
    require(nShards > 0, s"epochAssign: nShards must be positive, got $nShards")
    val ekey = pmod(col("doc_id"), lit(1L << 31)) * maxEpochs + col("epoch")
    scored
      .withColumn("n_epochs",
        when(col("score") > c2, maxEpochs.toLong)
          .when(col("score") > c1, math.max(maxEpochs - 1, 1).toLong)
          .otherwise(1L))
      .withColumn("epoch", explode(sequence(lit(1L), col("n_epochs"))))
      .withColumn("pos", shardPos(ekey))
      .withColumn("shard", pmod(col("pos"), lit(nShards.toLong)))
      .select(scored.columns.map(col) :+ col("n_epochs") :+ col("epoch") :+
        col("shard"): _*)
  }

  /**
   * Quality-signal ensemble ranking — production corpora gate on SEVERAL
   * quality signals, not one (FineWeb-Edu's classifier atop heuristics,
   * DataComp's filter ensembles): fuse the heuristic quality score, the
   * NB domain log-odds, and the unigram-LM log-prob by EXACT corpus
   * percentile rank (scales and calibrations differ across signals;
   * ranks compose), average the three ranks, and keep documents whose
   * fused rank clears `tau`. A doc must look good to ALL THREE families
   * (surface heuristics, domain classifier, language model) to rank high.
   *
   * Scale shape: three existing score chains, each persisted doc-count-
   * sized (the shared-intermediate rule — the histogram action and the
   * rank join-back would re-run the chain); per signal the corpus
   * reduces to a ≤10⁴-row 4dp-score histogram and ONLY the histogram
   * enters the ordered cumulative window (the p70 pattern; the single
   * bounded frame is keyed so the no-partition-window ban holds); ranks
   * broadcast back by score. The fusion is map-side arithmetic.
   *
   * Eager: the three chains run in a nested [[graft.core.Scope]] and the
   * fused result (one narrow row per doc) is checkpointed into the
   * caller's scope, so the persisted score chains are released before
   * returning; a long-lived caller (HTTP tier, repeated pipeline use) does
   * not accumulate three cached corpus-scale frames per call (the
   * [[Dedup]] eager-op pattern).
   * Determinism: every input score is 4dp-rounded integer-backed (post
   * r10 quantization), ranks are exact rationals below/(n−1), and the
   * fused mean is a fixed-order 3-term expression — no data-dependent
   * float sums anywhere.
   */
  def qualityEnsemble(docs: DataFrame, targetSource: String,
                      tau: Double = 0.5): DataFrame = {
    val r4 = (c: org.apache.spark.sql.Column) => round(c * 1e4) / 1e4
    def rankOf(scored: DataFrame, rankName: String): DataFrame = {
      val hist = scored.groupBy("score").agg(count(lit(1)).as("_c"))
        .withColumn("_g", lit(1))
      val w = Window.partitionBy("_g").orderBy("score")
      val ranks = hist
        .withColumn("_below", coalesce(sum(col("_c")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("_n", sum(col("_c")).over(
          Window.partitionBy("_g")))
        // percent_rank semantics: strictly-smaller count / (n-1), ties
        // share the rank; a 1-doc corpus ranks 0
        .select(col("score"),
          when(col("_n") > 1,
            col("_below").cast("double") / (col("_n") - 1)).otherwise(lit(0.0))
            .as(rankName))
      scored.join(broadcast(ranks), "score").select(col("doc_id"), col(rankName))
    }
    Scope.local { s =>
      // the three signal chains are independent until the final join — run
      // them as concurrent driver-submitted jobs (guide §2.6: actions are
      // only sequential because the driver calls them sequentially; each
      // chain's tail otherwise leaves the executor idle). Each future
      // registers its persists with `s` and checkpoints its rank table
      // there; the final join then reads three tiny materialized frames.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      def chain(scored: => DataFrame, rankName: String): Future[DataFrame] =
        Scope.future(s.checkpoint(rankOf(s.persist(scored), rankName)))
      val fq = chain(Curation.scoredQuality(docs)
        .select(col("doc_id"), col("quality").as("score")), "q_rank")
      val fnb = chain(nbDomainScore(docs, targetSource)
        .select(col("doc_id"), r4(col("logodds")).as("score")), "nb_rank")
      val flm = chain(unigramLmScore(docs)
        .select(col("doc_id"), r4(col("avg_logp")).as("score")), "lm_rank")
      val q = Await.result(fq, Duration.Inf)
      val nb = Await.result(fnb, Duration.Inf)
      val lm = Await.result(flm, Duration.Inf)
      q.join(nb, "doc_id").join(lm, "doc_id")
        .withColumn("fused",
          r4((col("q_rank") + col("nb_rank") + col("lm_rank")) / 3))
        .withColumn("keep", (col("fused") >= tau).cast("long"))
        .select("doc_id", "q_rank", "nb_rank", "lm_rank", "fused", "keep")
    }
  }

  /**
   * Point-in-time (as-of) join — the label-leakage-safe feature join every
   * training-set builder needs (feature-store "point-in-time correctness":
   * a training example at time t may only see feature values from ≤ t):
   * for each left row, attach the single right row with the LARGEST
   * right ts ≤ left ts on the same key, or NULLs when nothing precedes it.
   *
   * Spark has no native as-of join, and the naive range-join rewrite
   * (`l JOIN r ON key AND r.ts <= l.ts` + max-per-example) multiplies each
   * example by its ENTIRE feature history — quadratic per key at corpus
   * scale. This composes it as the merge a feature store actually runs:
   * tag both sides, ONE key-partitioned shuffle, sort each key's rows by
   * (ts, side) — right rows first at equal ts, so the semantics are the
   * inclusive `>=` of DuckDB/pandas ASOF — and carry the latest feature
   * struct forward with a running `last(ignoreNulls)` frame. Linear in
   * rows, zero joins, one shuffle.
   *
   * `right` must be unique per (key, ts) — dedupe upstream; duplicate
   * feature timestamps would make ANY as-of result engine-dependent.
   * Right's payload arrives as one `asof` struct column (its ts as
   * `asof.asof_ts`); left rows with no preceding feature get a NULL
   * struct, the LEFT-join contract.
   */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String): DataFrame = {
    val rPayload = right.columns.filter(c => c != key && c != ts)
    // the sides meet in a unionByName: a shared payload/marker name would
    // silently merge two unrelated columns instead of failing
    val clash = (rPayload ++ Seq("_ts", "_kind", "_feat", "asof"))
      .filter(left.columns.contains)
    require(clash.isEmpty,
      s"asofJoin: left columns collide with right payload/markers: ${clash.mkString(", ")} — rename before joining")
    val r = right.select(col(key), col(ts).as("_ts"), lit(0).as("_kind"),
      struct((col(ts).as("asof_ts") +: rPayload.map(col)): _*).as("_feat"))
    val l = left.withColumn("_ts", col(ts)).withColumn("_kind", lit(1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col("_ts"), col("_kind"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("_asof", last(col("_feat"), ignoreNulls = true).over(w))
      .where(col("_kind") === 1)
      .select(left.columns.map(col) :+ col("_asof").as("asof"): _*)
  }
}
