package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Scope

/**
 * Corpus-curation operators a large-scale training-data pipeline needs
 * beyond dedup/similarity: benchmark-contamination detection, TF-IDF term
 * weighting, distributed k-means over embeddings, PII detection, and
 * tokenizer-feeding vocabulary statistics.
 *
 * Scale notes (the designs assume ~100 TB of documents):
 *  - contamination broadcasts the benchmark side (eval suites are MBs, the
 *    corpus is not) so the corpus is scanned once, map-side, no self-join;
 *  - tf-idf's only wide state is the document-frequency table, which is
 *    vocabulary-sized (≪ corpus) and aggregated with map-side partials;
 *  - k-means keeps the per-iteration work map-side (literal centroid array,
 *    like Similarity.assignCells) and reduces k×dim doubles per iteration;
 *  - PII scanning is pure codegen'd regexp column math, scan speed;
 *  - vocab is a single word-count aggregation with partial combine + top-N
 *    via TakeOrderedAndProject.
 */
object Curation {

  /**
   * Benchmark-contamination scan: for every (corpus doc, benchmark doc) pair
   * sharing at least `minOverlap` distinct word `n`-grams, emit the overlap
   * count and the fraction of the benchmark doc's n-grams found in the
   * corpus doc (the decontamination signal used by public LLM data recipes —
   * high containment means the eval example leaked into training data).
   *
   * The benchmark n-gram table is broadcast: the corpus side never shuffles,
   * and each corpus doc's n-grams join map-side against the (small) bench
   * set. Output is proportional to actual contamination, not corpus size.
   */
  def contamination(corpus0: DataFrame, bench: DataFrame, n: Int = 3,
                    minOverlap: Long = 2L): DataFrame = {
    val corpus = Par.spread(corpus0) // gram explode + integer counts (r17)
    // words materialized before shingling (see Dedup.shinglesOf: an inline
    // wordsOf would re-run the regex chain once per array element);
    // shinglesOf is already distinct per doc
    def grams(df: DataFrame, idAs: String) = df
      .select(col("doc_id").as(idAs), Dedup.wordsOf(col("text")).as("w"))
      .select(col(idAs), explode(Dedup.shinglesOf(col("w"), n)).as("gram"))
    val bgrams = grams(bench, "bench_id")
    val b = bgrams.join(
      bgrams.groupBy("bench_id").agg(count(lit(1)).as("bench_sz")), "bench_id")
    grams(corpus, "doc_id")
      .join(broadcast(b), "gram")
      .groupBy(col("doc_id"), col("bench_id"), col("bench_sz"))
      .agg(count(lit(1)).as("overlap"))
      .where(col("overlap") >= minOverlap)
      .select(col("doc_id"), col("bench_id"), col("overlap"),
        (col("overlap").cast("double") / col("bench_sz")).as("containment"))
  }

  /**
   * Bloom-filter decontamination — the scale path for [[contamination]] when
   * the benchmark n-gram set outgrows a broadcastable join side: a Bloom
   * filter over the xxhash64 of the bench n-grams (built with Spark's sketch
   * support, ~10 bits/element at 1% fpp — 1e8 bench grams fit in ~120 MB
   * where the exact set would be tens of GB) ships with the plan inside a
   * codegen'd membership expression ([[graft.functions.BloomMightContainLong]])
   * and the corpus is scanned MAP-SIDE, counting probable bench-gram hits
   * per doc. No join, no UDF boundary: gram → xxhash64 (codegen built-in) →
   * one primitive-long probe per row. False positives (bloom or hash
   * collisions) only inflate the hit count, so a doc flagged by the exact
   * operator is always flagged here (recall 1 by construction) — use this as
   * the cheap first pass, then [[contamination]] on the flagged slice for
   * exact pair attribution.
   */
  def contaminationBloom(corpus0: DataFrame, bench: DataFrame, n: Int = 3,
                         minHits: Long = 2L, fpp: Double = 0.01,
                         expectedGrams: Long = 0L): DataFrame = {
    val corpus = Par.spread(corpus0) // map-side bloom probe battery (r17)
    // bench grams feed the sizing count AND the bloom build — persist so
    // the bench-side shingling runs once (a benchmark is small by
    // contract); the caller's scope owns it
    val bgrams = Scope.persist(bench
      .select(Dedup.wordsOf(col("text")).as("w"))
      .select(explode(Dedup.shinglesOf(col("w"), n)).as("gram")))
    val expected = if (expectedGrams > 0) expectedGrams
      else math.max(bgrams.count(), 1L)
    val bloom = bgrams.select(xxhash64(col("gram")).as("g"))
      .stat.bloomFilter("g", expected, fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    corpus
      .select(col("doc_id"), Dedup.wordsOf(col("text")).as("w"))
      .select(col("doc_id"), explode(Dedup.shinglesOf(col("w"), n)).as("gram"))
      .where(graft.functions.SketchExpressions.bloomMightContainLong(
        xxhash64(col("gram")), bloomBytes))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("bloom_hits"))
      .where(col("bloom_hits") >= minHits)
  }

  /**
   * TF-IDF top terms per document: tf = in-doc term count, smooth idf =
   * ln((1+N)/(1+df)) + 1, top `k` terms per doc by weight (term-lexicographic
   * tiebreak keeps output deterministic).
   *
   * `totalDocs` is passed by callers that know it (catalog metadata) to keep
   * the plan single-pass; 0 computes it with one metadata-scale count.
   */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3, totalDocs: Long = 0L): DataFrame = {
    val n = if (totalDocs > 0) totalDocs else docs.count()
    val words = docs.select(col("doc_id"), explode(Dedup.wordsOf(col("text"))).as("term"))
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // document frequency: vocabulary-sized, map-side partial aggregation
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .withColumn("tfidf", col("tf") * (log((lit(1.0) + n) / (lit(1.0) + col("df"))) + 1.0))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** Squared L2 distance between a double-array column and a literal centroid. */
  private def dist2(vec: Column, cent: Column): Column =
    aggregate(zip_with(vec, cent, (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, v) => acc + v)

  /**
   * Two-phase decontamination — the composition a 100 TB pipeline actually
   * runs: the map-side Bloom pass ([[contaminationBloom]]) flags candidate
   * docs with zero joins, then the exact broadcast-join pass
   * ([[contamination]]) runs only on the flagged sliver. Because the Bloom
   * pass has recall 1 by construction (false positives only ever inflate
   * hit counts), the composed output is IDENTICAL to running the exact
   * pass over the whole corpus — which is exactly what the oracle asserts.
   * The corpus→flagged semi join is AQE-convertible to broadcast when the
   * flagged set is small (the common case: contamination is rare).
   */
  def contaminationTwoPhase(corpus: DataFrame, bench: DataFrame, n: Int = 3,
                            minOverlap: Long = 2L, fpp: Double = 0.01): DataFrame = {
    // r18 (guide §6: don't scan to size a sketch / §5 reuse): the composed
    // pass shingles the benchmark ONCE into a persisted (bench_id, gram)
    // table that serves all three bench-side reads — the bloom sizing
    // count, the bloom build, and the exact pass's broadcast join side
    // (previously the bloom phase shingled the bench twice and the exact
    // phase a third time). Corpus-side shape unchanged: one map-side bloom
    // scan, then the exact pass over the flagged sliver only.
    // the caller's scope owns it, like contaminationBloom's bench grams:
    // the returned plan's broadcast side reads it, so the operator cannot
    // drop it itself without materializing the result
    val bg = Scope.persist(bench
      .select(col("doc_id").as("bench_id"), Dedup.wordsOf(col("text")).as("w"))
      .select(col("bench_id"), explode(Dedup.shinglesOf(col("w"), n)).as("gram")))
    locally {
      val expected = math.max(bg.count(), 1L)
      val bloom = bg.select(xxhash64(col("gram")).as("g"))
        .stat.bloomFilter("g", expected, fpp)
      val bloomBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        bos.toByteArray
      }
      val flagged = Par.spread(corpus)
        .select(col("doc_id"), Dedup.wordsOf(col("text")).as("w"))
        .select(col("doc_id"), explode(Dedup.shinglesOf(col("w"), n)).as("gram"))
        .where(graft.functions.SketchExpressions.bloomMightContainLong(
          xxhash64(col("gram")), bloomBytes))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("bloom_hits"))
        .where(col("bloom_hits") >= minOverlap)
        .select("doc_id")
      val b = bg.join(
        bg.groupBy("bench_id").agg(count(lit(1)).as("bench_sz")), "bench_id")
      // recall-1 composition (see scaladoc): identical to the exact pass
      // over the whole corpus, which is exactly what the oracle asserts
      Par.spread(corpus.join(flagged, Seq("doc_id"), "left_semi"))
        .select(col("doc_id"), Dedup.wordsOf(col("text")).as("w"))
        .select(col("doc_id"), explode(Dedup.shinglesOf(col("w"), n)).as("gram"))
        .join(broadcast(b), "gram")
        .groupBy(col("doc_id"), col("bench_id"), col("bench_sz"))
        .agg(count(lit(1)).as("overlap"))
        .where(col("overlap") >= minOverlap)
        .select(col("doc_id"), col("bench_id"), col("overlap"),
          (col("overlap").cast("double") / col("bench_sz")).as("containment"))
    }
  }

  /**
   * Distributed Lloyd's k-means over the full embedding corpus (unlike
   * [[Similarity.trainCentroids]], which trains on a driver sample for IVF).
   * Deterministic init: the embeddings of the `k` smallest vec_ids. Each
   * iteration assigns map-side against a literal centroid array (zero
   * shuffle, zero row expansion) and reduces k×dim partial sums — the only
   * shuffled state is k×dim doubles, independent of corpus size.
   *
   * Arithmetic is double throughout (embeddings cast once) so results are
   * reproducible against an exact SQL oracle.
   *
   * Returns (vec_id, cluster, dist2 to final centroid).
   */
  def kmeansAssign(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    // per-row distance math + 1e7-quantized centroid folds (r17 spread).
    // vecs is read by iters+2 actions (init take, per-iteration centroid
    // folds, final assignment) — persist so the scan+cast+spread runs once,
    // not once per action; the caller's scope owns it.
    val vecs = Scope.persist(Par.spread(emb).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v")))
    var cents: Array[Array[Double]] = vecs.orderBy(col("vec_id")).limit(k)
      .collect().map(_.getSeq[Double](1).toArray)
    var it = 0
    while (it < iters) {
      val assigned = assignTo(vecs, cents)
      // k×dim partial sums: posexplode to scalar (cluster, dim) cells so a
      // hot cluster never concentrates whole vectors on one reducer.
      // Each component quantizes to a 1e7-scaled long before the sum (the
      // p67 order-independence contract — an unordered double avg can move
      // by an ulp with partition-merge order, shift a centroid, and flip a
      // downstream 4dp distance boundary); 1e7 keeps the sum < 2^63 even
      // at ~1e9 members/cluster and costs ~1e-8 per-component fidelity
      val upd = assigned.select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cluster"), col("i"))
        .agg((sum(round(col("x") * 1e7).cast("long")).cast("double") /
          count(lit(1)) / 1e7).as("m"))
        .collect()
      val next = cents.map(_.clone())
      upd.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = next
      it += 1
    }
    assignTo(vecs, cents)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"), col("d").as("dist2"))
  }

  /**
   * Temperature-weighted source mixing — the multi-corpus data-recipe step
   * (GPT-3's dataset weights, arXiv:2005.14165 §2.2; the Pile's α-smoothed
   * multinomial): per-source sampling weight w_s ∝ n_s^alpha renormalized,
   * so alpha=1 reproduces natural proportions and alpha→0 flattens toward
   * uniform source mass; each document keeps with probability
   * min(1, targetTotal·w_s / n_s), drawn with the same deterministic
   * quantized doc-id hash as [[clusterBalancedSample]] so the oracle can
   * replay the draw exactly.
   *
   * Scale: the source stats are a |sources|-row agg broadcast back onto
   * the corpus; the draw is map-side — ONE scan of the corpus, no shuffle.
   *
   * Returns every document: (doc_id, source, n_s, rate, keep ∈ {0,1}).
   */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.3,
                     targetTotal: Long = 250L, seed: Long = 1L): DataFrame = {
    val stats = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val wTot = stats.agg(sum(pow(col("n_s"), lit(alpha))).as("w_tot"))
    val u = (((col("doc_id") % 1000003L + seed) * 2654435761L) % 1000000007L % 10000L)
      .cast("double") / 10000.0
    docs.join(broadcast(stats), "source")
      .crossJoin(broadcast(wTot))
      .withColumn("rate", least(lit(1.0),
        lit(targetTotal.toDouble) * pow(col("n_s"), lit(alpha)) / col("w_tot") / col("n_s")))
      .withColumn("keep", (u < col("rate")).cast("long"))
      .select(col("doc_id"), col("source"), col("n_s"),
        (round(col("rate") * 1e4) / 1e4).as("rate"), col("keep"))
  }

  /**
   * Cluster-balanced (diversity) sampling: cap every k-means cell at
   * `targetPerCell` members by sampling each cell at rate target/|cell| —
   * over-represented topics downsample toward uniform cluster mass, the
   * balancing pass before corpus assembly (cf. the cluster-based sampling
   * in DoReMi/D4-style data selection). The accept decision reuses
   * [[Assembly.sampleStratified]]'s deterministic multiplicative hash
   * (seeded, quantized to 1e4) so the draw is reproducible and
   * SQL-twinnable. Cell sizes are k rows — broadcast; everything else is
   * map-side.
   *
   * Returns every vector: (vec_id, cluster, cell_n, rate, keep ∈ {0,1}).
   */
  def clusterBalancedSample(emb: DataFrame, k: Int = 8, iters: Int = 2,
                            targetPerCell: Long = 32L, seed: Long = 1L): DataFrame = {
    val assigned = kmeansAssign(emb, k, iters).select(col("vec_id"), col("cluster"))
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("cell_n"))
    val u = (((col("vec_id") % 1000003L + seed) * 2654435761L) % 1000000007L % 10000L)
      .cast("double") / 10000.0
    assigned.join(broadcast(sizes), "cluster")
      .withColumn("rate", least(lit(1.0), lit(targetPerCell).cast("double") / col("cell_n")))
      .withColumn("keep", (u < col("rate")).cast("long"))
      .select(col("vec_id"), col("cluster"), col("cell_n"),
        (round(col("rate") * 1e4) / 1e4).as("rate"), col("keep"))
  }

  /** Map-side argmin assignment against a literal centroid array (same shape
    * as Similarity.assignCells; ties break to the lowest cluster index). */
  private def assignTo(vecs: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val centArr = array(cents.map(c => typedLit(c.toSeq)): _*)
    vecs
      .withColumn("dists", transform(centArr, c => dist2(col("v"), c)))
      .withColumn("cluster", (array_position(col("dists"), array_min(col("dists"))) - 1).cast("int"))
      .withColumn("d", array_min(col("dists")))
      .drop("dists")
  }

  // PII patterns kept to syntax shared by java.util.regex and RE2 so the
  // DuckDB oracle can run the identical expressions
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[^\\s]+"
  private val ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val phoneRe = "\\+?[0-9][0-9() -]{6,}[0-9]"

  /**
   * PII signals per document: match counts for emails, URLs, IPv4 addresses
   * and phone-like digit runs, plus a `has_pii` flag. Pure codegen'd regexp
   * column math — map-side, scan speed, pipelines into curation filters.
   */
  def piiSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // NULL text: regexp_extract_all yields NULL and size(NULL) is -1/NULL —
    // clamp to 0 so counts stay non-negative and has_pii stays false instead
    // of poisoning downstream gates with negative sums
    def cnt(re: String) = greatest(coalesce(size(regexp_extract_all(t, lit(re), lit(0))), lit(0)), lit(0))
    docs
      .withColumn("n_emails", cnt(emailRe))
      .withColumn("n_urls", cnt(urlRe))
      .withColumn("n_ipv4", cnt(ipv4Re))
      .withColumn("n_phones", cnt(phoneRe))
      .withColumn("has_pii",
        (col("n_emails") + col("n_urls") + col("n_ipv4") + col("n_phones")) > 0)
  }

  /** Redact PII in place: each matched span is replaced with a type tag.
    * Same regexes as [[piiSignals]]; chained codegen'd regexp_replace. */
  def piiRedact(text: Column): Column = {
    val steps = Seq(emailRe -> "<EMAIL>", urlRe -> "<URL>",
      ipv4Re -> "<IP>", phoneRe -> "<PHONE>")
    steps.foldLeft(text) { case (c, (re, tag)) => regexp_replace(c, re, tag) }
  }

  /**
   * End-to-end curation pass — the composition a training-data run executes
   * before tokenization: language filter, minimum-length gate, PII gate,
   * and near-dup keeper selection (cluster representative = min doc_id).
   * Every stage is one of this library's operators and all the gates are
   * scan-speed column math; the only non-map-side work is the cluster join,
   * whose right side is one (doc_id, cluster_id) row per document, from
   * [[Dedup.dedupClusters]].
   */
  def curatedCorpus(docs: DataFrame, pairs: DataFrame, lang: String = "en",
                    minTokens: Int = 10): DataFrame = {
    // r18: the gate battery (language id + 4 PII regexes + tokenCount) is
    // the heaviest map-side work in the pass — spread it so a one-row-group
    // local input doesn't run it on a single core (Par.spread no-ops when
    // the scan already has enough splits)
    val gated = piiSignals(TextStats.languageId(Par.spread(docs)))
      .withColumn("n_tokens", TextStats.tokenCount(col("text")))
      .where(col("lang_pred") === lang && col("n_tokens") >= minTokens && !col("has_pii"))
    gated
      .join(Dedup.dedupClusters(docs, pairs), "doc_id")
      .where(col("cluster_id") === col("doc_id")) // keeper = component min id
      .select(col("doc_id"), col("lang_pred"), col("n_tokens").cast("long").as("n_tokens"))
  }

  /**
   * Per-document provenance record — the "why is doc X in (or out of) the
   * training corpus" audit row a data-recipe debugger asks for: every
   * gate's verdict (language, length, PII), the exact-dup keeper
   * decision, the doc's split and shard destinations, and the final
   * `in_corpus` flag as exactly the gate conjunction. Uses the EXACT
   * content-hash keeper (the p01 rule) so the audit stays map-side gates
   * plus ONE hash-keyed aggregate — when the near-dup keeper's verdict is
   * the question, p22/p38 are its own outputs.
   *
   * Scale shape: language/PII/length gates are codegen'd column math;
   * the keeper is one md5-keyed window (dup groups are tiny by nature);
   * split and shard are pure hashes of doc_id. One corpus scan, one
   * content-hash exchange, doc-sized output.
   */
  def docProvenance(docs: DataFrame, lang: String = "en", minTokens: Int = 10,
                    nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("_h"))
    piiSignals(TextStats.languageId(docs))
      .withColumn("n_tokens", TextStats.tokenCount(col("text")).cast("long"))
      .withColumn("_h", md5(col("text")))
      .withColumn("exact_keeper",
        (col("doc_id") === min(col("doc_id")).over(w)).cast("long"))
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
        (!col("has_pii")).cast("long").as("pii_clean"),
        col("exact_keeper"),
        Assembly.splitLabel(col("doc_id"), 0.9, 0.05, 9377L).as("split"),
        pmod(Assembly.shardPos(col("doc_id")), lit(nShards.toLong)).as("shard"))
      .withColumn("in_corpus",
        (col("lang_pred") === lang && col("n_tokens") >= minTokens &&
          col("pii_clean") === 1L && col("exact_keeper") === 1L).cast("long"))
  }

  /**
   * Corpus vocabulary statistics (the word-frequency table BPE/unigram
   * tokenizer training starts from): per normalized word, total occurrences
   * and document frequency, top `topN` by count. One aggregation with
   * map-side partials; top-N compiles to TakeOrderedAndProject.
   */
  def vocab(docs: DataFrame, topN: Int = 100): DataFrame = {
    docs.select(col("doc_id"), explode(Dedup.wordsOf(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(topN)
  }

  /**
   * Cross-source k-gram overlap matrix — the corpus-level diagnostic a
   * mixing decision starts from: for every pair of sources, the Jaccard
   * and containment of their distinct word k-shingle sets. High overlap
   * between a "curated" and a "raw" source means the mixing weights are
   * double-counting the same text.
   *
   * Scale shape: NO self-join — one gram-keyed aggregation collects each
   * gram's (tiny, |sources|-bounded) source set with map-side-combined
   * partials, then the pair counts and per-source set sizes are both
   * in-plan expansions of that aggregate (the gram exchange is identical
   * on both branches, so Catalyst's ReuseExchange runs it once). Linear
   * in corpus tokens; everything downstream of the gram agg is
   * |sources|²-sized.
   */
  def sourceOverlap(docs: DataFrame, k: Int = 3): DataFrame = {
    // grams reduced to 64-bit fingerprints before the corpus-wide gram
    // agg (the p30/r11 convention): the one big shuffle carries 8-byte
    // keys, and only per-source-pair counts leave the chain; the
    // string-exact DuckDB oracle gates equality per round
    val ss = Par.spread(docs)
      .select(col("source"), Dedup.wordsOf(col("text")).as("w"))
      .where(size(col("w")) >= k)
      .select(col("source"),
        explode(transform(Dedup.shinglesOf(col("w"), k), g => xxhash64(g))).as("gram"))
      .groupBy("gram").agg(sort_array(collect_set(col("source"))).as("ss"))
    val sizes = ss.select(explode(col("ss")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("sz"))
    ss.where(size(col("ss")) >= 2)
      .select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))),
          y => struct(x.as("src_a"), y.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sz_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("sz_b"))), "src_b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")))
      .withColumn("containment",
        col("n_common").cast("double") / least(col("sz_a"), col("sz_b")))
      .select(col("src_a"), col("src_b"), col("n_common"), col("sz_a"),
        col("sz_b"), col("jaccard"), col("containment"))
  }

  /**
   * Cross-source distribution-drift matrix: for every source pair, the
   * Jensen-Shannon divergence and both KL divergences between their
   * add-one-smoothed unigram distributions over the SHARED corpus vocab —
   * the corpus-monitoring counterpart of [[sourceOverlap]]'s set overlap
   * (set overlap misses a source whose words match but whose frequencies
   * shifted; JSD is the standard drift alarm between crawl snapshots or
   * ingest feeds). Smoothing puts both distributions on the full vocab,
   * so Σp = Σq = 1 exactly and zero-count words still contribute.
   *
   * Scale shape: one (word, source)-keyed count aggregate, pivoted per
   * word into a \|sources\|-entry map; the per-pair contributions are a
   * map-side explode of vocab × pairs rows against the broadcast pair/
   * total table (\|S\|²/2 rows) and re-aggregate to \|S\|²/2 output rows.
   * Bounded by vocab × pairs — for very wide source sets, restrict the
   * pair list before calling.
   */
  def sourceDrift(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), explode(Dedup.wordsOf(col("text"))).as("word"))
    val counts = toks.groupBy("word", "source").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("source").agg(sum("c").as("n"))
    val vocabV = counts.agg(countDistinct("word").as("v"))
    val byWord = counts.groupBy("word")
      .agg(map_from_entries(collect_list(struct(col("source"), col("c")))).as("m"))
    val pairs = totals.as("a").crossJoin(totals.as("b"))
      .where(col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("a.n").as("na"),
        col("b.source").as("src_b"), col("b.n").as("nb"))
    byWord.crossJoin(broadcast(pairs)).crossJoin(broadcast(vocabV))
      .withColumn("p",
        (coalesce(element_at(col("m"), col("src_a")), lit(0L)) + 1.0) / (col("na") + col("v")))
      .withColumn("q",
        (coalesce(element_at(col("m"), col("src_b")), lit(0L)) + 1.0) / (col("nb") + col("v")))
      // per-word contributions quantize to 1e12-scaled longs before the
      // vocab-wide sums (terms are ~1e-4 each, so 1e6 would lose real
      // precision; 1e12 keeps ≥6 significant digits per term and the sum
      // stays < 2^63 up to ~1e8-word vocabularies) — exact integer math,
      // immune to partition-merge order (the p67 4dp-boundary class)
      .withColumn("_jq", round((lit(0.5) *
        (col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))) +
         col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))) * 1e12)
        .cast("long"))
      .withColumn("_abq", round((col("p") * log(col("p") / col("q"))) * 1e12).cast("long"))
      .withColumn("_baq", round((col("q") * log(col("q") / col("p"))) * 1e12).cast("long"))
      .groupBy("src_a", "src_b")
      .agg(first(col("v")).as("n_vocab"),
        (sum(col("_jq")).cast("double") / 1e12).as("jsd"),
        (sum(col("_abq")).cast("double") / 1e12).as("kl_ab"),
        (sum(col("_baq")).cast("double") / 1e12).as("kl_ba"))
  }

  /**
   * Prototype pruning (the "beyond neural scaling laws" self-supervised
   * data-pruning recipe, arXiv:2206.14486): cluster the embeddings, score
   * every example by its distance to its own cluster centroid, and prune
   * the most PROTOTYPICAL fraction per cluster (closest to the centroid —
   * the easy, redundant examples); the informative hard margin survives.
   * The per-cell cut keeps pruning balanced across clusters instead of
   * emptying the tightest one.
   *
   * Distances round to 4 decimals and the per-cluster cut is EXACT
   * INTEGER quantile math over the 1e4-scaled longs (r11 — the p41
   * sf0.001 sweep proved the two engines' float quantile interpolation
   * can differ in the last ulp, which a rounded cut then amplifies
   * across a boundary): rank r = (n−1)·pq/10⁴ splits into integer + rem,
   * the two order statistics come off a cluster-keyed cumulative
   * histogram, and the published cut is the smallest 4dp grid value ≥
   * the exact quantile (cutq = a + ceil((b−a)·rem/10⁴)), so
   * `keep = dist ≥ cut` is a pure function of integers and
   * self-consistent with the emitted cut column on any engine.
   *
   * Scale shape: the k-means chain of [[kmeansAssign]] (map-side assign,
   * k×dim partial-sum updates) + a (cluster, 4dp-dist) histogram whose
   * windows are value-cardinality-bounded (the p70 argument — the
   * corpus never windows row-wise), and a k-row cut broadcast back onto
   * the assignment — no new shuffle beyond the chain's own.
   */
  def prototypePrune(emb: DataFrame, k: Int = 8, iters: Int = 2,
                     pruneFrac: Double = 0.25): DataFrame = {
    val pq = math.round(pruneFrac * 10000).toInt
    require(pq >= 0 && pq <= 10000 && math.abs(pruneFrac * 10000 - pq) < 1e-9,
      s"prototypePrune: pruneFrac must be a 4-decimal fraction in [0,1], got $pruneFrac")
    // vec-count-sized shared intermediate: the per-cluster cut aggregate
    // and the keep join would otherwise each re-run the assignment scan
    val a = Scope.persist(kmeansAssign(emb, k, iters)
      .withColumn("dist", round(sqrt(col("dist2")) * 1e4) / 1e4)
      .withColumn("_dq", round(col("dist") * 1e4).cast("long")))
    val h = a.groupBy(col("cluster"), col("_dq")).agg(count(lit(1)).as("_c"))
    val hh = h
      .withColumn("_cum", sum(col("_c")).over(
        Window.partitionBy("cluster").orderBy("_dq")))
      .withColumn("_n", sum(col("_c")).over(Window.partitionBy("cluster")))
    val rank = expr(s"((_n - 1) * $pq) div 10000")
    val rem = expr(s"((_n - 1) * $pq) % 10000")
    val cuts = hh.groupBy("cluster").agg(
        min(when(col("_cum") >= rank + 1, col("_dq"))).as("_a"),
        min(when(col("_cum") >= least(rank + 1, col("_n") - 1) + 1, col("_dq"))).as("_b"),
        first(rem).as("_rem"))
      .select(col("cluster"),
        expr("_a + ((_b - _a) * _rem + 9999) div 10000").as("_cutq"))
    a.join(broadcast(cuts), "cluster")
      .select(col("vec_id"), col("cluster"), col("dist"),
        (col("_cutq").cast("double") / 1e4).as("cut"),
        (col("_dq") >= col("_cutq")).as("keep"))
  }

  /**
   * Corpus snapshot diff — the bookkeeping an incremental refresh runs
   * between two crawls: per doc_id, `added` (new snapshot only),
   * `removed` (old only), `changed` (both, content hash differs) or
   * `unchanged`. Content identity is the same md5 the exact-dedup chain
   * keys on, so "changed" means byte-level text change.
   *
   * Scale shape: two map-side hash projections + ONE doc_id-keyed full
   * outer join — text never moves past its hash, and the join is
   * equality-keyed on the id both snapshots already shard by.
   */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("_h_old"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("_h_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("_h_old").isNull, "added")
          .when(col("_h_new").isNull, "removed")
          .when(col("_h_old") === col("_h_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /**
   * Per-source document cap — the domain-balancing pass web-scale recipes
   * run after scoring (RefinedWeb-style: no single domain may dominate
   * the mix): keep at most `cap` documents per source, best first by
   * (`scoreCol` desc, doc_id asc).
   *
   * Scale shape: the same salted two-phase top-k as the q08 anchor — the
   * heavy ranking window partitions by (source, salt), so the corpus
   * never shuffles onto the low-cardinality source key; only the
   * ≤ cap×salts survivors pay the final per-source window. Pass an
   * already-ROUNDED score column so the rank order replays identically
   * in any engine.
   */
  def sourceCap(scored: DataFrame, cap: Int, salts: Int = 16,
                scoreCol: String = "quality_score"): DataFrame = {
    require(cap > 0, s"sourceCap: cap must be positive, got $cap")
    require(salts > 0, s"sourceCap: salts must be positive, got $salts")
    val salted = scored.withColumn("_salt", pmod(hash(col("doc_id")), lit(salts)))
    val wPartial = Window.partitionBy(col("source"), col("_salt"))
      .orderBy(col(scoreCol).desc, col("doc_id"))
    val survivors = salted
      .withColumn("_prk", row_number().over(wPartial))
      .where(col("_prk") <= cap)
    val wFinal = Window.partitionBy(col("source"))
      .orderBy(col(scoreCol).desc, col("doc_id"))
    survivors
      .withColumn("rk", row_number().over(wFinal).cast("long"))
      .where(col("rk") <= cap)
      .drop("_salt", "_prk")
  }

  /**
   * Per-source score normalization — the fair cross-source cut: one
   * global quality threshold over-prunes whole domains whose score
   * distribution sits low (classifier scores are not comparable across
   * sources — the FineWeb-Edu calibration lesson), so each doc gets its
   * PERCENTILE WITHIN ITS SOURCE (percent_rank: strictly-lower count /
   * (n−1)) and budget cuts apply to the normalized rank. `keep` marks
   * the per-source top quartile.
   *
   * Scale shape: the p59 lesson applied to windows — the corpus never
   * enters a window partitioned by the low-cardinality source key. The
   * corpus-sized work is a (source, score) hash agg and a hash join
   * back; only the per-source SCORE HISTOGRAM (≤ 10⁴+1 distinct 4dp
   * scores per source) passes through the cumulative window. Ties share
   * one histogram row, so the join back reproduces exact percent_rank
   * semantics (tied docs share the rank of their first peer).
   */
  def sourcePercentile(docs: DataFrame): DataFrame = {
    // The regex-heavy score chain feeds BOTH branches (histogram and
    // join-back); the r9 plan audit found the naive version scanned and
    // re-scored the corpus twice, and ReuseExchange can't dedup it
    // (column pruning diverges the branches). Persist the 3-column
    // projection instead — the repo's standard shared-intermediate
    // pattern (signatures, shingle tables; the caller's scope owns the
    // persist): ONE scan + regex pass, and then NO corpus shuffle at
    // all — the histogram agg moves map-side partials and the join back
    // broadcasts the histogram-sized rank table.
    val scored = Scope.persist(scoredQuality(docs))
    scored.join(broadcast(sourcePercentileRanks(scored)), Seq("source", "quality"))
      .withColumn("keep", (col("src_pct") >= 0.75).cast("long"))
      .select("doc_id", "source", "quality", "src_pct", "keep")
  }

  /** The (doc_id, source, 4dp quality) projection behind [[sourcePercentile]]
    * (also the streaming twin's map-side scoring step). */
  private[graft] def scoredQuality(docs: DataFrame): DataFrame =
    graft.pipeline.TextStats.qualityScore(docs)
      .select(col("doc_id"), col("source"),
        (round(col("quality_score") * 1e4) / 1e4).as("quality"))

  /**
   * The histogram-sized per-source rank table behind [[sourcePercentile]]
   * — (source, quality, src_pct). Exposed so the deployment/streaming
   * shape can train it offline on a static corpus and score a stream
   * against it (`streaming/DocPipeline.percentileStream`, a stateless
   * stream-static join). Input is a [[scoredQuality]]-shaped frame.
   */
  def sourcePercentileRanks(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy("source", "quality").agg(count(lit(1)).as("_c"))
    val wCum = Window.partitionBy("source").orderBy("quality")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("_below", coalesce(sum(col("_c")).over(wCum), lit(0L)))
      .withColumn("_n", sum(col("_c")).over(Window.partitionBy("source")))
      .withColumn("src_pct",
        when(col("_n") > 1,
          round(col("_below").cast("double") / (col("_n") - 1) * 1e4) / 1e4)
          .otherwise(lit(0.0)))
      .select(col("source"), col("quality"), col("src_pct"))
  }

  /**
   * Score-distribution drift between two corpus snapshots — PSI
   * (population stability index), the production model-monitoring
   * standard (PSI < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 act):
   * per source, quality scores land in FIXED `bins` equal-width bins on
   * [0, 1] (fixed bins, not quantiles — no training pass, and the bin
   * boundary replays exactly in any engine); shares are add-one
   * smoothed over the FULL bin grid so empty bins contribute finite
   * terms and the sum is over the same bin set on any engine.
   *
   * Scale shape: one scoredQuality scan per snapshot reduced map-side
   * to a (source, bin) histogram ≤ sources×bins rows; the outer join,
   * totals window and PSI sum are all histogram-sized. Nothing
   * corpus-global ever moves.
   */
  def scoreDrift(oldDocs: DataFrame, newDocs: DataFrame, bins: Int = 10): DataFrame = {
    require(bins > 0, s"scoreDrift: bins must be positive, got $bins")
    def hist(d: DataFrame, cname: String) = scoredQuality(d)
      .withColumn("bin", least(floor(col("quality") * bins).cast("long"), lit(bins - 1L)))
      .groupBy("source", "bin").agg(count(lit(1)).as(cname))
    val allBins = oldDocs.select("source").unionByName(newDocs.select("source"))
      .distinct()
      .select(col("source"), explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
    val j = allBins
      .join(hist(oldDocs, "_co"), Seq("source", "bin"), "left")
      .join(hist(newDocs, "_cn"), Seq("source", "bin"), "left")
      .select(col("source"), col("bin"),
        coalesce(col("_co"), lit(0L)).as("_co"),
        coalesce(col("_cn"), lit(0L)).as("_cn"))
    val w = Window.partitionBy("source")
    j.withColumn("_no", sum(col("_co")).over(w))
      .withColumn("_nn", sum(col("_cn")).over(w))
      .withColumn("_pa", (col("_co") + 1.0) / (col("_no") + bins))
      .withColumn("_pb", (col("_cn") + 1.0) / (col("_nn") + bins))
      // per-bin PSI contribution quantized to a 1e12-scaled long before
      // the sum (the p67 order-independence contract)
      .withColumn("_psiq",
        round(((col("_pa") - col("_pb")) * log(col("_pa") / col("_pb"))) * 1e12)
          .cast("long"))
      .groupBy(col("source"))
      .agg(max(col("_no")).as("n_old"), max(col("_nn")).as("n_new"),
        (round((sum(col("_psiq")).cast("double") / 1e12) * 1e4) / 1e4).as("psi"))
      .withColumn("drift",
        when(col("psi") < 0.1, "stable")
          .when(col("psi") <= 0.25, "moderate")
          .otherwise("shifted"))
  }

  /**
   * Token-id encoding against the corpus vocabulary — the step between
   * tokenizer training and sequence packing: the top-`vocabSize` words
   * (by count, ties by word) get ids 1..V in rank order, everything else
   * is OOV id 0, and each document reduces to its id-sequence summary
   * (token/OOV counts, first/last id, id checksum — the columns an
   * encode-integrity check needs without materializing the arrays).
   *
   * Scale shape: the vocab is small BY CONSTRUCTION (a tokenizer vocab is
   * 32k–256k rows), so the id lookup is a broadcast join onto the exploded
   * token stream — the corpus never shuffles until the per-doc re-agg,
   * which partitions by doc_id with map-side partials.
   */
  def tokenEncode(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    val ranked = vocab(docs, vocabSize)
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("word"))).cast("long"))
      .select(col("word"), col("id"))
    val toks = docs.select(col("doc_id"),
      posexplode(Dedup.wordsOf(col("text"))).as(Seq("pos", "word")))
    toks.join(broadcast(ranked), Seq("word"), "left")
      .withColumn("id", coalesce(col("id"), lit(0L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0L, 1L).otherwise(0L)).as("n_oov"),
        min_by(col("id"), col("pos")).as("first_id"),
        max_by(col("id"), col("pos")).as("last_id"),
        sum(col("id")).as("id_sum"))
  }

  /**
   * Exact corpus heavy hitters via a one-pass sketch + targeted recount —
   * the standard two-phase recipe for frequent items at a scale where the
   * full vocabulary shuffle is the cost: pass 1 runs the Misra–Gries
   * [[graft.functions.MisraGriesTopK]] aggregate (bounded k−1-counter
   * partials, merged on one reducer — k-sized rows move, never the vocab)
   * together with the exact token total; pass 2 recounts ONLY the
   * candidates (a broadcast-sized list) and keeps those at or above
   * `ceil(N·minFrac)`. Because MG provably retains every item with true
   * frequency > N/k, `minFrac·k > 1` makes the candidate set a SUPERSET
   * of the answer and the recount makes the output EXACT — identical to
   * the full groupBy, at candidate cost.
   */
  def heavyHitters(docs: DataFrame, minFrac: Double = 0.03, k: Int = 64,
                   textCol: String = "text"): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, s"heavyHitters: bad minFrac $minFrac")
    require(minFrac * k > 1,
      s"heavyHitters: need minFrac*k > 1 for the MG superset guarantee " +
        s"(got $minFrac * $k = ${minFrac * k})")
    val toks = docs.select(explode(Dedup.wordsOf(col(textCol))).as("word"))
    val head = toks.agg(
      call_function("mg_topk", col("word"), lit(k)).as("cand"),
      count(lit(1)).as("n")).head()
    val n = head.getLong(1)
    val thresh = math.max(1L, math.ceil(n * minFrac).toLong)
    val cands = head.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    val sp = docs.sparkSession
    import sp.implicits._
    toks.join(broadcast(cands.toDF("word")), "word")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= thresh)
      .orderBy(col("cnt").desc, col("word"))
  }

  /**
   * Tokenizer fertility audit per source — before a tokenizer gates a
   * 100 TB run, check how it spends its budget on each slice of the mix:
   * per source, the token volume, the OOV rate against the top-`vocabSize`
   * corpus vocabulary, characters per token, and tokens per document. A
   * source with an outlier OOV rate or chars/token is under-served by the
   * vocab (its text fragments into rare tokens) — the signal to retrain
   * the tokenizer or reweight the mix BEFORE the training run pays for it.
   *
   * Scale shape: the vocab is [[vocab]]'s bounded aggregate broadcast as a
   * membership flag onto the exploded token stream; the token stats and
   * doc counts are two map-side-partial hash aggs on the ≤|sources| key,
   * joined at source cardinality. The corpus scans once per agg and never
   * shuffles at token grain.
   */
  def tokenizerFertility(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    val r4 = (c: Column) => round(c * 1e4) / 1e4
    val v = vocab(docs, vocabSize).select(col("word"), lit(1L).as("_inv"))
    val toks = docs.select(col("source"),
      explode(Dedup.wordsOf(col("text"))).as("word"))
    val stats = toks.join(broadcast(v), Seq("word"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(length(col("word")).cast("long")).as("_chars"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(stats, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        // all-word-less sources 0/0-NULL and coalesce to 0, same as absent
        r4(coalesce(col("n_oov").cast("double") / col("n_tokens"), lit(0.0)))
          .as("oov_rate"),
        r4(coalesce(col("_chars").cast("double") / col("n_tokens"), lit(0.0)))
          .as("chars_per_token"),
        r4(coalesce(col("n_tokens").cast("double") / col("n_docs"), lit(0.0)))
          .as("tokens_per_doc"))
  }

  /**
   * One distributed BPE merge-count iteration: from the corpus word
   * frequencies, count every adjacent character pair weighted by word
   * count and return the top pairs — the statistic a BPE tokenizer trainer
   * computes each round (the top-1 pair becomes the next merge). Running
   * it over the vocab table instead of the token stream is the standard
   * trick: the pair explosion is over DISTINCT words, corpus size only
   * enters through the precomputed counts.
   *
   * Scale shape: vocab agg (one shuffle, map-side partials), then a
   * per-word Σ|word| explode of the vocab — tiny relative to the corpus —
   * and a TakeOrdered top-N. The full-corpus scan happens exactly once.
   */
  def bpePairs(docs: DataFrame, topN: Int = 20): DataFrame = {
    val v = docs.select(explode(Dedup.wordsOf(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    v.where(length(col("word")) >= 2)
      .select(col("cnt"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topN)
  }

  /**
   * Corpus report card — the one-row summary every curation run logs:
   * document/token/source counts, exact-duplicate count (docs beyond the
   * first holder of each content hash), and English-document count via
   * the stop-word language heuristic.
   *
   * Scale shape: one full-corpus aggregate with map-side partials (the
   * distinct source/md5 counts are two-phase hash aggs keyed by the
   * value — no driver-side data) plus the 1-row language count, cross-
   * joined broadcast. Two scans total, output is a single row.
   */
  def corpusReport(docs: DataFrame): DataFrame = {
    val en = TextStats.languageId(docs)
      .where(col("lang_pred") === "en")
      .agg(count(lit(1)).as("n_en"))
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextStats.tokenCount(col("text")).cast("long")).as("n_tokens"),
      countDistinct(col("source")).as("n_sources"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("dup_docs"))
      .crossJoin(broadcast(en))
  }
}
