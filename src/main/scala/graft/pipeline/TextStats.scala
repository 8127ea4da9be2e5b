package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.functions._
import graft.core.Scope
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Text-quality operators for training-data curation over `documents`.
 * All column expressions are codegen'd built-ins (no Python, no shuffle):
 * they run at scan speed and pipeline into downstream filters.
 */
object TextStats {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "are", "was", "for", "on", "with", "as", "by", "at", "from", "that", "this")

  /** Quality metrics: length, token count, mean word length, punctuation
    * ratio, digit ratio, stopword ratio, uppercase ratio. */
  def qualityMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = filter(split(lower(t), "\\s+"), x => length(x) > 0)
    val nTok = size(toks)
    val nChar = length(t)
    // pure per-row map over regex-heavy expressions — spread a
    // single-split input across the cores (Par.spread: no-op at scale)
    Par.spread(docs)
      .withColumn("n_chars_m", nChar)
      .withColumn("n_tokens", nTok)
      .withColumn("mean_word_len",
        when(nTok > 0, (nChar.cast("double") - (nTok - 1)) / nTok).otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        length(regexp_replace(t, "[^\\p{Punct}]", "")).cast("double") / greatest(nChar, lit(1)))
      .withColumn("digit_ratio",
        length(regexp_replace(t, "[^0-9]", "")).cast("double") / greatest(nChar, lit(1)))
      .withColumn("upper_ratio",
        length(regexp_replace(t, "[^A-Z]", "")).cast("double") / greatest(nChar, lit(1)))
      .withColumn("stopword_ratio",
        size(filter(toks, x => x.isin(stopwords: _*))).cast("double") / greatest(nTok, lit(1)))
  }

  /** Composite quality score in [0,1]: heuristic mix of the metric columns. */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame =
    qualityMetrics(docs, textCol).withColumn("quality_score",
      greatest(lit(0.0), least(lit(1.0),
        lit(0.4) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
          + lit(0.3) * col("stopword_ratio") * 3.0
          + lit(0.3) * (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))))))

  /**
   * N-gram heuristic language ID: score text against per-language marker
   * word/character profiles; argmax wins. Deterministic, executor-local.
   * (Real model weights would ship as a broadcast lookup; the scoring
   * pipeline — tokenize, profile-join, argmax — is the scale-relevant part.)
   */
  private val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "für", "nicht"),
    "es" -> Seq("el", "la", "los", "las", "es", "con", "para", "por"),
    "fr" -> Seq("le", "la", "les", "est", "avec", "pour", "dans", "une"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不"))

  def languageId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\s+"), x => length(x) > 0)
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(
        size(filter(toks, x => x.isin(markers: _*))).cast("double").as("score"),
        lit(lang).as("lang"))
    }
    // array_max on struct(score, lang) → argmax with deterministic lang tiebreak
    docs.withColumn("lang_pred",
      when(size(toks) === 0, lit("und"))
        .otherwise(array_max(array(scored: _*)).getField("lang")))
  }

  /** 64-bit content fingerprint via polynomial rolling hash of normalized
    * tokens (stable across partitions/runs — pure column math). */
  def fingerprint(text: Column): Column = {
    val toks = filter(split(lower(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", " ")), "\\s+"), x => length(x) > 0)
    aggregate(toks, lit(1469598103934665603L),
      (acc, t) => acc.bitwiseXOR(xxhash64(t)) * lit(1099511628211L))
  }

  /**
   * Word-repetition signals in the style of the public LLM-data-curation
   * recipes (duplicate-n-gram and top-word fractions used to flag boilerplate
   * and degenerate generations): per doc,
   *
   *   n_words        total normalized words
   *   distinct_ratio distinct words / words
   *   top_word_frac  occurrences of the most frequent word / words
   *   dup_bigram_frac 1 - distinct word bigrams / bigrams
   *
   * Two-stage like the dedup family: normalization + split runs ONCE as a
   * codegen'd expression, the counting pass is a per-row O(n) hash-map UDF
   * (the codegen alternative is O(n²) per doc — wrong at long-doc scale).
   * Map-side only: no shuffle, scan-speed over 100 TB.
   */
  def repetitionSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = filter(split(lower(regexp_replace(col(textCol), "[^\\p{L}\\p{N}\\s]", " ")), "\\s+"),
      x => length(x) > 0)
    val u = udf((w: Seq[String]) => {
      val n = w.length
      if (n == 0) (0, 0.0, 0.0, 0.0)
      else {
        val counts = new java.util.HashMap[String, Int]()
        w.foreach(x => counts.merge(x, 1, Integer.sum))
        var top = 0
        counts.values.forEach(c => if (c > top) top = c)
        val bigrams = new java.util.HashSet[String]()
        var i = 0
        while (i < n - 1) { bigrams.add(w(i) + " " + w(i + 1)); i += 1 }
        val nb = n - 1
        (n, counts.size.toDouble / n, top.toDouble / n,
          if (nb <= 0) 0.0 else 1.0 - bigrams.size.toDouble / nb)
      }
    })
    docs.withColumn("_r", u(words))
      .withColumn("n_words", col("_r._1"))
      .withColumn("distinct_ratio", col("_r._2"))
      .withColumn("top_word_frac", col("_r._3"))
      .withColumn("dup_bigram_frac", col("_r._4"))
      .drop("_r")
  }

  /** Gopher's stop-word list for its "contains at least 2" rule
    * (Rae et al. 2021, arXiv:2112.11446 §A1.1). */
  private val gopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 §A1.1) — the
   * document-level filter battery large-scale text pipelines run before
   * training. Each rule is a 0/1 flag; `keep` = every rule passes:
   *   r_wc     : 50 ≤ word count ≤ 100000
   *   r_mwl    : 3 ≤ mean word length ≤ 10
   *   r_sym    : '#'/word < 0.1 AND '...'/word < 0.1
   *   r_bullet : < 90% of non-blank lines start with a bullet
   *   r_ell    : < 30% of non-blank lines end with an ellipsis
   *   r_alpha  : ≥ 80% of words contain an alphabetic character
   *   r_stop   : ≥ 2 distinct Gopher stop words appear
   *
   * All pure column math over integer counts (no float accumulation), so
   * the flags are exactly engine-reproducible and the whole battery is
   * map-side at any corpus scale.
   */
  def gopherRules(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val rawWords = filter(split(t, "\\s+"), w => length(w) > 0)
    val nW = size(rawWords)
    val cleanWords = Dedup.wordsOf(t)
    val sumLen = aggregate(cleanWords, lit(0L), (a, w) => a + length(w))
    val meanWl = when(size(cleanWords) > 0,
      sumLen.cast("double") / size(cleanWords)).otherwise(lit(0.0))
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEll = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3 +
      (length(t) - length(regexp_replace(t, "…", "")))
    val lines = filter(transform(split(t, "\n"), l => trim(l)), l => length(l) > 0)
    val nLines = size(lines)
    val bulletLines = size(filter(lines, l => l.rlike("^[-*•]")))
    val ellLines = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$")))
    val alphaWords = size(filter(rawWords, w => w.rlike("\\p{L}")))
    val stopHits = size(filter(
      array(gopherStops.map(lit): _*), s => array_contains(cleanWords, s)))
    def flag(c: Column): Column = c.cast("long")
    docs
      .withColumn("n_words", nW.cast("long"))
      .withColumn("r_wc", flag(nW >= 50 && nW <= 100000))
      .withColumn("r_mwl", flag(meanWl >= 3.0 && meanWl <= 10.0))
      .withColumn("r_sym", flag(
        nHash.cast("double") < lit(0.1) * nW && nEll.cast("double") < lit(0.1) * nW))
      .withColumn("r_bullet", flag(
        bulletLines.cast("double") < lit(0.9) * greatest(nLines, lit(1))))
      .withColumn("r_ell", flag(
        ellLines.cast("double") < lit(0.3) * greatest(nLines, lit(1))))
      .withColumn("r_alpha", flag(
        alphaWords.cast("double") >= lit(0.8) * nW))
      .withColumn("r_stop", flag(stopHits >= 2))
      .withColumn("keep", flag(
        col("r_wc") + col("r_mwl") + col("r_sym") + col("r_bullet") +
          col("r_ell") + col("r_alpha") + col("r_stop") === 7))
  }

  /**
   * Per-document unigram entropy and type/token ratio — the standard
   * repetitiveness signals (low entropy = spammy/templated text; CCNet and
   * Gopher both gate on close relatives). H = ln(n) − Σ c·ln(c)/n over the
   * per-doc word counts, so one aggregation pass computes it without
   * materializing probabilities.
   *
   * Scale shape: explode → two groupBys that both partition by doc_id
   * (Catalyst reuses the exchange: the (doc_id, word) agg output is
   * already partitioned by a superset key, and the second agg re-shuffles
   * only doc_id-sized rows, one count row per distinct word per doc).
   * Everything is map-side-partial; no joins, no windows.
   */
  def wordEntropy(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val perWord = docs
      .select(col("doc_id"), explode(Dedup.wordsOf(col(textCol))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    perWord.groupBy("doc_id")
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_types"),
        // per-type c·ln(c) quantized to a 1e6-scaled long before the sum —
        // exact integer math, immune to partition-merge order (the p67
        // 4dp-boundary class)
        sum(round(col("c").cast("double") * log(col("c").cast("double")) * 1e6)
          .cast("long")).as("_clncq"))
      .withColumn("entropy",
        log(col("n_words").cast("double")) -
          (col("_clncq").cast("double") / 1e6) / col("n_words"))
      .withColumn("ttr", col("n_types").cast("double") / col("n_words"))
      .select(col("doc_id"), col("n_words"), col("n_types"),
        col("entropy"), col("ttr"))
  }

  /**
   * Within-document repetition battery — the Gopher/MassiveText A1.1
   * repetition filters (arXiv:2112.11446 Appendix A): templated or
   * looping generations repeat themselves, and the standard gates are
   * the fraction of duplicate word occurrences, the fraction of
   * duplicate word-bigram occurrences, and the character mass covered
   * by the densest repeated bigram (count × chars / total word chars —
   * the deterministic variant of Gopher's "top 2-gram character
   * fraction", argmax taken over the coverage product so ties cannot
   * depend on engine ordering). `keep` applies the Gopher-style cut:
   * dup_bigram_frac ≤ 0.5 AND top_bigram_char_frac ≤ 0.2.
   *
   * The three fraction columns are reported as 1e4-scaled BIGINTs
   * (`*_x1e4`): integers only in the output, so no float representation
   * or libm build can perturb a comparison; the keep cut compares the
   * scaled integers (≤ 5000 / ≤ 2000 ≡ the 4dp ≤ 0.5 / ≤ 0.2 cut).
   *
   * Scale shape: ONE corpus scan emits words and bigrams as a tagged
   * gram stream (the r9 plan audit found the two-aggregation version
   * scanned the corpus three times); one (doc_id, kind, gram) count agg
   * and one doc_id agg — both map-side-partial, both linear in document
   * length (never the O(len²) per-doc HOF scan) — reduce it to one row
   * per doc, joined back to a doc_id-only column-pruned scan so empty
   * docs keep a row. Nothing corpus-global moves: the whole battery is
   * embarrassingly parallel over documents.
   */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val emptyGrams = array().cast("array<struct<kind:bigint,gram:string>>")
    val gramCounts = Par.spread(docs)
      .select(col("doc_id"), Dedup.wordsOf(col(textCol)).as("_w"))
      .select(col("doc_id"), explode(concat(
        transform(col("_w"), w => struct(lit(0L).as("kind"), w.as("gram"))),
        when(size(col("_w")) >= 2,
          transform(sequence(lit(1), size(col("_w")) - 1),
            i => struct(lit(1L).as("kind"),
              concat_ws(" ", element_at(col("_w"), i),
                element_at(col("_w"), i + 1)).as("gram"))))
          .otherwise(emptyGrams))).as("kg"))
      .select(col("doc_id"), col("kg.kind").as("kind"), col("kg.gram").as("gram"))
      .groupBy("doc_id", "kind", "gram").agg(count(lit(1)).as("c"))
    val isW = col("kind") === 0
    val stats = gramCounts.groupBy("doc_id").agg(
      sum(when(isW, col("c")).otherwise(0L)).as("n_words"),
      sum(when(isW, col("c") - 1).otherwise(0L)).as("_dupw"),
      sum(when(isW, col("c") * length(col("gram"))).otherwise(0L)).as("_wchars"),
      sum(when(!isW, col("c")).otherwise(0L)).as("_n2"),
      sum(when(!isW, 1L).otherwise(0L)).as("_d2"),
      max(when(!isW, col("c") * (length(col("gram")) - 1))).as("_topbg"))
    val x4 = (c: Column) => round(c * 1e4).cast("long")
    docs.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        x4(coalesce(col("_dupw").cast("double") / col("n_words"), lit(0.0)))
          .as("dup_word_frac_x1e4"),
        // single-word docs have _n2 = 0: the 0/0 division NULLs and
        // coalesces to 0.0, same as the absent-row case
        x4(coalesce((col("_n2") - col("_d2")).cast("double") / col("_n2"), lit(0.0)))
          .as("dup_bigram_frac_x1e4"),
        x4(coalesce(col("_topbg").cast("double") / col("_wchars"), lit(0.0)))
          .as("top_bigram_char_frac_x1e4"))
      .withColumn("keep",
        (col("dup_bigram_frac_x1e4") <= 5000L && col("top_bigram_char_frac_x1e4") <= 2000L)
          .cast("long"))
  }

  /**
   * Zipf spectrum fit — the corpus-health statistic (natural text has a
   * frequency spectrum near slope −1; a broken extraction or synthetic
   * flood bends it): least-squares slope/intercept of ln(count) over
   * ln(rank) across the top-`k` words. The fit uses the HEAD of the
   * spectrum (standard practice — the tail is quantization noise), so
   * the ranking is a bounded TakeOrdered top-k, never a global sort of
   * the vocabulary; the regression reduces k rows to one.
   *
   * Scale shape: one vocab aggregation with map-side partials → top-k →
   * closed-form slope = cov(ln r, ln c)/var(ln r) over ≤ k rows.
   */
  def zipfFit(docs: DataFrame, k: Int = 200, textCol: String = "text"): DataFrame = {
    // the exact-integer normal equations below (k·Σxy − Σx·Σy over
    // 1e6-scaled lns) stay inside 2^63 only for k ≤ 200 — enforce the
    // documented bound rather than silently overflowing on a larger k
    require(k >= 2 && k <= 200, s"zipfFit: k must be in [2, 200], got $k")
    val counts = docs
      .select(explode(Dedup.wordsOf(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val nTypes = counts.agg(count(lit(1)).as("n_types"))
    // the regression runs on 1e6-quantized ln(rank)/ln(count) longs with
    // EXACT integer sums (n·Σxy − Σx·Σy etc. stay < 2^63 for k ≤ 200), so
    // slope/intercept are pure functions of integers — covar_pop/var_pop
    // over doubles summed in partition order could flip the 4dp round
    val top = counts.orderBy(col("cnt").desc, col("word")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("word"))).cast("long"))
      .withColumn("_x", round(log(col("rank").cast("double")) * 1e6).cast("long"))
      .withColumn("_y", round(log(col("cnt").cast("double")) * 1e6).cast("long"))
    top.agg(
        count(lit(1)).as("k_fit"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"), sum(col("_x") * col("_x")).as("_sxx"))
      .withColumn("_slope",
        (col("k_fit") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
          (col("k_fit") * col("_sxx") - col("_sx") * col("_sx")).cast("double"))
      .crossJoin(broadcast(nTypes))
      .select(col("n_types"), col("k_fit"),
        (round(col("_slope") * 1e4) / 1e4).as("slope"),
        (round((col("_sy").cast("double") / col("k_fit") / 1e6 -
          col("_slope") * (col("_sx").cast("double") / col("k_fit") / 1e6)) * 1e4) / 1e4)
          .as("intercept"))
  }

  /**
   * Memorization-exposure audit — the privacy/copyright risk scan a corpus
   * runs before release: a word `k`-gram occurring in exactly ONE document
   * is text a model can only reproduce by memorizing that document. Per
   * doc: distinct k-gram count, how many are corpus-unique (df = 1), the
   * unique fraction, and the review flag at `tau` — the doc-level ranking
   * that feeds manual review or downweighting.
   *
   * Scale shape: distinct (doc, gram) projection (Dedup.shingles is
   * already distinct-per-doc), ONE gram-keyed shuffle where a
   * gram-partitioned window counts df in place (no second corpus scan, no
   * join back), then a doc-keyed map-side-partial re-agg; gram-less short
   * docs keep a row via the doc_id left join. Linear in gram volume.
   */
  def memorizationAudit(docs: DataFrame, k: Int = 5, tau: Double = 0.5,
                        textCol: String = "text"): DataFrame = {
    require(k >= 1, s"memorizationAudit: k must be >= 1, got $k")
    // materialize the words array BEFORE shingling — the shingle lambda
    // slices the outer array, and an unmaterialized one re-runs the whole
    // regex+split chain per element (the documented Dedup.shinglesOf trap).
    // The gram itself is reduced to a 64-bit xxhash fingerprint BEFORE the
    // df window (the p30/r11 convention): the gram-keyed shuffle carries
    // 8 bytes per row instead of a ~k-word string, and only counts leave
    // this chain. A collision (p ≈ 2⁻⁶⁴ per gram pair) could merge two
    // grams' df — the string-exact DuckDB oracle gates equality per round.
    val g = Par.spread(docs).select(col("doc_id"), Dedup.wordsOf(col(textCol)).as("_w"))
      .select(col("doc_id"), explode(Dedup.shinglesOf(col("_w"), k)).as("_gs"))
      .select(col("doc_id"), xxhash64(col("_gs")).as("gram"))
    val withDf = g.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))))
    val perDoc = withDf.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        (round(coalesce(col("n_unique").cast("double") / col("n_grams"), lit(0.0))
          * 1e4) / 1e4).as("unique_frac"))
      .withColumn("review",
        (col("unique_frac") > tau && col("n_grams") > 0).cast("long"))
  }

  /** Offline k-gram presence index for the streaming novelty gate: the
    * corpus's DISTINCT word k-grams persisted as one parquet column. */
  def writeGramIndex(docs: DataFrame, dir: String, k: Int = 5,
                     textCol: String = "text"): Unit =
    docs.select(Dedup.wordsOf(col(textCol)).as("_w"))
      .select(explode(Dedup.shinglesOf(col("_w"), k)).as("gram"))
      .distinct()
      .write.mode("overwrite").parquet(dir)

  /**
   * Novelty of an arriving batch against the persisted gram index — the
   * ingest admission signal ("have we already trained on this text?"):
   * per doc, distinct k-grams, how many the index KNOWS, and the novel
   * fraction. A refresh crawl full of novel_frac ≈ 0 docs is re-crawl
   * churn, not new data.
   *
   * Scale shape (the p52 contract): the index is the big side and NEVER
   * moves — the batch's grams broadcast onto one index scan; the per-doc
   * re-agg is batch-sized. Gram-less docs keep a zeroed row.
   */
  def noveltyAgainstIndex(batch: DataFrame, indexDir: String, k: Int = 5,
                          textCol: String = "text"): DataFrame = {
    val idx = batch.sparkSession.read.parquet(indexDir).select("gram")
    val g = batch.select(col("doc_id"), Dedup.wordsOf(col(textCol)).as("_w"))
      .select(col("doc_id"), explode(Dedup.shinglesOf(col("_w"), k)).as("gram"))
    // the known-count is an INNER join so the small batch side can build
    // the broadcast hash table while the index streams (a left join pins
    // the preserved batch side to the streamed position). countDistinct
    // keeps the count correct even if an at-least-once replay ever left
    // duplicate gram rows in the index (the join would multiply them)
    val nAll = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val nKnown = broadcast(g).join(idx, Seq("gram"))
      .groupBy("doc_id").agg(countDistinct(col("gram")).as("n_known"))
    batch.select(col("doc_id"))
      .join(nAll, Seq("doc_id"), "left").join(nKnown, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        (round(coalesce((col("n_grams") - coalesce(col("n_known"), lit(0L)))
          .cast("double") / col("n_grams"), lit(0.0)) * 1e4) / 1e4).as("novel_frac"))
  }

  /** Append a batch's UNSEEN grams to the index (left-anti against the
    * current index, so the index stays a distinct-gram set and later
    * batches see earlier ones — the p52 incremental-index contract). */
  def appendToGramIndex(batch: DataFrame, indexDir: String, k: Int = 5,
                        textCol: String = "text"): Unit = {
    val idx = batch.sparkSession.read.parquet(indexDir).select("gram")
    batch.select(Dedup.wordsOf(col(textCol)).as("_w"))
      .select(explode(Dedup.shinglesOf(col("_w"), k)).as("gram"))
      .distinct()
      .join(idx, Seq("gram"), "left_anti")
      .write.mode("append").parquet(indexDir)
  }

  // ----------------------------------------------------- boolean retrieval

  /**
   * Persisted term inverted index — boolean retrieval over the corpus:
   * the postings table (term, doc_id, tf) hash-bucketed into `buckets`
   * partition directories, so a k-term query prunes to ≤ k of `buckets`
   * dirs BEFORE any read. The curation-time "every doc mentioning X and Y"
   * without a corpus scan (no analog in the reference — carbonapi's
   * find/expand index paths, `pkg/parser/` + pathcache, index series
   * NAMES; this indexes corpus CONTENT).
   *
   * Scale shape: the build is one corpus scan + one (term, doc_id)
   * aggregate with map-side partials; the one shuffle is the write's own
   * bucket partitioning. At query time the index is the big side and
   * never moves (the p52 incremental-index contract) — cost tracks the
   * QUERY terms' document frequency, never corpus size. Size `buckets` so
   * one directory stays scannable (~vocab/buckets terms each).
   */
  def writeTermIndex(docs: DataFrame, dir: String, buckets: Int = 64,
                     textCol: String = "text"): Unit = {
    // term-sorted within each written file: hash bucketing scatters a
    // PREFIX range across every bucket dir, so [[prefixSearchTermIndex]]
    // can't partition-prune — instead the local sort clusters each file's
    // row groups by term, and parquet min/max stats skip the groups a
    // pushed StartsWith can't match (the range-pruning a sorted layout
    // buys without a second index)
    postings(docs, seg = 0L, buckets, textCol)
      .sortWithinPartitions("bucket", "term")
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    // ranking sidecar: per-doc length (Σ tf), SEGMENTED like the postings
    // (seg 0 here, append-only deltas from [[appendToTermIndex]]) —
    // doc-cardinality metadata, derived from the postings just written so
    // the corpus never scans twice. The 1-row corpus stats (n_docs,
    // total_tokens) are deliberately NOT persisted: they depend on the
    // tombstone set, which exists only at query time, so [[TermIndex]]
    // folds them from the alive doclen once per opened handle.
    val p = docs.sparkSession.read.parquet(dir)
    p.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      .withColumn("seg", lit(0L))
      .write.mode("overwrite").parquet(s"$dir.doclen")
    writeIndexMeta(docs.sparkSession, dir, buckets)
  }

  /** The index's self-describing bucket count (`$dir.meta`, 1 row): every
    * reader resolves the count FROM THE INDEX, so a caller-supplied value
    * that disagrees with the layout can never silently prune the wrong
    * partition dirs — the caller's `buckets` arg is only a fallback for
    * pre-meta indexes. */
  private def writeIndexMeta(spark: SparkSession, dir: String, buckets: Int): Unit = {
    import spark.implicits._
    Seq(buckets).toDF("buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir.meta")
  }

  private def indexBuckets(spark: SparkSession, dir: String,
                           fallback: Int): Int =
    try spark.read.parquet(s"$dir.meta").select("buckets").head().getInt(0)
    catch { case _: org.apache.spark.sql.AnalysisException => fallback }

  /** The one tombstone rule of every merge-on-read artifact: a
    * `(key, before_seg)` tombstone kills the key's rows with
    * seg < before_seg. Tombstones are refresh-sized by nature (only
    * CHANGED docs have one), so they broadcast into a left-anti keyed on
    * `key` with the segment range as the residual. */
  private[pipeline] def dropTombstoned(rows: DataFrame,
                                       tombstones: Option[DataFrame],
                                       key: String): DataFrame =
    tombstones.fold(rows) { tb =>
      val t = tb.select(col(key).as("_tid"), col("before_seg"))
      rows.join(broadcast(t),
        col(key) === col("_tid") && col("seg") < col("before_seg"),
        "left_anti")
    }

  /**
   * An opened term index — the one implementation of every term-index
   * reader: each dir-based function below ([[bm25TopK]], [[phraseSearch]],
   * ...; their docs give the scale shape) opens one and calls its
   * like-named method. A long-lived reader ([[graft.api.SearchApi]]) opens
   * one per mount, so a request pays only for its own postings slices.
   * Resolved once each: the postings relation (at open) and the doclen
   * relation (first use) — one DataFrame keeps its file listing and
   * schema, so the handle is a SNAPSHOT of the segments present then, and
   * `tombstones` must be the matching snapshot; the bucket count, from
   * `.meta` (`fallbackBuckets` only for a pre-meta index); the alive
   * doclen and its corpus stats, which enter BM25 as literals. A term's
   * bucket is computed on the driver ([[bucketOf]]), starting no job.
   */
  final class TermIndex(spark: SparkSession, dir: String,
                        tombstones: Option[DataFrame] = None,
                        fallbackBuckets: Int = 64) {

    val postingsRel: DataFrame = spark.read.parquet(dir)
    lazy val doclenRel: DataFrame = spark.read.parquet(s"$dir.doclen")
    lazy val buckets: Int = indexBuckets(spark, dir, fallbackBuckets)

    /** `rows` minus the tombstoned ones (the mount's tombstone snapshot). */
    def alive(rows: DataFrame): DataFrame = dropTombstoned(rows, tombstones, "doc_id")

    /** Alive (doc_id, dl) rows. Under the maintenance contract (every edit
      * appends AND tombstones its prior segments — the rule that keeps the
      * postings duplicate-free) exactly one row per alive doc survives. */
    lazy val doclen: DataFrame = alive(doclenRel).select(col("doc_id"), col("dl"))

    /** (n_docs, total_tokens) over the alive doclen — folded here, never
      * persisted, because they depend on the tombstone set. A mount whose
      * every doc is tombstoned has no rows, and the sum over them is null:
      * it reads 0 (every score is then null, over no hits). */
    lazy val stats: (Long, Long) = {
      val r = doclen.agg(count(lit(1)), sum(col("dl"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    /** The partition a term's postings were written to: the Murmur3 (seed
      * 42) that `hash()` applies, then `pmod` by the bucket count. */
    def bucketOf(term: String): Int =
      Math.floorMod(Murmur3HashFunction.hash(
        UTF8String.fromString(term), StringType, 42L).toInt, buckets)

    /** Alive postings of the query terms: their buckets land in the scan
      * as partition-pruning literals, the term equality disjunction
      * pushes into the parquet row groups, and the tombstone anti-join
      * runs on the pruned slices only. */
    private def postings(terms: Seq[String]): DataFrame =
      alive(postingsRel.where(
        col("bucket").isin(terms.map(bucketOf).distinct: _*) &&
          col("term").isin(terms: _*)))

    private def perDoc(rows: DataFrame): DataFrame =
      rows.groupBy("doc_id")
        .agg(countDistinct(col("term")).as("n_terms"), sum(col("tf")).as("n_hits"))

    /** Per alive (term, doc) posting of the (distinct) `terms`: the BM25
      * contribution `_c`, quantized to a 1e-6-scaled integer before any sum. */
    private def contributions(terms: Seq[String], k1: Double, b: Double): DataFrame = {
      val (nDocs, totalTokens) = stats
      val hits = postings(terms).select(col("term"), col("doc_id"), col("tf"))
      val dfs = hits.groupBy("term").agg(count(lit(1)).as("df"))
      val idf = log(lit(1.0) +
        (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      val norm = col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * (col("dl") * lit(nDocs)).cast("double") / lit(totalTokens)))
      hits.join(broadcast(dfs), "term")
        .join(doclen, "doc_id")
        .withColumn("_c", round(idf * norm * 1e6).cast("long"))
    }

    private val score = (round(col("_s").cast("double") / 1e6 * 1e4) / 1e4).as("score")

    def bm25TopK(terms: Seq[String], k: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
      require(terms.nonEmpty, "bm25TopK: empty query")
      contributions(terms.distinct, k1, b)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum(col("_c")).as("_s"))
        .select(col("doc_id"), col("n_terms"), score)
        .orderBy(desc("score"), col("doc_id"))
        .limit(k)
    }

    def bm25TopKBatch(queries: Seq[(Long, Seq[String])], k: Int = 10,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
      import spark.implicits._
      require(queries.nonEmpty, "bm25TopKBatch: empty query set")
      require(queries.forall(_._2.nonEmpty), "bm25TopKBatch: empty query")
      val qTerms = broadcast(queries
        .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
        .toDF("query_id", "term"))
      contributions(queries.flatMap(_._2).distinct, k1, b)
        .join(qTerms, "term")
        .groupBy("query_id", "doc_id")
        .agg(count(lit(1)).as("n_terms"), sum(col("_c")).as("_s"))
        .select(col("query_id"), col("doc_id"), col("n_terms"), score)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
            .orderBy(desc("score"), col("doc_id"))))
        .where(col("rank") <= k)
        .select("query_id", "doc_id", "n_terms", "score")
        .orderBy(col("query_id"), desc("score"), col("doc_id"))
    }

    def phraseSearch(phrase: Seq[String]): DataFrame = {
      require(phrase.size >= 2, "phraseSearch: need at least 2 terms")
      val idx = postings(phrase.distinct)
        .select(col("term"), col("doc_id"), col("positions"))
      var acc = idx.where(col("term") === phrase.head)
        .select(col("doc_id"), col("positions").as("starts"))
      for ((t, i) <- phrase.zipWithIndex.drop(1)) {
        val p = idx.where(col("term") === t)
          .select(col("doc_id"), col("positions").as(s"_p$i"))
        acc = acc.join(p, "doc_id")
          .withColumn("starts",
            filter(col("starts"), s => array_contains(col(s"_p$i"), s + lit(i))))
          .where(size(col("starts")) > 0)
          .drop(s"_p$i")
      }
      acc.select(col("doc_id"), size(col("starts")).cast("long").as("n_occur"))
    }

    def search(terms: Seq[String], mode: String = "and"): DataFrame = {
      require(terms.nonEmpty, "searchTermIndex: empty query")
      val q = terms.distinct
      val hits = perDoc(postings(q))
      mode match {
        case "and" => hits.where(col("n_terms") === q.size)
          .select(col("doc_id"), col("n_hits"))
        case "or" => hits.select(col("doc_id"), col("n_terms"), col("n_hits"))
        case other => throw new IllegalArgumentException(
          s"searchTermIndex: bad mode $other")
      }
    }

    def prefixSearch(prefix: String): DataFrame = {
      require(prefix.nonEmpty, "prefixSearchTermIndex: empty prefix")
      perDoc(alive(postingsRel.where(col("term").startsWith(prefix))))
    }

    def completeTerms(prefix: String, k: Int = 10): DataFrame = {
      require(prefix.nonEmpty, "completeTerms: empty prefix")
      // alive postings are unique per (term, doc) under the maintenance
      // contract (same as bm25TopK's df), so count(*) IS the doc frequency
      alive(postingsRel.where(col("term").startsWith(prefix))).groupBy("term")
        .agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), col("term"))
        .limit(k)
    }

    def globSearch(glob: String): DataFrame = {
      require(glob.nonEmpty, "globSearchTermIndex: empty glob")
      val prefix = graft.core.Glob.literalPrefix(glob)
      val pruned =
        if (prefix.nonEmpty) postingsRel.where(col("term").startsWith(prefix))
        else postingsRel
      perDoc(alive(pruned.where(col("term").rlike(graft.core.Glob.toRegex(glob)))))
    }
  }

  /** Positional postings: tf plus the sorted in-doc positions (tf-sized
    * per row — the standard positional-index payload), enabling phrase
    * queries without ever scanning text. */
  private def postings(docs: DataFrame, seg: Long, buckets: Int,
                       textCol: String): DataFrame =
    docs.select(col("doc_id"),
        posexplode(Dedup.wordsOf(col(textCol))).as(Seq("pos", "term")))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("seg", lit(seg))
      .withColumn("bucket", pmod(hash(col("term")), lit(buckets)))

  /**
   * Merge-on-read index maintenance (the Lucene/Delta segment contract —
   * parquet can't delete rows, so a refresh NEVER rewrites the index):
   * new and edited docs append their postings as a higher segment;
   * deletions and edits record a tombstone `(doc_id, before_seg)` meaning
   * "doc_id's postings in segments < before_seg are dead". A refresh
   * costs work proportional to the CHANGED docs; the corpus-sized seg-0
   * postings are never touched. Periodic compaction (rewrite alive
   * postings as a new seg 0) is an offline janitor, not a query-path
   * concern.
   */
  def appendToTermIndex(docs: DataFrame, dir: String, seg: Long,
                        buckets: Int = 64, textCol: String = "text"): Unit = {
    require(seg > 0L, "appendToTermIndex: appended segments start at 1")
    val b = indexBuckets(docs.sparkSession, dir, buckets)
    // batch-sized persist: the postings feed BOTH the index append and the
    // doclen delta — without it the batch shingles + aggregates twice
    Scope { s =>
      val p = s.persist(postings(docs, seg, b, textCol))
      p.sortWithinPartitions("bucket", "term")
        .write.mode("append").partitionBy("bucket").parquet(dir)
      // the ranking sidecar rides the SAME merge-on-read contract as the
      // postings: the batch docs' dl rows append at this segment (delta-
      // sized, nothing rewrites); edited docs' stale rows die by the same
      // tombstone the caller records for their postings
      p.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
        .withColumn("seg", lit(seg))
        .write.mode("append").parquet(s"$dir.doclen")
    }
  }

  /**
   * Exact phrase search from the positional postings — no text scan: the
   * phrase's terms read from their ≤ |phrase| pruned buckets, and the
   * start-position set folds left to right (a start survives term i iff
   * term i sits at start + i). Repeated phrase terms just read the same
   * posting twice; `n_occur` counts the surviving starts.
   *
   * Scale shape: |phrase| − 1 doc_id equijoins between QUERY-df-sized
   * posting slices (each join shrinks the candidate set — the rarest
   * term's df bounds everything after it); position checks are per-row
   * array ops over tf-sized payloads. The corpus never scans.
   */
  def phraseSearch(spark: SparkSession, indexDir: String,
                   phrase: Seq[String], buckets: Int = 64,
                   tombstones: Option[DataFrame] = None): DataFrame =
    new TermIndex(spark, indexDir, tombstones, buckets).phraseSearch(phrase)

  /**
   * BM25 ranked retrieval over the persisted index (Robertson et al.,
   * k1 = 1.2, b = 0.75): score every doc matching ANY query term,
   * top-k by score. Per-(term, doc) contributions are deterministic
   * doubles (idf and tf-norm are pure functions of (df, tf, dl, N,
   * total_tokens)); each contribution quantizes to a 1e-6-scaled integer
   * BEFORE the per-doc sum, so aggregation order can never move the score
   * (the p67 integer-sum rule), and the top-k order is total
   * (rounded score desc, doc_id).
   *
   * Scale shape: postings pruned to ≤ k buckets as in [[searchTermIndex]],
   * tombstones applied by the shared broadcast anti-join (so a merge-on-
   * read-maintained index ranks appended docs and never ranks deleted
   * ones); df is counted on the alive pruned postings (k rows, broadcast
   * back); dl is the alive doc-length sidecar joined on doc_id; the
   * corpus stats (n_docs, total_tokens) fold from the SAME alive doclen
   * once per opened [[TermIndex]] (the only tombstone-exact place) and
   * enter the formula as literals; the top-k is TakeOrdered.
   * The dl·N product stays under 2^63 for dl·N < 9.2e18 (e.g. 10^4-token
   * docs in a 10^13-doc corpus) — the g105 bound rule, documented not
   * assumed.
   * This overload opens a [[TermIndex]] per call, so its corpus-stats job
   * runs when it is CALLED, not when the returned frame runs (likewise
   * [[bm25TopKBatch]] and `Similarity.hybridServeTopK`).
   */
  def bm25TopK(spark: SparkSession, indexDir: String, terms: Seq[String],
               k: Int = 10, buckets: Int = 64,
               k1: Double = 1.2, b: Double = 0.75,
               tombstones: Option[DataFrame] = None): DataFrame =
    new TermIndex(spark, indexDir, tombstones, buckets).bm25TopK(terms, k, k1, b)

  /**
   * Batched multi-query BM25 — the fetchMulti lesson applied to retrieval
   * (the reference batches every render leaf into one backend round-trip,
   * ref `expr/expr.go:36-96`; a retrieval tier should batch the same way):
   * N queries answered from ONE pruned postings read and ONE doclen read
   * instead of N sequential index scans. Per-query semantics are EXACTLY
   * [[bm25TopK]]'s — same integer-quantized contributions, same rounded
   * score, same (score desc, doc_id) total order per query.
   *
   * Scale shape: the postings scan prunes to the UNION of the queries'
   * term buckets (df is a property of the term alone, counted once on
   * that slice); the per-query fan-out is a broadcast join against the
   * q×terms request frame; the only extra shuffle vs a single query is
   * the (query_id, doc_id) aggregate, and the final top-k is a
   * query-partitioned window over score-bounded groups.
   */
  def bm25TopKBatch(spark: SparkSession, indexDir: String,
                    queries: Seq[(Long, Seq[String])], k: Int = 10,
                    buckets: Int = 64, k1: Double = 1.2, b: Double = 0.75,
                    tombstones: Option[DataFrame] = None): DataFrame =
    new TermIndex(spark, indexDir, tombstones, buckets).bm25TopKBatch(queries, k, k1, b)

  /** The offline janitor completing the merge-on-read lifecycle: rewrite
    * the ALIVE postings (tombstones applied across every segment) as a
    * fresh seg-0 index at `outDir`, after which the tombstone table is
    * empty. The ranking sidecars travel too — the alive doclen rows
    * rewrite at seg 0 and the meta sidecar carries the bucket count — so
    * the compacted output is a full drop-in for a fresh
    * [[writeTermIndex]] build, [[bm25TopK]] included. One full index scan
    * + the broadcast tombstone anti-join + the write's own bucket
    * partitioning (the doclen pass is doc-cardinality metadata) — run it
    * when the delta segments or tombstone list grow past taste; queries
    * never wait for it. */
  def compactTermIndex(spark: SparkSession, indexDir: String,
                       tombstones: DataFrame, outDir: String): Unit = {
    require(outDir != indexDir,
      "compactTermIndex: outDir must be a fresh location (the scan reads indexDir)")
    val ti = new TermIndex(spark, indexDir, Some(tombstones))
    ti.alive(ti.postingsRel)
      .withColumn("seg", lit(0L))
      .sortWithinPartitions("bucket", "term")
      .write.mode("overwrite").partitionBy("bucket").parquet(outDir)
    ti.doclen
      .withColumn("seg", lit(0L))
      .write.mode("overwrite").parquet(s"$outDir.doclen")
    writeIndexMeta(spark, outDir, ti.buckets)
  }

  /** Retrieval over a maintained index: [[searchTermIndex]] plus the
    * tombstone anti-join ([[dropTombstoned]]) on the pruned postings. */
  def searchTermIndexMoR(spark: SparkSession, indexDir: String,
                         tombstones: DataFrame, terms: Seq[String],
                         mode: String = "and", buckets: Int = 64): DataFrame =
    new TermIndex(spark, indexDir, Some(tombstones), buckets).search(terms, mode)

  /**
   * Prefix (`term LIKE 'foo%'`) retrieval over the persisted index — the
   * find/expand analog for corpus CONTENT (the reference's glob grammar,
   * `pkg/parser/parser.go:701-715`, serves series NAMES from its own
   * index; content terms get the same leading-literal contract). Hash
   * bucketing destroys prefix locality, so this is the DOCUMENTED
   * trade-off decision: prefix queries scan every bucket directory, but
   * the scan ships `StartsWith(term, prefix)` into the parquet reader,
   * and because [[writeTermIndex]] sorts each file by term, row-group
   * min/max stats skip everything outside the prefix range — measured at
   * ~flat query cost on the 100× corpus (ScaleBench p94 rows) without a
   * second range-partitioned index to maintain. A sorted-term index
   * variant would buy directory-level pruning at the cost of a second
   * full artifact and a skewed write (Zipfian term mass); the row-group
   * path wins until a profile says otherwise.
   *
   * Returns (doc_id, n_terms, n_hits): distinct matching terms and summed
   * tf per doc, tombstone-aware like the other consumers.
   */
  def prefixSearchTermIndex(spark: SparkSession, indexDir: String,
                            prefix: String,
                            tombstones: Option[DataFrame] = None): DataFrame =
    new TermIndex(spark, indexDir, tombstones).prefixSearch(prefix)

  /**
   * Term autocomplete over the persisted index — the content-side twin of
   * the reference's tags/autoComplete + find/expand surface (carbonapi
   * completes series-name nodes and tag values from its own catalog,
   * `pkg/parser/parser.go:701-715` glob machinery; this completes corpus
   * CONTENT terms): the top-k terms matching a prefix, ranked by ALIVE
   * document frequency (df desc, term — a total order).
   *
   * Scale shape: the [[prefixSearchTermIndex]] scan (pushed StartsWith +
   * term-sorted row-group skipping) feeds a term-keyed agg whose
   * cardinality is the matching VOCABULARY slice, not the corpus; the
   * result is top-k via TakeOrdered. Tombstone-aware like every other
   * index consumer, so a maintained index never completes a deleted
   * doc's last term with a stale df.
   */
  def completeTerms(spark: SparkSession, indexDir: String, prefix: String,
                    k: Int = 10,
                    tombstones: Option[DataFrame] = None): DataFrame =
    new TermIndex(spark, indexDir, tombstones).completeTerms(prefix, k)

  /**
   * Glob term retrieval — the reference's full glob grammar
   * (`pkg/parser/parser.go:701-715`: `*`, `?`, `[a-z]`, `{a,b}`, ported
   * in [[graft.core.Glob]]) applied to corpus CONTENT terms. Terms are
   * dot-free by construction ([[Dedup.wordsOf]] strips punctuation), so
   * the grammar's within-node `[^.]*` semantics coincide with `.*` here.
   * The glob's literal prefix pushes into the parquet reader as a
   * StartsWith (term-sorted row groups skip non-matching ranges, the
   * [[prefixSearchTermIndex]] path); the full anchored regex runs as the
   * residual filter on the surviving rows. A prefix-less glob
   * (`{a,b}...`, leading `*`) degrades to the documented all-row-groups
   * scan — same trade-off decision as the prefix operator.
   */
  def globSearchTermIndex(spark: SparkSession, indexDir: String,
                          glob: String,
                          tombstones: Option[DataFrame] = None): DataFrame =
    new TermIndex(spark, indexDir, tombstones).globSearch(glob)

  /**
   * Boolean retrieval against the persisted index: mode `and` returns
   * docs containing EVERY query term (relevance = summed tf), `or` docs
   * containing ANY (with how many distinct terms matched). The query
   * terms' buckets are computed on the driver ([[TermIndex.bucketOf]], no
   * job) and land in the scan as partition-pruning literals; the term
   * equality disjunction pushes into the parquet row groups.
   */
  def searchTermIndex(spark: SparkSession, indexDir: String,
                      terms: Seq[String], mode: String = "and",
                      buckets: Int = 64): DataFrame =
    new TermIndex(spark, indexDir, None, buckets).search(terms, mode)
}
