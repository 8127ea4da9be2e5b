package graft
object Bench {
  /** The stamp of a full-answer-timed run. History lines without it were
    * timed by `Dataset.count()`, which let Catalyst prune the final sort
    * and the computed columns, so they are never compared against. */
  val Timing = "\"timing\":\"full\""

  /** Each row's quietest time over the history lines of `sfDir` that
    * carry [[Timing]]. */
  def historyMin(lines: Seq[String], sfDir: String): Map[String, Double] = {
    val re = """"([A-Za-z0-9_]+)":([0-9]+\.[0-9]+)""".r
    lines.filter(l => l.contains(s""""sf":"$sfDir"""") && l.contains(Timing))
      .flatMap { line =>
        val i = line.indexOf("\"queries\":{")
        if (i < 0) Nil
        else re.findAllMatchIn(line.substring(i + 11, line.indexOf('}', i)))
          .map(m => m.group(1) -> m.group(2).toDouble).toSeq
      }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // knobs: ONLY = comma-list of query-name prefixes; REPS = time each query N
    // times and keep the fastest. REPS defaults to 2 so the published total
    // is best-of-2 — a single pass is hostage to host load (r4's driver run
    // read 5.8x the quiet-machine number on identical plans)
    val reps = Harness.reps(2)
    val spark = Harness.session()
    val fixture = Harness.warm(spark, sfDir)
    val catalog = SparkEntry.queries.filter { case (n, _) => SparkEntry.selected(n) }
    val results = catalog.map { case (name, fn) =>
      fixture.count()
      name -> Harness.bestOf(spark, name, reps)(fn(spark, sfDir))
    }
    // millisecond precision: full-precision doubles made the one-liner
    // ~7 KB at 207 queries and the driver's captured stdout tail truncated
    // it (BENCH parsed:null in r5/r6) — 3 decimals is ~40% shorter and
    // well inside timing noise
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val secs = results.map { case (k, v) => k -> v.seconds }
    val qs = secs.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val layers = results.map { case (k, v) => s"\"" + k + "\":" + v.json }
      .mkString("{", ",", "}")
    val total = secs.values.sum
    // the per-query map is ~7 KB at 229 queries and the driver's captured
    // stdout tail is ~2.2 KB — any line embedding it truncates and records
    // parsed:null (r5-r8). The full map goes ONLY to the file; stdout gets
    // exactly one short machine-parseable line, printed LAST.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // the history lives NEXT TO the bench output (or where
    // SPARK_GRAFT_BENCH_HISTORY points) — a cwd-relative literal silently
    // scattered history files when a run launched from another directory
    val histPath = sys.env.get("SPARK_GRAFT_BENCH_HISTORY")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        val outAbs = java.nio.file.Paths.get(out).toAbsolutePath
        outAbs.getParent.resolve("bench_history.jsonl")
      }
    // variance flag (r15 verdict): any row reading >2x its quietest
    // committed history value (same sf, and by >0.5s absolute so ms-scale
    // rows can't trip on noise) gets NAMED in the run record — an
    // unexplained in-suite spread like g146's 1.3->11.5s must never again
    // need a human diffing history lines to notice
    val histMin: Map[String, Double] = try {
      if (java.nio.file.Files.exists(histPath)) {
        import scala.jdk.CollectionConverters._
        historyMin(java.nio.file.Files.readAllLines(histPath).asScala.toSeq, sfDir)
      } else Map.empty
    } catch { case e: Exception =>
      System.err.println(s"[bench] WARNING: could not read history $histPath: $e")
      Map.empty
    }
    val flagged = secs.filter { case (n, v) =>
      histMin.get(n).exists(m => v > 2 * m && v - m > 0.5)
    }
    val flagsJson = flagged.map { case (n, v) =>
      s""""$n":{"now":${f3(v)},"hist_min":${f3(histMin(n))}}"""
    }.mkString("{", ",", "}")
    // the per-layer map goes to bench_out.json only; history keeps the
    // per-row seconds the variance flags read
    def line(extra: String) =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec",$Timing,"queries":$qs,$extra"variance_flags":$flagsJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line(s""""layers":$layers,""") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // round-over-round evidence: bench_out.json is overwritten per run,
    // which destroyed the per-query history the regression audit needs
    // (r14 verdict) — so every run ALSO appends its line (stamped with
    // wall-clock) to the history, which only ever grows
    try {
      val stamped = line("").patch(1,
        "\"at\":\"" + java.time.Instant.now().toString + "\",", 0)
      java.nio.file.Files.write(histPath,
        (stamped + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Exception =>
      // never fail the bench over evidence bookkeeping, but never lose
      // the signal silently either
      System.err.println(s"[bench] WARNING: failed to append history $histPath: $e")
    }
    spark.stop()
    // r18 (r17 verdict item 5): a SECOND compact machine line carrying the
    // ten worst per-query deltas vs committed history, so the driver's
    // automated regression audit has per-query signal without embedding
    // the full ~7 KB map in stdout (which truncated the tail in r5-r8).
    // The one-line total contract is unchanged and still printed LAST.
    val worst = secs.toSeq
      .flatMap { case (n, v) => histMin.get(n).map(m => (n, v, m)) }
      .sortBy { case (_, v, m) => -(v / math.max(m, 1e-9)) }
      .take(10)
      .map { case (n, v, m) => s""""$n":{"now":${f3(v)},"hist_min":${f3(m)}}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"flags","flagged":${flagged.size},"worst":$worst}""")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","nq":${results.size},"flagged":${flagged.size},"queries_full":"$out","sf":"$sfDir"}""")
  }
}
