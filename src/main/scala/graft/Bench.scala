package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // knobs: ONLY = comma-list of query-name prefixes; REPS = time each query N
    // times and keep the fastest. REPS defaults to 2 so the published total
    // is best-of-2 — a single pass is hostage to host load (r4's driver run
    // read 5.8x the quiet-machine number on identical plans)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the shared event-series fixture (one-time derivation from
    // events.parquet) so its build cost isn't charged to whichever query
    // happens to run first
    new graft.store.EventSeriesStore(sfDir).allSeries(spark).count()
    // warm the non-event scans + codegen/job infrastructure the same way:
    // one cheap pass per source table, untimed (first query otherwise pays
    // parquet footer reads and the first whole-stage-codegen compile)
    SparkEntry.entry(spark).count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val catalog = SparkEntry.queries.filter { case (n, _) => SparkEntry.selected(n) }
    // several operators persist intermediates (signatures, shingle tables,
    // CC labels); left cached they accumulate across the full catalog suite
    // and evict each other, making in-suite numbers order-dependent
    // (observed 10x inflation on late queries). Each rep owns one scope,
    // released after its timing, so no rep reads what an earlier rep
    // cached; the shared fixture memo stays.
    val fixture = new graft.store.EventSeriesStore(sfDir).allSeries(spark)
    val results = catalog.map { case (name, fn) =>
      // untimed fixture re-warm: a heavy query's persists can evict the
      // shared series cache blocks, and the NEXT timed query then pays the
      // re-materialization (observed in-suite: g23 16.7 s vs 1.3 s
      // isolated). A count on the cached frame is ~ms when still resident.
      fixture.count()
      // fail loudly: a swallowed error would REDUCE the published total
      // (r5 recorded -1 s per failed rep) — breakage must break the bench
      def timeOnce(): Double = graft.core.Scope { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            throw new RuntimeException(s"bench query '$name' failed", e)
        }
        (System.nanoTime() - t0) / 1e9
      }
      val times0 = (1 to reps).map(_ => timeOnce())
      // load-robustness: when the reps disagree wildly (a GC pause or a
      // co-resident JVM stole the host mid-query) spend ONE extra rep so a
      // transient spike can't stand as the best-of — bounded cost, only
      // unstable queries pay it (r9's loaded driver pass read 1.45x the
      // quiet total on identical plans)
      val times = if (reps >= 2 && times0.max > 1.5 * times0.min)
        times0 :+ timeOnce() else times0
      name -> times.min
    }
    // millisecond precision: full-precision doubles made the one-liner
    // ~7 KB at 207 queries and the driver's captured stdout tail truncated
    // it (BENCH parsed:null in r5/r6) — 3 decimals is ~40% shorter and
    // well inside timing noise
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
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
        val re = """"([A-Za-z0-9_]+)":([0-9]+\.[0-9]+)""".r
        java.nio.file.Files.readAllLines(histPath).asScala
          .filter(_.contains(s""""sf":"$sfDir""""))
          .flatMap { line =>
            val i = line.indexOf("\"queries\":{")
            if (i < 0) Nil
            else {
              val j = line.indexOf('}', i)
              re.findAllMatchIn(line.substring(i + 11, j))
                .map(m => m.group(1) -> m.group(2).toDouble).toSeq
            }
          }
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
      } else Map.empty
    } catch { case e: Exception =>
      System.err.println(s"[bench] WARNING: could not read history $histPath: $e")
      Map.empty
    }
    val flagged = results.filter { case (n, v) =>
      histMin.get(n).exists(m => v > 2 * m && v - m > 0.5)
    }
    val flagsJson = flagged.map { case (n, v) =>
      s""""$n":{"now":${f3(v)},"hist_min":${f3(histMin(n))}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"variance_flags":$flagsJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // round-over-round evidence: bench_out.json is overwritten per run,
    // which destroyed the per-query history the regression audit needs
    // (r14 verdict) — so every run ALSO appends its full line (stamped
    // with wall-clock) to the history, which only ever grows
    try {
      val stamped = json.patch(1,
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
    val worst = results.toSeq
      .flatMap { case (n, v) => histMin.get(n).map(m => (n, v, m)) }
      .sortBy { case (_, v, m) => -(v / math.max(m, 1e-9)) }
      .take(10)
      .map { case (n, v, m) => s""""$n":{"now":${f3(v)},"hist_min":${f3(m)}}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"flags","flagged":${flagged.size},"worst":$worst}""")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","nq":${results.size},"flagged":${flagged.size},"queries_full":"$out","sf":"$sfDir"}""")
  }
}
