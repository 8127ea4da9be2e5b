package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Kernels, SeriesFrame}
import graft.parser.{Ast, Parser}

/**
 * Rewrite / second-fetch operators: functions whose semantics require a
 * names-only pass over a first fetch, followed by re-planned scans
 * (the reference's RewriteFunctions dispatch, ref expr/expr.go:128-151).
 *
 * The driver-side collect in each is a NAMES-ONLY projection (series count
 * rows, few bytes each) — the same cardinality the reference materializes —
 * never point data. The re-planned scans stay distributed.
 */
object RewriteOps {

  /** applyByNode: one rewritten target per distinct node prefix, `%`
    * substituted. (ref expr/rewrite/applyByNode/function.go:31-77) */
  def applyByNode(ctx: Eval.Ctx, listExpr: Ast, nodeNum: Int, template: String,
                  newName: Option[String]): DataFrame = {
    val names = Eval.eval(listExpr, ctx)
      .select(col("name")).distinct().collect().map(_.getString(0))
    val prefixes = names.map { n =>
      val segs = n.split('.')
      // node overflow is a 400, not a silent truncation
      // (ref rewrite/applyByNode/function.go:60-63 → parser.ErrInvalidArg)
      if (nodeNum >= segs.length) throw new IllegalArgumentException(
        s"applyByNode: name=$n: nodeNum must be less than ${segs.length}")
      segs.take(nodeNum + 1).mkString(".")
    }.distinct.sorted
    require(prefixes.nonEmpty, "applyByNode: no series matched")
    val rewritten = prefixes.map { p =>
      val t0 = template.replace("%", p)
      val t = newName.fold(t0)(nn => s"""alias($t0,'${nn.replace("%", p)}')""")
      Parser.parse(t)
    }
    // the rewritten targets' leaves were invisible to the render-level
    // prefetch (only the template was); batch them into ONE store scan
    // before the per-prefix evals, like the render tier does for its own
    // leaves — k prefixes cost one OR-pruned read, not k
    ctx.prefetch(rewritten.flatMap(Eval.fetchLeaves))
    rewritten.map(Eval.eval(_, ctx)).reduce(_ unionByName _)
  }

  /** useSeriesAbove / aboveSeries: keep names whose max > value, regex-rename,
    * re-fetch the renamed metrics. (ref expr/rewrite/aboveSeries/function.go:26-120) */
  def useSeriesAbove(ctx: Eval.Ctx, listExpr: Ast, value: Double, search: String,
                     replace: String): DataFrame = {
    val src = Eval.eval(listExpr, ctx)
    val maxC = SeriesFrame.vecScalar(Kernels.max)(col("values"))
    val names = src.where(maxC > lit(value))
      .select(col("name")).distinct().collect().map(_.getString(0))
    val re = search.r
    val renamed = names.map(n => re.replaceAllIn(n, SeriesOps.toJavaBackrefs(replace))).distinct
    if (renamed.isEmpty) Eval.emptyFrame(ctx.spark)
    // one OR-pruned batch scan for all renamed metrics (fetchMulti ≡
    // per-pattern union, StoreSpec-gated) instead of one scan per name;
    // deliberately store-direct like the per-name version was — a refetch
    // failure propagates rather than masking into empty series
    else ctx.store.fetchMulti(ctx.spark, renamed, ctx.from, ctx.until)
  }

  /** aliasQuery: regex-derive a lookup target per series, template its last
    * value into the new name. All lookup targets are unioned into ONE frame
    * and reduced in ONE action (first series per target by name, its last
    * value) — N series cost one job, not N (ref aliasQuery/function.go). */
  def aliasQuery(ctx: Eval.Ctx, listExpr: Ast, search: String, replace: String,
                 newName: String): DataFrame = {
    // pinned: the names collect below and the returned rename both read it
    val src = Eval.pin(Eval.eval(listExpr, ctx))
    // names-only collect: the regex rewrite that derives each lookup target
    // runs on the driver because targets feed plan CONSTRUCTION
    val names = src.select(col("name")).distinct().collect().map(_.getString(0))
    val re = search.r
    val javaRepl = SeriesOps.toJavaBackrefs(replace)
    val targetOf = names.map(n => n -> re.replaceAllIn(n, javaRepl)).toMap
    val lookups = targetOf.values.toSeq.distinct
    val lastByTarget: Map[String, Double] =
      if (lookups.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.expressions.Window
        // regex-derived lookup targets are invisible to the render-level
        // prefetch — batch their leaves into one scan before evaluating
        ctx.prefetch(lookups.flatMap(t => Eval.fetchLeaves(Parser.parse(t))))
        lookups.map(t => Eval.eval(Parser.parse(t), ctx)
            .select(org.apache.spark.sql.functions.lit(t).as("_q"), col("name"), col("values")))
          .reduce(_ unionByName _)
          .withColumn("_last", SeriesFrame.vecScalar(Kernels.last)(col("values")))
          .withColumn("_rn", org.apache.spark.sql.functions.row_number()
            .over(Window.partitionBy(col("_q")).orderBy(col("name"))))
          .where(col("_rn") === 1)
          .select(col("_q"), col("_last")).collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
      }
    val renames = names.map { n =>
      n -> fmtTemplate(newName, lastByTarget.getOrElse(targetOf(n), Double.NaN))
    }.toMap
    val u = udf((n: String) => renames.getOrElse(n, n))
    src.withColumn("name", u(col("name")))
  }

  /** printf-style %d / %.Nf / %.f / %f substitution of one numeric value
    * (Go's precision-less "%.f" means zero decimals). */
  private def fmtTemplate(tpl: String, v: Double): String =
    "%(\\.\\d*)?[dfg]".r.replaceAllIn(tpl, m => {
      val spec0 = m.matched
      val out =
        if (spec0.endsWith("d")) (if (Kernels.isNaN(v)) "nan" else v.toLong.toString)
        else {
          val spec = (if (spec0.contains(".") && !spec0.exists(_.isDigit)) spec0.replace(".", ".0") else spec0)
            .replace("g", "f")
          String.format(java.util.Locale.ROOT, spec, java.lang.Double.valueOf(v))
        }
      java.util.regex.Matcher.quoteReplacement(out)
    })

  /**
   * baseline / baselineAberration: interpolated median across N time-shifted
   * copies of each series; aberration divides current by the baseline.
   * Shifted scans union → one groupBy(name) with a small element-wise
   * median over ≤N arrays. (ref baselines/function.go)
   */
  def baselines(ctx: Eval.Ctx, listExpr: Ast, unit: Long, startI: Int, endI: Int,
                isAberration: Boolean, maxAbsentPercent: Double = Double.NaN,
                minAvgLimit: Double = Double.NaN): DataFrame = {
    val shifted = (startI until endI).filter(_ != 0).map { i =>
      val offs = unit * i
      Eval.eval(listExpr, ctx.copy(from = ctx.from + offs, until = ctx.until + offs))
        .withColumn("start", col("start") - offs)
    }
    require(shifted.nonEmpty, "baseline: empty shift range")
    val grouped = shifted.reduce(_ unionByName _)
      .groupBy(col("name"))
      .agg(first(col("tags")).as("tags"), first(col("step")).as("step"),
        collect_list(struct(col("start"), col("values"))).as("copies"))
    // element-wise interpolated median over the copies' common (intersection)
    // grid — copies may carry different grids when the store over-fetches
    val medU = udf((copies: Seq[org.apache.spark.sql.Row], step: Long) => {
      val parsed = copies.map(r => (r.getLong(0), r.getSeq[Double](1)))
      val lo = parsed.map(_._1).max
      val hi = parsed.map { case (s, v) => s + v.length * step }.min
      val n = math.max(((hi - lo) / step).toInt, 0)
      val out = Array.tabulate(n) { i =>
        val ts = lo + i.toLong * step
        val vals = parsed.flatMap { case (s, v) =>
          val j = ((ts - s) / step).toInt
          if (j >= 0 && j < v.length) Some(v(j)) else None
        }.filter(v => !Kernels.isNaN(v)).toArray
        if (vals.isEmpty) Double.NaN else Kernels.percentile(vals, 50, interpolate = true)
      }
      (lo, out)
    })
    val base = grouped.withColumn("_r", medU(col("copies"), col("step")))
      .withColumn("start", col("_r._1"))
      .withColumn("values", col("_r._2"))
      .drop("copies", "_r")
    val fn = if (isAberration) "baselineAberration" else "baseline"
    // the absent/min-avg gates evaluate on the BASELINE MEDIANS, not the
    // aberration ratios (ref baselines/function.go:107-138: totalSum /
    // totalNotAbsent accumulate r.Values[i] BEFORE the division overwrites
    // it), and the min-avg gate is skipped when every slot is absent
    // (totalNotAbsent == 0 keeps the all-NaN series)
    val gatedBase =
      if (Kernels.isNaN(maxAbsentPercent) && Kernels.isNaN(minAvgLimit)) base
      else {
        val absent = SeriesFrame.vecScalar(v =>
          if (v.isEmpty) 100.0 else 100.0 * v.count(Kernels.isNaN) / v.length)(col("values"))
        val avgC = SeriesFrame.vecScalar(Kernels.mean)(col("values"))
        val r1 = if (Kernels.isNaN(maxAbsentPercent)) base else base.where(absent <= lit(maxAbsentPercent))
        if (Kernels.isNaN(minAvgLimit)) r1
        else r1.where(avgC >= lit(minAvgLimit) || isnan(avgC))
      }
    val result =
      if (!isAberration) gatedBase
      else {
        val cur = Eval.eval(listExpr, ctx)
          .select(col("name"), col("start").as("curStart"), col("values").as("curValues"))
        // current series is on its own grid — index it by ts, not position
        val abU = udf((b: Seq[Double], start: Long, step: Long, cv: Seq[Double], cs: Long) =>
          b.indices.map { i =>
            val j = ((start + i.toLong * step - cs) / step).toInt
            val c = if (j >= 0 && j < cv.length) cv(j) else Double.NaN
            if (Kernels.isNaN(c)) Double.NaN
            else if (b(i) != 0.0 && !Kernels.isNaN(b(i))) c / b(i)
            else b(i)
          }.toArray)
        gatedBase.join(cur, "name")
          .withColumn("values", abU(col("values"), col("start"), col("step"), col("curValues"), col("curStart")))
          .drop("curValues", "curStart")
      }
    SeriesFrame.rewrap(result, fn)
  }

  /**
   * timeShiftByMetric: shift each series so its version (dot-node at
   * versionRank) aligns with the latest version seen in the marker metrics.
   * Marker versions look like "major_minor"; offset = (latest mark's last
   * data position − this version's) × step. (ref timeShiftByMetric/function.go)
   */
  def timeShiftByMetric(metrics: DataFrame, marks: DataFrame, versionRank: Int): DataFrame = {
    case class Mark(version: String, major: Int, minor: Int, position: Int)
    val markRe = """(\d+)_(\d+)""".r
    val collected = marks.select(col("name"), col("values"), col("step")).collect()
    val step = collected.headOption.map(_.getLong(2)).getOrElse(60L)
    val versions = collected.flatMap { r =>
      val version = r.getString(0).split('.').last
      markRe.findFirstMatchIn(version).flatMap { m =>
        val vals = r.getSeq[Double](1)
        val pos = vals.lastIndexWhere(v => !Kernels.isNaN(v))
        if (pos < 0) None
        else Some(Mark(version, m.group(1).toInt, m.group(2).toInt, pos))
      }
    }
    // latest mark per major version, ordered newest-first
    val latest = versions.groupBy(_.major).values
      .map(_.maxBy(_.minor)).toSeq.sortBy(m => (-m.major, -m.minor))
    require(latest.nonEmpty, "timeShiftByMetric: no versioned marks found")
    val topPos = latest.head.position
    val offsets = latest.map(m => m.version -> (topPos - m.position).toLong * step).toMap
    val u = udf((n: String) => {
      val parts = n.split('.')
      if (versionRank >= parts.length) null
      else {
        val ver = parts(versionRank)
        offsets.get(ver)
          .orElse(offsets.collectFirst { case (k, v) if k.startsWith(ver) => v })
          .map(java.lang.Long.valueOf(_))
          .orNull
      }
    })
    metrics.withColumn("_off", u(col("name")))
      .where(col("_off").isNotNull)
      .withColumn("start", col("start") + col("_off"))
      .drop("_off")
      .transform(d => SeriesFrame.rewrap(d, "timeShiftByMetric"))
  }

  // ------------------------------------------------------------ seriesByTag

  /** Parse `seriesByTag('k=v','k2=~re',...)` into (key, op, value) specs.
    * (ref expr/tags/helper.go:58-148) */
  def parseTagSpecs(target: String): Seq[(String, String, String)] = {
    val inner = target.stripPrefix("seriesByTag(").stripSuffix(")")
    val arg = """['"]([^'"]*)['"]""".r
    arg.findAllMatchIn(inner).map(_.group(1)).map { spec =>
      val opIdx = spec.indexOf('=')
      require(opIdx > 0, s"seriesByTag: bad spec $spec")
      val (rawK, rawV) = (spec.substring(0, opIdx), spec.substring(opIdx + 1))
      val (k, neg) = if (rawK.endsWith("!")) (rawK.dropRight(1), true) else (rawK, false)
      val (v, regex) = if (rawV.startsWith("~")) (rawV.drop(1), true) else (rawV, false)
      val op = (neg, regex) match {
        case (false, false) => "="
        case (false, true)  => "=~"
        case (true, false)  => "!="
        case (true, true)   => "!=~"
      }
      (k, op, v)
    }.toSeq
  }

  /** Evaluate seriesByTag against the store: tag predicates compile to map
    * lookups (+rlike) pushed into the scan filter. */
  def seriesByTag(ctx: Eval.Ctx, target: String): DataFrame = {
    val specs = parseTagSpecs(target)
    require(specs.nonEmpty, s"seriesByTag: no tag specs in $target")
    // the tag scan is an unpruned full-range read of the store: pinned
    // request-scoped, so a cold store reads it once per request however
    // many actions follow
    val all = Eval.pin(ctx.store.fetchAll(ctx.spark, ctx.from, ctx.until))
    // graphite tagdb semantics: an `=`/`!=` value containing `*` is a
    // wildcard (any run of characters), not an exact string — `tag2=value*`
    // matches value21 (graphite-web tags/base.py; exercised by the
    // reference's sum(seriesByTag('tag2=value*')) tables)
    def tagGlob(v: String): String =
      "^" + v.flatMap {
        case '*' => ".*"
        case c if "\\^$()+|{}[].?".indexOf(c.toInt) >= 0 => "\\" + c
        case c => c.toString
      } + "$"
    specs.foldLeft(all) { case (df, (k, op, v)) =>
      val tagVal = coalesce(element_at(col("tags"), k), lit(""))
      op match {
        case "="   => if (v.contains('*')) df.where(tagVal.rlike(tagGlob(v))) else df.where(tagVal === v)
        case "!="  => if (v.contains('*')) df.where(!tagVal.rlike(tagGlob(v))) else df.where(tagVal =!= v)
        case "=~"  => df.where(tagVal.rlike(v))
        case "!=~" => df.where(!tagVal.rlike(v))
      }
    }.withColumn("pathExpression", lit(target))
  }
}
