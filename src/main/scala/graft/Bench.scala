package graft
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
object Bench {
  /** First-recorded per-query seconds from a BASELINE table (`| q | s |`
    * rows) in the working directory — the 2× acceptance anchors for the
    * outlier re-measure protocol. */
  private[graft] def anchors(file: String): Map[String, Double] =
    if (!new java.io.File(file).exists()) Map.empty
    else scala.util.Using.resource(scala.io.Source.fromFile(file, "UTF-8"))(
      _.getLines().filter(_.startsWith("| q_")).flatMap { l =>
        val c = l.split("\\|").map(_.trim)
        if (c.length >= 3) scala.util.Try(c(1) -> c(2).toDouble).toOption
        else None
      }.toMap)

  /** Untimed warm-up reads of table footers, so session/JIT start-up is
    * not billed to whichever query runs first. */
  private[graft] def warm(spark: SparkSession, dir: String,
      tables: Seq[String]): Unit =
    tables.foreach(t => scala.util.Try(spark.read.parquet(s"$dir/$t.parquet").count()))

  /** A committed JSON artifact in the working directory, if readable. */
  private[graft] def readJson(file: String): Option[JValue] =
    try Some(JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Path.of(file))))
    catch { case _: Throwable => None }

  private[graft] def num(v: JValue): Option[Double] = v match {
    case JDouble(x) => Some(x)
    case JInt(x) => Some(x.toDouble)
    case JLong(x) => Some(x.toDouble)
    case _ => None
  }

  /** `["a","b"]` — a JSON array of plain names. */
  private[graft] def jsonStrs(xs: Iterable[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Fixed-work single-thread spin — the ambient-load microprobe
    * (r11, r10 verdict item 6): 3×10⁸ LCG steps take a fixed number
    * of cycles, so the measured seconds move 1:1 with co-tenant CPU
    * pressure. Median of 3 runs; recorded at suite start AND end so a
    * round-over-round total comparison can cite measured host noise
    * instead of inferring it from diff scope (the r10 1.19× ambient
    * shift). The JIT cannot elide the loop: the accumulator escapes
    * through the stderr guard. */
  private[graft] def spinProbe(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 1234567891011L
      var i = 0
      while (i < 300000000) {
        h = h * 6364136223846793005L + 1442695040888963407L
        i += 1
      }
      if (h == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    Seq(once(), once(), once()).sorted.apply(1)
  }

  /** 1/5/15-minute load averages from /proc/loadavg ("-1" triple off
    * Linux). */
  private[graft] def loadAvg(): String =
    try {
      val parts = java.nio.file.Files
        .readString(java.nio.file.Path.of("/proc/loadavg"))
        .trim.split("\\s+")
      s"[${parts(0)},${parts(1)},${parts(2)}]"
    } catch { case _: Throwable => "[-1,-1,-1]" }

  /** One execution of a declared query to `count()`, its scratch frames
    * released inside the timing: seconds, or the -1.0 sentinel when it
    * throws (never a timing, so a broken query cannot masquerade as
    * fast). `analyzer` attributes its stages to the query's name. */
  private[graft] def timeOnce(spark: SparkSession, dir: String, name: String,
      analyzer: Option[metrics.StageAnalyzer]): Double = {
    analyzer.foreach(_.setLabel(name))
    val t0 = System.nanoTime()
    val ok = try { SparkEntry.queries(name)(spark, dir).count(); true }
      catch { case _: Throwable => false }
      finally ScratchCache.release()
    if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
  }

  /** A timed query set: `suite` holds the 3-pass medians, `remeasured`
    * (query, suite, isolated) for every 2× anchor breach, `reported`
    * the suite medians after the substitution rule. */
  final case class Timing(suite: Seq[(String, Double)],
      remeasured: Seq[(String, Double, Double)],
      reported: Seq[(String, Double)], errors: Set[String]) {
    /** Reported values still over 2× their anchor. */
    def breaches(anchors: Map[String, Double]): Seq[String] =
      reported.collect { case (q, t) if over2x(anchors, q, t) => q }
  }

  private def over2x(anchors: Map[String, Double], q: String, t: Double) =
    t > 0 && anchors.get(q).exists(b => b > 0 && t > 2 * b)

  /** THE timing core, shared by the sf0.1 suite and the 10× gate:
    * median of 3 passes over `names` in order (cache cleared before each
    * pass, `analyzer` reset), -1.0 and an `errors` entry for a query
    * that throws. `snapshot` runs after the suite, before any re-measure.
    *
    * OUTLIER RE-MEASURE (the r03 q_dedup_prefix 8.29s-vs-1.29s
    * incident): a suite median over 2× its `anchors` row is re-measured
    * in ISOLATION (fresh 3-run median) and both numbers are recorded.
    * GATE ERGONOMICS (r05, tightened r07): the isolated median becomes
    * the REPORTED value only when the suite breach is in the ambient
    * noise band (< 2.5×) AND the isolated median itself clears 2× — a
    * genuinely regressed query can never report its best-case time. */
  def timeQueries[A](spark: SparkSession, dir: String, names: Seq[String],
      anchors: Map[String, Double],
      analyzer: Option[metrics.StageAnalyzer])(snapshot: => A): (Timing, A) = {
    val errors = scala.collection.mutable.SortedSet.empty[String]
    def timed(name: String): Double = {
      val t = timeOnce(spark, dir, name, analyzer)
      if (t < 0) errors += name
      t
    }
    def median(ts: Seq[Double]): Double =
      if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(1)
    val passes = (1 to 3).map { _ =>
      spark.catalog.clearCache()
      analyzer.foreach(_.reset()) // keep only the last pass's attribution
      names.map(n => n -> timed(n)).toMap
    }
    val suite = names.map(n => n -> median(passes.map(_(n))))
    val snap = snapshot
    val remeasured = suite.filter { case (q, t) => over2x(anchors, q, t) }.sortBy(_._1)
      .map { case (q, suiteT) => (q, suiteT,
        median((1 to 3).map { _ => spark.catalog.clearCache(); timed(q) })) }
    val sub = remeasured.collect {
      case (q, suiteT, isoT) if isoT > 0 &&
          anchors.get(q).exists(b => suiteT < 2.5 * b && isoT <= 2.0 * b) =>
        q -> isoT
    }.toMap
    val reported = suite.map { case (q, t) => q -> sub.getOrElse(q, t) }
    (Timing(suite, remeasured, reported, errors.toSet), snap)
  }

  /** Total-length cap of the contract line: the driver keeps the LAST
    * 2000 chars of stdout, and the ~80-char sbt epilogue follows it. */
  private[graft] val LineCap = 1850

  /** THE DRIVER CONTRACT LINE: one JSON line of at most LineCap chars for
    * any query set (a full map is ~6 KB, which left every r01–r08 round
    * artifact at parsed:null); the complete map is BENCH_DETAIL.json.
    * Fill order, each entry only while the line fits: the error names,
    * then the STICKY set (the queries the previous round's line printed,
    * so a query that got faster never reads as dropped_from_bench —
    * r12 verdict item 7), then the rest slowest-first. */
  private[graft] def contractLine(total: Double, totalNorm: Double,
      reported: Seq[(String, Double)], errors: Seq[String], remeasuredN: Int,
      sticky: Set[String], sf: String): String = {
    val slowest = reported.filter(_._2 >= 0).sortBy(-_._2)
    def entry(q: String, t: Double) = f""""$q":$t%.2f"""
    def line(qs: Seq[(String, Double)], errs: Seq[String]) =
      s"""{"metric":"total","value":$total,""" +
        f""""value_load_normalized":$totalNorm%.1f,"unit":"sec",""" +
        s""""queries":${qs.map { case (q, t) => entry(q, t) }
          .mkString("{", ",", "}")},""" +
        s""""queries_omitted":${reported.size - qs.size},""" +
        s""""queries_total":${reported.size},"errors":${jsonStrs(errs)},""" +
        s""""errors_omitted":${errors.size - errs.size},""" +
        s""""remeasured_n":$remeasuredN,""" +
        s""""detail":"BENCH_DETAIL.json","sf":"$sf"}"""
    // the empty line carries the widest omitted counts, so each entry's
    // length + separator bounds what it adds
    var used = line(Nil, Nil).length
    def fits(len: Int): Boolean =
      if (used + len + 1 > LineCap) false else { used += len + 1; true }
    val errs = errors.filter(e => fits(e.length + 2))
    val (stick, rest) = slowest.partition(e => sticky.contains(e._1))
    val shown = (stick ++ rest).filter { case (q, t) => fits(entry(q, t).length) }
      .map(_._1).toSet
    line(slowest.filter(e => shown.contains(e._1)), errs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val loadStart = loadAvg()
    val spinStart = spinProbe()
    // The session-conf contract lives in GraftSession (r13): one
    // builder shared by every harness main, so benchmarked, verified
    // and plan-dumped configurations cannot drift. Per-conf rationale
    // (constraint propagation, checkpoint checksums, tmpfs scratch,
    // codegen cache) is documented there.
    // NOT set: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning.
    // Measured both ways (r12): letting AQE re-coalesce CACHED plans
    // sizes partitions by bytes, which serializes the CPU-heavy,
    // byte-light cached vector frames (q_ann_ivf_trained_adaptive
    // 1.05s → 1.83s isolated warm) for a sub-noise gain elsewhere.
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the per-query stage breakdown (tez-tools job-analyzer parity):
    // stages are attributed to the query the loop labels; only the
    // final measured pass is kept (reset() per pass)
    val analyzer = new graft.metrics.StageAnalyzer
    spark.sparkContext.addSparkListener(analyzer)
    // untimed warmup: touch every table's footer + one shuffle + the
    // custom expressions, so session/JIT/codegen startup (~5s) is not
    // attributed to whichever query happens to run first
    warm(spark, sfDir, Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings"))
    scala.util.Try(SparkEntry.queries.get("q_agg_sum_count")
      .foreach(_(spark, sfDir).count()))
    // optional arg: comma-separated query names, for single-query iteration
    // (the driver passes no args → full suite, unchanged)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => args.isEmpty || args(0).split(',').contains(n)).sorted
    // Stage attribution is snapshotted after the suite, before the
    // re-measures: re-measured queries execute 3 more times under the
    // same label, and a later snapshot would attribute those extra
    // runs' bytes to the query — a 4× phantom "regression" in the trend
    // gate (observed on q_dedup_ngram r05).
    val (timing, (stagesJson, criticalJson, skewMap, newSh)) =
      timeQueries(spark, sfDir, names, anchors("BASELINE.md"), Some(analyzer)) {
        // let the listener bus drain before reading the stage report
        Thread.sleep(1500)
        // critical-path chain per query (CriticalPathAnalyzer parity)
        (analyzer.reportJson(), analyzer.criticalJson(), analyzer.skewFlags(),
          analyzer.report().view
            .mapValues(_.map(r => r.shuffleReadBytes + r.shuffleWriteBytes).sum)
            .toMap)
      }
    val skewJson = skewMap.toSeq.sortBy(_._1)
      .map { case (q, r) => f""""$q":$r%.1f""" }.mkString("{", ",", "}")
    // SKEW AUTO-ISOLATION (r10, r09 verdict item 6): the r08 false
    // 38.2× flag came from the skew map aggregating cache-cold
    // first-pass stages; the fix that closed it was a MANUAL isolated
    // per-stage profile. That logic now runs in-process: any suite skew
    // flag ≥ 20× is re-measured ISOLATED (fresh run, analyzer reset)
    // and the isolated per-stage profile rides BENCH_DETAIL.json — a
    // committed skew flag is therefore either reproduced-with-stage-
    // named or auto-cleared, never a mystery for the next round.
    // A failure in this profiling-only run blanks its entry and never
    // reaches `errors` (the timed suite passes already succeeded).
    val skewIsoJson = skewMap.toSeq // the SNAPSHOT the committed map shows
      .filter { case (qn, r) => r >= 20.0 && names.contains(qn) }
      .sortBy(_._1)
      .map { case (qn, s0) =>
        spark.catalog.clearCache()
        analyzer.reset()
        timeOnce(spark, sfDir, qn, Some(analyzer))
        Thread.sleep(1200) // drain the listener bus
        val i0 = analyzer.skewFlags().getOrElse(qn, 0.0)
        val st = analyzer.report().getOrElse(qn, Nil).map(_.json)
          .mkString("[", ",", "]")
        f""""$qn":{"suite":$s0%.1f,"isolated":$i0%.1f,"stages":$st}"""
      }.mkString("{", ",", "}")
    val reported = timing.reported
    val remeasureJson = timing.remeasured
      .map { case (q, s0, i0) => s""""$q":{"suite":$s0,"isolated":$i0}""" }
      .mkString("{", ",", "}")
    val qs = reported.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // any failed query poisons the headline total: a consumer comparing
    // only "value" must not read a broken (hence shorter) run as faster
    val total =
      if (timing.errors.nonEmpty) -1.0 else reported.map(_._2).filter(_ >= 0).sum
    val errJson = jsonStrs(timing.errors.toSeq.sorted)
    // AQE-coalesce evidence (full-suite runs only): one shuffle-heavy
    // query swept across shuffle-partition settings — AQE re-coalesces
    // post-shuffle partitions at runtime, so times stay ~flat instead of
    // degrading with over-partitioning (single timed pass per setting)
    val sweepJson =
      if (args.nonEmpty) "{}"
      else {
        val sweepQ = "q_dedup_minhash"
        val entries = Seq("8", "32", "128").map { n =>
          spark.conf.set("spark.sql.shuffle.partitions", n)
          spark.catalog.clearCache()
          s"\"p$n\":" + timeOnce(spark, sfDir, sweepQ, None)
        }
        spark.conf.set("spark.sql.shuffle.partitions", cpus)
        entries.mkString(s"""{"query":"$sweepQ",""", ",", "}")
      }
    // The contract line stays lean (contractLine); the full analyzer
    // detail (per-stage breakdown, skew flags, the shuffle-partition
    // sweep) goes to BENCH_DETAIL.json next to BASELINE.md — a
    // committed artifact tools/stage_trend.py diffs round-over-round.
    val prevDetail = readJson("BENCH_DETAIL.json")
    // TREND GATE — tools/stage_trend.py's durable-signal check run
    // in-process: before the previous committed BENCH_DETAIL.json is
    // overwritten, diff per-query total shuffle bytes against it.
    // Wall-time drift is noisy (GC, neighborhood — the r03
    // q_dedup_prefix incident); SHUFFLE-BYTE growth >1.5× over a 1 MB
    // floor is the durable signature of a plan regression (a new
    // exchange, a lost broadcast, a wider payload) and is recorded in
    // the artifact itself so a regression cannot slip through a round.
    val trendJson =
      if (args.nonEmpty) "[]"
      else {
        val oldSh: Map[String, Long] = prevDetail.map(_ \ "stages") match {
          case Some(JObject(fields)) => fields.collect {
            case (q, JArray(st)) => q -> st.map(s =>
              (num(s \ "sh_read").getOrElse(0.0) +
                num(s \ "sh_write").getOrElse(0.0)).toLong).sum
          }.toMap
          case _ => Map.empty
        }
        oldSh.toSeq.sorted.collect {
          case (q, o) if o > (1L << 20) &&
              newSh.getOrElse(q, 0L) > o * 3 / 2 =>
            s"""{"query":"$q","old_sh":$o,"new_sh":${newSh(q)}}"""
        }.mkString("[", ",", "]")
      }
    // ambient-load record (r11): end-of-suite loadavg + the same
    // fixed-work spin — stage_trend.py annotates round-over-round
    // totals with the spin ratio so host noise is measured, not
    // inferred from diff scope
    val loadEnd = loadAvg()
    val spinEnd = spinProbe()
    // LOAD-NORMALIZED TOTAL (r12, the r11 verdict's item 5): the spin
    // probe's fixed workload moves 1:1 with co-tenant pressure, so
    // total · spin_ref / spin_now is the suite total the REFERENCE
    // host level would have measured. spin_ref follows the
    // first-recorded protocol: it is inherited from the previous
    // committed BENCH_DETAIL.json (seeded once from the first host
    // record ever written — the r11 run's ambient level) and never
    // rewritten, so every round's normalized value shares one anchor
    // instead of chaining ratios. Raw stays the headline; normalized
    // rides beside it so round-over-round comparisons stop needing
    // prose defense.
    val spinNow = (spinStart + spinEnd) / 2
    val spinRef: Double = prevDetail.map(_ \ "host").flatMap(h =>
      num(h \ "spin_ref").orElse(for (a <- num(h \ "spin_s_start");
        b <- num(h \ "spin_s_end")) yield (a + b) / 2)).getOrElse(spinNow)
    val totalNorm =
      if (total > 0 && spinNow > 0) total * spinRef / spinNow else -1.0
    val hostJson = f"""{"cpus":$cpus,"loadavg_start":$loadStart,""" +
      f""""loadavg_end":$loadEnd,"spin_s_start":$spinStart%.3f,""" +
      f""""spin_s_end":$spinEnd%.3f,"spin_ref":$spinRef%.3f}"""
    val detail =
      s"""{"metric":"total","value":$total,"value_load_normalized":$totalNorm,"unit":"sec","queries":$qs,"errors":$errJson,"remeasured":$remeasureJson,"skew":$skewJson,"skew_isolated":$skewIsoJson,"stages":$stagesJson,"critical_path":$criticalJson,"sweep":$sweepJson,"trend_regressions":$trendJson,"host":$hostJson,"sf":"$sfDir"}"""
    // full-suite runs only — don't clobber on iteration
    if (args.isEmpty && new java.io.File("BASELINE.md").exists())
      java.nio.file.Files.writeString(
        java.nio.file.Path.of("BENCH_DETAIL.json"), detail)
    // the sticky set: the newest committed BENCH_r*.json's parsed map
    val arts = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
    val prevPrinted: Set[String] =
      if (arts.isEmpty) Set.empty
      else readJson(arts.maxBy(_.getName.filter(_.isDigit).toInt).getPath)
        .map(_ \ "parsed" \ "queries") match {
          case Some(JObject(fields)) => fields.map(_._1).toSet
          case _ => Set.empty
        }
    println(contractLine(total, totalNorm, reported, timing.errors.toSeq.sorted,
      timing.remeasured.size, prevPrinted, sfDir))
    spark.stop()
  }
}
