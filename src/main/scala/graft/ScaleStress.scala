package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import java.nio.file.StandardOpenOption.{APPEND, CREATE}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Empirical scale-stress harness: converts the "this plan survives
  * 100×" arguments (SURVEY §2 scale notes, PLANS.md shapes) into a
  * measurement. The reference makes the same claim structurally — its
  * scheduling scales by splitting the same DAG wider
  * (tez-dag/src/main/java/org/apache/tez/dag/app/dag/impl/VertexImpl.java,
  * split grouping in TezSplitGrouper.java:72) — and its evidence is
  * cluster history; ours is this harness.
  *
  * Method: synthesize a FACTOR× corpus from the sf0.1 fixture by
  * replicating the four big tables with key-remapped ids and
  * decorrelated payloads, then run the scale-critical operator set at
  * 1× and FACTOR× through the SAME writer/layout (both scales are
  * re-written with identical file counts, so the only variable is
  * data volume) and compare:
  *   (a) physical plan signature — shuffle/broadcast/sort/aggregate
  *       counts and join strategies must not change shape (a
  *       broadcast→shuffle join flip past the 10 MB threshold is
  *       legitimate ADAPTIVE behavior and is reported as such);
  *   (b) runtime ratio — a linear operator may pay at most
  *       ~factor × time (plus fixed overheads, which only help);
  *   (c) skew — max/median task-time flags from StageAnalyzer at
  *       FACTOR× must stay far under the 20× alarm line.
  *
  * Payload decorrelation is what makes replication honest for the
  * similarity family: a verbatim 10× copy would put 10 exact
  * duplicates in every LSH bucket and grow candidate PAIRS
  * quadratically — not a scaling test but a different corpus. Instead:
  *   - documents.text is alphabet-rotated per replica (letter k-shift;
  *     length, whitespace, casing, within-replica near-dup structure
  *     all preserved; cross-replica shingle overlap destroyed), so
  *     near-dup pairs scale ×factor exactly;
  *   - embeddings.embedding is cyclically shifted per replica (norms
  *     and within-replica cosine structure preserved; cross-replica
  *     vectors decorrelated);
  *   - keys (doc_id, vec_id, event/user ids, lineitem keys) move to
  *     disjoint per-replica ranges, so the graph family sees factor
  *     disjoint copies of the same topology and per-user streaming
  *     state sees factor× distinct keys.
  *
  * This is the one stress main; every subcommand runs on the
  * `GraftSession` contract and prepares its corpora through [[corpora]]:
  *
  *  - `ratio [baseSfDir] [factor] [outJson] [queries] [mode]` — the
  *    1× vs factor× measurement above (SCALE_rNN*.json);
  *  - `ann [baseSfDir] [factor] [outJson] [mode]` — the clustered-ANN
  *    gates of [[AnnClusteredStress]] (SCALE_rNN_clustered_ann*.json);
  *  - `gate10x [baseSfDir]` — the 10× bench gate (BENCH_10x.json);
  *  - `profile q_name [corpusDirOrFactor] [runs] [mode]` — the
  *    per-stage drill-down of one query.
  */
object ScaleStress extends AdaptiveSparkPlanHelper {

  /** The scale-critical operator set: every family whose 100 TB
    * viability the VERDICT graded from plan shape alone. */
  val StressQueries: Seq[String] = Seq(
    // dedup family (documents)
    "q_dedup_exact", "q_dedup_keep_best", "q_dedup_ngram",
    "q_dedup_minhash", "q_dedup_minhash_weighted", "q_dedup_prefix",
    "q_dedup_simhash", "q_dedup_substring", "q_dedup_cluster",
    "q_dedup_semantic",
    // similarity / ANN family (embeddings)
    "q_dedup_embedding_lsh", "q_dedup_embedding_probe2",
    "q_dedup_embedding_probe3", "q_dedup_embedding_adaptive",
    "q_dedup_semantic_adaptive",
    "q_ann_lsh", "q_ann_lsh_adaptive",
    "q_ann_ivf", "q_ann_ivf_probe2",
    "q_ann_ivf_trained", "q_ann_ivf_trained_probe2",
    "q_ann_ivf_trained_probe3", "q_ann_ivf_trained_dist",
    "q_ann_ivf_trained_probe3_dist",
    "q_ann_ivf_trained_l3", "q_ann_ivf_trained_l3_probe2",
    "q_dedup_semantic_mp",
    "q_ann_incremental", "q_ann_incremental_trained",
    "q_stream_ann_ingest", "q_ann_delete",
    // r11: the L3 serving surface, the facade, and the residual-256
    // path scale-gated beside the books they ride
    "q_ann_incremental_l3", "q_stream_ann_ingest_l3", "q_ann_delete_l3",
    "q_ann_index_auto", "q_ann_index_auto_l3",
    // r12: the facade SERVING arms (ingest/delete route by the law)
    "q_ann_ingest_auto_l3", "q_ann_delete_auto_l3",
    "q_ann_ivfpq", "q_ann_ivfpq_trained", "q_ann_ivfpq_trained256",
    "q_ann_ivfpq_res256",
    "q_kmeans",
    // r11/r12: the real-codec multimodal paths (decode cost ∝ rows)
    "q_multimodal_decode", "q_multimodal_ingest_png", "q_multimodal_audio",
    // training-data prep, curation + text (documents)
    "q_seq_pack", "q_inverted_index", "q_tfidf", "q_bm25",
    "q_heavy_hitters", "q_contamination",
    // iterative graph family (lineitem)
    "q_cc_largestar", "q_pagerank", "q_kcore", "q_shortest_path",
    // temporal + streaming (events)
    "q_event_funnel", "q_window_session",
    "q_stream_join", "q_stream_session", "q_stream_tumbling")

  /** Per-replica big-table transforms. Key offsets are far above any
    * fixture id range; payload mutations are deterministic functions
    * of the replica index only (no RNG — resumable, reproducible).
    *
    * Replica offsets are PRIME (r12 — the r11 honest finding's root
    * fix): the old k·10^7 offset made every modulus m dividing 10^7
    * (the trained child stride 125, the ~100-query probe stride, the
    * vec_id%10 arrival split …) select the SAME base rows in every
    * replica — at factor 100 all 100 recall-probe queries were
    * replicas of base row 0 and every one of them was itself a child
    * seed of the raw-modulus L3 book, which is why modulus-seeded
    * recall ROSE with scale (l3_recall3_probe1 0.78 at 100× in
    * SCALE_r11_clustered_ann_100x.json, vs 0.074 for the identical
    * selection law once the resonance was gone —
    * l3_incsel_recall3_probe1 in SCALE_r12_clustered_ann_100x.json).
    * A prime offset P is coprime to every stride m < P, so
    * b ≡ −kP (mod m) walks a
    * DIFFERENT base residue per replica: modulus-selected samples
    * (seeds, probes, arrival splits) become ordinary samples of the
    * corpus. The per-row geometric scramble below removes the
    * complementary payload symmetry.
    *
    * `mode = "vocabrich"` additionally RENAMES each document's words by
    * a per-doc bucket (word → word + hash(word, bucket) digits, bucket
    * = hash(doc_id) mod 16): within a bucket the renaming is a pure
    * relabeling (near-dup distances, token counts, doc lengths all
    * preserved), across buckets token sets disjoin — so global
    * vocabulary grows ~16× and the 31-word fixture's simhash
    * SIGNATURE-ENTROPY COLLAPSE (identical token multisets → identical
    * 48-bit signatures → superlinear bucket joins, the r06 caveat on
    * q_dedup_simhash) disappears without touching the banding under
    * test. Applied at EVERY replica including the 1× baseline, so the
    * ratio compares the same rich corpus at two volumes.
    *
    * Modes COMPOSE by substring (r12): `clustered_vocabrich` applies
    * the clustered embedding geometry AND the vocab-rich document
    * renaming — the combined arm the r11 verdict's item 6 asks the
    * clustered ANN stress to measure. */
  private def mutate(name: String, df: DataFrame, k: Int,
      mode: String = "default"): DataFrame =
    name match {
      case "documents" =>
        val lower = "abcdefghijklmnopqrstuvwxyz"
        val upper = lower.toUpperCase
        // distinct letter permutation per replica: rotation by k mod 26,
        // composed with a reversal and/or an adjacent-pair swap chosen
        // by k/26 — 104 distinct substitution alphabets, so no two
        // replicas under factor ≤ 104 share shingles (a wrapped plain
        // rotation would make replica 26 an EXACT copy of replica 0 and
        // quadratically inflate cross-replica pairs; note a half-swap
        // would NOT do as the third variant — swapping halves of a
        // rotation is just a rotation by 13 more)
        def rot(s: String) = {
          var r = s.drop(k % 26) + s.take(k % 26)
          if (((k / 26) & 1) == 1) r = r.reverse
          if (((k / 26) & 2) == 2)
            r = r.grouped(2).map(p => p.reverse).mkString
          r
        }
        val base = df.withColumn("doc_id", col("doc_id") + lit(k * 10000019L))
          .withColumn("text",
            translate(col("text"), lower + upper, rot(lower) + rot(upper)))
        if (!mode.contains("vocabrich")) base
        else base.withColumn("text", expr(
          "array_join(transform(split(text, ' '), w -> concat(w, " +
            "CAST(pmod(hash(w, CAST(pmod(hash(doc_id), 16) AS INT)), 997)" +
            " AS STRING))), ' ')"))
      case "embeddings" =>
        val dim = df.head().getAs[scala.collection.Seq[Float]]("embedding").size
        val s = k % dim
        // replica index factors as (shift = k mod dim, pattern = k div
        // dim): the shift is cyclic, and for k ≥ dim an 8-coordinate
        // periodic SIGN-FLIP pattern composes on top — an orthogonal
        // transform, so norms and within-replica cosine structure are
        // still exactly preserved, while replicas k and k+dim (bit-equal
        // under shift alone — the r06 factor>dim honesty gap) stay
        // decorrelated. Distinct through factor ≤ dim × 256.
        val p = k / dim
        val shifted =
          if (s == 0) "embedding"
          else s"concat(slice(embedding, ${s + 1}, ${dim - s}), " +
            s"slice(embedding, 1, $s))"
        val mutated =
          if (p == 0) shifted
          else s"transform($shifted, (x, j) -> CASE WHEN " +
            s"(($p >> (j % 8)) & 1) = 1 THEN -x ELSE x END)"
        val base = df.withColumn("vec_id", col("vec_id") + lit(k * 10000019L))
          .withColumn("embedding",
            if (s == 0 && p == 0) col("embedding") else expr(mutated))
        // `mode = "clustered"`: plant DENSITY-SKEWED clusters — the r07
        // judge's honesty gap: every ANN scale number so far rode
        // near-uniform synthetic embeddings, the BEST case for a coarse
        // quantizer's occupancy. Each vector joins one of 16 anchors
        // with a linear-ramp mass profile (cluster c gets (2c+1)/256 of
        // rows — the densest ~31× the sparsest); the anchor is a
        // hash-derived pseudo-random direction (anchors mutually
        // ~orthogonal), ADDED at comparable magnitude to the unit
        // vector, so within-cluster cosine lands ~0.4 (clustered, not
        // degenerate) and the spread component supplies the scatter.
        // Deterministic in (vec_id, j) only; applied at every replica
        // including the 1× baseline, so ratios compare the same
        // clustered corpus at two volumes.
        //
        // r12 DECORRELATION (the r11 honest finding): the spread used
        // to be the per-REPLICA orthogonal transform of the base row,
        // so a factor-N corpus was N geometric copies of the same
        // 2000-row base — vec_id-modulus seeds (and the query sample,
        // whose stride divides the 10^7 replica offset) landed on the
        // SAME base origs in every replica, and every modulus-seeded
        // recall number rode that symmetry (full L3 book 0.78 at 100×
        // in SCALE_r11_clustered_ann_100x.json vs 0.074 for the
        // identical selection law without the resonance in
        // SCALE_r12_clustered_ann_100x.json). The replica
        // id now enters the payload GEOMETRY: each row's spread is
        // scrambled by a PER-ROW orthogonal map (cyclic shift by
        // hash(vec_id) mod dim composed with per-(vec_id, j) sign
        // flips — norm-preserving, so cluster magnitudes are
        // untouched), making two replicas of the same base row
        // geometrically unrelated points of their clusters. Modulus
        // seed sets are now ordinary samples of the cluster mass, and
        // the truth set stops carrying cross-replica twins.
        if (!mode.contains("clustered")) base
        else base
          .withColumn("embedding", expr(
            s"transform(embedding, (x, j) -> CAST(" +
              s"element_at(embedding, CAST(1 + pmod(j + pmod(hash(vec_id)," +
              s" $dim), $dim) AS INT)) * " +
              "CASE WHEN pmod(hash(vec_id, j, 9), 2) = 1" +
              " THEN -1.0 ELSE 1.0 END AS FLOAT))"))
          .withColumn("embedding", expr(
            "transform(embedding, (x, j) -> CAST(x + " +
              "(CAST(pmod(hash(CAST(floor(sqrt(CAST(pmod(hash(vec_id), 256)" +
              " AS DOUBLE))) AS INT), j, 42), 1000) AS DOUBLE) / 1000.0" +
              " - 0.5) * 0.35 AS FLOAT))"))
      case "events" =>
        df.withColumn("event_id", col("event_id") + lit(k * 1000000007L))
          .withColumn("user_id", col("user_id") + lit(k * 1000003L))
      case "lineitem" =>
        df.withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000007L))
          .withColumn("l_partkey", col("l_partkey") + lit(k * 10000019L))
          .withColumn("l_suppkey", col("l_suppkey") + lit(k * 1000003L))
      case _ => df
    }

  /** Materialize a factor× corpus at outDir. Both scales go through
    * this (factor=1 included) so layout — file count, encoding,
    * row-group packing — is identical and volume is the only delta. */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int, files: Int = 32, mode: String = "default"): Unit = {
    val big = Seq("documents", "embeddings", "events", "lineitem")
    big.foreach { t =>
      val base =
        if (t == "events") Tables.events(spark, baseDir)
        else spark.read.parquet(s"$baseDir/$t.parquet")
      val scaled = (0 until factor).map(k => mutate(t, base, k, mode))
        .reduce(_ unionByName _)
      scaled.repartition(files)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    // dims ride along unscaled (realistic: dimensions grow far slower
    // than facts) so any query's side tables resolve
    Seq("region", "nation", "customer", "supplier", "part", "orders")
      .foreach { t =>
        spark.read.parquet(s"$baseDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
  }

  /** Structural plan signature: the shape that must survive scale-up. */
  final case class PlanSig(shuffles: Int, broadcasts: Int, sorts: Int,
      aggs: Int, joins: Seq[String]) {
    def json: String =
      s"""{"shuffles":$shuffles,"broadcasts":$broadcasts,""" +
        s""""sorts":$sorts,"aggs":$aggs,""" +
        s""""joins":${joins.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
  }

  def signature(df: DataFrame): PlanSig = {
    val nodes = collect(df.queryExecution.executedPlan) { case p => p.nodeName }
    PlanSig(
      shuffles = nodes.count(_ == "Exchange"),
      broadcasts = nodes.count(_.startsWith("BroadcastExchange")),
      sorts = nodes.count(_.contains("Sort")),
      aggs = nodes.count(_.contains("Aggregate")),
      joins = nodes.filter(_.contains("Join")).distinct.sorted)
  }

  /** One timed execution: collect() so the frame's OWN QueryExecution
    * finalizes (count() would plan a different one and hide the
    * adaptive plan — the r05 inspection gotcha). Returns (sec, sig). */
  private def timeOne(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame, dir: String,
      analyzer: metrics.StageAnalyzer, label: String): (Double, PlanSig) = {
    analyzer.setLabel(label)
    val t0 = System.nanoTime()
    val df =
      try {
        val d = fn(spark, dir)
        d.collect()
        d
      } finally ScratchCache.release()
    ((System.nanoTime() - t0) / 1e9, signature(df))
  }

  /** FIXED-SIZE-DELTA merge experiment, two delta SHAPES, each at 1×
    * (32 files) and factor× (32·factor files — constant file SIZE, the
    * production layout discipline):
    *
    *  - NARROW: the same 500 contiguous keys at both scales → fanout is
    *    1 file at either scale. O(delta · fanout) predicts ratio ≈ 1
    *    (the r06 full-rewrite CDC would have paid ≈ factor).
    *  - WIDE: 500 keys striped evenly across the FIRST 10% OF FILES of
    *    each table → fanout is ~3 files at 1× and ~3·factor at factor×.
    *    O(delta · fanout) predicts time ∝ files touched — the ratio
    *    tracks the FANOUT ratio (≈ factor), NOT the table-size ratio,
    *    and per-rewritten-file cost stays ~constant across scales. This
    *    is the slope the single-file narrow point cannot show.
    *
    * Reported beside the query rows as `cdc_delta`. */
  private def cdcDeltaExperiment(spark: SparkSession, dir1: String,
      dirN: String, factor: Int): String = {
    def upsert(cur: DataFrame, ch: DataFrame): DataFrame = {
      val upd = ch.selectExpr("event_id", "cents AS new_cents")
      cur.join(upd, Seq("event_id"), "left")
        .selectExpr("event_id", "user_id",
          "coalesce(new_cents, cents) AS cents")
    }
    def setup(dir: String, nFiles: Int, tag: String): String = {
      val root = s"${ProcScratch.base}/scale_cdc/$tag"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val ev = Tables.events(spark, dir).selectExpr("event_id", "user_id",
        "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents")
      sources.KeyedTable.write(spark, root, "t", ev, "event_id", nFiles)
      root
    }
    def mergeBest(root: String, keys: Seq[Long])
        : (Double, sources.KeyedTable.MergeStats) = {
      import spark.implicits._
      val delta = keys.toDF("event_id")
        .selectExpr("event_id", "CAST(0 AS BIGINT) AS user_id",
          "CAST(1 AS BIGINT) AS cents")
      def once() = {
        val t0 = System.nanoTime()
        val st = sources.KeyedTable.mergeDelta(
          spark, root, "t", delta, "event_id")(upsert)
        ((System.nanoTime() - t0) / 1e9, st)
      }
      val a = once(); val b = once() // best-of-2, min: noise only inflates
      if (a._1 <= b._1) a else b
    }
    // narrow: replica-0 event ids are identical at both scales → the
    // SAME contiguous 500-key batch
    def narrowKeys(root: String): Seq[Long] = {
      val lo = sources.KeyedTable.manifest(spark, root, "t").head.minKey
      (lo until lo + 500)
    }
    // wide: stripe the 500 keys evenly across the first 10% of files
    // (re-read the manifest so earlier merges' replacements are seen)
    def wideKeys(root: String): Seq[Long] = {
      val m = sources.KeyedTable.manifest(spark, root, "t")
      val span = math.max(1, (m.size + 9) / 10)
      val perFile = math.max(1, 500 / span)
      m.take(span).flatMap { e =>
        val step = math.max(1L, (e.maxKey - e.minKey) / perFile)
        (0 until perFile).map(j => math.min(e.maxKey, e.minKey + j * step))
      }.distinct // a dup key would fan out the upsert's left join
    }
    val root1 = setup(dir1, 32, "1x")
    val rootN = setup(dirN, 32 * factor, s"${factor}x")
    val (t1, s1) = mergeBest(root1, narrowKeys(root1))
    val (tN, sN) = mergeBest(rootN, narrowKeys(rootN))
    val (w1, ws1) = mergeBest(root1, wideKeys(root1))
    val (wN, wsN) = mergeBest(rootN, wideKeys(rootN))
    val perFile1 = w1 / math.max(1, ws1.filesRewritten)
    val perFileN = wN / math.max(1, wsN.filesRewritten)
    println(f"[scale] cdc_delta narrow t1=$t1%6.2fs t$factor=$tN%6.2fs " +
      f"ratio=${tN / t1}%5.2f rw=${s1.filesRewritten}/${s1.filesTotal} vs " +
      f"${sN.filesRewritten}/${sN.filesTotal}")
    println(f"[scale] cdc_delta wide   t1=$w1%6.2fs t$factor=$wN%6.2fs " +
      f"ratio=${wN / w1}%5.2f rw=${ws1.filesRewritten}/${ws1.filesTotal} vs " +
      f"${wsN.filesRewritten}/${wsN.filesTotal} " +
      f"perFile=${perFile1}%.3f vs ${perFileN}%.3f")
    f"""{"delta_rows":500,"t1_s":$t1%.3f,"t${factor}_s":$tN%.3f,""" +
      f""""ratio":${tN / t1}%.2f,""" +
      s""""files_total_1x":${s1.filesTotal},"files_rewritten_1x":${s1.filesRewritten},""" +
      s""""files_total_${factor}x":${sN.filesTotal},"files_rewritten_${factor}x":${sN.filesRewritten},""" +
      f""""wide":{"t1_s":$w1%.3f,"t${factor}_s":$wN%.3f,"ratio":${wN / w1}%.2f,""" +
      s""""files_rewritten_1x":${ws1.filesRewritten},"files_rewritten_${factor}x":${wsN.filesRewritten},""" +
      f""""per_file_s_1x":$perFile1%.3f,"per_file_s_${factor}x":$perFileN%.3f}}"""
  }

  /** Typed per-query artifact row — what the MERGED summary needs from
    * both fresh measurements and kept prior rows. */
  private final case class ArtRow(json: String, ratio: Double,
      planEqual: Boolean, skew: Option[Double])

  /** The 1× vs factor× ratio run (the method above). */
  private def ratio(spark: SparkSession, args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse(Sf01)
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outJson = args.lift(2).getOrElse("SCALE_r06.json")
    val only = args.lift(3).map(_.split(',').toSet)
    val mode = args.lift(4).getOrElse("default")
    val Seq(dir1, dirN) =
      corpora(spark, baseDir, "scale", (1, mode), (factor, mode))

    val analyzer = new metrics.StageAnalyzer
    spark.sparkContext.addSparkListener(analyzer)
    val queries = StressQueries.filter(q => only.forall(_.contains(q)))
    // warmup both corpora's footers + codegen
    Seq(dir1, dirN).foreach { d =>
      Seq("documents", "embeddings", "events", "lineitem")
        .foreach(t => spark.read.parquet(s"$d/$t.parquet").count())
    }
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    // record and continue — one broken query must not cost the whole
    // run's artifact
    def fail(q: String, e: Throwable): None.type = {
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        .takeWhile(_ != '\n').take(200).replace("\"", "'")
      println(s"[scale] $q FAILED: $msg")
      failed += ((q, msg))
      None
    }
    val rows = queries.flatMap { q =>
      SparkEntry.queries.get(q).flatMap { fn => try {
        // small scale first (also the codegen warm-up for the query),
        // best-of-2 per scale: the MIN is the right statistic for a
        // ratio — noise only ever inflates
        def best(dir: String, label: String): (Double, PlanSig) =
          Seq.fill(2) {
            val r = timeOne(spark, fn, dir, analyzer, label)
            spark.catalog.clearCache()
            r
          }.minBy(_._1)
        val (t1, sig1) = best(dir1, s"${q}@1x")
        analyzer.reset() // keep skew attribution = the FACTOR× runs only
        val (tN, sigN) = best(dirN, s"${q}@${factor}x")
        val ratio = tN / t1
        val planEqual = sig1 == sigN
        println(f"[scale] $q%-24s t1=$t1%6.2fs t$factor=$tN%7.2fs " +
          f"ratio=$ratio%5.2f planEqual=$planEqual")
        Some((q, t1, tN, ratio, sig1, sigN))
      } catch { case e: Throwable => fail(q, e) } }
    }
    // fixed-size-delta CDC experiment (skipped only when an explicit
    // subset excludes it)
    val cdcFresh: Option[String] =
      if (only.forall(_.contains("x_cdc_delta")))
        try Some(cdcDeltaExperiment(spark, dir1, dirN, factor))
        catch { case e: Throwable => fail("x_cdc_delta", e) }
      else None

    Thread.sleep(1500) // drain listener bus before reading skew
    val skew = analyzer.skewFlags()
    val freshRows: Map[String, ArtRow] =
      rows.map { case (q, t1, tN, ratio, sig1, sigN) =>
        val sk = skew.collectFirst { case (k, v) if k.startsWith(q + "@") => v }
        val json =
          f"""{"t1_s":$t1%.3f,"t${factor}_s":$tN%.3f,"ratio":$ratio%.2f,""" +
            s""""plan_equal":${sig1 == sigN},"plan_1x":${sig1.json},""" +
            s""""plan_${factor}x":${sigN.json},""" +
            s""""skew_${factor}x":${sk.map(v => f"$v%.1f").getOrElse("null")}}"""
        q -> ArtRow(json, ratio, sig1 == sigN, sk)
      }.toMap

    // Subset re-runs MERGE into an existing artifact (matched on
    // base_sf + factor + mutation mode): re-measuring one repaired
    // family must not discard the other 20+ queries' committed
    // evidence — and the SUMMARY is recomputed from the MERGED rows,
    // so a kept row's breach/skew flag survives a subset re-run (the
    // r06 artifact bug: summary reflected only the fresh subset).
    val prior: Option[JValue] =
      (if (only.isEmpty) None else Bench.readJson(outJson)).filter { old =>
        val oldMode = old \ "mode" match { case JString(m) => m; case _ => "default" }
        (old \ "base_sf") == JString(baseDir) &&
          (old \ "factor") == JInt(factor) && oldMode == mode
      }
    val keptRows: Map[String, ArtRow] = prior.map(_ \ "queries") match {
      case Some(JObject(fields)) => fields.collect {
        case (q, v) if !freshRows.contains(q) =>
          q -> ArtRow(compact(render(v)),
            Bench.num(v \ "ratio").getOrElse(Double.NaN),
            (v \ "plan_equal") == JBool(true),
            Bench.num(v \ s"skew_${factor}x"))
      }.toMap
      case _ => Map.empty
    }
    // kept errors: a prior run's failure stays on record unless this
    // run re-attempted that query
    val attempted = queries.toSet ++
      (if (only.forall(_.contains("x_cdc_delta"))) Set("x_cdc_delta")
       else Set.empty[String])
    val keptErrors: Seq[(String, String)] = prior.toSeq.flatMap { old =>
      old \ "summary" \ "errors" match {
        case JArray(items) => items.map(o => (o \ "query", o \ "error")).collect {
          case (JString(q), m) if q.nonEmpty && !attempted.contains(q) =>
            (q, m match { case JString(s) => s; case _ => "" })
        }
        case _ => Seq.empty
      }
    }
    val cdcJson: Option[String] = cdcFresh.orElse(prior.map(_ \ "cdc_delta")
      .filter(v => v != JNothing && v != JNull)
      .map(v => compact(render(v))))

    val mergedRows = keptRows ++ freshRows
    val allErrors = keptErrors ++ failed.toSeq
    val linearBound = factor * 1.5
    val summary = {
      def where(p: ArtRow => Boolean): String = Bench.jsonStrs(
        mergedRows.collect { case (q, r) if p(r) => q }.toSeq.sorted)
      val skews = mergedRows.values.flatMap(_.skew)
      s"""{"queries_run":${mergedRows.size},""" +
        s""""errors":${allErrors.map { case (q, m) =>
          s"""{"query":"$q","error":"$m"}""" }.mkString("[", ",", "]")},""" +
        s""""ratio_gt_${factor}x1.5":${where(_.ratio > linearBound)},""" +
        s""""plan_shape_changed":${where(!_.planEqual)},""" +
        // the 20x task-skew alarm line (Scaladoc above) is now a GATE,
        // not a narrative convention: r08's 38.2x flag on a probe2 row
        // rode in silently because only ratio breaches populated a
        // breach list — a straggler class must fail loudly
        s""""skew_gt_20":${where(_.skew.exists(_ > 20.0))},""" +
        s""""max_skew":${if (skews.isEmpty) "null" else f"${skews.max}%.1f"}}"""
    }
    val qJson = mergedRows.toSeq.sortBy(_._1)
      .map { case (q, r) => s""""$q":${r.json}""" }.mkString("{", ",", "}")
    val out =
      s"""{"base_sf":"$baseDir","factor":$factor,"files_per_table":32,""" +
        s""""mode":"$mode","queries":$qJson,""" +
        cdcJson.map(c => s""""cdc_delta":$c,""").getOrElse("") +
        s""""summary":$summary""" +
        (if (keptRows.nonEmpty)
          s""","merged_subset":${Bench.jsonStrs(rows.map(_._1))}}"""
         else "}")
    java.nio.file.Files.writeString(java.nio.file.Path.of(outJson), out)
    println(s"[scale] wrote $outJson")
  }

  /** The fixture every corpus grows from unless a base dir is given. */
  private val Sf01 = "/root/testdata/sf0.1"

  /** The one corpus-preparation step of every subcommand: the headroom
    * check for all corpora first, then each (factor, mode) corpus at
    * `<ProcScratch.base>/<tag>/sf<factor>x_<mode>`. */
  private[graft] def corpora(spark: SparkSession, baseDir: String,
      tag: String, specs: (Int, String)*): Seq[String] = {
    checkHeadroom(spark, baseDir, specs.map(_._1))
    specs.map { case (factor, mode) =>
      val d = s"${ProcScratch.base}/$tag/sf${factor}x_$mode"
      println(s"[scale] generating ${factor}x (mode=$mode) at $d from $baseDir")
      generate(spark, baseDir, d, factor, mode = mode)
      d
    }
  }

  /** Scratch headroom guard (10×–100× corpora could silently fill a
    * tmpfs): the estimate, base bytes × the summed factors, must fit the
    * scratch filesystem and the `spark.local.dir` one (which takes the
    * generator's shuffle) — twice when they are the same. */
  private def checkHeadroom(spark: SparkSession, baseDir: String,
      factors: Seq[Int]): Unit = {
    import java.io.File
    def bytes(f: File): Long =
      if (f.isDirectory) f.listFiles().map(bytes).sum else f.length()
    def existing(f: File): File = if (f.exists()) f else existing(f.getParentFile)
    val need = bytes(new File(baseDir)) * factors.map(_.toLong).sum
    val local = spark.sparkContext.getConf
      .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
    Seq(ProcScratch.base, local).map(p => existing(new File(p).getAbsoluteFile))
      .groupBy(f => java.nio.file.Files.getFileStore(f.toPath)).values
      .foreach { targets =>
        val free = targets.head.getUsableSpace
        require(need * targets.size < free, f"[scale] the corpora need " +
          f"~${need * targets.size / 1e9}%.2f GB on ${targets.mkString(" and ")}" +
          f" but ${free / 1e9}%.2f GB is free: point SPARK_GRAFT_SCRATCH_DIR /" +
          " SPARK_GRAFT_LOCAL_DIR at a larger filesystem")
      }
  }

  /** 10×-gated beside the ratio set: their driver table (orders) rides
    * unscaled in the ratio run, but their 10× wall time is a real signal. */
  private val Extras10x =
    Seq("q_delta_merge", "q_pipeline_recovery", "q_keyed_compact")

  /** The 10× gate's clustered phase (r09): the trained-ANN family's
    * deployment profile is density-skewed data. */
  private val Clustered10x = Seq(
    "q_ann_ivf_trained", "q_ann_ivf_trained_probe2",
    "q_ann_ivf_trained_probe3", "q_ann_ivf_trained_dist",
    "q_ann_ivf_trained_probe3_dist",
    "q_ann_ivf_trained_l3", "q_ann_ivf_trained_l3_probe2",
    "q_ann_incremental_trained", "q_stream_ann_ingest", "q_ann_delete",
    "q_ann_incremental_l3", "q_stream_ann_ingest_l3", "q_ann_delete_l3",
    "q_ann_index_auto", "q_ann_index_auto_l3",
    "q_ann_ivfpq_trained", "q_ann_ivfpq_trained256", "q_ann_ivfpq_res256",
    "q_ann_lsh_adaptive", "q_dedup_semantic", "q_dedup_semantic_mp",
    "q_dedup_embedding_probe2", "q_dedup_embedding_probe3",
    "q_dedup_embedding_adaptive", "q_dedup_semantic_adaptive",
    "q_ann_ivf_trained_adaptive", "q_ann_ivf_trained_l3_adaptive",
    "q_ann_ivfpq_rerank", "q_ann_ivfpq_adaptive",
    "q_ann_ivfpq_l3_rerank", "q_ann_ivf_sq8", "q_ann_ivf_sq8_rerank")

  /** The 10× bench gate: plan-dominated timings where sf0.1 sits on the
    * scheduling floor. The stress set (+ [[Extras10x]]) runs on the 10×
    * corpus, [[Clustered10x]] on the 10× clustered one, through Bench's
    * timing core against BASELINE_10x.md (`@clustered` rows for the
    * clustered phase; a query with no row gets one appended). Writes
    * BENCH_10x.json, whose bounded `runs` array keeps each run's breach
    * set and host record (r12). Keep the host otherwise idle. */
  private def gate10x(spark: SparkSession, args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", Sf01))
    // ambient-load record (r11, same device as Bench): co-tenant waves
    // shift 10× wall times uniformly 1.1-1.4×, which reads as phantom 2×
    // breaches — the artifact carries the measured interference
    val loadStart = Bench.loadAvg()
    val spinStart = Bench.spinProbe()
    val Seq(dir, cdir) = corpora(spark, baseDir, "bench10x",
      (10, "default"), (10, "clustered"))
    Bench.warm(spark, dir, Seq("documents", "embeddings", "events", "lineitem", "orders"))
    def phase(names: Seq[String], corpus: String, suffix: String)
        : (String, Bench.Timing, Seq[String]) = {
      val anchors = Bench.anchors("BASELINE_10x.md").collect {
        case (k, v) if k.endsWith(suffix) => k.stripSuffix(suffix) -> v }
      val (t, _) = Bench.timeQueries(spark, corpus, names, anchors, None)(())
      // first run (or newly added queries): append first-recorded rows
      // so the NEXT round has an anchor — BASELINE.md's protocol
      val missing = t.suite.filter { case (q, s) => s > 0 && !anchors.contains(q) }
      if (missing.nonEmpty) {
        val f = new java.io.File("BASELINE_10x.md")
        val header = if (f.exists()) "" else "| query | first_s |\n|---|---|\n"
        java.nio.file.Files.writeString(f.toPath, header + missing.map {
          case (q, s) => f"| $q$suffix | $s%.3f |\n" }.mkString, CREATE, APPEND)
        println(s"[bench10x] recorded ${missing.size} new baseline rows$suffix")
      }
      val both = t.reported.filter { case (q, s) => s > 0 && anchors.contains(q) }
      val den = both.map { case (q, _) => anchors(q) }.sum
      val ratio = if (den > 0) both.map(_._2).sum / den else -1.0
      val breaches = t.breaches(anchors).map(_ + suffix)
      val json = s""""queries":${t.reported.map { case (q, s) =>
          f""""$q$suffix":$s%.3f""" }.mkString("{", ",", "}")},""" +
        s""""gate_2x_breaches":${Bench.jsonStrs(breaches)},""" +
        s""""remeasured":${t.remeasured.map { case (q, s0, i0) =>
          f""""$q$suffix":{"suite":$s0%.3f,"isolated":$i0%.3f}"""
        }.mkString("{", ",", "}")},""" +
        f""""vs_baseline_ratio":$ratio%.2f"""
      (json, t.copy(errors = t.errors.map(_ + suffix)), breaches)
    }
    val (defaultJson, dt, defaultBreaches) = phase(
      (StressQueries ++ Extras10x).filter(SparkEntry.queries.contains), dir, "")
    spark.read.parquet(s"$cdir/embeddings.parquet").count(): Unit
    val (clusteredJson, ct, clusteredBreaches) = phase(
      Clustered10x.filter(SparkEntry.queries.contains), cdir, "@clustered")
    val errors = (dt.errors ++ ct.errors).toSeq.sorted
    val total = if (errors.nonEmpty) -1.0
      else (dt.reported ++ ct.reported).map(_._2).filter(_ >= 0).sum
    val loadEnd = Bench.loadAvg()
    val spinEnd = Bench.spinProbe()
    val hostJson = f""""loadavg_start":$loadStart,"loadavg_end":$loadEnd,""" +
      f""""spin_s_start":$spinStart%.3f,"spin_s_end":$spinEnd%.3f"""
    val runEntry = f"""{"value":$total%.1f,"breaches":${Bench.jsonStrs(
      (defaultBreaches ++ clusteredBreaches).sorted)},$hostJson}"""
    val out = "BENCH_10x.json"
    val prevRuns = Bench.readJson(out).map(_ \ "runs") match {
      case Some(JArray(rs)) => rs.map(r => compact(render(r)))
      case _ => Nil
    }
    val line =
      f"""{"metric":"total_10x","value":$total%.1f,"unit":"sec","factor":10,""" +
        defaultJson + s""","errors":${Bench.jsonStrs(errors)},""" +
        s""""clustered":{$clusteredJson},""" +
        s""""host":{"cpus":${GraftSession.cpus},$hostJson},""" +
        s""""runs":${(prevRuns :+ runEntry).takeRight(10).mkString("[", ",", "]")},""" +
        s""""base_sf":"$baseDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Path.of(out), line)
    println(line)
    println(s"[bench10x] default breaches=${defaultBreaches.size} " +
      s"clustered breaches=${clusteredBreaches.size}")
  }

  /** Per-stage drill-down of ONE declared query (the job-analyzer
    * parity surface; tez-tools' SkewAnalyzer): when a bench or ratio
    * skew flag fires, this names the stage — wall time and every
    * stage's StageAnalyzer row, for each of `runs` passes. A bare
    * integer as the corpus synthesizes that factor from sf0.1 first
    * (deterministic: bit-identical to the corpus that flagged). */
  private def profile(spark: SparkSession, args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error(
      "usage: ScaleStress profile q_name [corpusDirOrFactor] [runs] [mode]"))
    val dirArg = args.lift(1).getOrElse(Sf01)
    val dir = dirArg.toIntOption.fold(dirArg)(f => corpora(spark, Sf01,
      "profile", (f, args.lift(3).getOrElse("default"))).head)
    val analyzer = new metrics.StageAnalyzer
    spark.sparkContext.addSparkListener(analyzer)
    (1 to args.lift(2).map(_.toInt).getOrElse(2)).foreach { pass =>
      spark.catalog.clearCache()
      analyzer.reset()
      analyzer.setLabel(name)
      val t0 = System.nanoTime()
      // count(), not collect(): a pair-heavy result collected to the
      // driver (quadratic in cluster mass at 100x) would OOM it
      try SparkEntry.queries(name)(spark, dir).count()
      finally ScratchCache.release()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1200) // drain the listener bus
      println(f"[profile] $name pass $pass: $sec%.2fs on $dir")
      analyzer.report().getOrElse(name, Nil)
        .foreach(r => println(s"[profile]   ${r.json}"))
      analyzer.skewFlags().get(name).foreach(v =>
        println(f"[profile]   WORST SKEW $v%.1f"))
    }
  }

  def main(args: Array[String]): Unit = {
    val run: (SparkSession, Array[String]) => Unit = args.headOption match {
      case Some("ratio") => ratio
      case Some("ann") => AnnClusteredStress.run
      case Some("gate10x") => gate10x
      case Some("profile") => profile
      case _ => sys.error("usage: ScaleStress ratio|ann|gate10x|profile [args]")
    }
    // the shared session contract; no subcommand adds a conf to it
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.tail) finally spark.stop()
  }
}
