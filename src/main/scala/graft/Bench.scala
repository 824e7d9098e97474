package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — runs the headline query set on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract). Set SPARK_GRAFT_BENCH_ALL=1 to
  * profile every query; per-query timings stream to stderr either way.
  */
object Bench {
  /** Representative subset: the heavy relational/CDC/dedup/similarity paths
    * without per-query streaming-engine startup overhead dominating.
    */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q_revenue_by_nation", "q_window_topk",
    "q_skew_agg", "q_sessionize", "q_event_buckets", "q_asof_join",
    "cdc_delta_extract", "cdc_merge", "cdc_latest_per_key",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "ann_bruteforce_topk", "text_quality", "mm_frame_sample",
    "sketch_kmv_distinct", "zorder_cluster", "q_top_k_native",
    "corpus_clean",
    // round-4 extension paths: space-filling layout, behavioral funnel,
    // one-pass quality audit, inverted index
    "hilbert_cluster", "q_funnel", "dq_constraints", "text_inverted_index",
    // round-4 continuation: monitoring/IR paths
    "q_cusum_changepoint", "q_sliding_distinct",
    "text_search_conjunctive", "q_interval_merge",
    // round-4 batches d-f: ranked retrieval, native top-k composite,
    // counter maintenance
    "text_bm25", "q_trending_topk", "q_basket_incremental",
    // round-4 batches i-j: positional retrieval
    "text_phrase_prox",
    // round-5 surface: exact two-stage rank paths, gram-sharded novelty,
    // bucketed skyline, gains table
    "q_rank_normalize", "text_novelty", "q_skyline", "q_eval_gains",
    // round-6 surface: grid-walk survival, ranked statistics
    "q_survival_km", "q_gini_coeff",
    // round-6 batches b-e: drift grids, one-sided containment join,
    // per-key recursions, survival A/B
    "q_wasserstein", "q_abc_class", "q_holt_trend",
    "q_autocorr", "q_logrank",
    // round-6 batches i-l: graded retrieval eval, grid tau, parametric
    // tests, seasonal Holt
    "q_eval_ndcg", "q_kendall", "q_welch_t2", "q_holt_winters",
    // round-7 surface: trained BPE chain, schema-evolving union
    "text_bpe_tokenize", "q_union_evolve",
    // round-8 surface: file-sink streaming spatial pairs, trained
    // unigram tokenization
    "stream_spatial_join", "text_unigram_tokenize",
    // round-8 continuation: word-graph ranking + compressed-raster decode
    "text_textrank", "mm_png_stats",
    // round-9 surface: shipping formats (tar/TFRecord/zstd-dict), the
    // Kafka wire path, PackBits decode, the de-trivialized fuzzy gate
    "wds_roundtrip", "tfrecord_roundtrip", "zstd_dict_roundtrip",
    "stream_kafka_bus", "mm_tiff_packbits_stats", "dedup_fuzzy_edit",
    // round-10 surface: compressed TFRecord shards, the Kafka produce
    // leg, tiled TIFF decode
    "tfrecord_gzip_roundtrip", "stream_kafka_produce", "mm_tiff_tiled_stats",
    // round-10b surface: time seeks on the Kafka wire, Iceberg append
    // commits, Avro reader-schema resolution, planar TIFF decode
    "stream_kafka_seek_ts", "iceberg_append_roundtrip",
    "avro_evolution_roundtrip", "mm_tiff_planar_stats")

  /** Dedup/ER-heavy tier (r9 split, the graph_heavy rationale): the
    * multi-second blocking/verification dedup gates whose constants were
    * masking sub-second drift in the OLAP/text/cdc headline — ~40 s of
    * the r8 70.7 s headline was this family. Benched and reported as its
    * own tier so the headline stays a sensitive regression signal.
    */
  val dedupHeavy: Seq[String] = Seq(
    "dedup_semantic", "entity_resolution", "dedup_setsim_exact",
    "dedup_embed_lsh", "dedup_containment", "dedup_incremental",
    "dedup_repeated_spans", "dedup_sorted_neighborhood")

  /** Graph-heavy tier (r8 split): the iterative/centrality graph gates
    * whose multi-second constants would otherwise mask sub-second drift
    * in the OLAP/text/dedup headline — benched and reported separately
    * so the headline total stays sensitive to regressions.
    */
  val graphHeavy: Seq[String] = Seq(
    "graph_triangles", "graph_pagerank", "graph_labelprop", "graph_kcore",
    "graph_sssp", "graph_percolation4", "graph_ppr", "graph_betweenness",
    "graph_eigenvector", "graph_assortativity", "graph_modularity",
    "graph_hits", "graph_link_predict")

  /** A physical-plan string with its per-run noise stripped, keeping
    * the operator tree: expression and plan ids; UUIDs; temp fixture
    * paths and data paths under `dataRoot` (the dir holding the scale
    * factor dirs), including a temp file list the plan cut short (its
    * cut point moves with the temp dir name's length); the global
    * counter suffix of higher-order-function lambda variables
    * (`lambda x_5`); and the identity hash codes and lambda class
    * numbers of objects a typed operator prints (`Foo$$Lambda$4077/0x…@642ebd4c`,
    * `[D@c0248df`).
    */
  private[graft] def planNorm(plan: String, dataRoot: String): String = plan
    .replaceAll("#\\d+L?", "")
    .replaceAll(", \\[plan_id=\\d+\\]", "")
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID")
    .replaceAll("(Location: \\w+\\(\\d+ paths?\\)\\[file:/tmp/)[^\\]]*?(?:\\]|\\.{3,})", "$1X]")
    .replaceAll("/tmp/[^\\s,\\]\\)]*", "/tmp/X")
    .replaceAll(java.util.regex.Pattern.quote(dataRoot) + "/[^\\s,\\]\\)]*", "/data/X")
    .replaceAll("\\b(lambda [A-Za-z_]\\w*?)_\\d+\\b", "$1")
    .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
    .replaceAll("@[0-9a-f]{1,8}\\b", "@X")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the engine's tuned session IS the product config: AQE coalesce +
    // skew-join and the wide broadcast threshold change join strategy on
    // the heavy dedup/similarity plans (ngram verification: 4×)
    val spark = GraftSession.get(cpus.toInt)
    val names0 =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ALL")) SparkEntry.queries.keys.toSeq.sorted
      else (headline ++ graphHeavy ++ dedupHeavy).filter(SparkEntry.queries.contains)
    // optional shard arg "K/N" (1-based): run every N-th query starting
    // at K. A full-gate BENCH_ALL (400+ queries × best-of-2 in ONE JVM)
    // exhausts this container's hard 20k-FD cap around the streaming
    // family; interleaved shards keep each JVM's mix representative and
    // the artifacts merge by union (shard runs share no state).
    val names = args match {
      case Array(spec) if spec.matches("\\d+/\\d+") =>
        val Array(k, n) = spec.split("/").map(_.toInt)
        require(k >= 1 && k <= n, s"shard $spec out of range")
        names0.zipWithIndex.collect { case (q, i) if i % n == k - 1 => q }
      case _ => names0
    }
    // JVM/codegen + page-cache warmup so the timed sf runs measure
    // steady-state throughput: each benched plan runs once at sf0.001 so
    // its generated classes are compiled and JIT'd before timing — at
    // production scale one-time JIT amortizes to zero, and without this
    // each measurement carries a fixed ~0.5-1.5s first-run compile cost.
    Seq("region", "lineitem", "orders", "events").foreach(t =>
      graft.sources.Tables.load(spark, sfDir, t).count())
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    names.foreach(q =>
      try SparkEntry.queries(q)(spark, warmDir).count()
      catch { case e: Throwable =>
        // a silently skipped warmup would put the one-shot JIT cost back
        // into the timed numbers — say so
        System.err.println(s"[bench] warmup $q failed (timings include JIT): $e")
      })
    // Stage the cross-gate shared inputs BEFORE the timed loop (r7 verdict
    // finding 4): several gates share expensive [[Staged]] inputs (the
    // canonical co-purchase graph, the trained BPE tables) — legitimate
    // engineering, but whichever gate touched an entry first paid its
    // build and its per-query time then depended on execution order.
    // Staging here makes every per-query number mean the same thing; the
    // one-time build cost is reported once as "staging", broken down per
    // staged entry (self seconds) in "staging_inputs".
    val built0 = Staged.builds.size
    val tStage = System.nanoTime()
    try {
      def counted(dfs: DataFrame*): Unit = dfs.foreach(_.count())
      counted(QueriesR6.coPurchaseDir(spark, sfDir),
        QueriesR6.coPurchaseWeightedDir(spark, sfDir),
        QueriesR10.liPairStream(spark, sfDir))
      val (bpeMerges, bpeEnd) = QueriesR16.bpeTrained(spark, sfDir)
      counted(bpeMerges, bpeEnd)
      val (uniVocab, uniDp) = QueriesR17.uniTrained(spark, sfDir)
      counted(uniVocab, uniDp, QueriesR18.wpSeg(spark, sfDir))
      val (byteMerges, byteEnd) = QueriesR21.byteBpeTrained(spark, sfDir)
      counted(byteMerges, byteEnd)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] staging failed (timings include builds): $e")
    }
    val stagingSec = (System.nanoTime() - tStage) / 1e9
    val stagingInputs = Staged.builds.drop(built0)
    val stagingInputsJson = stagingInputs
      .map(b => "\"" + b.name + "\":" + f"${b.selfSeconds}%.3f")
      .mkString("{", ",", "}")
    val stagingUnattributed = stagingSec - stagingInputs.map(_.selfSeconds).sum
    System.err.println(f"[bench] staging (co-purchase graph + BPE/unigram state) $stagingSec%.2f s")
    // One timed run; None marks a FAILED run so a failure can never be
    // recorded as a (fast) timing. Each run also carries the JVM's GC
    // time spent during it: the r9 verdict's unattributed variance
    // cluster (eigenvector 10.2 s in the driver run vs 1.96 s in the
    // same-round full-gate artifact) is invisible to within-gate spread
    // checks when BOTH runs of a gate land during the same contention
    // window — GC attribution makes that window visible in the artifact.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis(): Long = {
      var t = 0L
      gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
      t
    }
    def timed(name: String, dir: String): Option[(Double, Double)] = {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir).count()
        Some(((System.nanoTime() - t0) / 1e9, (gcMillis() - g0) / 1e3))
      }
      catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); None }
    }
    // Baseline policy is best-of-2: steady-state throughput is the
    // quantity that survives a scale-up, and a single timing is hostage
    // to one-off GC/page-cache/compaction stalls (r2 recorded a 3.6s
    // q_window_topk that no longer reproduces at 0.65s steady-state).
    // The multi-second graph/dedup tiers run MEDIAN-OF-3 instead (r9
    // verdict task 1): their driver numbers have looked wrong two rounds
    // running (labelprop r8; eigenvector/betweenness/assortativity/
    // sorted_neighborhood r9) because a contention window spanning both
    // best-of-2 runs defeats the spread check — a third run out-votes it
    // and the median discards the one-sided tail that min-of-2 keeps
    // when both runs are slow.
    // Self-defense against a contended box (the r3 driver artifact
    // recorded 9× run spreads): if runs disagree by >3×, take another;
    // if even the closest pair still spreads >3×, escalate to five runs
    // and report the median. Only a set whose closest pair STILL
    // disagrees >3× after that is flagged "noisy".
    val SpreadLimit = 3.0
    val medianTiers: Set[String] = (graphHeavy ++ dedupHeavy).toSet
    val results = names.map { name =>
      val baseRuns = if (medianTiers.contains(name)) 3 else 2
      var runs = (1 to baseRuns).flatMap(_ => timed(name, sfDir))
      def secsOf = runs.map(_._1)
      if (runs.size == 2 && secsOf.max / secsOf.min > SpreadLimit)
        runs = runs ++ timed(name, sfDir)
      // even the two closest of three disagree >3×: escalate to five
      // runs and report the MEDIAN — two agreeing runs out-vote one
      // transient, and the median of five out-votes two, so a query on
      // a contended box converges to its steady state instead of
      // flapping NOISY across rounds.
      def closest2(xs: Seq[Double]) = {
        val s = xs.sorted
        s.sliding(2).minBy(p => p(1) / p(0))
      }
      var escalated = false
      if (runs.size == 3 && { val c = closest2(secsOf); c(1) / c(0) > SpreadLimit }) {
        escalated = true
        runs = runs ++ (1 to 2).flatMap(_ => timed(name, sfDir))
      }
      val secs = secsOf
      val failed = secs.size < 2
      val noisy = !failed && { val c = closest2(secs); c(1) / c(0) > SpreadLimit }
      val sec =
        if (failed) -1.0
        else if (escalated || medianTiers.contains(name))
          secs.sorted.apply(secs.size / 2) // median
        else secs.min
      // GC share OF THE REPORTED RUN: the run whose time became `sec`
      val gcSec =
        if (failed) -1.0
        else runs.minBy(r => math.abs(r._1 - sec))._2
      System.err.println(f"[bench] $name%-24s $sec%8.2f s  (runs: ${secs.map(s => f"$s%.2f").mkString(", ")}${if (escalated || medianTiers.contains(name)) "  MEDIAN" else ""}${if (noisy) "  NOISY" else ""}  gc=$gcSec%.2f)")
      (name, sec, noisy, secs, gcSec)
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val noisyList = results.collect { case (k, _, true, _, _) => "\"" + k + "\"" }.mkString("[", ",", "]")
    // Per-gate evidence fields (r9 verdict task 1 — make variance
    // auditable in the artifact itself, not just on stderr):
    //  "runs": every raw timing that fed the reported number;
    //  "gc": GC seconds during the reported run, for gates where GC is
    //        a material share (>20%) — names the contention when driver
    //        and full-gate artifacts disagree.
    val runsJson = results.map { case (k, _, _, ss, _) =>
      "\"" + k + "\":[" + ss.map(s => f"$s%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val gcJson = results.collect {
      case (k, sec, _, _, gc) if sec > 0 && gc > 0.2 * sec =>
        "\"" + k + "\":" + f"$gc%.3f"
    }.mkString("{", ",", "}")
    // Per-gate PLAN HASH (r14, the r13 verdict's adjudication ask):
    // sha-8 of the normalized physical-plan string (see [[planNorm]]),
    // so "plan unchanged, time moved" is a one-line artifact diff
    // instead of a PLANS.md archaeology session. Plan-only (no
    // execution): the fixtures are already staged by the timed runs
    // above.
    val dataRoot = java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent.toString
    def planSha(name: String): Option[String] =
      try {
        val norm = planNorm(SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.toString(), dataRoot)
        val d = java.security.MessageDigest.getInstance("SHA-256")
          .digest(norm.getBytes("UTF-8"))
        Some(d.take(4).map(b => f"$b%02x").mkString)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] plan_sha $name failed: $e"); None
      }
    val planShaJson = names.flatMap(n => planSha(n).map(s =>
      "\"" + n + "\":\"" + s + "\"")).mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // tier subtotals: the headline number stays sensitive to OLAP/text/
    // dedup drift; the graph tier carries the multi-second iterative
    // constants. (BENCH_ALL runs classify extra queries as "other".)
    def tierOf(n: String) =
      if (graphHeavy.contains(n)) "graph_heavy"
      else if (dedupHeavy.contains(n)) "dedup_heavy"
      else if (headline.contains(n)) "headline" else "other"
    val tiers = results.groupBy(r => tierOf(r._1)).toSeq.sortBy(_._1)
      .map { case (t, rs) =>
        "\"" + t + "\":" + f"${rs.map(_._2).filter(_ >= 0).sum}%.3f" }
      .mkString("{", ",", "}")
    // scale sweep (stderr, optional): how does each plan's time grow with
    // data volume? Sub-linear growth at these sizes = fixed overhead still
    // amortizing; the interesting signal is any query growing FASTER than
    // the 10× data step, which marks a plan that won't survive 100 TB.
    if (sys.env.contains("SPARK_GRAFT_SF_SWEEP")) {
      Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
        .filter(_ != sfDir).foreach { dir =>
          val sw = names.map { name =>
            // failures report sentinel -1, never the failed run's elapsed
            // time — a fast "timing" for a query that produced nothing
            // would corrupt the scale-growth signal this sweep exists for
            val secs = (1 to 2).flatMap(_ => timed(name, dir)).map(_._1)
            name -> (if (secs.isEmpty) -1.0 else secs.min)
          }
          val swQs = sw.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
          System.err.println(
            s"""[bench-sweep] {"total":${sw.map(_._2).filter(_ >= 0).sum},"queries":$swQs,"sf":"$dir"}""")
        }
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"tiers":$tiers,"staging":${f"$stagingSec%.3f"},"staging_inputs":$stagingInputsJson,"staging_unattributed_s":${f"$stagingUnattributed%.3f"},"noisy":$noisyList,"runs":$runsJson,"gc":$gcJson,"plan_sha":$planShaJson,"sf":"$sfDir"}""")
    // Compact FINAL summary line (r11): every BENCH_r*.json to date has
    // "parsed": null because the driver keeps only the LAST ~2000 chars
    // of output — the full line above is several times that, so the
    // window never holds a complete JSON line. This one is sized to fit
    // (tier totals + the slowest gates; the full per-query data lives in
    // the line above and in the committed BENCH_ALL artifacts).
    val top = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","tiers":$tiers,"staging":${f"$stagingSec%.3f"},"n_queries":${results.size},"slowest":$top,"sf":"$sfDir"}"""
    println(if (compact.length <= 1800) compact
    else s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","tiers":$tiers,"sf":"$sfDir"}""")
    spark.stop()
  }
}
