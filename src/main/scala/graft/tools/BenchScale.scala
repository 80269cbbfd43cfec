package graft.tools

/** Empirical scaling probe (VERDICT r8 action #1): time the most expensive
  * catalog queries at sf0.1 AND at the 10x [[MakeSf]] fixture, and record
  * per-query big/small ratios in BENCH_SF1.json. 10x data -> a linear
  * operator shows ~10x, the iterative graph families ~10-15x (more rounds
  * never, more per-round work yes); anything >> that is a superlinear
  * stage hiding behind small data.
  *
  * Methodology: each query runs TWICE per scale and the second run is the
  * one recorded — the first pays whole-stage-codegen + JIT for the plan
  * shape AQE picks at THAT scale (warming only at the small scale is not
  * enough; AQE chooses different joins/coalescing at 10x, so the compiled
  * code differs). Timings drive the noop sink so projection-only queries
  * can't be pruned to a bare scan.
  *
  * Isolation matters more than it looks: `localCheckpoint` blocks from a
  * finished run stay pinned until the driver's ContextCleaner processes
  * the unreferenced RDDs, which only happens on a driver GC — with a 96 GB
  * heap that can be never, so blocks accumulate across runs and the GC
  * storms they eventually trigger landed INSIDE later timed runs (first
  * measured pass: identical capDegree work swung 1.2 s -> 36 s). Hence
  * the settle protocol between runs (double GC + drain pause) and the
  * recommended one-JVM-per-query driver: `for q in ...; do BenchScale $q;
  * done` — with args the per-query line goes to stdout and BENCH_SF1.json
  * is left to the merging driver.
  */
object BenchScale {
  /** Top-25 most expensive queries of BENCH_FULL r8, the prescribed set. */
  val top25: Seq[String] = Seq(
    "q_graph_mst", "q_graph_walks", "q_graph_cascade", "q_agg_concurrency",
    "q_emb_mutual_knn", "q_graph_modularity", "q_agg_conformal",
    "q_agg_pareto_cut", "q_graph_pagerank", "q_graph_hits", "q_graph_anf",
    "q_graph_communities", "q_graph_ppr", "q_agg_permtest",
    "q_sample_cluster_split", "q_agg_fdr", "q_graph_sssp",
    "q_dedup_lsh_tuning", "q_seq_attribution_markov", "q_agg_ks",
    "q_sample_soft_dedup", "q_emb_lof", "q_mm_scene_cuts",
    "q_agg_price_index", "q_graph_capped")

  /** Tier 2: one representative per family the top-25 misses — the
    * pair-join (dedup/text/similarity/multimodal) and sampling shapes
    * whose scale risks (hot LSH buckets, candidate blow-ups) differ in
    * kind from the iterative-graph ones tier 1 covers. */
  val tier2: Seq[String] = Seq(
    "q_dedup_minhash", "q_dedup_ppjoin", "q_dedup_fuzzy",
    "q_dedup_winnow_pairs", "q_text_exact_spans", "q_text_bm25",
    "q_text_bpe_train", "q_text_decontam", "q_emb_ann_pairs",
    "q_sim_ivfpq", "q_emb_semdedup", "q_mm_tile_pairs",
    "q_sample_tokenbudget", "q_text_gopher", "q_skew_salted_join",
    "q_text_tfidf")

  def main(args: Array[String]): Unit = {
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.1")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/repo/testdata_sf1")
    // decade probes beyond sf1 (e.g. sf1 -> sf10) write their own artifact
    val artifact = sys.env.getOrElse("SPARK_GRAFT_SCALE_ARTIFACT",
      "BENCH_SF1.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = if (args.nonEmpty) args.toSeq else top25 ++ tier2
    val spark = graft.GraftSession.create(master = Some(s"local[$cpus]"),
      shufflePartitions = Some(cpus.toInt))
    spark.sparkContext.setLogLevel("WARN")

    // settle: unpin cached blocks, force the ContextCleaner's reference
    // processing (double GC with a drain pause), so a prior run's
    // localCheckpoint blocks are gone BEFORE the next timing starts
    def settle(): Unit = {
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(1500); System.gc(); Thread.sleep(500)
    }
    def timed(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm: codegen+JIT for this scale's AQE plan shape
      settle()
      val t = once()
      settle()
      t
    }

    val rows = names.map { name =>
      val s = timed(name, smallDir)
      val b = timed(name, bigDir)
      val line = f""""$name":{"small":$s%.3f,"big":$b%.3f,"ratio":${b / s}%.2f}"""
      println(f"SCALE $name%-28s small=$s%7.2fs big=$b%7.2fs ratio=${b / s}%5.2f")
      line
    }
    val json =
      s"""{"data_scale":10,"small":"$smallDir","big":"$bigDir","queries":${rows.mkString("{", ",", "}")}}"""
    // full runs own the artifact; filtered (per-query-JVM) runs print only
    // and the merging driver assembles BENCH_SF1.json
    if (args.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
        (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
