package graft

/** Pins the SCALE-critical physical-plan properties of headline queries:
  * these assertions fail if a refactor silently reintroduces the pathology
  * the operator was designed to avoid (a nested-loop non-equi join, a
  * shuffle in a pure scan-stage pipeline, a pivot discovery scan). */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("non-equi joins plan as hash joins, never nested-loop/cartesian") {
    for (q <- Seq("q_join_asof", "q_join_range")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("scan-stage pipelines have NO shuffle") {
    // pure per-row work must stay in the scan stage: a sample filter, a
    // DSL projection, chunk explosion — none may exchange
    // q_text_gopher: doc-local gram stats — the whole Gopher repetition
    // profile reduces inside the scan (r6; previously the suite's most
    // expensive query, shuffling the corpus gram stream).
    // q_text_c4_clean: sentence rules are a projection + scan predicate.
    // q_emb_project: the JL projection is a codegen'd scan-stage
    // expression — 64→8 dims with zero exchanges.
    // The r12 scan-parallelism floor (Shared.scanFloor) may add ONE
    // round-robin spread of the unsplittable fixture scan — a deliberate
    // input-layout repair, not a keyed shuffle; the pin forbids
    // hash/range exchanges (real shuffles) as before.
    for (q <- Seq("q_sample_hash", "q_sample_mixture", "q_dsl_concat",
        "q_text_chunks", "q_src_tz_shift", "q_text_gopher",
        "q_text_c4_clean", "q_emb_project")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning") &&
        !p.contains("Exchange rangepartitioning"),
        s"$q plans a keyed shuffle:\n$p")
    }
  }

  test("scan floor is a no-op on multi-split input, one spread on single-split") {
    // the r12 scan-parallelism floor (Shared.scanFloor == Similarity.spread,
    // one implementation since r13) exists to repair the LOCAL fixture
    // pathology of one-row-group parquet files; at production scale a scan
    // resolves to >= cores splits and the floor must add NOTHING. Pin both
    // branches: a fixture rewritten to more splits than the session's
    // parallelism gains NO exchange through spread; the single-file
    // fixture gains exactly ONE round-robin spread.
    import org.apache.spark.sql.functions.col
    val p = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_floor")
    val maxBytes = "spark.sql.files.maxPartitionBytes"
    val savedMax = spark.conf.get(maxBytes)
    try {
      spark.read.parquet(s"$sf/documents.parquet")
        .repartition(p * 2).write.mode("overwrite").parquet(dir.toString)
      // 1 KiB splits, each below the 4 MiB file open cost, so no two share
      // a partition: the read has >= one partition per file (2p files),
      // whatever the core count and file sizes
      spark.conf.set(maxBytes, "1k")
      val multi = spark.read.parquet(dir.toString)
        .select(col("doc_id"), col("text"))
      assert(multi.rdd.getNumPartitions >= p, "fixture rewrite too small")
      val floored = graft.ops.Similarity.spread(multi)
      val planMulti = floored.queryExecution.executedPlan.toString
      assert(!planMulti.contains("RoundRobinPartitioning"),
        s"floor must be a no-op on multi-split input:\n$planMulti")
    } finally {
      spark.conf.set(maxBytes, savedMax)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    val single = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val planSingle = graft.ops.Similarity.spread(single)
      .queryExecution.executedPlan.toString
    val spreads = "RoundRobinPartitioning".r.findAllIn(planSingle).size
    assert(spreads == 1,
      s"single-split input must gain exactly one spread, got $spreads")
  }

  test("windows and aggregations share one exchange where designed") {
    // sessionize: two windows + groupBy, one hash exchange total
    val p = plan("q_agg_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges")
    // moving-window analytics: all three columns off one exchange
    val pm = plan("q_window_moving")
    val em = "Exchange hashpartitioning".r.findAllIn(pm).size
    assert(em == 1, s"expected 1 exchange, got $em")
  }

  test("permutation fan-out reads events once and fans out AFTER the unit aggregate") {
    // the B=199 rep explosion must multiply the (type, user) unit table,
    // not the event table, and the observed-split lift must be a window,
    // not a self-join re-deriving the whole pipeline (one scan total)
    val p = plan("q_agg_permtest")
    val scans = "Scan parquet|FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$p")
    val gen = p.indexOf("Generate explode")
    val lastAgg = p.lastIndexOf("HashAggregate")
    assert(gen >= 0 && lastAgg > gen,
      "explode must sit above the unit aggregate in the plan")
  }

  test("cuped is a pure two-level aggregate: one scan, no window, no join") {
    val p = plan("q_agg_cuped")
    val scans = "Scan parquet|FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("declared-value pivot runs as one aggregate pass (no discovery job)") {
    // a values-discovery pivot would show as a separate collect-limit job;
    // the declared form is exactly two HashAggregate pairs (partial+final
    // for the pivot agg over the date group)
    val p = plan("q_agg_pivot")
    assert(!p.contains("CollectLimit"), p)
  }

  test("kmeans assignment is a pure projection (no shuffle, no join)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.select(org.apache.spark.sql.functions.col("vec_id"),
      graft.ops.Similarity.quantize(
        org.apache.spark.sql.functions.col("embedding")).as("v"))
    val assigned = q.withColumn("cluster",
      graft.plans.GraftExpressions.ivf_assign(org.apache.spark.sql.functions
        .col("v"), Seq(0L), Seq(Seq.fill(64)(1L)), Seq(64L)))
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("pq encode + residual are pure projections (no shuffle, no join)") {
    // the corpus side of PQ / IVF-PQ: quantize -> coarse-assign -> residual
    // -> m-byte encode must all fuse into the scan stage; codebooks and
    // anchors ride as codegen reference objects, never as a join side
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val books = (0 until 8).map(_ => Seq(Seq.fill(8)(0L), Seq.fill(8)(5L)))
    val q = e.select(col("vec_id"),
        graft.ops.Similarity.quantize(col("embedding")).as("v"))
      .withColumn("cent_id", graft.plans.GraftExpressions.ivf_assign(
        col("v"), Seq(0L), Seq(Seq.fill(64)(1L)), Seq(64L)))
      .withColumn("rv", graft.plans.GraftExpressions.anchor_sub(
        col("v"), col("cent_id"), Seq(0L), Seq(Seq.fill(64)(1L))))
      .withColumn("codes",
        graft.plans.GraftExpressions.pq_encode(col("rv"), books, 8))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("scd2 merge plans exactly ONE join and ONE batch-dedup window") {
    // the merge is a single full-outer join whose rows explode to their
    // closed/kept/opened versions; a regression to the join + anti-join
    // formulation shows as a second Join and re-computed dedup Windows
    val p = plan("q_merge_scd2")
    val joins = "Join".r.findAllIn(p).size
    assert(joins == 1, s"expected 1 join, got $joins:\n$p")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows <= 1, s"expected <= 1 dedup window, got $windows:\n$p")
  }

  test("an orchestrated merge deduplicates the batch once, " +
      "with no key aggregate") {
    // IngestOrchestrator hands MergeWriter.write the recency the transform
    // deduplicated by, so the merge's dedup window has the transform's
    // partitioning and order: every Sort and Exchange on the batch side
    // belongs to the transform's own window, once per batch scan (the
    // anti-join key side and the union side). Spark 4.1 plans that window
    // with two Sorts: the map-side group limit's below the exchange and the
    // window's above it. A merge window with another order shows as extra
    // Sorts; a key-side dropDuplicates as HashAggregates.
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.meta.{ColumnSpec, TableConfig}
    val dir = java.nio.file.Files.createTempDirectory("graft_orch").toString
    val (d1, d2) = ("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    Seq(("1", d1, "a", "x"), ("1", d1, "b", "y"), ("2", d2, "c", "z"))
      .toDF("c_id", "c_ts", "c_v", "c_w")
      .write.option("header", "true").csv(s"$dir/raw")
    val specs = Seq(
      ColumnSpec("T", "id", 1, "bigint", "c_id", isId = true),
      ColumnSpec("T", "v", 2, "string", "c_v"),
      ColumnSpec("T", "ts", 3, "timestamp", "c_ts", isFilterDate = true),
      ColumnSpec("T", "w", 4, "string", "upper(c_w)"))
    def raw() = graft.sources.RawZone.readRawCsv(spark, s"$dir/raw")
    val orch = new graft.pipeline.IngestOrchestrator(spark, s"$dir/stage",
      readRaw = _ => raw(), specsFor = _ => specs, retrySleepMs = _ => 0L)
    val table = TableConfig("T", "ep", "src", "raw", "stg_t",
      loadType = "incremental")
    assert(orch.runTable(table).status == "SUCCEEDED") // bootstrap
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        val plan = qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
        if (qe.logical.getClass.getSimpleName ==
            "InsertIntoHadoopFsRelationCommand") writes.add(plan.toString)
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.SpecBus.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      assert(orch.runTable(table).status == "SUCCEEDED") // the merge
      org.apache.spark.SpecBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    assert(writes.size == 1, writes)
    val p = writes.asScala.head
    def count(pattern: String, in: String): Int = pattern.r.findAllIn(in).size
    val scans = count("FileScan csv", p)
    val transformSorts = count("""\bSort \[""",
      graft.pipeline.StageTransform.run(raw(), specs).df
        .queryExecution.executedPlan.toString)
    assert(p.contains("LeftAnti") && scans == 2, p)
    assert(count("""\bSort \[""", p) == scans * transformSorts,
      s"$transformSorts Sorts per transform window:\n$p")
    assert(count("Exchange hashpartitioning", p) == scans, p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("grouped top-k rank-limits BEFORE the shuffle (WindowGroupLimit)") {
    // Spark's rank-limit pushdown keeps only <= k rows per group per
    // partition map-side, so the exchange carries k x groups x partitions
    // rows, not the table; a formulation that defeats the rewrite (e.g.
    // filtering on a derived column) would shuffle everything
    // q_sample_priority rides the same machinery: a dominant language must
    // never sort corpus-sized input to pick its k survivors
    for (q <- Seq("q_window_topk", "q_sample_priority")) {
      val p = plan(q)
      val pre = p.indexOf("WindowGroupLimit", p.indexOf("Exchange"))
      assert(p.contains("WindowGroupLimit"), s"$q:\n$p")
      assert(pre >= 0, s"$q: no map-side rank limit below the exchange:\n$p")
    }
  }

  test("winnow: window and per-doc distinct share ONE exchange") {
    // the sliding-window min shuffles on doc_id; the trailing distinct
    // groups on (doc_id, pos, h) — a superset of the partitioning keys —
    // so EnsureRequirements must NOT insert a second exchange
    val p = plan("q_text_winnow")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex == 1, s"expected 1 exchange, got $ex:\n$p")
  }

  test("column profile never degrades to a sorting aggregate") {
    // string min/max in the SAME aggregate as the distinct Expand forces
    // SortAggregate over k x n expanded rows (the round-4 regression);
    // the split formulation keeps the Expand path hash-aggregated and the
    // min/max pass grouping-key-free, so no sort may appear anywhere
    val p = plan("q_profile_stats")
    assert(!p.contains("Sort "), s"profile plans a sort:\n$p")
    assert(p.contains("Expand"), p) // the exact-distinct path is present
    // the sketch profile is ONE pass: no Expand, no sort, and exactly one
    // exchange (the global aggregate's partial->final hop)
    val pa = plan("q_profile_approx")
    assert(!pa.contains("Expand") && !pa.contains("Sort "), pa)
    assert("Exchange".r.findAllIn(pa).size == 1, pa)
  }

  test("grouped quantiles sort only the aggregated cell table") {
    // exact order statistics must run over (group, value) CELLS — every
    // window in the plan must have a HashAggregate somewhere BELOW it
    // (the corpus collapsed first), never sort the raw scan per group
    val raw = SparkEntry.queries("q_profile_quantiles")(spark, sf)
      .queryExecution.executedPlan
    val exec = raw match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.nonEmpty, exec.toString)
    windows.foreach { w =>
      val aggsBelow = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }
      assert(aggsBelow.nonEmpty,
        s"window sorts un-aggregated input:\n${exec.toString}")
    }
  }

  test("cms sketch aggregates partially before its exchange") {
    // the sketch must combine map-side: an ObjectHashAggregate pair around
    // one exchange, never a single-phase aggregate of raw occurrences
    val p = plan("q_text_cms")
    val oha = "ObjectHashAggregate".r.findAllIn(p).size
    assert(oha >= 2, s"expected partial+final sketch aggregate:\n$p")
  }

  test("hot-key marking and caps never plan a WindowExec") {
    // Document-frequency marking and bucket/cluster caps guard against hot
    // keys, so they must not themselves buffer a hot key's rows in one
    // window task: the groupBy + equi-join formulation is pinned here.
    // duplicatedSpans keeps exactly ONE window — the doc_id-keyed island
    // merge (bounded by document length, not corpus frequency).
    val ps = plan("q_text_exact_spans")
    val w = "\\bWindow\\b".r.findAllIn(ps).size
    assert(w == 1, s"expected only the island-merge window, got $w:\n$ps")
    // the capped variants (the 100 TB configs) must be window-free
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val capped = Seq(
      "jaccard_capped" -> graft.ops.Dedup.jaccardPairs(docs, "doc_id",
        "text", n = 5, threshold = 0.5, maxDf = 20, maxShingles = 64),
      "simhash_capped" -> graft.ops.Dedup.simhashNearDups(docs, "doc_id",
        "text", maxHamming = 3, blocks = 6, maxBucket = 50),
      "ann_capped" -> graft.ops.Similarity.annNearDupPairs(emb, "vec_id",
        "embedding", threshold = 0.9, maxBucket = 50),
      "semdedup_capped" -> graft.ops.Similarity.semanticDedup(emb, "vec_id",
        "embedding", k = 8, iters = 2, threshold = 0.95, maxCluster = 100))
    for ((name, df) <- capped) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"$name plans a window:\n$p")
    }
    spark.catalog.clearCache() // the pair ops persist their signature tables
  }

  test("round-8 additions stay window-free; decay broadcasts its anchor") {
    // surprisal, decay, triangles: corpus-sized streams must reduce via
    // combine-enabled aggregates and hash joins only — a WindowExec here
    // would mean some hot key owns its whole stream in one task
    for (q <- Seq("q_text_surprisal", "q_agg_decay", "q_graph_triangles")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q plans a window:\n$p")
    }
    // the 1-row corpus max-timestamp joins as a broadcast, never a shuffle
    val pd = plan("q_agg_decay")
    assert(pd.contains("BroadcastExchange"), pd)
    assert(!pd.contains("CartesianProduct"), pd)
  }

  test("heavy hitters: bounded-state candidates broadcast; no window anywhere") {
    val p = plan("q_text_heavyhitters")
    // the MG candidate set (<= k rows) must reach the recount as a
    // broadcast — a shuffled join here would mean the full bigram stream
    // is being co-partitioned against 799 rows
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("classifier inference and cdc chunking stay in the scan stage") {
    // classifier: margin fold is a pure projection — no shuffle at all
    val pc = plan("q_text_classifier")
    assert(!pc.contains("Exchange hashpartitioning") &&
      !pc.contains("Exchange rangepartitioning"),
      s"classifier shuffles:\n$pc")
    // cdc: the only exchanges are the chunk_hash df groupBy and its join
    // back — the chunk build itself must not shuffle, and nothing windows
    val pd = plan("q_text_cdc")
    assert(!pd.contains("Window"), pd)
    assert(!pd.contains("SortMergeJoin") ||
      "Exchange hashpartitioning".r.findAllIn(pd).size <= 3, pd)
  }

  test("funnel folds off ONE user shuffle; cdc diff is one full-outer join") {
    val pf = plan("q_seq_funnel")
    val ex = "Exchange hashpartitioning".r.findAllIn(pf).size
    // one user_id exchange for the fold + one for the tiny stage counts
    assert(ex <= 2, s"funnel shuffles too much ($ex):\n$pf")
    val pc = plan("q_snapshot_changes")
    assert("Join".r.findAllIn(pc).size == 1, s"cdc diff joins != 1:\n$pc")
  }

  test("decorrelated joins broadcast their small sides; ppjoin stays equi") {
    // mincost: the dim enrichments (part/supplier/nation) are explicit
    // broadcasts; nothing may degrade to a cartesian/nested-loop
    val pm = plan("q_join_mincost")
    assert(pm.contains("BroadcastHashJoin"), pm)
    assert(!pm.contains("CartesianProduct") &&
      !pm.contains("BroadcastNestedLoopJoin"), pm)
    // bigorders: the HAVING-filtered order aggregate (few survivors) is
    // the broadcast BUILD side — the orders fact table must not shuffle
    // against it
    val pb = plan("q_join_bigorders")
    assert(pb.contains("BroadcastHashJoin"), pb)
    // winsorize: the per-group bounds reach the fact scan as ONE broadcast
    // row per group; the only WindowExec allowed is the cum-sum over the
    // distinct-value CELL table inside the bounds computation
    val pw = plan("q_profile_winsorize")
    assert(pw.contains("BroadcastHashJoin"), pw)
    // ppjoin: candidate generation and verification are hash equi-joins —
    // a nested-loop here is the quadratic catastrophe the prefix filter
    // exists to avoid
    val pp = plan("q_dedup_ppjoin")
    assert(!pp.contains("CartesianProduct") &&
      !pp.contains("BroadcastNestedLoopJoin"), pp)
    // attribution: exactly one per-user WindowExec (the carry-forward);
    // the conversion rollup itself must aggregate, not window
    val pa = plan("q_seq_attribution")
    assert("Window".r.findAllIn(pa).size == 1, pa)
  }

  test("basket pairs stay order-keyed; reach windows only the calendar") {
    // basket: the pair generation is an equi-join on l_orderkey (per-order
    // bounded fan-out); the only nested-loop is the 1-row n_orders
    // broadcast — a part-keyed pairing would square on popular parts
    val pb = plan("q_basket_lift")
    assert(!pb.contains("CartesianProduct"), pb)
    assert(!pb.contains("Window"), pb)
    // reach: one WindowExec total, and it runs AFTER aggregation to the
    // per-day table (calendar-bounded input, not the event stream)
    val pr = plan("q_agg_reach")
    assert("Window".r.findAllIn(pr).size == 1, pr)
    // incremental merge: pure aggregates — no window, no join anywhere
    val pi = plan("q_incr_agg_merge")
    assert(!pi.contains("Window") && !pi.contains("Join"), pi)
    // hhi: two combine-enabled aggregates, nothing else
    val ph = plan("q_agg_hhi")
    assert(!ph.contains("Window") && !ph.contains("Join"), ph)
    // zipf: the only window ranks the vocabulary table (post-aggregate) —
    // exactly one WindowExec, no join
    val pz = plan("q_text_zipf")
    assert("Window".r.findAllIn(pz).size == 1 && !pz.contains("Join"), pz)
    // bloom prune: the fact side joins ONLY by broadcast (bits + dim);
    // a sort-merge join would mean the pruned scan still shuffled
    val pbl = plan("q_join_bloom_prune")
    assert(pbl.contains("BroadcastHashJoin"), pbl)
    assert(!pbl.contains("SortMergeJoin"), pbl)
    // sketch merge: bounded-state aggregates only — no window anywhere
    val psm = plan("q_profile_sketch_merge")
    assert(!psm.contains("Window"), psm)
    // tiered retrieval: both rank-limits push WindowGroupLimit below the
    // shuffle, and the probe side joins as a broadcast
    val pt = plan("q_sim_tiered")
    assert(pt.contains("WindowGroupLimit"), pt)
    assert(pt.contains("BroadcastExchange"), pt)
  }

  test("round-7 additions: capped graph windowless, jdbc partitioned, url scan-stage") {
    // capDegree must be the O(k)-state aggregate, never a row_number
    // window over a node's (possibly hub-sized) incident list (the
    // catalog query's final plan hides the subtree behind its
    // lineage-cut, so pin the operator's own plan)
    import spark.implicits._
    val pc = graft.ops.Graph.capDegree(
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst", 5)
      .queryExecution.executedPlan.toString
    assert(!pc.contains("Window ["), pc)
    assert(pc.toLowerCase.contains("earliestk") ||
      pc.contains("earliest_k"), pc)
    // the live JDBC read is a genuinely partitioned scan: 4 executor-side
    // range queries, not one driver cursor
    val dfj = SparkEntry.queries("q_src_jdbc")(spark, sf)
    assert(dfj.rdd.getNumPartitions == 4,
      s"jdbc scan has ${dfj.rdd.getNumPartitions} partitions")
    // URL canonicalization is pure scan-stage work before its dedup
    // groupBy: exactly the two exchanges of the count_distinct rewrite
    // ((canon, url) partial-dedup then canon final), nothing upstream —
    // and no window/join anywhere
    val pu = plan("q_text_url_canon")
    assert("Exchange hashpartitioning".r.findAllIn(pu).size == 2, pu)
    assert(!pu.contains("Window [") && !pu.contains("Join"), pu)
    // LSH tuning: ground truth + every config off ONE cached signature
    // evaluation; candidate joins are equi (no nested loop anywhere)
    val pl = plan("q_dedup_lsh_tuning")
    assert(!pl.contains("BroadcastNestedLoopJoin") ||
      pl.contains("n_true"), pl) // the 1-row n_true crossJoin is the only
                                 // allowed nested-loop (broadcast anchor)
    // partition pruning actually reaches the scan: the status predicate
    // must appear as a PartitionFilter (directory pruning), not a data
    // Filter over a full scan
    val pp = plan("q_maint_prune")
    val pf = pp.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("o_orderstatus")),
      s"status predicate not pushed to PartitionFilters:\n$pp")
    // point-in-time SCD join: equi join on the key with the validity
    // range as residual — never a nested loop
    val ps = plan("q_join_scd_pit")
    assert(!ps.contains("BroadcastNestedLoopJoin") &&
      !ps.contains("CartesianProduct"), ps)
  }

  test("round-7 batch 3: skyline broadcasts, readability is scan-stage, " +
      "audits stay anti-join") {
    // skyline: the frontier joins back as a BROADCAST hash join (never a
    // shuffle of the corpus against a ~|size-domain| table), and the only
    // WindowExec runs over the domain-bounded min-price table — i.e.
    // AFTER the partial aggregate, never over the corpus
    val psky = plan("q_agg_skyline")
    assert(psky.contains("BroadcastHashJoin"), psky)
    assert(psky.contains("Window ["), psky)
    // readability: pure per-row regexp/tokenizer work — zero exchanges
    val pr = plan("q_text_readability")
    assert(!pr.contains("Exchange hashpartitioning") &&
      !pr.contains("Exchange rangepartitioning"), pr)
    // RI + skew audits: no window, no nested loop; the RI orphan check
    // must be semi/anti-style hash joins
    for (q <- Seq("q_profile_ri", "q_profile_skew")) {
      val p = plan(q)
      assert(!p.contains("Window ["), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // CUSUM folds per key off ONE hash exchange pair (daily groupBy +
    // per-type collect) — no window, no join
    val pc = plan("q_agg_cusum")
    assert(!pc.contains("Window [") && !pc.contains("Join"), pc)
    // CDC netting: the per-key window IS the plan — and nothing else
    // shuffles besides its hash exchange
    val pn = plan("q_incr_cdc_apply")
    assert(pn.contains("Window ["), pn)
    assert(!pn.contains("CartesianProduct") &&
      !pn.contains("BroadcastNestedLoopJoin"), pn)
    // null-safe equality must stay an EQUI hash join (EqualNullSafe is a
    // join key), never the nested-loop an OR-of-IS-NULL rewrite plans
    val pns = plan("q_join_nullsafe")
    assert(!pns.contains("BroadcastNestedLoopJoin") &&
      !pns.contains("CartesianProduct"), pns)
  }

  test("round-7 batch 4: moment fits windowless, hashing-trick one " +
      "exchange, blocking equi-joined, HITS anchors broadcast") {
    // OLS: one combine-enabled moment aggregate — no window, no join
    val po = plan("q_agg_ols")
    assert(!po.contains("Window [") && !po.contains("Join"), po)
    // ACF: the lag table and the 1-row total/denominator anchors are
    // BROADCAST; the day-index prefix comes from the range-partitioned
    // scan, so no corpus-wide single-partition window survives
    val pa = plan("q_agg_acf")
    assert(pa.contains("BroadcastExchange"), pa)
    assert(!pa.contains("Window ["), pa)
    assert(!pa.contains("CartesianProduct"), pa)
    // hashing-trick featurization: scan-stage hash + explode, then
    // EXACTLY one hash exchange (the doc_id,dim aggregate)
    val ph = plan("q_text_hashfeat")
    val eh = "Exchange hashpartitioning".r.findAllIn(ph).size
    assert(eh == 1, s"expected 1 exchange, got $eh:\n$ph")
    assert(!ph.contains("Window ["), ph)
    // ER blocking: candidates come from an EQUI join on the block key —
    // never a nested-loop pairwise scan
    val pb = plan("q_er_blocking")
    assert(!pb.contains("CartesianProduct"), pb)
    assert(pb.contains("SortMergeJoin") || pb.contains("BroadcastHashJoin")
      || pb.contains("ShuffledHashJoin"), pb)
    // HITS: the per-round max anchors broadcast (1-row crossJoins), and
    // the message passes stay equi-joins
    val pg = plan("q_graph_hits")
    assert(pg.contains("BroadcastExchange"), pg)
    assert(!pg.contains("CartesianProduct"), pg)
    // silhouette audit: the centroid table is a k-row BROADCAST against
    // the assignment — no shuffle-side pairwise scan, no window
    val ps = plan("q_emb_silhouette")
    assert(ps.contains("BroadcastExchange"), ps)
    assert(!ps.contains("Window ["), ps)
  }

  test("round-7 batch 5: kruskal windowless, skipgram one exchange, " +
      "waterfill/edit-verify broadcast their bounded tables") {
    // Kruskal–Wallis: the global midrank prefix comes from the
    // range-partitioned scan (Prefix), NEVER a corpus-wide WindowExec
    val pk = plan("q_agg_kruskal")
    assert(!pk.contains("Window ["), pk)
    // skip-gram extraction: the 4x-per-token fan-out is scan-stage array
    // work; exactly ONE hash exchange (the pair count), no join/window
    val pg = plan("q_text_skipgram")
    val eg = "Exchange hashpartitioning".r.findAllIn(pg).size
    assert(eg == 1, s"expected 1 exchange, got $eg:\n$pg")
    assert(!pg.contains("Window [") && !pg.contains("Join"), pg)
    // waterfill: the only window runs over the GROUP table (after the
    // corpus-collapsing count); the cap anchor is a 1-row broadcast —
    // no cartesian anywhere
    val pw = plan("q_sample_waterfill")
    assert(pw.contains("BroadcastExchange"), pw)
    assert(!pw.contains("CartesianProduct"), pw)
    // edit-distance verify: the candidate set BROADCASTS into the two
    // text lookups; band candidates come from an equi-join
    val pe = plan("q_dedup_edit_verify")
    assert(pe.contains("BroadcastExchange"), pe)
    assert(!pe.contains("CartesianProduct"), pe)
    // Theil–Sen / changepoint: pair generation and cumulative stats are
    // equi-join + per-region/nation windows (calendar-bounded
    // partitions) — never an unpartitioned window or cartesian
    for ((q, part) <- Seq("q_agg_theilsen" -> "rk",
        "q_agg_changepoint" -> "nk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // every window is PARTITIONED by the region/nation key (a spec's
      // first argument is its partition list) — calendar-bounded
      // partitions, never a corpus in one task
      val specs = p.split("windowspecdefinition\\(").drop(1)
      assert(specs.nonEmpty, s"$q:\n$p")
      specs.foreach(sp => assert(sp.startsWith(part + "#"),
        s"$q window not partitioned by $part:\n$p"))
    }
    // target encoding: two combine-enabled aggregates + broadcasts; the
    // category table is never windowed
    val pt = plan("q_feature_target_enc")
    assert(pt.contains("BroadcastExchange"), pt)
    assert(!pt.contains("Window ["), pt)
    // random walks: every step is an equi-join (never a cartesian); the
    // expensive graph subtree is behind the checkpoint cut, so the
    // final plan is only the frontier joins
    val pwk = plan("q_graph_walks")
    assert(!pwk.contains("CartesianProduct"), pwk)
    // rendezvous audit: 17 hashes + argmax are scan-stage array work
    // feeding ONE global aggregate — no shuffle of the corpus, no join,
    // no window
    val pr = plan("q_sample_rendezvous")
    assert(!pr.contains("Window [") && !pr.contains("Join"), pr)
    assert(!pr.contains("Exchange hashpartitioning"), pr)
    // markov: the matrix/state tables are vocabulary-bounded broadcasts;
    // the only per-user window is the transition lead (domain-bounded)
    val pm = plan("q_seq_markov")
    assert(pm.contains("BroadcastExchange"), pm)
    assert(!pm.contains("CartesianProduct"), pm)
    // source divergence: the source dimension broadcasts; no window
    val psd = plan("q_text_source_divergence")
    assert(psd.contains("BroadcastExchange"), psd)
    assert(!psd.contains("Window ["), psd)
    // conformal calibration: residual quantile from the range-partitioned
    // prefix scan (never a WindowExec); model + q_hat anchors broadcast
    val pc = plan("q_agg_conformal")
    assert(!pc.contains("Window ["), pc)
    assert(pc.contains("BroadcastExchange"), pc)
    // LOF: candidate self-join is equi on the bucket key; kNN is the
    // bounded-state earliest_k aggregate, never a window over a bucket's
    // fan-out. The final plan now ends at the lazy checkpoint cuts
    // (r13), so the earliest_k pin moves to the kNN substrate's own plan
    val pl = plan("q_emb_lof")
    assert(!pl.contains("Window [") && !pl.contains("CartesianProduct"), pl)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pknn = graft.ops.Similarity.knnOverCandidates(
      graft.ops.Similarity.lshSymPairs(emb, "vec_id", "embedding",
        tables = 2, planes = 4, dims = 64, maxBucket = 0,
        bucketSample = 8), k = 3)
      .queryExecution.executedPlan.toString
    assert(pknn.toLowerCase.contains("earliestk") ||
      pknn.contains("earliest_k"), pknn)
    assert(!pknn.contains("Window ["), pknn)
    // LM score: two vocabulary-bounded count joins + a broadcast total —
    // no window anywhere (the bigram fan-out is scan-stage array work)
    val plm = plan("q_text_lm_score")
    assert(!plm.contains("Window [") && !plm.contains("CartesianProduct"),
      plm)
    // IPW audit and DiD: ONE conditional aggregate over the scan — no
    // join, no window (the audits cost one pass, the 100 TB shape)
    for (q <- Seq("q_sample_ipw", "q_agg_did")) {
      val p = plan(q)
      assert(!p.contains("Window [") && !p.contains("Join"), s"$q:\n$p")
    }
    // watermark sweep: all five W cells from ONE aggregate (the 5-row
    // explode rides the one-row result, not the corpus); the only
    // window is the per-user frontier
    val pws = plan("q_incr_watermark_sweep")
    assert("Exchange hashpartitioning".r.findAllIn(pws).size <= 2, pws)
    // language separation: corpus collapses to the 5-row language table
    // before any pairwise work (no corpus-sized window or cartesian)
    val pls = plan("q_emb_lang_separation")
    assert(!pls.contains("Window ["), pls)
    // retrieval eval: rank by conditional count, never a corpus sort or
    // window; probe vocabulary broadcasts into the posting filter
    val pre = plan("q_text_retrieval_eval")
    assert(!pre.contains("Window [") && pre.contains("BroadcastExchange"),
      pre)
    // zone-map audit: scan-stage layout fan-out into two combine-enabled
    // aggregates — no join, no window
    val pz = plan("q_maint_zonemap")
    assert(!pz.contains("Window [") && !pz.contains("Join"), pz)
  }

  test("catalog stats alone flip a filtered-dim join to broadcast (AQE off)") {
    // At 100 TB the PLANNER must know a FILTERED dimension is
    // broadcast-able before any task runs. Raw file size alone cannot: a
    // dim whose parquet exceeds the broadcast threshold plans sort-merge
    // even when a selective filter leaves one row. With
    // CatalogRegistry.analyzeStage column stats + CBO, filter-selectivity
    // estimation (rowCount / NDV) shrinks the post-filter size estimate
    // and the SAME join — AQE disabled, so no runtime re-plan can rescue
    // it — compiles straight to BroadcastHashJoin. This is the
    // statistics-driven planning AQE cannot provide (AQE only re-plans
    // after the first shuffle has already been materialized).
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cbo")
    val dir = tmp.toString
    (1L to 50000L).map(i => (i, f"dim_name_$i%08d_padpadpad"))
      .toDF("k", "name")
      .write.mode("overwrite").parquet(s"$dir/dim")
    (1L to 200000L).map(i => (i, i % 50000 + 1)).toDF("id", "k")
      .write.mode("overwrite").parquet(s"$dir/fact")
    graft.write.CatalogRegistry.registerStage(spark, "cbo_db", "dim",
      s"$dir/dim")
    graft.write.CatalogRegistry.registerStage(spark, "cbo_db", "fact",
      s"$dir/fact")
    val saved = Seq("spark.sql.adaptive.enabled", "spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
    try {
      def joined = spark.table("cbo_db.fact")
        .join(spark.table("cbo_db.dim")
          .filter($"name" === "dim_name_00000007_padpadpad"), "k")
        .queryExecution.executedPlan.toString
      val before = joined
      assert(before.contains("SortMergeJoin") &&
        !before.contains("BroadcastHashJoin"), before)
      graft.write.CatalogRegistry.analyzeStage(spark, "cbo_db", "dim",
        columns = Seq("k", "name"))
      val after = joined
      assert(after.contains("BroadcastHashJoin"), after)
    } finally {
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("catalog stats drive CBO join REORDER: selective dim joins first (AQE off)") {
    // Join ORDER, not just broadcast choice, must come from catalog
    // statistics: a syntactic fact-joins-big-dim-first plan carries the
    // full fact cardinality into the second join, where joining the
    // SELECTIVE dim first (100 of 1000 fact keys match -> 10% of rows
    // survive) shrinks the intermediate 10x. CBO's join reorder needs
    // rowCount + column NDV on every input — exactly what the
    // orchestrator's analyzeStage pass leaves behind — and AQE cannot do
    // this at all (it re-plans exchanges, never join order).
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val tmp = java.nio.file.Files.createTempDirectory("graft_reorder")
    val dir = tmp.toString
    (1L to 200000L).map(i => (i, i % 50000 + 1, i % 1000 + 1))
      .toDF("id", "k1", "k2")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (1L to 50000L).map(i => (i, f"big_$i%08d")).toDF("k1", "nb")
      .write.mode("overwrite").parquet(s"$dir/dimbig")
    (1L to 100L).map(i => (i, f"small_$i%08d")).toDF("k2", "ns")
      .write.mode("overwrite").parquet(s"$dir/dimsmall")
    for (t <- Seq("fact", "dimbig", "dimsmall"))
      graft.write.CatalogRegistry.registerStage(spark, "reorder_db", t,
        s"$dir/$t")
    val saved = Seq("spark.sql.adaptive.enabled", "spark.sql.cbo.enabled",
      "spark.sql.cbo.joinReorder.enabled").map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      // innermost Join of the optimized left-deep tree = last in pre-order
      def innermostTables: Set[String] = {
        val plan = spark.table("reorder_db.fact")
          .join(spark.table("reorder_db.dimbig"), "k1")
          .join(spark.table("reorder_db.dimsmall"), "k2")
          .select("id", "nb", "ns")
          .queryExecution.optimizedPlan
        val inner = plan.collect { case j: Join => j }.last
        "reorder_db.(\\w+)".r.findAllMatchIn(inner.toString)
          .map(_.group(1)).toSet
      }
      val before = innermostTables
      assert(before == Set("fact", "dimbig"),
        s"without stats the join order must stay syntactic: $before")
      for (t <- Seq("fact", "dimbig", "dimsmall"))
        graft.write.CatalogRegistry.analyzeStage(spark, "reorder_db", t,
          columns = Seq("k1", "k2").filter(c =>
            spark.table(s"reorder_db.$t").columns.contains(c)))
      val after = innermostTables
      assert(after == Set("fact", "dimsmall"),
        s"with stats CBO must join the selective dim first: $after")
    } finally {
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("round-9 additions: blocklist broadcasts its list, domain cap and " +
      "waiting stay window-free, ktruss never goes nested-loop") {
    // blocklist: the term list must reach the token stream as a
    // BROADCAST build side (shuffling the corpus against a wordlist is
    // the pathology the operator exists to avoid), and nothing may
    // window — both rollups are combine-enabled aggregates
    val pb = plan("q_text_blocklist")
    assert(pb.contains("BroadcastHashJoin"), pb)
    assert(!pb.contains("WindowExec"), pb)
    // domain cap: the per-source rank comes from the grouped two-pass
    // range scan, NEVER a hot-group window over `source` (20 groups own
    // the whole corpus)
    val pc = plan("q_sample_domain_cap")
    assert(!pc.contains("WindowExec"), pc)
    // Q21 rewrite: the order-level stats join on the fact stays an equi
    // hash join; the textbook correlated form would surface as a
    // nested-loop here
    val pw = plan("q_join_waiting")
    assert(!pw.contains("BroadcastNestedLoopJoin"), pw)
    assert(!pw.contains("CartesianProduct"), pw)
    assert(!pw.contains("WindowExec"), pw)
    // ktruss: every wedge/support join is an equi join on the oriented
    // edge set — no cartesian, no nested loop, no window
    val pk = plan("q_graph_ktruss")
    assert(!pk.contains("BroadcastNestedLoopJoin"), pk)
    assert(!pk.contains("CartesianProduct"), pk)
    assert(!pk.contains("WindowExec"), pk)
    // dp release: one distinct shuffle + one user-bounded rank window is
    // the design; the CELL-keyed noise must be scan-stage (no join to a
    // noise table)
    val pd = plan("q_profile_dp_release")
    assert(!pd.contains("CartesianProduct"), pd)
  }

  test("geo family: equi cell joins, broadcast fences, no cartesian") {
    // spatial radius join: candidates come from the wrapped-cell
    // EQUI-join — a nested-loop/cartesian here means the grid bucketing
    // silently degraded to all-pairs
    val pp = plan("q_geo_pairs")
    assert(!pp.contains("BroadcastNestedLoopJoin"), pp)
    assert(!pp.contains("CartesianProduct"), pp)
    // geofence containment is a broadcast non-equi join against the
    // 5-row fence table — it MUST be the broadcast nested-loop form
    // (constant small side), never a shuffle join of the points
    val pf = plan("q_geo_fence")
    assert(pf.contains("BroadcastNestedLoopJoin"), pf)
    assert(!pf.contains("SortMergeJoin"), pf)
    // hotspot: occupied-cell tables only; the 1-row moments broadcast
    val ph = plan("q_geo_hotspot")
    assert(!ph.contains("CartesianProduct"), ph)
  }

  test("ML training rounds are pure aggregates; kNN eval broadcasts probes") {
    // logistic GD: no window, no join anywhere — each round is one
    // combine-enabled aggregate over the feature table
    val pl = plan("q_ml_logreg")
    assert(!pl.contains("WindowExec"), pl)
    assert(!pl.contains("SortMergeJoin") &&
      !pl.contains("BroadcastHashJoin"), pl)
    // kNN eval: the bounded probe slice must be the BROADCAST side of
    // the non-equi self-pair join (corpus streams, probes broadcast)
    val pk2 = plan("q_ml_knn_eval")
    assert(pk2.contains("BroadcastNestedLoopJoin"), pk2)
    assert(!pk2.contains("CartesianProduct"), pk2)
  }
}
