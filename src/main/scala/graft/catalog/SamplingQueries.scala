package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Transforms
import graft.incr.Incremental
import graft.meta.ColumnSpec
import graft.ops.{Dedup, Graph, Multimodal, Recon, Sampling, Similarity, TextOps}
import graft.pipeline.StageTransform
import graft.write.MergeWriter
import graft.catalog.Shared._
import graft.catalog.DslQueries._
import graft.catalog.PipelineQueries._
import graft.catalog.RelationalQueries._
import graft.catalog.TextQueries._
import graft.catalog.DedupQueries._
import graft.catalog.SimQueries._
import graft.catalog.MmQueries._
import graft.catalog.SourceQueries._

/** sampling and mixing queries — split from the single-object catalog;
  * content unchanged. Assembled by [[graft.QueryCatalog]]. */
private[graft] object SamplingQueries {
  val entries: Seq[(String, Q, Option[String])] = Seq(
    systematicEntry,

    // Systematic PPS sampling (Madow 1949: probability proportional to
    // size): lay every document's n_chars out on a cumulative length
    // line (graft.ops.Prefix two-pass range scan — never a corpus-wide
    // single-task window), then take every step-th point of that line
    // (step = W div 100, i.e. a ~100-point design), so a document's
    // inclusion count is EXACTLY proportional to its length — the
    // token-weighted sampling design a training-data mix actually wants
    // (q_sample_hash picks documents uniformly; a 100-char doc and a
    // 100k-char doc are NOT the same amount of training signal). Docs
    // longer than the step can be hit more than once (n_hits = their
    // with-replacement multiplicity, the standard Madow semantics). All
    // integer: the two floor-divisions use the +step shift so every
    // operand is nonnegative and Spark `div` (trunc) == DuckDB `//`
    // (floor) on every input, the q_sample_systematic lesson.
    ("q_sample_pps",
      (s: SparkSession, d: String) => {
        val ranked = graft.ops.Prefix.runningOffsets(
          t(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars")
          .withColumnRenamed("offset", "cum_before")
        val tot = t(s, d, "documents")
          .agg(sum("n_chars").as("w_total"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("step", greatest(expr("w_total div 100L"), lit(1L)))
          .withColumn("strt", lit(7L) % col("step"))
          .withColumn("n_hits",
            expr("(cum_before + n_chars + step - strt - 1) div step" +
              " - (cum_before + step - strt - 1) div step"))
          .filter(col("n_hits") > 0)
          .select(col("doc_id"), col("n_chars"), col("cum_before"),
            col("n_hits"))
      },
      Some("""WITH r AS (SELECT doc_id, n_chars,
            CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
          FROM documents),
        p AS (SELECT greatest(CAST(sum(n_chars) AS BIGINT) // 100, 1)
            AS step FROM documents),
        q AS (SELECT step, 7 % step AS strt FROM p)
        SELECT doc_id, n_chars, cum_before,
          (cum_before + n_chars + step - strt - 1) // step
            - (cum_before + step - strt - 1) // step AS n_hits
        FROM r, q
        WHERE (cum_before + n_chars + step - strt - 1) // step
          - (cum_before + step - strt - 1) // step > 0""")),

    ("q_sample_hash",
      (s: SparkSession, d: String) => Sampling.hashSample(
        t(s, d, "documents"), "doc_id", fraction = 0.1)
        .select("doc_id", "lang", "source"),
      Some(s"""SELECT doc_id, lang, source FROM documents
        WHERE ${hashScoreSql("doc_id")} < 0.1""")),

    ("q_sample_stratified",
      (s: SparkSession, d: String) => Sampling.stratifiedSample(
        t(s, d, "documents"), "lang", "doc_id", quota = 40)
        .select("doc_id", "lang"),
      Some(s"""SELECT doc_id, lang FROM documents
        QUALIFY row_number() OVER (PARTITION BY lang
          ORDER BY ${hashScoreSql("doc_id")} ASC, doc_id ASC) <= 40""")),

    // Data mixing: per-source Bernoulli rates (upsample src0, keep src1,
    // drop the rest to 10%) — the mixture-weights knob of corpus assembly,
    // still a stateless scan-stage filter (Sampling.mixtureSample)
    ("q_sample_mixture",
      (s: SparkSession, d: String) => Sampling.mixtureSample(
        t(s, d, "documents"), "doc_id", "source",
        Map("src0" -> 0.9, "src1" -> 0.5), defaultRate = 0.1)
        .select("doc_id", "source"),
      Some(s"""SELECT doc_id, source FROM documents
        WHERE ${hashScoreSql("doc_id")} <
          CASE WHEN source = 'src1' THEN 0.5
               WHEN source = 'src0' THEN 0.9 ELSE 0.1 END""")),

    // Temperature-scaled mixture weights (T = 2): per-source sampling
    // weight ∝ sqrt(share) — the up-weighting of rare sources every
    // multilingual/multi-domain training mix applies. sqrt is correctly
    // rounded IEEE on both engines, and the cross-source normalizer sums
    // in ONE FIXED ORDER (sorted array fold ↔ list_reduce ORDER BY) so
    // the double total is bit-identical despite partial-agg order.
    ("q_sample_temperature",
      (s: SparkSession, d: String) => {
        val counts = t(s, d, "documents").groupBy("source")
          .agg(count(lit(1)).as("n_docs"))
        val tot = counts.agg(sum("n_docs").as("n_total"),
          aggregate(
            transform(array_sort(collect_list(struct(col("source"),
              col("n_docs")))), x => sqrt(x("n_docs").cast("double"))),
            lit(0.0), (acc, x) => acc + x).as("sum_sqrt"))
        counts.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            (floor(lit(1e6) * col("n_docs").cast("double") /
              col("n_total").cast("double")) / lit(1e6)).as("share"),
            (floor(lit(1e6) * sqrt(col("n_docs").cast("double")) /
              col("sum_sqrt")) / lit(1e6)).as("w_temp"))
      },
      Some("""WITH c AS (SELECT source, count(*) AS n_docs
            FROM documents GROUP BY 1),
          t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source)),
              (a, x) -> a + x) AS sum_sqrt FROM c)
        SELECT source, n_docs,
          floor(1e6 * CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
            / 1e6 AS share,
          floor(1e6 * sqrt(CAST(n_docs AS DOUBLE)) / sum_sqrt) / 1e6
            AS w_temp
        FROM c, t""")),

    // TOKEN-budgeted mixture: per-source token budgets walked in hash
    // order (the "N tokens of web, M of code" knob — mixtureSample can only
    // hit an EXPECTED share). Running totals via the grouped two-pass
    // prefix scan, not a per-group window; budgets truncate src0 midway,
    // keep src1 whole, cut the remaining 18 sources early.
    ("q_sample_tokenbudget",
      (s: SparkSession, d: String) => {
        val tc = t(s, d, "documents").select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        Sampling.tokenBudgetSample(tc, "doc_id", "source", "n_tokens",
          Map("src0" -> 800L, "src1" -> 10000L), defaultBudget = 300L)
      },
      Some(s"""WITH tc AS (SELECT doc_id, source,
            CAST(len(${tokensSql()}) AS BIGINT) AS n_tokens,
            ${hashScoreSql("doc_id")} AS h FROM documents),
        o AS (SELECT doc_id, source, n_tokens,
            COALESCE(sum(n_tokens) OVER (PARTITION BY source
              ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          FROM tc)
        SELECT doc_id, source, n_tokens FROM o
        WHERE off < CASE WHEN source = 'src0' THEN 800
                         WHEN source = 'src1' THEN 10000 ELSE 300 END""")),

    // Per-domain contribution cap + share audit (the RefinedWeb/Dolma
    // "no domain dominates the corpus" rule): cap each source at N DOCS
    // by deterministic hash rank — tokenBudgetSample at weight 1, so the
    // cap runs through the grouped two-pass range scan, never a hot-group
    // window — then report per-source kept/total and before/after corpus
    // shares in exact ppm. The mixed budget map (one source uncapped, one
    // throttled, a default for the rest) exercises both arms of the
    // budget fold; the 1-row totals are broadcast anchors.
    ("q_sample_domain_cap",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
        val kept = Sampling.tokenBudgetSample(
          docs.withColumn("__one", lit(1L)), "doc_id", "source", "__one",
          Map("src0" -> 1000000L, "src1" -> 5L), defaultBudget = 15L)
        val before = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        val after = kept.groupBy("source").agg(count(lit(1)).as("n_kept"))
        val totB = before.agg(sum("n_docs").as("tb"))
        val totA = after.agg(sum("n_kept").as("ta"))
        before.join(after, Seq("source"), "left_outer")
          .crossJoin(broadcast(totB)).crossJoin(broadcast(totA))
          .select(col("source"), col("n_docs"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            floor(col("n_docs").cast("double") * 1e6 /
              col("tb").cast("double")).cast("long").as("share_before_ppm"),
            floor(coalesce(col("n_kept"), lit(0L)).cast("double") * 1e6 /
              col("ta").cast("double")).cast("long").as("share_after_ppm"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, source,
            ${hashScoreSql("doc_id")} AS h FROM documents),
        o AS (SELECT doc_id, source,
            COALESCE(sum(1) OVER (PARTITION BY source ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          FROM docs),
        kept AS (SELECT doc_id, source FROM o
          WHERE off < CASE WHEN source = 'src0' THEN 1000000
                           WHEN source = 'src1' THEN 5 ELSE 15 END),
        b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM docs GROUP BY 1),
        a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept
          FROM kept GROUP BY 1),
        tb AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tb FROM b),
        ta AS (SELECT CAST(sum(n_kept) AS BIGINT) AS ta FROM a)
        SELECT b.source, b.n_docs,
          coalesce(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
          CAST(floor(CAST(b.n_docs AS DOUBLE) * 1e6
            / CAST(tb AS DOUBLE)) AS BIGINT) AS share_before_ppm,
          CAST(floor(CAST(coalesce(a.n_kept, CAST(0 AS BIGINT)) AS DOUBLE)
            * 1e6 / CAST(ta AS DOUBLE)) AS BIGINT) AS share_after_ppm
        FROM b LEFT JOIN a USING (source), tb, ta""")),

    // Curriculum binning: global short->long decile of every document by
    // token count — the "sort by difficulty, schedule in bins" step. The
    // ordinal comes from the two-pass range-partitioned prefix scan, not a
    // single-reducer global window; the oracle replays it as row_number.
    ("q_sample_curriculum",
      (s: SparkSession, d: String) => Sampling.curriculumBins(
        t(s, d, "documents").select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens")),
        orderCols = Seq("n_tokens", "doc_id"), bins = 10),
      Some(s"""WITH m AS MATERIALIZED (SELECT doc_id,
            CAST(len(${tokensSql()}) AS BIGINT) AS n_tokens FROM documents),
        cnt AS (SELECT count(*) AS n FROM m)
        SELECT doc_id, n_tokens,
          CAST(floor(CAST((rn - 1) * 10 AS DOUBLE) / n) AS BIGINT) AS bin
        FROM (SELECT doc_id, n_tokens,
                row_number() OVER (ORDER BY n_tokens, doc_id) AS rn
              FROM m), cnt""")),

    // DSIR-style importance resampling (Xie et al. 2023): top-150 docs by
    // hashed-unigram likeness to the src0 subset vs the whole corpus.
    // Linear floor-quantized ratio weights instead of log + Gumbel — see
    // Sampling.dsirResample for why (cross-engine ln/RNG divergence).
    ("q_sample_dsir",
      (s: SparkSession, d: String) => Sampling.dsirResample(
        t(s, d, "documents"), "doc_id", "text",
        isTarget = col("source") === "src0", buckets = 1024, topK = 150),
      Some(s"""WITH tok AS MATERIALIZED (
          SELECT doc_id, source = 'src0' AS t,
            CAST(concat('0x', substr(md5(u.tok), 1, 4)) AS BIGINT) % 1024 AS bk
          FROM (SELECT doc_id, source, ${tokensSql()} AS tks FROM documents),
               UNNEST(tks) AS u(tok)),
        w AS MATERIALIZED (
          SELECT bk, CAST(floor(1e6 * (count(*) FILTER (WHERE t) + 1.0) /
            (count(*) + 1.0)) AS BIGINT) AS w
          FROM tok GROUP BY bk),
        sc AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS score
          FROM tok JOIN w USING (bk) GROUP BY doc_id)
        SELECT doc_id, score FROM sc
        QUALIFY row_number() OVER (ORDER BY score DESC, doc_id ASC) <= 150""")),

    // Priority sampling (Duffield-Lund-Thorup JACM'07): weight-aware k=12
    // per language, with the unbiased max(w, tau) adjusted weight. Hash-RNG
    // priorities, WindowGroupLimit top-k (pinned) — see
    // Sampling.prioritySample.
    // Deterministic random-negative pairing for contrastive training: the
    // uniform companion to q_sim_hard_negatives. Every vector is paired
    // with the one HALF THE CORPUS away in md5 order — uniform with
    // respect to content, self-pair-free by construction, reproducible
    // across runs and engines. The global rank comes from the
    // range-partitioned prefix scan (Prefix.runningOffsets), NOT a
    // single-partition row_number window — the 100 TB-safe form of
    // "shuffle and zip".
    // Neyman-optimal stratified allocation: a 100-row sample budget split
    // across segments ∝ n_h·σ_h (the allocation that minimizes the
    // estimator's variance), with largest-remainder rounding so the
    // parts sum to exactly 100. n·σ = sqrt(n·Σx² − (Σx)²) of exact
    // integer moments (whole currency units — cents² would overflow the
    // n·Σx² fold at population scale); the normalizer is a FIXED-ORDER
    // fold over the segment-sorted weight array, so the only doubles are
    // bit-identical cross-engine. All post-aggregate tables are
    // |segments|-sized.
    ("q_sample_neyman",
      (s: SparkSession, d: String) => {
        val c = t(s, d, "customer").select(col("c_mktsegment").as("seg"),
          floor(col("c_acctbal")).cast("long").as("x"))
        val m = c.groupBy("seg").agg(count(lit(1)).as("nh"),
          sum("x").as("s1"), sum(col("x") * col("x")).as("s2"))
        val mw = m.withColumn("w",
          sqrt((col("nh") * col("s2") - col("s1") * col("s1"))
            .cast("double")))
        val tot = mw.agg(
          aggregate(array_sort(collect_list(struct(col("seg"), col("w")))),
            lit(0.0), (acc, x) => acc + x.getField("w")).as("tw"))
        val raw = lit(100.0) * col("w") / col("tw")
        val based = mw.crossJoin(broadcast(tot))
          .withColumn("base", floor(raw).cast("long"))
          .withColumn("rem", raw - floor(raw))
        val give = based.agg((lit(100L) - sum("base")).as("give"))
        val wr = Window.orderBy(col("rem").desc, col("seg").asc)
        based.crossJoin(broadcast(give))
          .withColumn("rk", row_number().over(wr))
          .select(col("seg"), col("nh"), col("base"),
            (col("base") + when(col("rk") <= col("give"), 1L)
              .otherwise(0L)).as("alloc"))
      },
      Some("""WITH c AS (SELECT c_mktsegment AS seg,
            CAST(floor(c_acctbal) AS BIGINT) AS x FROM customer),
        m AS (SELECT seg, count(*) AS nh, CAST(sum(x) AS BIGINT) AS s1,
            CAST(sum(x * x) AS BIGINT) AS s2
          FROM c GROUP BY 1),
        mw AS (SELECT seg, nh, sqrt(CAST(nh * s2 - s1 * s1 AS DOUBLE))
            AS w FROM m),
        tot AS (SELECT list_reduce(
            list_prepend(CAST(0 AS DOUBLE), list(w ORDER BY seg)),
            (acc, x) -> acc + x) AS tw FROM mw),
        b AS (SELECT seg, nh, w, 100.0 * w / tw AS raw,
            CAST(floor(100.0 * w / tw) AS BIGINT) AS base,
            100.0 * w / tw - floor(100.0 * w / tw) AS rem
          FROM mw, tot),
        g AS (SELECT 100 - CAST(sum(base) AS BIGINT) AS give FROM b),
        r AS (SELECT seg, nh, base, rem,
            row_number() OVER (ORDER BY rem DESC, seg ASC) AS rk
          FROM b)
        SELECT seg, CAST(nh AS BIGINT) AS nh, base,
          base + CASE WHEN rk <= give THEN 1 ELSE 0 END AS alloc
        FROM r, g""")),

    // Greedy k-center coreset (Similarity.kcenterSelect): k corpus-parallel
    // rounds, each scoring every remaining point's exact integer squared
    // distance to its nearest chosen center and reducing to the global
    // argmax; driver state is the k centers only. The oracle unrolls the
    // identical rounds as CTEs, so the hash-match pins seed choice,
    // distance arithmetic, and tie-breaks end to end.
    ("q_sample_kcenter",
      (s: SparkSession, d: String) => Similarity.kcenterSelect(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 4),
      Some(kcenterOracleSql(4))),

    ("q_sample_negatives",
      (s: SparkSession, d: String) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id").cast("long").as("vec_id"), col("label"))
          .withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
          .withColumn("one", lit(1L))
        val ranked = graft.ops.Prefix.runningOffsets(e, "h", "one")
          .select(col("vec_id"), col("label"), col("offset"))
        val n = ranked.agg(count(lit(1)).as("n_total"))
        ranked.crossJoin(broadcast(n))
          .withColumn("partner",
            (col("offset") + expr("n_total DIV 2")) % col("n_total"))
          .join(ranked.select(col("offset").as("p_off"),
              col("vec_id").as("negative_id"),
              col("label").as("neg_label")),
            col("partner") === col("p_off"))
          .select(col("vec_id").as("query_id"),
            col("label").as("query_label"),
            col("negative_id"), col("neg_label"))
      },
      Some("""WITH r AS (SELECT vec_id, label,
            row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)))
              - 1 AS off,
            count(*) OVER () AS n
          FROM embeddings)
        SELECT a.vec_id AS query_id, a.label AS query_label,
          b.vec_id AS negative_id, b.label AS neg_label
        FROM r a JOIN r b
          ON b.off = (a.off + CAST(floor(a.n / 2) AS BIGINT)) % a.n""")),

    ("q_sample_priority",
      (s: SparkSession, d: String) => Sampling.prioritySample(
        t(s, d, "documents"), "lang", "doc_id", "n_chars", k = 12),
      Some(s"""WITH pr AS (SELECT lang AS grp, doc_id AS id,
            CAST(n_chars AS BIGINT) AS w,
            CAST(n_chars AS DOUBLE) * 1152921504606846976.0 /
              CAST(CAST(concat('0x',
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) + 1 AS DOUBLE) AS q
          FROM documents),
        rk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY grp
            ORDER BY q DESC, id ASC) AS rnk FROM pr) WHERE rnk <= 13),
        tau AS (SELECT grp, max(CASE WHEN rnk = 13 THEN q END) AS tau
          FROM rk GROUP BY 1)
        SELECT rk.grp, rk.id, rk.w, CAST(rk.rnk AS BIGINT) AS rnk,
          floor(greatest(CAST(rk.w AS DOUBLE), coalesce(tau.tau, 0.0)) * 1e6)
            / 1e6 AS est_w
        FROM rk LEFT JOIN tau USING (grp) WHERE rk.rnk <= 12""")),

    // Training-shard manifest: deterministic hash sharding (16 shards) +
    // per-shard doc count and char mass — the "write N shards, prove
    // they're balanced" close of corpus assembly (Sampling.shardManifest;
    // one scan-stage hash + one combine-enabled aggregate)
    // Dedup funnel report: the curation story in one table — corpus size,
    // survivors after exact dedup (normalized-text fingerprint, min-id
    // keeper), survivors after near-dup canonicalization (minhash
    // clusters, min-root keeper). Each stage is the operator the catalog
    // already verifies individually; the report's value is the exact
    // stage-over-stage attrition in one pass per stage.
    ("q_dedup_funnel",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val n0 = docs.agg(count(lit(1)).as("n"))
          .select(lit(0L).as("stage"), lit("corpus").as("name"), col("n"))
        val exact = Dedup.exactDedup(docs, "doc_id", "text")
        val n1 = exact.agg(count(lit(1)).as("n"))
          .select(lit(1L).as("stage"), lit("exact").as("name"), col("n"))
        val n2 = Dedup.componentDedup(docs, "doc_id",
            Dedup.minhashNearDups(docs, "doc_id", "text",
              n = 5, k = 12, bands = 4, threshold = 0.7))
          .agg(count(lit(1)).as("n"))
          .select(lit(2L).as("stage"), lit("near_dup").as("name"), col("n"))
        n0.unionByName(n1).unionByName(n2)
      },
      Some(s"""WITH RECURSIVE ${minhashPairsCtes(5, 12, 4, 0.7)},
        edges AS MATERIALIZED (SELECT doc1 AS a, doc2 AS b FROM mh_pairs
                  UNION SELECT doc2, doc1 FROM mh_pairs),
        reach(id, r) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
        comps AS (SELECT id, min(r) AS c FROM reach GROUP BY 1),
        fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text),
            '[^a-z0-9]+', ' ', 'g'))) AS f FROM documents),
        keep1 AS (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY 1)
        SELECT CAST(0 AS BIGINT) AS stage, 'corpus' AS name,
          count(*) AS n FROM documents
        UNION ALL
        SELECT 1, 'exact', count(*) FROM keep1
        UNION ALL
        SELECT 2, 'near_dup', count(*) FROM documents
        WHERE doc_id NOT IN (SELECT id FROM comps WHERE id <> c)""")),

    // SOFT dedup: downweight near-duplicates instead of dropping them —
    // every document keeps weight 1/cluster_size (micro fixed-point), so
    // a cluster contributes one document-equivalent of training mass
    // regardless of copy count, preserving in-cluster diversity that hard
    // canonicalization throws away. Effective corpus size = Σ weights,
    // reported per source.
    ("q_sample_soft_dedup",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val comp = Dedup.componentsStar(
          Dedup.minhashNearDups(docs, "doc_id", "text",
            n = 5, k = 12, bands = 4, threshold = 0.7))
        // lazy cut (r13): withRoot feeds the size rollup AND the weight
        // join — one docs-to-component join instead of two
        val withRoot = docs.select(col("doc_id"), col("source"))
          .join(comp, Seq("doc_id"), "left")
          .withColumn("root", coalesce(col("component_id"), col("doc_id")))
          .localCheckpoint(false)
        val sizes = withRoot.groupBy("root")
          .agg(count(lit(1)).as("csize"))
        withRoot.join(sizes, Seq("root"))
          .withColumn("w_micro",
            (lit(1000000L) / col("csize")).cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count_distinct(col("root")).as("n_clusters"),
            sum("w_micro").as("effective_micro"))
      },
      Some(s"""WITH RECURSIVE ${minhashPairsCtes(5, 12, 4, 0.7)},
        edges AS MATERIALIZED (SELECT doc1 AS a, doc2 AS b FROM mh_pairs
                  UNION SELECT doc2, doc1 FROM mh_pairs),
        reach(id, r) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
        comps AS (SELECT id, min(r) AS c FROM reach GROUP BY 1),
        wr AS (SELECT doc_id, source, coalesce(c.c, doc_id) AS root
          FROM documents LEFT JOIN comps c ON doc_id = c.id),
        sz AS (SELECT root, count(*) AS csize FROM wr GROUP BY 1)
        SELECT source, count(*) AS n_docs,
          count(DISTINCT wr.root) AS n_clusters,
          CAST(sum(1000000 // csize) AS BIGINT) AS effective_micro
        FROM wr JOIN sz ON wr.root = sz.root GROUP BY 1""")),

    // Leakage-free train/val/test split: the split key is the NEAR-DUP
    // CLUSTER root, not the document — two near-duplicates can never
    // straddle splits (the eval-contamination mode that inflates every
    // benchmark). Assignment is a deterministic md5 bucket of the root;
    // the n_leaked column is the machine-checked gate (0 by construction,
    // and the oracle recomputes it independently). Components via the
    // star contraction; the pair list is persisted because both the
    // contraction and the leakage audit consume it.
    ("q_sample_cluster_split",
      (s: SparkSession, d: String) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
            n = 5, k = 12, bands = 4, threshold = 0.7)
          .select("doc1", "doc2")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val comp = Dedup.componentsStar(pairs)
        val asg = docs.select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .withColumn("root", coalesce(col("component_id"), col("doc_id")))
          .withColumn("bucket", pmod(graft.plans.GraftExpressions
            .md5_prefix60(col("root").cast("string")), lit(10L)))
          .withColumn("split", when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val").otherwise("test"))
          // lazy cut (r13): asg feeds both leak-join arms and the final
          // rollup — one docs-to-component join instead of three
          .localCheckpoint(false)
        val leaked = pairs
          .join(asg.select(col("doc_id").as("doc1"),
            col("split").as("s1")), Seq("doc1"))
          .join(asg.select(col("doc_id").as("doc2"),
            col("split").as("s2")), Seq("doc2"))
          .agg(coalesce(sum(when(col("s1") =!= col("s2"), 1L)
            .otherwise(0L)), lit(0L)).as("n_leaked"))
        asg.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            count_distinct(col("root")).as("n_clusters"))
          .crossJoin(broadcast(leaked))
      },
      Some(s"""WITH RECURSIVE ${minhashPairsCtes(5, 12, 4, 0.7)},
        edges AS MATERIALIZED (SELECT doc1 AS a, doc2 AS b FROM mh_pairs
                  UNION SELECT doc2, doc1 FROM mh_pairs),
        reach(id, r) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
        comps AS (SELECT id, min(r) AS c FROM reach GROUP BY 1),
        asg AS (SELECT doc_id, root,
            CASE WHEN bucket < 8 THEN 'train'
                 WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT doc_id, root,
              CAST(concat('0x', substr(md5(CAST(root AS VARCHAR)), 1, 15))
                AS BIGINT) % 10 AS bucket
            FROM (SELECT doc_id, coalesce(c.c, doc_id) AS root
              FROM documents LEFT JOIN comps c ON doc_id = c.id))),
        lk AS (SELECT coalesce(sum(CASE WHEN a.split <> b.split
              THEN 1 ELSE 0 END), 0) AS n_leaked
          FROM mh_pairs p JOIN asg a ON p.doc1 = a.doc_id
                          JOIN asg b ON p.doc2 = b.doc_id)
        SELECT split, count(*) AS n_docs,
          count(DISTINCT root) AS n_clusters,
          CAST(n_leaked AS BIGINT) AS n_leaked
        FROM asg, lk GROUP BY 1, n_leaked""")),

    ("q_sample_shards",
      (s: SparkSession, d: String) => Sampling.shardManifest(
        t(s, d, "documents"), "doc_id", "n_chars", shards = 16),
      Some("""SELECT CAST(concat('0x',
            substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 16
            AS shard,
          count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS w_sum
        FROM documents GROUP BY 1""")),

    // Water-filling quota allocation (Sampling.waterfillAlloc): a total
    // budget of 400 documents split across languages so no language
    // dominates — small groups keep everything, large ones are clipped to
    // one common integer waterline. The corpus is touched once (a
    // combine-enabled count); the waterline search is a window over the
    // GROUP table (cardinality = #languages, bounded by contract). The
    // language distribution is skewed (en ~44%), so at smoke/oracle scale
    // the minor languages sit fully under the waterline while en is
    // clipped — both sides of the cap exercise.
    ("q_sample_waterfill",
      (s: SparkSession, d: String) => Sampling.waterfillAlloc(
        t(s, d, "documents"), "lang", budget = 400L),
      Some("""WITH c AS (SELECT lang AS grp,
            count(*) AS n_rows FROM documents GROUP BY 1),
          k AS (SELECT count(*) AS k FROM c),
          p AS (SELECT grp, n_rows,
              row_number() OVER (ORDER BY n_rows ASC, grp ASC) AS idx,
              CAST(COALESCE(sum(n_rows) OVER (ORDER BY n_rows ASC, grp ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS prefix
            FROM c),
          cand AS (SELECT idx, n_rows,
              CAST((400 - prefix) // (k - idx + 1) AS BIGINT) AS cand
            FROM p, k),
          cap AS (SELECT CAST(min_by(cand, idx) AS BIGINT) AS cap FROM cand
            WHERE cand < n_rows)
          SELECT grp, n_rows,
            least(n_rows, COALESCE(cap, n_rows)) AS alloc, cap
          FROM c, cap""")),

    // Rendezvous (highest-random-weight) sharding stability audit: when a
    // 16-shard corpus grows to 17 shards, how many documents move? Under
    // rendezvous hashing (each key goes to the shard with the max
    // h(key|shard)) only keys whose argmax IS the new shard move
    // (~1/17); under mod-N hashing (Sampling.shardOf) almost everything
    // moves (~16/17). This audit MEASURES both — the number that decides
    // whether an incremental re-shard is a copy of 6% or 94% of a
    // 100 TB corpus. Pure scan-stage array work per key (17 hashes,
    // argmax by struct ordering) + one global aggregate; no shuffle of
    // the corpus at all.
    ("q_sample_rendezvous",
      (s: SparkSession, d: String) => {
        val hs = transform(sequence(lit(0), lit(16)), sh => struct(
          graft.plans.GraftExpressions.md5_prefix(
            concat(col("doc_id").cast("string"), lit("#"),
              sh.cast("string")), 8).as("h"),
          sh.cast("long").as("s")))
        val h60 = graft.plans.GraftExpressions.md5_prefix60(
          col("doc_id").cast("string"))
        t(s, d, "documents")
          .select(col("doc_id"),
            array_max(slice(hs, 1, 16)).getField("s").as("old_rv"),
            array_max(hs).getField("s").as("new_rv"),
            pmod(h60, lit(16L)).as("old_mod"),
            pmod(h60, lit(17L)).as("new_mod"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("old_rv") =!= col("new_rv"), 1L).otherwise(0L))
              .as("moved_rendezvous"),
            sum(when(col("old_mod") =!= col("new_mod"), 1L).otherwise(0L))
              .as("moved_mod"))
      },
      Some("""WITH h AS (SELECT doc_id, s,
            CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
              CAST(s AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
          FROM documents, UNNEST(range(0, 17)) AS u(s)),
        rv AS (SELECT doc_id,
            max_by(s, hv * 32 + s) FILTER (WHERE s < 16) AS old_rv,
            max_by(s, hv * 32 + s) AS new_rv
          FROM h GROUP BY 1),
        md AS (SELECT doc_id,
            CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h60
          FROM documents)
        SELECT count(*) AS n_docs,
          CAST(sum(CASE WHEN old_rv <> new_rv THEN 1 ELSE 0 END)
            AS BIGINT) AS moved_rendezvous,
          CAST(sum(CASE WHEN h60 % 16 <> h60 % 17 THEN 1 ELSE 0 END)
            AS BIGINT) AS moved_mod
        FROM rv JOIN md USING (doc_id)""")),

    // Inverse-propensity-weighted estimation audit: downsample per
    // stratum at known rates (en 10%, zh 50%, rest kept), then estimate
    // corpus totals from the SAMPLE with 1/rate weights and report the
    // error against ground truth — the proof a sampled-telemetry /
    // sampled-corpus pipeline must ship before anyone trusts its
    // aggregates. Rates chosen with exact integer inverses (10, 2, 1),
    // so estimates are exact BIGINT arithmetic; the sample membership is
    // the replayable md5 score. One scan computes truth and estimate
    // together (conditional aggregates) — the audit costs one pass.
    ("q_sample_ipw",
      (s: SparkSession, d: String) => {
        val w = when(col("lang") === "en", 10L)
          .when(col("lang") === "zh", 2L).otherwise(1L)
        val r = when(col("lang") === "en", 0.1)
          .when(col("lang") === "zh", 0.5).otherwise(1.0)
        val docs = t(s, d, "documents").select(col("lang"),
          col("n_chars").cast("long").as("nc"),
          (Sampling.hashScore(col("doc_id")) < r).as("in_sample"), w.as("w"))
        docs.groupBy("lang")
          .agg(count(lit(1)).as("n_true"),
            sum("nc").as("chars_true"),
            sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sampled"),
            sum(when(col("in_sample"), col("w")).otherwise(0L))
              .as("n_est"),
            sum(when(col("in_sample"), col("w") * col("nc")).otherwise(0L))
              .as("chars_est"))
          .select(col("lang"), col("n_true"), col("n_sampled"),
            col("n_est"), col("chars_true"), col("chars_est"),
            floor(abs(col("n_est") - col("n_true")).cast("double") *
              lit(1e6) / col("n_true").cast("double")).cast("long")
              .as("n_err_ppm"),
            floor(abs(col("chars_est") - col("chars_true")).cast("double") *
              lit(1e6) / col("chars_true").cast("double")).cast("long")
              .as("chars_err_ppm"))
      },
      Some(s"""WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS nc,
            ${hashScoreSql("doc_id")} <
              CASE WHEN lang = 'en' THEN 0.1
                   WHEN lang = 'zh' THEN 0.5 ELSE 1.0 END AS in_sample,
            CASE WHEN lang = 'en' THEN 10
                 WHEN lang = 'zh' THEN 2 ELSE 1 END AS w
          FROM documents),
        a AS (SELECT lang, count(*) AS n_true,
            CAST(sum(nc) AS BIGINT) AS chars_true,
            CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
              AS n_sampled,
            CAST(sum(CASE WHEN in_sample THEN w ELSE 0 END) AS BIGINT)
              AS n_est,
            CAST(sum(CASE WHEN in_sample THEN w * nc ELSE 0 END)
              AS BIGINT) AS chars_est
          FROM d GROUP BY 1)
        SELECT lang, n_true, n_sampled, n_est, chars_true, chars_est,
          CAST(floor(CAST(abs(n_est - n_true) AS DOUBLE) * 1e6
            / CAST(n_true AS DOUBLE)) AS BIGINT) AS n_err_ppm,
          CAST(floor(CAST(abs(chars_est - chars_true) AS DOUBLE) * 1e6
            / CAST(chars_true AS DOUBLE)) AS BIGINT) AS chars_err_ppm
        FROM a""")))

  // ================================================================ graph

  /** Unrolled DuckDB replay of [[Graph.pageRankInt]] over the
    * part<->supplier graph: one CTE per round, integer `//` division —
    * bit-identical to the Spark fixed-point iteration. `sum(BIGINT)` is
    * HUGEINT in DuckDB, so intermediate ranks widen losslessly and the
    * final projection casts back. */
  private[graft] def pageRankOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
           150000000000 + (85 * coalesce(s.s, 0)) // 100 AS rank
         FROM nodes n LEFT JOIN (
           SELECT e.dst AS node, sum(r.rank // d.outdeg) AS s
           FROM r${i - 1} r JOIN d ON r.node = d.src JOIN e ON e.src = d.src
           GROUP BY 1) s USING (node))"""
    }.mkString(",\n        ")
    s"""WITH fwd AS (SELECT DISTINCT l_partkey * 2 AS src,
          l_suppkey * 2 + 1 AS dst FROM lineitem),
        e AS (SELECT src, dst FROM fwd
          UNION ALL SELECT dst, src FROM fwd),
        d AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        nodes AS (SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst FROM e),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM nodes),
        $rounds
        SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters"""
  }

  /** Unrolled DuckDB replay of [[Graph.pprInt]] over the part<->supplier
    * graph with the part-id<5 seed set: the pageRank CTE chain with the
    * teleport term gated on seed membership. */
  private[graft] def pprOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT f.node,
           f.iss * 150000000000 + (85 * coalesce(s.s, 0)) // 100 AS rank
         FROM f LEFT JOIN (
           SELECT e.dst AS node, sum(r.rank // d.outdeg) AS s
           FROM r${i - 1} r JOIN d ON r.node = d.src JOIN e ON e.src = d.src
           GROUP BY 1) s USING (node))"""
    }.mkString(",\n        ")
    s"""WITH fwd AS (SELECT DISTINCT l_partkey * 2 AS src,
          l_suppkey * 2 + 1 AS dst FROM lineitem),
        e AS (SELECT src, dst FROM fwd
          UNION ALL SELECT dst, src FROM fwd),
        d AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        nodes AS (SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst FROM e),
        sd AS (SELECT DISTINCT l_partkey * 2 AS node FROM lineitem
          WHERE l_partkey < 5),
        f AS (SELECT n.node,
            CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS iss
          FROM nodes n LEFT JOIN sd s USING (node)),
        r0 AS (SELECT node, CAST(iss AS BIGINT) * 1000000000000 AS rank
          FROM f),
        $rounds
        SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iters"""
  }

  /** Unrolled DuckDB replay of [[Graph.temporalReach]] over the
    * order-date-stamped supplier<->customer contact graph from the
    * supplier-id<3 seed set: one (time-gated relax-union, min-group)
    * CTE pair per round — arrival(v) = min t over time-respecting
    * paths, bit-exact in BIGINT day counts. */
  private[graft] def temporalOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s""",
        u$r AS (SELECT node, arr FROM a${r - 1}
          UNION ALL SELECT e.dst, e.t
          FROM a${r - 1} a JOIN e ON e.src = a.node WHERE e.t >= a.arr),
        a$r AS MATERIALIZED (SELECT node, CAST(min(arr) AS BIGINT) AS arr
          FROM u$r GROUP BY 1)"""
    }.mkString
    s"""WITH fwd AS (SELECT DISTINCT l_suppkey * 2 + 1 AS src,
          o_custkey * 2 AS dst,
          CAST(date_diff('day', DATE '1970-01-01',
            CAST(o_orderdate AS DATE)) AS BIGINT) AS t
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      e AS (SELECT src, dst, t FROM fwd
        UNION ALL SELECT dst, src, t FROM fwd),
      a0 AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node,
          CAST(0 AS BIGINT) AS arr
        FROM supplier WHERE s_suppkey < 3)$steps
      SELECT node, arr FROM a$rounds"""
  }

  /** Unrolled DuckDB replay of [[Graph.ssspInt]] over the weighted
    * part<->supplier graph (edge weight = min line price in cents for the
    * pairing) from the part-id<5 seed set: one (relax-union, min-group)
    * CTE pair per round — the Bellman-Ford "cheapest within r hops"
    * invariant, bit-exact in BIGINT min/plus. */
  private[graft] def ssspOracleSql(rounds: Int): String = {
    // d$r is MATERIALIZED: u$r references d${r-1} twice (carry + relax),
    // and DuckDB inlines plain CTEs — 2^rounds base-scan copies otherwise
    // (the q_graph_hits sf0.1 timeout lesson, same pattern)
    val steps = (1 to rounds).map { r =>
      s""",
        u$r AS (SELECT node, dist FROM d${r - 1}
          UNION ALL SELECT e.dst, d.dist + e.w
          FROM d${r - 1} d JOIN e ON e.src = d.node),
        d$r AS MATERIALIZED (SELECT node, min(dist) AS dist
          FROM u$r GROUP BY 1)"""
    }.mkString
    s"""WITH fwd AS (SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
          min(${centsSql("l_extendedprice")}) AS w
        FROM lineitem GROUP BY 1, 2),
        e AS (SELECT src, dst, w FROM fwd
          UNION ALL SELECT dst, src, w FROM fwd),
        d0 AS (SELECT DISTINCT l_partkey * 2 AS node,
            CAST(0 AS BIGINT) AS dist
          FROM lineitem WHERE l_partkey < 5)$steps
        SELECT node, dist FROM d$rounds"""
  }

  /** Unrolled DuckDB replay of [[Graph.hitsInt]] over the DIRECTED
    * part->supplier graph: one (auth-pass, hub-pass) CTE quad per round,
    * max-normalized with integer `//` — bit-identical to the Spark
    * fixed-point iteration (sums widen to HUGEINT losslessly; the final
    * projection casts back). */
  private[graft] def hitsOracleSql(iters: Int, scale: Long): String = {
    // every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    // each round references its predecessor TWICE (the value column and
    // the scalar max-normalizer), so the un-hinted plan doubles per
    // round-half — 2^(4·iters) copies of the base scan. Fast enough to
    // pass unnoticed at sf0.01; a 600 s timeout at sf0.1.
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT n.node, coalesce(s.s, 0) AS araw
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, sum(h.hub) AS s
             FROM fwd e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1) s
           USING (node)),
         a$i AS MATERIALIZED (SELECT node, (araw * $scale)
             // greatest((SELECT max(araw) FROM ar$i), 1) AS auth
           FROM ar$i),
         hr$i AS MATERIALIZED (SELECT n.node, coalesce(s.s, 0) AS hraw
           FROM nodes n LEFT JOIN (
             SELECT e.src AS node, sum(a.auth) AS s
             FROM fwd e JOIN a$i a ON e.dst = a.node GROUP BY 1) s
           USING (node)),
         h$i AS MATERIALIZED (SELECT node, (hraw * $scale)
             // greatest((SELECT max(hraw) FROM hr$i), 1) AS hub
           FROM hr$i)"""
    }.mkString(",\n        ")
    s"""WITH fwd AS MATERIALIZED (SELECT DISTINCT l_partkey * 2 AS src,
          l_suppkey * 2 + 1 AS dst FROM lineitem),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM fwd
          UNION SELECT DISTINCT dst FROM fwd),
        h0 AS (SELECT node, CAST($scale AS BIGINT) AS hub FROM nodes),
        $rounds
        SELECT a.node, CAST(a.auth AS BIGINT) AS auth,
          CAST(h.hub AS BIGINT) AS hub
        FROM a$iters a JOIN h$iters h ON a.node = h.node"""
  }

  /** Unrolled DuckDB replay of [[Graph.kCore]] over the sampled co-order
    * parts graph: one (degree-filter + two-join) CTE pair per peel round —
    * bit-identical to the Spark fixed-round loop (pure integer counts). */
  /** Unrolled fixed-round label-propagation replay over the sampled
    * co-order graph (must mirror q_graph_communities' construction). */
  /** The label-propagation CTE chain (shared by the communities and
    * modularity oracles): `canon(a, b)`, `edges(src, dst)`, and the final
    * labels in `l{rounds}(node, label)`. */
  private[graft] def lpaCtes(rounds: Int): String = {
    val base = """lp AS (SELECT DISTINCT l_orderkey AS ok,
          l_partkey AS pk FROM lineitem WHERE l_orderkey % 5 = 0),
      canon AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk),
      edges AS (SELECT a AS src, b AS dst FROM canon
        UNION SELECT b, a FROM canon),
      l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    val iters = (1 to rounds).map { i =>
      s""",
      r$i AS (SELECT e.src AS node, l.label, count(*) AS c
        FROM edges e JOIN l${i - 1} l ON e.dst = l.node GROUP BY 1, 2),
      l$i AS (SELECT node, label FROM (SELECT node, label,
          row_number() OVER (PARTITION BY node
            ORDER BY c DESC, label ASC) AS rn
        FROM r$i) WHERE rn = 1)"""
    }.mkString
    base + iters
  }

  private[graft] def lpaOracleSql(rounds: Int): String =
    s"WITH ${lpaCtes(rounds)}\n      SELECT node, label FROM l$rounds"

  private[graft] def kCoreOracleSql(k: Int, rounds: Int): String = {
    // e$i is MATERIALIZED: each round references e${i-1} three times
    // (degree pass + both endpoint filters) — 3^rounds inlined copies of
    // the canon self-join otherwise (same class as the hits timeout)
    val steps = (1 to rounds).map { i =>
      s"""a$i AS (SELECT src FROM (
           SELECT src, count(*) AS c FROM e${i - 1} GROUP BY 1)
           WHERE c >= $k),
         e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
           JOIN a$i s ON e.src = s.src JOIN a$i t ON e.dst = t.src)"""
    }.mkString(",\n        ")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
          FROM lineitem WHERE l_orderkey % 5 = 0),
        canon AS (SELECT DISTINCT a.pk AS a, b.pk AS b
          FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk),
        e0 AS (SELECT a AS src, b AS dst FROM canon
          UNION ALL SELECT b, a FROM canon),
        $steps
        SELECT src AS node, count(*) AS degree FROM e$rounds GROUP BY 1"""
  }

  /** Unrolled DuckDB replay of [[Graph.bfsLevels]] over the part<->supplier
    * bipartite graph (GraphQueries' `partSupplierEdges` mirrored): one
    * (frontier-join + NOT IN) CTE pair per hop, so the hash-match pins the
    * frontier-expansion admission rule (a node enters at its minimum hop,
    * exactly once). */
  private[graft] def bfsOracleSql(rounds: Int): String = {
    val base = """WITH fwd AS (SELECT DISTINCT l_partkey * 2 AS src,
          l_suppkey * 2 + 1 AS dst FROM lineitem),
      e AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
      l0 AS (SELECT DISTINCT l_partkey * 2 AS node,
          CAST(0 AS BIGINT) AS level
        FROM lineitem WHERE l_partkey < 5)"""
    val hops = (1 to rounds).map { r =>
      s""",
      f$r AS (SELECT DISTINCT e.dst AS node
        FROM e JOIN ${if (r == 1) "l0" else s"f${r - 1}"} f
          ON e.src = f.node
        WHERE e.dst NOT IN (SELECT node FROM l${r - 1})),
      l$r AS (SELECT node, level FROM l${r - 1}
        UNION ALL SELECT node, CAST($r AS BIGINT) FROM f$r)"""
    }.mkString
    base + hops + s"\n      SELECT node, level FROM l$rounds"
  }

  /** Systematic sampling (the survey-statistics every-k-th design —
    * Madow 1944): rank every document in doc_id order via the grouped
    * two-pass range scan (graft.ops.Prefix — never a corpus-wide
    * single-task window) and keep ranks ≡ start (mod k). Unlike the
    * Bernoulli hash sample, systematic sampling guarantees EXACTLY
    * floor((n - start - 1)/k) + 1 rows and even coverage of the sort
    * order — the property stratified-by-position pipelines (eval
    * shards, spot-check audits) actually want. The census columns make
    * the exact-count guarantee checkable. */
  private[graft] def systematicEntry: (String, Q, Option[String]) =
    ("q_sample_systematic",
      (s: SparkSession, d: String) => {
        val ranked = graft.ops.Prefix.runningOffsets(
          t(s, d, "documents").select(col("doc_id"), col("n_chars"),
            lit(1L).as("one")),
          "doc_id", "one")
        val kept = ranked.filter(col("offset") % 50 === 7)
        kept.agg(count(lit(1)).as("n_sampled"),
            sum("n_chars").as("chars_sampled"),
            min("doc_id").as("first_id"), max("doc_id").as("last_id"))
          .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n_total"))))
          // (n_total + 42) div 50 == floor((n_total - 8)/50) + 1 for
          // n_total >= 8 and 0 below — and the operand is nonnegative
          // for every n_total, so Spark `div` (truncate) and DuckDB `//`
          // (floor) agree even on tiny/empty tables.
          .withColumn("expected", expr("(n_total + 42L) div 50L"))
      },
      Some("""WITH r AS (SELECT doc_id, n_chars,
            row_number() OVER (ORDER BY doc_id) - 1 AS off
          FROM documents),
        k AS (SELECT * FROM r WHERE off % 50 = 7),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled,
            CAST(sum(n_chars) AS BIGINT) AS chars_sampled,
            min(doc_id) AS first_id, max(doc_id) AS last_id
          FROM k),
        tt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM r)
        SELECT n_sampled, chars_sampled, first_id, last_id, n_total,
          (n_total + 42) // 50 AS expected
        FROM a, tt"""))

  /** Unrolled DuckDB replay of [[Graph.betweennessSampled]] over the
    * part<->supplier graph with the l_partkey < 5 pivot set: forward
    * CTEs f1..fR count shortest paths per (source, node) exactly as the
    * engine's frontier rounds do (NOT EXISTS = the anti-join), backward
    * CTEs dR-1..d1 replay the micro-quantized dependency accumulation
    * (positive-operand `//` = Spark `div`), and the final aggregate
    * keeps nodes with positive centrality. */
  private[graft] def betweennessOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH fwd AS MATERIALIZED (SELECT DISTINCT l_partkey * 2 AS src,
          l_suppkey * 2 + 1 AS dst FROM lineitem),
      e AS MATERIALIZED (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
      l0 AS MATERIALIZED (SELECT DISTINCT l_partkey * 2 AS s, l_partkey * 2 AS node,
          CAST(0 AS BIGINT) AS level, CAST(1 AS BIGINT) AS sigma
        FROM lineitem WHERE l_partkey < 5)"""
    for (r <- 1 to rounds) {
      sb ++= s""",
      f$r AS MATERIALIZED (SELECT f.s, e.dst AS node, CAST(sum(f.sigma) AS BIGINT)
          AS sigma
        FROM ${if (r == 1) "l0" else s"f${r - 1}"} f
        JOIN e ON e.src = f.node
        WHERE NOT EXISTS (SELECT 1 FROM l${r - 1} x
          WHERE x.s = f.s AND x.node = e.dst)
        GROUP BY 1, 2),
      l$r AS MATERIALIZED (SELECT s, node, level, sigma FROM l${r - 1}
        UNION ALL SELECT s, node, CAST($r AS BIGINT), sigma FROM f$r)"""
    }
    sb ++= s""",
      d$rounds AS MATERIALIZED (SELECT s, node, CAST(0 AS BIGINT) AS delta
        FROM l$rounds WHERE level = $rounds)"""
    for (l <- (rounds - 1) to 1 by -1) {
      sb ++= s""",
      w${l + 1} AS MATERIALIZED (SELECT x.s, x.node, x.sigma,
          COALESCE(d.delta, 0) AS delta
        FROM (SELECT s, node, sigma FROM l$rounds
          WHERE level = ${l + 1}) x
        LEFT JOIN d${l + 1} d ON d.s = x.s AND d.node = x.node),
      d$l AS MATERIALIZED (SELECT v.s, v.node,
          CAST(sum(v.sigma * (1000000 + w.delta) // w.sigma) AS BIGINT)
            AS delta
        FROM (SELECT s, node, sigma FROM l$rounds WHERE level = $l) v
        JOIN e ON e.src = v.node
        JOIN w${l + 1} w ON w.s = v.s AND w.node = e.dst
        GROUP BY 1, 2)"""
    }
    val accArms = (1 to rounds)
      .map(l => s"SELECT s, node, delta FROM d$l")
      .mkString("\n        UNION ALL ")
    sb ++= s""",
      acc AS ($accArms)
      SELECT node, CAST(count(*) AS BIGINT) AS n_sources,
        CAST(sum(delta) AS BIGINT) AS bc_micro
      FROM acc GROUP BY 1 HAVING sum(delta) > 0"""
    sb.toString
  }

  /** Unrolled DuckDB replay of [[Graph.randomWalks]] over the CAPPED
    * (maxDegree = 8) symmetrized co-order parts graph: the q_graph_capped
    * cap CTEs, a per-node dst-ordered neighbor index, and one join-CTE
    * per step whose neighbor pick replays the md5-prefix hash decision
    * `1 + (h(walk|step) mod deg)`. */
  private[graft] def walksOracleSql(steps: Int): String = {
    val base = """WITH lp AS (SELECT DISTINCT l_orderkey AS ok,
          l_partkey AS pk FROM lineitem WHERE l_orderkey % 5 = 0),
      canon0 AS (SELECT DISTINCT a.pk AS a, b.pk AS b
        FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk),
      inc AS (SELECT a AS node, a, b,
          md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)) AS h
        FROM canon0
        UNION ALL
        SELECT b AS node, a, b,
          md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)) AS h
        FROM canon0),
      ranked AS (SELECT node, a, b,
          row_number() OVER (PARTITION BY node ORDER BY h, a, b) AS rk
        FROM inc),
      canon AS (SELECT a, b FROM ranked WHERE rk <= 8
        GROUP BY a, b HAVING count(*) = 2),
      sym AS (SELECT a AS src, b AS dst FROM canon
        UNION ALL SELECT b, a FROM canon),
      idx AS (SELECT src, dst, CAST(row_number() OVER (PARTITION BY src
          ORDER BY dst) AS BIGINT) AS nidx FROM sym),
      deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
      s0 AS (SELECT DISTINCT src AS walk_id, src AS node FROM sym
        WHERE src % 20 = 0)"""
    val hops = (1 to steps).map { t =>
      s""",
      s$t AS (SELECT w.walk_id, i.dst AS node
        FROM s${t - 1} w JOIN deg d ON w.node = d.node
        JOIN idx i ON i.src = w.node
          AND i.nidx = 1 + (CAST(concat('0x',
            substr(md5(CAST(w.walk_id AS VARCHAR) || '|$t'), 1, 8))
            AS BIGINT) % d.deg))"""
    }.mkString
    val arms = (0 to steps).map(t =>
      s"SELECT walk_id, CAST($t AS BIGINT) AS step, node FROM s$t")
      .mkString("\n      UNION ALL ")
    s"$base$hops\n      $arms"
  }

  /** Unrolled DuckDB replay of [[Graph.cascade]] over the CAPPED
    * symmetrized co-order graph (same cap CTEs as [[walksOracleSql]]):
    * one (count-gate + anti-join) CTE pair per round. */
  /** DuckDB replay of the CAPPED (maxDegree = 8) symmetrized co-order
    * parts graph — the shared base of the cascade / ANF oracles (the
    * q_graph_capped cap CTEs verbatim: md5-ranked bottom-8 incident edges,
    * kept-at-both-endpoints). Yields `sym(src, dst)`. */
  /** Every CTE MATERIALIZED: `sym` is consumed once per unrolled round by
    * the cascade/ANF pyramids downstream, so an inlining planner would
    * re-expand this whole lineitem-scanning chain per round — exactly the
    * multiplicative shape the heavy-oracle protocol (tools/README.md)
    * and OracleLintSpec forbid. */
  private[graft] def cappedSymCtes(): String =
    """lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
          l_partkey AS pk FROM lineitem WHERE l_orderkey % 5 = 0),
      canon0 AS MATERIALIZED (SELECT DISTINCT a.pk AS a, b.pk AS b
        FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk),
      inc AS MATERIALIZED (SELECT a AS node, a, b,
          md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)) AS h
        FROM canon0
        UNION ALL
        SELECT b AS node, a, b,
          md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR)) AS h
        FROM canon0),
      ranked AS MATERIALIZED (SELECT node, a, b,
          row_number() OVER (PARTITION BY node ORDER BY h, a, b) AS rk
        FROM inc),
      canon AS MATERIALIZED (SELECT a, b FROM ranked WHERE rk <= 8
        GROUP BY a, b HAVING count(*) = 2),
      sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM canon
        UNION ALL SELECT b, a FROM canon)"""

  /** Unrolled replay of [[Graph.anfReach]] over the capped graph: exact
    * r-hop reach sets hop by hop, then the bottom-k sketch REBUILT from
    * the exact set (legal because bottom-k union is idempotent — the
    * propagated sketch equals the sketch of the true reach set), same
    * md5-prefix60 hash, same KMV estimator chain. */
  private[graft] def anfOracleSql(k: Int, rounds: Int): String = {
    val hops = (1 to rounds).map { r =>
      s""",
      r$r AS (SELECT DISTINCT root, reach FROM (
          SELECT r.root, e.dst AS reach
          FROM r${r - 1} r JOIN sym e ON e.src = r.reach
          UNION ALL SELECT root, reach FROM r${r - 1}))"""
    }.mkString
    s"""WITH ${cappedSymCtes()},
      nodes AS (SELECT DISTINCT src AS node FROM sym),
      r0 AS (SELECT node AS root, node AS reach FROM nodes)$hops,
      h AS (SELECT DISTINCT root, CAST(concat('0x',
            substr(md5(CAST(reach AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM r$rounds),
      rk AS (SELECT root, h,
          row_number() OVER (PARTITION BY root ORDER BY h) AS rn,
          count(*) OVER (PARTITION BY root) AS cnt FROM h),
      kth AS (SELECT root, max(CASE WHEN rn <= $k THEN h END) AS h_k,
          any_value(cnt) AS cnt FROM rk GROUP BY 1)
      SELECT root AS node, LEAST(cnt, $k) AS n_sketch,
        CASE WHEN cnt < $k THEN CAST(cnt AS DOUBLE)
             ELSE ${k - 1}.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE)
        END AS reach_est
      FROM kth"""
  }

  /** DuckDB replay of [[graft.ops.Graph.anfHarmonic]]: per round the TRUE
    * reach set is enumerated and its bottom-k sketch rebuilt (legal by the
    * same idempotent-union identity the q_graph_anf oracle rests on), the
    * per-round estimates join on the root, and the harmonic chain uses
    * the SAME left-associative order and integer 1e6/r weight literals as
    * the engine. */
  private[graft] def anfHarmonicOracleSql(k: Int, rounds: Int): String = {
    val hops = (1 to rounds).map { r =>
      s""",
      r$r AS (SELECT DISTINCT root, reach FROM (
          SELECT r.root, e.dst AS reach
          FROM r${r - 1} r JOIN sym e ON e.src = r.reach
          UNION ALL SELECT root, reach FROM r${r - 1}))"""
    }.mkString
    val ests = (1 to rounds).map { r =>
      s""",
      h$r AS (SELECT DISTINCT root, CAST(concat('0x',
            substr(md5(CAST(reach AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM r$r),
      rk$r AS (SELECT root, h,
          row_number() OVER (PARTITION BY root ORDER BY h) AS rn,
          count(*) OVER (PARTITION BY root) AS cnt FROM h$r),
      e$r AS (SELECT root,
          CASE WHEN any_value(cnt) < $k THEN CAST(any_value(cnt) AS DOUBLE)
               ELSE ${k - 1}.0 * 1152921504606846976.0 /
                 CAST(max(CASE WHEN rn <= $k THEN h END) AS DOUBLE)
          END AS n$r
        FROM rk$r GROUP BY 1)"""
    }.mkString
    val chain = (1 to rounds).map { r =>
      val prev = if (r == 1) "1.0" else s"e${r - 1}.n${r - 1}"
      s"(e$r.n$r - $prev) * ${1000000L / r}"
    }.mkString(" + ")
    val joins = (2 to rounds)
      .map(r => s"JOIN e$r ON e1.root = e$r.root").mkString(" ")
    s"""WITH ${cappedSymCtes()},
      nodes AS (SELECT DISTINCT src AS node FROM sym),
      r0 AS (SELECT node AS root, node AS reach FROM nodes)$hops$ests
      SELECT e1.root AS node,
        ${(1 to rounds).map(r => s"e$r.n$r").mkString(", ")},
        CAST(floor($chain) AS BIGINT) AS harmonic_micro
      FROM e1 $joins"""
  }

  /** DuckDB replay of [[Graph.boruvkaForest]] (2 Borůvka rounds): per-
    * component cheapest-edge picks via row_number over the (w, a, b)
    * total order, then the round-1 merge labels by `labelRounds` UNROLLED
    * min-label propagation steps over the round-1 forest — the SAME fixed
    * rounds the Spark side runs, so the two engines agree even if the
    * labels were under-converged (the forest is star-like: measured
    * convergence is 5-6 steps at both fixture scales; 8 has margin). A
    * recursive-CTE reach enumeration would be Σ|comp|² rows — measured
    * 10x slower and quadratic in component size. Every lb CTE is
    * MATERIALIZED: each references its predecessor twice, and DuckDB
    * would otherwise inline the chain exponentially. */
  private[graft] def mstOracleSql(labelRounds: Int): String = {
    val labels = (1 to labelRounds).map { i =>
      s""",
        lb$i AS MATERIALIZED (SELECT l.id,
            least(l.lbl, COALESCE(m.m, l.lbl)) AS lbl
          FROM lb${i - 1} l LEFT JOIN (SELECT e.b AS id, min(x.lbl) AS m
            FROM e1 e JOIN lb${i - 1} x ON e.a = x.id GROUP BY 1) m
            ON l.id = m.id)"""
    }.mkString
    s"""WITH canon AS MATERIALIZED (
          SELECT least(l_partkey * 2, l_suppkey * 2 + 1) AS a,
            greatest(l_partkey * 2, l_suppkey * 2 + 1) AS b,
            min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS w
          FROM lineitem GROUP BY 1, 2),
        nodes AS (SELECT a AS node FROM canon
          UNION SELECT b FROM canon),
        g1 AS (SELECT a AS g, w, a, b FROM canon
          UNION ALL SELECT b, w, a, b FROM canon),
        sel1 AS (SELECT a, b, w FROM (SELECT g, w, a, b,
            row_number() OVER (PARTITION BY g ORDER BY w, a, b) AS rn
          FROM g1) WHERE rn = 1),
        f1 AS MATERIALIZED (SELECT DISTINCT a, b, w FROM sel1),
        e1 AS MATERIALIZED (SELECT a, b FROM f1
          UNION SELECT b, a FROM f1),
        lb0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lbl
          FROM e1)$labels,
        comp1 AS MATERIALIZED (SELECT n.node,
            COALESCE(c.lbl, n.node) AS comp
          FROM nodes n LEFT JOIN lb$labelRounds c ON n.node = c.id),
        cand2 AS (SELECT canon.a, canon.b, canon.w,
            x.comp AS ca, y.comp AS cb
          FROM canon JOIN comp1 x ON canon.a = x.node
            JOIN comp1 y ON canon.b = y.node
          WHERE x.comp <> y.comp),
        g2 AS (SELECT ca AS g, w, a, b FROM cand2
          UNION ALL SELECT cb, w, a, b FROM cand2),
        sel2 AS (SELECT a, b, w FROM (SELECT g, w, a, b,
            row_number() OVER (PARTITION BY g ORDER BY w, a, b) AS rn
          FROM g2) WHERE rn = 1),
        f2 AS (SELECT DISTINCT a, b, w FROM (
          SELECT a, b, w FROM f1 UNION ALL SELECT a, b, w FROM sel2))
        SELECT a, b, w FROM f2"""
  }

  private[graft] def cascadeOracleSql(threshold: Int, rounds: Int): String = {
    val base = s"""WITH ${cappedSymCtes()},
      a0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS round
        FROM sym WHERE src % 20 = 0)"""
    val hops = (1 to rounds).map { r =>
      s""",
      n$r AS (SELECT e.dst AS node, count(*) AS c
        FROM sym e JOIN a${r - 1} a ON e.src = a.node GROUP BY 1),
      a$r AS (SELECT node, round FROM a${r - 1}
        UNION ALL
        SELECT node, CAST($r AS BIGINT) FROM n$r
        WHERE c >= $threshold AND node NOT IN
          (SELECT node FROM a${r - 1}))"""
    }.mkString
    base + hops + s"\n      SELECT node, round FROM a$rounds"
  }

}
