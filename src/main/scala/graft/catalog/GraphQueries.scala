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
import graft.catalog.SamplingQueries._

/** graph-analytics queries — split from the single-object catalog;
  * content unchanged. Assembled by [[graft.QueryCatalog]]. */
private[graft] object GraphQueries {
  val entries: Seq[(String, Q, Option[String])] = Seq(

    // Fixed-point integer PageRank, 5 rounds — graph centrality as a
    // first-class curation operator (rank nodes of the similarity graph /
    // host graph before sampling). Deterministic across engines: every
    // round is BIGINT arithmetic (see Graph.pageRankInt).
    ("q_graph_pagerank",
      (s: SparkSession, d: String) => Graph.pageRankInt(
        partSupplierEdges(s, d), "src", "dst", iters = 5),
      Some(pageRankOracleSql(5))),

    // Degree profile of the same graph — the sanity check run before any
    // iterative graph op (skew detection: a node whose degree is
    // corpus-proportional is the hot key every shuffle strategy must know
    // about). One union + one combine-enabled aggregate.
    ("q_graph_degree",
      (s: SparkSession, d: String) => Graph.degrees(
        partSupplierEdges(s, d), "src", "dst"),
      Some("""WITH fwd AS (SELECT DISTINCT l_partkey * 2 AS src,
            l_suppkey * 2 + 1 AS dst FROM lineitem),
          e AS (SELECT src, dst FROM fwd
            UNION ALL SELECT dst, src FROM fwd),
          b AS (SELECT src AS node, 1 AS o, 0 AS i FROM e
            UNION ALL SELECT dst, 0, 1 FROM e)
          SELECT node, CAST(sum(o) AS BIGINT) AS out_deg,
            CAST(sum(i) AS BIGINT) AS in_deg,
            count(*) AS degree
          FROM b GROUP BY 1""")),

    // Degree assortativity (Newman 2002) of the same graph — one number
    // saying whether hubs link to hubs (>0) or to leaves (<0), i.e. which
    // side of a downstream graph join carries the hot keys. The bipartite
    // part<->supplier graph is structurally disassortative, so the audit
    // has signal here. Exact BIGINT moments; the correlation itself is one
    // fixed IEEE chain (the moment products would wrap 2^63 at exactly the
    // graph sizes this audit targets).
    ("q_graph_assortativity",
      (s: SparkSession, d: String) => Graph.assortativity(
        partSupplierEdges(s, d), "src", "dst"),
      Some("""WITH fwd AS (SELECT DISTINCT l_partkey * 2 AS src,
            l_suppkey * 2 + 1 AS dst FROM lineitem),
          e AS (SELECT src, dst FROM fwd
            UNION ALL SELECT dst, src FROM fwd),
          deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
          p AS (SELECT dx.deg AS dx, dy.deg AS dy FROM e
            JOIN deg dx ON e.src = dx.node
            JOIN deg dy ON e.dst = dy.node),
          m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
              CAST(sum(dx) AS BIGINT) AS sx,
              CAST(sum(dx * dy) AS BIGINT) AS sxy,
              CAST(sum(dx * dx) AS BIGINT) AS sxx FROM p)
          SELECT n_edges, sx, sxy, sxx,
            CAST(floor(1e6 * (CAST(n_edges AS DOUBLE) * sxy
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(n_edges AS DOUBLE) * sxx
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)
              AS r_micro
          FROM m""")),

    // One synchronous Louvain phase (Graph.louvainOnePass) on the
    // part<->supplier graph: every node's best modularity-gain move from
    // singleton communities, gain in the exact integer form 2m - k_i*k_j
    // (scaled by 2m^2 — argmax-invariant, transcendental-free). The
    // modularity-OBJECTIVE counterpart to q_graph_communities' frequency
    // heuristic; the emitted gain says how decisively each node merged.
    // Shape: one degree aggregate + two edge-partitioned joins + a 1-row
    // broadcast + a combine-enabled struct-max — O(|E|), no per-community
    // state, no windows.
    ("q_graph_louvain",
      (s: SparkSession, d: String) => Graph.louvainOnePass(
        partSupplierEdges(s, d), "src", "dst"),
      Some("""WITH fwd AS MATERIALIZED (SELECT DISTINCT l_partkey * 2
              AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
          e AS MATERIALIZED (SELECT src, dst FROM fwd
            UNION ALL SELECT dst, src FROM fwd),
          deg AS MATERIALIZED (SELECT src AS node,
              CAST(count(*) AS BIGINT) AS deg
            FROM e GROUP BY 1),
          m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e),
          cand AS MATERIALIZED (SELECT e.src AS node, e.dst AS nbr,
              m2 - di.deg * dj.deg AS gain
            FROM e JOIN deg di ON e.src = di.node
            JOIN deg dj ON e.dst = dj.node, m),
          best AS (SELECT node, nbr, gain, row_number()
              OVER (PARTITION BY node ORDER BY gain DESC, nbr ASC) AS rn
            FROM cand)
          SELECT node,
            CASE WHEN gain > 0 THEN nbr ELSE node END AS community,
            CAST(gain AS BIGINT) AS gain_scaled
          FROM best WHERE rn = 1""")),

    // Community detection via fixed-round synchronous label propagation
    // (Graph.labelPropagation) over the sampled co-order graph — the
    // DENSE-region structure, where q_dedup_clusters* find mere
    // connectivity. 4 rounds + total tie order = deterministic; the
    // oracle unrolls the rounds as mode-per-node CTEs.
    ("q_graph_communities", {
      ((s: SparkSession, d: String) => {
        // lazy cut (r13): both symmetrize arms read canon
        val canon = coOrderPairs(s, d).distinct().localCheckpoint(false)
        Graph.labelPropagation(bothWays(canon), "src", "dst", rounds = 4)
      }): Q
      },
      Some(lpaOracleSql(4))),

    // Newman modularity of the label-propagation partition — the number
    // that says whether q_graph_communities found STRUCTURE or noise
    // (Q = Σ_c e_c/m − (d_c/2m)², positive when intra-community edge mass
    // beats the degree-preserving random expectation). The
    // clustering-quality gate a pipeline checks before trusting
    // community-based sampling/dedup decisions. Per-community rows (size,
    // degree mass, intra edges, contribution) so the audit says WHICH
    // communities carry the structure. Shape: the LP rounds, then one
    // degree aggregate, one canonical-edge double label join, a
    // label-keyed groupBy — all combine-enabled, the global m a 1-row
    // broadcast. Contribution is one fixed IEEE chain over exact BIGINTs.
    ("q_graph_modularity", {
      ((s: SparkSession, d: String) => {
        // lazy cut (r13): canon feeds both symmetrize arms, the
        // intra-community join and the m anchor — one self-join pass
        val canon = coOrderPairs(s, d).distinct().localCheckpoint(false)
        val e = bothWays(canon)
        val labels = Graph.labelPropagation(e, "src", "dst", rounds = 4)
          .localCheckpoint(false)
        val deg = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val dc = labels.join(deg, Seq("node"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_c"))
        val ec = canon
          .join(labels.select(col("node").as("src"), col("label").as("la")),
            Seq("src"))
          .join(labels.select(col("node").as("dst"), col("label").as("lb")),
            Seq("dst"))
          .filter(col("la") === col("lb"))
          .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_c"))
        val m = canon.agg(count(lit(1)).as("m"))
        dc.join(ec, Seq("label"), "left_outer")
          .crossJoin(broadcast(m))
          .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
          .withColumn("t_",
            col("d_c").cast("double") /
              (lit(2.0) * col("m").cast("double")))
          .select(col("label"), col("n_nodes"), col("d_c"), col("e_c"),
            floor(lit(1e6) *
              (col("e_c").cast("double") / col("m").cast("double") -
                col("t_") * col("t_"))).cast("long").as("q_micro"))
      }): Q
      },
      Some(s"""WITH ${lpaCtes(4)},
        deg AS (SELECT src AS node, count(*) AS deg
          FROM edges GROUP BY 1),
        dc AS (SELECT label, count(*) AS n_nodes,
            CAST(sum(deg) AS BIGINT) AS d_c
          FROM l4 JOIN deg USING (node) GROUP BY 1),
        ec AS (SELECT la.label AS label, count(*) AS e_c
          FROM canon c
          JOIN l4 la ON c.a = la.node
          JOIN l4 lb ON c.b = lb.node
          WHERE la.label = lb.label GROUP BY 1),
        mm AS (SELECT count(*) AS m FROM canon)
        SELECT dc.label, dc.n_nodes, dc.d_c,
          COALESCE(ec.e_c, 0) AS e_c,
          CAST(floor(1e6 * (CAST(COALESCE(ec.e_c, 0) AS DOUBLE) /
              CAST(m AS DOUBLE) -
            (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))) *
            (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))))
            AS BIGINT) AS q_micro
        FROM dc LEFT JOIN ec ON dc.label = ec.label, mm""")),

    // Fixed-round k-core peel (Graph.kCore) over the sampled co-order
    // graph — density filtering of the similarity graph. k=16 sits below
    // the graph's scale-stable median degree (~23 at every SF), so
    // the peel is non-trivial at smoke, oracle and bench scales alike.
    ("q_graph_kcore", {
      ((s: SparkSession, d: String) => {
        Graph.kCore(bothWays(coOrderPairs(s, d).distinct()), "src", "dst",
          k = 16, rounds = 4)
      }): Q
      },
      Some(kCoreOracleSql(k = 16, rounds = 4))),

    // Per-node triangle counts + clustering coefficient by degree-ordered
    // orientation (Graph.triangleCounts) over the parts-co-ordered-together
    // graph — the bipartite part<->supplier graph has no odd cycles, so the
    // triangle query runs on its one-mode projection (parts sharing an
    // order), whose per-order fan-out is bounded by order size by
    // construction. Orientation bounds the wedge join at O(|E|^1.5) — the
    // 100 TB-safe shape (a hub never owns its whole neighborhood).
    ("q_graph_triangles", {
      ((s: SparkSession, d: String) => {
        Graph.triangleCounts(coOrderPairs(s, d), "src", "dst")
      }): Q
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem WHERE l_orderkey % 5 = 0),
          canon AS (SELECT DISTINCT a.pk AS a, b.pk AS b
            FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk),
          deg AS (SELECT node, count(*) AS deg FROM (
              SELECT a AS node FROM canon UNION ALL SELECT b FROM canon)
            GROUP BY 1),
          o AS (SELECT
              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                THEN c.a ELSE c.b END AS lo,
              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                THEN c.b ELSE c.a END AS hi,
              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                THEN db.deg ELSE da.deg END AS dhi
            FROM canon c JOIN deg da ON c.a = da.node
            JOIN deg db ON c.b = db.node),
          wed AS (SELECT w1.lo AS p, w1.hi AS x, w2.hi AS y
            FROM o w1 JOIN o w2 ON w1.lo = w2.lo
            WHERE w1.dhi < w2.dhi OR (w1.dhi = w2.dhi AND w1.hi < w2.hi)),
          tri AS (SELECT p, x, y
            FROM wed JOIN o ON wed.x = o.lo AND wed.y = o.hi),
          pn AS (SELECT node, count(*) AS t FROM (
              SELECT p AS node FROM tri UNION ALL SELECT x FROM tri
              UNION ALL SELECT y FROM tri) GROUP BY 1)
          SELECT d.node, d.deg AS degree,
            coalesce(pn.t, CAST(0 AS BIGINT)) AS triangles,
            CASE WHEN d.deg >= 2 THEN
              floor(CAST(coalesce(pn.t, CAST(0 AS BIGINT)) AS DOUBLE) * 2e6
                / CAST(d.deg * (d.deg - 1) AS DOUBLE)) / 1e6
            ELSE 0.0 END AS clustering
          FROM deg d LEFT JOIN pn ON d.node = pn.node""")),

    // Deterministic random walks (Graph.randomWalks) over the CAPPED
    // symmetrized co-order graph — the DeepWalk/node2vec corpus
    // generator: 4-step walks from every 20th part, every step a
    // replayable md5-hash neighbor pick (no RNG, so the walk corpus is
    // retry-stable and auditable). The degree cap bounds the per-node
    // neighbor-index window by construction (the structural guard the
    // graph family uses everywhere); each step is one frontier-sized
    // equi-join against the checkpointed degree-annotated index.
    ("q_graph_walks", {
      ((s: SparkSession, d: String) => {
        val sym = cappedCoOrder(s, d)
        val seeds = sym.select(col("src")).distinct()
          .filter(col("src") % 20 === 0)
          .select(col("src").as("wid"), col("src").as("nd"))
        Graph.randomWalks(sym, "src", "dst", seeds, "wid", "nd", steps = 4)
      }): Q
      },
      Some(walksOracleSql(4))),

    // Threshold cascade (Graph.cascade) from the walks' seed set over
    // the same capped graph: "2 active neighbors activate you", 3
    // rounds — influence spread / taint propagation with a count gate
    // (where q_graph_bfs spreads on ANY contact). Per round one
    // frontier equi-join + combine-enabled count + anti-join.
    ("q_graph_cascade", {
      ((s: SparkSession, d: String) => {
        val sym = cappedCoOrder(s, d)
        val seeds = sym.select(col("src")).distinct()
          .filter(col("src") % 20 === 0)
        Graph.cascade(sym, "src", "dst", seeds, "src",
          threshold = 2, rounds = 3)
      }): Q
      },
      Some(cascadeOracleSql(threshold = 2, rounds = 3))),

    // The STRUCTURAL hub guard, oracle-verified: the same co-order graph
    // as q_graph_triangles but degree-capped with Graph.capDegree
    // (maxDegree=8) before counting — per-node deterministic bottom-k by
    // md5("src|dst") rank, an edge surviving only at both endpoints. The
    // oracle replays the sampling exactly (row_number over the md5 order,
    // keep rank<=8, count(*)=2), then the full oriented-wedge pipeline on
    // the capped subgraph — proving the capped result is EXACT on the
    // sampled subgraph, not merely "bounded". maxDegree is what makes a
    // hub-degenerate derived graph safe at corpus scale (wedge fan-out
    // <= cap, no quadratic key).
    ("q_graph_capped", {
      ((s: SparkSession, d: String) => {
        Graph.triangleCounts(coOrderPairs(s, d), "src", "dst", maxDegree = 8)
      }): Q
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem WHERE l_orderkey % 5 = 0),
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
          deg AS (SELECT node, count(*) AS deg FROM (
              SELECT a AS node FROM canon UNION ALL SELECT b FROM canon)
            GROUP BY 1),
          o AS (SELECT
              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                THEN c.a ELSE c.b END AS lo,
              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                THEN c.b ELSE c.a END AS hi,
              CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
                THEN db.deg ELSE da.deg END AS dhi
            FROM canon c JOIN deg da ON c.a = da.node
            JOIN deg db ON c.b = db.node),
          wed AS (SELECT w1.lo AS p, w1.hi AS x, w2.hi AS y
            FROM o w1 JOIN o w2 ON w1.lo = w2.lo
            WHERE w1.dhi < w2.dhi OR (w1.dhi = w2.dhi AND w1.hi < w2.hi)),
          tri AS (SELECT p, x, y
            FROM wed JOIN o ON wed.x = o.lo AND wed.y = o.hi),
          pn AS (SELECT node, count(*) AS t FROM (
              SELECT p AS node FROM tri UNION ALL SELECT x FROM tri
              UNION ALL SELECT y FROM tri) GROUP BY 1)
          SELECT d.node, d.deg AS degree,
            coalesce(pn.t, CAST(0 AS BIGINT)) AS triangles,
            CASE WHEN d.deg >= 2 THEN
              floor(CAST(coalesce(pn.t, CAST(0 AS BIGINT)) AS DOUBLE) * 2e6
                / CAST(d.deg * (d.deg - 1) AS DOUBLE)) / 1e6
            ELSE 0.0 END AS clustering
          FROM deg d LEFT JOIN pn ON d.node = pn.node""")),

    // Link prediction by common-neighbor Jaccard: wedge join over the
    // DEGREE-CAPPED co-order graph (the same structural hub guard as
    // q_graph_capped — wedge fan-out is quadratic in degree), existing
    // edges anti-joined away, similarity = cn/(da+db−cn) floor-quantized.
    // The candidate-generation primitive of graph-based retrieval and
    // "people also bought" — edge-level, where triangles are node-level.
    ("q_graph_linkpred", {
      ((s: SparkSession, d: String) => {
        val capped = Graph.capDegree(coOrderPairs(s, d).distinct(),
            "src", "dst", maxDegree = 8)
          // adj, wedge, anti and degrees all rescan it — lazy cut (r13):
          // same compute-once via the checkpoint cache; its shuffle stages
          // still run at the call (AQE), only the cache fill waits
          .localCheckpoint(false)
        val adj = capped.select(col("src").as("n"), col("dst").as("v"))
          .union(capped.select(col("dst").as("n"), col("src").as("v")))
        val wedge = adj.as("x")
          .join(adj.as("y"), col("x.v") === col("y.v") &&
            col("x.n") < col("y.n"))
          .groupBy(col("x.n").as("a"), col("y.n").as("b"))
          .agg(count(lit(1)).as("cn"))
          .filter(col("cn") >= 2)
        val deg = adj.groupBy("n").agg(count(lit(1)).as("dg"))
        wedge.join(capped, col("a") === col("src") &&
            col("b") === col("dst"), "left_anti")
          .join(deg.select(col("n").as("a"), col("dg").as("deg_a")), "a")
          .join(deg.select(col("n").as("b"), col("dg").as("deg_b")), "b")
          .select(col("a"), col("b"), col("cn"), col("deg_a"),
            col("deg_b"),
            floor(col("cn").cast("double") * 1e6 /
              (col("deg_a") + col("deg_b") - col("cn")).cast("double"))
              .cast("long").as("jaccard_micro"))
      }): Q
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
            FROM lineitem WHERE l_orderkey % 5 = 0),
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
          adj AS (SELECT a AS n, b AS v FROM canon
            UNION ALL SELECT b, a FROM canon),
          w AS (SELECT x.n AS a, y.n AS b, count(*) AS cn
            FROM adj x JOIN adj y ON x.v = y.v AND x.n < y.n
            GROUP BY 1, 2 HAVING count(*) >= 2),
          deg AS (SELECT n, count(*) AS dg FROM adj GROUP BY 1),
          cand AS (SELECT w.a, w.b, cn FROM w
            WHERE NOT EXISTS (SELECT 1 FROM canon c
              WHERE c.a = w.a AND c.b = w.b))
          SELECT cand.a, cand.b, CAST(cn AS BIGINT) AS cn,
            CAST(da.dg AS BIGINT) AS deg_a, CAST(db.dg AS BIGINT) AS deg_b,
            CAST(floor(CAST(cn AS DOUBLE) * 1e6 /
              CAST(da.dg + db.dg - cn AS DOUBLE)) AS BIGINT)
              AS jaccard_micro
          FROM cand JOIN deg da ON cand.a = da.n
            JOIN deg db ON cand.b = db.n""")),

    // Fixed-round BFS levels (Graph.bfsLevels) from a small seed set over
    // the part<->supplier bipartite graph — hop-bounded reachability, the
    // "how far does contamination / influence spread" primitive the
    // centrality family lacks. Each hop is one frontier equi-join + LEFT
    // ANTI against the accumulated levels; the unrolled oracle pins the
    // enters-at-its-minimum-hop admission rule.
    ("q_graph_bfs", {
      ((s: SparkSession, d: String) => {
        Graph.bfsLevels(partSupplierEdges(s, d), "src", "dst",
          partSeeds(s, d), "seed", rounds = 3)
      }): Q
      },
      Some(bfsOracleSql(3))),

    // Sampled bounded-distance betweenness (Graph.betweennessSampled —
    // Brandes 2001 via Brandes-Pich 2007 pivot sampling + a 3-hop
    // bound): which nodes BROKER shortest paths, the complement of
    // PageRank's "which nodes absorb mass". Five part pivots; forward
    // path counting and micro-quantized backward dependency
    // accumulation are exact integer recurrences, so the oracle unrolls
    // both phases and the centrality itself hash-matches.
    ("q_graph_betweenness", {
      ((s: SparkSession, d: String) => {
        Graph.betweennessSampled(partSupplierEdges(s, d), "src", "dst",
          partSeeds(s, d), "seed", rounds = 3)
      }): Q
      },
      Some(betweennessOracleSql(3))),

    // HITS hub/authority (Graph.hitsInt) on the DIRECTED part->supplier
    // graph — parts are pure hubs, suppliers pure authorities (bipartite),
    // the "rank pointers separately from content" side of link analysis
    // that q_graph_pagerank's undirected rank cannot express. 3 rounds of
    // max-normalized integer fixed point; the oracle unrolls them.
    ("q_graph_hits", {
      ((s: SparkSession, d: String) => {
        val fwd = t(s, d, "lineitem")
          .select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        Graph.hitsInt(fwd, "src", "dst", iters = 3)
      }): Q
      },
      Some(hitsOracleSql(3, 1000000L))),

    // Personalized PageRank from the part-id<5 seed set (Graph.pprInt) —
    // "expand the trusted core": teleport mass lands only on seeds, so
    // rank decays with graph distance from them. The crawl-frontier /
    // related-document prioritization primitive; 4 rounds, bit-exact
    // integer recurrence, unrolled oracle.
    ("q_graph_ppr", {
      ((s: SparkSession, d: String) => {
        Graph.pprInt(partSupplierEdges(s, d), "src", "dst",
          partSeeds(s, d), "seed", iters = 4)
      }): Q
      },
      Some(pprOracleSql(4))),

    // Earliest-arrival TEMPORAL reachability (Graph.temporalReach — Wu
    // et al. VLDB'14): supplier<->customer contact edges timestamped by
    // order date, traversable only at t >= arrival(u) — the propagation
    // routes static reachability overcounts (backward-in-time paths).
    // Seeds = suppliers 0..2 at time 0; 3 hop rounds; arrival = days
    // since epoch (exact integers both engines). Frontier-sparse like
    // the fixed PPR: per-round state is the reached ball, never |V|.
    ("q_graph_temporal", {
      ((s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey").as("ok"),
          (col("l_suppkey") * 2 + 1).as("sn"))
        val ord = t(s, d, "orders").select(col("o_orderkey").as("ok"),
          (col("o_custkey") * 2).as("cn"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
            .as("tt"))
        // lazy cut (r13): both symmetrize arms read fwd
        val fwd = li.join(ord, "ok")
          .select(col("sn").as("src"), col("cn").as("dst"), col("tt"))
          .distinct()
          .localCheckpoint(false)
        val edges = fwd.unionAll(fwd.select(col("dst").as("src"),
          col("src").as("dst"), col("tt")))
        val seeds = t(s, d, "supplier").filter(col("s_suppkey") < 3)
          .select((col("s_suppkey") * 2 + 1).as("seed"))
        graft.ops.Graph.temporalReach(edges, "src", "dst", "tt",
          seeds, "seed", rounds = 3)
      }): Q
      },
      Some(temporalOracleSql(3))),

    // Weighted shortest paths (Graph.ssspInt), 4 Bellman-Ford rounds from
    // the part-id<5 seed set over the part<->supplier graph weighted by
    // the pairing's min line price in cents — "cheapest route within r
    // legs", exact by the Bellman-Ford invariant, BIGINT min/plus so the
    // unrolled oracle replays it bit-identically.
    ("q_graph_sssp", {
      ((s: SparkSession, d: String) => {
        // lazy cut (r13): both symmetrize arms read fwd
        val fwd = t(s, d, "lineitem").groupBy((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .agg(min(cents(col("l_extendedprice"))).as("w"))
          .localCheckpoint(false)
        val edges = fwd.union(
          fwd.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        Graph.ssspInt(edges, "src", "dst", "w", partSeeds(s, d), "seed",
          rounds = 4)
      }): Q
      },
      Some(ssspOracleSql(4))),

    // Approximate neighborhood function (Graph.anfReach): per-node 2-hop
    // reach estimated by bottom-16 KMV sketch propagation over the capped
    // co-order graph — the "how big is each node's neighborhood" question
    // (ball-of-radius-r size distribution, effective-diameter input) that
    // exact reach sets answer only quadratically. The oracle computes the
    // TRUE 2-hop reach set per node and rebuilds the sketch from it —
    // legal because bottom-k union is idempotent, so the propagated sketch
    // provably equals the sketch of the exact reach set; the hash-match is
    // therefore a proof of the propagation identity, not just of the
    // arithmetic.
    ("q_graph_anf", {
      ((s: SparkSession, d: String) => {
        val sym = cappedCoOrder(s, d)
        Graph.anfReach(sym, "src", "dst", k = 16, rounds = 2)
      }): Q
      },
      Some(anfOracleSql(k = 16, rounds = 2))),

    // Harmonic centrality from the SAME sketch propagation (Boldi–Vigna
    // HyperBall with the deterministic KMV sketch): H(v) = Σ over radii
    // of (ball-size delta)·(1/r), 1/r as integer micro literals, the
    // weighted sum one left-associative chain — truncated at radius 3
    // (the HyperBall cut; farther nodes contribute 0, documented). The
    // oracle rebuilds every round's sketch from the TRUE reach set (the
    // idempotent-union identity), so the hash-match again proves the
    // propagation, not just arithmetic.
    ("q_graph_harmonic", {
      ((s: SparkSession, d: String) => {
        val sym = cappedCoOrder(s, d)
        Graph.anfHarmonic(sym, "src", "dst", k = 16, rounds = 3)
      }): Q
      },
      Some(anfHarmonicOracleSql(k = 16, rounds = 3))),

    // Effective diameter (the "90% of reachable pairs within r hops"
    // scalar; Palmer et al. 2002's ANF headline statistic) from the SAME
    // per-round sketch estimates as q_graph_harmonic: per-node estimates
    // are floor-quantized to micro BIGINTs BEFORE the corpus sum (a raw
    // double sum over nodes is partition-order-dependent — the quantize-
    // then-sum rule every money column here follows), then the smallest
    // radius with 10·T_r ≥ 9·T_R wins by exact integer comparison.
    ("q_graph_diameter", {
      ((s: SparkSession, d: String) => {
        val sym = cappedCoOrder(s, d)
        val h = Graph.anfHarmonic(sym, "src", "dst", k = 16, rounds = 3)
        val tot = h.agg(count(lit(1)).as("n_nodes"),
          sum(floor(col("n1") * 1e6).cast("long")).as("t1"),
          sum(floor(col("n2") * 1e6).cast("long")).as("t2"),
          sum(floor(col("n3") * 1e6).cast("long")).as("t3"))
        tot.select(col("n_nodes"), col("t1"), col("t2"), col("t3"),
          when(col("t1") * 10 >= col("t3") * 9, 1L)
            .when(col("t2") * 10 >= col("t3") * 9, 2L)
            .otherwise(3L).as("eff_diameter"))
      }): Q
      },
      Some(s"""WITH hh AS (${anfHarmonicOracleSql(k = 16, rounds = 3)}),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
            CAST(sum(CAST(floor(n1 * 1e6) AS BIGINT)) AS BIGINT) AS t1,
            CAST(sum(CAST(floor(n2 * 1e6) AS BIGINT)) AS BIGINT) AS t2,
            CAST(sum(CAST(floor(n3 * 1e6) AS BIGINT)) AS BIGINT) AS t3
          FROM hh)
        SELECT n_nodes, t1, t2, t3,
          CAST(CASE WHEN t1 * 10 >= t3 * 9 THEN 1
               WHEN t2 * 10 >= t3 * 9 THEN 2
               ELSE 3 END AS BIGINT) AS eff_diameter
        FROM tot""")),

    // Borůvka minimum-spanning-forest, 2 rounds, on the part<->supplier
    // graph weighted by the pairing's cheapest line price — the
    // single-linkage dendrogram backbone (cut the forest at ANY weight t
    // and the pieces are exactly the <= t components; a similarity-graph
    // curation run sweeps dedup thresholds on this one artifact instead
    // of re-clustering per threshold). Every selected edge is a
    // cut-minimum under the total order (w, a, b), so the oracle's
    // round-by-round replay (per-component row_number pick + recursive
    // reach components) matches bit-for-bit.
    ("q_graph_mst", {
      ((s: SparkSession, d: String) => {
        val li = t(s, d, "lineitem")
        Graph.boruvkaForest(
          li.select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"),
            cents(col("l_extendedprice")).as("w")),
          "src", "dst", "w", rounds = 2)
      }): Q
      },
      Some(mstOracleSql(labelRounds = 8))),

    // k-truss decomposition (Graph.ktruss, Cohen 2008) over the sampled
    // co-order graph: keep edges closing >= k-2 triangles with other
    // SURVIVING edges — the cohesion filter one notch stronger than
    // q_graph_kcore (mutual neighbors, not just neighbors; a template/
    // near-dup community is trussy, a crawl hub is not). Each peel round
    // is the q_graph_triangles oriented-wedge pipeline attributed to
    // edges (O(|E|^1.5), no hub task) + one filter; the peel is monotone,
    // so fixed rounds replay exactly (extra rounds are no-ops past the
    // fixpoint — GraphSpec pins convergence on this fixture). The oracle
    // unrolls every round: degrees, orientation, wedge join, 3-edge
    // attribution, support filter — MATERIALIZED per round (each CTE is
    // referenced by the next round three times; the q_graph_hits lesson).
    ("q_graph_ktruss", {
      ((s: SparkSession, d: String) => {
        Graph.ktruss(coOrderPairs(s, d), "src", "dst", k = 4, rounds = 3)
      }): Q
      },
      Some(ktrussOracleSql(k = 4, rounds = 3))))

  /** The part<->supplier co-occurrence graph from lineitem: parts on even
    * node ids, suppliers on odd (one BIGINT key space, bipartite so the
    * two directions never collide), an edge per distinct (part, supplier)
    * pairing, both directions. The stand-in for the similarity / hyperlink
    * graphs a curation pipeline ranks before sampling. */
  private def partSupplierEdges(s: SparkSession, d: String): DataFrame =
    // lazy cut (r13): both symmetrize arms read the pairs — one lineitem
    // distinct pass instead of two, via the checkpoint cache
    bothWays(t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
      .localCheckpoint(false))

  /** The co-order pair graph: parts sharing an order, one (src, dst) row
    * per order and part pair with src < dst (not distinct). Every fifth
    * order only: the projection densifies quadratically with corpus size
    * (a part's degree grows with its order count), so the graph is a
    * deterministic order sample — the plan shape (and the oriented-wedge
    * bound) is what scales, not the constant. */
  private def coOrderPairs(s: SparkSession, d: String): DataFrame = {
    val lp = t(s, d, "lineitem")
      .filter(col("l_orderkey") % 5 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    lp.join(lp.select(col("ok"), col("pk").as("pk2")), "ok")
      .filter(col("pk") < col("pk2"))
      .select(col("pk").as("src"), col("pk2").as("dst"))
  }

  /** Both directions of every (src, dst) edge. */
  private def bothWays(e: DataFrame): DataFrame =
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))

  /** The co-order graph capped at degree 8 ([[Graph.capDegree]]), then
    * symmetrized. */
  private def cappedCoOrder(s: SparkSession, d: String): DataFrame =
    // lazy cut (r13): both symmetrize arms read the capped graph —
    // compute the cap pipeline once via the checkpoint cache
    bothWays(Graph.capDegree(coOrderPairs(s, d), "src", "dst", maxDegree = 8)
      .localCheckpoint(false))

  /** The part-id < 5 seed set, as part node ids (`seed`). */
  private def partSeeds(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").filter(col("l_partkey") < 5)
      .select((col("l_partkey") * 2).as("seed"))

  /** One round of the [[graft.ops.Graph.ktruss]] per-edge support pipeline
    * in DuckDB: degree pass, (deg, id)-oriented edges, wedge self-join,
    * 3-edges-per-triangle attribution, combine-style support count. The
    * orientation/wedge CTEs replay [[graft.ops.Graph.triangleCounts]]'s
    * oracle exactly; MATERIALIZED on the oriented set because the wedge
    * join references it three times per round. */
  private def ktrussSupportSql(i: String, prev: String): String =
    s"""deg$i AS (SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev)
        GROUP BY 1),
      o$i AS MATERIALIZED (SELECT
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
            THEN c.a ELSE c.b END AS lo,
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
            THEN c.b ELSE c.a END AS hi,
          CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
            THEN db.deg ELSE da.deg END AS dhi
        FROM $prev c JOIN deg$i da ON c.a = da.node
        JOIN deg$i db ON c.b = db.node),
      tri$i AS (SELECT w1.lo AS p, w1.hi AS x, w2.hi AS y
        FROM o$i w1 JOIN o$i w2 ON w1.lo = w2.lo
          AND (w1.dhi < w2.dhi OR (w1.dhi = w2.dhi AND w1.hi < w2.hi))
        JOIN o$i o3 ON w1.hi = o3.lo AND w2.hi = o3.hi),
      te$i AS (SELECT least(p, x) AS a, greatest(p, x) AS b FROM tri$i
        UNION ALL SELECT least(p, y), greatest(p, y) FROM tri$i
        UNION ALL SELECT least(x, y), greatest(x, y) FROM tri$i),
      sup$i AS (SELECT a, b, count(*) AS support FROM te$i GROUP BY 1, 2)"""

  /** Round-unrolled DuckDB replay of [[graft.ops.Graph.ktruss]] over the
    * q_graph_triangles co-order sample: per round one support block + one
    * MATERIALIZED filtered edge set, then a FINAL support pass on the
    * survivors (supports are re-measured on the surviving subgraph, 0 when
    * unconverged — matching the engine's left join + coalesce). */
  private[graft] def ktrussOracleSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      ktrussSupportSql(i.toString, s"e${i - 1}") + s""",
      e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
        JOIN sup$i s ON e.a = s.a AND e.b = s.b
        WHERE s.support >= ${k - 2})"""
    }.mkString(",\n      ")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
          FROM lineitem WHERE l_orderkey % 5 = 0),
        e0 AS MATERIALIZED (SELECT a.pk AS a, b.pk AS b
          FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2),
        $steps,
        ${ktrussSupportSql("F", s"e$rounds")}
        SELECT e.a, e.b,
          coalesce(s.support, CAST(0 AS BIGINT)) AS support
        FROM e$rounds e LEFT JOIN supF s ON e.a = s.a AND e.b = s.b"""
  }

  // ================================================== composed cleaning

  /** C4-style cleaning as ONE declarative plan: language gate -> quality
    * gates -> exact dedup -> deterministic sample. Catalyst fuses the scalar
    * scoring into the scan stage; the only shuffles are the dedup groupBy
    * and its semi-join back. */
  // ============================================================ features

}
