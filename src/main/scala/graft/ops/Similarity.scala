package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Two paths, as a real 100 TB pipeline needs both:
 *  - `cosineTopK`: brute-force baseline — broadcast the (small) probe set,
 *    one codegen'd pass over the corpus, per-probe top-k via window. Exact;
 *    cost is |probes| * |corpus| dot products, so probes must be small.
 *  - `annLsh`: random-hyperplane LSH — each vector gets a small bucket
 *    signature; probe lookups only touch one bucket (an equi-join), so the
 *    corpus side scales out with partitioning instead of pairwise scans.
 *    Approximate by design; recall grows with `tables`.
 *
 * Determinism: vectors are quantized to integer grids (round(x*1000)), so
 * dot products and norms are exact integer arithmetic — identical in any
 * engine (the DuckDB oracle replays them) — and cosine is a pure function of
 * those integers. Hyperplanes are md5-derived, not RNG-dependent.
 */
object Similarity {

  /**
   * Scale-correct LSH hyperplane count for a corpus of `n` vectors:
   * enough planes that the expected bucket depth stays near
   * `targetBucket`, i.e. ceil(log2(n / targetBucket)), clamped to
   * [4, 30]. LSH candidate pairs grow as n² / 2^planes per table, so a
   * PINNED plane count makes candidates quadratic in corpus size — the
   * sf10 probe measured exactly that (q_emb_mutual_knn at planes=6
   * exceeded the box's disk at 200k vectors, while planes=10 ran the
   * same pipeline at 2.65× for 10× data; BENCH_SF10.json followups).
   * Since round 12 the corpus-scale catalog entries (q_emb_mutual_knn,
   * q_emb_ann_pairs, q_emb_sim_hist, q_emb_incremental, q_emb_decontam)
   * derive planes from the live `count(*)` with this rule — and their
   * DuckDB oracles replay the derivation itself — so the gate exercises
   * the scale-safe configuration at every scale factor. Exact integer
   * form (smallest p with targetBucket·2^p >= n, clamped to [4, 30]):
   * NOT ceil(log2(n/target)), whose float rounding could disagree
   * between engines exactly at power-of-two boundaries.
   */
  def planesFor(n: Long, targetBucket: Int = 32): Int = {
    require(n > 0 && targetBucket > 0)
    var p = 0
    while (p < 30 && (targetBucket.toLong << p) < n) p += 1
    math.max(4, p)
  }

  /**
   * Scale-correct k-means cluster count for SemDeDup-style
   * cluster-then-pair work: k = ceil(n / targetClusterSize), min 1.
   * Within-cluster pair work is Σ|cluster|²/2 ≈ n·targetClusterSize/2 —
   * LINEAR in n when k scales, quadratic when k is pinned (measured:
   * q_emb_semdedup at pinned k=8 is 39.5× for 10× data at sf10; with
   * k = n/2500 the same pipeline is 1.85× — BENCH_SF10.json followups).
   */
  def kFor(n: Long, targetClusterSize: Int = 2500): Int = {
    require(n > 0 && targetClusterSize > 0)
    // exact integer ceil-div — replayable bit-for-bit by the oracle's
    // (count(*) + t - 1) // t, no float boundary at multiples of t
    val k = (n + targetClusterSize - 1) / targetClusterSize
    math.max(1L, math.min(Int.MaxValue.toLong, k)).toInt
  }

  /** Integer-quantized copy of a float vector: round(x * 1000) as longs —
    * native expression (graft.plans.QuantizeVec); the `transform` HOF form
    * ran its lambda interpreted per element on every corpus row. */
  def quantize(vec: Column): Column =
    graft.plans.GraftExpressions.quantize_vec(vec, 1000)

  /** Exact integer dot product of two quantized vectors — a native codegen'd
    * Expression (graft.plans.IntDot): the composable
    * aggregate(zip_with(...)) form evaluates its lambda interpreted per
    * element and fences whole-stage codegen, which dominates n x m scoring
    * joins. Integer math — no float-order nondeterminism either way. */
  def qdot(a: Column, b: Column): Column =
    graft.plans.GraftExpressions.int_dot(a, b)

  /** Cosine over the quantized grid, floor-quantized to 6 dp. */
  def qcosine(a: Column, b: Column): Column =
    floor(qdot(a, b).cast("double") /
      (sqrt(qdot(a, a).cast("double")) * sqrt(qdot(b, b).cast("double"))) * 1e6) / 1e6

  /** Cosine from a precomputed dot + squared norms — identical IEEE ops to
    * [[qcosine]], but each side's norm is computed ONCE PER ROW upstream
    * instead of once per pair (a 3x flop cut on an n*m scoring join). */
  private[graft] def qcosineWithNorms(dot: Column, n2a: Column, n2b: Column): Column =
    floor(dot.cast("double") /
      (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double"))) * 1e6) / 1e6

  /**
   * Brute-force exact top-k neighbors for each probe vector.
   * `probes` must be broadcast-small (it is hinted). Ties break on neighbor
   * id — fully deterministic output: (query_id, neighbor_id, cosine, rank).
   */
  /** Scan-parallelism floor for the exact-scan substrates (optimization
    * guide §2.5 input skew): the corpus side of a broadcast-probe exact
    * scan does |probes| dot products PER CORPUS ROW inside the scan
    * stage, and the bench fixtures are single-row-group parquet — an
    * unsplittable scan that would run the whole O(probes × corpus) stage
    * in ONE task. Spread it round-robin once when (and only when) the
    * resolved scan has fewer partitions than the session parallelism; at
    * production scale corpus scans have thousands of splits and this is
    * an exact no-op. Measured r12 (sf0.1/32): q_ml_knn_eval 5.9s → 1.1s.
    * NOT applied inside the LSH pipelines — their heavy work happens
    * after a materialize + bucket shuffle, and the extra exchange
    * measured as a net loss there (q_emb_lof +50%). */
  // the ONE implementation of the scan-parallelism floor; the catalog's
  // Shared.scanFloor delegates here (r13 — the two copies had drifted
  // into review-burden duplicates). PlanShapeSpec pins the no-op-at-scale
  // property: a multi-split input must NOT gain the exchange.
  private[graft] def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  def cosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int): DataFrame = {
    val c = spread(corpus).select(col(idCol).as("neighbor_id"),
        quantize(col(vecCol)).as("cvec"))
      .withColumn("cn2", qdot(col("cvec"), col("cvec")))
    val p = probes.select(col(probeIdCol).as("query_id"),
        quantize(col(probeVecCol)).as("qvec"))
      .withColumn("qn2", qdot(col("qvec"), col("qvec")))
    val scored = c.join(broadcast(p), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        qcosineWithNorms(qdot(col("qvec"), col("cvec")), col("qn2"), col("cn2"))
          .as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * MMR — Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998):
   * greedy diversified top-k. Round t picks the candidate maximizing
   * `lambda·sim(q,c) − (1−lambda)·max_{s∈S} sim(c,s)` — relevance traded
   * against redundancy with what is already selected. The selection a
   * retrieval-data curator runs so k examples span a topic instead of
   * restating the nearest one k times.
   *
   * Deterministic end to end: similarities are micro-quantized cosines
   * (exact BIGINTs) and lambda is a RATIONAL num/den, so each round's
   * score `num·sim − (den−num)·penalty` is integer arithmetic with an id
   * tie-break — the greedy trace is a pure function of the corpus,
   * replayable round-by-round by unrolled oracle CTEs.
   *
   * Shape: the shortlist is the broadcast-probe exact scan (probe side
   * small by contract, as in tiered retrieval); the pairwise-sim table is
   * bounded by |probes|·shortlist²; each of the k FIXED rounds is one
   * aggregate + one argmax over that bounded table, composed as a single
   * lazy plan (no per-round driver actions — the shortlist and pair
   * tables are checkpointed once and re-read k times).
   *
   * Output: (query_id, cand_id, sim, penalty, score, pick) — one row per
   * selected candidate per probe, pick = 1..k in selection order.
   */
  def mmrSelect(corpus: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      shortlist: Int, k: Int, lambdaNum: Long = 7,
      lambdaDen: Long = 10): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"mmrSelect needs 1 <= k <= shortlist, got k=$k shortlist=$shortlist")
    require(lambdaNum >= 0 && lambdaDen >= lambdaNum && lambdaDen > 0,
      s"lambda must be a rational in [0,1]: $lambdaNum/$lambdaDen")
    def simMicro(dot: Column, n2a: Column, n2b: Column): Column =
      floor(dot.cast("double") /
        (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double"))) * 1e6)
        .cast("long")
    val c = corpus.select(col(idCol).as("cand_id"),
        quantize(col(vecCol)).as("cvec"))
      .withColumn("cn2", qdot(col("cvec"), col("cvec")))
    val p = probes.select(col(probeIdCol).as("query_id"),
        quantize(col(probeVecCol)).as("qvec"))
      .withColumn("qn2", qdot(col("qvec"), col("qvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("cand_id").asc)
    val cand = c.join(broadcast(p), col("cand_id") =!= col("query_id"))
      .withColumn("sim",
        simMicro(qdot(col("qvec"), col("cvec")), col("qn2"), col("cn2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= shortlist)
      .select(col("query_id"), col("cand_id"), col("cvec"), col("cn2"),
        col("sim"))
      .localCheckpoint()
    val x = cand.select(col("query_id"), col("cand_id").as("a"),
      col("cvec").as("va"), col("cn2").as("na"))
    val y = cand.select(col("query_id"), col("cand_id").as("b"),
      col("cvec").as("vb"), col("cn2").as("nb"))
    val pair = x.join(y, "query_id").filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        simMicro(qdot(col("va"), col("vb")), col("na"), col("nb"))
          .as("psim"))
      .localCheckpoint()
    var selected = cand
      .select(col("query_id").as("sq"), col("cand_id").as("sel_id"))
      .filter(lit(false))
    var result: DataFrame = null
    for (t <- 1 to k) {
      val pen = pair
        .join(selected, pair("query_id") === col("sq") &&
          col("b") === col("sel_id"))
        .groupBy(pair("query_id").as("query_id"), col("a").as("cand_id"))
        .agg(max(col("psim")).as("penalty"))
      val remaining = cand.join(selected,
        cand("query_id") === col("sq") && cand("cand_id") === col("sel_id"),
        "left_anti")
      val ww = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("cand_id").asc)
      val pick = remaining
        .join(pen, Seq("query_id", "cand_id"), "left_outer")
        .withColumn("penalty", coalesce(col("penalty"), lit(0L)))
        .withColumn("score", lit(lambdaNum) * col("sim") -
          lit(lambdaDen - lambdaNum) * col("penalty"))
        .withColumn("rn", row_number().over(ww))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), col("sim"),
          col("penalty"), col("score"), lit(t).as("pick"))
      selected = selected.unionByName(pick
        .select(col("query_id").as("sq"), col("cand_id").as("sel_id")))
      result = if (result == null) pick else result.unionByName(pick)
    }
    result
  }

  /**
   * Hard-negative mining for contrastive training: for each probe, the `k`
   * corpus vectors MOST similar to it that carry a DIFFERENT label — the
   * negatives that sit closest to the decision boundary, which is exactly
   * what a contrastive/triplet objective wants (random negatives are
   * trivially easy; in-batch negatives are label-blind).
   *
   * Same distributed shape as [[cosineTopK]]: probes broadcast against the
   * corpus scan, exact integer dot products with per-row norms, ranked by
   * the floor-quantized cosine with a neighbor-id tie break (fully
   * deterministic). The `rank <= k` predicate rewrites to WindowGroupLimit,
   * so each scan task keeps only its local top-k per probe before the
   * shuffle. For probe sets beyond broadcast size, run the same mining
   * through [[annLsh]]-style bucketed candidates instead of the full cross
   * score.
   *
   * Output: (query_id, query_label, neighbor_id, neighbor_label, cosine,
   * rank).
   */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, probes: DataFrame, probeIdCol: String,
      probeVecCol: String, probeLabelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("neighbor_label"),
        quantize(col(vecCol)).as("cvec"))
      .withColumn("cn2", qdot(col("cvec"), col("cvec")))
    val p = probes.select(col(probeIdCol).as("query_id"),
        col(probeLabelCol).as("query_label"),
        quantize(col(probeVecCol)).as("qvec"))
      .withColumn("qn2", qdot(col("qvec"), col("qvec")))
    val scored = c.join(broadcast(p),
        col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"),
        qcosineWithNorms(qdot(col("qvec"), col("cvec")), col("qn2"),
          col("cn2")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Buettcher SIGIR'09) of two
   * ranked retrieval lists: score = Σ 1/(c0 + rank_m) over the methods
   * that returned the candidate — the standard ensemble step when an
   * exact scorer and an ANN index (or lexical + dense retrieval) disagree
   * on recall. Rank-based, so it needs no score calibration between
   * methods.
   *
   * Inputs are (query_id, neighbor_id, rank) tables; a candidate missing
   * from one list contributes 0 for it (full-outer join). The two
   * reciprocal terms are each ONE correctly-rounded IEEE division and
   * their sum one add, in fixed (a, b) order — bit-identical in the
   * oracle. Output re-ranks by fused score with a neighbor-id tie break.
   *
   * Shape: one co-partitioned full-outer join on (query, neighbor) + the
   * per-query top-k (WindowGroupLimit) — both sides are already k-bounded
   * per query, so state is O(k) per query everywhere.
   */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c0: Int = 60): DataFrame = {
    val fa = a.select(col("query_id"), col("neighbor_id"),
      col("rank").as("ra"))
    val fb = b.select(col("query_id"), col("neighbor_id"),
      col("rank").as("rb"))
    val fused = fa.join(fb, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        (coalesce(lit(1.0) / (lit(c0) + col("ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c0) + col("rb")), lit(0.0))).as("rrf"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("neighbor_id").asc)
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Sign-bit bucket signature for one LSH table: `planes` bits packed into a
    * long. One native expression carrying the whole md5-derived weight matrix
    * as a codegen reference object (graft.plans.LshBucket — see its scaladoc
    * for why the per-plane literal-array formulation was a per-execution
    * Janino compile disaster). Bit-identical to the composed form: same
    * weights, same ascending-dim summation order. */
  def lshBucket(vec: Column, table: Int, planes: Int, dims: Int): Column =
    graft.plans.GraftExpressions.lsh_bucket(vec, table, planes, dims)

  /**
   * ANN: probes only join corpus vectors sharing a bucket in at least one of
   * `tables` LSH tables, then exact (quantized) cosine reranks to top-k.
   * Output matches cosineTopK's shape (+ approximate recall semantics).
   */
  def annLsh(corpus: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int, tables: Int = 4, planes: Int = 12, dims: Int = 64): DataFrame = {
    def withBuckets(df: DataFrame, id: String, vec: String, out: String) = {
      val buckets = (0 until tables).map(t =>
        struct(lit(t).as("t"), lshBucket(col(vec), t, planes, dims).as("b")))
      df.select(col(id).as(out), quantize(col(vec)).as(s"${out}_vec"),
        explode(array(buckets: _*)).as("bucket"))
    }
    val c = withBuckets(corpus, idCol, vecCol, "neighbor_id").as("c")
    val p = withBuckets(probes, probeIdCol, probeVecCol, "query_id").as("p")
    val cand = c.join(broadcast(p),
        col("c.bucket") === col("p.bucket") &&
          col("c.neighbor_id") =!= col("p.query_id"))
      .select(col("p.query_id"), col("c.neighbor_id"),
        col("p.query_id_vec"), col("c.neighbor_id_vec"))
      .distinct()
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      qcosineWithNorms(qdot(col("query_id_vec"), col("neighbor_id_vec")),
        qdot(col("query_id_vec"), col("query_id_vec")),
        qdot(col("neighbor_id_vec"), col("neighbor_id_vec"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * IVF-style ANN (the inverted-file coarse quantizer, FAISS's IVF-Flat
   * shape): every corpus vector is assigned to its nearest of `nlist`
   * centroids; a probe searches only the `nprobe` lists whose centroids are
   * nearest to it, then exact quantized cosine reranks to top-k.
   *
   * Training-free deterministic centroids: the `nlist` corpus vectors with
   * the smallest md5(id) — a hash-ordered sample, stable across engines (no
   * RNG, no k-means iterations to replay). Real deployments would swap in
   * k-means centroids; every other part of the pipeline is unchanged.
   *
   * Scale shape — the reason IVF beats LSH when lists are balanced:
   *  - centroids are collected to the driver (nlist * dims integers — tiny)
   *    and ride into the plan as ONE codegen reference object inside the
   *    native `IvfAssign` expression, so corpus assignment is a pure
   *    map-side projection — NO shuffle, no data amplification, and the
   *    generated code stays one call long at any nlist. (A cross-join +
   *    window formulation would shuffle corpus × nlist rows with the vector
   *    repeated per candidate; per-centroid literal structs would grow the
   *    generated class linearly with nlist.) Non-bigint id columns take the
   *    equivalent (small-nlist) struct formulation instead.
   *  - probe lookups join on the single `cent_id` key with the (small)
   *    probe side broadcast: each probe's work is its `nprobe` lists, not
   *    the corpus.
   */
  def annIvf(corpus: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("neighbor_id"),
        quantize(col(vecCol)).as("cvec"))
      .withColumn("cn2", qdot(col("cvec"), col("cvec")))
    // hash-ordered deterministic centroid sample, materialized driver-side
    val cents = c.orderBy(md5(col("neighbor_id").cast("string").cast("binary")),
        col("neighbor_id"))
      .limit(nlist)
      .select(col("neighbor_id").as("cid"), col("cvec"), col("cn2"))
      .collect()
    // per-centroid (negcos, cid) struct; least() = max cosine, then min id.
    // Used for the SMALL probe side only — the corpus-wide assignment goes
    // through the native IvfAssign expression, whose centroid table is one
    // codegen reference object: a per-centroid struct chain grows the
    // generated class linearly with nlist (the LshBucket literal-tree trap).
    def assignStructs(vec: Column, n2: Column) = cents.map { r =>
      val cvec = lit(r.getSeq[Long](1).toArray)
      struct(
        negate(qcosineWithNorms(qdot(vec, cvec), n2, lit(r.getLong(2))))
          .as("negcos"),
        lit(r.get(0)).as("cid"))
    }
    val idIsLong =
      corpus.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    val assigned =
      if (idIsLong)
        c.withColumn("cent_id",
          graft.plans.GraftExpressions.ivf_assign(col("cvec"),
            cents.map(_.getLong(0)).toSeq,
            cents.map(_.getSeq[Long](1)).toSeq,
            cents.map(_.getLong(2)).toSeq))
      else // generic id types: per-centroid structs (fine at small nlist)
        c.withColumn("cent_id",
          least(assignStructs(col("cvec"), col("cn2")): _*).getField("cid"))
    val p = probes.select(col(probeIdCol).as("query_id"),
        quantize(col(probeVecCol)).as("qvec"))
      .withColumn("qn2", qdot(col("qvec"), col("qvec")))
    val pw = Window.partitionBy("query_id").orderBy(col("negcos"), col("cid"))
    val probeCands = p
      .select(col("query_id"), col("qvec"), col("qn2"),
        explode(array(assignStructs(col("qvec"), col("qn2")): _*)).as("cs"))
      .select(col("query_id"), col("qvec"), col("qn2"),
        col("cs.negcos").as("negcos"), col("cs.cid").as("cid"))
      .withColumn("prk", row_number().over(pw))
      .filter(col("prk") <= nprobe)
      .select(col("query_id"), col("qvec"), col("qn2"),
        col("cid").as("cent_id"))
    val scored = assigned.as("a").join(broadcast(probeCands.as("p")),
        col("a.cent_id") === col("p.cent_id") &&
          col("a.neighbor_id") =!= col("p.query_id"))
      .select(col("p.query_id"), col("a.neighbor_id"),
        qcosineWithNorms(qdot(col("p.qvec"), col("a.cvec")),
          col("p.qn2"), col("a.cn2")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Product-quantization ANN (Jégou et al., TPAMI 2011 — the FAISS `PQ`
   * index shape): each corpus vector is compressed to an m-byte code (per
   * subspace, the ordinal of the nearest codeword by exact integer squared
   * L2), probes precompute an ADC distance table, and scoring a
   * (probe, code) pair is m table lookups + m adds — O(m) per pair instead
   * of O(dims), with the corpus held as codes (m bytes/vector vs 4·dims).
   * Returns (query_id, neighbor_id, adc_dist, rank): top-k by approximate
   * distance ascending, ties to the smaller neighbor id.
   *
   * Codebooks are Lloyd-trained per subspace (`iters` rounds) from
   * deterministic seeds — the sub-slices of the `ksub` smallest-id vectors —
   * with the same exact-integer update as [[kmeans]] (floor(sum/count) per
   * dim; empty codewords keep their previous value). Everything is integer
   * math on the quantized grid, so the DuckDB oracle replays training,
   * encoding and ADC bit-for-bit.
   *
   * Scale shape, sized like [[kmeans]]:
   *  - every training round is ONE pass: the native [[graft.plans.PqEncode]]
   *    projection (all m codebooks ride as one codegen reference object)
   *    feeds a posexplode -> (subspace, code) vec_sum aggregate — map-side
   *    combined to m x ksub partials per partition; only m x ksub x subDim
   *    longs ever reach the driver.
   *  - encoding is a shuffle-free map projection; the probe side (small by
   *    contract, broadcast) carries its ADC table as one column computed
   *    once per probe by [[graft.plans.PqAdcTable]].
   *  - the scoring join is corpus-codes x broadcast-probes with pair cost
   *    O(m); per-probe top-k is the standard window.
   */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      dims: Int = 64): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    require(ksub > 0 && iters >= 0 && k > 0, "ksub, iters, k out of range")
    val subDim = dims / m
    // materialized once: seeds + one scan per Lloyd round + the final encode
    // all re-read the quantized corpus (kmeansAssign's rationale applies)
    val q = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        quantize(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books = trainPqBooks(q, "neighbor_id", "v", m, ksub, iters, subDim)
    val encoded = q.withColumn("codes",
      graft.plans.GraftExpressions.pq_encode(col("v"), books, subDim))
    q.unpersist(blocking = false)
    val p = probes.select(col(probeIdCol).cast("long").as("query_id"),
        quantize(col(probeVecCol)).as("qv"))
      .withColumn("tbl",
        graft.plans.GraftExpressions.pq_adc_table(col("qv"), books, subDim))
    val adc = (0 until m).map(s => col("tbl")(s)(col("codes")(s)))
      .reduce(_ + _)
    val scored = encoded.join(broadcast(p),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc_dist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Lloyd-train per-subspace PQ codebooks over `df(idCol, vecCol)` (see
    * [[pqTopK]]'s scaladoc for the exact deterministic semantics; seeds are
    * the sub-slices of the `ksub` smallest-id rows). One pass per round:
    * native encode projection -> posexplode -> vec_sum aggregate. */
  private def trainPqBooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int, subDim: Int): Seq[Seq[Seq[Long]]] = {
    val seeds = df.orderBy(idCol).limit(ksub)
      .select(col(idCol), col(vecCol)).collect()
    require(seeds.nonEmpty, "PQ training needs a non-empty corpus")
    var books: Seq[Seq[Seq[Long]]] = (0 until m).map { s =>
      seeds.toSeq.map(r => r.getSeq[Long](1)
        .slice(s * subDim, (s + 1) * subDim).padTo(subDim, 0L))
    }
    for (_ <- 1 to iters) {
      val updated = df
        .select(posexplode(
          graft.plans.GraftExpressions.pq_encode(col(vecCol), books, subDim))
          .as(Seq("s", "code")), col(vecCol).as("__bv"))
        .groupBy("s", "code")
        .agg(graft.plans.GraftExpressions.vec_sum(
          slice(col("__bv"), col("s") * subDim + 1, lit(subDim))).as("sum"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val n = r.getLong(3).toDouble
          (r.getInt(0), r.getInt(1)) ->
            r.getSeq[Long](2).map(x => math.floor(x.toDouble / n).toLong)
        }.toMap
      books = books.zipWithIndex.map { case (words, s) =>
        words.zipWithIndex.map { case (w, c) => updated.getOrElse((s, c), w) }
      }
    }
    books
  }

  /**
   * IVF-PQ ANN (the FAISS `IVFxx,PQyy` composition — the billion-scale
   * default): a coarse IVF quantizer routes every vector to one of `nlist`
   * lists ([[annIvf]]'s deterministic md5-sampled centroids + native
   * `IvfAssign` projection, no shuffle), and within each list vectors are
   * compressed to m-byte PQ codes of their RESIDUAL against the list
   * centroid ((q-c)-(x-c) = q-x, so residual ADC approximates true L2
   * between original vectors). Probes search their `nprobe` nearest lists,
   * carrying ONE ADC table per probed list (computed on the probe's
   * residual against THAT list's centroid). Pair cost is m lookups + m
   * adds; corpus storage is m bytes + a list id per vector.
   *
   * Deterministic end to end (md5 centroid sample, cosine coarse
   * assignment with the [[annIvf]] tie rule, integer residuals via the
   * native `AnchorSub` projection, integer PQ training/encode/ADC) — the
   * DuckDB oracle replays every stage. Same output shape as [[pqTopK]].
   */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      iters: Int = 1, dims: Int = 64): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val subDim = dims / m
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        quantize(col(vecCol)).as("v"))
      .withColumn("cn2", qdot(col("v"), col("v")))
    val cents = c.orderBy(md5(col("neighbor_id").cast("string").cast("binary")),
        col("neighbor_id"))
      .limit(nlist)
      .select(col("neighbor_id").as("cid"), col("v"), col("cn2")).collect()
    val centIds = cents.map(_.getLong(0)).toSeq
    val centVecs = cents.map(_.getSeq[Long](1)).toSeq
    val centNorms = cents.map(_.getLong(2)).toSeq
    // coarse-assign + residual in one shuffle-free native projection chain;
    // materialized because training re-scans it once per Lloyd round
    val resid = c
      .withColumn("cent_id", graft.plans.GraftExpressions.ivf_assign(
        col("v"), centIds, centVecs, centNorms))
      .withColumn("rv", graft.plans.GraftExpressions.anchor_sub(
        col("v"), col("cent_id"), centIds, centVecs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books = trainPqBooks(resid, "neighbor_id", "rv", m, ksub, iters, subDim)
    val encoded = resid.select(col("neighbor_id"), col("cent_id"),
      graft.plans.GraftExpressions.pq_encode(col("rv"), books, subDim)
        .as("codes"))
    resid.unpersist(blocking = false)
    val p = probes.select(col(probeIdCol).cast("long").as("query_id"),
        quantize(col(probeVecCol)).as("qv"))
      .withColumn("qn2", qdot(col("qv"), col("qv")))
    // probe side is small by contract: per-centroid struct chain is fine
    val structs = cents.map { r =>
      val cv = lit(r.getSeq[Long](1).toArray)
      struct(
        negate(qcosineWithNorms(qdot(col("qv"), cv), col("qn2"),
          lit(r.getLong(2)))).as("negcos"),
        lit(r.getLong(0)).as("cid"))
    }
    val pw = Window.partitionBy("query_id").orderBy(col("negcos"), col("cid"))
    val probeCands = p
      .select(col("query_id"), col("qv"),
        explode(array(structs.toIndexedSeq: _*)).as("cs"))
      .select(col("query_id"), col("qv"),
        col("cs.negcos").as("negcos"), col("cs.cid").as("cid"))
      .withColumn("prk", row_number().over(pw))
      .filter(col("prk") <= nprobe)
      .withColumn("tbl", graft.plans.GraftExpressions.pq_adc_table(
        graft.plans.GraftExpressions.anchor_sub(col("qv"), col("cid"),
          centIds, centVecs), books, subDim))
      .select(col("query_id"), col("cid").as("cent_id"), col("tbl"))
    val adc = (0 until m).map(s => col("tbl")(s)(col("codes")(s)))
      .reduce(_ + _)
    val scored = encoded.join(broadcast(probeCands), Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc_dist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Corpus-wide embedding near-duplicate pairs through LSH buckets — the
   * scale path [[nearDupPairs]]' scaladoc points at: vectors sharing a
   * bucket in ANY of `tables` tables become candidates (an equi-join on
   * (table, bucket) — quadratic only WITHIN a bucket, never across the
   * corpus), then exact quantized cosine keeps pairs >= `threshold`.
   * Precision is exact (the verify step is the true cosine); recall is the
   * standard hyperplane-LSH bound, 1 - (1 - p^planes)^tables with
   * p = 1 - theta/pi, tuned via `tables`/`planes`. Deterministic end to end
   * (md5 hyperplanes, exact integer rerank) — the DuckDB oracle replays it.
   * `maxBucket > 0` drops over-full buckets (degenerate clusters of
   * identical embeddings — exact dedup handles those more cheaply), exactly
   * as `Dedup.jaccardPairs` caps hot shingles.
   */
  def annNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 8, planes: Int = 6, dims: Int = 64,
      maxBucket: Int = 0): DataFrame = {
    val buckets = (0 until tables).map(t =>
      struct(lit(t).as("t"), lshBucket(col(vecCol), t, planes, dims).as("b")))
    val keyed = corpus.select(col(idCol).as("id"),
        quantize(col(vecCol)).as("v"),
        explode(array(buckets: _*)).as("bucket"))
      .withColumn("n2", qdot(col("v"), col("v"))) // norm once per row
    // groupBy + equi-join, not count-over-window: the cap guards against hot
    // buckets, and a window buffers exactly those in one task each (see
    // Dedup.simhashNearDups — same pattern, same fix).
    val prunedPlan = if (maxBucket <= 0) keyed else {
      val small = keyed.groupBy("bucket").agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= maxBucket).select("bucket")
      keyed.join(small, Seq("bucket"))
    }
    // Both sides of the self-join reference this subtree; Spark evaluates
    // each reference independently, so quantization + `tables` bucket
    // signatures would run TWICE over the corpus. Materialize once — the
    // in-session analog of a 100 TB pipeline writing its signature table to
    // parquet between the embed and join stages. Lifecycle follows Dedup's
    // posting lists: cached for the session (the caller's clearCache /
    // session cycling reclaims it); a long-lived driver looping this per
    // batch should clear the cache between rounds.
    val pruned = Dedup.materialized(prunedPlan)
    pruned.as("x").join(pruned.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"),
        qcosineWithNorms(qdot(col("x.v"), col("y.v")),
          col("x.n2"), col("y.n2")).as("cosine"))
      // cosine-filter BEFORE distinct: a surviving pair reaches the distinct
      // shuffle from at most `tables` buckets; a failing candidate never does
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /**
   * Local Outlier Factor (Breunig et al. 2000) over the LSH CANDIDATE
   * graph — density-based embedding outliers for corpus curation (an
   * embedding whose neighborhood is much sparser than its neighbors'
   * neighborhoods is mis-embedded, mislabeled, or genuinely novel; both
   * ends of that spectrum are what a curation pass wants surfaced).
   *
   * Approximation contract: neighborhoods come from the same multi-table
   * hyperplane-LSH candidate generation as [[annNearDupPairs]] (exact LOF
   * needs exact kNN — a corpus² scan). Every downstream quantity (k-th
   * distance, reachability, lrd, LOF) is EXACT over those candidates, and
   * fully deterministic: squared L2 distances are integers on the
   * quantized vectors, per-point kNN is the bounded-state `earliest_k`
   * aggregate (never a window over a hot bucket's fan-out), and the two
   * IEEE divisions + the neighbor-sorted lrd fold replay bit-for-bit in
   * the oracle. Points with no candidate (bucket singletons everywhere)
   * have no neighborhood and are absent from the output; duplicate-heavy
   * neighborhoods (sum of reach-dists = 0) clamp the denominator to 1.
   *
   * Output: (vec_id, n_neighbors, kdist, lof_micro) — lof ~1e6 means
   * inlier, >> 1e6 means outlier.
   */
  /** Symmetric LSH candidate pairs with exact integer squared-L2:
    * (id1, id2, d2), both directions — the neighborhood substrate shared
    * by [[lofOutliers]] and [[mutualKnnPairs]]. Same bucket generation,
    * hot-bucket cap, and single-evaluation materialization as
    * [[annNearDupPairs]].
    *
    * `bucketSample > 0` is the STRUCTURAL scale guard the sf1 scaling run
    * exposed the need for (q_emb_lof grew 57x on 10x data): a fixed-planes
    * bucket's occupancy grows linearly with the corpus, so the within-
    * bucket self-join grows QUADRATICALLY. Capping the join's RIGHT side
    * to the `bucketSample` members with the smallest md5(id) rank bounds
    * per-bucket work at occupancy x sample — linear in the corpus — while
    * every point still probes (left side uncapped), so nobody loses their
    * neighborhood, only sees it through at most `bucketSample` deterministic
    * representatives per table. When occupancy <= bucketSample the sample
    * is the whole bucket and the result is EXACTLY the uncapped one (the
    * oracle replays the rank rule either way). The principled alternative
    * — sizing `planes` ~ log2(corpus/occupancy) — remains the caller-level
    * knob; the sample is the in-operator guarantee that a mis-sized planes
    * constant degrades recall, not complexity. */
  private[graft] def lshSymPairs(corpus: DataFrame, idCol: String,
      vecCol: String, tables: Int, planes: Int, dims: Int,
      maxBucket: Int, bucketSample: Int = 0): DataFrame = {
    val buckets = (0 until tables).map(t =>
      struct(lit(t).as("t"), lshBucket(col(vecCol), t, planes, dims).as("b")))
    val keyed = corpus.select(col(idCol).as("id"),
        quantize(col(vecCol)).as("v"),
        explode(array(buckets: _*)).as("bucket"))
      .withColumn("n2", qdot(col("v"), col("v")))
    val prunedPlan = if (maxBucket <= 0) keyed else {
      val small = keyed.groupBy("bucket").agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= maxBucket).select("bucket")
      keyed.join(small, Seq("bucket"))
    }
    val pruned = Dedup.materialized(prunedPlan)
    if (bucketSample <= 0) {
      val pairs = pruned.as("x").join(pruned.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
        .select(col("x.id").as("id1"), col("y.id").as("id2"),
          (col("x.n2") - lit(2L) * qdot(col("x.v"), col("y.v")) +
            col("y.n2")).as("d2"))
        .distinct()
      pairs.union(pairs.select(col("id2").as("id1"),
        col("id1").as("id2"), col("d2")))
    } else {
      // deterministic md5 bottom-k representatives per (table, bucket);
      // map-side-combining EarliestK — a hot bucket costs O(sample) state
      val reps = pruned.groupBy("bucket")
        .agg(graft.plans.GraftExpressions.earliest_k(struct(
          md5(col("id").cast("string").cast("binary")).as("h"),
          col("id"), col("v"), col("n2")), bucketSample).as("keep"))
        .select(col("bucket"), explode(col("keep")).as("y"))
        .select(col("bucket"), col("y.id").as("rid"),
          col("y.v").as("rv"), col("y.n2").as("rn2"))
      // every point probes the representatives of its buckets; directed
      // (a -> rep) rows are exactly what the per-point kNN consumes
      pruned.join(reps, Seq("bucket"))
        .filter(col("id") =!= col("rid"))
        .select(col("id").as("id1"), col("rid").as("id2"),
          (col("n2") - lit(2L) * qdot(col("v"), col("rv")) +
            col("rn2")).as("d2"))
        .distinct()
    }
  }

  /** Bounded-state per-point kNN over the candidate pairs: the k smallest
    * (d2, neighbor) per point via `earliest_k` — never a window over a
    * hot bucket's fan-out. Returns (a, d2, b). */
  private[graft] def knnOverCandidates(sym: DataFrame, k: Int): DataFrame =
    sym.groupBy(col("id1").as("a"))
      .agg(graft.plans.GraftExpressions.earliest_k(
        struct(col("d2"), col("id2")), k).as("nn"))
      .select(col("a"), explode(col("nn")).as("s"))
      .select(col("a"), col("s.d2").as("d2"), col("s.id2").as("b"))

  /** Mutual-kNN graph edges over the LSH candidate graph: (doc1, doc2)
    * kept iff each point is among the other's k nearest candidates —
    * the density-cluster substrate (feed to `Dedup.components`) that
    * needs NO cluster count: mutuality alone cuts hub bridges, so
    * components of this graph are tight semantic groups. Same
    * approximation contract and determinism as [[lofOutliers]]. */
  def mutualKnnPairs(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, tables: Int = 8, planes: Int = 6, dims: Int = 64,
      maxBucket: Int = 0, bucketSample: Int = 0): DataFrame = {
    require(k >= 1 && k <= 64, s"mutualKnnPairs needs 1 <= k <= 64, got $k")
    // lazy cut: the mutuality self-join consumes the kNN table twice, and
    // each lazy arm would re-run the whole candidate join + kNN aggregate
    // (r13; compute-once via the checkpoint cache; under AQE those
    // shuffles run at the call, and only the cache fill waits)
    val nn = knnOverCandidates(lshSymPairs(corpus, idCol, vecCol,
      tables, planes, dims, maxBucket, bucketSample), k).select("a", "b")
      .localCheckpoint(false)
    nn.join(nn.select(col("b").as("a"), col("a").as("b")), Seq("a", "b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc1"), col("b").as("doc2"))
  }

  def lofOutliers(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, tables: Int = 8, planes: Int = 6, dims: Int = 64,
      maxBucket: Int = 0, bucketSample: Int = 0): DataFrame = {
    require(k >= 1 && k <= 64, s"lofOutliers needs 1 <= k <= 64, got $k")
    // lazy cuts on every multiply-consumed stage (r13): nbrs feeds kd AND
    // rd, rd feeds lrd AND slrd, kd/lrd are re-read by the final join —
    // left lazy without cuts, the candidate join + kNN aggregate subtree
    // re-evaluated once per arm (~8 evaluations). The checkpoint cache
    // gives compute-once; each cut's shuffle stages run at its call (AQE),
    // and the cache fills wait for the final job.
    val nbrs = knnOverCandidates(lshSymPairs(corpus, idCol, vecCol,
      tables, planes, dims, maxBucket, bucketSample), k)
      .localCheckpoint(false)
    val kd = nbrs.groupBy("a")
      .agg(max("d2").as("kdist"), count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val rd = nbrs.join(kd.select(col("a").as("b"),
        col("kdist").as("kdist_b")), Seq("b"))
      .select(col("a"), col("b"), greatest(col("d2"), col("kdist_b"))
        .as("rd"))
      .localCheckpoint(false)
    val lrd = rd.groupBy("a").agg(sum("rd").as("sum_rd"),
        count(lit(1)).as("n"))
      .select(col("a"), (col("n").cast("double") /
        greatest(col("sum_rd"), lit(1L)).cast("double")).as("lrd"))
      .localCheckpoint(false)
    // neighbor lrd sum in a FIXED (neighbor-id-sorted) fold order, so the
    // double total is bit-identical despite aggregation-order freedom
    val slrd = rd.select("a", "b")
      .join(lrd.select(col("a").as("b"), col("lrd").as("lrd_b")), Seq("b"))
      .groupBy("a")
      .agg(aggregate(transform(
        array_sort(collect_list(struct(col("b"), col("lrd_b")))),
        x => x.getField("lrd_b")), lit(0.0), (acc, x) => acc + x)
        .as("slrd"))
    slrd.join(lrd, Seq("a")).join(kd, Seq("a"))
      .select(col("a").as("vec_id"), col("cnt").as("n_neighbors"),
        col("kdist"),
        floor(lit(1e6) * (col("slrd") /
          (col("cnt").cast("double") * col("lrd")))).cast("long")
          .as("lof_micro"))
  }

  /** The persisted EMBEDDING DEDUP INDEX: (id, v, n2, t, b) — quantized
    * vector, squared norm, and one row per LSH table with its bucket key.
    * Write it to the lake alongside the corpus; each increment builds the
    * same index over its own vectors and [[incrementalAnnPairs]] joins the
    * two — the embedding-side twin of `Dedup.minhashIndex`. */
  def annIndex(corpus: DataFrame, idCol: String, vecCol: String,
      tables: Int = 8, planes: Int = 6, dims: Int = 64): DataFrame = {
    val buckets = (0 until tables).map(t =>
      struct(lit(t).as("t"), lshBucket(col(vecCol), t, planes, dims).as("b")))
    corpus.select(col(idCol).as("id"), quantize(col(vecCol)).as("v"),
        explode(array(buckets: _*)).as("bucket"))
      .withColumn("n2", qdot(col("v"), col("v")))
      .select(col("id"), col("v"), col("n2"),
        col("bucket.t").as("t"), col("bucket.b").as("b"))
  }

  /** Incremental embedding near-dup: pairs touching the new batch only —
    * new-vs-corpus plus new-vs-new — against a persisted [[annIndex]].
    * Same invariant as `Dedup.incrementalNearDups`: corpus-vs-corpus pairs
    * were found when those vectors were new, so a daily embedding increment
    * joins the stored bucket table instead of re-bucketing 100 TB. Equals
    * `annNearDupPairs(corpus ∪ new)` filtered to pairs with a new side
    * (spec-asserted, oracle-replayed). Ids must be globally unique and both
    * indexes must share (tables, planes, dims). */
  def incrementalAnnPairs(corpusIndex: DataFrame, newIndex: DataFrame,
      threshold: Double): DataFrame = {
    val bn = Dedup.materialized(newIndex)
    val score = (x: String, y: String) =>
      qcosineWithNorms(qdot(col(s"$x.v"), col(s"$y.v")),
        col(s"$x.n2"), col(s"$y.n2"))
    val newOld = bn.as("x").join(corpusIndex.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b"))
      .select(least(col("x.id"), col("y.id")).as("id1"),
        greatest(col("x.id"), col("y.id")).as("id2"),
        score("x", "y").as("cosine"))
    val newNew = bn.as("x").join(bn.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"),
        score("x", "y").as("cosine"))
    newOld.union(newNew)
      .filter(col("cosine") >= threshold) // before the dedup shuffle
      .distinct()
  }

  /** Embedding near-duplicate pairs within a probe subset vs the corpus —
    * quantized cosine >= threshold. (Full-corpus near-dup at scale goes
    * through [[annNearDupPairs]] buckets instead of this cross product.) */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      probes: DataFrame, threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("id2"), quantize(col(vecCol)).as("v2"))
      .withColumn("n2b", qdot(col("v2"), col("v2")))
    val p = probes.select(col(idCol).as("id1"), quantize(col(vecCol)).as("v1"))
      .withColumn("n2a", qdot(col("v1"), col("v1")))
    c.join(broadcast(p), col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        qcosineWithNorms(qdot(col("v1"), col("v2")), col("n2a"), col("n2b"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * Deterministic spherical k-means (Lloyd) over an embedding column — the
   * cluster-then-curate step of an embedding-based data pipeline (cluster
   * balancing, SemDeDup-style semantic dedup, per-cluster sampling all
   * start from this assignment). Returns (id, cluster) with `cluster` the
   * seed id of the centroid each vector landed in after `iters` rounds.
   *
   * Spherical variant: assignment is argmax QUANTIZED cosine (ties to the
   * smallest centroid id) — the same exact integer math as the ANN
   * operators, so runs are replayable bit-for-bit in the DuckDB oracle.
   * Cosine assignment is scale-invariant, so centroid means skip the
   * normalize step entirely: the update is an element-wise integer mean,
   * floor(sum/count), exact in both engines. Empty clusters keep their
   * previous centroid.
   *
   * Execution shape per round, sized for a 10^9-vector corpus:
   *  - assignment is the native `IvfAssign` projection — the whole centroid
   *    table rides as ONE codegen reference object, NO shuffle, no
   *    per-centroid plan growth;
   *  - the centroid update is posexplode -> partial-aggregated sum: the
   *    map side combines to (k x dims) partial rows PER PARTITION before
   *    the (tiny) shuffle, and only k x dims totals reach the driver. The
   *    driver holds k x dims longs — never rows.
   * Seeds are the k smallest ids (deterministic; callers wanting a spread
   * pick can pre-select probes and pass them as the first k ids).
   */
  def kmeans(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    kmeansAssign(corpus, idCol, vecCol, k, iters)
      .select(col("vec_id"), col("cluster"))

  /**
   * Rocchio / nearest-centroid classification (Rocchio 1971; the
   * embedding-side sibling of [[graft.ops.ML.naiveBayesConfusion]]):
   * train one integer centroid per label over an md5-hash train split
   * (`vec_id` held out iff md5 % testMod == 0), then assign each held-out
   * vector to its max-cosine centroid and return the confusion matrix
   * (label, label_pred, n_vecs). The cheapest supervised labeler an
   * embedding column supports — one centroid per class, classify-by-ANN.
   *
   * Determinism: quantized integer vectors; per-dim centroid =
   * floor(sum/n) (the Lloyd-mean form the k-means oracle replays);
   * assignment is the same 6dp-floored cosine + min-label tiebreak as
   * [[graft.plans.IvfAssign]] — which is also the scoring engine here, so
   * the per-row work is ONE codegen'd expression over a
   * reference-object centroid table (no join at all).
   *
   * Scale shape: training = one combine-enabled vec_sum aggregate
   * (shuffle = labels x partitions array rows, driver holds labels x
   * dims longs — the k-means contract); scoring = one scan. Label count
   * must be model-sized (it is the k of this op), corpus can be
   * anything.
   */
  def rocchioConfusion(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, testMod: Int = 5): DataFrame = {
    require(testMod >= 2, "rocchioConfusion needs testMod >= 2")
    val q = corpus.select(col(idCol).cast("long").as("vec_id"),
        col(labelCol).cast("long").as("label"),
        quantize(col(vecCol)).as("v"))
      .withColumn("is_test",
        conv(substring(md5(col("vec_id").cast("string").cast("binary")),
          1, 8), 16, 10).cast("long") % testMod === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = q.filter(!col("is_test")).groupBy("label")
      .agg(graft.plans.GraftExpressions.vec_sum(col("v")).as("s"),
        count(lit(1)).as("n"))
      .collect() // one row per LABEL — model-sized by contract
      .map { r =>
        r.getLong(0) -> r.getSeq[Long](1)
          .map(x => math.floor(x.toDouble / r.getLong(2)).toLong)
      }.sortBy(_._1)
    val centIds = cents.map(_._1).toSeq
    val centVecs = cents.map(_._2.toSeq).toSeq
    // Materialize the (labels²-row) confusion matrix BEFORE releasing the
    // cache: unpersisting while `out` is still lazy would make the held-out
    // scoring scan recompute quantize+md5 from source, leaving the persist
    // serving only the centroid collect(). localCheckpoint both executes
    // the scoring pass against the cache and cuts the plan, so the caller
    // gets a self-contained frame with no dangling persisted lineage.
    val out = q.filter(col("is_test"))
      .withColumn("label_pred", graft.plans.GraftExpressions.ivf_assign(
        col("v"), centIds, centVecs,
        centVecs.map(cv => cv.map(x => x * x).sum)))
      .groupBy("label", "label_pred")
      .agg(count(lit(1)).as("n_vecs"))
      .localCheckpoint()
    q.unpersist(blocking = false)
    out
  }

  /** [[kmeans]] keeping the quantized vector alongside the assignment —
    * (vec_id, v, cluster) — for downstream per-cluster work. */
  private[ops] def kmeansAssign(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int): DataFrame =
    kmeansFit(corpus, idCol, vecCol, k, iters)._1

  /** [[kmeansAssign]] plus the FINAL centroid model (ids, quantized
    * vectors) — k-bounded driver state, for audits that score against the
    * centroids themselves (e.g. [[silhouetteAudit]]). */
  private[ops] def kmeansFit(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int)
      : (DataFrame, Seq[Long], Seq[Seq[Long]]) = {
    require(k > 0 && iters >= 1, "k-means needs k > 0 and iters >= 1")
    // materialized once: every Lloyd round (and the seed pick) re-scans the
    // quantized corpus — iters+2 passes that would otherwise each re-read
    // and re-quantize the source. On a cluster this is the parquet
    // intermediate a 100 TB pipeline writes before iterating.
    val q = corpus.select(col(idCol).cast("long").as("vec_id"),
        quantize(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = q.orderBy("vec_id").limit(k).collect()
    var centIds = seeds.map(_.getLong(0)).toSeq
    var centVecs = seeds.map(_.getSeq[Long](1)).toSeq

    def assigned = q.withColumn("cluster",
      graft.plans.GraftExpressions.ivf_assign(col("v"), centIds, centVecs,
        centVecs.map(cv => cv.map(x => x * x).sum)))

    for (_ <- 1 to iters) {
      // centroid update via the native element-wise vector-sum aggregate:
      // map-side partials reduce each partition to one array per cluster,
      // so the shuffle moves k x partitions rows — a posexplode +
      // groupBy(cluster, pos) formulation shuffles n x dims rows instead
      val means = assigned
        .groupBy("cluster")
        .agg(graft.plans.GraftExpressions.vec_sum(col("v")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val n = r.getLong(2).toDouble
          r.getLong(0) -> r.getSeq[Long](1).map(x =>
            math.floor(x.toDouble / n).toLong)
        }.toMap
      val prevByCid = centIds.zip(centVecs).toMap
      centVecs = centIds.map(cid => means.getOrElse(cid, prevByCid(cid)))
    }
    // All multi-pass reuse of the cache has happened (the seed collect +
    // one aggregate per round). Release it here rather than leaking it for
    // the session lifetime; the returned lazy plan re-runs the quantize
    // scan once in the caller's action — one pass, the same cost as
    // re-reading a disk-cached copy.
    q.unpersist(blocking = false)
    (assigned, centIds, centVecs)
  }

  /**
   * Simplified-silhouette clustering-quality audit (the centroid-based
   * silhouette of Hruschka et al. 2004: score each point against CENTROIDS,
   * not all points — O(n·k), the only silhouette that exists at corpus
   * scale; the classic pairwise form is O(n²)). Runs [[kmeans]] with the
   * same seeds/rounds, then for every vector computes the micro-quantized
   * cosine to its own centroid (`own`) and the best cosine to any OTHER
   * centroid (`oth`); a vector with `oth > own` sits on the wrong side of
   * a boundary — the per-cluster misassignment count plus the own/other
   * similarity mass summarize cluster cohesion vs separation in one table.
   *
   * Every similarity is an exact BIGINT (same IEEE chain as [[mmrSelect]]'s
   * scoring unit), so a DuckDB oracle replays the audit bit-for-bit.
   *
   * Shape: ONE crossJoin of the assignment against the k-row broadcast
   * centroid table (k-bounded model state, the [[kmeans]] contract), one
   * per-vector aggregate, one per-cluster combine-enabled aggregate —
   * linear in n·k, no window, no pairwise scan.
   *
   * Output: (cluster, n_vecs, own_sum, other_sum, n_misassigned).
   */
  def silhouetteAudit(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val (assigned, centIds, centVecs) =
      kmeansFit(corpus, idCol, vecCol, k, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = centIds.zip(centVecs).toDF("ccid", "cv")
      .withColumn("cn2", qdot(col("cv"), col("cv")))
    def simMicro(dot: Column, n2a: Column, n2b: Column): Column =
      floor(dot.cast("double") /
        (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double"))) * 1e6)
        .cast("long")
    val per = assigned
      .withColumn("n2", qdot(col("v"), col("v")))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cluster"),
        col("ccid"),
        simMicro(qdot(col("v"), col("cv")), col("n2"), col("cn2")).as("sim"))
      .groupBy("vec_id", "cluster")
      .agg(max(when(col("ccid") === col("cluster"), col("sim"))).as("own"),
        max(when(col("ccid") =!= col("cluster"), col("sim"))).as("oth"))
    per.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        sum("own").as("own_sum"),
        sum("oth").as("other_sum"),
        sum(when(col("oth") > col("own"), 1L).otherwise(0L))
          .as("n_misassigned"))
  }

  /**
   * SemDeDup-style semantic deduplication: cluster with [[kmeans]], then
   * drop every vector that has a SMALLER-id near-duplicate (quantized
   * cosine >= `threshold`) in its own cluster. Returns the kept
   * (id, cluster) rows — deterministic keep-smallest-id, the embedding
   * analog of `Dedup.exactDedup`'s canonical-min rule.
   *
   * The pairwise scan is quadratic only WITHIN a cluster — that is the
   * entire point of clustering first (SemDeDup): at corpus scale, k grows
   * with n so mean cluster size stays bounded, and the self-join shuffles
   * on the cluster id like any equi-join. A degenerate mega-cluster (an
   * all-identical-embedding crawl slice) is the same pathology as a hot
   * LSH bucket — `maxCluster` is the enforced guard: clusters larger than
   * it SKIP pairwise dedup entirely (all their rows are kept), exactly how
   * `annNearDupPairs.maxBucket` trades recall for a bounded worst stage.
   * 0 = uncapped (exact within-cluster semantics; the oracle default).
   */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double, maxCluster: Int = 0): DataFrame = {
    // localCheckpoint instead of persist: the assignment is scanned three
    // times (both self-join sides + the final anti-join), so materializing
    // once matters — and checkpointed blocks are released by the
    // ContextCleaner when the plan is GC'd, where a CacheManager persist
    // leaks for the session lifetime unless the CALLER remembers to
    // unpersist a frame we never hand them.
    val asg = kmeansAssign(corpus, idCol, vecCol, k, iters)
      .withColumn("n2", qdot(col("v"), col("v")))
      .localCheckpoint()
    // Cluster sizes via groupBy + BROADCAST join (k rows — tiny by
    // construction), not count-over-window: a degenerate mega-cluster is
    // exactly what the cap guards against, and a window would buffer it in
    // one task to measure it.
    val paired = if (maxCluster <= 0) asg else {
      val small = asg.groupBy("cluster").agg(count(lit(1)).as("csz"))
        .filter(col("csz") <= maxCluster).select("cluster")
      asg.join(broadcast(small), Seq("cluster"))
    }
    val a = paired.select(col("cluster"), col("vec_id").as("id1"),
      col("v").as("v1"), col("n2").as("n21"))
    val b = paired.select(col("cluster"), col("vec_id").as("id2"),
      col("v").as("v2"), col("n2").as("n22"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id1") < col("id2"))
      .filter(qcosineWithNorms(qdot(col("v1"), col("v2")),
        col("n21"), col("n22")) >= threshold)
      .select(col("id2").as("vec_id")).distinct()
    asg.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  /** Greedy k-center selection (Gonzalez 1985 farthest-point traversal):
    * start from the smallest id, then k−1 times pick the point farthest
    * from its nearest already-chosen center (exact integer squared
    * euclidean on the quantized grid; ties break to the smallest id). A
    * 2-approximation to the optimal k-center cover — the diversity-first
    * seed selection for labeling budgets and coreset construction.
    *
    * Scale shape: each round is ONE corpus-parallel pass — the chosen
    * centers ride along as array literals (k of them, broadcast-sized by
    * the `require`), the per-point min-distance is a codegen'd `least`
    * chain, and the argmax is a sort-limit reduce. Driver state is the k
    * centers only (the same bounded-model-state contract as kmeans/IVF);
    * the input is pinned once with a localCheckpoint because every round
    * rescans it. Returns (pick, vec_id, dist): dist is the max-min
    * distance at selection time (0 for the seed). */
  def kcenterSelect(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 256,
      s"kcenterSelect: k must be in [1,256], got $k — the driver holds " +
      "the k chosen centers and the plan embeds k distance terms")
    val spark = df.sparkSession
    import spark.implicits._
    val q = df.select(col(idCol).cast("long").as("id"),
        quantize(col(vecCol)).as("v"))
      .withColumn("n2", qdot(col("v"), col("v")))
      .localCheckpoint()
    // fail fast with the real reason, not a NoSuchElementException three
    // Spark jobs in; limit(k) bounds the guard's own scan
    val nAvail = q.limit(k).count()
    require(nAvail >= k,
      s"kcenterSelect: k=$k exceeds the input's $nAvail distinct rows")
    val first = q.orderBy(col("id").asc).head()
    // (pick, id, distAtPick, vec, n2)
    val picked = scala.collection.mutable.ArrayBuffer(
      (1L, first.getLong(0), 0L,
        first.getSeq[Long](1).toList, first.getLong(2)))
    for (r <- 2 to k) {
      val dists = picked.toSeq.map { case (_, _, _, cv, cn2) =>
        col("n2") - lit(2L) * qdot(col("v"), typedLit(cv: Seq[Long])) +
          lit(cn2)
      }
      val mind = if (dists.size == 1) dists.head else least(dists: _*)
      val top = q.filter(!col("id").isin(picked.toSeq.map(_._2): _*))
        .select(col("id"), col("v"), col("n2"), mind.as("dist"))
        .orderBy(col("dist").desc, col("id").asc)
        .head()
      picked += ((r.toLong, top.getLong(0), top.getLong(3),
        top.getSeq[Long](1).toList, top.getLong(2)))
    }
    picked.toSeq.map { case (p, id, dist, _, _) => (p, id, dist) }
      .toDF("pick", "vec_id", "dist")
  }

  /** Top principal direction by fixed-round power iteration, entirely on
    * the quantized integer grid: each round is ONE corpus-parallel pass
    * computing d_i = q_i·v (codegen'd IntDot) and the d-vector
    * w = Σ_i d_i·q_i (the VecSumAgg combine-enabled aggregate), then an
    * L∞ renormalization back to `scale` on the driver using mathematical
    * floor division — every operation is exact BIGINT, so the whole
    * recursion is bit-identical in any engine. Driver state per round is
    * one d-length vector (bounded model state, like kmeans centroids).
    *
    * The deterministic all-ones start vector converges to ± the dominant
    * eigendirection of the UNCENTERED second-moment matrix — subtract the
    * column means first if you want covariance PCA. Integer bounds: with
    * per-entry |q| ≤ Q and n rows, |d_i| ≤ d·Q·scale and
    * |w_j| ≤ n·Q²·d·scale — for Q=1e3, d=64, scale=1024 that caps n at
    * ~1.3e8 rows per exact fold; beyond that, raise the partial-fold to
    * decimal(38) or pre-aggregate per shard. Returns (j, loading): the
    * 1-based component index and the scale-normalized loading. */
  def pcaPower(df: DataFrame, vecCol: String, rounds: Int = 3,
      scale: Long = 1024L): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"pcaPower needs 1 <= rounds <= 16, got $rounds")
    require(scale >= 2, s"pcaPower needs scale >= 2, got $scale")
    val spark = df.sparkSession
    import spark.implicits._
    val q = df.select(quantize(col(vecCol)).as("v")).localCheckpoint()
    require(!q.isEmpty, "pcaPower needs a non-empty input")
    val dims = q.select(size(col("v"))).head().getInt(0)
    var v: Seq[Long] = List.fill(dims)(scale)
    for (_ <- 1 to rounds) {
      val vl = typedLit(v)
      val w = q.withColumn("d", qdot(col("v"), vl))
        .select(graft.plans.GraftExpressions.vec_sum(
          transform(col("v"), x => x * col("d"))).as("w"))
        .head().getSeq[Long](0)
      val m = math.max(w.map(math.abs).max, 1L)
      v = w.map { wj =>
        val a = wj * scale
        val mod = ((a % m) + m) % m // mathematical floor residue, m > 0
        (a - mod) / m
      }.toList
    }
    v.zipWithIndex.map { case (x, j) => ((j + 1).toLong, x) }
      .toDF("j", "loading")
  }

  /**
   * SQ8 scalar-quantization recall audit (the FAISS `SQ8` codec idea):
   * compress every vector to one signed byte per dimension with a
   * per-dimension global scale (`code_d = floor(q_d * 127 / amax_d)` over
   * the exact 1000-grid ints), then measure recall@k of inner-product
   * search on the CODES against exact inner-product search on the full
   * vectors. The scale table is one 64-row aggregate; codes shrink the
   * scan 4-8x — at 100 TB the code sweep is the memory-bandwidth-bound
   * first pass and this query reports exactly what that compression costs
   * in recall. The floor chain is double-floor (never integer `div`:
   * negative components truncate toward zero in Spark but floor in other
   * engines). One corpus pass scores BOTH rankings: the broadcast-probe
   * join projects the exact dot and the code dot side by side, then two
   * windows rank them (probe side broadcast-small by contract, as in
   * [[cosineTopK]]).
   *
   * Output: (query_id, n_exact, n_hit, recall) — recall = |top-k codes ∩
   * top-k exact| / k, floor-quantized to 6 dp.
   */
  def sq8Recall(corpus: DataFrame, idCol: String, vecCol: String,
      probePred: Column, k: Int): DataFrame = {
    val q = corpus.select(col(idCol).as("vid"), quantize(col(vecCol)).as("v"),
      probePred.as("is_probe"))
    val scales = q.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos").agg(greatest(max(abs(col("x"))), lit(1L)).as("amax"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, amax))), " +
        "s -> s.amax)").as("scales"))
    val coded = q.crossJoin(broadcast(scales))
      .withColumn("c8", expr("transform(arrays_zip(v, scales), " +
        "s -> cast(floor(cast(s.v * 127 as double) / " +
        "cast(s.scales as double)) as bigint))"))
      .select(col("vid"), col("v"), col("c8"), col("is_probe"))
    val probes = coded.filter(col("is_probe"))
      .select(col("vid").as("query_id"), col("v").as("qv"),
        col("c8").as("qc8"))
    val scored = coded.join(broadcast(probes),
        col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"),
        qdot(col("qv"), col("v")).as("dot_exact"),
        qdot(col("qc8"), col("c8")).as("dot8"))
    val we = Window.partitionBy("query_id")
      .orderBy(col("dot_exact").desc, col("neighbor_id").asc)
    val w8 = Window.partitionBy("query_id")
      .orderBy(col("dot8").desc, col("neighbor_id").asc)
    scored.withColumn("re", row_number().over(we))
      .withColumn("r8", row_number().over(w8))
      .filter(col("re") <= k)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("r8") <= k, 1L).otherwise(0L)).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        (floor(col("n_hit").cast("double") * 1e6 /
          col("n_exact").cast("double")) / 1e6).as("recall"))
  }

  /**
   * Margin-criterion bitext/pair mining (Artetxe & Schwenk, ACL 2019 —
   * the scoring LASER/CCMatrix mine parallel corpora with): a raw cosine
   * threshold can't separate "genuinely aligned pair" from "hub vector
   * that is close to everything", so each pair is scored RELATIVE to its
   * two neighborhoods: margin = cos(x,y) / ((avgTopK(x) + avgTopK(y))/2).
   * Here the bipartite sides are a small probe set and the opposite-label
   * corpus (label = language proxy); both neighborhood averages come from
   * the SAME probe x candidate score matrix, so the whole mine is one
   * broadcast-probe corpus pass plus three domain-bounded windows. Probe
   * side is small by contract (the large-probe path is IVF-PQ, as with
   * tiered retrieval). Exact arithmetic: micro-int cosines, per-side
   * top-k sums as BIGINTs, margin as one double-floor ppm division with
   * the denominator clamped positive.
   *
   * Output: one row per probe — its best-margin candidate:
   * (query_id, cand_id, cos_micro, avg_q_micro, avg_c_micro, margin_ppm).
   */
  def bitextMarginMine(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, probePred: Column, kNeigh: Int): DataFrame = {
    val q = corpus.select(col(idCol).as("vid"), quantize(col(vecCol)).as("v"),
        col(labelCol).as("lab"), probePred.as("is_probe"))
      .withColumn("n2", qdot(col("v"), col("v")))
    val probes = q.filter(col("is_probe"))
      .select(col("vid").as("query_id"), col("v").as("qv"),
        col("lab").as("qlab"), col("n2").as("qn2"))
    val scored = q.join(broadcast(probes), col("lab") =!= col("qlab"))
      .select(col("query_id"), col("vid").as("cand_id"),
        // floor-micro computed directly from the dot (NOT 6-dp-double *
        // 1e6, whose binary re-multiply can land at x.999… and truncate)
        floor(qdot(col("qv"), col("v")).cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double")))
          * 1e6).cast("long").as("cos_micro"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("cos_micro").desc, col("cand_id").asc)
    val wc = Window.partitionBy("cand_id")
      .orderBy(col("cos_micro").desc, col("query_id").asc)
    val ranked = scored.withColumn("rq", row_number().over(wq))
      .withColumn("rc", row_number().over(wc))
    val avgQ = ranked.filter(col("rq") <= kNeigh).groupBy("query_id")
      .agg(expr(s"cast(floor(cast(sum(cos_micro) as double) / " +
        s"cast(count(*) as double)) as bigint)").as("avg_q_micro"))
    val avgC = ranked.filter(col("rc") <= kNeigh).groupBy("cand_id")
      .agg(expr(s"cast(floor(cast(sum(cos_micro) as double) / " +
        s"cast(count(*) as double)) as bigint)").as("avg_c_micro"))
    val margins = scored.join(avgQ, Seq("query_id")).join(avgC, Seq("cand_id"))
      .withColumn("margin_ppm", expr("cast(floor(cast(cos_micro as double) " +
        "* 2e6 / cast(greatest(avg_q_micro + avg_c_micro, 1L) as double)) " +
        "as bigint)"))
    val wBest = Window.partitionBy("query_id")
      .orderBy(col("margin_ppm").desc, col("cand_id").asc)
    margins.withColumn("best", row_number().over(wBest))
      .filter(col("best") === 1)
      .select(col("query_id"), col("cand_id"), col("cos_micro"),
        col("avg_q_micro"), col("avg_c_micro"), col("margin_ppm"))
  }
}
