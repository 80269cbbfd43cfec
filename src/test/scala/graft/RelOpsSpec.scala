package graft

import org.apache.spark.sql.functions._
import graft.ops.{AsofJoin, Similarity}

/** As-of join and embedding k-means. */
class RelOpsSpec extends SparkSpec {
  import spark.implicits._

  // right side unique per (key, ts) as the operator contract requires
  private def fixture(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val left = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong))
      .toDF("lid", "k", "lts")
    val right = rnd.shuffle((0 until 1000).toList).take(400)
      .map(t => (rnd.nextInt(8).toLong, t.toLong, rnd.nextInt(100).toLong))
      .distinct.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      .toDF("k", "rts", "p")
    (left, right)
  }

  /** Reference result via an explicit (quadratic) theta-join. */
  private def brute(left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame, cmp: (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      earliest: Boolean) = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lid")
      .orderBy(if (earliest) col("rts").asc_nulls_last
               else col("rts").desc_nulls_last)
    left.join(right.withColumnRenamed("k", "rk"),
        col("k") === col("rk") && cmp(col("rts"), col("lts")), "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("lid", "k", "lts", "p")
  }

  test("asof backward equals the brute-force theta-join (incl. no-match rows)") {
    val (l, r) = fixture(7)
    val got = AsofJoin.backward(l, r, Seq("k"), "lts", "rts", Seq("p"))
    val want = brute(l, r, (rts, lts) => rts <= lts, earliest = false)
    assert(got.count() === l.count()) // left-join semantics
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("asof strict excludes equal timestamps; inclusive takes them") {
    val l = Seq((1L, 1L, 10L)).toDF("lid", "k", "lts")
    val r = Seq((1L, 10L, 42L), (1L, 5L, 7L)).toDF("k", "rts", "p")
    val incl = AsofJoin.backward(l, r, Seq("k"), "lts", "rts", Seq("p"))
    val strict = AsofJoin.backward(l, r, Seq("k"), "lts", "rts", Seq("p"),
      strict = true)
    assert(incl.select("p").as[Long].head() === 42L)
    assert(strict.select("p").as[Long].head() === 7L)
  }

  test("asof with an empty right side keeps all left rows, null payload") {
    val l = Seq((1L, 1L, 10L), (2L, 2L, 20L)).toDF("lid", "k", "lts")
    val r = Seq.empty[(Long, Long, Long)].toDF("k", "rts", "p")
    val got = AsofJoin.backward(l, r, Seq("k"), "lts", "rts", Seq("p"))
    assert(got.count() === 2)
    assert(got.filter(col("p").isNotNull).isEmpty)
  }

  test("asof forward equals brute force (earliest at-or-after)") {
    val (l, r) = fixture(11)
    val got = AsofJoin.forward(l, r, Seq("k"), "lts", "rts", Seq("p"))
    val want = brute(l, r, (rts, lts) => rts >= lts, earliest = true)
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("vec_sum aggregate: element-wise totals, null-safe, SQL-callable") {
    val df = Seq((0, Seq(1L, 2L, 3L)), (0, Seq(10L, 20L, 30L)),
      (1, Seq(5L, 5L, 5L))).toDF("g", "v")
      .union(Seq((1, null.asInstanceOf[Seq[Long]])).toDF("g", "v"))
    val got = df.repartition(4)
      .groupBy("g")
      .agg(graft.plans.GraftExpressions.vec_sum(col("v")).as("s"))
      .as[(Int, Seq[Long])].collect().toMap
    assert(got === Map(0 -> Seq(11L, 22L, 33L), 1 -> Seq(5L, 5L, 5L)))
    df.createOrReplaceTempView("vecs")
    val sql = spark.sql("SELECT g, graft_vec_sum(v) AS s FROM vecs GROUP BY g")
      .as[(Int, Seq[Long])].collect().toMap
    assert(sql === got)
  }

  test("kmeans separates two obvious clusters and is deterministic") {
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 0f, 1f, 0f)
      (i.toLong, base.map(x => x + (i % 5) * 0.01f).toSeq)
    }.toDF("vec_id", "embedding")
    val a = Similarity.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Long)].collect().toMap
    // seeds are ids 0 and 1; even ids follow seed 0's direction, odd seed 1's
    assert(a.keySet === (0 until 20).map(_.toLong).toSet)
    assert((0 until 20 by 2).forall(i => a(i.toLong) === a(0L)))
    assert((1 until 20 by 2).forall(i => a(i.toLong) === a(1L)))
    assert(a(0L) !== a(1L))
    val b = Similarity.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("silhouetteAudit: clean clusters cohere, a boundary point is flagged") {
    // same two obvious clusters as the kmeans test -> zero misassignments,
    // own-centroid mass strictly above best-other mass in every cluster
    val vecs = (0 until 20).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 0f, 1f, 0f)
      (i.toLong, base.map(x => x + (i % 5) * 0.01f).toSeq)
    }.toDF("vec_id", "embedding")
    val clean = Similarity.silhouetteAudit(vecs, "vec_id", "embedding",
        k = 2, iters = 3)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(clean.length === 2)
    assert(clean.map(_._2).sum === 20L)
    clean.foreach { case (_, n, own, oth, mis) =>
      assert(mis === 0L)
      assert(own > oth, s"cohesion: own=$own oth=$oth n=$n")
    }
    // plant a vector that sits ON the other centroid's direction while the
    // seeds keep cluster membership stable: it must surface as misassigned
    // only if its best-other beats its own — build one equidistant-ish
    // outlier pointing at cluster 1's direction but assigned late enough
    // that the audit (not the assignment) is what flags it. With iters=1
    // and an id past the seeds, vector 21 at the odd-cluster direction is
    // assigned there correctly — so add instead a point BETWEEN the two
    // directions slightly closer to its own centroid: misassigned stays 0
    // but its own-vs-other margin shrinks the cluster's aggregate.
    val withMid = vecs.union(
      Seq((21L, Seq(0.6f, 0f, 0.55f, 0f))).toDF("vec_id", "embedding"))
    val mid = Similarity.silhouetteAudit(withMid, "vec_id", "embedding",
        k = 2, iters = 3)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(mid.map(_._2).sum === 21L)
    // the audit totals respond to the boundary point: summed own-other
    // margin strictly shrinks vs the clean run
    def margin(rows: Array[(Long, Long, Long, Long, Long)]) =
      rows.map(r => r._3 - r._4).sum
    assert(margin(mid) < margin(clean))
  }

  test("range join equals the naive theta-join at several bucket widths") {
    val rnd = new scala.util.Random(3)
    val pts = (1 to 500).map(i => (i.toLong, rnd.nextInt(10000).toLong))
      .toDF("pid", "t")
    val ivs = (1 to 60).map { i =>
      val lo = rnd.nextInt(9500).toLong
      (i.toLong, lo, lo + rnd.nextInt(800).toLong)
    }.toDF("iid", "lo", "hi")
    val naive = ivs.join(pts, col("lo") <= col("t") && col("t") <= col("hi"))
      .select("iid", "pid")
    // negative axis values: floor-division bucketing must stay monotone
    val ptsNeg = pts.withColumn("t", col("t") - 5000L)
    val ivsNeg = ivs.withColumn("lo", col("lo") - 5000L)
      .withColumn("hi", col("hi") - 5000L)
    val naiveNeg = ivsNeg
      .join(ptsNeg, col("lo") <= col("t") && col("t") <= col("hi"))
      .select("iid", "pid")
    val gotNeg = graft.ops.RangeJoin
      .pointInInterval(ptsNeg, "t", ivsNeg, "lo", "hi", 400L)
      .select("iid", "pid")
    assert(gotNeg.except(naiveNeg).isEmpty && naiveNeg.except(gotNeg).isEmpty)
    for (bucket <- Seq(50L, 400L, 5000L)) {
      val got = graft.ops.RangeJoin
        .pointInInterval(pts, "t", ivs, "lo", "hi", bucket)
        .select("iid", "pid")
      assert(got.count() === naive.count(), s"bucket=$bucket")
      assert(got.except(naive).isEmpty && naive.except(got).isEmpty,
        s"bucket=$bucket")
    }
  }

  test("interval overlap join equals naive, each pair exactly once") {
    val rnd = new scala.util.Random(5)
    def mk(n: Int, tag: String) = (1 to n).map { i =>
      val lo = rnd.nextInt(5000).toLong
      (i.toLong, lo, lo + rnd.nextInt(600).toLong)
    }.toDF(s"${tag}id", s"${tag}lo", s"${tag}hi")
    // duplicate rows on the left: multiplicity must match the naive
    // theta-join exactly (each duplicate keeps its own matches — the old
    // full-row distinct() collapsed them)
    val a0 = mk(80, "a")
    val a = a0.union(a0.limit(5))
    val b = mk(80, "b")
    val naive = a.join(b,
      col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .select("aid", "bid")
    val got = graft.ops.RangeJoin
      .intervalOverlap(a, "alo", "ahi", b, "blo", "bhi", bucket = 300L)
      .select("aid", "bid")
    assert(got.count() === naive.count())
    assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty)
  }

  test("prefix sum equals driver reference, invariant to input layout") {
    val rnd = new scala.util.Random(17)
    val rows = rnd.shuffle((0 until 1000).toList)
      .map(i => (i.toLong, rnd.nextInt(50).toLong))
    // driver reference: exclusive prefix in id order
    val expected = {
      var a = 0L
      rows.sortBy(_._1).map { case (id, v) =>
        val r = (id, a); a += v; r }.toMap
    }
    for (parts <- Seq(1, 3, 16)) {
      val df = rows.toDF("id", "v").repartition(parts)
      val got = graft.ops.Prefix.runningOffsets(df, "id", "v")
        .select("id", "offset").as[(Long, Long)].collect().toMap
      assert(got === expected, s"input partitions=$parts")
    }
  }

  test("grouped prefix sum equals driver reference, invariant to layout") {
    val rnd = new scala.util.Random(23)
    val rows = rnd.shuffle((0 until 900).toList)
      .map(i => (i.toLong, s"g${i % 5}", rnd.nextInt(50).toLong))
    // driver reference: exclusive prefix within each group, id order
    val expected = rows.groupBy(_._2).flatMap { case (_, grp) =>
      var a = 0L
      grp.sortBy(_._1).map { case (id, _, v) =>
        val r = id -> a; a += v; r }
    }
    for (parts <- Seq(1, 3, 16)) {
      val df = rows.toDF("id", "g", "v").repartition(parts)
      val got = graft.ops.Prefix.runningOffsetsBy(df, "g", Seq("id"), "v")
        .select("id", "offset").as[(Long, Long)].collect().toMap
      assert(got === expected, s"input partitions=$parts")
    }
  }

  test("token-budget sample: greedy hash-order walk per group") {
    val docs = (0 until 200).map(i =>
      (i.toLong, s"s${i % 3}", 10L + i % 7)).toDF("id", "src", "toks")
    val budgets = Map("s0" -> 120L, "s1" -> 100000L) // s2 -> default 0
    val got = graft.ops.Sampling.tokenBudgetSample(
        docs, "id", "src", "toks", budgets, defaultBudget = 0L)
      .as[(Long, String, Long)].collect()
    // driver reference: same hash order, same greedy rule
    def score(id: Long): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val top = h.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      top.toDouble / 4294967296.0
    }
    val expected = docs.as[(Long, String, Long)].collect()
      .groupBy(_._2).toSeq.flatMap { case (src, grp) =>
        val budget = budgets.getOrElse(src, 0L)
        var acc = 0L
        grp.sortBy(r => (score(r._1), r._1)).filter { r =>
          val keep = acc < budget; acc += r._3; keep }.toSeq
      }.toSet
    assert(got.toSet === expected)
    // whole of s1 kept, s2 absent, s0 truncated
    assert(got.count(_._2 == "s1") == 67)
    assert(!got.exists(_._2 == "s2"))
    assert(got.count(_._2 == "s0") < 67 && got.exists(_._2 == "s0"))
  }

  test("incremental ANN pairs equal the full-corpus pairs touching the batch") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val isNew = (id: Long) => id % 6 == 0
    val corpusIdx = Similarity.annIndex(
      e.filter(col("vec_id") % 6 =!= 0), "vec_id", "embedding",
      tables = 8, planes = 6, dims = 64)
    val newIdx = Similarity.annIndex(
      e.filter(col("vec_id") % 6 === 0), "vec_id", "embedding",
      tables = 8, planes = 6, dims = 64)
    val got = Similarity.incrementalAnnPairs(corpusIdx, newIdx, 0.40)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val full = Similarity.annNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.40, tables = 8, planes = 6, dims = 64)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got === full.filter(p => isNew(p._1) || isNew(p._2)))
    assert(got.nonEmpty)
    assert(!got.exists(p => !isNew(p._1) && !isNew(p._2)))
  }

  test("semanticDedup keeps the smallest id of each duplicate group") {
    // 8 distinct directions, each duplicated 3x with ascending ids;
    // identical vectors always share a cluster, so exactly the smallest id
    // of each triple survives at a near-1 threshold
    val dirs = (0 until 8).map(j => Array.tabulate(8)(i =>
      if (i == j) 1.0f else 0.05f * ((i + j) % 3)))
    val vecs = (for {
      (dir, j) <- dirs.zipWithIndex
      c <- 0 until 3
    } yield ((c * 8 + j).toLong, dir.toSeq)).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(vecs, "vec_id", "embedding",
      k = 4, iters = 2, threshold = 0.999)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(kept === (0L until 8L).toSet)
  }

  test("kmeans on the fixture: clusters are seed ids, total assignment") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Similarity.kmeans(e, "vec_id", "embedding", k = 4, iters = 2)
      .as[(Long, Long)].collect()
    val seeds = e.select(col("vec_id").cast("long")).as[Long]
      .collect().sorted.take(4).toSet
    assert(out.length === e.count())
    assert(out.map(_._2).toSet.subsetOf(seeds))
  }

  test("kcenterSelect equals the plain-Scala greedy farthest-point fold") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = Similarity.kcenterSelect(e, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // independent reference: same quantization, brute-force greedy walk
    val pts = e.select(col("vec_id").cast("long"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long")))
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    def sq(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var chosen = Seq((1L, pts.head._1, 0L))
    var centers = Seq(pts.head)
    for (r <- 2 to 5) {
      val (bestId, bestVec, bestD) = pts
        .filterNot(p => centers.exists(_._1 == p._1))
        .map(p => (p._1, p._2, centers.map(c => sq(p._2, c._2)).min))
        .maxBy { case (id, _, d) => (d, -id) }
      chosen :+= ((r.toLong, bestId, bestD))
      centers :+= ((bestId, bestVec))
    }
    assert(got === chosen)
  }

  test("pcaPower finds a planted dominant axis, L-inf normalized") {
    // points hugging the (2,1) direction, tiny orthogonal jitter
    val pts = (1 to 40).map { i =>
      val s = if (i % 2 == 0) 1.0f else -1.0f
      val jit = (i % 5 - 2) * 0.01f
      (i.toLong, Seq(s * 2.0f + jit, s * 1.0f - 2 * jit))
    }.toDF("vec_id", "embedding")
    val v = Similarity.pcaPower(pts, "embedding", rounds = 6)
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    assert(v.map(math.abs).max === 1024L) // L-inf renorm invariant
    // dominant component ~2x the other, same sign
    val ratio = v(0).toDouble / v(1).toDouble
    assert(ratio > 1.9 && ratio < 2.1, s"ratio $ratio")
    // deterministic: a rerun is bit-identical
    val v2 = Similarity.pcaPower(pts, "embedding", rounds = 6)
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    assert(v.toSeq === v2.toSeq)
  }

  test("kcenterSelect rejects an unbounded k") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    intercept[IllegalArgumentException] {
      Similarity.kcenterSelect(e, "vec_id", "embedding", k = 1000)
    }
  }
}
