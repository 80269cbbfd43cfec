package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Sampling, Similarity, Stats, TextOps}
import graft.pipeline.StageTransform
import graft.sources.RawZone
import graft.meta.ColumnSpec

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("tokens/quality: deterministic integer-derived metrics") {
    val row = Seq("The quick brown fox! And the lazy dog?").toDF("text")
      .select(TextOps.tokenCount($"text").as("n"),
        TextOps.stopwordCount($"text", TextOps.EnglishStopwords).as("s"),
        TextOps.bpeishTokenCount($"text").as("b"))
      .collect().head
    assert(row.getAs[Int]("n") == 8)
    assert(row.getAs[Int]("s") == 3) // the, and, the
    assert(row.getAs[Int]("b") == 10) // 8 words + ! + ?
  }

  test("dup n-gram ratio: repetition scores high, unique prose zero") {
    val df = Seq(
      (1L, "a b c a b c a b c"),      // 7 trigrams, 3 distinct
      (2L, "one two three four five") // all unique
    ).toDF("doc_id", "text")
    val got = TextOps.dupNgramRatio(df, "doc_id", "text", 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((7L, 3L, 1.0 - 3.0 / 7.0)))
    assert(got(2L) == ((3L, 3L, 0.0)))
  }

  test("c4SentenceClean: terminal punct, min words, blacklist, min sentences") {
    val df = Seq(
      // 3 sentences: one good, one too short, one blacklisted; trailing
      // fragment has no terminal punctuation and is never extracted
      (1L, "This sentence is long enough. No! Enable JavaScript to view. tail"),
      // survives: two good sentences re-joined, trimmed
      (2L, "First valid sentence here. And a second valid one?"),
      // 2 kept of 3 (middle one is 2 words) — survives
      (3L, "Alpha beta gamma delta. Too short. One more proper sentence!"),
      (4L, null.asInstanceOf[String])) // no sentences -> dropped
      .toDF("doc_id", "text")
    val got = TextOps.c4SentenceClean(df, "doc_id", "text",
        minWords = 3, minSentences = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(!got.contains(1L) && !got.contains(4L)) // 1 kept / no sentences
    assert(got(2L) == ((2L, 2L,
      "First valid sentence here. And a second valid one?")))
    assert(got(3L) == ((3L, 2L,
      "Alpha beta gamma delta. One more proper sentence!")))
  }

  test("gopherRepetition: hand-computed line and n-gram char fractions") {
    val df = Seq((1L, "a b/a b/c d"), (2L, "one two three"))
      .toDF("doc_id", "text")
    val got = TextOps.gopherRepetition(df, "doc_id", "text",
        text => split(text, "/"), topN = 2, dupN = 3)
      .as[(Long, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // doc 1: lines [a b, a b, c d] -> 1/3 dup lines, 3/9 dup line chars;
    // bigrams over tokens [a b a b c d]: "a b"x2 + 3 singletons, 3 chars
    // each -> top 6/15; trigrams all distinct -> dup 0
    assert(got(1L) == ((3L, 0.333333, 0.333333, 0.4, 0.0)))
    // doc 2: one line; bigrams "one two"(7), "two three"(9) -> top 9/16
    assert(got(2L) == ((1L, 0.0, 0.0, math.floor(1e6 * 9 / 16.0) / 1e6, 0.0)))
  }

  test("curriculumBins: global deciles match row_number arithmetic") {
    val df = (1L to 10L).map(i => (i, i * 100)).toDF("id", "score")
    val got = Sampling.curriculumBins(df, Seq("score", "id"), bins = 3)
      .select("id", "bin").as[(Long, Long)].collect().toMap
    // rank r in 0..9 -> floor(r*3/10): first 4 rows bin 0, then 3, then 3
    val want = (1L to 10L).map(i => i -> ((i - 1) * 3 / 10)).toMap
    assert(got == want)
    // layout-invariant: a different input partitioning yields the same bins
    val re = Sampling.curriculumBins(df.repartition(7), Seq("score", "id"),
      bins = 3).select("id", "bin").as[(Long, Long)].collect().toMap
    assert(re == want)
  }

  test("duplicatedSpans: cross-doc island merge and within-doc repeats") {
    val df = Seq(
      (1L, "a b c d e f g h i j"), // shares c..j with doc 2
      (2L, "c d e f g h i j"),
      (3L, "x y z w v x y z w v") // within-doc repeat of a 5-token block
    ).toDF("doc_id", "text")
    val got = TextOps.duplicatedSpans(df, "doc_id", "text", n = 5, minSpan = 5)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1: dup 5-grams at positions 2..5 -> one span [2, len 8]; doc 2:
    // all four grams dup -> [0, 8]; doc 3: gram "x y z w v" at 0 and 5
    // (within-doc count 2) -> two 5-token spans, positions 0 and 5
    assert(got == Set((1L, 2L, 8L), (2L, 0L, 8L), (3L, 0L, 5L), (3L, 5L, 5L)))
  }

  test("cutDuplicatedSpans: spans removed, untouched docs intact") {
    val df = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "c d e f g h i j"),
      (3L, "x y z w v x y z w v"),
      (4L, "totally unique words here only")
    ).toDF("doc_id", "text")
    val got = TextOps.cutDuplicatedSpans(df, "doc_id", "text",
        n = 5, minSpan = 5)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("a b", 10L, 8L)))     // span [2,8] cut
    assert(got(2L) == (("", 8L, 8L)))         // whole doc duplicated
    assert(got(3L) == (("", 10L, 10L)))       // two 5-token spans cut
    assert(got(4L) == (("totally unique words here only", 5L, 0L)))
  }

  test("dsirResample: target-like documents outrank the rest") {
    val df = Seq(
      (1L, "t", "alpha beta alpha beta"),
      (2L, "t", "alpha beta alpha beta"),
      (3L, "c", "alpha beta alpha beta"), // target-LIKE non-target
      (4L, "c", "gamma delta gamma delta"),
      (5L, "c", "gamma delta gamma delta")
    ).toDF("doc_id", "source", "text")
    val got = Sampling.dsirResample(df, "doc_id", "text",
        isTarget = $"source" === "t", buckets = 64, topK = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L)) // the alpha-beta profile wins
  }

  test("langId: marker words and CJK routing") {
    val got = Seq(
      "the cat and the dog is here",
      "el perro y la casa de que",
      "der hund und die katze ist",
      "你好世界",
      "qqq zzz").toDF("text")
      .select(TextOps.langId($"text")).as[String].collect().toSeq
    assert(got == Seq("en", "es", "de", "zh", "und"))
  }

  test("rolling hash expression matches a reference fold and codegens") {
    val got = Seq("abc").toDF("t")
      .select(graft.plans.GraftExpressions.rolling_hash($"t"))
      .as[Long].collect().head
    val want = "abc".foldLeft(0L)((a, c) => (a * 31 + c) % 1000000000000000L)
    assert(got == want)
    // SQL form, installed with the session
    val viaSql = Seq("abc").toDF("t").selectExpr("graft_rolling_hash(t)")
      .as[Long].collect().head
    assert(viaSql == want)
  }

  test("lsh bucket expression matches a reference loop (float and double)") {
    val vec = Array.tabulate(8)(i => (i - 4) * 0.25f)
    var want = 0L
    for (p <- 0 until 5) {
      val acc = (0 until 8).map(d =>
        vec(d).toDouble * graft.plans.LshBucket.planeWeight(2, p, d)).sum
      if (acc >= 0) want |= 1L << p
    }
    val asFloat = Seq(Tuple1(vec)).toDF("v")
      .select(graft.plans.GraftExpressions.lsh_bucket($"v", 2, 5, 8))
      .as[Long].collect().head
    val asDouble = Seq(Tuple1(vec.map(_.toDouble))).toDF("v")
      .select(graft.plans.GraftExpressions.lsh_bucket($"v", 2, 5, 8))
      .as[Long].collect().head
    assert(asFloat == want && asDouble == want)
    // null vector -> null bucket
    val n = Seq(Tuple1(null: Array[Float])).toDF("v")
      .select(graft.plans.GraftExpressions.lsh_bucket($"v", 2, 5, 8))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("pq encode/adc expressions match a hand-rolled reference") {
    // 2 subspaces x 2 dims; codebooks chosen so assignments are unambiguous
    val books: Seq[Seq[Seq[Long]]] = Seq(
      Seq(Seq(0L, 0L), Seq(10L, 10L)),
      Seq(Seq(5L, 5L), Seq(-5L, -5L)))
    val df = Seq(Tuple1(Array(9L, 9L, -4L, -6L))).toDF("v")
    val codes = df.select(
        graft.plans.GraftExpressions.pq_encode($"v", books, 2))
      .as[Seq[Int]].collect().head
    assert(codes == Seq(1, 1)) // (9,9)->cw1 d=2 vs 162; (-4,-6)->cw1 d=2
    val tbl = df.select(
        graft.plans.GraftExpressions.pq_adc_table($"v", books, 2))
      .as[Seq[Seq[Long]]].collect().head
    assert(tbl == Seq(Seq(81L + 81L, 1L + 1L), Seq(81L + 121L, 1L + 1L)))
  }

  test("pqTopK: uncompressed codebooks reproduce exact L2 ranking") {
    // ksub >= |corpus| and iters = 0: every vector IS a codeword, so codes
    // reconstruct vectors exactly and ADC equals the true squared-L2 — the
    // PQ pipeline with zero quantization error must equal brute force.
    val vecs = (0 until 12).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5) * 0.5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(df, "vec_id", "embedding",
        df.filter($"vec_id" < 3), "vec_id", "embedding",
        k = 4, m = 4, ksub = 12, iters = 0, dims = 8)
      .select("query_id", "neighbor_id", "adc_dist", "rank")
      .as[(Long, Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)))
      .toMap
    // brute-force reference on the quantized grid
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.round(x * 1000.0)) }.toMap
    for (probe <- 0L until 3L) {
      val want = q.filter(_._1 != probe).map { case (id, v) =>
        (id, v.zip(q(probe)).map { case (a, b) =>
          (a - b) * (a - b) }.sum)
      }.toSeq.sortBy { case (id, d) => (d, id) }.take(4)
      assert(got(probe).toSeq == want, s"probe $probe")
    }
  }

  test("lofOutliers: planted line outlier scores highest; core ~1") {
    // all points are POSITIVE scalar multiples of one base direction, so
    // every hyperplane sign pattern is identical -> all points share all
    // LSH buckets (candidates guaranteed, no hash luck involved), and the
    // geometry is a 1-D line: 8 core points spaced 0.1 apart plus one
    // outlier far down the same ray
    def v(c: Double) = Array.tabulate(64)(d =>
      if (d == 0) (1.0 * c).toFloat else if (d == 1) (2.0 * c).toFloat
      else 0.0f)
    val pts = (0 until 8).map(i => (i.toLong, v(0.9 + 0.1 * i))) :+
      (99L, v(5.0))
    val got = Similarity.lofOutliers(pts.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got.size == 9) // everyone has candidates by construction
    val core = got.filter(_._1 != 99L).values
    // core points sit in a roughly uniform 1-D neighborhood: LOF near 1
    assert(core.forall(l => l > 500000L && l < 3000000L), got)
    // the outlier dominates every core point by a wide margin
    assert(got(99L) > 5000000L && got(99L) > core.max * 3, got)
  }

  test("mutualKnnPairs: line fixture keeps only the one mutual 1-NN pair") {
    // same all-one-ray construction as the LOF spec (buckets shared by
    // all points). k = 1 on the 0.9..1.6 line + far outlier: 0's nearest
    // is 1; 1's nearest ties between 0 and 2 and the (d2, id) order picks
    // 0 -> (0,1) is mutual. Every interior point's nearest is its LEFT
    // neighbor (same tie rule), whose own nearest is further left -> no
    // other pair is mutual, and the outlier's nearest (7) doesn't
    // reciprocate.
    def v(c: Double) = Array.tabulate(64)(d =>
      if (d == 0) (1.0 * c).toFloat else if (d == 1) (2.0 * c).toFloat
      else 0.0f)
    val pts = (0 until 8).map(i => (i.toLong, v(0.9 + 0.1 * i))) :+
      (99L, v(5.0))
    val pairs = Similarity.mutualKnnPairs(
        pts.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 1)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("ivfPqTopK: one list + uncompressed codebooks equal exact L2") {
    // nlist = 1 (all residuals share the anchor), ksub >= |corpus|,
    // iters = 0: residual ADC must equal true squared-L2 between originals.
    val vecs = (0 until 12).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 5 + d * 7) % 13 - 6) * 0.25f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.ivfPqTopK(df, "vec_id", "embedding",
        df.filter($"vec_id" < 3), "vec_id", "embedding",
        k = 4, nlist = 1, nprobe = 1, m = 4, ksub = 12, iters = 0, dims = 8)
      .select("query_id", "neighbor_id", "adc_dist", "rank")
      .as[(Long, Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)))
      .toMap
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.round(x * 1000.0)) }.toMap
    for (probe <- 0L until 3L) {
      val want = q.filter(_._1 != probe).map { case (id, v) =>
        (id, v.zip(q(probe)).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.toSeq.sortBy { case (id, d) => (d, id) }.take(4)
      assert(got(probe).toSeq == want, s"probe $probe")
    }
  }

  test("exact dedup keeps one row per distinct content") {
    val df = Seq((1L, "Hello World"), (2L, "hello, world!"), (3L, "other"))
      .toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L)) // 2 normalizes identically to 1
  }

  test("jaccard pairs find the planted near-dups and respect threshold") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 5,
      threshold = 0.7, maxDf = 10).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.7))
  }

  test("shingle cap: no-op above set sizes; bottom-k finds exact dups") {
    val base = Dedup.jaccardPairs(docs, "doc_id", "text", n = 5,
      threshold = 0.7, maxDf = 10).as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    // a cap above every doc's set size must change nothing, bit-for-bit
    val nocap = Dedup.jaccardPairs(docs, "doc_id", "text", n = 5,
      threshold = 0.7, maxDf = 10, maxShingles = 1 << 20).as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(base.nonEmpty && nocap == base)
    // bottom-k sketches of IDENTICAL docs are identical -> jaccard exactly 1
    val text = (1 to 60).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text), (2L, text),
      (3L, "something else entirely differing " + (1 to 40).map(i => s"x$i").mkString(" ")))
      .toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(df, "doc_id", "text", n = 5,
      threshold = 0.9, maxDf = 10, maxShingles = 4).as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(capped.map(p => (p._1, p._2, p._6)) == Set((1L, 2L, 1.0)))
  }

  test("ppjoin equals uncapped ground truth and survives hot shingles") {
    // set-equality with the UNCAPPED candidate generation (maxDf = MaxValue
    // admits every shingle with df >= 2, which is complete: a pair with
    // J > 0 shares at least one shingle of df >= 2)
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", n = 5,
        threshold = 0.7, maxDf = Int.MaxValue)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val got = Dedup.ppjoinPairs(docs, "doc_id", "text", n = 5,
        threshold = 0.7)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(truth.nonEmpty && got == truth)
    // four identical docs: every shared shingle has df = 4, so a df-capped
    // candidate filter (maxDf = 3) misses all six pairs; the prefix filter
    // is lossless and must return them all
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val hot = (1L to 4L).map(i => (i, text)).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(hot, "doc_id", "text", n = 5,
      threshold = 0.9, maxDf = 3).count()
    val pp = Dedup.ppjoinPairs(hot, "doc_id", "text", n = 5, threshold = 0.9)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(capped == 0L)
    assert(pp == Set((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L)))
  }

  test("ppjoin losslessness holds on seeded random hot-vocab corpora") {
    // tiny vocabulary -> heavily shared shingles: exactly the regime where
    // the df-capped candidate filter goes blind and the prefix bound must
    // not. Includes sub-n docs (whole-text fallback shingle).
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val vocab = (1 to 12).map(i => s"t$i")
      val data = (1L to 40L).map { id =>
        val len = 1 + rnd.nextInt(25)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val docs = data.toDF("doc_id", "text")
      val truth = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
          threshold = 0.5, maxDf = Int.MaxValue)
        .select("doc1", "doc2").as[(Long, Long)].collect().toSet
      val got = Dedup.ppjoinPairs(docs, "doc_id", "text", n = 3,
          threshold = 0.5)
        .select("doc1", "doc2").as[(Long, Long)].collect().toSet
      assert(got == truth, s"trial $trial: got ${got.size}, " +
        s"truth ${truth.size}, missing ${truth -- got}")
    }
  }

  test("minhash LSH candidates recall the true jaccard pairs") {
    val truth = Dedup.jaccardPairs(docs, "doc_id", "text", n = 5,
        threshold = 0.8, maxDf = 10)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 5, k = 12, bands = 4, threshold = 0.8)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    val recall = (truth & mh).size.toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall over ${truth.size} pairs")
  }

  test("incremental dedup equals the full-corpus pairs touching the batch") {
    val isNew = (id: Long) => id % 7 == 0
    val corpusIdx = Dedup.minhashIndex(
      docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", n = 5, k = 12)
    val newIdx = Dedup.minhashIndex(docs.filter(col("doc_id") % 7 === 0),
      "doc_id", "text", n = 5, k = 12)
    val got = Dedup.incrementalNearDups(corpusIdx, newIdx,
        k = 12, bands = 4, threshold = 0.8)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    // the invariant: full-corpus LSH pairs filtered to a new side
    val full = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 5, k = 12, bands = 4, threshold = 0.8)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    val want = full.filter(p => isNew(p._1) || isNew(p._2))
    assert(got === want)
    assert(got.nonEmpty, "fixture should produce at least one delta pair")
    // nothing corpus-vs-corpus leaks in
    assert(!got.exists(p => !isNew(p._1) && !isNew(p._2)))
  }

  test("simhash aggregate: majority rule, ties drop the bit, SQL-callable") {
    // hashes 5 (0b101) and 7 (0b111): bit0 2-0 set, bit1 1-1 TIE -> unset,
    // bit2 2-0 set => 0b101
    val df = Seq((1L, 5L), (1L, 7L)).toDF("id", "h")
    val got = df.groupBy("id")
      .agg(graft.plans.GraftExpressions.simhash_agg($"h").as("s"))
      .select("s").as[Long].head()
    assert(got == 5L)
    df.createOrReplaceTempView("simhash_agg_t")
    val viaSql = spark.sql(
      "SELECT graft_simhash_agg(h) FROM simhash_agg_t GROUP BY id")
      .as[Long].head()
    assert(viaSql == 5L)
  }

  test("sampling: hash sample is partitioning-invariant; quotas respected") {
    val docs = (1L to 400L).toDF("doc_id")
      .withColumn("lang", when(col("doc_id") % 4 === 0, "en").otherwise("es"))
    val a = graft.ops.Sampling.hashSample(docs, "doc_id", 0.25)
      .select("doc_id").as[Long].collect().toSet
    val b = graft.ops.Sampling.hashSample(docs.repartition(7), "doc_id", 0.25)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty && a.size < 400) // decision rides on the id,
    assert(math.abs(a.size - 100) < 40)          // not on partition layout

    val s = graft.ops.Sampling.stratifiedSample(docs, "lang", "doc_id", 30)
    val byLang = s.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang == Map("en" -> 30L, "es" -> 30L))
    val s2 = graft.ops.Sampling
      .stratifiedSample(docs.repartition(5), "lang", "doc_id", 30)
    assert(s.select("doc_id").as[Long].collect().toSet ==
      s2.select("doc_id").as[Long].collect().toSet)

    // data mixing: per-key rates honored; mixture of the SAME ids a plain
    // hash sample at that rate would keep (one shared score per id)
    val m = graft.ops.Sampling.mixtureSample(docs, "doc_id", "lang",
      Map("en" -> 1.0), defaultRate = 0.25)
    val mEn = m.filter($"lang" === "en").select("doc_id").as[Long].collect()
    assert(mEn.length == 100) // rate 1.0 keeps every en row
    val mEs = m.filter($"lang" === "es").select("doc_id").as[Long]
      .collect().toSet
    assert(mEs == graft.ops.Sampling.hashSample(docs, "doc_id", 0.25)
      .filter($"lang" === "es").select("doc_id").as[Long].collect().toSet)
  }

  test("components: chains collapse to min-id; canonical dedup keeps one") {
    // chain 1-2-3 (near-dup is not transitive: 1~3 never paired directly),
    // plus the separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val comps = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))

    val docs = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id") // 99 unpaired
    val kept = Dedup.componentDedup(docs, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 99L))
  }

  test("componentDedupBy: keeps the best-scoring member, ties to min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 7L), // chain: 2 wins on score
        (10L, 4L), (11L, 4L), // tie: 10 wins on id
        (99L, 1L)) // unpaired: always kept
      .toDF("doc_id", "quality")
    val kept = Dedup.componentDedupBy(docs, "doc_id", "quality", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 10L, 99L))
    // min-id policy (componentDedup) differs on the same input: keeps 1
    val minId = Dedup.componentDedup(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 10L, 99L))
  }

  test("bloom contamination flags the exact overlap set (no false negatives)") {
    val corpus = docs.filter($"doc_id" % 20 =!= 0)
    val bench = docs.filter($"doc_id" % 20 === 0)
    // ground truth under bloom's semantics: distinct corpus grams that
    // appear anywhere in the benchmark gram set, counted once per doc
    val bg = Dedup.shingleTable(bench, "doc_id", "text", 8)
      .select("shingle").na.drop().distinct()
    val exact = Dedup.shingleTable(corpus, "doc_id", "text", 8)
      .join(bg, "shingle").groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val bloom = Dedup.bloomContamination(corpus, "doc_id", "text",
        bench, "doc_id", "text", n = 8, mBits = 1 << 20, k = 4)
      .as[(Long, Long)].collect().toMap
    // Bloom may only ADD deterministic false positives, never lose a hit;
    // at 2^20 bits over this benchmark the fp odds are ~1e-7 per gram, so
    // the sets coincide (and the filter is md5-pure: this can never flake)
    assert(exact.keySet.subsetOf(bloom.keySet))
    assert(bloom == exact, "unexpected false positive at test scale")
    // shrink the filter to force collisions: still no false negatives
    val tiny = Dedup.bloomContamination(corpus, "doc_id", "text",
        bench, "doc_id", "text", n = 8, mBits = 256, k = 2)
      .as[(Long, Long)].collect().toMap
    assert(exact.keySet.subsetOf(tiny.keySet))
    exact.foreach { case (id, n) => assert(tiny(id) >= n) }
  }

  test("components throws loudly when the chain outruns maxIter") {
    // a 6-link path needs ~6 min-propagation rounds; maxIter=2 must THROW
    // (silently split components hash plausibly — the q_emb_mutual_knn
    // sf1 lesson), and componentsStar must still solve it
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.components(path, maxIter = 2).collect()
    }
    assert(e.getMessage.contains("componentsStar"))
    val star = graft.ops.Dedup.componentsStar(path)
      .as[(Long, Long)].collect().toMap
    assert(star.values.toSet == Set(1L) && star.keySet == (1L to 7L).toSet)
  }

  test("components: exact-boundary convergence does not throw (r11 fix)") {
    // A 7-node path's min label reaches the far end in round 6 — the
    // LAST allowed round at maxIter=6, where `changed` is still > 0.
    // Convergence is only observable one round later, so the guard runs
    // one confirmation round instead of raising (the round-10 form threw
    // spuriously here — ADVICE r10). The result must still be exact.
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val comps = graft.ops.Dedup.components(path, maxIter = 6)
      .as[(Long, Long)].collect().toMap
    assert(comps.values.toSet == Set(1L) && comps.keySet == (1L to 7L).toSet)
  }

  test("components evaluates its pair input exactly once") {
    // the r5 regression: the undirected-edge union referenced the pairs
    // plan twice, re-running the entire upstream LSH pipeline per
    // direction. Count evaluations with an accumulator inside the plan —
    // exactly one pass over the 3 pair rows, not two.
    val evals = spark.sparkContext.longAccumulator("pair_evals")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
      .mapPartitions { it => it.map { r => evals.add(1); r } }(
        org.apache.spark.sql.Encoders.row(
          Seq((1L, 2L)).toDF("doc1", "doc2").schema))
    val comps = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(evals.value == 3L,
      s"pair input evaluated ${evals.value}/3 times — upstream pipeline re-run")
  }

  test("imageAHash: decoded-pixel hash equals the pixel-formula replay") {
    import graft.ops.Multimodal
    val ids = (0L until 60L).toDS()
    val pngs = ids.map(id => (id, Multimodal.syntheticPngFamily(id, 32, 24)))
    val got = Multimodal.imageAHash(pngs).collect()
      .map(r => r.media_id -> r.ahash).toMap
    // independent replay from the generator formula — no codec involved
    def expected(id: Long): Long = {
      val luma = (0 until 64).map { i =>
        val sx = (i & 7) * 32 / 8; val sy = (i >> 3) * 24 / 8
        val fam = id / 10
        val r = (sx * 255 / 31 + (fam % 7) * 36) % 256
        val g = (sy * 255 / 23 + (fam % 11) * 23) % 256
        val base = ((sx + sy + fam) % 8) * 32
        val b = if (sy == id % 24) 255 - base else base
        (r * 299L + g * 587L + b * 114L) / 1000L
      }
      val tot = luma.sum
      (0 until 64).foldLeft(0L)((h, i) =>
        if (luma(i) * 64 > tot) h | (1L << i) else h)
    }
    (0L until 60L).foreach(id => assert(got(id) == expected(id), s"id $id"))
    // family siblings whose perturbed row misses the sampling grid are
    // hamming-0 near-dups; the fixture must produce SOME close pairs
    val sigs = got.values.toSeq
    assert(sigs.distinct.size < sigs.size)
  }

  test("ahash blocked pairs equal brute force (64-bit, sign bit set)") {
    import graft.ops.Multimodal
    val pngs = (0L until 80L).toDS()
      .map(id => (id, Multimodal.syntheticPngFamily(id, 32, 24)))
    val sig = Multimodal.imageAHash(pngs).toDF()
      .select($"media_id".as("doc_id"), $"ahash".as("simhash"))
    // some signature must exercise bit 63 for the sign-safety claim
    assert(sig.filter($"simhash" < 0).count() > 0)
    val truth = sig.as("a").join(sig.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("long").as("h"))
      .filter($"h" <= 3).as[(Long, Long, Long)].collect().toSet
    val got = Dedup.hammingNearDups(sig, bits = 64, maxHamming = 3,
        blocks = 6, maxBucket = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(truth.nonEmpty && got == truth)
  }

  test("audioEnergyHash: decoded-sample hash equals the wave-formula replay") {
    import graft.ops.Multimodal
    val ids = (0L until 60L).toDS()
    val wavs = ids.map(id => (id, Multimodal.syntheticWavFamily(id, 16000)))
    val got = Multimodal.audioEnergyHash(wavs).collect()
      .map(r => r.media_id -> r.ehash).toMap
    def expected(id: Long): Long = {
      val fam = id / 10
      val amp = 6000 + (fam % 50).toInt * 50
      val per = 32 + (fam % 5).toInt * 16
      val phase = (fam % 97).toInt
      val cut0 = (id % 61).toInt * 32
      val e = new Array[Long](65)
      for (i <- 0 until 2080) {
        val s = if (i >= cut0 && i < cut0 + 64) 0 else {
          val j = i + phase
          val ph = j % per
          val tri = if (ph < per / 2) ph else per - ph
          tri * 2 * amp / per * (if ((j / per) % 2 == 0) 1 else -1)
        }
        e(i / 32) += math.abs(s)
      }
      (0 until 64).foldLeft(0L)((h, f) =>
        if (e(f) > e(f + 1)) h | (1L << f) else h)
    }
    (0L until 60L).foreach(id => assert(got(id) == expected(id), s"id $id"))
    // family siblings (same wave, different cut) must be near, not equal,
    // in general — the fixture has to produce a non-degenerate hash set
    assert(got.values.toSeq.distinct.size > 5)
  }

  test("audio blocked pairs equal brute force over energy hashes") {
    import graft.ops.Multimodal
    val wavs = (0L until 80L).toDS()
      .map(id => (id, Multimodal.syntheticWavFamily(id, 16000)))
    val sig = Multimodal.audioEnergyHash(wavs).toDF()
      .select($"media_id".as("doc_id"), $"ehash".as("simhash"))
    val truth = sig.as("a").join(sig.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("long").as("h"))
      .filter($"h" <= 3).as[(Long, Long, Long)].collect().toSet
    val got = Dedup.hammingNearDups(sig, bits = 64, maxHamming = 3,
        blocks = 6, maxBucket = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(truth.nonEmpty && got == truth)
  }

  test("simhash blocked search equals brute-force all-pairs hamming") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
    assert(sh.count() == docs.count())
    // Manku blocks guarantee exact recall for maxHamming < blocks, so the
    // result must EQUAL the quadratic all-pairs join (fine at test scale)
    val truth = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast("long").as("h"))
      .filter($"h" <= 3).as[(Long, Long, Long)].collect().toSet
    val got = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(truth.nonEmpty && got == truth)
  }

  test("simhash bucket cap drops oversized clusters, keeps small pairs") {
    val big = (1L to 5L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
    val small = Seq((11L, "totally different words entirely unrelated here"),
      (12L, "totally different words entirely unrelated here"))
    val df = (big ++ small).toDF("doc_id", "text")
    // 5 identical docs fill every (table, key) bucket to 5 > cap=3: pruned;
    // the pair of identical docs (bucket size 2) survives
    val got = Dedup.simhashNearDups(df, "doc_id", "text",
        maxHamming = 3, maxBucket = 3)
      .select("doc1", "doc2").as[(Long, Long)].collect().toSet
    assert(got == Set((11L, 12L)))
  }

  test("brute-force topk is exact and deterministic") {
    val top = Similarity.cosineTopK(emb, "vec_id", "embedding",
      emb.filter($"vec_id" < 3), "vec_id", "embedding", k = 4)
    val rows = top.collect()
    assert(rows.length == 12)
    // rank 1 must have max cosine per query
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Double]("cosine")).toSeq ==
        rs.map(_.getAs[Double]("cosine")).sorted.reverse.toSeq)
    }
  }

  test("ann lsh rank-1 mostly agrees with brute force (recall check)") {
    val probes = emb.filter($"vec_id" < 20)
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", probes,
        "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // this corpus's nearest neighbors sit at cosine ~0.3-0.45 (driver data is
    // near-orthogonal), where hyperplane collision odds are (1 - theta/pi)^p
    // — so use few planes per table; more planes = smaller buckets but lower
    // recall at low similarity. 4 planes x 8 tables => ~75% expected recall.
    val ann = Similarity.annLsh(emb, "vec_id", "embedding", probes,
        "vec_id", "embedding", k = 1, tables = 8, planes = 4, dims = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, n) => ann.get(q).contains(n) }
    assert(hits >= brute.size / 2,
      s"ANN top-1 recall $hits/${brute.size} too low")
  }

  test("ann ivf: exact within probed lists, decent rank-1 recall") {
    val probes = emb.filter($"vec_id" < 20)
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", probes,
        "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val ivf = Similarity.annIvf(emb, "vec_id", "embedding", probes,
      "vec_id", "embedding", k = 4, nlist = 8, nprobe = 3)
    val rows = ivf.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Int]("rank") <= 4))
    // ranks are contiguous from 1 and cosines non-increasing per query
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ==
        (1 to rs.length).toSeq)
      val cos = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cos == cos.sorted.reverse)
    }
    // probing 3 of 8 lists: most true rank-1 neighbors are found
    val top1 = rows.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    val hits = brute.count { case (q, n) => top1.get(q).contains(n) }
    assert(hits >= brute.size / 2,
      s"IVF top-1 recall $hits/${brute.size} too low")
  }

  test("ann ivf cosines are exact: every reported pair matches brute force") {
    val probes = emb.filter($"vec_id" < 3)
    // brute force with k covering the whole corpus = ground-truth cosine
    // for EVERY (query, neighbor) pair
    val truth = Similarity.cosineTopK(emb, "vec_id", "embedding", probes,
        "vec_id", "embedding", k = 100000)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Similarity.annIvf(emb, "vec_id", "embedding", probes,
        "vec_id", "embedding", k = 5, nlist = 8, nprobe = 2)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, n, c) =>
      assert(truth((q, n)) == c, s"pair ($q,$n) cosine drifted") }
  }

  test("ivf assign: zero vectors take the min centroid id; generic ids work") {
    // all cosines NaN (zero-norm vector): must match the ordered replay
    // (NULLS LAST, tie on id) = smallest centroid id — not a sentinel
    val cents = new graft.plans.IvfAssign.Cents(
      Array(7L, 3L), Array(Array(1L, 0L), Array(0L, 1L)), Array(1L, 1L))
    val zero = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(0L, 0L))
    assert(graft.plans.IvfAssign.assign(zero, cents) == 3L)
    // non-bigint id corpus routes through the struct path, not a crash
    val e32 = emb.withColumn("vid32", $"vec_id".cast("int"))
    val got = Similarity.annIvf(e32, "vid32", "embedding",
      e32.filter($"vid32" < 3), "vid32", "embedding",
      k = 2, nlist = 4, nprobe = 2)
    assert(got.count() > 0)
  }

  test("contamination pairs: containment math, minShared gate, no self-hits") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight"), // disjoint
      (3L, "alpha beta gamma delta epsilon zeta eta theta") // exact prefix
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta")) // 8 tokens = 1 8-gram... use n=3
      .toDF("doc_id", "text")
    val got = Dedup.contaminationPairs(corpus, "doc_id", "text",
        bench, "doc_id", "text", n = 3, minShared = 2)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // bench doc has 6 distinct trigrams; doc 1 contains all 6, doc 3 all 6
    assert(got.keySet == Set((1L, 100L), (3L, 100L)))
    assert(got((1L, 100L)) == ((6L, 6L, 1.0)))
    assert(got((3L, 100L)) == ((6L, 6L, 1.0)))
    // raising minShared above the overlap empties the result
    assert(Dedup.contaminationPairs(corpus, "doc_id", "text",
      bench, "doc_id", "text", n = 3, minShared = 7).count() == 0)
  }

  test("kmv sketch: exact under k, partition-invariant, dup-proof, accurate") {
    import graft.plans.GraftExpressions
    val df = (1 to 500).map(i => s"val_$i").toDF("w")
      .withColumn("h", conv(substring(md5($"w".cast("binary")), 1, 15),
        16, 10).cast("long"))
    def est(d: org.apache.spark.sql.DataFrame, k: Int): Double =
      d.agg(GraftExpressions.kmv_distinct(col("h"), k)).head().getDouble(0)
    assert(est(df.limit(10), 16) == 10.0) // below k: the sketch IS exact
    // merge correctness: the estimate cannot depend on partitioning
    val e1 = est(df.repartition(1), 64)
    assert(est(df.repartition(7), 64) == e1)
    // distinctness: duplicated input changes nothing
    assert(est(df.union(df).repartition(5), 64) == e1)
    // k=64 standard error ~ 1/sqrt(62) ~ 13%; allow 3 sigma
    assert(math.abs(e1 - 500) / 500.0 < 0.4, s"estimate $e1 too far from 500")
  }

  test("md5_prefix60 == conv(substr(md5,1,15),16,10); null-safe") {
    import graft.plans.GraftExpressions
    val df = ((1 to 200).map(i => s"v$i") :+ null).toDF("w")
    val bad = df.select(
      GraftExpressions.md5_prefix60($"w").as("fast"),
      conv(substring(md5($"w".cast("binary")), 1, 15), 16, 10)
        .cast("long").as("ref"))
      .filter(!($"fast" <=> $"ref")).count()
    assert(bad == 0)
  }

  test("quantilesDisc: exact percentile_disc semantics per group") {
    val df = Seq(("a", 1), ("a", 2), ("a", 2), ("a", 5), ("b", 10))
      .toDF("g", "x")
    val got = Stats.quantilesDisc(df, Seq("g"), "x", Seq(0.5, 1.0))
      .as[(String, Double, Int, Long, Long)].collect().toSet
    // a: n=4 -> rank 2 (q=.5) lands inside the duplicated 2-cell; rank 4 -> 5
    // b: n=1 -> rank clamps to 1 for both q
    assert(got == Set(("a", 0.5, 2, 2L, 4L), ("a", 1.0, 5, 4L, 4L),
      ("b", 0.5, 10, 1L, 1L), ("b", 1.0, 10, 1L, 1L)))
  }

  test("profileColumnsSketch (xxhash64): same shape, accurate, exact below k") {
    val df = (1 to 1000).map(i => (i.toLong, i % 7)).toDF("id", "grp")
    val got = Stats.profileColumnsSketch(df, Seq("id", "grp"), sketchK = 128)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("id", "grp"))
    // grp: 7 distinct < k — the sketch is exact
    assert(got("grp").getDouble(3) == 7.0)
    // id: 1000 distinct, k=128 — std err ~ 1/sqrt(126) ~ 9%; allow 4 sigma
    val est = got("id").getDouble(3)
    assert(math.abs(est - 1000) / 1000.0 < 0.36, s"estimate $est off 1000")
    // partition-invariant (map-side combinable) like the md5 variant
    val a = Stats.profileColumnsSketch(df.repartition(1), Seq("id"), 128)
      .head().getDouble(3)
    val b = Stats.profileColumnsSketch(df.repartition(7), Seq("id"), 128)
      .head().getDouble(3)
    assert(a == b)
  }

  test("cms sketch: upper bound, partition-invariant, additive under union") {
    // skewed corpus: val_i appears i times (1..40), 820 occurrences total
    val df = (1 to 40).flatMap(i => Seq.fill(i)(s"val_$i")).toDF("w")
    def sketchOf(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      TextOps.cmsSketch(d, "w", depth = 4, width = 64)
        .head().getSeq[Long](0)
    // merge correctness: the counter array cannot depend on partitioning
    val s1 = sketchOf(df.repartition(1))
    assert(sketchOf(df.repartition(7)) == s1)
    // every counter counts occurrences: totals per row equal corpus size
    (0 until 4).foreach { t =>
      assert(s1.slice(t * 64, (t + 1) * 64).sum == 820L)
    }
    // doubling the corpus doubles every counter (addition commutes)
    assert(sketchOf(df.union(df)) == s1.map(_ * 2))
    // point estimates: always >= the true count, and with 40 keys in
    // 4x64 counters the heavy hitter is exact with overwhelming odds
    val est = df.distinct()
      .crossJoin(broadcast(TextOps.cmsSketch(df, "w", 4, 64)))
      .select($"w", TextOps.cmsEstimate($"sketch", $"w", 4, 64).as("e"))
      .as[(String, Long)].collect().toMap
    (1 to 40).foreach { i =>
      assert(est(s"val_$i") >= i.toLong, s"val_$i underestimated")
    }
  }

  test("misra-gries: exact below k, guaranteed superset + lower bounds above") {
    import graft.plans.GraftExpressions
    def summary(d: org.apache.spark.sql.DataFrame, k: Int): Map[String, Long] =
      d.agg(GraftExpressions.misra_gries($"w", k).as("mg"))
        .select(explode($"mg").as("c")).select($"c.item", $"c.lb")
        .as[(String, Long)].collect().toMap
    // distinct <= k: no decrement can ever fire, so the summary IS the
    // exact count map, under any partitioning
    val small = (1 to 30).flatMap(i => Seq.fill(i)(s"v$i")).toDF("w")
    val exactSmall = (1 to 30).map(i => s"v$i" -> i.toLong).toMap
    assert(summary(small.repartition(1), 64) == exactSmall)
    assert(summary(small.repartition(7), 64) == exactSmall)
    // under pressure: 2 heavy items in a sea of 1000 singletons, k=15
    // error bound N/(k+1) = 1800/16 = 112.5 < both heavy counts
    val heavy = Seq.fill(500)("hh_a") ++ Seq.fill(300)("hh_b") ++
      (1 to 1000).map(i => s"noise_$i")
    val n = heavy.size.toLong
    val truth = Map("hh_a" -> 500L, "hh_b" -> 300L)
    for (parts <- Seq(1, 4, 13)) {
      val got = summary(heavy.toDF("w").repartition(parts), 15)
      assert(got.size <= 15)
      truth.foreach { case (item, cnt) =>
        val lb = got.getOrElse(item,
          fail(s"$item (freq $cnt > N/(k+1)) missing at parts=$parts"))
        assert(lb <= cnt && cnt - lb <= n / 16 + 1,
          s"$item lb=$lb outside [${cnt - n / 16 - 1}, $cnt]")
      }
      // every reported count is a lower bound on some true count
      got.foreach { case (item, lb) =>
        val t = truth.getOrElse(item, 1L)
        assert(lb <= t, s"$item lb=$lb exceeds true $t")
      }
    }
  }

  test("heavyHitters: bit-equal to the naive GROUP BY under any partitioning") {
    // zipf-ish: val_i appears i*i times (i in 1..25) -> N = 5525
    val rows = (1 to 25).flatMap(i => Seq.fill(i * i)(s"val_$i"))
    val expected = {
      val n = rows.size
      (1 to 25).filter(i => i * i * 20 > n).map(i => s"val_$i" -> (i * i).toLong)
    }.toMap
    assert(expected.nonEmpty)
    for (parts <- Seq(1, 3, 11)) {
      val got = TextOps.heavyHitters(
          rows.toDF("w").repartition(parts), "w", k = 19, support = 20)
        .as[(String, Long)].collect().toMap
      assert(got == expected, s"parts=$parts")
    }
    // k below vocab (25) but >= support-1: still exact, by the MG bound
    val got2 = TextOps.heavyHitters(rows.toDF("w"), "w", 19, 20)
    assert(got2.columns.toSeq == Seq("w", "n_exact"))
  }

  test("heavyHittersBy: per-group answers equal the per-group naive") {
    // group a: zipf-ish (val_i x i*i, i<=12); group b: one dominant value
    val rows = (1 to 12).flatMap(i => Seq.fill(i * i)(("a", s"val_$i"))) ++
      (Seq.fill(40)(("b", "hot")) ++ (1 to 30).map(i => ("b", s"cold_$i")))
    val expected = {
      val byG = rows.groupBy(_._1)
      byG.flatMap { case (g, rs) =>
        val n = rs.size
        rs.groupBy(_._2).collect {
          case (v, vs) if vs.size * 8 > n => (g, v, vs.size.toLong)
        }
      }.toSet
    }
    assert(expected.nonEmpty && expected.exists(_._1 == "b"))
    for (parts <- Seq(1, 5)) {
      val got = TextOps.heavyHittersBy(
          rows.toDF("g", "w").repartition(parts), "g", "w",
          k = 7, support = 8)
        .as[(String, String, Long)].collect().toSet
      assert(got == expected, s"parts=$parts")
    }
  }

  test("cdcContainment: recrawl-with-new-prefix flags high, novel doc zero") {
    val common = (1 to 120).map(i => s"w${i % 29}tok").mkString(" ")
    val corpus = Seq((1L, common)).toDF("doc_id", "text")
    val incoming = Seq(
        (10L, s"fresh banner added today $common"), // recrawl
        (11L, (1 to 60).map(i => s"novel${i}z").mkString(" "))) // new page
      .toDF("doc_id", "text")
    val got = TextOps.cdcContainment(incoming, corpus, "doc_id", "text",
        w = 4, divisor = 16)
      .select($"doc_id", $"n_chunks", $"n_dup", $"dup_frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, n10, d10, f10) = got(10L)
    // all but the first chunk(s) of the recrawl are already held
    assert(d10 >= n10 - 2 && f10 > 0.5, s"recrawl under-flagged: $got")
    assert(got(11L)._3 == 0L && got(11L)._4 == 0.0)
  }

  test("cdcChunks: content-defined boundaries are offset-invariant; lossless") {
    val common = (1 to 80).map(i => s"w${i % 23}tok").mkString(" ")
    val df = Seq((1L, common), (2L, s"spliced prefix junk $common"),
        (3L, "shortdoc"), (4L, ""), (5L, null))
      .toDF("doc_id", "text")
    val ch = TextOps.cdcChunks(df, "doc_id", "text", w = 4, divisor = 16)
      .select($"doc_id", $"chunk_idx", $"chunk", $"chunk_hash")
      .as[(Long, Int, String, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // lossless: chunks reassemble to the tokenized text, in order
    assert(ch(1L).map(_._3).mkString(" ") == common)
    assert(ch(3L).map(_._3).toSeq == Seq("shortdoc")) // < w tokens: one chunk
    assert(!ch.contains(4L) && !ch.contains(5L)) // empty/null: no chunks
    // offset invariance: a spliced prefix may change the FIRST chunk only;
    // every later chunk of the original reappears verbatim in the spliced
    // doc (fixed-stride tiles would lose all of them — 3-token shift)
    val origTail = ch(1L).drop(1).map(_._4)
    assert(origTail.nonEmpty, "fixture text produced no interior cut")
    val spliced = ch(2L).map(_._4).toSet
    origTail.foreach(h => assert(spliced.contains(h), s"lost chunk $h"))
  }

  test("classifierScore: margin is the exact hashed-weight fold") {
    def w(t: String): Long = {
      val h = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15), 16)
      h % 2001L - 1000L
    }
    val df = Seq((1L, "Alpha beta alpha!"), (2L, ""), (3L, null))
      .toDF("doc_id", "text")
    val got = TextOps.classifierScore(df, "text")
      .select($"doc_id", $"margin", $"n_toks", $"keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val m1 = 2 * w("alpha") + w("beta")
    assert(got(1L) == ((m1, 3L, m1 > 0)))
    assert(got(2L) == ((0L, 0L, false))) // empty text: zero-margin reject
    assert(got(3L) == ((0L, 0L, false))) // null text = empty text
  }

  test("funnel: greedy ordered matching, ties by id, zero-stage users") {
    import graft.ops.Funnel
    val stages = Seq("view", "click", "purchase")
    val ev = Seq(
      // user 1: full funnel in order
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"), (1L, 30L, 3L, "purchase"),
      // user 2: click precedes the first view -> only reaches 'click' via
      // the later click; purchase BEFORE that click must not count
      (2L, 10L, 4L, "click"), (2L, 20L, 5L, "view"),
      (2L, 25L, 6L, "purchase"), (2L, 30L, 7L, "click"),
      // user 3: purchase only -> reaches nothing
      (3L, 10L, 8L, "purchase"),
      // user 4: equal ts, event_id breaks the tie -> view(9) then click(10)
      (4L, 10L, 9L, "view"), (4L, 10L, 10L, "click")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val reached = Funnel.stageReached(ev, "user_id", "ts", "event_id",
      "event_type", stages).as[(Long, Int)].collect().toMap
    assert(reached == Map(1L -> 3, 2L -> 2, 3L -> 0, 4L -> 2))
    val counts = Funnel.funnelCounts(ev, "user_id", "ts", "event_id",
      "event_type", stages).as[(Int, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(counts == Map(1 -> (("view", 3L)), 2 -> (("click", 3L)),
      3 -> (("purchase", 1L))))
  }

  test("funnel: maxEvents caps a degenerate user with bounded state") {
    import graft.ops.Funnel
    val stages = Seq("view", "click", "purchase")
    // bot user 9: 10k view events, then the click/purchase arrive LAST —
    // beyond any sane cap; normal user 1 converts in 3 events
    val bot = (1 to 10000).map(i => (9L, i.toLong, i.toLong, "view")) ++
      Seq((9L, 20000L, 20001L, "click"), (9L, 20010L, 20002L, "purchase"))
    val ok = Seq((1L, 1L, 1L, "view"), (1L, 2L, 2L, "click"),
      (1L, 3L, 3L, "purchase"))
    val ev = (bot ++ ok).toDF("user_id", "ts", "event_id", "event_type")
    // uncapped: both users complete the funnel
    val full = Funnel.stageReached(ev, "user_id", "ts", "event_id",
      "event_type", stages).as[(Long, Int)].collect().toMap
    assert(full == Map(9L -> 3, 1L -> 3))
    // capped at 100: the bot's conversion events fall beyond its earliest
    // 100, so it stops at 'view'; the under-cap user is exact
    val capped = Funnel.stageReached(ev, "user_id", "ts", "event_id",
      "event_type", stages, maxEvents = 100).as[(Long, Int)].collect().toMap
    assert(capped == Map(9L -> 1, 1L -> 3))
    // same cap through the windowed variant (timestamp-typed ts) + reports
    val evTs = ev.withColumn("ts", timestamp_seconds(col("ts")))
    val cw = Funnel.stageReachedWithin(evTs, "user_id", "ts", "event_id",
      "event_type", stages, maxGapSeconds = 1000000L, maxEvents = 100)
      .as[(Long, Int)].collect().toMap
    assert(cw(9L) == 1 && cw(1L) == 3)
    val counts = Funnel.funnelCounts(ev, "user_id", "ts", "event_id",
      "event_type", stages, maxEvents = 100)
      .as[(Int, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(counts == Map(1 -> 2L, 2 -> 1L, 3 -> 1L))
    // the capped fold is partition-invariant (EarliestK combines map-side)
    val rep = Funnel.stageReached(ev.repartition(13), "user_id", "ts",
      "event_id", "event_type", stages, maxEvents = 100)
      .as[(Long, Int)].collect().toMap
    assert(rep == capped)
  }

  test("windowed funnel: stage converts only within the gap of its match") {
    import graft.ops.Funnel
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      // user 1: click 5 min after view (inside a 10-min gap), purchase
      // 30 min after the click (outside) -> stops at 2
      (1L, ts(0), 1L, "view"), (1L, ts(5), 2L, "click"),
      (1L, ts(35), 3L, "purchase"),
      // user 2: all three within successive 10-min gaps -> reaches 3;
      // note view->purchase span is 18 min: only ADJACENT gaps matter
      (2L, ts(0), 4L, "view"), (2L, ts(9), 5L, "click"),
      (2L, ts(18), 6L, "purchase"),
      // user 3: the fold walks TIME order regardless of insert order —
      // the +8 min in-gap click matches; the +11 one is never needed
      (3L, ts(0), 7L, "view"), (3L, ts(11), 8L, "click"),
      (3L, ts(8), 9L, "click")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Funnel.stageReachedWithin(ev, "user_id", "ts", "event_id",
      "event_type", Seq("view", "click", "purchase"), maxGapSeconds = 600)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 2, 2L -> 3, 3L -> 2))
  }

  test("count anomalies: 3-sigma cells flagged, zero-variance group silent") {
    import graft.ops.Stats
    // one outlier among n-1 identical cells has z^2 = n-1 exactly, so with
    // k=3 it flags iff n > 10: 17 cells of 10 rows + one of 100 -> z=sqrt(17)
    // group h: uniform 5 rows/cell -> zero variance, nothing flagged
    val rows =
      (1 to 17).flatMap(c => Seq.fill(10)(("g", c))) ++
        Seq.fill(100)(("g", 18)) ++
        (1 to 4).flatMap(c => Seq.fill(5)(("h", c)))
    val got = Stats.countAnomalies(rows.toDF("grp", "cell"),
      Seq("grp"), col("cell"), k = 3)
      .as[(String, Int, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("g", 18, 100L, 18L, 270L, 11700L)))
    // the 10-cell boundary case sits at exact equality -> strict test: empty
    val edge = (1 to 9).flatMap(c => Seq.fill(10)(("g", c))) ++
      Seq.fill(100)(("g", 10))
    assert(Stats.countAnomalies(edge.toDF("grp", "cell"),
      Seq("grp"), col("cell"), k = 3).isEmpty)
  }

  test("dpHistogram: contribution bounding caps a heavy user; noise bounded") {
    import graft.ops.Stats
    // user "hog" touches 20 cells, 30 normal users touch 1 cell each
    // (cell "c0", giving it a solid true count). With cap=4 the hog adds
    // AT MOST 4 to the released histogram: total released mass (threshold
    // 0, so nothing suppressed) is bounded by 34 + noise, where noise per
    // cell is in [-40, 40] by the trailing-ones construction.
    val rows = (1 to 20).map(i => ("hog", s"c$i")) ++
      (1 to 30).map(i => (s"u$i", "c0"))
    val out = Stats.dpHistogram(rows.toDF("user", "cell"), "user",
      Seq("cell"), cap = 4, threshold = 0L)
      .as[(String, Long)].collect().toMap
    // capped contributions: at most 4 hog cells have count 1 (+noise);
    // every released count is >= 0 and within noise range of its truth
    // a rank-capped cell has NO count row at all (noise moves counts,
    // never invents cells), so at most `cap` hog cells can appear
    val hogCells = out.keys.count(_ != "c0")
    assert(hogCells <= 4)
    assert(out.getOrElse("c0", 0L) >= 30L - 80L && out("c0") <= 30L + 80L)
    assert(out.values.forall(_ >= 0L))
    // determinism: the release replays bit-for-bit
    val again = Stats.dpHistogram(rows.toDF("user", "cell"), "user",
      Seq("cell"), cap = 4, threshold = 0L)
      .as[(String, Long)].collect().toMap
    assert(again == out)
    // a higher threshold only shrinks the release (suppression monotone)
    val sup = Stats.dpHistogram(rows.toDF("user", "cell"), "user",
      Seq("cell"), cap = 4, threshold = 5L)
      .as[(String, Long)].collect().toMap
    assert(sup.keySet.subsetOf(out.keySet))
    assert(sup.values.forall(_ >= 5L))
  }

  test("dpMeans: clipping bounds a whale, suppression and replay hold") {
    import graft.ops.Stats
    // group "g": 10 users worth 100 each, plus a whale claiming 1e6 —
    // with clip=200 the whale can move the released sum by AT MOST 200
    val rows = (1 to 10).map(i => (s"u$i", "g", 100L)) ++
      Seq(("whale", "g", 1000000L)) ++
      (1 to 2).map(i => (s"v$i", "tiny", 50L)) // below threshold
    val out = Stats.dpMeans(rows.toDF("u", "g", "v"), "u", "g",
      col("v"), clip = 200L, threshold = 3L)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // tiny group (2 users + noise in [-80, 80]... actually [-40, 40])
    // cannot clear threshold 3 only if noise keeps it below — assert on
    // what MUST hold instead: the whale's influence bound
    val g = out("g")
    // true clipped sum = 10*100 + 200 = 1200; noise in [-200*40, 200*40]
    assert(g._3 >= 0L && g._3 <= 1200L + 8000L)
    // count: 11 users + noise in [-40, 40]
    assert(g._2 <= 51L)
    // deterministic replay
    val again = Stats.dpMeans(rows.toDF("u", "g", "v"), "u", "g",
      col("v"), clip = 200L, threshold = 3L)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
    // raising the whale 100x changes the released sum by AT MOST the
    // clip (the sensitivity bound the epsilon argument rests on)
    val rows2 = rows.map { case ("whale", g0, _) => ("whale", g0, 100000000L)
                           case r => r }
    val out2 = Stats.dpMeans(rows2.toDF("u", "g", "v"), "u", "g",
      col("v"), clip = 200L, threshold = 3L)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out2("g") == out("g")) // already clipped: zero influence left
  }

  test("cohort retention: first-day cohorts, offsets, exact ratios") {
    import graft.ops.Funnel
    val ev = Seq(
      // cohort 2024-01-01: users 1,2; user 1 returns day 2, user 2 never
      (1L, "2024-01-01 09:00:00"), (1L, "2024-01-01 17:00:00"),
      (1L, "2024-01-03 09:00:00"),
      (2L, "2024-01-01 23:00:00"),
      // cohort 2024-01-02: user 3, returns day 1
      (3L, "2024-01-02 01:00:00"), (3L, "2024-01-03 01:00:00")
    ).toDF("user_id", "s").select($"user_id", $"s".cast("timestamp").as("ts"))
    val got = Funnel.cohortRetention(ev, "user_id", "ts")
      .as[(java.sql.Date, Int, Long, Long, Double)].collect()
      .map(r => (r._1.toString, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got == Map(
      ("2024-01-01", 0) -> ((2L, 2L, 1.0)),   // both cohort members day 0
      ("2024-01-01", 2) -> ((1L, 2L, 0.5)),   // user 1 back on day 2
      ("2024-01-02", 0) -> ((1L, 1L, 1.0)),
      ("2024-01-02", 1) -> ((1L, 1L, 1.0))))
  }

  test("stats profile: nulls, distincts, mixed types; histogram edges") {
    import graft.ops.Stats
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (2L, null), (null, "a"), (5L, "c")
    ).toDF("id", "s")
    val prof = Stats.profileColumns(df, Seq("id", "s"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(prof("id") == (("id", 5L, 1L, 3L, "1", "5")))
    assert(prof("s") == (("s", 5L, 1L, 3L, "a", "c")))
    // histogram: max value capped into the last bucket, nulls dropped
    val h = Stats.histogram(
      Seq[java.lang.Double](0.0, 1.0, 5.0, 9.0, 10.0, null)
        .toDF("x"), "x", buckets = 5)
      .as[(Long, Double, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(h == Map(0L -> ((0.0, 2.0, 2L)), 2L -> ((4.0, 6.0, 1L)),
      4L -> ((8.0, 10.0, 2L))))
    // constant column collapses to one bucket 0 spanning [v, v]
    val c = Stats.histogram(Seq(7.0, 7.0).toDF("x"), "x", 4)
      .as[(Long, Double, Double, Long)].collect().toSeq
    assert(c == Seq((0L, 7.0, 7.0, 2L)))
  }

  test("repeated-span removal cuts shared tiles, keeps order, empty-safe") {
    val boiler = "subscribe to our newsletter now" // 5 tokens -> tile + tail
    val df = Seq(
      (1L, s"alpha beta gamma delta $boiler"),
      (2L, s"one two three four $boiler epsilon"),
      (3L, "totally unique words only here"),
      (4L, "")
    ).toDF("doc_id", "text")
    // n=4: doc1 tiles = [alpha beta gamma delta][subscribe to our newsletter]
    // [now]; doc2 = [one two three four][subscribe to our newsletter][now
    // epsilon]; the 4-token boilerplate tile is shared (df=2) and removed
    val got = TextOps.removeRepeatedSpans(df, "doc_id", "text", 4, 2)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == (("alpha beta gamma delta now", 3L, 1L)))
    assert(got(2L) == (("one two three four now epsilon", 3L, 1L)))
    assert(got(3L) == (("totally unique words only here", 2L, 0L)))
    assert(got(4L) == (("", 1L, 0L))) // empty doc survives as empty
  }

  test("pii redaction: emails, phones, ipv4 replaced and counted") {
    val df = Seq(
      (1L, "mail a.b-c%d@sub.example.org or call 555-123-4567 now"),
      (2L, "server at 192.168.0.1 and 10.0.255.7; no mail"),
      (3L, "phone-in-email 555-123-4567@example.com stays one email"),
      (4L, "clean text with numbers 12345 and dots a.b")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id") +:
        TextOps.piiColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got(1L) == ((1L, 1L, 0L, "mail [EMAIL] or call [PHONE] now")))
    assert(got(2L) == ((0L, 0L, 2L, "server at [IP] and [IP]; no mail")))
    // the email wins: its local part is not separately counted as a phone
    assert(got(3L) == ((1L, 0L, 0L, "phone-in-email [EMAIL] stays one email")))
    assert(got(4L) == ((0L, 0L, 0L, "clean text with numbers 12345 and dots a.b")))
  }

  test("star contraction handles a long chain in few rounds") {
    // a 64-link path has diameter 64: label propagation at default maxIter
    // would NOT converge, star contraction does (O(log n) rounds)
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val got = Dedup.componentsStar(chain).as[(Long, Long)].collect().toMap
    assert(got == (1L to 64L).map(_ -> 1L).toMap)
    // agreement with label propagation on the fixture's near-dup graph
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      n = 5, k = 12, bands = 4, threshold = 0.7)
    val a = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    val b = Dedup.componentsStar(pairs).as[(Long, Long)].collect().toMap
    assert(a.nonEmpty && a == b)
  }

  test("ann near-dup pairs: subset of brute force, exact cosines, nonempty") {
    val truth = Similarity.nearDupPairs(emb, "vec_id", "embedding",
        emb, 0.40)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap
    val ann = Similarity.annNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.40, tables = 8, planes = 6, dims = 64)
      .as[(Long, Long, Double)].collect()
    // precision is exact: every ANN pair is a true pair with the SAME cosine
    assert(ann.nonEmpty)
    ann.foreach { case (a, b, c) =>
      assert(truth.get((a, b)).contains(c), s"($a,$b)") }
    // deterministic: same buckets, same result, run to run
    val again = Similarity.annNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.40, tables = 8, planes = 6, dims = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(again == ann.toSet)
  }

  test("multimodal: feature extraction preserves rows, features normalized") {
    val media = Multimodal.mediaFromDocuments(spark, docs)
    val feats = Multimodal.extractFeatures(media)
    val n = docs.count()
    assert(feats.count() == n)
    val f = feats.head()
    assert(f.feature.length == Multimodal.FeatureDim)
    assert(math.abs(f.feature.sum - 1.0f) < 1e-3) // L1 normalized histogram
    // metadata-only scan must not read content bytes
    val plan = Multimodal.metadataSummary(media)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("content"))
    // the extracted features compose straight into the similarity surface:
    // media retrieval = stub-decode -> feature vector -> ANN/top-k
    val fdf = feats.toDF()
    val top = Similarity.cosineTopK(fdf, "media_id", "feature",
      fdf.filter(col("media_id") < 3), "media_id", "feature", k = 3)
    assert(top.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 3L))
  }

  test("REAL image codec: png round trip, exact sums, nearest resize") {
    // 2x2 PNG with known pixels decoded through actual javax.imageio bytes
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00)
    img.setRGB(0, 1, 0x0000ff); img.setRGB(1, 1, 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val ds = Seq((7L, out.toByteArray)).toDS()
    val d = Multimodal.decodeImages(ds).collect().head
    assert((d.width, d.height, d.n_pixels) == ((2, 2, 4L)))
    assert((d.sum_r, d.sum_g, d.sum_b) == ((510L, 510L, 510L)))
    assert(d.luma_hist.sum == 4L)
    // luma bins: red 76->4, green 149->9, blue 29->1, white 255->15
    assert(d.luma_hist(4) == 1 && d.luma_hist(9) == 1 &&
      d.luma_hist(1) == 1 && d.luma_hist(15) == 1)
    // nearest-neighbor 2x2 -> 1x1 keeps exactly pixel (0,0) = pure red
    val r = Multimodal.decodeImages(
      Multimodal.resizeImages(ds, 1, 1)).collect().head
    assert((r.n_pixels, r.sum_r, r.sum_g, r.sum_b) == ((1L, 255L, 0L, 0L)))
    // synthetic corpus end-to-end: distributed build -> resize -> decode
    val synth = spark.range(24).as[Long]
      .map(id => (id, Multimodal.syntheticPng(id, 32, 24)))
    val dec = Multimodal.decodeImages(Multimodal.resizeImages(synth, 8, 6))
      .collect()
    assert(dec.length == 24 && dec.forall(x => x.n_pixels == 48L))
  }

  test("REAL wav codec: 16-bit PCM triangle wave, exact peak and frames") {
    val ds = Seq((3L, Multimodal.syntheticWav(3L, 16000, 640))).toDS()
    val w = Multimodal.decodeWav(ds).collect().head
    assert((w.sample_rate, w.channels, w.n_frames) == ((16000, 1, 640L)))
    // amp for id 3 = 8000 + 3*10 = 8030; triangle peaks at ph=period/2
    // with value (period/2)*2*amp/period = amp exactly
    assert(w.peak_abs == 8030)
    assert(w.sum_abs > 0)
  }

  test("codec queries match committed golden result hashes") {
    // q_mm_decode / q_mm_wav are the only catalog rows the DuckDB oracle
    // can't replay (no PNG/WAV codec there). Pin their full results to
    // committed hashes over the sf0.001 fixture — same canonicalization as
    // the driver's compare (columns sorted by name, rows sorted, values as
    // strings) — so codec regressions are a hard signal, not rows-only.
    def goldenHash(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sf)
      val cols = df.columns.sorted.map(col)
      val canon = df.select(cols: _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted
        .mkString("\n")
      java.security.MessageDigest.getInstance("MD5")
        .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(goldenHash("q_mm_decode") === "adb53fa9159ca8bc1655fc95e1317780")
    assert(goldenHash("q_mm_wav") === "5ba13775b28cc3adf0e8e7d756c2e62f")
    // deflate is the third engine-side codec the oracle can't replay
    assert(goldenHash("q_text_compression")
      === "526865b58f53ba315f1c747a47cdbe76")
  }

  test("compression score: repetition collapses, noise does not") {
    val rep = ("spark " * 200).trim
    val mixed = (1 to 200).map(i => s"w${i * 7919 % 1000}").mkString(" ")
    val r = graft.ops.TextOps.compressionScore(
        Seq((1L, rep), (2L, mixed)).toDS())
      .collect().map(c => c.doc_id -> c).toMap
    assert(r(1L).raw_len == rep.getBytes("UTF-8").length)
    assert(r(1L).comp_len < r(1L).raw_len / 10) // pure repetition collapses
    assert(r(1L).ratio_micro * 3 < r(2L).ratio_micro)
    assert(r(2L).comp_len < r(2L).raw_len) // still text, still compresses
  }

  test("stage pipeline quarantines bad columns and keeps going") {
    val specs = Seq(
      ColumnSpec("T", "ok", 1, "string", "c_name"),
      ColumnSpec("T", "bad_col", 2, "string", "no_such"),
      ColumnSpec("T", "bad_fn", 3, "string", "fn_transform_Bogus(c_name)"))
    val res = StageTransform.run(
      spark.read.parquet(s"$sf/customer.parquet"), specs)
    assert(res.quarantinedColumns.toSet == Set("bad_col", "bad_fn"))
    assert(res.df.columns.toSeq == Seq("ok"))
    assert(res.df.count() > 0)
  }

  test("timestamp shift: -5h applied to every timestamp column (S5)") {
    val df = Seq(java.sql.Timestamp.valueOf("2024-01-01 12:00:00"))
      .toDF("ts")
    val got = RawZone.shiftTimestamps(df).as[java.sql.Timestamp]
      .collect().head
    assert(got == java.sql.Timestamp.valueOf("2024-01-01 07:00:00"))
  }

  test("winnow: density guarantee, gram consistency, shared-run detection") {
    val k = 4; val w = 4
    val fp = TextOps.winnow(docs, "doc_id", "text", k, w)
      .as[(Long, Int, Long)].collect()
    assert(fp.nonEmpty)
    val byDoc = fp.groupBy(_._1)
    // the winnowing guarantee: every window of w consecutive gram
    // positions contains at least one selected fingerprint position
    val nGrams = graft.ops.Dedup.shingleTablePos(docs, "doc_id", "text", k)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    for ((doc, sel) <- byDoc; ng = nGrams(doc); if ng >= w) {
      val pos = sel.map(_._2).toSet
      for (t <- 0 to (ng - w).toInt)
        assert((t until t + w).exists(pos), s"doc $doc window $t uncovered")
    }
    // each selected hash IS the hash of the gram at its position
    val gramsH = graft.ops.Dedup.shingleTablePos(docs, "doc_id", "text", k)
      .withColumn("h", graft.plans.GraftExpressions.md5_prefix60($"shingle"))
      .select("doc_id", "pos", "h").as[(Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    fp.foreach { case (d, p, h) => assert(gramsH((d, p)) == h) }
    // two docs sharing a run of >= w+k-1 tokens share a fingerprint hash
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val two = Seq((1L, s"one two $shared"), (2L, s"$shared nine ten"))
      .toDF("doc_id", "text")
    val f2 = TextOps.winnow(two, "doc_id", "text", k, w)
      .as[(Long, Int, Long)].collect()
    val h1 = f2.filter(_._1 == 1L).map(_._3).toSet
    val h2 = f2.filter(_._1 == 2L).map(_._3).toSet
    assert((h1 & h2).nonEmpty, "shared 9-token run produced no common fingerprint")
  }

  test("boilerplateClean: frequency is scoped to the source, order kept") {
    val boiler = "cookie notice applies to all pages of this"  // 8 tokens
    val df = Seq(
      (1L, "a", s"$boiler site one tail unique words here padding extra"),
      (2L, "a", s"$boiler site two tail other words here padding extra"),
      (3L, "a", s"$boiler site three also more words here padding extra"),
      (4L, "a", "fully original document with no shared tiles at all"),
      // same tile in source b ONCE: below b's threshold -> kept there
      (5L, "b", s"$boiler site solo tail extra words here padding extra"))
      .toDF("doc_id", "source", "text")
    val got = TextOps.boilerplateClean(df, "doc_id", "source", "text",
        n = 8, minFrac = 0.25, minDf = 2)
      .as[(Long, String, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // source a: tile df=3 of 4 docs >= max(2, 1) -> removed, tails kept in order
    assert(got(1L) == (("a", "site one tail unique words here padding extra", 2L, 1L)))
    assert(got(2L)._4 == 1L && got(3L)._4 == 1L)
    assert(got(4L) == (("a", "fully original document with no shared tiles at all", 2L, 0L)))
    // source b: same tile, df=1 < 2 -> untouched
    assert(got(5L)._4 == 0L && got(5L)._2.startsWith(boiler))
  }

  test("prioritySample: k per group, est_w >= w, exact when group fits, retry-stable") {
    val df = docs.select($"lang", $"doc_id", $"n_chars")
    val got = Sampling.prioritySample(df, "lang", "doc_id", "n_chars", k = 7)
      .as[(String, Long, Long, Long, Double)].collect()
    val sizes = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val byGrp = got.groupBy(_._1)
    assert(byGrp.keySet == sizes.keySet)
    for ((g, rows) <- byGrp) {
      assert(rows.length == math.min(7L, sizes(g)).toInt, g)
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq, g)
      rows.foreach { case (_, _, w, _, est) => assert(est >= w.toDouble) }
      // a group that fits entirely keeps exact weights (tau = 0)
      if (sizes(g) <= 7) rows.foreach { r => assert(r._5 == r._3.toDouble) }
    }
    // hash-priority selection is partitioning-independent (retry-stable)
    val re = Sampling.prioritySample(df.repartition(7), "lang", "doc_id",
      "n_chars", k = 7).as[(String, Long, Long, Long, Double)].collect()
    assert(re.sortBy(r => (r._1, r._2)).toSeq == got.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("rocchio: separable synthetic labels classify held-out vectors " +
      "perfectly") {
    // label 0 lives on +e1 (with small e2 jitter), label 1 on +e2: the
    // centroids are axis-aligned and every vector is nearer its own.
    val rows = (1L to 40L).map { id =>
      val lab = (id % 2).toInt
      val j = (id % 5).toFloat / 100f
      val v = if (lab == 0) Array(1f, j, 0f, 0f) else Array(j, 1f, 0f, 0f)
      (id, v, lab)
    }.toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity
      .rocchioConfusion(rows, "vec_id", "embedding", "label")
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (l, p, _) => assert(l == p, s"misrouted $l -> $p") }
    // total = the md5 held-out count, replayed independently
    val nTest = (1L to 40L).count { id =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 5 == 0
    }
    assert(got.map(_._3).sum == nTest && nTest > 0)
  }

  test("bbit minhash: identical docs agree on all 24 bits, estimate 1e6") {
    val rows = SparkEntry.queries("q_dedup_bbit")(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (d1, d2, a, jh, j) =>
      assert(a >= 0L && a <= 24L, s"$d1/$d2")
      // the clamped-integer estimator replay
      assert(jh == math.max(2 * a - 24, 0) * 1000000L / 24, s"$d1/$d2")
      assert(j >= 0.0 && j <= 1.0, s"$d1/$d2")
      // exact duplicates (jaccard 1) must agree on every bit
      if (j == 1.0) assert(a == 24L && jh == 1000000L, s"$d1/$d2")
    }
  }

  test("pps sampling: exact grid-count total, long docs always included") {
    val rows = SparkEntry.queries("q_sample_pps")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, _, _, h) => assert(h >= 1L, s"doc $id") }
    // independent replay of the design constants from the raw table
    val w = docs.agg(sum("n_chars")).as[Long].head()
    val step = math.max(w / 100L, 1L)
    val strt = 7L % step
    // Madow invariant: total multiplicity == number of grid points
    // strt, strt+step, ... below W
    assert(rows.map(_._4).sum == (w - strt - 1) / step + 1)
    // a doc spanning >= step chars covers at least one grid point
    val sampled = rows.map(_._1).toSet
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)].collect()
      .filter(_._2 >= step)
      .foreach { case (id, n) => assert(sampled(id), s"long doc $id ($n)") }
  }

  test("matryoshka recall: full grid of (dims x probes), recall exact n/10") {
    val rows = SparkEntry.queries("q_emb_matryoshka")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.map(_._1).toSet == Set(8L, 16L, 32L))
    val nProbes = emb.filter(col("vec_id") < 8).count()
    assert(rows.length == 3 * nProbes)
    rows.foreach { case (dm, q, h, r) =>
      assert(h >= 0L && h <= 10L, s"$dm/$q")
      assert(r == math.floor(h.toDouble * 1e6 / 10.0) / 1e6, s"$dm/$q")
    }
    // more prefix dims never hurt AGGREGATE recall on the fixed fixture
    val byDim = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byDim(32L) >= byDim(8L),
      s"32-dim total hits ${byDim(32L)} < 8-dim ${byDim(8L)}")
  }

  test("transitions: per-state probabilities sum to one (quantization aside)") {
    val rows = SparkEntry.queries("q_seq_transitions")(spark, sf)
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty)
    for ((from, ts) <- rows.groupBy(_._1)) {
      val p = ts.map(_._4).sum
      // floor-quantized 6dp terms: sum within L*1e-6 of exactly 1
      assert(p <= 1.0 + 1e-9 && p >= 1.0 - ts.length * 1e-6, s"$from: $p")
      val tot = ts.map(_._3).sum
      ts.foreach { r => assert(r._4 == math.floor(r._3.toDouble / tot * 1e6) / 1e6) }
    }
  }

  test("integrity gate: clean checks are zero, lineitem PK surplus detected") {
    val got = SparkEntry.queries("q_profile_validate")(spark, sf)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set("fk_lineitem_orders", "fk_orders_customer",
      "pk_orders_surplus", "pk_lineitem_surplus", "null_o_totalprice"))
    for (c <- Seq("fk_lineitem_orders", "fk_orders_customer",
        "pk_orders_surplus", "null_o_totalprice"))
      assert(got(c)._1 == 0L, s"$c flagged ${got(c)._1} rows")
    // the synthetic generator REUSES (l_orderkey, l_linenumber) — the gate
    // must report exactly the independently-computed surplus, not zero
    // (a real detection on shipped data, which is the point of the check)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val surplus = li.count() -
      li.select("l_orderkey", "l_linenumber").distinct().count()
    assert(surplus > 0L)
    assert(got("pk_lineitem_surplus")._1 == surplus)
    got.foreach { case (c, (_, total)) => assert(total > 0L, c) }
  }

  test("dataset card: one row whose fields match independent counts") {
    val r = SparkEntry.queries("q_curate_card")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
    assert(r.length == 1)
    val (nDocs, totTok, totChars, nLangs, nSrcs, nDups, meanTok) = r.head
    assert(nDocs == docs.count())
    assert(nLangs == docs.select("lang").distinct().count())
    assert(nSrcs == docs.select("source").distinct().count())
    val canonical = graft.ops.Dedup.exactDedup(docs, "doc_id", "text").count()
    assert(nDups == nDocs - canonical)
    assert(totChars == docs.agg(sum($"n_chars")).as[Long].collect().head)
    assert(meanTok == math.floor(totTok.toDouble * 1e6 / nDocs.toDouble) / 1e6)
  }

  test("source matrix: cells sum to the pair count; keys canonically ordered") {
    val pairs = graft.ops.Dedup.minhashNearDups(docs, "doc_id", "text",
      n = 5, k = 12, bands = 4, threshold = 0.7)
    val cells = SparkEntry.queries("q_dedup_source_matrix")(spark, sf)
      .as[(String, String, Long)].collect()
    assert(cells.map(_._3).sum == pairs.count())
    cells.foreach { case (a, b, n) => assert(a <= b && n > 0) }
    assert(cells.map(c => (c._1, c._2)).distinct.length == cells.length)
  }

  test("length buckets: octave membership, per-bucket offsets and batch bounds") {
    val rows = SparkEntry.queries("q_curate_buckets")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == docs.count())
    def bits(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    rows.foreach { case (bucket, _, n, off, batch) =>
      assert(bucket == bits(math.max(n, 1L)))
      assert(batch == math.floor(off / 2048.0).toLong)
    }
    // offsets within each bucket are an exact prefix sum in doc_id order
    for ((_, rs) <- rows.groupBy(_._1)) {
      val sorted = rs.sortBy(_._2)
      sorted.foldLeft(0L) { case (acc, (_, _, n, off, _)) =>
        assert(off == acc); acc + n
      }
    }
  }

  test("quantileBounds: octave ranges contain the exact discrete quantiles") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    val bounds = graft.ops.Stats.quantileBounds(li, Seq("l_returnflag"),
        floor($"l_extendedprice"), qs)
      .select("l_returnflag", "q", "lo", "hi", "bucket")
      .as[(String, Double, Long, Long, Long)].collect()
    val exact = graft.ops.Stats.quantilesDisc(
        li.select($"l_returnflag",
          floor($"l_extendedprice").cast("long").as("v")),
        Seq("l_returnflag"), "v", qs)
      .select("l_returnflag", "q", "value").as[(String, Double, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(bounds.length == exact.size && bounds.nonEmpty)
    bounds.foreach { case (g, q, lo, hi, b) =>
      val v = exact((g, q))
      assert(v >= lo && v <= hi, s"$g q=$q: $v outside [$lo,$hi]")
      assert(hi < 2 * (lo + 1), s"octave width violated at bucket $b")
    }
  }

  test("driftTrend: identical successive cells score zero; a shift scores high") {
    // cells 1 and 2 share the same mix -> every contribution rounds to the
    // same tiny smoothing residue; cell 3 flips the mix -> chi2 jumps
    val df = (Seq.fill(40)((1L, "a")) ++ Seq.fill(10)((1L, "b")) ++
        Seq.fill(40)((2L, "a")) ++ Seq.fill(10)((2L, "b")) ++
        Seq.fill(10)((3L, "a")) ++ Seq.fill(40)((3L, "b")))
      .toDF("cell", "k")
    val got = graft.ops.Stats.driftTrend(df, $"cell", "k")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(2L, 3L)) // cell 1 has no predecessor
    assert(got(2L)._1 == 2L && got(3L)._1 == 2L)
    assert(got(2L)._2 == 0L)          // identical mix: exactly zero
    assert(got(3L)._2 > 1000000L)     // flipped mix: chi2 > 1
    assert(got(3L)._3 == got(3L)._2.toDouble / 1e6)
  }

  test("chiSquareDrift: hand-computed smoothed contributions") {
    // cur: a,a,a,b   ref: a,a,c,c   L=3 -> curT'=refT'=7
    // a: o'=4,r'=3 -> (28-21)^2/(3*49) = 49/147 = 0.333333...
    // b: o'=2,r'=1 -> 49/49   = 1.0
    // c: o'=1,r'=3 -> 196/147 = 1.333333...
    val cur = Seq("a", "a", "a", "b").toDF("k")
    val ref = Seq("a", "a", "c", "c").toDF("k")
    val got = graft.ops.Stats.chiSquareDrift(cur, ref, "k")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == ((3L, 2L, 0.333333)))
    assert(got("b") == ((1L, 0L, 1.0)))
    assert(got("c") == ((0L, 2L, 1.333333)))
  }

  test("gapfill: contiguous hour grid, LOCF fills flagged gaps") {
    val rows = SparkEntry.queries("q_agg_gapfill")(spark, sf)
      .as[(String, String, Double, Long)].collect()
    assert(rows.nonEmpty)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")
    for ((_, tl) <- rows.groupBy(_._1)) {
      val sorted = tl.sortBy(_._2).toList
      // grid is contiguous hourly
      sorted.map(r => java.time.LocalDateTime.parse(r._2, fmt))
        .sliding(2).foreach {
          case List(a, b) => assert(java.time.Duration.between(a, b).toHours == 1)
          case _ =>
        }
      // first cell is observed; every gap carries the last observed value
      assert(sorted.head._4 == 0L)
      sorted.sliding(2).foreach {
        case List(prev, curr) if curr._4 == 1L => assert(curr._3 == prev._3)
        case _ =>
      }
    }
  }

  test("hardNegatives: nearest different-label vectors only, rank-ordered") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.999f, 0.01f), 0),   // same label: never a negative
      (3L, Seq(0.998f, 0.02f), 1),   // closest different-label
      (4L, Seq(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.hardNegatives(df, "vec_id", "embedding",
        "label", df.filter($"vec_id" === 1L), "vec_id", "embedding", "label",
        k = 2)
      .as[(Long, Int, Long, Int, Double, Int)].collect().sortBy(_._6)
    assert(got.map(_._3).toSeq == Seq(3L, 4L)) // hard one first
    assert(got.forall(r => r._2 == 0 && r._4 == 1))
    assert(got.map(_._6).toSeq == Seq(1, 2))
    assert(got(0)._5 > got(1)._5)
  }

  test("embedding validation profile: constant dims, no zero vectors on fixture") {
    val rows = SparkEntry.queries("q_emb_validate")(spark, sf)
      .as[(Int, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, dmin, dmax, nzero, n2min, n2max, n2sum) =>
      assert(dmin == 64L && dmax == 64L) // fixture dimension is consistent
      assert(nzero == 0L && n2min > 0L)
      assert(n2min <= n2max && n2sum >= n2max * 1L && n > 0L)
    }
    assert(rows.map(_._2).sum == emb.count())
  }

  test("equiDepthBins: quartiles of 1..100, ties to lower bin, mass conserved") {
    val df = (1L to 100L).toDF("v")
    val got = graft.ops.Stats.equiDepthBins(df, $"v", bins = 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // boundaries are ceil-rank order stats: 25, 50, 75 -> bins of exactly 25
    assert(got.toSeq == Seq((0L, 25L, 1L, 25L), (1L, 25L, 26L, 50L),
      (2L, 25L, 51L, 75L), (3L, 25L, 76L, 100L)))
    // a dominant value collapses boundaries: ties fall LOW, bins stay <= 4
    val skew = (Seq.fill(90)(7L) ++ (1L to 10L)).toDF("v")
    val sk = graft.ops.Stats.equiDepthBins(skew, $"v", bins = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(sk.map(_._2).sum == 100L)
    assert(sk.map(_._1).distinct.length == sk.length && sk.length <= 4)
  }

  test("recall@5 evaluation: bounded, consistent with its own counts") {
    val rows = SparkEntry.queries("q_sim_recall")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == 8) // one row per probe
    rows.foreach { case (_, nExact, nHit, recall) =>
      assert(nExact == 5L)
      assert(nHit >= 0L && nHit <= nExact)
      assert(recall == math.floor(nHit.toDouble * 1e6 / nExact.toDouble) / 1e6)
    }
    // the LSH index must be USEFUL on the fixture, not vacuous
    assert(rows.map(_._3).sum > 0L)
  }

  test("bm25: saturation + length-norm ranking on the fixture; idf in whole bits") {
    val rows = SparkEntry.queries("q_text_bm25")(spark, sf)
      .as[(Long, String, Long, Long, Double, Long)].collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nd = docs.count()
    def bits(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    rows.foreach { case (_, _, tf, idfBits, score, rnk) =>
      assert(idfBits >= 0 && idfBits <= bits(nd + 1))
      assert(score >= 0.0 && rnk >= 1 && rnk <= 5)
      // saturation: the score can never exceed idf * (k1 + 1)
      assert(score <= idfBits.toDouble * 2.2 + 1e-9, s"tf=$tf")
    }
    // ranks are dense and ordered per doc
    for ((_, ds) <- rows.groupBy(_._1)) {
      val sorted = ds.sortBy(_._6)
      assert(sorted.map(_._6).toSeq == (1L to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi._5 > lo._5 || (hi._5 == lo._5 && hi._2 < lo._2))
        case _ =>
      }
    }
  }

  test("rrfFuse: both-list candidates outrank single-list; exact reciprocal sums") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "neighbor_id", "rank")
    val got = graft.ops.Similarity.rrfFuse(a, b, k = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    // 11 is in both lists (1/62 + 1/61) and must rank first
    assert(got.map(_._2).toSeq == Seq(11L, 10L, 12L))
    assert(got(0)._3 == 1.0 / 62 + 1.0 / 61)
    assert(got(1)._3 == 1.0 / 61 + 0.0)
    assert(got(2)._3 == 0.0 + 1.0 / 62)
  }

  test("user profile: feature assembly agrees with its component queries") {
    val prof = SparkEntry.queries("q_seq_user_profile")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(prof.nonEmpty)
    // decayed sum must equal the standalone decay query's (shared anchor)
    val dec = SparkEntry.queries("q_agg_decay")(spark, sf)
      .select("user_id", "dec_sum").as[(Long, Long)].collect().toMap
    assert(prof.keySet == dec.keySet)
    prof.foreach { case (u, r) =>
      assert(r.getLong(8) == dec(u), s"user $u dec_sum")
      assert(r.getLong(2) >= 1L)                       // active_days
      assert(r.getLong(3) >= 0L)                       // span_hours
      assert(r.getLong(1) >= r.getLong(2))             // events >= active days
      assert(Option(r.getString(7)).nonEmpty)          // fav_type present
    }
  }

  test("pearson: exact moments; perfect, anti and degenerate correlation") {
    val df = Seq(
      ("up", 1L, 2L), ("up", 2L, 4L), ("up", 3L, 6L),    // y = 2x
      ("dn", 1L, 6L), ("dn", 2L, 4L), ("dn", 3L, 2L),    // y = 8 - 2x
      ("flat", 1L, 5L), ("flat", 2L, 5L), ("flat", 3L, 5L) // zero variance
    ).toDF("g", "x", "y")
    val got = graft.ops.Stats.pearson(df, Seq("g"), $"x", $"y")
      .collect().map(r => r.getString(0) -> r).toMap
    val up = got("up")
    assert((up.getLong(1), up.getLong(2), up.getLong(3), up.getLong(4),
      up.getLong(5), up.getLong(6)) == ((3L, 6L, 12L, 28L, 14L, 56L)))
    // replay the exact op order: num/sqrt(dx)/sqrt(dy), floor-quantized
    def corr(num: Long, dx: Long, dy: Long): Double =
      math.floor(num.toDouble / math.sqrt(dx.toDouble) /
        math.sqrt(dy.toDouble) * 1e6) / 1e6
    assert(up.getDouble(7) == corr(12, 6, 24))
    assert(got("dn").getDouble(7) == corr(-12, 6, 24))
    assert(got("flat").isNullAt(7))
  }

  test("decay features: shift-decay invariants against an independent replay") {
    val rows = SparkEntry.queries("q_agg_decay")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, raw, dec, decN, idle, eng) =>
      assert(dec <= raw && dec >= 0)           // decay only shrinks
      assert(decN <= n * 1000000L && decN > 0) // decayed count bounded by count
      assert(idle >= 0)
      assert(eng == dec.toDouble / 1e6)        // presentation is one division
    }
    assert(rows.exists(_._6 == 0L)) // the globally-latest user is fully fresh
    // independent replay of the shift recurrence on the raw fixture
    val ev = graft.sources.EventLog.events(spark, sf)
      .select($"user_id", $"ts".cast("long").as("ep"),
        floor($"value" * 1e6).cast("long").as("m"))
      .as[(Long, Long, Long)].collect()
    val refEp = ev.map(_._2).max
    val exp = ev.groupBy(_._1).map { case (u, es) =>
      u -> es.map { case (_, ep, m) =>
        m >> math.min(((refEp - ep) / 3600) / 168, 40L).toInt }.sum
    }
    rows.foreach { case (u, _, _, dec, _, _, _) => assert(dec == exp(u), s"user $u") }
  }

  test("fuzzyNearDups: small edits pair with their exact prefix edit distance") {
    val base = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards brew strong coffee beside the ancient stone bridge at dawn"
    val df = Seq(
      (1L, base),
      (2L, base.replace("coffee", "tea")), // one-word in-place edit
      (3L, "entirely different content about spacecraft navigation and " +
        "orbital mechanics with no lexical overlap whatsoever here at all"))
      .toDF("doc_id", "text")
    val got = Dedup.fuzzyNearDups(df, "doc_id", "text",
        n = 3, k = 12, bands = 4, maxDist = 10, prefixLen = 256)
      .as[(Long, Long, Long)].collect()
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // levenshtein("coffee","tea") within the otherwise-identical prefix:
    // 5 (c->t, o->e, f->a, drop f+e... the DP's exact answer), independently
    assert(got.head._3 == 5L)
    // maxDist gates: the same pair vanishes below its distance
    assert(Dedup.fuzzyNearDups(df, "doc_id", "text",
      n = 3, k = 12, bands = 4, maxDist = 4, prefixLen = 256).count() == 0L)
  }

  test("winnowPairs: shared spans pair up, hot fingerprints are capped out") {
    val span = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val df = Seq(
      (1L, s"intro words here $span closing one"),
      (2L, s"$span different ending entirely for two"),
      (3L, "completely unrelated text with nothing shared at all in it"),
      (4L, "another fully distinct document about other things entirely"))
      .toDF("doc_id", "text")
    val pairs = TextOps.winnowPairs(df, "doc_id", "text",
        k = 4, w = 4, minShared = 2, maxDf = 8)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 >= 2)
    // a fingerprint in EVERY doc is boilerplate: with maxDf below the doc
    // count it must not generate candidates on its own
    val boiler = Seq.tabulate(6)(i =>
      (10L + i, s"$span unique tail number $i marker"))
      .toDF("doc_id", "text")
    val capped = TextOps.winnowPairs(boiler, "doc_id", "text",
      k = 4, w = 4, minShared = 1, maxDf = 3)
    val uncapped = TextOps.winnowPairs(boiler, "doc_id", "text",
      k = 4, w = 4, minShared = 1, maxDf = 100)
    assert(uncapped.count() > capped.count())
  }

  test("surprisalScore: hand-computed whole-bit surprisals; short docs have no row") {
    // uni: a:3 b:3 q:1 r:1 x:1 -> V=5
    // "a b" (n_bi=3): bits(3+5)-bits(3+1) = 4-3 = 1, three times
    // "b a" (n_bi=2): bits(3+5)-bits(2+1) = 4-2 = 2, twice
    // "q r" (n_bi=1): bits(1+5)-bits(1+1) = 3-2 = 1
    // doc 3 ("x") has no transitions -> dropped
    val df = Seq((1L, "a b a b a b"), (2L, "q r"), (3L, "x"))
      .toDF("doc_id", "text")
    val got = TextOps.surprisalScore(df, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((5L, 7L, math.floor(7e6 / 5) / 1e6)),
      2L -> ((1L, 1L, 1.0))))
  }

  test("shardManifest: complete, conserves mass, partitioning-independent") {
    val m = Sampling.shardManifest(docs, "doc_id", "n_chars", shards = 16)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(m.map(_._1).toSeq == (0L to 15L)) // every shard populated here
    assert(m.map(_._2).sum == docs.count())
    val totalChars = docs.agg(sum($"n_chars")).as[Long].collect().head
    assert(m.map(_._3).sum == totalChars)
    // hash assignment ignores physical layout (retry/append-stable)
    val re = Sampling.shardManifest(docs.repartition(5), "doc_id", "n_chars",
      shards = 16).as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(re.toSeq == m.toSeq)
  }

  test("waterfillAlloc: optimal cap vs brute-force over budget sweep") {
    // deliberately skewed group sizes, incl. a tie
    val rows = Seq.fill(100)("a") ++ Seq.fill(7)("b") ++ Seq.fill(40)("c") ++
      Seq.fill(40)("d") ++ Seq.fill(3)("e")
    val df = rows.zipWithIndex.map { case (g, i) => (i.toLong, g) }
      .toDF("id", "grp")
    val sizes = Map("a" -> 100L, "b" -> 7L, "c" -> 40L, "d" -> 40L,
      "e" -> 3L)
    def served(c: Long): Long = sizes.values.map(math.min(_, c)).sum
    for (budget <- Seq(0L, 3L, 10L, 50L, 100L, 150L, 189L, 190L, 500L)) {
      val got = Sampling.waterfillAlloc(df, "grp", budget)
        .as[(String, Long, Long, Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got.map { case (g, (n, _, _)) => g -> n } == sizes)
      val allocs = got.map { case (g, (_, a, _)) => g -> a }
      if (budget >= sizes.values.sum) {
        // budget covers everything: no cap, everything kept
        assert(got.values.forall(_._3.isEmpty), s"budget=$budget")
        assert(allocs == sizes)
      } else {
        val cap = got.values.head._3.get
        // brute-force optimality: cap is the LARGEST waterline under budget
        assert(served(cap) <= budget, s"budget=$budget cap=$cap")
        assert(served(cap + 1) > budget, s"budget=$budget cap=$cap")
        assert(allocs == sizes.map { case (g, n) =>
          g -> math.min(n, cap) })
      }
    }
  }

  test("imagePHash: brightness shift flips almost no bits; different " +
      "structure flips many") {
    import graft.ops.Multimodal
    def png(shift: Int, flip: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 32) {
        // mid-range textured gradient so a +40 shift never clamps
        val base = 60 + (x * 3 + y * 2 + (x * y) % 31) % 120
        val v = if (flip) 200 - base / 2 + (x ^ y) % 40 else base
        val c = math.min(215, v) + shift
        img.setRGB(x, y, (c << 16) | (c << 8) | c)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq((1L, png(0, false)), (2L, png(40, false)),
      (3L, png(0, true))).toDS()
    val h = Multimodal.imagePHash(media).collect()
      .map(r => r.media_id -> r.phash).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // +40 brightness shifts only the (excluded) DC coefficient
    assert(ham(h(1L), h(2L)) <= 2, s"brightness: ${ham(h(1L), h(2L))}")
    assert(ham(h(1L), h(3L)) >= 12, s"structure: ${ham(h(1L), h(3L))}")
  }

  test("audioSpectralHash: amplitude-invariant, pitch-sensitive") {
    import graft.ops.Multimodal
    def wav(period: Int, amp: Int): Array[Byte] = {
      val n = 1024
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val ph = i % period
        val tri = if (ph < period / 2) ph else period - ph
        val s = tri * 2 * amp / period * (if ((i / period) % 2 == 0) 1 else -1)
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true,
        false)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val media = Seq(
      (1L, wav(16, 6000)), // 2 cycles per 32-sample frame -> bin 2
      (2L, wav(16, 2995)), // same pitch, ~half amplitude
      (3L, wav(8, 6000))   // doubled pitch -> bin 4
    ).toDS()
    val h = Multimodal.audioSpectralHash(media).collect()
      .map(r => r.media_id -> r.shash).toMap
    assert(h(1L) === h(2L)) // argmax is scale-invariant
    assert(h(1L) !== h(3L)) // pitch moves the dominant bin
  }

  test("riAudit: orphan rows/keys counted, null FKs reported separately") {
    val child = Seq(
      (1L, Some(10L)), (2L, Some(10L)), (3L, Some(20L)),
      (4L, Some(99L)), (5L, Some(99L)), (6L, Some(77L)),
      (7L, None), (8L, None))
      .toDF("id", "fk")
    val parent = Seq(10L, 20L, 30L).toDF("pk")
    val out = Stats.riAudit(Seq((child, "fk", parent, "pk", "child->parent")))
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // (relationship, n_rows, n_null_rows, n_keys, n_orphan_keys, n_orphan_rows)
    assert(out.toSeq === Seq(("child->parent", 8L, 2L, 4L, 2L, 3L)))
  }

  test("riAudit: clean edge reports zero orphans and zero nulls") {
    val child = Seq((1L, 10L), (2L, 20L)).toDF("id", "fk")
    val parent = Seq(10L, 20L, 30L).toDF("pk")
    val out = Stats.riAudit(Seq((child, "fk", parent, "pk", "e")))
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq(("e", 2L, 0L, 2L, 0L, 0L)))
  }

  test("isotonicFit: equals hand-run PAVA, fit is monotone") {
    // rates by bin: 0.5, 0.0, 1.0 — PAVA pools bins 0+1 to 1/4
    val rows =
      Seq.fill(2)((0L, 1L)) ++ Seq.fill(2)((0L, 0L)) ++ // bin 0: 2/4...
      Seq.fill(2)((1L, 0L)) ++                           // bin 1: 0/2
      Seq.fill(3)((2L, 1L))                              // bin 2: 3/3
    val df = rows.toDF("bin", "label")
    val got = Stats.isotonicFit(df, "bin", "label")
      .orderBy("bin")
      .as[(Long, Long, Long, Long, Long)].collect()
    // PAVA: bins 0,1 violate (0.5 > 0.0) -> pool to (2+0)/(4+2) = 1/3
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 2L))
    assert(got.map(_._5).toSeq === Seq(333333L, 333333L, 1000000L))
    assert(got.map(_._5).toSeq.sliding(2).forall(p => p(0) <= p(1)))
    // raw rates preserved alongside
    assert(got.map(_._4).toSeq === Seq(500000L, 0L, 1000000L))
  }

  test("isotonicFit: rejects unbounded bin cardinality") {
    val df = (0L until 100L).map(i => (i, i % 2)).toDF("bin", "label")
    assertThrows[IllegalArgumentException] {
      Stats.isotonicFit(df, "bin", "label")
    }
  }

  test("mutualInfoBits: zero for uniform independent, positive for copy") {
    // independent 2x2, all cells equal: every floor-log2 term cancels
    val ind = for { x <- Seq("a", "b"); y <- Seq("u", "v");
      _ <- 1 to 4 } yield ("ind", x, y)
    // y = x: s_bits = sum c*(bl(n) - bl(c)) > 0
    val dep = for { x <- Seq("a", "b"); _ <- 1 to 8 } yield ("dep", x, x)
    val got = Stats.mutualInfoBits((ind ++ dep).toDF("pair", "x", "y"),
        "pair", "x", "y")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("ind") === ((4L, 16L, 0L)))
    // dep: 2 cells of 8 over n=16: s = 2*8*(bl16 - bl8) = 16 -> 1 bit/row
    assert(got("dep") === ((2L, 16L, 16L)))
  }

  test("assortativity: star graph is perfectly disassortative") {
    val fwd = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val e = fwd.union(fwd.select($"dst", $"src"))
    val r = graft.ops.Graph.assortativity(e, "src", "dst")
      .select("r_micro").as[Long].collect().head
    assert(r === -1000000L)
  }

  test("noveltyProfile: duplicate doc scores zero, first doc full") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact copy of doc 1
      (3L, "zeta eta theta iota kappa")       // all-new trigrams
    ).toDF("doc_id", "text")
    val got = TextOps.noveltyProfile(df, "doc_id", "text", 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got(1L) === 1000000L)
    assert(got(2L) === 0L)
    assert(got(3L) === 1000000L)
  }

  test("sceneCuts: cut count equals the independent per-clip hash replay") {
    import graft.ops.Multimodal
    // two clips x 6 frames, shot seed advances every 2 frames (fid keyed
    // off (clip, k/2) exactly like the catalog query's frame generator)
    val frames = (for (clip <- 0L until 2L; k <- 0 until 6)
      yield (clip, k)).toDS()
      .map { case (clip, k) =>
        (clip, k,
          Multimodal.syntheticPngFamily((clip * 3 + k / 2) * 10, 32, 24)) }
    val got = Multimodal.sceneCuts(frames, threshold = 16)
      .select($"media_id", $"n_frames", $"n_cuts", $"max_hamming")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // independent expectation: hash each frame through the verified
    // imageAHash path and count threshold crossings in plain Scala
    val sig = Multimodal.imageAHash(
        (for (clip <- 0L until 2L; k <- 0 until 6) yield (clip, k)).toDS()
          .map { case (clip, k) =>
            (clip * 100 + k,
              Multimodal.syntheticPngFamily((clip * 3 + k / 2) * 10,
                32, 24)) })
      .collect().map(r => r.media_id -> r.ahash).toMap
    for (clip <- 0L until 2L) {
      val hs = (0 until 6).map(k => sig(clip * 100 + k))
      val hams = hs.sliding(2).map { case Seq(a, b) =>
        java.lang.Long.bitCount(a ^ b).toLong }.toSeq
      val (nf, nc, mh) = (6L, hams.count(_ > 16).toLong, hams.max)
      assert(got(clip) === ((clip, nf, nc, mh)), s"clip $clip")
      assert(nc >= 1L, s"clip $clip: fixture must contain a real cut")
    }
  }

  test("audioActivity: segments equal the wave-formula run-length replay") {
    import graft.ops.Multimodal
    val ids = (0L until 40L).toDS()
    val got = Multimodal.audioActivity(
        ids.map(id => (id, Multimodal.syntheticWavFamily(id, 16000))))
      .collect().map(a => a.media_id -> a).toMap
    def sample(id: Long, i: Int): Long = {
      val fam = id / 10
      val amp = 6000 + (fam % 50) * 50
      val per = 32 + (fam % 5) * 16
      val phase = fam % 97
      val cut0 = (id % 61) * 32
      if (i >= cut0 && i < cut0 + 64) 0L
      else {
        val j = i + phase
        val ph = j % per
        val tri = if (ph < per / 2) ph else per - ph
        tri * 2 * amp / per * (if ((j / per) % 2 == 0) 1L else -1L)
      }
    }
    (0L until 40L).foreach { id =>
      val e = new Array[Long](65)
      (0 until 2080).foreach(i => e(i / 32) += math.abs(sample(id, i)))
      val tot = e.sum
      val act = e.map(_ * 65 > tot)
      var nSeg = 0L; var run = 0L; var longest = 0L
      act.foreach { on =>
        if (on) { if (run == 0) nSeg += 1; run += 1
                  if (run > longest) longest = run }
        else run = 0
      }
      val a = got(id)
      assert(a.n_frames === 65L)
      assert(a.total_energy === tot, s"id $id energy")
      assert(a.n_active === act.count(identity).toLong, s"id $id active")
      assert(a.n_segments === nSeg, s"id $id segments")
      assert(a.longest_run === longest, s"id $id longest")
    }
  }

  test("sq8Recall: identical-ranking corpus gives recall 1, bounds hold") {
    import graft.ops.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val got = Similarity.sq8Recall(e, "vec_id", "embedding",
        col("vec_id") % 10 === 0, k = 5)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, ne, nh, rec) =>
      assert(ne === 5L)
      assert(nh >= 0L && nh <= 5L)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(rec === math.floor(nh.toDouble * 1e6 / 5.0) / 1e6)
    }
    // int8 codes preserve most of the inner-product ordering on this
    // fixture: the audit must report high-but-measured recall, not noise
    val mean = got.map(_._3).sum.toDouble / (5.0 * got.length)
    assert(mean >= 0.5, s"suspiciously low sq8 recall: $mean")
  }

  test("bitextMarginMine: one best row per probe, margin recomputes") {
    import graft.ops.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Similarity.bitextMarginMine(e, "vec_id", "embedding", "label",
      col("vec_id") % 10 === 0, kNeigh = 3).collect()
    val probes = e.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(out.map(_.getLong(0)).toSet === probes.keySet)
    val labels = e.select("vec_id", "label").as[(Long, Int)]
      .collect().toMap
    out.foreach { r =>
      val (q, c) = (r.getLong(0), r.getLong(1))
      assert(labels(c) !== probes(q), s"probe $q matched same-label $c")
      val (cos, aq, ac, m) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(m === math.floor(cos.toDouble * 2e6 /
        math.max(aq + ac, 1L).toDouble).toLong, s"probe $q margin")
    }
  }

  test("AVI demux: container round-trip preserves payload bytes and order") {
    // raw payloads with ODD lengths exercise RIFF word-alignment padding —
    // a demuxer that forgets the pad byte desyncs on the next chunk
    val payloads = Seq(
      Array[Byte](1, 2, 3), Array[Byte](4, 5), Array[Byte](6),
      Array.tabulate(257)(i => (i % 251).toByte))
    val avi = Multimodal.syntheticAvi(payloads, 32, 24, fourcc = "MJPG")
    val got = Multimodal.demuxAviFrames(avi)
    assert(got.size == payloads.size)
    got.zip(payloads).foreach { case (g, p) => assert(g.sameElements(p)) }
    // structural sanity of the container itself
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(avi, 8, 4, "US-ASCII") == "AVI ")
  }

  test("AVI demux: real MJPEG payloads decode via the imageio path") {
    // actual JPEG bytes inside an actual AVI: encode 3 frames with the
    // JDK's JPEG codec, pack, demux, decode — lossy pixels can't be
    // integer-pinned, but dims, frame count and within-JVM determinism can
    def jpegFrame(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 32)
        img.setRGB(x, y, ((x * 8 + seed * 40) << 16) | (y * 10 << 8) | seed)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val frames = (0 until 3).map(jpegFrame)
    val clip = Seq((7L, Multimodal.syntheticAvi(frames, 32, 24, "MJPG"))).toDS()
    val table = Multimodal.demuxFrames(clip).collect().sortBy(_._2)
    assert(table.map(t => (t._1, t._2)).toSeq ==
      Seq((7L, 0), (7L, 1), (7L, 2)))
    val decoded = Multimodal.decodeImages(
      Multimodal.demuxFrames(clip).map(t => (t._1 * 10 + t._2, t._3)))
      .collect().sortBy(_.media_id)
    assert(decoded.length == 3)
    decoded.foreach(d => assert(d.width == 32 && d.height == 24))
    // same JVM, same codec, same bytes -> bit-identical stats on re-run
    val again = Multimodal.decodeImages(
      Multimodal.demuxFrames(clip).map(t => (t._1 * 10 + t._2, t._3)))
      .collect().sortBy(_.media_id)
    assert(decoded.zip(again).forall { case (a, b) =>
      a.sum_r == b.sum_r && a.luma_hist == b.luma_hist })
  }

  test("AVI demux: non-RIFF and truncated containers fail loudly") {
    val ex1 = intercept[IllegalArgumentException](
      Multimodal.demuxAviFrames("not a container at all".getBytes))
    assert(ex1.getMessage.contains("not a RIFF"))
    val good = Multimodal.syntheticAvi(
      Seq(Array[Byte](1, 2, 3, 4)), 32, 24, "MJPG")
    val ex2 = intercept[IllegalArgumentException](
      Multimodal.demuxAviFrames(good.dropRight(9)))
    assert(ex2.getMessage.contains("corrupt") ||
      ex2.getMessage.contains("no movi"))
  }

  test("rakeKeyphrases: doc-local flatMap equals the declarative RAKE") {
    // r12 rewrote RAKE as a scan-stage flatMap; this pins it against the
    // original explode/window/join formulation on an adversarial corpus:
    // punctuation-split positions, stopword phrase breaks, repeated
    // words (freq > 1), score ties broken by smallest phrase, leading
    // non-letters (empty first split token), digits (stripped by the
    // [^a-z] regex), null and empty docs (no row).
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docs = Seq(
      (1L, "Red widget! red widget, blue gizmo the red widget."),
      (2L, "  42 leading,noise alpha beta; gamma-of delta"),
      (3L, "tie aa of tie aa"), // two identical-score phrases
      (4L, "the of and to"), // all stopwords -> no row
      (5L, ""), // empty -> no row
      (6L, null.asInstanceOf[String]),
      (7L, "solo")
    ).toDF("doc_id", "text")
    val fast = TextOps.rakeKeyphrases(docs, "doc_id", "text")
    // the pre-r12 formulation, verbatim
    val toks = docs.select(col("doc_id"),
        posexplode(split(regexp_replace(lower(col("text")), "[^a-z]+",
          " "), " ")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    val nonstop = toks.filter(!col("word").isin(TextOps.EnglishStopwords: _*))
    val wRn = Window.partitionBy("doc_id").orderBy(col("pos").asc)
    val ph = nonstop.withColumn("rn", row_number().over(wRn))
      .withColumn("grp", col("pos") - col("rn"))
    val phLen = ph.groupBy("doc_id", "grp").agg(count(lit(1)).as("plen"))
    val occ = ph.join(phLen, Seq("doc_id", "grp"))
    val wordScore = occ.groupBy("doc_id", "word")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .withColumn("wscore", expr("deg * 1000000L div freq"))
    val scored = occ.join(wordScore, Seq("doc_id", "word"))
      .groupBy("doc_id", "grp")
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(pos, word))), s -> s.word), ' ')").as("phrase"),
        count(lit(1)).as("n_words"), sum("wscore").as("score_micro"))
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("phrase").asc)
    val slow = scored.withColumn("b", row_number().over(wBest))
      .filter(col("b") === 1)
      .select(col("doc_id"), col("phrase"), col("n_words"),
        col("score_micro"))
    val f = fast.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3))).sortBy(_._1)
    val sl = slow.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(f.toSeq == sl.toSeq)
    assert(!f.exists(t => t._1 == 4L || t._1 == 5L || t._1 == 6L))
  }
}
