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

/** Shared plumbing of the split query catalog (one file per operator
  * family under graft.catalog; graft.QueryCatalog assembles them): the
  * catalog-wide type alias, cross-engine quantization helpers, fixture
  * readers and scratch-dir management. See the cross-engine identity
  * rules documented on [[graft.QueryCatalog]].
  */
private[graft] object Shared {

  type Q = (SparkSession, String) => DataFrame

  /** Money quantization that is bit-identical across engines: `floor(x*100)`
    * floors the SAME IEEE product in Spark and DuckDB (floor has no tie
    * mode), yielding exact BIGINT cents whose sums are order-independent.
    * Raw double→decimal casts are NOT cross-engine-safe: Spark rounds the
    * shortest decimal representation (`BigDecimal.valueOf`, HALF_UP) while
    * DuckDB rounds the binary value, so a stored `36485.49499…` renders as
    * `.495`→`.50` in Spark but `.49` in DuckDB. Sums stay in BIGINT (exact
    * to 2^63 ≈ 9.2e18 hundredths; promote the product to decimal(38,0)
    * before summing if a 100 TB aggregate could exceed that); presentation
    * divides by a double literal — one IEEE op, identical everywhere. */
  private[graft] def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(100)).cast("long")

  private[graft] def centsSql(x: String): String = s"CAST(floor($x*100) AS BIGINT)"

  /** One UNION ALL arm of the q_profile_ri oracle: scalar subqueries keep
    * each count's null semantics explicit (count(DISTINCT) ignores nulls,
    * matching the engine's non-null n_keys; NOT EXISTS instead of NOT IN so
    * a null parent key cannot veto the whole audit). NB: def, not val —
    * object-init order (see [[quantSql]]). */
  private[graft] def riRelSql(child: String, fk: String, parent: String,
      pk: String): String =
    s"""SELECT '$child.$fk->$parent.$pk' AS relationship,
      (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_rows,
      (SELECT CAST(count(*) AS BIGINT) FROM $child WHERE $fk IS NULL)
        AS n_null_rows,
      (SELECT CAST(count(DISTINCT $fk) AS BIGINT) FROM $child) AS n_keys,
      (SELECT CAST(count(*) AS BIGINT) FROM
        (SELECT DISTINCT $fk AS k FROM $child WHERE $fk IS NOT NULL) c
        WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = c.k))
        AS n_orphan_keys,
      (SELECT CAST(count(*) AS BIGINT) FROM $child c
        WHERE $fk IS NOT NULL AND NOT EXISTS
          (SELECT 1 FROM $parent p WHERE p.$pk = c.$fk)) AS n_orphan_rows"""

  /** Round-unrolled DuckDB replay of [[graft.ops.Similarity.kcenterSelect]]
    * (same CTE-per-round shape as the q_sim_mmr oracle): sel_r accumulates
    * the chosen set, m_{r+1} recomputes every remaining point's exact
    * min-squared-distance to it, and a deterministic ORDER BY dist DESC,
    * vec_id LIMIT 1 reproduces the tie-break. Integer squared distances:
    * quantized dots are ≤ dims·1e6, exact in list_dot_product's double. */
  private[graft] def kcenterOracleSql(k: Int): String = {
    def sq(a: String, b: String): String =
      s"CAST(${dotSql(a, a)} - 2*${dotSql(a, b)} + ${dotSql(b, b)} AS BIGINT)"
    val sb = new StringBuilder
    sb ++= s"WITH c AS (SELECT vec_id, $quantSql AS v FROM embeddings),\n"
    sb ++= "s1 AS (SELECT vec_id AS id, v, CAST(0 AS BIGINT) AS dist " +
      "FROM c ORDER BY vec_id LIMIT 1),\n"
    sb ++= "sel1 AS (SELECT id, v, dist, CAST(1 AS BIGINT) AS pick FROM s1)"
    for (r <- 2 to k) {
      sb ++= s""",
        m$r AS (SELECT c.vec_id, c.v, min(${sq("c.v", "p.v")}) AS dist
          FROM c CROSS JOIN sel${r - 1} p
          WHERE c.vec_id NOT IN (SELECT id FROM sel${r - 1})
          GROUP BY c.vec_id, c.v),
        s$r AS (SELECT vec_id AS id, v, dist FROM m$r
          ORDER BY dist DESC, vec_id LIMIT 1),
        sel$r AS (SELECT id, v, dist, pick FROM sel${r - 1}
          UNION ALL SELECT id, v, dist, CAST($r AS BIGINT) AS pick
          FROM s$r)"""
    }
    sb ++= s"\nSELECT pick, id AS vec_id, dist FROM sel$k"
    sb.toString
  }

  /** Round-unrolled DuckDB replay of [[graft.ops.Similarity.pcaPower]]:
    * per round a dot CTE, an integer d-vector sum grouped by component,
    * and the L∞ floor-division renormalization (the ((a%m)+m)%m residue
    * matches Scala's remainder semantics; (a−mod)//m is exact because mod
    * makes a divisible). All-integer — doubles appear only inside
    * list_dot_product whose per-round bound (d·Q·scale ≤ 6.7e7) is far
    * under 2^53. */
  private[graft] def pcaOracleSql(rounds: Int, dims: Int, scale: Long): String = {
    val v0 = Seq.fill(dims)(s"CAST($scale AS BIGINT)").mkString("[", ", ", "]")
    val sb = new StringBuilder
    sb ++= s"WITH c AS (SELECT $quantSql AS v FROM embeddings),\n"
    sb ++= s"v0 AS (SELECT $v0 AS vl)"
    for (r <- 1 to rounds) {
      sb ++= s""",
        d$r AS (SELECT c.v,
            CAST(${dotSql("c.v", s"v${r - 1}.vl")} AS BIGINT) AS d
          FROM c, v${r - 1}),
        w$r AS (SELECT j, CAST(sum(v[j] * d) AS BIGINT) AS w
          FROM d$r, UNNEST(range(1, ${dims + 1})) AS t(j) GROUP BY j),
        m$r AS (SELECT greatest(max(abs(w)), 1) AS m FROM w$r),
        v$r AS (SELECT list(
            (w * $scale - ((((w * $scale) % m) + m) % m)) // m ORDER BY j)
            AS vl FROM w$r, m$r)"""
    }
    sb ++= s"""
      SELECT CAST(j AS BIGINT) AS j, vl[j] AS loading
      FROM v$rounds, UNNEST(range(1, ${dims + 1})) AS t(j)"""
    sb.toString
  }

  /** Round-unrolled DuckDB replay of [[graft.ops.Bpe.train]]: per merge
    * round a weighted adjacent-pair count over the VOCABULARY (unique
    * words × counts — never the corpus), the deterministic argmax
    * (total DESC, a, b), and the greedy left-to-right merge application
    * as a list_reduce fold. The fold needs no "just merged" flag: the
    * merged symbol a||b is strictly longer than a, so it can never match
    * the pattern's left side in the same pass — same invariant
    * `Bpe.mergeOnce` relies on. */
  private[graft] def bpeOracleSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w AS (SELECT t AS word, count(*) AS cnt
        FROM (SELECT ${tokensSql()} AS ts FROM documents),
          UNNEST(ts) AS u(t)
        GROUP BY 1),
      v0 AS (SELECT list_append(regexp_extract_all(word, '.'), '</w>')
          AS syms, cnt FROM w)"""
    for (r <- 1 to rounds) {
      sb ++= s""",
      pc$r AS (SELECT syms[i] AS a, syms[i + 1] AS b,
          CAST(sum(cnt) AS BIGINT) AS total
        FROM v${r - 1}, UNNEST(range(1, len(syms))) AS u(i)
        GROUP BY 1, 2),
      best$r AS (SELECT a, b FROM pc$r
        ORDER BY total DESC, a, b LIMIT 1),
      v$r AS (SELECT list_reduce(
          list_prepend(CAST([] AS VARCHAR[]),
            list_transform(syms, s -> [s])),
          (acc, x) -> CASE
            WHEN len(acc) > 0 AND acc[-1] = best$r.a AND x[1] = best$r.b
            THEN acc[1:len(acc) - 1] || [best$r.a || best$r.b]
            ELSE acc || x END) AS syms, cnt
        FROM v${r - 1}, best$r)"""
    }
    sb ++= (1 to rounds).map { r =>
      s"\n      SELECT CAST($r AS BIGINT) AS round, a, b FROM best$r"
    }.mkString("", "\n      UNION ALL", "")
    sb.toString
  }

  /** Round-unrolled DuckDB replay of Bpe.train + [[graft.ops.Bpe
    * .tokenCount]]: ONE chain of CTEs keeps word identity (e0..eN carry
    * `word`), so each round derives its pair counts from the same relation
    * the merge is then applied to — algebraically identical to
    * [[bpeOracleSql]]'s train chain — and the final per-word symbol count
    * joins back onto the token stream WITH multiplicity. Docs whose token
    * list is empty keep a 0 row (left join from documents), matching the
    * engine's per-doc map. */
  /** Shared CTE chain of the BPE-encode oracles, ending at `per`
    * (doc_id, n_bpe_tokens) and `tok` (doc_id, word). */
  private[graft] def bpeEncodeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w AS (SELECT t AS word, count(*) AS cnt
        FROM (SELECT ${tokensSql()} AS ts FROM documents),
          UNNEST(ts) AS u(t)
        GROUP BY 1),
      e0 AS (SELECT word,
          list_append(regexp_extract_all(word, '.'), '</w>') AS syms, cnt
        FROM w)"""
    for (r <- 1 to rounds) {
      sb ++= s""",
      pc$r AS (SELECT syms[i] AS a, syms[i + 1] AS b,
          CAST(sum(cnt) AS BIGINT) AS total
        FROM e${r - 1}, UNNEST(range(1, len(syms))) AS u(i)
        GROUP BY 1, 2),
      best$r AS (SELECT a, b FROM pc$r
        ORDER BY total DESC, a, b LIMIT 1),
      e$r AS (SELECT word, list_reduce(
          list_prepend(CAST([] AS VARCHAR[]),
            list_transform(syms, s -> [s])),
          (acc, x) -> CASE
            WHEN len(acc) > 0 AND acc[-1] = best$r.a AND x[1] = best$r.b
            THEN acc[1:len(acc) - 1] || [best$r.a || best$r.b]
            ELSE acc || x END) AS syms, cnt
        FROM e${r - 1}, best$r)"""
    }
    sb ++= s""",
      wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS n FROM e$rounds),
      tok AS (SELECT doc_id, t AS word
        FROM (SELECT doc_id, ${tokensSql()} AS ts FROM documents),
          UNNEST(ts) AS u(t)),
      per AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bpe_tokens
        FROM tok JOIN wl USING (word) GROUP BY 1)"""
    sb.toString
  }

  private[graft] def bpeEncodeOracleSql(rounds: Int): String =
    s"""${bpeEncodeCtes(rounds)}
      SELECT d.doc_id, CAST(coalesce(per.n_bpe_tokens, 0) AS BIGINT)
        AS n_bpe_tokens
      FROM documents d LEFT JOIN per USING (doc_id)"""

  /** Tokenizer-fertility oracle: the same BPE replay aggregated to
    * (lang): BPE tokens per whitespace word, the multilingual-corpus
    * budget metric. */
  private[graft] def bpeFertilityOracleSql(rounds: Int): String =
    s"""${bpeEncodeCtes(rounds)},
      nw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words
        FROM tok GROUP BY 1),
      j AS (SELECT d.lang,
          CAST(coalesce(nw.n_words, 0) AS BIGINT) AS n_words,
          CAST(coalesce(per.n_bpe_tokens, 0) AS BIGINT) AS n_bpe
        FROM documents d LEFT JOIN nw USING (doc_id)
        LEFT JOIN per USING (doc_id))
      SELECT lang, CAST(sum(n_words) AS BIGINT) AS n_words,
        CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
        CAST(floor(CAST(CAST(sum(n_bpe) AS BIGINT) AS DOUBLE) * 1e3
          / CAST(greatest(CAST(sum(n_words) AS BIGINT), 1) AS DOUBLE))
          AS BIGINT) AS fertility_milli
      FROM j GROUP BY 1"""

  private[graft] def riEdges: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"))

  /** Scan-parallelism floor (optimization guide §2.5 "input skew" / §6
    * split sizing): the fixtures are single-file, SINGLE-ROW-GROUP parquet,
    * and a parquet byte-range split can never cut inside a row group — so
    * every fixture scan resolves to ONE task and all scan-stage work
    * (tokenize/shingle/decode expressions, filters, map-side partial
    * aggregation) serializes onto one core no matter the session's core
    * count. When the resolved scan has fewer partitions than the default
    * parallelism, spread it round-robin once (deterministic under retry:
    * sortBeforeRepartition is on by default, and every catalog query is
    * row-order-insensitive by construction). At production scale a corpus
    * scan has thousands of splits, the branch is false, and NO exchange is
    * added — the floor is a local-pathology guard, not a tuned constant.
    * Measured (r12, sf0.1/32): the exact-kNN scan stage 5.4s -> 0.9s.
    */
  private[graft] def scanFloor(df: DataFrame): DataFrame =
    graft.ops.Similarity.spread(df)

  // NB: the floor is applied PER CALL SITE (mm id projections, the
  // shingle kernels in Dedup, cosineTopK's corpus side, gopher), never
  // blanket at the reader: for queries that shuffle by key immediately —
  // or whose scan-stage work is light next to moving the text payload —
  // the extra round-robin exchange measured as a net LOSS (token-groupBy
  // text set +17%, light relational queries +0.3-1.2s each).
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(s, dir)
    else s.read.parquet(s"$dir/$name.parquet")

  /** Row count of a fixture table from the BARE scan — the parquet
    * metadata-count fast path. Knob derivations (planesFor/kFor) must use
    * this instead of counting a [[scanFloor]]ed frame, which would pay a
    * full scan + round-robin shuffle for a number the footer already
    * holds. Same value by construction. */
  private[graft] def tCount(s: SparkSession, dir: String, name: String): Long =
    s.read.parquet(s"$dir/$name.parquet").count()

  /** Per-JVM scratch root for queries that materialize intermediate files
    * (format round-trips, snapshot stores, compaction). One FIXED subdir
    * per tag, wiped and recreated on each call, so a repeated gate/bench
    * invocation reuses the same path instead of leaking a fresh temp dir
    * per run; a shutdown hook removes the whole root at JVM exit. The wipe
    * also guarantees version-numbered stores (SnapshotStore) start from
    * v0 on every invocation. */
  private[graft] lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)))
    p
  }

  private[graft] def scratch(tag: String): String = {
    val d = scratchRoot.resolve(tag)
    org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** The events fixture's `ts` encoding has drifted across testdata
    * generations (TIMESTAMP(NANOS)-as-long, then native TIMESTAMP(MICROS)).
    * [[graft.sources.EventLog]] inspects the resolved schema and normalizes
    * whichever encoding is present to TimestampType — the same instant
    * DuckDB sees. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    graft.sources.EventLog.events(s, dir)

  // ================================================================ DSL

  // NB: referenced from earlier-initializing vals — must be a def
  private[graft] def quantSql: String =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  private[graft] def dotSql(a: String, b: String): String =
    s"list_dot_product(list_transform($a, x -> CAST(x AS DOUBLE)), " +
      s"list_transform($b, x -> CAST(x AS DOUBLE)))"

  /** Same uniform-in-[0,1) md5 score as `Sampling.hashScore`; division by
    * 2^32 is exact in binary floating point, so the comparison is
    * bit-identical across engines. */
  private[graft] def hashScoreSql(id: String): String =
    s"CAST(CAST(concat('0x', substr(md5(CAST($id AS VARCHAR)), 1, 8)) " +
      s"AS BIGINT) AS DOUBLE) / 4294967296.0"

  private[graft] def tokensSql(src: String = "text"): String =
    s"list_filter(regexp_split_to_array(lower($src), '[^a-z0-9]+'), x -> len(x) > 0)"

  private[graft] def langIdOracleSql: String = {
    val counts = TextOps.LangMarkers.filter(_._2.nonEmpty).map {
      case (lang, words) =>
        val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(${tokensSql()}, t -> list_contains($list, t))) AS c_$lang"
    }
    val langs = TextOps.LangMarkers.filter(_._2.nonEmpty).map(_._1)
    val cases = langs.zipWithIndex.map { case (lang, i) =>
      val earlier = langs.take(i).map(l => s"c_$lang > c_$l")
      val later = langs.drop(i + 1).map(l => s"c_$lang >= c_$l")
      val conds = (earlier ++ later :+ s"c_$lang > 0").mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }
    s"""WITH m AS (SELECT doc_id, text, ${counts.mkString(",\n  ")} FROM documents)
       SELECT doc_id,
         CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
              ${cases.mkString("\n              ")}
              ELSE 'und' END AS lang_pred
       FROM m"""
  }

  private[graft] def stopListSql: String =
    TextOps.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
}
