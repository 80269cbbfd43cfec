package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sf1 fixture generator: 10 key-offset copies of the
  * driver's read-only sf0.1 tables, written under the repo (the driver's
  * /root/testdata is read-only). Used by [[BenchScale]] to measure
  * sf0.1 -> sf1 per-query scaling ratios — the empirical leg of the
  * 100 TB claim (VERDICT r8 action #1).
  *
  * Scaling choices, and why they matter for a SCALING benchmark:
  *   - Every key column (primary and foreign alike) gets `copy * KeyOffset`
  *     added, so referential integrity, join fan-out per key, and group
  *     sizes per key are IDENTICAL to sf0.1 — only the number of keys grows
  *     10x. That is the growth mode a real corpus has (more users, more
  *     orders), and it keeps per-group cost constant so a superlinear
  *     total can only come from plan shape, not fixture artifacts.
  *   - region/nation stay as-is (TPC-H dimension constants; sf-invariant).
  *   - Dates/timestamps are NOT shifted: 10x rows per calendar day is the
  *     realistic densification, and domain-bounded windows (per-day, etc.)
  *     keep their domain size.
  *   - `documents.text` gets a per-copy suffix on EVERY token (copy 0
  *     unchanged). Cross-copy shingle sets become disjoint, so near-dup
  *     cluster structure is 10 independent copies of sf0.1's — pair counts
  *     scale linearly. Plain replication would make every doc a 10-way
  *     exact dup and near-dup pair counts would grow ~100x for DATA
  *     reasons, masking any plan regression.
  *   - `embeddings.embedding` is rotated by `copy` positions (copy 0
  *     unchanged): within-copy geometry (norms, pairwise cosines) is
  *     exactly sf0.1's; cross-copy vectors decorrelate, so ANN candidate
  *     structure also scales linearly.
  */
object MakeSf {
  /** Larger than any key in sf0.1 (max is l_orderkey ~ 600k). */
  final val KeyOffset = 10000000L
  final val Copies = 10

  /**
   * args: [srcDir] [outDir] [level]. Level 1 (default) is the sf0.1 -> sf1
   * replication documented above. Level 2 replicates an ALREADY-LEVEL-1
   * fixture another 10x (sf1 -> sf10) with collision-free perturbations:
   *
   *   - key offset 10*KeyOffset (level-1 keys reach 9*KeyOffset + max, so
   *     reusing KeyOffset would collide copies);
   *   - document token suffixes from a DISJOINT alphabet ('A'..'I' vs
   *     level 1's 'a'..'i'): a level-2 suffix on a base token can never
   *     equal a level-1 suffixed token, so all 100 combined copies keep
   *     disjoint shingle sets and pair counts stay linear;
   *   - embeddings get a per-copy SIGN MASK instead of a rotation (the
   *     64-dim vectors admit only 64 distinct rotations, so composed
   *     rotations would collide mod 64 and same-rotation copy pairs would
   *     multiply LSH/IVF bucket sizes). Flipping a fixed dim subset on
   *     both sides of a pair preserves every within-copy dot product
   *     exactly (sum of mask_d^2 * a_d * b_d = a.b) while cross-copy dots
   *     decorrelate — the same "10 independent copies" contract as
   *     level 1.
   */
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/root/repo/testdata_sf1"
    val level = if (args.length > 2) args(2).toInt else 1
    require(level == 1 || level == 2, s"level must be 1 or 2, got $level")
    val offset = if (level == 1) KeyOffset else 10L * KeyOffset
    val partsScale = if (level == 1) 1 else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.create(master = Some(s"local[$cpus]"),
      shufflePartitions = Some(cpus.toInt))
    spark.sparkContext.setLogLevel("WARN")

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    /** Union of `Copies` key-offset replicas. `keyCols` are shifted by
      * copy*KeyOffset; `perturb` applies copy-specific content rewrites. */
    def replicate(df: DataFrame, keyCols: Seq[String],
        perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until Copies).map { i =>
        val shifted = keyCols.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i * offset)))
        perturb(shifted, i)
      }.reduce(_ unionAll _)

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts * partsScale)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // Dimension constants: copy through unchanged.
    write(src("region"), "region", 1)
    write(src("nation"), "nation", 1)

    write(replicate(src("customer"), Seq("c_custkey")), "customer", 8)
    write(replicate(src("supplier"), Seq("s_suppkey")), "supplier", 2)
    write(replicate(src("part"), Seq("p_partkey")), "part", 8)
    write(replicate(src("orders"), Seq("o_orderkey", "o_custkey")),
      "orders", 16)
    write(replicate(src("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem", 32)
    write(replicate(src("events"), Seq("event_id", "user_id")), "events", 16)

    val suffixBase = if (level == 1) 'a' else 'A'
    write(replicate(src("documents"), Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("text",
        regexp_replace(col("text"), "(\\S+)",
          "$1" + (suffixBase + i - 1).toChar))
    ), "documents", 8)

    write(replicate(src("embeddings"), Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else if (level == 1) d.withColumn("embedding", expr(
        s"concat(slice(embedding, ${i + 1}, size(embedding) - $i), " +
        s"slice(embedding, 1, $i))"))
      else d.withColumn("embedding", expr(
        // deterministic per-copy sign mask (see scaladoc): dim d flips
        // iff murmur3(d, copy) is odd — ~half the dims, different set
        // per copy
        s"transform(embedding, (x, d) -> " +
        s"CASE WHEN pmod(hash(d, $i), 2) = 0 THEN x ELSE -x END)"))
    ), "embeddings", 4)

    println(s"""{"made":"$outDir","copies":$Copies,"level":$level}""")
    spark.stop()
  }
}
