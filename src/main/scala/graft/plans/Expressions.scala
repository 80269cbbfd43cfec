package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the hot paths where composing built-ins
 * would be clumsy or slow. Each implements `doGenCode`, so it participates in
 * WholeStageCodegen — no UDF boxing, no codegen fence in the scan->project
 * pipeline (the requirement the builder prompt sets for 100 TB scans).
 */

/**
 * Polynomial rolling hash (Karp–Rabin): fold(acc = acc*31 + codepoint mod
 * 10^15) over the string's UTF-16 code units. Used for document
 * fingerprinting; the modulus keeps the accumulator < 2^60 so the fold is
 * exact in a Long AND reproducible in any engine with 64-bit integers (the
 * DuckDB oracle replays it with list_reduce).
 */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"rolling_hash needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      acc = (acc * 31 + s.charAt(i)) % RollingHash.Mod
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |String $s = $c.toString();
         |long $acc = 0L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $acc = ($acc * 31L + (long) $s.charAt($i)) % ${RollingHash.Mod}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  /** 10^15: acc*31 + 0xFFFF < 3.2e16 << Long.MaxValue — overflow-free. */
  val Mod: Long = 1000000000000000L
}

/**
 * Exact integer dot product of two `array<bigint>` columns.
 *
 * The composable alternative — `aggregate(zip_with(a, b, _*_), 0, _+_)` — is
 * a higher-order function: Catalyst evaluates the lambda INTERPRETED, per
 * element, with boxing, and it fences off WholeStageCodegen. On an n x m
 * scoring join (similarity search / embedding near-dup) that lambda is the
 * entire inner loop, so it dominates the operator. This native expression
 * compiles to a tight primitive long loop inside the join's generated code.
 *
 * Semantics: null if either array is null; elements are read as primitive
 * longs (quantized vectors are never element-null); length = min(|a|, |b|).
 */
case class IntDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"int_dot needs two array<bigint>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += x.getLong(i) * y.getLong(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntDot = copy(left = newLeft, right = newRight)
}

/**
 * Dot product of two `array<double>` columns — same rationale as [[IntDot]]
 * (interpreted HOF lambdas dominate scoring loops), for the float paths:
 * LSH hyperplane projections, where the weight side is a literal array that
 * codegen folds into the generated class. Summation is in element order, so
 * results are IEEE-identical to the `aggregate(zip_with(...))` fold it
 * replaces.
 */
case class DoubleDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"double_dot needs two array<double>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DoubleDot = copy(left = newLeft, right = newRight)
}

/**
 * Random-hyperplane LSH bucket signature: bit p of the result is the sign of
 * `vec . w[p]` for `planes` md5-derived hyperplanes, packed into a long.
 *
 * One expression for the WHOLE signature, with the weight matrix attached as
 * a single codegen reference object — NOT `planes * dims` literal columns:
 * that form generated a multi-thousand-line class whose Janino compilation
 * (~1.4 s CPU) re-ran on every broadcast build and never amortized, which
 * made bucket assignment the dominant cost of the ANN query at every scale.
 * Here the generated code is a tiny fixed loop, identical across executions,
 * so the compile caches; on a cluster the same property keeps per-task
 * codegen off the scoring path.
 *
 * Accepts `array<float>` or `array<double>`. Summation is in ascending dim
 * order — IEEE-identical to the `aggregate(zip_with(...))` fold and the
 * literal-array `double_dot` form it replaces.
 */
case class LshBucket(child: Expression, table: Int, planes: Int, dims: Int)
    extends UnaryExpression {
  require(planes > 0 && planes <= 63, s"planes=$planes must be in [1, 63]")

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"lsh_bucket needs array<float|double>, got $t")
    }

  /** planes x dims weights, row-major; deterministic (md5-derived). */
  @transient private lazy val weights: Array[Double] =
    Array.tabulate(planes * dims)(i =>
      LshBucket.planeWeight(table, i / dims, i % dims))

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dims)
    var sig = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var d = 0
      val base = p * dims
      while (d < n) {
        val x = if (isFloat) v.getFloat(d).toDouble else v.getDouble(d)
        acc += x * weights(base + d)
        d += 1
      }
      if (acc >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val w = ctx.addReferenceObj("lshWeights", weights, "double[]")
      val get = if (isFloat) "getFloat" else "getDouble"
      val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $dims);
         |long $sig = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  double $acc = 0.0;
         |  for (int $d = 0; $d < $n; $d++) {
         |    $acc += (double) $v.$get($d) * $w[$p * $dims + $d];
         |  }
         |  if ($acc >= 0) $sig |= 1L << $p;
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

object LshBucket {
  /** Deterministic hyperplane weight for (table, plane, dim): md5-derived
    * uniform in [-1, 1). Not RNG-dependent, so any engine can replay it. */
  def planeWeight(table: Int, plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"graft:$table:$plane:$dim".getBytes("UTF-8"))
    val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    v.toDouble / math.pow(2, 31) - 1.0
  }
}

/**
 * Count of tokens that belong to a fixed word set, in one compiled pass:
 * lowercase (Spark's own UTF8String lowering), scan maximal `[a-z0-9]` runs
 * (the `[^a-z0-9]+` tokenizer), test each against a reference-object
 * HashSet. Replaces `size(filter(tokens(text), t => or-chain))`, whose
 * lambda evaluates interpreted per token with an O(|words|) comparison
 * chain — and which ran once per language in the language-ID scorer, so a
 * 100 TB scan paid tokens x words x languages interpreted steps per row.
 * Occurrences count with multiplicity, exactly like the filter form.
 */
case class StopwordCount(child: Expression, words: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"stopword_count needs a string, got ${child.dataType}")

  @transient private lazy val wordSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any =
    StopwordCount.count(input.asInstanceOf[UTF8String], wordSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val set = ctx.addReferenceObj("stopwords", wordSet,
        "java.util.HashSet<String>")
      s"${ev.value} = graft.plans.StopwordCount.count($c, $set);"
    })

  override protected def withNewChildInternal(newChild: Expression): StopwordCount =
    copy(child = newChild)
}

object StopwordCount {
  /** Shared by eval and generated code. */
  def count(text: UTF8String, words: java.util.HashSet[String]): Int = {
    val s = text.toLowerCase.toString
    var n = 0
    var i = 0
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < len && {
          val d = s.charAt(j)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) j += 1
        if (words.contains(s.substring(i, j))) n += 1
        i = j
      } else i += 1
    }
    n
  }
}

/**
 * Lowercased `[a-z0-9]` token array in one compiled pass — semantics of
 * `filter(split(lower(text), "[^a-z0-9]+"), length > 0)`, whose `filter`
 * lambda runs interpreted per token. The tokenizer feeding every text
 * operator (counts, quality, simhash explode) belongs inside codegen.
 */
/**
 * Unicode normalization (java.text.Normalizer) as a native codegen'd
 * expression — the i18n prerequisite of every text-dedup key: "é" arrives
 * both precomposed (U+00E9) and decomposed (e + U+0301), and without NFC
 * the two spellings hash apart, splitting what is one document. `form` is
 * one of NFC/NFD/NFKC/NFKD (validated at construction; NFC is the dedup
 * default and the one the DuckDB oracle replays via nfc_normalize; NFKC
 * additionally folds compatibility characters — ligatures, full-width
 * forms — the aggressive choice for training-corpus keys). Pure per-row
 * scan-stage work; no UDF, no shuffle.
 */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {
  require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"unicode_normalize form must be NFC/NFD/NFKC/NFKD, got $form")
  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"unicode_normalize needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.normalize(input.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.plans.UnicodeNormalize.normalize($c, "$form");""")

  override protected def withNewChildInternal(newChild: Expression)
      : UnicodeNormalize = copy(child = newChild)
}

object UnicodeNormalize {
  /** Shared by eval and generated code. Fast path: Normalizer.isNormalized
    * is O(n) with no allocation — ASCII and already-normalized text (the
    * overwhelming majority of a real corpus) skips the rewrite. */
  def normalize(text: UTF8String, form: String): UTF8String = {
    val f = java.text.Normalizer.Form.valueOf(form)
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, f)) text
    else UTF8String.fromString(java.text.Normalizer.normalize(s, f))
  }
}

case class TokenizeAlnum(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"tokenize_alnum needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    TokenizeAlnum.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.plans.TokenizeAlnum.tokens($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenizeAlnum =
    copy(child = newChild)
}

object TokenizeAlnum {
  /** Shared by eval and generated code. */
  def tokens(text: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = text.toLowerCase.toString
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < len && {
          val d = s.charAt(j)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) j += 1
        out.add(UTF8String.fromString(s.substring(i, j)))
        i = j
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size())))
  }

  /** JVM-String face of the same tokenizer, THE shared helper for every
    * typed-flatMap operator (shingling, tiling, the streaming gate) — one
    * definition so the batch and streaming text paths cannot silently
    * desynchronize. Equivalence with the expression form is pinned by
    * PropertiesSpec ("native tokenizer equals the composed form"). */
  def tokensOf(s: String): Array[String] =
    s.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty)
}

/**
 * Integer quantization of a float vector: `round(x * scale)` per element as
 * `array<bigint>`. This is the scan-side preamble of every similarity
 * operator (the quantized grid is what makes dot products exact integers),
 * so it runs once per corpus row — the `transform(vec, ...)` higher-order
 * form evaluates its lambda interpreted per element. Rounding matches Spark's
 * `round` exactly (BigDecimal.valueOf HALF_UP, the same shortest-repr
 * semantics DuckDB's `round` exhibits on these values), so quantized vectors
 * are bit-identical to the composed form.
 */
case class QuantizeVec(child: Expression, scale: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"quantize_vec needs array<float|double>, got $t")
    }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      out(i) = QuantizeVec.q(x * scale)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val get = if (isFloat) "getFloat" else "getDouble"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $v.numElements();
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = graft.plans.QuantizeVec.q(
         |    (double) $v.$get($i) * $scale);
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

object QuantizeVec {
  /** Spark's `round(double)` semantics: BigDecimal.valueOf + HALF_UP. */
  def q(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
}

/**
 * SimHash aggregate: input rows are per-token 60-bit hashes (LongType);
 * the result is the 60-bit majority signature (bit j set iff strictly more
 * input hashes have bit j set than not).
 *
 * One object-buffer aggregate (int[bits] of +-1 counters) instead of the
 * composed 60-column `sum(when(...))` form: the wide form generated a
 * 60-aggregate codegen class per execution and carried 60 long columns
 * through the shuffle; this buffer is 240 bytes, map-side combined, and the
 * update loop is compiled Scala. Same semantics bit for bit.
 */
case class SimhashAgg(child: Expression, bits: Int = 60,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[Array[Int]] with UnaryLike[Expression] {
  require(bits > 0 && bits <= 63, s"bits=$bits must be in [1, 63]")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Int] = new Array[Int](bits)

  override def update(buf: Array[Int],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var j = 0
      while (j < bits) {
        buf(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var j = 0
    while (j < bits) { a(j) += b(j); j += 1 }
    a
  }

  override def eval(buf: Array[Int]): Any = {
    var sig = 0L
    var j = 0
    while (j < bits) { if (buf(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * bits)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bits)(bb.getInt)
  }

  override def withNewMutableAggBufferOffset(offset: Int): SimhashAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SimhashAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): SimhashAgg =
    copy(child = newChild)
}

/**
 * IVF coarse assignment: the id of the centroid with the highest quantized
 * cosine to the row's (quantized) vector, ties to the smallest centroid id.
 * The whole centroid table — ids, vectors, squared norms — rides as ONE
 * codegen reference object (the LshBucket lesson: per-centroid literal
 * arrays in a `greatest(struct...)` chain grow the generated class linearly
 * with nlist and re-pay Janino on every execution; a reference object and a
 * static helper keep the generated code one call long at any nlist).
 * Cosine is bit-identical to `Similarity.qcosineWithNorms`:
 * floor(dot / (sqrt(n2a) * sqrt(n2b)) * 1e6) / 1e6, all IEEE ops in the
 * same order, so the DuckDB oracle's row_number replay agrees exactly.
 */
case class IvfAssign(child: Expression, centIds: Seq[Long],
    centVecs: Seq[Seq[Long]], centNorms: Seq[Long]) extends UnaryExpression {
  require(centIds.nonEmpty && centIds.length == centVecs.length &&
    centIds.length == centNorms.length, "malformed centroid table")

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"ivf_assign needs array<bigint>, got $other")
    }

  @transient private lazy val table = new IvfAssign.Cents(
    centIds.toArray, centVecs.map(_.toArray).toArray, centNorms.toArray)

  override def nullSafeEval(v: Any): Any =
    IvfAssign.assign(v.asInstanceOf[ArrayData], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", table,
      classOf[IvfAssign.Cents].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.IvfAssign.assign($v, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfAssign =
    copy(child = newChild)
}

object IvfAssign {
  /** Broadcast-by-codegen-reference centroid table. */
  final class Cents(val ids: Array[Long], val vecs: Array[Array[Long]],
      val norms: Array[Long]) extends Serializable

  /** Shared by eval and generated code. */
  def assign(vec: ArrayData, c: Cents): Long = {
    val n = vec.numElements()
    var n2v = 0L
    var i = 0
    while (i < n) { val x = vec.getLong(i); n2v += x * x; i += 1 }
    var found = false
    var bestCos = java.lang.Double.NEGATIVE_INFINITY
    var bestId = 0L
    var minId = java.lang.Long.MAX_VALUE
    var j = 0
    while (j < c.ids.length) {
      val cv = c.vecs(j)
      val m = java.lang.Math.min(n, cv.length)
      var dot = 0L
      var k = 0
      while (k < m) { dot += vec.getLong(k) * cv(k); k += 1 }
      val cos = java.lang.Math.floor(dot.toDouble /
        (java.lang.Math.sqrt(n2v.toDouble) *
          java.lang.Math.sqrt(c.norms(j).toDouble)) * 1e6) / 1e6
      // NaN (a zero-norm side) never wins; among non-NaN: max cos, min id
      if (!java.lang.Double.isNaN(cos) &&
          (!found || cos > bestCos ||
            (cos == bestCos && c.ids(j) < bestId))) {
        found = true; bestCos = cos; bestId = c.ids(j)
      }
      if (c.ids(j) < minId) minId = c.ids(j)
      j += 1
    }
    // every cosine NaN (zero-norm vector): the ordered replay — NULLS LAST,
    // tie on centroid id — lands on the smallest centroid id; match it
    if (found) bestId else minId
  }
}

/**
 * KMV (k-minimum-values) distinct-count sketch — the "novel sketch" slot:
 * keeps the k smallest DISTINCT 60-bit hashes seen; with hashes uniform on
 * [0, 2^60), the k-th smallest h_k estimates the distinct count as
 * (k-1) * 2^60 / h_k (Bar-Yossef et al. 2002). Below k distinct values the
 * sketch IS the exact count.
 *
 * Why this over HLL (`approx_count_distinct`): byte-identical determinism.
 * The estimate is a pure function of the k smallest md5-derived hashes —
 * no engine-specific register layout — so DuckDB replays it exactly
 * (row_number over ordered hashes), and results are independent of
 * partitioning: update/merge keep a bounded sorted array, making the
 * aggregate map-side combinable with O(k) state per group at any scale.
 * Input must be the engine's 60-bit hash (`conv(substr(md5(x),1,15),16,10)`)
 * so the uniformity assumption and the replay hold.
 *
 * Buffer is a PRIMITIVE sorted long array, not a TreeSet: once full, the
 * common path is ONE comparison against the k-th min (early reject — after
 * the first k distinct values an accepted insert happens only ~k·ln(n/k)
 * times total); a survivor costs a binary search (dedup + position) and an
 * `arraycopy` shift. No boxing, no tree-node churn, 2 KiB cache-resident
 * state at k=256.
 */
case class KmvDistinct(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[KmvBuffer]
    with UnaryLike[Expression] {
  require(k >= 2, s"k=$k must be >= 2")

  private val HashSpace = 1152921504606846976.0 // 2^60, exact in a double

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer,
      input: org.apache.spark.sql.catalyst.InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: KmvBuffer, b: KmvBuffer): KmvBuffer = {
    var i = 0
    while (i < b.size) { a.insert(b.arr(i)); i += 1 }
    a
  }

  override def eval(buf: KmvBuffer): Any =
    if (buf.size < k) buf.size.toDouble
    else (k - 1).toDouble * HashSpace / buf.arr(k - 1).toDouble

  override def serialize(buf: KmvBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = new KmvBuffer(k)
    // serialized form is sorted ascending — fill the array directly
    var i = 0
    while (i < n) { out.arr(i) = bb.getLong; i += 1 }
    out.size = n
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvDistinct =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): KmvDistinct =
    copy(child = newChild)
}

/** Sorted ascending primitive buffer of the k smallest distinct hashes.
  * `arr(0..size)` is the live prefix; invariant: strictly increasing. */
final class KmvBuffer(val k: Int) {
  val arr = new Array[Long](k)
  var size = 0

  def insert(h: Long): Unit = {
    if (size == k && h >= arr(k - 1)) return // early reject vs k-th min
    val idx = java.util.Arrays.binarySearch(arr, 0, size, h)
    if (idx >= 0) return // already present (distinct semantics)
    val ins = -idx - 1
    if (size < k) {
      System.arraycopy(arr, ins, arr, ins + 1, size - ins)
      arr(ins) = h
      size += 1
    } else {
      // full: drop the current max, shift [ins, k-1) right by one
      System.arraycopy(arr, ins, arr, ins + 1, k - 1 - ins)
      arr(ins) = h
    }
  }
}

/**
 * The k smallest DISTINCT longs of a group, as a sorted ascending
 * `array<bigint>` — the bottom-k minwise sketch as an aggregate.
 *
 * This is the scale-correct form of "cap a per-group set": the alternative
 * (`row_number() over (partition by g order by h) <= k`) buffers and sorts a
 * group's ENTIRE value stream in one window task, while this aggregate
 * carries O(k) state per group and combines map-side (KmvBuffer: one
 * comparison early-reject once full), so a pathological million-value group
 * costs its partitions' local inserts, never one task's sort. Same buffer as
 * [[KmvDistinct]]; this returns the sketch itself where that returns the
 * distinct estimate.
 */
case class BottomKDistinct(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[KmvBuffer]
    with UnaryLike[Expression] {
  require(k >= 1, s"k=$k must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer,
      input: org.apache.spark.sql.catalyst.InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buf.insert(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: KmvBuffer, b: KmvBuffer): KmvBuffer = {
    var i = 0
    while (i < b.size) { a.insert(b.arr(i)); i += 1 }
    a
  }

  override def eval(buf: KmvBuffer): Any =
    ArrayData.toArrayData(java.util.Arrays.copyOf(buf.arr, buf.size))

  override def serialize(buf: KmvBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = new KmvBuffer(k)
    var i = 0
    while (i < n) { out.arr(i) = bb.getLong; i += 1 }
    out.size = n
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): BottomKDistinct =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BottomKDistinct =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(
      newChild: Expression): BottomKDistinct = copy(child = newChild)
}

/**
 * The k SMALLEST rows of a struct column per group (by the struct's natural
 * field-order comparison), returned sorted ascending — `array_sort(
 * collect_list(s))` truncated to k, but with O(k) aggregation state.
 *
 * This is the per-entity event cap for sequence operators (funnel, session
 * folds): `collect_list` buffers a pathological entity's ENTIRE history in
 * one aggregation buffer, while this keeps a bounded max-heap (size k) that
 * combines map-side — a million-event bot user costs k rows of state per
 * partition, never a million. With fewer than k rows the output equals the
 * sorted collect exactly.
 */
case class EarliestK(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[java.util.PriorityQueue[InternalRow]]
    with UnaryLike[Expression] {
  require(k >= 1, s"k=$k must be >= 1")

  private def structType: StructType =
    child.dataType.asInstanceOf[StructType]

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StructType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"earliest_k needs a struct, got ${child.dataType}")

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val ordering: Ordering[InternalRow] =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(structType).asInstanceOf[Ordering[InternalRow]]
  // max-heap: the head is the LARGEST kept row — the eviction candidate
  @transient private lazy val heapCmp =
    new java.util.Comparator[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int =
        ordering.compare(b, a)
    }
  @transient private lazy val toUnsafe =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(structType)

  override def createAggregationBuffer(): java.util.PriorityQueue[InternalRow] =
    new java.util.PriorityQueue[InternalRow](k, heapCmp)

  private def insert(buf: java.util.PriorityQueue[InternalRow],
      row: InternalRow): Unit = {
    if (buf.size < k) buf.add(toUnsafe(row).copy())
    else if (ordering.compare(row, buf.peek()) < 0) {
      buf.poll()
      buf.add(toUnsafe(row).copy())
    }
  }

  override def update(buf: java.util.PriorityQueue[InternalRow],
      input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.PriorityQueue[InternalRow] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[InternalRow])
    buf
  }

  override def merge(a: java.util.PriorityQueue[InternalRow],
      b: java.util.PriorityQueue[InternalRow])
      : java.util.PriorityQueue[InternalRow] = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next())
    a
  }

  override def eval(buf: java.util.PriorityQueue[InternalRow]): Any = {
    val arr = buf.toArray(new Array[InternalRow](buf.size))
    java.util.Arrays.sort(arr, ordering)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      arr.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: java.util.PriorityQueue[InternalRow])
      : Array[Byte] = {
    val rows = buf.toArray(new Array[InternalRow](buf.size))
      .map(_.asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.UnsafeRow])
    val total = 4 + rows.map(4 + _.getSizeInBytes).sum
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.putInt(rows.length)
    rows.foreach { r =>
      bb.putInt(r.getSizeInBytes)
      r.writeTo(bb)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.PriorityQueue[InternalRow] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = new java.util.PriorityQueue[InternalRow](k, heapCmp)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val rowBytes = new Array[Byte](len)
      bb.get(rowBytes)
      val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(
        structType.length)
      row.pointTo(rowBytes, len)
      out.add(row)
      i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): EarliestK =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): EarliestK =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): EarliestK =
    copy(child = newChild)
}

/**
 * First `hexChars` md5 hex digits as a long — the engine's canonical
 * oracle-replayable hash family, computed directly from the digest bytes.
 *
 * Semantically identical to `conv(substring(md5(x), 1, hexChars), 16, 10)`
 * (first hexChars hex chars = first 4*hexChars digest bits, big-endian),
 * but skips the three intermediate materializations that chain costs per
 * row: the 32-char hex UTF8String render, the substring copy, and conv's
 * base-16 re-parse. That chain sits under every shingle, sketch update and
 * sample filter — the engine's hottest per-row work — so the constant
 * matters at 100 TB. DuckDB still replays the arithmetic form bit-for-bit.
 * hexChars <= 15 keeps the value sign-safe in a BIGINT on every engine.
 */
case class Md5Prefix60(child: Expression, hexChars: Int = 15)
    extends UnaryExpression {
  require(hexChars >= 1 && hexChars <= 15,
    s"hexChars=$hexChars must be in [1, 15]")
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType || child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"md5_prefix60 needs string or binary, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input match {
      case s: UTF8String => s.getBytes
      case b: Array[Byte] => b
    }
    Md5Prefix60.hashPrefix(bytes, hexChars)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes =
        if (child.dataType == StringType) s"$c.getBytes()" else c
      s"${ev.value} = graft.plans.Md5Prefix60.hashPrefix($bytes, $hexChars);"
    })

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

object Md5Prefix60 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The minhash/bloom seed pair from one digest: (first 4 digest bytes,
    * next 4) as non-negative longs — the same values as
    * `conv(substr(md5(x), 1, 8), 16, 10)` / `(…, 9, 8)`, which is how the
    * DuckDB oracles replay them. */
  def seeds(bytes: Array[Byte]): (Long, Long) = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    var a = 0L; var b = 0L
    var i = 0
    while (i < 4) {
      a = (a << 8) | (d(i) & 0xffL)
      b = (b << 8) | (d(i + 4) & 0xffL)
      i += 1
    }
    (a, b)
  }

  /** First 60 bits of md5(bytes), big-endian, as a non-negative long. */
  def hash60(bytes: Array[Byte]): Long = hashPrefix(bytes, 15)

  /** First 4*hexChars bits of md5(bytes), big-endian, non-negative. */
  def hashPrefix(bytes: Array[Byte], hexChars: Int): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    var h = 0L
    var i = 0
    val full = hexChars / 2
    while (i < full) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    if ((hexChars & 1) == 1) h = (h << 4) | ((d(full) & 0xf0L) >> 4)
    h
  }
}

/**
 * Bit length of a non-negative BIGINT: `64 - numberOfLeadingZeros(v)` (0
 * for 0) — semantically identical to `length(bin(v))` for positive values,
 * which is how the DuckDB oracles replay it, but ONE intrinsic instead of
 * rendering a 64-char binary UTF8String and measuring it. Sits under every
 * whole-bit surprisal/idf term and every octave bucket — per-row hot-path
 * work where the string round-trip is pure allocation.
 */
case class BitLength(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType || child.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"bit_length_long needs int/bigint, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val v = input match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
    }
    64L - java.lang.Long.numberOfLeadingZeros(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = 64L - java.lang.Long.numberOfLeadingZeros((long) $c);")

  override protected def withNewChildInternal(newChild: Expression): BitLength =
    copy(child = newChild)
}

/** Shared Bloom-filter bit-position math: k positions per value, derived
  * from the md5 seed pair as `(a + i*b) mod m` — exactly the minhash hash
  * family, so the DuckDB oracle replays every position (and therefore
  * every false positive) bit-for-bit. `a, b < 2^32` and `i < k <= 16`, so
  * `a + i*b < 2^37` — overflow-free in a long. */
object BloomHash {
  def positions(bytes: Array[Byte], k: Int, mBits: Int, out: Array[Int]): Unit = {
    val (a, b) = Md5Prefix60.seeds(bytes)
    var i = 0
    while (i < k) { out(i) = ((a + i * b) % mBits).toInt; i += 1 }
  }

  /** All k bits of `bytes` set in `words` (long-array bitset)? */
  def contains(words: ArrayData, bytes: Array[Byte], k: Int, mBits: Int): Boolean = {
    val (a, b) = Md5Prefix60.seeds(bytes)
    var i = 0
    while (i < k) {
      val pos = ((a + i * b) % mBits).toInt
      if ((words.getLong(pos >> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def valueBytes(v: Any): Array[Byte] = v match {
    case s: UTF8String => s.getBytes
    case b: Array[Byte] => b
  }
}

/**
 * Bloom-filter build aggregate: folds string/binary values into an
 * `mBits`-bit filter (output: `array<bigint>` of mBits/64 words) with the
 * [[BloomHash]] md5-derived hash family. A `TypedImperativeAggregate` whose
 * `Array[Long]` partials OR together — map-side combine reduces each
 * partition to ONE fixed-size row, so building a filter over 100 TB of
 * n-grams shuffles `partitions x mBits/8` bytes, not the gram stream. The
 * filter is a pure function of the input SET (OR is commutative/idempotent):
 * deterministic, order-independent, and — because positions are md5-derived
 * — replayable by an external engine, false positives included.
 */
case class BloomBitsAgg(child: Expression, mBits: Int, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {
  require(mBits >= 64 && (mBits & 63) == 0,
    s"mBits=$mBits must be a positive multiple of 64")
  require(k >= 1 && k <= 16, s"k=$k must be in [1, 16]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType || child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"bloom_bits needs string or binary, got ${child.dataType}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](mBits / 64)

  @transient private lazy val posBuf = new Array[Int](k)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      BloomHash.positions(BloomHash.valueBytes(v), k, mBits, posBuf)
      var i = 0
      while (i < k) {
        val p = posBuf(i)
        buf(p >> 6) |= (1L << (p & 63))
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): BloomBitsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomBitsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): BloomBitsAgg =
    copy(child = newChild)
}

/**
 * Bloom-filter membership test against an `array<bigint>` filter built by
 * [[BloomBitsAgg]] with the same (mBits, k): true iff all k md5-derived bit
 * positions of the value are set. Codegen'd (no UDF) — a corpus-sized gram
 * stream probes the broadcast filter inside the scan's WholeStageCodegen.
 * May return false-positive `true` (the Bloom contract, deterministic and
 * oracle-replayable); never a false negative.
 */
case class BloomContains(left: Expression, right: Expression,
    mBits: Int, k: Int) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType.isInstanceOf[ArrayType] &&
        left.dataType.asInstanceOf[ArrayType].elementType == LongType &&
        (right.dataType == StringType || right.dataType == BinaryType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure("bloom_contains needs (array<bigint>, string|binary)" +
        s", got (${left.dataType}, ${right.dataType})")

  override def nullSafeEval(bits: Any, value: Any): Any =
    BloomHash.contains(bits.asInstanceOf[ArrayData],
      BloomHash.valueBytes(value), k, mBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bits, v) => {
      val bytes =
        if (right.dataType == StringType) s"$v.getBytes()" else v
      s"${ev.value} = graft.plans.BloomHash.contains($bits, $bytes, $k, $mBits);"
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}

/**
 * Element-wise sum of `array<bigint>` values — the vector accumulator for
 * centroid updates and any per-group vector statistic. A
 * `TypedImperativeAggregate` with an `Array[Long]` buffer: map-side partials
 * reduce each partition to one k x dims-independent array, so the shuffle
 * moves ONE row per (group, partition) instead of the n x dims rows a
 * posexplode + groupBy(pos) formulation shuffles. Exact integer math —
 * order-independent, oracle-replayable. Arrays must share a length (the
 * first non-null row fixes it; a mismatch fails loudly rather than
 * truncating).
 */
case class VecSumAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"vec_sum needs array<bigint>, got $other")
    }

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  private def addInto(buf: Array[Long], v: ArrayData): Array[Long] = {
    val n = v.numElements()
    val acc = if (buf.isEmpty) new Array[Long](n) else buf
    require(acc.length == n,
      s"vec_sum: mixed vector lengths (${acc.length} vs $n)")
    var i = 0
    while (i < n) { acc(i) += v.getLong(i); i += 1 }
    acc
  }

  override def update(buf: Array[Long],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buf else addInto(buf, v.asInstanceOf[ArrayData])
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else {
      require(a.length == b.length,
        s"vec_sum: mixed vector lengths (${a.length} vs ${b.length})")
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

  override def eval(buf: Array[Long]): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VecSumAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): VecSumAgg =
    copy(child = newChild)
}

/**
 * Product-quantization encode (Jégou et al., TPAMI 2011): split a quantized
 * `array<bigint>` vector into `m` contiguous `subDim`-wide sub-vectors and
 * return, per subspace, the ORDINAL of the codeword minimizing exact integer
 * squared-L2 distance (ties to the smallest ordinal). Output is
 * `array<int>` of length m — the m-byte PQ code of the row.
 *
 * All m codebooks ride as ONE codegen reference object ([[PqBooks]] — the
 * IvfAssign/LshBucket lesson: per-codeword literal structs grow the
 * generated class with m x ksub and re-pay Janino per execution). Pure
 * integer math — no float order, no ties beyond the ordinal rule — so the
 * DuckDB oracle replays the encoding exactly. Elements beyond the vector's
 * length count as 0 (a short vector is treated as zero-padded; callers pass
 * vectors of exactly m x subDim dims).
 */
case class PqEncode(child: Expression, books: Seq[Seq[Seq[Long]]],
    subDim: Int) extends UnaryExpression {
  require(books.nonEmpty && subDim > 0 &&
    books.forall(b => b.nonEmpty && b.forall(_.length == subDim)),
    "malformed PQ codebooks")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"pq_encode needs array<bigint>, got $other")
    }

  @transient private lazy val table =
    new PqBooks(books.map(_.map(_.toArray).toArray).toArray, subDim)

  override def nullSafeEval(v: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      PqBooks.encode(v.asInstanceOf[ArrayData], table))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", table, classOf[PqBooks].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData" +
        s".toArrayData(graft.plans.PqBooks.encode($v, $ref));")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/**
 * The ADC distance table for one probe vector: `array<array<bigint>>` where
 * `out[s][c]` is the exact integer squared-L2 distance between the probe's
 * s-th sub-vector and codeword c of subspace s. Computed ONCE per probe
 * (m x ksub x subDim work); scoring a (probe, code) pair is then m array
 * lookups + m adds — the whole point of ADC: pair cost O(m), not O(dims).
 */
case class PqAdcTable(child: Expression, books: Seq[Seq[Seq[Long]]],
    subDim: Int) extends UnaryExpression {
  require(books.nonEmpty && subDim > 0 &&
    books.forall(b => b.nonEmpty && b.forall(_.length == subDim)),
    "malformed PQ codebooks")

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"pq_adc_table needs array<bigint>, got $other")
    }

  @transient private lazy val table =
    new PqBooks(books.map(_.map(_.toArray).toArray).toArray, subDim)

  override def nullSafeEval(v: Any): Any = {
    val t = PqBooks.adcTable(v.asInstanceOf[ArrayData], table)
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      t.map(row => org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(row): Any))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqBooks", table, classOf[PqBooks].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.PqBooks.adcTableData($v, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

/**
 * Element-wise residual against a driver-side anchor table: `vec -
 * anchors(anchorId)` as `array<bigint>` — the IVF-PQ residual step ((q-c)
 * and (x-c) share the anchor, so squared-L2 between residuals equals
 * squared-L2 between the originals within a list). The anchor table rides
 * as ONE codegen reference object; a `zip_with` + map-lookup formulation
 * runs its lambda interpreted per ELEMENT on every corpus row. Unknown
 * anchor ids fail loudly (they indicate a broken assignment upstream);
 * elements past the vector's length read as 0.
 */
case class AnchorSub(left: Expression, right: Expression,
    anchorIds: Seq[Long], anchorVecs: Seq[Seq[Long]])
    extends BinaryExpression {
  require(anchorIds.nonEmpty && anchorIds.length == anchorVecs.length,
    "malformed anchor table")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"anchor_sub needs (array<bigint>, bigint), got $other")
    }

  @transient private lazy val table = {
    val m = new java.util.HashMap[java.lang.Long, Array[Long]]()
    anchorIds.zip(anchorVecs).foreach { case (id, v) => m.put(id, v.toArray) }
    m
  }

  override def nullSafeEval(v: Any, id: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      AnchorSub.sub(v.asInstanceOf[ArrayData], id.asInstanceOf[Long], table))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("anchors", table, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, (v, id) =>
      s"${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData" +
        s".toArrayData(graft.plans.AnchorSub.sub($v, $id, $ref));")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): AnchorSub =
    copy(left = newLeft, right = newRight)
}

object AnchorSub {
  def sub(vec: ArrayData, id: Long,
      anchors: java.util.HashMap[java.lang.Long, Array[Long]]): Array[Long] = {
    val a = anchors.get(id)
    require(a != null, s"anchor_sub: unknown anchor id $id")
    val out = new Array[Long](a.length)
    val n = vec.numElements()
    var i = 0
    while (i < a.length) {
      out(i) = (if (i < n) vec.getLong(i) else 0L) - a(i)
      i += 1
    }
    out
  }
}

/** Broadcast-by-codegen-reference PQ codebooks: `vecs(s)(c)` is codeword c
  * of subspace s, each `subDim` longs. */
final class PqBooks(val vecs: Array[Array[Array[Long]]], val subDim: Int)
  extends Serializable

object PqBooks {
  /** Squared-L2 between sub-vector s of `vec` (zero-padded past its end)
    * and one codeword — exact integer math, shared by eval and codegen. */
  private def subDist(vec: ArrayData, s: Int, cw: Array[Long],
      subDim: Int): Long = {
    val n = vec.numElements()
    val off = s * subDim
    var d = 0L
    var t = 0
    while (t < subDim) {
      val x = if (off + t < n) vec.getLong(off + t) else 0L
      val diff = x - cw(t)
      d += diff * diff
      t += 1
    }
    d
  }

  def encode(vec: ArrayData, b: PqBooks): Array[Int] = {
    val m = b.vecs.length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val words = b.vecs(s)
      var best = 0L
      var bestJ = 0
      var j = 0
      while (j < words.length) {
        val d = subDist(vec, s, words(j), b.subDim)
        if (j == 0 || d < best) { best = d; bestJ = j }
        j += 1
      }
      out(s) = bestJ
      s += 1
    }
    out
  }

  def adcTable(vec: ArrayData, b: PqBooks): Array[Array[Long]] = {
    val m = b.vecs.length
    val out = new Array[Array[Long]](m)
    var s = 0
    while (s < m) {
      val words = b.vecs(s)
      val row = new Array[Long](words.length)
      var j = 0
      while (j < words.length) {
        row(j) = subDist(vec, s, words(j), b.subDim)
        j += 1
      }
      out(s) = row
      s += 1
    }
    out
  }

  /** Codegen-facing wrapper returning Catalyst ArrayData directly. */
  def adcTableData(vec: ArrayData, b: PqBooks)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      adcTable(vec, b).map(row =>
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(row): Any))
}

/**
 * Count-Min Sketch (Cormode & Muthukrishnan 2005) — the frequency-sketch
 * counterpart to [[KmvDistinct]]: `depth` rows of `width` counters; each
 * input string increments one counter per row at bucket
 * `md5("<row>:<value>")[0,15) % width` (the repo's 60-bit md5 convention).
 * A point query reads the minimum of its `depth` counters — an upper bound
 * on the true count, within eps*N with probability 1-delta for
 * width = e/eps, depth = ln(1/delta).
 *
 * Scale rationale: heavy-hitter estimation over 100 TB of tokens without
 * the full-width groupBy shuffle — the aggregate's state is a fixed
 * depth*width Long array (e.g. 4x512 = 16 KB), map-side combinable
 * (counter-wise sum), so the shuffle moves one small array per partition
 * regardless of corpus size or vocabulary. Addition commutes, and the
 * hashes are md5-derived, so the sketch is byte-identical under any
 * partitioning AND exactly replayable by the DuckDB oracle (bucket sums +
 * min over rows in plain SQL) — same determinism bar as KMV.
 */
case class CmsAgg(child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {
  require(depth >= 1 && depth <= 16, s"depth=$depth out of [1,16]")
  require(width >= 2, s"width=$width must be >= 2")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      var t = 0
      while (t < depth) {
        buf(t * width + CmsAgg.bucket(t, s, width)) += 1L
        t += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): CmsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CmsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): CmsAgg =
    copy(child = newChild)
}

object CmsAgg {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Bucket of `value` in sketch row `t`: first 15 hex chars of
    * md5("t:value") as a 60-bit long, mod width — matches the SQL form
    * `conv(substring(md5(concat('t:', v)), 1, 15), 16, 10) % width` on both
    * Spark and DuckDB, so sketch queries replay engine-externally. */
  def bucket(t: Int, value: String, width: Int): Int = {
    val md = digest.get()
    md.reset()
    val d = md.digest((t + ":" + value)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex chars = first 7.5 bytes; build the 60-bit value directly
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h = (h << 4) | ((d(7) & 0xf0L) >> 4)
    (h % width).toInt
  }
}

/**
 * Misra–Gries frequent-items summary (Misra & Gries '82), in the mergeable
 * form of Agarwal et al., PODS'12: at most `k` (item, count) entries; an
 * arriving item increments its entry, opens one if there is room, and
 * otherwise decrements EVERY entry by one (dropping zeros) — each such
 * decrement cancels k+1 stream occurrences, so any item can lose at most
 * N/(k+1) of its true count. Merge = add counts pairwise, then subtract the
 * (k+1)-th largest count from all and drop non-positives; the lost mass
 * telescopes, so the N/(k+1) bound holds under ANY merge tree — i.e. under
 * any partitioning, any map-side combine order.
 *
 * Guarantees (and what the engine does with them):
 *  - every item with true frequency > N/(k+1) is PRESENT in the summary;
 *  - each reported count is a lower bound, short by at most N/(k+1).
 * The output is therefore a CANDIDATE set, not an answer —
 * [[graft.ops.TextOps.heavyHitters]] re-counts the ≤ k candidates exactly in
 * a second pass and filters on the exact support threshold, which makes the
 * operator's final result deterministic and engine-independent even though
 * the intermediate summary depends on arrival order.
 *
 * Scale rationale: exact heavy hitters over 100 TB of tokens normally cost a
 * full-vocabulary shuffle (the groupBy carries every distinct token). This
 * aggregate's state is ≤ k entries per partition — map-side combined, so the
 * shuffle moves ≤ k rows per partition — and the second pass is a broadcast
 * semi-join (≤ k keys) + a groupBy over only the matching rows. Total: two
 * scans, no wide shuffle, bounded memory everywhere.
 *
 * Output: array<struct<item string, lb bigint>> sorted (lb desc, item asc).
 */
case class MisraGriesAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[java.util.HashMap[String, Array[Long]]]
    with UnaryLike[Expression] {
  require(k >= 1 && k <= 65536, s"k=$k out of [1, 65536]")

  private def outStruct: StructType = new StructType()
    .add("item", StringType, nullable = false)
    .add("lb", LongType, nullable = false)
  override def dataType: DataType = ArrayType(outStruct, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"misra_gries needs a string, got ${child.dataType}")

  override def createAggregationBuffer(): java.util.HashMap[String, Array[Long]] =
    new java.util.HashMap[String, Array[Long]](k * 2)

  override def update(buf: java.util.HashMap[String, Array[Long]],
      input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.HashMap[String, Array[Long]] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      val cur = buf.get(s)
      if (cur != null) cur(0) += 1L
      else if (buf.size < k) buf.put(s, Array(1L))
      else {
        // decrement-all: O(k) here, but each trigger cancels k+1 arrivals,
        // so the amortized per-row cost is O(1)
        val it = buf.values().iterator()
        while (it.hasNext) {
          val c = it.next()
          c(0) -= 1L
          if (c(0) == 0L) it.remove()
        }
      }
    }
    buf
  }

  override def merge(a: java.util.HashMap[String, Array[Long]],
      b: java.util.HashMap[String, Array[Long]])
      : java.util.HashMap[String, Array[Long]] = {
    val itb = b.entrySet().iterator()
    while (itb.hasNext) {
      val e = itb.next()
      val cur = a.get(e.getKey)
      if (cur != null) cur(0) += e.getValue()(0)
      else a.put(e.getKey, e.getValue)
    }
    if (a.size > k) {
      // subtract the (k+1)-th largest count from everything; ≤ k survive
      val counts = new Array[Long](a.size)
      var i = 0
      val itc = a.values().iterator()
      while (itc.hasNext) { counts(i) = itc.next()(0); i += 1 }
      java.util.Arrays.sort(counts)
      val sub = counts(counts.length - (k + 1)) // (k+1)-th largest
      val it = a.values().iterator()
      while (it.hasNext) {
        val c = it.next()
        c(0) -= sub
        if (c(0) <= 0L) it.remove()
      }
    }
    a
  }

  override def eval(buf: java.util.HashMap[String, Array[Long]]): Any = {
    val entries = new Array[(String, Long)](buf.size)
    var i = 0
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      entries(i) = (e.getKey, e.getValue()(0))
      i += 1
    }
    val sorted = entries.sortBy { case (item, lb) => (-lb, item) }
    ArrayData.toArrayData(sorted.map { case (item, lb) =>
      InternalRow(UTF8String.fromString(item), lb): Any
    })
  }

  override def serialize(buf: java.util.HashMap[String, Array[Long]])
      : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bytes = e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(e.getValue()(0))
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.HashMap[String, Array[Long]] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val out = new java.util.HashMap[String, Array[Long]](k * 2)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      out.put(new String(b, java.nio.charset.StandardCharsets.UTF_8),
        Array(in.readLong()))
      i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(
      newChild: Expression): MisraGriesAgg = copy(child = newChild)
}

object GraftExpressions {
  /** Column wrapper (Spark 4 classic bridge). */
  def rolling_hash(c: Column): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(c)))

  def int_dot(a: Column, b: Column): Column =
    ColumnBridge.column(IntDot(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))

  def double_dot(a: Column, b: Column): Column =
    ColumnBridge.column(DoubleDot(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))

  def lsh_bucket(vec: Column, table: Int, planes: Int, dims: Int): Column =
    ColumnBridge.column(LshBucket(ColumnBridge.expression(vec),
      table, planes, dims))

  def tokenize_alnum(text: Column): Column =
    ColumnBridge.column(TokenizeAlnum(ColumnBridge.expression(text)))

  def unicode_normalize(text: Column, form: String = "NFC"): Column =
    ColumnBridge.column(UnicodeNormalize(ColumnBridge.expression(text), form))

  def stopword_count(text: Column, words: Seq[String]): Column =
    ColumnBridge.column(StopwordCount(ColumnBridge.expression(text), words))

  def quantize_vec(vec: Column, scale: Int = 1000): Column =
    ColumnBridge.column(QuantizeVec(ColumnBridge.expression(vec), scale))

  def simhash_agg(tokenHash: Column, bits: Int = 60): Column =
    ColumnBridge.column(SimhashAgg(ColumnBridge.expression(tokenHash), bits)
      .toAggregateExpression())

  def kmv_distinct(hash60: Column, k: Int): Column =
    ColumnBridge.column(KmvDistinct(ColumnBridge.expression(hash60), k)
      .toAggregateExpression())

  def bloom_bits(c: Column, mBits: Int, k: Int): Column =
    ColumnBridge.column(BloomBitsAgg(ColumnBridge.expression(c), mBits, k)
      .toAggregateExpression())

  def bloom_contains(bits: Column, c: Column, mBits: Int, k: Int): Column =
    ColumnBridge.column(BloomContains(ColumnBridge.expression(bits),
      ColumnBridge.expression(c), mBits, k))

  def md5_prefix60(c: Column): Column =
    ColumnBridge.column(Md5Prefix60(ColumnBridge.expression(c)))

  def bit_length_long(c: Column): Column =
    ColumnBridge.column(BitLength(ColumnBridge.expression(c)))

  def md5_prefix(c: Column, hexChars: Int): Column =
    ColumnBridge.column(Md5Prefix60(ColumnBridge.expression(c), hexChars))

  def bottomk_distinct(c: Column, k: Int): Column =
    ColumnBridge.column(BottomKDistinct(ColumnBridge.expression(c), k)
      .toAggregateExpression())

  def earliest_k(s: Column, k: Int): Column =
    ColumnBridge.column(EarliestK(ColumnBridge.expression(s), k)
      .toAggregateExpression())

  def vec_sum(vec: Column): Column =
    ColumnBridge.column(VecSumAgg(ColumnBridge.expression(vec))
      .toAggregateExpression())

  def cms_agg(value: Column, depth: Int, width: Int): Column =
    ColumnBridge.column(CmsAgg(ColumnBridge.expression(value), depth, width)
      .toAggregateExpression())

  def misra_gries(value: Column, k: Int): Column =
    ColumnBridge.column(MisraGriesAgg(ColumnBridge.expression(value), k)
      .toAggregateExpression())

  def ivf_assign(vec: Column, centIds: Seq[Long], centVecs: Seq[Seq[Long]],
      centNorms: Seq[Long]): Column =
    ColumnBridge.column(IvfAssign(ColumnBridge.expression(vec),
      centIds, centVecs, centNorms))

  def pq_encode(vec: Column, books: Seq[Seq[Seq[Long]]], subDim: Int): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), books, subDim))

  def anchor_sub(vec: Column, anchorId: Column, anchorIds: Seq[Long],
      anchorVecs: Seq[Seq[Long]]): Column =
    ColumnBridge.column(AnchorSub(ColumnBridge.expression(vec),
      ColumnBridge.expression(anchorId), anchorIds, anchorVecs))

  def pq_adc_table(vec: Column, books: Seq[Seq[Seq[Long]]],
      subDim: Int): Column =
    ColumnBridge.column(PqAdcTable(ColumnBridge.expression(vec), books, subDim))

  /** Every SQL-callable native expression as (name, builder), installed
    * into each session by [[graft.GraftExtensions]] so the native surface
    * reaches `expr()` / SQL: `SELECT graft_rolling_hash(text) FROM docs`. */
  val sqlFunctions: Seq[(String,
      Seq[Expression] => Expression)] = Seq(
    "graft_rolling_hash" -> ((exprs: Seq[Expression]) =>
      RollingHash(exprs.head)),
    "graft_int_dot" -> ((exprs: Seq[Expression]) =>
      IntDot(exprs.head, exprs(1))),
    "graft_double_dot" -> ((exprs: Seq[Expression]) =>
      DoubleDot(exprs.head, exprs(1))),
    "graft_simhash_agg" -> ((exprs: Seq[Expression]) =>
      SimhashAgg(exprs.head)),
    "graft_kmv_distinct" -> ((exprs: Seq[Expression]) =>
      KmvDistinct(exprs.head, exprs(1).eval().asInstanceOf[Int])),
    "graft_bloom_bits" -> ((exprs: Seq[Expression]) =>
      BloomBitsAgg(exprs.head, exprs(1).eval().asInstanceOf[Int],
        exprs(2).eval().asInstanceOf[Int])),
    "graft_bloom_contains" -> ((exprs: Seq[Expression]) =>
      BloomContains(exprs.head, exprs(1), exprs(2).eval().asInstanceOf[Int],
        exprs(3).eval().asInstanceOf[Int])),
    "graft_md5_prefix60" -> ((exprs: Seq[Expression]) =>
      Md5Prefix60(exprs.head)),
    "graft_bit_length" -> ((exprs: Seq[Expression]) =>
      BitLength(exprs.head)),
    "graft_bottomk_distinct" -> ((exprs: Seq[Expression]) =>
      BottomKDistinct(exprs.head, exprs(1).eval().asInstanceOf[Int])),
    "graft_earliest_k" -> ((exprs: Seq[Expression]) =>
      EarliestK(exprs.head, exprs(1).eval().asInstanceOf[Int])),
    "graft_vec_sum" -> ((exprs: Seq[Expression]) =>
      VecSumAgg(exprs.head)),
    "graft_cms_agg" -> ((exprs: Seq[Expression]) =>
      CmsAgg(exprs.head, exprs(1).eval().asInstanceOf[Int],
        exprs(2).eval().asInstanceOf[Int])),
    "graft_misra_gries" -> ((exprs: Seq[Expression]) =>
      MisraGriesAgg(exprs.head, exprs(1).eval().asInstanceOf[Int])),
    "graft_unicode_normalize" -> ((exprs: Seq[Expression]) =>
      UnicodeNormalize(exprs.head,
        if (exprs.length > 1)
          exprs(1).eval().asInstanceOf[UTF8String].toString
        else "NFC")))
}
