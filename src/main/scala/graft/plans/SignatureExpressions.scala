package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the signature hot paths.
  *
  * The pure-`functions._` formulations (nested transform/aggregate/zip_with
  * in [[graft.functions.Dedup]]) are correct but evaluate a lambda-interpreter
  * step per element: a 64-permutation MinHash over ~100 shingles costs ~6.4k
  * interpreted ops per row. These expressions do the same math in one tight
  * JVM loop per row — the preference order from the design rules: compose
  * built-ins first, drop to a custom `Expression` where the built-in form
  * leaves 10× on the table.
  *
  * Hashing uses Spark's own XxHash64Function so signatures agree with the
  * `xxhash64()` SQL builtin.
  */

/** MinHash signature: array<long> of length `nPerm` over an array<string>
  * of shingles OR an array<long> of pre-hashed shingles (xxhash64 values,
  * e.g. from [[WordShingleHashes]] — identical signatures either way).
  * h_j(x) = (a_j·x + b_j) mod p, p = 2^31−1, x = xxhash64 mod p;
  * deterministic coefficients from `seed`.
  */
case class MinHashSig(child: Expression, nPerm: Int, seed: Long)
    extends UnaryExpression {

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  def compute(arr: ArrayData): ArrayData =
    nullSafeEval(arr).asInstanceOf[ArrayData]

  private val Prime = 2147483647L

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) | ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash requires ARRAY<STRING> shingles or ARRAY<BIGINT> " +
            s"shingle hashes, got ${other.sql}")
    }

  @transient private lazy val preHashed: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  // drawn as interleaved (a,b) pairs — MUST match Dedup.permutations so
  // the native and builtin-HOF formulations produce identical signatures
  @transient private lazy val perms: Array[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Array.fill(nPerm)((1L + r.nextInt(Int.MaxValue - 2).toLong,
      r.nextInt(Int.MaxValue - 1).toLong))
  }
  @transient private lazy val as: Array[Long] = perms.map(_._1)
  @transient private lazy val bs: Array[Long] = perms.map(_._2)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(nPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val raw =
        if (preHashed) arr.getLong(i)
        else XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      val h = {
        val x = raw % Prime
        if (x < 0) x + Prime else x
      }
      var j = 0
      while (j < nPerm) {
        val v = (as(j) * h + bs(j)) % Prime
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 63-bit SimHash over an array<string> of tokens: per-token xxhash64,
  * each bit votes ±1, sign of the vote becomes the signature bit.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  def compute(arr: ArrayData): Long =
    nullSafeEval(arr).asInstanceOf[java.lang.Long].longValue()

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_simhash requires an ARRAY<STRING> token column, got ${other.sql}")
    }

  private val Bits = 63

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](Bits)
    var i = 0
    while (i < n) {
      val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      var j = 0
      while (j < Bits) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < Bits) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Dot product of two numeric arrays folded LEFT-TO-RIGHT in double —
  * exactly the IEEE sequence of `aggregate(zip_with(a, b, (x,y) =>
  * x.cast("double") * y.cast("double")), 0.0, _+_)`, so results are
  * bit-identical to the builtin-HOF form (and to a left-fold oracle) at a
  * tight-loop cost. Handles float and double element types; the shorter
  * array bounds the fold (zip_with semantics pair missing elements with
  * null, and null products are skipped by the HOF sum only when both
  * arrays match in length — fixture vectors always do; we fold min-length).
  */
case class DotF(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  // true inline codegen body: the element types are known at plan time,
  // so the generated Java is the same left-to-right double fold as
  // compute() with typed ArrayData getters — no reference-object load, no
  // per-row virtual call, and the loop fuses into the surrounding
  // whole-stage span (bit-equality with compute() pinned in SimilaritySpec)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    def getter(dt: DataType, arr: String, i: String): String = dt match {
      case ArrayType(FloatType, _)   => s"(double) $arr.getFloat($i)"
      case ArrayType(DoubleType, _)  => s"$arr.getDouble($i)"
      case ArrayType(LongType, _)    => s"(double) $arr.getLong($i)"
      case ArrayType(IntegerType, _) => s"(double) $arr.getInt($i)"
      case ArrayType(ShortType, _)   => s"(double) $arr.getShort($i)"
      case other => throw new IllegalArgumentException(
        s"graft_dot requires a numeric array, got ${other.sql}")
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("dotN")
      val i = ctx.freshName("dotI")
      val s = ctx.freshName("dotS")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${getter(left.dataType, a, i)} * ${getter(right.dataType, b, i)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  def compute(xa: ArrayData, xb: ArrayData): Double = {
    val n = math.min(xa.numElements(), xb.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += readLeft(xa, i) * readRight(xb, i)
      i += 1
    }
    s
  }

  private def reader(dt: DataType): (ArrayData, Int) => Double = dt match {
    case ArrayType(FloatType, _) => (x, i) => x.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => (x, i) => x.getDouble(i)
    case ArrayType(LongType, _) => (x, i) => x.getLong(i).toDouble
    case ArrayType(IntegerType, _) => (x, i) => x.getInt(i).toDouble
    case ArrayType(ShortType, _) => (x, i) => x.getShort(i).toDouble
    case other => throw new IllegalArgumentException(
      s"graft_dot requires a numeric array, got ${other.sql}")
  }
  // resolved per element type: reading a long array with getDouble would
  // reinterpret integer bits as IEEE doubles — garbage, not an error
  @transient private lazy val readLeft = reader(left.dataType)
  @transient private lazy val readRight = reader(right.dataType)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType | LongType | IntegerType | ShortType, _),
            ArrayType(FloatType | DoubleType | LongType | IntegerType | ShortType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires numeric arrays, got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dot"
}

object SignatureExpressions {
  import org.apache.spark.sql.GraftBridge

  def minhashSig(shingles: Column, nPerm: Int = 64, seed: Long = 42L): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(shingles), nPerm, seed))

  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))

  def dotF(a: Column, b: Column): Column =
    GraftBridge.column(DotF(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Register every native expression for the SQL path (same builders the
    * [[GraftExtensions]] deployment hook injects via spark.sql.extensions
    * — that config is a static conf, so in-process sessions use this).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    def intArg(exprs: Seq[Expression], i: Int, name: String): Int =
      exprs(i) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be an integer literal, got $other")
      }
    GraftBridge.registerTempFunction(spark, "graft_minhash",
      exprs => MinHashSig(exprs.head, 64, 42L))
    GraftBridge.registerTempFunction(spark, "graft_simhash",
      exprs => SimHash64(exprs.head))
    GraftBridge.registerTempFunction(spark, "graft_shingle_hashes",
      exprs => WordShingleHashes(exprs.head,
        intArg(exprs, 1, "graft_shingle_hashes")))
    GraftBridge.registerTempFunction(spark, "graft_text_stats",
      exprs => TextStatsExpr(exprs.head))
    GraftBridge.registerTempFunction(spark, "graft_lang_scores",
      exprs => LangScores(exprs.head))
    GraftBridge.registerTempFunction(spark, "graft_media_header",
      exprs => MediaHeaderExpr(exprs.head))
    GraftBridge.registerTempFunction(spark, "graft_dot",
      exprs => DotF(exprs(0), exprs(1)))
    // aggregates: the analyzer wraps a bare AggregateFunction returned by
    // a registry builder into an AggregateExpression
    GraftBridge.registerTempFunction(spark, "graft_reservoir",
      exprs => ReservoirSample(exprs.head,
        intArg(exprs, 1, "graft_reservoir"), 42L))
    GraftBridge.registerTempFunction(spark, "graft_bottom_k",
      exprs => BottomKLongs(exprs.head, intArg(exprs, 1, "graft_bottom_k")))
    GraftBridge.registerTempFunction(spark, "graft_tdigest",
      exprs => QuantileDigest(exprs.head,
        Seq(0.25, 0.5, 0.75, 0.99), intArg(exprs, 1, "graft_tdigest")))
    GraftBridge.registerTempFunction(spark, "graft_nfc",
      exprs => NfcNormalizeF(exprs.head))
    GraftBridge.registerTempFunction(spark, "graft_shingle_strings",
      exprs => ShingleStringsF(exprs.head,
        intArg(exprs, 1, "graft_shingle_strings")))
    GraftBridge.registerTempFunction(spark, "graft_adc_sum",
      exprs => AdcSumF(exprs(0), exprs(1)))
    GraftBridge.registerTempFunction(spark, "graft_heavy_hitters",
      exprs => MisraGries(exprs.head,
        intArg(exprs, 1, "graft_heavy_hitters")))
    GraftBridge.registerTempFunction(spark, "graft_linear_score",
      exprs => LinearScoreF(exprs.head,
        intArg(exprs, 1, "graft_linear_score")))
    GraftBridge.registerTempFunction(spark, "graft_deflate_size",
      exprs => DeflateSizeF(exprs.head))
    GraftBridge.registerTempFunction(spark, "graft_gram_moments",
      exprs => GramMoments(exprs.head,
        intArg(exprs, 1, "graft_gram_moments")))
  }
}
