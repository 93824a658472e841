package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native tight-loop expressions for the PQ hot paths. The HOF
  * formulations (the specs' `ReferenceForms.encodeExprHof`
  * and `aggregate(sequence(...))` ADC sum) are semantically right but
  * interpret a lambda per element and allocate slices per subspace —
  * for encode that is m·ksub (=128 at the defaults) interpreted folds
  * PER CORPUS ROW, by far the dominant cost of an IVF-PQ build. These
  * expressions run the identical IEEE sequence (left-to-right double
  * fold per subspace, first-index-on-ties argmin, 0.0-seeded lookup
  * sum — bit-equality pinned in PqIndexSpec) as one fused loop inside
  * whole-stage codegen.
  */
object PqExpressions {

  /** PQ codes of a numeric-array column against literal codebooks:
    * per subspace `i`, the first index of the nearest sub-centroid of
    * `codebooks(i)` to dims `[i·dsub, (i+1)·dsub)`.
    */
  def pqEncode(v: Column, codebooks: Array[Array[Array[Double]]],
               dsub: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      PqEncodeF(org.apache.spark.sql.GraftBridge.expression(v),
        codebooks, dsub))

  /** First index of the nearest (squared-euclidean) literal centroid —
    * the IVF assignment projection, one fused loop per row.
    */
  def nearestCentroid(v: Column, centers: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftBridge.column(
      NearestCentroidF(org.apache.spark.sql.GraftBridge.expression(v),
        centers))

  /** Nearest-by-cosine center with distance and rank label — the fused
    * k-center assignment kernel (see [[NearestCenterCosF]]).
    */
  def nearestCenterCos(v: Column, centers: Array[Array[Float]],
                       cnorms: Array[Double], ranks: Array[Int]): Column =
    org.apache.spark.sql.GraftBridge.column(
      NearestCenterCosF(org.apache.spark.sql.GraftBridge.expression(v),
        centers, cnorms, ranks))

  /** `Σ_i qtab(i)(codes(i))` — the ADC lookup sum, folded left-to-right
    * from 0.0.
    */
  def adcSum(codes: Column, qtab: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      AdcSumF(org.apache.spark.sql.GraftBridge.expression(codes),
        org.apache.spark.sql.GraftBridge.expression(qtab)))

  /** The `nProbe` nearest (squared-euclidean) literal centroids,
    * ordered by (distance, index) — the multi-probe assignment kernel
    * (see [[NearestListsF]]).
    */
  def nearestLists(v: Column, centers: Array[Array[Double]],
                   nProbe: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      NearestListsF(org.apache.spark.sql.GraftBridge.expression(v),
        centers, nProbe))
}

case class PqEncodeF(child: Expression,
                     codebooks: Array[Array[Array[Double]]], dsub: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_pq_encode requires ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
    }

  @transient private lazy val m = codebooks.length
  @transient private lazy val ksub = codebooks(0).length

  private def read(arr: ArrayData, i: Int): Double = child.dataType match {
    case ArrayType(FloatType, _) => arr.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => arr.getDouble(i)
    case other => throw new IllegalArgumentException(
      s"graft_pq_encode requires array<float|double>, got ${other.sql}")
  }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val out = new Array[Int](m)
    var i = 0
    while (i < m) {
      val cb = codebooks(i)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val cent = cb(c)
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val x = read(arr, i * dsub + j) - cent(j)
          d += x * x
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = child.dataType match {
      case ArrayType(FloatType, _) => (a: String, i: String) => s"(double) $a.getFloat($i)"
      case ArrayType(DoubleType, _) => (a: String, i: String) => s"$a.getDouble($i)"
      case other => throw new IllegalArgumentException(
        s"graft_pq_encode requires array<float|double>, got ${other.sql}")
    }
    val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("pqOut")
      val i = ctx.freshName("pqI")
      val c = ctx.freshName("pqC")
      val j = ctx.freshName("pqJ")
      val cb = ctx.freshName("pqCb")
      val cent = ctx.freshName("pqCent")
      val best = ctx.freshName("pqBest")
      val bestD = ctx.freshName("pqBestD")
      val d = ctx.freshName("pqD")
      val x = ctx.freshName("pqX")
      s"""
         |int[] $out = new int[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  double[][] $cb = $cbRef[$i];
         |  int $best = 0;
         |  double $bestD = Double.MAX_VALUE;
         |  for (int $c = 0; $c < $ksub; $c++) {
         |    double[] $cent = $cb[$c];
         |    double $d = 0.0;
         |    for (int $j = 0; $j < $dsub; $j++) {
         |      double $x = ${getter(v, s"($i * $dsub + $j)")} - $cent[$j];
         |      $d += $x * $x;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $best = $c; }
         |  }
         |  $out[$i] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeF =
    copy(child = newChild)
  override def prettyName: String = "graft_pq_encode"
}

case class NearestCentroidF(child: Expression, centers: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_nearest_centroid requires ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
    }

  @transient private lazy val n = centers.length

  private def read(arr: ArrayData, i: Int): Double = child.dataType match {
    case ArrayType(FloatType, _) => arr.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => arr.getDouble(i)
    case other => throw new IllegalArgumentException(
      s"graft_nearest_centroid requires array<float|double>, got ${other.sql}")
  }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < n) {
      val cent = centers(c)
      val dim = math.min(arr.numElements(), cent.length)
      var d = 0.0
      var j = 0
      while (j < dim) {
        val x = read(arr, j) - cent(j)
        d += x * x
        j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = child.dataType match {
      case ArrayType(FloatType, _) => (a: String, i: String) => s"(double) $a.getFloat($i)"
      case ArrayType(DoubleType, _) => (a: String, i: String) => s"$a.getDouble($i)"
      case other => throw new IllegalArgumentException(
        s"graft_nearest_centroid requires array<float|double>, got ${other.sql}")
    }
    val cRef = ctx.addReferenceObj("ncCenters", centers, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val c = ctx.freshName("ncC")
      val j = ctx.freshName("ncJ")
      val cent = ctx.freshName("ncCent")
      val dim = ctx.freshName("ncDim")
      val best = ctx.freshName("ncBest")
      val bestD = ctx.freshName("ncBestD")
      val d = ctx.freshName("ncD")
      val x = ctx.freshName("ncX")
      s"""
         |int $best = 0;
         |double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $n; $c++) {
         |  double[] $cent = $cRef[$c];
         |  int $dim = java.lang.Math.min($v.numElements(), $cent.length);
         |  double $d = 0.0;
         |  for (int $j = 0; $j < $dim; $j++) {
         |    double $x = ${getter(v, j)} - $cent[$j];
         |    $d += $x * $x;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidF =
    copy(child = newChild)
  override def prettyName: String = "graft_nearest_centroid"
}

/** The `nProbe` nearest (squared-euclidean) literal centroids of a
  * vector, as an int array ordered by (distance, centroid index) — the
  * multi-probe generalization of [[NearestCentroidF]] powering the
  * corpus-sized self-KNN probe ([[graft.functions.IvfIndex.knnGraph]]).
  *
  * Bit-identical to the HOF formulation
  * `slice(array_sort(zip_with(transform(centers, c -> sqDist(v, c)),
  * sequence(0, n-1), (d, i) -> struct(d, i))), 1, nProbe).list_id`:
  * per-centroid distance is the same left-to-right `(x-y)²` fold, and
  * the nProbe selection keeps the earlier index on exact distance ties
  * (insertion below strictly-greater entries only). One fused loop with
  * an O(nProbe) insertion buffer instead of n interpreted folds plus an
  * n-element sort per row; stays in whole-stage codegen.
  */
case class NearestListsF(child: Expression, centers: Array[Array[Double]],
                         nProbe: Int)
    extends UnaryExpression {

  require(nProbe >= 1 && nProbe <= centers.length,
    s"nProbe must be in [1, ${centers.length}], got $nProbe")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_nearest_lists requires ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
    }

  @transient private lazy val n = centers.length

  private def read(arr: ArrayData, i: Int): Double = child.dataType match {
    case ArrayType(FloatType, _) => arr.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => arr.getDouble(i)
    case other => throw new IllegalArgumentException(
      s"graft_nearest_lists requires array<float|double>, got ${other.sql}")
  }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val topD = new Array[Double](nProbe)
    val topI = new Array[Int](nProbe)
    var size = 0
    var c = 0
    while (c < n) {
      val cent = centers(c)
      val dim = math.min(arr.numElements(), cent.length)
      var d = 0.0
      var j = 0
      while (j < dim) {
        val x = read(arr, j) - cent(j)
        d += x * x
        j += 1
      }
      // insert below strictly-greater entries: equal distances keep the
      // earlier centroid index first (the array_sort struct tie rule)
      var p = size
      while (p > 0 && topD(p - 1) > d) p -= 1
      if (p < nProbe) {
        val last = math.min(size, nProbe - 1)
        var q = last
        while (q > p) { topD(q) = topD(q - 1); topI(q) = topI(q - 1); q -= 1 }
        topD(p) = d; topI(p) = c
        if (size < nProbe) size += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(topI, size))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = child.dataType match {
      case ArrayType(FloatType, _) => (a: String, i: String) => s"(double) $a.getFloat($i)"
      case ArrayType(DoubleType, _) => (a: String, i: String) => s"$a.getDouble($i)"
      case other => throw new IllegalArgumentException(
        s"graft_nearest_lists requires array<float|double>, got ${other.sql}")
    }
    val cRef = ctx.addReferenceObj("nlCenters", centers, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val c = ctx.freshName("nlC")
      val j = ctx.freshName("nlJ")
      val cent = ctx.freshName("nlCent")
      val dim = ctx.freshName("nlDim")
      val d = ctx.freshName("nlD")
      val x = ctx.freshName("nlX")
      val topD = ctx.freshName("nlTopD")
      val topI = ctx.freshName("nlTopI")
      val size = ctx.freshName("nlSize")
      val p = ctx.freshName("nlP")
      val q = ctx.freshName("nlQ")
      val last = ctx.freshName("nlLast")
      s"""
         |double[] $topD = new double[$nProbe];
         |int[] $topI = new int[$nProbe];
         |int $size = 0;
         |for (int $c = 0; $c < $n; $c++) {
         |  double[] $cent = $cRef[$c];
         |  int $dim = java.lang.Math.min($v.numElements(), $cent.length);
         |  double $d = 0.0;
         |  for (int $j = 0; $j < $dim; $j++) {
         |    double $x = ${getter(v, j)} - $cent[$j];
         |    $d += $x * $x;
         |  }
         |  int $p = $size;
         |  while ($p > 0 && $topD[$p - 1] > $d) $p--;
         |  if ($p < $nProbe) {
         |    int $last = java.lang.Math.min($size, $nProbe - 1);
         |    for (int $q = $last; $q > $p; $q--) {
         |      $topD[$q] = $topD[$q - 1]; $topI[$q] = $topI[$q - 1];
         |    }
         |    $topD[$p] = $d; $topI[$p] = $c;
         |    if ($size < $nProbe) $size++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($topI, $size));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestListsF =
    copy(child = newChild)
  override def prettyName: String = "graft_nearest_lists"
}

/** Nearest center by COSINE distance with the distance value and the
  * center's rank label — the k-center assignment kernel
  * ([[graft.functions.Similarity.kCenterSampled]]). The struct-array
  * formulation (`array_min` over k literal `struct(dist, rank)`
  * expressions) is bit-identical (KCenter assignment spec) but builds k
  * separate dot-product expressions: beyond a few hundred centers that
  * exceeds codegen method-size limits and falls back to interpretation.
  * This is ONE fused loop over a literal center matrix — O(k·dim) per
  * row inside whole-stage codegen at any k.
  *
  * Exact semantics of the struct form: `nrm = sqrt(Σ v_i²)` (the same
  * left-to-right fold as `norm()`), per center (ascending rank)
  * `d = denom == 0 ? 1.0 : 1 − (Σ v_i·c_i)/denom` with
  * `denom = nrm·cnorm`, strict `<` argmin (ties keep the earlier rank).
  * Returns `struct(d: double, rnk: int)`.
  */
case class NearestCenterCosF(child: Expression,
                             centers: Array[Array[Float]],
                             cnorms: Array[Double],
                             ranks: Array[Int])
    extends UnaryExpression {

  require(centers.length == cnorms.length && centers.length == ranks.length
    && centers.nonEmpty, "centers/cnorms/ranks must align and be non-empty")

  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("rnk", IntegerType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_nearest_center_cos requires ARRAY<FLOAT|DOUBLE>, got ${other.sql}")
    }

  @transient private lazy val n = centers.length

  private def read(arr: ArrayData, i: Int): Double = child.dataType match {
    case ArrayType(FloatType, _) => arr.getFloat(i).toDouble
    case ArrayType(DoubleType, _) => arr.getDouble(i)
    case other => throw new IllegalArgumentException(
      s"graft_nearest_center_cos requires array<float|double>, got ${other.sql}")
  }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    var s = 0.0
    var i = 0
    while (i < dim) { val x = read(arr, i); s += x * x; i += 1 }
    val nrm = math.sqrt(s)
    var bestD = Double.PositiveInfinity
    var bestR = ranks(0)
    var c = 0
    while (c < n) {
      val cent = centers(c)
      val denom = nrm * cnorms(c)
      val d =
        if (denom == 0.0) 1.0
        else {
          var dot = 0.0
          var j = 0
          val m = math.min(dim, cent.length)
          while (j < m) { dot += read(arr, j) * cent(j).toDouble; j += 1 }
          1.0 - dot / denom
        }
      if (d < bestD) { bestD = d; bestR = ranks(c) }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestD, bestR))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = child.dataType match {
      case ArrayType(FloatType, _) => (a: String, i: String) => s"(double) $a.getFloat($i)"
      case ArrayType(DoubleType, _) => (a: String, i: String) => s"$a.getDouble($i)"
      case other => throw new IllegalArgumentException(
        s"graft_nearest_center_cos requires array<float|double>, got ${other.sql}")
    }
    val cRef = ctx.addReferenceObj("nccCenters", centers, "float[][]")
    val nRef = ctx.addReferenceObj("nccNorms", cnorms, "double[]")
    val rRef = ctx.addReferenceObj("nccRanks", ranks, "int[]")
    nullSafeCodeGen(ctx, ev, v => {
      val dim = ctx.freshName("nccDim")
      val s = ctx.freshName("nccS")
      val i = ctx.freshName("nccI")
      val x = ctx.freshName("nccX")
      val nrm = ctx.freshName("nccNrm")
      val bestD = ctx.freshName("nccBestD")
      val bestR = ctx.freshName("nccBestR")
      val c = ctx.freshName("nccC")
      val cent = ctx.freshName("nccCent")
      val denom = ctx.freshName("nccDenom")
      val d = ctx.freshName("nccD")
      val dot = ctx.freshName("nccDot")
      val j = ctx.freshName("nccJ")
      val m = ctx.freshName("nccM")
      s"""
         |int $dim = $v.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $dim; $i++) {
         |  double $x = ${getter(v, i)};
         |  $s += $x * $x;
         |}
         |double $nrm = java.lang.Math.sqrt($s);
         |double $bestD = Double.POSITIVE_INFINITY;
         |int $bestR = $rRef[0];
         |for (int $c = 0; $c < $n; $c++) {
         |  float[] $cent = $cRef[$c];
         |  double $denom = $nrm * $nRef[$c];
         |  double $d;
         |  if ($denom == 0.0) {
         |    $d = 1.0;
         |  } else {
         |    double $dot = 0.0;
         |    int $m = java.lang.Math.min($dim, $cent.length);
         |    for (int $j = 0; $j < $m; $j++) {
         |      $dot += ${getter(v, j)} * (double) $cent[$j];
         |    }
         |    $d = 1.0 - $dot / $denom;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $bestR = $rRef[$c]; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$bestD, $bestR});
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCenterCosF =
    copy(child = newChild)
  override def prettyName: String = "graft_nearest_center_cos"
}

case class AdcSumF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  // fail at ANALYSIS, not with an executor ClassCastException mid-job
  // (SQL numeric literals default to DECIMAL — require explicit doubles)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (lt, rt) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_adc_sum requires (ARRAY<INT> codes, ARRAY<ARRAY<DOUBLE>> qtab), " +
            s"got (${lt.sql}, ${rt.sql})")
    }

  override protected def nullSafeEval(codesAny: Any, qtabAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val qtab = qtabAny.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var s = 0.0
    var i = 0
    while (i < m) {
      s += qtab.getArray(i).getDouble(codes.getInt(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, qtab) => {
      val m = ctx.freshName("adcM")
      val i = ctx.freshName("adcI")
      val s = ctx.freshName("adcS")
      s"""
         |int $m = $codes.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  $s += $qtab.getArray($i).getDouble($codes.getInt($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSumF =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_adc_sum"
}
