package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, QuinaryExpression, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot paths.
  *
  * The composable alternatives (`aggregate`/`zip_with` higher-order
  * functions) evaluate one expression-tree node per element — fine for
  * occasional use, ruinous inside an O(N·d) similarity kernel or an
  * O(tokens·64) sketch. These expressions do the same math as a single
  * tight JVM loop over the unsafe array data (no per-element boxing or
  * tree walks), which is what keeps the dedup/ANN operators within
  * budget at 100 TB. Every expression implements `doGenCode`, so the
  * loops are emitted directly into whole-stage-generated Java — no
  * per-row virtual calls anywhere on the hot paths.
  */

/** Cosine similarity between two float/double vectors in one pass
  * (dot and both norms in the same loop). NULL if either side is NULL;
  * 0.0 for zero-norm inputs.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def isDouble(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType
  private lazy val leftDouble = isDouble(left)
  private lazy val rightDouble = isDouble(right)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float>/array<double>, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = if (leftDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (rightDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Whole-stage codegen: the same loop inlined into the stage's
    * generated Java — no per-row virtual call, no ArrayData boxing of
    * the result. Elements read via getDouble/getFloat directly off the
    * (unsafe) array.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // ctx.freshName for every local: this expression appears many
      // times in one codegen scope (e.g. 32 SRP hyperplane tests in a
      // single Project), and fixed names would redeclare when children
      // are non-nullable (unbraced nullSafeCodeGen body).
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      val getX = if (leftDouble) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getY = if (rightDouble) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $getX;
         |  double $y = $getY;
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = $denom == 0.0 ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Inner product of two float/double vectors in one pass — the kernel
  * under PQ encode/ADC scoring, where cosine's norm work is wasted
  * (codebook norms are precomputed driver-side). NULL if either side is
  * NULL.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def isDouble(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType
  private lazy val leftDouble = isDouble(left)
  private lazy val rightDouble = isDouble(right)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<float>/array<double>, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) {
      val x = if (leftDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (rightDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      val getX = if (leftDouble) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getY = if (rightDouble) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $getX * $getY;
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 64-bit SimHash of an array of token hashes: per-bit majority vote in
  * a single pass (O(tokens·64) primitive ops, no expression-tree walk).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val counts = ctx.freshName("counts"); val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val h = ctx.freshName("h")
      val b = ctx.freshName("b"); val b2 = ctx.freshName("b2")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $counts = new int[64];
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $arr.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b2 = 0; $b2 < 64; $b2++) {
         |  if ($counts[$b2] > 0) $sig |= (1L << $b2);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** All `tables` SRP-LSH bucket ids of one embedding in ONE pass: bit p
  * of bucket t is the sign of the dot product against plane (t, p) of a
  * fixed plane matrix (flattened `[tables·h·dims]`, shipped as a
  * codegen reference object, derived deterministically by the caller).
  *
  * Exists for generated-CODE-SIZE reasons, not expression-power ones: a
  * per-plane formulation (`tables·h` separate dot/cosine expressions in
  * one projection) inflates the stage's generated method past HotSpot's
  * huge-method limit, and the whole projection executes as interpreted
  * bytecode — measured 43 s for the 4×8-plane bucket pass over 200k
  * vectors, vs ~1.4 s for a single-table (8-plane, sub-limit) version
  * of the same code. This one tight loop keeps the method small at any
  * (tables, h).
  *
  * Sign convention matches the previous `cosine_sim(emb, plane) >= 0`
  * formulation bit-for-bit: the numerator is accumulated in the same
  * element order at double precision, and dividing by the (positive)
  * norms cannot change the sign — so buckets agree with every
  * previously persisted SRP index.
  */
case class SrpBuckets(child: Expression, planes: Array[Double],
                      tables: Int, h: Int, dims: Int)
    extends UnaryExpression {
  require(planes.length == tables * h * dims, "plane matrix shape mismatch")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val doubleInput = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"srp_buckets expects array<float>/array<double>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = math.min(dims, arr.numElements())
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var b = 0L
      var p = 0
      while (p < h) {
        val base = (t * h + p) * dims
        var dot = 0.0
        var d = 0
        while (d < n) {
          val x = if (doubleInput) arr.getDouble(d) else arr.getFloat(d).toDouble
          dot += planes(base + d) * x
          d += 1
        }
        if (dot >= 0.0) b |= (1L << p)
        p += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("srpPlanes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val t = ctx.freshName("t"); val p = ctx.freshName("p")
      val b = ctx.freshName("b"); val base = ctx.freshName("base")
      val dot = ctx.freshName("dot"); val d = ctx.freshName("d")
      val getX =
        if (doubleInput) s"$arr.getDouble($d)" else s"(double) $arr.getFloat($d)"
      s"""
         |int $n = java.lang.Math.min($dims, $arr.numElements());
         |long[] $out = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $b = 0L;
         |  for (int $p = 0; $p < $h; $p++) {
         |    int $base = ($t * $h + $p) * $dims;
         |    double $dot = 0.0;
         |    for (int $d = 0; $d < $n; $d++) {
         |      $dot += $planesRef[$base + $d] * $getX;
         |    }
         |    if ($dot >= 0.0) $b |= (1L << $p);
         |  }
         |  $out[$t] = $b;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Top-m IVF cells of one embedding in ONE pass: cosine against every
  * centroid of a flattened [nCells][dims] matrix (reference object),
  * returning the m best cell ids ordered by (cosine desc, cell_id
  * desc) — the exact total order of the compositional
  * `slice(reverse(array_sort(struct(cos, cid))), 1, m)` form this
  * replaces (Catalyst compares doubles via `Double.compare`; ties on
  * the score fall to the LARGER cell id). Per-cell arithmetic is the
  * [[CosineSimilarity]] loop verbatim (dot/na/nb accumulated over
  * min(dims, len) in index order, zero denominator → 0.0), so cell
  * assignments are bit-identical and persisted IVF/IVF-PQ assignment
  * tables stay valid.
  *
  * Same generated-code-size rationale as [[SrpBuckets]]: nCells
  * compositional cosine expressions plus an array_sort in one
  * projection pushes the stage past the huge-method limit at the
  * default 16 cells — the assignment pass ran interpreted.
  */
case class TopCells(child: Expression, cids: Array[Long],
                    cents: Array[Double], nCells: Int, dims: Int, m: Int)
    extends UnaryExpression {
  require(cids.length == nCells && cents.length == nCells * dims,
    "centroid matrix shape mismatch")
  require(m > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val doubleInput = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_cells expects array<float>/array<double>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val lim = math.min(dims, arr.numElements())
    val x = new Array[Double](lim)
    var i = 0
    while (i < lim) {
      x(i) = if (doubleInput) arr.getDouble(i) else arr.getFloat(i).toDouble
      i += 1
    }
    var na = 0.0
    i = 0
    while (i < lim) { na += x(i) * x(i); i += 1 }
    val s = new Array[Double](nCells)
    var c = 0
    while (c < nCells) {
      var dot = 0.0; var nb = 0.0
      val base = c * dims
      var d = 0
      while (d < lim) {
        val y = cents(base + d)
        dot += x(d) * y; nb += y * y
        d += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      s(c) = if (denom == 0.0) 0.0 else dot / denom
      c += 1
    }
    val order = Array.tabulate(nCells)(identity)
    // selection sort by (score desc, cid desc) — nCells is small
    var a = 0
    while (a < math.min(m, nCells)) {
      var best = a
      var b = a + 1
      while (b < nCells) {
        val cmp = java.lang.Double.compare(s(order(b)), s(order(best)))
        if (cmp > 0 || (cmp == 0 && cids(order(b)) > cids(order(best)))) best = b
        b += 1
      }
      val t = order(a); order(a) = order(best); order(best) = t
      a += 1
    }
    new GenericArrayData(
      Array.tabulate(math.min(m, nCells))(k => cids(order(k))))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[]")
    val cidsRef = ctx.addReferenceObj("ivfCids", cids, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val lim = ctx.freshName("lim"); val x = ctx.freshName("x")
      val na = ctx.freshName("na"); val s = ctx.freshName("s")
      val i = ctx.freshName("i"); val c = ctx.freshName("c")
      val dot = ctx.freshName("dot"); val nb = ctx.freshName("nb")
      val base = ctx.freshName("base"); val d = ctx.freshName("d")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      val order = ctx.freshName("order"); val outN = ctx.freshName("outN")
      val a = ctx.freshName("a"); val b = ctx.freshName("b")
      val best = ctx.freshName("best"); val cmp = ctx.freshName("cmp")
      val t = ctx.freshName("t"); val out = ctx.freshName("out")
      val k = ctx.freshName("k")
      val getX = if (doubleInput) s"$arr.getDouble($i)" else s"(double) $arr.getFloat($i)"
      s"""
         |int $lim = java.lang.Math.min($dims, $arr.numElements());
         |double[] $x = new double[$lim];
         |for (int $i = 0; $i < $lim; $i++) { $x[$i] = $getX; }
         |double $na = 0.0;
         |for (int $i = 0; $i < $lim; $i++) { $na += $x[$i] * $x[$i]; }
         |double[] $s = new double[$nCells];
         |for (int $c = 0; $c < $nCells; $c++) {
         |  double $dot = 0.0, $nb = 0.0;
         |  int $base = $c * $dims;
         |  for (int $d = 0; $d < $lim; $d++) {
         |    double $y = $centsRef[$base + $d];
         |    $dot += $x[$d] * $y; $nb += $y * $y;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  $s[$c] = $denom == 0.0 ? 0.0 : $dot / $denom;
         |}
         |int[] $order = new int[$nCells];
         |for (int $i = 0; $i < $nCells; $i++) { $order[$i] = $i; }
         |int $outN = java.lang.Math.min($m, $nCells);
         |for (int $a = 0; $a < $outN; $a++) {
         |  int $best = $a;
         |  for (int $b = $a + 1; $b < $nCells; $b++) {
         |    int $cmp = java.lang.Double.compare($s[$order[$b]], $s[$order[$best]]);
         |    if ($cmp > 0 || ($cmp == 0 &&
         |        $cidsRef[$order[$b]] > $cidsRef[$order[$best]])) $best = $b;
         |  }
         |  int $t = $order[$a]; $order[$a] = $order[$best]; $order[$best] = $t;
         |}
         |long[] $out = new long[$outN];
         |for (int $k = 0; $k < $outN; $k++) { $out[$k] = $cidsRef[$order[$k]]; }
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** PQ encoding of one embedding in ONE pass: per subspace j, the argmax
  * over codewords of (dot(subvector, codeword) − ½|codeword|²), ties to
  * the HIGHER code index (the `array_max(struct(s, c))` order of the
  * compositional form this replaces — codes stay bit-identical, so
  * persisted code tables and their additive fingerprints remain valid).
  * Codebook and folded half-norms ship as codegen reference objects.
  *
  * Same generated-code-size story as [[SrpBuckets]]: m·codesPerSub
  * separate dot expressions in one projection (128 at the defaults)
  * blow the stage past HotSpot's huge-method limit and the encode pass
  * runs interpreted — measured 37 s → ~3 s for the 200k-vector PQ
  * build.
  */
case class PqEncode(child: Expression, codebook: Array[Double],
                    halfNormSq: Array[Double], m: Int, subDims: Int,
                    codesPerSub: Int)
    extends UnaryExpression {
  require(codebook.length == m * codesPerSub * subDims, "codebook shape mismatch")
  require(halfNormSq.length == m * codesPerSub, "norm table shape mismatch")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode expects array<float>, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = Double.NegativeInfinity
      var bestC = 0
      var c = 0
      while (c < codesPerSub) {
        val cb = (j * codesPerSub + c) * subDims
        var dot = 0.0
        var d = 0
        val lim = math.max(0, math.min(subDims, n - j * subDims))
        while (d < lim) {
          dot += codebook(cb + d) * arr.getFloat(j * subDims + d).toDouble
          d += 1
        }
        val s = dot - halfNormSq(j * codesPerSub + c)
        if (s >= best) { best = s; bestC = c }
        c += 1
      }
      out(j) = bestC
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    val nrmRef = ctx.addReferenceObj("pqHalfNorms", halfNormSq, "double[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val j = ctx.freshName("j"); val c = ctx.freshName("c")
      val cb = ctx.freshName("cb"); val dot = ctx.freshName("dot")
      val d = ctx.freshName("d"); val lim = ctx.freshName("lim")
      val s = ctx.freshName("s"); val best = ctx.freshName("best")
      val bestC = ctx.freshName("bestC")
      s"""
         |int $n = $arr.numElements();
         |int[] $out = new int[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  double $best = Double.NEGATIVE_INFINITY;
         |  int $bestC = 0;
         |  for (int $c = 0; $c < $codesPerSub; $c++) {
         |    int $cb = ($j * $codesPerSub + $c) * $subDims;
         |    double $dot = 0.0;
         |    int $lim = java.lang.Math.max(0,
         |      java.lang.Math.min($subDims, $n - $j * $subDims));
         |    for (int $d = 0; $d < $lim; $d++) {
         |      $dot += $cbRef[$cb + $d] * (double) $arr.getFloat($j * $subDims + $d);
         |    }
         |    double $s = $dot - $nrmRef[$j * $codesPerSub + $c];
         |    if ($s >= $best) { $best = $s; $bestC = $c; }
         |  }
         |  $out[$j] = $bestC;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC scores of one PQ code row against every query's lookup table in
  * ONE pass: out[q] = Σ_j lut[q][j][codes[j]], summed in subspace order
  * (the left-fold order of the per-query `element_at` chain this
  * replaces — scores identical). LUTs ship flattened as one reference
  * object. Same huge-method rationale as [[PqEncode]]: nQueries·m
  * separate element_at lookups (80 at the defaults) pushed the ADC scan
  * to interpreted bytecode — measured 9.9 s → ~1 s over 200k code rows.
  */
case class PqAdcScores(child: Expression, luts: Array[Double],
                       nQueries: Int, m: Int, codesPerSub: Int)
    extends UnaryExpression {
  require(luts.length == nQueries * m * codesPerSub, "lut shape mismatch")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc_scores expects array<int> codes, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val codes = v.asInstanceOf[ArrayData]
    val out = new Array[Double](nQueries)
    var q = 0
    while (q < nQueries) {
      var s = 0.0
      var j = 0
      while (j < m) {
        s += luts((q * m + j) * codesPerSub + codes.getInt(j))
        j += 1
      }
      out(q) = s
      q += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("adcLuts", luts, "double[]")
    nullSafeCodeGen(ctx, ev, codes => {
      val out = ctx.freshName("out"); val q = ctx.freshName("q")
      val s = ctx.freshName("s"); val j = ctx.freshName("j")
      s"""
         |double[] $out = new double[$nQueries];
         |for (int $q = 0; $q < $nQueries; $q++) {
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    $s += $lutRef[($q * $m + $j) * $codesPerSub + $codes.getInt($j)];
         |  }
         |  $out[$q] = $s;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** k-permutation MinHash signature of a shingle array, using the
  * Kirsch-Mitzenmacher construction (two xxhash64 evaluations per
  * element, g_i = h1 + i·h2) — one pass over the shingles instead of k.
  *
  * Accepts `array<string>` (shingle text hashed in place) or
  * `array<long>` (pre-hashed shingles, e.g. [[graft.ext.Dedup.shingleHashes]]
  * — the form that never materializes shingle strings; the two KM hashes
  * are then xxhash64 finalizers over the 8-byte value).
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0 && k <= 512, s"minhash k out of range: $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val longInput = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType | LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects array<string> or array<long>, got $other")
    }

  /** Same loop emitted into the stage's generated Java — the per-row
    * virtual-call + boxing overhead of CodegenFallback was the dominant
    * cost of the LSH banding stage (signature is computed once per doc
    * but k·shingles times per signature).
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val mins = ctx.freshName("mins"); val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val s = ctx.freshName("s")
      val h1 = ctx.freshName("h1"); val h2 = ctx.freshName("h2")
      val j = ctx.freshName("j"); val g = ctx.freshName("g")
      val hashCls = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val perElement =
        if (longInput)
          s"""|  long $s = $arr.getLong($i);
              |  long $h1 = $hashCls.hashLong($s, 42L);
              |  long $h2 = $hashCls.hashLong($s, 77L);""".stripMargin
        else
          s"""|  org.apache.spark.unsafe.types.UTF8String $s = $arr.getUTF8String($i);
              |  long $h1 = $hashCls.hashUnsafeBytes(
              |    $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
              |  long $h2 = $hashCls.hashUnsafeBytes(
              |    $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 77L);""".stripMargin
      s"""
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |int $n = $arr.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |$perElement
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $g = $h1 + $j * $h2;
         |    if ($g < $mins[$j]) $mins[$j] = $g;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      var h1 = 0L; var h2 = 0L
      if (longInput) {
        val x = arr.getLong(i)
        h1 = XXH64.hashLong(x, 42L)
        h2 = XXH64.hashLong(x, 77L)
      } else {
        val s = arr.getUTF8String(i)
        h1 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        h2 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 77L)
      }
      var j = 0
      while (j < k) {
        val g = h1 + j * h2
        if (g < mins(j)) mins(j) = g
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Exact Jaccard similarity of two set-valued arrays: |A∩B| / |A∪B|
  * via one hash set build + one probe pass — replaces the
  * `array_intersect`/`array_union` pair, which builds four structures
  * and walks the expression tree per element. Accepts `array<string>`
  * or `array<long>` (hashed-shingle sets: identical Jaccard modulo
  * 2⁻⁶⁴ collisions, and the strings never exist).
  */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private lazy val longInput = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) |
           (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"jaccard_sim expects two array<string> or two array<long>, got $l, $r")
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val setA = ctx.freshName("setA"); val seenB = ctx.freshName("seenB")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val s = ctx.freshName("s"); val inter = ctx.freshName("inter")
      val union = ctx.freshName("union")
      // raw HashSet + explicit boxing: janino compiles a generics-free,
      // autoboxing-free Java subset
      val (elemA, elemDecl) =
        if (longInput)
          (s"java.lang.Long.valueOf($a.getLong($i))",
            s"Object $s = java.lang.Long.valueOf($b.getLong($j));")
        else
          (s"$a.getUTF8String($i)",
            s"Object $s = $b.getUTF8String($j);")
      s"""
         |java.util.HashSet $setA = new java.util.HashSet($a.numElements() * 2);
         |for (int $i = 0; $i < $a.numElements(); $i++) $setA.add($elemA);
         |java.util.HashSet $seenB = new java.util.HashSet($b.numElements() * 2);
         |int $inter = 0;
         |for (int $j = 0; $j < $b.numElements(); $j++) {
         |  $elemDecl
         |  if ($seenB.add($s) && $setA.contains($s)) $inter++;
         |}
         |int $union = $setA.size() + $seenB.size() - $inter;
         |${ev.value} = $union == 0 ? 1.0 : (double) $inter / $union;
       """.stripMargin
    })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    def elem(arr: ArrayData, i: Int): AnyRef =
      if (longInput) java.lang.Long.valueOf(arr.getLong(i)) else arr.getUTF8String(i)
    val setA = new java.util.HashSet[AnyRef](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) { setA.add(elem(a, i)); i += 1 }
    val seenB = new java.util.HashSet[AnyRef](b.numElements() * 2)
    var inter = 0
    var j = 0
    while (j < b.numElements()) {
      val s = elem(b, j)
      if (seenB.add(s) && setA.contains(s)) inter += 1
      j += 1
    }
    val union = setA.size() + seenB.size() - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Winnowing-style fingerprint: min over xxhash64 of all w-byte
  * substrings of the input string — single pass over the bytes.
  */
case class RollingMinHash(child: Expression, w: Int)
    extends UnaryExpression {
  require(w > 0, "window must be positive")
  override def dataType: DataType = LongType

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val n = ctx.freshName("n"); val min = ctx.freshName("min")
      val i = ctx.freshName("i"); val h = ctx.freshName("h")
      val hashCls = "org.apache.spark.sql.catalyst.expressions.XXH64"
      s"""
         |int $n = $s.numBytes();
         |if ($n < $w) {
         |  ${ev.value} = $hashCls.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $n, 42L);
         |} else {
         |  long $min = Long.MAX_VALUE;
         |  for (int $i = 0; $i <= $n - $w; $i++) {
         |    long $h = $hashCls.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset() + $i, $w, 42L);
         |    if ($h < $min) $min = $h;
         |  }
         |  ${ev.value} = $min;
         |}
       """.stripMargin
    })

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val n = s.numBytes()
    if (n < w) {
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, n, 42L)
    } else {
      var min = Long.MaxValue
      var i = 0
      while (i <= n - w) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset + i, w, 42L)
        if (h < min) min = h
        i += 1
      }
      min
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The d count-min-sketch bucket indices of a term in ONE digest call:
  * bucket i is byte i of md5(term) (0..255) — bit-identical to the
  * composable form `conv(substring(md5(term), 2i+1, 2), 16, 10)`,
  * which the DuckDB oracle replays, but without the d×(substring +
  * base-conv) expression sub-trees per token. The compositional tree
  * is the same per-row huge-method family that hit HotSpot
  * no-compile fallbacks at the 100× point for SRP/PQ; this is one
  * tight digest + byte-mask loop, d ≤ 16 (md5 is 16 bytes).
  */
case class CmsBuckets(child: Expression, d: Int)
    extends UnaryExpression {
  require(d >= 1 && d <= 16, s"CMS depth must be in [1,16]: $d")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cms_buckets needs a string term, got $t")
    }

  override def nullSafeEval(v: Any): Any = {
    val dg = org.apache.commons.codec.digest.DigestUtils.md5(
      v.asInstanceOf[UTF8String].getBytes)
    val out = new Array[Long](d)
    var i = 0
    while (i < d) { out(i) = (dg(i) & 0xff).toLong; i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, term => {
      val dg = ctx.freshName("dg"); val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |byte[] $dg = org.apache.commons.codec.digest.DigestUtils.md5($term.getBytes());
         |long[] $out = new long[$d];
         |for (int $i = 0; $i < $d; $i++) $out[$i] = (long) ($dg[$i] & 0xff);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Greedy BPE segmentation, shared by interpreted eval and the
  * whole-stage-generated call site of [[BpeTokenCount]]. Semantics are
  * EXACTLY the layered `Bpe.applyMerge` fold (the SQL-replayable
  * oracle twin, parity spec-pinned in `BpeSpec`): merges apply in rank
  * order; within one merge the word is rewritten left-to-right,
  * non-overlapping, and the freshly merged symbol is immediately
  * eligible as the LEFT side for the next position. Symbols start as
  * Unicode code points (`substr` semantics — never sheared surrogate
  * halves).
  */
object BpeKernel {

  private def spanEq(w: UTF8String, start: Int, end: Int,
                     t: Array[Byte]): Boolean = {
    if (end - start != t.length) return false
    var i = 0
    while (i < t.length) {
      if (w.getByte(start + i) != t(i)) return false
      i += 1
    }
    true
  }

  /** Token count of a word (read in place from its UTF8String bytes —
    * no per-word copy) under the merge table (sides pre-encoded to
    * UTF-8 once per plan, not per row). Symbols only
    * ever merge ADJACENTLY, so every symbol stays a contiguous byte
    * span of the word — the whole state is one `ends` int array,
    * updated in place (write index never passes read index), with zero
    * per-symbol allocations. Code-point boundaries are UTF-8
    * non-continuation bytes — the same units as `substr`/`codePointAt`
    * (never sheared surrogate halves).
    */
  def count(word: UTF8String, lhs: Array[Array[Byte]],
            rhs: Array[Array[Byte]]): Long = {
    val len = word.numBytes()
    if (len == 0) return 0L
    countRange(word, 0, len, lhs, rhs, new Array[Int](len)).toLong
  }

  /** [[count]] over the byte range [from, to) of `text`, with the
    * span-ends scratch array supplied by the caller (so a per-document
    * loop allocates it once, not once per word).
    */
  private def countRange(text: UTF8String, from: Int, to: Int,
                         lhs: Array[Array[Byte]], rhs: Array[Array[Byte]],
                         ends: Array[Int]): Int = {
    var n = 0
    var i = from
    while (i < to) {
      i += 1
      while (i < to && (text.getByte(i) & 0xC0) == 0x80) i += 1
      ends(n) = i
      n += 1
    }
    var m = 0
    while (m < lhs.length) {
      val a = lhs(m); val b = rhs(m)
      var w = 0
      var r = 0
      while (r < n) {
        // original boundaries survive the in-place rewrite: writes land
        // at indices < w ≤ r, and while w == r the values are identical
        val rStart = if (r == 0) from else ends(r - 1)
        val rEnd = ends(r)
        val pStart = if (w <= 1) from else ends(w - 2)
        if (w > 0 && spanEq(text, pStart, ends(w - 1), a) &&
            spanEq(text, rStart, rEnd, b)) {
          ends(w - 1) = rEnd // coalesce: prev span absorbs this one
        } else {
          ends(w) = rEnd
          w += 1
        }
        r += 1
      }
      n = w
      m += 1
    }
    n
  }

  /** Whole-DOCUMENT encode statistics in one call: words are the
    * 0x20-separated byte runs of the text (exactly `split(text, " ")`
    * with empties dropped — a single space byte, consecutive spaces
    * yield empty runs, no other whitespace splits), each segmented by
    * [[countRange]] against one shared scratch array. Packed result:
    * `(n_words << 32) | n_tokens` — both fit 31 bits because each is
    * bounded by the document's byte length, itself an Int. This erases
    * the explode+shuffle the word-level form needs: per-doc stats come
    * straight off the scan, no row amplification anywhere.
    */
  def docStats(text: UTF8String, lhs: Array[Array[Byte]],
               rhs: Array[Array[Byte]]): Long = {
    val len = text.numBytes()
    var nWords = 0L
    var nTokens = 0L
    if (len == 0) return 0L
    val ends = new Array[Int](len)
    var i = 0
    while (i < len) {
      while (i < len && text.getByte(i) == 0x20) i += 1
      if (i < len) {
        val start = i
        while (i < len && text.getByte(i) != 0x20) i += 1
        nWords += 1
        nTokens += countRange(text, start, i, lhs, rhs, ends)
      }
    }
    (nWords << 32) | nTokens
  }
}

/** Number of BPE tokens a word costs under a trained merge list, as
  * ONE tight loop: the composable form chains M `aggregate` fold
  * layers per word (M expression trees, each walking the whole symbol
  * array interpreted — the steepest 100× slope in the suite at
  * round 11). The merge table ships as codegen reference objects; the
  * generated code is a single static call, so the expression stays
  * inside whole-stage codegen with no huge-method risk.
  */
case class BpeTokenCount(child: Expression, lhs: Array[String],
                         rhs: Array[String]) extends UnaryExpression {
  require(lhs.length == rhs.length,
    s"merge table sides differ: ${lhs.length} vs ${rhs.length}")
  private lazy val lhsBytes: Array[Array[Byte]] =
    lhs.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private lazy val rhsBytes: Array[Array[Byte]] =
    rhs.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_token_count needs a string word, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    BpeKernel.count(v.asInstanceOf[UTF8String], lhsBytes, rhsBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lhsRef = ctx.addReferenceObj("bpeLhs", lhsBytes, "byte[][]")
    val rhsRef = ctx.addReferenceObj("bpeRhs", rhsBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.BpeKernel.count($s, $lhsRef, $rhsRef);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-document BPE encode statistics — `(n_words << 32) | n_tokens`
  * packed in one long — via [[BpeKernel.docStats]]: the whole word
  * split + segmentation runs inside ONE call per document, so the
  * consumer plan is a bare scan+project (no explode, no shuffle). The
  * two counts unpack with a shift and a mask, both codegen'd.
  */
case class BpeDocStats(child: Expression, lhs: Array[String],
                       rhs: Array[String]) extends UnaryExpression {
  require(lhs.length == rhs.length,
    s"merge table sides differ: ${lhs.length} vs ${rhs.length}")
  private lazy val lhsBytes: Array[Array[Byte]] =
    lhs.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private lazy val rhsBytes: Array[Array[Byte]] =
    rhs.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bpe_doc_stats needs a string document, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    BpeKernel.docStats(v.asInstanceOf[UTF8String], lhsBytes, rhsBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lhsRef = ctx.addReferenceObj("bpeLhs", lhsBytes, "byte[][]")
    val rhsRef = ctx.addReferenceObj("bpeRhs", rhsBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.BpeKernel.docStats($s, $lhsRef, $rhsRef);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Gopher-repetition statistics of a token array in one pass:
  * `struct(n_tokens, n_distinct, top_token, top_bigram)` where
  * `top_token`/`top_bigram` are the highest exact multiplicities of a
  * token / an adjacent token pair. Replaces the composable formulation
  * (two `array_sort`s + equal-run `aggregate` scans per row) — those
  * evaluate interpreted, one tree-walk per element, and were the
  * heaviest per-row cost in the suite. Here: one hash-count pass
  * assigning dense token ids, then a pair-count pass keyed on packed
  * id pairs — exact pair identity, no bigram strings materialized
  * (tokens are space-free, so pair equality ⟺ joined-string equality,
  * the semantics `TextAnalysis.bigramsOf` pins).
  */
case class TokenRepetitionStats(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_token", LongType, nullable = false),
    StructField("top_bigram", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"repetition_stats expects array<string>, got $other")
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n"); val tokMap = ctx.freshName("tokMap")
      val ids = ctx.freshName("ids"); val topTok = ctx.freshName("topTok")
      val i = ctx.freshName("i"); val t = ctx.freshName("t")
      val e = ctx.freshName("e"); val topBg = ctx.freshName("topBg")
      val bgMap = ctx.freshName("bgMap"); val j = ctx.freshName("j")
      val key = ctx.freshName("key"); val be = ctx.freshName("be")
      s"""
         |int $n = $arr.numElements();
         |java.util.HashMap $tokMap = new java.util.HashMap();
         |int[] $ids = new int[$n];
         |long $topTok = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  org.apache.spark.unsafe.types.UTF8String $t = $arr.getUTF8String($i);
         |  int[] $e = (int[]) $tokMap.get($t);
         |  if ($e == null) { $e = new int[]{$tokMap.size(), 0}; $tokMap.put($t, $e); }
         |  $e[1]++;
         |  if ($e[1] > $topTok) $topTok = $e[1];
         |  $ids[$i] = $e[0];
         |}
         |long $topBg = 0L;
         |if ($n >= 2) {
         |  java.util.HashMap $bgMap = new java.util.HashMap();
         |  for (int $j = 0; $j + 1 < $n; $j++) {
         |    java.lang.Long $key = java.lang.Long.valueOf(
         |      ((long) $ids[$j] << 32) | ((long) $ids[$j + 1] & 0xffffffffL));
         |    int[] $be = (int[]) $bgMap.get($key);
         |    if ($be == null) { $be = new int[1]; $bgMap.put($key, $be); }
         |    $be[0]++;
         |    if ($be[0] > $topBg) $topBg = $be[0];
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ java.lang.Long.valueOf((long) $n),
         |    java.lang.Long.valueOf((long) $tokMap.size()),
         |    java.lang.Long.valueOf($topTok), java.lang.Long.valueOf($topBg) });
       """.stripMargin
    })

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val tokMap = new java.util.HashMap[UTF8String, Array[Int]]()
    val ids = new Array[Int](n)
    var topTok = 0L
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      var e = tokMap.get(t)
      if (e == null) { e = Array(tokMap.size, 0); tokMap.put(t, e) }
      e(1) += 1
      if (e(1) > topTok) topTok = e(1)
      ids(i) = e(0)
      i += 1
    }
    var topBg = 0L
    if (n >= 2) {
      val bgMap = new java.util.HashMap[java.lang.Long, Array[Int]]()
      var j = 0
      while (j + 1 < n) {
        val key = java.lang.Long.valueOf((ids(j).toLong << 32) | (ids(j + 1).toLong & 0xffffffffL))
        var be = bgMap.get(key)
        if (be == null) { be = Array(0); bgMap.put(key, be) }
        be(0) += 1
        if (be(0) > topBg) topBg = be(0)
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, tokMap.size.toLong, topTok, topBg))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Deterministic P6 (binary PPM) payload synthesis — the fixture side
  * of the real multimodal decode: a well-formed header plus a raster
  * whose byte k is `(doc_id + k·2654435761) mod 256`, all long
  * arithmetic a SQL oracle replays exactly ([[PpmKernel.synth]]).
  */
case class PpmSynth(first: Expression, second: Expression,
                    third: Expression) extends TernaryExpression {
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (LongType, IntegerType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ppm_synth expects (bigint doc_id, int width, int height), got ($a, $b, $c)")
    }

  override def nullSafeEval(d: Any, w: Any, h: Any): Any =
    PpmKernel.synth(d.asInstanceOf[Long], w.asInstanceOf[Int], h.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, w, h) =>
      s"${ev.value} = graft.functions.PpmKernel.synth($d, $w, $h);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** REAL P6 decode + integer pixel stats in one codegen'd call per row:
  * parses the header BYTES (magic, ASCII dims, maxval 255), validates
  * the raster length, and folds the raster into
  * `struct(width, height, r_sum, g_sum, b_sum, hist[16])` —
  * [[PpmKernel.decode]]. NULL (not an error) for malformed payloads,
  * so a corrupt object in a 100 TB media scan quarantines as a null
  * row instead of failing the stage.
  */
case class PpmDecodeStats(child: Expression) extends UnaryExpression {
  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("r_sum", LongType, nullable = false),
    StructField("g_sum", LongType, nullable = false),
    StructField("b_sum", LongType, nullable = false),
    StructField("hist", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ppm_decode_stats expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    PpmKernel.decode(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.PpmKernel.decode($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Tiled average-pooling over a DECODED P6 raster — the spatial
  * feature-extract a vision pipeline runs after decode, in the same
  * codegen'd call: parse the header bytes, fold every pixel into its
  * gridW×gridH tile, return the half-up integral mean byte value per
  * tile (row-major array; −1 for a pixel-less tile, NULL for a
  * malformed payload) — [[PpmKernel.tileMeans]].
  */
case class PpmTileMeans(child: Expression, gridW: Int, gridH: Int)
    extends UnaryExpression {
  require(gridW > 0 && gridH > 0 && gridW * gridH <= 4096,
    s"tile grid out of range: ${gridW}x$gridH")

  override def nullable: Boolean = true

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ppm_tile_means expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    PpmKernel.tileMeans(v.asInstanceOf[Array[Byte]], gridW, gridH)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.PpmKernel.tileMeans($b, $gridW, $gridH);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Deterministic canonical-WAV payload synthesis — the fixture side of
  * the real audio decode: a well-formed 44-byte RIFF/PCM header plus
  * little-endian int16 samples with sample k =
  * `((doc_id + k·2654435761) mod 65536) − 32768`, all long arithmetic a
  * SQL oracle replays exactly ([[WavKernel.synth]]).
  */
case class WavSynth(first: Expression, second: Expression,
                    third: Expression, fourth: Expression)
    extends QuaternaryExpression {
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (LongType, IntegerType, IntegerType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "wav_synth expects (bigint doc_id, int frames, int channels, " +
            s"int sample_rate), got ($a, $b, $c, $d)")
    }

  override def nullSafeEval(d: Any, f: Any, c: Any, r: Any): Any =
    WavKernel.synth(d.asInstanceOf[Long], f.asInstanceOf[Int],
      c.asInstanceOf[Int], r.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, f, c, r) =>
      s"${ev.value} = graft.functions.WavKernel.synth($d, $f, $c, $r);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

/** REAL WAV decode + integer sample stats in one codegen'd call per
  * row: parses the header BYTES (RIFF magic, PCM fmt fields, derived
  * byte rate / block align / data length all cross-checked) and folds
  * the sample stream into `struct(n_channels, sample_rate, n_frames,
  * duration_ms, c0_sum, all_sum, peak, hist[16])` —
  * [[WavKernel.decode]]. NULL (not an error) for malformed payloads:
  * the cast-or-null quarantine discipline, same as [[PpmDecodeStats]].
  */
case class WavDecodeStats(child: Expression) extends UnaryExpression {
  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("n_channels", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("c0_sum", LongType, nullable = false),
    StructField("all_sum", LongType, nullable = false),
    StructField("peak", LongType, nullable = false),
    StructField("hist", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"wav_decode_stats expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    WavKernel.decode(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.WavKernel.decode($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-window `(peak, sum_abs)` folds over a decoded WAV sample stream
  * ([[WavKernel.windowStats]]) — the frame-level feature-extract stage
  * after the audio decode, one codegen'd call per row. NULL for
  * malformed payloads, so a downstream explode drops them (quarantine,
  * not failure), same as [[PpmTileMeans]] / [[Y4mFrameYSums]].
  */
case class WavWindowStats(child: Expression, windowFrames: Int)
    extends UnaryExpression {
  require(windowFrames > 0, s"window size must be positive: $windowFrames")

  override def nullable: Boolean = true

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("peak", LongType, nullable = false),
    StructField("sum_abs", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"wav_window_stats expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    WavKernel.windowStats(v.asInstanceOf[Array[Byte]], windowFrames)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.WavKernel.windowStats($b, $windowFrames);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Deterministic canonical-Y4M payload synthesis — the fixture side of
  * the real video decode: a well-formed `YUV4MPEG2` parameter line plus
  * `nFrames` `FRAME\n`-introduced C444 frames whose j-th plane byte
  * (markers excluded, counted across the whole stream) is
  * `(doc_id + j·2654435761) mod 256` — all long arithmetic a SQL oracle
  * replays exactly ([[Y4mKernel.synth]]).
  */
case class Y4mSynth(docId: Expression, w: Expression, h: Expression,
                    nFrames: Expression, fps: Expression)
    extends QuinaryExpression {
  override def children: Seq[Expression] = Seq(docId, w, h, nFrames, fps)

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    children.map(_.dataType) match {
      case Seq(LongType, IntegerType, IntegerType, IntegerType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case ts =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "y4m_synth expects (bigint doc_id, int w, int h, int n_frames, " +
            s"int fps), got (${ts.mkString(", ")})")
    }

  override def nullSafeEval(d: Any, wv: Any, hv: Any, n: Any, f: Any): Any =
    Y4mKernel.synth(d.asInstanceOf[Long], wv.asInstanceOf[Int],
      hv.asInstanceOf[Int], n.asInstanceOf[Int], f.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, wv, hv, n, f) =>
      s"${ev.value} = graft.functions.Y4mKernel.synth($d, $wv, $hv, $n, $f);")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(docId = newChildren(0), w = newChildren(1), h = newChildren(2),
      nFrames = newChildren(3), fps = newChildren(4))
}

/** REAL Y4M decode + integer plane stats in one codegen'd call per
  * row: parses the header BYTES (magic, dims, integer fps, the exact
  * canonical Ip/A1:1/C444 parameter set, every `FRAME\n` marker, total
  * length) and folds the planes into `struct(width, height, fps,
  * n_frames, duration_ms, y_sum, u_sum, v_sum, y_peak, hist[16])` —
  * [[Y4mKernel.decode]]. NULL (not an error) for malformed payloads:
  * the cast-or-null quarantine discipline, same as [[PpmDecodeStats]]
  * and [[WavDecodeStats]].
  */
case class Y4mDecodeStats(child: Expression) extends UnaryExpression {
  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("fps", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("y_sum", LongType, nullable = false),
    StructField("u_sum", LongType, nullable = false),
    StructField("v_sum", LongType, nullable = false),
    StructField("y_peak", LongType, nullable = false),
    StructField("hist", ArrayType(LongType, containsNull = false),
      nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"y4m_decode_stats expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    Y4mKernel.decode(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.Y4mKernel.decode($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Header-only P6 parse: `struct(width, height)` ([[PpmKernel.headerMeta]])
  * — O(header), no raster fold. NULL for malformed payloads.
  */
case class PpmHeaderMeta(child: Expression) extends UnaryExpression {
  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ppm_header expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    PpmKernel.headerMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.PpmKernel.headerMeta($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Header-only WAV parse: `struct(n_channels, sample_rate, n_frames)`
  * ([[WavKernel.headerMeta]]) — O(header), no sample fold. NULL for
  * malformed payloads.
  */
case class WavHeaderMeta(child: Expression) extends UnaryExpression {
  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("n_channels", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"wav_header expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    WavKernel.headerMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.WavKernel.headerMeta($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Header-only Y4M parse: `struct(width, height, fps, n_frames)` from
  * the parameter line + frame markers ([[Y4mKernel.headerMeta]]) — no
  * plane-byte fold, so a stage that needs only geometry doesn't pay a
  * full 3-plane stats pass. NULL for malformed payloads.
  */
case class Y4mHeaderMeta(child: Expression) extends UnaryExpression {
  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("fps", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"y4m_header expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    Y4mKernel.headerMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.Y4mKernel.headerMeta($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-frame luma sums for every `every`-th frame of a Y4M payload,
  * folded from the REAL plane bytes ([[Y4mKernel.frameYSums]]) — the
  * decode-side frame-sampling stage (element i ↔ frame i·every). NULL
  * for malformed payloads, so a downstream explode drops them
  * (quarantine, not failure), same as [[PpmTileMeans]].
  */
case class Y4mFrameYSums(child: Expression, every: Int)
    extends UnaryExpression {
  require(every > 0, s"frame stride must be positive: $every")

  override def nullable: Boolean = true

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"y4m_frame_y_sums expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    Y4mKernel.frameYSums(v.asInstanceOf[Array[Byte]], every)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.Y4mKernel.frameYSums($b, $every);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** REAL nearest-neighbor video upscale re-encode: parses the canonical
  * Y4M payload and re-emits it at `(factor·w, factor·h)` with each
  * output pixel copying source pixel `(x div factor, y div factor)` —
  * [[Y4mKernel.resizeNn]], the resize stage of a multimodal pipeline
  * as a codegen'd expression. NULL for malformed payloads or a factor
  * that breaches the dim/size caps (quarantine, not failure).
  */
case class Y4mResizeNn(child: Expression, factor: Int)
    extends UnaryExpression {
  require(factor > 0, s"resize factor must be positive: $factor")

  override def nullable: Boolean = true

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"y4m_resize_nn expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    Y4mKernel.resizeNn(v.asInstanceOf[Array[Byte]], factor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.Y4mKernel.resizeNn($b, $factor);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** REAL nearest-neighbor (sample-and-hold) audio resample re-encode:
  * parses the canonical WAV payload and re-emits it at
  * `factor·sampleRate` with each source frame duplicated `factor`
  * times — [[WavKernel.resampleNn]], the resample stage of an audio
  * pipeline as a codegen'd expression. NULL for malformed payloads or
  * a factor that breaches the frame/rate caps.
  */
case class WavResampleNn(child: Expression, factor: Int)
    extends UnaryExpression {
  require(factor > 0, s"resample factor must be positive: $factor")

  override def nullable: Boolean = true

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"wav_resample_nn expects a binary payload, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    WavKernel.resampleNn(v.asInstanceOf[Array[Byte]], factor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"""
         |${ev.value} = graft.functions.WavKernel.resampleNn($b, $factor);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Bounded top-K as a DECLARATIVE aggregate over k packed long slots —
  * the codegen-native twin of the typed `TopKAggregator` (same ordering
  * contract: measure descending, id ascending on ties; same
  * `array<struct<_1,_2>>` output). The typed Aggregator plans as
  * ObjectHashAggregate: every input row pays an encoder
  * deserialize → Scala insertion → serialize round-trip on a boxed
  * Seq[(Long, Long)]. Here the buffer is k primitive LongType slots
  * (sorted descending, Long.MinValue = empty), so the aggregate plans
  * as a whole-stage-codegen HashAggregate with a fixed-width mutable
  * UnsafeRow buffer:
  *
  *  - packed rank value: `(measure << 32) | (0xFFFFFFFF − id)` — one
  *    long comparison = (measure desc, id asc). Domain (enforced
  *    IN-PLAN, fail-loud per the r18 packed-argmin advice):
  *    0 ≤ measure < 2³¹ and 0 ≤ id < 2³².
  *  - update: slotₜ' = greatest(slotₜ, least(slotₜ₋₁, p)) — the O(k)
  *    branch-free insertion. NULL measure/id rows are skipped.
  *  - merge: the t-th largest of two sorted-desc k-lists is
  *    greatest(aₜ, bₜ, least(aᵢ, bⱼ) for i+j = t) — valid because one
  *    (measure, id) pair reaches exactly one partial, so cross-side
  *    duplicates cannot occur; MinValue padding loses every least().
  *  - evaluate: drop the MinValue sentinels, unpack.
  */
case class TopKPackedAgg(measure: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate {
  require(k > 0 && k <= 64, "k must be in [1, 64]")
  import org.apache.spark.sql.catalyst.expressions.{Add, And, ArrayFilter,
    ArrayTransform, AttributeReference, BitwiseAnd, Cast, CreateArray,
    CreateNamedStruct, GreaterThanOrEqual, Greatest, If, IsNull,
    LambdaFunction, Least, LessThan, LessThanOrEqual, Literal,
    NamedLambdaVariable, Not, Or, RaiseError, EqualTo, ShiftLeft,
    ShiftRightUnsigned, Subtract}

  override def children: Seq[Expression] = Seq(measure, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", LongType, nullable = false),
    StructField("_2", LongType, nullable = false))), containsNull = false)

  private val slots: Seq[AttributeReference] =
    (1 to k).map(i => AttributeReference(s"top$i", LongType, nullable = false)())
  override val aggBufferAttributes: Seq[AttributeReference] = slots
  override lazy val initialValues: Seq[Expression] =
    Seq.fill(k)(Literal(Long.MinValue))

  private val Sentinel = Literal(Long.MinValue)
  // packed rank (nullable: a NULL input row is a no-op); the domain is
  // asserted in-plan — out-of-range corpora fail loud, never corrupt
  private lazy val packed: Expression = {
    val domainOk = And(
      And(GreaterThanOrEqual(measure, Literal(0L)),
        LessThan(measure, Literal(1L << 31))),
      And(GreaterThanOrEqual(id, Literal(0L)),
        LessThanOrEqual(id, Literal(0xFFFFFFFFL))))
    val pack = Add(ShiftLeft(measure, Literal(32)),
      Subtract(Literal(0xFFFFFFFFL), id))
    If(Or(IsNull(measure), IsNull(id)), Literal.create(null, LongType),
      If(domainOk, pack,
        Cast(RaiseError(Literal(
          "topk_packed_agg domain: need 0 <= measure < 2^31 and 0 <= id < 2^32")),
          LongType)))
  }

  override lazy val updateExpressions: Seq[Expression] =
    slots.zipWithIndex.map { case (s, t) =>
      val cand = if (t == 0) packed else Least(Seq(slots(t - 1), packed))
      If(IsNull(packed), s, Greatest(Seq(s, cand)))
    }

  override lazy val mergeExpressions: Seq[Expression] =
    (1 to k).map { t =>
      val cands: Seq[Expression] =
        Seq(slots(t - 1).left, slots(t - 1).right) ++
          (1 until t).map(i =>
            Least(Seq(slots(i - 1).left, slots(t - i - 1).right)))
      if (cands.size == 1) cands.head else Greatest(cands)
    }

  override lazy val evaluateExpression: Expression = {
    val fv = NamedLambdaVariable("p", LongType, nullable = false)
    val tv = NamedLambdaVariable("q", LongType, nullable = false)
    val filtered = ArrayFilter(CreateArray(slots),
      LambdaFunction(Not(EqualTo(fv, Sentinel)), Seq(fv)))
    ArrayTransform(filtered, LambdaFunction(
      CreateNamedStruct(Seq(
        Literal("_1"), ShiftRightUnsigned(tv, Literal(32)),
        Literal("_2"),
        Subtract(Literal(0xFFFFFFFFL), BitwiseAnd(tv, Literal(0xFFFFFFFFL))))),
      Seq(tv)))
  }

  override def prettyName: String = "topk_packed_agg"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(measure = newChildren(0), id = newChildren(1))
}

/** Column-facing API for the native expressions. */
object native {
  private def toCol(e: Expression): Column = bridge.toColumn(e)
  private def ex(c: Column): Expression = bridge.toExpression(c)

  /** One-pass cosine similarity over float/double array columns. */
  def cosine_sim(a: Column, b: Column): Column = toCol(CosineSimilarity(ex(a), ex(b)))

  /** One-pass inner product over float/double array columns. */
  def dot_product(a: Column, b: Column): Column = toCol(DotProduct(ex(a), ex(b)))

  /** 64-bit SimHash of an array<long> of token hashes. */
  def simhash64(tokenHashes: Column): Column = toCol(SimHash64(ex(tokenHashes)))

  /** Integral division (the SQL `DIV` operator) as a Column function —
    * exact long quotients where `floor(a / b)` on doubles would lose
    * precision past 2^53.
    */
  def long_div(a: Column, b: Column): Column =
    toCol(org.apache.spark.sql.catalyst.expressions.IntegralDivide(ex(a), ex(b)))

  /** All SRP-LSH bucket ids (array<long>, one per table) of a
    * float/double embedding against a flattened plane matrix.
    */
  def srp_buckets(emb: Column, planes: Array[Double],
                  tables: Int, h: Int, dims: Int): Column =
    toCol(SrpBuckets(ex(emb), planes, tables, h, dims))

  /** Top-m IVF cell ids (array<long>, cosine desc / cid desc) of a
    * float/double embedding against a flattened centroid matrix.
    */
  def top_cells(emb: Column, cids: Array[Long], cents: Array[Double],
                nCells: Int, dims: Int, m: Int): Column =
    toCol(TopCells(ex(emb), cids, cents, nCells, dims, m))

  /** PQ codes (array<int>, one per subspace) of a float embedding
    * against a flattened codebook with pre-folded half-norms.
    */
  def pq_encode(emb: Column, codebook: Array[Double], halfNormSq: Array[Double],
                m: Int, subDims: Int, codesPerSub: Int): Column =
    toCol(PqEncode(ex(emb), codebook, halfNormSq, m, subDims, codesPerSub))

  /** Per-query ADC scores (array<double>) of a PQ code row against
    * flattened per-query lookup tables.
    */
  def pq_adc_scores(codes: Column, luts: Array[Double],
                    nQueries: Int, m: Int, codesPerSub: Int): Column =
    toCol(PqAdcScores(ex(codes), luts, nQueries, m, codesPerSub))

  /** k-permutation MinHash signature of an array<string>. */
  def minhash_sig(shingles: Column, k: Int): Column = toCol(MinHashSignature(ex(shingles), k))

  /** Min xxhash64 over all w-byte windows of a string. */
  def rolling_min_hash(text: Column, w: Int): Column = toCol(RollingMinHash(ex(text), w))

  /** Exact Jaccard similarity of two array<string> sets. */
  def jaccard_sim(a: Column, b: Column): Column = toCol(JaccardSimilarity(ex(a), ex(b)))

  /** One-pass repetition stats of an array<string> of tokens. */
  def repetition_stats(tokens: Column): Column = toCol(TokenRepetitionStats(ex(tokens)))

  /** d CMS bucket indices (md5 bytes 0..d−1) of a string term. */
  def cms_buckets(term: Column, d: Int): Column = toCol(CmsBuckets(ex(term), d))

  /** BPE token count of a word under a trained merge table (greedy
    * left-to-right; bit-identical to the layered `Bpe.applyMerges`
    * fold, which stays as the SQL-replayable oracle twin).
    */
  def bpe_token_count(w: Column, lhs: Array[String], rhs: Array[String]): Column =
    toCol(BpeTokenCount(ex(w), lhs, rhs))

  /** Packed per-document BPE stats `(n_words << 32) | n_tokens` —
    * split + segmentation in one call per document, no explode.
    */
  def bpe_doc_stats(text: Column, lhs: Array[String], rhs: Array[String]): Column =
    toCol(BpeDocStats(ex(text), lhs, rhs))

  /** Deterministic well-formed P6 (binary PPM) payload for a doc id. */
  def ppm_synth(docId: Column, width: Column, height: Column): Column =
    toCol(PpmSynth(ex(docId), ex(width), ex(height)))

  /** Real P6 header parse + one-pass integer raster stats; NULL for
    * malformed payloads.
    */
  def ppm_decode_stats(media: Column): Column = toCol(PpmDecodeStats(ex(media)))

  /** Half-up integral tile means over a decoded P6 raster. */
  def ppm_tile_means(media: Column, gridW: Int, gridH: Int): Column =
    toCol(PpmTileMeans(ex(media), gridW, gridH))

  /** Deterministic well-formed canonical WAV (16-bit PCM) payload. */
  def wav_synth(docId: Column, frames: Column, channels: Column,
                sampleRate: Column): Column =
    toCol(WavSynth(ex(docId), ex(frames), ex(channels), ex(sampleRate)))

  /** Real WAV header parse + one-pass integer sample stats; NULL for
    * malformed payloads.
    */
  def wav_decode_stats(media: Column): Column = toCol(WavDecodeStats(ex(media)))

  /** Per-window (peak, sum_abs) folds over decoded WAV samples; NULL
    * for malformed payloads.
    */
  def wav_window_stats(media: Column, windowFrames: Int): Column =
    toCol(WavWindowStats(ex(media), windowFrames))

  /** Deterministic well-formed canonical Y4M (C444 video) payload. */
  def y4m_synth(docId: Column, w: Column, h: Column,
                nFrames: Column, fps: Column): Column =
    toCol(Y4mSynth(ex(docId), ex(w), ex(h), ex(nFrames), ex(fps)))

  /** Real Y4M header/frame-marker parse + one-pass integer plane
    * stats; NULL for malformed payloads.
    */
  def y4m_decode_stats(media: Column): Column = toCol(Y4mDecodeStats(ex(media)))

  /** Per-sampled-frame luma sums folded from the real plane bytes;
    * NULL for malformed payloads.
    */
  def y4m_frame_y_sums(media: Column, every: Int): Column =
    toCol(Y4mFrameYSums(ex(media), every))

  /** Header-only Y4M geometry parse (no plane fold); NULL for
    * malformed payloads.
    */
  def y4m_header(media: Column): Column = toCol(Y4mHeaderMeta(ex(media)))

  /** Real nearest-neighbor Y4M upscale re-encode (`factor`× dims,
    * same frames/fps); NULL for malformed payloads or cap breaches.
    */
  def y4m_resize_nn(media: Column, factor: Int): Column =
    toCol(Y4mResizeNn(ex(media), factor))

  /** Real nearest-neighbor WAV resample re-encode (`factor`× rate and
    * frames, same duration); NULL for malformed payloads or cap
    * breaches.
    */
  def wav_resample_nn(media: Column, factor: Int): Column =
    toCol(WavResampleNn(ex(media), factor))

  /** Header-only P6 geometry parse (no raster fold); NULL for
    * malformed payloads.
    */
  def ppm_header(media: Column): Column = toCol(PpmHeaderMeta(ex(media)))

  /** Header-only WAV geometry parse (no sample fold); NULL for
    * malformed payloads.
    */
  def wav_header(media: Column): Column = toCol(WavHeaderMeta(ex(media)))

  /** Distributed Bloom-filter build over an `xxhash64`-hashed LongType
    * column: Spark's own `BloomFilterAggregate` (the engine's
    * runtime-filter machinery, reused as a first-class membership
    * sketch). Partial sketches are built map-side and OR-merged, so the
    * input never shuffles; the one output row is the serialized filter
    * (`numBits/8` bytes + header, fixed at build time regardless of
    * input cardinality). Insertion is idempotent — callers need no
    * `distinct()` pass first.
    */
  /** Bounded top-K (measure desc, id asc) as a codegen-native
    * DeclarativeAggregate over k packed long slots — see
    * [[TopKPackedAgg]]. Output `array<struct<_1 measure, _2 id>>`,
    * identical to the typed `TopKAggregator` contract. Domain
    * (asserted in-plan): 0 ≤ measure < 2³¹, 0 ≤ id < 2³².
    */
  def topk_packed_agg(measure: Column, id: Column, k: Int): Column =
    toCol(TopKPackedAgg(ex(measure), ex(id), k).toAggregateExpression())

  def bloom_agg(hashes: Column, expectedItems: Long, numBits: Long): Column =
    toCol(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      ex(hashes), ex(org.apache.spark.sql.functions.lit(expectedItems)),
      ex(org.apache.spark.sql.functions.lit(numBits))).toAggregateExpression())

  /** Membership probe of a LongType hash against a driver-held
    * serialized sketch from [[bloom_agg]]. Codegen-native
    * (`BloomFilterMightContain` deserializes once per task via a
    * referenced object, not per row), so the probe runs inside the
    * scan's whole-stage-generated loop — one-sided error only: false
    * positives at the configured rate, never false negatives.
    */
  def bloom_might_contain(sketch: Array[Byte], hash: Column): Column =
    toCol(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal.create(sketch, BinaryType),
      ex(hash)))

  /** Register every native function into this session's SQL registry
    * (per-session alternative to `spark.sql.extensions`).
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    GraftExtensions.registrations.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
