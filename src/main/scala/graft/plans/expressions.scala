package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expressions for the odds domain (SURVEY.md §2.6 C13) —
  * preference tier (b): a codegen'd `Expression` beats a Scala UDF, and
  * these sit on per-row hot paths at ingest scale. Both generate straight
  * Java into whole-stage codegen (no virtual calls, no boxing) and are
  * SQL-registrable via [[GraftExtensions]].
  */

/** `normalize_odds(x)` — the −100 avoidance rule (reference
  * `src/mm_calls.py:416-418`): −100 ⇒ +100, everything else unchanged. */
case class NormalizeOdds(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val odds = v.asInstanceOf[Int]
    if (odds == -100) 100 else odds
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"($c == -100) ? 100 : $c")

  override protected def withNewChildInternal(newChild: Expression): NormalizeOdds =
    copy(child = newChild)

  override def prettyName: String = "normalize_odds"
}

/** `hilbert_d(x, y)` — position of grid point (x, y) on the `bits`-order
  * Hilbert curve (public-domain rotate-and-accumulate xy→d algorithm).
  *
  * A native expression out of NECESSITY, not preference: the iterative
  * algorithm rebinds x and y each round, so composing it from built-in
  * Columns multiplies the expression tree ~6× per bit — at 10 bits the
  * unrolled tree has tens of millions of nodes and OOMs the driver before
  * optimization begins (measured). Here the loop is ~15 lines of
  * generated Java inside whole-stage codegen. The matching JVM reference
  * lives in [[graft.operators.Layout.hilbertRef]] and property-tests this.
  */
case class HilbertD(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hilbert_d"

  override protected def nullSafeEval(xv: Any, yv: Any): Any =
    graft.operators.Layout.hilbertRef(xv.asInstanceOf[Long], yv.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xc, yc) => {
      val (x, y, d, s, rx, ry, t) = (ctx.freshName("x"), ctx.freshName("y"),
        ctx.freshName("d"), ctx.freshName("s"), ctx.freshName("rx"),
        ctx.freshName("ry"), ctx.freshName("t"))
      val mask = (1L << bits) - 1
      s"""
        |long $x = $xc & ${mask}L;
        |long $y = $yc & ${mask}L;
        |long $d = 0L;
        |for (long $s = ${1L << (bits - 1)}L; $s > 0L; $s >>= 1) {
        |  long $rx = (($x & $s) > 0L) ? 1L : 0L;
        |  long $ry = (($y & $s) > 0L) ? 1L : 0L;
        |  $d += $s * $s * ((3L * $rx) ^ $ry);
        |  if ($ry == 0L) {
        |    if ($rx == 1L) { $x = $s - 1L - $x; $y = $s - 1L - $y; }
        |    long $t = $x; $x = $y; $y = $t;
        |  }
        |}
        |${ev.value} = $d;
        |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HilbertD = copy(left = newLeft, right = newRight)
}

/** `dot_d(a, b)` — sequential left-to-right dot product of two
  * `array<double>` columns: Σ a(i)·b(i) accumulated in index order —
  * bit-identical to the `aggregate(zip_with(...))` fold it replaces (and
  * to DuckDB's `list_dot_product`), so every oracle stays hash-exact.
  * Fold-parity includes the null cases: length-mismatched arrays (the
  * fold's zip_with pads with nulls) and any null element make the result
  * NULL, never a silently-partial sum.
  *
  * Native out of PREFERENCE (tier b): higher-order functions are
  * `CodegenFallback` — per row the fold allocated a zip_with intermediate
  * array and interpreted two lambdas per element, in the innermost
  * |corpus|×|queries| loop of every similarity query. Here it is one
  * primitive Java loop inside whole-stage codegen: no allocation, no
  * virtual calls, no boxing. */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "dot_d"

  // ArrayData.getDouble on a float-packed array reads garbage silently —
  // reject anything but array<double> at ANALYSIS time.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(DoubleType, _),
            org.apache.spark.sql.types.ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_d requires array<double> on both sides (promote with " +
            s"SimFns.toDouble), got ${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = bv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (a.numElements() != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ac, bc) => {
      val (n, i, acc) =
        (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("acc"))
      s"""
        |int $n = $ac.numElements();
        |if ($n != $bc.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  double $acc = 0.0d;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if ($ac.isNullAt($i) || $bc.isNullAt($i)) { ${ev.isNull} = true; break; }
        |    $acc += $ac.getDouble($i) * $bc.getDouble($i);
        |  }
        |  ${ev.value} = $acc;
        |}
        |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProductD = copy(left = newLeft, right = newRight)
}

/** `mat_vec_d(m, v)` — matrix·vector over a literal `array<array<double>>`
  * rotation matrix and an `array<double>` vector: element i is the
  * INDEX-ORDER dot of m(i) with v — bit-identical accumulation to the
  * `transform(sequence, i -> aggregate(zip_with(m[i], v, *), 0, +))` HOF
  * chain it replaces in [[graft.operators.Similarity.rotateEmbeddings]]
  * (the OPQ pretransform: at 100 TB this runs on EVERY corpus row at
  * encode time and every query row at serve time; the HOF chain is
  * CodegenFallback and allocates a zip_with intermediate per output
  * element — dim+1 allocations per row). One primitive double loop in
  * whole-stage codegen, one primitive-array result. NULL on any shape
  * defect (null inputs, null rows/elements, any row length ≠ vec
  * length) — loud-by-absence, where the HOF chain emitted per-element
  * nulls; all callers operate on width-checked vectors, so the two
  * diverge only on inputs the pipelines already exclude. */
case class MatVecD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "mat_vec_d"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.ArrayType(DoubleType, _), _),
            org.apache.spark.sql.types.ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"mat_vec_d requires (array<array<double>> matrix, array<double> " +
            s"vector), got ${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(mv: Any, vv: Any): Any = {
    val m = mv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val v = vv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val rows = m.numElements()
    val n = v.numElements()
    val out = new Array[Double](rows)
    var i = 0
    while (i < rows) {
      if (m.isNullAt(i)) return null
      val row = m.getArray(i)
      if (row.numElements() != n) return null
      var acc = 0.0
      var j = 0
      while (j < n) {
        if (row.isNullAt(j) || v.isNullAt(j)) return null
        acc += row.getDouble(j) * v.getDouble(j)
        j += 1
      }
      out(i) = acc
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (mc, vc) => {
      val (rows, n, out, bad, i, j, row, acc) = (ctx.freshName("rows"),
        ctx.freshName("n"), ctx.freshName("out"), ctx.freshName("bad"),
        ctx.freshName("i"), ctx.freshName("j"), ctx.freshName("row"),
        ctx.freshName("acc"))
      s"""
        |int $rows = $mc.numElements();
        |int $n = $vc.numElements();
        |double[] $out = new double[$rows];
        |boolean $bad = false;
        |for (int $i = 0; $i < $rows && !$bad; $i++) {
        |  if ($mc.isNullAt($i)) { $bad = true; break; }
        |  org.apache.spark.sql.catalyst.util.ArrayData $row = $mc.getArray($i);
        |  if ($row.numElements() != $n) { $bad = true; break; }
        |  double $acc = 0.0d;
        |  for (int $j = 0; $j < $n; $j++) {
        |    if ($row.isNullAt($j) || $vc.isNullAt($j)) { $bad = true; break; }
        |    $acc += $row.getDouble($j) * $vc.getDouble($j);
        |  }
        |  if (!$bad) $out[$i] = $acc;
        |}
        |if ($bad) {
        |  ${ev.isNull} = true;
        |} else {
        |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        |    .fromPrimitiveArray($out);
        |}
        |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MatVecD = copy(left = newLeft, right = newRight)
}

/** `vec_sub_d(a, b)` — elementwise `array<double>` subtraction, the
  * residual step of the IVF-PQ encode path ([[graft.operators.Similarity
  * .residualFrame]]: v − c(cell) on EVERY corpus row at encode time) and
  * of the per-probe query residual. Replaces `zip_with(a, b, -)` — an
  * ArrayTransform-family HOF (CodegenFallback, interpreted lambda, one
  * intermediate array) — with one primitive loop + one primitive-array
  * result in whole-stage codegen. NULL on any shape defect (null
  * inputs/elements, length mismatch) — loud-by-absence where zip_with
  * padded with nulls; callers subtract width-matched vectors by
  * construction. */
case class VecSubD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sub_d"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(DoubleType, _),
            org.apache.spark.sql.types.ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_sub_d requires array<double> on both sides (promote with " +
            s"SimFns.toDouble), got ${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = bv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      out(i) = a.getDouble(i) - b.getDouble(i)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ac, bc) => {
      val (n, out, bad, i) = (ctx.freshName("n"), ctx.freshName("out"),
        ctx.freshName("bad"), ctx.freshName("i"))
      s"""
        |int $n = $ac.numElements();
        |boolean $bad = ($n != $bc.numElements());
        |double[] $out = $bad ? null : new double[$n];
        |for (int $i = 0; !$bad && $i < $n; $i++) {
        |  if ($ac.isNullAt($i) || $bc.isNullAt($i)) { $bad = true; break; }
        |  $out[$i] = $ac.getDouble($i) - $bc.getDouble($i);
        |}
        |if ($bad) {
        |  ${ev.isNull} = true;
        |} else {
        |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        |    .fromPrimitiveArray($out);
        |}
        |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecSubD = copy(left = newLeft, right = newRight)
}

/** `sign_pack_l(v)` — the binary-quantization encode kernel: packs an
  * `array<double>` vector's sign pattern 32 dimensions per BIGINT word
  * (bit b of word j set iff v(32j + b) > 0.0 — STRICTLY positive, the
  * [[graft.operators.Similarity.binqEncode]] layout). Replaces the
  * transform/aggregate/sequence HOF chain (CodegenFallback; one
  * interpreted 32-step fold per word per row) on the Hamming tier's
  * full-corpus encode pass. Parity with the chain it replaces includes
  * the null-element case: a NULL element packs as a 0 bit (the chain's
  * `when(_ > 0, bit).otherwise(0)` treats null-compare as false), and
  * NaN / −0.0 are 0 bits (not strictly positive). NULL only on a null
  * input array. Empty input → empty output (callers filter size > 0
  * upstream, where the HOF chain would have thrown under ANSI). */
case class SignPackL(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "sign_pack_l"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_pack_l requires array<double> (promote with " +
            s"SimFns.toDouble), got ${other.simpleString}")
    }

  override protected def nullSafeEval(vv: Any): Any = {
    val v = vv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = v.numElements()
    val out = new Array[Long]((n + 31) / 32)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i) && v.getDouble(i) > 0.0) {
        out(i / 32) |= 1L << (i % 32)
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vc => {
      val (n, out, i) =
        (ctx.freshName("n"), ctx.freshName("out"), ctx.freshName("i"))
      s"""
        |int $n = $vc.numElements();
        |long[] $out = new long[($n + 31) / 32];
        |for (int $i = 0; $i < $n; $i++) {
        |  if (!$vc.isNullAt($i) && $vc.getDouble($i) > 0.0d) {
        |    $out[$i / 32] |= 1L << ($i % 32);
        |  }
        |}
        |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        |  .fromPrimitiveArray($out);
        |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignPackL =
    copy(child = newChild)
}

/** `pq_encode_i(v, books_flat)` — the FUSED product-quantization encode
  * kernel: all m codes of one vector in one pass. `books_flat` is the
  * trained codebook flattened sub-major/code-major
  * (entry (sub·ksub + code)·dsub + j = cv(j)); m and ksub ride as
  * constructor fields (the [[HilbertD]] bits pattern), dsub derives at
  * runtime. Per (sub, code): d2u = round(round((x·x − 2·x·cv) + cc, 6)
  * · 10⁶, 0) as a long — EXACTLY the d2Micros expression tree (same
  * association order; rounds via java.math.BigDecimal.valueOf(..)
  * .setScale(n, HALF_UP), which is what Spark's Round generates for
  * doubles; cc re-derived as the same index-order Σcv² the driver-side
  * codebookFrame computes) — and the chosen code is the packed-long
  * lexicographic (d2u, code) min, the (d2u, code) order the DuckDB
  * oracles' encode ranks by.
  *
  * WHY: a declarative encode is a broadcast fan-out of m·ksub rows per
  * vector + a groupBy(vec_id, sub) min — partial aggregation collapses
  * map-side, but |corpus|·m rows still cross an exchange on EVERY
  * encode pass. This kernel makes the encode a pure projection: zero
  * expansion, ZERO SHUFFLE, embarrassingly parallel at any corpus
  * size. It is the only PQ encode (Similarity.pqEncode and the IVF
  * encodes). NULL on shape defects (null vector/elements, vector
  * length ≠ m·dsub, books length not divisible by m·ksub) —
  * loud-by-absence: every search drops a NULL codes row. */
case class PqEncodeI(left: Expression, right: Expression, m: Int, ksub: Int)
    extends BinaryExpression {
  require(m >= 1 && ksub >= 1 && ksub < 65536,
    s"pq_encode_i requires 1 <= ksub < 2^16 (packed tie-break), got m=$m ksub=$ksub")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode_i"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(DoubleType, _),
            org.apache.spark.sql.types.ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode_i requires (array<double> vector, array<double> " +
            s"flattened codebooks), got ${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(vv: Any, bb: Any): Any = {
    val v = vv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val fb = bb.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val mk = m * ksub
    if (fb.numElements() == 0 || fb.numElements() % mk != 0) return null
    val dsub = fb.numElements() / mk
    if (v.numElements() != m * dsub) return null
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      var xx = 0.0
      var j = 0
      while (j < dsub) {
        if (v.isNullAt(sub * dsub + j)) return null
        val x = v.getDouble(sub * dsub + j)
        xx += x * x
        j += 1
      }
      var best = Long.MaxValue
      var code = 0
      while (code < ksub) {
        val base = (sub * ksub + code) * dsub
        var xcv = 0.0
        var cc = 0.0
        j = 0
        while (j < dsub) {
          if (fb.isNullAt(base + j)) return null
          val cvj = fb.getDouble(base + j)
          xcv += v.getDouble(sub * dsub + j) * cvj
          cc += cvj * cvj
          j += 1
        }
        val d = (xx - 2.0 * xcv) + cc
        val r6 = java.math.BigDecimal.valueOf(d)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val r0 = java.math.BigDecimal.valueOf(r6 * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        val packed = r0.toLong * 65536L + code
        if (packed < best) best = packed
        code += 1
      }
      // floorMod, not %: if FP cancellation ever rounds a sub-distance to
      // a negative micro the packed min is negative, and Java % would
      // yield a garbage negative code where the declarative path's
      // pmod(best, 65536) recovers the code bits correctly.
      out(sub) = java.lang.Math.floorMod(best, 65536L).toInt
      sub += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vc, bc) => {
      val (dsub, out, bad, sub, xx, j, x, best, code, base, xcv, cc, cvj,
        d, r6, r0, packed) = (ctx.freshName("dsub"), ctx.freshName("out"),
        ctx.freshName("bad"), ctx.freshName("sub"), ctx.freshName("xx"),
        ctx.freshName("j"), ctx.freshName("x"), ctx.freshName("best"),
        ctx.freshName("code"), ctx.freshName("base"), ctx.freshName("xcv"),
        ctx.freshName("cc"), ctx.freshName("cvj"), ctx.freshName("d"),
        ctx.freshName("r6"), ctx.freshName("r0"), ctx.freshName("packed"))
      s"""
        |boolean $bad = ($bc.numElements() == 0 ||
        |  $bc.numElements() % ${m * ksub} != 0);
        |int $dsub = $bad ? 1 : $bc.numElements() / ${m * ksub};
        |$bad = $bad || ($vc.numElements() != $m * $dsub);
        |int[] $out = $bad ? null : new int[$m];
        |for (int $sub = 0; !$bad && $sub < $m; $sub++) {
        |  double $xx = 0.0d;
        |  for (int $j = 0; $j < $dsub; $j++) {
        |    if ($vc.isNullAt($sub * $dsub + $j)) { $bad = true; break; }
        |    double $x = $vc.getDouble($sub * $dsub + $j);
        |    $xx += $x * $x;
        |  }
        |  if ($bad) break;
        |  long $best = Long.MAX_VALUE;
        |  for (int $code = 0; $code < $ksub; $code++) {
        |    int $base = ($sub * $ksub + $code) * $dsub;
        |    double $xcv = 0.0d;
        |    double $cc = 0.0d;
        |    for (int $j = 0; $j < $dsub; $j++) {
        |      if ($bc.isNullAt($base + $j)) { $bad = true; break; }
        |      double $cvj = $bc.getDouble($base + $j);
        |      $xcv += $vc.getDouble($sub * $dsub + $j) * $cvj;
        |      $cc += $cvj * $cvj;
        |    }
        |    if ($bad) break;
        |    double $d = ($xx - 2.0d * $xcv) + $cc;
        |    double $r6 = java.math.BigDecimal.valueOf($d)
        |      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
        |    double $r0 = java.math.BigDecimal.valueOf($r6 * 1.0e6d)
        |      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue();
        |    long $packed = ((long) $r0) * 65536L + $code;
        |    if ($packed < $best) $best = $packed;
        |  }
        |  if (!$bad) $out[$sub] = (int) java.lang.Math.floorMod($best, 65536L);
        |}
        |if ($bad) {
        |  ${ev.isNull} = true;
        |} else {
        |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        |    .fromPrimitiveArray($out);
        |}
        |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqEncodeI = copy(left = newLeft, right = newRight)
}

/** `abs_max_d(v)` — max |v(i)| over an `array<double>`, the SQ8 tier's
  * per-vector scale: replaces `array_max(transform(v, abs))` (the
  * transform is an ArrayTransform HOF) with one primitive loop. Parity
  * with that chain includes null handling: array_max SKIPS null
  * elements, so this does too; NULL on a null input or when every
  * element is null / the array is empty (array_max of an all-null or
  * empty array is null). */
case class AbsMaxD(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "abs_max_d"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"abs_max_d requires array<double>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(vv: Any): Any = {
    val v = vv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    var best = Double.NaN
    var seen = false
    var i = 0
    while (i < v.numElements()) {
      if (!v.isNullAt(i)) {
        val a = math.abs(v.getDouble(i))
        // Double.compare, not >: Spark's ordering is NaN-greatest, so
        // array_max(transform(v, abs)) returns NaN whenever one is
        // present — a plain `a > best` would drop a late NaN.
        if (!seen || java.lang.Double.compare(a, best) > 0) {
          best = a; seen = true
        }
      }
      i += 1
    }
    if (seen) best else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vc => {
      val (best, seen, i, a) = (ctx.freshName("best"), ctx.freshName("seen"),
        ctx.freshName("i"), ctx.freshName("a"))
      s"""
        |double $best = Double.NaN;
        |boolean $seen = false;
        |for (int $i = 0; $i < $vc.numElements(); $i++) {
        |  if (!$vc.isNullAt($i)) {
        |    double $a = Math.abs($vc.getDouble($i));
        |    if (!$seen || java.lang.Double.compare($a, $best) > 0) {
        |      $best = $a; $seen = true;
        |    }
        |  }
        |}
        |if (!$seen) { ${ev.isNull} = true; } else { ${ev.value} = $best; }
        |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AbsMaxD =
    copy(child = newChild)
}

/** `sq8_codes_i(v, max_abs)` — the int8 scalar-quantization encode:
  * per element `(int) floor(x·127/max_abs + 0.5)` — EXACTLY the
  * `transform(v, x -> floor(x·127.0 / max_abs + 0.5).cast("int"))`
  * chain (same association order; Spark floor(double) is Math.floor →
  * long, then the long→int cast truncates — replicated verbatim).
  * Replaces the ArrayTransform HOF on the SQ8 tier's full-corpus
  * encode pass with one primitive loop + primitive-array result. NULL
  * on null inputs or a null element (the chain emitted per-element
  * nulls; loud-by-absence here — callers encode width-checked non-null
  * vectors). */
case class Sq8CodesI(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "sq8_codes_i"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(DoubleType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sq8_codes_i requires (array<double>, double max_abs), " +
            s"got ${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(vv: Any, mv: Any): Any = {
    val v = vv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val maxAbs = mv.asInstanceOf[Double]
    val n = v.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      out(i) = Math.floor(v.getDouble(i) * 127.0 / maxAbs + 0.5).toLong.toInt
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vc, mc) => {
      val (n, out, bad, i) = (ctx.freshName("n"), ctx.freshName("out"),
        ctx.freshName("bad"), ctx.freshName("i"))
      s"""
        |int $n = $vc.numElements();
        |int[] $out = new int[$n];
        |boolean $bad = false;
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($vc.isNullAt($i)) { $bad = true; break; }
        |  $out[$i] = (int) (long) Math.floor(
        |    $vc.getDouble($i) * 127.0d / $mc + 0.5d);
        |}
        |if ($bad) {
        |  ${ev.isNull} = true;
        |} else {
        |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        |    .fromPrimitiveArray($out);
        |}
        |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Sq8CodesI = copy(left = newLeft, right = newRight)
}

/** `sum_abs_diff_l(a, b)` — Σ|aᵢ − bᵢ| over two `array<long>`, the exact
  * perceptual-hash verify metric in `Multimodal.nearDupImages`. Same
  * rationale as [[DotProductD]]: the `aggregate(zip_with(...))` fold it
  * replaces is `CodegenFallback` and allocates an intermediate array per
  * ROW — and the verify runs once per candidate PAIR (2.24M at sf1). One
  * primitive loop in whole-stage codegen; null on length mismatch or null
  * element (mirrors the fold's null semantics). */
case class SumAbsDiffL(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "sum_abs_diff_l"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(LongType, _),
            org.apache.spark.sql.types.ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sum_abs_diff_l requires array<bigint> on both sides, " +
            s"got ${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = bv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (a.numElements() != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += math.abs(a.getLong(i) - b.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ac, bc) => {
      val (n, i, acc, d) = (ctx.freshName("n"), ctx.freshName("i"),
        ctx.freshName("acc"), ctx.freshName("d"))
      s"""
        |int $n = $ac.numElements();
        |if ($n != $bc.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  long $acc = 0L;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if ($ac.isNullAt($i) || $bc.isNullAt($i)) { ${ev.isNull} = true; break; }
        |    long $d = $ac.getLong($i) - $bc.getLong($i);
        |    $acc += ($d < 0) ? -$d : $d;
        |  }
        |  ${ev.value} = $acc;
        |}
        |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SumAbsDiffL = copy(left = newLeft, right = newRight)
}

/** `hamming_l(a, b)` — Hamming distance between two bit patterns packed
  * into `array<bigint>` words: Σ popcount(aᵢ xor bᵢ). The pair kernel of
  * the sign-bit (binary-quantization) search tier: per query×code pair it
  * is one xor + one POPCNT per word instead of a dim-wide dot product.
  * Native for the same reason as [[DotProductD]] — this runs in the
  * innermost |corpus|×|queries| loop, and a `zip_with`/`aggregate` fold is
  * `CodegenFallback` with a per-pair intermediate array. One primitive
  * loop in whole-stage codegen (`Long.bitCount` compiles to the POPCNT
  * instruction on every x86-64/aarch64 JIT). Null on length mismatch or
  * null element — mirrors the fold's semantics; a mismatched code table
  * surfaces as null (ranked LAST by the callers' nulls-last windows and
  * excluded by their size pair-guards) rather than a partial count. */
case class HammingL(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_l"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(LongType, _),
            org.apache.spark.sql.types.ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hamming_l requires array<bigint> on both sides, " +
            s"got ${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(av: Any, bv: Any): Any = {
    val a = av.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = bv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (a.numElements() != b.numElements()) return null
    var acc = 0
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ac, bc) => {
      val (n, i, acc) = (ctx.freshName("n"), ctx.freshName("i"),
        ctx.freshName("acc"))
      s"""
        |int $n = $ac.numElements();
        |if ($n != $bc.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  int $acc = 0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    if ($ac.isNullAt($i) || $bc.isNullAt($i)) { ${ev.isNull} = true; break; }
        |    $acc += java.lang.Long.bitCount($ac.getLong($i) ^ $bc.getLong($i));
        |  }
        |  ${ev.value} = $acc;
        |}
        |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HammingL = copy(left = newLeft, right = newRight)
}

/** `adc_sum_l(codes, lut, ksub)` — asymmetric-distance lookup sum, the
  * PQ search kernel: codes is the vector's m PQ codes (`array<int>`),
  * lut the query's flattened m×ksub subspace distance table
  * (`array<bigint>`, laid out sub-major: entry sub·ksub + code), and
  * the result Σ_sub lut[sub·ksub + codes[sub]] — m primitive loads +
  * adds per query×vector pair, instead of m joined (sub, code) rows
  * per pair and their (query, vec) re-aggregation (measured: that
  * aggregate dominated the sf1 searches, NOTES.md r14). `ksub` is EXPLICIT (the codebook size the caller
  * trained with) — an inferred lut.length/codes.length would let a
  * wrong-m codes array whose length coincidentally divides the LUT
  * (4 codes against an 8×16 table infers ksub=32) score a misaligned
  * garbage distance (ADVICE r13). With ksub pinned, codes.length must
  * equal lut.length/ksub exactly or the result is null. Null on empty
  * or mismatched shapes, non-positive ksub, null elements, or an
  * out-of-range code — a mismatched codes/books pairing must surface
  * as null, never as a garbage distance. Callers guard validity
  * PER SIDE, BEFORE the pair join (Similarity.validWideCodes /
  * validWideLut), and rank with nulls-last ordering — NOT with an
  * isNotNull filter on this expression's alias, which Catalyst would
  * push into the join condition, dragging the kernel with it (the r12
  * double-dot class; see Similarity.rankByScore). */
case class AdcSumL(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "adc_sum_l"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(IntegerType, _),
            org.apache.spark.sql.types.ArrayType(LongType, _), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r, k) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"adc_sum_l requires (array<int> codes, array<bigint> lut, int ksub), " +
            s"got ${l.simpleString}, ${r.simpleString} and ${k.simpleString}")
    }

  override protected def nullSafeEval(cv: Any, lv: Any, kv: Any): Any = {
    val c = cv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val l = lv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val ksub = kv.asInstanceOf[Int]
    val m = c.numElements()
    if (m == 0 || ksub <= 0 || l.numElements() != m * ksub) return null
    var acc = 0L
    var s = 0
    while (s < m) {
      if (c.isNullAt(s)) return null
      val code = c.getInt(s)
      if (code < 0 || code >= ksub) return null
      val idx = s * ksub + code
      if (l.isNullAt(idx)) return null
      acc += l.getLong(idx)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cc, lc, kc) => {
      val (m, s, acc, code, idx) = (ctx.freshName("m"),
        ctx.freshName("s"), ctx.freshName("acc"),
        ctx.freshName("code"), ctx.freshName("idx"))
      s"""
        |int $m = $cc.numElements();
        |if ($m == 0 || $kc <= 0 || $lc.numElements() != $m * $kc) {
        |  ${ev.isNull} = true;
        |} else {
        |  long $acc = 0L;
        |  for (int $s = 0; $s < $m; $s++) {
        |    if ($cc.isNullAt($s)) { ${ev.isNull} = true; break; }
        |    int $code = $cc.getInt($s);
        |    if ($code < 0 || $code >= $kc) { ${ev.isNull} = true; break; }
        |    int $idx = $s * $kc + $code;
        |    if ($lc.isNullAt($idx)) { ${ev.isNull} = true; break; }
        |    $acc += $lc.getLong($idx);
        |  }
        |  ${ev.value} = $acc;
        |}
        |""".stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): AdcSumL =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `american_to_decimal(x)` — American → decimal (European) odds:
  * x > 0 ⇒ 1 + x/100, x < 0 ⇒ 1 + 100/(−x). */
case class AmericanToDecimal(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val odds = v.asInstanceOf[Int]
    if (odds > 0) 1.0 + odds / 100.0 else 1.0 + 100.0 / -odds.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"($c > 0) ? (1.0d + $c / 100.0d) : (1.0d + 100.0d / -((double) $c))")

  override protected def withNewChildInternal(newChild: Expression): AmericanToDecimal =
    copy(child = newChild)

  override def prettyName: String = "american_to_decimal"
}

/** `nfc_normalize(s)` — Unicode NFC normalization (canonical compose),
  * the hygiene pass an LLM corpus runs BEFORE any content hashing: the
  * same text crawled as composed "é" (U+00E9) and decomposed "e"+U+0301
  * must hash/dedup/shingle identically. A native expression (tier (b)):
  * the work stays inside whole-stage codegen, with a genuinely
  * zero-allocation ASCII fast path (numBytes == numChars ⇒ every byte is
  * one char ⇒ NFC by definition — no String ever materializes); non-ASCII
  * already-normalized strings pay one String copy for the `isNormalized`
  * check, and only genuinely decomposed rows pay the compose. JDK `java.text.Normalizer` and DuckDB's utf8proc
  * `nfc_normalize` both implement UAX #15 canonical composition, so
  * results are bit-identical cross-engine (spec-pinned on composed,
  * combining-mark, multi-mark, and Hangul-Jamo cases). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullIntolerant: Boolean = true

  // the SumAbsDiffL convention: reject non-string inputs at analysis time
  // (AbstractDataType/ExpectsInputTypes is private[sql], so check directly)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[org.apache.spark.sql.types.StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(v: Any): Any = {
    val u = v.asInstanceOf[UTF8String]
    // all-ASCII (every UTF-8 byte is one char) is NFC by definition — the
    // dominant case returns the input with NO String materialized at all
    // (round-10 review: toString-before-isNormalized allocated per row)
    if (u.numBytes == u.numChars) v
    else {
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) v
      else UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("nfcStr")
      s"""
        |if ($c.numBytes() == $c.numChars()) {
        |  ${ev.value} = $c;
        |} else {
        |  java.lang.String $s = $c.toString();
        |  if (java.text.Normalizer.isNormalized($s, java.text.Normalizer.Form.NFC)) {
        |    ${ev.value} = $c;
        |  } else {
        |    ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
        |      java.text.Normalizer.normalize($s, java.text.Normalizer.Form.NFC));
        |  }
        |}
        |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

/** `deflate_len(s)` — deflated byte length of the string's UTF-8 bytes at
  * the fixed [[graft.functions.CompressFns.Level]]: the compressibility /
  * entropy-proxy quality signal (see CompressFns for the determinism
  * posture — stable within a run, not a cross-engine constant, hence the
  * invariant-style oracle). Codegen is a static call into the per-thread
  * reusable Deflater kernel — no per-row codec allocation, stays inside
  * whole-stage codegen. */
case class DeflateLen(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[org.apache.spark.sql.types.StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"deflate_len requires a string argument, got ${child.dataType.sql}")

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.CompressFns.deflatedLen(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CompressFns.deflatedLen($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)

  override def prettyName: String = "deflate_len"
}

/** `prefix_sum_i(a)` — running (inclusive) prefix sum of an `array<int>`:
  * out(i) = Σ_{j ≤ i} a(j). The decode step of the delta-compressed
  * positional index ([[graft.operators.Retrieval.positionalIndexFromDelta]]):
  * gaps back to absolute token positions.
  *
  * Native out of NECESSITY, not just preference: Spark has no linear
  * prefix-scan higher-order function — the `aggregate(…, concat(acc,
  * array(last + d)))` fold it replaces copies the accumulator array per
  * element, O(n²) per posting row (ADVICE r11; quadratic for a frequent
  * term with 10⁴+ occurrences in one doc). Here it is one primitive Java
  * loop + one primitive-array materialization inside whole-stage codegen.
  * A null element makes the result NULL (the fold's `+` would poison every
  * later element anyway), never a silently-partial array. Int overflow
  * wraps exactly like the HOF's int `+` did — positions are bounded by
  * doc length, far below 2³¹. */
case class PrefixSumI(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "prefix_sum_i"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"prefix_sum_i requires array<int>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    val out = new Array[Int](n)
    var acc = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += a.getInt(i)
      out(i) = acc
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val (n, i, acc, out) = (ctx.freshName("n"), ctx.freshName("i"),
        ctx.freshName("acc"), ctx.freshName("out"))
      s"""
        |int $n = $c.numElements();
        |int[] $out = new int[$n];
        |int $acc = 0;
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($c.isNullAt($i)) { ${ev.isNull} = true; break; }
        |  $acc += $c.getInt($i);
        |  $out[$i] = $acc;
        |}
        |if (!${ev.isNull}) {
        |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        |    .fromPrimitiveArray($out);
        |}
        |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PrefixSumI =
    copy(child = newChild)
}

// ── r16 text kernels (VERDICT r15 #1): the measured-hot HOF chains on
//    the text tier, ported per the r16 text-HOF profile (NOTES.md r16). Each is one static call
//    into graft.functions.TextKernels (the DeflateLen convention) so the
//    per-row loop runs inside whole-stage codegen; each replicates its
//    HOF chain bit-exactly incl. null-element behavior (TextKernelProps
//    + the OperatorsSpec parity suite pin it). ──

/** `md5_base28_l(a)` — per-element 28-bit md5 base hash over an
  * `array<string>` (the shingle→base-hash step of the MinHash family):
  * replaces `transform(transform(sh, md5), md5Base28-decode)` — two
  * interpreted lambdas and a 7-nibble string decode per shingle
  * (r16 text-HOF profile, NOTES.md: 2.16 s HOF on 500k docs). Null elements stay null. */
case class Md5Base28L(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "md5_base28_l"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_base28_l requires array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.md5Base28Array(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.md5Base28Array($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Base28L =
    copy(child = newChild)
}

/** `minhash_sig_l(hs, first, count)` — MinHash minima for universal-hash
  * indices [first, first+count) over an `array<long>` of base hashes, in
  * ONE pass: replaces `count` separate `array_min(transform(...))` HOF
  * passes (a 4-band key needs 8 of them — r16 text-HOF profile, NOTES.md: 0.96 s HOF).
  * Element k is null when the input has no non-null elements
  * (array_min's null-skip). */
case class MinhashSigL(child: Expression, first: Int, count: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(first >= 0 && count > 0, s"need first >= 0, count > 0; got ($first, $count)")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig_l"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig_l requires array<bigint>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.minhashSig(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], first, count)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.minhashSig($c, $first, $count)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSigL =
    copy(child = newChild)
}

/** `simhash16_l(hs)` — 16-bit SimHash over an `array<long>` (or
  * `array<int>` — the hash16 feed) of base hashes in one pass: replaces
  * the nested 16×|hs| aggregate (r16 text-HOF profile, NOTES.md: 3.95 s HOF on 500k
  * docs). Keeps the HOF's quirk that any null element zeroes the whole
  * hash (each bit's vote nulls, the when() maps null to 0). */
case class Simhash16L(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType

  private lazy val intElems: Boolean = child.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "simhash16_l"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) | ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash16_l requires array<bigint> or array<int>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.simhash16(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], intElems)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.simhash16($c, $intElems)")

  override protected def withNewChildInternal(newChild: Expression): Simhash16L =
    copy(child = newChild)
}

/** `feat_embed_l(tokens, dim)` — the feature-hashing document embedding
  * (hashing trick) fused into one pass over the tokens: md5 base hash,
  * bucket h mod dim, sign ±1 from the next hash bit, accumulate —
  * replaces the per-token hash-struct transform PLUS the dim×|tokens|
  * fold (r16 text-HOF profile, NOTES.md: 11.25 s HOF on 500k docs, the hottest text
  * site). Null tokens contribute 0 to every dimension. containsNull
  * stays true so the dumped parquet schema matches the HOF chain. */
case class FeatEmbedL(child: Expression, dim: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}
  require(dim > 0, s"need dim > 0, got $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "feat_embed_l"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"feat_embed_l requires array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.featEmbed(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.featEmbed($c, $dim)")

  override protected def withNewChildInternal(newChild: Expression): FeatEmbedL =
    copy(child = newChild)
}

/** `shingles_s(toks, n)` — word n-gram shingles joined with " " (whole-
  * document shingle below n tokens), one string-builder pass per row:
  * replaces `transform(sequence(...), i => concat_ws(element_at…))`
  * (r16 text-HOF profile, NOTES.md: 0.91 s HOF on 500k docs). concat_ws semantics —
  * null tokens are skipped inside a shingle, never nulled. */
case class ShinglesS(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}
  require(n > 0, s"need n > 0, got $n")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "shingles_s"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingles_s requires array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.shingles(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesS =
    copy(child = newChild)
}

/** `span_md5s(w, k)` — the ExactSubstr anchor hashes of a token array:
  * for every p in [0, n−k], `md5(array_join(slice(w, p+1, k), ' '))`,
  * without building the joined string per position
  * ([[graft.functions.TextKernels.spanMd5s]] feeds one digest per
  * position from a single joined buffer). Same md5 hex as the per-position
  * chain it replaced, so span indexes and blooms built before and after
  * are interchangeable. Null elements are skipped as array_join skips
  * them; n < k ⇒ empty array. */
case class SpanMd5s(child: Expression, k: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}
  require(k > 0, s"need k > 0, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "span_md5s"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"span_md5s requires array<string>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.spanMd5s(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.spanMd5s($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): SpanMd5s =
    copy(child = newChild)
}

/** `span_keep(w, starts, k)` — the ExactSubstr rebuild of one document:
  * `struct(n_removed, clean_text)` after removing the k-token spans that
  * start at `starts` (the document's duplicate anchor positions, as
  * collected). One linear pass over a coverage bitmap
  * ([[graft.functions.TextKernels.spanKeep]]) replaces the ×k position
  * explode, the per-document sorted coverage set and the O(n·|cov|)
  * `filter(array_contains)` rebuild. */
case class SpanKeep(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
  require(k > 0, s"need k > 0, got $k")

  override def dataType: DataType = StructType(Seq(
    StructField("n_removed", LongType, nullable = false),
    StructField("clean_text", StringType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "span_keep"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(_: StringType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"span_keep requires (array<string>, array<int>), " +
            s"got ${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(w: Any, s: Any): Any =
    graft.functions.TextKernels.spanKeep(
      w.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      s.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (w, s) => s"graft.functions.TextKernels.spanKeep($w, $s, $k)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SpanKeep =
    copy(left = newLeft, right = newRight)
}

/** `trigrams_s(t)` — character trigrams of a string in one pass
  * ([[graft.functions.TextKernels.trigrams]]): replaces the langid
  * tier's `transform(sequence(1, length(t)-2), i => substr(i, 3))`
  * chain, which interprets one Substring per character position —
  * the r16 text-HOF profile (NOTES.md) measured it at 13.05 s per 500k
  * docs, the hottest
  * remaining text site (it runs inside every model-language gate in
  * the curation pipelines). < 3 chars ⇒ empty array; char counting is
  * UTF8String's own first-byte table, bit-identical to
  * `length`/`substr`. */
case class TrigramsS(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "trigrams_s"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"trigrams_s requires a string argument, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.trigrams(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.trigrams($c)")

  override protected def withNewChildInternal(newChild: Expression): TrigramsS =
    copy(child = newChild)
}
