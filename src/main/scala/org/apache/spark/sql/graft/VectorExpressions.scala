package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, ByteType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector kernels (SURVEY.md §4:
  * "optional `Expression`s for similarity kernels if `aggregate`/
  * `zip_with` SQL proves slow at the 100 TB design point" — it did:
  * higher-order functions evaluate their lambdas interpreted, one boxed
  * call per element; these expressions run a primitive `double` loop
  * inside whole-stage codegen).
  *
  * Numeric contract: identical IEEE semantics to the SQL formulation the
  * DuckDB oracles use — a sequential left fold in index order for the
  * dot product, and `sqrt(xx) * sqrt(yy)` (NOT `sqrt(xx*yy)`) in the
  * cosine denominator — so swapping implementations never changes a
  * single output bit.
  *
  * Inputs are `array<double>` with equal lengths and no null
  * elements. Every `array<double>` kernel here also takes an
  * `array<float>` (the embeddings' stored type) through the analyzer's
  * implicit cast, which widens each element exactly
  * (`ImplicitCastInputTypes`).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, s) =
        (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("s"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: dot, |x|², |y|² in ONE pass over the pair,
  * then `dot / (sqrt(xx) * sqrt(yy))` — three HOF traversals collapsed
  * into one primitive loop.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var xy = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      xy += xi * yi; xx += xi * xi; yy += yi * yi
      i += 1
    }
    xy / (math.sqrt(xx) * math.sqrt(yy))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val xy = ctx.freshName("xy"); val xx = ctx.freshName("xx")
      val yy = ctx.freshName("yy")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $xy = 0.0; double $xx = 0.0; double $yy = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $xy += $xi * $yi; $xx += $xi * $xi; $yy += $yi * $yi;
         |}
         |${ev.value} = $xy /
         |  (java.lang.Math.sqrt($xx) * java.lang.Math.sqrt($yy));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Per-vector symmetric int8 quantization: `array<double>` →
  * `array<byte>` with scale = max|xᵢ| / 127 and
  * qᵢ = clamp(⌊xᵢ/scale + 0.5⌋, -127, 127) — the 8-bit embedding code
  * every large-scale vector store uses (8× less memory bandwidth than
  * doubles, integer dot kernels downstream). The zero vector quantizes
  * to all zeros.
  *
  * Determinism contract: every step (abs-max compare, one IEEE double
  * divide, +0.5, floor, clamp) is reproducible bit-for-bit in any
  * engine computing the same expression over doubles — which is what
  * makes a DuckDB oracle over the quantized codes possible at all.
  * Round-HALF-UP via ⌊x+0.5⌋ is chosen over `math.round`'s semantics
  * precisely because `floor` is the portable primitive.
  */
case class QuantizeI8(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "graft_quantize_i8"

  // Dirty-input contract, pinned to the DOUBLE-typed SQL formulation
  // (DuckDB's: list_max/least/greatest order NaN above every number and
  // floor preserves NaN): any NaN component makes the abs-max NaN, so
  // EVERY element becomes least(127, greatest(-127, NaN)) = 127; an
  // Inf component gives scale = Inf, quantizing itself to 127 (Inf/Inf
  // = NaN → clamp 127) and finite elements to floor(0.5) = 0. NOTE:
  // re-expressing this in Spark SQL would NOT reproduce it — Spark's
  // `floor` returns LONG and casts NaN to 0 — which is exactly why the
  // kernel pins DuckDB's double-typed semantics (QuantizeI8Spec).
  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var mx = 0.0
    var nan = false
    var i = 0
    while (i < n) {
      val v = math.abs(x.getDouble(i))
      if (v.isNaN) nan = true else if (v > mx) mx = v
      i += 1
    }
    val out = new Array[Byte](n)
    if (nan) {
      java.util.Arrays.fill(out, 127.toByte)
    } else if (mx != 0.0) {
      val scale = mx / 127.0
      i = 0
      while (i < n) {
        val q = math.floor(x.getDouble(i) / scale + 0.5)
        out(i) =
          if (q.isNaN) 127.toByte
          else math.min(127.0, math.max(-127.0, q)).toByte
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val mx = ctx.freshName("mx"); val v = ctx.freshName("v")
      val out = ctx.freshName("out"); val scale = ctx.freshName("scale")
      val q = ctx.freshName("q")
      val nan = ctx.freshName("nan")
      s"""
         |int $n = $a.numElements();
         |double $mx = 0.0;
         |boolean $nan = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = java.lang.Math.abs($a.getDouble($i));
         |  if (java.lang.Double.isNaN($v)) $nan = true;
         |  else if ($v > $mx) $mx = $v;
         |}
         |byte[] $out = new byte[$n];
         |if ($nan) {
         |  java.util.Arrays.fill($out, (byte) 127);
         |} else if ($mx != 0.0) {
         |  double $scale = $mx / 127.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $q =
         |      java.lang.Math.floor($a.getDouble($i) / $scale + 0.5);
         |    $out[$i] = java.lang.Double.isNaN($q) ? (byte) 127
         |      : (byte) java.lang.Math.min(127.0,
         |          java.lang.Math.max(-127.0, $q));
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : QuantizeI8 = copy(child = newChild)
}

/** Exact integer dot product over int8 codes: `array<byte> × array<byte>
  * → bigint`. At dim ≤ 2⁴⁰ the sum cannot overflow a long, and (unlike
  * the double fold) integer addition is associative — partial order
  * never matters. This is the hot kernel of the quantized scale path:
  * byte loads, integer multiply-add, fully inside whole-stage codegen.
  */
case class DotProductI8(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ByteType), ArrayType(ByteType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_i8"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getByte(i) * y.getByte(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, i, s) =
        (ctx.freshName("n"), ctx.freshName("i"), ctx.freshName("s"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((long) $a.getByte($i)) * $b.getByte($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductI8 =
    copy(left = newLeft, right = newRight)
}

/** Element-wise sum of `array<double>` vectors as a
  * [[org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate]]:
  * O(dim) state per group regardless of group size, map-side partial
  * sums — the building block for distributed centroid computation
  * (k-means update step) without exploding vectors into (row × dim)
  * shuffles. NOTE: double addition order across partitions is not
  * fixed, so sums are deterministic only up to floating-point
  * reassociation — callers that need bit-stability must keep the
  * aggregate out of oracle-hashed outputs (the IVF refinement loop
  * tolerates it by design).
  */
case class VectorSum(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[Array[Double]] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType))
  override def nullable: Boolean = true
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vecsum"

  override def createAggregationBuffer(): Array[Double] =
    Array.emptyDoubleArray

  override def update(buf: Array[Double],
                      input: org.apache.spark.sql.catalyst.InternalRow)
      : Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = if (buf.length >= n) buf else {
      val grown = new Array[Double](n)
      System.arraycopy(buf, 0, grown, 0, buf.length)
      grown
    }
    var i = 0
    while (i < n) { out(i) += arr.getDouble(i); i += 1 }
    out
  }

  override def merge(buf: Array[Double], other: Array[Double])
      : Array[Double] = {
    val (big, small) = if (buf.length >= other.length) (buf, other)
                       else (other, buf)
    var i = 0
    while (i < small.length) { big(i) += small(i); i += 1 }
    big
  }

  override def eval(buf: Array[Double]): Any =
    if (buf.isEmpty) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.length * 8)
    bb.putInt(buf.length)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](bb.getInt)
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorSum =
    copy(child = newChildren(0))
}

/** PQ encoder: `array<double>` vector → the `m` per-subspace code ids,
  * argmin over the trained codebooks (carried as a plan-bound object,
  * not an expression subtree — the sort_array-over-ksub-structs SQL
  * formulation this replaces generated O(m·ksub) expression nodes,
  * megabytes of janino source and a per-row sort; this is the same
  * arithmetic as a flat primitive loop, which is what lets the encode
  * defaults afford FAISS-grade code books instead of toy ones).
  *
  * Numeric contract (pinned by the rendered DuckDB oracle's
  * `ORDER BY c2 - 2*list_dot_product(sub, cw), code`): the comparison
  * key for subspace j, code c is `‖cw‖² − 2·(sub·cw)` with both the
  * norm (precomputed, driver-side) and the dot as sequential left
  * folds in index order, and ties — plus the all-NaN edge, where no
  * strict `<` ever fires — resolve to the LOWEST code, exactly like
  * the ascending (d, code) sort both engines replay.
  */
case class PqEncode(child: Expression,
                    books: Array[Array[Array[Double]]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType,
      containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  // ‖cw‖² per (subspace, code), the same left fold the build's sq()
  // and the oracle's list_dot_product(cw, cw) evaluate
  @transient private lazy val c2: Array[Array[Double]] =
    books.map(_.map { cw =>
      var s = 0.0; var i = 0
      while (i < cw.length) { s += cw(i) * cw(i); i += 1 }
      s
    })

  private def encode(x: ArrayData): Array[Int] = {
    val m = books.length
    val ds = books(0)(0).length
    // UnsafeArrayData.getDouble does no bounds check — a short vector
    // would silently encode garbage codes, so fail loudly instead
    // (dim % m is only validated on the training sample, not per row)
    require(x.numElements() >= m * ds,
      s"pq_encode: vector has ${x.numElements()} dims, codebooks " +
        s"need ${m * ds}")
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val book = books(j)
      val cc2 = c2(j)
      var best = Double.PositiveInfinity
      var bestCode = 0
      var code = 0
      while (code < book.length) {
        val cw = book(code)
        var s = 0.0
        var i = 0
        while (i < ds) { s += x.getDouble(j * ds + i) * cw(i); i += 1 }
        val d = cc2(code) - 2.0 * s
        if (d < best) { best = d; bestCode = code }
        code += 1
      }
      codes(j) = bestCode
      j += 1
    }
    codes
  }

  override protected def nullSafeEval(a: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(encode(a.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    // the codebooks ride along as reference objects — flat primitive
    // loops in the generated code, O(1) generated-source size in
    // (m, ksub)
    val b = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    val n2 = ctx.addReferenceObj("pqC2", c2, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val (m, ds) = (ctx.freshName("m"), ctx.freshName("ds"))
      val (j, code, i) =
        (ctx.freshName("j"), ctx.freshName("code"), ctx.freshName("i"))
      val (best, bestCode) =
        (ctx.freshName("best"), ctx.freshName("bestCode"))
      val (book, cc2, cw) =
        (ctx.freshName("book"), ctx.freshName("cc2"), ctx.freshName("cw"))
      val (s, d, out) =
        (ctx.freshName("s"), ctx.freshName("d"), ctx.freshName("out"))
      s"""
         |int $m = $b.length;
         |int $ds = $b[0][0].length;
         |if ($a.numElements() < $m * $ds) {
         |  throw new IllegalArgumentException(
         |    "pq_encode: vector has " + $a.numElements() +
         |    " dims, codebooks need " + ($m * $ds));
         |}
         |int[] $out = new int[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  double[][] $book = $b[$j];
         |  double[] $cc2 = $n2[$j];
         |  double $best = Double.POSITIVE_INFINITY;
         |  int $bestCode = 0;
         |  for (int $code = 0; $code < $book.length; $code++) {
         |    double[] $cw = $book[$code];
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $ds; $i++) {
         |      $s += $a.getDouble($j * $ds + $i) * $cw[$i];
         |    }
         |    double $d = $cc2[$code] - 2.0 * $s;
         |    if ($d < $best) { $best = $d; $bestCode = $code; }
         |  }
         |  $out[$j] = $bestCode;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions
         |  .UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : PqEncode = copy(child = newChild)
}

/** Shared kernel for [[NearestCells]]: top-`np` (by ascending
  * (−cosine, cid)) centroid assignments of one vector, as the same
  * `array<struct<neg_sim, centroid_id>>` the sort_array SQL
  * formulation produced. Lives as a static-forwardable object method
  * so the expression's generated code is ONE call — O(1) janino
  * source in nlist, where the sort_array form was O(nlist) expression
  * nodes and a full per-row sort.
  *
  * Numeric contract: per centroid, cos = xy / (sqrt(xx) * sqrt(yy))
  * with xy and xx as sequential left folds over the row vector and yy
  * pre-folded once per centroid — bit-identical to the fused
  * [[CosineSimilarity]] kernel's per-pair values (same adds in the
  * same order; xx/yy do not change across pairs). Selection keeps the
  * first `np` of the ascending (Double.compare, cid) order — NaN
  * (zero-norm) ranks last, ties take the lower cid — exactly the
  * prefix sort_array produced.
  */
object NearestCellsKernel {
  def compute(x: ArrayData, cents: Array[Array[Double]], cids: Array[Int],
              norms: Array[Double], np: Int): ArrayData = {
    val dim = x.numElements()
    var xx = 0.0
    var i = 0
    while (i < dim) { val v = x.getDouble(i); xx += v * v; i += 1 }
    val xNorm = math.sqrt(xx)
    val k = math.min(np, cents.length)
    val bestD = new Array[Double](k)
    val bestC = new Array[Int](k)
    var size = 0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val n = math.min(dim, cent.length)
      var xy = 0.0
      i = 0
      while (i < n) { xy += x.getDouble(i) * cent(i); i += 1 }
      val d = -(xy / (xNorm * norms(c)))
      val cid = cids(c)
      // insertion position: first slot whose (d, cid) sorts after ours
      var pos = size
      while (pos > 0 && {
        val cmp = java.lang.Double.compare(d, bestD(pos - 1))
        cmp < 0 || (cmp == 0 && cid < bestC(pos - 1))
      }) pos -= 1
      if (pos < k) {
        val last = math.min(size, k - 1)
        var m = last
        while (m > pos) {
          bestD(m) = bestD(m - 1); bestC(m) = bestC(m - 1); m -= 1
        }
        bestD(pos) = d
        bestC(pos) = cid
        if (size < k) size += 1
      }
      c += 1
    }
    val rows = new Array[Any](size)
    i = 0
    while (i < size) {
      rows(i) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](bestD(i), bestC(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}

/** Top-`np` IVF cell assignment: `array<double>` vector → the `np`
  * nearest trained centroids as `array<struct<neg_sim, centroid_id>>`
  * in ascending (−cosine, cid) order — the native replacement for
  * sorting an nlist-length struct array per row. Centroids ride as
  * plan-bound reference objects, so generated-source size is O(1) in
  * nlist and per-row cost is nlist fused cosines + an np-bounded
  * insertion — the property that keeps a corpus-scaled nlist viable
  * (the sort_array form degraded janino compile and per-row time
  * together as nlist grew toward the derived cap).
  */
case class NearestCells(child: Expression,
                        cents: Array[(Int, Array[Double])],
                        np: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("neg_sim", DoubleType,
        nullable = false),
      org.apache.spark.sql.types.StructField("centroid_id",
        org.apache.spark.sql.types.IntegerType, nullable = false))),
      containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  @transient private lazy val centVecs: Array[Array[Double]] =
    cents.map(_._2)
  @transient private lazy val cids: Array[Int] = cents.map(_._1)
  // ‖c‖ pre-folded once per centroid — the same sqrt(Σc²) the fused
  // cosine kernel recomputed per pair (identical adds, identical order)
  @transient private lazy val norms: Array[Double] =
    cents.map { case (_, v) =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }

  override protected def nullSafeEval(a: Any): Any =
    NearestCellsKernel.compute(a.asInstanceOf[ArrayData], centVecs,
      cids, norms, np)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val cs = ctx.addReferenceObj("cellCents", centVecs, "double[][]")
    val ci = ctx.addReferenceObj("cellCids", cids, "int[]")
    val nm = ctx.addReferenceObj("cellNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = org.apache.spark.sql.graft.NearestCellsKernel
         |  .compute($a, $cs, $ci, $nm, $np);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCells = copy(child = newChild)
}
