package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Column/API bridge for the engine's native Catalyst expressions.
  *
  * Lives under `org.apache.spark.sql` to reach the `private[sql]`
  * Column↔Expression converters (`classic.ExpressionUtils`) and the
  * session FunctionRegistry — the standard technique for libraries that
  * extend Spark with native expressions without forking it. Production
  * sessions can instead enable [[graft.functions.GraftExtensions]] via
  * `spark.sql.extensions` (the fully-public route); `install` exists so
  * the expressions also work on sessions the caller didn't build (the
  * driver-run Verify/Bench sessions here).
  */
object Native {

  private def c(e: Expression): Column = ExpressionUtils.column(e)
  private def e(col: Column): Expression = ExpressionUtils.expression(col)

  /** Codegen'd fold: Σ aᵢ·bᵢ in index order. */
  def dot(a: Column, b: Column): Column = c(DotProduct(e(a), e(b)))

  /** Codegen'd fused cosine: one pass for dot and both norms. */
  def cosine(a: Column, b: Column): Column = c(CosineSimilarity(e(a), e(b)))

  /** Bounded top-k aggregate: k best (value, id) pairs per group with
    * map-side partial heaps — O(k) state, never a full partition sort.
    */
  def topk(value: Column, id: Column, k: Int): Column =
    c(TopKPairs(e(value), e(id), k).toAggregateExpression())

  /** Ranked payload-carrying top-k aggregate: k best (value, id) rows
    * per group with a payload struct riding through; mode 0|1|2 =
    * row_number|rank|dense_rank ≤ k retained-set semantics.
    */
  def topkRows(value: Column, id: Column, payload: Column, k: Int,
               mode: Int): Column =
    c(TopKRows(e(value), e(id), e(payload), k, mode)
      .toAggregateExpression())

  /** Codegen'd per-row 64-bit SimHash over a token array. */
  def simhash(tokens: Column): Column = c(SimHash(e(tokens)))

  /** Codegen'd per-row MinHash signature over a shingle-hash array. */
  def minhash(shingleHashes: Column, numHashes: Int): Column =
    c(MinHashSig(e(shingleHashes), numHashes))

  /** Codegen'd per-row distinct k-shingle hashing over a token array. */
  def shingles(tokens: Column, k: Int): Column =
    c(ShingleHashes(e(tokens), k))

  /** Element-wise vector-sum aggregate (O(dim) state, k-means update). */
  def vecsum(vec: Column): Column =
    c(VectorSum(e(vec)).toAggregateExpression())

  /** Count-min sketch aggregate: depth×width exact counters as a flat
    * `array<long>` (row-major), mergeable partials — O(depth·width)
    * state independent of key cardinality.
    */
  def countmin(key: Column, depth: Int, width: Int): Column =
    c(CountMinSketchAgg(e(key), depth, width).toAggregateExpression())

  /** Bloom-filter build aggregate over `xxhash64(key)` — binary
    * result, mergeable partials (Spark's own runtime-filter aggregate,
    * surfaced as an explicit API for application-level semi-join
    * reduction).
    */
  def bloomAgg(key: Column, expectedItems: Long): Column =
    c(new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(
          new org.apache.spark.sql.catalyst.expressions.XxHash64(
            Seq(e(key))),
          expectedItems)
      .toAggregateExpression())

  /** `might_contain(filter, xxhash64(key))` pruning predicate over a
    * pre-built filter's bytes.
    */
  def bloomMightContain(filterBytes: Array[Byte], key: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(
        filterBytes, org.apache.spark.sql.types.BinaryType),
      new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(e(key)))))

  /** Morton bit-interleave of two normalized coordinates (Z-order). */
  def morton(a: Column, b: Column, bits: Int): Column =
    c(MortonInterleave(e(a), e(b), bits))

  /** Bounded Misra-Gries frequent-items sketch (O(capacity) state). */
  def freqSketch(item: Column, capacity: Int): Column =
    c(FreqSketch(e(item), capacity).toAggregateExpression())

  /** Per-vector symmetric int8 quantization (8-bit embedding codes). */
  def quantizeI8(vec: Column): Column = c(QuantizeI8(e(vec)))

  /** Exact integer dot product over int8 codes. */
  def dotI8(a: Column, b: Column): Column = c(DotProductI8(e(a), e(b)))

  /** Per-row PQ encoding against trained codebooks (plan-bound, not an
    * expression subtree) — oracle-exact argmin per subspace.
    */
  def pqEncode(vec: Column, books: Array[Array[Array[Double]]]): Column =
    c(PqEncode(e(vec), books))

  /** Top-`np` IVF cell assignment against trained centroids
    * (plan-bound) — oracle-exact ascending (−cosine, cid) prefix.
    */
  def nearestCells(vec: Column, cents: Array[(Int, Array[Double])],
                   np: Int): Column =
    c(NearestCells(e(vec), cents, np))

  /** Min MD5-hex over 3-shingles of a token array (1-perm MinHash). */
  def minShingleMd5(tokens: Column): Column = c(MinShingleMd5(e(tokens)))

  /** md5-seeded MinHash signature (portable-hash twin of [[minhash]]). */
  def minhashMd5(tokens: Column, numHashes: Int, k: Int): Column =
    c(MinHashMd5(e(tokens), numHashes, k))

  /** md5 SimHash bit string (portable-hash twin of [[simhash]]). */
  def simhashMd5(tokens: Column): Column = c(SimHashMd5(e(tokens)))

  /** struct → binary Avro (registry-converter wire value). */
  def toAvro(value: Column): Column = c(AvroEncode(e(value)))

  /** binary Avro → struct under the given read schema. Permissive mode
    * (`failOnError = false`) nulls malformed records instead of failing
    * the task.
    */
  def fromAvro(value: Column,
               schema: org.apache.spark.sql.types.StructType,
               failOnError: Boolean = true): Column =
    c(AvroDecode(e(value), schema, failOnError))

  /** The engine's SQL functions: the one table both registration
    * routes read, [[install]] and [[graft.functions.GraftExtensions]].
    * NearestCells and PqEncode are deliberately absent: they bind
    * TRAINED ARTIFACTS (centroid / codebook arrays) as plan objects,
    * which have no sane literal form in SQL text — the SQL route to the
    * IVF/PQ families is the persisted index (build once, probe via the
    * read API), not an inline expression.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
                      Seq[Expression] => Expression)] = {
    def fn(name: String, cls: Class[_])(
        build: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
    Seq(
      fn("graft_dot", classOf[DotProduct])(a => DotProduct(a(0), a(1))),
      fn("graft_cosine", classOf[CosineSimilarity])(a =>
        CosineSimilarity(a(0), a(1))),
      fn("graft_topk", classOf[TopKPairs])(a =>
        TopKPairs(a(0), a(1), int(a(2))).toAggregateExpression()),
      fn("graft_topk_rows", classOf[TopKRows])(a =>
        TopKRows(a(0), a(1), a(2), int(a(3)), int(a(4)))
          .toAggregateExpression()),
      fn("graft_simhash", classOf[SimHash])(a => SimHash(a(0))),
      fn("graft_minhash", classOf[MinHashSig])(a =>
        MinHashSig(a(0), int(a(1)))),
      fn("graft_shingles", classOf[ShingleHashes])(a =>
        ShingleHashes(a(0), int(a(1)))),
      fn("graft_minhash_md5", classOf[MinHashMd5])(a =>
        MinHashMd5(a(0), int(a(1)), int(a(2)))),
      fn("graft_simhash_md5", classOf[SimHashMd5])(a => SimHashMd5(a(0))),
      fn("graft_min_shingle_md5", classOf[MinShingleMd5])(a =>
        MinShingleMd5(a(0))),
      fn("graft_quantize_i8", classOf[QuantizeI8])(a => QuantizeI8(a(0))),
      fn("graft_dot_i8", classOf[DotProductI8])(a =>
        DotProductI8(a(0), a(1))),
      fn("graft_zorder", classOf[MortonInterleave])(a =>
        MortonInterleave(a(0), a(1), int(a(2)))),
      fn("graft_freq_sketch", classOf[FreqSketch])(a =>
        FreqSketch(a(0), int(a(1))).toAggregateExpression()),
      fn("graft_countmin", classOf[CountMinSketchAgg])(a =>
        CountMinSketchAgg(a(0), int(a(1)), int(a(2)))
          .toAggregateExpression()),
      fn("graft_vecsum", classOf[VectorSum])(a =>
        VectorSum(a(0)).toAggregateExpression()),
      fn("graft_to_avro", classOf[AvroEncode])(a => AvroEncode(a(0))),
      // the read schema is a DDL string:
      // graft_from_avro(value, 'a INT, b STRING')
      fn("graft_from_avro", classOf[AvroDecode])(a => AvroDecode(a(0),
        org.apache.spark.sql.types.StructType.fromDDL(
          a(1).eval().toString))))
  }

  /** Register [[functions]] on an existing session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      reg.registerFunction(id, info, build)
    }
  }
}
