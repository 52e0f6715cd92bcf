package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based corpus filtering — the distillation pattern modern
  * training-data pipelines run (the construction behind DCLM and
  * FineWeb-Edu quality classifiers: a small curated SEED SET defines
  * "keep", a cheap linear model learns the boundary in embedding
  * space, and the model — not the expensive curation — is applied to
  * the full corpus). Re-expressed the way this repo builds every
  * trained artifact (cf. `Similarity.trainCentroids`):
  *
  *  - TRAIN driver-side on a bounded deterministic sample
  *    (`xxhash64(id) mod 10⁶` selection, sorted by id — no RNG, no
  *    global sort, collected bytes independent of corpus scale).
  *    Full-batch class-weighted logistic GD with fixed geometry
  *    (iterations, step, weighting all deterministic functions of the
  *    sample), so the learned weights are a pure function of the
  *    corpus — reproducible anywhere, and renderable into an oracle.
  *  - APPLY distributed as ONE codegen'd dot product against the
  *    broadcast weight literal: per-row cost O(dim), zero shuffle,
  *    never a model server in the scan path. At 100 TB the filter is
  *    scan-bound — exactly why these pipelines use linear heads.
  *
  * Class weighting (positives weighted n_neg/n_pos) is what makes a
  * rare seed set learnable at all — unweighted logistic on a 10%
  * positive rate collapses to the majority class (measured on the
  * testdata corpus: 0 kept after 200 iterations; weighted: recall
  * 0.78 at 2.3× the base-rate precision).
  */
object LinearClassifier {

  /** The bounded-sample selection arithmetic: rows with
    * `pmod(xxhash64(id), mod) < num` form the training sample.
    * A fixed 10⁶ modulus floors num at 1 once n > sampleN·10⁶
    * (~8×10⁹ rows) and the expected sample would then grow as n/10⁶ —
    * breaking the bounded-collect contract exactly at the corpus
    * sizes it exists for. Widen the modulus to 10¹² in that regime
    * (bound holds to ~8×10¹⁵ rows); below it the historical 10⁶
    * selection is kept bit-identical.
    */
  private[ml] def sampleSelection(n: Long, sampleN: Int): (Long, Long) = {
    // overflow guard (ADVICE r9): `sampleN * mod` with mod = 10¹²
    // would overflow Long past sampleN ≈ 9.2×10⁶ — and a driver-side
    // collect that large has no legitimate caller anyway (the whole
    // contract is a BOUNDED sample). Fail loudly instead of silently
    // selecting a garbage fraction.
    require(sampleN >= 1 && sampleN <= (1 << 23),
      s"sampleN must be in [1, ${1 << 23}] (driver-collected sample); " +
        s"got $sampleN")
    val mod = if (n <= sampleN.toLong * 1000000L) 1000000L
              else 1000000000000L
    (mod, math.min(mod, math.max(1L, sampleN.toLong * mod / n)))
  }

  /** Train on `(idCol: long, featCol: array<double>, yCol: 0/1)`.
    * Returns (weights, bias) — z = w·x + b, keep on z ≥ 0.
    */
  def train(data: DataFrame, sampleN: Int = 8192, iters: Int = 500,
            lr: Double = 0.5, idCol: String = "id",
            featCol: String = "features", yCol: String = "y")
      : (Array[Double], Double) = {
    val n = math.max(1L, data.count())
    val (mod, num) = sampleSelection(n, sampleN)
    val rows = data
      .filter(pmod(xxhash64(col(idCol)), lit(mod)) < num)
      .select(col(idCol), col(featCol), col(yCol).cast("int"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray,
        r.getInt(2)))
      .sortBy(_._1)
    require(rows.nonEmpty, "classifier training sample is empty")
    val dim = rows.head._2.length
    val nPos = rows.count(_._3 == 1)
    require(nPos > 0 && nPos < rows.length,
      s"training sample needs both classes (got $nPos/${rows.length})")
    val wPos = (rows.length - nPos).toDouble / nPos
    val swSum = nPos * wPos + (rows.length - nPos)
    val w = new Array[Double](dim)
    var b = 0.0
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](dim)
      var gb = 0.0
      rows.foreach { case (_, x, y) =>
        var z = b
        var j = 0
        while (j < dim) { z += w(j) * x(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        val g = (p - y) * (if (y == 1) wPos else 1.0)
        j = 0
        while (j < dim) { gw(j) += g * x(j); j += 1 }
        gb += g
      }
      var j = 0
      while (j < dim) { w(j) -= lr * gw(j) / swSum; j += 1 }
      b -= lr * gb / swSum
      it += 1
    }
    (w, b)
  }

  /** The decision score z = w·x + b as a codegen'd Column over the
    * rendered weight literal — the whole "model" the scan carries.
    */
  def score(features: Column, w: Array[Double], b: Double): Column =
    org.apache.spark.sql.graft.Native
      .dot(features, typedlit(w.toSeq)) + lit(b)
}
