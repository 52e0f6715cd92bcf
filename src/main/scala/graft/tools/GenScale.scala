package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: produces an sfN directory by
  * replicating an existing sf dir `rep` times with key offsets —
  * the measured-scaling data point the 100 TB story needs (VERDICT r3
  * item 1: "every scale claim rests on plan shape alone; one real
  * scaling point validates or breaks the design").
  *
  * Design rules (so 10x data means 10x WORK, not a different problem):
  *  - fixed dimensions (`region`, `nation`) stay fixed — TPC-H semantics;
  *  - every other table gets `rep` key-shifted replicas: replica i
  *    shifts each key column by i * (domain offset), where the offset
  *    of a key DOMAIN (custkey, orderkey, partkey, suppkey) is
  *    max(parent PK)+1 taken from the table that owns the key and
  *    shared by every referencing FK column — so FK integrity holds
  *    within a replica even when the FK's own max < the PK's max
  *    (orderless customers, unordered parts);
  *  - `events` keeps its timestamps: scale-up means DENSER streams and
  *    MORE keys (user_id shifts), not a longer history — the windowed /
  *    cutoff-split CDC queries see the same windows with 10x state;
  *  - `documents` text is perturbed per replica (every 3rd word, offset
  *    by replica, replaced with a replica-keyed token): within-replica
  *    duplicate structure is preserved exactly, cross-replica shingle
  *    Jaccard collapses (a 5-shingle survives two replicas only if all
  *    5 words survive both ≈ (4/9)^5 < 2%), so dup density per row is
  *    CONSTANT and dedup output scales linearly — replicating text
  *    verbatim would instead make every doc a 10-way duplicate and
  *    grow pair counts quadratically;
  *  - `embeddings` get a replica-keyed deterministic sign-flip mask
  *    (norms and within-replica cosines exactly preserved, cross-replica
  *    cosines decorrelate to ~0) — same argument for ANN/near-dup;
  *  - each replica is written as its own file in source row order, so
  *    sfN has rep files per table where sf0.1 has one — parquet
  *    row-group clustering and min/max stats scale faithfully instead
  *    of being shuffled away by a repartition.
  *
  * ALWAYS generate from the BASE testdata dir, never chain replicas:
  * the perturbation keys (`hash(word, i)`, `hash(idx, i)`) are keyed
  * by the replica index of ONE generation, so chaining sf1→sf10 makes
  * copy (j,0) and copy (0,j) of a source row byte-identical (gen-2
  * replica j applies the same function to unperturbed gen-1 replica 0
  * that gen-1 replica j applied to the source) — measured: 181k
  * cross-replica exact-dup pairs where linearity demands 800. Direct
  * rep=100 from sf0.1 keeps every invariant (check_scale green).
  *
  * Usage: runMain graft.tools.GenScale <srcSfDir> <outDir> [rep=10] [tables]
  * `tables` is an optional comma-separated subset (e.g.
  * `documents,embeddings` for the sf10 standing-artifact probes —
  * no point replicating 60M lineitem rows to scale a text index).
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("localdata/sf1")
    val rep = args.lift(2).map(_.toInt).getOrElse(10)
    val only = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = graft.LocalSession.builder()
      // Legacy-encoding support: pre-r6 testdata carried TIMESTAMP(NANOS),
      // which Spark 4 rejects unless read as a raw nano-long (same conf
      // Tables.events sets; a no-op for the current timestamp[us] files).
      // Either way `ts` is not a shifted key column, so the replica
      // round-trips the source encoding verbatim and Tables.eventsWindow's
      // encoding sniff handles the output identically to the input.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    generate(spark, src, out, rep, only)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String,
      rep: Int, only: Option[Set[String]] = None): Unit = {
    def read(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")

    // One shared offset per KEY DOMAIN, derived from the table that
    // OWNS the key (ADVICE r4: shifting an FK column by its own max+1
    // only preserves referential integrity when max(FK) == max(PK);
    // with orderless customers a replica's o_custkey would resolve to
    // the wrong replica's customer or dangle). custkey/orderkey/
    // partkey/suppkey offsets come from customer/orders/part/supplier
    // and are reused verbatim by every referencing column.
    def domainOffset(t: String, pk: String): Long = {
      val row = read(t).agg(max(col(pk))).collect()(0)
      require(!row.isNullAt(0), s"empty key domain $t.$pk")
      row.getLong(0) + 1L
    }
    // lazy: a table-subset run (e.g. documents,embeddings) must not
    // pay or require the relational key domains at all
    lazy val custOff  = domainOffset("customer", "c_custkey")
    lazy val suppOff  = domainOffset("supplier", "s_suppkey")
    lazy val partOff  = domainOffset("part", "p_partkey")
    lazy val orderOff = domainOffset("orders", "o_orderkey")
    def want(t: String): Boolean = only.forall(_.contains(t))

    // replica i of a table: shift each key column by i * its DOMAIN
    // offset (explicit per-column map; self-contained keys like
    // doc_id/vec_id/event_id/user_id use their own table's max+1 —
    // nothing outside the table references them)
    def replicate(t: String, df: DataFrame,
        domainOffsets: Map[String, Long], selfKeys: Seq[String] = Nil)
        (mutate: (DataFrame, Int) => DataFrame): Unit = {
      val selfOffsets: Map[String, Long] = selfKeys.map { k =>
        val row = df.agg(max(col(k))).collect()(0)
        require(!row.isNullAt(0), s"empty key column $t.$k")
        k -> (row.getLong(0) + 1L)
      }.toMap
      val offsets = domainOffsets ++ selfOffsets
      val dst = s"$out/$t.parquet"
      (0 until rep).foreach { i =>
        val shifted = offsets.foldLeft(df) { case (d, (k, off)) =>
          d.withColumn(k, col(k) + lit(i * off))
        }
        // one file per replica, source row order intact (see scaladoc)
        mutate(shifted, i).coalesce(1).write
          .mode(if (i == 0) "overwrite" else "append").parquet(dst)
      }
      println(s"[genscale] $t x$rep -> $dst")
    }
    def copy(t: String): Unit = {
      read(t).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      println(s"[genscale] $t (fixed dim) -> $out/$t.parquet")
    }
    val keep = (d: DataFrame, _: Int) => d

    if (want("region")) copy("region")
    if (want("nation")) copy("nation")
    if (want("customer")) replicate("customer", read("customer"),
      Map("c_custkey" -> custOff))(keep)
    if (want("supplier")) replicate("supplier", read("supplier"),
      Map("s_suppkey" -> suppOff))(keep)
    if (want("part")) replicate("part", read("part"),
      Map("p_partkey" -> partOff))(keep)
    if (want("orders")) replicate("orders", read("orders"),
      Map("o_orderkey" -> orderOff, "o_custkey" -> custOff))(keep)
    if (want("lineitem")) replicate("lineitem", read("lineitem"),
      Map("l_orderkey" -> orderOff, "l_partkey" -> partOff,
        "l_suppkey" -> suppOff))(keep)
    if (want("events")) replicate("events", read("events"), Map.empty,
      selfKeys = Seq("event_id", "user_id"))(keep)

    if (want("documents")) replicate("documents", read("documents"),
        Map.empty, selfKeys = Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else {
        // every 3rd word (phase-shifted by replica) becomes a
        // replica-keyed token; hash() is Murmur3 — deterministic and
        // codegen'd. n_chars stays = length(text) (source invariant).
        val words = split(col("text"), " ")
        val mutated = array_join(
          transform(words, (w, idx) =>
            when(pmod(idx + lit(i), lit(3)) === 0,
              format_string("w%08x", hash(w, lit(i)))).otherwise(w)),
          " ")
        // cast to the source's int64 — length() is int, and a type
        // mismatch across part files in one directory fails the read
        d.withColumn("text", mutated)
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }

    if (want("embeddings")) replicate("embeddings", read("embeddings"),
        Map.empty, selfKeys = Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), (x, idx) =>
          when(pmod(hash(idx, lit(i)), lit(2)) === 0, x)
            .otherwise(-x)))
    }
  }
}
