package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC materialization kernel — the semantics a consumer of the reference's
  * topics must compute to get a queryable table (what Hudi DeltaStreamer,
  * `/root/reference/README.md:22`, does downstream of the toolkit).
  *
  * SURVEY.md §2.A A1–A4:
  *  - A1 latest image per key:  max (ts, tiebreak) wins
  *  - A2 tombstones:            drop keys whose latest op is `d`
  *  - A3 upsert into base:      anti-join + union
  *  - A4 at-least-once dedup:   exact duplicate delivery collapsed
  *
  * Scale notes: every kernel op shuffles exactly once, on the key — the
  * same hash partitioning Debezium's topic-per-table + keyed-produce layout
  * gives the reference (`bin/mskc-connector.sh:438`). `latest` is a
  * window + `row_number`, which Spark executes as shuffle-on-key then
  * per-partition sort — no global sort, no driver state, arbitrarily many
  * keys. For the streaming path see [[graft.streaming.CdcPipeline]].
  */
object Materialize {

  /** A4 — collapse duplicate deliveries (at-least-once replay, SURVEY T3).
    * Duplicates are identical (key, ts, op) triples.
    */
  def dedupDeliveries(changes: DataFrame,
                      cols: Seq[String] = Seq("key", "ts_us", "op"))
      : DataFrame =
    changes.dropDuplicates(cols)

  /** A1 — keep only the latest change event per key.
    *
    * Order is (ts, tiebreak...) descending; the tiebreak column makes the
    * result total-ordered (the reference gets this for free from
    * single-task per-partition order, `bin/mskc-connector.sh:378`).
    *
    * Shape (r15, guide §2.3 "aggregate before you shuffle"): a `max_by`
    * aggregation, not a window + row_number. The window form shuffled
    * EVERY change row on the key; the aggregate's PARTIAL pass keeps
    * one candidate row per key per map partition, so the exchange
    * carries ~|keys| rows instead of |changes| — the lever that
    * matters at replay depth (a CDC log is many events per key by
    * definition). Physical shape: partial/final SortAggregate (the
    * struct buffer is not hash-aggregable), i.e. the plan trades the
    * window's reduce-side whole-partition sort for a map-side sort
    * plus the shuffle reduction; measured neutral at sf0.1's shallow
    * replay depth, wins with depth. Equivalence: the ordering key is
    * struct(orderCols), lexicographic max ≡ (desc, desc, ...)
    * row_number()=1 under the total-order contract above; struct() is
    * non-null even when its fields are null, so no row is skipped and
    * null order values rank lowest — exactly desc NULLS LAST
    * (MaterializeSpec pins the equivalence, null edges included).
    * The aggregate's column name is chosen to differ from every input
    * column (compared case-insensitively, as Spark resolves names), so
    * any input schema passes through whole.
    *
    * Key columns leave the aggregate as its grouping attributes, so
    * the output stays partitioned and sorted by them: a write
    * partitioned on a key column needs no sort of its own. Keys whose
    * grouping value is not the row's own value take the struct path
    * instead: grouping normalizes floating point (-0.0 → 0.0, one NaN)
    * and collated strings, and only the struct keeps the winning row's
    * bits, as the window form does.
    */
  def latest(changes: DataFrame,
             keyCols: Seq[String],
             orderCols: Seq[Column]): DataFrame = {
    val cols = changes.columns.toSeq
    val taken = cols.map(_.toLowerCase).toSet
    val tmp = Iterator.iterate("__latest")(_ + "_").find(n => !taken(n)).get
    val passed = keyCols.filter(k =>
      cols.contains(k) && groupsByValue(changes.schema(k).dataType)).toSet
    changes
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(cols.filterNot(passed).map(col): _*),
        struct(orderCols: _*)).as(tmp))
      .select(cols.map(c =>
        if (passed(c)) col(c) else col(tmp).getField(c).as(c)): _*)
  }

  /** Types whose grouping value is bit-for-bit the row's value. */
  private def groupsByValue(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType | BinaryType => true
    case _: DecimalType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** A2 — drop keys whose latest event is a delete. Must run AFTER A1. */
  def dropTombstones(latestPerKey: DataFrame, opCol: String = "op")
      : DataFrame =
    latestPerKey.filter(col(opCol) =!= "d")

  /** A1+A2 fused: current state of the table from a change log. */
  def currentState(changes: DataFrame,
                   keyCols: Seq[String],
                   orderCols: Seq[Column],
                   opCol: String = "op"): DataFrame =
    dropTombstones(latest(changes, keyCols, orderCols), opCol)

  /** SCD TYPE-2 HISTORY — the change log as a versioned dimension: one
    * row per non-delete change, valid from its own event time until the
    * key's NEXT change of ANY kind (a later update supersedes it, a
    * delete closes it). The newest version stays open
    * (`valid_to_us` null, `is_current` true) iff the key's last change
    * was not a delete — the delete row itself carries no after-image
    * and is not a version, but its timestamp closes the interval it
    * tombstones, so point-in-time joins (`valid_from ≤ t < valid_to`)
    * see deleted keys vanish at the right instant.
    *
    * `change_seq` numbers ALL changes per key (deletes included), so a
    * version's sequence gap shows where a delete-and-recreate happened.
    *
    * Scale: one key shuffle feeding one per-key window pass computing
    * lead + row_number together — the same partitioning as [[latest]],
    * no extra exchange, no state beyond the sort.
    */
  def scd2(changes: DataFrame,
           keyCols: Seq[String],
           orderCols: Seq[Column],
           opCol: String = "op"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols: _*)
    changes
      .withColumn("valid_from_us", orderCols.head)
      .withColumn("valid_to_us", lead(orderCols.head, 1).over(w))
      .withColumn("change_seq", row_number().over(w))
      // null-safe: an op of NULL (drifted payload) is not a delete
      .filter(!(col(opCol) <=> "d"))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** A3 — apply a materialized batch of changes to a base table.
    *
    * `changes` must already be reduced to one row per key (A1, op kept).
    * Semantics of MERGE: delete keys whose change op is `d`, replace keys
    * present in changes, keep untouched base rows. Implemented as
    * left-anti join (base minus changed keys) + union of surviving change
    * images — two narrow ops over one key-shuffle; with AQE the anti join
    * broadcasts when the change batch is small, which is the common CDC
    * case (micro-batch ≪ base).
    */
  def upsert(base: DataFrame,
             latestChanges: DataFrame,
             keyCols: Seq[String],
             opCol: String = "op"): DataFrame = {
    // usingColumns join: immune to the self-lineage trap where
    // base(k) === changes(k) resolves both sides to the same attribute.
    val untouched =
      base.join(latestChanges.select(keyCols.map(col): _*), keyCols, "left_anti")
    val upserted = dropTombstones(latestChanges, opCol)
      .select(base.columns.map(col): _*)
    untouched.unionByName(upserted)
  }
}
