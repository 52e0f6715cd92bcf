package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Continuous latest-wins state via `flatMapGroupsWithState` — the
  * arbitrary-stateful formulation of A1+A2 (SURVEY.md §2.A A1 "streaming:
  * dropDuplicatesWithinWatermark or flatMapGroupsWithState").
  *
  * [[CdcPipeline]] materializes per micro-batch with `foreachBatch`
  * (state lives in the sink table); this operator instead keeps the
  * latest image per key in Spark's state store and EMITS a row whenever
  * a key's state actually changes — the changelog-of-the-changelog shape
  * a downstream cache/index wants. State per key is one image, bounded;
  * keys partition across executors, so state scales horizontally.
  */
object StatefulLatest {

  /** Flat change record (matches CdcQueries.flatFeed's columns; value
    * and props are Options because delete events carry a null image).
    */
  final case class Change(key: String, event_id: Long, ts_us: Long,
                          value: Option[Double], props: Option[String],
                          op: String)

  /** Current materialized image of one key. */
  final case class KeyState(key: String, event_id: Long, ts_us: Long,
                            value: Option[Double], props: Option[String],
                            op: String, deleted: Boolean)

  private def newer(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 > b._2)

  /** Process one key's new events against its stored state; emit the new
    * state iff it changed. Latest-wins on (ts_us, event_id); a latest op
    * of `d` marks the key deleted (emitted as a tombstone record so
    * consumers can evict).
    */
  def updateKey(key: String, events: Iterator[Change],
                state: GroupState[KeyState]): Iterator[KeyState] = {
    val incoming = events.toSeq
    if (incoming.isEmpty) return Iterator.empty
    val latest = incoming.maxBy(e => (e.ts_us, e.event_id))
    val current = state.getOption
    val accept = current.forall(c =>
      newer((latest.ts_us, latest.event_id), (c.ts_us, c.event_id)))
    if (!accept) Iterator.empty
    else {
      val next = KeyState(key, latest.event_id, latest.ts_us, latest.value,
        latest.props, latest.op, deleted = latest.op == "d")
      state.update(next)
      Iterator.single(next)
    }
  }

  /** Wire the operator over a streaming Dataset of changes. */
  def latestStream(changes: Dataset[Change]): Dataset[KeyState] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(updateKey)
  }

  /** Batch-replay harness: run the stream from a parquet dir of changes
    * to a memory sink, and register its emissions in the CALLER's
    * session as the temp view `queryName`.
    *
    * The query runs on a child session (`newSession()` carrying a copy
    * of the caller's runtime SQL settings, e.g. the state-store
    * provider), so the local-checkpoint file-manager choice it applies
    * (see `QueryPack.streamSession`: the FileContext default forks
    * readlink/chmod processes per checkpoint op on local FS) never
    * touches the caller's conf. The memory sink keeps its rows on the
    * driver anyway; they are re-registered in the caller's session as a
    * local relation.
    */
  def replayToMemory(spark: SparkSession, inDir: String, queryName: String,
                     checkpoint: String): Unit = {
    val s2 = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) s2.conf.set(k, v)
    }
    graft.ops.QueryPack.useLocalCheckpointManager(s2, checkpoint)
    import s2.implicits._
    val schema = implicitly[org.apache.spark.sql.Encoder[Change]].schema
    val src = CdcPipeline.fileSource(s2, inDir, schema).as[Change]
    latestStream(src).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val emitted = s2.table(queryName)
    spark.createDataFrame(
      java.util.Arrays.asList(emitted.collect(): _*), emitted.schema)
      .createOrReplaceTempView(queryName)
  }
}
