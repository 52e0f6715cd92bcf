package org.apache.spark.sql.graft

import java.io.FileNotFoundException
import java.util.Optional

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic
import org.apache.spark.sql.connector.read.streaming.{
  Offset => StreamOffset, ReadLimit, ReadMaxFiles, ReportsSourceMetrics,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{
  FileStreamOptions, FileStreamSourceLog, FileStreamSourceOffset}
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSource.{
  FileEntry, SeenFilesMap}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

/** The CDC change feed's streaming source: a landing dir of parquet
  * files, picked up as they arrive.
  *
  * It keeps Spark's file-source FORMAT and semantics, so a checkpoint
  * written by either source resumes under the other:
  *  - the `FileStreamSourceLog` under the source's metadata path and
  *    `FileStreamSourceOffset` in the query's offset log;
  *  - the new-file rule of `FileStreamSource.SeenFilesMap`, with the
  *    default `maxFileAge`;
  *  - hidden files (`_…`, `.…`, `…._COPYING_`) skipped;
  *  - modification-time order (ties by name);
  *  - `maxFilesPerTrigger` admission control and `Trigger.AvailableNow`
  *    (the files present when the query starts, nothing later);
  *  - each batch read as an explicit-schema parquet relation over the
  *    batch's files.
  *
  * What it drops is the per-poll cost of Spark's source: every poll
  * there builds an `InMemoryFileIndex` — two Hadoop `Configuration`
  * copies and a `JobConf` that scans every jar on the classpath —
  * which, at the 10 ms polling delay, kept an idle stream busy. Here a
  * poll is ONE `listStatus` of the landing dir. The price is the
  * generality CDC feeds do not use: no globs, no partition
  * subdirectories, no file-sink (`_spark_metadata`) inputs, and no
  * option but `maxFilesPerTrigger` — each refused with an
  * [[CdcFeedSource.UnsupportedFeedException]].
  *
  * Telemetry ([[ReportsSourceMetrics]]): every progress event carries
  * `polls`, `listings`, `filesListed` and `newFiles` counted since the
  * previous progress event, so idle polling shows up beside the batch
  * that ends it.
  */
class CdcFeedSource(spark: classic.SparkSession, dir: String,
                    override val schema: StructType, metadataPath: String,
                    maxFilesPerTrigger: Option[Int], maxFileAgeMs: Long)
    extends Source with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
  private val root = fs.makeQualified(new Path(dir))
  private val log =
    new FileStreamSourceLog(FileStreamSourceLog.VERSION, spark, metadataPath)
  private var logOffset = log.getLatest().map(_._1).getOrElse(-1L)
  private val seen = new SeenFilesMap(maxFileAgeMs, false)
  log.restore().foreach(e => seen.add(e.sparkPath, e.timestamp))
  seen.purge()
  // the listing taken when an AvailableNow query starts: its batches
  // draw only on it, never on files that land later
  private var availableNow: Option[Seq[FileStatus]] = None

  private var polls, listings, filesListed, newFiles = 0L
  private var batchRan = false

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.fold(ReadLimit.allAvailable())(ReadLimit.maxFiles)

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    availableNow = Some(list())
  }

  override def latestOffset(start: StreamOffset,
                            limit: ReadLimit): StreamOffset = synchronized {
    polls += 1
    val fresh = availableNow.getOrElse(list()).filter(f =>
      seen.isNewFile(SparkPath.fromFileStatus(f), f.getModificationTime))
    val taken = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles)
      case _ => fresh
    }
    newFiles += taken.size
    taken.foreach(f =>
      seen.add(SparkPath.fromFileStatus(f), f.getModificationTime))
    seen.purge()
    if (taken.nonEmpty) {
      logOffset += 1
      val entries = taken.map(f => FileEntry(
        SparkPath.fromFileStatus(f).urlEncoded, f.getModificationTime,
        logOffset)).toArray
      if (!log.add(logOffset, entries))
        throw new IllegalStateException("Concurrent update to the log. " +
          s"Multiple streaming jobs detected for $logOffset")
    }
    if (logOffset < 0) null else FileStreamSourceOffset(logOffset)
  }

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) must be called instead of getOffset")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    synchronized { batchRan = true }
    val from = start.map(FileStreamSourceOffset(_).logOffset).getOrElse(-1L)
    val to = FileStreamSourceOffset(end).logOffset
    assert(from <= to, s"batch start $from is after its end $to")
    val files = log.get(Some(from + 1), Some(to)).flatMap(_._2)
      .map(_.sparkPath.toPath.toString).toSeq
    val relation = DataSource(spark, className = "parquet", paths = files,
      userSpecifiedSchema = Some(schema))
      .resolveRelation(checkFilesExist = false)
    classic.Dataset.ofRows(spark, LogicalRelation(relation, isStreaming = true))
  }

  override def commit(end: Offset): Unit = synchronized { batchRan = true }

  /** Counts since the previous progress event. A trigger that ran a
    * batch always posts one (and its batch called `getBatch` or, for a
    * no-data batch, `commit`); an idle trigger posts one only every
    * `noDataProgressEventInterval`, so idle counts accumulate until a
    * batch runs.
    */
  override def metrics(latestConsumedOffset: Optional[StreamOffset])
      : java.util.Map[String, String] = synchronized {
    val m = Map("polls" -> polls, "listings" -> listings,
      "filesListed" -> filesListed, "newFiles" -> newFiles)
    if (batchRan) {
      polls = 0; listings = 0; filesListed = 0; newFiles = 0
      batchRan = false
    }
    m.map { case (k, v) => k -> v.toString }.asJava
  }

  override def stop(): Unit = ()

  override def toString: String = s"CdcFeedSource[$root]"

  /** Visible data files in modification-time order: one `listStatus`. */
  private def list(): Seq[FileStatus] = {
    listings += 1
    val all =
      try fs.listStatus(root)
      catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    filesListed += all.length
    val visible = all.filterNot(s => CdcFeedSource.hidden(s.getPath.getName))
    all.find(s => s.isDirectory && s.getPath.getName == "_spark_metadata")
      .orElse(visible.find(_.isDirectory)).foreach { d =>
        throw new CdcFeedSource.UnsupportedFeedException(
          s"$root holds the directory ${d.getPath.getName}: a CDC feed is " +
            "a flat dir of parquet files (no partition dirs, no file-sink " +
            "output)")
      }
    visible.toSeq.sortBy(s => (s.getModificationTime, s.getPath.getName))
  }
}

object CdcFeedSource {

  /** A feed this source does not read the way Spark's file source
    * would: an unsupported option, or a landing dir that is not a flat
    * dir of files. Raised before any data is read.
    */
  final class UnsupportedFeedException(msg: String)
      extends IllegalArgumentException(msg)

  /** The one option besides the path. */
  private val MaxFilesPerTrigger = "maxFilesPerTrigger"

  /** Spark's hidden-path rule for streamed and listed files. */
  private[graft] def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The parsed options: Spark's own parser, so values are validated
    * and defaulted exactly as for its file source.
    */
  private[graft] def options(parameters: Map[String, String])
      : FileStreamOptions = {
    // DataSource hands the options over case-insensitively; name them
    // as the caller spelled them
    val keys = parameters match {
      case m: CaseInsensitiveMap[String @unchecked] => m.originalMap.keys
      case m => m.keys
    }
    val unsupported = keys.filterNot(k =>
      k.equalsIgnoreCase("path") || k.equalsIgnoreCase(MaxFilesPerTrigger))
    if (unsupported.nonEmpty)
      throw new UnsupportedFeedException(
        s"unsupported CDC feed option(s) ${unsupported.toSeq.sorted
          .mkString(", ")}: only $MaxFilesPerTrigger is accepted")
    new FileStreamOptions(parameters)
  }
}

/** Registers [[CdcFeedSource]] with `DataStreamReader.format`. */
class CdcFeedSourceProvider extends StreamSourceProvider {

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    CdcFeedSource.options(parameters)
    val s = schema.getOrElse(throw new CdcFeedSource.UnsupportedFeedException(
      "a CDC feed needs an explicit schema"))
    val path = parameters.getOrElse("path",
      throw new CdcFeedSource.UnsupportedFeedException(
        "a CDC feed needs a landing dir"))
    val p = new Path(path)
    if (!p.getFileSystem(sqlContext.sparkContext.hadoopConfiguration).exists(p))
      throw QueryCompilationErrors.dataPathNotExistError(path)
    (providerName, s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val opts = CdcFeedSource.options(parameters)
    new CdcFeedSource(sqlContext.sparkSession.asInstanceOf[classic.SparkSession],
      parameters("path"), schema.get, metadataPath,
      opts.maxFilesPerTrigger, opts.maxFileAgeMs)
  }
}
