package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, BoundReference, Cast, Expression, Literal,
  Predicate}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{
  DataSource, FileIndex, HadoopFsRelation, LogicalRelation,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StructField, StructType}

/** A parquet read of an explicit list of directories — the segment
  * files of a segmented index — with a declared schema and, when the
  * directories were written bucketed, their `BucketSpec`, and no
  * session catalog table.
  *
  * Through the public reader API a bucketed read needs a table
  * registered in the session catalog, one per directory. A
  * `HadoopFsRelation` carries the `BucketSpec` itself, and the bucketed
  * scan groups files by the bucket id in their names
  * (`BucketingUtils.getBucketId`), so the files of every directory
  * written with the same bucket count and key are ONE bucketed scan:
  * bucket b of the scan reads bucket b of each directory. Directories
  * of different bucket counts must not share a relation — a file whose
  * bucket id is past the relation's count would be dropped — and
  * neither may a directory written without buckets, whose file names
  * carry no bucket id.
  *
  * Listing is one `listStatus` per directory, taken when the relation
  * is built: no recursive listing, no schema inference, and no
  * `InMemoryFileIndex`, whose construction copies the Hadoop
  * `Configuration`: building a relation over three one-file dirs took
  * about 2 ms of process CPU this way against 7-9 ms through
  * `DataSource.resolveRelation` (`local[4]`, 4 vCPUs), and a shingle
  * probe reads 2-4 relations. Hidden files are skipped by the rule a
  * CDC feed's listing uses ([[CdcFeedSource.hidden]]).
  *
  * The directories may instead be hive `name=value` dirs of one
  * partition column — the cell dirs of an IVF index's segments. The
  * relation then has that one-column partition schema, each dir is one
  * partition whose value its name carries, and a partition filter
  * prunes the dirs before any file is opened.
  */
object ChainRelation {

  /** The rows of the parquet files in `dirs`, read under `schema`,
    * bucketed as `bucketSpec` says when it is set. With `partition`
    * set, every dir is named `<partition.name>=<value>` and its rows
    * carry that value as the partition column.
    */
  def read(spark: SparkSession, dirs: Seq[String], schema: StructType,
           bucketSpec: Option[BucketSpec] = None,
           partition: Option[StructField] = None): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sparkContext.hadoopConfiguration
    val roots = dirs.map(new Path(_))
    def files(p: Path) = p.getFileSystem(conf).listStatus(p).filter(st =>
      st.isFile && !CdcFeedSource.hidden(st.getPath.getName))
    val parts = partition match {
      case None => Seq(PartitionDirectory(InternalRow.empty,
        roots.flatMap(files).toArray))
      case Some(f) =>
        val tz = Some(session.sessionState.conf.sessionLocalTimeZone)
        roots.map { p =>
          val value = p.getName.stripPrefix(s"${f.name}=")
          require(value != p.getName, s"$p is not a ${f.name}= dir")
          PartitionDirectory(
            InternalRow(Cast(Literal(value), f.dataType, tz).eval()),
            files(p))
        }
    }
    val relation = HadoopFsRelation(
      new ChainFileIndex(roots, StructType(partition.toSeq), parts),
      partitionSchema = StructType(partition.toSeq),
      dataSchema = schema.asNullable, bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat(), options = Map.empty)(session)
    classic.Dataset.ofRows(session, LogicalRelation(relation))
  }

  /** The Spark schema a parquet file's footer records, read on the
    * driver: no Spark job.
    */
  def footerSchema(spark: SparkSession, file: Path): StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[classic.SparkSession].sessionState.conf))
  }

  /** Writes `data` as parquet under `path` (which must not exist),
    * bucketed as `bucketSpec` says: each file name carries its bucket
    * id, as a bucketed `saveAsTable` names them, so [[read]] with the
    * same spec reads it bucketed. No catalog table is made.
    */
  def write(data: DataFrame, path: String, bucketSpec: BucketSpec): Unit = {
    val session = data.sparkSession.asInstanceOf[classic.SparkSession]
    val plan = DataSource(session, className = "parquet",
        options = Map("path" -> path), bucketSpec = Some(bucketSpec))
      .planForWriting(SaveMode.ErrorIfExists,
        data.asInstanceOf[classic.Dataset[_]].logicalPlan)
    session.sessionState.executePlan(plan).assertCommandExecuted()
  }
}

/** The listed files of a [[ChainRelation]]: one unpartitioned
  * directory, or one partition per hive dir, pruned by the partition
  * filters as `PartitioningAwareFileIndex` prunes. Equal to another
  * when it has the same root paths, as an `InMemoryFileIndex` is, so
  * two reads of one chain plan as the same relation.
  */
private final class ChainFileIndex(override val rootPaths: Seq[Path],
                                   override val partitionSchema: StructType,
                                   parts: Seq[PartitionDirectory])
    extends FileIndex {

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) parts
    else {
      val keep = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexWhere(
              _.equalsIgnoreCase(a.name))
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      parts.filter(p => keep.eval(p.values))
    }

  override def inputFiles: Array[String] =
    parts.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = parts.map(_.files.map(_.getLen).sum).sum

  override def equals(other: Any): Boolean = other match {
    case c: ChainFileIndex => c.rootPaths == rootPaths
    case _ => false
  }

  override def hashCode(): Int = rootPaths.hashCode()
}
