package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Input generators. Every value is a pure function of (seed, row id,
  * salt) through Spark's `xxhash64`, so the same seed gives the same
  * inputs whatever the partitioning, and nothing here calls the code
  * under test. The Avro wire is encoded with the Apache Avro library.
  */
object Gen {

  /** 2024-01-01T00:00:00Z in epoch µs: the snapshot's event time. */
  val BaseUs: Long = 1704067200000000L
  /** Incremental events start one hour after the snapshot. */
  val IncrUs: Long = BaseUs + 3600L * 1000000L

  private val Mask53 = 1L << 53

  /** Uniform double in [0, 1) from (seed, id, salt). */
  def u(seed: Long, id: Column, salt: Int): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(Mask53)).cast("double") /
      lit(Mask53.toDouble)

  /** Uniform long in [0, n) from (seed, id, salt). */
  def uLong(seed: Long, id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(n))

  private def payload(seed: Long, id: Column, live: Column): Seq[Column] =
    Seq(
      when(live, uLong(seed, id, 11, 1000000L)).as("amount"),
      when(live, u(seed, id, 12)).as("score"),
      when(live, concat(lit("n"), hex(xxhash64(lit(seed), id, lit(13)))))
        .as("name"))

  /** The flat CDC row shape the store is seeded with and merged from. */
  val flatSchema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("ts", TimestampType),
    StructField("ts_us", LongType), StructField("event_id", LongType),
    StructField("op", StringType), StructField("amount", LongType),
    StructField("score", DoubleType), StructField("name", StringType)))

  /** A `keys`-row snapshot (op `r`), one row per key. */
  def snapshot(spark: SparkSession, seed: Long, keys: Long): DataFrame =
    spark.range(0, keys, 1, 8).select(
      (Seq(col("id").as("key"), timestamp_micros(lit(BaseUs)).as("ts"),
        lit(BaseUs).as("ts_us"), col("id").as("event_id"), lit("r").as("op"))
        ++ payload(seed, col("id") + lit(1L << 40), lit(true))): _*)

  /** Incremental change events in `groups` groups (a group is one file
    * of the trickle) of `perGroup` events:
    * uniform keys over `keys`, `delFrac` deletes, event time advancing
    * `groupUs` per group with up to `jitterUs` of jitter (so arrival is
    * slightly out of event-time order), plus `dupFrac` exact
    * redeliveries placed one to three groups later. Column `g` is the
    * group.
    */
  def events(spark: SparkSession, seed: Long, keys: Long, groups: Int,
             perGroup: Int, groupUs: Long, jitterUs: Long, delFrac: Double,
             dupFrac: Double): DataFrame = {
    val n = groups.toLong * perGroup
    val id = col("id")
    val isDel = u(seed, id, 2) < delFrac
    val base = spark.range(0, n, 1, 8).select(
      (Seq((id / perGroup).cast("int").as("g"),
        uLong(seed, id, 1, keys).as("key"))
        ++ Seq((lit(IncrUs) + (id / perGroup).cast("long") * groupUs +
          uLong(seed, id, 3, jitterUs)).as("ts_us"),
          (lit(1L << 32) + id).as("event_id"),
          when(isDel, "d").otherwise("u").as("op"))
        ++ payload(seed, id, !isDel) :+ id): _*)
    val dups = base.filter(u(seed, id, 4) < dupFrac)
      .withColumn("g", col("g") + lit(1) + uLong(seed, id, 5, 3).cast("int"))
      .filter(col("g") < groups)
    base.unionByName(dups).drop("id")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .select((col("g") +: flatSchema.fieldNames.toSeq.map(col)): _*)
  }

  // ---- binary-Avro wire (CDC kernel calls) ----------------------------

  /** Row schemas of the three producer versions: v2 adds a nullable
    * column (compatible), v3 adds a NOT NULL one (incompatible).
    */
  val rowV1: StructType = StructType(Seq(
    StructField("name", StringType), StructField("amount", LongType),
    StructField("status", StringType)))
  val rowV2: StructType = rowV1.add(StructField("note", StringType))
  val rowV3: StructType = rowV2.add(
    StructField("priority", LongType, nullable = false))
  def rowSchema(v: Int): StructType = v match {
    case 1 => rowV1
    case 2 => rowV2
    case _ => rowV3
  }

  /** Debezium envelope as an Avro schema, every field union(null, T). */
  def avroEnvelope(row: StructType): org.apache.avro.Schema = {
    import org.apache.avro.Schema
    def opt(s: Schema): Schema =
      Schema.createUnion(Schema.create(Schema.Type.NULL), s)
    def prim(dt: DataType): Schema = dt match {
      case StringType => Schema.create(Schema.Type.STRING)
      case LongType => Schema.create(Schema.Type.LONG)
      case other => sys.error(s"no Avro mapping for $other")
    }
    def rec(name: String, fs: Seq[(String, Schema)]): Schema =
      Schema.createRecord(name, null, "perfbench", false,
        java.util.Arrays.asList(fs.map { case (n, s) =>
          new Schema.Field(n, opt(s), null, null)
        }: _*))
    val rowFields = row.fields.toSeq.map(f => f.name -> prim(f.dataType))
    rec("Envelope", Seq(
      "before" -> rec("Before", rowFields),
      "after" -> rec("After", rowFields),
      "source" -> rec("Source", Seq(
        "db" -> Schema.create(Schema.Type.STRING),
        "table" -> Schema.create(Schema.Type.STRING),
        "server_id" -> Schema.create(Schema.Type.LONG),
        "ts_us" -> Schema.create(Schema.Type.LONG))),
      "op" -> Schema.create(Schema.Type.STRING),
      "ts_us" -> Schema.create(Schema.Type.LONG)))
  }

  /** Wire change log: `batches` × `perBatch` events over `keys` keys
    * with power-law skew (key = ⌊keys·u³⌋), `delFrac` deletes and
    * `dupFrac` redeliveries into the same or the next batch. Batch 0 is
    * all v1; later batches are v2, and batch 1 also carries `badRows`
    * rows of the incompatible v3. Columns: b, key, event_id, ts_us, op,
    * schema_version, name, amount, status, note, priority.
    */
  def wireLog(spark: SparkSession, seed: Long, keys: Long, batches: Int,
              perBatch: Int, delFrac: Double, dupFrac: Double,
              badRows: Int): DataFrame = {
    val n = batches.toLong * perBatch
    val id = col("id")
    val b = (id / perBatch).cast("int")
    val isDel = u(seed, id, 22) < delFrac
    val version =
      when(b === 0, 1)
        .when(b === 1 && (id % perBatch) < badRows, 3)
        .otherwise(2)
    val base = spark.range(0, n, 1, 8).select(
      b.as("b"),
      concat(lit("k"), floor(pow(u(seed, id, 21), 3) * keys).cast("long")
        .cast("string")).as("key"),
      (lit(1L << 33) + id).as("event_id"),
      (lit(IncrUs) + id * 7L + uLong(seed, id, 23, 5000000L)).as("ts_us"),
      when(isDel, "d").otherwise("u").as("op"),
      version.as("schema_version"),
      concat(lit("n"), hex(xxhash64(lit(seed), id, lit(24)))).as("name"),
      uLong(seed, id, 25, 1000000L).as("amount"),
      element_at(array(lit("new"), lit("paid"), lit("shipped"), lit("closed")),
        (uLong(seed, id, 26, 4L) + 1).cast("int")).as("status"),
      when(version >= 2, concat(lit("note"), uLong(seed, id, 27, 1000L)
        .cast("string"))).as("note"),
      when(version === 3, uLong(seed, id, 28, 5L)).as("priority"),
      id)
    val dups = base.filter(u(seed, id, 29) < dupFrac)
      .withColumn("b", col("b") + uLong(seed, id, 30, 2L).cast("int"))
      .filter(col("b") < batches)
    base.unionByName(dups).drop("id")
  }

  /** Encode a wire log into the keyed wire record (b, key, value,
    * topic, event_id, schema_version, schema_json) with the Apache Avro
    * library's GenericDatumWriter, one writer schema per version.
    */
  def encodeWire(log: DataFrame): DataFrame = {
    val spark = log.sparkSession
    val jsons = (1 to 3).map(v => v -> rowSchema(v).json).toMap
    val outSchema = StructType(Seq(
      StructField("b", IntegerType), StructField("key", StringType), StructField("value", BinaryType),
      StructField("topic", StringType), StructField("event_id", LongType),
      StructField("schema_version", IntegerType),
      StructField("schema_json", StringType)))
    val cols = Seq("key", "event_id", "ts_us", "op", "schema_version",
      "name", "amount", "status", "note", "priority", "b")
    val rdd = log.select(cols.map(col): _*).rdd.mapPartitions { rows =>
      import org.apache.avro.generic.{GenericData, GenericDatumWriter}
      val envs = (1 to 3).map(v => v -> avroEnvelope(rowSchema(v))).toMap
      val writers = envs.map { case (v, s) =>
        v -> new GenericDatumWriter[GenericData.Record](s) }
      val out = new java.io.ByteArrayOutputStream()
      var enc: org.apache.avro.io.BinaryEncoder = null
      rows.map { r =>
        val v = r.getInt(4)
        val env = envs(v)
        def image(field: String): GenericData.Record = {
          val rs = env.getField(field).schema().getTypes.get(1)
          val img = new GenericData.Record(rs)
          img.put("name", r.getString(5))
          img.put("amount", r.getLong(6))
          img.put("status", r.getString(7))
          if (v >= 2) img.put("note", r.getString(8))
          if (v == 3) img.put("priority", r.getLong(9))
          img
        }
        val rec = new GenericData.Record(env)
        val tsUs = r.getLong(2)
        val op = r.getString(3)
        if (op == "d") rec.put("before", image("before"))
        else rec.put("after", image("after"))
        val src = new GenericData.Record(
          env.getField("source").schema().getTypes.get(1))
        src.put("db", "shop"); src.put("table", "orders")
        src.put("server_id", 1L); src.put("ts_us", tsUs)
        rec.put("source", src)
        rec.put("op", op)
        rec.put("ts_us", tsUs)
        out.reset()
        enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, enc)
        writers(v).write(rec, enc)
        enc.flush()
        Row(r.getInt(10), r.getString(0), out.toByteArray, "shop.orders", r.getLong(1), v,
          jsons(v))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // ---- documents (index_stream) -----------------------------------------

  /** Documents `firstId until firstId + n`, each `len` tokens over a
    * `vocab`-word vocabulary. Where `isDup` holds, the document is a
    * near-duplicate: an ORIGINAL (an id ≡ 0..3 mod 5, never itself a
    * duplicate) below `srcBound` with one token replaced by a token no
    * other document has.
    */
  def docs(spark: SparkSession, seed: Long, firstId: Long, n: Long,
           len: Int, vocab: Int, isDup: Column => Column,
           srcBound: Column => Column): DataFrame = {
    val id = col("id")
    val dup = isDup(id)
    val src = lit(5L) * floor(u(seed, id, 42) * floor(srcBound(id) / 5))
      .cast("long") + uLong(seed, id, 43, 4L)
    val pos = uLong(seed, id, 44, len.toLong).cast("int")
    def tok(docId: Column, i: Column): Column =
      concat(lit("w"), pmod(xxhash64(lit(seed), docId, i, lit(45)),
        lit(vocab.toLong)).cast("string"))
    val fresh = concat(lit("x"), id.cast("string"))
    val toks = transform(sequence(lit(0), lit(len - 1)), i =>
      when(dup && i === pos, fresh)
        .when(dup, tok(src, i))
        .otherwise(tok(id, i)))
    spark.range(firstId, firstId + n, 1, 4)
      .select(id.as("doc_id"), array_join(toks, " ").as("text"))
  }

  /** Corpus and appended documents: every fifth id is a near-duplicate
    * of an earlier original (20 %).
    */
  def corpusDocs(spark: SparkSession, seed: Long, firstId: Long, n: Long,
                 len: Int, vocab: Int): DataFrame =
    docs(spark, seed, firstId, n, len, vocab,
      id => id % 5 === 4, id => id)

  /** The probe set: ids from 2^40, even ones near-duplicates of an
    * original among the first `corpus` documents, odd ones fresh.
    */
  def probeDocs(spark: SparkSession, seed: Long, n: Long, corpus: Long,
                len: Int, vocab: Int): DataFrame =
    docs(spark, seed, 1L << 40, n, len, vocab,
      id => id % 2 === 0, _ => lit(corpus))

  // ---- input hash ---------------------------------------------------------

  /** Content hash of a generated frame: row count and the sum of a
    * per-row xxhash64 over every column, order-independent.
    */
  def frameHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(df.columns.toSeq
      .map(col): _*).cast("decimal(38,0)")), lit(0))).head()
    (r.getLong(0), r.getDecimal(1).longValue())
  }

  /** SHA-256 over named (count, sum) frame hashes. */
  def combine(parts: Seq[(String, (Long, Long))]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { case (name, (n, s)) =>
      md.update(s"$name:$n:$s;".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}
