package graft.sources

import graft.streaming.Ev
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Kafka wiring for the engine's event streams — the reference's S2
  * consumer / K1 producer surface (reference:
  * utils/kafka/KafkaTopic.scala:52-78, utils/FlinkUtils.scala:190-272)
  * re-expressed on Spark's Kafka connector.
  *
  * The connector (`spark-sql-kafka-0-10`) binds at RUNTIME via
  * `format("kafka")`, so this module compiles and ships without it; a
  * deployment adds the connector jar (`--packages
  * org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>`). The one
  * wire format is the reference's: a raw binary Avro datum per record,
  * dates as epoch millis (utils/avro/AvroUtils.scala:36-55,
  * Avro4sSerializationSchema.scala:30-47), encoded and decoded by the
  * avro core library that ships with Spark. Everything below the `load()`
  * — the codec columns and the key layout — is plain Catalyst and is
  * unit-tested without a broker (KafkaCodecSpec).
  *
  * Reference semantics preserved:
  *  - earliest start + `read_committed` isolation
  *    (utils/FlinkUtils.scala:264-272);
  *  - per-key partition ordering on write: key = the entity id, Kafka's
  *    default partitioner hashes it, so one post's updates stay ordered
  *    within a partition (utils/kafka/HashPartitioner.scala:11-20 /
  *    application.conf:236-240) — and the downstream keyed upsert sink is
  *    order-independent anyway (monotonic-version MERGE, W11).
  */
object KafkaIO {

  // ──────────────────────────── Avro wire codec ───────────────────────────
  // AvroUtils registers DateTime <-> timestamp-millis; Avro4s writes the
  // raw binary datum with no container header. The codec below is a UDF
  // kernel over the avro core library, always on Spark's classpath.

  /** Avro schema of one wire event — `ts_ms` carries the reference's
    * timestamp-millis logical type (epoch millis on the wire). */
  val avroSchemaJson: String =
    """{"type":"record","name":"Ev","namespace":"graft","fields":[
      |{"name":"event_id","type":"long"},
      |{"name":"ts_ms","type":{"type":"long","logicalType":"timestamp-millis"}},
      |{"name":"user_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"}]}""".stripMargin

  /** Executor-side codec kernel. The schema/reader/writer are per-JVM
    * singletons (Avro's GenericDatumReader/Writer are thread-safe; the
    * encoders are not and are created per call against reused buffers). */
  private object AvroKernel extends Serializable {
    @transient private lazy val schema =
      new org.apache.avro.Schema.Parser().parse(avroSchemaJson)
    @transient private lazy val writer =
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema)
    @transient private lazy val reader =
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord](schema)

    def encode(eventId: Long, tsMs: Long, userId: Long,
               eventType: String, value: Double): Array[Byte] = {
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("event_id", eventId); rec.put("ts_ms", tsMs)
      rec.put("user_id", userId); rec.put("event_type", eventType)
      rec.put("value", value)
      val bos = new java.io.ByteArrayOutputStream(64)
      val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(bos, null)
      writer.write(rec, enc); enc.flush()
      bos.toByteArray
    }

    /** null on malformed bytes — the dead-letter split point. */
    def decode(bytes: Array[Byte]): WireEv =
      try {
        val dec = org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytes, null)
        val r = reader.read(null, dec)
        WireEv(r.get("event_id").asInstanceOf[Long],
          r.get("ts_ms").asInstanceOf[Long],
          r.get("user_id").asInstanceOf[Long],
          r.get("event_type").toString,
          r.get("value").asInstanceOf[Double])
      } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** Decoded wire record (pre-timestamp-mapping). */
  final case class WireEv(event_id: Long, ts_ms: Long, user_id: Long,
                          event_type: String, value: Double)

  private lazy val avroEncodeUdf =
    udf((e: Long, t: Long, u: Long, ty: String, v: Double) =>
      AvroKernel.encode(e, t, u, ty, v))
  private lazy val avroDecodeUdf = udf((b: Array[Byte]) => AvroKernel.decode(b))

  /** Columns encoding an [[Ev]]-shaped frame onto the wire: key = user_id
    * (per-user partition ordering), value = raw Avro datum bytes
    * (wire-compatible with the reference's topics). */
  def avroWireColumns(df: DataFrame): DataFrame =
    df.select(
      col("user_id").cast("string").as("key"),
      avroEncodeUdf(
        col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        col("user_id"), col("event_type"), col("value")).as("value"))

  /** Wire value → typed [[Ev]] columns. Malformed datums decode to null
    * and drop here — the reference routes deserialization failures to a
    * side output (streams/package.scala:287-298); callers wanting that
    * behavior split on the same predicate before this projection. */
  def avroDecoded(raw: DataFrame): DataFrame =
    raw.select(avroDecodeUdf(col("value")).as("p"))
      .filter(col("p").isNotNull)
      .select(col("p.event_id").as("event_id"),
        timestamp_millis(col("p.ts_ms")).as("ts"),
        col("p.user_id").as("user_id"),
        col("p.event_type").as("event_type"),
        col("p.value").as("value"))

  def avroDecodedTyped(raw: DataFrame): Dataset[Ev] = {
    val s = raw.sparkSession
    import s.implicits._
    avroDecoded(raw).as[Ev]
  }

  /** S2: streaming consumer — earliest offsets, read-committed isolation,
    * Avro wire values. */
  def readEvents(spark: SparkSession, servers: String, topic: String): DataFrame =
    avroDecoded(spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("kafka.isolation.level", "read_committed")
      .load())

  /** K1: streaming producer — keyed for per-entity partition ordering;
    * exactly-once end-to-end = checkpoint + the idempotent keyed upsert
    * downstream (W10/W11), the same contract the reference reaches with
    * transactional writes + deterministic doc ids. */
  def writeEvents(events: DataFrame, servers: String, topic: String,
                  checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    avroWireColumns(events)
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
}
