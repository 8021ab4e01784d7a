package graft.sources

import graft.streaming.Ev
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The reference's Kafka wire format for event records (S2/K1), as Catalyst
  * columns: a raw binary Avro datum per record with no container header,
  * dates as epoch millis (reference: utils/avro/AvroUtils.scala:36-55,
  * Avro4sSerializationSchema.scala:30-47), encoded and decoded by the avro
  * core library that ships with Spark.
  *
  * Contract:
  *  - `avroWireColumns` maps an [[Ev]]-shaped frame to Kafka's
  *    `(key, value)` columns: key = the user id as a string (the reference
  *    keys by entity id, so Kafka's default partitioner keeps one entity's
  *    records ordered within a partition), value = the datum bytes;
  *  - `avroDecoded` maps a frame with a binary `value` column back to the
  *    event columns and drops datums that do not decode.
  *
  * No Kafka connector is on this build's classpath, so nothing here opens
  * a topic; the codec is unit-tested without a broker (KafkaCodecSpec,
  * including a byte check against an independent avro-core writer).
  */
object KafkaIO {

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
}
