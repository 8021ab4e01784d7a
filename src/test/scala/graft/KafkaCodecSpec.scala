package graft

import graft.sources.KafkaIO
import graft.streaming.Ev
import org.apache.spark.sql.functions._

/** The Kafka wire codec and key layout, tested without a broker: every
  * column expression — Avro encode, decode, key choice, millisecond
  * timestamps — is plain Catalyst and must round-trip exactly, in the
  * reference's wire format: the raw binary Avro datum
  * (utils/avro/Avro4sSerializationSchema.scala:30-47). */
class KafkaCodecSpec extends GraftSuite {
  import spark.implicits._

  private val evs = Seq(
    Ev(1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123"), 7L, "view", 1.5),
    Ev(2L, java.sql.Timestamp.valueOf("2024-01-02 23:59:59.999"), 8L, "purchase", -0.25),
    Ev(3L, java.sql.Timestamp.valueOf("2024-06-15 00:00:00"), 7L, "click", 0.0))

  test("key is the partitioning entity id (per-user ordering on the wire)") {
    val keys = KafkaIO.avroWireColumns(evs.toDF())
      .select(col("key")).collect().map(_.getString(0)).sorted.toSeq
    assert(keys == Seq("7", "7", "8"))
  }

  test("avro wire round-trip: encode -> decode is the identity, millis preserved") {
    val wire = KafkaIO.avroWireColumns(evs.toDF())
    assert(wire.columns.toSeq == Seq("key", "value"))
    val back = KafkaIO.avroDecodedTyped(wire).collect().sortBy(_.event_id)
    assert(back.toSeq == evs.sortBy(_.event_id),
      s"avro round-trip drift: ${back.toSeq} vs $evs")
    // the .123-millisecond timestamp survives the epoch-millis date codec
    assert(back.head.ts.getTime % 1000 == 123L)
  }

  test("avro wire bytes are the raw binary datum (reference wire compatibility)") {
    // decode the engine's bytes with a plain avro-core reader built
    // independently from the declared schema: field-for-field identical,
    // ts as epoch millis (reference AvroUtils date codec) and NO container
    // header (Avro4sSerializationSchema writes the raw datum)
    val bytes = KafkaIO.avroWireColumns(evs.take(1).toDF())
      .select(col("value"))
      .head().getAs[Array[Byte]](0)
    val schema = new org.apache.avro.Schema.Parser().parse(KafkaIO.avroSchemaJson)
    assert(schema.getField("ts_ms").schema().getLogicalType.getName
      == "timestamp-millis")
    val reader = new org.apache.avro.generic.GenericDatumReader[
      org.apache.avro.generic.GenericRecord](schema)
    val rec = reader.read(null,
      org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytes, null))
    assert(rec.get("event_id") == 1L)
    assert(rec.get("ts_ms") ==
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123").getTime)
    assert(rec.get("user_id") == 7L)
    assert(rec.get("event_type").toString == "view")
    assert(rec.get("value") == 1.5)
    // raw datum: first byte is the zigzag varint of event_id, not a magic
    // header (a container file would start with 'O','b','j')
    assert(bytes(0) != 'O'.toByte)
  }

  test("corrupt avro datums are dropped, not crashed on (side-output split point)") {
    val good = KafkaIO.avroWireColumns(evs.take(1).toDF())
      .select(col("value"))
      .head().getAs[Array[Byte]](0)
    val raw = Seq(good, Array[Byte](-1, -1, -1), Array.emptyByteArray).toDF("value")
    val out = KafkaIO.avroDecoded(raw).collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L)
  }
}
