package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Scaled event-time REPLAY source — the reference's signature simulation
  * mechanism (reference: streams/SpeedupParquetSource ancestry:
  * utils/ParseUtils + jobs/preparation/measure/ReadLikeEventsFromKafkaJob
  * .scala:27-42 — records are released when scaled wall-clock time reaches
  * their event time; `data.speedup-factor=10000` in application.conf:23)
  * re-expressed as a DataSource V2 `MicroBatchStream`:
  *
  *   frontier(t) = min_event_time + (wall_now − wall_start) × speedup
  *
  * The OFFSET IS THE FRONTIER: a micro-batch (start, end] contains exactly
  * the events whose event time the scaled clock passed in that interval,
  * so downstream watermarks/windows see the same out-of-orderness profile
  * as the original stream, compressed by `speedup` — the property the
  * reference's experiments rely on.
  *
  * Scale design: the driver holds the event-time bounds and the file
  * length (read once from the parquet footer/filesystem) — never the
  * events. Each micro-batch plans 8 partitions as byte ranges of
  * the file and the EXECUTOR readers scan their row groups (assigned by
  * range-midpoint, the standard Hadoop split rule — each row group
  * decodes exactly once) with the ts-range predicate pushed into the
  * read (row-group pruning via column statistics + record filter).
  * Replay therefore scales past driver memory to any file the executors
  * can scan; for long replays over big inputs, lay the file out
  * ts-sorted (PrepJob-style) so each batch's range prunes to a few row
  * groups instead of re-scanning the file.
  *
  * Options: `path` (an sf dir with events.parquet), `speedup` (double).
  */
class ReplaySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-replay"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplaySource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new ReplayTable(properties.get("path"),
      Option(properties.get("speedup")).map(_.toDouble).getOrElse(10000.0))
}

object ReplaySource {
  /** The scaled replay of `<sfDir>/events.parquet` at `speedup`× (S1/S3):
    * the one way the job mains and the benches open this source. */
  def stream(spark: SparkSession, sfDir: String, speedup: String): DataFrame =
    spark.readStream.format(classOf[ReplaySource].getName)
      .option("path", sfDir).option("speedup", speedup).load()

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** (event_id, ts_micros, user_id, event_type, value, props) */
  type Ev = (Long, Long, Long, String, Double, String)

  private def eventsFile(path: String) = s"$path/events.parquet"

  /** Storage ticks of the ts column per µs, from the file's logical-type
    * annotation — testdata generations have shipped the column as both
    * TIMESTAMP(NANOS) (1000 ticks/µs) and TIMESTAMP(MICROS) (1). MILLIS is
    * encoded as its negative µs-per-tick (-1000) so all three fit one Long.
    * Cached per path: one footer read, driver or executor. */
  private val unitCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def tsUnit(path: String): Long = {
    unitCache.computeIfAbsent(path, { p =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(eventsFile(p)), new Configuration()))
      try {
        import org.apache.parquet.schema.LogicalTypeAnnotation
        import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
        val field = rd.getFooter.getFileMetaData.getSchema.getType(Seq("ts"): _*)
        field.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case TimeUnit.NANOS  => 1000L
              case TimeUnit.MICROS => 1L
              case TimeUnit.MILLIS => -1000L
            }
          case _ => 1000L // raw int64: historical generations stored nanos
        }
      } finally rd.close()
    })
  }

  /** storage ticks → µs under unit `u` (contract of tsUnit above). */
  private def ticksToMicros(v: Long, u: Long): Long =
    if (u > 0) Math.floorDiv(v, u) else v * (-u)

  /** Event-time bounds (micros) + file length, from the parquet footer —
    * the ONLY thing the driver reads (three longs, any input size). Falls
    * back to a streaming one-pass scan if a writer omitted stats. */
  def tsBounds(path: String): (Long, Long, Long) = {
    val file = HadoopInputFile.fromPath(
      new Path(eventsFile(path)), new Configuration())
    val rd = ParquetFileReader.open(file)
    try {
      val stats = rd.getFooter.getBlocks.asScala.flatMap { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "ts")
          .map(_.getStatistics)
      }
      if (stats.nonEmpty && stats.forall(s => s != null && s.hasNonNullValue)) {
        val u = tsUnit(path)
        val mins = stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue())
        val maxs = stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        (ticksToMicros(mins.min, u), ticksToMicros(maxs.max, u),
          file.getLength)
      } else {
        // ±Long extremes saturate inside scanRange to an always-true
        // predicate — this is a genuine full scan, not an empty one
        var lo = Long.MaxValue; var hi = Long.MinValue
        scanRange(path, Long.MinValue, Long.MaxValue - 1, 0L, Long.MaxValue)
          .foreach { e => lo = math.min(lo, e._2); hi = math.max(hi, e._2) }
        require(hi >= lo, s"replay fallback scan found no rows in ${eventsFile(path)}")
        (lo, hi, file.getLength)
      }
    } finally rd.close()
  }

  /** micros → the largest storage value still ≤ m µs under unit `u`
    * (e.g. nanos: m·1000 + 999), SATURATED at the Long range: the
    * stats-missing full-scan fallback passes ±Long extremes, and a
    * wrapped product would make the pushed predicate unsatisfiable
    * (a silent empty replay instead of a scan). */
  private def microsToStorageUpper(m: Long, u: Long): Long =
    if (u > 0) {
      if (m >= Long.MaxValue / u) Long.MaxValue
      else if (m <= Long.MinValue / u) Long.MinValue
      else m * u + (u - 1)
    } else Math.floorDiv(m, -u)

  /** Executor-side range scan: events with ts_micros in (lo, hi] from the
    * row groups whose midpoint falls in file-byte range [byteStart,
    * byteEnd) — contiguous byte ranges tile the file with each row group
    * decoded EXACTLY once (the standard Hadoop split rule). The ts
    * predicate is pushed into the read (row-group pruning + record
    * filter), expressed in the file's own storage unit (tsUnit) — e.g.
    * under TIMESTAMP(NANOS): micros > lo ⟺ nanos > lo·1000 + 999. */
  def scanRange(path: String, loMicros: Long, hiMicros: Long,
                byteStart: Long, byteEnd: Long): Iterator[Ev] = {
    val u = tsUnit(path)
    val tsCol = FilterApi.longColumn("ts")
    val pred = FilterApi.and(
      FilterApi.gt(tsCol, java.lang.Long.valueOf(microsToStorageUpper(loMicros, u))),
      FilterApi.ltEq(tsCol, java.lang.Long.valueOf(microsToStorageUpper(hiMicros, u))))
    val reader: ParquetReader[Ev] =
      ParquetReader.builder(new EvReadSupport, new Path(eventsFile(path)))
        .withConf(new Configuration())
        .withFileRange(byteStart, byteEnd)
        .withFilter(FilterCompat.get(pred))
        .build()
    new Iterator[Ev] {
      private var nextEv: Ev = _
      private var done = false
      advance()
      private def advance(): Unit = {
        nextEv = null
        if (!done) {
          val e = reader.read()
          if (e == null) { done = true; reader.close() }
          else nextEv = (e._1, ticksToMicros(e._2, u), e._3, e._4, e._5, e._6)
        }
      }
      override def hasNext: Boolean = nextEv != null
      override def next(): Ev = { val e = nextEv; advance(); e }
    }
  }
}

/** Direct parquet-mr record materializer for the events schema: converter
  * slots write straight into primitives and the record is assembled as the
  * Ev tuple — no intermediate `Group` allocation and no per-row by-name
  * field lookups (the GroupReadSupport path this replaces materialized a
  * Group object per row and hash-looked-up every field; measured ~25%
  * faster raw drain). String columns convert through the dictionary hook
  * so repeated values (event_type) decode each distinct string once per
  * page, not once per row. The `ts` slot carries the RAW storage value;
  * the caller applies the unit conversion (tsUnit contract). */
private object EvReadSupport {
  val fieldNames: Set[String] =
    Set("event_id", "ts", "user_id", "event_type", "value", "props")
}

private final class EvReadSupport
    extends org.apache.parquet.hadoop.api.ReadSupport[ReplaySource.Ev] {
  import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
  import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
  import org.apache.parquet.schema.MessageType

  // Project the read schema down to the six known event columns: extra
  // columns from a future testdata generation (e.g. a pandas index) are
  // neither decoded nor looked up in byName — tolerant of writer drift AND
  // prunes their I/O entirely.
  override def init(context: InitContext): ReadSupport.ReadContext = {
    val file = context.getFileSchema
    val known = (0 until file.getFieldCount)
      .map(file.getType)
      .filter(t => EvReadSupport.fieldNames.contains(t.getName))
    new ReadSupport.ReadContext(new MessageType(file.getName, known.asJava))
  }

  override def prepareForRead(conf: Configuration,
                              keyValueMetaData: java.util.Map[String, String],
                              fileSchema: MessageType,
                              readContext: ReadSupport.ReadContext): RecordMaterializer[ReplaySource.Ev] =
    new RecordMaterializer[ReplaySource.Ev] {
      // one mutable slot set per reader; parquet-mr drives start() →
      // field converters → end() strictly sequentially per record
      private var eventId = 0L
      private var ts = 0L
      private var userId = 0L
      private var etype: String = null
      private var value = 0.0
      private var props: String = null

      private final class LongSlot(set: Long => Unit) extends PrimitiveConverter {
        override def addLong(v: Long): Unit = set(v)
      }
      private final class DoubleSlot(set: Double => Unit) extends PrimitiveConverter {
        override def addDouble(v: Double): Unit = set(v)
      }
      private final class StringSlot(set: String => Unit) extends PrimitiveConverter {
        private var dict: Array[String] = _
        override def hasDictionarySupport: Boolean = true
        override def setDictionary(d: org.apache.parquet.column.Dictionary): Unit = {
          dict = Array.tabulate(d.getMaxId + 1)(i => d.decodeToBinary(i).toStringUsingUTF8)
        }
        override def addValueFromDictionary(id: Int): Unit = set(dict(id))
        override def addBinary(v: Binary): Unit = set(v.toStringUsingUTF8)
      }

      private val byName: Map[String, Converter] = Map(
        "event_id"   -> new LongSlot(eventId = _),
        "ts"         -> new LongSlot(ts = _),
        "user_id"    -> new LongSlot(userId = _),
        "event_type" -> new StringSlot(etype = _),
        "value"      -> new DoubleSlot(value = _),
        "props"      -> new StringSlot(props = _))
      // index by the REQUESTED schema (the init() projection): parquet-mr
      // drives the materializer against it, and it contains only known names
      private val requested = readContext.getRequestedSchema
      private val converters: Array[Converter] =
        (0 until requested.getFieldCount)
          .map(i => byName(requested.getFieldName(i))).toArray

      private val root = new GroupConverter {
        override def getConverter(fieldIndex: Int): Converter = converters(fieldIndex)
        // reset the reference slots each record: the file schema marks all
        // columns optional (pandas writer default), and a null must yield
        // null — not the previous row's value. Numeric nulls remain
        // out-of-contract, exactly as in the Group-based reader this
        // replaced (getLong on a missing field threw there).
        override def start(): Unit = { etype = null; props = null }
        override def end(): Unit = ()
      }

      override def getRootConverter: GroupConverter = root
      override def getCurrentRecord: ReplaySource.Ev =
        (eventId, ts, userId, etype, value, props)
    }
}

final class ReplayTable(path: String, speedup: Double)
  extends Table with SupportsRead {
  override def name(): String = s"graft-replay($path, x$speedup)"
  override def schema(): StructType = ReplaySource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ReplaySource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ReplayMicroBatchStream(path, speedup)
      }
    }
}

/** The offset IS the event-time frontier (micros). */
final case class ReplayOffset(frontierMicros: Long) extends Offset {
  override def json(): String = frontierMicros.toString
}

final class ReplayMicroBatchStream(path: String, speedup: Double)
  extends MicroBatchStream {
  private val splits = 8 // readers per micro-batch
  private lazy val bounds: (Long, Long, Long) = ReplaySource.tsBounds(path)
  // highest checkpointed frontier seen BEFORE the scaled clock starts —
  // on a restart the engine replays the offset log through
  // deserializeOffset first, so the clock resumes from the committed
  // frontier instead of re-elapsing the whole already-replayed duration
  @volatile private var resumeFrontier: Long = Long.MinValue
  // (frontier baseline, wall-clock start) — frozen at the FIRST offset
  // request; later deserializeOffset calls (normal-run offset-log reads)
  // must not move the baseline or the clock would compound
  private lazy val clockBase: (Long, Long) =
    (math.max(bounds._1, resumeFrontier), System.nanoTime())
  @volatile private var lastFrontier: Long = Long.MinValue

  override def initialOffset(): Offset = ReplayOffset(bounds._1 - 1)

  override def latestOffset(): Offset = {
    val (minTs, maxTs, _) = bounds
    val (base, wallStart) = clockBase
    // nanoTime readings may come from different scheduler threads; clamp
    // the cross-thread skew (observed ~tens of µs on virtualized hosts) —
    // at extreme speedups a few negative µs would otherwise produce a
    // hugely regressed offset
    val elapsedMicros = math.max(0L, (System.nanoTime() - wallStart) / 1000L)
    // saturate: extreme speedups must clamp to "everything", not overflow
    val scaled = elapsedMicros.toDouble * speedup
    val frontier =
      if (scaled >= (maxTs - base).toDouble) maxTs
      else base + scaled.toLong
    // offsets must never regress
    val f = math.max(frontier, math.max(lastFrontier, minTs - 1))
    lastFrontier = f
    ReplayOffset(f)
  }

  override def deserializeOffset(json: String): Offset = {
    val f = json.toLong
    if (f > resumeFrontier) resumeFrontier = f
    ReplayOffset(f)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ReplayOffset].frontierMicros
    val e = end.asInstanceOf[ReplayOffset].frontierMicros
    if (e <= s) Array.empty
    else {
      val len = bounds._3
      val step = math.max(1L, (len + splits - 1) / splits)
      (0 until splits).map { i =>
        ReplayRangePartition(path, s, e,
          i * step, math.min(len, (i + 1) * step)): InputPartition
      }.filter { p =>
        val r = p.asInstanceOf[ReplayRangePartition]; r.byteStart < r.byteEnd
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ReplayReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A (ts-range, file-byte-range) slice of the replay file — carries
  * coordinates only; the rows are read ON THE EXECUTOR. */
final case class ReplayRangePartition(path: String, loMicros: Long,
                                      hiMicros: Long, byteStart: Long, byteEnd: Long)
  extends InputPartition

final class ReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ReplayRangePartition]
    new PartitionReader[InternalRow] {
      private val it =
        ReplaySource.scanRange(p.path, p.loMicros, p.hiMicros, p.byteStart, p.byteEnd)
      private var cur: ReplaySource.Ev = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = {
        val e = cur
        new GenericInternalRow(Array[Any](e._1, e._2, e._3,
          UTF8String.fromString(e._4), e._5,
          if (e._6 == null) null else UTF8String.fromString(e._6)))
      }
      override def close(): Unit = ()
    }
  }
}
