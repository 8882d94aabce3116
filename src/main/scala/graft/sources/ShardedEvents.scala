package graft.sources

import java.io.{BufferedReader, Closeable, File, FileInputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util
import java.util.Optional

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.AccumulatorV2

import graft.streaming.ErrorOnce

/** `sharded-events`: a DataSource V2 **micro-batch streaming source** that
  * makes the reference's one native behavior — a sharded, resumable,
  * per-shard-ordered record stream — a first-class, swappable Spark
  * source instead of a test harness.
  *
  * Reference semantics mapped 1:1 (reference `main.go`):
  *   - **shard enumeration** (`main.go:148-172`, paginated ListShards with
  *     a NextToken loop): [[ShardedEvents.listShards]] walks the stream
  *     directory in pages; each `shard_id=<id>` partition directory is one
  *     shard. Re-enumerated every trigger, so shards appearing mid-stream
  *     (a reshard) are picked up — strictly more than the reference, which
  *     lists once at startup.
  *   - **per-shard ordered read** (`main.go:295-396`, one goroutine per
  *     shard advancing `NextShardIterator` sequentially): one
  *     [[InputPartition]] per shard per micro-batch, whose reader walks the
  *     shard's files/lines strictly in sequence order.
  *   - **sequence-number offsets** (`main.go:362`, `latestSequenceNumber`):
  *     a stream offset is the map shard → next line position. Spark's
  *     offset log persists it per micro-batch, so a killed query restarted
  *     on the same checkpoint resumes exactly where it stopped — the
  *     reference's `AT_SEQUENCE_NUMBER` iterator renewal (`main.go:300-327`)
  *     with the durability the reference lacks.
  *   - **`AT_TIMESTAMP` initial position** (`main.go:300-305`): option
  *     `startTimestampUs` positions every shard at its first record with
  *     `ts >= start`; absent, the shard is read from the trim horizon.
  *   - **bounded pulls** (`main.go:218`, `Limit: 10000` per GetRecords):
  *     option `maxRecordsPerTrigger` caps each shard's advance per
  *     micro-batch via Spark's admission-control [[ReadLimit]].
  *
  * Storage is one TSV file set per shard under `root/shard_id=<id>/`
  * (written by [[ShardedEvents.dump]]) — the local stand-in for the
  * Kinesis service in this offline environment (no connector jar exists;
  * SURVEY §7 H6). A shard grows by new `part-*` files that sort after
  * the existing ones; a published part file is immutable. Each stream
  * keeps a sparse line index per part file ([[PartIndex]]: the line
  * count and every [[ShardedEvents.IndexStride]]-th line's byte offset),
  * checked against the file's length and mtime on every listing, so a
  * trigger reads only new or changed files to find the shard ends, and a
  * slice read seeks to within one stride of its first line. The listing
  * layer is the only thing a real-service binding would replace; the
  * offset/order/resume semantics proved by `ShardedSourceSpec` are the
  * part that matters.
  * Scale note: one shard = one input partition = one task, the same
  * parallelism contract as the reference's goroutine-per-shard — a
  * 1000-shard stream fans out to 1000 tasks, and no stage ever holds more
  * than one shard's micro-batch slice in memory.
  */
object ShardedEvents {
  val SHORT_NAME = "sharded-events"

  /** The record envelope: the stream's shard/sequence identity plus the
    * events payload columns (`graft.Tables.eventSchema`).
    */
  val schema: StructType = StructType.fromDDL(
    "shard_id STRING, seq BIGINT, event_id BIGINT, ts TIMESTAMP, " +
      "user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** Lines between two marks of a part file's index: a slice read skips
    * fewer lines than this before its first row.
    */
  val IndexStride = 1024

  /** Null sentinel for the text payload column (`props`). */
  private[sources] val NullToken = "\\N"

  /** Shard-directory pagination page size — small on purpose so every
    * multi-shard test exercises the NextToken loop (`main.go:148-172`).
    */
  private val ListPageSize = 5

  /** Enumerate shard directories page-by-page (the reference's paginated
    * ListShards loop). Returns shard ids sorted for determinism.
    */
  private[sources] def listShards(root: String): Seq[String] = {
    val dirs = Option(new File(root).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
      .map(_.getName.stripPrefix("shard_id="))
      .sorted
    // NextToken pagination over the sorted listing: consume one page at a
    // time until no token remains, accumulating ids — deliberately shaped
    // like main.go:152-171 rather than a single readdir.
    val out = Seq.newBuilder[String]
    var token = 0
    var done = false
    while (!done) {
      val page = dirs.slice(token, token + ListPageSize)
      out ++= page
      token += ListPageSize
      if (token >= dirs.length) done = true
    }
    out.result()
  }

  /** A shard's data files in sequence order. */
  private[sources] def shardFiles(root: String, shard: String): Seq[File] =
    Option(new File(new File(root), s"shard_id=$shard").listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName)
      .toSeq

  /** Line layout: seq \t event_id \t ts_us \t user_id \t event_type \t
    * value \t props (props last so embedded tabs cannot corrupt parsing;
    * split with a field limit keeps the remainder intact).
    */
  private[sources] def tsUsOf(line: String): Option[Long] = {
    val p = line.split("\t", 4)
    if (p.length < 3) None else p(2).toLongOption
  }

  private[sources] def parse(shard: String, line: String): InternalRow = {
    val p = line.split("\t", 7)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(shard),
      p(0).toLong,
      p(1).toLong,
      p(2).toLong, // TimestampType = micros since epoch
      p(3).toLong,
      UTF8String.fromString(p(4)),
      p(5).toDouble,
      if (p(6) == NullToken) null else UTF8String.fromString(p(6))))
  }

  /** Materialize an events DataFrame as a sharded stream directory:
    * records are routed to `numShards` shards by hash of `user_id` (the
    * reference's partition-key routing — a host's records always land in
    * one shard, `main.go:249-267`), ordered within each shard by arrival
    * time, and stamped with a per-shard sequence number. The write is a
    * plain distributed text write — `repartition` on the shard key puts
    * each shard in exactly one task, `sortWithinPartitions` fixes the
    * file's line order, and the partitioned layout gives the reader its
    * shard directories. No driver-side materialization.
    */
  def dump(events: DataFrame, root: String, numShards: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("shard_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("shard_id",
        format_string("shard-%03d", pmod(hash(col("user_id")), lit(numShards))))
      .withColumn("seq", row_number().over(w).cast("long") - 1L)
      .withColumn("value_s", col("value").cast("string"))
      .withColumn("props_s", coalesce(col("props"), lit(NullToken)))
      .repartition(numShards, col("shard_id"))
      // Leading shard_id sort satisfies the partitioned writer's required
      // ordering, so it inserts no re-sort and the (ts, event_id) line
      // order survives into each shard's file.
      .sortWithinPartitions(col("shard_id"), col("ts"), col("event_id"))
      .select(col("shard_id"),
        concat_ws("\t",
          col("seq"), col("event_id"), unix_micros(col("ts")),
          col("user_id"), col("event_type"), col("value_s"), col("props_s"))
          .as("value"))
      .write.partitionBy("shard_id").mode("overwrite").text(root)
  }

  /** Convenience reader: the streaming DataFrame for a dumped stream. */
  def readStream(spark: SparkSession, root: String,
      startTimestampUs: Option[Long] = None,
      maxRecordsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format(SHORT_NAME).option("path", root)
    val r1 = startTimestampUs.fold(r)(v => r.option("startTimestampUs", v.toString))
    val r2 = maxRecordsPerTrigger.fold(r1)(v => r1.option("maxRecordsPerTrigger", v.toString))
    r2.load()
  }
}

/** Offset: shard id → next line position to read (≡ last consumed
  * sequence number + 1). JSON is a flat sorted map, diff-stable in the
  * checkpoint offset log.
  */
case class ShardOffsets(positions: Map[String, Long]) extends Offset {
  override def json(): String =
    positions.toSeq.sorted
      .map { case (s, p) => "\"" + s + "\":" + p }
      .mkString("{", ",", "}")
}

object ShardOffsets {
  private val Entry = "\"([^\"]+)\":(\\d+)".r
  def fromJson(json: String): ShardOffsets =
    ShardOffsets(Entry.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap)
}

/** One shard's slice of a micro-batch: lines [from, until). The reader
  * opens part file `seekFile` at byte `seekByte`, which starts line
  * `seekLine` of the shard, and skips to `from`; the defaults are the
  * start of the shard.
  */
case class ShardSlice(root: String, shard: String, from: Long, until: Long,
    seekFile: String = "", seekByte: Long = 0L, seekLine: Long = 0L)
  extends InputPartition

/** Sparse line index of one part file, as of its `length` and `mtime`:
  * its line count and the byte offset of every
  * [[ShardedEvents.IndexStride]]-th line. Lines are split where
  * `BufferedReader.readLine` splits them (`\n`, `\r` or `\r\n`; a last
  * line without a terminator counts), so an index position and a
  * reader position name the same line.
  */
private[sources] final class PartIndex(val length: Long, val mtime: Long,
    val lines: Long, val marks: Array[Long])

private[sources] object PartIndex {
  /** Index the first `length` bytes of `f`. */
  def build(f: File, length: Long, mtime: Long): PartIndex = {
    val marks = new mutable.ArrayBuilder.ofLong
    var lines = 0L
    var atLineStart = true
    var afterCR = false
    val buf = new Array[Byte](1 << 16)
    val in = new FileInputStream(f)
    try {
      var base = 0L
      var n = 0
      while (base < length && { n = in.read(buf, 0, math.min(buf.length.toLong, length - base).toInt); n > 0 }) {
        var i = 0
        while (i < n) {
          val b = buf(i)
          if (afterCR && b == '\n') afterCR = false // the LF of a CRLF
          else {
            afterCR = false
            if (atLineStart) {
              if (lines % ShardedEvents.IndexStride == 0) marks += base + i
              atLineStart = false
            }
            if (b == '\n' || b == '\r') {
              lines += 1
              atLineStart = true
              afterCR = b == '\r'
            }
          }
          i += 1
        }
        base += n
      }
    } finally in.close()
    if (!atLineStart) lines += 1
    new PartIndex(length, mtime, lines, marks.result())
  }
}

/** One shard as of one listing: its part files in order, each with its
  * index, so a line position maps to a file and a byte offset without
  * reading the lines before it.
  */
private[sources] final class ShardView(root: String, val shard: String,
    files: IndexedSeq[File], parts: IndexedSeq[PartIndex]) {
  import ShardedEvents.IndexStride

  /** Per file, the shard position of its first line and the shard-wide
    * number of its first mark; the totals come last.
    */
  private val starts: Array[Long] = parts.scanLeft(0L)(_ + _.lines).toArray
  private val markStarts: Array[Long] =
    parts.scanLeft(0L)(_ + _.marks.length).toArray

  /** The shard's line count (the service's "latest sequence"). */
  def end: Long = starts.last

  /** The slice [from, until), seeking to the last mark at or before
    * `from`. Past the shard's end it starts at the start of the shard,
    * so the reader reaches the end and reports the short shard.
    */
  def slice(from: Long, until: Long): ShardSlice =
    if (from >= end) ShardSlice(root, shard, from, until)
    else {
      val i = lastAtMost(starts, from)
      val m = ((from - starts(i)) / IndexStride).toInt
      ShardSlice(root, shard, from, until,
        files(i).getName, parts(i).marks(m), starts(i) + m.toLong * IndexStride)
    }

  /** First position with record ts >= startUs — the `AT_TIMESTAMP`
    * iterator (`main.go:300-305`). Lines are ts-sorted within a shard
    * (dump() orders by arrival time), so a binary search over the
    * marks' ts finds the block, and at most one block is scanned.
    * Malformed lines are passed over: the reader skips them anyway.
    */
  def atTimestamp(startUs: Long): Long = {
    // Marks whose ts is below startUs come first: count them.
    var lo = 0L
    var hi = markStarts.last
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (firstFrom(mid)(_ => true)._2 < startUs) lo = mid + 1 else hi = mid
    }
    if (lo == 0) 0L else firstFrom(lo - 1)(_ >= startUs)._1
  }

  /** Position and ts of the first well-formed line at or after mark `g`
    * whose ts satisfies `ok`; (end, Long.MaxValue) if there is none.
    */
  private def firstFrom(g: Long)(ok: Long => Boolean): (Long, Long) = {
    val i = lastAtMost(markStarts, g)
    val m = (g - markStarts(i)).toInt
    val lines = new ShardLines(files.iterator.drop(i), parts(i).marks(m),
      starts(i) + m.toLong * IndexStride)
    try {
      var line = lines.next()
      while (line != null) {
        ShardedEvents.tsUsOf(line) match {
          case Some(ts) if ok(ts) => return (lines.pos - 1, ts)
          case _ => line = lines.next()
        }
      }
      (end, Long.MaxValue)
    } finally lines.close()
  }

  /** The largest i < a.length - 1 with a(i) <= v, for non-decreasing `a`
    * with a(0) <= v < a.last: the file holding position v.
    */
  private def lastAtMost(a: Array[Long], v: Long): Int = {
    var lo = 0
    var hi = a.length - 2
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (a(mid) <= v) lo = mid else hi = mid - 1
    }
    lo
  }
}

/** A shard's lines from a seek point on, across its part files:
  * `files` from the one holding the seek point, which starts at byte
  * `skipBytes` of the first file and is line `pos` of the shard.
  */
private[sources] final class ShardLines(files: Iterator[File],
    private var skipBytes: Long, var pos: Long) extends Closeable {
  private var reader: BufferedReader = _

  /** The line at `pos`, advancing `pos`; null after the last file. */
  def next(): String = {
    while (true) {
      if (reader == null) {
        if (!files.hasNext) return null
        val in = new FileInputStream(files.next())
        in.getChannel.position(skipBytes)
        skipBytes = 0L
        reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      }
      val line = reader.readLine()
      if (line != null) { pos += 1; return line }
      reader.close()
      reader = null
    }
    null // unreachable
  }

  override def close(): Unit = if (reader != null) reader.close()
}

/** The malformed lines a stream's readers skipped: how many, and the
  * first one's description for the once-only report.
  */
final class MalformedLines extends AccumulatorV2[String, Long] {
  private var count = 0L
  private var firstSeen: String = _
  def first: Option[String] = Option(firstSeen)
  override def isZero: Boolean = count == 0L
  override def copy(): MalformedLines = {
    val c = new MalformedLines
    c.count = count
    c.firstSeen = firstSeen
    c
  }
  override def reset(): Unit = { count = 0L; firstSeen = null }
  override def add(v: String): Unit = {
    if (firstSeen == null) firstSeen = v
    count += 1
  }
  override def merge(other: AccumulatorV2[String, Long]): Unit = other match {
    case o: MalformedLines =>
      if (firstSeen == null) firstSeen = o.firstSeen
      count += o.count
    case _ => throw new UnsupportedOperationException(
      s"cannot merge ${other.getClass.getName} into MalformedLines")
  }
  override def value: Long = count
}

/** The V2 provider — registered as `sharded-events` via
  * META-INF/services (DataSourceRegister).
  */
class ShardedEventsSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = ShardedEvents.SHORT_NAME
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ShardedEvents.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ShardedEventsTable(properties)
}

class ShardedEventsTable(properties: util.Map[String, String])
  extends Table with SupportsRead {
  private def path: String =
    Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("sharded-events requires option 'path'"))
  override def name(): String = s"sharded_events:`$path`"
  override def schema(): StructType = ShardedEvents.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ShardedEventsScan(options)
    }
}

class ShardedEventsScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = ShardedEvents.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ShardedEventsStream(
      options.get("path"),
      Option(options.get("startTimestampUs")).map(_.toLong).getOrElse(Long.MinValue),
      Option(options.get("maxRecordsPerTrigger")).map(_.toLong))
}

class ShardedEventsStream(root: String, startUs: Long, maxPerTrigger: Option[Long])
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  // Part-file indexes by path, kept for the query's lifetime: a file is
  // read when first listed and again only if its length or mtime changed.
  private val index = mutable.HashMap.empty[String, PartIndex]

  /** Every listed shard with its files' indexes; entries of files no
    * longer listed are dropped.
    */
  private def shards(): Map[String, ShardView] = synchronized {
    val listed = mutable.HashSet.empty[String]
    val views = ShardedEvents.listShards(root).map { shard =>
      val files = ShardedEvents.shardFiles(root, shard).toIndexedSeq
      val parts = files.map { f =>
        val path = f.getPath
        val (length, mtime) = (f.length(), f.lastModified())
        listed += path
        index.get(path).filter(p => p.length == length && p.mtime == mtime)
          .getOrElse {
            val p = PartIndex.build(f, length, mtime)
            index(path) = p
            p
          }
      }
      shard -> new ShardView(root, shard, files, parts)
    }.toMap
    index.filterInPlace((path, _) => listed(path))
    views
  }

  // AT_TIMESTAMP positions, computed once per shard per query lifetime
  // (the reference's one GetShardIterator call per shard).
  private val initialPos = mutable.Map.empty[String, Long]
  private def initialPositionOf(view: ShardView): Long =
    initialPos.getOrElseUpdate(view.shard,
      if (startUs == Long.MinValue) 0L else view.atTimestamp(startUs))

  // Trigger.AvailableNow: pin the end-of-stream target at prepare time so
  // the bounded run drains to a fixed frontier and terminates.
  @volatile private var availableNowTarget: Option[ShardOffsets] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTarget = Some(allAvailable())
  }

  private def allAvailable(): ShardOffsets =
    ShardOffsets(shards().map { case (s, v) => s -> v.end })

  override def initialOffset(): Offset =
    ShardOffsets(shards().map { case (s, v) => s -> initialPositionOf(v) })

  override def deserializeOffset(json: String): Offset =
    ShardOffsets.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  /** Advance each shard from its committed position toward the shard end,
    * capped per shard by the read limit — the GetRecords pull
    * (`main.go:218,300-327`): `Limit` bounds one pull, and a shard first
    * seen mid-query starts at its AT_TIMESTAMP position. A shard missing
    * from this listing (a `dump` overwrite in flight) keeps its position.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startPos = start.asInstanceOf[ShardOffsets].positions
    val target = availableNowTarget
    val next = shards().map { case (shard, view) =>
      val from = startPos.getOrElse(shard, initialPositionOf(view))
      val end = target match {
        case Some(t) => t.positions.getOrElse(shard, from)
        case None => view.end
      }
      val capped = limit match {
        case m: ReadMaxRows => math.min(end, from + m.maxRows())
        case _: ReadAllAvailable => end
        case _ => end
      }
      shard -> math.max(from, capped)
    }
    ShardOffsets(startPos ++ next)
  }

  override def reportLatestOffset(): Offset = allAvailable()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].positions
    val e = end.asInstanceOf[ShardOffsets].positions
    val views = shards()
    e.toSeq.sorted.flatMap { case (shard, until) =>
      val view = views.getOrElse(shard,
        new ShardView(root, shard, IndexedSeq.empty, IndexedSeq.empty))
      val from = s.getOrElse(shard, initialPositionOf(view))
      if (until > from) Some(view.slice(from, until)) else None
    }.toArray
  }

  private lazy val malformed: MalformedLines = {
    val acc = new MalformedLines
    SparkSession.active.sparkContext.register(acc, s"sharded-events malformed lines: $root")
    acc
  }
  private val malformedOnce = new ErrorOnce(msg => System.err.println(msg))

  override def createReaderFactory(): PartitionReaderFactory =
    new ShardedEventsReaderFactory(Some(malformed))

  /** `malformedLines`: lines skipped so far; the first is reported once. */
  override def metrics(latestConsumedOffset: Optional[Offset]): util.Map[String, String] = {
    val skipped = malformed.value
    if (skipped > 0) malformedOnce(
      s"sharded-events $root: skipping malformed lines, first ${malformed.first.getOrElse("")}")
    Map("malformedLines" -> skipped.toString).asJava
  }

  override def commit(end: Offset): Unit = () // files are retained
  override def stop(): Unit = ()
}

class ShardedEventsReaderFactory(malformed: Option[MalformedLines] = None)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ShardSliceReader(partition.asInstanceOf[ShardSlice], malformed)
}

/** Sequential reader over one shard's [from, until) lines — per-shard
  * order is the file order, exactly one reader per shard per batch. A
  * malformed line is skipped and counted in `malformed`; a shard that
  * ends before `until` fails the read.
  */
class ShardSliceReader(slice: ShardSlice, malformed: Option[MalformedLines] = None)
  extends PartitionReader[InternalRow] {
  private val lines = {
    val files = ShardedEvents.shardFiles(slice.root, slice.shard)
    val first = if (slice.seekFile.isEmpty) 0 else files.indexWhere(_.getName == slice.seekFile)
    if (first < 0) throw new IllegalStateException(
      s"sharded-events: shard ${slice.shard} slice [${slice.from}, ${slice.until}): " +
        s"part file ${slice.seekFile} is no longer listed")
    new ShardLines(files.iterator.drop(first), slice.seekByte, slice.seekLine)
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (lines.pos < slice.until) {
      val pos = lines.pos
      val line = lines.next()
      if (line == null) throw new IllegalStateException(
        s"sharded-events: shard ${slice.shard} is shorter than its committed offset: " +
          s"slice [${slice.from}, ${slice.until}) reached position $pos")
      if (pos >= slice.from) {
        try {
          current = ShardedEvents.parse(slice.shard, line)
          return true
        } catch {
          case NonFatal(e) => malformed.foreach(_.add(s"shard ${slice.shard} line $pos: $e"))
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
