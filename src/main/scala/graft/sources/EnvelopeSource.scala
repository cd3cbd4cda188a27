package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.Fixture

/** DataSourceV2 source for the envelope corpus — the Spark-native form
  * of the reference's HBase scan layer, exercising the three source
  * techniques the reference hand-rolls (SURVEY §4):
  *
  *  - **partition planning = key-range slices**: `planInputPartitions`
  *    emits one partition per signed-first-byte slice of the row-key
  *    space, exactly the HBasePartitioner contract
  *    (app/batch/HBasePartitioner.kt:12-37; `scan.width` option);
  *  - **predicate pushdown**: time-range filters on `ts` are accepted
  *    via `SupportsPushDownFilters` and evaluated at generation —
  *    the `scan.time.range.*` semantics (app/batch/HBaseReader.kt:
  *    131-150) where filtering happens server-side, not in Spark;
  *  - **column pruning**: `SupportsPushDownRequiredColumns` narrows
  *    the produced schema (the only-`cf:record`-family read,
  *    app/batch/HBaseResultProcessor.kt:106-107).
  *
  * Usage: `spark.read.format("graft.sources.EnvelopeSource")
  * .option("n", 10000).option("scanWidth", 32).load()`.
  * Records are the deterministic [[Fixture]] cells, so everything
  * downstream (pipeline, writer, oracles) is reproducible.
  *
  * Scale: generation is per-partition and streaming (no
  * materialization); a real HBase-backed impl would swap the row
  * iterator for a scanner over the same slice bounds, keeping the
  * planning + pushdown structure unchanged. Each reader iterates ONLY
  * its slice's id stream ([[SliceIndex]]: one memoised O(n) pass per
  * JVM builds every slice's index — the fixture stand-in for a
  * scanner's seek-to-startRow), so total source work is O(n), not
  * O(n × slices). A real scanner replaces the memo with an actual
  * seek; nothing downstream changes.
  *
  * Partial-progress / retry design (the reference's resume-at-key,
  * HBaseReader.kt:62-90, translated to Spark's execution model): the
  * reference reopens its scanner at the last-seen key, which is sound
  * there because Spring Batch commits progress per chunk — resume
  * lands after the last committed chunk. Spark's commit unit is the
  * TASK: a failed attempt's output is never visible, so the correct
  * resume point is the whole partition, and resuming mid-slice would
  * double-emit everything the dead attempt produced. Accordingly a
  * real source should (a) reopen-at-key only WITHIN one task attempt
  * (transient scanner drop — same attempt, same uncommitted output,
  * no duplication) and (b) bound re-work across attempts by slice
  * width, not in-task checkpoints. Per-record faults stay in the
  * pipeline's typed `err` column — data survives retries, side
  * effects don't.
  *
  * Multi-version read semantics (`versions` option, default 1): key i
  * holds `1 + (i % versions)` cell versions at ts 1000, 1001, … (the
  * reference stores up to 1,000,000 versions per key,
  * images/hbase/hbase_data.py:32) and the scan returns only the LATEST
  * version inside the pushed ts range — HBase `Scan.setTimeRange` +
  * default one-version read (HBaseReader.kt:145-150), with the record
  * ts taken from that winning cell (HBaseResultProcessor.kt:76-77).
  * `versions > 1` supersedes `tsSpread`.
  */
class EnvelopeSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EnvelopeSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new EnvelopeTable(
      opts.getLong("n", 10000L),
      opts.getInt("scanWidth", 64),
      opts.getBoolean("corrupt", false),
      opts.getLong("tsSpread", 1L),
      opts.getInt("versions", 1),
      opts.getOrDefault("store", "fixture"),
      opts.getOrDefault("path", ""),
      opts.getInt("failAfter", 100))
  }

  override def supportsExternalMetadata(): Boolean = false
}

object EnvelopeSource {
  val Schema: StructType = new StructType()
    .add("hbase_id", BinaryType)
    .add("ts", LongType)
    .add("value", StringType)
}

private[sources] class EnvelopeTable(n: Long, scanWidth: Int,
    corrupt: Boolean, tsSpread: Long, versions: Int,
    storeKind: String, path: String, failAfter: Int)
    extends Table with SupportsRead {
  override def name(): String = s"graft_envelope(n=$n,store=$storeKind)"
  override def schema(): StructType = EnvelopeSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EnvelopeScanBuilder(n, scanWidth, corrupt, tsSpread, versions,
      storeKind, path, failAfter,
      Option(options.get("tsSteps")).getOrElse(""))
}

private[sources] class EnvelopeScanBuilder(n: Long, scanWidth: Int,
    corrupt: Boolean, tsSpread: Long, versions: Int,
    storeKind: String, path: String, failAfter: Int,
    tsSteps: String = "")
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var tsLo = Long.MinValue
  private var tsHi = Long.MaxValue
  private var probe: Option[Set[Seq[Byte]]] = None
  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = EnvelopeSource.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // hbase_id point predicates push down to the store's GET path
    // (bloom-consulting multiGet on the HFile store) — batch scans
    // only; the micro-batch stream plans its own slice partitions and
    // must leave row predicates to Spark's post-scan filter
    // zero-length keys are dropped from the probe set at pushdown: no
    // store holds an empty row key (the HBase contract), so they match
    // nothing — and they carry no first byte for a slice/band to own
    def rowsOf(f: Filter): Option[Set[Seq[Byte]]] = f match {
      case EqualTo("hbase_id", v: Array[Byte]) if tsSteps.isEmpty =>
        Some(Set(v.toSeq).filter(_.nonEmpty))
      case In("hbase_id", vs) if tsSteps.isEmpty &&
          vs.nonEmpty && vs.forall(_.isInstanceOf[Array[Byte]]) =>
        Some(vs.map(_.asInstanceOf[Array[Byte]].toSeq).toSet
          .filter(_.nonEmpty))
      case _ => None
    }
    val (accepted, rejected) = filters.partition {
      case GreaterThan("ts", _: Long) | GreaterThanOrEqual("ts", _: Long) |
           LessThan("ts", _: Long) | LessThanOrEqual("ts", _: Long) |
           EqualTo("ts", _: Long) => true
      case f => rowsOf(f).isDefined
    }
    accepted.foreach {
      case GreaterThan("ts", v: Long) => tsLo = math.max(tsLo, v + 1)
      case GreaterThanOrEqual("ts", v: Long) => tsLo = math.max(tsLo, v)
      case LessThan("ts", v: Long) => tsHi = math.min(tsHi, v - 1)
      case LessThanOrEqual("ts", v: Long) => tsHi = math.min(tsHi, v)
      case EqualTo("ts", v: Long) =>
        tsLo = math.max(tsLo, v); tsHi = math.min(tsHi, v)
      case f => rowsOf(f).foreach { rs =>
        // several point predicates conjoin: intersect their row sets
        probe = Some(probe.fold(rs)(_ intersect rs))
      }
    }
    pushed = accepted
    rejected // Spark re-evaluates what the source does not handle
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  override def build(): Scan =
    new EnvelopeScan(n, scanWidth, corrupt, tsSpread, versions, storeKind,
      path, failAfter, tsLo, tsHi, requiredSchema, pushed, tsSteps,
      probe.map(_.toSeq.map(_.toArray)
        .sortWith(java.util.Arrays.compareUnsigned(_, _) < 0)))
}

private[sources] class EnvelopeScan(n: Long, scanWidth: Int,
    corrupt: Boolean, tsSpread: Long, versions: Int, storeKind: String,
    path: String, failAfter: Int, tsLo: Long, tsHi: Long,
    requiredSchema: StructType, pushed: Array[Filter],
    tsSteps: String = "",
    probe: Option[Seq[Array[Byte]]] = None)
    extends Scan with Batch {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_envelope n=$n slices=${256 / scanWidth} " +
      probe.map(p => s"ProbedRows: ${p.size}, ").getOrElse("") +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${requiredSchema.simpleString}"

  /** One input partition per signed-byte key-range slice
    * (HBasePartitioner analogue). The store rides in the partition —
    * `store=hfile` swaps the generated fixture for the
    * [[HFileSnapshotStore]] reading the HBase HFile v2/v3 format
    * itself; a production snapshot deployment is that same one-line
    * swap. An unknown store fails the scan: a typo must never export
    * the generated fixture as if it were the snapshot. */
  private[sources] def mkStore(): EnvelopeStore = storeKind match {
    case "fixture" => FixtureEnvelopeStore(n, corrupt, tsSpread, versions)
    case "hfile" =>
      require(path.nonEmpty, "store=hfile requires a path option")
      HFileSnapshotStore(path)
    case "flaky" => // fault-injection seam for the task-retry spec
      FlakyEnvelopeStore(
        FixtureEnvelopeStore(n, corrupt, tsSpread, versions), failAfter)
    case other => throw new IllegalArgumentException(
      s"unknown store '$other': expected one of fixture, hfile, flaky")
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val store = mkStore()
    probe match {
      case Some(rows) =>
        // point-predicate plan: one partition per slice that owns a
        // probed row (not 256/width full-range slices) — each task
        // multi-gets its rows through the store's bloom-consulting GET
        // path where the store has one, full-descent otherwise
        rows.groupBy(r => ((r(0) & 0xff)) / scanWidth).toSeq.sortBy(_._1)
          .map { case (slice, rs) =>
            EnvelopeProbePartition(KeySlice(slice, scanWidth), rs.toArray,
              store, TsRange(tsLo, tsHi),
              requiredSchema.fieldNames): InputPartition
          }.toArray
      case None =>
        (0 until 256 / scanWidth).map(i =>
          EnvelopePartition(KeySlice(i, scanWidth), store, TsRange(tsLo, tsHi),
            requiredSchema.fieldNames): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EnvelopeReaderFactory

  /** The STREAMING form of the same scan — SURVEY's
    * incremental-export-as-stream, expressed as a real DSv2
    * `MicroBatchStream` instead of a driver-fed MemoryStream: offsets
    * are timestamp watermarks, and each micro-batch plans the SAME
    * key-range slice partitions with the ts range narrowed to
    * (prevOffset, thisOffset] — i.e. every micro-batch IS one of the
    * reference's incremental exports (README.md:83-84), tiled exactly
    * (q208's batch-side contract). The store seam, slice planning,
    * and "server-side" ts pruning are shared verbatim with the batch
    * path; a production deployment points the same stream at a live
    * change feed by swapping the store.
    *
    * Offset advancement is declared by the `tsSteps` option (a comma
    * list of ascending ts bounds): `latestOffset` steps through it
    * once per trigger — the determinism seam of a FINITE replay; a
    * live source returns its current high-watermark instead. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(tsSteps.nonEmpty,
      "streaming envelope scan requires a tsSteps option " +
        "(comma-separated ascending ts bounds, one per micro-batch)")
    val steps = tsSteps.split(",").map(_.trim.toLong).toSeq
    require(steps == steps.sorted, s"tsSteps must ascend: $tsSteps")
    new EnvelopeMicroBatchStream(this, steps, tsLo, tsHi,
      requiredSchema.fieldNames, scanWidth)
  }
}

/** Timestamp high-watermark offset: everything with ts <= `ts` has
  * been emitted. */
private[sources] case class TsOffset(ts: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"ts":$ts}"""
}

private[sources] class EnvelopeMicroBatchStream(scan: EnvelopeScan,
    steps: Seq[Long], tsLo: Long, tsHi: Long, columns: Array[String],
    scanWidth: Int)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.Offset

  // one step per trigger; stays at the final bound once exhausted
  private val stepIdx = new java.util.concurrent.atomic.AtomicInteger(0)
  // committed/recovered high-watermark: the step counter is in-memory
  // state, so on a checkpoint restart it resets to 0 — without the
  // clamp latestOffset would announce steps(0), REGRESSING below the
  // committed offset and re-planning (duplicating, in an append sink)
  // already-committed ts windows. Every offset the engine hands back
  // (checkpoint recovery via deserializeOffset, batch completion via
  // commit) raises the floor latestOffset may never go under.
  private val highWatermark =
    new java.util.concurrent.atomic.AtomicLong(Long.MinValue)

  private def noteWatermark(ts: Long): Unit = {
    highWatermark.accumulateAndGet(ts, (a, b) => math.max(a, b)); ()
  }

  override def initialOffset(): Offset =
    TsOffset(math.max(Long.MinValue + 1, tsLo) - 1)

  override def latestOffset(): Offset = {
    val i = stepIdx.getAndIncrement()
    TsOffset(math.max(steps(math.min(i, steps.size - 1)), highWatermark.get()))
  }

  override def deserializeOffset(json: String): Offset = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val ts = node.get("ts").asLong()
    noteWatermark(ts)
    TsOffset(ts)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = math.max(tsLo, start.asInstanceOf[TsOffset].ts + 1)
    val hi = math.min(tsHi, end.asInstanceOf[TsOffset].ts)
    val store = scan.mkStore()
    (0 until 256 / scanWidth).map(i =>
      EnvelopePartition(KeySlice(i, scanWidth), store, TsRange(lo, hi),
        columns): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EnvelopeReaderFactory

  override def commit(end: Offset): Unit =
    noteWatermark(end.asInstanceOf[TsOffset].ts)
  override def stop(): Unit = ()
}

private[sources] case class EnvelopePartition(slice: KeySlice,
    store: EnvelopeStore, ts: TsRange, columns: Array[String])
    extends InputPartition

private[sources] case class EnvelopeProbePartition(slice: KeySlice,
    rows: Array[Array[Byte]], store: EnvelopeStore, ts: TsRange,
    columns: Array[String]) extends InputPartition

private[sources] class EnvelopeReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: EnvelopeProbePartition => new EnvelopeProbeReader(p)
      case p => new EnvelopeReader(p.asInstanceOf[EnvelopePartition])
    }
}

/** Per-slice id streams for the fixture key space — the stand-in for a
  * scanner's seek-to-startRow. ONE memoised O(n) pass per (n, width)
  * per JVM routes every id to its slice (the CRC32 key prefix is not
  * invertible, so the index is precomputed rather than derived); every
  * reader then iterates exactly its slice's ids. Total work across a
  * stage: one pass + Σ slice sizes = O(n). Memory: 8 bytes × n per
  * JVM, the price of simulating a seekable store with a hash-salted
  * one — a real HBase impl deletes this object and seeks. */
private[sources] object SliceIndex {
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (Long, Int), Array[Array[Long]]]()
  /** Full index passes performed — pinned by the partition-work spec. */
  private[sources] val passes = new java.util.concurrent.atomic.AtomicInteger

  def forSlice(n: Long, scanWidth: Int, slice: Int): Array[Long] =
    memo.computeIfAbsent((n, scanWidth), { case (nn, w) =>
      passes.incrementAndGet()
      val builders = Array.fill(256 / w)(
        new scala.collection.mutable.ArrayBuilder.ofLong)
      var i = 0L
      while (i < nn) {
        builders(((Fixture.keyPrefixByte(i) + 128) & 0xff) / w) += i
        i += 1
      }
      builders.map(_.result())
    })(slice)
}

/** Streams the slice's records through the [[EnvelopeStore]] seam:
  * like an HBase scanner positioned at [startRow, stopRow), the store
  * iterator touches only this slice's ids, with the ts range applied
  * "server-side" (multi-version winner selection and ts pruning live
  * in the store — [[VersionSelect]] / [[FixtureEnvelopeStore]]). */
private[sources] class EnvelopeReader(p: EnvelopePartition)
    extends PartitionReader[InternalRow] {

  private val cells = p.store.scan(p.slice, p.ts)
  private var current: EnvelopeCell = _

  override def next(): Boolean =
    if (cells.hasNext) { current = cells.next(); true } else false

  override def get(): InternalRow = {
    val values = p.columns.map {
      case "hbase_id" => current.hbaseId
      case "ts" => current.ts: java.lang.Long
      case "value" => UTF8String.fromString(current.value)
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}

/** GET-path reader for pushed `hbase_id` point predicates — delegates
  * to [[EnvelopeStore.get]]: the HFile store answers through its
  * bloom-consulting multiGet (range prune → ROW bloom chunk test →
  * index descent only for maybe-present files — the region server's
  * bloom-backed GET, here as a DSv2 pushdown); other stores use the
  * trait's convention-free scan-and-filter default, so every store
  * kind honors the predicate with scan-identical semantics (latest
  * in-ts-range version per row, tombstones applied in the store). */
private[sources] class EnvelopeProbeReader(p: EnvelopeProbePartition)
    extends PartitionReader[InternalRow] {

  private val cells: Iterator[EnvelopeCell] = p.store.get(p.rows.toSeq, p.ts)
  private var current: EnvelopeCell = _

  override def next(): Boolean =
    if (cells.hasNext) { current = cells.next(); true } else false

  override def get(): InternalRow = {
    val values = p.columns.map {
      case "hbase_id" => current.hbaseId
      case "ts" => current.ts: java.lang.Long
      case "value" => UTF8String.fromString(current.value)
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}
