package graft.sources

import graft.pipeline.Fixture

/** One decrypt-ready envelope cell as the scan layer hands it to the
  * DSv2 reader: the raw row key, the winning cell timestamp, and the
  * wire-format JSON value. Deliberately store-agnostic — the fixture
  * generator, an HFile-snapshot reader, and a live HBase scanner all
  * reduce to this triple (the reference's `Result` →
  * `HBaseResultProcessor` hand-off, HBaseResultProcessor.kt:76-107). */
final case class EnvelopeCell(hbaseId: Array[Byte], ts: Long, value: String)

/** Closed timestamp range pushed into the scan (the
  * `scan.time.range.*` semantics, HBaseReader.kt:131-150). Pushdown
  * accumulation lives here so every store sees identical range
  * arithmetic to what `EnvelopeScanBuilder` advertises to Catalyst. */
final case class TsRange(lo: Long, hi: Long) {
  def contains(ts: Long): Boolean = ts >= lo && ts <= hi
}

object TsRange {
  val All: TsRange = TsRange(Long.MinValue, Long.MaxValue)
}

/** One signed-first-byte key-range slice of the row-key space — the
  * HBasePartitioner contract (app/batch/HBasePartitioner.kt:12-37):
  * slice `index` of width `width` covers unsigned first bytes
  * [index·width, (index+1)·width), i.e. signed bytes
  * [index·width − 128, (index+1)·width − 128). */
final case class KeySlice(index: Int, width: Int) {
  /** Inclusive signed start byte — an HBase impl's scan startRow. */
  def startByte: Int = index * width - 128
  /** Exclusive signed stop byte — an HBase impl's scan stopRow. */
  def stopByte: Int = (index + 1) * width - 128
}

/** Multi-version winner arithmetic, shared by every store: a key with
  * `numVersions` cell versions at ts = baseTs, baseTs+1, … returns
  * only the LATEST version whose ts falls inside the pushed range —
  * HBase `Scan.setTimeRange` + default one-version read
  * (HBaseReader.kt:145-150). An out-of-range newer version loses to
  * an in-range older one; a key with no in-range version yields
  * nothing. O(1) arithmetic — losing versions are never built. */
object VersionSelect {
  def latestIn(numVersions: Long, baseTs: Long, range: TsRange): Option[Long] = {
    val vTop = math.min(numVersions - 1L, range.hi - baseTs)
    if (vTop >= 0L && baseTs + vTop >= range.lo) Some(vTop) else None
  }
}

/** The store seam of the envelope source: everything above this trait
  * (table/scan-builder plumbing, ts-pushdown accumulation, key-range
  * slice planning, column pruning, the `InternalRow` adapter) is
  * store-independent; a store only answers "stream the cells of one
  * key slice under one ts range". [[FixtureEnvelopeStore]] streams the
  * deterministic fixture; [[HFileSnapshotStore]] scans the HBase
  * HFile v2/v3 snapshot files on disk.
  *
  * Partial-progress / retry contract (the reference's resume-at-key,
  * HBaseReader.kt:62-90, translated to Spark's execution model): the
  * reference reopens its scanner at the last-seen key, sound there
  * because Spring Batch commits per chunk. Spark's commit unit is the
  * TASK — a failed attempt's output is never visible — so a store
  * must (a) reopen-at-key only WITHIN one task attempt (transient
  * scanner drop: same attempt, same uncommitted output, no
  * duplication: track the last key this iterator emitted and reopen
  * the scanner just past it), and (b) bound cross-attempt re-work by
  * slice width, never by in-task checkpoints — a reopened ATTEMPT
  * restarts its slice from `slice.startByte`. Implementations must
  * therefore keep `scan` free of cross-attempt side effects. */
trait EnvelopeStore extends Serializable {
  def scan(slice: KeySlice, ts: TsRange): Iterator[EnvelopeCell]

  /** The slice index (of `width`-wide bands) that THIS store's `scan`
    * reads as owning `row` — slice-band conventions differ by store
    * ([[FixtureEnvelopeStore]] maps slice i to the SIGNED first-byte
    * band, the HFile store to the UNSIGNED band), so any
    * row-targeted scan must ask the store, never assume one mapping.
    * Default = unsigned bands (the [[HFileSnapshotStore]] layout);
    * wrappers delegate to their inner store. */
  def owningSlice(row: Array[Byte], width: Int): Int = (row(0) & 0xff) / width

  /** Point lookups for pushed `hbase_id` predicates. The default is
    * always correct and scans only the width-1 bands that can contain
    * the probed rows — each row's owning byte-band under THIS store's
    * own convention ([[owningSlice]]) — filtered to the probed rows,
    * so every store honors a pushed point predicate with
    * scan-identical semantics at cost O(Σ owning-band sizes), never a
    * full-key-space pass per probe partition. Stores with a real GET
    * path override it: [[HFileSnapshotStore]] answers through its
    * bloom-consulting [[HFileSnapshotStore.multiGet]]. */
  def get(rows: Seq[Array[Byte]], ts: TsRange): Iterator[EnvelopeCell] = {
    // zero-length keys match nothing and own no band — drop them
    // (the pushdown already filters them; this keeps direct callers
    // safe too)
    val probed = rows.filter(_.nonEmpty)
    val want = probed.map(_.toSeq).toSet
    val bands = probed.map(r => owningSlice(r, 1)).distinct.sorted
    bands.iterator.flatMap(b => scan(KeySlice(b, 1), ts))
      .filter(c => want.contains(c.hbaseId.toSeq))
  }
}

/** Fixture-backed store: streams the deterministic [[Fixture]] cells
  * of one slice via the memoised [[SliceIndex]] (the stand-in for a
  * scanner's seek-to-startRow — a real store seeks and deletes the
  * index). Out-of-range keys are skipped WITHOUT building or
  * encrypting the cell (the "server-side" pruning analogue); the
  * `Option` per key is the only cost of the seam. */
final case class FixtureEnvelopeStore(n: Long, corrupt: Boolean,
    tsSpread: Long, versions: Int) extends EnvelopeStore {

  /** The fixture's bands are SIGNED first-byte ranges ([[KeySlice]]'s
    * startByte/stopByte reading, routed through [[SliceIndex]]'s
    * `(signedByte + 128) / width` mapping) — the inverse mapping for a
    * raw row byte is offset-128, NOT the unsigned default. */
  override def owningSlice(row: Array[Byte], width: Int): Int =
    ((row(0) + 128) & 0xff) / width

  override def scan(slice: KeySlice, ts: TsRange): Iterator[EnvelopeCell] = {
    val ks = Fixture.keyService
    val dek = ks.batchDataKey().plaintextDataKey
    val encKey = ks.encryptKey(Fixture.MasterKeyId, dek)
    SliceIndex.forSlice(n, slice.width, slice.index).iterator.flatMap { i =>
      if (versions > 1) {
        VersionSelect.latestIn(1L + (i % versions), Fixture.CellTimestamp, ts)
          .map { vTop =>
            val c = Fixture.cell(i, dek, encKey, corrupt, vTop.toInt)
            EnvelopeCell(c.hbase_id, c.ts, c.value)
          }
      } else {
        val t = Fixture.CellTimestamp + (if (tsSpread > 0) i % tsSpread else 0L)
        if (ts.contains(t)) {
          val c = Fixture.cell(i, dek, encKey, corrupt)
          Some(EnvelopeCell(c.hbase_id, t, c.value))
        } else None
      }
    }
  }
}

/** Failure-injection wrapper proving the trait's cross-attempt retry
  * contract under Spark's OWN scheduler: on the FIRST attempt of each
  * task (TaskContext.attemptNumber == 0) the scan dies mid-slice after
  * `failAfter` cells; the retry attempt (a fresh task, fresh iterator)
  * scans clean. Spark discards the dead attempt's uncommitted output,
  * so the job result must be EXACTLY the fault-free result — the
  * Spark-native form of the reference's resume-at-key recovery
  * (HBaseReader.kt:62-90), where re-work is bounded by slice width and
  * no progress persists across attempts. Driver-side scans (no
  * TaskContext) are never failed. */
final case class FlakyEnvelopeStore(inner: EnvelopeStore, failAfter: Int)
    extends EnvelopeStore {
  // band convention is the INNER store's — the default get's banded
  // fallback routes through this, so the wrapper must not reintroduce
  // the unsigned default over a signed-band inner store
  override def owningSlice(row: Array[Byte], width: Int): Int =
    inner.owningSlice(row, width)

  override def scan(slice: KeySlice, ts: TsRange): Iterator[EnvelopeCell] = {
    val it = inner.scan(slice, ts)
    val sliceDesc = slice.toString
    val tc = org.apache.spark.TaskContext.get()
    if (tc == null || tc.attemptNumber() > 0) it
    else new Iterator[EnvelopeCell] {
      private var served = 0
      override def hasNext: Boolean = it.hasNext
      override def next(): EnvelopeCell = {
        if (served >= failAfter) {
          FlakyEnvelopeStore.faultsInjected.incrementAndGet()
          throw new java.io.IOException(
            s"injected mid-slice fault in $sliceDesc after $served cells")
        }
        served += 1
        it.next()
      }
    }
  }
}

object FlakyEnvelopeStore {
  /** Observability for the spec: how many injected faults actually
    * fired (a retry test that never faulted proves nothing). */
  val faultsInjected = new java.util.concurrent.atomic.AtomicInteger
}

// The HBase-snapshot scan layer itself — the real HFile v2 decoder and
// its [[HFileSnapshotStore]] — lives in HFileV2.scala. (Earlier rounds
// kept a documented throwing sketch here; the format is public, so the
// decoder now exists as exercised code and the sketch is retired.)
