package graft.sources

import java.nio.file.Files

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** Randomized round-trip fuzz over the HFile reader: random shapes
  * (codec × encoding × trailer version × block/index fan-out × mvcc ×
  * tags × bloom chunking, including the degenerate one-cell-per-block
  * and deep multi-level-index corners) and random corpora (multi-
  * version rows, all four delete scopes, generation overlap with
  * sequence-id ties) — the slice scan, the bloom point-probe, the
  * slice scan under an injected IOException at every cell offset
  * (reopen-at-key), and a snapshot-export compaction must all agree
  * with an in-memory model built from the SAME cells. The round-12 strict-floor seek bug
  * lived exactly in this space (a row's versions spanning a block
  * boundary under a targeted descent); this spec sweeps that corner
  * class systematically instead of one fixture at a time.
  *
  * The model shares [[HFileSnapshotStore.selectRowWinner]] with the
  * reader, so what the fuzz exercises is everything UNDER selection:
  * encode/decode (flat and FAST_DIFF), checksums, index construction
  * and descent at every level count, heap-merge assembly across
  * generations, the put-vs-marker ts-range admission rule, and bloom
  * chunk routing. Determinism: one fixed seed, trials derived from it.
  */
class HFileFuzzSpec extends AnyFunSuite {

  import HFileV2Format._

  private val Codecs =
    Seq(CodecNone, CodecGz, CodecSnappy, CodecLz4, CodecZstd)
  private val MarkerScopes = Seq(KeyTypeDelete, KeyTypeDeleteColumn,
    KeyTypeDeleteFamily, KeyTypeDeleteFamilyVersion)

  /** The put-vs-marker admission rule both read paths apply
    * (ScanQueryMatcher's withinOrAfterTimeRange for markers). */
  private def admitted(e: HFileCell, range: TsRange): Boolean =
    if (isDelete(e.typ)) e.ts >= range.lo else range.contains(e.ts)

  private def modelWinners(cells: Seq[(HFileCell, Long)], range: TsRange)
      : Map[Seq[Byte], (Long, String)] =
    cells.groupBy(_._1.row.toSeq).flatMap { case (row, rc) =>
      val tracked = rc.filter { case (c, _) => admitted(c, range) }
        .map { case (c, seq) =>
          (HFileEntry(c.row, c.ts, c.value, c.typ, c.qualifier), seq)
        }
      HFileSnapshotStore.selectRowWinner(tracked).map(w =>
        row -> ((w.ts, new String(w.value, java.nio.charset.StandardCharsets.UTF_8))))
    }

  private def scanAll(store: HFileSnapshotStore, range: TsRange,
      width: Int = 8): Map[Seq[Byte], (Long, String)] =
    (0 until 256 / width).flatMap(i => store.scan(KeySlice(i, width), range).toSeq)
      .map(c => c.hbaseId.toSeq -> ((c.ts, c.value))).toMap

  test("random shapes and corpora: scan, probe, and compaction match the model") {
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 20) {
      val major = if (rnd.nextBoolean()) 3 else 2
      val shape = HFileShape(
        codec = Codecs(rnd.nextInt(Codecs.size)),
        blockEntries = 1 + rnd.nextInt(6),
        encoding = if (rnd.nextBoolean()) EncodingFastDiff else EncodingNone,
        majorVersion = major,
        includesMvcc = rnd.nextBoolean(),
        includesTags = major == 3 && rnd.nextBoolean(), // tags are v3-only
        maxIndexEntriesPerBlock =
          if (rnd.nextBoolean()) 2 + rnd.nextInt(3) else Int.MaxValue,
        bloomRowsPerChunk = if (rnd.nextBoolean()) 1 + rnd.nextInt(8) else 0)
      val ctx = s"trial $trial shape $shape"

      // random row universe: short random keys, first bytes across the
      // full signed range so every slice band can be hit
      val rows = (0 until 24).map { _ =>
        val len = 1 + rnd.nextInt(5)
        val a = new Array[Byte](len); rnd.nextBytes(a); a
      }.distinctBy(_.toSeq)

      // two overlapping generations: multi-version puts + random-scope
      // markers; exact full-key duplicates across generations land on
      // purpose (sequence-id tie-break), within a file they are deduped
      val gens = (0 until 2).map { g =>
        val cells = mutable.ArrayBuffer.empty[HFileCell]
        rows.foreach { row =>
          val versions = rnd.nextInt(4) // 0..3 puts
          (0 until versions).foreach { _ =>
            val ts = 1000L + rnd.nextInt(5)
            cells += HFileCell(row, ts,
              s"v-${row.toSeq.mkString("_")}-$ts-g$g".getBytes("UTF-8"))
          }
          if (rnd.nextDouble() < 0.35) {
            val scope = MarkerScopes(rnd.nextInt(MarkerScopes.size))
            val q = if (scope == KeyTypeDeleteFamily ||
              scope == KeyTypeDeleteFamilyVersion) EmptyQualifier else Qualifier
            cells += HFileCell(row, 1000L + rnd.nextInt(5),
              Array.emptyByteArray, scope, q)
          }
        }
        val deduped = cells
          .distinctBy(c => (c.row.toSeq, c.ts, c.typ, c.qualifier.toSeq))
          .sortWith { (a, b) =>
            compareCellKeys(cellKey(a.row, a.ts, a.typ, a.qualifier),
              cellKey(b.row, b.ts, b.typ, b.qualifier)) < 0
          }
        (g.toLong, deduped.toSeq)
      }.filter(_._2.nonEmpty)

      val dir = Files.createTempDirectory(s"graft-hfile-fuzz-$trial")
      gens.foreach { case (g, cells) =>
        HFileV2Writer.writeCells(
          dir.resolve(f"region-r000-g$g%03d.hfile"), cells.iterator, shape,
          seqId = g)
      }
      val allCells = gens.flatMap { case (g, cs) => cs.map(c => (c, g)) }
      val store = HFileSnapshotStore(dir.toString)

      val ranges = Seq(TsRange.All, TsRange(1000L, 1002L),
        TsRange(1002L, 1004L), TsRange(1001L, 1001L))
      for (range <- ranges) {
        val expected = modelWinners(allCells, range)
        val scanned = scanAll(store, range)
        assert(scanned === expected, s"$ctx scan range $range")

        // point probes: every row in the universe + perturbed absents
        val absents = rows.map { r =>
          val x = r.clone(); x(x.length - 1) = (x(x.length - 1) ^ 0x5a).toByte; x
        }.filter(r => !rows.exists(_.sameElements(r)))
        val rep = store.multiGet(rows ++ absents, range)
        val probed = rep.found
          .map(c => c.hbaseId.toSeq -> ((c.ts, c.value))).toMap
        assert(probed === expected, s"$ctx probe range $range")
        val ctl = store.multiGet(rows ++ absents, range, useBloom = false)
        assert(ctl.found.map(c => (c.hbaseId.toSeq, c.ts, c.value)) ===
          rep.found.map(c => (c.hbaseId.toSeq, c.ts, c.value)),
          s"$ctx probe control arm")
      }

      // reopen-at-key: an injected IOException after EVERY cell offset
      // of the largest file must leave the scan equal to the model —
      // full-width scans reach every offset, 8-wide slices fault
      // right after their seek
      val maxCells = gens.map(_._2.size).max
      for (failAt <- 1 to maxCells; range <- ranges) {
        val faulty = HFileSnapshotStore(dir.toString,
          failAfterEntries = Some(failAt))
        val expected = modelWinners(allCells, range)
        assert(scanAll(faulty, range, width = 256) === expected,
          s"$ctx full-width failAt $failAt range $range")
        assert(scanAll(faulty, range) === expected,
          s"$ctx sliced failAt $failAt range $range")
      }

      // snapshot-export compaction (markers carried) into ANOTHER
      // random shape is invisible to every read path
      val outShape = HFileShape(
        codec = Codecs(rnd.nextInt(Codecs.size)),
        blockEntries = 1 + rnd.nextInt(6),
        encoding = if (rnd.nextBoolean()) EncodingFastDiff else EncodingNone,
        majorVersion = 3, includesMvcc = true,
        bloomRowsPerChunk = if (rnd.nextBoolean()) 1 + rnd.nextInt(8) else 0)
      val out = Files.createTempDirectory(s"graft-hfile-fuzz-c$trial")
      HFileCompaction.regionFiles(dir.toString).foreach { case (r, fs) =>
        HFileCompaction.compactRegion(fs, s"$out/$r-g000.hfile", outShape)
      }
      val compacted = HFileSnapshotStore(out.toString)
      for (range <- ranges)
        assert(scanAll(compacted, range) === modelWinners(allCells, range),
          s"$ctx compacted scan range $range (out shape $outShape)")

      // MAJOR compaction (dropDeletes): markers apply at compaction
      // time and vanish; scans must STILL equal the model at every
      // range — a put masked by a marker below a range floor is below
      // that floor itself, so dropping it can never change a range
      // scan (the invariant the fixture spec pins once, fuzzed here
      // across random marker/scope/ts interactions)
      val outMajor = Files.createTempDirectory(s"graft-hfile-fuzz-m$trial")
      HFileCompaction.regionFiles(dir.toString).foreach { case (r, fs) =>
        HFileCompaction.compactRegion(fs, s"$outMajor/$r-g000.hfile",
          outShape, dropDeletes = true)
      }
      // a fully-masked region writes no file; an empty compacted dir
      // means the model must be empty everywhere
      val hasFiles = Files.list(outMajor).iterator().hasNext
      for (range <- ranges) {
        val expected = modelWinners(allCells, range)
        if (hasFiles)
          assert(scanAll(HFileSnapshotStore(outMajor.toString), range) ===
            expected, s"$ctx major-compacted scan range $range")
        else assert(expected.isEmpty, s"$ctx empty major compaction")
      }
    }
  }
}
