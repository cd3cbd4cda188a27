package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** HBase MAJOR COMPACTION over an HFile snapshot directory — the
  * maintenance operator that bounds the generation count the scan's
  * heap-merge pays for (HBase ref guide §70 "Compaction"; the
  * reference's cluster runs this server-side, a snapshot-export
  * pipeline runs it over the exported files).
  *
  * Semantics (HBase's, re-expressed over the decoder):
  *  - per region, every generation file's cells heap-merge in
  *    (row ASC, ts DESC, generation DESC) order, keeping ALL versions
  *    — this is a major compaction without delete/TTL processing, the
  *    snapshot-export case;
  *  - an exact (row, ts) tie across generations resolves to the
  *    NEWEST generation's cell (the sequence-id rule — same tie-break
  *    the scan itself applies), so compaction can never change what a
  *    scan returns;
  *  - output is ONE file per region, written in any [[HFileShape]] —
  *    compaction doubles as a format transcoder (e.g. legacy v2/GZ
  *    generations into v3 + FAST_DIFF + multi-level index).
  *
  * Execution: one Spark task per region (the unit HBase compacts by),
  * each streaming its generations through constant memory — the
  * scanner decodes block-at-a-time and the writer buffers one block.
  * At 100 TB this is the same job with file IO against the DFS; no
  * driver materialization (the driver ships region→file lists, a few
  * strings each).
  */
object HFileCompaction {

  private val memo = new ConcurrentHashMap[(String, HFileShape, Boolean), String]()

  /** Regions of a snapshot dir: file names follow
    * `region-rNNN-gM.hfile`; generation order = name order (later
    * generation = newer, the fixture/HBase-seqid convention). */
  private[sources] def regionFiles(dir: String): Seq[(String, Seq[String])] =
    HFileSnapshotStore.hfilesIn(dir).groupBy(n =>
      Paths.get(n).getFileName.toString.split("-g").head)
      .toSeq.map { case (r, fs) => r -> fs.toSeq.sorted }
      .sortBy(_._1)

  /** Compacts `dir` into a fresh directory (memoised per (dir, shape,
    * dropDeletes) per JVM); returns the compacted directory path. */
  def compact(s: SparkSession, dir: String, shape: HFileShape,
      dropDeletes: Boolean = false): String =
    memo.computeIfAbsent((dir, shape, dropDeletes), { _ =>
      val out = Files.createTempDirectory("graft-hfile-compacted")
      val regions = regionFiles(dir)
      val outPath = out.toString
      s.sparkContext
        .parallelize(regions, math.max(1, regions.size))
        .foreach { case (region, files) =>
          compactRegion(files, s"$outPath/$region-g0.hfile", shape, dropDeletes)
        }
      outPath
    })

  /** Executor-side merge of one region's generation files into one
    * output file. Generation order = FileInfo MAX_SEQ_ID when present
    * (the store-file authority — real snapshot file names are random
    * hashes), name order as the fixture fallback; the output records
    * the MAX of its inputs' sequence ids, so compacted and
    * un-compacted generations keep a total order.
    *
    * `dropDeletes = false` (default) is the snapshot-export case:
    * every version AND every delete marker is carried over byte-intact
    * — compaction is invisible to any reader that applies masking
    * itself. `dropDeletes = true` is full MAJOR-compaction semantics
    * (HBase ref guide §70.2.3): puts masked by a delete scope are
    * dropped and the markers themselves are dropped too — afterwards
    * a previously-deleted (row, ts) could be legally re-put, exactly
    * as on a real cluster. */
  private[sources] def compactRegion(files: Seq[String], outFile: String,
      shape: HFileShape, dropDeletes: Boolean = false): Unit = {
    import HFileV2Format._
    val seqs = files.zipWithIndex.map { case (f, ord) =>
      readMeta(f).maxSeqId.getOrElse(ord.toLong)
    }
    val scanners = files.zip(seqs).map { case (f, seq) =>
      new HFileScanner(f, 0, 256, TsRange.All, seq)
    }.filter(_.hasNext)
    // (row ASC, ts DESC, sequence id DESC): same comparator as the
    // scan-side heap-merge in HFileSnapshotStore
    val ord = new Ordering[HFileScanner] {
      override def compare(a: HFileScanner, b: HFileScanner): Int = {
        val c = java.util.Arrays.compareUnsigned(b.head.key, a.head.key)
        if (c != 0) c
        else {
          val t = java.lang.Long.compare(a.head.ts, b.head.ts)
          if (t != 0) t else java.lang.Long.compare(a.seqId, b.seqId)
        }
      }
    }
    val pq = mutable.PriorityQueue(scanners: _*)(ord)
    // row-group merge (memory bounded by one row's cell count): exact
    // full-key duplicates across generations resolve to the highest
    // sequence id, delete scopes apply when dropDeletes, and the row's
    // survivors emit re-sorted in compareCellKeys order (a marker or a
    // qualifier change makes (row ASC, ts DESC) arrival order differ
    // from full-key file order, which the writer requires).
    val merged = new Iterator[Seq[HFileCell]] {
      override def hasNext: Boolean = pq.nonEmpty
      override def next(): Seq[HFileCell] = {
        val row = pq.head.head.key
        val cells = mutable.ArrayBuffer.empty[(HFileEntry, Long)]
        while (pq.nonEmpty && java.util.Arrays.equals(pq.head.head.key, row)) {
          val sc = pq.dequeue()
          val e = sc.next()
          val sSeq = sc.seqId
          if (sc.hasNext) pq.enqueue(sc)
          cells += ((e, sSeq))
        }
        // exact full-key tie -> keep only the highest-seq cell
        val deduped = cells
          .groupBy { case (e, _) => (e.qualifier.toSeq, e.ts, e.typ) }
          .map { case (_, group) => group.maxBy(_._2) }
          .toSeq
        val kept =
          if (!dropDeletes) deduped
          else {
            var famMax = Long.MinValue
            var famVers: Set[Long] = Set.empty
            var colMax = Map.empty[Seq[Byte], Long]
            var colVers = Set.empty[(Seq[Byte], Long)]
            deduped.foreach { case (e, _) => e.typ match {
              case KeyTypeDeleteFamily => famMax = math.max(famMax, e.ts)
              case KeyTypeDeleteFamilyVersion => famVers += e.ts
              case KeyTypeDeleteColumn =>
                val q = e.qualifier.toSeq
                colMax += q -> math.max(colMax.getOrElse(q, Long.MinValue), e.ts)
              case KeyTypeDelete => colVers += ((e.qualifier.toSeq, e.ts))
              case _ => ()
            }}
            deduped.filter { case (e, _) =>
              e.typ == KeyTypePut && !(e.ts <= famMax ||
                famVers.contains(e.ts) ||
                e.ts <= colMax.getOrElse(e.qualifier.toSeq, Long.MinValue) ||
                colVers.contains((e.qualifier.toSeq, e.ts)))
            }
          }
        kept
          .map { case (e, _) => HFileCell(e.key, e.ts, e.value, e.typ, e.qualifier) }
          .sortWith { (a, b) =>
            compareCellKeys(cellKey(a.row, a.ts, a.typ, a.qualifier),
              cellKey(b.row, b.ts, b.typ, b.qualifier)) < 0
          }.toSeq
      }
    }.flatten
    if (merged.hasNext)
      HFileV2Writer.writeCells(Paths.get(outFile), merged, shape,
        seqId = if (seqs.isEmpty) -1L else seqs.max)
    ()
  }
}
