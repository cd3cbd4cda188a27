package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{ExportPipeline, Fixture, Transforms}

/** End-to-end export-pipeline queries over the deterministic envelope
  * fixture (the reference's own 10,000-record corpus shape). The sfDir
  * argument is unused — the fixture is generated in-executor — so these
  * run at every scale tier; oracles are golden constants mirroring the
  * reference integration assertions (UberTestSpec.kt:171-177,416-423).
  */
object PipelineQueries {

  /** Export-fixture record count. Default 10,000 — the reference
    * integration corpus, and the size every oracle constant in this
    * file assumes (Verify always runs at the default). The bench's
    * export-scaling pass raises it via [[withFixtureN]] to measure how
    * the scan → pipeline → sink path scales with fixture size — the
    * parquet-backed sf curve can't see these queries (their inputs are
    * generated, not read from the sf dir). Must stay divisible by the
    * fixture's modular spreads (versions 5, tsSpread 10, corruption
    * slots per 100). */
  @volatile private var fixtureN: Long = 10000L
  private def N: Long = fixtureN

  /** Runs `body` with the export fixture scaled to `n` records,
    * restoring the default (and the N-keyed corpus cache) after.
    * Bench-only: oracle constants hold ONLY at the default size. */
  def withFixtureN[A](n: Long)(body: => A): A = {
    require(n % 100 == 0 && n % 5 == 0, s"fixture N must keep the modular spreads: $n")
    fixtureN = n
    try body finally fixtureN = 10000L
  }

  // q40 and q42 both consume the clean-corpus pipeline output; cache it
  // once per JVM (the corpus is dir-independent) instead of re-running
  // 10k decrypt+validate passes per query. Keyed by the fixture size so
  // the export-scaling pass never reuses a differently-sized corpus,
  // single-slot so the superseded one's storage is released.
  @transient private var cachedClean: Option[(Long, DataFrame)] = None
  private def cleanRecords(s: SparkSession): DataFrame = synchronized {
    cachedClean match {
      case Some((n, df)) if n == fixtureN => df
      case prev =>
        prev.foreach(_._2.unpersist())
        cachedClean = None
        val recs = ExportPipeline.records(ExportPipeline.run(
          Fixture.generate(s, N), Fixture.Topic, Fixture.keyService)).cache()
        cachedClean = Some((fixtureN, recs))
        recs
    }
  }

  /** Unpersists the clean-corpus cache (long-lived JVMs that move past
    * the golden queries reclaim the storage here). */
  def clearCleanCache(): Unit = synchronized {
    cachedClean.foreach(_._2.unpersist()); cachedClean = None
  }

  // ------------------------------------------------ q40 roundtrip
  /** Full parse → decrypt → audit-gate → validate → sanitise run;
    * aggregates the reference's golden invariants:
    *  - all 10,000 records survive (no skips on the clean corpus);
    *  - exactly 5,000 (the odd, scalar-`_id` half) take the `$oid` →
    *    `d_oid` path; manifest ids keep unsanitised `$oid`;
    *  - every document's dates are `$date`-wrapped then sanitised to
    *    `d_date`; every document round-trips its own 5-digit id;
    *  - manifest ids are unique (canonical key-sorted serialization).
    */
  def q40PipelineRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val recs = cleanRecords(s)
    recs.agg(
      count(lit(1)).as("n_records"),
      count(when(col("doc").contains("d_oid"), 1)).as("n_doid"),
      count(when(col("doc").contains("d_date"), 1)).as("n_ddate"),
      count(when(col("m_id").contains("$oid"), 1)).as("n_moid"),
      countDistinct(col("m_id")).as("n_ids"),
      countDistinct(col("m_original_id")).as("n_orig_ids"),
      count(when(col("doc").contains(
        regexp_extract(col("id_json"), "\"record_id\":\"(\\d{5})\"", 1)), 1))
        .as("n_id_roundtrip"),
      count(when(col("m_db") === Fixture.Db &&
        col("m_collection") === Fixture.Collection &&
        col("m_source") === "EXPORT" &&
        col("m_outer") === "OUTER_TYPE" &&
        col("m_inner") === "INNER_TYPE" &&
        col("m_ts") === Fixture.CellTimestamp, 1)).as("n_manifest_ok"))
  }

  val q40Sql: String =
    """SELECT CAST(10000 AS BIGINT) AS n_records,
      |CAST(5000 AS BIGINT) AS n_doid,
      |CAST(10000 AS BIGINT) AS n_ddate,
      |CAST(5000 AS BIGINT) AS n_moid,
      |CAST(10000 AS BIGINT) AS n_ids,
      |CAST(10000 AS BIGINT) AS n_orig_ids,
      |CAST(10000 AS BIGINT) AS n_id_roundtrip,
      |CAST(10000 AS BIGINT) AS n_manifest_ok""".stripMargin

  // ------------------------------------------------ q41 typed skips
  /** Corrupted corpus: 100 records each hit the missing-mandatory-field,
    * undecryptable-ciphertext and unparseable-payload paths; the rest
    * export. Typed skip accounting read from the data — the Spark-first
    * form of the reference's skip-limit configuration
    * (JobConfiguration.kt:57-61). */
  def q41PipelineSkips(s: SparkSession, dir: String): DataFrame = {
    val out = ExportPipeline.run(
      Fixture.generate(s, N, corrupt = true), Fixture.Topic, Fixture.keyService)
    ExportPipeline.skipSummary(out)
  }

  val q41Sql: String =
    """SELECT outcome, CAST(n AS BIGINT) AS n FROM (VALUES
      |('bad_decrypted', 100), ('decrypt_failed', 100),
      |('missing:dbObject', 100), ('ok', 9700)) AS t(outcome, n)
      |ORDER BY outcome""".stripMargin

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  // ------------------------------------------------ q42 writer golden
  /** Full pipeline + byte-rolling encrypted snapshot writer + paired
    * manifests, then the writer invariants as golden constants:
    * every record written exactly once, every manifest line-count
    * matches its batch, no batch exceeds the byte threshold, every
    * file decrypt+decompress round-trips to its record count, and the
    * two signed-byte key slices both produced output
    * (reference: S3StreamingWriterTest.kt + UberTestSpec.kt:513-592). */
  def q42WriterGolden(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.SnapshotWriter
    val ks = Fixture.keyService
    val recs = cleanRecords(s)
    val outDir = java.nio.file.Files.createTempDirectory("graft-q42-out")
    val manDir = java.nio.file.Files.createTempDirectory("graft-q42-man")
    val cfg = SnapshotWriter.Config(outDir.toString, manDir.toString,
      Fixture.Topic, maxBatchBytes = 100000, compression = "gz")
    val acct = SnapshotWriter.write(recs, cfg, ks).collect().toSeq
    val nRecords = acct.map(_.records).sum
    val nOversize = acct.count(_.batch_bytes > 100000)
    val nManifestMismatch = acct.count { fa =>
      val lines = java.nio.file.Files.readString(
        new java.io.File(manDir.toFile, fa.manifest_file).toPath)
        .split("\n").count(_.nonEmpty)
      lines != fa.records
    }
    val nRoundtripBad = acct.count { fa =>
      SnapshotWriter.readBack(outDir.toString, fa.file, "gz", ks)
        .length != fa.records
    }
    // metadata parity (S3ObjectServiceImpl.kt:38-47 +
    // StreamingManifestWriter.kt:60-65): every object sidecar carries
    // the product fields downstream consumers key on, every manifest
    // has its own text/plain sidecar with the right length
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val nMetaBad = acct.count { fa =>
      val m = mapper.readTree(java.nio.file.Files.readString(
        new java.io.File(outDir.toFile, s"${fa.file}.metadata.json").toPath))
      m.get("data_product").asText() != Fixture.Topic ||
        m.get("data_product_type").asText() != "full" ||
        m.get("x-amz-meta-title").asText() != fa.file ||
        m.get("contentType").asText() != "binary/octetstream" ||
        m.get("contentLength").asLong() !=
          new java.io.File(outDir.toFile, fa.file).length()
    }
    val nManifestMetaBad = acct.count { fa =>
      val m = mapper.readTree(java.nio.file.Files.readString(new java.io.File(
        manDir.toFile, s"${fa.manifest_file}.metadata.json").toPath))
      m.get("contentType").asText() != "text/plain" ||
        m.get("x-amz-meta-title").asText() != fa.manifest_file ||
        m.get("contentLength").asLong() !=
          new java.io.File(manDir.toFile, fa.manifest_file).length()
    }
    val slices = acct.map(_.slice).distinct.sorted.mkString(",")
    deleteRecursively(outDir)
    deleteRecursively(manDir)
    import s.implicits._
    Seq((nRecords, nOversize.toLong, nManifestMismatch.toLong,
      nRoundtripBad.toLong, nMetaBad.toLong, nManifestMetaBad.toLong, slices))
      .toDF("n_records", "n_oversize", "n_manifest_mismatch",
        "n_roundtrip_bad", "n_meta_bad", "n_manifest_meta_bad", "slices")
  }

  val q42Sql: String =
    """SELECT CAST(10000 AS BIGINT) AS n_records,
      |CAST(0 AS BIGINT) AS n_oversize,
      |CAST(0 AS BIGINT) AS n_manifest_mismatch,
      |CAST(0 AS BIGINT) AS n_roundtrip_bad,
      |CAST(0 AS BIGINT) AS n_meta_bad,
      |CAST(0 AS BIGINT) AS n_manifest_meta_bad,
      |'000-128,128-000' AS slices""".stripMargin

  // ------------------------------------------- q44 incremental export
  /** Incremental export semantics over the DSv2 source: the time-range
    * is PUSHED INTO THE SCAN (SupportsPushDownFilters — the
    * "server-side" `scan.time.range.*` of HBaseReader.kt:131-150), the
    * full pipeline runs on the surviving slice with
    * `snapshotType = "incremental"`, so the manifest timestamp
    * preference flips to `_lastModifiedDateTime`-first PER RECORD
    * (Validator.kt:172-193 incremental branch) — `m_ts` below is the
    * pipeline's own output, flowing from each record's document
    * fields, not a driver-side constant. Golden constants: the source
    * spreads cell ts over [1000, 1010), the range [1003, 1008) keeps
    * exactly half the corpus, and every record's `_lastModifiedDateTime`
    * ("2018-12-14T15:01:02.000+0000") resolves to 1544799662000 ms —
    * one distinct manifest timestamp, ≠ any cell ts. */
  def q44IncrementalExport(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.format("graft.sources.EnvelopeSource")
      .option("n", N).option("scanWidth", 64).option("tsSpread", 10)
      .load()
      .filter(col("ts") >= 1003L && col("ts") < 1008L)
    val out = ExportPipeline.run(raw, Fixture.Topic, Fixture.keyService,
      snapshotType = "incremental")
    val recs = ExportPipeline.records(out)
    recs.agg(
      count(lit(1)).as("n_records"),
      countDistinct(col("m_id")).as("n_ids"),
      count(when(col("ts") >= 1003L && col("ts") < 1008L, 1)).as("n_in_range"),
      countDistinct(col("m_ts")).as("n_distinct_ts"),
      min(col("m_ts")).as("manifest_ms"),
      count(when(col("m_ts") === col("ts"), 1)).as("n_cell_ts_leak"))
  }

  val q44Sql: String =
    """SELECT CAST(5000 AS BIGINT) AS n_records,
      |CAST(5000 AS BIGINT) AS n_ids,
      |CAST(5000 AS BIGINT) AS n_in_range,
      |CAST(1 AS BIGINT) AS n_distinct_ts,
      |CAST(1544799662000 AS BIGINT) AS manifest_ms,
      |CAST(0 AS BIGINT) AS n_cell_ts_leak""".stripMargin

  // --------------------------------------- q47 multi-version export
  /** Multi-version latest-cell-in-range semantics — the reference's
    * core read path: tables hold many versions per key
    * (images/hbase/hbase_data.py:32 `max_versions=1000000`) and the
    * scan returns the latest cell inside `[start, end)`
    * (HBaseReader.kt:145-150), with the record ts taken from that
    * winning cell (HBaseResultProcessor.kt:76-77). Source: key i holds
    * `1 + (i%5)` versions at ts 1000+v, version v's payload carries
    * `"v":v`; the pushed range `[1000, 1003)` must export version
    * `min(i%5, 2)` for EVERY key — overwritten versions never leak,
    * out-of-range newer versions lose to in-range older ones. Golden
    * constants: 2000/2000/6000 keys export v0/v1/v2, no doc carries
    * v>2 (`max_v`), every record's cell ts is 1000+v (`n_ts_match`),
    * and the full-snapshot manifest ts equals that winning-cell ts
    * (`n_mts_match` — Validator.kt production stamp). */
  def q47MultiversionExport(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.format("graft.sources.EnvelopeSource")
      .option("n", N).option("scanWidth", 64).option("versions", 5)
      .load()
      .filter(col("ts") >= 1000L && col("ts") < 1003L)
    multiversionContract(raw, s)
  }

  /** The q47 invariant battery over any envelope scan relation —
    * shared by q47 (generated fixture store) and the HFile-store
    * queries (q210, q243, q247), so every store is held to the SAME
    * oracle constants. */
  private def multiversionContract(raw: DataFrame, s: SparkSession): DataFrame = {
    val out = ExportPipeline.run(raw, Fixture.Topic, Fixture.keyService)
    val recs = ExportPipeline.records(out)
    val seq = coalesce(
      nullif(regexp_extract(col("doc"), "\"v\":(\\d+)", 1), lit("")),
      lit("0")).cast("long")
    recs.agg(
      count(lit(1)).as("n_records"),
      count(when(seq === 0L, 1)).as("n_v0"),
      count(when(seq === 1L, 1)).as("n_v1"),
      count(when(seq === 2L, 1)).as("n_v2"),
      max(seq).as("max_v"),
      count(when(col("ts") === lit(1000L) + seq, 1)).as("n_ts_match"),
      count(when(col("m_ts") === col("ts"), 1)).as("n_mts_match"))
  }

  val q47Sql: String =
    """SELECT CAST(10000 AS BIGINT) AS n_records,
      |CAST(2000 AS BIGINT) AS n_v0,
      |CAST(2000 AS BIGINT) AS n_v1,
      |CAST(6000 AS BIGINT) AS n_v2,
      |CAST(2 AS BIGINT) AS max_v,
      |CAST(10000 AS BIGINT) AS n_ts_match,
      |CAST(10000 AS BIGINT) AS n_mts_match""".stripMargin

  // ------------------------------------- q210 HBase HFile v2 store
  /** q47's multi-version export contract with the scan reading the
    * HBase HFile v2 BYTE FORMAT itself ([[graft.sources
    * .HFileSnapshotStore]]): 212-byte v2 trailers, root block index
    * seek, DATABLK* decode with gzip + CRC32 checksum verification,
    * FileInfo first/last-key pruning, heap-merge of region generation
    * files with the pushed ts range applied at the decoder — the
    * production snapshot-scan layer for the reference's table
    * (HBaseReader.kt:145-187 reads the same cells over RPC). Same
    * corpus, so every golden constant of q47 must hold verbatim. The
    * historical q207 key runs this same query. */
  def q210HfileStore(s: SparkSession, dir: String): DataFrame = {
    val snap = graft.sources.HFileFixture.snapshotDir(
      N, versions = 5, regions = 4, gens = 2)
    val raw = s.read.format("graft.sources.EnvelopeSource")
      .option("store", "hfile").option("path", snap)
      .option("scanWidth", 64)
      .load()
      .filter(col("ts") >= 1000L && col("ts") < 1003L)
    multiversionContract(raw, s)
  }

  val q210Sql: String = q47Sql

  // ------------------------- q243 modern-cluster HFile shape (v3)
  /** q47's multi-version export contract over the HFile shape a MODERN
    * cluster writes by default ([[graft.sources.HFileShape]]): v3
    * protobuf trailer (4096-byte FileTrailerProto) + PBUF FileInfo,
    * FAST_DIFF-encoded data blocks (FastDiffDeltaEncoder flag-byte
    * layout), per-cell memstore-mvcc vlong trailers, and a fan-out
    * small enough that the data block index goes MULTI-LEVEL
    * (root → leaf), so the scan must descend the index level by level
    * ([[graft.sources.HFileV2Format.IndexCursor]]). Same corpus as
    * q47/q210, so every golden constant must hold verbatim — delta
    * decoding, index descent, and trailer parsing all sit on the read
    * path of every cell. Reference equivalent: the HBase client scan
    * at batch/HBaseReader.kt:145-187 gets all of this from the HBase
    * runtime. */
  def q243HfileV3Store(s: SparkSession, dir: String): DataFrame = {
    // ZSTD is the modern-cluster default table codec — with FAST_DIFF
    // + a multi-level index this is the exact shape a new cluster's
    // store files arrive in (codec framing: Hadoop BlockCompressorStream,
    // HFileV2Format.hadoopBlockCompress). SNAPPY (the legacy default)
    // keeps byte-parity coverage in EnvelopeStoreSpec's codec sweep.
    val snap = graft.sources.HFileFixture.snapshotDir(
      N, versions = 5, regions = 4, gens = 2,
      shape = graft.sources.HFileShape(
        codec = graft.sources.HFileV2Format.CodecZstd, blockEntries = 64,
        encoding = graft.sources.HFileV2Format.EncodingFastDiff,
        majorVersion = 3, includesMvcc = true, maxIndexEntriesPerBlock = 8))
    val raw = s.read.format("graft.sources.EnvelopeSource")
      .option("store", "hfile").option("path", snap)
      .option("scanWidth", 64)
      .load()
      .filter(col("ts") >= 1000L && col("ts") < 1003L)
    multiversionContract(raw, s)
  }

  val q243Sql: String = q47Sql

  // --------------------------- q247 major compaction of the snapshot
  /** q47's multi-version export contract over a MAJOR-COMPACTED
    * snapshot: the q210 fixture's 8 generation files (4 regions × 2
    * gens, v2 + GZ) compact region-parallel — one Spark task per
    * region, all versions kept, exact-(row, ts) ties to the newest
    * generation — into ONE file per region, TRANSCODED to the
    * modern-cluster shape (v3 protobuf trailer, FAST_DIFF blocks,
    * mvcc trailers, multi-level index), via
    * [[graft.sources.HFileCompaction]]. The scan over the compacted
    * snapshot must reproduce every golden constant of q47 verbatim —
    * compaction is invisible to readers by construction (the
    * decoder-level heap-merge it removes is exactly the merge it
    * performed at write time). */
  def q247HfileCompaction(s: SparkSession, dir: String): DataFrame = {
    val snap = graft.sources.HFileFixture.snapshotDir(
      N, versions = 5, regions = 4, gens = 2)
    val compacted = graft.sources.HFileCompaction.compact(s, snap,
      graft.sources.HFileShape(
        codec = graft.sources.HFileV2Format.CodecGz,
        encoding = graft.sources.HFileV2Format.EncodingFastDiff,
        majorVersion = 3, includesMvcc = true,
        maxIndexEntriesPerBlock = 16))
    val raw = s.read.format("graft.sources.EnvelopeSource")
      .option("store", "hfile").option("path", compacted)
      .option("scanWidth", 64)
      .load()
      .filter(col("ts") >= 1000L && col("ts") < 1003L)
    multiversionContract(raw, s)
  }

  val q247Sql: String = q47Sql

  // ------------------ q276 tombstone (delete-marker) scan semantics
  /** The multi-version export contract over a snapshot WITH DELETE
    * MARKERS — the between-major-compactions state of a real table,
    * where scanning without tombstone masking silently RESURRECTS
    * deleted rows. Fixture = the q47 corpus plus a third generation
    * (highest sequence id) of markers covering all four HBase delete
    * scopes ([[graft.sources.HFileFixture.tombstoneSnapshotDir]]):
    * DeleteFamily wipes its keys entirely (class 1 → 1000 keys do NOT
    * export), DeleteColumn masks at-or-before its ts but a NEWER put
    * survives (class 2 → v2 wins), the exact-version scopes Delete /
    * DeleteFamilyVersion mask ONE ts and the winner falls back to the
    * next older in-range version (classes 3/4/6). The region server
    * applies these for the reference's live scan
    * (batch/HBaseReader.kt:145-187 + HBase scan semantics); here the
    * [[graft.sources.HFileSnapshotStore]] heap-merge does. Golden
    * constants: 9000 of 10000 keys export; v0/v1/v2 = 3000/2000/4000
    * (vs the undeleted corpus's 2000/2000/6000). */
  def q276TombstoneExport(s: SparkSession, dir: String): DataFrame = {
    val snap = graft.sources.HFileFixture.tombstoneSnapshotDir(N)
    val raw = s.read.format("graft.sources.EnvelopeSource")
      .option("store", "hfile").option("path", snap)
      .option("scanWidth", 64)
      .load()
      .filter(col("ts") >= 1000L && col("ts") < 1003L)
    multiversionContract(raw, s)
  }

  val q276Sql: String =
    """SELECT CAST(9000 AS BIGINT) AS n_records,
      |CAST(3000 AS BIGINT) AS n_v0,
      |CAST(2000 AS BIGINT) AS n_v1,
      |CAST(4000 AS BIGINT) AS n_v2,
      |CAST(2 AS BIGINT) AS max_v,
      |CAST(9000 AS BIGINT) AS n_ts_match,
      |CAST(9000 AS BIGINT) AS n_mts_match""".stripMargin

  // ------------------- q278 bloom-filtered point probes (multi-get)
  /** Selective key recovery over the HFile snapshot through the
    * general ROW bloom read path — the GET workload a region server
    * answers from its blooms, run distributed: probe groups fan out as
    * Spark tasks, each opening [[graft.sources.HFileSnapshotStore]]
    * against the shared snapshot and multi-getting its rows
    * ([[graft.sources.HFileSnapshotStore.multiGet]]: range prune →
    * bloom chunk test → index descent only for maybe-present files).
    * Probes: 500 present keys (0..499) and 500 perturbed rows that
    * exist nowhere. Golden constants: every present key exports its
    * q47 winner under ts [1000,1002] — version min(i%5, 2), so
    * 100/100/300 across v0/v1/v2 — no absent row matches, every task
    * bloom-skips at least one file somewhere (single-version keys are
    * absent from generation 1; perturbed rows from all), the
    * bloom-consulting pass reads strictly fewer data blocks than the
    * `useBloom = false` control, and both passes agree cell-for-cell.
    * At 100 TB this is the audit shape "recover these N keys from a
    * snapshot of thousands of store files": ~hashCount bloom bits per
    * non-matching file instead of an index descent + block fetch.
    * A second leg drives the SAME snapshot through the DSv2 planned
    * scan with a `filter(isin)`: `probe_plan` pins that the row set
    * pushes down (`ProbedRows: k` in the scan description) and the
    * plan holds one probe partition per owning slice rather than
    * full-range slices; `probe_rows` pins the fetched row count. */
  def q278BloomProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = graft.sources.HFileFixture.snapshotDir(
      N, versions = 5, regions = 4, gens = 2,
      shape = graft.sources.HFileShape(
        codec = graft.sources.HFileV2Format.CodecGz,
        bloomRowsPerChunk = 512))
    val ks = Fixture.keyService
    val dek = ks.batchDataKey().plaintextDataKey
    val encKey = ks.encryptKey(Fixture.MasterKeyId, dek)
    def rowOf(i: Long): Array[Byte] =
      Fixture.cell(i, dek, encKey, corrupt = false, 0).hbase_id
    val present = (0L until 500L).map(rowOf)
    // perturbed tail byte: real rows end in '}', so these exist in NO
    // file at any fixture size — pure bloom-skip / FP traffic
    val absent = (5000L until 5500L).map(rowOf).map { r =>
      val x = r.clone(); x(x.length - 1) = (x(x.length - 1) ^ 0x5a).toByte; x
    }
    // present and absent groups probe separately so the control pass's
    // block reads for absent rows aren't hidden by a shared block cache
    val groups = (present.grouped(64) ++ absent.grouped(64)).toSeq
    val stats = s.sparkContext.parallelize(groups, groups.size).map { rows =>
      val store = graft.sources.HFileSnapshotStore(snap)
      val range = graft.sources.TsRange(1000L, 1002L)
      val rep = store.multiGet(rows, range)
      val ctl = store.multiGet(rows, range, useBloom = false)
      val parityMiss =
        if (rep.found.map(c => (c.hbaseId.toSeq, c.ts, c.value)) ==
          ctl.found.map(c => (c.hbaseId.toSeq, c.ts, c.value))) 0L else 1L
      (rep.found.size.toLong,
        rep.found.count(_.ts == 1000L).toLong,
        rep.found.count(_.ts == 1001L).toLong,
        rep.found.count(_.ts == 1002L).toLong,
        rep.bloomSkips.toLong, rep.dataBlocksRead.toLong,
        ctl.dataBlocksRead.toLong, parityMiss)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4,
      a._5 + b._5, a._6 + b._6, a._7 + b._7, a._8 + b._8))
    // DSv2 point-pushdown leg — the SAME snapshot probed through the
    // PLANNED scan: a `filter(isin)` over the envelope source must
    // push the row set into the ScanBuilder (the plan carries
    // `ProbedRows: k`) and plan one probe partition per OWNING slice,
    // never the 256/width full-range slices — this is the oracle gate
    // on the q24 no_exchange pattern: if the pushdown regresses to
    // full slices, `probe_plan` flips false and correctness goes red.
    val probeRows = present.take(3)
    val probeDf = s.read.format("graft.sources.EnvelopeSource")
      .option("store", "hfile").option("path", snap)
      .option("scanWidth", "8")
      .load()
      .filter(col("ts") >= 1000L && col("ts") <= 1002L)
      .filter(col("hbase_id").isin(probeRows: _*))
    val probePlan = probeDf.queryExecution.executedPlan.toString
    val probeParts = probeDf.rdd.getNumPartitions
    val probeGot = probeDf.collect()
      .map(r => (r.getAs[Array[Byte]]("hbase_id").toSeq, r.getAs[Long]("ts")))
    val probePlanOk = probePlan.contains(s"ProbedRows: ${probeRows.size}") &&
      probeParts <= probeRows.size && probeParts < 256 / 8
    // content gate, not just a count: key i carries 1 + i%5 versions at
    // ts 1000.., so rows 0/1/2 must surface their q47 winners at ts
    // 1000/1001/1002 exactly — wrong rows or wrong winners report -1
    val probeExpected = probeRows.zipWithIndex
      .map { case (r, i) => (r.toSeq, 1000L + i) }.toSet
    val probeRowsOut =
      if (probeGot.toSet == probeExpected &&
        probeGot.length == probeExpected.size) probeGot.length.toLong
      else -1L
    Seq((stats._1, stats._2, stats._3, stats._4,
      stats._5 > 0L, stats._6 < stats._7, stats._8 == 0L,
      probePlanOk, probeRowsOut))
      .toDF("n_found", "n_v0", "n_v1", "n_v2",
        "bloom_skipped", "blocks_saved", "parity",
        "probe_plan", "probe_rows")
  }

  val q278Sql: String =
    """SELECT CAST(500 AS BIGINT) AS n_found,
      |CAST(100 AS BIGINT) AS n_v0,
      |CAST(100 AS BIGINT) AS n_v1,
      |CAST(300 AS BIGINT) AS n_v2,
      |TRUE AS bloom_skipped,
      |TRUE AS blocks_saved,
      |TRUE AS parity,
      |TRUE AS probe_plan,
      |CAST(3 AS BIGINT) AS probe_rows""".stripMargin

  // -------------------- q248 DSv2 micro-batch streaming source
  /** The envelope scan as a REAL DSv2 streaming source — incremental
    * exports tiled as micro-batches: `readStream` over
    * [[graft.sources.EnvelopeSource]] with ts-watermark offsets
    * (`tsSteps=1000,1001,1002`), so batch 1 is the full ts≤1000
    * export and batches 2–3 are the (1000,1001] / (1001,1002]
    * incrementals — exactly q208's tiling contract, executed by
    * Spark's streaming engine against the same store seam and slice
    * partitions as the batch scan (no MemoryStream, no driver feed).
    * Golden constants over the 5-version fixture: every key has v0
    * (ts 1000) → 10000 rows in batch 1; keys with ≥2 versions emit v1
    * in batch 2 (8000 = keys with i%5 ≥ 1); ≥3 versions emit v2 in
    * batch 3 (6000) — the per-window LATEST-version rule applied
    * inside the store per micro-batch, and the union tiles with no
    * gap or overlap (n_keys stays 10000). */
  def q248StreamingSource(s: SparkSession, dir: String): DataFrame = {
    val qname = "graft_q248_envstream"
    s.catalog.dropTempView(qname)
    val streamed = s.readStream.format("graft.sources.EnvelopeSource")
      .option("n", N).option("scanWidth", 64).option("versions", 5)
      .option("tsSteps", "1000,1001,1002")
      .load()
      .select(col("hbase_id"), col("ts"))
    StreamingQueries.withShufflePartitions(s, 2) {
      val query = streamed.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try query.processAllAvailable() finally query.stop()
    }
    s.table(qname).agg(
      count(lit(1)).as("n_rows"),
      count(when(col("ts") === 1000L, 1)).as("n_ts1000"),
      count(when(col("ts") === 1001L, 1)).as("n_ts1001"),
      count(when(col("ts") === 1002L, 1)).as("n_ts1002"),
      countDistinct(col("hbase_id")).as("n_keys"))
  }

  val q248Sql: String =
    """SELECT CAST(24000 AS BIGINT) AS n_rows,
      |CAST(10000 AS BIGINT) AS n_ts1000,
      |CAST(8000 AS BIGINT) AS n_ts1001,
      |CAST(6000 AS BIGINT) AS n_ts1002,
      |CAST(10000 AS BIGINT) AS n_keys""".stripMargin

  // --------------------------------- q208 incremental tiling invariant
  /** The reference's operational contract (README.md:83-84): consecutive
    * incremental exports tile — two incrementals over [t0,t1) ∪ [t1,t2)
    * must reproduce the FULL export's record multiset exactly, with
    * per-window manifest accounting summing to the full window's.
    * Source spreads cell ts over [1000,1010); windows are [1000,1005)
    * and [1005,1010), derived per record from its own cell ts (one
    * incremental pipeline pass; the per-window SCAN pushdown tiling
    * is pinned by q248's micro-batch windows). Checked: window
    * totals tile (5000+5000=10000), the incremental DOC multiset union
    * equals the full export's (zero full-outer count mismatches — the
    * q88 reconciliation join), manifest ids tile with no overlap
    * between windows (a record exports in exactly ONE incremental),
    * and every id the full export emits appears in exactly one window. */
  def q208IncrementalTiling(s: SparkSession, dir: String): DataFrame = {
    def windowRecs(lo: Long, hi: Long, snapshotType: String): DataFrame = {
      val raw = s.read.format("graft.sources.EnvelopeSource")
        .option("n", N).option("scanWidth", 64).option("tsSpread", 10)
        .load()
        .filter(col("ts") >= lo && col("ts") < hi)
      ExportPipeline.records(ExportPipeline.run(
        raw, Fixture.Topic, Fixture.keyService, snapshotType = snapshotType))
    }
    // Two pipeline executions, one action (round 21; was three
    // executions and six driver actions — measured 22 jobs with ~1.5 s
    // of between-job driver latency at sf0.1 for a 1-row result):
    //  - the FULL export runs as its own scan+pipeline pass (its
    //    snapshotType = "full" validate path must stay an independent
    //    computation for the reconciliation to test anything);
    //  - the two INCREMENTAL windows run as ONE scan+pipeline pass
    //    over [1000,1010) tagged per record by its own cell ts (the
    //    value each per-window scan partitioned on). Every pipeline
    //    stage is row-local (parse → decrypt → validate → sanitise),
    //    so a record's output is identical whichever window's run
    //    carries it, and both windows use the incremental validate
    //    path — the derived inc1/inc2 relations are row-identical to
    //    the two separate runs. The SCAN-boundary half of the tiling
    //    contract (range pushdown produces no gap/overlap at the
    //    store) stays independently pinned by q248, which executes
    //    the per-window scans as real micro-batches.
    //  - all six reconciliation numbers ride ONE plan over the two
    //    cached relations (a crossJoin of single-row aggregates), so
    //    the driver pays one action instead of six.
    val full = windowRecs(1000L, 1010L, "full").cache()
    val incs = windowRecs(1000L, 1010L, "incremental")
      .withColumn("win", when(col("ts") < 1005L, 1).otherwise(2))
      .cache()
    // materialize each cache ONCE before the fan-out plan: the
    // reconciliation plan has ~6 leaf subtrees over these two
    // relations, and AQE launches all leaf stages concurrently — on a
    // cold cache the concurrent tasks race getOrCompute and re-run the
    // crypto pipeline per subtree (measured: 3.5× the task time of a
    // single pass). The two pinning counts are independent jobs, so
    // they run OVERLAPPED from a 2-thread pool (guide §2.6: submit
    // independent actions concurrently; sequential materialization
    // re-paid one full pipeline of wall time); the summary action then
    // reads cache only.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val (nFull, nIncs) =
      try {
        val fFull = pool.submit(
          new java.util.concurrent.Callable[Long] {
            def call(): Long = full.count() })
        val fIncs = pool.submit(
          new java.util.concurrent.Callable[Long] {
            def call(): Long = incs.count() })
        (fFull.get(), fIncs.get())
      } finally pool.shutdown()
    // Reconciliation as TWO grouped passes over a tagged union (was
    // two groupBy-pairs + full_outer joins + an inner join — ~8
    // exchanges / ~15 AQE stage jobs for a 1-row result). Per doc
    // line: signed counts (+1 incremental, −1 full) sum to 0 iff the
    // multisets agree — identical to the old ni ≠ nf filter on the
    // full_outer join, including one-sided keys (doc and m_id are
    // non-null by construction for ok records, so the grouped and
    // join forms partition keys identically). Per manifest id:
    // c1/c2/cf count each window's and the full export's copies;
    // id mismatch is (c1+c2) ≠ cf, and the inc1⋈inc2 overlap count
    // equals Σ c1·c2 (join multiplicity).
    val keyed = incs.select(col("doc"), col("m_id"), col("win"))
      .unionAll(full.select(col("doc"), col("m_id"), lit(0).as("win")))
    val byDoc = keyed.groupBy(col("doc"))
      .agg(sum(when(col("win") === 0, -1L).otherwise(1L)).as("dd"))
      .agg(count(when(col("dd") =!= 0L, 1)).as("n_doc_mismatch"))
    val byId = keyed.groupBy(col("m_id"))
      .agg(count(when(col("win") === 1, 1)).as("c1"),
        count(when(col("win") === 2, 1)).as("c2"),
        count(when(col("win") === 0, 1)).as("cf"))
      .agg(sum(col("c1")).as("n_inc1"),
        sum(col("c2")).as("n_inc2"),
        sum(col("c1") * col("c2")).as("n_id_overlap"),
        count(when(col("c1") + col("c2") =!= col("cf"), 1))
          .as("n_id_mismatch"))
    val summary = byId.crossJoin(byDoc).head()

    import s.implicits._
    // nIncs exists only to pin the incs materialization; the output
    // row is the oracle-pinned six-column contract, unchanged
    def g(n: String): Long = summary.getAs[Long](n)
    require(nIncs == g("n_inc1") + g("n_inc2"),
      s"window tag partition lost rows: $nIncs != " +
        s"${g("n_inc1")} + ${g("n_inc2")}")
    val outRow = Seq((nFull, g("n_inc1"), g("n_inc2"),
      g("n_doc_mismatch"), g("n_id_overlap"), g("n_id_mismatch")))
      .toDF("n_full", "n_inc1", "n_inc2",
        "n_doc_mismatch", "n_id_overlap", "n_id_mismatch")
    full.unpersist(); incs.unpersist()
    outRow
  }

  // ------------------------------- q209 HFile snapshot scan → sink golden
  /** The HFile snapshot store feeding the FULL export path, scan to
    * sink: q210's snapshot (key i: 1 + i%5 versions split across 2
    * generation files per region, written once per JVM) is scanned
    * through the DSv2 source with the ts range pushed to the block
    * decoder, run through parse → decrypt → validate → sanitise, and
    * written by the byte-rolling encrypted
    * [[graft.pipeline.SnapshotWriter]] with paired manifests — the
    * complete reference job (HBaseReader.kt:145-187 →
    * S3StreamingWriter.kt:73-187) with the scan side reading the
    * on-disk HFile snapshot. Goldens: every record written exactly
    * once across the four scanWidth=64 slices, every file
    * decrypt+decompress round-trips, the exported version content
    * survives the sink byte-for-byte (6,000 "v":2 docs — the
    * multi-version merge result, not just row counts), and every
    * manifest line-count matches its batch. */
  def q209HfileWriter(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.SnapshotWriter
    val ks = Fixture.keyService
    val snap = graft.sources.HFileFixture.snapshotDir(
      N, versions = 5, regions = 4, gens = 2)
    val raw = s.read.format("graft.sources.EnvelopeSource")
      .option("store", "hfile").option("path", snap)
      .option("scanWidth", 64)
      .load()
      .filter(col("ts") >= 1000L && col("ts") < 1003L)
    val recs = ExportPipeline.records(ExportPipeline.run(
      raw, Fixture.Topic, ks))
    val outDir = java.nio.file.Files.createTempDirectory("graft-q209-out")
    val manDir = java.nio.file.Files.createTempDirectory("graft-q209-man")
    val cfg = SnapshotWriter.Config(outDir.toString, manDir.toString,
      Fixture.Topic, maxBatchBytes = 100000, compression = "gz",
      scanWidth = 64)
    val acct = SnapshotWriter.write(recs, cfg, ks).collect().toSeq
    val nRecords = acct.map(_.records).sum
    val nManifestMismatch = acct.count { fa =>
      val lines = java.nio.file.Files.readString(
        new java.io.File(manDir.toFile, fa.manifest_file).toPath)
        .split("\n").count(_.nonEmpty)
      lines != fa.records
    }
    val lines = acct.flatMap(fa =>
      SnapshotWriter.readBack(outDir.toString, fa.file, "gz", ks))
    val nLines = lines.length.toLong
    val nV2 = lines.count(_.contains("\"v\":2")).toLong
    val nV1 = lines.count(_.contains("\"v\":1")).toLong
    val slices = acct.map(_.slice).distinct.sorted.mkString(",")
    deleteRecursively(outDir)
    deleteRecursively(manDir)
    import s.implicits._
    Seq((nRecords, nLines, nV1, nV2, nManifestMismatch.toLong, slices))
      .toDF("n_records", "n_lines", "n_v1", "n_v2",
        "n_manifest_mismatch", "slices")
  }

  val q209Sql: String =
    """SELECT CAST(10000 AS BIGINT) AS n_records,
      |CAST(10000 AS BIGINT) AS n_lines,
      |CAST(2000 AS BIGINT) AS n_v1,
      |CAST(6000 AS BIGINT) AS n_v2,
      |CAST(0 AS BIGINT) AS n_manifest_mismatch,
      |'000-064,064-000,064-128,128-064' AS slices""".stripMargin

  val q208Sql: String =
    """SELECT CAST(10000 AS BIGINT) AS n_full,
      |CAST(5000 AS BIGINT) AS n_inc1,
      |CAST(5000 AS BIGINT) AS n_inc2,
      |CAST(0 AS BIGINT) AS n_doc_mismatch,
      |CAST(0 AS BIGINT) AS n_id_overlap,
      |CAST(0 AS BIGINT) AS n_id_mismatch""".stripMargin

  // ------------------------------------------- q49 businessAudit e2e
  /** `data:businessAudit` corpus end-to-end: the decrypted payloads are
    * audit events whose `context` the pipeline lifts, stamping
    * AUDIT_EVENT / TIME_STAMP / TIME_STAMP_ORIG from `auditType` and
    * the envelope `_lastModifiedDateTime` (DecryptionProcessor.kt:
    * 59-73). Corrupt slots: per 100 records, one missing dbObject, one
    * undecryptable, one unparseable payload and one missing `auditType`
    * — the last two both skip via the audit path (the reference throws
    * out of the transform). Goldens: 9,600 lifted docs, every one
    * carrying the audit event and `$date`-wrapped (→ `d_date`)
    * TIME_STAMP stamps, manifests keyed (data, businessAudit), one
    * manifest id per record. */
  def q49BusinessAudit(s: SparkSession, dir: String): DataFrame = {
    val out = ExportPipeline.run(
      Fixture.generateBusinessAudit(s, N, corrupt = true),
      "data.businessAudit", Fixture.keyService)
    out.agg(
      count(when(col("err").isNull, 1)).as("n_ok"),
      count(when(col("err") === "audit_failed", 1)).as("n_audit_failed"),
      count(when(col("err") === "decrypt_failed", 1)).as("n_decrypt_failed"),
      count(when(col("err") === "missing:dbObject", 1)).as("n_missing"),
      count(when(col("doc").contains("\"AUDIT_EVENT\":\"exampleAuditType\""), 1))
        .as("n_audit_event"),
      count(when(col("doc").contains("\"TIME_STAMP\":{\"d_date\":"), 1))
        .as("n_ts_wrapped"),
      count(when(col("m_db") === "data" &&
        col("m_collection") === "businessAudit", 1)).as("n_manifest"),
      countDistinct(col("m_id")).as("n_ids"))
  }

  val q49Sql: String =
    """SELECT CAST(9600 AS BIGINT) AS n_ok,
      |CAST(200 AS BIGINT) AS n_audit_failed,
      |CAST(100 AS BIGINT) AS n_decrypt_failed,
      |CAST(100 AS BIGINT) AS n_missing,
      |CAST(9600 AS BIGINT) AS n_audit_event,
      |CAST(9600 AS BIGINT) AS n_ts_wrapped,
      |CAST(9600 AS BIGINT) AS n_manifest,
      |CAST(9600 AS BIGINT) AS n_ids""".stripMargin

  // ------------------------------------------- q50 equality e2e
  /** `data.equality` end-to-end with the 2-slice writer layout — the
    * reference dedicates an integration scenario to this topic
    * (UberTestSpec.kt:249-260): every sanitised document re-wrapped as
    * `{"message": {...,"@type": inner}}` (TransformationProcessor.kt:
    * 21-46), then written through the byte-rolling encrypted sink,
    * producing both signed-byte key slices. */
  def q50EqualityExport(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.SnapshotWriter
    val ks = Fixture.keyService
    // two actions (stats agg + writer) read the pipeline output:
    // persist so the 10k decrypt+validate passes run once
    val recs = ExportPipeline.records(ExportPipeline.run(
      Fixture.generateEquality(s, N), Transforms.EqualityTopic, ks)).persist()
    try {
      val stats = recs.agg(
        count(lit(1)).as("n"),
        count(when(col("doc").startsWith("{\"message\":{"), 1)).as("w"),
        count(when(col("doc").contains("\"@type\":\"INNER_TYPE\""), 1)).as("t")).head()
      val outDir = java.nio.file.Files.createTempDirectory("graft-q50-out")
      val manDir = java.nio.file.Files.createTempDirectory("graft-q50-man")
      val cfg = SnapshotWriter.Config(outDir.toString, manDir.toString,
        Transforms.EqualityTopic, maxBatchBytes = 10000000, compression = "gz")
      val acct = SnapshotWriter.write(recs, cfg, ks).collect().toSeq
      deleteRecursively(outDir)
      deleteRecursively(manDir)
      import s.implicits._
      Seq((stats.getLong(0), stats.getLong(1), stats.getLong(2),
        acct.map(_.records).sum, acct.length.toLong,
        acct.map(_.slice).distinct.sorted.mkString(",")))
        .toDF("n_records", "n_wrapped", "n_typed", "n_written", "n_files", "slices")
    } finally recs.unpersist(blocking = false)
  }

  val q50Sql: String =
    """SELECT CAST(10000 AS BIGINT) AS n_records,
      |CAST(10000 AS BIGINT) AS n_wrapped,
      |CAST(10000 AS BIGINT) AS n_typed,
      |CAST(10000 AS BIGINT) AS n_written,
      |CAST(2 AS BIGINT) AS n_files,
      |'000-128,128-000' AS slices""".stripMargin

  // --------------------------------------- q56 streamed-equals-batch
  /** The SAME corpus exported twice — through the streaming sink
    * (three micro-batches under `foreachBatch`, batch-scoped dirs) and
    * through the batch writer in one pass — must agree on everything
    * observable: record totals, the decrypted DOCUMENT MULTISET
    * itself (every streamed file decrypt+decompressed and compared
    * against the batch files' contents), manifest line parity, and
    * slice coverage. This promotes StreamingPipelineSpec's assertions
    * to the oracle surface: the streaming sink is end-to-end
    * equivalent to the reference's batch semantics, not just
    * unit-plausible. */
  @transient private val q56CellsMemo =
    new java.util.concurrent.atomic.AtomicReference[
      IndexedSeq[IndexedSeq[Fixture.RawCell]]](null)

  // Prepared-statement memo for the batch arm's record relation (the
  // PlanMemo contract in miniature): the tree over the memoised cell
  // corpus is identical per invocation, so CONSTRUCTION (two dozen
  // analyzer passes) is reused while every write still executes the
  // full pipeline — nothing result-shaped is cached.
  // Both session-scoped memos are WEAKLY keyed by the session (the
  // PlanMemo convention: a stopped session's plans must stay
  // collectable). For weak keying to actually collect, the VALUES
  // must be session-free — a cached DataFrame (whose Dataset holds
  // its session) would strongly pin the weak key forever. So this
  // memo stores the analyzed LogicalPlan only and rebuilds the
  // Dataset via PlanBridge.ofRows at use, exactly as PlanMemo does;
  // the streaming memo's PreparedTransform likewise retains no
  // session (see its class doc).
  @transient private val q56BatchRecsMemo =
    new java.util.WeakHashMap[SparkSession,
      (AnyRef, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]()

  // Prepared sink-side pipeline for the streaming arm (see
  // PreparedTransform): analyzed once per session, leaf-swapped per
  // micro-batch. Session-keyed only — the pipeline tree depends on
  // nothing else: topic and key service are process constants, and
  // the captured cfg reaches the template only through
  // SnapshotWriter.shaped, which reads cfg.scanWidth alone (constant
  // across invocations; the per-invocation temp dirs ride in the
  // WRITE config, never in the shaped plan).
  @transient private val q56LiftMemo =
    new java.util.WeakHashMap[SparkSession, graft.core.PreparedTransform]()

  def q56StreamingParity(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.SnapshotWriter
    import graft.streaming.StreamingExport
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ks = Fixture.keyService
    val dek = ks.batchDataKey().plaintextDataKey
    val encKey = ks.encryptKey(Fixture.MasterKeyId, dek)
    val nPer = 1000L
    val nBatches = 3

    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._

    // one cell corpus feeds BOTH exports: identical input bytes.
    // Memoised per JVM: the corpus is deterministic in (dek, nPer,
    // nBatches) and building it re-runs 3000 driver-side AES-CTR
    // encryptions per invocation — feed cost, not pipeline cost (the
    // same single-slot policy as StreamingQueries' replay memos).
    val cells = {
      val cached = q56CellsMemo.get()
      if (cached != null) cached
      else {
        val c = (0 until nBatches).map(b =>
          ((b * nPer) until ((b + 1) * nPer)).map(i =>
            Fixture.cell(i, dek, encKey, corrupt = false)))
        q56CellsMemo.set(c)
        c
      }
    }

    val outS = java.nio.file.Files.createTempDirectory("graft-q56-sout")
    val manS = java.nio.file.Files.createTempDirectory("graft-q56-sman")
    val outB = java.nio.file.Files.createTempDirectory("graft-q56-bout")
    val manB = java.nio.file.Files.createTempDirectory("graft-q56-bman")
    try {
      val cfgS = SnapshotWriter.Config(outS.toString, manS.toString,
        Fixture.Topic, maxBatchBytes = 50000, compression = "gz")
      val cfgB = cfgS.copy(outputDir = outB.toString, manifestDir = manB.toString)

      val results =
        new scala.collection.mutable.ListBuffer[StreamingExport.BatchResult]
      val stream = MemoryStream[Fixture.RawCell]
      // the stream carries the RAW cell relation; the pipeline lifts
      // each micro-batch to the record shape INSIDE the sink query
      // (StreamingExport's mapBatch mode) — the engine's incremental
      // plan stays leaf-thin, and the decrypt+validate tree is a
      // PREPARED TRANSFORM (graft.core.PreparedTransform): analyzed
      // once per session, each micro-batch spliced in as the leaf, so
      // per batch the sink query pays optimization + execution only
      // (the previous shape paid the tree's construction and analysis
      // twice per batch: engine queryPlanning + the foreachBatch
      // re-plan)
      val prepared = q56LiftMemo.synchronized {
        val cached = q56LiftMemo.get(s)
        if (cached != null) cached
        else {
          val p = new graft.core.PreparedTransform(s,
            stream.toDF().schema,
            b => SnapshotWriter.shaped(ExportPipeline.records(
              ExportPipeline.run(b, Fixture.Topic, ks)), cfgS))
          q56LiftMemo.put(s, p)
          p
        }
      }
      val liftBatch: DataFrame => DataFrame = prepared.lift
      // scoped streaming-run conf, same rationale as the q57–q126
      // replays: tmpfs checkpoint (offset/commit logs are pure replay
      // scaffolding here — a production incremental export points
      // them at durable storage), small shuffle partitioning for the
      // 1000-row micro-batch jobs, AQE off (its per-stage re-plan
      // rounds cost more than they can save on a 2-partition write —
      // measured ~80 ms per write invocation), and
      // ConvertToLocalRelation off: a MemoryStream micro-batch is a
      // LocalRelation, so that rule would EVALUATE the whole
      // decrypt+validate sink query single-threaded on the driver at
      // optimization time, where excluding it keeps execution on the
      // executors. A real deployment's source is a DSv2 scan, which
      // the rule never touches; the exclusion reproduces production
      // shape
      val shm = java.nio.file.Path.of("/dev/shm")
      val ckpt = java.nio.file.Files.createTempDirectory(
        if (java.nio.file.Files.isDirectory(shm)) shm
        else java.nio.file.Path.of(System.getProperty("java.io.tmpdir")),
        "graft-q56-ckpt")
      graft.core.Sessions.withConfs(s,
        "spark.sql.shuffle.partitions" -> "2",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") {
        val query = StreamingExport.start(stream.toDF(), cfgS, ks,
          "graft_q56_sink", r => results.synchronized { results += r },
          checkpointDir = Some(ckpt.toString),
          mapBatch = Some(liftBatch))
        try {
          cells.foreach { batch =>
            stream.addData(batch)
            query.processAllAvailable()
          }
        } finally {
          query.stop()
          deleteRecursively(ckpt)
        }
      }
      val snap = results.synchronized(results.toList)

      val batchShaped = q56BatchRecsMemo.synchronized {
        // keyed on BOTH the (weakly-held) session and the memoized
        // corpus instance (the PlanMemo fingerprint-invalidation
        // contract): if the cell corpus is ever rebuilt or
        // re-parameterized, the stale plan over the old corpus can
        // never be served. Memoizes the SINK-SHAPED analyzed plan
        // (shaping depends on cfg only through scanWidth, shared by
        // both arms), so each invocation pays optimization +
        // execution only — same contract as the streaming arm's
        // prepared transform.
        val cached = q56BatchRecsMemo.get(s)
        if (cached != null && (cached._1 eq cells))
          // hit path: ofRows over the stored ANALYZED tree pays no
          // re-analysis — Analyzer.executeAndCheck early-returns any
          // plan whose `analyzed` flag is set, which
          // queryExecution.analyzed trees carry (pinned by identity
          // in PlanMemoSpec "serving a memoized analyzed plan pays no
          // re-analysis")
          org.apache.spark.sql.graftbridge.PlanBridge.ofRows(s, cached._2)
        else {
          val r = SnapshotWriter.shaped(ExportPipeline.records(
            ExportPipeline.run(cells.flatten.toDF(), Fixture.Topic, ks)), cfgB)
          // store the session-free analyzed plan, not the DataFrame —
          // a Dataset value would strongly reference the weak key
          q56BatchRecsMemo.put(s, (cells, r.queryExecution.analyzed))
          r
        }
      }
      // same exclusion rationale as the streaming arm: the corpus is
      // a LocalRelation, and ConvertToLocalRelation would evaluate
      // the whole decrypt+validate pipeline single-threaded on the
      // DRIVER at optimization time instead of distributed.
      // The batch arm is INDEPENDENT of the streamed files' read-back,
      // so it runs as a concurrent job (guide §2.6) while the driver
      // pool decrypts the streamed output below: the Spark-side write
      // and the driver-side gz+AES overlap instead of serializing.
      // Safe to overlap: the streaming arm (the other withConfs user)
      // has already stopped, and the read-back touches no session
      // state — only files the streaming arm has fully committed.
      val batchFut = java.util.concurrent.CompletableFuture.supplyAsync(() =>
        graft.core.Sessions.withConfs(s,
          "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.optimizer.excludedRules" ->
            "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") {
          SnapshotWriter.writeShaped(batchShaped, cfgB, ks).collect().toSeq
        })

      // (objectDir, manifestDir, accounting) per written file, per mode
      val streamedFiles = snap.flatMap(b => b.files.map(fa =>
        (s"$outS/batch=${b.batchId}", s"$manS/batch=${b.batchId}", fa)))

      // decrypt+decompress EVERY file in both modes; compare multisets.
      // Per-file read-backs are independent gz+AES work on the driver
      // (the golden seam is deliberately driver-side; q88 exercises
      // the distributed re-import path) — run them on a small pool
      // instead of serially (guide §2.6; measured ~2× on this leg).
      // Futures are drained in file order, so the output sequence is
      // identical to the sequential flatMap's.
      def docsOf(files: Seq[(String, String, SnapshotWriter.FileAccounting)])
          : Seq[String] = {
        if (files.isEmpty) Seq.empty
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(8, files.size))
          try files.map { case (od, _, fa) =>
            pool.submit(new java.util.concurrent.Callable[Seq[String]] {
              def call(): Seq[String] =
                SnapshotWriter.readBack(od, fa.file, "gz", ks)
            })
          }.flatMap(_.get())
          finally pool.shutdown()
        }
      }
      val sDocs = docsOf(streamedFiles)
      val batchAcct =
        try batchFut.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      val batchFiles = batchAcct.map(fa => (outB.toString, manB.toString, fa))
      val bDocs = docsOf(batchFiles)
      def freq(xs: Seq[String]): Map[String, Int] =
        xs.groupBy(identity).view.mapValues(_.size).toMap
      val (fS, fB) = (freq(sDocs), freq(bDocs))
      val nDocsDiff = (fS.keySet ++ fB.keySet)
        .count(k => fS.getOrElse(k, 0) != fB.getOrElse(k, 0))

      val nManifestMismatch = (streamedFiles ++ batchFiles).count {
        case (_, md, fa) =>
          java.nio.file.Files.readString(
            java.nio.file.Path.of(md, fa.manifest_file))
            .split("\n").count(_.nonEmpty) != fa.records
      }
      def sliceSet(fs: Seq[(String, String, SnapshotWriter.FileAccounting)]) =
        fs.map(_._3.slice).distinct.sorted.mkString(",")

      Seq((sDocs.length.toLong, bDocs.length.toLong,
        snap.map(_.batchId).distinct.size.toLong, nDocsDiff.toLong,
        nManifestMismatch.toLong, sliceSet(streamedFiles), sliceSet(batchFiles)))
        .toDF("n_streamed", "n_batch", "n_micro_batches", "n_docs_diff",
          "n_manifest_mismatch", "slices_streamed", "slices_batch")
    } finally {
      deleteRecursively(outS); deleteRecursively(manS)
      deleteRecursively(outB); deleteRecursively(manB)
    }
  }

  val q56Sql: String =
    """SELECT CAST(3000 AS BIGINT) AS n_streamed,
      |CAST(3000 AS BIGINT) AS n_batch,
      |CAST(3 AS BIGINT) AS n_micro_batches,
      |CAST(0 AS BIGINT) AS n_docs_diff,
      |CAST(0 AS BIGINT) AS n_manifest_mismatch,
      |'000-128,128-000' AS slices_streamed,
      |'000-128,128-000' AS slices_batch""".stripMargin

  // ------------------------------------------------------------ wiring
  // ------------------------------------------- q88 snapshot reimport
  /** Round-trip through the DISTRIBUTED snapshot read path: export the
    * clean corpus with [[graft.pipeline.SnapshotWriter]], re-import it
    * with [[graft.sources.SnapshotSource]] (binaryFile scan → per-task
    * sidecar read + key unwrap + decrypt/decompress/line-split — the
    * scale path, vs the driver-side `readBack` golden seam), and pin
    * that the re-imported LINE MULTISET equals the exported `doc`
    * multiset exactly (full-outer count join, zero tolerance), every
    * file contributes, and nothing was dropped or duplicated. This is
    * the consumer side of the snapshot format — what snapshot-sender /
    * re-ingest does with HTME's objects. */
  def q88SnapshotReimport(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.SnapshotWriter
    import graft.sources.SnapshotSource
    val ks = Fixture.keyService
    val recs = cleanRecords(s)
    val outDir = java.nio.file.Files.createTempDirectory("graft-q88-out")
    val manDir = java.nio.file.Files.createTempDirectory("graft-q88-man")
    val cfg = SnapshotWriter.Config(outDir.toString, manDir.toString,
      Fixture.Topic, maxBatchBytes = 100000, compression = "gz")
    try {
      val acct = SnapshotWriter.write(recs, cfg, ks).collect().toSeq
      val nFiles = acct.size.toLong
      val imported = SnapshotSource.read(s, outDir.toString, "gz", ks)
        .cache()
      try {
        // one probe pass, not two (guide §1.2.1): line count and
        // distinct-file count fuse into a single aggregate action —
        // same longs, one scan of the re-imported relation
        val probe = imported.agg(count(lit(1)).as("n_lines"),
          countDistinct(col("file")).as("n_files_seen")).head()
        val nLines = probe.getLong(0)
        val nFilesSeen = probe.getLong(1)
        val mismatch = imported
          .groupBy(col("line")).agg(count(lit(1)).as("ni"))
          .join(recs.select(col("doc").as("line"))
            .groupBy(col("line")).agg(count(lit(1)).as("ns")),
            Seq("line"), "full_outer")
          .filter(coalesce(col("ni"), lit(0L)) =!=
            coalesce(col("ns"), lit(0L)))
          .count()
        import s.implicits._
        Seq((nFiles, nFilesSeen, nLines, mismatch))
          .toDF("n_files", "n_files_seen", "n_lines", "n_multiset_mismatch")
      } finally imported.unpersist()
    } finally {
      deleteRecursively(outDir)
      deleteRecursively(manDir)
    }
  }

  val q88Sql: String =
    """SELECT CAST(16 AS BIGINT) AS n_files,
      |CAST(16 AS BIGINT) AS n_files_seen,
      |CAST(10000 AS BIGINT) AS n_lines,
      |CAST(0 AS BIGINT) AS n_multiset_mismatch""".stripMargin

  // ------------------------------------------- q92 manifest reimport
  /** Distributed re-read of the paired pipe-CSV manifests — the
    * consumer side of the manifest format (reconciliation jobs join
    * manifests against the export to find drift). Spark's CSV reader
    * parses the reference dialect directly (pipe separator,
    * commons-text quote-doubling — `escape` set to the quote char),
    * so the manifest relation is a first-class DataFrame: the query
    * pins row count, id uniqueness, the constant manifest fields, and
    * EXACT id-multiset equality against the exported records (the
    * reconciliation join itself). */
  def q92ManifestReimport(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.SnapshotWriter
    val ks = Fixture.keyService
    val recs = cleanRecords(s)
    val outDir = java.nio.file.Files.createTempDirectory("graft-q92-out")
    val manDir = java.nio.file.Files.createTempDirectory("graft-q92-man")
    val cfg = SnapshotWriter.Config(outDir.toString, manDir.toString,
      Fixture.Topic, maxBatchBytes = 100000, compression = "gz")
    try {
      SnapshotWriter.write(recs, cfg, ks).collect()
      val manifests = s.read
        .option("sep", "|").option("quote", "\"").option("escape", "\"")
        .option("pathGlobFilter", "*.csv")
        .schema("id STRING, ts LONG, db STRING, collection STRING, " +
          "source STRING, outer_type STRING, original_id STRING, " +
          "inner_type STRING")
        .csv(manDir.toString)
        .cache()
      try {
        // one probe pass, not three (guide §1.2.1): row count,
        // distinct-id count and the constant-field conformance count
        // fuse into a single aggregate action — count(when(...))
        // counts exactly the rows the old filter().count() kept
        val fieldsOk = col("ts") === Fixture.CellTimestamp &&
          col("db") === Fixture.Db &&
          col("collection") === Fixture.Collection &&
          col("source") === "EXPORT" &&
          col("outer_type") === "OUTER_TYPE" &&
          col("inner_type") === "INNER_TYPE"
        val probe = manifests.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("id")).as("n_ids"),
          count(when(fieldsOk, lit(1))).as("n_fields_ok")).head()
        val nRows = probe.getLong(0)
        val nIds = probe.getLong(1)
        val nFieldsOk = probe.getLong(2)
        val mismatch = manifests
          .groupBy(col("id")).agg(count(lit(1)).as("nm"))
          .join(recs.select(col("m_id").as("id"))
            .groupBy(col("id")).agg(count(lit(1)).as("nr")),
            Seq("id"), "full_outer")
          .filter(coalesce(col("nm"), lit(0L)) =!=
            coalesce(col("nr"), lit(0L)))
          .count()
        import s.implicits._
        Seq((nRows, nIds, nFieldsOk, mismatch))
          .toDF("n_rows", "n_ids", "n_fields_ok", "n_id_mismatch")
      } finally manifests.unpersist()
    } finally {
      deleteRecursively(outDir)
      deleteRecursively(manDir)
    }
  }

  val q92Sql: String =
    """SELECT CAST(10000 AS BIGINT) AS n_rows,
      |CAST(10000 AS BIGINT) AS n_ids,
      |CAST(10000 AS BIGINT) AS n_fields_ok,
      |CAST(0 AS BIGINT) AS n_id_mismatch""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q92_manifest_reimport" -> (q92ManifestReimport _),
    "q88_snapshot_reimport" -> (q88SnapshotReimport _),
    "q40_pipeline_roundtrip" -> (q40PipelineRoundtrip _),
    "q41_pipeline_skips" -> (q41PipelineSkips _),
    "q42_writer_golden" -> (q42WriterGolden _),
    "q44_incremental_export" -> (q44IncrementalExport _),
    "q47_multiversion_export" -> (q47MultiversionExport _),
    "q49_business_audit" -> (q49BusinessAudit _),
    "q50_equality_export" -> (q50EqualityExport _),
    "q56_streaming_export" -> (q56StreamingParity _),
    // q207/q209 key names are historical: both now read the HFile store
    "q207_sortedrun_export" -> (q210HfileStore _),
    "q208_incremental_tiling" -> (q208IncrementalTiling _),
    "q209_sortedrun_writer" -> (q209HfileWriter _),
    "q210_hfile_store" -> (q210HfileStore _),
    "q243_hfile_v3_store" -> (q243HfileV3Store _),
    "q247_hfile_compaction" -> (q247HfileCompaction _),
    "q248_streaming_source" -> (q248StreamingSource _),
    "q276_tombstone_export" -> (q276TombstoneExport _),
    "q278_bloom_probe" -> (q278BloomProbe _))

  val oracles: Map[String, String] = Map(
    "q92_manifest_reimport" -> q92Sql,
    "q88_snapshot_reimport" -> q88Sql,
    "q40_pipeline_roundtrip" -> q40Sql,
    "q41_pipeline_skips" -> q41Sql,
    "q42_writer_golden" -> q42Sql,
    "q44_incremental_export" -> q44Sql,
    "q47_multiversion_export" -> q47Sql,
    "q49_business_audit" -> q49Sql,
    "q50_equality_export" -> q50Sql,
    "q56_streaming_export" -> q56Sql,
    "q207_sortedrun_export" -> q210Sql,
    "q208_incremental_tiling" -> q208Sql,
    "q209_sortedrun_writer" -> q209Sql,
    "q210_hfile_store" -> q210Sql,
    "q243_hfile_v3_store" -> q243Sql,
    "q247_hfile_compaction" -> q247Sql,
    "q248_streaming_source" -> q248Sql,
    "q276_tombstone_export" -> q276Sql,
    "q278_bloom_probe" -> q278Sql)
}
