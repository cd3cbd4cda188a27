package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Unit spec for the store seam extracted from the DSv2 source:
  * KeySlice byte bounds (the HBasePartitioner contract), VersionSelect
  * winner arithmetic (Scan.setTimeRange + one-version semantics), and
  * the SAME slice/ts/version contract run against every store — the
  * generated [[FixtureEnvelopeStore]] and the [[HFileSnapshotStore]]
  * in its v2 and v3 shapes — plus the HFile-only behaviors: trailer
  * and checksum validation, slice pruning, block-index seek, the
  * reopen-at-key retry under injected faults, point gets, blooms,
  * tombstones and compaction. */
class EnvelopeStoreSpec extends AnyFunSuite {

  private val t0 = graft.pipeline.Fixture.CellTimestamp

  /** The store contract, identical for every implementation. */
  private def storeContract(name: String,
      mk: (Long, Long, Int) => EnvelopeStore): Unit = {

    test(s"$name: scans only its slice, every key in exactly one slice") {
      val store = mk(512L, 10L, 1)
      val all = (0 until 256 / 8).flatMap(i =>
        store.scan(KeySlice(i, 8), TsRange.All).toSeq)
      assert(all.size === 512, "every key appears in exactly one slice")
      assert(all.map(c => c.hbaseId.toSeq).distinct.size === 512)
    }

    test(s"$name: applies the ts range to the scan") {
      val store = mk(512L, 10L, 1)
      // tsSpread=10 puts key i at CellTimestamp + i%10 — restricting
      // to offset 0 keeps exactly the i%10==0 keys
      val pruned = (0 until 256 / 8).flatMap(i =>
        store.scan(KeySlice(i, 8), TsRange(t0, t0)).toSeq)
      assert(pruned.size === 512 / 10 + (if (512 % 10 > 0) 1 else 0))
      assert(pruned.forall(_.ts === t0))
    }

    test(s"$name: multi-version winner ts matches VersionSelect") {
      val store = mk(64L, 0L, 4)
      val cells = (0 until 256 / 8).flatMap(i =>
        store.scan(KeySlice(i, 8), TsRange(0L, t0 + 1L)).toSeq)
      // keys with 1 + (i % 4) versions, range caps at t0+1: every key
      // yields its min(numVersions-1, 1) version
      assert(cells.size === 64)
      assert(cells.forall(c => c.ts === t0 || c.ts === t0 + 1L))
    }

    test(s"$name: keys with no in-range version yield nothing") {
      val store = mk(64L, 0L, 4)
      val cells = (0 until 256 / 8).flatMap(i =>
        store.scan(KeySlice(i, 8), TsRange(t0 + 4L, Long.MaxValue)).toSeq)
      // max version index is 3 (ts t0+3) — nothing reaches t0+4
      assert(cells.isEmpty)
    }
  }

  /** Builds an HFile v2 snapshot with the given fixture shape in a
    * fresh temp dir (tiny blocks, gzip codec, so every scan exercises
    * the seek + decompress + checksum paths). */
  private def hfileStore(n: Long, tsSpread: Long, versions: Int,
      regions: Int = 4, gens: Int = 2): HFileSnapshotStore = {
    val dir = Files.createTempDirectory("graft-hfile-spec")
    HFileFixture.writeSnapshot(dir, n, versions, regions, gens, tsSpread,
      codec = HFileV2Format.CodecGz, blockEntries = 16)
    HFileSnapshotStore(dir.toString)
  }

  /** The "modern cluster" HFile shape: v3 protobuf trailer + PBUF
    * FileInfo, FAST_DIFF-encoded blocks, per-cell mvcc trailers, and a
    * fan-out small enough to force a multi-level block index. */
  private val modernShape = HFileShape(codec = HFileV2Format.CodecGz,
    blockEntries = 16, encoding = HFileV2Format.EncodingFastDiff,
    majorVersion = 3, includesMvcc = true, maxIndexEntriesPerBlock = 4)

  private def modernHfileStore(n: Long, tsSpread: Long, versions: Int,
      regions: Int = 4, gens: Int = 2): HFileSnapshotStore = {
    val dir = Files.createTempDirectory("graft-hfile3-spec")
    HFileFixture.writeSnapshot(dir, n, versions, regions, gens, tsSpread,
      shape = modernShape)
    HFileSnapshotStore(dir.toString)
  }

  storeContract("fixture store",
    (n, spread, vs) => FixtureEnvelopeStore(n, corrupt = false, spread, vs))
  storeContract("hfile store",
    (n, spread, vs) => hfileStore(n, spread, vs))
  storeContract("hfile v3 fastdiff multilevel store",
    (n, spread, vs) => modernHfileStore(n, spread, vs))

  test("KeySlice covers the signed byte space exactly, no overlap") {
    val slices = (0 until 256 / 8).map(KeySlice(_, 8))
    assert(slices.head.startByte === -128)
    assert(slices.last.stopByte === 128)
    slices.sliding(2).foreach { case Seq(a, b) =>
      assert(a.stopByte === b.startByte, s"$a / $b adjacency")
    }
    assert(slices.map(s => s.stopByte - s.startByte).distinct === Seq(8))
  }

  test("VersionSelect returns the latest IN-RANGE version only") {
    import VersionSelect.latestIn
    // 3 versions at ts 1000,1001,1002; range covers all -> latest (v2)
    assert(latestIn(3L, 1000L, TsRange(0L, 5000L)) === Some(2L))
    // range caps at 1001: the newer v2 is OUT of range, v1 wins
    assert(latestIn(3L, 1000L, TsRange(0L, 1001L)) === Some(1L))
    // range floor above every version: nothing
    assert(latestIn(3L, 1000L, TsRange(1003L, 5000L)) === None)
    // range ceiling below every version: nothing
    assert(latestIn(3L, 1000L, TsRange(0L, 999L)) === None)
    // exact single-point range on the base version
    assert(latestIn(1L, 1000L, TsRange(1000L, 1000L)) === Some(0L))
  }

  // ------------------------------------------------ HFile v2 format

  test("hfile cells are byte-identical to the fixture store's (gz and none codecs)") {
    val fix = FixtureEnvelopeStore(200L, corrupt = false, 0L, 5)
    def dump(s: EnvelopeStore, range: TsRange) =
      (0 until 256 / 16).flatMap(i => s.scan(KeySlice(i, 16), range).toSeq)
        .map(c => (c.hbaseId.toSeq, c.ts, c.value)).sortBy(_._1.toString)
    for (codec <- Seq(HFileV2Format.CodecGz, HFileV2Format.CodecNone)) {
      val dir = Files.createTempDirectory("graft-hfile-codec")
      HFileFixture.writeSnapshot(dir, 200L, 5, regions = 4, gens = 2,
        codec = codec, blockEntries = 16)
      val hf = HFileSnapshotStore(dir.toString)
      assert(dump(hf, TsRange.All) === dump(fix, TsRange.All), s"codec $codec")
      val capped = TsRange(0L, t0 + 2L)
      assert(dump(hf, capped) === dump(fix, capped), s"codec $codec capped")
      assert(dump(hf, capped).nonEmpty)
    }
  }

  test("hfile trailer round-trips the published 212-byte v2 layout") {
    val dir = Files.createTempDirectory("graft-hfile-trailer")
    HFileFixture.writeSnapshot(dir, 64L, 1, regions = 1, gens = 1,
      blockEntries = 16)
    val file = Files.list(dir).iterator().next()
    assert(file.toString.endsWith(".hfile"))
    val raf = new java.io.RandomAccessFile(file.toFile, "r")
    try {
      val t = HFileV2Format.readTrailer(raf)
      assert(t.majorVersion === 2 && t.minorVersion === 3)
      assert(t.numDataIndexLevels === 1)
      assert(t.entryCount === 64L)
      assert(t.compressionCodec === HFileV2Format.CodecGz)
      assert(t.dataIndexCount === 4) // 64 entries / 16 per block
      assert(t.firstDataBlockOffset === 0L)
      assert(t.loadOnOpenDataOffset > t.lastDataBlockOffset)
      assert(t.fileInfoOffset > t.loadOnOpenDataOffset)
      // the version int at the very end packs major | minor << 24
      raf.seek(raf.length() - 4)
      val v = raf.readInt()
      assert((v & 0x00ffffff) === 2 && (v >>> 24) === 3)
    } finally raf.close()
  }

  test("hfile slice pruning opens only the slice's region files") {
    val dir = Files.createTempDirectory("graft-hfile-prune")
    HFileFixture.writeSnapshot(dir, 512L, 3, regions = 4, gens = 2,
      blockEntries = 16)
    val store = HFileSnapshotStore(dir.toString)
    store.scan(KeySlice(0, 8), TsRange.All).hasNext // warm the meta memo
    val before = HFileV2Format.opens.get()
    val cells = store.scan(KeySlice(3, 8), TsRange.All).toSeq
    val opened = HFileV2Format.opens.get() - before
    assert(opened <= 2, s"slice scan opened $opened files, expected <= 2")
    assert(cells.nonEmpty)
    val all = (0 until 256 / 8).flatMap(i =>
      store.scan(KeySlice(i, 8), TsRange.All).toSeq)
    assert(all.size === 512)
  }

  test("a bit-flipped hfile block fails its checksum, never decodes silently") {
    val dir = Files.createTempDirectory("graft-hfile-corrupt")
    HFileFixture.writeSnapshot(dir, 64L, 1, regions = 1, gens = 1,
      blockEntries = 16)
    val file = Files.list(dir).iterator().next()
    val bytes = Files.readAllBytes(file)
    // flip one byte inside the first data block's payload (past the
    // 33-byte header, well before load-on-open)
    bytes(40) = (bytes(40) ^ 0x5a).toByte
    Files.write(file, bytes)
    val store = HFileSnapshotStore(file.getParent.toString)
    val ex = intercept[java.io.IOException] {
      (0 until 256 / 8).flatMap(i =>
        store.scan(KeySlice(i, 8), TsRange.All).toSeq)
    }
    assert(ex.getMessage.contains("checksum mismatch"))
  }

  test("hadoop vint round-trips across the encoding's ranges") {
    import HFileV2Format.{readVLong, writeVLong}
    val values = Seq(0L, 1L, -1L, 112L, 127L, 128L, -112L, -113L, 255L,
      65535L, Int.MaxValue.toLong, Long.MaxValue, Long.MinValue, -987654321L)
    for (v <- values) {
      val buf = new java.io.ByteArrayOutputStream()
      writeVLong(new java.io.DataOutputStream(buf), v)
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(buf.toByteArray))
      assert(readVLong(in) === v, s"vint round-trip of $v")
    }
  }

  test("hfile reopen-at-key retry: injected mid-scan faults change nothing") {
    val dir = Files.createTempDirectory("graft-hfile-fault")
    HFileFixture.writeSnapshot(dir, 300L, 4, regions = 2, gens = 2,
      blockEntries = 16)
    def dump(store: HFileSnapshotStore, range: TsRange) =
      (0 until 256 / 32).flatMap(i => store.scan(KeySlice(i, 32), range).toSeq)
        .map(c => (c.hbaseId.toSeq, c.ts, c.value))
    val clean = HFileSnapshotStore(dir.toString)
    for (failAt <- Seq(1, 7, 50); range <- Seq(TsRange.All, TsRange(0L, t0 + 1L))) {
      val flaky = HFileSnapshotStore(dir.toString, failAfterEntries = Some(failAt))
      assert(dump(flaky, range) === dump(clean, range),
        s"fault after $failAt entries must not change the scan (range $range)")
    }
  }

  test("a corrupt trailer magic is rejected, not silently scanned") {
    val dir = Files.createTempDirectory("graft-hfile-magic")
    HFileFixture.writeSnapshot(dir, 50L, 1, regions = 1, gens = 1,
      blockEntries = 16)
    val file = Files.list(dir).iterator().next()
    val bytes = Files.readAllBytes(file)
    // the v2 trailer opens with its 8-byte magic, TrailerSize from EOF
    val magicAt = bytes.length - HFileV2Format.TrailerSize
    bytes(magicAt) = (bytes(magicAt) ^ 0x5a).toByte
    Files.write(file, bytes)
    val store = HFileSnapshotStore(dir.toString)
    val ex = intercept[java.io.IOException] {
      store.scan(KeySlice(0, 256), TsRange.All).toSeq
    }
    assert(ex.getMessage.contains("bad trailer magic"))
  }

  test("block-index binary seek lands on the right block") {
    import HFileV2Format.{cellKey, seekBlock, RootIndexEntry}
    val idx = Seq[Byte](10, 20, 30).zipWithIndex.map { case (row, i) =>
      RootIndexEntry(i * 100L, 100, cellKey(Array(row), t0))
    }.toArray
    assert(seekBlock(idx, Array[Byte](5)) === 0) // before first block
    assert(seekBlock(idx, Array[Byte](10)) === 0)
    assert(seekBlock(idx, Array[Byte](15)) === 0)
    assert(seekBlock(idx, Array[Byte](20)) === 1)
    assert(seekBlock(idx, Array[Byte](25)) === 1)
    assert(seekBlock(idx, Array[Byte](99)) === 2)
    // unsigned compare: 0x80 sorts ABOVE 0x30, not below
    assert(seekBlock(idx, Array[Byte](-128)) === 2)
  }

  test("run seek survives a key whose versions span block boundaries") {
    // one key with 10 versions, 3-cell blocks: the key's cells
    // straddle 4 blocks, so both the resume-at-key path (fault mid-key
    // re-seeks to the key) and the point probe must start at the
    // strictly-before block or silently lose the higher-ts versions
    val dir = Files.createTempDirectory("graft-hfile-span")
    val key = Array[Byte](10, 1)
    val after = Array[Byte](10, 2)
    val cells = (0 until 10).map(v =>
      (key, 1009L - v, s"v${9 - v}".getBytes("UTF-8"))) :+
      ((after, 1000L, "tail".getBytes("UTF-8")))
    val file = dir.resolve("region-r000-g000.hfile")
    HFileV2Writer.writeHFile(file, cells.iterator, HFileShape(blockEntries = 3))
    def scanned(store: HFileSnapshotStore) =
      store.scan(KeySlice(0, 256), TsRange.All).toSeq
        .map(c => (c.hbaseId.toSeq, c.ts, c.value))
    // every cell the file scanner returns, in file order: a mid-key
    // reopen must resume strictly after the last returned cell — the
    // store-level merge keeps only the newest version, so it alone
    // could not see versions lost to a late resume block
    def fileCells(failAfter: Option[Int]) =
      new HFileScanner(file.toString, 0, 256, TsRange.All, 0L, failAfter)
        .map(e => (e.key.toSeq, e.ts)).toSeq
    val clean = scanned(HFileSnapshotStore(dir.toString))
    assert(clean === Seq((key.toSeq, 1009L, "v9"), (after.toSeq, 1000L, "tail")))
    val cleanCells = fileCells(None)
    assert(cleanCells.size === cells.size)
    for (failAt <- 1 to cells.size) {
      assert(scanned(HFileSnapshotStore(dir.toString,
        failAfterEntries = Some(failAt))) === clean, s"failAfter=$failAt")
      assert(fileCells(Some(failAt)) === cleanCells, s"cells, failAfter=$failAt")
    }
    // point probe with a ts cap must find the capped winner even
    // though it lives mid-span
    val capped = HFileSnapshotStore(dir.toString)
      .get(Seq(key), TsRange(0L, 1005L)).toSeq
    assert(capped.map(c => (c.ts, c.value)) === Seq((1005L, "v5")))
  }

  // ------------------------------------ HFile v3 / FAST_DIFF / multilevel

  test("hbase compressed int round-trips across the 7-bit group ranges") {
    import HFileV2Format.{putCompressedInt, readCompressedInt}
    for (v <- Seq(0, 1, 126, 127, 128, 129, 16383, 16384, 300000, Int.MaxValue)) {
      val buf = new java.io.ByteArrayOutputStream()
      putCompressedInt(new java.io.DataOutputStream(buf), v)
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(buf.toByteArray))
      assert(readCompressedInt(in) === v, s"compressed-int round-trip of $v")
    }
  }

  test("fast-diff cells round-trip, including the encoder's delta edge cases") {
    import java.nio.charset.StandardCharsets.UTF_8
    import HFileV2Format._
    // rows of DIFFERENT lengths (exercises the commonPrefix < 2 decode
    // branch with a family move), shared values (SAME_VALUE), shared
    // ts high bytes (ts-common-prefix), same row at descending ts
    val cells = Seq(
      (Array[Byte](1, 1), 0x1122334455667788L, "alpha"),
      (Array[Byte](1, 1), 0x1122334455667700L, "alpha"), // same row+value, ts prefix 7
      (Array[Byte](1, 1, 9), 0x1122334455667788L, "beta"), // longer row
      (Array[Byte](1, 2), 1000L, "gamma"),               // shorter row again
      (Array[Byte](1, 2, 3, 4, 5, 6), 1000L, "gamma"),   // same value, long row
      (Array[Byte](2), 999L, ""))                        // empty value
    for {
      tags <- Seq(false, true)
      mvcc <- Seq(false, true)
    } {
      val buf = new java.io.ByteArrayOutputStream()
      val enc = new FastDiffEncoder(new java.io.DataOutputStream(buf), tags, mvcc)
      cells.zipWithIndex.foreach { case ((row, ts, v), i) =>
        val tagBytes = if (tags) Array[Byte](0, 3, 8, 7, 7) else Array.emptyByteArray
        enc.append(cellKey(row, ts), v.getBytes(UTF_8), tagBytes, i.toLong)
      }
      val dec = new FastDiffCellDecoder(buf.toByteArray, tags, mvcc)
      val out = Iterator.continually {
        val k = dec.nextKey()
        if (k == null) null else (rowOf(k).toSeq,
          java.nio.ByteBuffer.wrap(k, k.length - 9, 8).getLong,
          new String(dec.readValue(), UTF_8))
      }.takeWhile(_ != null).toSeq
      assert(out === cells.map(c => (c._1.toSeq, c._2, c._3)),
        s"fast-diff round-trip (tags=$tags mvcc=$mvcc)")
    }
  }

  test("hfile v3 trailer is 4096 bytes of magic + protobuf + version int") {
    val dir = Files.createTempDirectory("graft-hfile3-trailer")
    HFileFixture.writeSnapshot(dir, 64L, 1, regions = 1, gens = 1,
      shape = HFileShape(codec = HFileV2Format.CodecGz, blockEntries = 16,
        majorVersion = 3, includesMvcc = true))
    val file = Files.list(dir).iterator().next()
    val raf = new java.io.RandomAccessFile(file.toFile, "r")
    try {
      val t = HFileV2Format.readTrailer(raf)
      assert(t.majorVersion === 3)
      assert(t.entryCount === 64L)
      assert(t.compressionCodec === HFileV2Format.CodecGz)
      assert(t.dataIndexCount === 4)
      assert(t.numDataIndexLevels === 1)
      // the trailer region starts exactly 4096 bytes from EOF with the
      // block magic, and ends with major=3 packed into the version int
      raf.seek(raf.length() - HFileV2Format.TrailerSizeV3)
      val magic = new Array[Byte](8); raf.readFully(magic)
      assert(magic.toSeq === HFileV2Format.TrailerMagic.toSeq)
      raf.seek(raf.length() - 4)
      assert((raf.readInt() & 0x00ffffff) === 3)
    } finally raf.close()
  }

  test("multi-level index: trailer levels >= 2 and the cursor walks every block") {
    val dir = Files.createTempDirectory("graft-hfile-mlidx")
    // 256 cells / 8 per block = 32 data blocks; fan-out 4 -> 8 leaves
    // -> 2 intermediates -> root of 2 (three levels)
    val rows = (0 until 256).map(i => Array[Byte](1, (i >> 4).toByte, (i & 15).toByte))
    HFileV2Writer.writeHFile(dir.resolve("region-r000-g0.hfile"),
      rows.iterator.map(r => (r, 5L, s"v${r.toSeq}".getBytes)),
      HFileShape(blockEntries = 8, maxIndexEntriesPerBlock = 4))
    val file = dir.resolve("region-r000-g0.hfile")
    val meta = HFileV2Format.readMeta(file.toString)
    assert(meta.trailer.numDataIndexLevels === 3)
    assert(meta.index.length <= 4) // root respects the fan-out
    // a full scan through the store sees every row exactly once, sorted
    val store = HFileSnapshotStore(dir.toString)
    val cells = store.scan(KeySlice(0, 256), TsRange.All).toSeq
    assert(cells.size === 256)
    assert(cells.map(_.hbaseId.toSeq) === rows.map(_.toSeq))
    // and a mid-file seek prunes: scanning a single later slice works
    val slice = store.scan(KeySlice(1, 2), TsRange.All).toSeq
    assert(slice.isEmpty) // all rows start with byte 1 -> slice [2,4) empty
  }

  test("modern-shape cells are byte-identical to the fixture store's") {
    val fix = FixtureEnvelopeStore(200L, corrupt = false, 0L, 5)
    def dump(s: EnvelopeStore, range: TsRange) =
      (0 until 256 / 16).flatMap(i => s.scan(KeySlice(i, 16), range).toSeq)
        .map(c => (c.hbaseId.toSeq, c.ts, c.value)).sortBy(_._1.toString)
    val shapes = Seq(
      "fastdiff v2" -> HFileShape(blockEntries = 16,
        encoding = HFileV2Format.EncodingFastDiff),
      "v3 pbuf mvcc" -> HFileShape(codec = HFileV2Format.CodecGz,
        blockEntries = 16, majorVersion = 3, includesMvcc = true),
      "v3 tags" -> HFileShape(blockEntries = 16, majorVersion = 3,
        includesTags = true),
      "v3 fastdiff tags mvcc multilevel" -> HFileShape(
        codec = HFileV2Format.CodecGz, blockEntries = 16,
        encoding = HFileV2Format.EncodingFastDiff, majorVersion = 3,
        includesMvcc = true, includesTags = true, maxIndexEntriesPerBlock = 3))
    for ((name, shape) <- shapes) {
      val dir = Files.createTempDirectory("graft-hfile-shape")
      HFileFixture.writeSnapshot(dir, 200L, 5, regions = 4, gens = 2,
        shape = shape)
      val hf = HFileSnapshotStore(dir.toString)
      assert(dump(hf, TsRange.All) === dump(fix, TsRange.All), name)
      val capped = TsRange(0L, t0 + 2L)
      assert(dump(hf, capped) === dump(fix, capped), s"$name capped")
      assert(dump(hf, capped).nonEmpty, name)
    }
  }

  test("modern-shape reopen-at-key retry: injected faults change nothing") {
    val dir = Files.createTempDirectory("graft-hfile3-fault")
    HFileFixture.writeSnapshot(dir, 300L, 4, regions = 2, gens = 2,
      shape = modernShape)
    def dump(store: HFileSnapshotStore, range: TsRange) =
      (0 until 256 / 32).flatMap(i => store.scan(KeySlice(i, 32), range).toSeq)
        .map(c => (c.hbaseId.toSeq, c.ts, c.value))
    val clean = HFileSnapshotStore(dir.toString)
    for (failAt <- Seq(1, 7, 50); range <- Seq(TsRange.All, TsRange(0L, t0 + 1L))) {
      val flaky = HFileSnapshotStore(dir.toString, failAfterEntries = Some(failAt))
      assert(dump(flaky, range) === dump(clean, range),
        s"fault after $failAt entries must not change the scan (range $range)")
    }
  }

  test("an unsupported block encoding id fails loudly, never misreads") {
    import HFileV2Format._
    val payload = Array[Byte](0, 3, 0, 0) // encoding id 3 = DIFF
    val ex = intercept[java.io.IOException] {
      cellDecoder(EncodedDataMagic, payload,
        HFileMeta(Trailer(0, 0, 1, 0, 1, CodecNone, 1, 0, 0, 3, 3),
          Array(RootIndexEntry(0L, 1, cellKey(Array[Byte](1), 1L))),
          Array[Byte](1), None, includesTags = false, includesMvcc = false))
    }
    assert(ex.getMessage.contains("unsupported data block encoding"))
  }

  // ----------------------------------- SNAPPY / LZ4 block codecs

  test("snappy, lz4, and zstd hfile codecs: cells byte-identical to the fixture store's") {
    val fix = FixtureEnvelopeStore(200L, corrupt = false, 0L, 5)
    def dump(s: EnvelopeStore, range: TsRange) =
      (0 until 256 / 16).flatMap(i => s.scan(KeySlice(i, 16), range).toSeq)
        .map(c => (c.hbaseId.toSeq, c.ts, c.value)).sortBy(_._1.toString)
    val shapes = Seq(
      "snappy raw" -> HFileShape(codec = HFileV2Format.CodecSnappy,
        blockEntries = 16),
      "lz4 raw" -> HFileShape(codec = HFileV2Format.CodecLz4,
        blockEntries = 16),
      // the actual modern-cluster default: SNAPPY + FAST_DIFF + v3 +
      // mvcc + multi-level index
      "snappy fastdiff v3 multilevel" -> HFileShape(
        codec = HFileV2Format.CodecSnappy, blockEntries = 16,
        encoding = HFileV2Format.EncodingFastDiff, majorVersion = 3,
        includesMvcc = true, maxIndexEntriesPerBlock = 4),
      "lz4 fastdiff v3 multilevel" -> HFileShape(
        codec = HFileV2Format.CodecLz4, blockEntries = 16,
        encoding = HFileV2Format.EncodingFastDiff, majorVersion = 3,
        includesMvcc = true, maxIndexEntriesPerBlock = 4),
      "zstd raw" -> HFileShape(codec = HFileV2Format.CodecZstd,
        blockEntries = 16),
      // what a NEW cluster writes by default: ZSTD + FAST_DIFF + v3
      "zstd fastdiff v3 multilevel bloom" -> HFileShape(
        codec = HFileV2Format.CodecZstd, blockEntries = 16,
        encoding = HFileV2Format.EncodingFastDiff, majorVersion = 3,
        includesMvcc = true, maxIndexEntriesPerBlock = 4,
        bloomRowsPerChunk = 32))
    for ((name, shape) <- shapes) {
      val dir = Files.createTempDirectory("graft-hfile-codec2")
      HFileFixture.writeSnapshot(dir, 200L, 5, regions = 4, gens = 2,
        shape = shape)
      val hf = HFileSnapshotStore(dir.toString)
      assert(dump(hf, TsRange.All) === dump(fix, TsRange.All), name)
      val capped = TsRange(0L, t0 + 2L)
      assert(dump(hf, capped) === dump(fix, capped), s"$name capped")
      assert(dump(hf, capped).nonEmpty, name)
    }
  }

  test("hadoop block-compression framing round-trips, incl. multi-group payloads") {
    import HFileV2Format._
    val rng = new scala.util.Random(7)
    // > 64 KiB forces multiple groups; low-entropy so codecs compress
    val payloads = Seq(
      Array.emptyByteArray,
      "abc".getBytes,
      Array.fill(200 * 1024)((rng.nextInt(4) + 'a').toByte))
    for (codec <- Seq(CodecSnappy, CodecLz4, CodecZstd); p <- payloads) {
      val packed = compressPayload(codec, p)
      assert(decompressPayload(codec, packed, p.length).toSeq === p.toSeq,
        s"codec $codec payload ${p.length}")
    }
  }

  test("a bit-flipped snappy block still fails its CRC before decode") {
    val dir = Files.createTempDirectory("graft-hfile-snappy-corrupt")
    HFileFixture.writeSnapshot(dir, 64L, 1, regions = 1, gens = 1,
      shape = HFileShape(codec = HFileV2Format.CodecSnappy, blockEntries = 16))
    val file = Files.list(dir).iterator().next()
    val bytes = Files.readAllBytes(file)
    bytes(40) = (bytes(40) ^ 0x5a).toByte
    Files.write(file, bytes)
    val store = HFileSnapshotStore(file.getParent.toString)
    val ex = intercept[java.io.IOException] {
      (0 until 256 / 8).flatMap(i =>
        store.scan(KeySlice(i, 8), TsRange.All).toSeq)
    }
    assert(ex.getMessage.contains("checksum mismatch"))
  }

  // --------------------------------- delete markers (tombstones)

  /** One-region snapshot: generation files from (cells, seqId) pairs,
    * each file's cells pre-sorted in full-key order. */
  private def tombDir(gens: (Seq[HFileCell], Long)*): String = {
    val dir = Files.createTempDirectory("graft-hfile-tomb-spec")
    gens.zipWithIndex.foreach { case ((cells, seqId), g) =>
      val sorted = cells.sortWith { (a, b) =>
        HFileV2Format.compareCellKeys(
          HFileV2Format.cellKey(a.row, a.ts, a.typ, a.qualifier),
          HFileV2Format.cellKey(b.row, b.ts, b.typ, b.qualifier)) < 0
      }
      HFileV2Writer.writeCells(dir.resolve(f"region-r000-g$g%03d.hfile"),
        sorted.iterator, HFileShape(codec = HFileV2Format.CodecNone),
        seqId = seqId)
    }
    dir.toString
  }

  private def scanValues(dir: String, range: TsRange): Seq[(Seq[Byte], Long, String)] =
    HFileSnapshotStore(dir).scan(KeySlice(0, 256), range).toSeq
      .map(c => (c.hbaseId.toSeq, c.ts, c.value))

  test("tombstones: each delete scope masks exactly its cells, across generations") {
    import HFileV2Format._
    import java.nio.charset.StandardCharsets.UTF_8
    def put(row: Byte, ts: Long, v: String) =
      HFileCell(Array[Byte](row), ts, v.getBytes(UTF_8))
    def del(row: Byte, ts: Long, typ: Byte) =
      HFileCell(Array[Byte](row), ts, Array.emptyByteArray, typ,
        if (typ == KeyTypeDeleteFamily || typ == KeyTypeDeleteFamilyVersion)
          EmptyQualifier else Qualifier)
    // rows 1..5, versions at ts 10/20/30 in gen0; markers in gen1
    val puts = (1 to 5).flatMap(r =>
      Seq(put(r.toByte, 10L, s"r$r-v10"), put(r.toByte, 20L, s"r$r-v20"),
        put(r.toByte, 30L, s"r$r-v30")))
    val markers = Seq(
      del(1, 30L, KeyTypeDeleteFamily),        // row 1: everything <= 30 gone
      del(2, 20L, KeyTypeDeleteColumn),        // row 2: 10/20 gone, 30 survives
      del(3, 30L, KeyTypeDelete),              // row 3: exactly 30 gone -> 20 wins
      del(4, 20L, KeyTypeDeleteFamilyVersion), // row 4: exactly 20 gone -> 30 wins
      del(5, 5L, KeyTypeDeleteColumn))         // row 5: nothing in reach
    val dir = tombDir((puts, 0L), (markers, 1L))
    assert(scanValues(dir, TsRange.All) === Seq(
      (Seq[Byte](2), 30L, "r2-v30"),
      (Seq[Byte](3), 20L, "r3-v20"),
      (Seq[Byte](4), 30L, "r4-v30"),
      (Seq[Byte](5), 30L, "r5-v30")))
    // masked versions never resurface under narrower ranges either
    // (row 4's exact-ts mask at 20 now falls back to v10; row 2's
    // surviving v30 is out of range, so the row disappears)
    assert(scanValues(dir, TsRange(0L, 25L)) === Seq(
      (Seq[Byte](3), 20L, "r3-v20"),
      (Seq[Byte](4), 10L, "r4-v10"),
      (Seq[Byte](5), 20L, "r5-v20")))
  }

  test("tombstones: a marker NEWER than the scan ceiling still masks in-range cells") {
    import HFileV2Format._
    import java.nio.charset.StandardCharsets.UTF_8
    val row = Array[Byte](9)
    val dir = tombDir(
      (Seq(HFileCell(row, 10L, "v10".getBytes(UTF_8)),
        HFileCell(row, 20L, "v20".getBytes(UTF_8))), 0L),
      // DeleteFamily at ts 50 — outside a [0,25] scan, but
      // withinOrAfterTimeRange says it still masks everything <= 50
      (Seq(HFileCell(row, 50L, Array.emptyByteArray, KeyTypeDeleteFamily,
        EmptyQualifier)), 1L))
    assert(scanValues(dir, TsRange(0L, 25L)) === Seq.empty)
    // while a marker BELOW the scan floor is irrelevant (it can only
    // mask cells that are below the floor themselves)
    val dir2 = tombDir(
      (Seq(HFileCell(row, 10L, "v10".getBytes(UTF_8)),
        HFileCell(row, 20L, "v20".getBytes(UTF_8))), 0L),
      (Seq(HFileCell(row, 12L, Array.emptyByteArray, KeyTypeDeleteFamily,
        EmptyQualifier)), 1L))
    assert(scanValues(dir2, TsRange(15L, 25L)) ===
      Seq((row.toSeq, 20L, "v20")))
  }

  test("tombstones: a put AFTER the delete at a masked ts stays masked until major compaction") {
    import HFileV2Format._
    import java.nio.charset.StandardCharsets.UTF_8
    val row = Array[Byte](7)
    // gen0: marker at ts 20; gen1 (NEWER): put at ts 20 — HBase's
    // documented quirk: the marker still masks the later put
    val dir = tombDir(
      (Seq(HFileCell(row, 20L, Array.emptyByteArray, KeyTypeDelete,
        Qualifier)), 5L),
      (Seq(HFileCell(row, 20L, "late-put".getBytes(UTF_8))), 9L))
    assert(scanValues(dir, TsRange.All) === Seq.empty)
    // but major compaction DROPS the marker (and the masked put), so a
    // re-put after compaction would become visible — pin the drop
    val out = Files.createTempDirectory("graft-tomb-majc")
    HFileCompaction.compactRegion(
      HFileCompaction.regionFiles(dir).head._2,
      s"$out/region-r000-g000.hfile", HFileShape(), dropDeletes = true)
    assert(Files.list(out).count() === 0 ||
      HFileV2Format.readMeta(s"$out/region-r000-g000.hfile").trailer.entryCount === 0L ||
      scanValues(out.toString, TsRange.All) === Seq.empty)
  }

  test("major compaction with dropDeletes: scans stay identical, markers vanish") {
    import HFileV2Format._
    val dir = HFileFixture.tombstoneSnapshotDir(400L)
    val out = Files.createTempDirectory("graft-tomb-majc-eq")
    HFileCompaction.regionFiles(dir).foreach { case (r, fs) =>
      HFileCompaction.compactRegion(fs, s"$out/$r-g000.hfile", HFileShape(),
        dropDeletes = true)
    }
    val before = HFileSnapshotStore(dir)
    val after = HFileSnapshotStore(out.toString)
    def dump(s: EnvelopeStore, range: TsRange) =
      (0 until 256 / 16).flatMap(i => s.scan(KeySlice(i, 16), range).toSeq)
        .map(c => (c.hbaseId.toSeq, c.ts, c.value))
    for (range <- Seq(TsRange.All, TsRange(1000L, 1002L), TsRange(1001L, 1004L)))
      assert(dump(after, range) === dump(before, range), s"range $range")
    assert(dump(after, TsRange.All).nonEmpty)
    // the compacted files carry ZERO delete-type cells — the markers
    // did their masking and were themselves dropped
    import scala.jdk.CollectionConverters._
    val rawMarkers = Files.list(out).iterator().asScala
      .filter(_.toString.endsWith(".hfile"))
      .flatMap(p => new HFileScanner(p.toString, 0, 256, TsRange.All, 0L))
      .count(e => isDelete(e.typ))
    assert(rawMarkers === 0, "dropDeletes output must be marker-free")
    // and snapshot-export compaction (dropDeletes=false) ALSO stays
    // identical — it carries the markers through instead
    val out2 = Files.createTempDirectory("graft-tomb-minc-eq")
    HFileCompaction.regionFiles(dir).foreach { case (r, fs) =>
      HFileCompaction.compactRegion(fs, s"$out2/$r-g000.hfile", HFileShape())
    }
    val after2 = HFileSnapshotStore(out2.toString)
    for (range <- Seq(TsRange.All, TsRange(1000L, 1002L)))
      assert(dump(after2, range) === dump(before, range), s"carry $range")
  }

  // ------------------------------------------------------------ bloom

  test("row bloom: meta payload round-trips the compound v3 layout") {
    import HFileV2Format._
    val chunks = Seq(RootIndexEntry(100L, 64, Array[Byte](1, 2)),
      RootIndexEntry(400L, 64, Array[Byte](9)))
    val m = parseBloomMeta(bloomMetaPayload(128L, 7, 50L, 64L, chunks))
    assert(m.hashCount === 7 && m.hashType === HashMurmur)
    assert(m.totalKeyCount === 50L)
    assert(m.index.length === 2)
    assert(m.index(1).offset === 400L && m.index(1).onDiskSize === 64)
    assert(m.index(0).firstKey.toSeq === Seq[Byte](1, 2))
  }

  test("bloomHashCount uses BloomFilterUtil's integer division") {
    import HFileV2Format._
    // geometry where the formulas diverge: 13 bytes = 104 bits over 14
    // keys -> bits-per-key floors to 7 (ceil(7*ln2) = 5), while the
    // floating form 104/14 = 7.43 would give ceil(5.15) = 6. A
    // cluster-written file of this geometry carries k = 5; matching it
    // keeps writer byte-parity, not just self-consistency.
    assert(bloomHashCount(13, 14) === 5)
    // and the common fixture geometry is unchanged by the fix
    assert(bloomHashCount(bloomByteSize(32, 0.01), 32) === 7)
  }

  test("default get delegates the band convention through wrappers") {
    // FlakyEnvelopeStore wraps the SIGNED-band fixture store; the
    // trait's banded get must route through the INNER store's
    // owningSlice or rows in the mismatched half-space would vanish.
    // (Driver-side scan: no TaskContext, so no faults inject.)
    val inner = FixtureEnvelopeStore(256L, corrupt = false,
      tsSpread = 0L, versions = 1)
    val store = FlakyEnvelopeStore(inner, failAfter = 1)
    val all = (0 until 256 / 8).flatMap(i =>
      inner.scan(KeySlice(i, 8), TsRange.All).toSeq)
    val rows = all.filter(_.hbaseId(0) < 0).take(4) ++
      all.filter(_.hbaseId(0) >= 0).take(4)
    assert(rows.size === 8)
    val got = store.get(rows.map(_.hbaseId), TsRange.All).toSeq
      .map(c => c.hbaseId.toSeq).sortBy(_.mkString(","))
    assert(got === rows.map(_.hbaseId.toSeq).sortBy(_.mkString(",")))
  }

  test("row bloom: no false negatives, FP rate near the 1% design point") {
    import HFileV2Format._
    val n = 1000
    val bits = new Array[Byte](bloomByteSize(n, 0.01))
    val k = bloomHashCount(bits.length, n)
    val keys = (0 until n).map(i => s"row-$i".getBytes)
    keys.foreach(bloomSet(bits, _, k))
    assert(keys.forall(bloomContains(bits, _, k)), "bloom false negative")
    val fps = (0 until 10000).count(i =>
      bloomContains(bits, s"absent-$i".getBytes, k))
    assert(fps < 300, s"FP rate ${fps / 10000.0} far above the 1% design point")
  }

  test("row bloom: point probes skip files, read fewer blocks, match the scan") {
    import HFileV2Format._
    val dir = Files.createTempDirectory("graft-hfile-bloom")
    HFileFixture.writeSnapshot(dir, 400L, versions = 5, regions = 4, gens = 2,
      shape = HFileShape(codec = CodecGz, blockEntries = 16,
        bloomRowsPerChunk = 32))
    val store = HFileSnapshotStore(dir.toString)
    val all = (0 until 256 / 8).flatMap(i =>
      store.scan(KeySlice(i, 8), TsRange.All).toSeq)
    val expected = all.map(c => c.hbaseId.toSeq -> (c.ts, c.value)).toMap
    val present = all.map(_.hbaseId).take(30)
    // absent probes derive from rows NOT probed as present, so their
    // data blocks are untouched unless the no-bloom path fetches them
    val absent = all.map(_.hbaseId).drop(200).take(30).map { r =>
      val x = r.clone(); x(x.length - 1) = (x(x.length - 1) ^ 0x5a).toByte; x
    }.filterNot(r => expected.contains(r.toSeq))
    assert(absent.nonEmpty)
    val rep = store.multiGet(present ++ absent, TsRange.All)
    assert(rep.found.size === present.size, "every present row yields its winner")
    rep.found.foreach(c =>
      assert(expected(c.hbaseId.toSeq) === ((c.ts, c.value))))
    assert(rep.bloomSkips > 0, "absent rows must bloom-skip files")
    assert(rep.bloomChunksRead > 0)
    // the observability control: same answers, more blocks, no skips
    val noBloom = store.multiGet(present ++ absent, TsRange.All,
      useBloom = false)
    assert(noBloom.found.map(c => (c.hbaseId.toSeq, c.ts, c.value)) ===
      rep.found.map(c => (c.hbaseId.toSeq, c.ts, c.value)))
    assert(noBloom.bloomSkips === 0)
    assert(rep.dataBlocksRead < noBloom.dataBlocksRead,
      s"bloom must save data blocks: ${rep.dataBlocksRead} vs ${noBloom.dataBlocksRead}")
  }

  test("compaction with a bloom shape: compacted output answers point probes with bloom skips") {
    import HFileV2Format._
    // bloomless generations in, ONE bloom-carrying file per region out
    // — q247's compaction composed with q278's probe contract: the
    // compacted snapshot must bloom-skip absent probes, save data
    // blocks vs the no-bloom control, and agree cell-for-cell with
    // both the control and the ORIGINAL (uncompacted) snapshot
    val dir = Files.createTempDirectory("graft-hfile-compact-bloom")
    HFileFixture.writeSnapshot(dir, 400L, versions = 5, regions = 4, gens = 2,
      shape = HFileShape(codec = CodecGz, blockEntries = 16))
    val out = Files.createTempDirectory("graft-hfile-compact-bloom-out")
    HFileCompaction.regionFiles(dir.toString).foreach { case (r, fs) =>
      HFileCompaction.compactRegion(fs, s"$out/$r-g000.hfile",
        HFileShape(codec = CodecGz, blockEntries = 16, bloomRowsPerChunk = 32))
    }
    val store = HFileSnapshotStore(out.toString)
    val all = (0 until 256 / 8).flatMap(i =>
      store.scan(KeySlice(i, 8), TsRange.All).toSeq)
    val expected = all.map(c => c.hbaseId.toSeq -> (c.ts, c.value)).toMap
    val present = all.map(_.hbaseId).take(30)
    val absent = all.map(_.hbaseId).drop(200).take(30).map { r =>
      val x = r.clone(); x(x.length - 1) = (x(x.length - 1) ^ 0x5a).toByte; x
    }.filterNot(r => expected.contains(r.toSeq))
    assert(absent.nonEmpty)
    val rep = store.multiGet(present ++ absent, TsRange.All)
    assert(rep.found.size === present.size)
    rep.found.foreach(c =>
      assert(expected(c.hbaseId.toSeq) === ((c.ts, c.value))))
    assert(rep.bloomSkips > 0, "compacted bloom must skip files for absent rows")
    assert(rep.bloomChunksRead > 0)
    val noBloom = store.multiGet(present ++ absent, TsRange.All,
      useBloom = false)
    assert(noBloom.found.map(c => (c.hbaseId.toSeq, c.ts, c.value)) ===
      rep.found.map(c => (c.hbaseId.toSeq, c.ts, c.value)))
    assert(rep.dataBlocksRead < noBloom.dataBlocksRead,
      s"blocks saved on the compacted file: ${rep.dataBlocksRead} vs " +
        s"${noBloom.dataBlocksRead}")
    val orig = HFileSnapshotStore(dir.toString)
      .multiGet(present ++ absent, TsRange.All)
    assert(rep.found.map(c => (c.hbaseId.toSeq, c.ts, c.value)) ===
      orig.found.map(c => (c.hbaseId.toSeq, c.ts, c.value)),
      "compaction must be invisible to the probe path")
  }

  test("default get scans only the owning bands under each store's own slice convention") {
    // the trait fallback routes through owningSlice — per-store band
    // conventions (fixture SIGNED, HFile store UNSIGNED) must not
    // leak: rows on both sides of the signed-byte boundary probe
    // correctly, and absent rows yield nothing
    val store = FixtureEnvelopeStore(512L, corrupt = false,
      tsSpread = 0L, versions = 1)
    val all = (0 until 256 / 8).flatMap(i =>
      store.scan(KeySlice(i, 8), TsRange.All).toSeq)
    assert(all.size === 512)
    // sample across the full unsigned first-byte range so both signed
    // halves ([0x00,0x7f] and [0x80,0xff]) are probed
    val sorted = all.sortBy(c => (c.hbaseId(0) & 0xff, c.hbaseId.toSeq.mkString(",")))
    val rows = (0 until 16).map(i => sorted(i * sorted.size / 16))
    assert(rows.exists(_.hbaseId(0) < 0) && rows.exists(_.hbaseId(0) >= 0),
      "probe set must straddle the signed-byte boundary")
    val absent = rows.map { c =>
      val x = c.hbaseId.clone(); x(x.length - 1) = (x(x.length - 1) ^ 0x5a).toByte; x
    }
    val got = store.get(rows.map(_.hbaseId) ++ absent, TsRange.All).toSeq
      .map(c => (c.hbaseId.toSeq, c.ts, c.value)).sortBy(_._1.mkString(","))
    val want = rows.map(c => (c.hbaseId.toSeq, c.ts, c.value))
      .sortBy(_._1.mkString(","))
    assert(got === want)
  }

  test("row bloom: a ts-pushed probe matches the scan's version winner") {
    import HFileV2Format._
    val dir = Files.createTempDirectory("graft-hfile-bloom-ts")
    HFileFixture.writeSnapshot(dir, 200L, versions = 5, regions = 4, gens = 2,
      shape = HFileShape(codec = CodecGz, blockEntries = 16,
        bloomRowsPerChunk = 32))
    val store = HFileSnapshotStore(dir.toString)
    val range = TsRange(0L, t0 + 1L)
    val all = (0 until 256 / 8).flatMap(i =>
      store.scan(KeySlice(i, 8), range).toSeq)
    val rep = store.multiGet(all.map(_.hbaseId), range)
    val probed = rep.found.map(c => c.hbaseId.toSeq -> ((c.ts, c.value))).toMap
    assert(rep.found.size === all.size)
    all.foreach(c => assert(probed(c.hbaseId.toSeq) === ((c.ts, c.value)),
      s"row ${c.hbaseId.toSeq}"))
  }

  test("bloomless files fall back to the full index descent, tombstones apply") {
    import graft.pipeline.Fixture
    val dir = HFileFixture.tombstoneSnapshotDir(400L)
    val store = HFileSnapshotStore(dir)
    val all = (0 until 256 / 8).flatMap(i =>
      store.scan(KeySlice(i, 8), TsRange(1000L, 1003L)).toSeq)
    val expected = all.map(c => c.hbaseId.toSeq -> (c.ts, c.value)).toMap
    val ks = Fixture.keyService
    val dek = ks.batchDataKey().plaintextDataKey
    val encKey = ks.encryptKey(Fixture.MasterKeyId, dek)
    val rows = (0L until 40L).map(i =>
      (i, Fixture.cell(i, dek, encKey, corrupt = false, 0).hbase_id))
    val rep = store.multiGet(rows.map(_._2), TsRange(1000L, 1003L))
    assert(rep.bloomSkips === 0, "no blooms to skip with")
    val foundRows = rep.found.map(_.hbaseId.toSeq).toSet
    rows.foreach { case (i, row) =>
      if (i % 10 == 1)
        assert(!foundRows.contains(row.toSeq), s"DeleteFamily key $i must not probe")
      else {
        val c = rep.found.find(_.hbaseId.sameElements(row)).get
        assert(expected(row.toSeq) === ((c.ts, c.value)), s"key $i")
      }
    }
  }

  test("row bloom: a marker-only generation is bloom-visible, masking survives the skip path") {
    import HFileV2Format._
    val dir = Files.createTempDirectory("graft-hfile-bloom-tomb")
    val shape = HFileShape(bloomRowsPerChunk = 8)
    val rowA = Array[Byte](10, 1)
    val rowB = Array[Byte](20, 2) // absent, but INSIDE g000's key range
    val rowC = Array[Byte](30, 3)
    HFileV2Writer.writeCells(dir.resolve("g000.hfile"), Iterator(
      HFileCell(rowA, 1000L, "a".getBytes),
      HFileCell(rowC, 1000L, "c".getBytes)), shape, seqId = 0L)
    HFileV2Writer.writeCells(dir.resolve("g001.hfile"), Iterator(
      HFileCell(rowA, 1001L, Array.emptyByteArray, KeyTypeDeleteFamily,
        EmptyQualifier)), shape, seqId = 1L)
    val store = HFileSnapshotStore(dir.toString)
    val rep = store.multiGet(Seq(rowA, rowB, rowC), TsRange.All)
    // rowA: put bloom-hits g000, the MARKER bloom-hits g001 -> masked;
    // rowB: in g000's range but bloom-skipped (range-pruned from
    // g001); rowC: found, g001 range-pruned
    assert(rep.found.map(c => (c.hbaseId.toSeq, c.value)) ===
      Seq((rowC.toSeq, "c")))
    assert(rep.bloomSkips >= 1, "in-range absent row must bloom-skip")
  }

  test("general ROW bloom subsumes a delete-family bloom: marker-only files " +
      "bloom-skip for undeleted rows, results identical") {
    import HFileV2Format._
    // THE case a delete-family bloom exists for in HBase (whose
    // general bloom can be ROWCOL, bypassed by DeleteFamily markers):
    // a probe must decide whether a marker-only file needs the
    // delete-masking descent. This writer keys EVERY cell's row into
    // the general ROW bloom — markers included — so the general bloom
    // already answers it: a row with no marker in the file bloom-skips
    // the descent entirely, and the no-bloom control reads MORE blocks
    // for the identical result. That is why DFBLMET2 is stepped over,
    // never consulted (HFileV2Format.readMeta scaladoc).
    val dir = Files.createTempDirectory("graft-hfile-dfbloom-subsume")
    val shape = HFileShape(bloomRowsPerChunk = 8)
    val rowA = Array[Byte](10, 1)
    val rowB = Array[Byte](20, 2) // never deleted
    val rowC = Array[Byte](30, 3)
    HFileV2Writer.writeCells(dir.resolve("g000.hfile"), Iterator(
      HFileCell(rowA, 1000L, "a".getBytes),
      HFileCell(rowB, 1000L, "b".getBytes),
      HFileCell(rowC, 1000L, "c".getBytes)), shape, seqId = 0L)
    // marker-ONLY generation whose [firstRow, lastRow] range COVERS
    // rowB — without a bloom the probe would have to descend it to
    // look for rowB's delete markers
    HFileV2Writer.writeCells(dir.resolve("g001.hfile"), Iterator(
      HFileCell(rowA, 1001L, Array.emptyByteArray, KeyTypeDeleteFamily,
        EmptyQualifier),
      HFileCell(rowC, 1001L, Array.emptyByteArray, KeyTypeDeleteFamily,
        EmptyQualifier)), shape, seqId = 1L)
    val store = HFileSnapshotStore(dir.toString)
    // masking parity over all three rows: A and C masked, B survives,
    // with and without blooms
    val all = store.multiGet(Seq(rowA, rowB, rowC), TsRange.All)
    val allCtl = store.multiGet(Seq(rowA, rowB, rowC), TsRange.All,
      useBloom = false)
    assert(all.found.map(c => (c.hbaseId.toSeq, c.value)) ===
      Seq((rowB.toSeq, "b")))
    assert(allCtl.found.map(c => (c.hbaseId.toSeq, c.value)) ===
      all.found.map(c => (c.hbaseId.toSeq, c.value)))
    // block accounting for the undeleted row ALONE (probing the masked
    // rows first would warm the per-call block cache and hide the
    // saving — both files are single-block here): the bloom path never
    // touches the marker-only file, the control descends it
    val rep = store.multiGet(Seq(rowB), TsRange.All)
    val ctl = store.multiGet(Seq(rowB), TsRange.All, useBloom = false)
    assert(rep.found.map(c => (c.hbaseId.toSeq, c.value)) ===
      Seq((rowB.toSeq, "b")))
    assert(ctl.found.map(c => (c.hbaseId.toSeq, c.value)) ===
      rep.found.map(c => (c.hbaseId.toSeq, c.value)))
    assert(rep.bloomSkips >= 1, "rowB must bloom-skip the marker-only file")
    assert(rep.dataBlocksRead < ctl.dataBlocksRead,
      s"bloom must save the masking descent: ${rep.dataBlocksRead} vs " +
        s"${ctl.dataBlocksRead}")
  }

  test("a corrupt bloom chunk degrades to the full descent, never fails the probe") {
    import HFileV2Format._
    val dir = Files.createTempDirectory("graft-hfile-bloom-corrupt")
    HFileFixture.writeSnapshot(dir, 200L, versions = 5, regions = 2, gens = 1,
      shape = HFileShape(codec = CodecGz, blockEntries = 16,
        bloomRowsPerChunk = 32))
    val store = HFileSnapshotStore(dir.toString)
    val all = (0 until 256 / 16).flatMap(i =>
      store.scan(KeySlice(i, 16), TsRange.All).toSeq)
    val expected = all.map(c => c.hbaseId.toSeq -> ((c.ts, c.value))).toMap
    // flip one byte inside every file's FIRST bloom chunk payload —
    // its CRC now fails on read
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".hfile")).foreach { p =>
        val meta = readMeta(p.toString)
        val off = meta.bloom.get.index(0).offset + HeaderSize + 3
        val raf = new java.io.RandomAccessFile(p.toFile, "rw")
        try {
          raf.seek(off)
          val b = raf.readByte()
          raf.seek(off)
          raf.writeByte(b ^ 0x41)
        } finally raf.close()
      }
    val rows = all.map(_.hbaseId).take(40)
    val rep = store.multiGet(rows, TsRange.All)
    assert(rep.bloomErrors > 0, "the torn chunk must be observed")
    assert(rep.found.size === rows.size)
    rep.found.foreach(c =>
      assert(expected(c.hbaseId.toSeq) === ((c.ts, c.value))))
  }

  test("probes over a bloom-carrying compacted tombstone snapshot stay masked") {
    import HFileV2Format._
    import graft.pipeline.Fixture
    val src = HFileFixture.tombstoneSnapshotDir(400L)
    val out = Files.createTempDirectory("graft-tomb-bloom-majc")
    // snapshot-export compaction (markers carried) into a bloom-
    // carrying shape: the rewritten files' ROW blooms must cover the
    // markers too, or a probe would resurrect DeleteFamily'd keys
    HFileCompaction.regionFiles(src).foreach { case (r, fs) =>
      HFileCompaction.compactRegion(fs, s"$out/$r-g000.hfile",
        HFileShape(blockEntries = 16, bloomRowsPerChunk = 32))
    }
    val store = HFileSnapshotStore(out.toString)
    val range = TsRange(1000L, 1003L)
    val all = (0 until 256 / 16).flatMap(i =>
      store.scan(KeySlice(i, 16), range).toSeq)
    val expected = all.map(c => c.hbaseId.toSeq -> ((c.ts, c.value))).toMap
    val ks = Fixture.keyService
    val dek = ks.batchDataKey().plaintextDataKey
    val encKey = ks.encryptKey(Fixture.MasterKeyId, dek)
    val rows = (0L until 40L).map(i =>
      (i, Fixture.cell(i, dek, encKey, corrupt = false, 0).hbase_id))
    val rep = store.multiGet(rows.map(_._2), range)
    val foundRows = rep.found.map(_.hbaseId.toSeq).toSet
    rows.foreach { case (i, row) =>
      if (i % 10 == 1)
        assert(!foundRows.contains(row.toSeq), s"DeleteFamily key $i resurrected")
      else {
        val c = rep.found.find(_.hbaseId.sameElements(row)).get
        assert(expected(row.toSeq) === ((c.ts, c.value)), s"key $i")
      }
    }
    assert(rep.bloomChunksRead > 0, "the compacted files must carry blooms")
  }

  test("generation order follows MAX_SEQ_ID, not file names") {
    import java.nio.charset.StandardCharsets.UTF_8
    val dir = Files.createTempDirectory("graft-hfile-seqid")
    val row = Array[Byte](10, 1)
    // name order says g000 is older, but its seq id is HIGHER — the
    // real-snapshot case where names are random hashes
    HFileV2Writer.writeCells(dir.resolve("region-r000-g000.hfile"),
      Iterator(HFileCell(row, 5L, "winner".getBytes(UTF_8))),
      HFileShape(), seqId = 12L)
    HFileV2Writer.writeCells(dir.resolve("region-r000-g001.hfile"),
      Iterator(HFileCell(row, 5L, "loser".getBytes(UTF_8))),
      HFileShape(), seqId = 3L)
    assert(HFileV2Format.readMeta(
      dir.resolve("region-r000-g000.hfile").toString).maxSeqId === Some(12L))
    val cells = HFileSnapshotStore(dir.toString)
      .scan(KeySlice(0, 256), TsRange.All).toSeq
    assert(cells.map(_.value) === Seq("winner"))
    // compaction applies the same rule
    val out = Files.createTempDirectory("graft-hfile-seqid-c")
    HFileCompaction.compactRegion(
      Seq(dir.resolve("region-r000-g000.hfile").toString,
        dir.resolve("region-r000-g001.hfile").toString),
      s"$out/region-r000-g000.hfile", HFileShape())
    val compacted = HFileSnapshotStore(out.toString)
      .scan(KeySlice(0, 256), TsRange.All).toSeq
    assert(compacted.map(_.value) === Seq("winner"))
    // and the compacted file carries max(input seq ids) forward
    assert(HFileV2Format.readMeta(s"$out/region-r000-g000.hfile")
      .maxSeqId === Some(12L))
  }

  // --------------------------------------------- major compaction

  test("compaction: one file per region, scans byte-identical, transcodes shape") {
    val dir = Files.createTempDirectory("graft-hfile-precompact")
    HFileFixture.writeSnapshot(dir, 300L, 4, regions = 4, gens = 2,
      blockEntries = 16)
    val before = HFileSnapshotStore(dir.toString)
    val out = Files.createTempDirectory("graft-hfile-postcompact")
    HFileCompaction.regionFiles(dir.toString).foreach { case (r, fs) =>
      assert(fs.size >= 1)
      HFileCompaction.compactRegion(fs, s"$out/$r-g0.hfile", modernShape)
    }
    val files = Files.list(out).iterator()
    var n = 0
    while (files.hasNext) { files.next(); n += 1 }
    assert(n === 4, "one compacted file per region")
    val after = HFileSnapshotStore(out.toString)
    def dump(s: EnvelopeStore, range: TsRange) =
      (0 until 256 / 16).flatMap(i => s.scan(KeySlice(i, 16), range).toSeq)
        .map(c => (c.hbaseId.toSeq, c.ts, c.value))
    for (range <- Seq(TsRange.All, TsRange(0L, t0 + 1L), TsRange(t0 + 1L, t0 + 3L)))
      assert(dump(after, range) === dump(before, range), s"range $range")
    // the compacted files really are the modern shape
    val meta = HFileV2Format.readMeta(s"$out/region-r000-g0.hfile")
    assert(meta.trailer.majorVersion === 3)
    assert(meta.includesMvcc)
  }

  test("compaction drops the older generation's cell on an exact (row, ts) tie") {
    import java.nio.charset.StandardCharsets.UTF_8
    val dir = Files.createTempDirectory("graft-hfile-compact-tie")
    val row = Array[Byte](10, 1, 2, 3)
    HFileV2Writer.writeHFile(dir.resolve("region-r000-g0.hfile"),
      Iterator((row, 5L, "old".getBytes(UTF_8))), HFileV2Format.CodecNone)
    HFileV2Writer.writeHFile(dir.resolve("region-r000-g1.hfile"),
      Iterator((row, 5L, "new".getBytes(UTF_8)),
        (row, 3L, "older-version".getBytes(UTF_8))),
      HFileV2Format.CodecNone)
    val out = Files.createTempDirectory("graft-hfile-compact-tie-out")
    HFileCompaction.compactRegion(
      Seq(dir.resolve("region-r000-g0.hfile").toString,
        dir.resolve("region-r000-g1.hfile").toString),
      s"$out/region-r000-g0.hfile", HFileShape())
    val meta = HFileV2Format.readMeta(s"$out/region-r000-g0.hfile")
    assert(meta.trailer.entryCount === 2, "tie deduped, versions kept")
    val cells = HFileSnapshotStore(out.toString)
      .scan(KeySlice(0, 128), TsRange.All).toSeq
    assert(cells.map(_.value) === Seq("new"), "newest generation won the tie")
    val all = HFileSnapshotStore(out.toString)
      .scan(KeySlice(0, 128), TsRange(0L, 4L)).toSeq
    assert(all.map(_.value) === Seq("older-version"), "older version retained")
  }

  test("hfile generation tie-break: equal (row, ts) resolves to the newer file") {
    import java.nio.charset.StandardCharsets.UTF_8
    val dir = Files.createTempDirectory("graft-hfile-tie")
    val row = Array[Byte](10, 1, 2, 3)
    // same (row, ts) in two generation files with different values —
    // the HBase sequence-id rule: the newer file (later name) wins
    HFileV2Writer.writeHFile(dir.resolve("region-r000-g0.hfile"),
      Iterator((row, 5L, "old".getBytes(UTF_8))), HFileV2Format.CodecNone)
    HFileV2Writer.writeHFile(dir.resolve("region-r000-g1.hfile"),
      Iterator((row, 5L, "new".getBytes(UTF_8))), HFileV2Format.CodecNone)
    val store = HFileSnapshotStore(dir.toString)
    val cells = store.scan(KeySlice(0, 128), TsRange.All).toSeq
    assert(cells.map(_.value) === Seq("new"))
  }
}
