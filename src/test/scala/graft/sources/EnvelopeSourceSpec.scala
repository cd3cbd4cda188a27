package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.pipeline.{ExportPipeline, Fixture}

/** DSv2 source spec: key-range partition planning, ts-range pushdown,
  * column pruning, parity with the Dataset fixture, and the pipeline
  * running end-to-end over the source. */
class EnvelopeSourceSpec extends SparkSuite {

  private def read(opts: (String, String)*): DataFrame = {
    val r = spark.read.format("graft.sources.EnvelopeSource")
    opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  test("reads the full corpus with the declared schema") {
    val df = read("n" -> "1000")
    assert(df.schema.fieldNames.toSeq == Seq("hbase_id", "ts", "value"))
    assert(df.count() == 1000)
  }

  test("plans one input partition per key-range slice (HBasePartitioner.kt:12-37)") {
    assert(read("n" -> "500", "scanWidth" -> "64").rdd.getNumPartitions == 4)
    assert(read("n" -> "500", "scanWidth" -> "128").rdd.getNumPartitions == 2)
    assert(read("n" -> "500", "scanWidth" -> "16").rdd.getNumPartitions == 16)
    // slices are disjoint + exhaustive: per-partition counts sum to n
    val df = read("n" -> "500", "scanWidth" -> "64")
    val perPart = df.groupBy(spark_partition_id()).count()
      .collect().map(_.getLong(1))
    assert(perPart.sum == 500 && perPart.length == 4)
  }

  test("time-range filter pushes into the scan (HBaseReader.kt:131-150)") {
    // ts = 1000 + i % 10 with tsSpread=10
    val df = read("n" -> "1000", "tsSpread" -> "10")
    val filtered = df.filter(col("ts") >= 1005L && col("ts") < 1008L)
    assert(filtered.count() == 300) // i%10 in {5,6,7}
    val planStr = filtered.queryExecution.executedPlan.toString
    assert(planStr.contains("PushedFilters") &&
      planStr.contains("GreaterThanOrEqual(ts,1005)"),
      s"expected pushed ts filters in:\n$planStr")
  }

  test("hbase_id point predicates push down and plan only the owning slices") {
    val df = read("n" -> "1000", "versions" -> "5")
    val ids = df.select("hbase_id").orderBy("hbase_id").take(5)
      .map(_.getAs[Array[Byte]](0))
    val byId = df.collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq -> (r.getLong(1), r.getString(2)))
      .toMap
    // equality: pushed, one partition, same row as the full scan
    val eq = df.filter(col("hbase_id") === lit(ids(0)))
    val eqPlan = eq.queryExecution.executedPlan.toString
    assert(eqPlan.contains("EqualTo(hbase_id"), s"not pushed:\n$eqPlan")
    assert(eq.rdd.getNumPartitions == 1, "one probe partition, not 256/width")
    val Array(row) = eq.collect()
    assert(byId(row.getAs[Array[Byte]](0).toSeq) ===
      ((row.getLong(1), row.getString(2))))
    // IN: pushed, at most one partition per probed slice, exact rows
    val in = df.filter(col("hbase_id").isin(ids.toSeq: _*))
    val inPlan = in.queryExecution.executedPlan.toString
    assert(inPlan.contains("In(hbase_id"), s"not pushed:\n$inPlan")
    assert(in.rdd.getNumPartitions <= ids.length)
    val got = in.collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(got === ids.map(_.toSeq).map(k => k -> byId(k)).toMap)
    // contradictory point predicates intersect to the empty probe set:
    // zero partitions, zero rows, no error
    val none = df.filter(col("hbase_id") === lit(ids(0)) &&
      col("hbase_id") === lit(ids(1)))
    assert(none.count() === 0)
    // a zero-length probe key matches nothing (no store holds an empty
    // row key) and must not crash band/slice planning
    assert(df.filter(col("hbase_id") === lit(Array.empty[Byte])).count() === 0)
    assert(df.filter(col("hbase_id")
      .isin(Seq(ids(0), Array.empty[Byte]): _*)).count() === 1)
    // conjunction with a ts predicate: both push, winner re-selects
    val ranged = df.filter(col("hbase_id") === lit(ids(4)) && col("ts") <= 1000L)
    val rangedPlan = ranged.queryExecution.executedPlan.toString
    assert(rangedPlan.contains("EqualTo(hbase_id") &&
      rangedPlan.contains("LessThanOrEqual(ts,1000)"))
    assert(ranged.collect().forall(_.getLong(1) == 1000L))
  }

  test("hbase_id probes over the HFile store ride the bloom GET path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src-bloom")
    HFileFixture.writeSnapshot(dir, 400L, versions = 5, regions = 4, gens = 2,
      shape = HFileShape(codec = HFileV2Format.CodecGz, blockEntries = 16,
        bloomRowsPerChunk = 32))
    val df = read("store" -> "hfile", "path" -> dir.toString)
    val full = df.collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq -> (r.getLong(1), r.getString(2)))
      .toMap
    val present = full.keys.toSeq.sortBy(_.mkString(",")).take(4)
      .map(_.toArray)
    val absent = present.map { r =>
      val x = r.clone(); x(x.length - 1) = (x(x.length - 1) ^ 0x5a).toByte; x
    }
    val probed = df.filter(
      col("hbase_id").isin((present ++ absent).toSeq: _*)).collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(probed === present.map(_.toSeq).map(k => k -> full(k)).toMap,
      "probe must return exactly the present rows' scan winners")
  }

  test("an unknown store fails the scan instead of exporting the fixture") {
    // the retired sorted-run value and a typo of "hfile" alike: neither
    // may fall back to the generated corpus and report success
    for (store <- Seq("sortedrun", "hfil")) {
      val ex = intercept[IllegalArgumentException] {
        read("n" -> "100", "store" -> store, "path" -> "/nonexistent").count()
      }
      assert(ex.getMessage.contains(s"unknown store '$store'"))
      assert(ex.getMessage.contains("fixture, hfile, flaky"))
    }
  }

  test("streaming scans leave hbase_id predicates to Spark (no false pushdown)") {
    // the micro-batch stream plans slice partitions; a row predicate
    // accepted there would silently drop rows — it must be REJECTED at
    // pushdown so Spark keeps the post-scan filter
    val streamed = spark.readStream.format("graft.sources.EnvelopeSource")
      .option("n", "500").option("scanWidth", "64")
      .option("versions", "5").option("tsSteps", "1000,1001")
      .load()
    val id = read("n" -> "500", "versions" -> "5")
      .select("hbase_id").take(1)(0).getAs[Array[Byte]](0)
    val qname = "graft_probe_stream_guard"
    spark.catalog.dropTempView(qname)
    val q = streamed.filter(col("hbase_id") === lit(id))
      .writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // exactly that key's rows from both micro-batches, nothing dropped
    val rows = spark.table(qname).collect()
    assert(rows.nonEmpty &&
      rows.forall(_.getAs[Array[Byte]](0).sameElements(id)))
  }

  test("column pruning reaches the reader (ReadSchema)") {
    val df = read("n" -> "100").select("value")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema: struct<value:string>"), scan)
    assert(df.count() == 100)
  }

  test("rows are byte-identical to the Dataset fixture") {
    val viaSource = read("n" -> "200")
      .select(hex(col("hbase_id")).as("k"), col("value"))
    val viaFixture = Fixture.generate(spark, 200)
      .select(hex(col("hbase_id")).as("k"), col("value"))
    assert(viaSource.exceptAll(viaFixture).count() == 0)
    assert(viaFixture.exceptAll(viaSource).count() == 0)
  }

  test("multi-version: unfiltered scan returns one row per key, the latest version " +
      "(hbase_data.py:32 max_versions; HBaseResultProcessor.kt:76-77)") {
    val df = read("n" -> "1000", "versions" -> "5")
    assert(df.count() == 1000) // one row per key, never one per version
    // key i holds 1 + (i%5) versions → latest ts = 1000 + i%5
    val byTs = df.groupBy(col("ts")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byTs == Map(1000L -> 200L, 1001L -> 200L, 1002L -> 200L,
      1003L -> 200L, 1004L -> 200L), byTs.toString)
  }

  test("multi-version: out-of-range NEWER versions lose to in-range OLDER ones " +
      "(HBaseReader.kt:145-150 setTimeRange)") {
    val df = read("n" -> "1000", "versions" -> "5")
      .filter(col("ts") >= 1000L && col("ts") < 1003L)
    // every key has ts=1000 in range → all 1000 keys survive,
    // with exported version min(i%5, 2)
    assert(df.count() == 1000)
    val byTs = df.groupBy(col("ts")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byTs == Map(1000L -> 200L, 1001L -> 200L, 1002L -> 600L), byTs.toString)
    // the value IS the selected version's cell: keys holding 5 versions
    // (newest ts=1004, OUT of range) must export the "v":2 payload —
    // never "v":3 / "v":4
    val vals = df.select(col("value"))
    assert(vals.filter(col("value").contains("\"v\":3") ||
      col("value").contains("\"v\":4")).count() == 0)
    // and the range is pushed into the scan, not post-filtered
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("LessThan(ts,1003)"), planStr)
  }

  test("multi-version: keys with no version in range yield nothing") {
    // keys with i%5 == 0 hold only ts=1000 → excluded by [1001, ∞)
    val df = read("n" -> "1000", "versions" -> "5")
      .filter(col("ts") >= 1001L)
    assert(df.count() == 800)
    assert(df.filter(col("ts") === 1000L).count() == 0)
  }

  test("export pipeline runs end-to-end over the DSv2 source") {
    val out = ExportPipeline.run(read("n" -> "1000"), Fixture.Topic,
      Fixture.keyService)
    val recs = ExportPipeline.records(out)
    assert(recs.count() == 1000)
    assert(recs.filter(col("doc").contains("d_oid")).count() == 500)
  }

  test("task retry: a fault mid-slice on the first attempt yields exactly-once " +
      "output (HBaseReader.kt:62-90 resume semantics under Spark's scheduler)") {
    // the shared session runs local[4,2] (maxTaskFailures=2): every
    // slice's first attempt dies after 50 cells, the retry attempt
    // scans clean, and Spark discards the dead attempt's output
    assert(spark.sparkContext.master.endsWith(",2]"),
      s"retry spec needs task retries enabled: ${spark.sparkContext.master}")
    val before = FlakyEnvelopeStore.faultsInjected.get()
    val flaky = read("n" -> "2000", "store" -> "flaky", "failAfter" -> "50")
      .select(hex(col("hbase_id")).as("k"), col("ts"), col("value"))
    val clean = read("n" -> "2000")
      .select(hex(col("hbase_id")).as("k"), col("ts"), col("value"))
    // exactly-once: multiset equality in both directions, no dup keys
    assert(flaky.exceptAll(clean).count() == 0)
    assert(clean.exceptAll(flaky).count() == 0)
    assert(flaky.select(countDistinct(col("k"))).head().getLong(0) == 2000L)
    // and the faults actually FIRED (one per slice = 4 partitions) —
    // a retry test that never faulted proves nothing
    val fired = FlakyEnvelopeStore.faultsInjected.get() - before
    assert(fired >= 4, s"expected >=4 injected faults, saw $fired")
  }

  test("total source work is O(n): one index pass, readers touch only their slice") {
    // fresh (n, width) so the memo cannot have been built by another test
    val n = 7777L
    val width = 32 // 8 slices
    val before = SliceIndex.passes.get()
    val slices = (0 until 8).map(s => SliceIndex.forSlice(n, width, s))
    // partition-complete: every id lands in exactly one slice stream
    assert(slices.map(_.length.toLong).sum == n)
    assert(slices.flatten.distinct.size.toLong == n)
    // slice streams agree with the key-prefix routing
    for ((ids, s) <- slices.zipWithIndex; i <- ids.take(50))
      assert(((Fixture.keyPrefixByte(i) + 128) & 0xff) / width == s)
    // all 8 slice reads cost ONE full pass, not 8 (the O(n × slices)
    // walk this replaced)
    assert(SliceIndex.passes.get() == before + 1)
    // and a full source read over the same config adds none
    assert(read("n" -> n.toString, "scanWidth" -> width.toString).count() == n)
    assert(SliceIndex.passes.get() == before + 1)
  }

  // ---------------------------------------- micro-batch stream source

  test("micro-batch stream: ts-watermark offsets tile the incremental exports") {
    val qname = "graft_spec_envstream"
    spark.catalog.dropTempView(qname)
    val streamed = spark.readStream.format("graft.sources.EnvelopeSource")
      .option("n", 600).option("scanWidth", 64).option("versions", 4)
      .option("tsSteps", "1000,1001,1003")
      .load()
    val query = streamed.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    val rows = spark.table(qname)
      .select(col("hbase_id"), col("ts")).collect()
      .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1)))
    // batch 1 (ts<=1000): every key's v0; batch 2 ((1000,1001]): keys
    // with >=2 versions; batch 3 ((1001,1003]): the LATEST in-window
    // version only — v3 where it exists (i%4==3), else v2 (i%4==2)
    val byTs = rows.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byTs(1000L) == 600)
    assert(byTs(1001L) == 450) // i%4 >= 1
    assert(byTs(1002L) == 150) // i%4 == 2 (v2 is their latest in-window)
    assert(byTs(1003L) == 150) // i%4 == 3 (v3 supersedes their v2)
    // no key/ts pair is ever emitted twice (tiling, not overlap)
    assert(rows.distinct.length == rows.length)
    assert(rows.map(_._1).distinct.size == 600)
  }

  test("micro-batch stream: offsets serialize/deserialize as json") {
    val scan = new EnvelopeScanBuilder(10L, 64, false, 1L, 1, "fixture",
      "", 100, tsSteps = "5,9").build()
      .asInstanceOf[EnvelopeScan]
    val stream = scan.toMicroBatchStream("/tmp/unused")
    val o1 = stream.latestOffset()
    assert(o1.json() == """{"ts":5}""")
    assert(stream.deserializeOffset(o1.json()) == o1)
    val o2 = stream.latestOffset()
    assert(o2.json() == """{"ts":9}""")
    // exhausted steps hold at the final bound (no phantom batches)
    assert(stream.latestOffset().json() == """{"ts":9}""")
    // a batch plans one partition per key slice with the narrowed range
    val parts = stream.planInputPartitions(
      stream.deserializeOffset("""{"ts":5}"""), o2)
    assert(parts.length == 4)
    val p = parts.head.asInstanceOf[EnvelopePartition]
    assert(p.ts == TsRange(6L, 9L))
  }
}
