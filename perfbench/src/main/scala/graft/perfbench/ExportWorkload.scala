package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Completion, Envelope, ExportJob, ExportPipeline, Fixture, SnapshotWriter}

/** The export workload: `ExportJob.run` (full snapshot) over the HFile
  * snapshot of [[ExportFixture]]. */
final class ExportWorkload(ctx: Context, spec: ExportFixture.Spec) {

  private val spark = ctx.spark
  private val keys = new CountingKeyService(Fixture.keyService)
  /** Source and writer share one slice width, with at least 2 × cores
    * slices (a power of two dividing 256). */
  val scanWidth: Int = {
    var slices = 1
    while (slices < 2 * ctx.cores && slices < 256) slices *= 2
    256 / slices
  }
  private var snapshotDir = ""
  var written = ExportFixture.Written(0, 0)
  lazy val expected: Map[String, Long] = ExportFixture.expectedOutcomes(spec)

  /** Writes the snapshot `times` times (fresh dir each, the last kept);
    * returns each write's seconds. */
  def prepare(times: Int): Seq[Double] = (0 until times).map { k =>
    if (snapshotDir.nonEmpty) ctx.delete(snapshotDir)
    snapshotDir = ctx.dir(s"snapshot-$k")
    val t0 = System.nanoTime()
    written = ExportFixture.write(spark, snapshotDir, spec)
    (System.nanoTime() - t0) / 1e9
  }

  def source(s: SparkSession): DataFrame =
    s.read.format("graft.sources.EnvelopeSource")
      .option("store", "hfile").option("path", snapshotDir)
      .option("scanWidth", scanWidth.toString).load()

  private def completionCfg(outDir: String) = Completion.Config(
    topicName = Fixture.Topic, snapshotType = "full",
    exportDate = "2020-06-05", correlationId = "perfbench",
    s3Prefix = outDir, monitoringTopicArn = "arn:monitoring",
    fullTopicArn = "arn:full")

  private def writerCfg(outDir: String, manDir: String) =
    SnapshotWriter.Config(outDir, manDir, Fixture.Topic, compression = "gz",
      scanWidth = scanWidth)

  private var jobNo = 0

  /** One checked `ExportJob.run`; returns its raw record. */
  def job(traced: Boolean): Op = {
    jobNo += 1
    val outDir = ctx.dir(s"out-$jobNo")
    val manDir = ctx.dir(s"manifest-$jobNo")
    val control = new TimedControl
    val cfg = completionCfg(outDir)
    val messaging = new Completion.SqsMessagingService(cfg, control.sqs, sleeper = _ => ())
    val sns = new Completion.SnsPublishingService(cfg, control.sns, sleeper = _ => ())
    val before = ctx.snapshot()
    val keyCalls0 = CountingKeyService.calls
    val t0 = System.nanoTime()
    val result = ctx.trace(traced)("export.job") {
      ExportJob.run(spark, source, cfg, writerCfg(outDir, manDir), keys,
        control.status, control.product(cfg.correlationId), messaging, sns)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val delta = ctx.snapshot() - before
    // read before the check, whose readBack calls the key service too
    val keyCalls = CountingKeyService.calls - keyCalls0
    val failures = check(result, outDir, manDir)
    ctx.delete(outDir); ctx.delete(manDir)
    Op("export", s"job-$jobNo", wall, traced, delta, failures, Map(
      "records_written" -> result.files.map(_.records).sum,
      "rows_out" -> result.skips.values.sum,
      "files" -> result.files.size,
      "batch_bytes" -> result.files.map(_.batch_bytes).sum,
      "data_bytes" -> result.files.map(_.data_bytes).sum,
      "keyservice_calls" -> keyCalls,
      "control_s" -> control.nanos.get / 1e9))
  }

  /** The output checks; each message is one failed check. */
  private def check(r: ExportJob.Result, outDir: String, manDir: String): Seq[String] = {
    val failures = Seq.newBuilder[String]
    def expect(ok: Boolean, msg: => String): Unit = if (!ok) failures += msg
    val writtenRecords = r.files.map(_.records).sum
    expect(r.outcome.completed, s"outcome not completed: ${r.outcome} ${r.failure}")
    expect(r.skips.values.sum == writtenRecords + r.skips.removed("ok").values.sum &&
      r.skips.getOrElse("ok", 0L) == writtenRecords,
      s"records read ${r.skips.values.sum} != written $writtenRecords + skips ${r.skips}")
    expect(r.skips == expected, s"skips ${r.skips} != fixture arithmetic $expected")
    val manifests = Option(new File(manDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".csv"))
    val manifestLines = manifests.map(f => Files.readAllLines(f.toPath).size.toLong).sum
    expect(manifestLines == writtenRecords,
      s"manifest lines $manifestLines != records written $writtenRecords")
    // round-trip a seed-chosen sample of files through readBack
    val rnd = new scala.util.Random(spec.seed * 7919 + jobNo)
    rnd.shuffle(r.files).take(2).foreach { fa =>
      val lines = SnapshotWriter.readBack(outDir, fa.file, "gz", keys)
      expect(lines.size == fa.records && lines.forall(l => l.startsWith("{") && l.contains("\"body\"")),
        s"readBack ${fa.file}: ${lines.size} lines, accounting says ${fa.records}")
    }
    failures.result()
  }

  /** Subtractive noop legs: each leg adds one layer to the previous
    * one, so a layer's time is its leg minus the previous leg. `write`
    * is the whole job's write action and `accounting` its second
    * (skipSummary) pass. Returns leg name → seconds. */
  def legs(): Seq[(String, Double)] = {
    val topic = Fixture.Topic
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def parsed = Envelope.parse(source(spark), topic)
    def decrypted = ExportPipeline.decrypt(parsed, keys)
    def validated = ExportPipeline.validate(ExportPipeline.auditTransform(decrypted))
    def pipeline = ExportPipeline.run(source(spark), topic, keys)
    val outDir = ctx.dir("legs-out")
    val manDir = ctx.dir("legs-manifest")
    val legs = Seq[(String, () => Unit)](
      "scan" -> (() => noop(source(spark))),
      "parse" -> (() => noop(parsed)),
      "decrypt" -> (() => noop(decrypted)),
      "validate" -> (() => noop(validated)),
      "sanitise" -> (() => noop(pipeline)),
      "write" -> (() => SnapshotWriter.write(ExportPipeline.records(pipeline),
        writerCfg(outDir, manDir), keys).collect()),
      "accounting" -> (() => ExportPipeline.skipSummary(pipeline).collect()))
    val out = legs.map { case (name, run) =>
      val t0 = System.nanoTime()
      ctx.trace(traced = true)(s"leg.$name")(run())
      name -> (System.nanoTime() - t0) / 1e9
    }
    ctx.delete(outDir); ctx.delete(manDir)
    out
  }

  def inputJson: String = Json.obj("cells" -> written.cells,
    "snapshot_bytes" -> written.bytesOnDisk, "scan_width" -> scanWidth,
    "rows" -> expected.values.sum)
}
