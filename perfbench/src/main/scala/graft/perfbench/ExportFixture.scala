package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.{Base64, SplittableRandom}
import java.util.zip.CRC32

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Crypto, Fixture}
import graft.sources.{HFileCell, HFileShape, HFileV2Format, HFileV2Writer}

/** The export workload's input: an HFile v2 snapshot (gz blocks, one
  * file per region) of `n` encrypted envelopes.
  *
  * Differences from the stock fixture, each for a reason:
  *  - every decrypted document carries a `body` of words from a fixed
  *    vocabulary, its length drawn from the seed, so documents average
  *    about 1 KB; stock documents compress to a few bytes per record and
  *    leave compression and encryption idle;
  *  - record ids start at a seed-chosen offset, so each seed has its own
  *    row keys and region/slice balance.
  * The 1% corrupt slots of the stock fixture stay: index mod 100 equal
  * to 13 drops `dbObject`, 37 carries bad ciphertext, 59 bad JSON. */
object ExportFixture {

  val Regions = 4

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti",
    "vo", "pe", "da", "gu", "ho", "ji", "fa", "be", "zo")
  /** 256 fixed words: every pair of syllables. */
  val Vocabulary: Array[String] =
    for (a <- Syllables; b <- Syllables) yield a + b + "n"

  final case class Spec(n: Int, seed: Long) {
    val idOffset: Long = java.lang.Math.floorMod(seed, 1000L) * 1000000L
  }

  final case class Written(cells: Long, bytesOnDisk: Long)

  private def idJson(spec: Spec, i: Long): String =
    s"""{"record_id":"${f"${spec.idOffset + i}%010d"}"}"""

  private def rowKey(idJsonStr: String): Array[Byte] = {
    val idBytes = idJsonStr.getBytes(UTF_8)
    val crc = new CRC32()
    crc.update(idBytes)
    val c = crc.getValue
    Array[Byte]((c & 0xff).toByte, ((c >> 8) & 0xff).toByte,
      ((c >> 16) & 0xff).toByte, ((c >> 24) & 0xff).toByte) ++ idBytes
  }

  /** Body text of record i: seed-drawn length, mean about 900 chars. */
  def body(spec: Spec, i: Long): String = {
    val rnd = new SplittableRandom(spec.seed * 0x9E3779B97F4A7C15L + i)
    val target = 384 + rnd.nextInt(1024)
    val sb = new java.lang.StringBuilder(target + 8)
    while (sb.length < target) {
      if (sb.length > 0) sb.append(' ')
      sb.append(Vocabulary(rnd.nextInt(Vocabulary.length)))
    }
    sb.toString
  }

  private def payload(spec: Spec, i: Long): String =
    if (i % 100 == Fixture.BadJsonSlot) "{{{"
    else {
      val id = f"${spec.idOffset + i}%010d"
      val payloadId = if (i % 2 == 0) s"""{"record_id":"$id"}""" else s""""$id""""
      s"""{"_id":$payloadId,"createdDateTime":"2015-03-20T12:23:25.183Z","_lastModifiedDateTime":"2018-12-14T15:01:02.000+0000","body":"${body(spec, i)}"}"""
    }

  private def envelope(spec: Spec, i: Long, dek: String, encKey: String): String = {
    val id = f"${spec.idOffset + i}%010d"
    val iv = java.security.MessageDigest.getInstance("MD5")
      .digest(s"iv:${spec.idOffset + i}".getBytes(UTF_8))
    val dbObject =
      if (i % 100 == Fixture.MissingFieldSlot) ""
      else if (i % 100 == Fixture.BadCiphertextSlot) "%%%not-base64%%%"
      else Crypto.encrypt(dek, iv, payload(spec, i).getBytes(UTF_8))
    s"""{"traceId":"$id","unitOfWorkId":"$id","@type":"OUTER_TYPE","message":{"db":"${Fixture.Db}","collection":"${Fixture.Collection}","_id":${idJson(spec, i)},"_timeBasedHash":"hash","@type":"INNER_TYPE","_lastModifiedDateTime":"2018-12-14T15:01:02.000+0000","encryption":{"encryptionKeyId":"","encryptedEncryptionKey":"$encKey","initialisationVector":"${Base64.getEncoder.encodeToString(iv)}","keyEncryptionKeyId":"${Fixture.MasterKeyId}"},"dbObject":"$dbObject"},"version":"core-4.master.9790","timestamp":"2019-07-04T07:27:35.104+0000"}"""
  }

  private def writeRegion(dir: String, spec: Spec, region: Int): Unit = {
    val ks = Fixture.keyService
    val dek = ks.batchDataKey().plaintextDataKey
    val encKey = ks.encryptKey(Fixture.MasterKeyId, dek)
    val width = 256 / Regions
    val cells = scala.collection.mutable.ArrayBuffer.empty[HFileCell]
    var i = 0L
    while (i < spec.n) {
      val row = rowKey(idJson(spec, i))
      if ((row(0) & 0xff) / width == region)
        cells += HFileCell(row, Fixture.CellTimestamp, envelope(spec, i, dek, encKey).getBytes(UTF_8))
      i += 1
    }
    val sorted = cells.sortWith((a, b) => java.util.Arrays.compareUnsigned(a.row, b.row) < 0)
    if (sorted.nonEmpty)
      HFileV2Writer.writeCells(Path.of(dir, f"region-r$region%03d-g000.hfile"),
        sorted.iterator, HFileShape(codec = HFileV2Format.CodecGz), seqId = 0L)
  }

  /** Writes the snapshot into the empty directory `dir`, one Spark task
    * per region. */
  def write(spark: SparkSession, dir: String, spec: Spec): Written = {
    Files.createDirectories(Path.of(dir))
    spark.sparkContext.parallelize(0 until Regions, Regions)
      .foreach(r => writeRegion(dir, spec, r))
    val files = Files.list(Path.of(dir)).toArray.map(_.asInstanceOf[Path])
    Written(spec.n.toLong, files.map(Files.size).sum)
  }

  /** Skips by reason (and "ok") the pipeline must report: the
    * fixture's slot arithmetic. */
  def expectedOutcomes(spec: Spec): Map[String, Long] =
    (0L until spec.n.toLong).groupMapReduce(i => (i % 100).toInt match {
      case Fixture.MissingFieldSlot => "missing:dbObject"
      case Fixture.BadCiphertextSlot => "decrypt_failed"
      case Fixture.BadJsonSlot => "bad_decrypted"
      case _ => "ok"
    })(_ => 1L)(_ + _)
}
