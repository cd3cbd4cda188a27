package graft.perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.queries.{Curation, Dedup, EventAnalytics, GraphOps, Integrity, Multimodal, PipelineQueries, Relational, Sampling, Similarity, StreamingQueries, TextAnalysis, TpchSuite}

/** The query-mix workload: queries of `SparkEntry.queries`, each result
  * fully computed into the `noop` sink (never `count()`, which prunes
  * columns and with them most of the work). */
final class QueryWorkload(ctx: Context, dataDir: String, names: Seq[String]) {

  private val spark = ctx.spark
  /** One map for the whole run: `SparkEntry.queries` builds a fresh
    * prepared-plan memo on every call. */
  private val surface: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries

  require(names.forall(surface.contains),
    s"unknown queries: ${names.filterNot(surface.contains).mkString(",")}")

  def run(name: String, traced: Boolean, pass: Int): Op = {
    val before = ctx.snapshot()
    var buildS = 0.0
    var failures = Seq.empty[String]
    val t0 = System.nanoTime()
    ctx.span(traced)(s"query:$name") {
      try {
        val df = ctx.trace(traced)("query.build")(surface(name)(spark, dataDir))
        buildS = (System.nanoTime() - t0) / 1e9
        ctx.trace(traced)("query.execute") {
          df.write.format("noop").mode("overwrite").save()
        }
      } catch { case e: Throwable => failures = Seq(s"$name threw: $e") }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Op("query", name, wall, traced, ctx.snapshot() - before, failures,
      Map("module" -> QueryWorkload.moduleOf(name), "build_s" -> buildS), pass)
  }

  /** Computes `name`'s result and checks its order-insensitive digest
    * against the recorded one. */
  def checkDigest(name: String, recorded: String): Op = {
    val before = ctx.snapshot()
    val t0 = System.nanoTime()
    val (digest, failures) =
      try {
        val d = QueryWorkload.digest(surface(name)(spark, dataDir))
        (d, if (d == recorded) Nil else Seq(s"$name digest $d != recorded $recorded"))
      } catch { case e: Throwable => ("", Seq(s"$name threw: $e")) }
    val wall = (System.nanoTime() - t0) / 1e9
    Op("digest", name, wall, traced = false, ctx.snapshot() - before, failures,
      Map("module" -> QueryWorkload.moduleOf(name), "digest" -> digest))
  }
}

object QueryWorkload {
  private lazy val modules: Map[String, String] = Seq(
    "Relational" -> Relational.queries, "TpchSuite" -> TpchSuite.queries,
    "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
    "TextAnalysis" -> TextAnalysis.queries,
    "EventAnalytics" -> EventAnalytics.queries, "Curation" -> Curation.queries,
    "GraphOps" -> GraphOps.queries, "Integrity" -> Integrity.queries,
    "Multimodal" -> Multimodal.queries, "Sampling" -> Sampling.queries,
    "PipelineQueries" -> PipelineQueries.queries,
    "StreamingQueries" -> StreamingQueries.queries,
  ).flatMap { case (module, qs) => qs.keys.map(_ -> module) }.toMap

  val Modules: Seq[String] = Seq("Relational", "TpchSuite", "Dedup",
    "Similarity", "TextAnalysis", "EventAnalytics", "Curation", "GraphOps",
    "Integrity", "Multimodal", "Sampling", "PipelineQueries",
    "StreamingQueries")

  def moduleOf(name: String): String = modules.getOrElse(name, "unknown")

  /** Order-insensitive digest of a result: row count and the sum of
    * 64-bit row hashes, columns taken in name order. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect()
    var sum = 0L
    rows.foreach { r =>
      val s = render(r)
      val hi = MurmurHash3.stringHash(s, 0x3c074a61).toLong
      val lo = MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL
      sum += (hi << 32) | lo
    }
    f"${rows.length}%d:$sum%016x"
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }
}
