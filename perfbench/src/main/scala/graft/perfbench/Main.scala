package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.core.Sessions

/** The benchmark's measuring process. One closed-loop client: one
  * export job or one query at a time, on a local Spark with `--cores`
  * cores. It writes raw samples, counters and (trace runs) spans as
  * JSON; `perfbench/run.py` builds, launches it and turns the raw
  * output into the reported metrics.
  *
  * Arguments (all required): --workload export-full|query-mix, --seed, --seconds, --trace 0|1, --cores, --records (export
  * snapshot size), --data (query tables), --queries (file of query names
  * and recorded digests), --workdir (scratch), --out (raw JSON), --spans
  * (span file, trace runs).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, records: Int, data: String,
      queries: String, workdir: String, out: String, spans: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("records").toInt, kv("data"),
      kv("queries"), kv("workdir"), kv("out"), kv("spans"))
  }

  /** Query names with their recorded digests (`name digest` lines). */
  def readQueries(path: String): Seq[(String, String)] =
    Files.readAllLines(Path.of(path)).toArray.map(_.toString.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\\s+"); n -> d }.toSeq

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = Sessions.local(a.cores.toString)
    val ctx = new Context(spark, a.cores, a.workdir,
      if (a.trace) Some(new Spans(s"${a.workload}-seed${a.seed}")) else None)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ops = ArrayBuffer.empty[Op]
    val queries = readQueries(a.queries)
    val seedOrder = new scala.util.Random(a.seed).shuffle(queries.map(_._1))

    def until(minOps: Int)(next: => Op): Unit = {
      val start = System.nanoTime()
      var k = 0
      while (k < minOps || (System.nanoTime() - start) / 1e9 < a.seconds) {
        ops += next; k += 1
      }
    }

    def queryPasses(w: QueryWorkload, minPasses: Int, traced: Int => Boolean): Unit = {
      val start = System.nanoTime()
      var p = 0
      while (p < minPasses || (System.nanoTime() - start) / 1e9 < a.seconds) {
        p += 1
        seedOrder.foreach(n => ops += w.run(n, traced(p), p))
      }
    }

    var inputsS = Seq.empty[Double]
    var warmupS = 0.0
    var legs = Seq.empty[(String, Double)]
    var input = "{}"

    a.workload match {
      case "export-full" =>
        val w = new ExportWorkload(ctx, ExportFixture.Spec(a.records, a.seed))
        inputsS = w.prepare(3)
        // two warm-up jobs: job times fall steeply over a fresh JVM's
        // first jobs while the JIT compiles the hot paths
        val warm = Seq.fill(2)(w.job(traced = false).copy(kind = "warmup"))
        warmupS = warm.map(_.wallS).sum
        ops ++= warm
        if (!a.trace) until(3)(w.job(traced = false))
        else {
          // a first round of legs compiles their plans; two measured
          // rounds (averaged) then run among untraced and traced jobs in
          // balanced order (U, legs, T, T, legs, U), so legs, untraced and
          // traced jobs all run on an equally warm JVM on average
          w.legs()
          // two more warm-up jobs bring the compared jobs to where job
          // times flatten, so the layer sum is not compared with a job
          // that is still getting faster
          ops ++= Seq.fill(2)(w.job(traced = false).copy(kind = "warmup"))
          ops += w.job(traced = false)
          val first = w.legs()
          ops += w.job(traced = true)
          ops += w.job(traced = true)
          val second = w.legs().toMap
          ops += w.job(traced = false)
          legs = first.map { case (name, s) => name -> (s + second(name)) / 2 }
        }
        input = w.inputJson

      case "query-mix" =>
        val w = new QueryWorkload(ctx, a.data, seedOrder)
        val recorded = queries.toMap
        // warm-up: the digest pass, then one untimed pass into the sink
        val warmStart = System.nanoTime()
        seedOrder.foreach(n => ops += w.checkDigest(n, recorded(n)))
        seedOrder.foreach(n => ops += w.run(n, traced = false, pass = 0).copy(kind = "warmup"))
        warmupS = (System.nanoTime() - warmStart) / 1e9
        if (!a.trace) queryPasses(w, 2, _ => false)
        // traced and untraced passes in balanced order: T U U T ...
        else queryPasses(w, 4, p => p % 4 < 2)

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val peakMem = ctx.collector.peakExecutionMemory(spark)
    ctx.spans.foreach(s => Files.writeString(Path.of(a.spans), s.toJson))
    val raw = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> a.cores,
      "setup" -> Json.Raw(Json.obj("session_s" -> sessionS,
        "inputs_s" -> inputsS, "warmup_s" -> warmupS)),
      "input" -> Json.Raw(input),
      "peak_exec_mem_bytes" -> peakMem,
      "legs" -> legs.toMap,
      "spans" -> (if (a.trace) a.spans else null),
      "ops" -> Json.Raw(ops.map(_.toJson).mkString("[\n", ",\n", "\n]")))
    Files.writeString(Path.of(a.out), raw)
    spark.stop()
  }
}
