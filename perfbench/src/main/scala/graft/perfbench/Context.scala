package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession

/** Counter readings at one instant. */
final case class Snap(spark: SparkTotals, analysisS: Double,
    optimizationS: Double, planningS: Double, executions: Long) {
  def -(o: Snap): Snap = Snap(spark - o.spark, analysisS - o.analysisS,
    optimizationS - o.optimizationS, planningS - o.planningS,
    executions - o.executions)

  def toJson: String = Json.obj("spark" -> Json.Raw(spark.toJson),
    "analysis_s" -> analysisS, "optimization_s" -> optimizationS,
    "planning_s" -> planningS, "executions" -> executions)
}

/** One measured operation (an export job or one query) as the raw
  * output records it; the arithmetic on it lives in the runner. */
final case class Op(kind: String, name: String, wallS: Double,
    traced: Boolean, delta: Snap, failures: Seq[String],
    extra: Map[String, Any] = Map.empty, pass: Int = 0) {
  def toJson: String = Json.value(Map(
    "kind" -> kind, "name" -> name, "wall_s" -> wallS, "traced" -> traced,
    "pass" -> pass, "failures" -> failures,
    "counters" -> Json.Raw(delta.toJson)) ++ extra)
}

/** What every workload shares: the session, the collectors, the span
  * recorder (trace runs only) and the scratch directory. */
final class Context(val spark: SparkSession, val cores: Int,
    workDir: String, val spans: Option[Spans]) {

  val collector = new SparkCollector
  val phases = new PhaseCollector
  spark.sparkContext.addSparkListener(collector)
  spark.listenerManager.register(phases)
  collector.recordJobs = spans.isDefined
  phases.recordPhases = spans.isDefined

  def dir(name: String): String = Path.of(workDir, name).toString

  def delete(path: String): Unit = {
    val p = Path.of(path)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
  }

  def snapshot(): Snap = {
    val (a, o, p, n) = phases.snapshot(spark)
    Snap(collector.snapshot(spark), a, o, p, n)
  }

  /** Runs `body` inside a plain span when tracing. */
  def span[A](traced: Boolean)(name: String)(body: => A): A = spans match {
    case Some(s) if traced => s(name)(body)
    case _ => body
  }

  /** Runs `body` inside a span when tracing; the Spark jobs and Catalyst
    * phases that ran inside it become its child spans. */
  def trace[A](traced: Boolean)(name: String)(body: => A): A = spans match {
    case Some(s) if traced =>
      org.apache.spark.BusDrain(spark.sparkContext)
      collector.takeJobs(); phases.takePhases()
      var id = 0L
      val result = s(name) { id = s.current.get; body }
      org.apache.spark.BusDrain(spark.sparkContext)
      collector.takeJobs().foreach { case (start, end) =>
        s.add("spark.job", start * 1000000L, end * 1000000L, Some(id)) }
      phases.takePhases().foreach { case (phase, start, end) =>
        s.add(s"catalyst.$phase", start * 1000000L, end * 1000000L, Some(id)) }
      result
    case _ => body
  }
}
