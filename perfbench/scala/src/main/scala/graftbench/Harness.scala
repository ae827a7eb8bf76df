package graftbench

import org.apache.spark.BenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed client call and, when traced, what each layer did for it. */
final case class Call(op: String, index: Int, traced: Boolean, ms: Double,
    items: Long, layer: Map[String, Double])

/** The session plus the trace machinery. Tracing is switched per cycle:
  * when off, no listener is registered and no job group is set, so an
  * untraced cycle runs exactly as in an untraced run. */
final class Harness(val spark: SparkSession) {
  val tracer = new Tracer
  val counts = new SparkCounts
  val progress = new StreamProgress
  def sc = spark.sparkContext

  def traced: Boolean = tracer.enabled

  def setTraced(on: Boolean): Unit = if (on != traced) {
    if (on) {
      sc.addSparkListener(counts)
      spark.streams.addListener(progress)
    } else {
      BenchBridge.drainListenerBus(sc)
      sc.removeSparkListener(counts)
      spark.streams.removeListener(progress)
    }
    tracer.enabled = on
  }

  /** Run one batch-style client call `op#i`. Phases: `build` (the graft
    * call that returns a DataFrame, eager jobs included), `plan` (forcing
    * the executed plan), `exec` (the action), `commit`. */
  def batchCall[A](op: String, i: Int, items: Long = 0)(f: => A): (A, Call) = {
    val opId = s"$op#$i"
    if (traced) sc.setJobGroup(opId, opId)
    val (a, ns) = try tracer.call(opId)(f) finally if (traced) sc.clearJobGroup()
    val layer =
      if (!traced) Map.empty[String, Double]
      else {
        BenchBridge.drainListenerBus(sc)
        val g = counts.take(opId)
        tracer.addJobs(opId, g.jobSpans.toSeq)
        Map("build_ms" -> tracer.phaseMs("build"), "plan_ms" -> tracer.phaseMs("plan"),
          "exec_ms" -> tracer.phaseMs("exec"), "commit_ms" -> tracer.phaseMs("commit"),
          "jobs" -> g.jobs.toDouble, "tasks" -> g.tasks.toDouble,
          "task_ms" -> g.taskMs.toDouble, "shuffle_bytes" -> g.shuffleBytes.toDouble)
      }
    (a, Call(op, i, traced, ns / 1e6, items, layer))
  }

  /** The `plan` and `exec` phases of a call that reads a DataFrame. */
  def planAndCollect(df: DataFrame): Array[Row] = {
    tracer.span("spark", "executedPlan", "plan")(df.queryExecution.executedPlan)
    tracer.span("spark", "collect", "exec")(df.collect())
  }
}
