package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. Spans of one client call share `op` ("consume#7");
  * `parent` is the id of the enclosing span, -1 for a call's root. */
final case class Span(id: Int, parent: Int, op: String, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Self time: the span's duration minus the part of it its children
    * cover (overlapping children are counted once). */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE != Long.MinValue) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE != Long.MinValue) covered += curE - curS
    s.durNs - covered
  }

  /** Self time summed per layer over a set of spans. */
  def selfByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum
    }
  }
}

/** Records spans around the benchmark's calls into each layer, and always
  * times the phases of the current call (build / plan / exec / commit),
  * which costs two clock reads. Spans stay in memory until the run ends. */
final class Tracer {
  @volatile var enabled = false
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in ns, comparable with Spark's epoch-ms event times. */
  def nowNs: Long = epochMs0 * 1000000L + (System.nanoTime() - nano0)

  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var op = ""
  val phaseNs = mutable.LinkedHashMap[String, Long]()

  /** Root span of one client call; resets the phase timers. */
  def call[A](opId: String)(f: => A): (A, Long) = {
    op = opId
    phaseNs.clear()
    val t0 = nowNs
    val id = open(-1)
    val a = f
    val t1 = nowNs
    close(id, t0, t1, "client", opId.takeWhile(_ != '#'))
    (a, t1 - t0)
  }

  /** A call into `layer`; its time is also charged to `phase`. */
  def span[A](layer: String, name: String, phase: String)(f: => A): A = {
    val t0 = nowNs
    val id = open(stack.headOption.getOrElse(-1))
    val a = f
    val t1 = nowNs
    close(id, t0, t1, layer, name)
    phaseNs(phase) = phaseNs.getOrElse(phase, 0L) + (t1 - t0)
    a
  }

  def phaseMs(p: String): Double = phaseNs.getOrElse(p, 0L) / 1e6

  private var nextId = 0
  private val openParent = mutable.HashMap[Int, Int]()

  private def open(parent: Int): Int = {
    val id = nextIdBump()
    if (enabled) {
      openParent(id) = parent
      stack = id :: stack
    }
    id
  }

  private def close(id: Int, t0: Long, t1: Long, layer: String, name: String): Unit =
    if (enabled && openParent.contains(id)) {
      val parent = openParent.remove(id).get
      stack = stack.tail
      spans += Span(id, parent, op, layer, name, t0, t1)
    }

  /** Attach Spark job intervals (epoch ms) as `spark` spans under the
    * innermost span of `opId` that contains each job's start. Overlapping
    * jobs under one parent merge into one span. */
  def addJobs(opId: String, jobs: Seq[(Long, Long)]): Unit = if (enabled) {
    val mine = spans.filter(_.op == opId)
    val placed = jobs.map { case (s, e) =>
      val sNs = s * 1000000L
      val eNs = e * 1000000L
      val parent = mine.filter(p => p.startNs <= sNs && sNs <= p.endNs)
        .sortBy(p => -p.startNs).headOption.map(_.id).getOrElse(-1)
      (parent, sNs, eNs)
    }
    placed.groupBy(_._1).foreach { case (parent, js) =>
      var cur: Option[(Long, Long)] = None
      js.map(j => (j._2, j._3)).sortBy(_._1).foreach { case (s, e) =>
        cur match {
          case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
          case Some((cs, ce)) =>
            spans += Span(nextIdBump(), parent, opId, "spark", "jobs", cs, ce)
            cur = Some((s, e))
          case None => cur = Some((s, e))
        }
      }
      cur.foreach { case (cs, ce) => spans += Span(nextIdBump(), parent, opId, "spark", "jobs", cs, ce) }
    }
  }

  private def nextIdBump(): Int = { val i = nextId; nextId += 1; i }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}","layer":"${s.layer}","name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}\n"""
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Spark work per job group. Jobs carry their group in the
  * `spark.jobGroup.id` property; batch calls set it to "op#i" and each
  * streaming query runs its jobs under its run id. Read with [[take]]
  * only after [[drain]]. */
final class SparkCounts extends SparkListener {
  final class G {
    var jobs = 0
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val groups = mutable.HashMap[String, G]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { gid =>
      groups.getOrElseUpdate(gid, new G).jobs += 1
      e.stageIds.foreach(stageGroup(_) = gid)
      jobStart(e.jobId) = (gid, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (gid, t0) =>
      groups.getOrElseUpdate(gid, new G).jobSpans += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { gid =>
      val g = groups.getOrElseUpdate(gid, new G)
      g.tasks += 1
      if (e.taskMetrics != null) {
        g.taskMs += e.taskMetrics.executorRunTime
        g.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def take(group: String): G = synchronized { groups.remove(group).getOrElse(new G) }
}

/** Micro-batch progress per streaming query, as delivered to a
  * StreamingQueryListener. Idle-trigger reports (no addBatch phase) are
  * not batches and are skipped. */
final class StreamProgress extends StreamingQueryListener {
  final case class Batch(batchId: Long, durations: Map[String, Long], stateRows: Long, stateBytes: Long)
  private val byQuery = mutable.HashMap[java.util.UUID, mutable.ArrayBuffer[Batch]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.durationMs.containsKey("addBatch")) {
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      byQuery.getOrElseUpdate(p.id, mutable.ArrayBuffer()) +=
        Batch(p.batchId, d, p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  def take(id: java.util.UUID): Seq[Batch] = synchronized {
    byQuery.remove(id).map(_.toSeq).getOrElse(Nil)
  }
}
