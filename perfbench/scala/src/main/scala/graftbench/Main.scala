package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints one JSON object as the last line of stdout. */
object Main {

  /** Set-up is repeated this many times per run and reported as the median. */
  val SetupRounds = 3

  final case class Spec(name: String, writeOps: Set[String],
      /** a timed run goes on until it has made this many write calls */
      minWrites: Int,
      /** untimed cycles at the end of each set-up round */
      warmCycles: Int,
      /** a traced run goes on to this cycle, so that every op has made
        * [[CountCalls]] traced calls */
      minCycles: Int, make: (Harness, Long, String) => Workload) {
    /** The tail the guaranteed sample count supports. */
    val tailPct: Int = Stats.tailPercentile(minWrites).get
  }

  val Specs: Map[String, Spec] = Seq(
    Spec("log_ingest", Set("produce"), 25, 3, 13, new LogIngest(_, _, _)),
    Spec("stream_deltas", Set("rdistinct", "rwindow", "runagg", "dedup", "ijoin"), 40, 1, 5,
      new StreamDeltas(_, _, _)),
  ).map(s => s.name -> s).toMap

  /** Per-call counts are medians over each op's first this-many traced
    * calls, so two traced runs with one seed compare like for like. */
  val CountCalls = 3

  val BatchOps = Seq("produce", "consume", "seek", "shell", "ijoin")
  val BatchMetrics = Seq("build_ms", "plan_ms", "exec_ms", "jobs", "tasks", "task_ms", "shuffle_bytes")
  val StreamOps = Seq("rdistinct", "rwindow", "runagg", "dedup")
  val StreamMetrics = Seq("jobs", "tasks", "task_ms", "add_batch_ms", "query_planning_ms",
    "wal_commit_ms", "commit_offsets_ms", "batches_per_push", "state_rows", "state_bytes", "wait_ms")
  val Layers = Seq("storage", "serde", "ops", "streaming", "streams", "spark")
  val CountMetrics = Set("jobs", "tasks", "batches_per_push", "state_rows", "state_bytes",
    "shuffle_bytes", "state_bytes_written")

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  val SessionConf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "127.0.0.1",
    "spark.driver.bindAddress" -> "127.0.0.1")

  def session(work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    SessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val spec = Specs.getOrElse(opts.getOrElse("workload", ""), {
      System.err.println(s"unknown workload; expected one of ${Specs.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work)

    // set-up: session + input generation + system state + warm cycles
    val setupS = mutable.ArrayBuffer[Double]()
    var h: Harness = null
    var wl: Workload = null
    for (r <- 0 until SetupRounds) {
      if (wl != null) {
        wl.close()
        h.spark.stop()
        deleteTree(work.resolve(s"round${r - 1}"))
      }
      val t0 = System.nanoTime()
      val dir = work.resolve(s"round$r")
      h = new Harness(session(dir.toString))
      wl = spec.make(h, seed, dir.resolve("state").toString)
      (0 until spec.warmCycles).foreach(wl.cycle)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    // timed phase
    val calls = mutable.ArrayBuffer[Call]()
    var failedCalls = 0
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def writes = calls.count(c => spec.writeOps(c.op))
    def more(i: Int) =
      if (trace) elapsed < seconds || i <= spec.minCycles
      else elapsed < seconds || (writes < spec.minWrites && elapsed < 4 * seconds)
    var i = spec.warmCycles
    while (more(i) && failedCalls == 0) {
      h.setTraced(trace && i % 2 == 1)
      try calls ++= wl.cycle(i)
      catch {
        case e: Exception =>
          failedCalls += 1
          System.err.println(s"cycle $i failed: $e")
          e.printStackTrace()
      }
      i += 1
    }
    val loopS = elapsed
    val gcDelta = gcMs() - gc0

    // untimed checks
    val checks: Seq[(String, Boolean)] =
      try {
        if (trace) h.batchCall("check", 0)(wl.verify())._1
        else wl.verify()
      } catch { case e: Exception => e.printStackTrace(); Seq(s"checks ran: $e" -> false) }
    h.setTraced(false)
    checks.filterNot(_._2).foreach { case (what, _) => System.err.println(s"check failed: $what") }
    val extra = try wl.extraLayer() catch { case _: Exception => Map.empty[String, Double] }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(spec, setupS.toSeq, calls.toSeq)
      else perLayer(h.tracer, calls.toSeq, extra, gcDelta)

    val attempted = calls.size + failedCalls + checks.size
    val failed = failedCalls + checks.count(!_._2)
    writeRecord(out.resolve(s"${spec.name}-seed$seed-trace${if (trace) 1 else 0}.json"),
      spec, seed, seconds, trace, setupS.toSeq, loopS, calls.toSeq, checks, metrics)
    if (trace) h.tracer.writeJsonl(out.resolve(s"${spec.name}-seed$seed-spans.jsonl"))

    wl.close()
    h.spark.stop()
    deleteTree(work)

    val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${m.mkString(", ")}}}""")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))

  def endToEnd(spec: Spec, setupS: Seq[Double], calls: Seq[Call]): Seq[(String, Double, String)] = {
    val w = calls.filter(c => spec.writeOps(c.op))
    val cycles = calls.groupBy(_.index).values.map(_.map(_.ms).sum).toSeq
    Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("items_per_s", w.map(_.items).sum / (calls.map(_.ms).sum / 1000), "1/s"),
      ("write_p50_ms", Stats.median(w.map(_.ms)), "ms"),
      ("write_tail_ms", Stats.quantile(w.map(_.ms), spec.tailPct / 100.0), "ms"),
      ("cycle_p50_ms", Stats.median(cycles), "ms"),
      ("peak_rss_mb", peakRssMb(), "MB"))
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("bytes_per_msg")) "B/msg"
    else if (metric.endsWith("_bytes") || metric.endsWith("bytes_written")) "B"
    else if (metric.endsWith("_ratio")) "ratio"
    else "count"

  def perLayer(tr: Tracer, calls: Seq[Call], extra: Map[String, Double],
      gcDelta: Long): Seq[(String, Double, String)] = {
    val traced = calls.filter(_.traced)
    def stat(op: String, m: String): Double = {
      val cs = traced.filter(_.op == op)
      val use = if (CountMetrics(m)) cs.sortBy(_.index).take(CountCalls) else cs
      val xs = use.flatMap(_.layer.get(m))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val batch = for (op <- BatchOps; m <- BatchMetrics
      if !(op == "produce" && (m == "plan_ms" || m == "exec_ms"))) yield s"$op.$m" -> stat(op, m)
    val stream = for (op <- StreamOps; m <- StreamMetrics) yield s"$op.$m" -> stat(op, m)
    // self time per layer, ms per traced cycle; the streams layer runs only
    // as the batch reference in the check, so it is reported per check
    val (checkSpans, cycleSpans) = tr.spans.toSeq.partition(_.op.startsWith("check#"))
    val nCycles = math.max(1, traced.map(_.index).distinct.size)
    val cycleSelf = Span.selfByLayer(cycleSpans)
    val checkSelf = Span.selfByLayer(checkSpans)
    val self = Layers.map { l =>
      s"$l.self_ms" ->
        (if (l == "streams") checkSelf.getOrElse(l, 0L) / 1e6 else cycleSelf.getOrElse(l, 0L) / 1e6 / nCycles)
    }
    // tracing cost: same calls, traced vs untraced (shell runs only in traced cycles)
    def cyc(t: Boolean) = calls.filter(c => c.traced == t && c.op != "shell")
      .groupBy(_.index).values.map(_.map(_.ms).sum).toSeq
    val overhead = Stats.median(cyc(true)) / Stats.median(cyc(false))
    val misc = Seq(
      "storage.topic_files" -> extra.getOrElse("storage.topic_files", 0.0),
      "storage.bytes_per_msg" -> extra.getOrElse("storage.bytes_per_msg", 0.0),
      "storage.commit_ms" -> stat("consume", "commit_ms"),
      "ijoin.state_bytes_written" -> stat("ijoin", "state_bytes_written"),
      "gc_ms" -> gcDelta.toDouble,
      "trace_overhead_ratio" -> overhead)
    (batch ++ stream ++ self ++ misc).map { case (k, v) => (k, v, unitOf(k)) }
  }

  def writeRecord(p: Path, spec: Spec, seed: Long, seconds: Double, trace: Boolean,
      setupS: Seq[Double], loopS: Double, calls: Seq[Call], checks: Seq[(String, Boolean)],
      metrics: Seq[(String, Double, String)]): Unit = {
    Files.createDirectories(p.getParent)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val rt = ManagementFactory.getRuntimeMXBean
    val conf = (SessionConf :+ ("master" -> s"local[$cores]"))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")
    val heap = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val cs = calls.map(c => s"""{"op": ${q(c.op)}, "cycle": ${c.index}, "traced": ${c.traced}, "ms": ${num(c.ms)}, "items": ${c.items}""" +
      c.layer.toSeq.sortBy(_._1).map { case (k, v) => s""", ${q(k)}: ${num(v)}""" }.mkString + "}")
    val body =
      s"""{"workload": ${q(spec.name)}, "seed": $seed, "seconds": ${num(seconds)}, "trace": $trace,
         |"spark_conf": {$conf}, "max_heap_mb": $heap, "jvm_args": [${rt.getInputArguments.asScala.map(q).mkString(", ")}],
         |"setup_s": [${setupS.map(num).mkString(", ")}], "loop_s": ${num(loopS)}, "tail_percentile": ${spec.tailPct},
         |"checks": [${checks.map { case (w, ok) => s"""{"check": ${q(w)}, "ok": $ok}""" }.mkString(", ")}],
         |"metrics": {${metrics.map { case (k, v, u) => s"""${q(k)}: {"value": ${num(v)}, "unit": ${q(u)}}""" }.mkString(", ")}},
         |"calls": [${cs.mkString(",\n")}]}
         |""".stripMargin
    Files.writeString(p, body)
  }
}
