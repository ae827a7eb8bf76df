package graftbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBridge
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._
import graft.streaming.{IncrementalJoin, RetractionDistinct, RetractionWindow, Runner, StreamingDedup}
import graft.streaming.RetractionDistinct.Delta
import graft.streaming.RetractionWindow.{WinDelta, WinSum}
import graft.streams.{Windows, ZSet}

/** stream_deltas: one client pushes seeded Z-set delta batches through
  * each streaming operator in turn — one MemoryStream query per operator,
  * each with its own checkpoint — and waits for the output after every push
  * (addData → processAllAvailable: kafi's push → latest). A round is one
  * push to each of rdistinct, rwindow, runagg, dedup and one
  * IncrementalJoin step (1,000 + 1,000 deltas). */
final class StreamDeltas(h: Harness, seed: Long, dir: String) extends Workload {
  import StreamDeltas._
  private val spark = h.spark
  import spark.implicits._
  private val tr = h.tracer

  /** One running streaming query, its input and its collected output. */
  private final class Pipe[I, O](val name: String, val mem: MemoryStream[I], out: Dataset[O],
      mode: OutputMode, val gen: DeltaGen, val toInput: Rec => I) {
    val history = mutable.ArrayBuffer[Rec]()
    val output = mutable.ArrayBuffer[O]()
    val query: StreamingQuery = out.writeStream
      .outputMode(mode)
      .option("checkpointLocation", s"$dir/ckpt/$name")
      .foreachBatch { (ds: Dataset[O], _: Long) =>
        val rows = ds.collect()
        output.synchronized { output ++= rows }
        ()
      }
      .start()
  }

  private def seedFor(op: Int) = seed * 1000003L + op

  private val rdistinct = {
    val m = MemoryStream[Delta](spark)
    new Pipe[Delta, Delta]("rdistinct", m, RetractionDistinct(m.toDS()), OutputMode.Append(),
      new DeltaGen(seedFor(1)), r => Delta(r.key, r.weight))
  }
  private val rwindow = {
    val m = MemoryStream[WinDelta](spark)
    new Pipe[WinDelta, WinSum]("rwindow", m, RetractionWindow.tumblingSum(m.toDS(), WindowMs, DelayMs),
      OutputMode.Append(), new DeltaGen(seedFor(2)), r => WinDelta(r.key, r.tsMs, r.value, r.weight))
  }
  private val runagg = {
    val m = MemoryStream[(String, Long, Long)](spark)
    val agg = Runner.runningAgg(m.toDF().toDF("key", "value", "weight"), Seq(col("key")))(
      sum(col("weight")).as("n"), sum(col("value") * col("weight")).as("s"))
    new Pipe[(String, Long, Long), Row]("runagg", m, agg, OutputMode.Update(),
      new DeltaGen(seedFor(3)), r => (r.key, r.value, r.weight))
  }
  private val dedup = {
    val m = MemoryStream[(Timestamp, String)](spark)
    val first = StreamingDedup.firstSeen(m.toDF().toDF("ts", "text"), "text", "ts", DedupDelay)
    new Pipe[(Timestamp, String), Row]("dedup", m, first, OutputMode.Append(),
      new DeltaGen(seedFor(4), retractShare = 0.0), r => (new Timestamp(r.tsMs), s"doc ${r.key}"))
  }
  private val pipes: Seq[Pipe[_, _]] = Seq(rdistinct, rwindow, runagg, dedup)

  private val ijGenA = new DeltaGen(seedFor(5), perPush = 1000)
  private val ijGenB = new DeltaGen(seedFor(6), perPush = 1000)
  private val ijDir = s"$dir/ijoin"
  private val ij = new IncrementalJoin(spark, ijDir, SchemaA, SchemaB, col("ka") === col("kb"))
  private val ijA = mutable.ArrayBuffer[Rec]()
  private val ijB = mutable.ArrayBuffer[Rec]()
  private val ijOut = mutable.HashMap[(String, Long, String, Long), Long]()
  private var ijVersion = 0L

  def cycle(i: Int): Seq[Call] = pipes.map(p => push(p, i)) :+ ijoinStep(i)

  private def push[I](p: Pipe[I, _], i: Int): Call = {
    val recs = p.gen.next()
    val input = recs.toSeq.map(p.toInput)
    val opId = s"${p.name}#$i"
    val (_, ns) = tr.call(opId) {
      tr.span("spark", "MemoryStream.addData", "build")(p.mem.addData(input))
      tr.span("streaming", "processAllAvailable", "exec")(p.query.processAllAvailable())
    }
    p.history ++= recs
    val layer =
      if (!h.traced) Map.empty[String, Double]
      else {
        BenchBridge.drainListenerBus(h.sc)
        val g = h.counts.take(p.query.runId.toString)
        tr.addJobs(opId, g.jobSpans.toSeq)
        val batches = h.progress.take(p.query.id)
        def phase(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
        Map("jobs" -> g.jobs.toDouble, "tasks" -> g.tasks.toDouble, "task_ms" -> g.taskMs.toDouble,
          "add_batch_ms" -> phase("addBatch"), "query_planning_ms" -> phase("queryPlanning"),
          "wal_commit_ms" -> phase("walCommit"), "commit_offsets_ms" -> phase("commitOffsets"),
          "batches_per_push" -> batches.size.toDouble,
          "state_rows" -> batches.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
          "state_bytes" -> batches.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0),
          "wait_ms" -> (ns / 1e6 - phase("triggerExecution")))
      }
    Call(p.name, i, h.traced, ns / 1e6, recs.length.toLong, layer)
  }

  private def ijoinStep(i: Int): Call = {
    val a = ijGenA.next()
    val b = ijGenB.next()
    val da = spark.createDataFrame(a.toSeq.map(r => Row(r.key, r.value, r.weight)).asJava, SchemaA)
    val db = spark.createDataFrame(b.toSeq.map(r => Row(r.key, r.value, r.weight)).asJava, SchemaB)
    val (rows, c) = h.batchCall("ijoin", i, a.length + b.length) {
      val out = tr.span("streaming", "IncrementalJoin.step", "build")(ij.step(da, db))
      h.planAndCollect(out)
    }
    ijA ++= a
    ijB ++= b
    rows.foreach { r =>
      val k = (r.getAs[String]("ka"), r.getAs[Long]("va"), r.getAs[String]("kb"), r.getAs[Long]("vb"))
      ijOut(k) = ijOut.getOrElse(k, 0L) + r.getAs[Long](ZSet.W)
    }
    ijVersion += 1
    if (h.traced) c.copy(layer = c.layer + ("state_bytes_written" -> dirBytes(s"$ijDir/v$ijVersion")))
    else c
  }

  private def dirBytes(p: String): Double = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum.toDouble
    finally s.close()
  }

  /** Untimed checks: each operator's integrated output equals the batch
    * graft.streams result over the same deltas. */
  def verify(): Seq[(String, Boolean)] = Seq(
    "rdistinct integrated = ZSet.distinct" -> tr.span("streams", "ZSet.distinct", "check")(
      StreamDeltas.checkDistinct(spark, rdistinct.history.toSeq, rdistinct.output.toSeq)),
    "rwindow integrated = Windows.tumbling" -> tr.span("streams", "Windows.tumbling", "check")(
      StreamDeltas.checkWindow(spark, rwindow.history.toSeq, rwindow.output.toSeq)),
    "runagg integrated = ZSet.groupBy*" -> tr.span("streams", "ZSet.groupBySum", "check")(
      StreamDeltas.checkRunAgg(spark, runagg.history.toSeq, runagg.output.toSeq)),
    "dedup output = ZSet.distinct" -> tr.span("streams", "ZSet.distinct", "check")(
      StreamDeltas.checkDedup(spark, dedup.history.toSeq, dedup.output.toSeq)),
    "ijoin integrated = ZSet.join" -> tr.span("streams", "ZSet.join", "check")(
      StreamDeltas.checkJoin(spark, ijA.toSeq, ijB.toSeq, ijOut.toMap)))

  def extraLayer(): Map[String, Double] = Map.empty

  def close(): Unit = pipes.foreach(_.query.stop())
}

object StreamDeltas {
  val WindowMs = 10000L
  val DelayMs = 60000L
  val DedupDelay = "1 hour"
  val SchemaA: StructType = StructType(Seq(StructField("ka", StringType),
    StructField("va", LongType), StructField(ZSet.W, LongType)))
  val SchemaB: StructType = StructType(Seq(StructField("kb", StringType),
    StructField("vb", LongType), StructField(ZSet.W, LongType)))
  private val RecSchema = StructType(Seq(StructField("key", StringType), StructField("tsMs", LongType),
    StructField("value", LongType), StructField(ZSet.W, LongType)))

  def recs(spark: SparkSession, rs: Seq[Rec]): DataFrame =
    spark.createDataFrame(rs.map(r => Row(r.key, r.tsMs, r.value, r.weight)).asJava, RecSchema)

  /** Presence per record: output ±1 deltas summed must be exactly the
    * batch distinct set. */
  def checkDistinct(spark: SparkSession, history: Seq[Rec], output: Seq[Delta]): Boolean = {
    val want = ZSet.distinct(recs(spark, history).select(col("key"), col(ZSet.W)))
      .collect().map(_.getString(0)).toSet
    val got = output.groupMapReduce(_.record)(_.weight)(_ + _).filter(_._2 != 0L)
    got.values.forall(_ == 1L) && got.keySet == want
  }

  /** Latest emitted (sum, n) per (key, window); a zeroed window is absent. */
  def checkWindow(spark: SparkSession, history: Seq[Rec], output: Seq[WinSum]): Boolean = {
    val df = recs(spark, history).withColumn("ts", timestamp_millis(col("tsMs")))
    val want = Windows.tumbling(df, col("ts"), WindowMs, Seq(col("key")))(
      sum(col("value") * col(ZSet.W)).as("s"), sum(col(ZSet.W)).as("n"))
      .collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("window_end_ms")) -> (r.getAs[Long]("s"), r.getAs[Long]("n")))
      .filter(_._2 != ((0L, 0L))).toMap
    val got = mutable.LinkedHashMap[(String, Long), (Long, Long)]()
    output.foreach(w => got((w.key, w.windowEndMs)) = (w.sumValue, w.n))
    got.filter(_._2 != ((0L, 0L))).toMap == want
  }

  /** Latest emitted (n, s) per key equals the batch group-by over all deltas. */
  def checkRunAgg(spark: SparkSession, history: Seq[Rec], output: Seq[Row]): Boolean = {
    val df = recs(spark, history)
    val want = ZSet.groupByCount(df, Seq("key"), "n")
      .join(ZSet.groupBySum(df, Seq("key"), col("value"), "s"), "key")
      .collect().map(r => r.getAs[String]("key") -> (r.getAs[Long]("n"), r.getAs[Long]("s"))).toMap
    val got = mutable.HashMap[String, (Long, Long)]()
    output.foreach(r => got(r.getAs[String]("key")) = (r.getAs[Long]("n"), r.getAs[Long]("s")))
    got.toMap == want
  }

  /** Every distinct text emitted exactly once (nothing leaves the one-hour
    * horizon within a run). */
  def checkDedup(spark: SparkSession, history: Seq[Rec], output: Seq[Row]): Boolean = {
    val texts = history.map(r => Tuple1(s"doc ${r.key}"))
    val want = ZSet.distinct(ZSet.fromRecords(spark.createDataFrame(texts).toDF("text")))
      .collect().map(_.getString(0)).toSet
    val got = output.map(_.getAs[String]("text"))
    got.size == got.toSet.size && got.toSet == want
  }

  /** Integrated join output equals the batch join of the integrated inputs. */
  def checkJoin(spark: SparkSession, a: Seq[Rec], b: Seq[Rec],
      got: Map[(String, Long, String, Long), Long]): Boolean = {
    def side(rs: Seq[Rec], s: StructType) =
      ZSet.consolidate(spark.createDataFrame(rs.map(r => Row(r.key, r.value, r.weight)).asJava, s))
    val want = ZSet.consolidate(ZSet.join(side(a, SchemaA), side(b, SchemaB), col("ka") === col("kb")))
      .collect()
      .map(r => (r.getAs[String]("ka"), r.getAs[Long]("va"), r.getAs[String]("kb"), r.getAs[Long]("vb")) ->
        r.getAs[Long](ZSet.W)).toMap
    got.filter(_._2 != 0L) == want
  }
}
