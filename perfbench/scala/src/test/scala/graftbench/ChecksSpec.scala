package graftbench

import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{RetractionDistinct, Runner}
import graft.streaming.RetractionDistinct.Delta

/** Each output check must catch one planted fault. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", Files.createTempDirectory("perfbench-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("log check: a dropped message breaks the produced = consumed multiset") {
    val batch = new LogGen(5).nextBatch()
    val produced = batch.map(m => LogIngest.msgHash(m.key, m.value))
    assert(LogIngest.sameMultiset(produced, produced.reverse))
    assert(!LogIngest.sameMultiset(produced, produced.drop(1)))
    // a duplicate in place of the dropped message keeps the count but not the multiset
    assert(!LogIngest.sameMultiset(produced, produced.updated(0, produced(1))))
  }

  test("log check: a gap or a duplicate offset breaks the 0..n-1 run") {
    assert(LogIngest.offsetsDense(Map(0 -> Seq(0L, 1L, 2L), 3 -> Seq(0L)), 4))
    assert(!LogIngest.offsetsDense(Map(0 -> Seq(0L, 2L)), 4))
    assert(!LogIngest.offsetsDense(Map(0 -> Seq(0L, 1L, 1L)), 4))
    assert(!LogIngest.offsetsDense(Map(4 -> Seq(0L)), 4))
  }

  /** Push `pushes` through a streaming query; return its output rows. */
  private def runStream[I: org.apache.spark.sql.Encoder, O](pushes: Seq[Seq[I]],
      plan: MemoryStream[I] => org.apache.spark.sql.Dataset[O], mode: OutputMode): Seq[O] = {
    val mem = MemoryStream[I](spark)
    val out = scala.collection.mutable.ArrayBuffer[O]()
    val q = plan(mem).writeStream.outputMode(mode)
      .option("checkpointLocation", Files.createTempDirectory("perfbench-ckpt").toString)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[O], _: Long) => out ++= ds.collect(); () }
      .start()
    try pushes.foreach { p => mem.addData(p); q.processAllAvailable() } finally q.stop()
    out.toSeq
  }

  private val pushes: Seq[Seq[Rec]] = {
    val g = new DeltaGen(9, keys = 500, perPush = 200)
    Seq.fill(3)(g.next().toSeq)
  }

  private def flipOne(h: Seq[Rec]): Seq[Rec] = {
    val i = h.indexWhere(_.weight < 0)
    h.updated(i, h(i).copy(weight = -h(i).weight))
  }

  test("stream check: a flipped delta weight breaks incremental = batch (running aggregate)") {
    import spark.implicits._
    val out = runStream[(String, Long, Long), Row](
      pushes.map(_.map(r => (r.key, r.value, r.weight))),
      m => Runner.runningAgg(m.toDF().toDF("key", "value", "weight"), Seq(col("key")))(
        sum(col("weight")).as("n"), sum(col("value") * col("weight")).as("s")),
      OutputMode.Update())
    val history = pushes.flatten
    assert(StreamDeltas.checkRunAgg(spark, history, out))
    assert(!StreamDeltas.checkRunAgg(spark, flipOne(history), out))
  }

  test("stream check: a flipped delta weight breaks incremental = batch (distinct)") {
    import spark.implicits._
    val out = runStream[Delta, Delta](pushes.map(_.map(r => Delta(r.key, r.weight))),
      m => RetractionDistinct(m.toDS()), OutputMode.Append())
    val history = pushes.flatten
    assert(StreamDeltas.checkDistinct(spark, history, out))
    // flip one insert of a record whose integrated weight is 1: it drops out
    val weights = history.groupMapReduce(_.key)(_.weight)(_ + _)
    val i = history.indexWhere(r => r.weight > 0 && weights(r.key) == 1L)
    val planted = history.updated(i, history(i).copy(weight = -1L))
    assert(!StreamDeltas.checkDistinct(spark, planted, out))
  }
}
