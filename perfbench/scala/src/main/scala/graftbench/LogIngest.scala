package graftbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Shell
import graft.serde.Serde
import graft.storage.FileStorage

/** log_ingest: one client in a closed loop against a 4-partition
  * FileStorage topic that grows during the run. A cycle produces one
  * seeded 2,000-message batch, consumes from the group's committed offsets
  * (readFrom → Serde.jsonDecode → commit), runs one seek (readRange over a
  * 100-offset window, or offsetsForTimes), and every fourth cycle one shell
  * or admin op (wc, grep, lags, watermarks, in turn). */
final class LogIngest(h: Harness, seed: Long, dir: String) extends Workload {
  import LogIngest._
  private val spark = h.spark
  private val tr = h.tracer
  val storage = new FileStorage(spark, dir)
  storage.createTopic(Topic, Partitions)
  private val gen = new LogGen(seed)
  private val pick = new java.util.SplittableRandom(seed * 7919 + 1)

  // what the client knows, for the checks
  private val producedHashes = mutable.ArrayBuilder.make[Long]
  private val producedTs = mutable.ArrayBuffer[Long]()
  private var produced = 0L
  private var producedBytes = 0L
  private var producedGrep = 0L
  // per partition: (offset, tsMs) of every consumed message
  private val consumed = Array.fill(Partitions)(mutable.ArrayBuffer[(Long, Long)]())
  private val consumedHashes = mutable.ArrayBuilder.make[Long]
  private var decodeNulls = 0L
  private val deferred = mutable.ArrayBuffer[() => Boolean]()

  private def hw(p: Int): Long = consumed(p).size.toLong

  def cycle(i: Int): Seq[Call] = {
    val batch = gen.nextBatch()
    val df = spark.createDataFrame(
      batch.toSeq.map(m => Row(m.key, m.value, new Timestamp(m.tsMs))).asJava, InputSchema)
    val calls = mutable.ArrayBuffer[Call]()
    calls += produce(i, df, batch)
    calls += consume(i)
    calls += seek(i)
    if (i % 4 == 1) calls += shell(i)
    calls.toSeq
  }

  private def produce(i: Int, df: DataFrame, batch: Array[LogMsg]): Call = {
    val (_, c) = h.batchCall("produce", i, batch.length) {
      tr.span("storage", "FileStorage.produce", "build")(storage.produce(Topic, df))
    }
    batch.foreach { m =>
      producedHashes += msgHash(m.key, m.value)
      producedTs += m.tsMs
      producedBytes += m.key.length + m.value.length
      if (m.value.contains(GrepNeedle)) producedGrep += 1
    }
    produced += batch.length
    c
  }

  private def consume(i: Int): Call = {
    val (rows, c) = h.batchCall("consume", i) {
      val offs = tr.span("storage", "FileStorage.committed", "build")(storage.committed(Group, Topic))
      val env = tr.span("storage", "FileStorage.readFrom", "build")(storage.readFrom(Topic, offs))
      val dec = tr.span("serde", "Serde.jsonDecode", "build")(env.select(
        col("key"), col("value"), col("partition"), col("offset"),
        unix_millis(col("timestamp")).as("ts"),
        Serde.jsonDecode(col("value"), ValueSchema).getField("id").as("id")))
      val rows = h.planAndCollect(dec)
      val next = offs ++ rows.groupBy(_.getInt(2)).map { case (p, rs) => p -> (rs.map(_.getLong(3)).max + 1) }
      tr.span("storage", "FileStorage.commit", "commit")(storage.commit(Group, Topic, next))
      rows
    }
    rows.sortBy(r => (r.getInt(2), r.getLong(3))).foreach { r =>
      consumed(r.getInt(2)) += ((r.getLong(3), r.getLong(4)))
      consumedHashes += msgHash(r.getString(0), r.getString(1))
      if (r.isNullAt(5)) decodeNulls += 1
    }
    c
  }

  /** One reading call: `build` is the graft call, then plan and collect;
    * `check` judges the rows after the timed phase. */
  private def read(op: String, i: Int, layer: String, name: String)(build: => DataFrame)(
      check: Array[Row] => Boolean): Call = {
    val (rows, c) = h.batchCall(op, i)(h.planAndCollect(tr.span(layer, name, "build")(build)))
    deferred += (() => check(rows))
    c
  }

  private def seek(i: Int): Call = {
    val highs = (0 until Partitions).map(hw)
    if (pick.nextBoolean()) {
      val from = pick.nextLong(math.max(1L, highs.min - 100 + 1))
      read("seek", i, "storage", "FileStorage.readRange")(
        storage.readRange(Topic, from, from + 100).select("partition", "offset")) { rows =>
        (0 until Partitions).forall { p =>
          rows.filter(_.getInt(0) == p).map(_.getLong(1)).sorted.toSeq ==
            (from until math.min(from + 100, highs(p)))
        }
      }
    } else {
      val ts = producedTs(pick.nextInt(producedTs.size))
      read("seek", i, "storage", "FileStorage.offsetsForTimes")(storage.offsetsForTimes(Topic, ts)) { rows =>
        val want = (0 until Partitions).flatMap { p =>
          consumed(p).iterator.take(highs(p).toInt).filter(_._2 >= ts).map(_._1).minOption.map(p -> _)
        }.toMap
        rows.map(r => r.getInt(0) -> r.getLong(1)).toMap == want
      }
    }
  }

  private def shell(i: Int): Call = {
    val highs = (0 until Partitions).map(hw)
    val (n, bytes, grepped) = (produced, producedBytes, producedGrep)
    (i / 4) % 4 match {
      case 0 =>
        read("shell", i, "ops", "Shell.wc")(Shell.wc(storage.read(Topic))) { rows =>
          rows.length == 1 && rows(0).getLong(0) == n && rows(0).getLong(2) == bytes
        }
      case 1 =>
        read("shell", i, "ops", "Shell.grep")(
          Shell.grep(storage.read(Topic), GrepNeedle).select("partition", "offset"))(_.length == grepped)
      case 2 =>
        read("shell", i, "storage", "FileStorage.lags")(storage.lags(Group, Topic)) { rows =>
          rows.length == Partitions &&
            rows.forall(r => r.getLong(3) == 0L && r.getLong(1) == highs(r.getInt(0)))
        }
      case _ =>
        read("shell", i, "storage", "FileStorage.watermarks")(storage.watermarks(Topic))(watermarksOk(_, highs))
    }
  }

  private def watermarksOk(rows: Array[Row], highs: Seq[Long]): Boolean =
    rows.length == Partitions &&
      rows.forall(r => r.getLong(1) == 0L && r.getLong(2) == highs(r.getInt(0)))

  /** Untimed output checks; each entry is one check, true if it passed. */
  def verify(): Seq[(String, Boolean)] = {
    val perCall = deferred.map(f => "call output" -> f())
    val all = storage.read(Topic).select("partition", "offset").collect()
    val offsetsByPart = all.groupBy(_.getInt(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).sorted.toSeq }
    val highs = (0 until Partitions).map(hw)
    perCall.toSeq ++ Seq(
      "consumed multiset = produced multiset" ->
        LogIngest.sameMultiset(producedHashes.result(), consumedHashes.result()),
      "every consumed value decodes" -> (decodeNulls == 0L),
      "offsets run 0..n-1 in every partition" -> LogIngest.offsetsDense(offsetsByPart, Partitions),
      "consumed offsets = log offsets" -> (0 until Partitions).forall(p =>
        consumed(p).map(_._1).toSeq == offsetsByPart.getOrElse(p, Nil)),
      "watermarks agree" -> watermarksOk(storage.watermarks(Topic).collect(), highs),
      "final lags = 0" -> storage.lags(Group, Topic).collect().forall(_.getLong(3) == 0L))
  }

  /** Layer numbers that are not per call. */
  def extraLayer(): Map[String, Double] = {
    val data = java.nio.file.Paths.get(s"$dir/topics/$Topic/data")
    val files = java.nio.file.Files.walk(data).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    Map("storage.topic_files" -> files.size.toDouble,
      "storage.bytes_per_msg" -> files.map(java.nio.file.Files.size(_)).sum.toDouble / math.max(1L, produced))
  }

  def close(): Unit = ()
}

object LogIngest {
  val Topic = "events"
  val Group = "bench"
  val Partitions = 4
  /** A plain substring, so it is also the regex `Shell.grep` takes. */
  val GrepNeedle = "\"kind\":\"refund\""
  val InputSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("timestamp", TimestampType)))
  val ValueSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("user", StringType), StructField("kind", StringType),
    StructField("amount", LongType), StructField("note", StringType)))

  def msgHash(k: String, v: String): Long = {
    val s = k + "\u0000" + v
    (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) |
      (scala.util.hashing.MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
  }

  def sameMultiset(a: Array[Long], b: Array[Long]): Boolean =
    a.length == b.length && a.sorted.sameElements(b.sorted)

  def offsetsDense(byPart: Map[Int, Seq[Long]], partitions: Int): Boolean =
    byPart.keySet.subsetOf((0 until partitions).toSet) &&
      byPart.values.forall(os => os == (0L until os.size.toLong))
}
