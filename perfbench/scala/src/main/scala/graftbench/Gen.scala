package graftbench

import java.util.SplittableRandom
import scala.collection.mutable

/** One generated log message, before the log assigns partition and offset. */
final case class LogMsg(key: String, value: String, tsMs: Long)

/** Seeded log traffic: Zipf-skewed keys, ~200-byte JSON values, event
  * times that advance with ~1% out of order. The same seed always yields
  * the same batches, whatever the run's speed. */
final class LogGen(seed: Long, keys: Int = 10000, val batchSize: Int = 2000) {
  private val rnd = new SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  }
  private var nextId = 0L

  private def zipfKey(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, keys - 1)
  }

  def nextBatch(): Array[LogMsg] = Array.fill(batchSize) {
    val id = nextId
    nextId += 1
    val key = f"user-${zipfKey()}%05d"
    val kind = LogGen.Kinds(rnd.nextInt(LogGen.Kinds.length))
    val amount = rnd.nextInt(100000)
    val head = s"""{"id":$id,"user":"$key","kind":"$kind","amount":$amount,"note":""""
    val note = new StringBuilder
    while (head.length + note.length < 196)
      note ++= LogGen.Words(rnd.nextInt(LogGen.Words.length)) += ' '
    val late = rnd.nextInt(100) == 0
    val ts = LogGen.T0 + id * 10 - (if (late) 1 + rnd.nextInt(5000) else 0)
    LogMsg(key, head + note.toString.trim + "\"}", ts)
  }
}

object LogGen {
  val T0 = 1700000000000L
  val Kinds: Array[String] =
    Array("view", "click", "cart", "order", "refund", "login", "logout", "search")
  val Words: Array[String] = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
    "juliet kilo lima mike november oscar papa quebec romeo sierra tango uniform " +
    "victor whiskey xray yankee zulu red green blue amber violet").split(' ')
}

/** One Z-set delta: `weight` +1 inserts the record (key, tsMs, value),
  * -1 retracts an earlier insert of the same record. */
final case class Rec(key: String, tsMs: Long, value: Long, weight: Long)

/** Seeded Z-set delta batches. Per push: `perPush` deltas, of which
  * `retractShare` retract inserts from the last three pushes (so every
  * retraction lands inside a 60 s lateness horizon), keys uniform over
  * `keys`, event time advancing `StepMs` per push, and ~1% late rows up to
  * 20 s behind the current push. */
final class DeltaGen(seed: Long, keys: Int = 20000, val perPush: Int = 2000,
    retractShare: Double = 0.2) {
  private val rnd = new SplittableRandom(seed)
  private var push = 0
  private val recent = mutable.Queue[mutable.ArrayBuffer[Rec]]()

  def next(): Array[Rec] = {
    val base = DeltaGen.T0 + push * DeltaGen.StepMs
    val pool = recent.flatten.toArray
    val taken = mutable.BitSet()
    val nRetract = math.min((perPush * retractShare).toInt, pool.length / 2)
    val out = mutable.ArrayBuffer[Rec]()
    while (taken.size < nRetract) {
      val j = rnd.nextInt(pool.length)
      if (!taken(j)) { taken += j; val r = pool(j); out += r.copy(weight = -1L) }
    }
    val inserts = mutable.ArrayBuffer[Rec]()
    while (out.size < perPush) {
      val late = rnd.nextInt(100) == 0
      val ts = if (late) base - 1 - rnd.nextInt(20000) else base + rnd.nextInt(DeltaGen.StepMs.toInt)
      val r = Rec(f"k${rnd.nextInt(keys)}%05d", ts, 1L + rnd.nextInt(1000), 1L)
      inserts += r
      out += r
    }
    // a retracted insert cannot be retracted again
    var at = 0
    recent.foreach { buf =>
      val from = at
      at += buf.size
      val kept = buf.zipWithIndex.collect { case (r, i) if !taken(from + i) => r }
      buf.clear()
      buf ++= kept
    }
    recent.enqueue(inserts)
    if (recent.size > 3) recent.dequeue()
    push += 1
    out.toArray
  }
}

object DeltaGen {
  val T0 = 1700000000000L
  val StepMs = 10000L
}
