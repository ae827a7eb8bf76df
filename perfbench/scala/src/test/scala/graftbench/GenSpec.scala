package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def logBytes(seed: Long): Vector[String] = {
    val g = new LogGen(seed)
    Vector.fill(3)(g.nextBatch()).flatten.map(m => s"${m.key}|${m.value}|${m.tsMs}")
  }

  private def deltaBytes(seed: Long): Vector[Rec] = {
    val g = new DeltaGen(seed)
    Vector.fill(6)(g.next()).flatten
  }

  test("same seed gives byte-identical log batches, another seed different ones") {
    assert(logBytes(7).mkString("\n") == logBytes(7).mkString("\n"))
    assert(logBytes(7) != logBytes(8))
  }

  test("same seed gives identical delta batches, another seed different ones") {
    assert(deltaBytes(7) == deltaBytes(7))
    assert(deltaBytes(7) != deltaBytes(8))
  }

  test("log values are ~200-byte JSON with ~1% out-of-order timestamps") {
    val g = new LogGen(3)
    val b = g.nextBatch() ++ g.nextBatch()
    assert(b.forall(m => m.value.length >= 190 && m.value.length <= 260 && m.value.startsWith("{\"id\":")))
    val late = b.sliding(2).count { case Array(x, y) => y.tsMs < x.tsMs }
    assert(late > 10 && late < 100, s"$late out-of-order of ${b.length}")
  }

  test("every retraction cancels one earlier, unretracted insert within the lateness horizon") {
    val g = new DeltaGen(11)
    val live = scala.collection.mutable.HashMap[Rec, Int]()
    (0 until 8).foreach { push =>
      val batch = g.next()
      assert(batch.length == 2000)
      val (minus, plus) = batch.partition(_.weight < 0)
      if (push > 0) assert(minus.length == 400)
      minus.foreach { r =>
        val ins = r.copy(weight = 1L)
        assert(live.getOrElse(ins, 0) > 0, s"retraction of a record not live: $r")
        live(ins) -= 1
        val pushStart = DeltaGen.T0 + push * DeltaGen.StepMs
        assert(pushStart - r.tsMs < 60000, "retraction outside the 60 s horizon")
      }
      plus.foreach(r => live(r) = live.getOrElse(r, 0) + 1)
    }
  }
}
