package graftbench

/** A workload owns its inputs and the system state it builds in set-up. */
trait Workload {
  /** One closed-loop cycle; the calls it made, in order. */
  def cycle(i: Int): Seq[Call]
  /** Untimed output checks: (what, passed). */
  def verify(): Seq[(String, Boolean)]
  /** Per-layer numbers that are not per call. */
  def extraLayer(): Map[String, Double]
  def close(): Unit
}
