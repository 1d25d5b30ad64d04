package archbench

import java.sql.Timestamp

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Simulated time and the seeded counter formula of the ticks (one
  * definition for the Spark generator and the closed-form check), and
  * the engine's cadence phase of a tick. */
object TickModel {
  /** 2024-01-01 00:00:00 UTC; ticks are one simulated hour apart. */
  val T0Sec = 1704067200L
  val TickSec = 3600L

  def tickTs(t: Int): Timestamp = new Timestamp((T0Sec + t * TickSec) * 1000L)
  /** The tick call's `now`: one minute after the samples it archives. */
  def tickNow(t: Int): Timestamp = new Timestamp(tickTs(t).getTime + 60000L)

  /** Per-entity increment in [1, 97]: counters are cumulative, so an
    * entity's `calls` at tick t is (t + 1) * inc. */
  def inc(seed: Long, a: Long, b: Long): Long =
    1L + Math.floorMod(a * 131L + b * 17L + seed * 7919L, 97L)
  def incCol(seed: Long, a: Column, b: Column): Column =
    lit(1L) + pmod(a * 131L + b * 17L + lit(seed * 7919L), lit(97L))

  def phaseOf(seq: Long, srvid: Int, coalesce: Int): String =
    (seq + srvid % 20) % coalesce match {
      case 0 => "aggregate"
      case 1 => "purge"
      case _ => "plain"
    }
}
