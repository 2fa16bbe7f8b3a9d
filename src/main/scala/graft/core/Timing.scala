package graft.core

/** The engine's one profiling switch: with `GRAFT_TIMING=1` in the
  * environment, [[timed]] prints every named section's wall time to
  * stderr. Any other value, or none, leaves it silent.
  */
object Timing {

  val enabled: Boolean = sys.env.get("GRAFT_TIMING").contains("1")

  /** Runs `f`, prints its wall time under [[enabled]] and passes the
    * seconds to `report` once `f` has returned.
    */
  def timed[T](name: String, report: Double => Unit = _ => ())(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    if (enabled) System.err.println(f"[graft-timing] $name%-28s $sec%8.2f s")
    report(sec)
    r
  }
}
