package graft

/** Named driver-side phases inside a query body. `Phase("build") { … }`
  * runs its block; only inside [[record]] does it also log the block's
  * wall seconds, so the marks cost nothing outside a bench run. A mark
  * wraps work the body already does eagerly and never adds an action. */
object Phase {
  private val log =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[(String, Double)]]

  def apply[T](name: String)(block: => T): T = log.get match {
    case null => block
    case buf =>
      val t0 = System.nanoTime()
      try block finally buf += name -> (System.nanoTime() - t0) / 1e9
  }

  /** True inside [[record]] — the spec's probe for leaked state. */
  private[graft] def recording: Boolean = log.get != null

  /** `f`'s value with the phases it marked, in order. */
  def record[T](f: => T): (T, Seq[(String, Double)]) = {
    val outer = log.get
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    log.set(buf)
    try (f, buf.toSeq) finally log.set(outer)
  }
}
