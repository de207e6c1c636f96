package graftbench

import scala.collection.mutable

/** The smoke mode: tiny inputs, every workload. Honest checks must pass,
  * and each check must fail when its expectation is deliberately wrong.
  */
object Smoke {
  import Main._

  def run(a: Args): Int = {
    val results = mutable.ArrayBuffer.empty[(String, Boolean)]
    Workloads.foreach { w =>
      val r = new Run(a.copy(workload = w, trace = false), Main.SmokeSizes)
      try {
        r.setup()
        val honest = r.failed == 0 && r.auditQuarantine() && {
          r.timedPasses(minPasses = 1, seconds = 0)
          Queries.Classes.foreach(_ => r.runQuery(record = false))
          r.failed == 0
        }
        results += s"$w honest checks pass" -> honest
        /** Run `action` with one expectation made wrong: exactly one op must fail. */
        def fires(name: String)(tamper: Boolean => Unit)(action: => Unit): Unit = {
          val before = r.failed
          tamper(true)
          try action catch { case _: Exception => () } finally tamper(false)
          results += s"$w $name check fires" -> (r.failed == before + 1)
        }
        fires("distinct quads")(t => r.tamperQuads = if (t) 1L else 0L)(r.passOp("tampered-count"))
        fires("graph digest")(t => r.tamperDigest = t)(r.passOp("tampered-digest"))
        fires("quarantine")(t => r.tamperQuarantine = t)(r.auditQuarantine())
        fires("query answer")(t => r.tamperQuery = t)(r.runQuery(record = false))
      } finally r.close()
    }
    results.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} $n") }
    val bad = results.count(!_._2)
    println(json(bad == 0, results.size, bad, Nil))
    if (bad == 0) 0 else 1
  }
}
