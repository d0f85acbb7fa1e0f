package perfbench

import scala.collection.mutable

/** One timed engine call as the client saw it. `kind` is the op type
  * (`upsert`, `range_read`, `orders_job`, ...); `rows` the input rows it
  * processed (reads: rows returned); `variant` tells apart the shapes of
  * a read type (selective or wide band, present or absent keys, ...).
  */
final case class Call(kind: String, wall: Double, rows: Long, variant: Int = 0)

/** Everything a run measured, written as one JSON object for the
  * aggregation step (`perfbench/run.py`).
  */
final class Record(val workload: String, val seed: Long, val trace: Boolean) {
  var sessionS = 0.0
  val setupReps = mutable.ArrayBuffer[Double]()
  var setupOnceS = 0.0
  val noopS = mutable.ArrayBuffer[Double]()
  var timedS = 0.0
  val calls = mutable.ArrayBuffer[Call]()
  /** A traced run's untraced passes, before and after the traced one. */
  val untracedPasses = mutable.ArrayBuffer[Seq[Call]]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val extra = mutable.LinkedHashMap[String, Double]()
  var spansFile = ""

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  private def callJson(c: Call): String =
    s"""{"kind":${Json.str(c.kind)},"variant":${c.variant},"wall":${Json.num(c.wall)},""" +
      s""""rows":${c.rows}}"""

  def json: String = {
    def arr(xs: Iterable[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    val checksJson = checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}"""
    }.mkString("[", ",", "]")
    s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":$trace,""" +
      s""""session_s":${Json.num(sessionS)},"setup_reps_s":${arr(setupReps)},""" +
      s""""setup_once_s":${Json.num(setupOnceS)},"noop_s":${arr(noopS)},""" +
      s""""timed_s":${Json.num(timedS)},""" +
      s""""calls":${calls.map(callJson).mkString("[", ",", "]")},""" +
      s""""untraced_passes":${untracedPasses.map(_.map(callJson).mkString("[", ",", "]"))
        .mkString("[", ",", "]")},""" +
      s""""checks":$checksJson,"extra":${Json.obj(extra.toMap)},""" +
      s""""spans_file":${Json.str(spansFile)}}"""
  }
}
