package org.apache.spark.sql.perfbench

/** Just enough JSON writing for the harness's result files. */
private[perfbench] object Json {
  /** Names, modules and span kinds only: none needs escaping. */
  def str(s: String): String = {
    require(s.forall(c => c >= ' ' && c != '"' && c != '\\'), s)
    "\"" + s + "\""
  }

  /** Full precision; non-finite values (never expected) become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")

  /** Wall-clock nanoseconds since the epoch, comparable with the
    * launcher's `time.time_ns()`.
    */
  def epochNanos(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }
}
