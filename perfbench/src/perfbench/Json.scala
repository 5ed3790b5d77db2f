package perfbench

/** The one-line result the runner relays. */
object Json {

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric is not a number: $d")
    d.toString
  }

  def result(run: Run, metrics: Seq[(String, Double, String)], workload: String): String = {
    val ms = metrics.map { case (k, v, u) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
    val spans = run.setupSpans.map { case (k, v) => s"${str(k)}:${num(v)}" }
    val kinds = run.ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${v.size}" }
    s"""{"correct":${run.failed == 0},"attempted":${run.attempted},"failed":${run.failed},""" +
      s""""metrics":{${ms.mkString(",")}},""" +
      s""""detail":{"workload":${str(workload)},"seed":${run.seed},""" +
      s""""setup_spans":{${spans.mkString(",")}},"ops":{${kinds.mkString(",")}},""" +
      s""""wall":{${run.wall.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")}},""" +
      s""""failures":[${run.failureList.take(20).map(str).mkString(",")}]}}"""
  }
}
