package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point (launched by `perfbench/run.py`). Runs one
  * workload and prints, as its last stdout line, one JSON object with the
  * run's checks, host record and every measured series:
  * `{"correct", "attempted", "failed", "problems", "host",
  *   "metrics": {name: {"value", "unit", "samples"}}}`. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    require(Set("build", "query", "rare", "update")(args.workload), s"unknown workload ${args.workload}")
    Files.createDirectories(Paths.get(args.work))
    val spark = Session.start(Session.Slots, args.work)
    val run = new Run(args, spark, new Tracer(spark.sparkContext, args.trace))
    run.mark("session")
    val host = Host.probe(args.work)
    run.mark("probes")
    try {
      args.workload match {
        case "build" => Workloads.build(run)
        case "query" => Workloads.query(run, withHead = true)
        case "rare" => Workloads.query(run, withHead = false)
        case "update" => Workloads.update(run)
      }
      run.metrics.finishSearch()
      val m = run.metrics
      m.alias("op_p50_ms", "op_ms", "median")
      m.alias("op_mean_ms", "op_ms", "mean")
      // a p90 only where a run holds enough ops for samples beyond it:
      // query and update, not build's ten-odd builds
      if (args.workload != "build") m.alias("op_p90_ms", "op_ms", "p90")
      args.spans.foreach(run.tracer.write)
      println(json(run, host))
    } finally spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def json(run: Run, host: Map[String, Double]): String = {
    val metrics = run.metrics.series.map { case (k, s) =>
      s"${str(k)}:{\"value\":${num(s.value)},\"unit\":${str(s.unit)},\"samples\":${s.xs.size}}"
    }.mkString("{", ",", "}")
    val hostJson = (host.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" } ++
      Seq(s"\"seed\":${run.args.seed}",
        s"\"docid_attach\":${str(run.tracer.attachJoins.distinct.mkString(","))}"))
      .mkString("{", ",", "}")
    val problems = run.problems.map(str).mkString("[", ",", "]")
    s"""{"correct":${run.failed == 0},"attempted":${run.attempted},"failed":${run.failed},""" +
      s""""problems":$problems,"host":$hostJson,"metrics":$metrics}"""
  }
}
