package graft.perfbench

/** Command-line settings of one benchmark JVM. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, out: String, cores: Int, suites: String)

object Args {
  val Workloads = Seq("sql-suite", "kernel-suite", "serve-lifecycle")

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).collect { case Seq(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("data"),
      need("out"), need("cores").toInt, need("suites"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }
}

/** Runs one workload in this JVM and writes `<out>/result.json`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --data <input tables dir> --out <output dir> --cores N
  *   --suites <suites.json>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val h = new Harness(Args.parse(argv.toSeq))
    try {
      if (h.args.workload == "serve-lifecycle") Serve.run(h)
      else Suites.run(h)
      h.writeResult()
    } finally h.spark.stop()
  }
}
