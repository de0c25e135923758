package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload from a seed for a fixed number of
  * seconds and writes `result.json` into the run directory (metrics, the
  * operation tally and the outputs left for the oracle checker).
  *
  * usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --run-dir <dir> --specs <dir>
  */
object Main {

  def session(cores: Int, runDir: String): SparkSession = {
    val spark = graft.GraftSession.builder(cores.toString)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val runDir = opt("run-dir")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, runDir)
    val ready = Trace.nowMs()
    val ctx = Ctx(spark, new Trace(opt("trace") == "1", spark.sparkContext),
      runDir, opt("seed").toLong, opt("seconds").toInt, cores)
    val specDir = opt("specs")
    def run(workload: String, c: Ctx): Result = workload match {
      case "spec_etl" => Harness.runClosedLoop(c, new SpecEtl(specDir), ready)
      case "index_maintenance" => Harness.runClosedLoop(c, new IndexMaintenance(specDir), ready)
      case "stream_ingest" => StreamIngest.run(c, specDir, ready)
      case w => sys.error(s"unknown workload $w")
    }
    // `all` runs every workload briefly in one JVM (used to record the
    // classes they load into a class-data archive)
    val result = opt("workload") match {
      case "all" => Seq("spec_etl", "index_maintenance", "stream_ingest")
        .map(w => run(w, ctx.copy(runDir = s"$runDir/$w"))).last
      case w => run(w, ctx)
    }
    Files.write(Paths.get(runDir, "result.json"), Json.result(result).getBytes("UTF-8"))
    SparkSession.active.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")

  def strs(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")

  def result(r: Result): String = {
    val checks = r.checks.map(c => s"""{"kind": ${str(c.kind)}, "name": ${str(c.name)}, """ +
      s""""path": ${str(c.path)}, "params": ${strs(c.params)}}""")
    s"""{"e2e": ${obj(r.e2e)},
       | "layers": ${obj(r.layers)},
       | "info": ${obj(r.info)},
       | "attempted": ${r.tally.attempted}, "failed": ${r.tally.failed},
       | "checks": [${checks.mkString(",\n  ")}]}
       |""".stripMargin
  }
}
