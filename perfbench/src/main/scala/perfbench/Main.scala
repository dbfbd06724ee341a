package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. `run.py` generates the inputs, launches this main on
  * the exported classpath, and checks and summarises what it writes:
  *
  *   perfbench.Main --workload catalog_llm|loan_ingest|loan_stream
  *     --work <dir> --seconds <s> --trace 0|1
  *     [--data <tables dir> --queries <q,q,...>] [--arrivals <dir>]
  *
  * Timed passes (catalog) or rounds (loan) repeat until at least
  * `MinPasses` have run and `--seconds` have gone by. The least number
  * makes the count of timed operations the same in every run.
  *
  * Writes `<work>/result.json` (one record per operation, set-up time,
  * peak RSS) and, when tracing, `<work>/trace.json`.
  */
object Main {
  val MinPasses = 1
  /** An operation still running after this long is stopped and counted as failed. */
  val OpTimeoutS = 60

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val seconds = opts("seconds").toDouble
    val trace = new Trace(opts.getOrElse("trace", "0") == "1")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // the program's own session factory; only where Spark keeps its
    // scratch files is set here, so every byte stays under the work dir
    val spark: SparkSession = graft.etl.Sessions
      .builder("perfbench", master = s"local[$cores]", shufflePartitions = cores,
        checkpointDir = None)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    trace.install(spark)
    val sessionS = (Clock.ms() - jvmStartMs) / 1000.0
    val runner = new Runner(spark, trace, OpTimeoutS)

    var firstTimedMs = Double.NaN
    var setupCpuS = Double.NaN
    val markFirst = () => { firstTimedMs = Clock.ms(); setupCpuS = Cpu.seconds() }
    try opts("workload") match {
      case "catalog_llm" =>
        Catalog.run(spark, runner, opts("data"), work.resolve("out"),
          opts("queries").split(',').toSeq, seconds, markFirst)
      case "loan_ingest" =>
        Loan.run(spark, runner, Paths.get(opts("arrivals")), work.resolve("loan"),
          ticks = true, seconds, markFirst)
      case "loan_stream" =>
        Loan.run(spark, runner, Paths.get(opts("arrivals")), work.resolve("loan"),
          ticks = false, seconds, markFirst)
      case w => sys.error(s"unknown workload $w")
    } finally runner.shutdown()

    val storageBytes = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    spark.stop() // drains the listener bus before the trace is written
    trace.write(work.resolve("trace.json"))
    val result = Map(
      "setup_s" -> (firstTimedMs - jvmStartMs) / 1000.0,
      "session_s" -> sessionS,
      "setup_cpu_s" -> setupCpuS,
      "vm_hwm_kb" -> hwmKb,
      "cores" -> cores,
      "storage_memory_bytes" -> storageBytes,
      "oracle" -> graft.SparkEntry.oracleSql.filter { case (k, _) =>
        runner.records.exists(_.name == k) },
      "ops" -> runner.records.map(_.fields))
    Files.writeString(work.resolve("result.json"), Json.write(result))
  }
}
