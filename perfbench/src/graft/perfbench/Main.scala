package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.GraftSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --root <run dir> --out <record.json> [--corrupt]`.
  * Writes the raw run record to `--out`; `run.py` derives the metrics.
  * `--corrupt` tampers with one answer so the workload's check must
  * trip (the benchmark's own tests use it). */
object Main {

  val Workloads = Seq("etl_journey", "store_cdc")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val root = new File(opts("root"))
    val nproc = Runtime.getRuntime.availableProcessors
    val traced = opts.get("trace").contains("1")
    val builder = GraftSession.builder(s"local[$nproc]", nproc.toString)
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
    if (traced) builder.config("spark.taskMetrics.trackUpdatedBlockStatuses", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val run = new Run(spark, new Tracer(spark.sparkContext, traced), root,
      opts("seed").toLong, opts("seconds").toInt)
    run.count("session_s", sessionS)
    run.count("nproc", nproc)
    val corrupt = args.contains("--corrupt")
    try workload match {
      case "etl_journey" => EtlJourney(run, corrupt, setupReps = 3)
      case "store_cdc" => StoreCdc(run, corrupt, setupReps = 3)
    } finally {
      Files.write(new File(opts("out")).toPath, run.toJson.getBytes(StandardCharsets.UTF_8))
      run.tracer.close()
      spark.stop()
    }
  }
}
