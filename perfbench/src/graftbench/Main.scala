package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one single-process Spark session
  * at local[N]. Prints three lines on stdout: PROPERTIES (environment and
  * workload properties), SUMMARY (the workload's headline figures) and
  * RESULT (correctness accounting and the metrics); `run.py` turns the
  * last into the benchmark's result line.
  */
object Main {
  val PipelineMetrics: Seq[String] = Seq("run_s", "plan_s", "jobs", "stages", "executor_run_s",
    "executor_cpu_s", "gc_s", "busy_ratio", "driver_gap_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "task_skew", "rows_read_per_row_written",
    "read_decoded_s", "resume_noop_s")
  val SinkMetrics: Seq[String] = Seq("read_committed_s", "current_manifest_s",
    "committed_run_ids_s", "data_files", "data_bytes", "manifest_files", "stored_bytes_per_token")
  val OpsMetrics: Seq[String] =
    OpsMix.Queries.map(_ + "_s") ++ Seq("held_block_bytes", "jobs", "shuffle_bytes", "spill_bytes")

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graft-perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val o = Opts.parse(args)
    val spark = session(o)
    val listener = if (o.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val r = new Run(spark, o, new Tracer(spark.sparkContext), listener, jvmStartMs)
    val workload: Workload = o.workload match {
      case "bulk_write" => new BulkWrite(r)
      case "ops_mix" => new OpsMix(r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    r.attempt("workload")(workload.execute())
    if (o.trace) {
      r.notExercised("pipeline.", PipelineMetrics)
      r.notExercised("sinks.", SinkMetrics)
      r.notExercised("ops.", OpsMetrics)
      r.attempt("trace-file")(r.writeTrace())
    }
    r.summary("setup_s") = r.setupS
    r.summary("session_s") = r.sessionS
    r.summary("input_generation_s") = r.genS
    r.summary("failure_ratio") = r.failed.toDouble / math.max(1, r.attempted)
    r.recordHostSteal()
    println("PROPERTIES " + Json(Map("workload" -> o.workload, "seed" -> o.seed,
      "environment" -> r.environment(), "properties" -> r.properties)))
    println("SUMMARY " + Json(Map("workload" -> o.workload, "trace" -> o.trace, "summary" -> r.summary)))
    println("RESULT " + Json(Map("correct" -> (r.failed == 0), "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> r.metrics)))
    spark.stop()
  }
}
