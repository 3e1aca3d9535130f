package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, work: String, data: String, commit: String, traceOut: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("work"), need("data"), m.getOrElse("commit", "unknown"),
      need("trace-out"))
  }
}

/** One timed operation of kind `kind`: its wall and process CPU seconds,
  * the JVM's garbage-collection and JIT-compilation seconds during it, and
  * the number of classes Spark's code generator compiled for it.
  */
final case class OpSample(i: Int, kind: String, traced: Boolean, wallS: Double, cpuS: Double,
    gcS: Double, jitS: Double, codegens: Long)

object OpSample {
  /** One round's figure: the sum over kinds of each kind's median. */
  def roundMedian(samples: Seq[OpSample])(f: OpSample => Double): Double =
    samples.groupBy(_.kind).values.map(xs => Layers.median(xs.map(f))).sum
}

/** State of one benchmark run: the session, the tracer, the failure
  * accounting and everything that goes into the output lines.
  */
final class Run(val spark: SparkSession, val o: Opts, val tracer: Tracer,
    val listener: Option[JobListener], jvmStartMs: Long) {

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }
  private def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def codegens(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Host CPU time from the first line of /proc/stat, in clock ticks:
    * (steal, all of user nice system idle iowait irq softirq steal), or
    * zeros where it cannot be read.
    */
  private def hostCpu(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong) finally src.close()
      if (f.length < 8) (0L, 0L) else (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }
  /** The share of the host's CPU time the hypervisor stole since `from`. */
  private def stealSince(from: (Long, Long)): Double = {
    val (steal, all) = hostCpu()
    if (all <= from._2) Double.NaN else (steal - from._1).toDouble / (all - from._2)
  }
  private val hostCpuAtStart = hostCpu()

  val sessionS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
  var genS = 0.0
  var setupS = 0.0

  var attempted = 0
  private val failedOps = mutable.LinkedHashSet.empty[String]
  def failed: Int = failedOps.size

  /** End-to-end metrics (untraced run) or per-layer metrics (traced run). */
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Workload properties and headline figures, printed as their own lines. */
  val properties: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val summary: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val extras: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def dir(name: String): String = s"${o.work}/$name"

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** The benchmark's own input generation, kept out of `setup_s`. */
  def generate[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally genS += (System.nanoTime() - t0) / 1e9
  }

  /** A checked operation outside the timed loop (set-up, warm-up, probes). */
  def attempt[A](key: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        log(s"$key failed: $e")
        e.printStackTrace()
        failedOps += key
        None
    }
  }

  /** A correctness check; a false or throwing check fails operation `key`. */
  def check(key: String, what: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => log(s"$key check '$what' threw: $e"); false }
    if (!ok) {
      log(s"$key check failed: $what")
      failedOps += key
    }
  }

  /** Untimed warm-up: `rounds` rounds of the workload's own operations
    * (one round = one operation of each kind), so that the timed loop
    * starts after the cold JIT and the first-use costs. `after` checks each
    * result under its operation's key.
    */
  def warmup[A](kinds: Seq[String], rounds: Int)(op: String => A)(after: (String, String, A) => Unit): Unit =
    for (i <- 0 until rounds * kinds.size) {
      val key = s"warmup$i"
      val kind = kinds(i % kinds.size)
      attempt(key)(op(kind)).foreach(after(key, kind, _))
    }

  /** The timed loop: runs operations, cycling through `kinds`, until
    * `o.seconds` have passed and at least two rounds are complete: the
    * JIT is still settling after the warm-up, and the median of two rounds
    * spreads about half as much from run to run as the first round alone.
    * A traced run traces every second round, starting with the second,
    * and runs at least three rounds, so that traced operations sit between
    * untraced ones and warm-up drift cancels out of `trace_overhead`. `after` runs
    * untimed after each operation, for its checks and clean-up. The first
    * call marks the end of set-up.
    */
  def measure[A](kinds: Seq[String])(op: (Int, String) => A)(
      after: (Int, String, A) => Unit): Seq[OpSample] = {
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS
    val need = kinds.size * (if (o.trace) 3 else 2)
    val out = ArrayBuffer.empty[OpSample]
    val host0 = hostCpu()
    val t0 = System.nanoTime()
    var i = 0
    while (i < need || System.nanoTime() - t0 < o.seconds * 1e9) {
      val kind = kinds(i % kinds.size)
      val traced = o.trace && (i / kinds.size) % 2 == 1
      tracer.active = traced
      tracer.iter = i
      val (g0, j0, k0, c0) = (gcMs(), jitMs(), codegens(), cpuNs())
      val w0 = System.nanoTime()
      val r = attempt(s"op$i")(op(i, kind))
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      val (gc, jit, k) = ((gcMs() - g0) / 1e3, (jitMs() - j0) / 1e3, codegens() - k0)
      tracer.active = false
      r.foreach { a =>
        out += OpSample(i, kind, traced, wall, cpu, gc, jit, k)
        after(i, kind, a)
      }
      i += 1
    }
    properties("host_cpu_steal_share_timed") = stealSince(host0)
    out.toSeq
  }

  /** Host CPU steal from session start on: a busy host shows here, so that
    * a slow run can be told from a slow program.
    */
  def recordHostSteal(): Unit = properties("host_cpu_steal_share_run") = stealSince(hostCpuAtStart)

  /** Bytes of cached blocks (memory and disk) the session still holds. */
  def heldBlockBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def storageMemoryBytes(): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum

  def recordInput(in: TokenInput): Unit = {
    val storage = storageMemoryBytes().toDouble
    properties("docs") = in.docs
    properties("tokens") = in.tokens
    properties("profile_token_share") =
      (0 until 6).map(p => s"p$p" -> in.profileTokens(p).toDouble / in.tokens).toMap
    properties("input_file_bytes") = in.fileBytes
    properties("input_raw_bytes") = in.rawBytes
    properties("storage_memory_bytes") = storage.toLong
    properties("input_raw_to_storage") = in.rawBytes / storage
  }

  def recordBlobBytes(blobBytes: Long): Unit = {
    properties("blob_bytes") = blobBytes
    properties("blob_to_storage") = blobBytes / storageMemoryBytes().toDouble
  }

  /** trace_overhead: a traced round ÷ an untraced round, minus one. */
  def traceOverhead(samples: Seq[OpSample]): Double = {
    val both = samples.groupBy(_.kind).values.filter(xs => xs.exists(_.traced) && xs.exists(!_.traced)).toSeq.flatten
    val (t, u) = both.partition(_.traced)
    if (t.isEmpty) 0.0 else OpSample.roundMedian(t)(_.wallS) / OpSample.roundMedian(u)(_.wallS) - 1.0
  }

  /** Per-layer pipeline metrics from the traced spans named `name`. */
  def pipelineLayer(name: String): Unit = {
    val l = listener.get
    val spans = tracer.spans.filter(s => s.name == name && s.iter >= 0 && s.endNs > 0).toSeq
    val per = spans.map(s => (s, JobTotals.of(l.jobsIn(tracer.subtree(s)), l)))
    def med(f: ((Span, JobTotals)) => Double) = Layers.median(per.map(f))
    metrics("pipeline.run_s") = med(_._1.seconds)
    metrics("pipeline.jobs") = med(_._2.jobs.toDouble)
    metrics("pipeline.stages") = med(_._2.stages.toDouble)
    metrics("pipeline.executor_run_s") = med(_._2.runS)
    metrics("pipeline.executor_cpu_s") = med(_._2.cpuS)
    metrics("pipeline.gc_s") = med(_._2.gcS)
    metrics("pipeline.busy_ratio") = med { case (s, t) => t.runS / (s.seconds * o.cores) }
    metrics("pipeline.driver_gap_s") = med { case (s, t) =>
      val clipped = t.jobWindows.map { case (a, b) =>
        (math.max(a, s.startMs), math.min(b, s.endMs)) }.filter(w => w._2 > w._1)
      (s.endMs - s.startMs - Tracer.covered(clipped)) / 1e3
    }
    metrics("pipeline.shuffle_write_bytes") = med(_._2.shuffleWrite.toDouble)
    metrics("pipeline.shuffle_read_bytes") = med(_._2.shuffleRead.toDouble)
    metrics("pipeline.spill_bytes") = med(_._2.spill.toDouble)
    metrics("pipeline.task_skew") = med(_._2.skew)
    metrics("pipeline.rows_read_per_row_written") = med { case (_, t) =>
      if (t.recordsWritten == 0) 0.0 else t.recordsRead.toDouble / t.recordsWritten }
    // job seconds per call site inside the pipeline call: names change with
    // the program's line numbers, so they go to the trace file only
    val bySite = mutable.LinkedHashMap.empty[String, Double]
    spans.foreach { s =>
      l.jobsIn(tracer.subtree(s)).filter(_.endMs >= 0).foreach { j =>
        bySite(j.callSite) = bySite.getOrElse(j.callSite, 0.0) + (j.endMs - j.startMs) / 1e3 / spans.size
      }
    }
    extras("pipeline.job_s") = scala.collection.immutable.ListMap(bySite.toSeq.sortBy(-_._2): _*)
  }

  /** Waits until the listener has seen every job started so far. */
  def drain(): Unit = listener.foreach(_.drain(spark.sparkContext))

  /** Zeros for every per-layer metric of a layer this workload does not exercise. */
  def notExercised(prefix: String, names: Seq[String]): Unit =
    names.foreach(n => metrics.getOrElseUpdate(s"$prefix$n", 0.0))

  def sparkLayer(): Unit = {
    val l = listener.get
    metrics("spark.tasks_failed") = l.tasksFailed.toDouble
    metrics("spark.stages_retried") = l.stagesRetried.toDouble
  }

  def environment(): Map[String, Any] = Map(
    "cores" -> o.cores,
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
    "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "commit" -> o.commit)

  /** Spans with self time, and jobs with their span and call site. */
  def writeTrace(): Unit = {
    val l = listener.get
    val spans = tracer.spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_seconds" -> tracer.selfSeconds(s)))
    val jobs = l.synchronized(l.jobs.values.toSeq).filter(_.span > 0).map(j => Map(
      "id" -> j.id, "span" -> j.span, "call_site" -> j.callSite,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stageIds))
    // total and self seconds per span name, summed over the traced operations
    val byName = tracer.spans.filter(_.iter >= 0).groupBy(_.name).map { case (n, ss) =>
      n -> Map("calls" -> ss.size, "seconds" -> ss.map(_.seconds).sum,
        "self_seconds" -> ss.map(tracer.selfSeconds).sum)
    }
    val doc = Map("workload" -> o.workload, "seed" -> o.seed, "span_totals" -> byName,
      "extras" -> extras, "spans" -> spans, "jobs" -> jobs)
    val p = java.nio.file.Paths.get(o.traceOut)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, Json(doc).getBytes("UTF-8"))
  }
}
