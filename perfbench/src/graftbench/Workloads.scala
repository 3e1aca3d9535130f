package graftbench

import graft.SparkEntry
import graft.pipeline.EncodePipeline
import graft.pipeline.EncodePipeline.{Config, RunSummary}
import graft.sinks.ManifestSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Input sizes, chosen so that one run of a workload (session start,
  * warm-up and the timed loop) stays well inside a minute on 4 cores.
  */
object Sizes {
  val BulkDocs = 10000L     // ≈ 5.5 M tokens, ≈ 80 partitions at the default bin size
  val CodecDocs = 4000      // arrays in the single-thread codec table
  val NoopRuns = 3          // resumes timed on a fully committed sink (traced run)
}

abstract class Workload(r: Run) {
  protected val spark = r.spark
  def execute(): Unit

  protected def generateTokens(docs: Long): TokenInput = {
    val in = r.generate(Inputs.tokens(spark, r.dir("input"), r.o.seed, docs, r.o.cores * 2))
    r.recordInput(in)
    in
  }

  /** Checks the decoded read-back against the input; returns the committed blob bytes. */
  protected def checkSink(key: String, sink: String, in: TokenInput): Long = {
    val row = EncodePipeline.readDecoded(spark, sink).agg(count(lit(1)),
      coalesce(sum(size(col("tokens")).cast("long")), lit(0L)),
      coalesce(sum(call_function("token_checksum", col("tokens"))), lit(0L)),
      coalesce(sum(length(col("blob")).cast("long")), lit(0L))).collect()(0)
    r.check(key, "decoded read-back has the input's docs, tokens and checksum")(
      (row.getLong(0), row.getLong(1), row.getLong(2)) == ((in.docs, in.tokens, in.checksum)))
    row.getLong(3)
  }

  protected def storedBytes(sink: String): Long = Files.bytes(ManifestSink.dataDir(sink))

  /** End-to-end metrics of the untraced run. */
  protected def endToEnd(samples: Seq[OpSample], blobBytesPerToken: Double): Unit = {
    r.metrics("setup_s") = r.setupS
    r.metrics("op_s") = OpSample.roundMedian(samples)(_.wallS)
    r.metrics("blob_bytes_per_token") = blobBytesPerToken
    r.summary("ops_timed") = samples.size
    r.summary("op_s_all") = samples.map(_.wallS)
    r.summary("op_cpu_s") = OpSample.roundMedian(samples)(_.cpuS)
    r.summary("op_gc_s") = OpSample.roundMedian(samples)(_.gcS)
    r.summary("op_jit_s") = OpSample.roundMedian(samples)(_.jitS)
    r.summary("op_codegen_classes") = OpSample.roundMedian(samples)(_.codegens.toDouble)
  }

  /** Layers every workload reports in the traced run: the codec table and
    * `encode_auto`/`decode_tokens` over the workload's own arrays, Spark's
    * failure counters and the tracing overhead.
    */
  protected def commonLayers(frame: DataFrame, tokens: Long, samples: Seq[OpSample]): Unit = {
    r.drain()
    r.attempt("codec-table") {
      val (codec, bad, probeShare) = Layers.codecTable(Layers.sampleArrays(frame, Sizes.CodecDocs))
      r.metrics ++= codec
      r.properties("fsst_probe_share") = probeShare
      r.check("codec-table", "decode(encode(x)) == x for every array")(bad == 0)
    }
    r.attempt("functions")(r.metrics ++= Layers.functions(spark, frame, tokens))
    r.summary("trace_overhead") = r.traceOverhead(samples)
    r.drain()
    r.sparkLayer()
  }
}

/** One fresh-sink `EncodePipeline.run` per operation. */
final class BulkWrite(r: Run) extends Workload(r) {
  private val Kinds = Seq("run")

  /** Sink probes, the decoded read-back, planning alone, and resumes that
    * find everything committed.
    */
  private def sinkLayers(in: TokenInput, cfg: Config): Unit = {
    r.attempt("sinks")(r.metrics ++= Layers.sinks(spark, cfg.outDir, in.tokens))
    r.attempt("read-back")(r.metrics("pipeline.read_decoded_s") =
      Layers.medianSeconds(3)(checkSink("read-back", cfg.outDir, in)))
    r.attempt("plan")(r.metrics("pipeline.plan_s") = Layers.planSeconds(in.df, cfg))
    r.attempt("resume-noop") {
      val runs = (1 to Sizes.NoopRuns).map(_ => Layers.seconds(EncodePipeline.run(spark, in.df, cfg)))
      runs.foreach { case (s, _) =>
        r.check("resume-noop", "a resume on a committed sink commits nothing")(
          s.committed == 0 && s.skipped == s.planned)
      }
      r.metrics("pipeline.resume_noop_s") = Layers.median(runs.map(_._2))
    }
  }

  def execute(): Unit = {
    val in = generateTokens(Sizes.BulkDocs)
    def cfg(i: Int) = Config(outDir = r.dir(s"sink-$i"))
    def checkRun(key: String, s: RunSummary): Unit =
      r.check(key, "a fresh-sink run commits every doc and token") {
        s.committed > 0 && s.skipped == 0 && s.nDocs == in.docs && s.nTokens == in.tokens
      }
    // the selector is a pure function, so every timed run must encode to
    // exactly the warm-up run's bytes
    var bytes = -1L
    val warm = Config(outDir = r.dir("sink-warmup"))
    r.warmup(Kinds, 1)(_ => EncodePipeline.run(spark, in.df, warm)) { (key, _, s) =>
      checkRun(key, s)
      bytes = s.encodedBytes
      Files.delete(warm.outDir)
    }

    var last = -1
    val samples = r.measure(Kinds) { (i, _) =>
      r.tracer.span("pipeline.run")(EncodePipeline.run(spark, in.df, cfg(i)))
    } { (i, _, s) =>
      checkRun(s"op$i", s)
      r.check(s"op$i", "encoded bytes repeat the warm-up run's exactly")(s.encodedBytes == bytes)
      if (last >= 0) Files.delete(cfg(last).outDir)
      last = i
    }
    r.summary("held_block_mb") = r.heldBlockBytes() / 1e6
    if (last < 0) return
    val sink = cfg(last).outDir
    val key = s"op$last"
    val (committed, readS) = Layers.seconds(checkSink(key, sink, in))
    r.check(key, "committed blob bytes equal the run's encoded bytes")(committed == bytes)
    r.recordBlobBytes(bytes)
    r.summary("write_tokens_per_s") = in.tokens / OpSample.roundMedian(samples)(_.wallS)
    r.summary("read_tokens_per_s") = in.tokens / readS
    r.summary("blob_bytes_per_token") = bytes.toDouble / in.tokens
    r.summary("stored_bytes_per_token") = storedBytes(sink).toDouble / in.tokens
    if (!r.o.trace) endToEnd(samples, bytes.toDouble / in.tokens)
    else {
      commonLayers(in.df, in.tokens, samples)
      r.pipelineLayer("pipeline.run")
      sinkLayers(in, cfg(last))
    }
  }
}

/** Passes over the operator queries that sit on materializing ops, on the
  * fixed tables shipped with the benchmark. The seed sets the query order.
  */
final class OpsMix(r: Run) extends Workload(r) {
  import OpsMix._

  def execute(): Unit = {
    val dir = r.o.data
    val order = new scala.util.Random(r.o.seed).shuffle(Queries)
    r.properties("query_order") = order
    val expected = readFingerprints(s"$dir/fingerprints.tsv")
    val held = ArrayBuffer.empty[Long]

    // one operation is one query; a round of the timed loop is one pass
    def query(q: String): (Long, String) =
      r.tracer.span(s"ops.$q")(fingerprint(SparkEntry.queries(q)(spark, dir).collect()))
    def checkQuery(key: String, q: String, fp: (Long, String)): Unit =
      r.check(key, s"$q matches its stored row count and row hash")(expected.get(q).contains(fp))

    // the warm-up pass's fingerprints go to SUMMARY, in the format of fingerprints.tsv
    val seen = scala.collection.mutable.Map.empty[String, (Long, String)]
    r.warmup(order, 1)(query) { (key, q, fp) =>
      seen(q) = fp
      checkQuery(key, q, fp)
    }
    r.summary("fingerprints") = Queries.filter(seen.contains).map(q => s"$q\t${seen(q)._1}\t${seen(q)._2}")

    val samples = r.measure(order)((_, q) => query(q)) { (i, q, fp) =>
      checkQuery(s"op$i", q, fp)
      if ((i + 1) % order.size == 0) held += r.heldBlockBytes()
    }
    r.summary("held_block_mb") = held.lastOption.getOrElse(0L) / 1e6
    r.summary("held_block_bytes_per_pass") = held.toSeq
    if (samples.isEmpty) return
    val corpus = graft.sources.Tokens.fromDocuments(spark, dir)
    val enc = corpus.agg(sum(length(call_function("encode_auto", col("tokens")))).cast("long"),
      sum(col("n_tok").cast("long"))).collect()(0)
    val blobPerToken = enc.getLong(0).toDouble / enc.getLong(1)
    r.summary("ops_pass_s") = OpSample.roundMedian(samples)(_.wallS)
    r.summary("blob_bytes_per_token") = blobPerToken
    if (!r.o.trace) endToEnd(samples, blobPerToken)
    else {
      commonLayers(corpus, enc.getLong(1), samples)
      val l = r.listener.get
      def traced(q: String) = r.tracer.spans.filter(s => s.name == s"ops.$q" && s.iter >= 0).toSeq
      def perPass(f: JobTotals => Long) = Queries.map(q => Layers.median(traced(q).map(s =>
        f(JobTotals.of(l.jobsIn(r.tracer.subtree(s)), l)).toDouble))).sum
      Queries.foreach(q => r.metrics(s"ops.${q}_s") = Layers.median(traced(q).map(_.seconds)))
      r.metrics("ops.held_block_bytes") = held.lastOption.getOrElse(0L).toDouble
      r.metrics("ops.jobs") = perPass(_.jobs.toLong)
      r.metrics("ops.shuffle_bytes") = perPass(_.shuffleWrite)
      r.metrics("ops.spill_bytes") = perPass(_.spill)
    }
  }
}

object OpsMix {
  /** The queries on Bpe, Dedup, Sampling, Vocab (Ranks) and Sessions.
    * `bpe_learn` and `dedup_verified` are left out: `bpe_apply` runs the
    * same trainer, and `dedup_clusters` the same verified pairs.
    */
  val Queries: Seq[String] = Seq("bpe_apply", "dedup_minhash", "dedup_clusters",
    "corpus_sample", "vocab_remap", "events_funnel", "events_retention")

  /** Row count and an order-insensitive 64-bit hash of the rows. */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    var acc = 0L
    rows.foreach { row =>
      val s = row.toSeq.map(v => String.valueOf(v)).mkString("\u0001")
      val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
      val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
      acc += (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
    }
    (rows.length.toLong, f"$acc%016x")
  }

  def readFingerprints(path: String): Map[String, (Long, String)] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split('\t')).map(a => a(0) -> (a(1).toLong, a(2))).toMap
  }
}
