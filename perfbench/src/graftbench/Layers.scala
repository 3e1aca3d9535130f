package graftbench

import graft.codec.{CodecSelector, Codecs, ColumnStats, FsstCodec}
import graft.pipeline.EncodePipeline
import graft.sinks.ManifestSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Per-layer probes of the traced run. Each calls one layer's public
  * functions directly, outside any workload operation.
  */
object Layers {

  val CodecNames: Seq[String] = Seq("plain", "rle", "bitpack", "fordelta", "dict", "fsst")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Median of `reps` timed calls. */
  def medianSeconds(reps: Int)(body: => Any): Double =
    median((1 to reps).map(_ => seconds(body)._2))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** L0: single-thread selector, kernels and FSST probe over the
    * workload's own arrays, per row profile (doc_id % 6). Also checks
    * decode ∘ encode on every array; returns the arrays that failed.
    */
  def codecTable(arrays: Seq[(Long, Array[Int])]): (Map[String, Double], Int, Double) = {
    val encNs = new Array[Long](6)
    val decNs = new Array[Long](6)
    val toks = new Array[Long](6)
    val bytes = new Array[Long](6)
    val chosen = mutable.Map(CodecNames.map(_ -> 0L): _*)
    var probes = 0L
    var wins = 0L
    var probeNs = 0L
    var bad = 0
    arrays.foreach { case (docId, xs) =>
      val p = Math.floorMod(docId, 6L).toInt
      var t = System.nanoTime()
      val blob = CodecSelector.encodeAuto(xs)
      encNs(p) += System.nanoTime() - t
      t = System.nanoTime()
      val back = Codecs.decode(blob)
      decNs(p) += System.nanoTime() - t
      if (!java.util.Arrays.equals(back, xs)) bad += 1
      toks(p) += xs.length
      bytes(p) += blob.length
      val codec = Codecs.codecNameOf(blob)
      chosen(codec) = chosen.getOrElse(codec, 0L) + 1
      // the selector lists FSST among its estimates only when it probed
      val probed = CodecSelector.estimates(xs, ColumnStats.of(xs)).exists(_._1 == FsstCodec)
      if (probed) {
        probes += 1
        if (codec == FsstCodec.name) wins += 1
        t = System.nanoTime()
        FsstCodec.probeSize(xs)
        probeNs += System.nanoTime() - t
      }
    }
    def rate(n: Long, ns: Long) = if (ns == 0) 0.0 else n / (ns / 1e9)
    val m = mutable.LinkedHashMap.empty[String, Double]
    (0 until 6).foreach(p => m(s"codec.encode_tokens_per_s.p$p") = rate(toks(p), encNs(p)))
    (0 until 6).foreach(p => m(s"codec.decode_tokens_per_s.p$p") = rate(toks(p), decNs(p)))
    (0 until 6).foreach(p => m(s"codec.bytes_per_token.p$p") =
      if (toks(p) == 0) 0.0 else bytes(p).toDouble / toks(p))
    CodecNames.foreach(c => m(s"codec.chosen.$c") = chosen(c).toDouble)
    m("codec.fsst_probe_calls") = probes.toDouble
    m("codec.fsst_probe_s") = probeNs / 1e9
    m("codec.fsst_probe_win_ratio") = if (probes == 0) 0.0 else wins.toDouble / probes
    val probeShare = if (arrays.isEmpty) 0.0 else probes.toDouble / arrays.size
    (m.toMap, bad, probeShare)
  }

  /** The first `maxDocs` arrays by doc_id, collected to the driver. */
  def sampleArrays(df: DataFrame, maxDocs: Int): Seq[(Long, Array[Int])] =
    df.select(col("doc_id"), col("tokens")).orderBy("doc_id").limit(maxDocs).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray))

  /** L1: `encode_auto` and `decode_tokens` over a cached frame, all cores. */
  def functions(spark: SparkSession, tokens: DataFrame, nTokens: Long): Map[String, Double] = {
    import graft.functions.GraftFunctions.{decode_tokens, encode_auto}
    val cached = tokens.select("tokens").cache()
    val blobs = cached.select(encode_auto(col("tokens")).as("blob")).cache()
    try {
      cached.count()
      blobs.count()
      val enc = medianSeconds(3)(cached.select(sum(length(encode_auto(col("tokens"))))).collect())
      val dec = medianSeconds(3)(
        blobs.select(sum(call_function("token_checksum", decode_tokens(col("blob"))))).collect())
      Map("functions.encode_auto_tokens_per_s" -> nTokens / enc,
        "functions.decode_tokens_per_s" -> nTokens / dec)
    } finally {
      blobs.unpersist(blocking = true)
      cached.unpersist(blocking = true)
    }
  }

  /** Sink metadata and scan costs, and the sink's files, on a committed sink. */
  def sinks(spark: SparkSession, sink: String, tokens: Long): Map[String, Double] = {
    val data = Files.dataFiles(ManifestSink.dataDir(sink))
    val dataBytes = data.map(p => java.nio.file.Files.size(p)).sum
    Map(
      "sinks.read_committed_s" -> medianSeconds(3)(noop(ManifestSink.readCommitted(spark, sink))),
      "sinks.current_manifest_s" -> medianSeconds(3)(ManifestSink.currentManifest(spark, sink).collect()),
      "sinks.committed_run_ids_s" -> medianSeconds(5)(ManifestSink.committedRunIds(sink)),
      "sinks.data_files" -> data.size.toDouble,
      "sinks.data_bytes" -> dataBytes.toDouble,
      "sinks.manifest_files" -> Files.dataFiles(ManifestSink.manifestDir(sink)).size.toDouble,
      "sinks.stored_bytes_per_token" -> dataBytes.toDouble / tokens)
  }

  /** Partition planning alone: `EncodePipeline.plan` driven to the end. */
  def planSeconds(tokens: DataFrame, cfg: EncodePipeline.Config): Double =
    medianSeconds(3)(noop(EncodePipeline.plan(tokens, cfg)))
}
