package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Plan-quality assertions (the "is this the plan you'd want at 100 TB"
  * checks): filters and projections must reach the parquet scan, small
  * sides must broadcast, and hot paths must stay inside whole-stage
  * codegen.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private val dir = "/root/testdata/sf0.01"

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter_source pushes the source predicate into the parquet scan") {
    val plan = formatted(SparkEntry.queries("filter_source")(spark, dir))
    assert(plan.contains("PushedFilters: [") && plan.contains("In(source"), plan)
  }

  test("project_prune reads only the needed column from parquet") {
    val plan = formatted(SparkEntry.queries("project_prune")(spark, dir))
    // n_tok is derived from doc_id; text/lang/n_chars must not be read
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"), plan)
  }

  test("codec roundtrip query reads only doc_id (tokens are derived)") {
    val plan = formatted(SparkEntry.queries("codec_auto_roundtrip")(spark, dir))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"), plan)
    // per-row derive→encode→decode→checksum is pure map work: no exchange
    // anywhere in the plan
    assert(!plan.contains("Exchange"), plan)
    // and since round 2 the WHOLE chain fuses into one codegen stage: the
    // generator, codecs and checksum are all native `doGenCode` kernels
    // (the round-1 interpreted-HOF checksum used to break the fusion)
    val simple = SparkEntry.queries("codec_auto_roundtrip")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(simple.contains("*(1) Project"), simple)
  }

  test("resume anti-join broadcasts a small committed-key set") {
    val tokens = graft.sources.Tokens.synthetic(spark, 100)
    val out = java.nio.file.Files.createTempDirectory("graft-plan").toString
    val cfg = graft.pipeline.EncodePipeline.Config(outDir = out, targetBinTokens = 4096)
    graft.pipeline.EncodePipeline.run(spark, tokens, cfg)
    // the resumed run plans its anti-join inside run(): capture the plans
    // of the queries it executes (past Joins.BroadcastRows the committed
    // side is hashed instead — JoinsSpec drives keySide past the limit)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val again = graft.pipeline.EncodePipeline.run(spark, tokens, cfg)
      assert(again.committed == 0 && again.skipped == again.planned)
      // physical anti-join nodes ("<Strategy>Join [keys], [keys], LeftAnti, …";
      // AQE's logical stages print "Join LeftAnti, …"); listener events
      // arrive asynchronously
      def anti = plans.asScala.toSeq.flatMap(_.split("\n"))
        .filter(l => l.contains("Join [") && l.contains("LeftAnti"))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (anti.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(anti.nonEmpty, plans.asScala.mkString("\n\n"))
      assert(anti.forall(_.contains("BroadcastHashJoin")), anti.mkString("\n"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("snapshot reader broadcasts a small committed-key set; few runs filter by isin") {
    val tokens = graft.sources.Tokens.synthetic(spark, 150)
    val out = java.nio.file.Files.createTempDirectory("graft-plan-read").toString
    graft.pipeline.EncodePipeline.run(spark, tokens,
      graft.pipeline.EncodePipeline.Config(outDir = out, targetBinTokens = 4096))
    // small committed-key set → broadcast semi-join (past Joins.BroadcastRows
    // the side is a shuffled HASH join, never an SMJ — JoinsSpec)
    val small = formatted(graft.sinks.ManifestSink.readCommitted(spark, out))
    assert(small.contains("BroadcastHashJoin"), small)
    assert(small.contains("LeftSemi"), small)
    // run filter: a static isin literal for few runs, no join in the plan
    // (past IsinRunLimit runs a semi-join — JoinsSpec)
    val isin = formatted(graft.sinks.ManifestSink.committedManifest(spark, out))
    assert(!isin.contains("Join"), isin)
  }

  test("encode join hashes the metadata side and never sorts the arrays") {
    val spark0 = spark
    graft.functions.GraftFunctions.register(spark0)
    val tokens = graft.sources.Tokens.synthetic(spark0, 200)
    val cfg = graft.pipeline.EncodePipeline.Config(outDir = "unused")
    val docKeys = graft.pipeline.EncodePipeline.plan(tokens, cfg)
      .select("doc_id", "salt", "bin", "part_key")
    val joined = tokens.join(docKeys.hint("SHUFFLE_HASH"), Seq("doc_id"))
      .withColumn("blob", expr("encode_auto(tokens)"))
      .drop("tokens")
      .repartition(col("part_key"))
    val plan = formatted(joined)
    assert(plan.contains("ShuffledHashJoin"), plan)
    // a SortMergeJoin would sort the heavy array side before the exchange
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("scan_tokens aggregation is two-phase (partial before the exchange)") {
    val plan = formatted(SparkEntry.queries("scan_tokens")(spark, dir))
    // HashAggregate(partial) -> Exchange -> HashAggregate(final): map-side
    // combine bounds the shuffle by |sources|, not |docs|
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0, plan)
    assert(plan.contains("partial_"), plan)
  }

  test("trace_frames: generator runs in place — no exchange, codegen'd scan side") {
    val plan = formatted(SparkEntry.queries("trace_frames")(spark, dir))
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("dedup_verified: capped candidate path never sort-merge-joins the gram sets") {
    val plan = formatted(SparkEntry.queries("dedup_verified")(spark, dir))
    assert(!plan.contains("SortMergeJoin"), plan)
    // one bucket-stats window, not one per branch (the anchor⨝member shape)
    assert("Window".r.findAllIn(
      SparkEntry.queries("dedup_verified")(spark, dir)
        .queryExecution.executedPlan.toString).length == 1, plan)
    // the same single-window shape asserted on the candidate stage directly
    val sig = graft.ops.Dedup.withMinhash(
      spark.read.parquet(s"$dir/documents.parquet")).select("doc_id", "minhash")
    val candPlan = graft.ops.Dedup.minhashCandidatesFromSig(sig)
      .queryExecution.executedPlan.toString
    assert("Window".r.findAllIn(candPlan).length == 1, candPlan)
  }

  test("ngram_jaccard hashes its corpus-sized self-join, never broadcasts it") {
    val plan = formatted(SparkEntry.queries("ngram_jaccard")(spark, dir))
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("ivf assignment broadcasts the centroid model") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Ann.ivfTopK(e, e.filter(col("vec_id") < 5), k = 2,
      nCentroids = 4, nProbes = 2, iters = 1)
    val plan = formatted(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("ann brute force broadcasts the probe side") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.Ann.bruteForceTopK(e, e.filter(col("vec_id") < 20), k = 1)
    val plan = formatted(df)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }
}
