package graft

import graft.sinks.ManifestSink
import graft.util.Joins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one broadcast-or-shuffle rule ([[Joins.keySide]]) and the run-id
  * filter built on it, driven on both sides of their limits for every join
  * shape the engine uses; plus a guard that no other source file
  * broadcasts on its own.
  */
class JoinsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("keySide broadcasts below BroadcastRows and hashes past it, never SMJ") {
    // left keys 0..199 with every 10th key null; side keys are the
    // multiples of 3 below 150 plus one null
    val left = spark.range(0, 200).select(
      when(col("id") % 10 === 0, lit(null).cast("long")).otherwise(col("id")).as("k"),
      (col("id") * 7).as("v"))
    val side = spark.range(0, 150, 3).select(col("id").as("k"))
      .union(spark.range(1).select(lit(null).cast("long").as("k")))
    val sideS = side.withColumnRenamed("k", "s")
    val shapes = Seq[(String, DataFrame => DataFrame, DataFrame)](
      ("left_semi", s => left.join(s, Seq("k"), "left_semi"), side),
      ("left_anti", s => left.join(s, Seq("k"), "left_anti"), side),
      ("inner", s => left.join(s, Seq("k")), side),
      ("null-safe inner", s => left.join(s, col("k") <=> col("s")), sideS))
    for ((shape, join, s) <- shapes) {
      val small = join(Joins.keySide(s, 10))
      val big = join(Joins.keySide(s, Joins.BroadcastRows + 1))
      val smallPlan = formatted(small)
      val bigPlan = formatted(big)
      assert(smallPlan.contains("BroadcastHashJoin"), s"$shape\n$smallPlan")
      assert(bigPlan.contains("ShuffledHashJoin"), s"$shape\n$bigPlan")
      assert(!bigPlan.contains("SortMergeJoin") && !bigPlan.contains("Broadcast"),
        s"$shape\n$bigPlan")
      assert(rows(small) == rows(big), shape)
    }
    // the null-safe shape really joins the null keys
    val nullSafe = left.join(Joins.keySide(sideS, Joins.BroadcastRows + 1),
      col("k") <=> col("s"))
    assert(nullSafe.filter(col("k").isNull).count() == 20)
  }

  test("run-id filter: isin literal up to IsinRunLimit runs, semi-join past it") {
    val df = spark.range(0, 2000).select(col("id"),
      format_string("run-%05d", col("id") % 100).as("run_id"), (col("id") * 3).as("v"))
    def expected(runs: Seq[String]) =
      rows(df.filter(col("run_id").isin(runs: _*)))
    val few = Seq("run-00001", "run-00042", "run-00099")
    val fewDf = ManifestSink.filterRuns(df, few)
    assert(!formatted(fewDf).contains("Join"), formatted(fewDf))
    assert(rows(fewDf) == expected(few))
    val many = (0 to ManifestSink.IsinRunLimit).map(i => f"run-$i%05d")
    val manyDf = ManifestSink.filterRuns(df, many)
    val plan = formatted(manyDf)
    assert(plan.contains("LeftSemi") && plan.contains("BroadcastHashJoin"), plan)
    assert(manyDf.columns.toSeq == df.columns.toSeq)
    assert(rows(manyDf) == expected(many))
  }

  test("only Joins broadcasts a counted side; other broadcasts are allowlisted") {
    // sides bounded by a parameter, not by the corpus or the sink's history
    val allowed = Map(
      "graft/ops/Ann.scala" -> 2, // IVF centroids: nCentroids rows (assign, probe lists)
      "graft/ops/Ranks.scala" -> 1, // prefix offsets: one row per shuffle partition
      "graft/ops/Vocab.scala" -> 1, // remapChecksum rank table: the top-k rows
      "graft/util/Joins.scala" -> 1) // the keySide rule itself
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, s"no sources under $root")
    val counts = files.map { f =>
      root.relativize(f).toString ->
        java.nio.file.Files.readAllLines(f).asScala.count(_.contains("broadcast("))
    }.filter(_._2 > 0).toMap
    assert(counts == allowed, (counts.keySet ++ allowed.keySet).toSeq.sorted
      .map(f => s"$f: ${counts.getOrElse(f, 0)} found, ${allowed.getOrElse(f, 0)} allowed")
      .mkString("\n"))
  }
}
