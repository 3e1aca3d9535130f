package graft

import graft.ops.Materialize
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The single materialization module of `graft.ops`: `release` frees the
  * blocks behind every kind of frame it hands out, and no other op file
  * stores a subtree on its own.
  */
class MaterializeSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  test("release frees the blocks behind eager, lazy and barrier frames") {
    val sc = spark.sparkContext
    val src = spark.range(0, 1000).selectExpr("id", "id % 7 AS k")
    for ((mode, mat) <- Seq[(String, DataFrame => DataFrame)](
        "eager" -> Materialize.eager, "lazily" -> Materialize.lazily,
        "barrier" -> Materialize.barrier)) {
      val before = sc.getPersistentRDDs.keySet
      val df = mat(src)
      assert(df.count() == 1000)
      assert((sc.getPersistentRDDs.keySet -- before).size == 1, mode)
      Materialize.release(df)
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty, mode)
    }
  }

  test("only Materialize stores or frees a subtree in graft.ops") {
    val dir = new java.io.File("src/main/scala/graft/ops")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".scala"))
    assert(files.exists(_.getName == "Materialize.scala"), s"no op sources under $dir")
    val calls = Seq("localCheckpoint(", ".persist(", ".unpersist(")
    val offenders = for {
      f <- files.toSeq if f.getName != "Materialize.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      c <- calls if line.contains(c)
    } yield s"${f.getName}:${i + 1}: $c"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
