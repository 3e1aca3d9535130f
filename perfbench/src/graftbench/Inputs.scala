package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A generated token table as the program sees it: a parquet table read
  * back from disk, plus what the benchmark knows about it for its checks.
  */
final case class TokenInput(df: DataFrame, docs: Long, tokens: Long,
    checksum: Long, fileBytes: Long, profileTokens: Seq[Long]) {
  def rawBytes: Long = tokens * 4
}

/** Seeded input generator owned by the benchmark. A seed-offset doc_id
  * range goes through the public `gen_tokens` kernel, so all six row
  * profiles (doc_id % 6) are present. Sources are Zipf-hot: "web" takes
  * 60% of the docs and carries the giant arrays (8192–20480 tokens, one
  * doc in 53).
  */
object Inputs {

  /** Keeps doc ids below 2^31, where every profile's arithmetic stays
    * inside i64 for any seed.
    */
  def docBase(seed: Long): Long = Math.floorMod(seed, 1000L) * 1000000L

  def tokens(spark: SparkSession, dir: String, seed: Long, docs: Long, files: Int): TokenInput = {
    graft.functions.GraftFunctions.register(spark)
    val path = s"$dir/tokens.parquet"
    spark.range(0L, docs, 1L, files)
      .select((col("id") + lit(docBase(seed))).as("doc_id"))
      .withColumn("u", pmod(xxhash64(col("doc_id"), lit(seed)), lit(100L)))
      // giant docs come in runs of six consecutive ids, one per profile, all
      // of one size: every profile gets the same giant tokens for any seed
      .withColumn("giant", (col("doc_id") / 6).cast("long") % 53 === 0)
      .withColumn("source",
        when(col("giant") || col("u") < 60, "web").when(col("u") < 75, "books")
          .when(col("u") < 85, "code").when(col("u") < 93, "wiki").otherwise("chat"))
      .withColumn("n_tok",
        when(col("giant"), lit(8192) + (col("doc_id") / 6).cast("long") % 13 * 1024)
          .otherwise(lit(16) + (col("doc_id") * 37) % 521).cast("int"))
      .withColumn("tokens", call_function("gen_tokens", col("doc_id"), col("n_tok").cast("long")))
      .select("doc_id", "source", "n_tok", "tokens")
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val aggs = Seq(count(lit(1)), sum(col("n_tok").cast("long")),
      sum(call_function("token_checksum", col("tokens")))) ++
      (0 until 6).map(p => coalesce(sum(when(col("doc_id") % 6 === p, col("n_tok").cast("long"))), lit(0L)))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    TokenInput(df, r.getLong(0), r.getLong(1), r.getLong(2), Files.bytes(path),
      (0 until 6).map(p => r.getLong(3 + p)))
  }
}

/** Filesystem helpers for sinks and inputs. */
object Files {
  import java.nio.file.{Files => F, Path, Paths}

  private def walk(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!F.exists(p)) Seq.empty
    else {
      val s = F.walk(p)
      try {
        val out = Seq.newBuilder[Path]
        s.forEach(x => if (F.isRegularFile(x)) out += x)
        out.result()
      } finally s.close()
    }
  }

  /** Data files (not Hadoop checksums or markers) under `root`. */
  def dataFiles(root: String): Seq[Path] = walk(root).filter { p =>
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def bytes(root: String): Long = dataFiles(root).map(p => F.size(p)).sum

  def delete(root: String): Unit = {
    val p = Paths.get(root)
    if (F.exists(p)) {
      val s = F.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => F.delete(x))
      finally s.close()
    }
  }
}
