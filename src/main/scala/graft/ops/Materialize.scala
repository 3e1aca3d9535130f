package graft.ops

import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one way an operator in `graft.ops` stores a subtree so later plan
  * references read blocks instead of re-running it.
  *
  * Every mode is a LOCAL checkpoint, never `Dataset.persist()`: persist
  * registers the PLAN in the session CacheManager, where an identical plan
  * built by a later bench rep or sibling query silently resolves to this
  * invocation's data — cross-invocation result reuse the bench contract
  * forbids (observed: bpe_apply hitting bpe_learn's cache via "Asked to
  * cache already cached data"). Checkpoint blocks are RDD-keyed: invisible
  * to every other plan. They are stored MEMORY_AND_DISK (spill, not drop,
  * under pressure) and a lost block fails the job instead of recomputing —
  * which is what [[Ranks]] needs for its range split to stay put.
  *
  * Blocks behind a frame the caller hands back stay live for the session:
  * the price of a lazily-consumable result. Blocks an op has superseded go
  * through [[release]], and only once nothing still to run reads them.
  */
private[graft] object Materialize {

  /** Runs `df` now and returns a frame over the stored blocks. */
  def eager(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Returns a frame whose blocks are stored by the first action that
    * reads it — that action doubles as the materialization, so no extra
    * job runs.
    */
  def lazily(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** [[eager]], and the returned frame carries no statistics of `df`.
    *
    * `Dataset.localCheckpoint` truncates the lineage but copies the origin
    * plan's `Statistics` into the new `LogicalRDD` (`originStats`). In an
    * iterative loop whose step joins the checkpointed frame with itself,
    * Catalyst's size-only join estimate MULTIPLIES the two children's
    * `sizeInBytes` (BigInt), so the carried estimate squares every round:
    * its bit-length doubles, and by round ~17 the driver main thread sits
    * in million-bit `BigInteger.multiplyToomCook3` for minutes per round
    * (jstack-verified on the 51.5k-doc stress graph; per-round wall time
    * grew a clean ×2.5/round from 0.14s to 88s while row counts stayed
    * constant). Rebuilding the frame from the checkpointed RDD through the
    * public `createDataFrame` path yields a LogicalRDD with NO origin
    * stats — each round's estimates then derive from constant leaf
    * defaults and stay a few machine words wide. The Row round-trip costs
    * one extra (de)serialization per consumer — linear and negligible
    * next to the shuffles an iterative step sits between. Iterative loops
    * (the CC rounds, BPE every [[Bpe.CheckpointEvery]] rounds, sampling's
    * widening) cut their lineage through this, never through [[eager]].
    */
  def barrier(df: DataFrame): DataFrame = {
    val cp = eager(df)
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** Frees the blocks behind a frame [[eager]], [[lazily]] or [[barrier]]
    * returned; a no-op on a frame whose plan root is not such a scan (a
    * projection over one, say). `Dataset.unpersist` cannot do this: the
    * blocks belong to the checkpointed RDD, which the CacheManager does
    * not track, and a barrier frame scans a Row-conversion RDD derived
    * from it — so the stored RDD is found by walking the one-to-one
    * lineage down to the first RDD with a storage level. Never call this
    * on blocks a still-lazy plan the caller returns or runs later reads:
    * local-checkpoint blocks are unrecoverable once dropped.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => stored(l.rdd).foreach(_.unpersist(blocking = false))
    case _ => ()
  }

  private def stored(rdd: RDD[_]): Option[RDD[_]] =
    if (rdd.getStorageLevel != StorageLevel.NONE) Some(rdd)
    else rdd.dependencies match {
      case Seq(d: OneToOneDependency[_]) => stored(d.rdd)
      case _ => None
    }
}
