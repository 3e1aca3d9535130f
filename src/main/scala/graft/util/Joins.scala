package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The ONE broadcast-or-shuffle rule for a join side whose row count the
  * caller has in hand (committed keys, todo keys, stratum cutoffs, probe
  * grams, run ids). Such sides grow with the corpus or the sink's history,
  * so a broadcast is only safe below a fixed row bound; past it the side
  * is pinned as the SHUFFLE_HASH build side. Never a sort-merge join: the
  * other side is typically the heavy one (token arrays, blobs, documents),
  * and an SMJ would sort it (the observed 4× pipeline regression).
  *
  * Keep every count-guarded join on this helper so the limit and the
  * fallback cannot diverge; JoinsSpec also fails if any other source file
  * calls `broadcast` outside its short allowlist of parameter-bounded
  * sides.
  */
object Joins {

  /** Rows at or below which a counted side is broadcast. */
  val BroadcastRows: Long = 1L << 20

  /** `side` hinted for a join: broadcast when `rows <= BroadcastRows`,
    * otherwise the SHUFFLE_HASH build side. `rows` is the caller's count
    * (or upper bound) of `side`'s rows.
    */
  def keySide(side: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastRows) broadcast(side) else side.hint("SHUFFLE_HASH")
}
