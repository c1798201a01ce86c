package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling utilities (SURVEY §4).
  *
  * DECISION RULE (measured, round 13 — the Q40AqeProbe main, since
  * removed; SURVEY.md §4 records the rule — on sf10, one hot
  * partkey carrying 10% / 33% of a 60M-row lineitem, min-of-3 each):
  *
  *  1. FIRST RESORT: the plain join with AQE's skew splitter TUNED.
  *     AQE detects skew on COMPRESSED shuffle bytes, so the 256 MB
  *     default `skewedPartitionThresholdInBytes` hides a 20M-row
  *     straggler of narrow rows (~200 MB compressed): at 33%-hot the
  *     splitter never fired and the join ran 8.1 s. With the threshold
  *     sized to the data (32 MB, advisory 16 MB) the splitter acted and
  *     the same join ran 2.55 s — 3.2× — with zero code change.
  *  2. Salting is NOT a default: at salt=32 it cost ~2× on the 10%-hot
  *     tier (8.2 s vs 4.2 s plain — dimension replication plus a wider
  *     exchange) and only broke even at 33%-hot (8.6 s). It also defeats
  *     AQE's splitter on the salted exchange.
  *  3. Reach for [[saltedJoin]] only where AQE cannot act: stream-stream
  *     or stream-static joins (no runtime re-plan), a hot key that is
  *     skewed by FACTOR but under every workable byte threshold, or an
  *     engine/deployment with AQE disabled.
  *
  * The 10%-hot tier is also a non-event for the PLAIN join (4.2 s vs a
  * 4.0 s uniform baseline): below `skewedPartitionFactor`×median, skew
  * is absorbed by ordinary parallelism — don't mitigate what profiling
  * doesn't show.
  */
object Skew {
  /** Salted inner equi-join: the (small) `right` side is replicated once
    * per salt bucket; `left` rows pick a deterministic bucket from a
    * tiebreak column, so the hot key's rows fan out over `salt` tasks.
    * Result set is identical to `left.join(right, key)`. See the object
    * scaladoc for when this actually beats AQE (rarely — measured).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      tiebreak: String, salt: Int): DataFrame = {
    val l = left.withColumn("__salt", pmod(hash(col(tiebreak)), lit(salt)))
    val r = right.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }
}
