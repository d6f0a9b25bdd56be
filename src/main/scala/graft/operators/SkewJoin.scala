package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * When one join key dominates (a hot user, a default value), a plain
  * shuffle join sends that key's entire volume to one task. Salting
  * splits the left (large, skewed) side into `saltBuckets` sub-keys and
  * replicates the right side once per bucket, so the hot key spreads
  * over `saltBuckets` tasks. Cost: right side × saltBuckets (use for
  * moderate-size right sides — for tiny ones just `broadcast`; AQE's
  * skew-join handles many cases automatically, this is the explicit
  * fallback for when it can't, e.g. non-sort-merge plans or streaming).
  *
  * The salt is derived from a deterministic hash of the left row's other
  * columns, not a random number — re-execution of a failed task
  * reproduces the same assignment (important for exactly-once sinks).
  */
object SkewJoin {

  /** Supported join types: the right side is replicated `saltBuckets`
    * times, so any type that emits unmatched RIGHT rows (right/full
    * outer) would emit each of them once per salt bucket — wrong
    * results, not just wrong performance. Flip the inputs and use
    * left_outer instead. */
  private val SupportedJoinTypes =
    Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
      "left_anti", "leftanti")

  def saltedEquiJoin(left: DataFrame, right: DataFrame, key: String,
      saltBuckets: Int = 8, joinType: String = "inner"): DataFrame = {
    require(saltBuckets > 0)
    require(SupportedJoinTypes.contains(joinType.toLowerCase),
      s"saltedEquiJoin does not support join type '$joinType': the right side " +
        "is replicated per salt bucket, so right/full outer joins would " +
        "duplicate unmatched right rows; use left-side variants instead")
    val leftCols = left.columns
    // deterministic per-row salt: hash of the full row spreads even
    // identical rows (hash collisions only reduce spreading, never break
    // correctness)
    val salted = left.withColumn("__salt",
      pmod(hash(leftCols.toIndexedSeq.map(col): _*), lit(saltBuckets)))
    val replicated = right
      .withColumn("__salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    val joined = salted.join(replicated,
      salted(key) === replicated(key) && salted("__salt") === replicated("__salt"),
      joinType)
    val rightOut = right.columns.filterNot(_ == key).map(replicated(_))
    joined.select((leftCols.map(salted(_)) ++ rightOut).toIndexedSeq: _*)
  }
}
