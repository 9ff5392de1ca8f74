package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The idioms every driver-side round loop in [[Graph]] and [[Dedup]]
  * shares, written once.
  *
  * Why the loops need them: a round materializes its state with
  * `localCheckpoint`. The round itself runs under adaptive execution
  * (its executed plan is a final `AdaptiveSparkPlan` with AQE-coalesced
  * shuffle reads; plans/r18/gr_bfs_round_after.txt), but the
  * checkpointed frame reads back as a `Scan ExistingRDD` with
  * `UnknownPartitioning`, so the next round's join can reuse no
  * partitioning. Left un-hinted, every join against a node-sized round
  * frame planned as a sort-merge join that re-exchanged and re-sorted
  * the static edge frame each round (measured on gr_betweenness at
  * sf0.1: 7.8 s → 4.4 s once the frontier was broadcast). Hence:
  *
  *  - '''guard''' ([[bcOr]]): node-sized sides are hinted explicitly —
  *    broadcast while their MEASURED row count (a count the loop already
  *    pays for, or one counted checkpoint) is within the session's
  *    `spark.graft.broadcastNodeLimit` (graft.GraftConf, 4M rows by
  *    default), `shuffle_hash` above it, so a 1e9-node graph degrades to
  *    a shuffled join instead of a driver OOM. The hint changes the join
  *    strategy, never the rows.
  *  - '''frontier''' ([[frontier]]): level-synchronous expansion where
  *    only the frontier moves. Each round materializes its DELTA (the
  *    newly reached rows), counted by that same job; the settled set
  *    stays a lazy union of those checkpointed deltas, and the
  *    per-level counts are the guard's sizes for free.
  *  - '''counted checkpoint''' ([[checkpointCounted]]): a size that
  *    only hints a join or tests for zero is counted by the checkpoint's
  *    own job, as an observed `count(1)` at the plan root. There it sits
  *    in the result stage, so Spark applies it once per partition; an
  *    over-count from a retried stage could change neither a hint's rows
  *    nor a zero test. A count that feeds arithmetic (pageRank's `n`)
  *    and every [[fixpoint]] witness stay exact aggregate jobs.
  *  - '''fixpoint''' ([[fixpoint]]): one checkpoint per round (an
  *    uncut lineage nests per round and the plan grows without bound)
  *    and termination read off a MONOTONE scalar witness — an edge
  *    count, a sum of labels that only decrease — so an unchanged
  *    witness is a true fixpoint and the test is one scalar aggregate,
  *    not a join against the previous round.
  *
  * Non-convergence policy: a loop whose contract is "run to fixpoint"
  * throws `IllegalStateException` naming the operator and its cap when
  * [[fixpoint]] reports it unsettled; a loop whose round count is part
  * of its result (coreness's `maxIters`, bfs's `maxDepth`) returns the
  * capped answer by contract. */
private[graft] object Loops {

  /** Broadcast `df` when its measured row count `n` is within the
    * session's node limit, otherwise hint `shuffle_hash`. */
  def bcOr(df: DataFrame, n: Long): DataFrame =
    if (n <= graft.GraftConf.broadcastNodeLimit(df.sparkSession)) broadcast(df)
    else df.hint("shuffle_hash")

  /** Level-synchronous frontier expansion from `lvl0` (materialized and
    * counted here), at most `maxDepth` rounds, stopping early on an empty
    * frontier. Round `d` calls `expand(previous level, d)` with the
    * previous level guard-hinted; the helper drops every row whose `keys`
    * are already settled (a guard-hinted left_anti) and checkpoints the
    * result, counted by the same job. Returns every non-empty level with
    * its row count. */
  def frontier(lvl0: DataFrame, keys: Seq[String], maxDepth: Int)
              (expand: (DataFrame, Int) => DataFrame)
      : (IndexedSeq[DataFrame], IndexedSeq[Long]) = {
    val (first, n0) = checkpointCounted(lvl0)
    val levels = ArrayBuffer(first)
    val sizes = ArrayBuffer(n0)
    var settled = first.select(keys.map(col): _*)
    var settledSize = n0
    var depth = 0
    var n = n0
    while (depth < maxDepth && n > 0) {
      depth += 1
      val (next, nNext) = checkpointCounted(
        expand(bcOr(levels.last, sizes.last), depth)
          .join(bcOr(settled, settledSize), keys, "left_anti"))
      n = nNext
      if (n > 0) {
        levels += next
        sizes += n
        settled = settled.unionByName(next.select(keys.map(col): _*))
        settledSize += n
      }
    }
    (levels.toIndexedSeq, sizes.toIndexedSeq)
  }

  /** Checkpoint `df` eagerly and return it with its row count, counted
    * by the checkpoint's own job: a fresh [[Observation]] at the plan
    * root, so the count launches no second job over the checkpoint. */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val cp = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    (cp, obs.get("n").asInstanceOf[Long])
  }

  /** Iterate `step` from `init` (already materialized by the caller,
    * which usually derives static sizes from it), checkpointing each
    * round, until the monotone scalar `witness` repeats or `maxRounds`
    * rounds have run. Returns the last state and whether it settled. */
  def fixpoint[W](init: DataFrame, maxRounds: Int)(witness: DataFrame => W)
                 (step: DataFrame => DataFrame): (DataFrame, Boolean) = {
    var state = init
    var prev = witness(init)
    var settled = false
    var round = 0
    while (!settled && round < maxRounds) {
      state = step(state).localCheckpoint(true)
      val w = witness(state)
      settled = w == prev
      prev = w
      round += 1
    }
    (state, settled)
  }

  /** Exact decimal(38,0) sum of an integer column — the fixpoint witness
    * for label loops whose labels only decrease (no overflow at
    * billions of large ids). */
  def decimalSum(df: DataFrame, c: String): BigDecimal =
    BigDecimal(df.agg(coalesce(sum(col(c).cast("decimal(38,0)")),
      lit(java.math.BigDecimal.ZERO))).head().getDecimal(0))
}
