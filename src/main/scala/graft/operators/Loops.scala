package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The three idioms every driver-side round loop in [[Graph]] and
  * [[Dedup]] shares, written once.
  *
  * Why the loops need them: a round materializes its state with
  * `localCheckpoint`, which compiles the round through the `.rdd` route,
  * where adaptive execution never runs, and the checkpointed frame
  * carries no `outputPartitioning` the next round's join can reuse.
  * Left un-hinted, every join against a node-sized round frame therefore
  * planned as a sort-merge join that re-exchanged and re-sorted the
  * static edge frame each round (measured on gr_betweenness at sf0.1:
  * 7.8 s → 4.4 s once the frontier was broadcast). Hence:
  *
  *  - '''guard''' ([[bcOr]]): node-sized sides are hinted explicitly —
  *    broadcast while their MEASURED row count (a count the loop already
  *    pays for, or one count off a checkpoint) is within the session's
  *    `spark.graft.broadcastNodeLimit` (graft.GraftConf, 4M rows by
  *    default), `shuffle_hash` above it, so a 1e9-node graph degrades to
  *    a shuffled join instead of a driver OOM. The hint changes the join
  *    strategy, never the rows.
  *  - '''frontier''' ([[frontier]]): level-synchronous expansion where
  *    only the frontier moves. Each round materializes its DELTA (the
  *    newly reached rows) and counts it; the settled set stays a lazy
  *    union of those checkpointed deltas, and the per-level counts are
  *    the guard's sizes for free.
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
    * are already settled (a guard-hinted left_anti), checkpoints and
    * counts the result. Returns every non-empty level with its row
    * count. */
  def frontier(lvl0: DataFrame, keys: Seq[String], maxDepth: Int)
              (expand: (DataFrame, Int) => DataFrame)
      : (IndexedSeq[DataFrame], IndexedSeq[Long]) = {
    val levels = ArrayBuffer(lvl0.localCheckpoint(true))
    val sizes = ArrayBuffer(levels.head.count())
    var settled = levels.head.select(keys.map(col): _*)
    var settledSize = sizes.head
    var depth = 0
    var n = sizes.head
    while (depth < maxDepth && n > 0) {
      depth += 1
      val next = expand(bcOr(levels.last, sizes.last), depth)
        .join(bcOr(settled, settledSize), keys, "left_anti")
        .localCheckpoint(true)
      n = next.count()
      if (n > 0) {
        levels += next
        sizes += n
        settled = settled.unionByName(next.select(keys.map(col): _*))
        settledSize += n
      }
    }
    (levels.toIndexedSeq, sizes.toIndexedSeq)
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
