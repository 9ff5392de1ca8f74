package graft

import org.apache.spark.sql.SparkSession

/** Session tuning the engine expects (documented in SURVEY §4).
  *
  * `InferFiltersFromGenerate` synthesizes `size(g)>0 AND isnotnull(g)`
  * from every explode; predicate pushdown then substitutes the
  * generator's FULL expression through the projections below and sinks
  * it to the scan side of any repartition. For cheap generators that
  * prunes rows early; for ours (shingle pipelines, minhash signatures —
  * hundreds of µs per row) it re-runs the whole sketch computation a
  * second time, single-threaded, below the fan-out exchange. Measured at
  * sf0.1 this DOUBLED dedup-family cost (a 3.5 s one-task filter stage
  * ahead of a 0.3 s 32-task compute stage). Excluding the rule removes
  * the recompute; the explode itself still drops empty-array rows, so
  * results are identical.
  */
object GraftConf {
  val ExcludedRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Session key for the row count up to which the iterative operators
    * broadcast a node-sized frame (`operators.Loops.bcOr`); above it they
    * hint `shuffle_hash`. The default, 4M rows, is ~100 MB of
    * (long, long) pairs. */
  val BroadcastNodeLimitKey = "spark.graft.broadcastNodeLimit"

  def broadcastNodeLimit(spark: SparkSession): Long =
    spark.conf.getOption(BroadcastNodeLimitKey).fold(4000000L)(_.toLong)
}
