package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operators: slowly-changing-dimension history
  * and CDC changelog application — the DWH half of the reference's
  * datalake/DWH curriculum (the course's batch layers rebuild state
  * from full snapshots; a production warehouse ingests CHANGES).
  *
  * Both operators are pure DataFrame transforms with one narrow shuffle
  * on the dimension key:
  *   - scd2Build: two window frames over the SAME (key, order) spec —
  *     Catalyst plans a single exchange for the chain;
  *   - cdcApply: the changelog collapses to latest-per-key BEFORE
  *     touching the snapshot (WindowGroupLimit prunes map-side), and
  *     the collapsed frame is broadcast against the snapshot scan when
  *     small — a 100 TB snapshot is never shuffled for a day's worth
  *     of changes.
  */
object Dwh {

  /** Broadcast gate WITHOUT an action: Catalyst's size-in-bytes estimate
    * of the frame's optimized plan. A count()-based gate is eager at
    * plan-construction time and recomputes an uncached changelog lineage
    * twice (once counting, again in the joins); the estimate costs one
    * driver-side optimizer pass. It is byte-based, so a 4M-row frame
    * with a wide state column is gated by its actual width, and it errs
    * the safe way: an unknown/inflated estimate degrades to a shuffled
    * hash join (AQE may still promote it) rather than into a
    * driver-memory broadcast. */
  private def fitsBroadcast(df: DataFrame, byteLimit: Long): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(byteLimit)

  /** Build SCD Type-2 history from a change stream: one row per
    * (key, state) VERSION — opened when the observed state differs from
    * the previous observation, closed by the next version's open time.
    * `valid_to` is null on the current version (open-ended), flagged
    * `is_current`.
    *
    * Versions per key are bounded by the change count, not the
    * observation count: consecutive observations of the same state
    * collapse into their version's first row before the second window
    * runs. Both windows share the (key ORDER BY ts, ord) spec — one
    * exchange on the key for the whole chain. */
  def scd2Build(changes: DataFrame, key: String, state: String,
                ts: String, ord: String): DataFrame = {
    val byKey = Window.partitionBy(key).orderBy(ts, ord)
    val versions = changes
      .select(col(key), col(state), col(ts), col(ord))
      .withColumn("__prev", lag(col(state), 1).over(byKey))
      // a version opens where the state differs from the previous
      // observation (or at the first observation: lag is null and
      // state is not — the <=> below is false)
      .filter(!(col(state) <=> col("__prev")))
    versions
      .withColumn("valid_to", lead(col(ts), 1).over(byKey))
      .select(col(key), col(state),
        col(ts).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** SCD TYPE-4 view — current dimension + HISTORY TABLE, rolled into
    * the per-key read every type-4 consumer actually runs ("what is
    * the key NOW, and how much churn is behind it"): the current table
    * stays skinny (one type-1 row per key) while full version history
    * lives apart — here both derive from the ONE scd2Build version
    * chain (1 window pass, shared exchange) and the view reports, per
    * key, the current state plus the history-table profile
    * (version count, first-seen, last-change timestamps). Completes
    * the SCD family: 1 (dwh_cdc_apply), 2, 3, 6 (+ this 4). */
  def scd4View(changes: DataFrame, key: String, state: String,
               ts: String, ord: String): DataFrame =
    scd2Build(changes, key, state, ts, ord)
      // current = THE is_current version (exactly one per key) — a
      // max-by-valid_from would tie-break differently than the chain's
      // (ts, ord) order when two versions share a timestamp
      .groupBy(col(key))
      .agg(max(when(col("is_current"), col(state))).as("current_state"),
        count(lit(1)).as("n_versions"),
        min(col("valid_from")).as("first_seen"),
        max(col("valid_from")).as("last_changed"))

  /** SCD TYPE-3 view — "current + previous" attribute columns, the
    * report-friendly sibling of full SCD2 history (BI marts keep type 3
    * where only the last transition matters: plan migrations, owner
    * handoffs). Derived FROM the type-2 version chain, so "previous"
    * means the prior distinct VERSION, never the prior raw observation
    * (consecutive same-state rows collapsed first); keys still on their
    * first version surface prev_state = null. The lag window shares
    * scd2Build's (key, valid_from) exchange — no extra shuffle. */
  def scd3View(changes: DataFrame, key: String, state: String,
               ts: String, ord: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy("valid_from")
    scd2Build(changes, key, state, ts, ord)
      .withColumn("__prev_state", lag(col(state), 1).over(w))
      .filter(col("is_current"))
      .select(col(key), col(state).as("current_state"),
        col("__prev_state").as("prev_state"),
        col("valid_from").as("changed_at"))
  }

  /** SCD TYPE-6 view (1+2+3 hybrid) — full type-2 history where EVERY
    * version row also carries the key's CURRENT state as a
    * type-1-maintained column: the mart shape that lets one query
    * group historical facts by either the attribute as-of the fact OR
    * the attribute as-of today, without a second dimension join.
    * current_state propagates from the open version (is_current) to
    * all of the key's rows via a partition-only window max over the
    * single non-null flagged value — same key exchange [[scd2Build]]
    * already pays, no extra shuffle, no self-join. */
  def scd6View(changes: DataFrame, key: String, state: String,
               ts: String, ord: String): DataFrame = {
    val w = Window.partitionBy(key)
    scd2Build(changes, key, state, ts, ord)
      .withColumn("current_state",
        max(when(col("is_current"), col(state))).over(w))
      .select(col(key), col(state).as("hist_state"), col("valid_from"),
        col("valid_to"), col("is_current"), col("current_state"))
  }

  /** INCREMENTAL SCD2 maintenance: merge a batch of NEW observations
    * into an existing SCD2 table without rebuilding history. Only
    * touched keys are reworked: their OPEN versions re-enter the
    * version builder as synthetic observations together with the batch
    * (so an open version closes exactly when the batch's first
    * differing state opens, and stays open — original valid_from
    * preserved — when the batch repeats its state); closed versions and
    * untouched keys pass through by semi/anti joins against the
    * (broadcast) batch key set. Per-batch cost is proportional to the
    * batch + its keys' open rows, never to history size.
    *
    * Observations at-or-before a key's open-version start are DROPPED
    * (the `ts > open valid_from` guard): new data is append-only in
    * event time by contract, and the guard makes at-least-once replay
    * idempotent — re-applying an already-applied batch re-emits the
    * table unchanged (spec-asserted). Equivalence is also spec-locked:
    * scd2Apply(scd2Build(early), late) == scd2Build(early ∪ late). */
  def scd2Apply(existing: DataFrame, changes: DataFrame, key: String,
                state: String, ts: String, ord: String,
                broadcastByteLimit: Long = 256L << 20): DataFrame = {
    // ESTIMATED broadcast decision: the batch is the small side by
    // design, but "a day of changes" can still be arbitrarily large —
    // the pruned changelog's plan-stats byte estimate gates the hint
    // without executing anything; past the limit the joins run as
    // shuffled hash joins instead of a driver-memory broadcast. The
    // frames actually broadcast (key set, open valid_from map) are
    // projections of this estimate's columns, so it bounds them.
    val bcOk = fitsBroadcast(
      changes.select(col(key), col(state), col(ts), col(ord)),
      broadcastByteLimit)
    def bc(df: DataFrame): DataFrame = if (bcOk) broadcast(df) else df
    val batchKeys = changes.select(col(key)).distinct()
    val touched = existing.join(bc(batchKeys), Seq(key), "left_semi")
    val untouched = existing.join(bc(batchKeys), Seq(key), "left_anti")
    val open = touched.filter(col("is_current"))
    // the open version replayed as the oldest observation of the rebuild
    // (ord -1 sorts it before any batch row at the same timestamp)
    val openObs = open.select(col(key), col(state),
      col("valid_from").as(ts), lit(-1L).as(ord))
    val freshChanges = changes
      .select(col(key), col(state), col(ts), col(ord))
      .join(bc(open.select(col(key), col("valid_from"))), Seq(key), "left")
      .filter(col("valid_from").isNull || col(ts) > col("valid_from"))
      .drop("valid_from")
    val rebuilt = scd2Build(openObs.unionByName(freshChanges),
      key, state, ts, ord)
    untouched
      .unionByName(touched.filter(!col("is_current")))
      .unionByName(rebuilt)
  }

  /** Apply a CDC changelog to a dimension snapshot: the LATEST change
    * per key wins (order by ts, tiebreak ord); a final 'D' deletes the
    * key, 'I'/'U' upsert `newState`; untouched snapshot keys pass
    * through. Output is the post-apply dimension: (key, state).
    *
    * Scale shape: latest-per-key runs on the changelog only (row_number
    * + rn=1 — Spark turns the filter into a map-side WindowGroupLimit,
    * so hot keys prune before the shuffle). The snapshot is then
    * LEFT-joined against the collapsed changelog — one small-side
    * (broadcastable) join plus a union of the inserts, never a shuffle
    * of the snapshot itself. */
  def cdcApply(snapshot: DataFrame, changes: DataFrame,
               key: String, snapshotState: String,
               op: String, newState: String,
               ts: String, ord: String,
               broadcastByteLimit: Long = 256L << 20): DataFrame = {
    // same estimated gate as scd2Apply, on the columns the broadcast
    // frame (`latest`) actually carries — including the arbitrary-width
    // `__new` state payload, so a wide changelog is gated by its bytes,
    // not its row count; a backfill-sized changelog must not be forced
    // through a driver-memory broadcast.
    val bcOk = fitsBroadcast(
      changes.select(col(key), col(op), col(newState), col(ts), col(ord)),
      broadcastByteLimit)
    def bc(df: DataFrame): DataFrame = if (bcOk) broadcast(df) else df
    val byKeyDesc = Window.partitionBy(key).orderBy(desc(ts), desc(ord))
    val latest = changes
      .select(col(key), col(op), col(newState), col(ts), col(ord))
      .withColumn("__rn", row_number().over(byKeyDesc))
      .filter(col("__rn") === 1)
      .select(col(key), col(op), col(newState).as("__new"))
    val applied = snapshot
      .select(col(key), col(snapshotState).as("state"))
      .join(bc(latest), Seq(key), "left")
      .filter(!(col(op) <=> lit("D")))
      .select(col(key), coalesce(col("__new"), col("state")).as("state"))
    // inserts: keys present in the changelog but not the snapshot
    val inserts = bc(latest)
      .filter(col(op) =!= "D")
      .join(snapshot.select(col(key)), Seq(key), "left_anti")
      .select(col(key), col("__new").as("state"))
    applied.unionByName(inserts)
  }

  /** Derive a CDC changelog from two dimension snapshots — the INVERSE
    * of cdcApply, for sources that only publish full snapshots (the
    * reference's batch layers rebuild state from snapshots; diffing two
    * of them recovers the change stream a warehouse actually wants):
    * 'I' for keys only in `newSnap`, 'D' for keys only in `old`, 'U'
    * where the state differs; unchanged keys emit NOTHING, so the
    * changelog is proportional to the churn, not the dimension.
    * cdcApply(old, snapshotDiff(old, new)) reproduces `new` exactly
    * (spec-locked roundtrip).
    *
    * Scale shape: one full-outer shuffle join on the key — no windows,
    * no driver state; AQE broadcasts a small snapshot side. */
  def snapshotDiff(old: DataFrame, newSnap: DataFrame,
                   key: String, state: String): DataFrame = {
    // presence markers, NOT state nullness: a present key with a null
    // state must not read as absent
    val o = old.select(col(key), col(state).as("__old"), lit(true).as("__in_old"))
    val n = newSnap.select(col(key), col(state).as("__new"), lit(true).as("__in_new"))
    o.join(n, Seq(key), "full_outer")
      .withColumn("op",
        when(col("__in_old").isNull, "I")
          .when(col("__in_new").isNull, "D")
          .when(!(col("__old") <=> col("__new")), "U"))
      .filter(col("op").isNotNull)
      .select(col(key), col("op"), col("__new").as("new_state"))
  }

  /** Surrogate-key assignment for incoming dimension members: natural
    * keys not yet in `dim` get dense keys continuing from max(sk) —
    * deterministic (same input → same keys, no RNG, no
    * monotonically_increasing_id, whose values depend on the partition
    * layout), so a replayed batch re-derives identical assignments.
    *
    * Scale shape: the global dense numbering is the striped two-pass
    * prefix sum (pipe_pack's shape) — new keys stripe by an md5 nibble,
    * each stripe numbers its rows in parallel (row_number per stripe),
    * and only the 16-row stripe-count frame pays a single-partition
    * window before broadcasting back as offsets. No single-partition
    * pass ever sees the data; max(sk) rides as a 1-row broadcast, not a
    * driver action. The churn-sized anti-join is the only key shuffle.
    *
    * Output: (natKey, skCol) for the NEW members only; callers union
    * with the existing dim. */
  def assignSurrogates(dim: DataFrame, incoming: DataFrame,
                       natKey: String, skCol: String): DataFrame = {
    val newNats = incoming.select(natKey).distinct()
      .join(dim.select(natKey), Seq(natKey), "left_anti")
      .withColumn("stripe",
        conv(substring(md5(col(natKey).cast("string")), 1, 1), 16, 10)
          .cast("int"))
    val offsets = newNats.groupBy("stripe").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum("c").over(Window.orderBy("stripe")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("stripe", "off")
    val maxSk = dim.agg(coalesce(max(col(skCol)), lit(0L)).as("__max_sk"))
    val rn = row_number()
      .over(Window.partitionBy("stripe").orderBy(natKey))
    newNats.withColumn("rn", rn)
      .join(broadcast(offsets), Seq("stripe"))
      .crossJoin(broadcast(maxSk))
      .select(col(natKey),
        (col("__max_sk") + col("off") + col("rn")).cast("long").as(skCol))
  }

  /** POINT-IN-TIME dimension join: each fact row picks the SCD2 version
    * valid at its timestamp — [valid_from, valid_to) semantics, the
    * no-future-leakage join every feature pipeline and historical
    * report needs against a versioned dimension.
    *
    * NOT a range join: because versions tile time per key (each
    * valid_to is the next valid_from), "the version covering ts" ≡ "the
    * latest version opening at-or-before ts" — exactly the as-of
    * composition (AsOfJoin.asof): tag facts and version-opens, union,
    * ONE window over (key, ts) — a single key shuffle, linear scan, no
    * inequality-join explosion, and a fact at a version boundary lands
    * in the NEWER version (ties order the dimension row first). Dim
    * payload comes back in the `matched` struct; facts before a key's
    * first version keep matched = null. */
  def pitJoin(facts: DataFrame, dim: DataFrame, key: String,
              ts: String): DataFrame = {
    val payload = dim.columns.filterNot(c => c == key || c == "valid_from").toSeq
    val right = dim.select(
      (col(key) +: col("valid_from").as(ts) +: payload.map(col)): _*)
    AsOfJoin.asof(facts, right, key, ts)
  }

  /** Incremental materialized-view refresh for ADDITIVE aggregates
    * (sum/count — avg et al. decompose into these): merge the standing
    * view with the delta batch's partial aggregate instead of
    * rescanning the base table. refreshed = γ(view ∪ γ(delta)) — the
    * mergeable-partial-aggregate algebra Spark itself uses map-side,
    * lifted to the warehouse refresh cadence: cost scales with |delta|
    * + |view|, never with the base table. The contract query proves
    * refresh ≡ full recompute against the DuckDB oracle. */
  /** Targeted erasure ("right to be forgotten") over a partitioned
    * lake: remove EVERY row whose `keyCol` is in `keys`, rewriting ONLY
    * the partitions that contain a hit. The scan to FIND hits reads
    * key + partition columns only (column pruning keeps it narrow);
    * the REWRITE is partition-pruned to the hit set via dynamic
    * overwrite — on a 100 TB lake where one user's rows live in a few
    * day partitions, untouched partitions keep their files
    * byte-identical (spec asserts this via file listings). The key set
    * joins as a broadcast-able anti join; idempotent by construction
    * (a second run finds no hits and rewrites nothing). Returns the
    * per-partition accounting frame (partition values, rows_removed)
    * — the audit record an erasure request must produce. */
  def forgetKeys(spark: org.apache.spark.sql.SparkSession, path: String,
                 keys: DataFrame, keyCol: String,
                 partitionCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty, "forgetKeys needs a partitioned lake")
    val lake = spark.read.parquet(path)
    // one narrow pre-scan: per-partition total + hit counts (key and
    // partition columns only — the payload never moves for the audit)
    val hitParts = lake.select((keyCol +: partitionCols).map(col): _*)
      .join(broadcast(keys.select(col(keyCol)).distinct()
        .withColumn("__hit", lit(1))), Seq(keyCol), "left")
      .groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("__total"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L))
          .as("rows_removed"))
      .filter(col("rows_removed") > 0)
      .localCheckpoint(true)
    // survivors exist → rewrite of exactly those partitions: the scan
    // is pruned to them, and dynamic overwrite swaps their directories
    // only at job commit, after every task reading the old files is done
    val partial = hitParts.filter(col("rows_removed") < col("__total"))
      .select(partitionCols.map(col): _*).collect()
    if (partial.nonEmpty)
      graft.sources.Lake.inPartitions(lake, partitionCols, partial.toSeq)
        .join(broadcast(keys.select(col(keyCol))), Seq(keyCol), "left_anti")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCols: _*)
        .parquet(path)
    // fully-emptied partitions write NO rows, so dynamic overwrite
    // would leave their old files — delete those directories explicitly
    // (bounded by the hit-partition count: a justified driver action)
    val emptied = hitParts.filter(col("rows_removed") === col("__total"))
      .select(partitionCols.map(col): _*).collect()
    if (emptied.nonEmpty) {
      val base = new org.apache.hadoop.fs.Path(path)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { r =>
        val rel = partitionCols.zipWithIndex
          .map { case (c, i) => s"$c=${r.get(i)}" }.mkString("/")
        fs.delete(new org.apache.hadoop.fs.Path(base, rel), true)
      }
    }
    hitParts.drop("__total")
  }

  /** Partition retention sweep — the lake lifecycle job: drop every
    * partition strictly OLDER than `keepFrom`, touching nothing else.
    * The audit count scans ONLY the doomed partitions (partition
    * pruning on the filter); surviving partitions are never read and
    * keep their files byte-identical. Directory deletes are bounded by
    * the dropped-partition count (driver FS calls, not a data job).
    * Returns the (partition, rows_dropped) audit frame. Idempotent:
    * a second sweep finds nothing below the cutoff. */
  def retentionSweep(spark: org.apache.spark.sql.SparkSession,
                     path: String, partitionCol: String,
                     keepFrom: String): DataFrame = {
    val lake = spark.read.parquet(path)
    val doomed = lake.filter(col(partitionCol) < lit(keepFrom))
      .groupBy(col(partitionCol))
      .agg(count(lit(1)).as("rows_dropped"))
      .localCheckpoint(true)
    val parts = doomed.select(col(partitionCol).cast("string")).collect()
    if (parts.nonEmpty) {
      val base = new org.apache.hadoop.fs.Path(path)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      parts.foreach { r =>
        fs.delete(new org.apache.hadoop.fs.Path(base,
          s"$partitionCol=${r.getString(0)}"), true)
      }
    }
    doomed
  }

  def mvRefresh(view: DataFrame, delta: DataFrame,
                keys: Seq[String], addCols: Seq[String]): DataFrame = {
    val merged = view.select((keys ++ addCols).map(col): _*)
      .unionByName(delta.select((keys ++ addCols).map(col): _*))
    val aggs = addCols.map(c => sum(c).as(c))
    merged.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** ACCUMULATING SNAPSHOT fact — Kimball pattern #3 (one row per
    * process instance whose milestone columns FILL IN as lifecycle
    * events arrive; the order-fulfillment / claim-processing shape that
    * neither a transaction fact nor a periodic snapshot can answer
    * "how long between stages" from): per user, the FIRST time each
    * milestone event type occurred, plus the stage-gap durations. One
    * conditional-min partial-agg pass; milestones that haven't
    * happened stay null (never a fabricated date); durations only
    * materialize once both ends exist. */
  def accumulatingSnapshot(events: DataFrame,
      milestones: Seq[String] = Seq("signup", "click", "purchase"))
      : DataFrame = {
    val firsts = milestones.map(m =>
      min(when(col("event_type") === m, unix_micros(col("ts"))))
        .as(s"${m}_us"))
    val base = events.filter(col("event_type").isin(milestones: _*))
      .groupBy("user_id")
      .agg(firsts.head, firsts.tail: _*)
    val gaps = milestones.sliding(2).map { case Seq(a, b) =>
      round((col(s"${b}_us") - col(s"${a}_us")) / 86400e6, 4)
        .as(s"days_${a}_to_$b")
    }.toSeq
    base.select(col("user_id") +:
      milestones.map(m => col(s"${m}_us")) ++: gaps: _*)
  }

  /** Incremental apply for [[accumulatingSnapshot]]: merge a NEW batch
    * of lifecycle events into the existing snapshot — first-touch
    * milestones merge with `least` (an earlier event in the batch can
    * backfill, a later one never overwrites), so apply is idempotent
    * and order-insensitive across batches (spec: incremental ≡ full
    * rebuild). Full-outer on the key: batch-only users append. */
  def accumulatingApply(existing: DataFrame, batch: DataFrame,
      milestones: Seq[String] = Seq("signup", "click", "purchase"))
      : DataFrame = {
    val inc = accumulatingSnapshot(batch, milestones)
      .select(col("user_id").as("__k") +:
        milestones.map(m => col(s"${m}_us").as(s"__${m}_us")): _*)
    val merged = existing
      .select(col("user_id") +: milestones.map(m => col(s"${m}_us")): _*)
      .join(inc, col("user_id") === col("__k"), "full_outer")
      .select(coalesce(col("user_id"), col("__k")).as("user_id") +:
        milestones.map(m =>
          least(col(s"${m}_us"), col(s"__${m}_us")).as(s"${m}_us")): _*)
    val gaps = milestones.sliding(2).map { case Seq(a, b) =>
      round((col(s"${b}_us") - col(s"${a}_us")) / 86400e6, 4)
        .as(s"days_${a}_to_$b")
    }.toSeq
    merged.select(col("user_id") +:
      milestones.map(m => col(s"${m}_us")) ++: gaps: _*)
  }

  /** MULTIVALUED-DIMENSION BRIDGE with allocation weights — the last
    * classic Kimball shape ([[scd2Build]], [[accumulatingSnapshot]],
    * [[semiAdditiveBalance]]'s sibling): an order touches MANY parts,
    * so joining facts straight to the dimension DOUBLE-COUNTS revenue
    * once per part; the bridge carries weight 1/parts-per-order and the
    * allocated measure sums back to the true total EXACTLY (the
    * conservation invariant this operator exists for, asserted in the
    * spec and visible in the contract output's grand total).
    *
    * Exactness: allocation is cents·1/n — done as DECIMAL cents × the
    * exact per-order count, divided ONCE at the end per group (sum of
    * cents/n as double would drift; Σ(cents·w) regrouped per n is
    * integer-exact). One bridge-sized shuffle (the fact⋈bridge join is
    * the same fact⋈fact the schema already pays for q12), group-sized
    * output. */
  def bridgeAllocation(orders: DataFrame, lineitem: DataFrame,
                       part: DataFrame): DataFrame = {
    val bridge = lineitem.select("l_orderkey", "l_partkey").distinct()
      .withColumn("n_parts",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("l_orderkey")))
    val facts = orders.select(col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("decimal(18,0)").as("cents"))
    val mfg = part.select(col("p_partkey"), col("p_brand"))
    facts.join(bridge, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(mfg), col("l_partkey") === col("p_partkey"))
      // group by BOTH mfgr and the order's n_parts: cents·1 sums stay
      // decimal-exact per n, one double division per (group, n) slice
      .groupBy(col("p_brand"), col("n_parts"))
      .agg(sum(col("cents")).as("c"))
      .groupBy("p_brand")
      // floor convention (Exact.scala): cents/n_parts is a small-
      // denominator rational — exact 2dp halves whenever n_parts | 2·10⁴
      .agg((floor(sum(col("c").cast("double") / col("n_parts")) + 0.5)
        / 100.0).as("allocated_revenue"))
  }

  /** SEMI-ADDITIVE measure rollup — the balance-style fact you may sum
    * ACROSS accounts but never across TIME (the classic DWH trap: a
    * month's "total balance" is the sum of each account's LAST balance
    * in the month, not the sum of every observation): last observation
    * per (key, period) via max(struct(ts, value)) — one partial-agg
    * pass, no window sort — then the cross-account sum per period.
    * Values compare on the rounded cent grid so both engines pick
    * identical last-balances under timestamp ties. */
  def semiAdditiveBalance(events: DataFrame): DataFrame = {
    val lastPer = events
      .groupBy(col("user_id"),
        date_trunc("month", col("ts")).cast("date").as("month"))
      .agg(max(struct(unix_micros(col("ts")).as("__t"),
        round(col("value") * 100).cast("long").as("__c")))
        .getField("__c").as("cents"))
    lastPer.groupBy("month")
      .agg(count(lit(1)).as("n_accounts"),
        round(sum(col("cents")) / 100.0, 2).as("total_balance"),
        round(avg(col("cents")) / 100.0, 4).as("avg_balance"))
  }

  /** LATE-ARRIVING DIMENSION handling — the load-order race every
    * nightly warehouse hits: a fact references a dimension key the dim
    * load hasn't delivered yet. The Kimball answer is an INFERRED
    * MEMBER: load the fact against a placeholder row (key known,
    * attributes unknown) so referential integrity never blocks the fact
    * pipeline, then type-1-overwrite the placeholder when the real row
    * arrives — facts are never re-keyed or re-loaded.
    *
    * This operator reports the resolution ledger: every key the facts
    * reference, classed `on_time` (in the dim at fact-load time),
    * `resolved` (inferred then healed by `lateDim`), or `inferred_only`
    * (still a placeholder), with the fact count and exact-cents revenue
    * riding on each class — the "how much money sits on placeholder
    * members" number an operator actually pages on.
    *
    * Scale: facts collapse to one row per referenced key FIRST (one
    * map-side-combined shuffle on the fact key — the same exchange any
    * fact⋈dim join pays); both dim sides then join key-to-key,
    * broadcast when their key projection fits ([[fitsBroadcast]] on
    * the one-column plan), shuffled hash join otherwise. Nothing ever
    * touches the fact table twice. */
  def lateArrivingDim(facts: DataFrame, factKey: String, measure: String,
                      dim: DataFrame, dimKey: String,
                      lateDim: DataFrame,
                      broadcastLimit: Long = 64L << 20): DataFrame = {
    val perKey = facts.groupBy(col(factKey).as("member_key"))
      .agg(count(lit(1)).as("n_facts"),
        sum(round(col(measure) * 100).cast("decimal(18,0)"))
          .as("cents"))
    def keySide(d: DataFrame, as: String): DataFrame = {
      val k = d.select(col(dimKey).as(as)).distinct()
      if (fitsBroadcast(k, broadcastLimit)) broadcast(k) else k
    }
    perKey
      .join(keySide(dim, "__on_time"),
        col("member_key") === col("__on_time"), "left")
      .join(keySide(lateDim, "__late"),
        col("member_key") === col("__late"), "left")
      .withColumn("status",
        when(col("__on_time").isNotNull, lit("on_time"))
          .when(col("__late").isNotNull, lit("resolved"))
          .otherwise(lit("inferred_only")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_facts")).as("n_facts"),
        round(sum(col("cents")).cast("double") / 100.0, 2).as("revenue"))
  }

  /** DRILL-ACROSS over a conformed dimension — the multi-fact query
    * Kimball architectures exist to serve: two fact tables at different
    * grains (orders revenue, event engagement) agree only on a
    * CONFORMED dimension (the customer), so each fact aggregates to
    * that grain SEPARATELY and the summaries full-outer-merge on the
    * conformed key. Joining fact to fact at row grain is the classic
    * fan-out trap (every order row × every event row of a customer);
    * drill-across never does it.
    *
    * Scale: each side is one map-side-combined shuffle to the
    * conformed grain; the merge joins two already-tiny summaries (one
    * row per dimension member, not per fact). Members present on one
    * side only survive with zeroed measures from the other — the
    * outer-coalesced grain IS the point. */
  def drillAcross(orders: DataFrame, events: DataFrame): DataFrame = {
    val revenue = orders.groupBy(col("o_custkey").as("k1"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("decimal(18,0)"))
          .as("cents"))
    val engagement = events.groupBy(col("user_id").as("k2"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("decimal(18,0)"))
          .as("vcents"))
    revenue.join(engagement, col("k1") === col("k2"), "full_outer")
      .select(coalesce(col("k1"), col("k2")).as("cust_key"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        round(coalesce(col("cents"), lit(0)).cast("double") / 100.0, 2)
          .as("revenue"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        round(coalesce(col("vcents"), lit(0)).cast("double") / 100.0, 2)
          .as("engagement"))
  }

  /** JUNK DIMENSION extraction (Kimball) — the low-cardinality flag
    * soup (status × priority here) pulled out of the fact into ONE
    * compact dimension with a deterministic surrogate: junk_key =
    * dense_rank over the attribute total order, so the same combo set
    * always mints the same keys on any cluster (the growth caveat —
    * NEW combos appearing later would shift dense ranks — is the
    * documented reason production assigns via [[assignSurrogates]]'s
    * max+row_number append; this surface is the build-from-scratch).
    * Output: the dimension WITH usage stats (n_facts, fact share) —
    * the audit view that decides which combos are real vs dirty data.
    * One partial-agg pass to the combos-sized frame; the rank window
    * runs on ≤ |status|·|priority| rows. */
  def junkDimension(orders: DataFrame): DataFrame = {
    val combos = orders.groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_facts"))
    val w = Window.orderBy("o_orderstatus", "o_orderpriority")
    combos
      .withColumn("junk_key", dense_rank().over(w))
      .crossJoin(broadcast(combos.agg(sum("n_facts").as("nt"))))
      .select(col("junk_key"), col("o_orderstatus"),
        col("o_orderpriority"), col("n_facts"),
        round(col("n_facts").cast("double") / col("nt"), 6)
          .as("fact_share"))
  }

  /** FACTLESS-FACT coverage gap — the "what did NOT happen" query the
    * factless coverage table exists for (Kimball's classic): every
    * (market segment, order month) cell in the coverage cross-product
    * with NO orders from that segment's customers that month. The
    * segment and month dimensions are tiny (distinct rollups of their
    * own sides); the cross-product is dims², never fact-sized; the
    * fact side collapses to its distinct (segment, month) footprint in
    * one partial-agg pass before the anti-join — so the answer costs
    * two dim scans + one fact footprint, not a fact×dim join. */
  def factlessCoverage(orders: DataFrame, customer: DataFrame)
      : DataFrame = {
    val segs = customer.select(col("c_mktsegment").as("segment"))
      .distinct()
    val months = orders
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .distinct()
    val covered = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .distinct()
    segs.crossJoin(months)
      .join(covered, Seq("segment", "month"), "left_anti")
      .select(col("segment"), col("month"))
  }

  /** PERIODIC-SNAPSHOT fact build (Kimball's third fact grain, next to
    * the transaction facts everywhere else and dwh_accumulating's
    * lifecycle rows): one row per (month, segment) with the period's
    * activity AND the running to-date totals a snapshot grain exists to
    * serve ("how did the book look at each month end" without
    * re-scanning history per question). Revenue stays exact-integer
    * cents until the final display division; the cumulative window runs
    * per segment over the months frame (report-sized — documented). */
  def periodicSnapshot(orders: DataFrame, customer: DataFrame)
      : DataFrame = {
    val w = Window.partitionBy("segment").orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .select(col("segment"), col("month"), col("n_orders"),
        sum("n_orders").over(w).as("cum_orders"),
        round(col("cents") / lit(100.0), 2).as("revenue"),
        round(sum("cents").over(w) / lit(100.0), 2).as("cum_revenue"))
  }

  /** ROLE-PLAYING date dimension (Kimball) — ONE calendar dimension
    * joined in two roles (order date vs ship date), the pattern that
    * keeps a warehouse from minting N copies of the date dim: the fact
    * grain here is (order-month role, ship-month role) with exact
    * integer-cents revenue, answering "of what was ORDERED in month X,
    * when did it SHIP" — the lag matrix a single-date rollup cannot
    * express. One fact-sized equi-join (orders is the smaller side —
    * AQE broadcasts it under threshold) + one partial-agg rollup to
    * the months² frame; months are derived columns of each role, no
    * physical date-dim copy exists. */
  def rolePlayingDates(lineitem: DataFrame, orders: DataFrame)
      : DataFrame =
    lineitem.join(orders,
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM")
          .as("order_month"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
      .select(col("order_month"), col("ship_month"), col("n_items"),
        round(col("cents") / lit(100.0), 2).as("revenue"))

  /** MINI-DIMENSION extraction (Kimball) — [[junkDimension]]'s sibling
    * for the FAST-CHANGING attributes of a big dimension: rather than
    * versioning the whole customer row on every balance move (SCD2
    * bloat), the volatile attributes (balance BAND × segment here)
    * split into their own compact dimension; the base row then carries
    * just a mini_key that flips between existing members — type-4's
    * answer to attribute churn. Deterministic surrogate = dense_rank
    * over the attribute total order (same caveat + production
    * alternative as junkDimension). Output: the mini-dimension with
    * membership stats and the smallest mapped custkey as an audit
    * witness. One partial-agg pass to the bands×segments frame; the
    * rank window runs on that parameter-sized frame only. */
  def miniDimension(customer: DataFrame): DataFrame = {
    val members = customer
      .groupBy(floor(col("c_acctbal") / 1000).cast("int")
          .as("balance_band"),
        col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_members"),
        min("c_custkey").as("first_custkey"))
    val w = Window.orderBy("balance_band", "segment")
    members
      .withColumn("mini_key", dense_rank().over(w))
      .crossJoin(broadcast(members.agg(sum("n_members").as("nt"))))
      .select(col("mini_key"), col("balance_band"), col("segment"),
        col("n_members"), col("first_custkey"),
        round(col("n_members").cast("double") / col("nt"), 6)
          .as("member_share"))
  }

  // --------------------------------------------------------------------
  // DATA VAULT 2.0 raw-vault load — the modeling school the course's
  // Kimball-star material contrasts against (Linstedt): hubs hold ONLY
  // distinct business keys, links only distinct relationships, and
  // satellites all describing attributes keyed by hash + hashdiff.
  // Hash keys are md5 over the canonical business-key string, so the
  // load is deterministic, idempotent (re-loading the same batch
  // inserts nothing — every builder ends in a distinct on its hash),
  // and massively parallel: each structure is one hash-aggregation on
  // its own key, no structure ever joins another during load — the
  // property that lets a 1000-executor cluster load hubs, links, and
  // satellites concurrently from the same staged scan at 100 TB.
  // --------------------------------------------------------------------

  /** Canonical business-key string: exact-integer keys render without
    * engine-specific float formatting (money is canonicalized to cents
    * BEFORE entering any hashdiff). */
  private def bkStr(c: Column): Column = c.cast("long").cast("string")

  /** HUB: one row per distinct business key. `hk` = md5(bk) — the join
    * key every satellite and link uses, computed identically by any
    * engine that can md5 a UTF-8 string (the vault survives engine
    * migration, which is why DV2 prescribes deterministic hashes over
    * sequence surrogates). */
  def vaultHub(src: DataFrame, bk: Column, source: String): DataFrame =
    src.select(bkStr(bk).as("business_key")).distinct()
      .select(md5(col("business_key").cast("binary")).as("hk"),
        col("business_key"), lit(source).as("record_source"))

  /** LINK: one row per distinct relationship instance. The link hash
    * key is md5 over the pipe-joined ORDERED business keys, and the
    * member hub keys ride along so graph traversal never recomputes a
    * hash. */
  def vaultLink(src: DataFrame, bk1: Column, bk2: Column,
                source: String): DataFrame =
    src.select(bkStr(bk1).as("bk1"), bkStr(bk2).as("bk2")).distinct()
      .select(
        md5(concat_ws("|", col("bk1"), col("bk2")).cast("binary"))
          .as("lhk"),
        md5(col("bk1").cast("binary")).as("hk1"),
        md5(col("bk2").cast("binary")).as("hk2"),
        lit(source).as("record_source"))

  /** SATELLITE: describing attributes keyed by (hk, hashdiff), where
    * hashdiff = md5 over the pipe-joined canonical attribute strings.
    * A re-delivered unchanged row collapses into the existing version
    * (distinct on the pair); a changed attribute lands as a NEW
    * version under the same hk — CDC for free, no before-image needed.
    * Attribute canonicalization is the caller's contract (money in
    * cents, dates ISO) so the hashdiff never depends on an engine's
    * float printer. */
  def vaultSatellite(src: DataFrame, bk: Column, attrs: Seq[Column])
      : DataFrame = {
    val canon = attrs.map(_.cast("string"))
    src.select(bkStr(bk).as("business_key"),
        md5(concat_ws("|", canon: _*).cast("binary")).as("hashdiff"),
        concat_ws("|", canon: _*).as("payload"))
      .distinct()
      .select(md5(col("business_key").cast("binary")).as("hk"),
        col("hashdiff"), col("payload"))
  }

  /** The raw-vault LOAD AUDIT over the order-to-customer subject area —
    * the per-structure verification report a vault load emits (row
    * counts, distinct hash keys, and the lexicographic hk range as a
    * cheap content witness): hub_customer + hub_order + the
    * order-customer link + sat_order (status, cents, priority).
    * Four independent hash-aggregations off two staged scans; nothing
    * here is data-order-dependent, so the report is byte-stable across
    * loads and engines. */
  def dataVaultLoad(orders: DataFrame, customer: DataFrame): DataFrame = {
    val hubC = vaultHub(customer, col("c_custkey"), "customer")
    val hubO = vaultHub(orders, col("o_orderkey"), "orders")
    val link = vaultLink(orders, col("o_orderkey"), col("o_custkey"),
      "orders")
    val satO = vaultSatellite(orders, col("o_orderkey"), Seq(
      col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long"),
      col("o_orderpriority")))
    def audit(df: DataFrame, name: String, hk: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        countDistinct(col(hk)).as("n_keys"),
        min(col(hk)).as("min_hk"), max(col(hk)).as("max_hk"))
        .select(lit(name).as("structure"), col("n_rows"), col("n_keys"),
          col("min_hk"), col("max_hk"))
    audit(hubC, "hub_customer", "hk")
      .unionAll(audit(hubO, "hub_order", "hk"))
      .unionAll(audit(link, "link_order_customer", "lhk"))
      .unionAll(audit(satO, "sat_order", "hk"))
  }
  /** MULTI-CURRENCY FACT CONVERSION with SPARSE effective-dated rates
    * — the classic Kimball "pick the rate in force at the fact date"
    * problem, which is an AS-OF join, not an equi-join (rates publish
    * irregularly; the fact month rarely has its own row, and silently
    * equi-joining drops or misprices every gap month): synthetic
    * deterministic rate table (currency = customer nation, micro-unit
    * rate 1e6 + (cur·37 + m·13) mod 5e5, published only on months
    * m ≡ 1 mod 3), facts take the latest rate at-or-before their
    * month via [[graft.operators.AsOfJoin.asof]], pre-first-rate facts
    * drop (inner as-of — both engines; DuckDB replays with its NATIVE
    * ASOF JOIN, so two independent implementations must agree).
    * Conversion stays EXACT: cents × micro-rate is an integer product
    * summed in decimal(38,0), two divisions at the close. One fact
    * rollup per currency; rates are a broadcast-sized dim. */
  def fxConvert(orders: DataFrame, customer: DataFrame,
                nation: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val spark = orders.sparkSession
    val months = spark.range(0, 84)
      .select(col("id").cast("long").as("m"))
      .filter(col("m") % 3 === 1)
    val rates = nation.select(col("n_nationkey").cast("long").as("cur"))
      .crossJoin(months)
      .select(col("cur"), col("m"),
        (lit(1000000L) +
          pmod(col("cur") * 37 + col("m") * 13, lit(500000L)))
          .as("rate"))
    val facts = orders
      .join(customer.select(col("c_custkey"),
        col("c_nationkey").cast("long").as("cur")),
        col("o_custkey") === col("c_custkey"))
      .select(col("cur"),
        ((year(col("o_orderdate")) - 1992) * 12 +
          month(col("o_orderdate")) - 1).cast("long").as("m"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    AsOfJoin.asof(facts, rates, key = "cur", ts = "m")
      .filter(col("matched").isNotNull)
      .groupBy(col("cur").as("currency"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents").cast(dec) * col("matched.rate").cast(dec))
          .as("cr"))
      // floor convention (Exact.scala): cr is an exact integer 1e-8
      // grid — 2dp engine round() of it is the half-case
      .select(col("currency"), col("n_orders"),
        (floor(col("cr").cast("double") / 1e6 + 0.5) / 100)
          .as("converted"))
  }
  /** AS-IS vs AS-WAS RESTATEMENT report — the dimensional-integrity
    * question every SCD2 warehouse must be able to answer ("how much
    * revenue MOVES between segments if we report by the customer's
    * CURRENT state instead of the state they were in when the fact
    * landed" — the delta IS the restatement a type-1 rebuild would
    * silently apply, and finance sign-off wants it itemized): as-was
    * groups each event by its at-time state (here the event's own
    * type — the SCD2/pitJoin convention: the change record IS the
    * state onset); as-is replays every user's history under their
    * latest state (deterministic latest: max (ts, event_id)). One
    * user rollup + one broadcast-back join + two state-bounded
    * rollups, full-outer merged on state; exact cent longs. */
  def restatement(events: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = round(col("value") * 100).cast("long")
    val asWas = events.groupBy(col("event_type").as("state"))
      .agg(sum(q.cast(dec)).as("ww"))
    val current = events.groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
        .as("last"))
      .select(col("user_id"), col("last.event_type").as("state"))
    val asIs = events.join(current, Seq("user_id"))
      .groupBy("state")
      .agg(sum(q.cast(dec)).as("ii"))
    asWas.join(asIs, Seq("state"), "full_outer")
      .select(col("state"),
        round(coalesce(col("ww"), lit(0).cast(dec)).cast("double")
          / 100.0, 2).as("as_was_revenue"),
        round(coalesce(col("ii"), lit(0).cast(dec)).cast("double")
          / 100.0, 2).as("as_is_revenue"),
        round((coalesce(col("ii"), lit(0).cast(dec)) -
          coalesce(col("ww"), lit(0).cast(dec))).cast("double")
          / 100.0, 2).as("restated_delta"))
  }
  /** GENERATED DATE DIMENSION — the one conformed dimension every
    * Kimball bus matrix starts with, produced by the engine rather
    * than loaded (a calendar is pure arithmetic; shipping it as data
    * invites drift between marts): one row per day over [start, end]
    * with the standard role attributes — year/quarter/month/day,
    * day-of-week on the explicit epoch-day convention (1970-01-01 =
    * Thursday = 0; weekend = days 2,3 — Saturday/Sunday — documented,
    * no locale-dependent dayofweek()), month-end flag, and a
    * Feb-start fiscal year (documented contract). Generated from a
    * range — splittable, no skew, no source scan. */
  def dateDim(spark: org.apache.spark.sql.SparkSession,
              start: String = "1992-01-01",
              end: String = "1998-12-31"): DataFrame = {
    val s0 = java.time.LocalDate.parse(start).toEpochDay
    val e0 = java.time.LocalDate.parse(end).toEpochDay
    spark.range(s0, e0 + 1)
      .select(col("id").cast("long").as("epoch_day"))
      .withColumn("d", date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        col("epoch_day").cast("int")))
      .select(col("d").as("date"), col("epoch_day"),
        year(col("d")).cast("long").as("year"),
        quarter(col("d")).cast("long").as("quarter"),
        month(col("d")).cast("long").as("month"),
        dayofmonth(col("d")).cast("long").as("dom"),
        pmod(col("epoch_day"), lit(7L)).as("dow"),
        pmod(col("epoch_day"), lit(7L)).isin(2L, 3L).as("is_weekend"),
        (col("d") === last_day(col("d"))).as("is_month_end"),
        (year(col("d")) + when(month(col("d")) >= 2, 0L)
          .otherwise(-1L)).cast("long").as("fiscal_year"))
  }
  /** HEADER-TO-LINE FACT ALLOCATION by the largest-remainder method —
    * the grain-shift problem every finance mart hits (the order header
    * carries the authoritative total; analysis needs it at line grain;
    * naive proportional rounding LOSES OR INVENTS CENTS, and an
    * allocation that doesn't reconcile to the header is an audit
    * finding, not a modeling choice): base share = ⌊H·wᵢ/W⌋ in exact
    * integer arithmetic, then the leftover cents (= H − Σbase, at most
    * lines−1) go one each to the largest fractional remainders
    * (H·wᵢ mod W, ties to the lower line number — deterministic).
    *
    * One fact-sized join + one per-order window (partitioned on the
    * order key — parallel, never global); the report aggregates the
    * CONSERVATION proof: every order's allocated total must equal its
    * header exactly, counted across the corpus. */
  def allocateToLines(orders: DataFrame, lineitem: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val lines = lineitem.select(col("l_orderkey").as("ok"),
      col("l_linenumber").as("ln"),
      round(col("l_extendedprice") * 100).cast("long").as("w"))
    val heads = orders.select(col("o_orderkey").as("ok"),
      round(col("o_totalprice") * 100).cast("long").as("h"))
    val wTot = lines.groupBy("ok").agg(sum("w").as("ww"),
      count(lit(1)).as("nl"))
    val j = lines.join(heads, Seq("ok")).join(wTot, Seq("ok"))
      .withColumn("base", expr("(h * w) div ww"))
      .withColumn("r", expr("(h * w) % ww"))
    val wOrd = Window.partitionBy("ok")
      .orderBy(col("r").desc, col("ln"))
    val alloc = j
      .withColumn("leftover", col("h") - sum("base").over(
        Window.partitionBy("ok")
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .withColumn("rk", row_number().over(wOrd))
      .withColumn("alloc",
        col("base") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L))
    val perOrder = alloc.groupBy("ok")
      .agg(max("h").as("h"), sum(col("alloc").cast(dec)).as("a"),
        count(lit(1)).as("nl"))
    perOrder.agg(count(lit(1)).as("n_orders"),
        sum("nl").as("n_lines"),
        sum(col("h").cast(dec)).as("hdr"),
        sum("a").as("alc"),
        sum(when(col("a").cast(dec) =!= col("h").cast(dec), 1L)
          .otherwise(0L)).as("n_mismatched"))
      .select(col("n_orders"), col("n_lines"),
        round(col("hdr").cast("double") / 100.0, 2).as("header_total"),
        round(col("alc").cast("double") / 100.0, 2)
          .as("allocated_total"),
        col("n_mismatched"))
  }
}
