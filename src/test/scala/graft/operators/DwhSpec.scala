package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DwhSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("scd2Build collapses repeats into versions with contiguous validity") {
    // key 1: A A B A  -> versions A[t1,t3) B[t3,t4) A[t4,∞)
    // key 2: X        -> single open version
    val changes = Seq(
      (1L, "A", ts("2024-01-01 00:00:01"), 10L),
      (1L, "A", ts("2024-01-01 00:00:02"), 11L),
      (1L, "B", ts("2024-01-01 00:00:03"), 12L),
      (1L, "A", ts("2024-01-01 00:00:04"), 13L),
      (2L, "X", ts("2024-01-01 00:00:05"), 14L)
    ).toDF("k", "state", "t", "ord")
    val hist = Dwh.scd2Build(changes, "k", "state", "t", "ord")
      .orderBy("k", "valid_from").collect()
    assert(hist.length == 4)
    val k1 = hist.filter(_.getAs[Long]("k") == 1L)
    assert(k1.map(_.getAs[String]("state")).toSeq == Seq("A", "B", "A"))
    // each version closes exactly when the next one opens
    k1.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[java.sql.Timestamp]("valid_to") ==
        b.getAs[java.sql.Timestamp]("valid_from"))
    }
    assert(k1.count(_.getAs[Boolean]("is_current")) == 1)
    assert(k1.last.getAs[Boolean]("is_current"))
    val k2 = hist.filter(_.getAs[Long]("k") == 2L)
    assert(k2.length == 1 && k2.head.getAs[Boolean]("is_current") &&
      k2.head.getAs[java.sql.Timestamp]("valid_to") == null)
  }

  test("scd3View: previous means prior VERSION, not prior observation") {
    // key 1: A A B A → versions A,B,A: current A, prev B (NOT the raw
    // prior observation, which after collapse is the same thing the
    // version chain says — the A A repeat must not surface prev = A)
    val changes = Seq(
      (1L, "A", ts("2024-01-01 00:00:01"), 10L),
      (1L, "A", ts("2024-01-01 00:00:02"), 11L),
      (1L, "B", ts("2024-01-01 00:00:03"), 12L),
      (1L, "A", ts("2024-01-01 00:00:04"), 13L),
      (2L, "X", ts("2024-01-01 00:00:05"), 14L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val v = Dwh.scd3View(changes, "user_id", "event_type", "ts", "event_id")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2))).toMap
    assert(v(1L) == ("A", "B"))
    assert(v(2L) == ("X", null), "first-version keys carry prev = null")
    assert(v.size == 2, "exactly one row per key")
  }

  test("scd2Build version count per key equals its state-change count") {
    val hist = Dwh.scd2Build(graft.Tables.events(spark, sf),
      "user_id", "event_type", "ts", "event_id")
    // exactly one open version per user
    val open = hist.filter(col("is_current")).groupBy("user_id").count()
    assert(open.filter(col("count") =!= 1).isEmpty)
    // validity intervals never overlap: valid_to of the nth version is
    // the (n+1)th's valid_from (checked pairwise via a window)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("valid_from")
    val bad = hist
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("next_from").isNotNull &&
        col("valid_to") =!= col("next_from"))
    assert(bad.isEmpty)
  }

  test("scd2Apply(build(early), late) equals build(early ∪ late)") {
    val ev = graft.Tables.events(spark, sf)
    val split = lit("2024-01-16").cast("timestamp")
    val full = Dwh.scd2Build(ev, "user_id", "event_type", "ts", "event_id")
    val incr = Dwh.scd2Apply(
      Dwh.scd2Build(ev.filter(col("ts") < split),
        "user_id", "event_type", "ts", "event_id"),
      ev.filter(col("ts") >= split),
      "user_id", "event_type", "ts", "event_id")
    assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty)
  }

  test("scd2Apply replay of an applied batch is a no-op; new keys bootstrap") {
    val early = Seq(
      (1L, "A", ts("2024-01-01 00:00:01"), 1L),
      (1L, "B", ts("2024-01-01 00:00:02"), 2L)
    ).toDF("k", "state", "t", "ord")
    val late = Seq(
      (1L, "C", ts("2024-01-01 00:00:03"), 3L),
      (7L, "N", ts("2024-01-01 00:00:04"), 4L) // key absent from history
    ).toDF("k", "state", "t", "ord")
    val base = Dwh.scd2Build(early, "k", "state", "t", "ord")
    val once = Dwh.scd2Apply(base, late, "k", "state", "t", "ord")
    assert(once.filter(col("k") === 7L).count() == 1)
    assert(once.filter(col("k") === 1L).count() == 3)
    val twice = Dwh.scd2Apply(once, late, "k", "state", "t", "ord")
    assert(twice.exceptAll(once).isEmpty && once.exceptAll(twice).isEmpty)
  }

  test("cdcApply: latest op wins; deletes drop; inserts add; rest pass through") {
    val snapshot = Seq((1L, "old1"), (2L, "old2"), (3L, "old3"))
      .toDF("k", "seg")
    val changes = Seq(
      // key 1: update then DELETE last -> dropped
      (1L, "U", "n1a", ts("2024-01-01 00:00:01"), 1L),
      (1L, "D", "n1b", ts("2024-01-01 00:00:02"), 2L),
      // key 2: delete then UPDATE last -> updated (latest wins)
      (2L, "D", "n2a", ts("2024-01-01 00:00:01"), 3L),
      (2L, "U", "n2b", ts("2024-01-01 00:00:02"), 4L),
      // key 9: insert of a key absent from the snapshot
      (9L, "I", "n9", ts("2024-01-01 00:00:03"), 5L)
    ).toDF("k", "op", "ns", "t", "ord")
    val out = Dwh.cdcApply(snapshot, changes, "k", "seg", "op", "ns", "t", "ord")
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("state")).toMap
    assert(out == Map(2L -> "n2b", 3L -> "old3", 9L -> "n9"))
  }

  test("cdcApply is idempotent under changelog replay") {
    val snapshot = Seq((1L, "a"), (2L, "b")).toDF("k", "seg")
    val changes = Seq(
      (1L, "U", "a2", ts("2024-01-01 00:00:01"), 1L),
      (2L, "D", "x", ts("2024-01-01 00:00:02"), 2L)
    ).toDF("k", "op", "ns", "t", "ord")
    val once = Dwh.cdcApply(snapshot, changes, "k", "seg", "op", "ns", "t", "ord")
    val twice = Dwh.cdcApply(once.withColumnRenamed("state", "seg"),
      changes, "k", "seg", "op", "ns", "t", "ord")
    assert(once.orderBy("k").collect().toSeq ==
      twice.orderBy("k").collect().toSeq)
  }

  test("scd2Apply and cdcApply are gate-invariant: shuffled mode equals broadcast mode") {
    val ev = graft.Tables.events(spark, sf)
    val split = lit("2024-01-16").cast("timestamp")
    val base = Dwh.scd2Build(ev.filter(col("ts") < split),
      "user_id", "event_type", "ts", "event_id")
    val late = ev.filter(col("ts") >= split)
    val bc = Dwh.scd2Apply(base, late, "user_id", "event_type", "ts", "event_id")
    val sh = Dwh.scd2Apply(base, late, "user_id", "event_type", "ts", "event_id",
      broadcastByteLimit = 0L)
    assert(bc.exceptAll(sh).isEmpty && sh.exceptAll(bc).isEmpty)

    val snapshot = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "seg")
    val changes = Seq(
      (1L, "U", "a2", ts("2024-01-01 00:00:01"), 1L),
      (2L, "D", "x", ts("2024-01-01 00:00:02"), 2L),
      (9L, "I", "n9", ts("2024-01-01 00:00:03"), 3L)
    ).toDF("k", "op", "ns", "t", "ord")
    val cdcBc = Dwh.cdcApply(snapshot, changes, "k", "seg", "op", "ns", "t", "ord")
    val cdcSh = Dwh.cdcApply(snapshot, changes, "k", "seg", "op", "ns", "t", "ord",
      broadcastByteLimit = 0L)
    assert(cdcBc.orderBy("k").collect().toSeq == cdcSh.orderBy("k").collect().toSeq)
  }

  test("snapshotDiff: I/U/D per churned key, nothing for unchanged, null-state safe") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, null.asInstanceOf[String]))
      .toDF("k", "state")
    val fresh = Seq((2L, "B"), (3L, "c"), (4L, null.asInstanceOf[String]), (5L, "e"))
      .toDF("k", "state")
    val diff = Dwh.snapshotDiff(old, fresh, "k", "state").collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("op"), r.getAs[String]("new_state"))).toMap
    // unchanged keys (3, and 4 with a NULL state on both sides) emit nothing
    assert(diff == Map(
      1L -> (("D", null)), 2L -> (("U", "B")), 5L -> (("I", "e"))))
    // a null state appearing / disappearing is a real Update, not an I/D
    val nulled = Dwh.snapshotDiff(
      Seq((9L, "x")).toDF("k", "state"),
      Seq((9L, null.asInstanceOf[String])).toDF("k", "state"),
      "k", "state").collect()
    assert(nulled.length == 1 && nulled.head.getAs[String]("op") == "U")
  }

  test("snapshotDiff roundtrip: cdcApply(old, diff) reproduces the new snapshot") {
    val cust = graft.Tables.customer(spark, sf)
    val old = cust.select(col("c_custkey").as("k"), col("c_mktsegment").as("state"))
    val fresh = cust.filter(col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey").as("k"),
        when(col("c_custkey") % 7 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("state"))
      .unionByName(cust.filter(col("c_custkey") % 101 === 0)
        .select((col("c_custkey") + 1000000L).as("k"), lit("FRESH").as("state")))
    val diff = Dwh.snapshotDiff(old, fresh, "k", "state")
      .withColumn("t", lit(ts("2024-01-01 00:00:00"))).withColumn("ord", lit(1L))
    val applied = Dwh.cdcApply(old, diff, "k", "state", "op", "new_state", "t", "ord")
    assert(applied.exceptAll(fresh).isEmpty && fresh.exceptAll(applied).isEmpty)
  }

  test("assignSurrogates: dense unique keys past max(sk), deterministic, idempotent") {
    val dim = Seq((100L, 10L), (200L, 20L), (300L, 30L)).toDF("nat_key", "sk")
    val incoming = Seq(200L, 300L, 400L, 500L, 600L, 400L).toDF("nat_key")
    def run() = Dwh.assignSurrogates(dim, incoming, "nat_key", "sk").collect()
      .map(r => r.getAs[Long]("nat_key") -> r.getAs[Long]("sk")).toMap
    val got = run()
    // only the unseen naturals, each exactly once
    assert(got.keySet == Set(400L, 500L, 600L))
    // dense continuation from max(sk)=30, no collisions with the dim
    assert(got.values.toSeq.sorted == Seq(31L, 32L, 33L))
    // deterministic re-derivation (replay safety)
    assert(run() == got)
    // applying again after the merge assigns nothing
    val merged = dim.unionByName(got.toSeq.toDF("nat_key", "sk"))
    assert(Dwh.assignSurrogates(merged, incoming, "nat_key", "sk").isEmpty)
    // partition-layout invariance: same keys under a different layout
    val reshaped = Dwh.assignSurrogates(dim, incoming.repartition(7), "nat_key", "sk")
      .collect().map(r => r.getAs[Long]("nat_key") -> r.getAs[Long]("sk")).toMap
    assert(reshaped == got)
  }

  test("pitJoin picks the version covering each fact ts, boundary goes to the newer version") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 1 versions: A [10, 20), B [20, 30), C [30, ∞)
    val dim = Seq(
      (1L, "A", ts(10), Some(ts(20))), (1L, "B", ts(20), Some(ts(30))),
      (1L, "C", ts(30), None))
      .toDF("user_id", "dim_state", "valid_from", "valid_to")
    val facts = Seq(
      (100L, 1L, ts(5)),   // before any version → null match
      (101L, 1L, ts(10)),  // opens A
      (102L, 1L, ts(19)),  // inside A
      (103L, 1L, ts(20)),  // boundary → B, not A
      (104L, 1L, ts(99)))  // open-ended C
      .toDF("event_id", "user_id", "ts")
    val got = Dwh.pitJoin(facts, dim, "user_id", "ts").collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[org.apache.spark.sql.Row]("matched"))
          .map(_.getAs[String]("dim_state")).orNull).toMap
    assert(got == Map(100L -> null, 101L -> "A", 102L -> "A",
      103L -> "B", 104L -> "C"))
  }

  test("mvRefresh: two chained delta merges equal the full recompute") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val rows = Seq(
      ("d1", 10.0, 1L), ("d1", 20.0, 1L), ("d2", 5.0, 1L), // historical
      ("d1", 7.0, 1L), ("d3", 2.0, 1L),                    // delta 1
      ("d2", 1.0, 1L), ("d3", 4.0, 1L))                    // delta 2
    def agg(s: Seq[(String, Double, Long)]): DataFrame =
      s.toDF("day", "revenue", "n").groupBy("day")
        .agg(sum("revenue").as("revenue"), sum("n").as("n"))
    val v1 = Dwh.mvRefresh(agg(rows.take(3)), agg(rows.slice(3, 5)),
      Seq("day"), Seq("revenue", "n"))
    val v2 = Dwh.mvRefresh(v1, agg(rows.drop(5)),
      Seq("day"), Seq("revenue", "n"))
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(canon(v2) == canon(agg(rows)))
    assert(canon(v2) == Set(("d1", 37.0, 3L), ("d2", 6.0, 2L),
      ("d3", 6.0, 2L)))
  }

  test("forgetKeys erases only the requested keys, rewrites only hit partitions, idempotent") {
    val dir = s"target/graft_io/forget_${System.nanoTime()}"
    // day=d1: user 1 + user 2; day=d2: user 2 only (fully emptied);
    // day=d3: user 3 only (untouched)
    Seq((1L, "d1", "a"), (2L, "d1", "b"), (2L, "d2", "c"),
      (2L, "d2", "d"), (3L, "d3", "e"))
      .toDF("user_id", "day", "payload")
      .write.partitionBy("day").parquet(dir)
    def files(day: String): Set[(String, Long)] = {
      val d = new java.io.File(s"$dir/day=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toSet
    }
    val d3Before = files("d3")

    val audit = Dwh.forgetKeys(spark, dir, Seq(2L).toDF("user_id"),
      "user_id", Seq("day"))
      .collect().map(r => r.getAs[String]("day") ->
        r.getAs[Long]("rows_removed")).toMap
    assert(audit == Map("d1" -> 1L, "d2" -> 2L),
      s"audit must account per partition: $audit")

    val after = spark.read.parquet(dir)
      .select("user_id", "day", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(after == Set((1L, "d1", "a"), (3L, "d3", "e")),
      s"user 2 must be gone everywhere, others intact: $after")
    // the fully-emptied partition's directory is gone entirely
    assert(!new java.io.File(s"$dir/day=d2").exists(),
      "an all-hits partition must not leave stale files behind")
    // the untouched partition kept its exact files (no rewrite)
    assert(files("d3") == d3Before,
      "a hit-free partition must keep byte-identical files")

    // idempotent: a second run finds nothing and changes nothing
    val d1After = files("d1")
    assert(Dwh.forgetKeys(spark, dir, Seq(2L).toDF("user_id"),
      "user_id", Seq("day")).isEmpty)
    assert(files("d1") == d1After && files("d3") == d3Before)
  }

  test("retentionSweep drops exactly the pre-cutoff partitions; survivors untouched") {
    val dir = s"target/graft_io/retain_${System.nanoTime()}"
    Seq((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-01-05"),
      (4L, "2024-01-08"), (5L, "2024-01-09"))
      .toDF("id", "day")
      .write.partitionBy("day").parquet(dir)
    def files(day: String): Set[(String, Long)] = {
      val d = new java.io.File(s"$dir/day=$day")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toSet
    }
    val keepBefore = files("2024-01-08") -> files("2024-01-09")
    val audit = Dwh.retentionSweep(spark, dir, "day", "2024-01-08")
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(audit == Map("2024-01-01" -> 2L, "2024-01-05" -> 1L))
    assert(files("2024-01-01").isEmpty && files("2024-01-05").isEmpty,
      "pre-cutoff partitions must be deleted")
    assert(files("2024-01-08") -> files("2024-01-09") == keepBefore,
      "surviving partitions keep byte-identical files")
    assert(Dwh.retentionSweep(spark, dir, "day", "2024-01-08").isEmpty,
      "second sweep is a no-op")
    assert(spark.read.parquet(dir).count() == 2L)
  }

  test("accumulatingSnapshot: incremental apply equals full rebuild, least backfills") {
    import spark.implicits._
    def ev(rows: Seq[(Long, String, Long)]) =
      rows.toDF("user_id", "event_type", "s")
        .select(col("user_id"), col("event_type"),
          timestamp_seconds(col("s")).as("ts"))
    val day = 86400L
    val b1 = Seq((1L, "signup", 0L), (1L, "click", 2 * day),
      (2L, "signup", day))
    val b2 = Seq((1L, "purchase", 5 * day), (2L, "click", 3 * day),
      (1L, "click", day), // EARLIER click arrives late: must backfill
      (3L, "signup", 4 * day))
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("user_id") ->
      (Option(r.get(r.fieldIndex("signup_us"))),
        Option(r.get(r.fieldIndex("click_us"))),
        Option(r.get(r.fieldIndex("purchase_us"))),
        Option(r.get(r.fieldIndex("days_signup_to_click"))))
    val full = Dwh.accumulatingSnapshot(ev(b1 ++ b2)).collect().map(key).toMap
    val inc = Dwh.accumulatingApply(
      Dwh.accumulatingSnapshot(ev(b1)), ev(b2)).collect().map(key).toMap
    assert(inc == full, "incremental apply must equal the full rebuild")
    // the late-but-earlier click won: gap uses day 1, not day 2
    assert(full(1L)._4.contains(1.0))
    // milestones not reached stay null — no fabricated dates
    assert(full(3L)._2.isEmpty && full(3L)._4.isEmpty)
    // re-applying the same batch is a no-op (least is idempotent)
    val again = Dwh.accumulatingApply(
      Dwh.accumulatingApply(Dwh.accumulatingSnapshot(ev(b1)), ev(b2)),
      ev(b2)).collect().map(key).toMap
    assert(again == full)
  }

  test("bridgeAllocation conserves revenue exactly through the bridge") {
    import spark.implicits._
    // o1 (100.00) touches parts 1,2 (brands X,Y); o2 (60.00) touches
    // part 1 only → X gets 50 + 60 = 110, Y gets 50
    val orders = Seq((1L, 100.0), (2L, 60.0))
      .toDF("o_orderkey", "o_totalprice")
    val li = Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 1L)) // dup pair dedups
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((1L, "X"), (2L, "Y")).toDF("p_partkey", "p_brand")
    val out = Dwh.bridgeAllocation(orders, li, part).collect()
      .map(r => r.getAs[String]("p_brand") ->
        r.getAs[Double]("allocated_revenue")).toMap
    assert(out == Map("X" -> 110.0, "Y" -> 50.0), s"allocation wrong: $out")
    // the conservation invariant: allocations sum back to the total of
    // every bridged order — the double-counting a naive join commits
    assert(out.values.sum == 160.0,
      "bridge weights must conserve revenue exactly")
  }

  test("scd6View: every history row carries the key's current state, type-1 maintained") {
    import spark.implicits._
    // u1: A → B → A (3 versions, current A); u2: X only
    val ch = Seq((1L, "A", 0L, 1L), (1L, "A", 10L, 2L), (1L, "B", 20L, 3L),
      (1L, "A", 30L, 4L), (2L, "X", 5L, 5L))
      .toDF("k", "st", "s", "ord")
      .select(col("k"), col("st"), timestamp_seconds(col("s")).as("ts"),
        col("ord"))
    val out = Dwh.scd6View(ch, "k", "st", "ts", "ord").collect()
    val u1 = out.filter(_.getAs[Long]("k") == 1L)
    assert(u1.length == 3, s"same-state repeat must collapse: ${out.toSeq}")
    // ALL of u1's rows — including closed historical versions — carry
    // the current state A; exactly one row is flagged current
    assert(u1.forall(_.getAs[String]("current_state") == "A"))
    assert(u1.count(_.getAs[Boolean]("is_current")) == 1)
    assert(u1.filter(_.getAs[Boolean]("is_current"))
      .head.getAs[String]("hist_state") == "A")
    assert(out.filter(_.getAs[Long]("k") == 2L)
      .forall(r => r.getAs[String]("current_state") == "X" &&
        r.getAs[Boolean]("is_current")))
  }

  test("lateArrivingDim classes every referenced key; placeholder money is visible") {
    import spark.implicits._
    // facts reference keys 1,2,3; on-time dim has 1; late batch heals 2;
    // 3 stays an inferred placeholder. Key 4 in the dim is unreferenced
    // (dims don't create ledger rows — only fact-referenced keys do).
    val facts = Seq((1L, 10.0), (1L, 2.5), (2L, 40.0), (3L, 7.25))
      .toDF("k", "o_totalprice")
    val dim = Seq(1L, 4L).toDF("dk")
    val late = Seq(2L, 4L).toDF("dk")
    val out = Dwh.lateArrivingDim(facts, "k", "o_totalprice",
      dim, "dk", late).collect()
      .map(r => r.getAs[String]("status") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("n_facts"),
          r.getAs[Double]("revenue")))).toMap
    assert(out == Map(
      "on_time" -> ((1L, 2L, 12.5)),
      "resolved" -> ((1L, 1L, 40.0)),
      "inferred_only" -> ((1L, 1L, 7.25))), s"ledger wrong: $out")
  }

  test("drillAcross: separate-aggregate-then-merge, no fact-to-fact fan-out") {
    import spark.implicits._
    // customer 1 has 2 orders and 3 events — a row-grain fact join
    // would fan 2×3; drill-across must report (2 orders, 3 events).
    // Customer 2 orders only; customer 3 has events only.
    val orders = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0))
      .toDF("o_custkey", "o_totalprice")
    val events = Seq((1L, 1.0), (1L, 2.0), (1L, 3.0), (3L, 4.0))
      .toDF("user_id", "value")
    val out = Dwh.drillAcross(orders, events).collect()
      .map(r => r.getAs[Long]("cust_key") ->
        ((r.getAs[Long]("n_orders"), r.getAs[Double]("revenue"),
          r.getAs[Long]("n_events"), r.getAs[Double]("engagement"))))
      .toMap
    assert(out == Map(
      1L -> ((2L, 30.0, 3L, 6.0)),
      2L -> ((1L, 5.0, 0L, 0.0)),
      3L -> ((0L, 0.0, 1L, 4.0))), s"drill-across wrong: $out")
  }

  test("semiAdditiveBalance sums LAST balances across accounts, never across time") {
    import spark.implicits._
    val day = 86400L
    // u1: 10.00 then 30.00 in Jan → last 30; u2: 5.00 in Jan
    // Feb: u1 only, 7.50
    val ev = Seq((1L, 0L, 10.0), (1L, 5 * day, 30.0), (2L, day, 5.0),
      (1L, 35 * day, 7.5))
      .toDF("user_id", "s", "value")
      .select(col("user_id"), timestamp_seconds(col("s")).as("ts"),
        col("value"))
    val out = Dwh.semiAdditiveBalance(ev).collect()
      .map(r => r.getAs[java.sql.Date]("month").toString ->
        (r.getAs[Long]("n_accounts"), r.getAs[Double]("total_balance")))
      .toMap
    assert(out("1970-01-01") == (2L, 35.0),
      "January total is 30 + 5, NOT the 45 a naive sum would give")
    assert(out("1970-02-01") == (1L, 7.5))
  }

  test("junkDimension: combos get stable dense keys; shares sum to 1") {
    import spark.implicits._
    val orders = Seq(
      (1L, "O", "1-URGENT"), (2L, "O", "1-URGENT"), (3L, "O", "2-HIGH"),
      (4L, "F", "1-URGENT"), (5L, "F", "2-HIGH"), (6L, "F", "2-HIGH"))
      .toDF("o_orderkey", "o_orderstatus", "o_orderpriority")
    val out = Dwh.junkDimension(orders).collect()
    assert(out.length == 4)
    val byKey = out.map(r => r.getAs[Int]("junk_key") ->
      (r.getAs[String]("o_orderstatus"),
        r.getAs[String]("o_orderpriority"),
        r.getAs[Long]("n_facts"))).toMap
    // dense keys follow the (status, priority) total order
    assert(byKey(1) == (("F", "1-URGENT", 1L)))
    assert(byKey(2) == (("F", "2-HIGH", 2L)))
    assert(byKey(3) == (("O", "1-URGENT", 2L)))
    assert(byKey(4) == (("O", "2-HIGH", 1L)))
    assert(math.abs(out.map(_.getAs[Double]("fact_share")).sum - 1.0)
      < 1e-6)
  }

  test("rolePlayingDates: order/ship month lag matrix with exact cents") {
    import spark.implicits._
    val orders = Seq((1L, "1995-01-15"), (2L, "1995-02-10"))
      .toDF("o_orderkey", "d")
      .select(col("o_orderkey"), to_date(col("d")).as("o_orderdate"))
    val li = Seq(
      (1L, "1995-01-20", 10.005), // same-month ship; cents round half-up
      (1L, "1995-02-05", 20.0),   // next-month ship
      (2L, "1995-02-20", 5.0), (2L, "1995-02-25", 7.5))
      .toDF("l_orderkey", "d", "l_extendedprice")
      .select(col("l_orderkey"), to_date(col("d")).as("l_shipdate"),
        col("l_extendedprice"))
    val out = Dwh.rolePlayingDates(li, orders).collect()
      .map(r => (r.getAs[String]("order_month"),
        r.getAs[String]("ship_month")) ->
        (r.getAs[Long]("n_items"), r.getAs[Double]("revenue"))).toMap
    assert(out.size == 3)
    assert(out(("1995-01", "1995-01")) == ((1L, 10.01)))
    assert(out(("1995-01", "1995-02")) == ((1L, 20.0)))
    assert(out(("1995-02", "1995-02")) == ((2L, 12.5)))
  }

  test("miniDimension: volatile attrs band into stable keys; negatives band down") {
    import spark.implicits._
    val cust = Seq(
      (1L, 500.0, "AUTO"), (2L, 1500.0, "AUTO"), (3L, 999.99, "AUTO"),
      (4L, -100.0, "BLDG"), (5L, 1500.0, "AUTO"), (6L, 0.0, "BLDG"))
      .toDF("c_custkey", "c_acctbal", "c_mktsegment")
    val out = Dwh.miniDimension(cust).collect()
      .map(r => r.getAs[Int]("mini_key") ->
        (r.getAs[Int]("balance_band"), r.getAs[String]("segment"),
          r.getAs[Long]("n_members"), r.getAs[Long]("first_custkey")))
      .toMap
    assert(out.size == 4)
    // dense keys follow the (band, segment) total order; floor sends
    // the negative balance to band −1
    assert(out(1) == ((-1, "BLDG", 1L, 4L)))
    assert(out(2) == ((0, "AUTO", 2L, 1L)))
    assert(out(3) == ((0, "BLDG", 1L, 6L)))
    assert(out(4) == ((1, "AUTO", 2L, 2L)))
  }

  test("factlessCoverage: reports exactly the segment-months with no orders") {
    import spark.implicits._
    val customer = Seq((1L, "AUTO"), (2L, "BIKE"))
      .toDF("c_custkey", "c_mktsegment")
    // AUTO orders in Jan+Feb, BIKE only in Jan → gap = (BIKE, Feb)
    val orders = Seq(
      (10L, 1L, "1970-01-05"), (11L, 1L, "1970-02-07"),
      (12L, 2L, "1970-01-20"))
      .toDF("o_orderkey", "o_custkey", "d")
      .select(col("o_orderkey"), col("o_custkey"),
        to_timestamp(col("d")).as("o_orderdate"))
    val gaps = Dwh.factlessCoverage(orders, customer).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gaps == Set(("BIKE", "1970-02")))
  }

  test("periodicSnapshot: running totals accumulate per segment, cents exact") {
    import spark.implicits._
    val customer = Seq((1L, "AUTO"), (2L, "BIKE"))
      .toDF("c_custkey", "c_mktsegment")
    val orders = Seq(
      (10L, 1L, "1970-01-05", 10.10), (11L, 1L, "1970-02-07", 5.05),
      (12L, 1L, "1970-02-08", 1.00), (13L, 2L, "1970-01-20", 7.77))
      .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
      .select(col("o_orderkey"), col("o_custkey"),
        to_timestamp(col("d")).as("o_orderdate"), col("o_totalprice"))
    val out = Dwh.periodicSnapshot(orders, customer).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val feb = out(("AUTO", "1970-02"))
    assert(feb.getAs[Long]("n_orders") == 2L &&
      feb.getAs[Long]("cum_orders") == 3L)
    assert(feb.getAs[Double]("revenue") == 6.05 &&
      feb.getAs[Double]("cum_revenue") == 16.15)
    assert(out(("BIKE", "1970-01")).getAs[Double]("cum_revenue") == 7.77)
  }

  test("data vault: hubs/links dedup (idempotent re-load), link hk is " +
      "md5 over ordered keys, satellite versions only on changed attrs") {
    val batch = Seq((10L, 1L, "O", 10050L), (11L, 1L, "F", 20000L),
      (12L, 2L, "O", 30000L)).toDF("ok", "ck", "status", "cents")
    // re-delivering the same batch twice must insert nothing new
    val twice = batch.unionAll(batch)
    assert(Dwh.vaultHub(twice, col("ok"), "orders").count() == 3)
    assert(Dwh.vaultHub(twice, col("ck"), "orders").count() == 2)
    val link = Dwh.vaultLink(twice, col("ok"), col("ck"), "orders")
    assert(link.count() == 3)
    // the link hash is md5 of the pipe-joined ordered business keys,
    // and member hub keys ride along precomputed
    val l10 = link.filter(col("hk1") ===
      md5(lit("10").cast("binary"))).collect().head
    assert(l10.getAs[String]("lhk") ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex("10|1"))
    assert(l10.getAs[String]("hk2") ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex("1"))
    // satellite: unchanged re-delivery collapses; a changed attribute
    // opens a NEW version under the same hk
    val v2 = batch.unionAll(
      Seq((10L, 1L, "F", 10050L)).toDF("ok", "ck", "status", "cents"))
    val sat = Dwh.vaultSatellite(v2, col("ok"),
      Seq(col("status"), col("cents")))
    assert(sat.count() == 4)
    val k10 = sat.filter(col("hk") ===
      org.apache.commons.codec.digest.DigestUtils.md5Hex("10"))
    assert(k10.count() == 2 &&
      k10.select("hashdiff").distinct().count() == 2)
    assert(k10.collect().map(_.getAs[String]("payload")).sorted.toSeq ==
      Seq("F|10050", "O|10050"))
  }

  test("fxConvert: gap months take the latest published rate, " +
      "pre-first-rate facts drop, conversion is cent-exact") {
    import spark.implicits._
    val nation = Seq(0L).toDF("n_nationkey")
    val customer = Seq((1L, 0L)).toDF("c_custkey", "c_nationkey")
    // rates publish at m=1 (1000013) and m=4 (1000052); the m=0 order
    // predates every rate, m=3 back-fills from m=1, m=5 from m=4
    val orders = Seq(
      (1L, "1992-01-15", 10000.0), (1L, "1992-02-10", 10000.0),
      (1L, "1992-04-20", 10000.0), (1L, "1992-06-05", 10000.0))
      .toDF("o_custkey", "d", "o_totalprice")
      .select(col("o_custkey"), to_date(col("d")).as("o_orderdate"),
        col("o_totalprice"))
    val r = Dwh.fxConvert(orders, customer, nation).collect()
    assert(r.length == 1, r.mkString(","))
    assert(r.head.getAs[Long]("n_orders") == 3L, s"${r.head}")
    // 1e6 cents * (1000013 + 1000013 + 1000052) / 1e8 = 30000.78
    assert(r.head.getAs[Double]("converted") == 30000.78, s"${r.head}")
  }

  test("restatement: as-is replays history under the latest state and " +
      "the per-state deltas itemize exactly what moved") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "click", 10.0, 1000L), (1L, 2L, "view", 20.0, 2000L),
      (2L, 3L, "view", 30.0, 1000L))
      .toDF("user_id", "event_id", "event_type", "value", "s")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), timestamp_seconds(col("s")).as("ts"))
    val out = Dwh.restatement(ev).collect()
      .map(r => (r.getAs[String]("state"),
        (r.getAs[Double]("as_was_revenue"),
          r.getAs[Double]("as_is_revenue"),
          r.getAs[Double]("restated_delta")))).toMap
    // user 1 ends as "view": their click-era 10.0 restates to view
    assert(out == Map("click" -> (10.0, 0.0, -10.0),
      "view" -> (50.0, 60.0, 10.0)), s"$out")
  }

  test("allocateToLines: non-divisible headers still reconcile to the " +
      "cent — the leftover cents land on the largest remainders") {
    import spark.implicits._
    // header $1.00 over three equal lines: 33+33+33 leaves one cent
    // that floor-only allocation would LOSE; header $1.01 over skewed
    // lines exercises a different remainder ranking
    val orders = Seq((1L, 1.0), (2L, 1.01))
      .toDF("o_orderkey", "o_totalprice")
    val lines = Seq((1L, 1, 1.0), (1L, 2, 1.0), (1L, 3, 1.0),
      (2L, 1, 0.70), (2L, 2, 0.30))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
    val r = Dwh.allocateToLines(orders, lines).collect().head
    assert(r.getAs[Long]("n_orders") == 2L &&
      r.getAs[Long]("n_lines") == 5L, s"$r")
    assert(r.getAs[Double]("header_total") ==
      r.getAs[Double]("allocated_total"), s"$r")
    assert(r.getAs[Double]("header_total") == 2.01, s"$r")
    assert(r.getAs[Long]("n_mismatched") == 0L, s"$r")
  }

  test("dateDim: leap day, weekend convention, month ends, and the " +
      "Feb-start fiscal year all land on the right rows") {
    import spark.implicits._
    val dim = Dwh.dateDim(spark, "1992-01-01", "1992-12-31")
    val rows = dim.collect()
      .map(r => (r.getAs[java.sql.Date]("date").toString, r)).toMap
    assert(rows.size == 366) // 1992 is a leap year
    // 1992-01-04 was a Saturday: epoch-day % 7 == 2, weekend
    assert(rows("1992-01-04").getAs[Long]("dow") == 2L &&
      rows("1992-01-04").getAs[Boolean]("is_weekend"))
    assert(!rows("1992-01-06").getAs[Boolean]("is_weekend")) // Monday
    assert(rows("1992-02-29").getAs[Boolean]("is_month_end"))
    assert(!rows("1992-02-28").getAs[Boolean]("is_month_end"))
    // Feb-start fiscal year: January belongs to the PRIOR fiscal year
    assert(rows("1992-01-15").getAs[Long]("fiscal_year") == 1991L)
    assert(rows("1992-02-01").getAs[Long]("fiscal_year") == 1992L)
    assert(rows("1992-07-01").getAs[Long]("quarter") == 3L)
  }
}
