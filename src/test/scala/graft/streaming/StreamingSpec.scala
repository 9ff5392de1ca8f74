package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.{Lambda, Windows}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {

  import org.apache.spark.sql.Encoders

  case class Ev(event_id: Long, user_id: Long, ts: java.sql.Timestamp)

  private def jsonOf(eventId: Long, ts: String, userId: Long,
                     eventType: String, value: Double): String =
    s"""{"event_id":$eventId,"ts":"$ts","user_id":$userId,""" +
    s""""event_type":"$eventType","value":$value}"""

  test("json parse + classify + to_json round-trips through a memory stream") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String](Encoders.STRING, sq)
    val parsed = EventStream.classify(
      EventStream.parseJson(input.toDF().withColumnRenamed("value", "raw")
        .select(col("raw").as("value"))))
    val q = EventStream.toJsonValue(parsed).writeStream
      .format("memory").queryName("t_roundtrip").outputMode("append").start()
    try {
      input.addData(
        jsonOf(1, "2024-01-01 00:00:00", 7, "click", 42.0),
        jsonOf(2, "2024-01-01 00:01:00", 7, "error", 250.0),
        jsonOf(3, "2024-01-01 00:02:00", 8, "view", 400.0))
      q.processAllAvailable()
      val out = spark.table("t_roundtrip").collect().map(_.getString(0)).sorted
      assert(out.length == 3)
      assert(out(0).contains("\"alert_level\":\"level_0\""))
      assert(out(1).contains("\"alert_level\":\"level_1\""))
      assert(out(2).contains("\"alert_level\":\"level_2\""))
    } finally q.stop()
  }

  test("sliding window aggregation matches hand-computed counts") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String](Encoders.STRING, sq)
    val agg = EventStream.slidingCounts(
      EventStream.parseJson(input.toDF().select(col("value"))),
      windowLen = "10 minutes", slide = "5 minutes", watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("t_windows")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        jsonOf(1, "2024-01-01 00:01:00", 1, "click", 50.0),
        jsonOf(2, "2024-01-01 00:06:00", 1, "click", 150.0),
        jsonOf(3, "2024-01-01 00:11:00", 1, "click", 350.0))
      q.processAllAvailable()
      val rows = spark.table("t_windows")
        .select(col("window.start").cast("string").as("ws"), col("n"), col("n_alerts"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // each event lands in two 10m/5m windows
      assert(rows == Set(
        ("2023-12-31 23:55:00", 1L, 0L), // e1
        ("2024-01-01 00:00:00", 2L, 1L), // e1,e2
        ("2024-01-01 00:05:00", 2L, 2L), // e2,e3
        ("2024-01-01 00:10:00", 1L, 1L))) // e3
    } finally q.stop()
  }

  test("stream-static anomaly join flags only >2-sigma events") {
    implicit val sq = spark.sqlContext
    val profiles = Lambda.dailyProfile(Tables.events(spark, sf))
      .select(col("day").as("p_day"), col("event_type").as("p_type"),
        col("value_mean"), col("value_std"))
    val input = MemoryStream[String](Encoders.STRING, sq)
    val out = EventStream.anomalies(
      EventStream.parseJson(input.toDF().select(col("value"))), profiles)
    val q = out.writeStream.format("memory").queryName("t_anom")
      .outputMode("append").start()
    try {
      // day 1 'click' profile exists in sf0.001; 1e9 is certainly anomalous
      input.addData(
        jsonOf(1, "2024-01-01 10:00:00", 1, "click", 1e9),
        jsonOf(2, "2024-01-01 10:00:01", 1, "click", 100.0))
      q.processAllAvailable()
      val got = spark.table("t_anom").collect()
      assert(got.map(_.getAs[Long]("event_id")).toSet == Set(1L))
    } finally q.stop()
  }

  test("stateful streaming sessionization matches the batch sessionizer") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[StatefulSessions.Ev]
    val batchEvents = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("value"))
      .as[StatefulSessions.Ev](enc)
      .collect().sortBy(e => (e.user_id, e.ts.getTime))

    val input = MemoryStream[StatefulSessions.Ev](enc, sq)
    val q = StatefulSessions.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("t_sess")
      .outputMode("update").start()
    try {
      // feed in two chronological chunks to exercise cross-batch state
      val (first, second) = batchEvents.sortBy(_.ts.getTime).splitAt(batchEvents.length / 2)
      input.addData(first.toIndexedSeq); q.processAllAvailable()
      input.addData(second.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("t_sess").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("session_no")).toMap
      val batch = Windows.sessionNumbers(Tables.events(spark, sf)).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("session_no")).toMap
      assert(streamed.size == batch.size)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stateful streaming funnel matches the batch funnel across split batches") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[StatefulSessions.FunnelEv]
    val stages = Seq("signup", "click", "purchase")
    val all = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"))
      .as[StatefulSessions.FunnelEv](enc)
      .collect().sortBy(_.ts.getTime)

    val input = MemoryStream[StatefulSessions.FunnelEv](enc, sq)
    val q = StatefulSessions.funnel(input.toDS(), stages)
      .writeStream.format("memory").queryName("t_funnel")
      .outputMode("update").start()
    try {
      // chronological halves: funnels progressing ACROSS the batch
      // boundary only resolve through the carried state
      val (first, second) = all.splitAt(all.length / 2)
      input.addData(first.toIndexedSeq); q.processAllAvailable()
      input.addData(second.toIndexedSeq); q.processAllAvailable()
      // latest (deepest) update per user wins
      val streamed = spark.table("t_funnel").collect()
        .map(r => (r.getAs[Long]("user_id"),
          (r.getAs[Int]("funnel_depth"), r.getAs[Any]("t3_us"))))
        .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).maxBy(_._1) }
      val batch = Windows.funnelStages(Tables.events(spark, sf), stages)
        .filter(col("funnel_depth") > 0).collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Int]("funnel_depth"), r.getAs[Any]("t3_us")))).toMap
      assert(streamed.size == batch.size)
      batch.foreach { case (u, (d, t3)) =>
        assert(streamed(u)._1 == d, s"user $u depth ${streamed(u)._1} != $d")
        assert(streamed(u)._2 == t3, s"user $u t3 mismatch")
      }
    } finally q.stop()
  }

  test("streaming transitions match the batch Markov counts across split batches") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[StatefulSessions.FunnelEv]
    val all = Tables.events(spark, sf)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"))
      .as[StatefulSessions.FunnelEv](enc)
      .collect().sortBy(_.ts.getTime)
    val input = MemoryStream[StatefulSessions.FunnelEv](enc, sq)
    val q = StatefulSessions.transitions(input.toDS())
      .writeStream.format("memory").queryName("t_trans")
      .outputMode("append").start()
    try {
      // chronological thirds: pairs straddling both batch boundaries
      // only materialize through the carried last-event state
      val (a, rest) = all.splitAt(all.length / 3)
      val (b, c) = rest.splitAt(rest.length / 3)
      Seq(a, b, c).foreach { part =>
        input.addData(part.toIndexedSeq); q.processAllAvailable()
      }
      val streamed = spark.table("t_trans").groupBy("from_type", "to_type")
        .count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = Windows.transitionMatrix(Tables.events(spark, sf))
        .collect()
        .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
          r.getAs[Long]("n")).toMap
      assert(streamed == batch,
        s"streamed ${streamed.size} cells, batch ${batch.size}")
    } finally q.stop()
  }

  test("streaming funnel rejects a same-timestamp next-stage event until a strictly later one") {
    implicit val sq = spark.sqlContext
    implicit val enc = Encoders.product[StatefulSessions.FunnelEv]
    def ev(id: Long, u: Long, sec: Int, t: String) = StatefulSessions.FunnelEv(
      id, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"), u, t)
    val input = MemoryStream[StatefulSessions.FunnelEv](enc, sq)
    val q = StatefulSessions.funnel(input.toDS(), Seq("signup", "click", "purchase"))
      .writeStream.format("memory").queryName("t_funnel_tie")
      .outputMode("update").start()
    try {
      def depth(u: Long): Int = spark.table("t_funnel_tie").collect()
        .filter(_.getAs[Long]("user_id") == u)
        .map(_.getAs[Int]("funnel_depth")).foldLeft(0)(math.max)
      // batch 1: signup + a click sharing its exact timestamp — the tied
      // click must NOT advance (same-batch tie)
      input.addData(ev(1, 1, 2, "signup"), ev(2, 1, 2, "click"))
      q.processAllAvailable()
      assert(depth(1L) == 1)
      // batch 2: another click at the SAME timestamp arriving in a later
      // micro-batch — the stored t1 still rejects it (cross-batch tie)
      input.addData(ev(3, 1, 2, "click"))
      q.processAllAvailable()
      assert(depth(1L) == 1)
      // batch 3: a strictly later click finally advances
      input.addData(ev(4, 1, 3, "click"))
      q.processAllAvailable()
      assert(depth(1L) == 2)
    } finally q.stop()
  }

  test("streaming dedup drops redelivered events across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String](Encoders.STRING, sq)
    val deduped = EventStream.dedupEvents(
      EventStream.parseJson(input.toDF().select(col("value"))),
      watermark = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    try {
      // batch 1: e1 twice (producer retry) + e2
      input.addData(
        jsonOf(1, "2024-01-01 00:00:00", 7, "click", 10.0),
        jsonOf(1, "2024-01-01 00:00:00", 7, "click", 10.0),
        jsonOf(2, "2024-01-01 00:01:00", 7, "view", 20.0))
      q.processAllAvailable()
      // batch 2: e1 redelivered again (cross-batch state) + fresh e3
      input.addData(
        jsonOf(1, "2024-01-01 00:00:00", 7, "click", 10.0),
        jsonOf(3, "2024-01-01 00:02:00", 8, "view", 30.0))
      q.processAllAvailable()
      val ids = spark.table("t_dedup").collect().map(_.getAs[Long]("event_id")).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("stream-stream attribution join pairs follows with in-window leads only") {
    implicit val sq = spark.sqlContext
    val views = MemoryStream[String](Encoders.STRING, sq)
    val buys = MemoryStream[String](Encoders.STRING, sq)
    val joined = EventStream.attributionJoin(
      EventStream.parseJson(views.toDF().select(col("value"))),
      EventStream.parseJson(buys.toDF().select(col("value"))),
      maxDelay = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("t_attr")
      .outputMode("append").start()
    try {
      views.addData(
        jsonOf(10, "2024-01-01 00:00:00", 1, "view", 1.0),  // in-window for buy 20
        jsonOf(11, "2024-01-01 00:30:00", 1, "view", 1.0),  // AFTER buy 20 — no pair
        jsonOf(12, "2024-01-01 00:01:00", 2, "view", 1.0))  // other user
      buys.addData(
        jsonOf(20, "2024-01-01 00:05:00", 1, "purchase", 9.0),
        jsonOf(21, "2024-01-01 00:20:00", 2, "purchase", 9.0)) // view 19min earlier — outside window
      q.processAllAvailable()
      val pairs = spark.table("t_attr").collect()
        .map(r => (r.getAs[Long]("lead_id"), r.getAs[Long]("follow_id"))).toSet
      assert(pairs == Set((10L, 20L)))
    } finally q.stop()
  }

  test("upsert sink: multi-batch accumulation, key updates, and replay idempotence") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/stream_upsert_${System.nanoTime()}"
    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[String](Encoders.STRING, sq)
      val classified = EventStream.classify(
        EventStream.parseJson(input.toDF().select(col("value"))))
      val q = EventStream.upsertSink(classified, s"$dir/data", s"$dir/$ckpt",
        Seq("alert_level"), Seq("event_id")).outputMode("append").start()
      try {
        // batch 1: two events, two partitions
        input.addData(
          jsonOf(1, "2024-01-01 00:00:00", 1, "click", 50.0),
          jsonOf(2, "2024-01-01 00:01:00", 2, "error", 350.0))
        q.processAllAvailable()
        // batch 2 hits the SAME level_0 partition (event 3) — batch 1's
        // event 1 must survive the rewrite — and UPDATES event 2's value
        input.addData(
          jsonOf(3, "2024-01-01 00:02:00", 3, "view", 60.0),
          jsonOf(2, "2024-01-01 00:01:00", 2, "error", 370.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    runOnce("ckpt_a")
    // fresh checkpoint = full replay of the same data (simulated
    // checkpoint loss) — the key-merge must not duplicate
    runOnce("ckpt_b")
    val back = spark.read.parquet(s"$dir/data")
    assert(back.count() == 3, "multi-batch partition lost rows or replay duplicated")
    assert(back.select("event_id").distinct().count() == 3)
    val e2 = back.filter(col("event_id") === 2).collect()
    assert(e2.length == 1 && e2.head.getAs[Double]("value") == 370.0,
      "key update did not take the latest batch's row")
  }

  private def parquetFiles(dir: String): Set[(String, Long)] =
    Option(new java.io.File(dir).listFiles()).toSet.flatten
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified())

  test("upsert batch: partitions the batch does not touch are never read") {
    import spark.implicits._
    val dir = s"target/graft_io/upsert_prune_${System.nanoTime()}"
    val first = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "p", "v")
    EventStream.upsertBatch(first, dir, Seq("p"), Seq("id"))
    // an unreadable file in partition b: any scan that opens it fails
    val junk = new java.io.File(s"$dir/p=b/part-99999-planted.parquet")
    java.nio.file.Files.write(junk.toPath, "not parquet".getBytes("UTF-8"))
    EventStream.upsertBatch(Seq((1L, "a", 10.0), (3L, "a", 3.0))
      .toDF("id", "p", "v"), dir, Seq("p"), Seq("id"))
    assert(junk.exists(), "an untouched partition must keep its files")
    val a = spark.read.schema(first.schema).parquet(dir)
      .filter(col("p") === "a").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("v")).toMap
    assert(a == Map(1L -> 10.0, 3L -> 3.0), s"touched partition merged: $a")
  }

  test("upsert batch: two partition columns with a null partition value") {
    import spark.implicits._
    val dir = s"target/graft_io/upsert_null_${System.nanoTime()}"
    def frame(rows: (Long, Option[String], Option[Int], Double)*) =
      rows.toDF("id", "p1", "p2", "v")
    val schema = frame().schema
    EventStream.upsertBatch(frame(
      (1L, Some("x"), Some(1), 1.0), (2L, Some("x"), None, 2.0),
      (3L, None, Some(2), 3.0)), dir, Seq("p1", "p2"), Seq("id"))
    assert(new java.io.File(s"$dir/p1=x/p2=__HIVE_DEFAULT_PARTITION__").isDirectory)
    val untouched = parquetFiles(s"$dir/p1=x/p2=1") ->
      parquetFiles(s"$dir/p1=__HIVE_DEFAULT_PARTITION__/p2=2")
    // updates key 2 and adds key 4 in (x, null); adds key 5 in (y, 1)
    EventStream.upsertBatch(frame(
      (2L, Some("x"), None, 20.0), (4L, Some("x"), None, 4.0),
      (5L, Some("y"), Some(1), 5.0)), dir, Seq("p1", "p2"), Seq("id"))
    val back = spark.read.schema(schema).parquet(dir).collect()
      .map(r => (r.getAs[Long]("id"), Option(r.getAs[String]("p1")),
        Option(r.get(r.fieldIndex("p2"))).map(_.asInstanceOf[Int]),
        r.getAs[Double]("v"))).toSet
    assert(back == Set((1L, Some("x"), Some(1), 1.0), (2L, Some("x"), None, 20.0),
      (3L, None, Some(2), 3.0), (4L, Some("x"), None, 4.0),
      (5L, Some("y"), Some(1), 5.0)), s"merged lake: $back")
    assert((parquetFiles(s"$dir/p1=x/p2=1") ->
      parquetFiles(s"$dir/p1=__HIVE_DEFAULT_PARTITION__/p2=2")) == untouched,
      "partitions the batch does not touch keep their files")
  }

  test("upsert batch: a lake without partition columns merges and replays") {
    import spark.implicits._
    val dir = s"target/graft_io/upsert_flat_${System.nanoTime()}"
    val second = Seq((2L, 20.0), (3L, 3.0)).toDF("id", "v")
    EventStream.upsertBatch(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), dir,
      Nil, Seq("id"))
    EventStream.upsertBatch(second, dir, Nil, Seq("id"))
    EventStream.upsertBatch(second, dir, Nil, Seq("id"))
    val back = spark.read.parquet(dir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("v")).sorted.toSeq
    assert(back == Seq(1L -> 1.0, 2L -> 20.0, 3L -> 3.0), s"merged lake: $back")
  }

  test("upsert batch: the first batch creates a missing lake, deduped by key") {
    import spark.implicits._
    val dir = s"target/graft_io/upsert_first_${System.nanoTime()}"
    assert(!new java.io.File(dir).exists())
    EventStream.upsertBatch(Seq((1L, "a", 1.0), (1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("id", "p", "v"), dir, Seq("p"), Seq("id"))
    val back = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("p"))).sorted.toSeq
    assert(back == Seq(1L -> "a", 2L -> "b"), s"first batch: $back")
  }

  test("mv sink: incremental view equals full agg; replay never double-counts; compact preserves") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/stream_mv_${System.nanoTime()}"
    val all = Seq(
      jsonOf(1, "2024-01-01 00:00:00", 1, "click", 10.0),
      jsonOf(2, "2024-01-01 00:01:00", 2, "click", 20.0),
      jsonOf(3, "2024-01-01 00:02:00", 3, "error", 5.0),
      jsonOf(4, "2024-01-01 00:03:00", 1, "click", 7.0),
      jsonOf(5, "2024-01-01 00:04:00", 2, "view", 2.0))
    def runOnce(ckpt: String): Unit = {
      val input = MemoryStream[String](Encoders.STRING, sq)
      val parsed = EventStream.parseJson(input.toDF().select(col("value")))
        .withColumn("n", lit(1L))
      val q = MvSink.mvSink(parsed, s"$dir/mv", s"$dir/$ckpt",
        Seq("event_type"), Seq("value", "n")).outputMode("append").start()
      try {
        input.addData(all.take(3): _*); q.processAllAvailable()
        input.addData(all.drop(3): _*); q.processAllAvailable()
      } finally q.stop()
    }
    runOnce("ckpt_a")
    // simulated checkpoint loss: the same batches replay into the same
    // __batch partitions — additive state must NOT double
    runOnce("ckpt_b")
    def view(): Map[String, (Double, Long)] =
      MvSink.readView(spark, s"$dir/mv", Seq("event_type"),
        Seq("value", "n")).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Double]("value"), r.getAs[Long]("n")))).toMap
    val expected = Map("click" -> ((37.0, 3L)), "error" -> ((5.0, 1L)),
      "view" -> ((2.0, 1L)))
    assert(view() == expected)
    MvSink.compact(spark, s"$dir/mv", Seq("event_type"), Seq("value", "n"))
    assert(view() == expected, "compaction changed the view")
    // partial history is folded to the single compacted partition
    assert(spark.read.parquet(s"$dir/mv")
      .select("__batch").distinct().count() == 1)
  }

  test("partitioned lake sink writes exactly-once with checkpoint") {
    implicit val sq = spark.sqlContext
    val dir = s"target/graft_io/stream_lake_${System.nanoTime()}"
    val input = MemoryStream[String](Encoders.STRING, sq)
    val classified = EventStream.classify(
      EventStream.parseJson(input.toDF().select(col("value"))))
    val q = EventStream.lakeSink(classified, s"$dir/data", s"$dir/ckpt",
      Seq("alert_level")).outputMode("append").start()
    try {
      input.addData(
        jsonOf(1, "2024-01-01 00:00:00", 1, "click", 50.0),
        jsonOf(2, "2024-01-01 00:01:00", 2, "error", 350.0))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/data")
      assert(back.count() == 2)
      assert(back.select("alert_level").distinct().count() == 2)
    } finally q.stop()
  }

  test("asofEnrich tags each event with the dimension version in force at event time") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val dim = Seq(
      (7L, t("2024-01-01 00:00:10"), "bronze"),
      (7L, t("2024-01-01 00:00:30"), "gold"),
      (8L, t("2024-01-01 00:00:20"), "silver"))
      .toDF("user_id", "valid_from", "state")
    val input = MemoryStream[Ev](org.apache.spark.sql.Encoders.product[Ev], sq)
    val q = EventStream.asofEnrich(input.toDF(), dim).writeStream
      .format("memory").queryName("t_asof_enrich").outputMode("append").start()
    try {
      input.addData(
        Ev(1, 7, t("2024-01-01 00:00:05")),  // before any version → null
        Ev(2, 7, t("2024-01-01 00:00:10")),  // boundary: inclusive
        Ev(3, 7, t("2024-01-01 00:00:29")),  // still bronze
        Ev(4, 7, t("2024-01-01 00:00:31")),  // upgraded
        Ev(5, 8, t("2024-01-01 00:00:25")),  // other key
        Ev(6, 9, t("2024-01-01 00:00:25")))  // key with no history
      q.processAllAvailable()
      val got = spark.table("t_asof_enrich")
        .collect().map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[String]("state"))).toMap
      assert(got == Map(1L -> None, 2L -> Some("bronze"),
        3L -> Some("bronze"), 4L -> Some("gold"), 5L -> Some("silver"),
        6L -> None))
      // zero streaming state: the progress metrics carry no state rows
      assert(Option(q.lastProgress).forall(_.stateOperators.isEmpty),
        "asofEnrich must not register a stateful operator")
    } finally q.stop()
  }
}
