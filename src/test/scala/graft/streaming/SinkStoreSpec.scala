package graft.streaming

import java.io.File

import graft.SparkSpec
import graft.operators.Dwh
import graft.sources.Lake
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A parquet committer whose job commit always fails: the write failure
  * that strikes after a plain overwrite has already deleted its path. */
class FailingCommitter(out: Path, ctx: TaskAttemptContext)
    extends ParquetOutputCommitter(out, ctx) {
  override def commitJob(job: JobContext): Unit =
    throw new java.io.IOException("injected job-commit failure")
}

/** The sinks' shared store: failed writes keep the last snapshot, a
  * store directory with nothing visible in it reads as absent, and the
  * snapshot swap recovers from a crash between its renames. */
class SinkStoreSpec extends SparkSpec {

  import spark.implicits._

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  /** Runs `body` with every parquet job commit failing. */
  private def failingCommit(body: => Unit): Unit = {
    val key = "spark.sql.parquet.output.committer.class"
    spark.conf.set(key, classOf[FailingCommitter].getName)
    try intercept[Exception](body) finally spark.conf.unset(key)
  }

  private def poison(df: DataFrame, key: String, at: Long): DataFrame =
    df.withColumn(key, when(col(key) === at,
      raise_error(lit("poisoned row"))).otherwise(col(key)))

  /** `good` applied in order through `write` is the reference. On a
    * store holding `good.head`, a batch with a `raise_error` row and then
    * `good(1)` under a failing job commit must each fail and leave the
    * snapshot reading as before; `good.tail` then applies as usual. */
  private def failedWritesKeepSnapshot(name: String,
      write: (DataFrame, String) => Unit, good: Seq[DataFrame],
      poisoned: DataFrame): Unit = {
    val dir = s"target/graft_io/failed_${name}_${System.nanoTime()}"
    good.foreach(write(_, s"$dir/want"))
    val store = s"$dir/store"
    write(good.head, store)
    val before = rows(store)
    intercept[Exception](write(poisoned, store))
    assert(rows(store) == before, s"$name: a failed batch changed the snapshot")
    failingCommit(write(good(1), store))
    assert(rows(store) == before, s"$name: a failed commit changed the snapshot")
    good.tail.foreach(write(_, store))
    assert(rows(store) == rows(s"$dir/want"),
      s"$name: the next good batch did not apply")
  }

  private def ts(sec: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")

  private val cdc1 = Seq((1L, "I", "a", ts(1), 1L), (2L, "I", "b", ts(2), 2L))
    .toDF("k", "op", "ns", "t", "ord")
  private val cdc2 = Seq((1L, "U", "a2", ts(3), 3L), (2L, "D", "x", ts(4), 4L),
    (3L, "I", "c", ts(5), 5L)).toDF("k", "op", "ns", "t", "ord")
  private def cdcApply(df: DataFrame, p: String): Unit =
    CdcSink.applyBatch(df, p, "k", "op", "ns", "t", "ord")

  private val obs1 = Seq((1L, "A", ts(1), 1L), (2L, "X", ts(2), 2L))
    .toDF("k", "state", "t", "ord")
  private val obs2 = Seq((1L, "B", ts(3), 3L), (3L, "N", ts(4), 4L))
    .toDF("k", "state", "t", "ord")
  private def scd2Apply(df: DataFrame, p: String): Unit =
    DimensionSink.applyBatch(df, p, "k", "state", "t", "ord")
  private def heal(df: DataFrame, p: String): Unit =
    InferredMemberSink.healDims(df, p, "k", "state", "t", "ord")

  test("failed write: CdcSink keeps the previous snapshot") {
    failedWritesKeepSnapshot("cdc", cdcApply, Seq(cdc1, cdc2),
      poison(cdc2, "k", 3L))
  }

  test("failed write: DimensionSink keeps the previous table") {
    failedWritesKeepSnapshot("scd2", scd2Apply, Seq(obs1, obs2),
      poison(obs2, "k", 3L))
  }

  test("failed write: InferredMemberSink.healDims keeps the previous lake") {
    failedWritesKeepSnapshot("heal", heal, Seq(obs1, obs2),
      poison(obs2, "k", 3L))
  }

  test("failed write: unpartitioned upsertBatch keeps the previous lake") {
    val b1 = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    val b2 = Seq((2L, 20.0), (3L, 3.0)).toDF("id", "v")
    failedWritesKeepSnapshot("upsert",
      EventStream.upsertBatch(_, _, Nil, Seq("id")), Seq(b1, b2),
      poison(b2, "id", 3L))
  }

  test("failed write: MvSink.compact keeps the partials") {
    val store = s"target/graft_io/failed_mv_${System.nanoTime()}"
    val (keys, adds) = (Seq("k"), Seq("v"))
    MvSink.mvBatch(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), store, keys, adds, 0L)
    MvSink.mvBatch(Seq(("a", 3L)).toDF("k", "v"), store, keys, adds, 1L)
    val before = rows(store)
    failingCommit(MvSink.compact(spark, store, keys, adds))
    assert(rows(store) == before, "a failed compaction changed the partials")
    MvSink.compact(spark, store, keys, adds)
    assert(rows(store) == Seq("[a,4,-1]", "[b,2,-1]"))
  }

  /** A store directory holding nothing a reader sees, as a failed first
    * write leaves it. */
  private def emptyStores(name: String): Seq[String] = {
    val dir = s"target/graft_io/empty_${name}_${System.nanoTime()}"
    Seq("" -> "empty", ".spark-staging-0e2c" -> "staging",
      "_temporary/0" -> "temporary").map { case (inner, kind) =>
      new File(s"$dir/$kind/$inner").mkdirs()
      s"$dir/$kind"
    }
  }

  test("empty store: OnlineSgdSink.weightsBefore starts from zeros") {
    emptyStores("sgd").foreach(p =>
      assert(OnlineSgdSink.weightsBefore(spark, p, 3L, 2).toSeq ==
        Seq(0.0, 0.0, 0.0), p))
  }

  test("empty store: Cms, Bloom and Fingerprint read sides give empty answers") {
    emptyStores("sketch").foreach { p =>
      assert(CmsSink.estimates(spark, p, Seq("a", "b")).collect()
        .map(_.getAs[Long]("estimate")).toSeq == Seq(0L, 0L), p)
      assert(BloomSink.contains(spark, p, Seq("a", "b")).collect()
        .map(_.getAs[Boolean]("maybe_present")).toSeq == Seq(false, false), p)
      val fp = FingerprintSink.report(spark, p).head()
      assert(fp.getLong(0) == 0L && fp.getLong(1) == 0L, p)
    }
  }

  test("empty store: Cdc, Dimension and InferredMember take the next batch as their first") {
    val dir = s"target/graft_io/empty_first_${System.nanoTime()}"
    val facts = Seq(1L, 2L, 5L).toDF("fk")
    val sites: Seq[(String, String => Unit)] = Seq(
      "cdc" -> (cdcApply(cdc1, _)), "scd2" -> (scd2Apply(obs1, _)),
      "facts" -> (InferredMemberSink.admitFacts(facts, _, "fk")),
      "heal" -> (heal(obs1, _)))
    sites.foreach { case (name, write) =>
      write(s"$dir/$name")
      emptyStores(name).foreach { p =>
        write(p)
        assert(rows(p) == rows(s"$dir/$name"), s"$name over $p")
      }
    }
  }

  private def values(p: String): Seq[Int] =
    spark.read.parquet(p).as[Int].collect().sorted.toSeq

  test("swap: an interrupted swap is finished before the next write reads") {
    val p = s"target/graft_io/swap_finish_${System.nanoTime()}/snap"
    // the crash: path moved aside, the complete new snapshot beside it
    Seq(1, 2).toDF("x").write.parquet(s"$p.__next")
    Seq(0).toDF("x").write.parquet(s"$p.__prev")
    assert(new File(s"$p.__next/_SUCCESS").exists)
    Lake.swapIn(spark, p)(next => Lake.readStore(spark, p).get
      .union(Seq(3).toDF("x")).write.parquet(next))
    assert(values(p) == Seq(1, 2, 3))
    assert(!new File(s"$p.__next").exists && !new File(s"$p.__prev").exists)
  }

  test("swap: an aside without _SUCCESS is discarded") {
    val dir = s"target/graft_io/swap_partial_${System.nanoTime()}"
    def partialAside(p: String): Unit = {
      Seq(7, 8).toDF("x").write.parquet(s"$p.__next")
      new File(s"$p.__next/_SUCCESS").delete()
    }
    // no snapshot yet: the half-written first snapshot is not one
    partialAside(s"$dir/first")
    Lake.swapIn(spark, s"$dir/first") { next =>
      assert(Lake.readStore(spark, s"$dir/first").isEmpty)
      Seq(9).toDF("x").write.parquet(next)
    }
    assert(values(s"$dir/first") == Seq(9))
    // a snapshot in place: it is read, the partial aside is not
    Seq(1).toDF("x").write.parquet(s"$dir/kept")
    partialAside(s"$dir/kept")
    Lake.swapIn(spark, s"$dir/kept")(next => Lake.readStore(spark, s"$dir/kept")
      .get.union(Seq(2).toDF("x")).write.parquet(next))
    assert(values(s"$dir/kept") == Seq(1, 2))
  }

  test("swap: AccumulatingSink resumes a batch whose swap a crash interrupted") {
    val state = s"target/graft_io/acc_swap_${System.nanoTime()}/state"
    val ms = Seq("signup", "click", "purchase")
    def events(rows: (Long, String, Long)*) = rows.toDF("user_id", "event_type", "s")
      .select(col("user_id"), col("event_type"), timestamp_seconds(col("s")).as("ts"))
    val b1 = events((1L, "signup", 0L), (2L, "signup", 10L))
    val b2 = events((1L, "click", 20L), (3L, "signup", 30L))
    AccumulatingSink.applyBatch(b1, state, ms)
    // batch 2 crashed between the renames: its snapshot is complete in
    // .__next and the previous one sits in .__prev
    Dwh.accumulatingApply(spark.read.parquet(state), b2, ms)
      .write.parquet(s"$state.__next")
    assert(new File(state).renameTo(new File(s"$state.__prev")))
    // the restart re-runs batch 2
    AccumulatingSink.applyBatch(b2, state, ms)
    val rebuilt = Dwh.accumulatingSnapshot(b1.union(b2), ms)
    assert(rows(state) == rebuilt.collect().map(_.toString).sorted.toSeq)
  }
}
