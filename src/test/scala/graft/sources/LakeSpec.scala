package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class LakeSpec extends SparkSpec {

  test("compact collapses a fragmented lake dir without losing rows") {
    val dir = s"target/graft_io/compact_test"
    val li = Tables.lineitem(spark, sf)
    li.repartition(64).write.mode("overwrite").parquet(dir) // fragment: 64 files
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles > 30)
    val expected = li.count()
    val files = Lake.compact(spark, dir, targetRowsPerFile = expected / 2 + 1)
    assert(files == 2)
    assert(parquetFiles <= 2)
    assert(spark.read.parquet(dir).count() == expected)
  }

  test("compact preserves a hive-partitioned layout and rejects silent flattening") {
    val dir = s"target/graft_io/compact_part_test"
    val ev = Tables.events(spark, sf)
      .withColumn("day", dayofmonth(col("ts")))
    ev.repartition(8).write.mode("overwrite").partitionBy("day").parquet(dir)
    val expected = ev.count()
    // without partitionCols: refused, nothing touched
    intercept[IllegalArgumentException] {
      Lake.compact(spark, dir, targetRowsPerFile = expected)
    }
    assert(spark.read.parquet(dir).count() == expected)
    // with partitionCols: layout (and pruning) survive the rewrite
    Lake.compact(spark, dir, targetRowsPerFile = expected, partitionCols = Seq("day"))
    val back = spark.read.parquet(dir)
    assert(back.count() == expected)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("day=")))
    val pruned = back.filter(col("day") === 1)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(day"))
  }

  test("manifest read skips non-overlapping files, keeps straddlers, matches a full scan") {
    val data = "target/graft_io/manifest_test"
    val meta = "target/graft_io/manifest_test_meta"
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    li.repartitionByRange(8, col("l_orderkey"))
      .write.mode("overwrite").parquet(data)
    Lake.buildManifest(spark, data, meta, Seq("l_orderkey"))
    val m = spark.read.parquet(meta).collect()
    assert(m.length == 8, "one manifest row per data file")
    assert(m.map(_.getAs[Long]("n_rows")).sum == li.count())

    // a range inside ONE file's band: the read must touch fewer files
    // than the lake holds, and agree exactly with filter-after-full-scan
    val bounds = m.map(r => (r.getAs[Long]("min_l_orderkey"),
      r.getAs[Long]("max_l_orderkey"))).sortBy(_._1)
    val (lo, hi) = bounds(3) // file #3's exact band — a straddler by construction
    val pruned = Lake.manifestPrunedRead(spark, data, meta, "l_orderkey", lo, hi)
    assert(pruned.inputFiles.length < 8,
      s"expected skipping, read ${pruned.inputFiles.length} files")
    val expect = li.filter(col("l_orderkey").between(lo, hi))
    assert(pruned.count() == expect.count())
    assert(pruned.agg(sum("l_quantity")).head().getDouble(0) ==
      expect.agg(sum("l_quantity")).head().getDouble(0))

    // boundary straddle: [band3.max, band4.min] touches exactly the
    // files whose range overlaps — conservative, never lossy
    val (_, maxLo) = bounds(3); val (minHi, _) = bounds(4)
    val straddle =
      Lake.manifestPrunedRead(spark, data, meta, "l_orderkey", maxLo, minHi)
    assert(straddle.count() ==
      li.filter(col("l_orderkey").between(maxLo, minHi)).count())

    // empty survivor set: schema preserved, zero rows, no dir listing
    val none = Lake.manifestPrunedRead(spark, data, meta,
      "l_orderkey", -500L, -1L)
    assert(none.count() == 0)
    assert(none.columns.toSeq == Seq("l_orderkey", "l_quantity"))

    // incremental maintenance: append a batch OUTSIDE every existing
    // band; only the new files are statted, and a pruned read over the
    // fresh range finds exactly the appended rows without a rebuild
    import spark.implicits._
    val maxKey = bounds.last._2
    Seq((maxKey + 500L, 1.0), (maxKey + 600L, 2.0))
      .toDF("l_orderkey", "l_quantity")
      .coalesce(1).write.mode("append").parquet(data)
    val freshFiles = Lake.updateManifest(spark, data, meta, Seq("l_orderkey"))
    assert(freshFiles == 1, s"expected 1 new file statted, got $freshFiles")
    assert(Lake.updateManifest(spark, data, meta, Seq("l_orderkey")) == 0,
      "a second pass with no new data must stat nothing")
    val fresh = Lake.manifestPrunedRead(spark, data, meta,
      "l_orderkey", maxKey + 1L, maxKey + 1000L)
    assert(fresh.inputFiles.length == 1 && fresh.count() == 2)
    assert(fresh.agg(sum("l_quantity")).head().getDouble(0) == 3.0)
  }

  test("schema evolution: merged read surfaces added columns as null on old files") {
    val sup = Tables.supplier(spark, sf)
    val dir = s"target/graft_io/test/evolve_${System.nanoTime()}"
    val merged = Lake.schemaEvolutionRoundtrip(spark,
      sup.filter(col("s_suppkey") % 2 === 0).select("s_suppkey", "s_name"),
      sup.filter(col("s_suppkey") % 2 === 1)
        .select("s_suppkey", "s_name", "s_acctbal"),
      dir)
    assert(merged.columns.toSet == Set("s_suppkey", "s_name", "s_acctbal"))
    assert(merged.count() == sup.count())
    // every v1 (even-key) row reads null for the later-added column
    assert(merged.filter(col("s_suppkey") % 2 === 0 &&
      col("s_acctbal").isNotNull).isEmpty)
    assert(merged.filter(col("s_suppkey") % 2 === 1 &&
      col("s_acctbal").isNull).isEmpty)
  }

  test("text-line roundtrip splits on the FIRST tab; payload tabs survive") {
    import spark.implicits._
    val dir = s"target/graft_io/test/text_rt_${System.nanoTime()}"
    val docs = Seq((1L, "plain words"), (2L, "has\ta\ttab"), (3L, ""))
      .toDF("doc_id", "text")
    val back = Lake.textRoundtrip(spark, docs, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(back == Map(1L -> "plain words", 2L -> "has\ta\ttab", 3L -> ""))
  }

  test("bloom manifest: point lookup prunes files with zero false negatives") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = s"target/graft_io/bloom_${System.nanoTime()}"
    // cluster on v so the key sprays: every file's key [min,max]
    // straddles, min/max skipping would keep all 8 files
    (0L until 4000L).map(i => (i % 500, i))
      .toDF("k", "v")
      .repartitionByRange(8, col("v"))
      .write.parquet(s"$dir/data")
    Lake.buildBloomManifest(spark, s"$dir/data", s"$dir/meta", "k")
    val full = spark.read.parquet(s"$dir/data")
    // every probed key returns EXACTLY the full-scan answer (no false
    // negatives, pruning is only ever an optimization)
    for (key <- Seq(0L, 123L, 499L)) {
      val pruned = Lake.bloomPrunedLookup(spark, s"$dir/data",
        s"$dir/meta", "k", key)
      val exact = full.filter(col("k") === key)
        .collect().map(_.getLong(1)).sorted.toSeq
      assert(pruned.collect().map(_.getLong(1)).sorted.toSeq == exact,
        s"key $key: pruned lookup diverged from the full scan")
    }
    // a key outside the domain: the bloom should drop (almost) every
    // file; with 8192 bits and ~2000 set, all-8-files survival of 4
    // independent probes is astronomically unlikely
    val miss = Lake.bloomPrunedLookup(spark, s"$dir/data", s"$dir/meta",
      "k", 999999L)
    assert(miss.count() == 0)
    assert(miss.inputFiles.length < full.inputFiles.length,
      "absent key must prune at least one file")

    // append path: a new batch carrying a brand-new key is statted
    // incrementally (only the fresh files), and the lookup finds it
    Seq((7777L, -1L), (7777L, -2L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    val freshBefore = Lake.updateBloomManifest(spark, s"$dir/data",
      s"$dir/meta", "k")
    assert(freshBefore == 1, s"exactly the appended file: $freshBefore")
    assert(Lake.updateBloomManifest(spark, s"$dir/data", s"$dir/meta",
      "k") == 0, "re-running must stat nothing")
    val found = Lake.bloomPrunedLookup(spark, s"$dir/data", s"$dir/meta",
      "k", 7777L)
    assert(found.collect().map(_.getLong(1)).sorted.toSeq == Seq(-2L, -1L))
  }

  test("deletion vectors: merge-on-read delete never touches data files") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = s"target/graft_io/dv_test_${System.nanoTime()}"
    (1L to 100L).map(i => (i, s"row$i")).toDF("id", "payload")
      .write.parquet(dir)
    def dataFiles = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSet
    val before = dataFiles
    // no sidecar yet: the read is the plain lake
    assert(Lake.readWithDeletes(spark, dir, "id").count() == 100)
    val doomed = Seq(3L, 7L, 7L, 50L).toDF("id") // dup submission in-batch
    Lake.appendDeletes(doomed, dir, "id")
    Lake.appendDeletes(doomed, dir, "id") // at-least-once redelivery
    val after = Lake.readWithDeletes(spark, dir, "id")
    assert(after.count() == 97, "3 distinct keys deleted, dups ignored")
    assert(after.filter(col("id").isin(3L, 7L, 50L)).count() == 0)
    assert(dataFiles == before,
      "delete must append to the _dv sidecar only — data files untouched")
  }

  test("corruptJsonAudit: the injected mod-97 faults all quarantine, " +
      "every clean line parses, and survivor revenue is exact") {
    import spark.implicits._
    val dir = s"target/graft_io/json_corrupt_test"
    // keys 97 and 194 get truncated in the lake; 1..5 stay clean
    val orders = Seq((1L, "O", 10.0), (2L, "F", 20.0), (3L, "O", 30.0),
      (4L, "P", 40.5), (5L, "F", 50.0), (97L, "O", 99.0),
      (194L, "F", 88.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val r = Lake.corruptJsonAudit(spark, orders, dir).collect().head
    assert(r.getAs[Long]("n_good") == 5L, s"$r")
    assert(r.getAs[Long]("n_quarantined") == 2L, s"$r")
    assert(r.getAs[Long]("good_cents") == 15050L, s"$r")
    assert(r.getAs[Long]("n_status") == 3L, s"$r")
  }
}
