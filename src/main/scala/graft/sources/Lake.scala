package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

/** Lake IO layer (reference: work/Intro_pySpark.ipynb multi-format
  * read/write with header/inferSchema options; work/batch_profiling_
  * enriched.py + weather_to_hdfs.py partitioned country/city/year lake
  * layout; work/Projet/preparation_noaa.ipynb schema-on-read CSV over
  * glob paths and a parquet raw layer).
  *
  * Explicit schemas everywhere on the scale path: `inferSchema` is a
  * full extra pass over the data (the reference notebook measures it) —
  * fine interactively, never at 100 TB. Partitioned parquet writes are
  * hive-style so downstream readers get partition pruning for free.
  */
object Lake {

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** `lake` cut down to the partition tuples in `parts` (one row per
    * tuple, values in `partitionCols` order) by a static null-safe
    * predicate. Unlike a join on the tuple, the predicate lands in the
    * scan's PartitionFilters, so no other partition's files are read; a
    * null value matches the `__HIVE_DEFAULT_PARTITION__` directory. The
    * disjunction is built balanced: a backfill frame can touch thousands
    * of partitions, and every optimizer pass recurses as deep as the
    * expression tree. */
  private[graft] def inPartitions(lake: DataFrame, partitionCols: Seq[String],
                                  parts: Seq[Row]): DataFrame = {
    def anyOf(ps: Seq[Column]): Column =
      if (ps.length == 1) ps.head
      else { val (l, r) = ps.splitAt(ps.length / 2); anyOf(l) || anyOf(r) }
    val tuples = parts.map(r => partitionCols.zipWithIndex
      .map { case (c, i) => col(c) <=> lit(r.get(i)) }.reduce(_ && _))
    lake.filter(if (tuples.isEmpty) lit(false) else anyOf(tuples))
  }

  // ---- the streaming sinks' store -------------------------------------

  /** The checkpointed writer every streaming sink returns: `body` runs
    * on each micro-batch with its batch id. After a crash the query
    * restarts on `checkpoint` and re-runs the last uncommitted batch id
    * over the same input, so `body` must be replay-safe. */
  def batchSink(df: DataFrame, checkpoint: String)
               (body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)

  /** The per-batch store write and its replay discipline: micro-batch
    * `batchId`'s partial `df` lands in its own `__batch=<id>` partition
    * of `path` by dynamic partition overwrite. A batch re-run after a
    * crash, or redelivered by an at-least-once source, recomputes the
    * same partial from the same rows (every partial written here is
    * deterministic in its batch) and replaces its own partition with
    * identical bytes, so nothing is counted twice. No store state is
    * read on this write path; readers merge the partitions, and read
    * `__batch` as the batch id. */
  def writeBatchPartition(df: DataFrame, batchId: Long, path: String): Unit =
    df.withColumn("__batch", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch")
      .parquet(path)

  /** The parquet store at `path`, or None while there is none: the path
    * is missing or holds no entry a reader sees. A failed first write
    * leaves such a directory (empty, or holding only `_temporary` or
    * `.spark-staging-*`), and reading it would fail schema inference.
    * Hidden names follow Spark's file index: a leading `.`, or a leading
    * `_` outside a `k=v` partition directory. `schema` skips inference. */
  def readStore(spark: SparkSession, path: String,
                schema: Option[StructType] = None): Option[DataFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val visible = fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
    }
    if (!visible) None
    else Some(schema.fold(spark.read)(spark.read.schema).parquet(path))
  }

  /** Replace the snapshot at `path` with what `write` writes into the
    * directory it is given; `write` may read `path` (through
    * [[readStore]]) and its result is returned. The new snapshot is
    * written beside the path, in `<path>.__next`, so a failed write leaves
    * the old one as it was (a plain overwrite deletes the path before its
    * job runs). The swap then moves the old snapshot aside to
    * `<path>.__prev` and the new one in, checking both renames
    * (HDFS-style FileSystems report a failed rename by returning false)
    * and moving the old one back when the second fails; the old copy is
    * deleted only once the new one is in place.
    *
    * A crash between the two renames leaves `path` missing beside a
    * complete `.__next`, which carries its job's `_SUCCESS` marker. The
    * next call finishes that swap before `write` runs, so the read sees
    * the last snapshot instead of none; a `.__next` without the marker
    * is discarded. One writer per path: a reader racing the renames can
    * see the path briefly missing. */
  def swapIn[T](spark: SparkSession, path: String)(write: String => T): T = {
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = new Path(path.stripSuffix("/") + ".__next")
    val prev = new Path(path.stripSuffix("/") + ".__prev")
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"failed to rename $from to $to")
    if (!fs.exists(dst) && fs.exists(new Path(next, "_SUCCESS")))
      rename(next, dst)
    fs.delete(next, true)
    fs.delete(prev, true)
    val out = write(next.toString)
    val had = fs.exists(dst)
    if (had) rename(dst, prev)
    try rename(next, dst)
    catch {
      case e: java.io.IOException =>
        if (had) fs.rename(prev, dst) // the new snapshot stays in .__next
        throw e
    }
    fs.delete(prev, true)
    out
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Hive-style partitioned lake write (reference's country/city/year
    * directory layout, done natively so readers prune partitions). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Small-file compaction: rewrite a parquet dir into ~`targetRowsPerFile`
    * chunks. Streaming sinks and frequent small batch appends fragment a
    * lake into thousands of tiny files; scans then pay per-file open +
    * footer costs and lose run-length locality. Run this as the
    * maintenance pass (the lakehouse OPTIMIZE analog).
    *
    * Hive-partitioned inputs must pass their `partitionCols` so the
    * rewrite preserves the layout (and pruning); compacting one without
    * them is rejected rather than silently flattened. The rewrite
    * replaces the dir through [[swapIn]]: a failed rewrite or rename
    * leaves the data in place, and readers racing the swap can observe
    * a briefly missing path, so run compaction in a maintenance window
    * or behind a catalog swap. */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long,
              partitionCols: Seq[String] = Nil): Long =
    swapIn(spark, path) { next =>
      // resolve the filesystem OWNING `path` (s3a://, hdfs://, file://) —
      // FileSystem.get(conf) returns the default scheme's FS and throws
      // Wrong-FS (or hits the wrong store) for any non-default lake
      val dst = new Path(path)
      val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hivePartitioned = fs.listStatus(dst).exists(s =>
        s.isDirectory && s.getPath.getName.contains("="))
      require(partitionCols.nonEmpty || !hivePartitioned,
        s"$path is hive-partitioned; pass partitionCols to preserve the layout")
      val df = spark.read.parquet(path)
      val rows = df.count()
      val files = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
      val writer =
        if (partitionCols.isEmpty) df.repartition(files).write
        else df.repartition(files, partitionCols.map(col): _*)
          .write.partitionBy(partitionCols: _*)
      writer.parquet(next)
      files
    }

  /** File-level min/max MANIFEST over a parquet lake — the data-skipping
    * half of a lakehouse table format (Delta `add.stats` / Iceberg
    * manifest files), rebuilt on plain parquet dirs. One scan groups by
    * `input_file_name()` into one row per FILE carrying each stat
    * column's [min, max] and the row count; the manifest itself is a
    * tiny single-file parquet (1 row per data file — KBs per PB).
    *
    * Why it matters at 100 TB: Spark's own parquet skipping still has to
    * LIST the data dir and open every footer before it can drop a
    * row-group. With 100k+ files that listing+footer pass dominates
    * selective queries; a manifest turns it into one small-file read.
    * Pair with [[zorderWrite]]/repartitionByRange so per-file ranges are
    * tight — stats over randomly-placed rows skip nothing. */
  def buildManifest(spark: SparkSession, dataDir: String,
                    manifestDir: String, statCols: Seq[String]): Unit = {
    val stats = statCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(dataDir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), stats: _*)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(manifestDir)
  }

  /** Incremental manifest maintenance — the append path: stat ONLY the
    * data files the manifest does not know yet and append their rows to
    * the manifest dir (its own parquet append — no rewrite of existing
    * manifest files). Returns how many fresh files were statted. A lake
    * ingesting batches all day re-runs this per batch and never
    * re-scans history — the same incremental contract as the ANN
    * index's appendToIvfIndex. The full listing here is once per
    * MAINTENANCE pass, not per query (and in a commit-log table format
    * the fresh-file list would arrive from the log instead). */
  def updateManifest(spark: SparkSession, dataDir: String,
                     manifestDir: String, statCols: Seq[String]): Int = {
    val known = spark.read.parquet(manifestDir)
      .select("file").collect().map(_.getString(0)).toSet
    val fresh = spark.read.parquet(dataDir).inputFiles.filterNot(known)
    if (fresh.nonEmpty) {
      val stats = statCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      spark.read.parquet(fresh.toIndexedSeq: _*)
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_rows"), stats: _*)
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(manifestDir)
    }
    fresh.length
  }

  /** Manifest-pruned range read: keep only files whose [min, max]
    * OVERLAPS [lo, hi] (straddling files survive — skipping is
    * conservative, never lossy), hand the reader that explicit file
    * list, and re-apply the predicate as the residual filter for the
    * rows a surviving file carries outside the range. The file list is
    * a driver-side collect BY DESIGN: it is file paths (bounded by file
    * count, not data), exactly what a Delta/Iceberg planner also
    * materializes on the driver. An empty survivor set short-circuits
    * to an empty frame with the lake's schema — the reader never lists
    * the data dir at all. */
  def manifestPrunedRead(spark: SparkSession, dataDir: String,
                         manifestDir: String, c: String,
                         lo: Any, hi: Any): DataFrame = {
    val files = spark.read.parquet(manifestDir)
      .filter(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
      .select("file").collect().map(_.getString(0))
    val base =
      if (files.isEmpty) spark.read.parquet(dataDir).filter(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
  }

  /** Per-file BLOOM manifest for POINT lookups on a high-cardinality
    * long key — the skipping primitive min/max ranges can't provide:
    * after a z-order or range clustering on OTHER columns, a point key
    * is sprayed across files and every [min,max] straddles it, but a
    * per-file Bloom answers "this file cannot contain key K" exactly
    * k-hashes deep (Delta's bloom filter index / ORC bloom analog,
    * rebuilt on plain parquet).
    *
    * Representation: per file, the SORTED DISTINCT bit positions set by
    * its keys (k positions per key, `pmod(xxhash64(key, seed), bits)`)
    * — an int array bounded by `bits` regardless of row count, exact to
    * query because membership is array containment of the probe's own
    * k positions. All hashing runs through the engine's `xxhash64`
    * Column (codegen'd, and the probe re-derives positions through the
    * SAME expression — no reimplementation to drift). One scan, one
    * per-file rollup, manifest is one tiny file. False positives cost
    * one extra file read; false negatives are impossible
    * (spec-locked: pruned lookup ≡ full-scan filter on every probe). */
  def buildBloomManifest(spark: SparkSession, dataDir: String,
                         manifestDir: String, keyCol: String,
                         bits: Int = 8192, k: Int = 4): Unit = {
    val pos = (0 until k).map(i =>
      pmod(xxhash64(col(keyCol), lit(i)), lit(bits)).cast("int"))
    spark.read.parquet(dataDir)
      .select(input_file_name().as("file"),
        explode(array(pos: _*)).as("p"))
      .groupBy("file")
      .agg(sort_array(collect_set(col("p"))).as("positions"),
        count(lit(1)).as("n_bits_set"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(manifestDir)
  }

  /** Incremental Bloom-manifest maintenance — the append path, same
    * contract as [[updateManifest]]: hash ONLY the data files the
    * manifest does not know yet and append their position rows (no
    * rewrite of existing manifest entries). Per-batch cost is the
    * fresh files' scan, never history. */
  def updateBloomManifest(spark: SparkSession, dataDir: String,
                          manifestDir: String, keyCol: String,
                          bits: Int = 8192, k: Int = 4): Int = {
    val known = spark.read.parquet(manifestDir)
      .select("file").collect().map(_.getString(0)).toSet
    val fresh = spark.read.parquet(dataDir).inputFiles.filterNot(known)
    if (fresh.nonEmpty) {
      val pos = (0 until k).map(i =>
        pmod(xxhash64(col(keyCol), lit(i)), lit(bits)).cast("int"))
      spark.read.parquet(fresh.toIndexedSeq: _*)
        .select(input_file_name().as("file"),
          explode(array(pos: _*)).as("p"))
        .groupBy("file")
        .agg(sort_array(collect_set(col("p"))).as("positions"),
          count(lit(1)).as("n_bits_set"))
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(manifestDir)
    }
    fresh.length
  }

  /** Bloom-pruned point lookup: derive the probe key's k positions
    * through the same engine expression the build used, keep only
    * files whose position set contains ALL of them (driver-side over
    * the files-sized manifest — the same bounded collect every
    * lakehouse planner does), and re-apply the exact predicate on the
    * surviving files. */
  def bloomPrunedLookup(spark: SparkSession, dataDir: String,
                        manifestDir: String, keyCol: String, key: Long,
                        bits: Int = 8192, k: Int = 4): DataFrame = {
    val probe = spark.range(1).select((0 until k).map(i =>
      pmod(xxhash64(lit(key), lit(i)), lit(bits)).cast("int").as(s"p$i"))
      : _*).collect().head
    val positions = (0 until k).map(probe.getInt)
    val files = spark.read.parquet(manifestDir)
      .filter(positions.map(p => array_contains(col("positions"), p))
        .reduce(_ && _))
      .select("file").collect().map(_.getString(0))
    val base =
      if (files.isEmpty) spark.read.parquet(dataDir).filter(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    base.filter(col(keyCol) === lit(key))
  }

  /** Z-order clustered rewrite — sort rows along the bit-interleaved
    * (Morton) curve of two numeric columns so parquet footer min/max
    * stats become selective on BOTH dimensions at once (the lakehouse
    * OPTIMIZE ZORDER analog; a plain sort clusters only its leading
    * column and leaves the second dimension's per-file range at ~100%).
    * Multi-dim data skipping is what makes a 100 TB lake scannable by
    * more than one predicate shape.
    *
    * Scale shape: one min/max agg (1-row broadcast back), then the
    * z-value is a pure codegen'd Column (no UDF), and the physical
    * clustering is `repartitionByRange(z)` + `sortWithinPartitions(z)`
    * — a range shuffle whose sampling handles skew, never a global
    * single-partition sort. Quantization to `bits` per dim caps the
    * interleave at 2·bits ops; ties within a quantum are broken by the
    * range partitioner arbitrarily, which only blurs file boundaries,
    * never correctness (ZorderSpec locks content + per-file ranges). */
  def zorderWrite(df: DataFrame, path: String, colA: String, colB: String,
                  files: Int = 8, bits: Int = 16): DataFrame = {
    val spark = df.sparkSession
    zorderCluster(df, colA, colB, files, bits)
      .write.mode(SaveMode.Overwrite).parquet(path)
    spark.read.parquet(path)
  }

  /** The clustered (but unwritten) frame behind [[zorderWrite]] —
    * separate so PlanAuditSpec can assert the range-shuffle plan shape. */
  def zorderCluster(df: DataFrame, colA: String, colB: String,
                    files: Int, bits: Int = 16): DataFrame = {
    val mm = df.agg(
      min(col(colA)).cast("double").as("__amin"),
      max(col(colA)).cast("double").as("__amax"),
      min(col(colB)).cast("double").as("__bmin"),
      max(col(colB)).cast("double").as("__bmax"))
    val top = (1L << bits) - 1
    def quant(c: Column, lo: Column, hi: Column): Column =
      least(lit(top), greatest(lit(0L),
        floor((c.cast("double") - lo) / nullif(hi - lo, lit(0.0))
          * top).cast("long")))
    df.crossJoin(broadcast(mm))
      .withColumn("__qa", coalesce(
        quant(col(colA), col("__amin"), col("__amax")), lit(0L)))
      .withColumn("__qb", coalesce(
        quant(col(colB), col("__bmin"), col("__bmax")), lit(0L)))
      .withColumn("__z", (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
        acc
          .bitwiseOR(shiftleft(shiftright(col("__qa"), i).bitwiseAND(lit(1L)),
            2 * i + 1))
          .bitwiseOR(shiftleft(shiftright(col("__qb"), i).bitwiseAND(lit(1L)),
            2 * i))
      })
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__amin", "__amax", "__bmin", "__bmax", "__qa", "__qb", "__z")
  }

  /** Round-trips for the driver contract: write to a scratch dir under
    * target/ then read back with an explicit schema. */
  def csvRoundtrip(spark: SparkSession, df: DataFrame, dir: String): DataFrame = {
    writeCsv(df, dir)
    readCsv(spark, dir, df.schema)
  }

  def jsonRoundtrip(spark: SparkSession, df: DataFrame, dir: String): DataFrame = {
    writeJson(df, dir)
    readJson(spark, dir, df.schema)
  }

  /** PERMISSIVE-mode corrupt-record QUARANTINE accounting — the
    * bad-record path every real JSON lake needs (FAILFAST kills a
    * 100 TB job on one mangled line; DROPMALFORMED silently loses
    * data; PERMISSIVE parses what it can, routes the raw line to the
    * corrupt-record column, and lets the pipeline COUNT what it
    * quarantined — this surface locks that machinery end to end):
    * orders serialize to JSONL with a DETERMINISTIC fault injection
    * (every key ≡ 0 mod 97 loses its last 5 characters — always
    * invalid: the closing brace is gone and the flat object contains
    * no other '}'), the read-back declares the schema plus a
    * `_corrupt` column, and the report aggregates good/quarantined
    * counts, the revenue that SURVIVED, and the distinct statuses
    * seen — which the oracle recomputes from the clean table, so a
    * parser that drops or double-counts a single line hash-fails. */
  def corruptJsonAudit(spark: SparkSession, orders: DataFrame,
                       dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    orders.select(col("o_orderkey"),
        to_json(struct(col("o_orderkey").as("k"),
          col("o_orderstatus").as("st"),
          round(col("o_totalprice") * 100).cast("long").as("cents")))
          .as("j"))
      .select(when(col("o_orderkey") % 97 === 0,
          expr("substring(j, 1, length(j) - 5)"))
        .otherwise(col("j")).as("value"))
      .write.mode(SaveMode.Overwrite).text(dir)
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("st", StringType), StructField("cents", LongType),
      StructField("_corrupt", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(dir)
      .agg(
        sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L))
          .as("n_quarantined"),
        sum(when(col("_corrupt").isNull, col("cents"))).as("good_cents"),
        countDistinct(when(col("_corrupt").isNull, col("st")))
          .as("n_status"))
  }

  /** Raw text-line lake round-trip (spark.read.text — the rawest LLM
    * corpus format, one document per line): docs serialize as
    * "<id>\t<text>" and parse back by splitting on the FIRST tab only,
    * so payload tabs survive. The text source is splittable like any
    * line format — scans parallelize by HDFS block at 100 TB. */
  def textRoundtrip(spark: SparkSession, docs: DataFrame,
                    dir: String): DataFrame = {
    docs.select(concat(col("doc_id").cast("string"), lit("\t"),
        col("text")).as("value"))
      .write.mode(SaveMode.Overwrite).text(dir)
    spark.read.text(dir)
      .select(
        substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        expr("substring(value, instr(value, '\t') + 1)").as("text"))
  }

  /** ORC is the other columnar lake format Spark ships a native
    * vectorized reader for — same pushdown/pruning machinery as parquet
    * (PlanAuditSpec asserts it), so a mixed parquet/ORC lake reads
    * through one code path. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def orcRoundtrip(spark: SparkSession, df: DataFrame, dir: String): DataFrame = {
    writeOrc(df, dir)
    readOrc(spark, dir)
  }

  /** SCHEMA EVOLUTION: a lake accumulates files written under different
    * schema versions (columns added over time); `mergeSchema` unifies
    * them at read — old files surface the new columns as null. This is
    * the read path every long-lived 100 TB lake needs the day a
    * producer adds a field: no rewrite of historical files, the footer
    * merge happens once per query at planning time.
    *
    * `v1`/`v2` land in the same directory (overwrite then append);
    * reading back without mergeSchema would pick ONE footer
    * arbitrarily — the roundtrip asserts the merged view instead. */
  def schemaEvolutionRoundtrip(spark: SparkSession, v1: DataFrame,
                               v2: DataFrame, dir: String): DataFrame = {
    v1.write.mode(SaveMode.Overwrite).parquet(dir)
    v2.write.mode(SaveMode.Append).parquet(dir)
    spark.read.option("mergeSchema", "true").parquet(dir)
  }

  /** DELETION VECTORS — delete-without-rewrite for an immutable lake
    * (the Delta/Iceberg merge-on-read pattern on plain parquet, and the
    * only sane delete at 100 TB: [[graft.operators.Dwh]]'s forget op
    * REWRITES the touched partitions, right for partition-aligned
    * purges; a scattered million-row delete would rewrite the whole
    * lake). Deleted keys append to a `_dv/` sidecar next to the data —
    * data files are never touched — and the read path anti-joins the
    * sidecar out. The anti-join broadcasts while the DV is small and
    * degrades to a co-partitioned shuffle when it isn't (AQE's call);
    * when the DV outgrows a threshold, [[compact]]-style rewrite+clear
    * is the maintenance move (documented, not automated here).
    * At-least-once delete submission is fine: the sidecar dedups at
    * read ([[readWithDeletes]] distincts the keys). */
  def appendDeletes(keys: DataFrame, path: String, keyCol: String): Unit =
    keys.select(col(keyCol).as("__key"))
      .write.mode(SaveMode.Append).parquet(s"$path/_dv")

  /** Read the lake minus its deletion vector (merge-on-read). */
  def readWithDeletes(spark: SparkSession, path: String,
                      keyCol: String): DataFrame = {
    val data = spark.read.parquet(path)
    readStore(spark, s"$path/_dv").fold(data)(dv => data.join(
      dv.select("__key").distinct(), data(keyCol) === col("__key"), "left_anti"))
  }

}
