package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{GraftConf, Tables}

/** Benchmark harness: one JVM, one workload, closed loop.
  *
  * Sets the session up once, timed from JVM start, runs a cold first
  * pass and then `--passes` later passes, more while fewer than
  * `--seconds` have gone by, and writes `record.json` (environment,
  * set-up time, peak RSS),
  * `spans.jsonl` (every pass, operation and phase; with `--trace 1` also
  * jobs, stages, Catalyst phases, AQE updates, storage samples and
  * streaming progress) and the results the output gate checks. All
  * arithmetic on these files is done by perfbench/run.py.
  *
  * Arguments (all required unless noted):
  *   --workload graph_loops|lambda_stream
  *   --data DIR       generated parquet tables
  *   --work DIR       per-run scratch; outputs land here
  *   --cpus N         local[N] and shuffle partitions
  *   --seconds S      least measured time after the first pass
  *   --passes K       passes after the first (at least)
  *   --trace 0|1
  *   --queries a,b,c  query workloads
  *   --events DIR --files-per-trigger F   lambda_stream
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val data = a("data")
    val work = new File(a("work"))
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val laterPasses = a("passes").toInt
    val traced = a("trace") == "1"

    val spans = new Spans
    val root = spans.nextId()
    val jvmStartNs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L

    val spark = open(cpus, work)
    warm(spark, data)
    val setupS = (Clock.nowNs - jvmStartNs) / 1e9
    val sc = spark.sparkContext
    if (traced) {
      sc.addSparkListener(new TraceListener(spans))
      spark.listenerManager.register(new PlanListener(spans))
      spark.streams.addListener(new StreamListener(spans))
    }

    val workloadRun: Workload = workload match {
      case "lambda_stream" =>
        new StreamWorkload(spark, spans, a("events"), a("files-per-trigger").toInt,
          new File(work, "lambda"))
      case _ =>
        val names = a("queries").split(',').toSeq
        val oracle = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
        java.nio.file.Files.write(new File(work, "oracle_sql.json").toPath,
          Json(oracle).getBytes("UTF-8"))
        new QueryWorkload(spark, spans, data, names, new ResultStore(new File(work, "results")))
    }
    // one pass span, with the codegen work and the RDDs still held after it
    def pass(index: Int): Unit = {
      val id = spans.nextId()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val start = Clock.nowNs
      workloadRun.pass(id, index)
      spans.add(id, root, "pass", s"pass $index", start, Clock.nowNs, Map(
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
        "compile_ns" -> (CodeGenerator.compileTime - compileNs0),
        "rdds_held" -> sc.getPersistentRDDs.size))
    }
    // The first pass is cold. The later passes are a fixed amount of work:
    // the JIT keeps warming for minutes, so a run that stopped on time
    // alone would measure a faster run further along its warm-up.
    val t0 = Clock.nowNs
    pass(0)
    val later = Clock.nowNs
    var passes = 1
    while (passes <= laterPasses || Clock.nowNs - later < (seconds * 1e9).toLong) {
      pass(passes)
      passes += 1
    }
    val t1 = Clock.nowNs
    spans.add(root, -1L, "workload", workload, t0, t1)
    if (traced) org.apache.spark.BusDrain(sc)
    spans.writeTo(new File(work, "spans.jsonl"))
    val record = Map(
      "workload" -> workload,
      "setup_s" -> setupS,
      "passes" -> passes,
      "peak_rss_kb" -> procStatusKb("VmHWM"),
      "live_heap_kb" -> liveHeapKb(),
      "env" -> Map(
        "cpus" -> cpus,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20)))
    val f = new File(work, "record.json")
    java.nio.file.Files.write(f.toPath, Json(record).getBytes("UTF-8"))
    spark.stop()
  }

  /** The session `graft.Bench` opens, with every scratch location moved
    * under the run's work directory. */
  private def open(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", GraftConf.ExcludedRules)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bench's warm-up: touch every table once, JIT-warm the iterative
    * connected-components path. `SparkEntry.warmIndexes` is left out: its
    * index lakes are written to a fixed directory outside the run's own
    * scratch (see perfbench/README.md). */
  private def warm(spark: SparkSession, data: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.all.foreach(t => Tables(spark, data, t).count())
    import spark.implicits._
    graft.operators.Dedup.dupClusters(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")).count()
  }

  /** Heap still reachable at workload end: used heap after two full
    * collections, the second after Spark's ContextCleaner has had time to
    * drop the broadcasts, shuffles and RDDs the first one freed. */
  private def liveHeapKb(): Long = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 10
  }

  /** A workload runs its operations for one pass under the given span. */
  trait Workload { def pass(passId: Long, index: Int): Unit }

  private def procStatusKb(field: String): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith(field + ":") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  }
}
