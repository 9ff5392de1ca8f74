package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Oracle-checked queries through `SparkEntry.queries`, in fixed order.
  * One pass runs each query once as an `op` span with `build` (the call
  * that returns the DataFrame), `action` (collect every row and column)
  * and `check` (hash and store the rows for the output gate) children.
  * After the check, the RDDs the query persisted and does not hand to a
  * session cache are unpersisted, outside the timed region, as
  * `graft.Bench` does. */
final class QueryWorkload(spark: SparkSession, spans: Spans, data: String,
                          names: Seq[String], store: ResultStore) extends Main.Workload {
  private val sc = spark.sparkContext

  def pass(passId: Long, index: Int): Unit = names.foreach(run(passId, _))

  private def run(passId: Long, name: String): Unit = {
    val op = spans.nextId()
    val t0 = Clock.nowNs
    val before = sc.getPersistentRDDs.keySet
    var attrs = Map[String, Any]()
    try {
      sc.setJobGroup(Groups.of(op, "build"), name)
      val (df, buildNs) = spans.timed(op, "build", name)(_ => SparkEntry.queries(name)(spark, data))
      sc.setJobGroup(Groups.of(op, "action"), name)
      val (rows, actionNs) = spans.timed(op, "action", name)(_ => df.collect())
      sc.setJobGroup(Groups.of(op, "check"), name)
      val ((hash, n), _) = spans.timed(op, "check", name)(_ => store.record(name, df.schema, rows))
      attrs ++= Map("build_ns" -> buildNs, "action_ns" -> actionNs, "hash" -> hash, "rows" -> n)
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      attrs += "error" -> s"${e.getClass.getName}: ${e.getMessage}"
    } finally sc.clearJobGroup()
    val owned = SparkEntry.sessionCacheRddIds
    val created = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    created.foreach { case (id, rdd) => if (!owned.contains(id)) rdd.unpersist(blocking = false) }
    spans.add(op, passId, "op", name, t0, Clock.nowNs, attrs ++ Map(
      "checkpoint_rdds" -> created.size))
  }
}
