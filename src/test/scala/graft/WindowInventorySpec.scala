package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural gate for the unpartitioned-window inventory (r12).
  *
  * Every `Window.orderBy(...)` without a `partitionBy` moves its whole
  * input frame to ONE task — fine when the frame is bounded by
  * construction (a 256-stripe offset table, a calendar span, a decile
  * report, a top-k shortlist), fatal when it is corpus-proportional
  * (the class the Stats.stripedPrefix helper exists for; liftTable and qini
  * were converted off it this round). Each existing site is
  * individually classified in SURVEY.md §8.10.1 (stripe / calendar /
  * report / value-cardinality / documented-trade); this spec pins the
  * per-file site COUNT so the next surface cannot ride an
  * unclassified global window into the codebase: adding one fails
  * here until the new site is classified in §8.10.1 and the count below
  * is bumped.
  *
  * Counting rule (mirrors the §8.10.1 sweep): source lines under
  * src/main/scala/graft containing `Window.orderBy` whose trimmed
  * form is not a comment (`*` / `//` prefix).
  */
class WindowInventorySpec extends AnyFunSuite {

  // SURVEY §8.10.1 inventory counts — update ONLY together with a new
  // classified row in the §8.10.1 table
  private val expected = Map(
    "operators/Stats.scala" -> 25,
    "operators/Resample.scala" -> 23,
    "operators/TextAnalysis.scala" -> 4,
    "operators/Dwh.scala" -> 3,
    "operators/Quality.scala" -> 1,
    "operators/Graph.scala" -> 2,
    "operators/SimilaritySearch.scala" -> 2,
    "operators/Relational.scala" -> 1,
    "streaming/TopKSink.scala" -> 1
  )

  test("every unpartitioned Window.orderBy site is classified in " +
      "SURVEY §8.10.1 (per-file counts must not grow unclassified)") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"expected to run from the repo root; " +
      s"cwd=${new java.io.File(".").getCanonicalPath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val counts = walk(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n =
        try src.getLines().count { line =>
          val t = line.trim
          t.contains("Window.orderBy") &&
            !t.startsWith("*") && !t.startsWith("//")
        } finally src.close()
      val rel = f.getPath.replace('\\', '/')
        .split("src/main/scala/graft/").last
      rel -> n
    }.filter(_._2 > 0).toMap
    assert(counts == expected,
      "unpartitioned Window.orderBy inventory drifted — classify the " +
        "new/changed site's frame bound in SURVEY.md §8.10.1, convert " +
        "corpus-proportional frames to Stats.stripedPrefix, then update " +
        "this spec's counts.\n" +
        s"actual:   ${counts.toSeq.sortBy(_._1)}\n" +
        s"expected: ${expected.toSeq.sortBy(_._1)}")
  }
}
