package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The developer probe and the one-session-profile rule it rests on. */
class ProbeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("plan returns the static plan of a registered query") {
    val got = Probe.plan(spark, sf, Seq("q1_agg")).toList
    assert(got.map(_._1) == List("q1_agg"))
    assert(got.head._2.nonEmpty)
  }

  test("final runs the query and returns its final adaptive plan") {
    val (_, p) = Probe.finalPlan(spark, sf, Seq("q1_agg")).toList.head
    assert(p.contains("isFinalPlan=true"), p)
  }

  test("an unknown query name fails before any query runs, and is named") {
    val e = intercept[IllegalArgumentException](
      Probe.plan(spark, sf, Seq("q1_agg", "q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
  }

  test("an empty query list means every registered query") {
    assert(Probe.queryList("") == SparkEntry.queries.keys.toSeq.sorted)
    assert(Probe.queryList("q1_agg,q3_shipping") == Seq("q1_agg", "q3_shipping"))
  }

  test("outSpec splits on the last ':' and rejects a missing dir") {
    assert(Probe.outSpec("plans/r15:before") == ("plans/r15", "_before"))
    intercept[IllegalArgumentException](Probe.outSpec("before"))
  }

  test("artifacts times every stage of the dedup chain") {
    val lines = Probe.artifacts(spark, sf).toList
    assert(lines.map(_.split("\\s+")(1)) ==
      List("scan_only", "shingle_raw", "postings", "minhash_cands", "confirmed_pairs"))
  }

  test("src/main builds exactly one SparkSession, in Bench.scala") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    // split so that this file is not a hit of a repo-wide grep itself
    val needle = "SparkSession." + "builder"
    def hits(p: Path): Int = Files.readAllLines(p).asScala.count(_.contains(needle))
    val found = files.map(p => p.getFileName.toString -> hits(p)).filter(_._2 > 0)
    assert(found == List("Bench.scala" -> 1), found)
  }
}
