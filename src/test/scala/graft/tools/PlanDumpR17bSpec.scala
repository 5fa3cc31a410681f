package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Plan dump (piped `sbt console` scripts do not execute, so plan
  * dumps run inside a test JVM): writes `.explain("formatted")` for the
  * r17 session-2 touched queries to /tmp, with the session shape EXPLAIN.md
  * and the committed plans/r17 before-files were dumped under (local[4],
  * shuffle=4) so the dumps diff cleanly against them. Run explicitly via
  * testOnly; the assertions are trivial on purpose. */
class PlanDumpR17bSpec extends AnyFunSuite {

  test("dump formatted plans for the r17b touched queries") {
    // opt-in only: building ns_similarity_rebuild's query plan runs its
    // driver-side training collects at sf0.1 — too heavy for every suite
    // run, and the dump is a measurement tool, not a correctness pin
    // bound first: assume's message renders its expression, and on
    // `sys.env.contains(...)` that is the whole environment
    val planDumpRequested = sys.env.contains("GRAFT_PLAN_DUMP")
    assume(planDumpRequested,
      "set GRAFT_PLAN_DUMP=1 to regenerate the plans/r17 dumps")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.TopK.ensurePlanning(spark)
    val sf = "/root/testdata/sf0.1"
    val names = Seq("ns_similarity_rebuild", "ns_cosine_dup_pairs_banded",
      "ns_similarity_lsh")
    names.foreach { n =>
      val txt = graft.SparkEntry.queries(n)(spark, sf)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"/tmp/plan_$n.txt"), txt.getBytes("UTF-8"))
      spark.catalog.clearCache()
      assert(txt.nonEmpty)
    }
  }
}
