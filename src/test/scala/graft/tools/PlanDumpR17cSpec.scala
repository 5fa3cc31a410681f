package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** Throwaway plan-dump driver for the r17 third-session targets (the
  * PlanDumpR17bSpec device): writes `.explain("formatted")` to /tmp for
  * (a) the ns_dedup_containment query plan and (b) the dupClusters EDGE
  * SEED frame — the latter is the frame whose localCheckpoint
  * materializes the pair pipeline, which the final query plan hides
  * behind `Scan ExistingRDD`, so the before/after evidence for the
  * symmetrization rewrite lives here. Opt-in via GRAFT_PLAN_DUMP. */
class PlanDumpR17cSpec extends AnyFunSuite {

  test("dump formatted plans for the r17c touched paths") {
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
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.1"

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"/tmp/plan_$name.txt"), txt.getBytes("UTF-8"))
      assert(txt.nonEmpty)
    }

    dump("ns_dedup_containment",
      graft.SparkEntry.queries("ns_dedup_containment")(spark, sf))
    spark.catalog.clearCache()

    // The dupClusters seed: symmetrized edge list -> one-hop min label.
    // Rebuilt here exactly as dupClusters builds it (same expressions)
    // so the dump shows how many times the pair-verify subtree appears
    // in the ONE materializing job.
    val pairs = graft.ml.Dedup.jaccardPairsCapped(
      graft.Tables.documents(spark, sf), 0.5, graft.ml.Dedup.ScoredDfCap)
    // mirror of dupClusters' edge construction (kept in sync by hand;
    // the dump is measurement tooling, not a pin)
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    dump("dup_clusters_edge_seed",
      edges.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("label"))
        .select(col("u").as("doc_id"), col("label")))
  }
}
