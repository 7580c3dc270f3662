package graft

import org.apache.spark.sql.SparkSession

import graft.core.SparkSessionFactory

/** Dev-only plan probe: prints the formatted physical plan of named queries
  * (all of them if no names given) so plan hygiene — pushed filters, pruned
  * read schemas, broadcast vs shuffle joins, single-shuffle windows — can be
  * eyeballed per query. Not part of the driver contract. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSessionFactory.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Pre-checkpoint probes for queries whose DECLARED plan collapses to a
    // checkpointed ExistingRDD stub (the construction runs an eager Pin):
    // these dump the interesting body so plan claims stay auditable.
    val probes: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "sql_recursive_chain_body" ->
        ((s, d) => graft.operators.SqlQueries.recursivePlanProbe(s, d)),
      "txt_dclm_pipeline_body" ->
        ((s, d) => graft.operators.TextQueries.dclmPipelinePlan(s, d)))
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===== $n =====")
      probes.getOrElse(n, SparkEntry.queries(n))(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
