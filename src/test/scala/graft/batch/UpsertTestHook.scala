package graft.batch

/** Exposes [[Upsert.partValsAsOf]] (package-private: its callers are the
  * shallow-clone paths) so a spec can drive its guard directly;
  * test-only. */
object UpsertTestHook {
  def partValsAsOf(
      spark: org.apache.spark.sql.SparkSession,
      table: String, version: Long, partCol: String): (Set[String], Boolean) =
    Upsert.partValsAsOf(spark, table, version, partCol)
}
