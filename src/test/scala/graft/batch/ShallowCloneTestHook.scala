package graft.batch

import org.apache.hadoop.fs.Path

/** Exposes [[ShallowClone.install]] (package-private: its callers are the
  * localizer's two paths) so a spec can install onto a live dir that
  * already exists; test-only. */
object ShallowCloneTestHook {
  def install(
      spark: org.apache.spark.sql.SparkSession, tmp: String, live: String): Boolean =
    ShallowClone.install(
      new Path(live).getFileSystem(spark.sessionState.newHadoopConf()),
      new Path(tmp), new Path(live))
}
