package graft.operators

import org.apache.spark.sql.SparkSession

/** Per-session memo of a scratch directory built from a corpus: one build
  * per (session, corpus dir, corpus state), reused by every later call, so
  * repeated bench/verify rounds measure the read, not the build, and never
  * each materialize a corpus-sized copy into the temp dir. The state is the
  * [[CorpusMemo.fingerprint]] of the corpus table the build reads; a rewrite
  * of it builds afresh and deletes the superseded directory. */
private[operators] final class CorpusMemo(table: String, prefix: String) {

  private val built =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Map[String, (String, String)]]())

  /** The memoized directory for the corpus at `d`, running `build` into a
    * fresh temp directory (and retiring any stale predecessor) if absent
    * or out of date. */
  def apply(s: SparkSession, d: String)(build: String => Unit): String =
    built.synchronized {
      val fp = CorpusMemo.fingerprint(s, d, table)
      val m = Option(built.get(s)).getOrElse(Map.empty[String, (String, String)])
      m.get(d) match {
        case Some((oldFp, dir)) if oldFp == fp => dir
        case stale =>
          val dir = java.nio.file.Files.createTempDirectory(prefix).toString
          build(dir)
          stale.foreach { case (_, old) =>
            val p = new org.apache.hadoop.fs.Path(old)
            try p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
            catch {
              case scala.util.control.NonFatal(e) =>
                // the fresh build is already in place; the stale copy only
                // costs disk until the temp dir is cleaned
                System.err.println(
                  s"[graft] could not delete superseded $prefix dir $old: $e")
            }
          }
          built.put(s, m.updated(d, (fp, dir)))
          dir
      }
    }
}

private[operators] object CorpusMemo {

  /** Sorted (path, length, modTime) of the top-level entries of
    * `<d>/<table>.parquet` — changes whenever that table is rewritten.
    * Deliberately ONE `listStatus` call, not a recursive walk: this runs
    * before every memo lookup, and O(files) metadata RPCs per query on an
    * object store would tax the hot path the memo exists to keep cheap.
    * Sufficient because a parquet rewrite replaces files directly under the
    * root (new names / lengths / mtimes), and adding or removing entries
    * inside a nested subdirectory updates that subdirectory's own mtime. */
  def fingerprint(s: SparkSession, d: String, table: String): String = {
    val root = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(root)
    val entries = if (st.isDirectory) fs.listStatus(root).toSeq else Seq(st)
    entries.map(e => s"${e.getPath.getName}:${e.getLen}:${e.getModificationTime}")
      .sorted.mkString("|")
  }
}
