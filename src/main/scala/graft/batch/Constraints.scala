package graft.batch

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{expr, not}

import graft.http.{JObj, JStr, Json}

/** CHECK constraints on upsert tables — the Delta `ALTER TABLE … ADD
  * CONSTRAINT` analog (Delta stores `delta.constraints.<name>` in table
  * metadata and rejects any write whose rows violate them; the reference
  * runs on full Delta, `SparkManager.scala:36-37`). A constraint is a
  * named boolean SQL expression over the table's columns; rows entering
  * the table through [[Upsert.mergeByKey]] (and therefore the streaming
  * upsert path, which merges per micro-batch) must satisfy every
  * registered constraint or the merge fails loudly BEFORE any claim is
  * taken — a violated constraint costs zero file churn and names itself
  * in the error. `NOT NULL` is the degenerate check (`col IS NOT NULL`).
  *
  * Enforcement scope, exactly Delta's: rows being WRITTEN. Delete-marked
  * rows are exempt (they leave the table; deletes-only merges carry only
  * key columns and could not even evaluate the expression), and existing
  * rows are checked ONCE, at [[add]] time — like Delta, adding a
  * constraint scans the table and refuses if current data already
  * violates it, so readers may assume every registered constraint holds
  * over the whole table.
  *
  * Storage: `_graft_meta/constraints-v<N>.json` via [[TableMeta]]
  * (versioned max-wins — no crash window ever leaves the table
  * constraint-less). Constraint DDL is rare, administrative, and
  * last-wins under concurrency; the data-path guarantee comes from the
  * merge-time check, which reads the set fresh on every merge. */
object Constraints {

  private val FilePrefix = "constraints-v"

  /** Register `name CHECK (exprSql)`. Validates that the expression
    * analyzes against the table's schema and that EXISTING rows satisfy
    * it (one scan — the same price Delta pays for ADD CONSTRAINT). */
  def add(spark: SparkSession, table: String, name: String, exprSql: String): Unit = {
    require(name.nonEmpty && !name.exists(c => c == '"' || c == '\\' || c < ' '),
      s"constraint name must be a plain identifier: $name")
    // on a column-mapped table, expressions may only reference unmapped
    // columns — see [[ColumnMapping.refuseMappedInExpression]]
    ColumnMapping.refuseMappedInExpression(spark, table,
      s"constraint $name CHECK", exprSql)
    // the existing-rows validation scan must see the WHOLE table
    ShallowClone.refuseDirect(spark, table, "ADD CONSTRAINT")
    val df = spark.read.parquet(table)
    val violating = df.filter(not(expr(exprSql))).limit(1).collect()
    if (violating.nonEmpty)
      throw new IllegalArgumentException(
        s"cannot add constraint $name CHECK ($exprSql): existing rows " +
          s"violate it (first: ${violating.head})")
    TableFeatures.declare(spark, table, TableFeatures.CheckConstraints)
    TableMeta.update(spark, table, FilePrefix)(_ + (name -> exprSql))
  }

  /** Remove a constraint; unknown names fail loudly (a typo'd drop that
    * silently "succeeds" leaves the caller believing enforcement ended). */
  def drop(spark: SparkSession, table: String, name: String): Unit =
    TableMeta.update(spark, table, FilePrefix) { cur =>
      require(cur.contains(name),
        s"no constraint named $name on $table (have: ${cur.keys.toSeq.sorted.mkString(", ")})")
      cur - name
    }

  /** The registered constraints, name → SQL expression. */
  def list(spark: SparkSession, table: String): Map[String, String] =
    TableMeta.read(spark, table, FilePrefix)
}

/** Versioned max-wins KB-scale metadata registries under
  * `<table>/_graft_meta/` (the [[graft.streaming.ChangeFeedStream]]
  * cursor pattern): a writer creates `<prefix><N+1>.json` create-exclusive,
  * then best-effort sweeps older versions — no crash window ever leaves
  * the registry empty, and a reader always finds the newest complete set.
  * Edits of the CURRENT set go through [[update]], which installs exactly
  * the version after the one it read, so a racing edit is re-read and
  * re-applied, never silently erased; a racing blind [[write]] is loud. */
private[batch] object TableMeta {

  private def metaDir(table: String) = new Path(s"$table/_graft_meta")

  private def versionOf(prefix: String, name: String): Option[Long] =
    if (name.startsWith(prefix) && name.endsWith(".json"))
      name.stripPrefix(prefix).stripSuffix(".json").toLongOption
    else None

  def read(spark: SparkSession, table: String, prefix: String): Map[String, String] =
    latest(spark, table, prefix)._2

  private def latest(spark: SparkSession, table: String, prefix: String)
      : (Long, Map[String, String]) = {
    // a concurrent writer may sweep the version we just listed (write v+1,
    // delete <= v) between our listing and our open — re-list and retry
    // (bounded; registry writes are rare outside allocation-heavy tests)
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      try return latestOnce(spark, table, prefix)
      catch { case _: java.io.FileNotFoundException => }
    }
    latestOnce(spark, table, prefix)
  }

  private def latestOnce(spark: SparkSession, table: String, prefix: String)
      : (Long, Map[String, String]) = {
    val dir = metaDir(table)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return (0L, Map.empty)
    val vs = fs.listStatus(dir).flatMap(st =>
      versionOf(prefix, st.getPath.getName).map(_ -> st.getPath))
    if (vs.isEmpty) return (0L, Map.empty)
    val (v, p) = vs.maxBy(_._1)
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    (v, Json.parse(txt).asObj.map { case (k, x) => k -> x.str })
  }

  /** Blind replace: `all` becomes the next version whatever the current
    * set holds. A concurrent writer of the same version loses loudly. */
  def write(spark: SparkSession, table: String, prefix: String,
      all: Map[String, String]): Unit = serialized(spark, table, prefix) {
    val (v, _) = latest(spark, table, prefix)
    if (!install(spark, table, prefix, v, all))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"${metaDir(table)}/$prefix${v + 1}.json: a concurrent writer " +
          "claimed this registry version first")
  }

  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Edits of one registry run one at a time in this JVM. The exclusive
    * install alone cannot order them: the sweep frees superseded version
    * names, so a writer that read v while racers installed v + 1 and
    * v + 2 (sweeping v + 1) would claim the freed v + 1 and be shadowed by
    * v + 2 — a silently lost update. Across processes the exclusive
    * install stays the guard; that race then needs two foreign installs
    * inside one writer's read-to-install window. */
  private def serialized[A](spark: SparkSession, table: String, prefix: String)(body: => A): A = {
    val dir = metaDir(table)
    val key = dir.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(dir) + "/" + prefix
    monitors.computeIfAbsent(key, _ => new Object).synchronized(body)
  }

  /** Read-modify-write: `f` maps the newest set, read at version v, to
    * the next one, which installs as exactly v + 1 — never on top of a
    * racer's v + 1, whose edit would then be silently lost. A lost race
    * re-reads and re-applies `f`, so validation inside `f` re-checks
    * against the racer's edit; fails loudly after 50 attempts. Returns
    * whether a version was installed (false: `f` changed nothing). */
  def update(spark: SparkSession, table: String, prefix: String)(
      f: Map[String, String] => Map[String, String]): Boolean = serialized(spark, table, prefix) {
    var attempts = 0
    var installed: Option[Boolean] = None
    while (installed.isEmpty && attempts < 50) {
      attempts += 1
      val (v, cur) = latest(spark, table, prefix)
      val next = f(cur)
      if (next == cur) installed = Some(false)
      else if (install(spark, table, prefix, v, next)) installed = Some(true)
    }
    installed.getOrElse(throw new IllegalStateException(
      s"registry $prefix* on $table still contended after $attempts attempts"))
  }

  /** Install `all` as version `v + 1`, exclusively; false if a concurrent
    * writer installed that version first. */
  private def install(spark: SparkSession, table: String, prefix: String,
      v: Long, all: Map[String, String]): Boolean = {
    val dir = metaDir(table)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val next = new Path(dir, s"$prefix${v + 1}.json")
    // Full content lands in a hidden temp sibling, then installs under the
    // versioned name by one atomic AND exclusive step (a link or rename
    // that fails on an existing name), so a concurrent reader can never observe a
    // half-written registry file — a plain create-then-write tore in the
    // wild (an identity high-water-mark read racing a concurrent
    // allocator's write parsed "unexpected end of input") — and a
    // concurrent writer of the same version still loses the race.
    val tmp = new Path(dir,
      s".$prefix${v + 1}-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      JObj(all.toVector.sortBy(_._1).map { case (k, x) => k -> (JStr(x): graft.http.JVal) })
        .render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val renamed =
      if (fs.getScheme == "file") {
        // locally, FileContext's no-OVERWRITE rename checks the destination
        // and then rename(2)s over whatever landed in between; link(2)
        // refuses an existing name atomically (TxnLog.createExclusive keys
        // its O_EXCL create on the same scheme)
        val src = java.nio.file.Paths.get(tmp.toUri.getPath)
        val dst = java.nio.file.Paths.get(next.toUri.getPath)
        try {
          java.nio.file.Files.createLink(dst, src)
          // the checksum sibling follows, as the rename would have moved it
          val crc = src.resolveSibling(s".${src.getFileName}.crc")
          if (java.nio.file.Files.exists(crc))
            java.nio.file.Files.move(crc, dst.resolveSibling(s".${dst.getFileName}.crc"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          java.nio.file.Files.delete(src)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else
        try {
          org.apache.hadoop.fs.FileContext.getFileContext(next.toUri, conf)
            .rename(tmp, next) // no OVERWRITE flag: exclusive install
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            fs.rename(tmp, next) // FileSystem.rename: false when dest exists
        }
    if (!renamed) {
      fs.delete(tmp, false)
      return false
    }
    // older versions are debris once the new one exists; their removal is
    // best-effort (a crash here just leaves max-wins extras)
    fs.listStatus(dir).foreach { st =>
      versionOf(prefix, st.getPath.getName).filter(_ <= v)
        .foreach(_ => fs.delete(st.getPath, false))
    }
    true
  }
}
