package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.types.StructType

/** Shared fingerprinting AND filesystem plumbing for PERSISTED layouts
  * (index tables, codebooks, partitioned corpora): a layout is only valid
  * together with the code and the source data that wrote it, so its name
  * carries a digest of both; and every existence check / crash-atomic
  * publish must ride the Hadoop `FileSystem` of the path's own scheme —
  * `java.io.File` silently answers "absent" for any non-local URI
  * (`file:`, `hdfs:`, `s3a:`), which for a tombstone sidecar means
  * serving deleted rows with no error. Extracted from
  * `graft.sim.Similarity` when the text-side band index (q151) needed the
  * same contract; the FS helpers consolidate the r15 directory-layout
  * plumbing (the round-15 verdict's portability findings).
  */
object Layouts {

  /** Included in every persisted-layout fingerprint; bump when
    * layout-producing code changes semantics (signature family, assignment
    * tiebreak, schema) — a /tmp- or catalog-persisted layout built by
    * OLDER code must never be silently served to newer probe code on a
    * long-lived machine. */
  val Version = "v1"

  /** Short stable digest of the identifying parts. */
  def tag(parts: String*): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("|").getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  private def hconf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(hconf(spark))

  /** Scheme-aware existence check — THE layout existence primitive.
    * Every read-path decision that can silently mis-serve on a wrong
    * answer (tombstone sidecars above all) must go through here, never
    * `java.io.File`. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsOf(spark, p).exists(p)
  }

  /** A subdir is committed iff its writer's `_SUCCESS` marker landed —
    * the single-write-per-subdir crash-safety convention (r13 rule (c)). */
  def committed(spark: SparkSession, path: String): Boolean =
    exists(spark, s"$path/_SUCCESS")

  /** Recursive delete (no-op when absent). */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Rename `from` to `to`, failing loudly with `msg` when the store
    * refuses — a silent false would let a publish or retire "succeed". */
  def renameOrFail(spark: SparkSession, from: String, to: String,
                   msg: => String): Unit = {
    val p = new Path(from)
    if (!fsOf(spark, p).rename(p, new Path(to))) sys.error(msg)
  }

  /** Child entry NAMES of a directory (empty when absent) — scheme-aware
    * like every other layout primitive; used to count rebuild byproducts
    * (`_rb<N>` generations, orphaned-tombstone slots) so the maintenance
    * schedule can surface reap/reissue debt instead of letting it accrue
    * invisibly beside the layouts. */
  def listChildren(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.listStatus(p).toSeq.map(_.getPath.getName)
    else Seq.empty
  }

  /** True iff `path` exists and holds at least one parquet DATA file —
    * the ONE definition of "this sidecar/slot is readable" (r17): a
    * legacy writer can leave a `_SUCCESS`-only dir, which `exists`
    * blesses but `spark.read.parquet` rejects with UNABLE_TO_INFER_SCHEMA
    * — and a reader that gates on `exists` alone wedges permanently on
    * such a dir (serving, maintenance facts, and the very repair tools
    * alike). Every sidecar read and preserve/retire decision must gate
    * on THIS, not on `exists`. RECURSIVE (r18): a sidecar/slot whose
    * data files are nested (e.g. ever written partitioned) must read as
    * non-empty — callers like the preserve/purge paths DELETE on a
    * false verdict, so a direct-children-only scan would silently
    * destroy marks the moment a sidecar layout gains a partition level.
    * The walk skips HIDDEN children (`_`/`.` prefixes, matching Spark's
    * reader path filter): a crashed first write leaves only
    * `_temporary/**/part-*.parquet`, which the reader ignores — counting
    * it as data would wedge every guarded reader on exactly the husk
    * this predicate exists to classify. The TOP path itself may be
    * `_`-prefixed (the epoch sidecar is); only descendants filter. */
  def hasParquetData(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    def walk(dir: Path): Boolean = {
      val st = fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
      st.exists(s => !s.isDirectory && s.getPath.getName.endsWith(".parquet")) ||
        st.exists(s => s.isDirectory && walk(s.getPath))
    }
    fs.exists(p) && walk(p)
  }

  /** Spark's reader path filter: `_`/`.`-prefixed names are hidden. */
  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** Read a READER-HIDDEN (`_`-prefixed) dir — a staging or sidecar that
    * keeps its prefix so the owning table's own scan never sees it. Spark
    * filters on the LEAF name of each given path, so reading the dir itself
    * works but logs `WARN DataSource: All paths were ignored` every time;
    * passing its non-hidden children with `basePath` = the dir reads the
    * same rows and partitions without the warning. `schema` skips
    * inference; with no children the result is an empty frame under it. */
  def readHidden(spark: SparkSession, dir: String,
                 schema: Option[StructType] = None): DataFrame = {
    val kids = listChildren(spark, dir).filterNot(hidden)
    if (kids.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        schema.getOrElse(new StructType()))
    else {
      val reader = spark.read.option("basePath", dir)
      schema.fold(reader)(reader.schema).parquet(kids.map(k => s"$dir/$k"): _*)
    }
  }

  /** Write `rows` partitioned by `partCols` to `dir`, replacing whatever a
    * crashed attempt left there, and return the leaf partitions it holds as
    * relative paths (`a=1/b=2`) — a directory listing, not a job. */
  def stagePartitions(rows: DataFrame, dir: String,
                      partCols: Seq[String]): Seq[String] = {
    rows.write.mode("overwrite").partitionBy(partCols: _*).parquet(dir)
    partCols.foldLeft(Seq("")) { (prefixes, _) =>
      prefixes.flatMap(p => listChildren(rows.sparkSession, s"$dir/$p")
        .filter(n => !hidden(n) && n.contains("=")).map(n => s"$p$n/"))
    }.map(_.stripSuffix("/"))
  }

  /** The staging dir of [[replacePartitions]] under its root: `_`-prefixed
    * and free of `=`, so partition discovery skips it. */
  val ReplaceStaging = "_replace_staging"

  /** THE partition-replace step of every directory writer (the ingest
    * good, quarantine and `_metrics` sinks, the gate decisions sink, the
    * IVF purge) and its one crash contract:
    *  (1) STAGE `rows` by `partCols` to [[ReplaceStaging]] under `root`
    *      ([[stagePartitions]]): readers skip it, and a crashed attempt's
    *      leftover is overwritten;
    *  (2) PUBLISH each staged leaf by rename over its target (parent dirs
    *      created, the old leaf deleted first) — the commit Spark's
    *      dynamic partition overwrite performs internally, without its
    *      session-global conf;
    *  (3) CLEAR every partition matched by the `owned` globs (relative to
    *      `root`) that the staged set does not contain — an empty frame
    *      publishes nothing (the r8 empty-frame rule), so a replay that
    *      now yields fewer partitions must delete the ones it no longer
    *      writes, or a crashed attempt's rows keep serving;
    *  (4) SEED: with nothing staged and the `seed` partition absent, write
    *      one typed zero-row file there (no partition columns) so the
    *      sink reads with its schema before its first row lands.
    * The staging is deleted in `finally`. A crash before (2) leaves the
    * published partitions as they were; a crash inside (2)–(4) leaves a
    * mix of old and new leaves that the replay of the same write
    * converges. Single writer per `root`. */
  def replacePartitions(rows: DataFrame, root: String, partCols: Seq[String],
                        owned: Seq[String], seed: Option[String] = None): Unit = {
    val rootP = new Path(root)
    val fs = fsOf(rows.sparkSession, rootP)
    val staging = new Path(rootP, ReplaceStaging)
    try {
      val staged = stagePartitions(rows, staging.toString, partCols)
      staged.foreach { leaf =>
        val target = new Path(rootP, leaf)
        fs.mkdirs(target.getParent)
        fs.delete(target, true)
        renameOrFail(rows.sparkSession, new Path(staging, leaf).toString,
          target.toString, s"could not publish $leaf under $root")
      }
      val keep = staged.map(l => fs.makeQualified(new Path(rootP, l))).toSet
      owned.flatMap(g => Option(fs.globStatus(new Path(rootP, g))).toSeq.flatten)
        .map(_.getPath).filterNot(keep).foreach(fs.delete(_, true))
      seed.map(new Path(rootP, _)).filter(p => staged.isEmpty && !fs.exists(p))
        .foreach(p => rows.drop(partCols: _*).limit(0).coalesce(1)
          .write.mode("overwrite").parquet(p.toString))
    } finally fs.delete(staging, true)
  }

  /** The ONE JVM-owned root for catalog-table data dirs (index tables,
    * bucketed copies, compaction outputs): created on first use, deleted
    * when the JVM exits. The in-memory catalog that names those tables dies
    * with the JVM too, so no table outlives its files and no build leaves
    * a dir behind. */
  private lazy val ownedRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_tables")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** A fresh dir under [[ownedRoot]] for one catalog table's files —
    * handed out by [[ensureTable]] and `Sources.compactBucketed`. Only
    * under the in-memory catalog: a persistent one (Hive) would keep the
    * table after the JVM exit reaped its files. */
  def ownedTempDir(spark: SparkSession, prefix: String): String = {
    val catalog = spark.conf.get("spark.sql.catalogImplementation", "in-memory")
    require(catalog == "in-memory", s"catalog-table dirs are reaped at JVM " +
      s"exit, which only the in-memory catalog outlives cleanly; got $catalog")
    java.nio.file.Files.createTempDirectory(ownedRoot, prefix).toString
  }

  /** THE build-or-reuse of a flat catalog table — the catalog twin of
    * `Similarity.ensureIvf`, behind every bucketed index, band index and
    * bucketed-join table. The table is named `prefix + tag(parts)` (a pure
    * function of the identifying parts, so re-invocations in one JVM reuse
    * it and a data regeneration mints a fresh one). When it is absent,
    * `build(staging, ownedDir)` runs against `<name>_build`, with a fresh
    * [[ownedTempDir]] for the table's files: a crashed prior attempt is
    * dropped first (these are external tables, so the drop leaves its files
    * in their own owned dir, never under the live name), and the staging
    * renames into place only after the LAST step (the r13 staging-NAME +
    * `ALTER TABLE RENAME` rule). `tableExists` flips only once everything
    * landed, so a crash mid-build never leaves a half-built table that
    * later invocations treat as complete. Returns the table name. */
  def ensureTable(spark: SparkSession, prefix: String, parts: String*)
                 (build: (String, String) => Unit): String = {
    val table = prefix + tag(parts: _*)
    if (!spark.catalog.tableExists(table)) {
      val staging = s"${table}_build"
      if (spark.catalog.tableExists(staging))
        spark.sql(s"DROP TABLE $staging")
      build(staging, ownedTempDir(spark, prefix))
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    }
    table
  }

  /** A catalog table's metadata (bucket spec, partition columns,
    * location) — the one catalog lookup behind every layout fact. */
  def tableMeta(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))

  def tableLocation(spark: SparkSession, table: String): Path =
    new Path(tableMeta(spark, table).location)

  /** ONE-LINE MARKER files — the crash-protocol primitive behind the
    * rebuild retire markers (`<base>_rb_retiring`, `<dir>.retiring_from`):
    * a tiny file recording the name/path a multi-step protocol is about
    * to consume, written before the destructive step and deleted after
    * it, so every crash window carries evidence naming its exact target.
    * One definition (the r16 consolidation rule): a marker-format fix
    * must not have to land in two packages. */
  def writeMarkerFile(spark: SparkSession, marker: String,
                      content: String): Unit = {
    val p = new Path(marker)
    val out = fsOf(spark, p).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** The marker's content, trimmed; None when absent or blank. */
  def readMarkerFile(spark: SparkSession, marker: String): Option[String] = {
    val p = new Path(marker)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      .filter(_.nonEmpty)
    finally in.close()
  }

  def deleteMarkerFile(spark: SparkSession, marker: String): Unit = {
    val p = new Path(marker)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Cheap source-data fingerprint: path + size + mtime (the driver
    * regenerates test data in place between rounds — mtime catches it).
    * Scheme-aware like every other layout primitive; for local plain
    * paths the emitted (len, mtime-millis) are identical to the old
    * `java.io.File` values, so existing layout tags are unchanged. */
  def fileFp(p: String): String = {
    val path = new Path(p)
    val conf = SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = path.getFileSystem(conf)
    if (fs.exists(path)) {
      val st = fs.getFileStatus(path)
      s"$p|${st.getLen}|${st.getModificationTime}"
    } else s"$p|0|0"
  }
}
