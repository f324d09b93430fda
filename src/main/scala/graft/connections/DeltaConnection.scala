package graft.connections

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.sqlbridge.SqlText._

/** Deltatable semantics emulated over a parquet directory table.
  *
  * No delta-spark jar ships in /opt/spark/jars (offline build), so this
  * implements the reference's *behavioral contract*
  * (ankaflow/connections/delta.py) on plain parquet:
  *  - tap: mandatory query with `FROM Deltatable` placeholder
  *    (delta.py:138-182), dedup ranking + limit supported; reading a
  *    missing/empty table yields an empty DataFrame with the declared
  *    `fields` schema when present;
  *  - sink: strategy matrix (delta.py:368-382) —
  *      rows>0             → WRITE (append/overwrite per data_mode)
  *      rows=0 + schema    → CREATE (materialize empty table with schema)
  *      rows=0 + no schema → SKIP
  *  - sql: pseudo-statements DROP / TRUNCATE / OPTIMIZE DELTATABLE
  *    (delta.py:552-659); OPTIMIZE maps to a compaction rewrite.
  *
  * VERSION HISTORY (real, not approximated): every commit (write,
  * create, truncate, optimize) appends a manifest
  * `_graft_log/<version>.json` — the version's full file snapshot plus
  * its schema DDL — and destructive commits RETIRE the files they would
  * have deleted into `_graft_log/retained/` (underscore-prefixed, so
  * normal directory reads never see them — the same visibility trick the
  * streaming index's scratch dir uses). A tap whose pseudo-SQL carries
  * `VERSION AS OF n` resolves manifest n and reads exactly its files,
  * live or retired — delta's time travel on plain parquet. `OPTIMIZE ..
  * VACUUM` deletes retired files past the retention age (delta's vacuum:
  * travel to a vacuumed version errors loudly); DROP removes table and
  * history. PARTITIONED tables time-travel too: manifests record the
  * table's partition columns, retirement preserves the hive-style
  * `col=value/` layout under `_graft_log/retained/`, and a versioned
  * read reconstructs partition values via Spark's `basePath` partition
  * discovery over each location class (live vs retained), unioned by
  * name — the by-file analogue of a real delta log's per-file partition
  * metadata (reference partition write: delta.py:461-520).
  *
  * CRASH ORDERING (r15 protocol): every commit stages its Spark write
  * in a sibling `<table>__graft_commit_tmp` directory first (the table
  * root is never touched by Spark, so a failed write changes nothing);
  * then the replaced files are retired, the NEW manifest is appended
  * with the commit's final file list, and only then are the staged
  * files moved into the table root and the tmp dir removed. Versioned
  * reads resolve each manifest file across all three locations (live,
  * retained, staged), so EVERY manifested version stays readable no
  * matter where a crash lands. A leftover tmp dir is the crash marker:
  * `recoverCommit()` runs on every open and either COMPLETES the
  * commit (manifest was appended → finish moving its files in) or
  * ROLLS it BACK (manifest missing → restore the just-retired files of
  * the previous version to the table root and discard the stage), so
  * current non-versioned reads are healed to a consistent version
  * boundary too. Legacy log stashes from the pre-r14 protocol
  * (`<table>__graft_log_stash`) are detected and restored on open.
  *
  * FILESYSTEM: every file operation goes through the Hadoop
  * `FileSystem` the table path's scheme names (`file:`, `s3a:`, `gs:` …),
  * built from the session's Hadoop conf — the conf Spark's own reads
  * use, so [[CloudSecrets]]' injected keys apply. Which files under a
  * root are data is [[FileFormats.parquetFiles]]' rule, shared with
  * every footer count: the log, the stage's markers and a checksummed
  * FS's `.crc` sidecars (which rename carries along) are hidden.
  *
  * The interface matches the Connection trait, so a real delta-spark
  * implementation can drop in when the jar is available.
  */
final class DeltaConnection(ctx: ConnContext) extends Connection(ctx) {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[DeltaConnection])

  private lazy val conf = spark.sessionState.newHadoopConf()
  private lazy val fs: FileSystem = new Path(path).getFileSystem(conf)
  private lazy val root: Path = fs.makeQualified(new Path(path))
  private def logDir = new Path(root, "_graft_log")
  private def retainedDir = new Path(logDir, "retained")
  private def commitTmp = new Path(root.getParent, root.getName + "__graft_commit_tmp")

  /** `f`'s path below `base` (both qualified): the manifest's file key. */
  private def rel(base: Path, f: Path): String =
    f.toUri.getPath.stripPrefix(base.toUri.getPath + "/")

  /** Data files of the CURRENT table state, relative to the table root —
    * the log is hidden (its retired files are history, not state). */
  private def liveFiles: Seq[String] =
    FileFormats.parquetFiles(fs, root).map(rel(root, _))

  private def exists: Boolean = FileFormats.parquetFiles(fs, root, 1).nonEmpty

  /** Rename `src` to `dst`, creating `dst`'s parent first. */
  private def move(src: Path, dst: Path): Unit = {
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst)) throw new java.io.IOException(s"cannot move $src to $dst")
  }

  // ---- version log ----

  private def manifestVersions: Seq[Long] =
    if (!fs.exists(logDir)) Nil
    else fs.listStatus(logDir).toSeq
      .flatMap(f => "^(\\d+)\\.json$".r
        .findFirstMatchIn(f.getPath.getName).map(_.group(1).toLong))
      .sorted

  private def readManifest(v: Long): Map[String, Any] = {
    val f = new Path(logDir, s"$v.json")
    if (!fs.exists(f)) sys.error(
      s"Deltatable at $path has no version $v " +
        s"(known: ${manifestVersions.mkString(", ")})")
    val in = fs.open(f)
    try graft.template.Json.parse(new String(in.readAllBytes(), "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    finally in.close()
  }

  private def manifestFiles(m: Map[String, Any]): List[String] =
    m.getOrElse("files", Nil).asInstanceOf[List[Any]].map(_.toString)

  /** Append the next manifest: the commit's FINAL file snapshot (passed
    * explicitly — at manifest time the staged files haven't moved into
    * the table root yet), plus the partition columns the snapshot is
    * laid out by (empty = unpartitioned) — the metadata a versioned
    * read needs to reconstruct hive-style partition values. Written via
    * temp-file + rename so a concurrent reader never sees a torn
    * manifest. */
  private def commitManifest(action: String, schemaDdl: String,
      partitionCols: Seq[String], files: Seq[String]): Long = {
    fs.mkdirs(logDir)
    val v = manifestVersions.lastOption.map(_ + 1).getOrElse(0L)
    val body = graft.template.Json.write(scala.collection.immutable.ListMap(
      "version" -> v, "action" -> action,
      "partitioned" -> partitionCols.nonEmpty,
      "partition_cols" -> partitionCols.toList,
      "schema" -> schemaDdl, "files" -> files.sorted.toList))
    val tmp = new Path(logDir, s".$v.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    move(tmp, new Path(logDir, s"$v.json"))
    v
  }

  /** Partition columns of the latest committed version (empty when the
    * table is unpartitioned or has no manifest yet). */
  private def latestPartitionCols: Seq[String] =
    manifestVersions.lastOption.toSeq.flatMap { v =>
      readManifest(v).getOrElse("partition_cols", Nil) match {
        case l: List[_] => l.map(_.toString)
        case _ => Nil
      }
    }

  /** Move the current data files into the retention area instead of
    * deleting them, so older manifests stay readable. Relative paths are
    * preserved (part-file names carry a write-job UUID, so retirements
    * from different commits never collide). */
  private def retireLiveFiles(): Unit =
    for (r <- liveFiles) move(new Path(root, r), new Path(retainedDir, r))

  /** Restore a version log stranded by a crash inside the pre-r14
    * stash-and-restore write protocol (the stash dir hid the whole
    * history until manual recovery — now healed on every open). */
  private def recoverStash(): Unit = {
    val stash = new Path(root.getParent, root.getName + "__graft_log_stash")
    if (fs.exists(stash) && !fs.exists(logDir)) {
      move(stash, logDir)
      log.warn(s"restored stranded version log for $path from $stash")
    }
  }

  /** Crash-ordered commit (see CRASH ORDERING in the class doc): run
    * `write` against a staged tmp dir, retire the files the commit
    * replaces (overwrite/truncate/optimize), append the manifest with
    * the commit's FINAL file list, and only then move the staged files
    * into the table root, preserving relative layout so hive-style
    * partition dirs merge. Manifest-before-move means a crash anywhere
    * leaves every manifested version readable (readVersion resolves
    * staged files too) and recoverCommit can finish or roll back the
    * commit deterministically. An empty stage (zero part files — Spark
    * writes none for a 0-partition DataFrame) still retires on request:
    * that IS the truncate semantics. */
  private def stagedCommit(action: String, schemaDdl: String,
      partitionCols: Seq[String], retireFirst: Boolean)(
      write: String => Unit): Long =
    commitStaged(action, schemaDdl, partitionCols, retireFirst,
      stageWrite(write))

  /** First half of a staged commit: run `write` against the tmp dir and
    * return the staged data files (markers hidden). The caller may
    * still abandon the commit (delete the tmp) — nothing visible has
    * changed yet. */
  private def stageWrite(write: String => Unit): Seq[Path] = {
    fs.delete(commitTmp, true) // leftover from a crashed commit: superseded
    write(commitTmp.toString)
    FileFormats.parquetFiles(fs, commitTmp)
  }

  /** Second half: retire, manifest (with the commit's final file list),
    * move the staged files in, drop the stage. */
  private def commitStaged(action: String, schemaDdl: String,
      partitionCols: Seq[String], retireFirst: Boolean,
      staged: Seq[Path]): Long = {
    val survivors = if (retireFirst) Nil else liveFiles
    if (retireFirst) retireLiveFiles()
    val stagedRels = staged.map(rel(commitTmp, _))
    val v = commitManifest(action, schemaDdl, partitionCols, survivors ++ stagedRels)
    fs.mkdirs(root)
    stagedRels.foreach(r => move(new Path(commitTmp, r), new Path(root, r)))
    fs.delete(commitTmp, true)
    v
  }

  /** Heal a commit crashed at any point. A leftover tmp dir is the
    * crash marker (deleting it is a healthy commit's last act). For
    * every file of the LATEST manifest missing from the table root,
    * pull it back in from wherever it sits — the stage (crash after
    * manifest, before move-in → the commit COMPLETES) or the retention
    * area (crash after retire, before manifest: the latest manifest is
    * still the previous version, whose files were just retired → the
    * commit ROLLS BACK) — then discard the tmp dir. Either way the
    * table root lands exactly on a manifested version boundary. */
  private def recoverCommit(): Unit = {
    if (!fs.exists(commitTmp)) return
    manifestVersions.lastOption.foreach { last =>
      var healed = 0
      manifestFiles(readManifest(last)).foreach { r =>
        val dst = new Path(root, r)
        if (!fs.exists(dst))
          Seq(commitTmp, retainedDir).map(new Path(_, r))
            .find(fs.exists).foreach { src =>
              move(src, dst)
              healed += 1
            }
      }
      if (healed > 0)
        log.warn(s"recovered $healed file(s) of a crashed commit for $path")
    }
    fs.delete(commitTmp, true)
  }

  /** Resolve a manifest's file list against live + retained locations
    * and build the version's DataFrame. */
  private def readVersion(v: Long): DataFrame = {
    val m = readManifest(v)
    val files = manifestFiles(m)
    // resolve each manifest file to where it lives NOW — still in the
    // table (live), moved to the retention area by a later commit, or
    // sitting in the stage of a crashed post-manifest commit — keeping
    // the classes separate: partition discovery needs one basePath per
    // class (retire and stage both preserve the `col=value/` layout)
    val (liveRels, rest) = files.partition(r => fs.exists(new Path(root, r)))
    val (retiredRels, rest2) = rest.partition(r => fs.exists(new Path(retainedDir, r)))
    val (stagedRels, gone) = rest2.partition(r => fs.exists(new Path(commitTmp, r)))
    if (gone.nonEmpty) sys.error(
      s"Deltatable at $path: version $v file '${gone.head}' was vacuumed; " +
        "time travel to this version is no longer possible")
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          m.getOrElse("schema", "").toString))
    else if (!m.get("partitioned").contains(true))
      readParquet(liveRels.map(new Path(root, _).toString) ++
        retiredRels.map(new Path(retainedDir, _).toString) ++
        stagedRels.map(new Path(commitTmp, _).toString))
    else {
      // partitioned: `basePath` makes Spark reconstruct partition values
      // from the dirs between the base and each listed file — the
      // by-file analogue of delta's per-file partition metadata
      def readAt(base: Path, rels: Seq[String]) =
        readParquet(rels.map(new Path(base, _).toString),
          Map("basePath" -> base.toString))
      val frames =
        (if (liveRels.nonEmpty) Seq(readAt(root, liveRels)) else Nil) ++
          (if (retiredRels.nonEmpty) Seq(readAt(retainedDir, retiredRels)) else Nil) ++
          (if (stagedRels.nonEmpty) Seq(readAt(commitTmp, stagedRels)) else Nil)
      frames.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Every read of the table's data files: [[FileFormats.parquet]], so
    * the schema merges across the files of every version. */
  private def readParquet(paths: Seq[String],
      passthrough: Map[String, String] = Map.empty): DataFrame =
    FileFormats.parquet.reader(spark, passthrough = passthrough).load(paths: _*)

  /** Split `VERSION AS OF n` out of the tap's pseudo-SQL (the one
    * time-travel clause the emulation supports): the query with every
    * such clause replaced by a blank, and the first clause's version.
    * Read on tokens, so the words inside a literal or a comment are text. */
  private def extractVersion(query: Option[String]): (Option[String], Option[Long]) =
    query match {
      case Some(q) =>
        val toks = tokenize(q)
        var version = Option.empty[Long]
        val out = substitute(toks) { i =>
          versionAsOf(toks, i).map { case (end, v) =>
            version = version.orElse(Some(v))
            (Seq(Sym(" ")), end)
          }
        }
        if (version.isEmpty) (query, None) else (Some(render(out).trim), version)
      case None => (None, None)
    }

  /** The clause `VERSION AS OF n` at token `i`, blanks between its words:
    * the index just past it and `n`. */
  private def versionAsOf(toks: Vector[Tok], i: Int): Option[(Int, Long)] = {
    // the next non-blank index, when at least one blank comes first
    def spaced(j: Int): Option[Int] =
      Some(nextNonBlank(toks, j + 1)).filter(k => k > j + 1 && k < toks.length)
    def word(j: Int, w: String): Option[Int] = spaced(j).filter(k => isWord(toks(k), w))
    val isDigit: Tok => Boolean = {
      case Sym(d) => d.length == 1 && d(0) >= '0' && d(0) <= '9'
      case _ => false
    }
    for {
      as <- if (isWord(toks(i), "version")) word(i, "as") else None
      of <- word(as, "of")
      num <- spaced(of)
      digits = toks.drop(num).takeWhile(isDigit)
      end = num + digits.length
      if digits.nonEmpty && !toks.lift(end).exists(_.isInstanceOf[Word])
    } yield (end, render(digits).toLong)
  }

  private def emptyWithSchema: DataFrame = {
    val fields = conn.fields
    if (fields.nonEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        SchemaUtil.toStruct(fields))
    else sys.error(s"Deltatable at $path does not exist and no fields declared")
  }

  override def tap(query: Option[String], limit: Option[Int]): DataFrame = {
    recoverStash(); recoverCommit()
    val (stripped, version) = extractVersion(query)
    val raw = version match {
      case Some(v) => readVersion(v)
      case None =>
        if (exists) readParquet(Seq(path)) else emptyWithSchema
    }
    finishTap(raw, stripped, limit)
  }

  override def sink(from: DataFrame): Unit = {
    recoverStash(); recoverCommit()
    val declared = conn.fields
    val mode = saveMode
    val partitions = conn.strList("partition")
    // data_mode=error against an existing table can only SKIP (empty
    // frame — strategy is decided by row count before mode applies,
    // delta.py:368-382) or raise; neither outcome uses the staged files,
    // so probe emptiness with a LIMIT-1 plan instead of staging the full
    // write only to discard it (r16).
    if (mode == SaveMode.ErrorIfExists && exists) {
      if (!from.isEmpty)
        sys.error(s"Deltatable at $path already exists (data_mode: error)")
      return // rows == 0 and the table exists: pure SKIP
    }
    // ONE plan execution (r15): the reference probes emptiness on an
    // already-materialized frame (delta.py:368-382); here `from` is a
    // LAZY plan whose transform chain can be arbitrarily expensive, so
    // an isEmpty probe before the write would run that plan twice.
    // Instead the write stages unconditionally (nothing visible changes
    // on a failed or abandoned stage) and the WRITE/CREATE/SKIP strategy
    // reads the staged parquet footers.
    val staged = stageWrite { tmp =>
      val writer = from.write.mode(SaveMode.Overwrite)
      val w2 = if (partitions.nonEmpty) writer.partitionBy(partitions: _*) else writer
      w2.parquet(tmp)
    }
    // row count from the footers of the files THIS commit just wrote
    // (not a table scan)
    if (FileFormats.parquetFooterRows(conf, staged) > 0) {
      // overwrite logically REMOVES the current files: retire them (so
      // older versions stay travelable) only now that the staged write
      // succeeded — a failed write must leave the table intact
      commitStaged(dataMode, from.schema.toDDL, partitions,
        retireFirst = mode == SaveMode.Overwrite, staged)
    } else {
      fs.delete(commitTmp, true) // abandon the empty stage
      if (declared.nonEmpty && !exists) {
        // CREATE: empty table materialized from the declared schema
        val schema = SchemaUtil.toStruct(declared)
        stagedCommit("create", schema.toDDL, Nil, retireFirst = false) { tmp =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            schema).write.mode(SaveMode.Overwrite).parquet(tmp)
        }
      } // else SKIP (delta.py:368-382)
    }
  }

  override def showSchema(): org.apache.spark.sql.types.StructType = {
    recoverStash(); recoverCommit()
    if (exists) readParquet(Seq(path)).schema
    else SchemaUtil.toStruct(conn.fields)
  }

  override def sqlStmt(stmt: String): Option[DataFrame] = {
    recoverStash(); recoverCommit()
    val s = stmt.trim.toUpperCase.replaceAll("\\s+", " ")
    if (s.startsWith("DROP DELTATABLE")) {
      fs.delete(root, true) // table AND history die together
      None
    } else if (s.startsWith("TRUNCATE DELTATABLE")) {
      // keep schema: re-create the empty table from current schema
      val schema = if (exists) Some(readParquet(Seq(path)).schema) else None
      schema match {
        case Some(sch) =>
          // pre-truncate versions stay travelable: stagedCommit retires
          // the live files (an empty stage writes no part files)
          stagedCommit("truncate", sch.toDDL, Nil, retireFirst = true) { tmp =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
              .write.mode(SaveMode.Overwrite).parquet(tmp)
          }
        case None => fs.delete(root, true)
      }
      None
    } else if (s.startsWith("OPTIMIZE DELTATABLE")) {
      val flags = DeltaConnection.parseOptimizeFlags(stmt)
      log.info(s"OPTIMIZE $path: $flags")
      if (exists && !flags.dryRun && flags.compact) {
        // compaction rewrite: same rows, fewer files; the replaced files
        // retire so earlier versions stay travelable until vacuumed. A
        // partitioned table keeps its layout: re-written under the same
        // partitionBy, hash-clustered on the partition columns so each
        // hive partition lands in ~1 file
        val df = readParquet(Seq(path))
        val parts = latestPartitionCols
        val n = math.max(1, (df.count() / 5000000L).toInt)
        val clustered =
          if (parts.nonEmpty)
            df.repartition(n, parts.map(org.apache.spark.sql.functions.col): _*)
          else df.repartition(n)
        val schemaDdl = df.schema.toDDL
        stagedCommit("optimize", schemaDdl, parts, retireFirst = true) { tmp =>
          val w = clustered.write.mode(SaveMode.Overwrite)
          val w2 = if (parts.nonEmpty) w.partitionBy(parts: _*) else w
          w2.parquet(tmp)
        }
      }
      if (!flags.dryRun && flags.vacuum)
        // delta's vacuum: retired files older than the retention age are
        // permanently deleted; time travel to versions needing them then
        // errors loudly in readVersion (never silently misreads)
        vacuumRetained(flags.retentionHours)
      None
    } else sys.error(s"unsupported Deltatable statement: $stmt")
  }

  /** Delete retired files whose modification time is past the
    * retention age. On `file:` the retiring rename keeps the original
    * write's time; on object stores (`s3a:`, `gs:`) a rename is copy +
    * delete, so there the clock starts at retirement. */
  private def vacuumRetained(retentionHours: Int): Unit =
    if (fs.exists(retainedDir)) {
      val cutoff = System.currentTimeMillis() - retentionHours * 3600L * 1000L
      val expired = scala.collection.mutable.ArrayBuffer.empty[Path]
      val it = fs.listFiles(retainedDir, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getModificationTime <= cutoff) expired += f.getPath
      }
      expired.foreach(fs.delete(_, false))
    }
}

object DeltaConnection {

  /** Parsed `OPTIMIZE DELTATABLE` flags (delta.py:604-659). */
  final case class OptimizeFlags(
      compact: Boolean, vacuum: Boolean, cleanup: Boolean,
      dryRun: Boolean, retentionHours: Int)

  /** Flag parsing with the reference's defaulting rule: neither COMPACT
    * nor VACUUM given → both, unless CLEANUP alone was asked; AGE=n[d|h]
    * (default 7 d) clamped to [0, 365 d] (delta.py:616-659). */
  def parseOptimizeFlags(stmt: String): OptimizeFlags = {
    val toks = stmt.trim.split("\\s+").map(_.toLowerCase).toList
    var compact = toks.contains("compact")
    var vacuum = toks.contains("vacuum")
    val cleanup = toks.contains("cleanup")
    val dryRun = toks.contains("dry_run")
    if (!compact && !vacuum && !cleanup) { compact = true; vacuum = true }
    val age = toks.collectFirst {
      case t if t.startsWith("age=") =>
        val v = t.substring(4)
        if (v.endsWith("h")) v.dropRight(1).toInt
        else if (v.endsWith("d")) v.dropRight(1).toInt * 24
        else v.toInt * 24
    }.getOrElse(7 * 24)
    OptimizeFlags(compact, vacuum, cleanup, dryRun,
      math.max(0, math.min(age, 365 * 24)))
  }
}
