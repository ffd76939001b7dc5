package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** A minimal versioned table format: immutable data files + numbered
  * manifest files — the mechanism behind Delta/Iceberg time travel,
  * for engines addressing raw parquet directories.
  *
  * Layout:
  * {{{
  *   table/
  *     _manifests/v00001.json   one JSON line per data file
  *     data/<commit-uuid>/part-*.parquet
  * }}}
  *
  * Every commit writes its rows to a FRESH directory under `data/`
  * (nothing is ever modified in place), then publishes a manifest
  * enumerating the table's complete file set at that version —
  * `append` = previous files + new, `overwrite` = new only. Readers
  * resolve a manifest and read exactly its files, so:
  *
  *  - reads are snapshot-isolated (a concurrent commit can't change a
  *    running query's file set);
  *  - any retained version is readable (`read(spark, path, Some(v))`);
  *  - commit is ATOMIC via create-fails-if-exists on the manifest: two
  *    racing writers target the same next version and exactly one
  *    create succeeds — the loser re-reads the new state and retries
  *    (optimistic concurrency, the Delta protocol's shape).
  *
  * ATOMICITY REQUIREMENT: the commit protocol relies on an atomic
  * create-fails-if-exists claim. HDFS `create(overwrite = false)`
  * guarantees this; Hadoop's LOCAL filesystem does NOT (its create is
  * an exists-check then open — two racers can both pass, the second
  * truncating the first), so local paths claim via NIO `CREATE_NEW`
  * (O_CREAT|O_EXCL) instead — see `atomicClaim`. Object-store
  * connectors like S3A offer no such primitive at all; there an
  * external coordination layer is required — the same constraint the
  * Delta protocol documents for its LogStore implementations.
  *
  * The claim is atomic but NOT instantaneous: the manifest file is
  * visible (create) before its content is durable (close). A manifest
  * is therefore only COMPLETE once it ends with the `#done` terminator
  * line; readers that land in the create→close window poll briefly
  * for the terminator (`spark.graft.manifest.pollMs`, default 10 s)
  * instead of silently resolving a truncated file list — without
  * this, a racing writer's retry could re-read a half-written winner
  * manifest and publish a carried file list missing the winner's rows
  * (lost update). A claim whose writer crashed before close is
  * recovered by the next committer once it is older than
  * `spark.graft.manifest.staleMs` (default 60 s); unpinned readers
  * that outlive the poll window on such a claim fall back to the
  * newest COMPLETE version (a crashed writer must not take the table
  * offline). Reclaim is FENCED: the reclaimer renames the manifest
  * aside before deleting (restoring it if the writer's close landed
  * mid-inspection), and every committer re-reads its manifest after
  * close — a stalled writer whose claim was reclaimed and reused gets
  * a `ConcurrentModificationException` instead of a silent lost
  * update, so exactly one of the racing committers reports success.
  *
  * Every writer goes through three private primitives, so each step of
  * the protocol exists once: `writeCommitDir` writes the fresh
  * `data/<uuid>` dir under the `commit <table>` job label;
  * `claimVersion` claims one manifest version, writes its lines and
  * the terminator, and verifies the publish (won, lost or fenced);
  * `retrying` is the one bounded loop (20 attempts) that reclaims a
  * stale claim and retries on the latest version. Streaming sinks
  * skip a replayed micro-batch through [[oncePerBatch]]'s marker.
  * [[commitOverwrite]] can run a `beforeClaim` check between the
  * write and the claim; a check that throws deletes the commit dir and
  * publishes nothing.
  *
  * `vacuum` deletes data files unreferenced by the retained manifests
  * — the storage-reclaim half of time travel.
  */
object VersionedTable {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Parquet schema for an exact (file list, mergeSchema) pair,
    * resolved from the footers on the driver ([[ParquetSchema]]; no
    * Spark job) and memoized. Sound because committed data files are
    * immutable (new files always land under fresh commit-UUID dirs;
    * vacuum/erase only delete or value-scrub, never retype) and footer
    * inference over a FIXED file list is deterministic — a hit returns
    * exactly what inference would have produced. Snapshot reads and
    * the publish/append schema guards all resolve through here;
    * maintenance pipelines re-read the same snapshot several times
    * per call, so the memo still saves the footer reads. Bounded:
    * cleared when it outgrows its cap (file lists are
    * scratch-UUID-heavy, so entries don't repeat across bench
    * passes). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (Seq[String], Boolean), org.apache.spark.sql.types.StructType]()
  private def inferredSchema(spark: SparkSession, fl: Seq[String],
      merge: Boolean): org.apache.spark.sql.types.StructType = {
    val key = (fl, merge)
    val hit = schemaCache.get(key)
    if (hit != null) return hit
    if (schemaCache.size > 4096) schemaCache.clear()
    val s = ParquetSchema.ofFiles(spark, fl, merge).getOrElse(
      (if (merge) spark.read.option("mergeSchema", "true")
        else spark.read).parquet(fl: _*).schema)
    schemaCache.put(key, s)
    s
  }

  /** Parquet read of `fl` with the table's evolved-schema discipline,
    * schema served from [[inferredSchema]]'s cache. */
  private def readFiles(spark: SparkSession, fl: Seq[String],
      merge: Boolean): DataFrame = {
    val s = inferredSchema(spark, fl, merge)
    (if (merge) spark.read.option("mergeSchema", "true")
      else spark.read).schema(s).parquet(fl: _*)
  }

  private def manifestDir(path: String) = s"$path/_manifests"
  private def manifestPath(path: String, v: Int) =
    new Path(manifestDir(path), f"v$v%05d.json")

  /** Latest committed version, 0 if the table does not exist yet.
    * Only well-formed `vNNNNN.json` names count — reclaim temp files
    * (`*.reclaim-*`) and stray files are ignored. */
  def latestVersion(spark: SparkSession, path: String): Int = {
    val dir = new Path(manifestDir(path))
    val f = fs(spark, path)
    if (!f.exists(dir)) 0
    else f.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("v\\d+\\.json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)
      .foldLeft(0)(math.max)
  }

  private val Terminator = "#done"

  private def confMs(spark: SparkSession, key: String,
      default: Long): Long =
    spark.conf.getOption(key).map(_.toLong).getOrElse(default)

  private def readManifest(f: FileSystem, mp: Path): List[String] = {
    def readVia(fs: FileSystem): List[String] = {
      val in = fs.open(mp)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    }
    try readVia(f)
    catch {
      // a stale .crc sidecar (left by a reclaimed writer's checksummed
      // stream racing the version's next claimant, which writes
      // through O_EXCL and never updates the sidecar) must not make a
      // valid manifest unreadable — fall back to the raw filesystem
      case _: org.apache.hadoop.fs.ChecksumException => f match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem =>
          readVia(c.getRawFileSystem)
        case _ => throw new java.io.IOException(
          s"checksum mismatch reading $mp")
      }
    }
  }

  /** Atomically claim `target`: an output stream iff this caller
    * created the file, IOException if it already exists — even under
    * a concurrent claim. Hadoop's LOCAL filesystem implements
    * `create(overwrite = false)` as a non-atomic exists-check (two
    * racers can both pass, the second truncating the first — a silent
    * lost manifest), so local paths claim via NIO `CREATE_NEW`
    * (O_CREAT|O_EXCL, atomic at the kernel). HDFS `create` is
    * genuinely atomic and takes the plain path. Object stores are
    * excluded either way (see the class doc). */
  private def atomicClaim(f: FileSystem, target: Path)
      : java.io.OutputStream =
    if (f.getScheme == "file") {
      val p = java.nio.file.Paths.get(target.toUri.getPath)
      java.nio.file.Files.createDirectories(p.getParent)
      val out = java.nio.file.Files.newOutputStream(p,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      // the claim is ours: clear any stale checksum sidecar a prior
      // reclaimed writer left for this name (we write raw bytes, so a
      // leftover .crc would poison checksummed readers)
      try f.delete(new Path(target.getParent,
        s".${target.getName}.crc"), false)
      catch { case _: java.io.IOException => () }
      out
    } else f.create(target, false)

  /** One non-polling completeness check: Some(file list) if `mp` is
    * terminated, else None. */
  private def completeNow(f: FileSystem, mp: Path): Option[List[String]] =
    try {
      val lines = readManifest(f, mp)
      if (lines.lastOption.contains(Terminator)) Some(lines.dropRight(1))
      else None
    } catch { case _: java.io.IOException => None }

  /** The complete data-file list at `version` (default: latest).
    * A manifest missing its terminator is IN-FLIGHT (its writer is
    * between create and close): poll until complete rather than
    * resolve a truncated file list. When no version was pinned and the
    * LATEST manifest never completes (its writer crashed mid-publish),
    * fall back to the newest terminated manifest below it — a crashed
    * writer must not make the whole table unreadable; its half-claimed
    * version is reclaimed by the next committer. An explicitly
    * requested version still fails loudly: the caller asked for
    * exactly that snapshot. */
  def files(spark: SparkSession, path: String,
      version: Option[Int] = None): Seq[String] = {
    val v = version.getOrElse(latestVersion(spark, path))
    if (v == 0) return Nil
    val mp = manifestPath(path, v)
    val f = fs(spark, path)
    // only an explicitly pinned version fails loudly on a missing
    // manifest — for an unpinned read, "latest vanished between
    // latestVersion() and here" is just a concurrent reclaimer winning
    // the race on a stale claim: treat it like an incomplete manifest
    // (completeNow maps the read IOException to None) and engage the
    // same poll/fall-back-to-complete path instead of throwing
    if (version.isDefined)
      require(f.exists(mp), s"version $v of $path does not exist " +
        "(never committed, or vacuumed away)")
    val deadline = System.currentTimeMillis() +
      confMs(spark, "spark.graft.manifest.pollMs", 10000L)
    var gone = version.isEmpty && !f.exists(mp)
    while (!gone && System.currentTimeMillis() <= deadline) {
      completeNow(f, mp) match {
        case Some(fl) => return fl
        case None =>
          // a reclaimed (deleted/renamed-aside) latest never completes
          // — skip the rest of the poll window and fall back now
          if (version.isEmpty && !f.exists(mp)) gone = true
          else Thread.sleep(10)
      }
    }
    if (version.isEmpty) {
      // the poll window expired on an abandoned half-publish: serve
      // the newest COMPLETE snapshot instead of failing every read
      var w = v - 1
      while (w >= 1) {
        val wp = manifestPath(path, w)
        if (f.exists(wp)) completeNow(f, wp) match {
          case Some(fl) => return fl
          case None => // also abandoned; keep walking down
        }
        w -= 1
      }
    }
    throw new IllegalStateException(s"manifest $mp is incomplete " +
      "(no terminator) — writer crashed mid-publish, or raise " +
      "spark.graft.manifest.pollMs")
  }

  private def evolvedMarker(path: String) = new Path(s"$path/_schema.evolved")

  /** Whether [[commitAppendEvolve]] ever flagged this table: readers
    * of RAW file subsets (delta scans, compaction) must merge parquet
    * footers exactly when [[read]] would, or a multi-version file set
    * spanning the evolution boundary resolves columns from one sampled
    * footer and silently diverges from the full-table read. */
  def isEvolved(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(evolvedMarker(path))

  /** Read the table as of `version` (default: latest). An empty table
    * (version 0) is an error — there is no schema to produce. Tables
    * flagged by [[commitAppendEvolve]] merge parquet footers so rows
    * written before an additive schema change read as null in the
    * added columns (the Delta mergeSchema read shape); unevolved
    * tables skip the footer-merge cost. */
  def read(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    val fl = files(spark, path, version)
    require(fl.nonEmpty, s"$path has no committed data" +
      version.fold("")(v => s" at version $v"))
    readFiles(spark, fl, fs(spark, path).exists(evolvedMarker(path)))
  }

  /** Append a batch whose schema MATCHES the table's (names and
    * types, order- and nullability-insensitive). The check is loud on
    * purpose: parquet resolves a mixed-schema file list from a
    * sampled footer, so a drifted append would not fail here — it
    * would corrupt every LATER read nondeterministically (columns
    * silently dropped or nulled depending on which file is sampled).
    * Additive schema changes go through [[commitAppendEvolve]]. */
  def commitAppend(df: DataFrame, path: String): Int = {
    validateAppendSchema(df, path, allowAdded = false)
    commit(df, path, carryPrevious = true)
  }

  /** Append with EXPLICIT additive schema evolution (the Delta
    * `mergeSchema` write analogue): the batch may add columns (rows
    * in older files read as null there) but may not drop or retype
    * existing ones. Flags the table so [[read]] merges footers from
    * then on; time-travel reads of pre-evolution versions still see
    * the original schema (their file set has no evolved footers).
    * Caveat: [[readPruned]] skipping on a column added later will not
    * prune files that predate the column. */
  def commitAppendEvolve(df: DataFrame, path: String): Int = {
    validateAppendSchema(df, path, allowAdded = true)
    val spark = df.sparkSession
    val f = fs(spark, path)
    try f.create(evolvedMarker(path), false).close()
    catch { case _: java.io.IOException => () } // already flagged
    commit(df, path, carryPrevious = true)
  }

  /** Batch-vs-table schema compatibility (one parquet footer read of
    * the current snapshot; no job). Retypes always reject; drops
    * always reject; adds reject unless `allowAdded`. */
  private def validateAppendSchema(df: DataFrame, path: String,
      allowAdded: Boolean): Unit = {
    val spark = df.sparkSession
    val vPrev = latestVersion(spark, path)
    if (vPrev == 0) return
    val fl =
      try files(spark, path, Some(vPrev))
      catch { case _: Exception => return } // racing commit: let the
    // commit loop's own race handling arbitrate; this check is about
    // catching schema drift, not about winning races
    if (fl.isEmpty) return
    // evolved tables validate against the MERGED schema (the oldest
    // footer alone would reject appends that carry a column added
    // later); unevolved tables read one footer
    val prev =
      if (fs(spark, path).exists(evolvedMarker(path)))
        inferredSchema(spark, fl, merge = true)
      else inferredSchema(spark, Seq(fl.head), merge = false)
    val prevT = prev.fields.map(f => f.name -> f.dataType).toMap
    val curT = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val retyped = curT.keySet.intersect(prevT.keySet)
      .filter(k => !org.apache.spark.sql.GraftBridge
        .sameTypeIgnoreNullability(curT(k), prevT(k)))
    require(retyped.isEmpty,
      s"append to $path retypes column(s) ${retyped.mkString(", ")} " +
        s"(${retyped.map(k => s"$k: ${prevT(k)} -> ${curT(k)}")
          .mkString("; ")}) — retyping is never allowed")
    val missing = prevT.keySet -- curT.keySet
    require(missing.isEmpty,
      s"append to $path is missing column(s) ${missing.mkString(", ")}" +
        " — appends may not drop columns (evolution is additive-only)")
    val added = curT.keySet -- prevT.keySet
    if (!allowAdded) require(added.isEmpty,
      s"append to $path adds column(s) ${added.mkString(", ")} — " +
        "use commitAppendEvolve for explicit additive schema evolution")
  }

  /** Publish `df` as the table's whole next version. `beforeClaim`
    * runs after the data files are written and before the version is
    * claimed: a check that rides the write (an observed metric) reads
    * its result there, and when it throws, the commit dir is deleted,
    * no version is published and the exception propagates. */
  def commitOverwrite(df: DataFrame, path: String,
      beforeClaim: () => Unit = () => ()): Int =
    commit(df, path, carryPrevious = false, beforeClaim)

  /** DELETE by key — the Delta `DELETE WHERE key IN (...)` analogue:
    * commit a new version holding the latest snapshot minus the rows
    * whose `keyCols` tuple appears in `keys` (null-safe match, like
    * GROUP BY treats nulls). Copy-on-write like [[commitMerge]]: cost
    * is proportional to the table, not the key set — indexes built
    * over the table take the merge-on-read route instead
    * ([[graft.operators.Bm25Index.forget]] tombstones), and a
    * high-frequency deletion stream should too. History keeps the
    * deleted rows addressable until [[vacuum]]; a privacy-motivated
    * delete is only complete once vacuum reclaims the old versions.
    * Returns the new version (the current one if the table is
    * empty). */
  def commitDelete(spark: SparkSession, path: String,
      keys: DataFrame, keyCols: Seq[String]): Int = {
    require(latestVersion(spark, path) > 0,
      s"$path has no committed data to delete from")
    val k = keys.select(keyCols.map(c => col(c).as(s"__k_$c")): _*)
      .distinct()
    val cond = keyCols.map(c => col(c) <=> col(s"__k_$c"))
      .reduce(_ && _)
    // FILE-GRANULAR copy-on-write under the same optimistic
    // concurrency as commitMerge: find the files that actually
    // CONTAIN a hit; only those rewrite. On a 100 TB table a takedown
    // of a handful of ids rewrites a handful of files — the other
    // ~all of the table carries into the new manifest BY REFERENCE,
    // exactly like a shallow clone. When a Bloom sidecar exists for
    // the (single, integral, null-free) key, the discovery itself
    // prunes to the sidecar's candidate files — a files-sized driver
    // probe instead of a table scan; without one, discovery is one
    // column-pruned scan (the same single pass the old full rewrite
    // paid, but writing only the touched fraction). A lost version
    // race RECOMPUTES discovery against the winner's snapshot — a
    // blind retry would republish a stale file list and silently drop
    // the concurrent commit.
    retrying(spark, path, "deleting from") { v =>
      val all = files(spark, path, Some(v))
      if (all.isEmpty) Some(v)
      else {
        val candidates = bloomCandidates(spark, path, v, all, keys,
          keyCols).getOrElse(all)
        val touched = touchedFiles(spark, path, candidates, all, k,
          cond)
        // nothing to delete: a metadata-only commit (same file list)
        // — callers still get their "delete landed as a new version"
        val won =
          if (touched.isEmpty) claimVersion(spark, path, v + 1, all) == Won
          else tryRewriteClaim(spark, path, v,
            all.filterNot(touched.toSet),
            readFileSubset(spark, path, touched)
              .join(k, cond, "left_anti"))
        Option.when(won)(v + 1)
      }
    }
  }

  /** If `df`'s optimized plan is a bare parquet file-source scan (no
    * projection, filter, join, or computed column on top), return the
    * same scan PINNED to its concrete file list: evaluating a bare
    * scan twice costs two reads of files already on disk, so
    * [[commitReplaceWhere]] skips the scratch copy — but the two
    * evaluations must see IDENTICAL bytes, or rows that landed in the
    * source directory between the validation scan and the write scan
    * would be committed unvalidated. Re-reading the exact `inputFiles`
    * (immutable once written, like every parquet producer's contract)
    * closes that race for live directories; [[read]]'s own manifest
    * file list was already pinned by construction. Partitioned or
    * non-parquet or empty relations return None and take the scratch
    * path (partition-column values come from directory names, which an
    * explicit file list without a basePath would drop). */
  private[graft] def pinnedBareScan(df: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    df.queryExecution.optimizedPlan match {
      case lr: LogicalRelation => lr.relation match {
        case r: HadoopFsRelation
            if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
              r.partitionSchema.isEmpty =>
          val files = df.inputFiles
          if (files.isEmpty) None
          else Some(df.sparkSession.read
            .options(r.options -- Seq("path", "paths"))
            .schema(df.schema)
            .parquet(scala.collection.immutable.ArraySeq
              .unsafeWrapArray(files): _*))
        case _ => None
      }
      case _ => None
    }
  }

  /** REPLACE WHERE (the Delta selective-overwrite analogue): atomically
    * replace exactly the rows satisfying `predicate` with `replacement`
    * — the backfill shape ("re-land one day of a 100 TB table").
    * File-granular copy-on-write like [[commitDelete]]: files with no
    * matching row carry into the new manifest by reference; only files
    * containing matches rewrite (their non-matching rows — including
    * rows where the predicate is NULL — are preserved verbatim).
    * `replacement` must match the table schema, and every replacement
    * row must itself satisfy the predicate (rejected loudly otherwise
    * — a row outside the predicate would silently survive the NEXT
    * replace of the same window). Returns the new version; history
    * stays time-travelable. */
  def commitReplaceWhere(spark: SparkSession, path: String,
      replacement: DataFrame,
      predicate: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.{input_file_name, lit,
      coalesce, not}
    require(latestVersion(spark, path) > 0,
      s"$path has no committed data to replace into")
    // the pre-loop snapshot read races the same reclaim/half-publish
    // window the OCC loop handles — bounded retry here too, or a
    // concurrent reclaimer crashes the backfill before the loop ever
    // starts. files() errors only (validateAppendSchema's own
    // IllegalArgumentException is a REAL schema mismatch and must
    // propagate, so it stays outside the retry)
    val snapshotNonEmpty = retrying(spark, path, "resolving the latest " +
      "snapshot of")(v0 => Some(files(spark, path, Some(v0)).nonEmpty))
    // an EMPTY committed snapshot (zero files — a legal version) has
    // no footer to validate against; the replacement becomes the
    // window's only content below
    if (snapshotNonEmpty)
      validateAppendSchema(replacement, path, allowAdded = false)
    val evolved = fs(spark, path).exists(evolvedMarker(path))
    // three-valued logic: "matches" means predicate IS TRUE; NULL and
    // FALSE rows are kept, and a replacement row with a NULL predicate
    // is as out-of-window as a FALSE one
    val matches = coalesce(predicate, lit(false))
    // materialize the replacement ONCE: the every-row-in-window
    // validation and the write (and any OCC retry) all read one
    // parquet scratch instead of re-evaluating an arbitrary caller
    // plan — a derived feed (a join, a model scorer) pays its cost
    // exactly once. EXCEPT when the plan is already a bare parquet
    // scan (the SQL REPLACE path always passes one): re-scanning the
    // source files is strictly cheaper than first WRITING a scratch
    // copy of the whole backfill window — PINNED to the concrete file
    // list so every evaluation reads identical bytes even if the
    // source directory is live. Scratch is dropped on every exit
    // path; the committed version's own data files are written by the
    // claim below, so nothing durable references it.
    val (repl, scratch) =
      pinnedBareScan(replacement) match {
        case Some(pinned) => (pinned, None)
        case None =>
          val (r, p) = Scratch.materializeWithPath(replacement,
            "replace_where")
          (r, Some(p))
      }
    try {
      require(repl.filter(not(matches)).isEmpty,
        "every replacement row must satisfy the REPLACE WHERE predicate")
      // optimistic concurrency (the commitMerge discipline): a lost
      // version race recomputes discovery against the winner's snapshot
      retrying(spark, path, "replacing into") { v =>
        val all = files(spark, path, Some(v))
        val touched =
          if (all.isEmpty) Seq.empty[String]
          else {
            val touchedNorm = readFileSubset(spark, path, all)
              .withColumn("__file", input_file_name())
              .filter(matches)
              .select(col("__file")).distinct()
              .collect().map(r => normPath(r.getString(0))).toSet
            all.filter(p => touchedNorm.contains(normPath(p)))
          }
        val kept =
          if (touched.isEmpty) repl // pure insert into window
          else readFileSubset(spark, path, touched)
            .filter(not(matches))
            // a touched subset that predates a schema evolution lacks
            // the added columns; null-fill them exactly like a
            // whole-table mergeSchema read would
            .unionByName(repl, allowMissingColumns = evolved)
        Option.when(tryRewriteClaim(spark, path, v,
          all.filterNot(touched.toSet), kept))(v + 1)
      }
    } finally scratch.foreach(Scratch.drop(spark, _))
  }

  /** Manifest entries are raw `FileStatus.getPath.toString` URIs;
    * `input_file_name()` returns the URL-ENCODED URI of the same file
    * (Spark renders scan paths through SparkPath), and schemes render
    * differently (`file:/` vs `file:///`). Canonicalize both to a
    * DECODED absolute path: parse as URI (which decodes %XX) when
    * possible, else strip the scheme — a raw path whose special
    * characters make it URI-unparseable (a space) lands in the same
    * decoded form from both sides. Residual ambiguity: a raw
    * directory name that itself looks like a valid escape (literal
    * "%20") normalizes like its decoded twin — don't name tables
    * that way. */
  private def normPath(p: String): String = {
    def stripped = p.replaceFirst("^[a-z]+:(//)?", "")
    try {
      val u = new java.net.URI(p)
      if (u.getPath != null && u.getPath.nonEmpty) u.getPath
      else stripped
    } catch {
      case _: java.net.URISyntaxException => stripped
    }
  }

  /** Files of `all` containing at least one row matching `k` under
    * `cond` — the shared discovery scan of the file-granular write
    * path (`candidates` lets a sidecar pre-prune what gets read). */
  private def touchedFiles(spark: SparkSession, path: String,
      candidates: Seq[String], all: Seq[String], k: DataFrame,
      cond: org.apache.spark.sql.Column): Seq[String] = {
    import org.apache.spark.sql.functions.input_file_name
    if (candidates.isEmpty) return Seq.empty
    val touchedNorm = readFileSubset(spark, path, candidates)
      .withColumn("__file", input_file_name())
      .join(k, cond, "left_semi")
      .select(col("__file")).distinct()
      .collect().map(r => normPath(r.getString(0))).toSet
    all.filter(p => touchedNorm.contains(normPath(p)))
  }

  /** Sidecar-pruned candidate files for a key-set delete: when a
    * Bloom sidecar exists for the version and the delete key is a
    * single integral null-free column of bounded cardinality, the
    * files that might contain any key come from a files-sized DRIVER
    * probe — no table scan. None = preconditions not met, caller
    * scans. No false negatives (the Bloom contract), so pruning never
    * loses a hit; false positives only cost reading a file the
    * discovery join then rejects. */
  private def bloomCandidates(spark: SparkSession, path: String,
      v: Int, all: Seq[String], keys: DataFrame, keyCols: Seq[String])
      : Option[Seq[String]] = {
    if (keyCols.size != 1) return None
    val kc = keyCols.head
    val bp = bloomDir(path, v, kc)
    if (!fs(spark, path).exists(new Path(bp))) return None
    val dt = keys.schema.find(_.name == kc)
      .map(_.dataType.simpleString).getOrElse("")
    if (!Seq("bigint", "int", "smallint", "tinyint").contains(dt))
      return None
    // a NULL key matches null-keyed rows via <=>, which no bitset can
    // represent — scan instead
    if (!keys.filter(col(kc).isNull).isEmpty) return None
    val cap = 100000
    val ks = keys.select(col(kc).cast("long")).distinct()
      .limit(cap + 1).collect().map(_.getLong(0)).toSeq
    if (ks.size > cap) return None
    val manifest = spark.read.parquet(s"$bp/*.parquet")
    val pruned = ManifestStats.pruneFilesPoint(manifest, kc, ks)
      .map(normPath).toSet
    Some(all.filter(p => pruned.contains(normPath(p))))
  }

  /** Read a specific subset of a version's files with the table's
    * evolved-schema discipline. */
  private[graft] def readFileSubset(spark: SparkSession, path: String,
      subset: Seq[String]): DataFrame =
    readFiles(spark, subset, fs(spark, path).exists(evolvedMarker(path)))

  /** One attempt of the file-granular rewrite: write `rewritten` as a
    * fresh commit dir and claim exactly the next version naming the
    * carried files (by reference, zero bytes copied) plus the new
    * ones; on a lost race the commit dir is removed and false
    * returned for the caller's recompute loop. */
  private def tryRewriteClaim(spark: SparkSession, path: String,
      vPrev: Int, carried: Seq[String], rewritten: DataFrame)
      : Boolean = {
    val (commitDir, newFiles) = writeCommitDir(rewritten, path)
    val won = claimVersion(spark, path, vPrev + 1, carried ++ newFiles) == Won
    if (!won) fs(spark, path).delete(commitDir, true)
    won
  }

  /** Write `df` to a fresh `data/<uuid>` dir of the table (nothing is
    * ever written in place) under the `commit <table>` job label.
    * Returns the dir and its data files. */
  private def writeCommitDir(df: DataFrame, path: String)
      : (Path, Seq[String]) = {
    val sc = df.sparkSession.sparkContext
    val commitDir = new Path(s"$path/data/${java.util.UUID.randomUUID()}")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"commit ${new Path(path).getName}")
    try df.write.mode(SaveMode.ErrorIfExists).parquet(commitDir.toString)
    finally sc.setJobDescription(prevDesc)
    val newFiles = fs(df.sparkSession, path).listStatus(commitDir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toString).toSeq
    (commitDir, newFiles)
  }

  /** Outcome of one [[claimVersion]]. */
  private sealed trait Claim
  /** The version is ours and holds our lines. */
  private case object Won extends Claim
  /** Another writer created the version first. */
  private case object Lost extends Claim
  /** Our claim went stale and was reclaimed and reused (see
    * [[verifyOwnPublish]]): this writer did NOT publish. */
  private final case class Fenced(
      e: java.util.ConcurrentModificationException) extends Claim

  /** The one version claim: atomically create manifest `v` (O_EXCL on
    * local, atomic create on HDFS), write `manifestFiles` plus the
    * terminator (readers poll for it — see [[files]]), then run the
    * fencing verify. */
  private def claimVersion(spark: SparkSession, path: String, v: Int,
      manifestFiles: Seq[String]): Claim = {
    val f = fs(spark, path)
    val target = manifestPath(path, v)
    val written = (manifestFiles :+ Terminator).toList
    f.mkdirs(new Path(manifestDir(path)))
    try {
      val out = atomicClaim(f, target)
      try out.write(written.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    } catch { case _: java.io.IOException => return Lost }
    // fencing verify: a writer stalled past staleMs may have had its
    // claim reclaimed and the version reused by a concurrent committer
    // — its close() then lands on an orphaned inode and BOTH
    // committers would report success (silent lost update). Success
    // is only success if the manifest at `target` holds OUR content
    // (the commit-UUID data paths make it unique per writer).
    try { verifyOwnPublish(spark, f, target, written); Won }
    catch { case e: java.util.ConcurrentModificationException => Fenced(e) }
  }

  /** The one bounded optimistic-concurrency loop: run `attempt` on the
    * latest version until it returns a result, at most 20 times (`what`
    * names the operation in the give-up error). An
    * IllegalStateException (the version is an abandoned half-publish:
    * the poll timed out) or IllegalArgumentException (its manifest
    * vanished under us: a concurrent reclaimer renamed it aside)
    * reclaims that version's manifest once stale, then retries on the
    * state beneath it. `attempt` returns None on a lost race; it must
    * recompute against the new snapshot, never blind-retry a stale
    * file list. */
  @annotation.tailrec
  private def retrying[T](spark: SparkSession, path: String, what: String,
      attempts: Int = 1)(attempt: Int => Option[T]): T = {
    require(attempts <= 20,
      s"gave up $what $path after 20 version races")
    val v = latestVersion(spark, path)
    val result =
      try attempt(v)
      catch {
        case _: IllegalStateException | _: IllegalArgumentException =>
          reclaimIfStale(spark, fs(spark, path), manifestPath(path, v))
          None
      }
    result match {
      case Some(r) => r
      case None => retrying(spark, path, what, attempts + 1)(attempt)
    }
  }

  /** SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE`
    * analogue): publish a new version of `targetPath` whose manifest
    * references the SOURCE version's data files — zero bytes copied,
    * so forking a 100 TB table for a dev/test/experiment branch is a
    * metadata-only operation. The clone then evolves independently:
    * appends/overwrites/compactions write into the clone's own data
    * dir, and [[vacuum]] on the clone only ever reclaims clone-local
    * commit dirs (source files live outside its `data/`), so cleaning
    * up an abandoned experiment cannot touch the source.
    *
    * The one shared-fate hazard is the same one Delta documents:
    * [[vacuum]] on the SOURCE does not know about clones — reclaiming
    * source versions whose files a clone still references breaks the
    * clone. Retain accordingly (or re-clone from a newer version).
    * Schema-evolution state carries over: a clone of an evolved table
    * keeps merging footers. Returns the clone's new version. */
  def cloneFrom(spark: SparkSession, sourcePath: String,
      targetPath: String, version: Option[Int] = None): Int = {
    val v = version.getOrElse(latestVersion(spark, sourcePath))
    require(v > 0, s"$sourcePath has no committed version to clone")
    val fl = files(spark, sourcePath, Some(v))
    val f = fs(spark, targetPath)
    if (f.exists(evolvedMarker(sourcePath))) {
      f.mkdirs(new Path(targetPath))
      try f.create(evolvedMarker(targetPath), false).close()
      catch { case _: java.io.IOException => () } // already flagged
    }
    publishFiles(spark, targetPath, fl, carryPrevious = false)
  }

  private def commit(df: DataFrame, path: String, carryPrevious: Boolean,
      beforeClaim: () => Unit = () => ()): Int = {
    val (commitDir, newFiles) = writeCommitDir(df, path)
    try beforeClaim()
    catch {
      case e: Throwable =>
        fs(df.sparkSession, path).delete(commitDir, true)
        throw e
    }
    publishFiles(df.sparkSession, path, newFiles, carryPrevious)
  }

  /** Publish a manifest naming `newFiles` as the next version — the
    * commit protocol minus the data write (the files may live under
    * ANOTHER table's data dir — [[cloneFrom]]). On a version race,
    * re-reads the winner's state and retries on top of it; a fenced
    * claim throws its ConcurrentModificationException. */
  private def publishFiles(spark: SparkSession, path: String,
      newFiles: Seq[String], carryPrevious: Boolean): Int =
    // the version NUMBER is read once per attempt and the carried file
    // list derived from exactly that (immutable) manifest — listing
    // "latest" twice would let a commit that lands in between vanish
    // from the published manifest (lost update) even though our
    // create of v+1 succeeds
    retrying(spark, path, "publishing to") { vPrev =>
      val prev =
        if (carryPrevious && vPrev > 0) files(spark, path, Some(vPrev))
        else Nil
      claimVersion(spark, path, vPrev + 1, prev ++ newFiles) match {
        case Won => Some(vPrev + 1)
        case Lost =>
          Thread.sleep(10) // lost the race; let the winner close
          None
        case Fenced(e) => throw e
      }
    }

  /** Post-close fencing check: block until the manifest at `target`
    * holds exactly the lines this writer wrote, or fail the commit.
    * Throws [[java.util.ConcurrentModificationException]] (distinct
    * from the retry-signal exceptions in the commit loop — this must
    * NOT be retried blindly) when the claim was reclaimed out from
    * under a stalled writer: exactly one of the racing committers
    * returns success, the fenced one gets this error. The brief poll
    * absorbs the reclaimer's rename→inspect→restore window. */
  private[graft] def verifyOwnPublish(spark: SparkSession,
      f: FileSystem, target: Path, written: List[String]): Unit = {
    val deadline = System.currentTimeMillis() +
      confMs(spark, "spark.graft.manifest.pollMs", 10000L)
    while (true) {
      val ok =
        try readManifest(f, target) == written
        catch { case _: java.io.IOException => false }
      if (ok) return
      if (System.currentTimeMillis() > deadline)
        throw new java.util.ConcurrentModificationException(
          s"commit fenced off: manifest $target no longer holds this " +
            "writer's content — the claim went stale (writer paused " +
            "past spark.graft.manifest.staleMs) and was reclaimed by " +
            "a concurrent committer; this commit did NOT publish")
      Thread.sleep(10)
    }
  }

  /** Reclaim a claimed-but-unterminated manifest older than
    * `spark.graft.manifest.staleMs` (its writer crashed mid-publish).
    * Fenced against the check-then-delete race: the manifest is first
    * RENAMED aside (atomic on HDFS/local — the fence point), then
    * re-inspected; if the stalled writer's close() landed in the
    * window and the content is now complete, it is restored intact
    * (rename preserves the inode an open stream writes to), otherwise
    * the orphan is deleted. A plain delete-after-check could destroy
    * a manifest that completed (and was verified by its writer)
    * between the check and the delete. */
  private def reclaimIfStale(spark: SparkSession, f: FileSystem,
      target: Path): Unit = {
    val stale = confMs(spark, "spark.graft.manifest.staleMs", 60000L)
    try {
      val st = f.getFileStatus(target)
      if (readManifest(f, target).lastOption.contains(Terminator)) return
      if (st.getModificationTime >=
        System.currentTimeMillis() - stale) return
      val aside = new Path(target.getParent,
        s"${target.getName}.reclaim-${java.util.UUID.randomUUID()}")
      if (f.rename(target, aside)) {
        val completed =
          try readManifest(f, aside).lastOption.contains(Terminator)
          catch { case _: java.io.IOException => false }
        if (completed) restoreNoOverwrite(f, aside, target)
        else { f.delete(aside, false); () }
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Put a renamed-aside manifest back at `target` WITHOUT clobbering:
    * between our rename-aside and this restore, a successor committer
    * may have claimed `target` via O_EXCL and already verified its
    * publish — a blind rename (POSIX rename REPLACES an existing
    * destination on the local filesystem) would silently destroy that
    * commit. Local paths restore via an atomic hard link
    * (fails-if-exists at the kernel); HDFS rename already refuses an
    * existing destination. If the restore loses, the aside is deleted
    * and the original writer's post-close verify reports the fencing
    * error — exactly-one-winner is preserved either way. */
  private def restoreNoOverwrite(f: FileSystem, aside: Path,
      target: Path): Unit = {
    val restored =
      if (f.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(aside.toUri.getPath))
          true
        } catch { case _: java.io.IOException => false }
      } else {
        // HDFS rename is atomic and fails (returns false) when the
        // destination exists
        try f.rename(aside, target)
        catch { case _: java.io.IOException => false }
      }
    if (restored && f.getScheme == "file") { f.delete(aside, false); () }
    else if (!restored) { f.delete(aside, false); () }
  }

  /** The per-batch marker of every single-commit `foreachBatch` sink:
    * run `commit` for micro-batch `batchId` of the table at `path`
    * unless `<path>/_commits/b<batchId>` exists, then claim that
    * marker. After a restart Structured Streaming replays the last
    * micro-batch, and without the marker the sink would commit it
    * twice (the Delta streaming sink's txn-id pattern); `commit` is
    * by-name, so a replay also skips whatever computes the rows. The
    * marker is claimed with a create-fails-if-exists AFTER the
    * commit: a crash in the narrow window between the two re-runs
    * that one batch on restart. Returns whether `commit` ran. */
  def oncePerBatch(spark: SparkSession, path: String, batchId: Long)(
      commit: => Unit): Boolean = {
    val marker = new Path(s"$path/_commits/b$batchId")
    val f = fs(spark, path)
    if (f.exists(marker)) false
    else {
      commit
      claimMarker(f, marker)
      true
    }
  }

  /** Create the empty marker file `marker` (and its directory); a
    * marker that already exists is a claim another run won, which is
    * just as done. */
  private[core] def claimMarker(f: FileSystem, marker: Path): Unit = {
    f.mkdirs(marker.getParent)
    try f.create(marker, false).close()
    catch { case _: java.io.IOException => () }
  }

  /** Append `rows`, stamped with `_batch_id`, once per micro-batch
    * ([[oncePerBatch]]). Every row carries the stamp so the residual
    * duplicate of a crash between commit and marker is detectable and
    * removable with a (_batch_id, version)-latest dedup downstream —
    * at-least-once storage, exactly-once after the stamp-aware read. */
  def appendBatch(spark: SparkSession, path: String, batchId: Long)(
      rows: => DataFrame): Boolean =
    oncePerBatch(spark, path, batchId) {
      commitAppend(rows.withColumn("_batch_id",
        org.apache.spark.sql.functions.lit(batchId)), path)
      ()
    }

  /** Idempotent streaming sink: a `foreachBatch` writer that commits
    * each micro-batch as one table version through [[appendBatch]],
    * skipping batch ids it has already committed. */
  def foreachBatchAppend(path: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      appendBatch(batch.sparkSession, path, batchId)(batch); ()
    }

  /** MERGE upsert as a new version (the Delta `whenMatchedUpdateAll.
    * whenNotMatchedInsertAll` shape on this format — ref:
    * 03_silver_smartpool.ipynb §4): rows of the latest snapshot whose
    * `keyCols` collide with `df` are replaced by `df`'s rows, new keys
    * are inserted. Optimistic concurrency like Delta's: the merge is
    * computed against a pinned snapshot and publishes with a
    * no-blind-retry claim on exactly the NEXT version — if a
    * concurrent commit wins the version, the merge RECOMPUTES against
    * the winner's snapshot and tries again (never silently dropping
    * the concurrent commit, which a blind overwrite-retry would).
    *
    * Shape at scale: FILE-GRANULAR merge-on-write — one column-pruned
    * discovery scan finds the files whose rows collide with `df`'s
    * keys; only those rewrite (minus collisions), everything else
    * carries into the new manifest by reference, and `df` lands as a
    * fresh commit dir. Write cost is proportional to the TOUCHED
    * fraction plus the batch, not the table (the Delta merge-on-write
    * shape). For high-frequency small upserts, append a change log
    * and compact instead ([[graft.ops.Cdc]]).
    *
    * `df` carrying duplicate keys inserts ALL its rows (the snapshot's
    * collisions are removed, the batch is taken as-is); dedup the
    * batch first (`ops/DedupLatest`) when at-most-one-per-key is the
    * contract — Delta's MERGE errors on multi-match for the same
    * reason. */
  def commitMerge(df: DataFrame, path: String,
      keyCols: Seq[String]): Int = {
    val spark = df.sparkSession
    retrying(spark, path, "merging into") { vPrev =>
      // empty table: the merge result is just `df` — but publish it
      // through THIS loop's no-blind-retry claim on v1, never via
      // commitOverwrite (whose internal retry is a blind overwrite
      // that would drop a concurrent commit racing table creation)
      // an empty committed snapshot (e.g. commitOverwrite of a
      // 0-partition DataFrame) must merge like the no-table case:
      // read(vPrev) would throw IllegalArgumentException on every
      // iteration and spin the race loop to exhaustion
      val all =
        if (vPrev == 0) Seq.empty[String]
        else files(spark, path, Some(vPrev))
      // file-granular: rewrite only files colliding with the batch
      // keys; carry the rest by reference. Recomputed per attempt —
      // a lost race means a new snapshot and a new touched set.
      val (merged, untouched) =
        if (all.isEmpty) (df, Seq.empty[String])
        else {
          val k = df
            .select(keyCols.map(c => col(c).as(s"__k_$c")): _*)
            .distinct()
          // MERGE's historical key match is null-UNSAFE (a NULL key
          // never collides) — plain equality, unlike delete's <=>
          val cond = keyCols.map(c => col(c) === col(s"__k_$c"))
            .reduce(_ && _)
          val touched = touchedFiles(spark, path, all, all, k, cond)
          val rewritten =
            if (touched.isEmpty) df
            else readFileSubset(spark, path, touched)
              .join(k, cond, "left_anti")
              // a touched subset predating a schema evolution lacks
              // the added columns; null-fill exactly like a
              // whole-table mergeSchema read would
              .unionByName(df, allowMissingColumns =
                fs(spark, path).exists(evolvedMarker(path)))
          (rewritten, all.filterNot(touched.toSet))
        }
      // a lost version (or our claim reclaimed as stalled) means the
      // snapshot we merged against is stale — recompute on the winner
      Option.when(tryRewriteClaim(spark, path, vPrev, untouched,
        merged))(vPrev + 1)
    }
  }

  /** Row-level diff between two committed versions — the
    * `table_changes` / CDC-read analogue: which keys were inserted,
    * deleted, or updated going from `fromV` to `toV`. Change detection
    * is by key presence plus full-row comparison (an `update` is a key
    * present in both whose non-key columns differ).
    *
    * Shape at scale: one full-outer equi-join of the two snapshots on
    * the keys — both sides are plain snapshot scans, and the join is
    * the same single key shuffle any CDC apply pays. For tables
    * maintained by [[commitAppend]] only, prefer filtering the
    * appended files directly; diff is for overwrite/merge/compact
    * lineages where file sets do not nest.
    *
    * Output: key columns + change_type ('insert' | 'delete' |
    * 'update'); unchanged rows are omitted. */
  def diff(spark: SparkSession, path: String, fromV: Int, toV: Int,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit, struct, when}
    val a = read(spark, path, Some(fromV))
    val b = read(spark, path, Some(toV))
    val nonKey = a.columns.filterNot(keyCols.contains).toSeq
    val av = a.select(keyCols.map(col(_)) :+
      struct(nonKey.map(col(_)): _*).as("__a"): _*)
    val bv = b.select(keyCols.map(col(_)) :+
      struct(nonKey.map(col(_)): _*).as("__b"): _*)
    av.join(bv, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("__a").isNull, lit("insert"))
          .when(col("__b").isNull, lit("delete"))
          .when(col("__a") =!= col("__b"), lit("update"))
          .otherwise(lit(null)))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(col(_)) :+ col("change_type") :+
        coalesce(col("__b"), col("__a")).as("row_value"): _*)
  }

  /** Latest version whose manifest was PUBLISHED at or before
    * `tsMillis` — the Delta `TIMESTAMP AS OF` resolution rule (commit
    * time = the log entry's modification time). 0 when the table has
    * no version that old. Manifest mtimes are assigned by the
    * filesystem at publish, so like Delta this is as precise as the
    * store's clock; version-addressed reads stay the exact API. */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long)
      : Int = {
    val dir = new Path(manifestDir(path))
    val f = fs(spark, path)
    if (!f.exists(dir)) return 0
    f.listStatus(dir)
      .filter(_.getPath.getName.matches("v\\d+\\.json"))
      .filter(_.getModificationTime <= tsMillis)
      .map(_.getPath.getName.stripPrefix("v").stripSuffix(".json").toInt)
      .foldLeft(0)(math.max)
  }

  /** [[read]] at the snapshot current as of `tsMillis`. */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long)
      : DataFrame = {
    val v = versionAsOf(spark, path, tsMillis)
    require(v > 0,
      s"$path has no version committed at or before epoch-ms $tsMillis")
    read(spark, path, Some(v))
  }

  /** RESTORE: make version `v`'s content the table's newest version
    * (the Delta `RESTORE TABLE ... TO VERSION AS OF` analogue).
    * History is preserved — restore is just another commit, so the
    * mistaken versions stay addressable until [[vacuum]] reclaims
    * them. Returns the new version. */
  def restore(spark: SparkSession, path: String, v: Int): Int =
    commitOverwrite(read(spark, path, Some(v)), path)

  private def statsDir(path: String, v: Int) =
    f"$path%s/_stats/v$v%05d"

  /** Persist a per-file min/max/null-count stats manifest for one
    * version — the Delta-log data-skipping stats, as a sidecar table
    * keyed by version (stats for an immutable snapshot are themselves
    * immutable). One scan of the version's files
    * ([[ManifestStats.buildFiles]]); the manifest is files×columns
    * rows. Returns the manifest path. */
  def publishStats(spark: SparkSession, path: String,
      cols: Seq[String], version: Option[Int] = None): String = {
    val v = version.getOrElse(latestVersion(spark, path))
    require(v > 0, s"$path has no committed data to profile")
    publishSidecar(spark, path, statsDir(path, v),
      ManifestStats.buildFiles(spark, files(spark, path, Some(v)), cols))
  }

  /** Race-safe sidecar publish — write-aside + atomic rename: a plain
    * Overwrite would delete the directory before rewriting, giving
    * concurrent sidecar reads a window where exists() passes but the
    * read hits a partial dir. If the rename loses (another publisher
    * landed first), keep the winner — sidecars for an immutable
    * version are deterministic, so losing is always safe. */
  private def publishSidecar(spark: SparkSession, path: String,
      out: String, manifest: => DataFrame): String = {
    val tmp = s"$out.tmp-${java.util.UUID.randomUUID()}"
    manifest.write.mode(SaveMode.Overwrite).parquet(tmp)
    val f = fs(spark, path)
    val outP = new Path(out)
    val tmpP = new Path(tmp)
    if (f.exists(outP)) f.delete(tmpP, true)
    else {
      // Hadoop rename is NOT POSIX: renaming onto an existing directory
      // NESTS the source inside it (HDFS moves tmp under out; the local
      // FS falls back to FileUtil.copy, which nests too) and returns
      // true. A lost race therefore leaves our tmp as a subdirectory of
      // the winner's sidecar, poisoning later sidecar reads. After the
      // rename, verify our tmp did not end up nested and remove it.
      f.rename(tmpP, outP)
      val nested = new Path(outP, tmpP.getName)
      if (f.exists(nested)) f.delete(nested, true)
      if (f.exists(tmpP)) f.delete(tmpP, true) // rename failed outright
    }
    out
  }

  private def bloomDir(path: String, v: Int, colName: String) =
    f"$path%s/_bloom/v$v%05d-$colName%s"

  /** Per-file Bloom sidecar for one version's BIGINT `colName` — the
    * equality-probe data-skipping index ([[ManifestStats
    * .buildBloomFiles]]): min/max stats prune ranges, this prunes
    * point lookups on keys whose values interleave across files. Same
    * immutability and race discipline as [[publishStats]]. */
  def publishBloom(spark: SparkSession, path: String, colName: String,
      version: Option[Int] = None, numBits: Int = 1 << 20,
      numHashes: Int = 6): String = {
    val v = version.getOrElse(latestVersion(spark, path))
    require(v > 0, s"$path has no committed data to profile")
    publishSidecar(spark, path, bloomDir(path, v, colName),
      ManifestStats.buildBloomFiles(spark, files(spark, path, Some(v)),
        colName, numBits, numHashes))
  }

  /** The Bloom-pruned candidate FILE LIST for a point lookup — `Some`
    * only when a published sidecar exists for the version (this never
    * builds one on the fly: that costs the full scan the pruned read
    * exists to avoid). No false negatives; callers read the subset
    * themselves and re-apply the row-level predicate (and must honour
    * the evolved-schema discipline when reading raw file subsets). */
  def bloomCandidateFiles(spark: SparkSession, path: String,
      colName: String, keys: Seq[Long], version: Option[Int] = None)
      : Option[Seq[String]] = {
    val v = version.getOrElse(latestVersion(spark, path))
    val bp = bloomDir(path, v, colName)
    if (v == 0 || !fs(spark, path).exists(new Path(bp))) None
    else Some(ManifestStats.pruneFilesPoint(
      spark.read.parquet(s"$bp/*.parquet"), colName, keys))
  }

  /** Point-lookup read with Bloom file skipping: scan only the files
    * of `version` whose bitset (probably) contains one of `keys`,
    * using the [[publishBloom]] sidecar (built on the fly if the
    * version has none — one extra scan, the cost a caller avoids by
    * publishing at commit time). No false negatives; the caller
    * re-applies the row-level equality predicate, which also removes
    * Bloom false positives. */
  def readPointLookup(spark: SparkSession, path: String,
      colName: String, keys: Seq[Long], version: Option[Int] = None)
      : DataFrame = {
    val v = version.getOrElse(latestVersion(spark, path))
    val bp = bloomDir(path, v, colName)
    val manifest =
      if (fs(spark, path).exists(new Path(bp)))
        // glob only part files: a racing publisher's momentarily-nested
        // tmp subdirectory (see publishSidecar) must not break
        // partition discovery or duplicate manifest rows
        spark.read.parquet(s"$bp/*.parquet")
      else ManifestStats.buildBloomFiles(spark,
        files(spark, path, Some(v)), colName)
    ManifestStats.readPoint(spark, manifest, colName, keys)
  }

  /** Range-predicate read with file skipping: scan only the files of
    * `version` whose [min, max] envelope for `colName` intersects
    * [lo, hi], using the [[publishStats]] sidecar (built on the fly if
    * the version has none — one extra scan, the cost a caller avoids
    * by publishing stats at commit time). The caller re-applies the
    * row-level predicate: skipping is file-granular. */
  def readPruned(spark: SparkSession, path: String, colName: String,
      lo: String, hi: String, version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, path))
    val sp = statsDir(path, v)
    val sidecar =
      if (fs(spark, path).exists(new Path(sp)))
        // glob only the sidecar's own part files: a racing publisher's
        // momentarily-nested tmp subdirectory (see publishStats) must
        // not break partition discovery or duplicate stats rows
        Some(spark.read.parquet(s"$sp/*.parquet"))
      else None
    // a sidecar published WITHOUT this column must not silently prune
    // everything — fall back to an on-the-fly build for the column
    val manifest = sidecar
      .filter(!_.filter(col("col_name") === colName).isEmpty)
      .getOrElse(ManifestStats.buildFiles(spark,
        files(spark, path, Some(v)), Seq(colName)))
    ManifestStats.readPruned(spark, manifest, colName, lo, hi)
  }

  /** Small-file compaction (the OPTIMIZE bin-packing maintenance op):
    * rewrite the current version's small files into ~`targetBytes`
    * outputs and commit the result as a NEW version whose manifest
    * carries the untouched large files unchanged. Row content is
    * identical; row order within the table may change (tables are
    * unordered). Streaming sinks and incremental batch appends create
    * one small commit dir per batch — without periodic compaction a
    * long-lived table degrades every scan into an open-file storm
    * (the classic lakehouse small-file problem).
    *
    * Files ≥ `targetBytes`/2 are left in place (rewriting them buys
    * nothing); the small remainder is read once and `coalesce`d —
    * no shuffle, compaction is IO-bound by design. Old versions still
    * reference the old files, so time travel is intact; [[vacuum]]
    * reclaims the superseded small files once the retention window
    * passes.
    *
    * Concurrency: compaction claims the next version with the same
    * O_EXCL manifest protocol as [[commitAppend]], but it does NOT
    * retry on a version race — losing means a real commit landed
    * first, and rewriting on top of it would compact a stale snapshot.
    * The rewrite is dropped and the winner's version returned;
    * compaction is an optimization, never a contended writer.
    *
    * @return the version holding the compacted layout: a fresh one on
    *         success, the (possibly newer) latest on a no-op or a lost
    *         race. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val f = fs(spark, path)
    val vPrev = latestVersion(spark, path)
    if (vPrev == 0) return 0
    val sized =
      try files(spark, path, Some(vPrev))
        .map(p => (p, f.getFileStatus(new Path(p)).getLen))
      catch {
        // latest is an ABANDONED half-publish (writer died between
        // create and close): reclaim it like commit() does and skip
        // this cycle — the next compact lands on the cleaned state
        case _: IllegalStateException =>
          reclaimIfStale(spark, f, manifestPath(path, vPrev))
          return latestVersion(spark, path)
        // the manifest (or a data file) vanished under us — a
        // concurrent reclaimer renamed it aside, or vacuum ran: skip
        // this cycle, compaction is an optimization
        case _: IllegalArgumentException =>
          return latestVersion(spark, path)
        case _: java.io.FileNotFoundException =>
          return latestVersion(spark, path)
      }
    val (small, big) = sized.partition(_._2 < targetBytes / 2)
    if (small.length < 2) return vPrev // nothing worth rewriting
    val totalSmall = small.map(_._2).sum
    val nOut = math.max(1,
      math.ceil(totalSmall.toDouble / targetBytes).toInt)
    // evolved tables must merge footers here: the small files can have
    // heterogeneous (additive) schemas, and a plain read would rewrite
    // them to whichever sampled footer won — silently dropping the
    // evolved column from the compacted files. readFileSubset merges
    // them, and resolves the schema on the driver instead of in a
    // footer-inference job
    val (commitDir, newFiles) = writeCommitDir(
      readFileSubset(spark, path, small.map(_._1)).coalesce(nOut), path)
    claimVersion(spark, path, vPrev + 1, big.map(_._1) ++ newFiles) match {
      case Won => vPrev + 1
      case Lost | Fenced(_) =>
        // a real commit won the version (or our claim went stale and a
        // real committer reused it): losing is compaction's documented
        // contract — abandon the rewrite and report the winner instead
        // of crashing the ingest sink that auto-compacts
        f.delete(commitDir, true)
        latestVersion(spark, path)
    }
  }

  /** Delete data files referenced only by manifests OLDER than the
    * `retainLast` most recent ones, then drop those manifests. Keeps
    * time travel over the retained window, reclaims the rest.
    *
    * `graceMs` protects IN-FLIGHT commits: commit step 1 writes the
    * data dir, step 2 publishes the manifest — between the two the dir
    * is unreferenced, and a vacuum racing that window would delete
    * files the about-to-publish manifest then points at (silent
    * corruption). Commit dirs modified within the last `graceMs` are
    * therefore never reclaimed (Delta's tombstone-retention shape);
    * pass 0 only when no writer can be concurrent. */
  def vacuum(spark: SparkSession, path: String,
      retainLast: Int = 1, graceMs: Long = 15 * 60 * 1000L): Unit = {
    require(retainLast >= 1, "must retain at least the latest version")
    val f = fs(spark, path)
    val latest = latestVersion(spark, path)
    if (latest == 0) return
    val keepVersions = (math.max(1, latest - retainLast + 1) to latest)
    // a manifest inside the keep window may already be gone (an
    // earlier vacuum with a smaller retention) — skip, don't throw
    val keep = keepVersions
      .filter(v => f.exists(manifestPath(path, v)))
      .flatMap(v => files(spark, path, Some(v))).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dataRoot = new Path(s"$path/data")
    if (f.exists(dataRoot)) {
      // FILE-granular reclamation: commitDelete/commitReplaceWhere
      // rewrite only the touched files of a commit dir and carry its
      // siblings by reference, so one dir can hold retained and
      // superseded files side by side — reclaim per FILE, then drop
      // the dir once no data file remains. The grace window protects
      // a commit that may still be about to publish its manifest.
      f.listStatus(dataRoot).foreach { commitDir =>
        val st = f.listStatus(commitDir.getPath).filter(_.isFile)
        val dirYoung = commitDir.getModificationTime > cutoff
        val dataFiles =
          st.filter(s => !s.getPath.getName.startsWith("_"))
        if (dataFiles.isEmpty) {
          // an empty write's dir (marker files only) is never
          // referenced by any manifest
          if (!dirYoung && !st.exists(_.getModificationTime > cutoff)) {
            f.delete(commitDir.getPath, true); ()
          }
        } else {
          val deletable = dataFiles.filter(s =>
            !keep(s.getPath.toString) && !dirYoung &&
              s.getModificationTime <= cutoff)
          if (deletable.length == dataFiles.length) {
            // nothing in the dir is retained: drop it whole (takes
            // the _SUCCESS marker with it)
            f.delete(commitDir.getPath, true); ()
          } else deletable.foreach { s =>
            f.delete(s.getPath, false); ()
          }
        }
      }
    }
    (1 until keepVersions.start)
      .foreach(v => f.delete(manifestPath(path, v), false))
  }
}
