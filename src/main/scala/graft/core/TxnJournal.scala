package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Write-ahead intent journal for exactly-once multi-table
  * [[VersionedTable]] updates inside `foreachBatch` sinks.
  *
  * A batch update spanning N table commits can crash between any two
  * of them; a marker-only protocol (marker after the work) then
  * re-applies the whole batch on replay and double-commits whatever
  * already landed. This journal writes the INTENT first — the current
  * version of every participating table — so a replay that finds the
  * intent without the done-marker first ROLLS BACK: each table whose
  * version advanced past its pinned value gets its pinned snapshot
  * re-published as a new version (append-only versioning makes
  * rollback just another commit), after which the batch re-applies
  * cleanly. Rollback is idempotent (pinned versions are fixed), so a
  * crash mid-rollback re-rolls harmlessly.
  *
  * The intent file is published by write-then-rename: a crash
  * mid-write must never leave a truncated journal that poisons every
  * replay.
  *
  * Intent format: one `<name>:<version>` entry per sub-table,
  * space-separated, where the name is the table path's last segment
  * (unique within a journal root; enforced at write and replay).
  * Replay restores each pinned NAME it finds in the caller's list and
  * fails loudly on a pinned name the caller no longer passes, or on a
  * malformed entry — so growing the list is safe by insertion or
  * reorder, and a shrunk list (corruption) can never silently roll
  * back the wrong table.
  *
  * This object owns everything under `<root>/_txn`: the intents, the
  * `<tag>.done` and `<tag>.publish` markers ([[ingestOnce]]), and the
  * one parser of the intent format, which serving reads through
  * [[openPins]].
  */
object TxnJournal {

  private val Tag = "[a-z]\\d+"

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def txnPath(root: String, name: String) =
    new Path(s"$root/_txn/$name")

  /** Run `apply` exactly once for `batchId` over the tables at
    * `subs`. Returns true if the batch ran (or re-ran after rollback),
    * false if its done-marker already existed. */
  def exactlyOnce(spark: SparkSession, root: String, batchId: Long,
      subs: Seq[String])(apply: => Unit): Boolean =
    exactlyOnceTagged(spark, root, s"b$batchId", subs)(apply)

  /** [[exactlyOnce]] under an explicit journal tag — for maintenance
    * operations that share the index's `_txn` directory (so
    * consistent-snapshot readers like [[graft.operators.HybridServe
    * .pinConsistent]] see their open intents) WITHOUT colliding with
    * the streaming sink's `b<batchId>` namespace (e.g. deletion ops
    * use `f<opId>`). Tags are one lowercase letter + digits. */
  def exactlyOnceTagged(spark: SparkSession, root: String, tag: String,
      subs: Seq[String])(apply: => Unit): Boolean = {
    require(tag.matches(Tag),
      s"journal tag must be a lowercase letter + digits, got '$tag'")
    val f = fs(spark, root)
    if (f.exists(txnPath(root, s"$tag.done"))) false
    else { journaled(spark, f, root, tag, subs)(apply); true }
  }

  /** The streaming-ingest shape of an index sink, exactly once per
    * micro-batch: the batch that finds the index absent (`probe` at
    * version 0) runs `publish`, and every later batch runs `update`
    * under the journal over `subs`. Publishing is all overwrites, so
    * it needs no intent; its `b<batchId>.publish` marker is claimed
    * BEFORE publishing, so a replay after a crash between the publish
    * and the done-marker re-publishes (idempotent) instead of taking
    * the update path and appending the first batch on top of itself.
    * `prepare` runs on the update path before the intent pins `subs`
    * (a table it creates is pinned too). Returns false if the batch
    * was already done. */
  def ingestOnce(spark: SparkSession, root: String, batchId: Long,
      probe: String, subs: Seq[String], prepare: => Unit = ())(
      publish: => Unit)(update: => Unit): Boolean = {
    val f = fs(spark, root)
    val tag = s"b$batchId"
    val done = txnPath(root, s"$tag.done")
    if (f.exists(done)) return false
    val pub = txnPath(root, s"$tag.publish")
    if (f.exists(pub) || VersionedTable.latestVersion(spark, probe) == 0) {
      VersionedTable.claimMarker(f, pub)
      publish
      VersionedTable.claimMarker(f, done)
    } else {
      prepare
      journaled(spark, f, root, tag, subs)(update)
    }
    true
  }

  /** The pins of every OPEN intent under `root/_txn` (intent present,
    * done-marker absent), keyed by sub-table name — what a
    * consistent-snapshot reader clamps its versions to. A malformed
    * entry is skipped: serving must stay available, and replay is
    * where a corrupt intent fails loudly. */
  def openPins(spark: SparkSession, root: String): Seq[Map[String, Int]] = {
    val f = fs(spark, root)
    val txn = new Path(s"$root/_txn")
    if (!f.exists(txn)) return Nil
    f.listStatus(txn).map(_.getPath.getName).toSeq
      .filter(_.matches(Tag)) // b<batch> sinks, f<op>/p<op> maintenance
      .filterNot(n => f.exists(txnPath(root, s"$n.done")))
      .map(n => parseIntent(readIntent(f, txnPath(root, n)))
        .collect { case Right(pin) => pin }.toMap)
  }

  /** Write (or, after a crash, replay) the intent for `tag`, run
    * `apply`, then claim the done-marker. */
  private def journaled(spark: SparkSession, f: FileSystem, root: String,
      tag: String, subs: Seq[String])(apply: => Unit): Unit = {
    val intent = txnPath(root, tag)
    val segs = subs.map(seg)
    // segments key the pins, and the format is space-delimited
    require(segs.distinct.size == segs.size,
      s"sub-table last path segments must be unique within a " +
        s"journal root (they name the pins): $segs")
    val spacey = segs.filter(_.exists(_.isWhitespace))
    require(spacey.isEmpty,
      s"sub-table last path segments must not contain whitespace " +
        s"(the intent format is space-delimited): $spacey")
    val remedy = "resolve the crashed batch manually (restore each " +
      s"pinned version, then delete $intent)"
    if (f.exists(intent)) {
      // crashed mid-update: restore pinned pre-batch snapshots. A
      // malformed entry or a pinned name the caller no longer passes
      // (wrong journal or a shrunk list) is corruption — fail with
      // the remediation, never guess
      val parsed = parseIntent(readIntent(f, intent))
      val bad = parsed.collect { case Left(why) => why }
      require(bad.isEmpty,
        s"txn journal $intent ${bad.head} — a corrupt intent; $remedy")
      val pinned = parsed.collect { case Right(pin) => pin }
      val bySeg = segs.zip(subs).toMap
      val unknown = pinned.map(_._1).filterNot(bySeg.contains)
      require(unknown.isEmpty,
        s"txn journal $intent pins tables $unknown the caller did " +
          s"not pass (caller tables: $segs) — wrong journal root or " +
          s"a shrunk sub-table list; $remedy")
      pinned.foreach { case (name, v) =>
        val sub = bySeg(name)
        if (VersionedTable.latestVersion(spark, sub) > v)
          VersionedTable.commitOverwrite(
            VersionedTable.read(spark, sub, Some(v)), sub)
      }
    } else {
      val entries = subs.map(s =>
        s"${seg(s)}:${VersionedTable.latestVersion(spark, s)}")
      f.mkdirs(intent.getParent)
      val tmp = txnPath(root, s"$tag.tmp")
      val out = f.create(tmp, true)
      out.write(entries.mkString(" ").getBytes("UTF-8"))
      out.close()
      if (!f.rename(tmp, intent)) f.delete(tmp, false)
    }
    apply
    VersionedTable.claimMarker(f, txnPath(root, s"$tag.done"))
  }

  private def readIntent(f: FileSystem, intent: Path): String = {
    val in = f.open(intent)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** The one parser of the intent format: each space-separated entry
    * as its `(name, version)` pin, or Left(what is wrong with it). */
  private def parseIntent(line: String)
      : Seq[Either[String, (String, Int)]] =
    line.split(" ").toSeq.map { e =>
      val i = e.lastIndexOf(':')
      if (i < 0) Left(s"entry '$e' has no ':'")
      else e.substring(i + 1).toIntOption.map(e.substring(0, i) -> _)
        .toRight(s"entry '$e' has a non-numeric version")
    }

  /** A sub-table's pin name: the path's last segment. */
  private[graft] def seg(path: String): String =
    path.stripSuffix("/").split('/').last
}
