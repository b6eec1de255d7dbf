package graft.catalog

import java.nio.file.{Files, Path}

import org.apache.spark.sql.types.StructType

import graft.catalog.TableMetadata.AppendDelta

/** The one path from a described change to a published snapshot, shared
  * by every lakehouse commit — the metadata step between
  * [[CommitFiles]] (files staged) and the version log. Iceberg's commit
  * model (https://iceberg.apache.org/spec/#commit-process): a table
  * operation builds the next metadata from a base plus a change, then
  * swaps it in atomically or retries on the new base.
  *
  * A caller describes WHAT changes ([[Change]]); the core derives the
  * attempt (stats/rows/seq maps of removed files dropped, the snapshot
  * entry, the [[AppendDelta]] of an add-only change), publishes it to
  * the main log or a branch log, and runs the one retry loop under the
  * caller's [[Policy]]. Only a commit conflict retries; a commit that
  * does not land discards the files it staged. */
private[graft] object SnapshotChange {

  /** A change to one table snapshot. `staged` data files are added;
    * `removed` data files and `removedDeletes` entries are dropped
    * before `addDeletes` are appended; `properties` edits the base's
    * properties. `restore` carries another snapshot's whole table state
    * — files with their stats, rows and sequence numbers, delete
    * entries, schema, partitioning and properties (rollback, clone,
    * import). `rechunk` rewrites the manifest list into minimal chunks
    * (rewrite-manifests). */
  final case class Change(
      op: String,
      staged: CommitFiles.Staged = CommitFiles.Staged.empty,
      removed: Set[String] = Set.empty,
      addDeletes: Seq[DeleteFile] = Nil,
      removedDeletes: Set[DeleteFile] = Set.empty,
      properties: Map[String, String] => Map[String, String] = identity,
      schema: Option[StructType] = None,
      partitionColumns: Option[Seq[String]] = None,
      restore: Option[TableMetadata] = None,
      rechunk: Boolean = false)

  /** What a commit does when another writer published first. */
  sealed trait Policy
  /** Re-apply the attempt onto the new head through
    * [[TableMetadata.rebase]]'s commute rules; a non-commuting race
    * fails. */
  case object Rebase extends Policy
  /** Reload the head and derive the change again. */
  case object Rederive extends Policy
  /** One attempt: a race fails. */
  case object Once extends Policy

  /** The log a commit publishes to. */
  sealed trait Log {
    def head(dir: Path): TableMetadata
  }
  case object MainLog extends Log {
    def head(dir: Path): TableMetadata = TableMetadata.load(dir)
  }
  /** A write-audit-publish branch: its own version log, manifest chunks
    * in the main pool, never a hint or mirror update. */
  final case class BranchLog(name: String) extends Log {
    def head(dir: Path): TableMetadata = Maintenance.branchHead(dir, name)
  }

  private val MaxRetries = 10

  private def isConflict(e: IllegalStateException): Boolean =
    e.getMessage != null && e.getMessage.contains("commit conflict")

  /** Publish `change`, derived against `base`, retrying under `policy`.
    * Under [[Rederive]] the same description is applied to each
    * reloaded head. Returns the metadata as committed. */
  def commit(
      dir: Path,
      base: TableMetadata,
      change: Change,
      policy: Policy,
      log: Log = MainLog): TableMetadata = {
    val (meta, delta) = attempt(base, change)
    run(dir, log, policy, MaxRetries, Attempt(base, base, change, meta, delta),
      _ => Some(change), Nil).get
  }

  /** Publish the change `derive` computes from the log's head, reloading
    * and deriving again after every lost race. `None` from `derive`
    * commits nothing. Whenever nothing lands — `None`, a failure in
    * `derive`, or a failed publish — the files of the last derived
    * change and the `owned` stagings are discarded (`owned` is read
    * then, so a derivation that restages is covered). */
  def rederive(
      dir: Path,
      log: Log = MainLog,
      owned: => Seq[CommitFiles.Staged] = Nil)(
      derive: TableMetadata => Option[Change]): Option[TableMetadata] = {
    val head = log.head(dir)
    val first =
      try derive(head)
      catch { case e: Throwable => owned.foreach(discard(dir, _)); throw e }
    first match {
      case None =>
        owned.foreach(discard(dir, _))
        None
      case Some(c) =>
        val (meta, delta) = attempt(head, c)
        run(dir, log, Rederive, MaxRetries, Attempt(head, head, c, meta, delta), derive, owned)
    }
  }

  /** [[TableMetadata.commitOrRebase]]: a prebuilt attempt under [[Rebase]]. */
  private[catalog] def rebaseAttempt(
      dir: Path,
      base: TableMetadata,
      meta: TableMetadata,
      delta: Option[AppendDelta],
      maxAttempts: Int): TableMetadata =
    run(dir, MainLog, Rebase, maxAttempts, Attempt(base, base, Change(""), meta, delta),
      _ => None, Nil).get

  /** One attempt in flight: the change, the base it was derived from
    * (`origin`), the base it now applies to, and the derived metadata. */
  private final case class Attempt(
      origin: TableMetadata,
      base: TableMetadata,
      change: Change,
      meta: TableMetadata,
      delta: Option[AppendDelta])

  /** The one retry loop. */
  private def run(
      dir: Path,
      log: Log,
      policy: Policy,
      maxAttempts: Int,
      first: Attempt,
      derive: TableMetadata => Option[Change],
      owned: => Seq[CommitFiles.Staged]): Option[TableMetadata] = {
    var at = first
    var tries = 0
    var landed = false
    def giveUp(): Unit = {
      discard(dir, at.origin, at.change)
      owned.foreach(discard(dir, _))
    }
    try {
      while (true) {
        try {
          val finish = land(dir, log, at.meta, at.delta, at.change.rechunk)
          landed = true // from here nothing may be discarded
          return Some(finish())
        } catch {
          case e: IllegalStateException
              if isConflict(e) && policy != Once && tries < maxAttempts =>
            tries += 1
            val cur = log.head(dir)
            at = policy match {
              case Rebase =>
                val rebased = TableMetadata.rebase(at.base, at.meta, cur).getOrElse(
                  throw new IllegalStateException(notCommuting(log, at.base, cur), e))
                at.copy(base = cur, meta = rebased, delta = None)
              case _ =>
                derive(cur) match {
                  case None =>
                    giveUp()
                    return None
                  case Some(c) =>
                    val (meta, delta) = attempt(cur, c)
                    Attempt(cur, cur, c, meta, delta)
                }
            }
        }
      }
      None // unreachable
    } catch {
      case e: Throwable if !landed =>
        giveUp()
        throw e
    }
  }

  private def notCommuting(log: Log, base: TableMetadata, cur: TableMetadata): String =
    log match {
      case MainLog =>
        s"commit conflict: ${base.name} changed concurrently (v${base.version} -> " +
          s"v${cur.version}) and the changes do not commute; re-run against the " +
          "current snapshot"
      case BranchLog(name) =>
        s"commit conflict: branch '$name' changed concurrently (v${base.version} -> " +
          s"v${cur.version}) and the changes do not commute; re-run against the " +
          "current branch head"
    }

  /** The next metadata: `change` applied to `base`, one version up, with
    * its snapshot entry, plus the append declaration when the change
    * only adds files. */
  private def attempt(
      base: TableMetadata, change: Change): (TableMetadata, Option[AppendDelta]) = {
    val next = base.version + 1
    val s = change.staged
    val from = change.restore.getOrElse(base)
    val (files, stats, rows, seqs, added) = change.restore match {
      case Some(t) =>
        val before = base.files.toSet
        (t.files, t.fileStats, t.fileRows, t.files.map(f => f -> t.seqOf(f)).toMap,
          t.files.count(f => !before.contains(f)))
      case None if change.removed.isEmpty =>
        (base.files ++ s.files, base.fileStats ++ s.stats, base.fileRows ++ s.rows,
          base.fileSeq, s.files.size)
      case None =>
        val gone = change.removed
        (base.files.filterNot(gone) ++ s.files, (base.fileStats -- gone) ++ s.stats,
          (base.fileRows -- gone) ++ s.rows, base.fileSeq -- gone, s.files.size)
    }
    val meta = base.copy(
      version = next,
      schema = change.schema.getOrElse(from.schema),
      partitionColumns = change.partitionColumns.getOrElse(from.partitionColumns),
      properties = change.properties(from.properties),
      files = files,
      fileStats = stats,
      fileRows = rows,
      fileSeq = seqs,
      deleteFiles = from.deleteFiles.filterNot(change.removedDeletes) ++ change.addDeletes,
      snapshots = base.snapshots :+ Snapshot(
        next, System.currentTimeMillis(), change.op, added, files.size))
    val addOnly = change.restore.isEmpty && change.removed.isEmpty
    (meta, if (addOnly) Some(AppendDelta(s.files)) else None)
  }

  /** Write, claim and verify the version payload of `meta` on `log`; a
    * lost race raises the commit conflict. Returns the post-publish tail
    * (render-cache seed, mirror, hint), which runs only once the slot is
    * held, and yields the metadata as committed. */
  private[catalog] def land(
      dir: Path,
      log: Log,
      meta: TableMetadata,
      delta: Option[AppendDelta],
      rechunk: Boolean = false): () => TableMetadata = {
    val md = TableMetadata.metadataDir(dir)
    val v = meta.version
    val (logDir, prevFile, conflict) = log match {
      case MainLog =>
        (md, if (v <= 1) None else Some(TableMetadata.versionFile(dir, v - 1)),
          s"commit conflict: version $v already exists for ${meta.name}")
      case BranchLog(name) =>
        // the predecessor is the branch's own head file, or the fork
        // version on main for a branch with no commits yet
        val bdir = Maintenance.branchLogDir(dir, name)
        (bdir, Seq(bdir.resolve(s"v${v - 1}.json"), TableMetadata.versionFile(dir, v - 1))
          .find(Files.exists(_)),
          s"commit conflict: branch '$name' version $v already exists")
    }
    Files.createDirectories(logDir)
    val target = logDir.resolve(s"v$v.json")
    if (Files.exists(target)) throw new IllegalStateException(conflict)
    val (json, sequenced, fresh, rendered) =
      if (rechunk) consolidated(md, meta) else TableMetadata.renderNext(md, prevFile, meta, delta)
    // write-through Iceberg mirror: tables opted in via
    // `graft.iceberg.mirror=true` maintain their external snapshot as
    // part of every main-log publish (never fails the commit — see
    // [[IcebergExport.maintainMirror]]). The version-hint advances only
    // AFTER the mirror lands: external readers following hint →
    // v<N>.metadata.json must never observe N before the document
    // exists. Branch payloads never advance the main log's hint.
    val mirrored = log == MainLog && TableMetadata.isMirrored(meta)
    TableMetadata.publishPayload(logDir, target, json, fresh, meta.name, v,
      conflict, advanceHint = log == MainLog && !mirrored)
    () => {
      // only a PUBLISHED version may seed the render cache: the slot is
      // immutable from here, so the state is what any successor's fresh
      // parse would reconstruct
      TableMetadata.seedRenderState(target, rendered)
      if (mirrored) TableMetadata.mirrorThenHint(dir, sequenced)
      sequenced
    }
  }

  /** The rewrite-manifests render: `meta`'s entries re-chunked into
    * minimal [[Manifests.ChunkSize]] runs, file order preserved. A
    * high-commit-rate table accrues one tiny ref per commit and
    * planning cost grows with ref count — Iceberg ships
    * `rewrite_manifests` for exactly this. */
  private def consolidated(md: Path, meta: TableMetadata)
      : (String, TableMetadata, Seq[Path], TableMetadata.RenderedState) = {
    val entries = meta.files.map(f => ManifestEntry(
      f, meta.fileRows.get(f), meta.seqOf(f), meta.fileStats.getOrElse(f, Map.empty)))
    val refs = Manifests.write(md, meta.version, entries,
      TableMetadata.summaryColumns(meta), meta.schema)
    val sequenced = meta.copy(
      fileSeq = entries.map(e => e.path -> e.seq).toMap, manifests = refs)
    (sequenced.payloadJson, sequenced, refs.map(r => md.resolve(r.path)),
      TableMetadata.RenderedState(refs, refs.zip(entries.grouped(Manifests.ChunkSize).toSeq),
        meta.files.toSet, sequenced.fileSeq))
  }

  /** Remove what one write staged: its data files with their bloom
    * sidecars, and the staging dir. */
  private def discard(dir: Path, staged: CommitFiles.Staged): Unit = {
    val blooms = BloomIndex.bloomsDir(dir)
    if (staged.files.nonEmpty && Files.isDirectory(blooms)) {
      val prefixes = staged.files.map(BloomIndex.sidecarPrefix)
      Fs.children(blooms).iterator
        .filter(p => prefixes.exists(p.getFileName.toString.startsWith))
        .foreach(Files.deleteIfExists(_))
    }
    if (staged.rel.nonEmpty) Fs.deleteRecursively(dir.resolve(staged.rel))
  }

  /** Discard a change that did not land: its staged data files and every
    * delete file it adds that `origin` (the base it was derived from)
    * does not reference, with the staging dir once only committer
    * artifacts (`_SUCCESS`, `.crc`) are left in it. */
  private def discard(dir: Path, origin: TableMetadata, change: Change): Unit = {
    discard(dir, change.staged)
    val live = origin.deleteFiles.iterator.flatMap(d => Seq(d.path, d.vector)).toSet
    change.addDeletes.iterator.flatMap(d => Seq(d.path, d.vector))
      .filter(p => p.nonEmpty && !live.contains(p))
      .foreach { p =>
        val f = dir.resolve(p)
        Files.deleteIfExists(f)
        val parent = f.getParent
        if (Files.isDirectory(parent) &&
            Fs.childNames(parent).forall(n => n.startsWith("_") || n.startsWith(".")))
          Fs.deleteRecursively(parent)
      }
  }
}
