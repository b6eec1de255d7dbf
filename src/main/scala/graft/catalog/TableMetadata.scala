package graft.catalog

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One committed snapshot of a lakehouse table.
  *
  * Mirrors the observable surface of the reference's Iceberg metadata
  * layer (metadata JSON log + snapshot history the notebook queries via
  * `tbl.metadata_log_entries`, reference
  * `jupyterlab_notebooks/demo_jupyterlab_blms_dataproc_pyspark.ipynb`
  * cell 11; REST `metadata_location`, `README.md:543-551`) without the
  * Iceberg wire format: each commit writes an immutable `vN.json`, and
  * the current version is the highest N present.
  */
final case class Snapshot(
    version: Int,
    timestampMs: Long,
    operation: String,
    addedFiles: Int,
    totalFiles: Int)

/** A merge-on-read delete file (Iceberg v2's two delete shapes):
  *
  *  - `kind = "equality"`: a small parquet of KEY TUPLES whose matching
  *    rows are removed at read time from every data file committed
  *    before it (the shape Flink CDC upserts write — rewriting a 1 GB
  *    data file per deleted row is untenable at 100 TB). `keyColumns`
  *    name table columns; `keyRanges` (footer min/max of the key
  *    columns) lets the read path prove most data files CLEAN and
  *    stream them join-free.
  *  - `kind = "positional"`: a parquet of (file, pos) pairs — the
  *    table-relative data file path and the 0-based row offset within
  *    it (the shape a row-level MERGE/DELETE produces cheaply for
  *    non-key-addressable rows). `keyColumns` is `Seq("file", "pos")`;
  *    `keyRanges("file")` holds the min/max TARGETED PATH so untargeted
  *    files skip the anti-join entirely.
  *
  * `seq` is the commit version that added the entry: it applies to a
  * data file f iff `seq > fileSeq(f)`, so rows (re)inserted AFTER the
  * delete are untouched (for positional entries this is exact too: the
  * offsets were scanned from files of the snapshot the entry was
  * computed against).
  *
  * `paired` marks an entry born TOGETHER with replacement data files in
  * its commit (UPDATE/MERGE/upsert) — the deleted rows live on under
  * new identities. [[TableMetadata.rebase]] needs the distinction: a
  * concurrent plain delete commutes with a pure delete (double-deletes
  * agree) but NOT with a replacement (the replaced row would survive
  * the delete under its new identity), and the accumulated base→cur
  * delta can't reconstruct which commit a delete entry arrived with. */
final case class DeleteFile(
    path: String,
    keyColumns: Seq[String],
    seq: Int,
    rows: Long,
    keyRanges: Map[String, ColumnRange] = Map.empty,
    kind: String = DeleteFile.Equality,
    paired: Boolean = false,
    // Non-empty iff this entry is a CONSOLIDATION MERGE of earlier
    // entries: the original entry paths it replaces. Rebase guards key
    // "did the racer delete rows base hadn't seen?" on these — a merged
    // entry whose components all existed in the attempt's base deletes
    // nothing new (it is a metadata rewrite and must not fail user DML),
    // while one carrying a component the base lacks is a genuine
    // concurrent deletion. Entry seqs CANNOT discriminate this: a
    // rebased plain delete legitimately keeps a seq at or below a later
    // attempt's base version.
    components: Seq[String] = Nil,
    // Deletion-vector sidecar ([[DeletionVectors]]) for a CONSOLIDATED
    // positional entry: per-target-file sorted position arrays, letting
    // the merged read FILTER instead of anti-join. Empty = none (the
    // tuple parquet at `path` is always authoritative either way).
    vector: String = "") {
  def isPositional: Boolean = kind == DeleteFile.Positional
  /** The entry paths carrying this entry's row-deletion content — the
    * merge components for a consolidated entry, itself otherwise. */
  def rowPaths: Seq[String] = if (components.nonEmpty) components else Seq(path)
}

object DeleteFile {
  val Equality = "equality"
  val Positional = "positional"

  /** Key-column names of a positional entry's parquet (mirrored by
    * [[MergeOnRead.PosFileCol]]/[[MergeOnRead.PosPosCol]]). */
  val PosFileCol = "file"
  val PosPosCol = "pos"
}

/** Full table metadata: schema, properties, file list, snapshot log.
  *
  * `manifests` is a STORAGE detail: the manifest list this snapshot was
  * loaded from (or committed as), see [[Manifests]]. It is
  * informational — `commit` recomputes the next version's manifest
  * delta from the PREVIOUS version's on-disk refs, never from this
  * field, so `copy(...)`-built attempts carrying a stale list are
  * harmless. Only trust it on a freshly-loaded value (the orphan
  * reaper's reference set does). */
final case class TableMetadata(
    version: Int,
    name: String,
    schema: StructType,
    partitionColumns: Seq[String],
    properties: Map[String, String],
    files: Seq[String],
    snapshots: Seq[Snapshot],
    fileStats: Map[String, Map[String, ColumnRange]] = Map.empty,
    fileRows: Map[String, Long] = Map.empty,
    fileSeq: Map[String, Int] = Map.empty,
    deleteFiles: Seq[DeleteFile] = Seq.empty,
    manifests: Seq[ManifestRef] = Seq.empty) {

  /** Commit version that added data file `f`. Missing entries (metadata
    * written before sequence tracking) default to 0 = "before every
    * delete", which over-applies deletes only to files that genuinely
    * predate them — conservative-correct. */
  def seqOf(f: String): Int = fileSeq.getOrElse(f, 0)

  private def commonJson: List[(String, JValue)] = List(
    "version" -> JInt(version),
    "name" -> JString(name),
    "schema" -> JsonMethods.parse(schema.json),
    "partitionColumns" -> JArray(partitionColumns.map(JString(_)).toList),
    "properties" -> JObject(properties.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) }),
    "deleteFiles" -> JArray(deleteFiles.map { d =>
      JObject(
        "path" -> JString(d.path),
        "keyColumns" -> JArray(d.keyColumns.map(JString(_)).toList),
        "seq" -> JInt(d.seq),
        "rows" -> JLong(d.rows),
        "kind" -> JString(d.kind),
        "paired" -> JBool(d.paired),
        "components" -> JArray(d.components.map(JString(_)).toList),
        "vector" -> JString(d.vector),
        "keyRanges" -> JObject(d.keyRanges.toList.sortBy(_._1).map { case (c, r) =>
          c -> Manifests.rangeJson(r)
        }))
    }.toList),
    "snapshots" -> JArray(snapshots.map { s =>
      JObject(
        "version" -> JInt(s.version),
        "timestampMs" -> JLong(s.timestampMs),
        "operation" -> JString(s.operation),
        "addedFiles" -> JInt(s.addedFiles),
        "totalFiles" -> JInt(s.totalFiles))
    }.toList))

  /** LEGACY serializer: the pre-manifest inline format (full file
    * array + per-file stats in the version payload). Kept for
    * round-trip tooling and back-compat tests; every commit path now
    * writes the manifest-list format ([[TableMetadata.commit]] /
    * [[Manifests]]). */
  def toJson: String = {
    val j = JObject(commonJson ++ List(
      "files" -> (JArray(files.map(JString(_)).toList): JValue),
      "fileStats" -> (JObject(fileStats.toList.sortBy(_._1).map { case (f, cols) =>
        f -> (JObject(cols.toList.sortBy(_._1).map { case (c, r) =>
          c -> Manifests.rangeJson(r)
        }): JValue)
      }): JValue),
      "fileRows" -> (JObject(fileRows.toList.sortBy(_._1).map { case (f, n) =>
        f -> (JLong(n): JValue)
      }): JValue),
      "fileSeq" -> (JObject(fileSeq.toList.sortBy(_._1).map { case (f, v) =>
        f -> (JInt(v): JValue)
      }): JValue)))
    JsonMethods.pretty(JsonMethods.render(j))
  }

  /** The manifest-list version payload: O(1)-sized regardless of how
    * many files the table holds — per-file metadata lives in the
    * immutable manifests `manifests` points at. */
  private[catalog] def payloadJson: String = {
    val j = JObject(commonJson :+
      ("manifests" -> (JArray(manifests.map(Manifests.refJson).toList): JValue)))
    JsonMethods.pretty(JsonMethods.render(j))
  }
}

/** Raised when a reader lands on a version slot `expireSnapshots`
  * TOMBSTONED. Expire replaces old payloads with a tiny marker instead
  * of deleting them, keeping the version-number space append-only: a
  * committer that stalled across an expire (its target slot now below
  * head) hits the tombstone's EEXIST at publish and fails with a clean,
  * retryable conflict — deletion would let its `createLink` succeed
  * below head, silently forking the log and losing its own update. */
final class ExpiredVersionException(msg: String) extends IllegalStateException(msg)

object TableMetadata {

  /** Every tombstone payload starts with EXACTLY this text —
    * [[versionIsLive]] decides tombstone-vs-payload by this prefix, so
    * detection can never drift from the serialization (a real payload
    * begins `{"version":`). */
  private[catalog] val TombstonePrefix = """{"expired":"""

  /** The payload [[Maintenance.expireSnapshots]] atomically swaps over
    * an expired version file (see [[ExpiredVersionException]]). */
  private[catalog] def tombstoneJson(v: Int): String =
    s"""${TombstonePrefix}true,"version":$v}"""

  /** True when version `v` still has a readable payload — present and
    * not an expire tombstone (checked by content prefix, not size: a
    * size heuristic would silently misclassify if the tombstone ever
    * grew a field). */
  private[catalog] def versionIsLive(tableDir: Path, v: Int): Boolean = {
    val f = versionFile(tableDir, v)
    try {
      val in = Files.newInputStream(f)
      val head = try in.readNBytes(TombstonePrefix.length) finally in.close()
      !(new String(head, java.nio.charset.StandardCharsets.UTF_8) == TombstonePrefix)
    } catch { case _: java.io.IOException => false }
  }

  /** `expire-floor.text`: every version ≤ floor is expired, and its
    * tombstone file MAY have been garbage-collected. Readers treat
    * those slots as gaps; [[publishPayload]] re-checks the floor after
    * claiming a slot so a zombie committer whose target's tombstone was
    * already collected still fails with a clean conflict instead of
    * forking the log below head. Tombstones therefore only live between
    * the expire that writes them and the one that advances the floor
    * past them — the metadata dir stays bounded for streaming tables
    * that commit (and expire) forever. */
  private[catalog] def floorFile(md: Path): Path = md.resolve("expire-floor.text")

  /** Missing floor file = no expire has GC'd tombstones yet = 0. Every
    * OTHER failure propagates: this value gates [[publishPayload]]'s
    * zombie-fork protection, and defaulting a transient read error
    * (EIO, EMFILE) to 0 would silently disable it — the commit must
    * fail retryably instead. A corrupt floor file is a loud error for
    * the same reason. */
  private[graft] def readFloor(md: Path): Int = {
    val text =
      try Files.readString(floorFile(md))
      catch { case _: java.nio.file.NoSuchFileException => return 0 }
    text.trim.toIntOption.getOrElse(throw new IllegalStateException(
      s"corrupt expire floor ${floorFile(md)}: '${text.take(40)}'"))
  }

  /** Striped JVM-level locks for [[writeFloor]]: `FileLock` is
    * per-JVM-per-file (a second thread locking the same file throws
    * OverlappingFileLockException), so same-process racers must
    * serialize BEFORE touching the file lock. 64 stripes bound the
    * memory regardless of how many tables a process touches. */
  private val floorStripes = Array.fill(64)(new Object)

  /** MONOTONIC floor advance — by MUTUAL EXCLUSION, not by retry. The
    * previous write-then-re-read loop had a check-then-act hole: racer
    * B could read a stale floor, then REPLACE_EXISTING over A's larger
    * value, and B's own re-read (its smaller v already landed) exits
    * the loop — the floor regresses permanently while A has already
    * deleted the tombstones its larger floor covered, re-opening the
    * zombie-fork window the floor exists to close. Here every writer
    * holds (a) a JVM stripe lock (same-process racers) and (b) an
    * exclusive `FileLock` on `expire-floor.lock` (cross-process racers)
    * across the whole read-compare-move, so a smaller value can never
    * land after a larger one. Readers stay lock-free: the ATOMIC_MOVE
    * publish means they see either the old or the new floor, both of
    * which are now guaranteed monotone. If the filesystem cannot lock
    * (some network mounts), the stripe lock still serializes this
    * process and we proceed — the same local-FS assumption the
    * claimSlot link(2) protocol already documents. */
  private[graft] def writeFloor(md: Path, v: Int): Unit = {
    val stripe = floorStripes(
      (md.toAbsolutePath.normalize.hashCode & Int.MaxValue) % floorStripes.length)
    stripe.synchronized {
      val ch =
        try java.nio.channels.FileChannel.open(md.resolve("expire-floor.lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case _: java.io.IOException => null }
      val lock =
        if (ch == null) null
        else try ch.lock() catch { case _: java.io.IOException => null }
      try {
        if (readFloor(md) < v) {
          val tmp = Files.createTempFile(md, ".floor-", ".tmp")
          try {
            Files.writeString(tmp, v.toString)
            Files.move(tmp, floorFile(md),
              StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
          } finally Files.deleteIfExists(tmp)
        }
      } finally {
        if (lock != null) { try lock.release() catch { case _: java.io.IOException => () } }
        if (ch != null) { try ch.close() catch { case _: java.io.IOException => () } }
      }
    }
  }

  /** Land the fully-written `tmp` at `target`, claiming the slot
    * atomically: exactly one racer wins, the rest see
    * [[java.nio.file.FileAlreadyExistsException]] (or a
    * FileSystemException with the target present). link(2)'s EEXIST is
    * the atomic claim. On filesystems without hard links the fallback
    * is an O_EXCL create of the target plus a byte copy — the CLAIM
    * stays atomic at the cost of a transient window where a concurrent
    * reader can observe a partially-written target (a retryable JSON
    * parse error). That trade is deliberate: the alternatives both
    * lose commits silently — rename(2) REPLACES a racing winner's
    * payload, and the JDK's no-REPLACE `Files.move` merely emulates
    * refusal with a non-atomic stat-then-rename. */
  private[catalog] def claimSlot(target: Path, tmp: Path): Unit =
    try Files.createLink(target, tmp)
    catch {
      case _: UnsupportedOperationException =>
        copyExclusive(target, tmp)
      case e: java.nio.file.FileSystemException
          if !e.isInstanceOf[java.nio.file.FileAlreadyExistsException] &&
            !Files.exists(target) =>
        // link failed for a non-conflict reason (cross-device, a
        // no-link mount reporting EPERM/ENOTSUP as FileSystemException)
        copyExclusive(target, tmp)
    }

  /** O_EXCL create + FULL byte copy. `write` may return short without
    * error (channel contract), so it loops; a failure mid-copy deletes
    * the partial target before rethrowing — leaving it would claim the
    * slot with truncated JSON forever (every retry EEXISTs, every load
    * fails to parse: a bricked table). */
  private[graft] def copyExclusive(target: Path, tmp: Path): Unit = {
    val ch = Files.newByteChannel(target,
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val buf = java.nio.ByteBuffer.wrap(Files.readAllBytes(tmp))
      while (buf.hasRemaining) ch.write(buf)
      ch.close()
    } catch {
      case e: Exception =>
        try ch.close() catch { case _: Exception => () }
        Files.deleteIfExists(target)
        throw e
    }
  }

  /** Parse a version payload — BOTH formats. Legacy inline payloads
    * come back full; manifest-list payloads come back as a SUMMARY
    * (empty file maps, `manifests` populated) that [[resolve]] /
    * [[loadFile]] fill in. Expire tombstones raise
    * [[ExpiredVersionException]]. */
  def fromJson(text: String): TableMetadata = {
    val j = JsonMethods.parse(text)
    def str(v: JValue): String = v match { case JString(s) => s; case other => other.values.toString }
    def int(v: JValue): Int = v match {
      case JInt(i) => i.toInt; case JLong(l) => l.toInt; case other => other.values.toString.toInt
    }
    def long(v: JValue): Long = v match {
      case JInt(i) => i.toLong; case JLong(l) => l; case other => other.values.toString.toLong
    }
    val o = j.asInstanceOf[JObject].obj.toMap
    if (o.contains("expired"))
      throw new ExpiredVersionException(
        s"version ${o.get("version").map(int).getOrElse(-1)} expired " +
          "(expireSnapshots) — not time-travelable; re-sync from the current snapshot")
    def parseRange(r: JValue): ColumnRange = Manifests.parseRange(r)
    TableMetadata(
      version = int(o("version")),
      name = str(o("name")),
      schema = DataType.fromJson(JsonMethods.compact(o("schema"))).asInstanceOf[StructType],
      partitionColumns = o("partitionColumns").asInstanceOf[JArray].arr.map(str),
      properties = o("properties").asInstanceOf[JObject].obj.map { case (k, v) => k -> str(v) }.toMap,
      // Vector, deliberately: the declared-append guard reads
      // files.size and files.takeRight per commit — on the List this
      // used to parse to, those are two O(table) pointer chases per
      // commit at 1M+ files (BENCH_META: 31.5 ms/commit List-shaped vs
      // 4.3 ms Vector-shaped at 10M)
      files = o.get("files").collect { case JArray(fs) =>
        fs.iterator.map(str).toVector: Seq[String] }.getOrElse(Vector.empty),
      fileStats = o.get("fileStats").collect { case fs: JObject =>
        fs.obj.map { case (f, cols) =>
          f -> cols.asInstanceOf[JObject].obj.map { case (c, r) =>
            c -> parseRange(r)
          }.toMap
        }.toMap
      }.getOrElse(Map.empty),
      fileRows = o.get("fileRows").collect { case fr: JObject =>
        fr.obj.map { case (f, n) => f -> long(n) }.toMap
      }.getOrElse(Map.empty),
      fileSeq = o.get("fileSeq").collect { case fs: JObject =>
        fs.obj.map { case (f, v) => f -> int(v) }.toMap
      }.getOrElse(Map.empty),
      deleteFiles = o.get("deleteFiles").collect { case JArray(ds) =>
        ds.map { dv =>
          val d = dv.asInstanceOf[JObject].obj.toMap
          DeleteFile(
            path = str(d("path")),
            keyColumns = d("keyColumns").asInstanceOf[JArray].arr.map(str),
            seq = int(d("seq")),
            rows = long(d("rows")),
            keyRanges = d.get("keyRanges").collect { case kr: JObject =>
              kr.obj.map { case (c, r) => c -> parseRange(r) }.toMap
            }.getOrElse(Map.empty),
            // absent in pre-positional metadata → equality (back-compat)
            kind = d.get("kind").map(str).getOrElse(DeleteFile.Equality),
            paired = d.get("paired").exists {
              case JBool(b) => b
              case other => other.values.toString.toBoolean
            },
            components = d.get("components").collect {
              case JArray(cs) => cs.map(str)
            }.getOrElse(Nil),
            vector = d.get("vector").map(str).getOrElse(""))
        }
      }.getOrElse(Seq.empty),
      snapshots = o("snapshots").asInstanceOf[JArray].arr.map { sv =>
        val so = sv.asInstanceOf[JObject].obj.toMap
        Snapshot(int(so("version")), long(so("timestampMs")), str(so("operation")),
          int(so("addedFiles")), int(so("totalFiles")))
      },
      manifests = o.get("manifests").collect { case JArray(ms) =>
        ms.map(Manifests.parseRef)
      }.getOrElse(Seq.empty))
  }

  /** Fill a manifest-backed summary's file maps from its manifests (a
    * legacy inline payload passes through untouched). `mdDir` is the
    * OWNING table's metadata dir — branch payloads resolve against the
    * main table's manifest pool. */
  private[catalog] def resolve(mdDir: Path, summary: TableMetadata): TableMetadata =
    if (summary.manifests.isEmpty) summary
    else {
      resolvesBuilt.incrementAndGet()
      val entries = Manifests.resolveAll(mdDir, summary.manifests)
      summary.copy(
        // Vector for the same reason as fromJson: resolved metas are
        // what commit call sites extend, and the O(delta) guard needs
        // O(1) size / O(delta) tail on them
        files = entries.iterator.map(_.path).toVector,
        fileStats = entries.iterator.filter(_.stats.nonEmpty).map(e => e.path -> e.stats).toMap,
        fileRows = entries.iterator.flatMap(e => e.rows.map(e.path -> _)).toMap,
        fileSeq = entries.iterator.map(e => e.path -> e.seq).toMap)
    }

  /** Instrumentation: full map-materializing resolves actually built
    * (cache misses only) — MetaScaleSpec bounds warm loads at zero. */
  private[graft] val resolvesBuilt = new java.util.concurrent.atomic.AtomicLong

  /** [[resolve]] behind a fingerprint-validated LRU, for the two
    * CURRENT-VERSION paths every query's planning takes (`load`, and
    * an unpruned `resolveForScan`). Even with every chunk parse warm
    * in [[Manifests]], a full resolve REBUILDS the fileStats/fileRows/
    * fileSeq maps — ~0.36 s at 200k files, ~2.8 s at 1M, PER LOAD —
    * which made warm scan planning on large tables map-building-bound.
    * Keyed by the version file's (path, size, mtime) exactly like the
    * render cache: version files are immutable, expire swaps them for
    * tombstones (fingerprint changes → entry drops), and a new commit
    * is a new key (stale entries age out of the 8-way LRU). The cached
    * meta is immutable and SHARES its ManifestEntry instances with the
    * chunk cache, so the footprint is the map nodes — same budget
    * class as the render cache's 8 RenderedStates. Keyed per TABLE
    * (one live entry each, replaced on version advance): keying by
    * version file would pin up to 8 VERSIONS of one streaming table's
    * maps. Only exact (unfiltered or nothing-pruned) resolves cache:
    * a chunk-pruned resolve is scan-specific and stays uncached. */
  private final case class ResolvedEntry(
      vfKey: String, size: Long,
      mtime: java.nio.file.attribute.FileTime, meta: TableMetadata)
  private val resolvedMetas =
    new java.util.LinkedHashMap[String, ResolvedEntry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ResolvedEntry]): Boolean = size > 8
    }

  private[graft] def clearResolvedCacheForTesting(): Unit =
    resolvedMetas.synchronized(resolvedMetas.clear())

  private[catalog] def resolveCached(
      mdDir: Path, summary: TableMetadata): TableMetadata = {
    if (summary.manifests.isEmpty) return summary
    val vf = mdDir.resolve(s"v${summary.version}.json")
    fileFingerprint(vf) match {
      case None => resolve(mdDir, summary)
      case Some((size, mtime)) =>
        val tableKey = renderKey(mdDir)
        val vfKey = renderKey(vf)
        val hit = resolvedMetas.synchronized(Option(resolvedMetas.get(tableKey)))
        hit match {
          case Some(e) if e.vfKey == vfKey && e.size == size && e.mtime == mtime =>
            e.meta
          case _ =>
            val r = resolve(mdDir, summary)
            resolvedMetas.synchronized {
              resolvedMetas.put(tableKey, ResolvedEntry(vfKey, size, mtime, r)); ()
            }
            r
        }
    }
  }

  /** Columns that earn a per-chunk manifest-list summary
    * ([[ManifestRef.summary]]): the clustering contract's columns —
    * identity partitions, hidden-transform sources, the leading sort
    * column — are the ones writes cluster by, so chunk-level ranges on
    * them are tight enough to skip. Capped to bound the version
    * payload at O(refs) regardless of schema width. */
  private[catalog] def summaryColumns(meta: TableMetadata): Seq[String] =
    (meta.partitionColumns ++
      HiddenPartitioning.sourceCols(meta.properties) ++
      WriteSortOrder.colsOf(meta.properties).take(1)).distinct.take(4)

  /** True when `m` is an UNRESOLVED manifest-backed summary (a version
    * payload as parsed from disk). Hand-built metas — MorReads
    * sub-tables, time-travel loads, commit attempts — arrive with
    * `files` populated and must never be re-resolved: their stale
    * `manifests` field would clobber the caller's deliberate edits. */
  private[catalog] def isSummary(m: TableMetadata): Boolean =
    m.files.isEmpty && m.manifests.nonEmpty

  /** Scan-scoped resolve: parse ONLY the manifest chunks whose summary
    * may overlap every pushed filter — the chunks a partition-predicate
    * query actually needs. Skipped chunks' files provably cannot match
    * the filter conjunction (the same [[FileSkipping.mayMatch]] the
    * per-file prune uses, applied to the chunk's folded ranges), so
    * excluding them wholesale is exactly what per-file pruning would
    * have done after parsing — including for EXACT pushdown and
    * metadata aggregates, which only ever reason over the conjunction's
    * survivors. A cold driver's single-partition query thus reads
    * O(overlapping chunks), not O(table). Chunks without a summary are
    * always parsed. */
  private[graft] def resolveForScan(
      mdDir: Path,
      summary: TableMetadata,
      filters: Seq[org.apache.spark.sql.sources.Filter]): TableMetadata =
    if (!isSummary(summary)) summary // already resolved (or hand-built): use as-is
    else if (filters.isEmpty) resolveCached(mdDir, summary)
    else {
      val keep = summary.manifests.filter { ref =>
        ref.summary.isEmpty ||
          filters.forall(f => FileSkipping.mayMatch(f, summary.schema, ref.summary))
      }
      // filters that prune nothing resolve the same full set — serve
      // them from the cache; a genuinely pruned resolve is
      // scan-specific and stays uncached
      if (keep.size == summary.manifests.size) resolveCached(mdDir, summary)
      else resolve(mdDir, summary.copy(manifests = keep))
        .copy(manifests = summary.manifests) // keep the TRUE list for introspection
    }

  /** Load one version-payload file (main log, branch log, or a
    * time-travel target) with manifests resolved. */
  def loadFile(tableDir: Path, file: Path): TableMetadata =
    resolve(metadataDir(tableDir), fromJson(Files.readString(file)))

  def metadataDir(tableDir: Path): Path = tableDir.resolve("metadata")

  def versionFile(tableDir: Path, v: Int): Path = metadataDir(tableDir).resolve(s"v$v.json")

  private val HintName = "version-hint.text"

  /** Best-effort monotone advance of the version hint; the commit
    * itself is already published, so failures here only cost the next
    * reader a directory listing. */
  private[catalog] def writeHint(md: Path, v: Int): Unit =
    try writeHintStrict(md, v) catch { case _: Exception => () }

  /** [[writeHint]] that REFUSES to stay silent: expire must advance the
    * hint to current BEFORE deleting versions below it (a stale hint at
    * a tagged/fork version below an expire-created gap would otherwise
    * make the forward probe return that historic version as current).
    * Propagating the failure aborts the expire, which is the safe
    * outcome — nothing has been deleted yet. */
  private[catalog] def writeHintStrict(md: Path, v: Int): Unit = {
    val cur =
      try Files.readString(md.resolve(HintName)).trim.toIntOption.getOrElse(0)
      catch { case _: Exception => 0 }
    if (v > cur) {
      val tmp = Files.createTempFile(md, ".hint-", ".tmp")
      Files.writeString(tmp, v.toString)
      Files.move(tmp, md.resolve(HintName),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      // the hint is what makes a table REST-visible, so this is the
      // one funnel where every publish path keeps the warehouse's
      // REST listing registry current (steady state: one set lookup;
      // never throws, never fails the commit)
      RestRegistry.maybeRegister(md.getParent)
    }
  }

  /** Highest committed version, or 0 if none (not a table).
    *
    * Reads the hint file and probes FORWARD — O(1 + commits-since-hint)
    * stat calls instead of listing a directory that holds the whole
    * metadata log. Commits keep versions contiguous above the hint; the
    * one writer of gaps BELOW current is expire, which advances the
    * hint strictly BEFORE deleting ([[writeHintStrict]]). The remaining
    * race — this reader loaded the hint before expire advanced it, then
    * observed the deletions — is closed by re-reading the hint after the
    * probe: expire's hint write happened-before its deletes, so a probe
    * that stopped at an expire-created gap always sees the newer hint on
    * re-read and restarts from it. Tables without a hint (pre-hint, or
    * the write failed) fall back to the listing. */
  def currentVersion(tableDir: Path): Int = {
    val md = metadataDir(tableDir)
    if (!Files.isDirectory(md)) return 0
    def readHint(): Int =
      try Files.readString(md.resolve(HintName)).trim.toIntOption.getOrElse(0)
      catch { case _: Exception => 0 }
    var hinted = readHint()
    while (hinted > 0 && Files.exists(versionFile(tableDir, hinted))) {
      var v = hinted
      while (Files.exists(versionFile(tableDir, v + 1))) v += 1
      val recheck = readHint()
      if (recheck <= v) return v
      hinted = recheck // concurrent expire advanced the hint: restart above the gap
    }
    Fs.children(md).iterator
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toIntOption.getOrElse(0)
      }
      .foldLeft(0)(math.max)
  }

  def exists(tableDir: Path): Boolean = currentVersion(tableDir) > 0

  def load(tableDir: Path): TableMetadata = {
    val v = currentVersion(tableDir)
    require(v > 0, s"not a lakehouse table: $tableDir")
    // the current-version load is every query's planning path: resolve
    // through the fingerprint-validated cache (time-travel loadFile
    // and log walks stay uncached — rare, and they would thrash the
    // small LRU)
    val f = versionFile(tableDir, v)
    resolveCached(metadataDir(tableDir), fromJson(Files.readString(f)))
  }

  /** [[load]] WITHOUT resolving manifests: O(refs) — schema,
    * properties, partition columns, delete entries and the manifest
    * list, no per-file maps. The catalog serves tables from this and
    * defers chunk parsing to first use ([[LakehouseTable.meta]]) or to
    * the scan-scoped pruned resolve ([[resolveForScan]]). */
  def loadSummary(tableDir: Path): TableMetadata = {
    val v = currentVersion(tableDir)
    require(v > 0, s"not a lakehouse table: $tableDir")
    fromJson(Files.readString(versionFile(tableDir, v)))
  }

  /** Load every RETAINED metadata version in order (the metadata log).
    * Versions removed by `Maintenance.expireSnapshots` leave gaps;
    * callers that need a contiguous window (incremental reads) must
    * check completeness by version number, not position. Shared
    * manifests resolve through the cache, so walking the log costs
    * O(distinct manifests), not O(versions × files). */
  def loadLog(tableDir: Path): Seq[TableMetadata] =
    (1 to currentVersion(tableDir)).flatMap { v =>
      // read-then-catch, not exists-then-read: a concurrent
      // expireSnapshots between the two would crash the reader instead
      // of registering as a gap. Expired slots are gaps whether they
      // are tombstones (current expire) or missing files (pre-tombstone
      // tables).
      try Some(loadFile(tableDir, versionFile(tableDir, v)))
      catch {
        case _: java.nio.file.NoSuchFileException => None
        case _: ExpiredVersionException => None
      }
    }

  /** Publish a prebuilt `meta` as the next main-log version, one
    * attempt ([[SnapshotChange.land]]): the payload is claimed with an
    * operation that FAILS if the version already exists (link(2)'s
    * EEXIST, see [[claimSlot]]), so exactly one racer wins and the
    * loser gets a clear conflict error — the snapshot isolation story
    * the reference inherits from Iceberg's metadata swap
    * (`README.md:543-551`). Returns the metadata as actually written —
    * i.e. with the structural fileSeq assignments filled in — so callers
    * that keep reasoning about the committed snapshot see the same seqs
    * a reader loading it from disk would. Catalog writes describe their
    * change to [[SnapshotChange]] instead. */
  def commit(tableDir: Path, meta: TableMetadata,
      delta: Option[AppendDelta] = None): TableMetadata =
    SnapshotChange.land(tableDir, SnapshotChange.MainLog, meta, delta)()

  private[catalog] def isMirrored(meta: TableMetadata): Boolean =
    meta.properties.get("graft.iceberg.mirror").contains("true")

  /** The hint-advance half of the write-through-mirror invariant:
    * external readers follow hint → `v<N>.metadata.json`, so EVERY
    * main-log publish path (ordinary commit, rewrite-manifests,
    * branch fast-forward) must land the export BEFORE the hint names
    * the new version. maintainMirror never throws; on its failure the
    * hint still advances and staleness surfaces loudly at the reader
    * (the documented contract). */
  private[catalog] def mirrorThenHint(tableDir: Path, meta: TableMetadata): Unit =
    // a superseded mirror update (racing commits) leaves the hint to
    // the superseding committer — writing it here would transiently
    // name a version whose document was never written
    if (IcebergExport.maintainMirror(tableDir, meta))
      writeHint(metadataDir(tableDir), meta.version)

  /** Atomically land a rendered version payload at `target`; on a lost
    * race, delete this attempt's freshly-written manifest chunks (they
    * are referenced by nothing — the expire-time orphan reaper is only
    * the crash backstop) and raise the commit conflict. ONE copy of the
    * publish protocol: [[SnapshotChange.land]] lands main-log and
    * branch-log payloads through here, each with its own conflict
    * message.
    *
    * Protocol details that are load-bearing:
    *  - [[claimSlot]] makes the slot claim atomic (link(2) EEXIST, or
    *    an O_EXCL create on no-link filesystems) — exactly one racer
    *    wins a version slot, and a loser can never silently replace
    *    the winner's payload.
    *  - every failure retracts this attempt's chunks, and a lost claim
    *    raises the "commit conflict" [[SnapshotChange]]'s retry loop
    *    filters on.
    *  - the attempt's manifest chunks are re-verified to exist AFTER
    *    the claim: a committer stalled past the orphan reaper's grace
    *    window can have its not-yet-referenced chunks reaped between
    *    `Manifests.write` and here; publishing anyway would make the
    *    table head unreadable. Nobody can have built on the just-linked
    *    version — its chunk seeds are still parked (promoted only
    *    below, after this verification), so any concurrent reader of
    *    the slot takes the disk path and crashes on the missing chunk —
    *    which makes retracting the slot and raising a retryable
    *    conflict safe.
    *  - the EXPIRE FLOOR is re-read after the claim: a zombie whose
    *    target slot expired AND had its tombstone garbage-collected
    *    (see [[floorFile]]) would otherwise claim a slot below head and
    *    fork the log. Checking after the claim closes the race with a
    *    concurrent expire advancing the floor. */
  private[catalog] def publishPayload(
      md: Path,
      target: Path,
      json: String,
      newManifests: Seq[Path],
      name: String,
      version: Int,
      conflictMsg: String = null,
      // branch-log payloads share the protocol but their version
      // numbers must never advance the MAIN log's hint
      advanceHint: Boolean = true): Unit = {
    val conflict = Option(conflictMsg).getOrElse(
      s"commit conflict: version $version already exists for $name")
    def retract(): Unit = {
      Manifests.dropSeeds(newManifests)
      newManifests.foreach(p => Files.deleteIfExists(p))
    }
    def expiredConflict(): Nothing = {
      retract()
      throw new IllegalStateException(
        s"commit conflict: version $version of $name expired while the " +
          "commit was in flight (below the expire floor) — re-sync from " +
          "the current snapshot and retry")
    }
    // pre-claim floor check: a zombie below the floor fails before its
    // payload ever becomes observable (the post-claim re-check below
    // still closes the race with a CONCURRENT expire advancing the
    // floor; this one removes the claim-then-retract flicker from the
    // common stale-committer wakeup). A floor that cannot be read fails
    // the attempt before or after the claim with its chunks (and slot)
    // retracted: the caller discards its staged files on that failure.
    val belowFloor =
      try version <= readFloor(md)
      catch { case e: Exception => retract(); throw e }
    if (belowFloor) expiredConflict()
    val tmp =
      try {
        val t = Files.createTempFile(md, s".v$version-", ".json.tmp")
        Files.writeString(t, json)
        t
      } catch { case e: Exception => retract(); throw e }
    try claimSlot(target, tmp)
    catch {
      case e @ (_: java.nio.file.FileAlreadyExistsException | _: java.nio.file.FileSystemException)
          if Files.exists(target) =>
        retract()
        throw new IllegalStateException(conflict, e)
      case e: Exception =>
        retract()
        throw e
    } finally Files.deleteIfExists(tmp)
    newManifests.find(!Files.exists(_)).foreach { gone =>
      Files.deleteIfExists(target)
      retract()
      throw new IllegalStateException(
        s"commit conflict: manifest chunk ${gone.getFileName} of $name " +
          s"v$version was reaped while the commit was in flight (stalled " +
          "past the orphan grace window) — retry re-renders the chunks")
    }
    val expiredSinceClaim =
      try version <= readFloor(md)
      catch { case e: Exception => Files.deleteIfExists(target); retract(); throw e }
    if (expiredSinceClaim) {
      Files.deleteIfExists(target)
      expiredConflict()
    }
    Manifests.promoteSeeds(newManifests)
    if (advanceHint) writeHint(md, version)
  }

  /** A committer's EXPLICIT statement that its attempt is the
    * predecessor snapshot plus exactly `addedFiles` new data files —
    * no removals, no re-sequencing, no stats/rows changes to existing
    * files (payload-level changes — delete entries, properties,
    * snapshots — are free: they never live in manifests). With the
    * predecessor's [[RenderedState]] cached, [[renderNext]] then costs
    * O(delta): every previous chunk is reused by reference WITHOUT
    * re-verifying its entries, which is what keeps a streaming
    * append's driver CPU flat from 200k to 1M files (the verification
    * scan is memory-bound hash probing, ~1-2 µs/file at 1M — see
    * BENCH_META's commit_append columns for both shapes).
    *
    * What the guards CATCH (any failure falls back to full
    * verification): a declared file that already exists, duplicate or
    * non-tail-positioned declared files, and a file count that does
    * not reconcile to predecessor + |addedFiles|. What is TRUSTED by
    * the declaration: the retained prefix — that it is exactly the
    * predecessor's files with unchanged rows/stats/seq records,
    * INCLUDING its distinctness. A duplicated path inside the prefix
    * can mask a removal from the count arithmetic (predecessor [a,b],
    * attempt [a,a,x] with declared [x] passes every guard); detecting
    * it needs a dedup pass over all of meta.files, which is exactly
    * the O(table) cost the declaration exists to avoid — so that shape
    * is trusted, not caught (the UNDECLARED fast path does build the
    * dedup set and catches it). Every
    * call site passing a delta constructs `files = base.files ++
    * addedFiles` from a freshly loaded base and never touches existing
    * records, which is the contract; a caller that mutates the prefix
    * while declaring an append writes a manifest list that no longer
    * matches its in-memory attempt. Undeclared commits always take the
    * verifying paths. Deletion-only commits (MoR DML) pass an EMPTY
    * delta and reuse every chunk in O(1). */
  final case class AppendDelta(addedFiles: Seq[String])

  /** Everything a successor commit needs to know about a rendered
    * version, cached per VERSION FILE so the next commit against it is
    * O(delta): the manifest list, each chunk's parsed entries (shared
    * with the [[Manifests]] parse cache), the path set, and the
    * per-file seq map. Version files are immutable once published
    * (expire replaces them with tombstones, and nothing renders
    * against a tombstone), so a cached state can never go stale.
    * Seeded by [[SnapshotChange.land]] AFTER a successful publish — never before:
    * a lost slot race would otherwise poison the key with the LOSER's
    * rendering of that version. */
  private[catalog] final case class RenderedState(
      refs: Seq[ManifestRef],
      chunks: Seq[(ManifestRef, Seq[ManifestEntry])],
      pathSet: Set[String],
      seqByPath: Map[String, Int])

  /** A cached state plus the version file's (size, mtime) captured at
    * seed time. The immutability assumption ("version files are
    * immutable once published") holds inside this engine, but NOT
    * against out-of-band replacement — a drop+recreate by another
    * process, or a restore-from-backup, can land a DIFFERENT v<N>.json
    * at the same absolute path while this JVM's cache is warm, and
    * renderNext would then verify/extend against the stale
    * predecessor. Validating the fingerprint on every get (one stat —
    * noise next to the commit it fronts) closes that silently-wrong
    * mode: a replaced file differs in size or mtime and the entry
    * drops, forcing the fresh parse. */
  private final case class CachedRender(
      size: Long, mtime: java.nio.file.attribute.FileTime, st: RenderedState)

  private val renderCache =
    new java.util.LinkedHashMap[String, CachedRender](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CachedRender]): Boolean = size > 8
    }
  private def renderKey(f: Path): String = f.toAbsolutePath.normalize.toString
  private[graft] def fileFingerprint(f: Path)
      : Option[(Long, java.nio.file.attribute.FileTime)] =
    try {
      val a = Files.readAttributes(
        f, classOf[java.nio.file.attribute.BasicFileAttributes])
      Some((a.size(), a.lastModifiedTime()))
    } catch { case _: Exception => None }
  private def renderStateGet(f: Path): Option[RenderedState] = {
    val key = renderKey(f)
    val hit = renderCache.synchronized(Option(renderCache.get(key)))
    hit.flatMap { c =>
      if (fileFingerprint(f).contains((c.size, c.mtime))) Some(c.st)
      else { // out-of-band replacement: drop, force the fresh parse
        renderCache.synchronized { renderCache.remove(key); () }
        None
      }
    }
  }
  private[catalog] def seedRenderState(f: Path, st: RenderedState): Unit =
    // an unreadable fingerprint (file racing away) simply skips the
    // seed: the successor takes the verifying parse, never a stale hit
    fileFingerprint(f).foreach { case (size, mtime) =>
      renderCache.synchronized {
        renderCache.put(renderKey(f), CachedRender(size, mtime, st)); ()
      }
    }
  private[graft] def clearRenderCacheForTesting(): Unit =
    renderCache.synchronized(renderCache.clear())

  /** Shared tail of the O(delta) and scanning fast paths: extend a
    * verified predecessor state by `freshFiles` — write their chunks,
    * extend the seq map and path set persistently, reuse every
    * previous ref — and render the payload. */
  private def extendState(
      mdDir: Path, meta: TableMetadata, st: RenderedState,
      freshFiles: Seq[String])
      : (String, TableMetadata, Seq[Path], RenderedState) = {
    val freshEntries = freshFiles.map(f => ManifestEntry(
      f, meta.fileRows.get(f), meta.fileSeq.getOrElse(f, meta.version),
      meta.fileStats.getOrElse(f, Map.empty)))
    val (freshRefs, freshChunks, newPaths) =
      if (freshEntries.isEmpty)
        (Seq.empty[ManifestRef],
          Seq.empty[(ManifestRef, Seq[ManifestEntry])], Seq.empty[Path])
      else {
        val rs = Manifests.write(mdDir, meta.version, freshEntries,
          summaryColumns(meta), meta.schema)
        val groups = freshEntries.grouped(Manifests.ChunkSize).toSeq
        require(rs.size == groups.size,
          s"manifest write chunking drifted: ${rs.size} refs for " +
            s"${groups.size} groups")
        (rs, rs.zip(groups), rs.map(r => mdDir.resolve(r.path)))
      }
    val sequencedSeq =
      st.seqByPath ++ freshEntries.iterator.map(e => e.path -> e.seq)
    val outRefs = st.refs ++ freshRefs
    val sequenced = meta.copy(fileSeq = sequencedSeq, manifests = outRefs)
    val next = RenderedState(outRefs, st.chunks ++ freshChunks,
      st.pathSet ++ freshFiles, sequencedSeq)
    (sequenced.payloadJson, sequenced, newPaths, next)
  }

  /** The storage half of a commit, shared by the main log and the
    * branch logs ([[SnapshotChange.land]]): sequence `meta` against the
    * previous payload, plan the manifest delta, WRITE the new chunks,
    * and render the version payload.
    *
    * Delta plan (the Iceberg manifest-list shape):
    *  - a previous manifest whose entries are all unchanged is reused
    *    BY REFERENCE — zero bytes written or moved for it;
    *  - a manifest that lost (or changed) entries is rewritten with
    *    its survivors, IN PLACE in the list, so reconstruction order
    *    matches the caller's `prev-filtered ++ appended` file order;
    *  - files not covered by any previous manifest append as fresh
    *    chunks at the tail.
    * Commit IO is therefore O(changed files), never O(table).
    *
    * Driver CPU is O(delta) too on the PURE-APPEND shape (the 100 TB
    * streaming-ingest case) when the predecessor's [[RenderedState]]
    * is cached: one reference-compare pass over the previous entries
    * (three hash probes each, ~0.1 µs/file — no per-entry allocation,
    * no deep stats equality, no map rebuilds) decides every chunk is
    * clean, and the seq map extends persistently by the appended
    * files. Before per-chunk dirty tracking this re-verification
    * allocated a desired entry per file and deep-compared stats maps
    * (~4.5 µs/file — ~4.5 s of driver CPU per commit at 1M files, the
    * ceiling SURVEY §6 documented). Removals, re-sequencing, stats
    * changes, duplicate paths, or a legacy predecessor all fall back
    * to the full verification below, which is unchanged.
    *
    * Structural fileSeq maintenance lives here (same law as always):
    * every data file keeps the seq it had in the predecessor version;
    * first-appearing files get this commit's version; an entry the
    * caller supplied explicitly wins (rollback restores historical
    * seqs this way). A LEGACY inline predecessor yields no refs, so
    * every file lands in fresh chunks — the table migrates to the
    * manifest format on its first post-upgrade commit.
    *
    * Returns (payload json, sequenced metadata, freshly written chunk
    * paths, the rendered state for [[seedRenderState]]). */
  private[catalog] def renderNext(
      mdDir: Path,
      prevFile: Option[Path],
      meta0: TableMetadata,
      delta: Option[AppendDelta] = None)
      : (String, TableMetadata, Seq[Path], RenderedState) = {
    // normalize files to a Vector so every commit's guards cost O(1)
    // size / O(delta) tail: loads already parse to Vector, but a
    // caller that built from CREATE (files=Nil → List) and kept
    // extending would otherwise pay two O(table) traversals per
    // declared commit forever. The one-time toVector here converges —
    // the returned `sequenced` carries the Vector, and conforming
    // call sites build the next attempt from it.
    val meta = meta0.files match {
      case _: Vector[_] => meta0
      case fs => meta0.copy(files = fs.toVector)
    }
    val cachedState = prevFile.flatMap(renderStateGet)
    val prevSummary =
      if (cachedState.isDefined) None
      else prevFile.flatMap { f =>
        try Some(fromJson(Files.readString(f)))
        catch {
          case _: java.nio.file.NoSuchFileException => None
          // a zombie commit whose predecessor expired renders fresh
          // chunks here, then dies cleanly on the tombstone's EEXIST
          case _: ExpiredVersionException => None
        }
      }
    val state: Option[RenderedState] = cachedState.orElse {
      prevSummary.filter(_.manifests.nonEmpty).map { ps =>
        val chunks = ps.manifests.map(r => r -> Manifests.read(mdDir, r))
        val seqs: Map[String, Int] =
          chunks.iterator.flatMap(_._2).map(e => e.path -> e.seq).toMap
        // a REAL HashSet, not the keySet view: the fast path extends
        // pathSet with `++` every commit, which on a view rebuilds the
        // whole set — O(table) hiding inside the O(delta) path
        val paths = chunks.iterator.flatMap(_._2)
          .map(_.path).to(scala.collection.immutable.HashSet)
        RenderedState(ps.manifests, chunks, paths, seqs)
      }
    }

    // ---- O(delta) path: the caller DECLARED a pure append ------------
    // (see [[AppendDelta]]). Verification is O(|addedFiles|) plus two
    // traversals of meta.files (length + tail): each declared file
    // must be new and distinct, the attempt's size must equal
    // predecessor + additions, and the declared files must BE the tail
    // of meta.files (every conforming call site appends them there; a
    // declaration naming file y while the attempt actually gained x
    // would otherwise write a manifest for phantom y and silently drop
    // x). The size guard reconciles COUNTS only — a duplicated path in
    // the trusted prefix masking a removal passes it (see the
    // AppendDelta scaladoc: that shape is trusted by the declaration,
    // because catching it costs the O(table) dedup this path exists to
    // skip). Any mismatch falls through to the scanning paths below
    // and still commits correctly.
    val deltaResult = for {
      st <- state
      d <- delta
      if d.addedFiles.forall(f => !st.pathSet.contains(f)) &&
        d.addedFiles.toSet.size == d.addedFiles.size &&
        meta.files.size == st.pathSet.size + d.addedFiles.size &&
        meta.files.takeRight(d.addedFiles.size) == d.addedFiles
    } yield extendState(mdDir, meta, st, d.addedFiles)
    if (deltaResult.isDefined) return deltaResult.get

    // ---- fast path: pure append against a known predecessor ----------
    // One pass over meta.files classifies fresh-vs-retained and detects
    // duplicates (a duplicated RETAINED path could otherwise mask a
    // removal in the count arithmetic below — that shape must take the
    // full verification); one pass over the previous entries proves no
    // retained file changed its record. stats compare is eq-first: a
    // metadata loaded through [[Manifests]] shares the very instances
    // the chunks hold, so the common case never walks a stats map.
    state.filter(_ => meta.version >= 1).flatMap { st =>
      val seen = new java.util.HashSet[String](meta.files.size * 2)
      val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
      var dup = false
      meta.files.foreach { f =>
        if (!seen.add(f)) dup = true
        else if (!st.pathSet.contains(f)) fresh += f
      }
      val noRemovals =
        !dup && meta.files.size - fresh.size == st.pathSet.size
      def desiredSame(e: ManifestEntry): Boolean =
        meta.fileSeq.getOrElse(e.path, e.seq) == e.seq &&
          meta.fileRows.get(e.path) == e.rows && {
            val s2 = meta.fileStats.getOrElse(e.path, null)
            if (s2 == null) e.stats.isEmpty
            else (s2 eq e.stats) || s2 == e.stats
          }
      if (!noRemovals || !st.chunks.forall(_._2.forall(desiredSame))) None
      else Some(extendState(mdDir, meta, st, fresh.toSeq))
    }.getOrElse {
      // ---- full verification: removals, record changes, legacy ------
      val prevByRef: Seq[(ManifestRef, Seq[ManifestEntry])] =
        state.map(_.chunks).getOrElse(Seq.empty)
      val prevSeq: Map[String, Int] =
        state.map(_.seqByPath)
          .getOrElse(prevSummary.map(_.fileSeq).getOrElse(Map.empty))
      val sequencedSeq: Map[String, Int] = meta.files.map { f =>
        f -> meta.fileSeq.getOrElse(f, prevSeq.getOrElse(f, meta.version))
      }.toMap
      def desired(f: String): ManifestEntry = ManifestEntry(
        f, meta.fileRows.get(f), sequencedSeq(f), meta.fileStats.getOrElse(f, Map.empty))
      val fileSet = meta.files.toSet
      val covered = scala.collection.mutable.HashSet.empty[String]
      val newPaths = scala.collection.mutable.ArrayBuffer.empty[Path]
      val outRefs = scala.collection.mutable.ArrayBuffer.empty[ManifestRef]
      val outChunks =
        scala.collection.mutable.ArrayBuffer.empty[(ManifestRef, Seq[ManifestEntry])]
      prevByRef.foreach { case (ref, entries) =>
        val keep = entries.filter(e => fileSet(e.path))
        keep.foreach(e => covered += e.path)
        val want = keep.map(e => desired(e.path))
        if (want == entries) { outRefs += ref; outChunks += (ref -> entries) }
        else if (want.nonEmpty) {
          val rs = Manifests.write(mdDir, meta.version, want,
            summaryColumns(meta), meta.schema)
          rs.foreach(r => newPaths += mdDir.resolve(r.path))
          outRefs ++= rs
          outChunks ++= rs.zip(want.grouped(Manifests.ChunkSize).toSeq)
        } // fully-removed manifest: dropped from the list
      }
      val fresh = meta.files.filterNot(covered).map(desired)
      if (fresh.nonEmpty) {
        val rs = Manifests.write(mdDir, meta.version, fresh,
          summaryColumns(meta), meta.schema)
        rs.foreach(r => newPaths += mdDir.resolve(r.path))
        outRefs ++= rs
        outChunks ++= rs.zip(fresh.grouped(Manifests.ChunkSize).toSeq)
      }
      val sequenced = meta.copy(fileSeq = sequencedSeq, manifests = outRefs.toSeq)
      val next = RenderedState(
        outRefs.toSeq, outChunks.toSeq, fileSet, sequencedSeq)
      (sequenced.payloadJson, sequenced, newPaths.toSeq, next)
    }
  }

  /** [[commit]] with optimistic rebase — [[SnapshotChange]]'s retry loop
    * under its Rebase policy, for a prebuilt attempt. `attempt` was computed against
    * `base`; when another writer published versions in between, the
    * commit's DELTA (files and delete entries added/removed, property
    * changes, its snapshot entry) is re-derived and re-applied onto the
    * winner's metadata IF the two changes commute, retrying up to
    * `maxAttempts`. Data files were already written exactly once by the
    * caller — only the cheap metadata fold repeats. Non-commutable
    * overlaps fail with the conflict error: correctness over
    * availability.
    *
    * Commutability rules (conservative):
    *  - pure appends commute with everything — two racing ingest jobs
    *    both land, serialized;
    *  - property-only changes commute with everything (per-key
    *    last-writer-wins; keys the attempt removed stay removed);
    *  - new equality-delete entries (MoR delete) commute with appends
    *    and property changes; entry seqs are PRESERVED, so a rebased
    *    delete still applies exactly to the data files of the snapshot
    *    it was computed from and never to rows a racer appended
    *    concurrently — snapshot isolation, Iceberg's default;
    *  - UPSERT-shaped commits (new delete entries + new data files, no
    *    removals) also commute, but their entries are RE-SEQUENCED to
    *    the rebased commit version: the upsert contract is key
    *    uniqueness, so the delete must cover concurrently-appended
    *    rows too (Iceberg's commit-time sequence assignment);
    *  - rewrites (remove+add: compact, COW DML, materialize, rollback)
    *    commute only with appends/property changes: a racing rewrite of
    *    overlapping state is a lost update, and racing delete entries
    *    may target the very files being rewritten (their rows would
    *    resurrect in the rewritten output);
    *  - schema or partition-spec changes on either side are never
    *    auto-rebased.
    *
    * Returns the metadata actually committed (== `attempt` when no race
    * happened). */
  def commitOrRebase(
      tableDir: Path,
      attempt: TableMetadata,
      base: TableMetadata,
      maxAttempts: Int = 10,
      // the append declaration holds only for the ORIGINAL attempt
      // against its own base; a rebased attempt re-verifies fully
      appendDelta: Option[AppendDelta] = None): TableMetadata =
    SnapshotChange.rebaseAttempt(tableDir, base, attempt, appendDelta, maxAttempts)

  /** Re-derive base→attempt as a delta and apply it to `cur`, or None
    * when the concurrent base→cur change does not commute with it.
    * [[SnapshotChange]]'s Rebase policy runs it against the main head
    * or a branch head. */
  private[catalog] def rebase(
      base: TableMetadata,
      attempt: TableMetadata,
      cur: TableMetadata): Option[TableMetadata] = {
    val baseFiles = base.files.toSet
    val curFiles = cur.files.toSet
    val added = attempt.files.filterNot(baseFiles)
    val removed = baseFiles -- attempt.files.toSet
    val baseDels = base.deleteFiles.toSet
    val addedDels = attempt.deleteFiles.filterNot(baseDels)
    val removedDels = baseDels -- attempt.deleteFiles.toSet
    val racerRemovedFiles = (baseFiles -- curFiles).nonEmpty
    val racerAddedDels = cur.deleteFiles.exists(!baseDels.contains(_))
    // Delete-entry guards compare ROW-DELETION CONTENT, not entry
    // identity: a racer's delete CONSOLIDATION replaces base entries
    // with merged ones (new paths, old content, components recorded),
    // which changes no row semantics — treating those as "the racer
    // deleted/replaced rows" would fail user DML against routine
    // maintenance. An entry removal is a rewrite only when its content
    // is NOT covered by some cur entry's components; a new entry is
    // FRESH only when it carries content base had not seen.
    val curComponentPaths = cur.deleteFiles.iterator.flatMap(_.components).toSet
    val baseRowPaths = base.deleteFiles.iterator.flatMap(_.rowPaths).toSet
    val racerRemovedDels = (baseDels -- cur.deleteFiles.toSet)
      .exists(d => !d.rowPaths.forall(curComponentPaths.contains))
    val racerFreshDels = cur.deleteFiles.filterNot(baseDels)
      .filter(_.rowPaths.exists(!baseRowPaths.contains(_)))
    val racerRewrote = racerRemovedFiles || racerRemovedDels

    val schemaStable = attempt.schema == base.schema && cur.schema == base.schema &&
      attempt.partitionColumns == base.partitionColumns &&
      cur.partitionColumns == base.partitionColumns
    if (!schemaStable) return None
    // A CHECK constraint or generation expression the racer added (or
    // tightened) since `base` has never seen the attempt's rows — its
    // declaration-time verification scanned only the files committed
    // before it. Rebasing a file-adding commit over it would land
    // unverified rows and the constraint together (the race the INSERT
    // commit defends by re-verifying its written files; every
    // Rebase-policy commit — add_files import, MoR DML, COW
    // rewrites — gets the decline instead: the commit
    // fails clean and the caller re-runs against the snapshot that
    // carries the new constraint). Property keys the attempt itself
    // changed are already arbitrated by the property-merge rules.
    if (added.nonEmpty) {
      // graft.identity.<col> (the SPEC, not the graft.identity-next.*
      // high-water marks every minting insert advances) belongs here
      // too: a racer's identity declaration verified no-nulls against
      // only the files committed before it, and the attempt's files
      // were written without minting — rebasing would land NULL or
      // unarbitrated ids under the new declaration
      val racerAddedChecks = cur.properties.exists { case (k, v) =>
        (k.startsWith(CheckConstraints.Prefix) || k.startsWith(GeneratedColumns.Prefix) ||
          k.startsWith(IdentityColumns.SpecPrefix)) &&
          !base.properties.get(k).contains(v)
      }
      if (racerAddedChecks) return None
    }
    val isRewrite = removed.nonEmpty || removedDels.nonEmpty
    if (isRewrite && (racerRewrote || racerAddedDels)) return None
    if (addedDels.nonEmpty && racerRewrote) {
      // Equality entries target by VALUE: a racer rewrite may have
      // copied matching rows into fresh files the preserved-seq entry
      // will not cover (resurrection) — never commute. Positional
      // entries name their targets EXACTLY: when every racer-removed
      // file is provably outside every entry's targeted path range,
      // the two changes are disjoint and commute; overlap (or an
      // entry without a provable range) refuses — row offsets into a
      // rewritten file are meaningless.
      val racerGone = baseFiles -- curFiles
      val provablyDisjoint = addedDels.forall { d =>
        d.isPositional && (d.keyRanges.get(DeleteFile.PosFileCol) match {
          case Some(r) if r.hasValues =>
            !racerGone.exists(f => r.min <= f && f <= r.max)
          case _ => false
        })
      }
      if (!provablyDisjoint) return None
    }
    if (addedDels.exists(_.isPositional) && racerAddedDels) {
      // Two racers positionally addressing the SAME stored rows never
      // commute: each entry names only the (file, pos) identities of
      // the snapshot its writer read, so neither can cover the other's
      // appended replacement rows — a racing pair of positional
      // UPDATEs of one row would otherwise BOTH land and materialize
      // the lost update as a duplicated row (and a positional UPDATE
      // racing a delete of its matched row would resurrect it).
      // Iceberg's validateNoConflictingDeleteFiles fails this race for
      // the same reason. Commute only when the two entry sets' targeted
      // path ranges are provably disjoint; an entry without a provable
      // range declines.
      val racerNewPos = racerFreshDels.filter(_.isPositional)
      def range(d: DeleteFile) =
        d.keyRanges.get(DeleteFile.PosFileCol).filter(_.hasValues)
      val disjoint = racerNewPos.isEmpty || (
        racerNewPos.forall(o => range(o).isDefined) &&
          addedDels.filter(_.isPositional).forall { d =>
            range(d).exists { r =>
              racerNewPos.forall(o =>
                range(o).exists(q => q.max < r.min || r.max < q.min))
            }
          })
      if (!disjoint) return None
    }
    // MIXED-KIND delete races never commute — the two sides' targets
    // are incomparable (positional entries name (file, pos); equality
    // entries name key values), so row-level overlap can't be refuted,
    // and every overlapping interleaving is a lost write:
    //  - the attempt REPLACED rows positionally (UPDATE/MERGE: new
    //    files + positional dels) while a racer deleted or replaced
    //    rows by VALUE: the attempt's replacement rows escape the
    //    racer's committed equality delete (its seq predates them), so
    //    a row the racer deleted resurrects carrying the update;
    //  - the attempt's PLAIN delete (either kind) raced a racer that
    //    REPLACED rows (new delete entries + new files): the racer's
    //    replacement row for a matched key escapes the attempt's
    //    entries (positional ones name only base files; preserved-seq
    //    equality ones predate the racer's files), so the "deleted"
    //    row survives under its new identity.
    // Equality-UPSERT-shaped attempts stay commutable: re-sequencing
    // below makes their value-addressed entries cover the racer's
    // files. Iceberg's validateNoConflictingDeleteFiles refuses these
    // same races.
    if (addedDels.exists(_.isPositional) && added.nonEmpty &&
        racerFreshDels.exists(!_.isPositional)) return None
    // "a racer REPLACED rows" must be detected per COMMIT, not from the
    // accumulated delta: base→cur may contain one racer's pure append
    // and another's pure delete, which all commute with a plain delete
    // (new rows are out of its snapshot; double-deletes agree). The
    // `paired` flag records commit-time pairing exactly — seq-based
    // reconstruction is ambiguous (a rebased plain delete keeps its
    // base-computed seq, which can equal an unrelated append's
    // fileSeq).
    // (pure positional-vs-positional combinations are NOT refused
    // here: the range guard above already proved the two sides target
    // disjoint files, which IS a row-level disjointness proof)
    if (added.isEmpty && addedDels.nonEmpty &&
        racerFreshDels.exists(o => o.paired &&
          (!o.isPositional || addedDels.exists(!_.isPositional))))
      return None

    val next = cur.version + 1
    val addedSet = added.toSet
    val propRemoved = base.properties.keySet -- attempt.properties.keySet
    val propChanged = attempt.properties.filter { case (k, v) =>
      !base.properties.get(k).contains(v)
    }
    val newFiles = cur.files.filterNot(removed) ++ added.filterNot(curFiles)
    // Upsert-shaped attempts (new data files AND new delete entries, no
    // removals) get their delete entries RE-SEQUENCED to the rebased
    // commit version. The upsert contract is key uniqueness: its delete
    // must also cover rows a racer appended concurrently, else two
    // racing upserts of one key both land with neither delete covering
    // the other's file (each preserved seq <= the racer's file seq) and
    // the key ends up duplicated. Iceberg assigns sequence numbers at
    // commit time for exactly this reason. The attempt's own files take
    // seq = next structurally in commit(), and applicability is strict
    // (seq > fileSeq), so the re-sequenced entry never deletes the
    // upsert's own rows. Plain deletes (no appended files) keep their
    // seq — snapshot isolation: never delete concurrently-appended rows.
    val isUpsertShaped = added.nonEmpty && addedDels.nonEmpty && !isRewrite
    val rebasedDels =
      if (isUpsertShaped) addedDels.map(_.copy(seq = next)) else addedDels
    // the attempt's own snapshot entry is the one past base's history
    val snap = attempt.snapshots.drop(base.snapshots.size).lastOption
      .map(s => s.copy(version = next, totalFiles = newFiles.size))
    Some(cur.copy(
      version = next,
      files = newFiles,
      fileStats = (cur.fileStats -- removed) ++
        attempt.fileStats.view.filterKeys(addedSet).toMap,
      fileRows = (cur.fileRows -- removed) ++
        attempt.fileRows.view.filterKeys(addedSet).toMap,
      // explicit seqs the attempt carried for its added files survive
      // (rollback restores historical seqs this way); commit() fills in
      // the rest structurally
      fileSeq = (cur.fileSeq -- removed) ++
        attempt.fileSeq.view.filterKeys(addedSet).toMap,
      deleteFiles = cur.deleteFiles.filterNot(removedDels) ++ rebasedDels,
      // identity high-water marks (`graft.identity-next.*`) merge
      // MONOTONICALLY: the attempt's advance must never regress a
      // racer's larger one (two importing/minting commits each advanced
      // from `base`; last-write-wins would hand out a racer's range
      // again). Direction comes from the declared step's sign.
      properties = {
        val merged = (cur.properties -- propRemoved) ++ propChanged
        merged.map {
          case (k, v) if k.startsWith(IdentityColumns.NextPrefix) &&
              propChanged.contains(k) && cur.properties.contains(k) =>
            val step = merged.get(IdentityColumns.SpecPrefix +
                k.drop(IdentityColumns.NextPrefix.length))
              .map(IdentityColumns.decodeSpec(_).step).getOrElse(1L)
            val curV = cur.properties(k).toLong
            k -> (if (step > 0) math.max(v.toLong, curV)
                  else math.min(v.toLong, curV)).toString
          case kv => kv
        }
      },
      snapshots = cur.snapshots ++ snap))
  }
}
