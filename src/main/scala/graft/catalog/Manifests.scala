package graft.catalog

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import org.json4s._
import org.json4s.jackson.JsonMethods

/** One data file's metadata inside a manifest: everything the
  * per-version JSON used to inline per file (path, row count, commit
  * sequence, column min/max stats). */
final case class ManifestEntry(
    path: String,
    rows: Option[Long],
    seq: Int,
    stats: Map[String, ColumnRange])

/** A version file's pointer to one immutable manifest chunk. `count`
  * is verified against the parsed entry count on every read — a
  * truncated or corrupted chunk fails loudly instead of silently
  * shrinking the table.
  *
  * `summary` carries folded per-chunk column ranges for the table's
  * SUMMARY COLUMNS (partition + hidden-partition source + leading sort
  * column, [[TableMetadata.summaryColumns]]) — Iceberg's manifest-list
  * partition summaries. A COLD driver's first partition-predicate scan
  * skips chunks whose summary is provably disjoint from the pushed
  * filters without parsing them ([[TableMetadata.resolveForScan]]),
  * closing the one remaining O(table) driver cost (first load used to
  * parse every chunk even for a single-partition query). The fold is
  * sound by construction: a column appears only when EVERY entry in
  * the chunk records it, with merged [min,max], summed null counts
  * (None if any entry's count is unknown), and hasValues=false only
  * when every entry is all-null — so [[FileSkipping.mayMatch]] at
  * chunk granularity can never skip a chunk holding a matching file.
  * Absent summary (pre-summary chunks, unsupported column types) ⇒
  * the chunk is always parsed — behavior identical to before. Warm
  * loads, exact pushdown and metadata aggregates are unchanged: they
  * run on the per-file stats of the chunks that survive, and a
  * skipped chunk's files are provably non-matching for the same
  * conjunction those features serve. */
final case class ManifestRef(
    path: String,
    count: Int,
    summary: Map[String, ColumnRange] = Map.empty)

/** Iceberg-shaped manifest storage for the lakehouse metadata log.
  *
  * The reference's Iceberg tables keep per-file metadata in immutable
  * manifest files with a per-snapshot manifest list (`README.md:543-551`
  * describes the metadata pointer swap; the layout is Iceberg's spec) —
  * the structure that makes commit cost and steady-state load cost
  * O(changed files) instead of O(table). This is that layout for our
  * JSON log:
  *
  *  - a manifest (`metadata/m-<version>-<uuid>.json`) is an immutable
  *    array of [[ManifestEntry]] rows, written once, never modified;
  *  - the per-version file holds only [[ManifestRef]]s (plus schema /
  *    properties / snapshots / delete entries — all O(1) or
  *    O(churn)-sized);
  *  - a commit reuses every untouched manifest BY REFERENCE, rewrites
  *    only manifests an entry was removed from (position-preserved, so
  *    file order survives), and appends one chunk run for new files;
  *  - readers resolve refs through a process-wide cache keyed by path —
  *    manifests are immutable and names embed a UUID (never reused), so
  *    cached parses can never go stale; a warm load re-parses only the
  *    manifests the latest commits added.
  *
  * At 100 TB / ~1M files this is the difference between every commit
  * and every load moving 100s of MB of JSON and moving O(KB).
  */
object Manifests {

  /** Entries per manifest chunk — bounds single-manifest parse cost
    * (Iceberg targets ~8 MB manifests for the same reason). */
  val ChunkSize = 25000

  /** Instrumentation for scale specs: bytes/files actually read from
    * disk (cache misses only) since the last [[resetCounters]]. */
  val bytesRead = new AtomicLong
  val manifestsParsed = new AtomicLong
  def resetCounters(): Unit = { bytesRead.set(0); manifestsParsed.set(0) }

  /** Process-wide parsed-manifest cache, bounded by ENTRY count
    * (entries, not manifests, carry the memory) at TWO levels:
    *
    *  - per TABLE: each table's chunks live in their own LRU with a
    *    1.25M-entry budget — a full 100 TB table (~1M files at 500 MB/
    *    file) stays parsed WITH append churn on top (the old global
    *    budget was exactly 1M, so the design-point table plus one
    *    append already straddled it);
    *  - globally: 5M entries across tables (four design-point tables'
    *    worth, low GBs against the 128 GiB driver budget), evicting
    *    the least-recently-USED table's eldest chunks first.
    *
    * The old single global 1M-entry LRU made two 1M-file tables in one
    * JVM evict each other on every alternation — a long-lived driver
    * serving several large tables paid the full "cold" rebuild
    * (BENCH_META: 2.78 s at 1M files) chronically. Per-table budgets
    * isolate tables from each other; the global bound (4 large tables'
    * worth, a few GB worst case against the 128 GiB driver budget)
    * still caps a pathological many-table churn. A table's key is its
    * chunk path's parent (the owning `metadata/` dir) — chunks never
    * move, so the grouping is stable. Driver-side only; one shared
    * monitor, since contention is noise next to the IO it saves. */
  private[graft] var MaxEntriesPerTable = 1250000L // test-adjustable
  private[graft] var MaxTotalEntries = 5000000L
  private final class TableCache {
    val chunks = new java.util.LinkedHashMap[String, Seq[ManifestEntry]](64, 0.75f, true)
    var entries = 0L
  }
  // table-level access order: global eviction drains the least-
  // recently-used TABLE first, so the active table never pays for a
  // cold one's residency
  private val cache = new java.util.LinkedHashMap[String, TableCache](16, 0.75f, true)
  private var totalEntries = 0L

  private def tableKeyOf(chunkKey: String): String = {
    val i = chunkKey.lastIndexOf('/')
    if (i <= 0) chunkKey else chunkKey.substring(0, i)
  }

  private def cacheGet(key: String): Option[Seq[ManifestEntry]] =
    cache.synchronized {
      Option(cache.get(tableKeyOf(key))).flatMap(t => Option(t.chunks.get(key)))
    }

  private def cachePut(key: String, v: Seq[ManifestEntry]): Unit = cache.synchronized {
    val tk = tableKeyOf(key)
    var t = cache.get(tk)
    if (t == null) { t = new TableCache; cache.put(tk, t); () }
    if (t.chunks.put(key, v) == null) { t.entries += v.size; totalEntries += v.size }
    // per-table budget: evict this table's own eldest chunks
    var it = t.chunks.entrySet().iterator()
    while (t.entries > MaxEntriesPerTable && it.hasNext) {
      val eldest = it.next()
      if (eldest.getKey != key) { // never evict what we just inserted
        t.entries -= eldest.getValue.size
        totalEntries -= eldest.getValue.size
        it.remove()
      }
    }
    // global budget: drain the least-recently-used TABLE(s)
    val tables = cache.entrySet().iterator()
    while (totalEntries > MaxTotalEntries && tables.hasNext) {
      val victim = tables.next().getValue
      it = victim.chunks.entrySet().iterator()
      while (totalEntries > MaxTotalEntries && it.hasNext) {
        val eldest = it.next()
        if (eldest.getKey != key) {
          victim.entries -= eldest.getValue.size
          totalEntries -= eldest.getValue.size
          it.remove()
        }
      }
      if (victim.chunks.isEmpty) tables.remove()
    }
  }

  private[graft] def cachedEntriesForTesting: Long =
    cache.synchronized(totalEntries)

  private[graft] def clearCacheForTesting(): Unit = {
    cache.synchronized {
      cache.clear(); totalEntries = 0
      pendingSeeds.synchronized { pendingSeeds.clear(); pendingEntries = 0 }
    }
    // "cold driver" in specs/benches means NO warm metadata at all: the
    // resolved-meta cache fronts this one, so it must drop too or a
    // cold-path assertion would measure a cache this reset missed
    TableMetadata.clearResolvedCacheForTesting()
  }

  /** Freshly-written chunks parked here until their version PUBLISHES.
    * Seeding the shared cache at write time opened a brick window: a
    * committer stalled past the orphan grace window gets its
    * not-yet-referenced chunks reaped; after it links its version, a
    * same-JVM racer could load that version FROM THE SEEDED CACHE
    * (never touching the missing files), build the next version on its
    * refs, and leave a head no cold process can read — while the
    * committer's own post-link verification then retracts the slot
    * under the racer. Deferring the seed to after verification forces
    * any reader of the just-linked version onto the disk path, which
    * crashes on the missing chunk — so nothing can ever build on refs
    * whose files are gone.
    *
    * The park is ADVISORY: [[promoteSeeds]] on a missing key is a no-op
    * (the next read goes to disk), so the map is hard-bounded by entry
    * count with oldest-first eviction — a commit that dies between
    * `write` and publish (the retract paths cover publish itself) can
    * only ever strand bounded memory, never grow the heap. */
  private val MaxPendingEntries = 500000L
  private val pendingSeeds =
    new java.util.LinkedHashMap[String, Seq[ManifestEntry]]()
  private var pendingEntries = 0L

  private def seedKey(p: Path): String = p.toAbsolutePath.normalize.toString

  private[graft] def pendingEntriesForTesting: Long =
    pendingSeeds.synchronized(pendingEntries)

  private[graft] def parkSeed(key: String, entries: Seq[ManifestEntry]): Unit =
    pendingSeeds.synchronized {
      // adjust by the DELTA on replacement — chunk names embed a UUID so
      // re-parking a key is unreachable today, but counting only fresh
      // puts would silently drift the eviction bound if that ever changes
      val prev = pendingSeeds.put(key, entries)
      pendingEntries += entries.size - (if (prev == null) 0L else prev.size.toLong)
      val it = pendingSeeds.entrySet().iterator()
      while (pendingEntries > MaxPendingEntries && it.hasNext) {
        val eldest = it.next()
        if (eldest.getKey != key) {
          pendingEntries -= eldest.getValue.size
          it.remove()
        }
      }
    }

  private def unparkSeed(key: String): Option[Seq[ManifestEntry]] =
    pendingSeeds.synchronized {
      val v = pendingSeeds.remove(key)
      if (v != null) pendingEntries -= v.size
      Option(v)
    }

  /** Move a published version's freshly-written chunks into the shared
    * cache. Call ONLY after the version file is durably linked and the
    * chunks were re-verified to exist ([[TableMetadata.publishPayload]]). */
  private[catalog] def promoteSeeds(chunks: Seq[Path]): Unit =
    chunks.foreach { p =>
      val k = seedKey(p)
      unparkSeed(k).foreach(cachePut(k, _))
    }

  /** Discard parked seeds for a commit attempt that lost its race or
    * failed verification — the chunk files are deleted with them. */
  private[catalog] def dropSeeds(chunks: Seq[Path]): Unit =
    chunks.foreach(p => unparkSeed(seedKey(p)))

  // ---- json ----------------------------------------------------------------

  private[catalog] def rangeJson(r: ColumnRange): JValue = {
    val base =
      if (r.hasValues)
        List("min" -> (JString(r.min): JValue), "max" -> (JString(r.max): JValue))
      else List("allNull" -> (JBool(true): JValue))
    JObject(base ++ r.nulls.map(n => "nulls" -> (JLong(n): JValue)).toList)
  }

  private[catalog] def parseRange(r: JValue): ColumnRange = {
    val ro = r.asInstanceOf[JObject].obj.toMap
    def str(v: JValue): String = v match { case JString(s) => s; case o => o.values.toString }
    def long(v: JValue): Long = v match {
      case JInt(i) => i.toLong; case JLong(l) => l; case o => o.values.toString.toLong
    }
    if (ro.contains("min"))
      ColumnRange(str(ro("min")), str(ro("max")), ro.get("nulls").map(long))
    else ColumnRange("", "", ro.get("nulls").map(long), hasValues = false)
  }

  private def entryJson(e: ManifestEntry): JValue = JObject(
    List(
      "path" -> (JString(e.path): JValue),
      "seq" -> (JInt(e.seq): JValue)) ++
      e.rows.map(r => "rows" -> (JLong(r): JValue)).toList ++
      (if (e.stats.isEmpty) Nil
       else List("stats" -> (JObject(e.stats.toList.sortBy(_._1).map { case (c, r) =>
         c -> rangeJson(r)
       }): JValue))))

  /** Streaming chunk parse (Jackson token cursor, no AST): a 25k-entry
    * chunk parsed through the json4s AST cost ~180 ms of driver time —
    * and chunk parse IS the scan-planning latency at 100 TB file
    * counts (BENCH_META's resolve/probe numbers). The cursor walk
    * allocates only the entries themselves. Shape tolerance matches
    * the retired json4s entry parser (unknown fields skipped, numeric
    * or string min/max accepted, non-object stats tolerated as empty,
    * `allNull` marker → a hasValues=false range) — and numerics are
    * STRICTER: a missing or non-numeric `seq`/`rows`/`nulls` fails
    * loudly instead of defaulting, because chunks carry no checksum
    * and a defaulted seq=0 would silently corrupt MoR delete
    * applicability. */
  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  private[graft] def parseChunk(
      text: String, file: Path): Seq[ManifestEntry] = {
    import com.fasterxml.jackson.core.JsonToken._
    def fail(): Nothing =
      throw new IllegalStateException(s"malformed manifest: $file")
    val p = jsonFactory.createParser(text)
    try {
      if (p.nextToken() != START_OBJECT) fail()
      var entries: scala.collection.mutable.ArrayBuffer[ManifestEntry] = null
      while (p.nextToken() == FIELD_NAME) {
        if (p.currentName == "entries") {
          if (p.nextToken() != START_ARRAY) fail()
          entries = new scala.collection.mutable.ArrayBuffer[ManifestEntry](1024)
          while (p.nextToken() == START_OBJECT) {
            var path: String = null
            var seq = 0
            var seqSeen = false
            var rows: Option[Long] = None
            var stats: Map[String, ColumnRange] = Map.empty
            // strict numerics: Jackson's getValueAs* would silently
            // default a bit-rotted non-numeric token to 0, and seq=0
            // flowing into MoR delete-applicability ordering resurrects
            // or hides rows — a corrupt chunk must fail LOUDLY instead
            // (chunks carry no checksum, only the entry-count gate)
            def strictLong(): Long =
              if (p.currentToken().isNumeric) p.getLongValue
              else p.getValueAsString match {
                case null => fail()
                case s => try s.toLong catch { case _: NumberFormatException => fail() }
              }
            while (p.nextToken() == FIELD_NAME) {
              p.currentName match {
                case "path" => p.nextToken(); path = p.getValueAsString
                case "seq" => p.nextToken(); seq = strictLong().toInt; seqSeen = true
                case "rows" => p.nextToken(); rows = Some(strictLong())
                case "stats" if p.nextToken() != START_OBJECT =>
                  p.skipChildren() // null/array stats: tolerated as empty
                case "stats" =>
                  val b = Map.newBuilder[String, ColumnRange]
                  while (p.nextToken() == FIELD_NAME) {
                    val col = p.currentName
                    if (p.nextToken() != START_OBJECT) fail()
                    var min: String = null
                    var max: String = null
                    var nulls: Option[Long] = None
                    var allNull = false
                    while (p.nextToken() == FIELD_NAME) {
                      p.currentName match {
                        case "min" => p.nextToken(); min = p.getValueAsString
                        case "max" => p.nextToken(); max = p.getValueAsString
                        case "nulls" => p.nextToken(); nulls = Some(strictLong())
                        case "allNull" => p.nextToken(); allNull = p.getBooleanValue
                        case _ => p.nextToken(); p.skipChildren()
                      }
                    }
                    // hasValues=false ONLY via the writer's explicit
                    // allNull marker ([[rangeJson]]): a bit-rotted
                    // {"min":null,"max":"x"} (or min without max) must
                    // fail loudly, not silently become an all-null
                    // claim FileSkipping could wrongly skip a live
                    // file on — same no-checksum rationale as the
                    // strict numerics above
                    b += col -> (if (min != null && max != null)
                      ColumnRange(min, max, nulls)
                    else if (min == null && max == null && allNull)
                      ColumnRange("", "", nulls, hasValues = false)
                    else fail())
                  }
                  stats = b.result()
                case _ => p.nextToken(); p.skipChildren()
              }
            }
            if (path == null || !seqSeen) fail()
            entries += ManifestEntry(path, rows, seq, stats)
          }
        } else { p.nextToken(); p.skipChildren() }
      }
      if (entries == null) fail()
      entries.toSeq
    } catch {
      case _: com.fasterxml.jackson.core.JacksonException => fail()
    } finally p.close()
  }

  // ---- read ----------------------------------------------------------------

  /** Parse one manifest (cache-through). `mdDir` is the OWNING table's
    * metadata dir — branch version files resolve against it too. The
    * ref's recorded entry count gates the parse: a truncated or
    * corrupted chunk fails loudly instead of silently dropping files
    * from the table. */
  def read(mdDir: Path, ref: ManifestRef): Seq[ManifestEntry] = {
    val file = mdDir.resolve(ref.path)
    val key = file.toAbsolutePath.normalize.toString
    cacheGet(key).map { hit =>
      // the integrity gate must hold on cache HITS too: the committer
      // seeds the cache, so a payload whose recorded count disagrees
      // with the chunk would otherwise pass on a warm driver and only
      // crash after a restart — corruption surfacing far from its cause
      if (hit.size != ref.count) throw new IllegalStateException(
        s"corrupt manifest $file: holds ${hit.size} entries, " +
          s"the committed ref recorded ${ref.count}")
      hit
    }.getOrElse {
      val text =
        try Files.readString(file)
        catch {
          case e: java.nio.file.NoSuchFileException =>
            // self-heal a crashed two-phase reap: the orphan reaper
            // renames a candidate to `.<name>.reap` before deciding; a
            // crash in that window leaves a referenced chunk parked
            // under the trash name — restore it and retry
            val trash = file.resolveSibling("." + file.getFileName.toString + ".reap")
            if (Files.exists(trash)) {
              try Files.move(trash, file)
              catch { case _: Exception => () } // the reaper restored it first
              Files.readString(file)
            } else throw e
        }
      bytesRead.addAndGet(text.length.toLong)
      manifestsParsed.incrementAndGet()
      val entries = parseChunk(text, file)
      if (entries.size != ref.count) throw new IllegalStateException(
        s"corrupt manifest $file: holds ${entries.size} entries, " +
          s"the committed ref recorded ${ref.count}")
      cachePut(key, entries)
      entries
    }
  }

  /** Daemon pool for concurrent chunk parses. Chunk JSON parse is
    * driver CPU (~180 ms per 25k-entry chunk, BENCH_META): a cold
    * multi-chunk resolve done serially charges the whole table's parse
    * to one core — ~1 s at 200k files, and it is PLANNING latency, paid
    * before any executor works. Parses are independent (immutable
    * files, synchronized cache, atomic counters), so they fan out. */
  private lazy val parsePool = java.util.concurrent.Executors.newFixedThreadPool(
    math.min(8, Runtime.getRuntime.availableProcessors.max(1)),
    (r: Runnable) => {
      val t = new Thread(r, "graft-manifest-parse")
      t.setDaemon(true)
      t
    })

  /** Resolve a manifest list to its entries, in list order. A failed
    * chunk still fails the WHOLE resolve loudly (first exception in
    * list order), exactly as the serial path did. */
  def resolveAll(mdDir: Path, refs: Seq[ManifestRef]): Seq[ManifestEntry] =
    if (refs.sizeIs <= 1) refs.flatMap(read(mdDir, _))
    else {
      val futures = refs.map(r =>
        parsePool.submit(new java.util.concurrent.Callable[Seq[ManifestEntry]] {
          override def call(): Seq[ManifestEntry] = read(mdDir, r)
        }))
      futures.flatMap { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    }

  // ---- write ---------------------------------------------------------------

  /** Fold a chunk's per-file ranges into the chunk-level summary for
    * `cols` (see [[ManifestRef.summary]] for the soundness contract).
    * A column folds only when every entry records it and the type has
    * an ordering; otherwise it is omitted and the chunk never skips on
    * that column. */
  def summarize(
      entries: Seq[ManifestEntry],
      cols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Map[String, ColumnRange] =
    cols.flatMap { c =>
      val cmp = schema.fields.find(_.name == c)
        .flatMap(f => FileSkipping.comparator(f.dataType))
      val ranges = entries.map(_.stats.get(c))
      if (cmp.isEmpty || entries.isEmpty || ranges.exists(_.isEmpty)) None
      else {
        val rs = ranges.flatten
        val valued = rs.filter(_.hasValues)
        val nulls =
          if (rs.forall(_.nulls.isDefined)) Some(rs.flatMap(_.nulls).sum) else None
        val merged =
          if (valued.isEmpty) ColumnRange("", "", nulls, hasValues = false)
          else ColumnRange(
            valued.map(_.min).min(Ordering.fromLessThan[String](cmp.get(_, _) < 0)),
            valued.map(_.max).max(Ordering.fromLessThan[String](cmp.get(_, _) < 0)),
            nulls)
        Some(c -> merged)
      }
    }.toMap

  /** Write `entries` as one or more immutable manifest chunks under
    * `mdDir`, named for `version`. Returns the refs (and implicitly
    * the created files — callers clean them up if their version
    * publish loses its race). `summaryCols` + `schema` drive the
    * per-chunk summaries ([[summarize]]); pass empty for none. */
  def write(
      mdDir: Path,
      version: Int,
      entries: Seq[ManifestEntry],
      summaryCols: Seq[String] = Nil,
      schema: org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType()): Seq[ManifestRef] =
    entries.grouped(ChunkSize).map { chunk =>
      val json = JObject("entries" -> JArray(chunk.map(entryJson).toList))
      val text = JsonMethods.compact(JsonMethods.render(json))
      // full 122-bit UUID + a create-exclusive publish: racing
      // committers of the same version that drew the same name would
      // otherwise silently replace each other's chunk with ATOMIC_MOVE
      // (rename(2) replaces), and the loser's conflict cleanup would
      // then delete the winner's referenced chunk
      var name: String = null
      var placed = false
      var attempts = 0
      while (!placed) {
        name = s"m-$version-${UUID.randomUUID()}.json"
        val target = mdDir.resolve(name)
        val tmp = Files.createTempFile(mdDir, s".m$version-", ".tmp")
        Files.writeString(tmp, text)
        try { TableMetadata.claimSlot(target, tmp); placed = true }
        catch {
          case e @ (_: java.nio.file.FileAlreadyExistsException
              | _: java.nio.file.FileSystemException) if Files.exists(target) =>
            attempts += 1
            if (attempts > 3) throw new IllegalStateException(
              s"manifest name collision persisted after $attempts draws: $target", e)
        } finally Files.deleteIfExists(tmp)
      }
      val ref = ManifestRef(path = name, count = chunk.size,
        summary = summarize(chunk, summaryCols, schema))
      // park the seed: [[promoteSeeds]] moves it into the shared cache
      // only after the referencing version publishes and re-verifies
      // the chunk files exist (see pendingSeeds for why not sooner)
      parkSeed(mdDir.resolve(name).toAbsolutePath.normalize.toString, chunk)
      ref
    }.toSeq

  // ---- ref json (embedded in the version payload) --------------------------

  private[catalog] def refJson(r: ManifestRef): JValue = JObject(
    List(
      "path" -> (JString(r.path): JValue),
      "count" -> (JInt(r.count): JValue)) ++
      (if (r.summary.isEmpty) Nil
       else List("summary" -> (JObject(r.summary.toList.sortBy(_._1).map {
         case (c, rg) => c -> rangeJson(rg)
       }): JValue))))

  private[catalog] def parseRef(v: JValue): ManifestRef = {
    val o = v.asInstanceOf[JObject].obj.toMap
    def str(x: JValue): String = x match { case JString(s) => s; case o2 => o2.values.toString }
    def int(x: JValue): Int = x match {
      case JInt(i) => i.toInt; case JLong(l) => l.toInt; case o2 => o2.values.toString.toInt
    }
    ManifestRef(
      path = str(o("path")),
      count = int(o("count")),
      summary = o.get("summary").collect { case s: JObject =>
        s.obj.map { case (c, r) => c -> parseRange(r) }.toMap
      }.getOrElse(Map.empty))
  }
}
