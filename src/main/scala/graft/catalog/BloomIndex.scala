package graft.catalog

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{col, input_file_name, xxhash64}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.sources.{And, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom-filter sidecars for point-lookup file skipping — the
  * lakehouse analogue of Iceberg's puffin stats / Delta's BLOOMFILTER
  * index. Min/max ranges (FileSkipping) prune files only when the
  * table is CLUSTERED on the predicate column; a selective equality on
  * any other column overlaps every file's range and scans the whole
  * table. A per-file bloom answers "is key k definitely absent from
  * this file?" from metadata alone, whatever the layout — at 100 TB,
  * the difference between opening every object and opening the one
  * file that can hold the key.
  *
  * Architecture:
  *  - `build` is a maintenance pass (like compaction): ONE distributed
  *    scan of the current snapshot, `groupBy(input_file_name)` with
  *    Spark's own BloomFilterAggregate over `xxhash64(col)` — partial
  *    aggregation happens file-local, only serialized filters travel.
  *  - Sidecars live under `metadata/blooms/<sha1(relpath)>-<col>.bloom`
  *    keyed by the immutable data-file path, so rewrites simply orphan
  *    old sidecars (vacuum collects them) and new files — which have no
  *    sidecar yet — are conservatively kept by every probe.
  *  - Scan-time pruning (LakehouseTable) probes EqualTo / In predicates
  *    on indexed columns; a file is dropped only when a sidecar EXISTS
  *    and proves every probed key absent. Missing sidecar, null value,
  *    or any other predicate shape keeps the file — skipping is an
  *    optimization, never a correctness decision.
  */
object BloomIndex {

  /** Table property listing the bloom-indexed columns. */
  val ColumnsProp = "graft.bloom.columns"

  /** Build-time column types (`col:type,...`): xxhash64 of the SAME
    * value differs by input type (hashInt vs hashLong), so after a
    * widening `ALTER COLUMN k TYPE BIGINT` the sidecars built over the
    * INT column would prove present keys absent. Probes compare the
    * current schema type against this record and skip the column on
    * mismatch — conservative, never wrong. */
  val TypesProp = "graft.bloom.types"

  /** Types whose equality semantics match their xxhash64 bit pattern.
    * Float/double are excluded on purpose: -0.0 == 0.0 yet their bit
    * patterns (and hashes) differ, so a bloom probe could wrongly
    * prove an equal value absent. */
  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | TimestampType | BooleanType => true
    case _ => false
  }

  private def sha1(s: String): String =
    MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  def bloomsDir(tableDir: Path): Path = tableDir.resolve("metadata").resolve("blooms")

  /** Sidecar file name for (data file relpath, column). */
  def sidecarName(file: String, column: String): String = s"${sha1(file)}-$column.bloom"

  /** Sidecar names of `file` carry this prefix (vacuum's ownership test). */
  def sidecarPrefix(file: String): String = sha1(file)

  /** Build bloom sidecars for `columns` over every file of the current
    * snapshot, then record the indexed columns in the table properties
    * (a metadata commit, so DESCRIBE shows the index and scans know
    * which columns are probe-able). Returns sidecars written.
    *
    * `expectedPerFile` sizes each filter (~0.9 bytes/key at the default
    * 3% fpp); oversizing is cheap, undersizing raises false-positive
    * keeps (never wrong results). */
  def build(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      columns: Seq[String],
      expectedPerFile: Long = 1000000L): Int = {
    require(columns.nonEmpty, "bloom index needs at least one column")
    val lt = Maintenance.lakehouseTable(spark, catalog, namespace, table)
    val dir = lt.tableDir
    val current = TableMetadata.load(dir)
    columns.foreach { c =>
      val f = current.schema.fields.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(s"no such column: $c"))
      require(supported(f.dataType),
        s"bloom index unsupported for ${f.dataType.simpleString} column $c " +
          "(float/double equality disagrees with hashing; nested types have no point lookups)")
    }
    val written = writeSidecars(spark, dir, current.schema, current.files, columns, expectedPerFile)

    // publish the indexed-column list (optimistic commit, same as DDL),
    // UNIONED with previously indexed columns — re-indexing column b
    // must not silently deregister column a's still-valid sidecars
    val cur = TableMetadata.load(dir)
    val prevCols = cur.properties.get(ColumnsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val allCols = (prevCols ++ columns).distinct
    val prevTypes = cur.properties.get(TypesProp)
      .map(_.split(',').map(_.trim).filter(_.contains(":"))
        .map { s => val Array(c, t) = s.split(":", 2); c -> t }.toMap)
      .getOrElse(Map.empty)
    val allTypes = prevTypes ++ columns.map(c =>
      c -> current.schema(c).dataType.simpleString)
    SnapshotChange.commit(dir, cur, SnapshotChange.Change("bloom-index", properties = _ +
        (ColumnsProp -> allCols.mkString(",")) +
        (TypesProp -> allCols.map(c => s"$c:${allTypes.getOrElse(c, "?")}").mkString(","))),
      SnapshotChange.Rebase)
    written
  }

  /** The distributed sidecar pass: one scan of `files`, blooms built
    * file-local via partial aggregation, one small row per file back
    * to the driver. */
  private def writeSidecars(
      spark: SparkSession,
      dir: Path,
      schema: StructType,
      files: Seq[String],
      columns: Seq[String],
      expectedPerFile: Long): Int = {
    if (files.isEmpty || columns.isEmpty) return 0
    var written = 0
    val df = spark.read.schema(schema)
      .parquet(files.map(f => dir.resolve(f).toString): _*)
      .withColumn("__graft_file", input_file_name())
    // Spark's aggregate built directly: the catalog writes no function
    // into the caller's registry and needs no session extension
    val aggs = columns.map(c => ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col(c))), expectedPerFile)
      .toAggregateExpression()).as(c))
    val rows = df.groupBy(col("__graft_file")).agg(aggs.head, aggs.tail: _*).collect()
    val relByName = files.map(f => f.substring(f.lastIndexOf('/') + 1) -> f).toMap
    Files.createDirectories(bloomsDir(dir))
    rows.foreach { r =>
      val base = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
      relByName.get(base).foreach { rel =>
        columns.zipWithIndex.foreach { case (c, i) =>
          Option(r.getAs[Array[Byte]](i + 1)).foreach { bytes =>
            Files.write(bloomsDir(dir).resolve(sidecarName(rel, c)), bytes)
            written += 1
          }
        }
      }
    }
    sidecarCache.synchronized(sidecarCache.clear())
    written
  }

  /** Write-path index maintenance: sidecars for files a commit just
    * wrote, on a table whose index registration already exists — the
    * index stays fresh under appends and rewrites instead of decaying
    * to conservative keeps. Only columns whose CURRENT type matches
    * the recorded build-time type are indexed (others need an explicit
    * re-`build`); no metadata commit, the registration is unchanged.
    * Cost: one extra pass over exactly the new files. */
  private[catalog] def buildForFiles(
      spark: SparkSession,
      dir: Path,
      schema: StructType,
      properties: Map[String, String],
      files: Seq[String],
      expectedPerFile: Long = 1000000L): Int = {
    val types = properties.get(TypesProp)
      .map(_.split(',').map(_.trim).filter(_.contains(":"))
        .map { s => val Array(c, t) = s.split(":", 2); c -> t }.toMap)
      .getOrElse(Map.empty[String, String])
    val cols = properties.get(ColumnsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      .filter(c => schema.fields.find(_.name == c)
        .exists(f => types.get(c).contains(f.dataType.simpleString)))
    writeSidecars(spark, dir, schema, files, cols, expectedPerFile)
  }

  /** Driver-side xxhash64 of a filter literal, matching the build
    * side's `xxhash64(col)` exactly (same expression, same default
    * seed, evaluated over the column's catalyst representation). */
  private def hashOf(dt: DataType, v: Any): Option[Long] =
    if (v == null) None
    else scala.util.Try(
      XxHash64(Seq(Literal.create(v, dt)), 42L).eval(null).asInstanceOf[Long]).toOption

  /** Indexed columns whose CURRENT schema type matches the build-time
    * record. A column whose type changed since the index was built
    * hashes differently now — probing would wrongly prove present keys
    * absent, so it simply stops being probe-able until re-indexed. */
  private[catalog] def probeableColumns(
      properties: Map[String, String], schema: StructType): Seq[String] = {
    val builtTypes = properties.get(TypesProp)
      .map(_.split(',').map(_.trim).filter(_.contains(":"))
        .map { s => val Array(c, t) = s.split(":", 2); c -> t }.toMap)
      .getOrElse(Map.empty[String, String])
    properties.get(ColumnsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
      .filter(c => schema.fields.find(_.name == c)
        .exists(f => builtTypes.get(c).contains(f.dataType.simpleString)))
  }

  /** Files whose sidecars prove every equality probe absent are
    * dropped; everything else is kept. Call AFTER min/max pruning. */
  def prune(
      tableDir: Path,
      properties: Map[String, String],
      schema: StructType,
      files: Seq[String],
      filters: Seq[Filter]): Seq[String] = {
    val indexed = probeableColumns(properties, schema).toSet
    if (indexed.isEmpty || files.isEmpty || filters.isEmpty) return files
    val bdir = bloomsDir(tableDir)
    if (!Files.isDirectory(bdir)) return files

    def typeOf(c: String): Option[DataType] = schema.fields.find(_.name == c).map(_.dataType)
    // (column, any-of hash set) conjuncts from the implicitly-ANDed
    // pushed filters; In keeps the file when ANY member may be present
    def probes(f: Filter): Seq[(String, Seq[Long])] = f match {
      case EqualTo(c, v) if indexed(c) =>
        typeOf(c).flatMap(dt => hashOf(dt, v)).map(h => c -> Seq(h)).toSeq
      case In(c, vs) if indexed(c) =>
        typeOf(c).flatMap { dt =>
          val hs = vs.toSeq.map(hashOf(dt, _))
          Option.when(hs.nonEmpty && hs.forall(_.isDefined))(c -> hs.map(_.get))
        }.toSeq
      case And(l, r) => probes(l) ++ probes(r)
      case _ => Nil
    }
    val conjuncts = filters.flatMap(probes)
    if (conjuncts.isEmpty) return files

    def sidecar(file: String, c: String): Option[BloomFilter] =
      cachedSidecar(bdir.resolve(sidecarName(file, c)))
    files.filter { f =>
      conjuncts.forall { case (c, hs) =>
        sidecar(f, c) match {
          case None => true // no sidecar → can't prove absence
          case Some(bf) => hs.exists(bf.mightContainLong)
        }
      }
    }
  }

  /** Cross-query driver cache of deserialized sidecars. Sidecar files
    * are IMMUTABLE (keyed by data-file path; rewrites create new
    * paths), so a path-keyed entry never goes stale — without this,
    * every planned point lookup re-reads one sidecar per (survivor
    * file, probed column) from disk. Bounded LRU; misses (absent
    * sidecars) are cached too, they are the common case on unindexed
    * files. */
  private val MaxCachedSidecars = 4096
  private val sidecarCache =
    new java.util.LinkedHashMap[Path, Option[BloomFilter]](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Path, Option[BloomFilter]]): Boolean =
        size() > MaxCachedSidecars
    }

  private def cachedSidecar(p: Path): Option[BloomFilter] = sidecarCache.synchronized {
    val hit = sidecarCache.get(p)
    if (hit != null) hit
    else {
      val loaded =
        if (!Files.isRegularFile(p)) None
        else scala.util.Try(
          BloomFilter.readFrom(new ByteArrayInputStream(Files.readAllBytes(p)))).toOption
      sidecarCache.put(p, loaded)
      loaded
    }
  }

  /** Delete sidecars owned by no live data file (vacuum helper). */
  def vacuumSidecars(tableDir: Path, liveFiles: Set[String]): Int = {
    val bdir = bloomsDir(tableDir)
    if (!Files.isDirectory(bdir)) return 0
    val keep = liveFiles.map(sidecarPrefix)
    val doomed = Fs.children(bdir).iterator
      .filter(p => !keep.exists(p.getFileName.toString.startsWith))
      .toList
    doomed.foreach(Files.deleteIfExists(_))
    doomed.size
  }
}
