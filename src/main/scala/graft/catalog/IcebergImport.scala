package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Import an Apache Iceberg v2 snapshot as a lakehouse table —
  * `CALL system.import_iceberg(metadata_json_path, ns, tbl)`. The
  * reciprocal of [[IcebergExport]]: together they make the multi-engine
  * story bidirectional (an Iceberg table migrates INTO this engine the
  * way the reference's tables are readable FROM BigQuery), and the
  * round-trip spec uses this importer as an INDEPENDENT consumer of the
  * exporter's artifacts — it reads only metadata.json + Avro manifests
  * + parquet, never graft metadata.
  *
  * What imports: the current snapshot's schema (Iceberg type JSON →
  * Spark types), data files (hard-linked like `add_files`, one footer
  * read each for rows/stats/validation), and BOTH v2 delete shapes —
  * position delete files are remapped from source URIs to the imported
  * relative paths and committed as positional entries; equality delete
  * files resolve their `equality_ids` through the Iceberg schema and
  * commit as equality entries.
  *
  * Sequence mapping keeps delete semantics EXACT — and compatible with
  * graft's own DML, which assigns entry seq = commit version. Iceberg
  * applies position deletes to data sequence ≤ delete sequence and
  * equality deletes strictly less; our reader applies entries iff
  * `seq > fileSeq(f)`. Source sequences are arbitrary int64 and CANNOT
  * be kept verbatim: an imported fileSeq above the table's version
  * would shadow the next DELETE/MERGE (its entry seq, the new commit
  * version, would not exceed the imported fileSeq — rows resurrect),
  * and an imported delete seq above the version would wrongly apply to
  * rows appended later. So sequences are RANK-REMAPPED: the live delete
  * entries define boundaries (`seq` for an equality delete, `seq + 1`
  * for a position delete, since `sf ≤ sd ⇔ sf < sd+1`); each data file
  * imports at `1 + |{boundaries ≤ its seq}|` and each boundary at
  * `rank + 1`. Both `<` and `=` against every boundary are preserved,
  * so applicability is bit-identical, all values land in `[1, m+1]`
  * for `m` distinct boundaries, and the import commits at
  * `max(current+1, m+1)` (no-op pad commits keep the version log
  * contiguous) so every FUTURE commit's seq strictly exceeds every
  * imported one.
  *
  * Also imported: the default partition spec (identity fields →
  * partition columns; day/hour/month/year/truncate → our hidden
  * transforms — same spec transforms, so partition-filtered scans
  * file-skip like the source; bucket[n] maps to the iceberg-hash
  * bucket layout with per-file bucket ids from the manifests'
  * partition tuples, so storage-partitioned joins and bucket pruning
  * survive the round trip),
  * the default sort order's identity-ascending prefix (→ the write
  * sort order), and — on a default (non-pinned) import — the source's
  * TAGGED history: every tag ref's snapshot commits as its own graft
  * version carrying the same tag name, so `VERSION AS OF '<tag>'`
  * works on the imported table exactly as it did externally. A
  * pinned-`ref` import stays one snapshot (the reproducibility pin).
  */
object IcebergImport {

  // ---- schema translation (reverse of IcebergExport.icebergType) -----------

  private[catalog] def sparkType(j: JValue): DataType = j match {
    case JString(s) => s match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "string" => StringType
      case "binary" => BinaryType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case "uuid" => StringType
      case dec if dec.startsWith("decimal") =>
        val m = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
        dec match {
          case m(p, sc) => DecimalType(p.toInt, sc.toInt)
          case _ => throw new IllegalArgumentException(s"bad decimal type: $dec")
        }
      case other => throw new IllegalArgumentException(
        s"cannot import Iceberg type '$other' (no Spark equivalent here)")
    }
    case o: JObject =>
      val m = o.obj.toMap
      m.get("type").map { case JString(t) => t; case v => v.values.toString } match {
        case Some("struct") => StructType(
          m("fields").asInstanceOf[JArray].arr.map { f =>
            val fo = f.asInstanceOf[JObject].obj.toMap
            StructField(
              fo("name").asInstanceOf[JString].s,
              sparkType(fo("type")),
              nullable = !fo.get("required").exists {
                case JBool(b) => b
                case v => v.values.toString.toBoolean
              })
          })
        case Some("list") => ArrayType(sparkType(m("element")),
          containsNull = !m.get("element-required").exists {
            case JBool(b) => b; case v => v.values.toString.toBoolean })
        case Some("map") => MapType(sparkType(m("key")), sparkType(m("value")),
          valueContainsNull = !m.get("value-required").exists {
            case JBool(b) => b; case v => v.values.toString.toBoolean })
        case other => throw new IllegalArgumentException(s"bad Iceberg type: $other")
      }
    case other => throw new IllegalArgumentException(s"bad Iceberg type: $other")
  }

  // ---- import ---------------------------------------------------------------

  /** `ref`: optionally import the snapshot a branch/tag in the
    * document's `refs` map points at, instead of the current one —
    * time-travel import (e.g. pinning the tagged snapshot a model
    * trained on as its own table). */
  def importTable(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String,
      metadataJsonPath: String,
      ref: Option[String] = None,
      verifyBuckets: Boolean = false): Long = {
    val metaPath = Paths.get(metadataJsonPath)
    val m = JsonMethods.parse(Files.readString(metaPath)).asInstanceOf[JObject].obj.toMap
    def jlong(v: JValue): Long = v match {
      case JInt(i) => i.toLong; case JLong(l) => l; case o => o.values.toString.toLong
    }
    require(jlong(m("format-version")) == 2L,
      s"import_iceberg reads format-version 2, got ${m("format-version").values}")

    // current schema (by current-schema-id) and its field-id → name map
    val schemaId = jlong(m("current-schema-id"))
    val schemaJ = m("schemas").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JObject].obj.toMap)
      .find(s => jlong(s("schema-id")) == schemaId)
      .getOrElse(throw new IllegalArgumentException(s"schema $schemaId not in schemas"))
    val fields = schemaJ("fields").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JObject].obj.toMap)
    val schema = StructType(fields.map { f =>
      StructField(
        f("name").asInstanceOf[JString].s,
        sparkType(f("type")),
        nullable = !f.get("required").exists {
          case JBool(b) => b; case v => v.values.toString.toBoolean })
    })
    val nameById: Map[Int, String] = fields.map { f =>
      jlong(f("id")).toInt -> f("name").asInstanceOf[JString].s
    }.toMap

    // partition spec → the imported table's layout contract. Identity
    // fields become partition columns; day/hour/month/year/truncate
    // become our hidden transforms (they are the same spec transforms),
    // so a partition-filtered scan on the imported table file-skips
    // like the source did. bucket[n] maps in as the iceberg-hash
    // layout when expressible (see bucketSpecIn below); unsupported
    // shapes are skipped (the import stays correct; only pruning is
    // lost). Unknown transforms are skipped likewise. Layout contracts
    // here are write-side clustering + stats-pruning hints — reads stay
    // correct on footer stats even for files that predate the contract.
    val TruncRe = """truncate\[(\d+)\]""".r
    val BucketRe = """bucket\[(\d+)\]""".r
    val defaultSpecId = m.get("default-spec-id").map(jlong).getOrElse(0L)
    val specFields: Seq[(String, Option[String])] =
      m.get("partition-specs").collect { case JArray(specs) =>
        specs.map(_.asInstanceOf[JObject].obj.toMap)
          .find(s => jlong(s("spec-id")) == defaultSpecId)
          .map(_.apply("fields").asInstanceOf[JArray].arr.map { f =>
            val fo = f.asInstanceOf[JObject].obj.toMap
            (fo("transform").asInstanceOf[JString].s,
              nameById.get(jlong(fo("source-id")).toInt))
          }).getOrElse(Nil)
      }.getOrElse(Nil)
    import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
    // hidden transforms map over only when OUR transform supports the
    // source column's type (HiddenTransform.expr: temporal → date/
    // timestamp; truncate → string/integral). Iceberg also allows e.g.
    // truncate on decimal/binary — those SKIP like bucket[n] (the import
    // stays lossy-but-successful; forwarding them would make createTable
    // throw and fail the whole import of a perfectly valid table).
    val typeByName: Map[String, DataType] =
      schema.fields.map(f => f.name -> f.dataType).toMap
    def temporalOk(c: String): Boolean = typeByName.get(c).exists {
      case DateType | TimestampType | TimestampNTZType => true; case _ => false
    }
    def truncateOk(c: String): Boolean = typeByName.get(c).exists {
      case StringType | IntegerType | LongType | ShortType => true; case _ => false
    }
    // bucket[n] maps IN when the layout is expressible here: Iceberg
    // buckets with the published spec hash (Appendix B encodings),
    // which is exactly graft's `graft.bucket.hash=iceberg` layout — so
    // a bucketed source imports with its layout contract INTACT
    // (storage-partitioned joins and point-lookup bucket pruning
    // survive the round trip; per-file bucket ids come from the
    // manifests' partition tuples below). Conditions: exactly one
    // bucket field in the default spec (graft supports one per table)
    // over a column type the published hash defines; otherwise the
    // field skips as before (lossy-but-successful).
    val bucketSpecIn: Option[(String, Int)] =
      (specFields.collect { case (BucketRe(n), Some(c)) => (c, n.toInt) } match {
        case Seq(one) => Some(one)
        case _ => None
      }).filter { case (c, _) => typeByName.get(c).exists(IcebergHash.supports) }
    val transforms: Seq[Transform] = specFields.flatMap {
      case (_, None) => None // source column not in the current schema
      case ("identity", Some(c)) => Some(Expressions.identity(c))
      case (t @ ("day" | "days" | "hour" | "hours" | "month" | "months" |
                 "year" | "years"), Some(c)) if temporalOk(c) =>
        val func = if (t.endsWith("s")) t else t + "s"
        Some(HiddenPartitioning.HiddenTransform(func, None, c).toV2)
      case (TruncRe(w), Some(c)) if truncateOk(c) =>
        Some(HiddenPartitioning.HiddenTransform("truncate", Some(w.toInt), c).toV2)
      case (BucketRe(n), Some(c)) if bucketSpecIn.contains((c, n.toInt)) =>
        Some(Expressions.bucket(n.toInt, c))
      case (BucketRe(_), _) => None
      case _ => None
    }
    // default sort order (identity ascending prefix) → write sort order
    val sortCols: Seq[String] = (for {
      orderId <- m.get("default-sort-order-id").map(jlong)
      orders <- m.get("sort-orders").collect { case JArray(a) => a }
      order <- orders.map(_.asInstanceOf[JObject].obj.toMap)
        .find(o => jlong(o("order-id")) == orderId)
    } yield order("fields").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JObject].obj.toMap)
      .takeWhile { f =>
        f("transform") == JString("identity") &&
          f.get("direction").forall(_ == JString("asc")) &&
          nameById.contains(jlong(f("source-id")).toInt)
      }
      .map(f => nameById(jlong(f("source-id")).toInt))).getOrElse(Nil)

    // snapshot selection. A pinned-`ref` import stays exactly one
    // snapshot (the reproducibility pin: "the snapshot the model
    // trained on", nothing else). The DEFAULT import brings the current
    // snapshot PLUS every TAG ref's snapshot as graft HISTORY: each
    // tagged ancestor commits as its own version, tagged with the same
    // name, so external time travel survives the round trip in both
    // directions (`VERSION AS OF '<tag>'` works on the imported table).
    // Branch refs are skipped — their heads are unpublished lines of
    // history, not ancestors of main (WAP re-stages them, not import).
    val refsJson = m.getOrElse("refs", JObject(Nil)).asInstanceOf[JObject].obj.toMap
    def refFields(v: JValue) = v.asInstanceOf[JObject].obj.toMap
    val mainSnapId = ref match {
      case None => jlong(m("current-snapshot-id"))
      case Some(r) =>
        val entry = refsJson.getOrElse(r, throw new IllegalArgumentException(
          s"import_iceberg: no ref '$r' in the metadata document " +
            s"(refs: ${refsJson.keys.toSeq.sorted.mkString(", ")})"))
        jlong(refFields(entry)("snapshot-id"))
    }
    val snapsById: Map[Long, Map[String, JValue]] =
      m("snapshots").asInstanceOf[JArray].arr
        .map(_.asInstanceOf[JObject].obj.toMap)
        .map(s => jlong(s("snapshot-id")) -> s).toMap
    require(snapsById.contains(mainSnapId), s"snapshot $mainSnapId not listed")
    // graft tag names are [A-Za-z0-9_-] with a non-digit; a source ref
    // the name rules reject is skipped (lossy-but-successful, like an
    // unsupported partition transform), never a failed import
    def tagNameOk(n: String): Boolean =
      n.matches("[A-Za-z0-9_-]+") && !n.forall(_.isDigit)
    val namesBySnap: Map[Long, Seq[String]] =
      if (ref.isDefined) Map.empty
      else refsJson.toSeq
        .filter { case (n, v) =>
          n != "main" && tagNameOk(n) &&
            refFields(v).get("type").forall(_ == JString("tag")) &&
            snapsById.contains(jlong(refFields(v)("snapshot-id")))
        }
        .groupBy { case (_, v) => jlong(refFields(v)("snapshot-id")) }
        .map { case (id, nvs) => id -> nvs.map(_._1).sorted }
    def snapOrder(id: Long): (Long, Long) = {
      val s = snapsById(id)
      (s.get("sequence-number").map(jlong).getOrElse(0L),
        s.get("timestamp-ms").map(jlong).getOrElse(0L))
    }
    val histIds: Seq[Long] =
      ((namesBySnap.keySet - mainSnapId).toSeq.sortBy(snapOrder) :+ mainSnapId)

    final case class Ref(path: Path, raw: String, content: Int, seq: Long,
        rows: Long, eqIds: Seq[Int], specFields: Int,
        bucket: Option[Int] = None)
    def walkSnapshot(snapId: Long): Seq[Ref] = {
      val snap = snapsById(snapId)
      val listPath = asLocal(snap("manifest-list").asInstanceOf[JString].s)
      val (manifests, _) = IcebergExport.readAvro(listPath)
      manifests.flatMap { mf =>
        val (entries, mMeta) = IcebergExport.readAvro(
          asLocal(mf.get("manifest_path").toString))
        // how many partition fields the manifest's spec carries — a
        // PARTITION-SCOPED equality delete cannot import as our
        // table-global entries (it would over-delete other partitions)
        val manSpec: Seq[Map[String, JValue]] = mMeta.get("partition-spec")
          .map(sp => JsonMethods.parse(sp).asInstanceOf[JArray].arr
            .map(_.asInstanceOf[JObject].obj.toMap))
          .getOrElse(Nil)
        val specFieldCount = manSpec.size
        // THIS manifest's partition-tuple field for the table's mapped
        // bucket layout, if its spec carries one (same column, same n) —
        // files under a different spec import non-bucket-addressable
        val bucketField: Option[String] = bucketSpecIn.flatMap { case (c, n) =>
          manSpec.find { f =>
            f.get("transform").contains(JString(s"bucket[$n]")) &&
              f.get("source-id").map(jlong(_).toInt)
                .flatMap(nameById.get).contains(c)
          }.flatMap(_.get("name")).collect { case JString(nm) => nm }
        }
        entries.flatMap { e =>
          // live entries only: EXISTING(0)/ADDED(1); DELETED(2) skipped
          if (e.get("status").asInstanceOf[Int] == 2) None
          else {
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val content = df.get("content").asInstanceOf[Int]
            // data files carry the manifest tuple's claimed bucket id
            // (the same claim external engines prune on); out-of-range
            // claims are dropped rather than trusted
            val bucketId: Option[Int] =
              if (content != 0) None
              else bucketField.flatMap { nm =>
                Option(df.get("partition")).collect { case p: GenericRecord =>
                  Option(p.get(nm)).collect { case b: Integer => b.intValue() }
                }.flatten
              }.filter(b => bucketSpecIn.exists(s => b >= 0 && b < s._2))
            Some(Ref(
              asLocal(df.get("file_path").toString),
              df.get("file_path").toString,
              content,
              // spec inheritance: a null entry sequence takes the
              // MANIFEST's sequence number (set when the entry was added)
              Option(e.get("sequence_number")).map(_.asInstanceOf[Long])
                .getOrElse(mf.get("sequence_number").asInstanceOf[Long]),
              df.get("record_count").asInstanceOf[Long],
              Option(df.get("equality_ids"))
                .map(_.asInstanceOf[java.util.List[Integer]].asScala.map(_.toInt).toSeq)
                .getOrElse(Nil),
              specFieldCount,
              bucketId))
          }
        }
      }
    }
    // shared manifest Avros across snapshots read once would need a
    // cache; history imports are one-shot and ref counts are small, so
    // a per-snapshot walk stays metadata-proportional
    val entriesBySnap: Map[Long, Seq[Ref]] =
      histIds.map(id => id -> walkSnapshot(id)).toMap
    // the partition-scoped equality-delete guard runs over EVERY
    // occurrence BEFORE dedup: the same delete file listed under a
    // partitioned spec in one manifest and an unpartitioned one in
    // another must still be refused (a deduped arbitrary head could
    // hide the scoped occurrence and import a table-global over-delete)
    histIds.flatMap(entriesBySnap)
      .find(r => r.content == 2 && r.specFields > 0).foreach { r =>
        throw new IllegalArgumentException(
          s"import_iceberg: equality delete ${r.raw} is scoped to a PARTITIONED " +
            "spec — importing it as a table-global entry would delete matching " +
            "rows in other partitions. Compact the source table (rewrite its " +
            "deletes away) and re-export, then import.")
      }
    // the UNION across imported snapshots: link/rewrite each unique
    // artifact once; per-snapshot versions reference by relative path
    // a file listed by several snapshots' manifests keeps its bucket
    // claim if ANY occurrence carries one (bucket-addressability is a
    // physical property of the file, not of the snapshot listing it)
    val allRefs: Seq[Ref] = histIds.flatMap(entriesBySnap)
      .groupBy(r => (r.raw, r.content, r.seq)).values
      .map(g => g.find(_.bucket.isDefined).getOrElse(g.head)).toSeq
    val dataRefs = allRefs.filter(_.content == 0)
    val posRefs = allRefs.filter(_.content == 1)
    val eqRefs = allRefs.filter(_.content == 2)
    // sequence rank-remap (see scaladoc): boundaries are the delete
    // entries' comparison thresholds; everything imports in [1, m+1]
    posRefs.find(_.seq == Long.MaxValue).foreach { r =>
      throw new IllegalArgumentException(
        s"import_iceberg: position delete ${r.raw} has sequence Long.MaxValue")
    }
    val boundaries: Seq[Long] =
      (posRefs.map(_.seq + 1L) ++ eqRefs.map(_.seq)).distinct.sorted
    val boundaryRank: Map[Long, Int] =
      boundaries.zipWithIndex.map { case (b, i) => b -> (i + 2) }.toMap
    def fileRank(sf: Long): Int = 1 + boundaries.count(_ <= sf)
    // Foreign bucket claims are TRUSTED by default — the same trust
    // every engine places in manifests, and what makes a 100 TB import
    // metadata-proportional. `verify_buckets => true` re-hashes EVERY
    // row of every bucket-claimed file with the published hash. It
    // runs BEFORE the table is created or anything links: a failed
    // verification used to leave a registered never-committed table
    // with orphaned link dirs the user had to DROP by hand — the
    // claims are fully known from the manifests, so the SOURCE files
    // verify directly and a refusal leaves zero state behind. One
    // distributed pass over only the bucketed files.
    bucketSpecIn.foreach { case (bcol, n) =>
      val claimed = dataRefs.filter(_.bucket.isDefined)
      if (verifyBuckets && claimed.nonEmpty) {
        // input_file_name() yields the scan's URL-ENCODED path; keyed
        // by FULL path (both raw and encoded forms) — source basenames
        // are not unique across directories, and an honest file name
        // with spaces/%/non-ASCII must not be refused on a lookup miss
        val claimByPath: Map[String, Int] = claimed.flatMap { r =>
          val hp = new org.apache.hadoop.fs.Path(r.path.toUri)
          Seq(
            hp.toString -> r.bucket.get,
            org.apache.spark.paths.SparkPath.fromPath(hp).urlEncoded ->
              r.bucket.get)
        }.toMap
        import org.apache.spark.sql.functions.{col, element_at => elemAt,
          input_file_name, typedlit => tlit}
        val computed = org.apache.spark.sql.graftbridge.ColumnBridge.column(
          IcebergBucketId(org.apache.spark.sql.graftbridge.ColumnBridge
            .expression(col(bcol)), n))
        // the session may have read (and file-status-cached) these very
        // source paths earlier; a source mutated since would fail the
        // scan on a stale size instead of failing the CLAIM check
        claimed.flatMap { r =>
          val hp = new org.apache.hadoop.fs.Path(r.path.toUri)
          Seq(hp.toString, hp.getParent.toString)
        }.distinct.foreach(p => try spark.catalog.refreshByPath(p)
          catch { case scala.util.control.NonFatal(_) => () })
        val bad = spark.read.schema(schema)
          .parquet(claimed.map(_.path.toString): _*)
          .select(
            col(bcol).isNull.as("__null"),
            computed.as("__b"),
            elemAt(tlit(claimByPath), input_file_name()).as("__c"))
          .filter(col("__null") || col("__c").isNull || col("__b") =!= col("__c"))
          .count()
        require(bad == 0L,
          s"import_iceberg: $bad row(s) violate the manifests' bucket[$n] " +
            s"claims on '$bcol' (wrong hash placement, or a null key in a " +
            "bucket-claimed file) — refusing to import a layout external " +
            "engines would mis-prune. Re-export from the source engine or " +
            "import without the bucket spec by compacting first. Nothing " +
            "was created.")
      } else if (claimed.nonEmpty) {
        // warn, not info: if imported results ever look wrong, THIS is
        // the discoverable breadcrumb that the layout was taken on trust
        org.apache.log4j.LogManager.getLogger(getClass.getName).warn(
          s"import_iceberg: trusting ${claimed.size} bucket[$n] file " +
            "claims from the source manifests (mis-claims would mis-prune " +
            "point lookups and mis-place storage-partitioned joins); pass " +
            "verify_buckets => true to re-hash every row before committing")
      }
    }
    // destination table through the catalog (namespace checks, layout,
    // already-exists semantics are the catalog's own)
    val cat = spark.sessionState.catalogManager.catalog(catalog)
      .asInstanceOf[TableCatalog]
    val createProps = new java.util.HashMap[String, String]()
    if (sortCols.nonEmpty) createProps.put(WriteSortOrder.Prop, sortCols.mkString(", "))
    // the mapped bucket transform IS Iceberg's hash — declare it so
    // future appends cluster identically and the mirror re-exports
    // bucket[n] with per-file tuples
    if (bucketSpecIn.isDefined) createProps.put(Bucketing.HashProp, "iceberg")
    cat.createTable(Identifier.of(namespace.toArray, table), schema,
      transforms.toArray, createProps)
    val dir = Maintenance.lakehouseTable(spark, catalog, namespace, table).tableDir
    val current = TableMetadata.load(dir)

    // data files: link + one footer read each (rows, stats), preserving
    // the Iceberg data sequence per file
    val conf = spark.sessionState.newHadoopConf()
    val commitRel = CommitFiles.plainRel(2, "iceimport")
    Files.createDirectories(dir.resolve(commitRel))
    // bucket-addressable commit dir: a file whose manifest tuple claims
    // a bucket id under the mapped layout links as `b-…/part-<id>-…`,
    // the shape Bucketing.bucketIdOf parses — scans then report
    // KeyGroupedPartitioning, point lookups prune, DML under-rewrites
    // nothing, and the mirror re-exports the tuples. Unclaimed files
    // (older specs) stay in the plain commit dir: pruning never skips
    // them and the scan degrades to unordered partitioning if any exist.
    val bucketRel = CommitFiles.bucketRel(2, "iceimport")
    if (dataRefs.exists(_.bucket.isDefined))
      Files.createDirectories(dir.resolve(bucketRel))
    def link(src: Path, targetRel: String): Unit = {
      val target = dir.resolve(targetRel)
      try Files.createLink(target, src)
      catch {
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src, target, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
    val imported = dataRefs.sortBy(_.path.toString).zipWithIndex.map { case (r, i) =>
      val rel = r.bucket match {
        case Some(b) => f"$bucketRel/part-$b-$i%05d-${r.path.getFileName.toString}"
        case None => f"$commitRel/part-$i%05d-${r.path.getFileName.toString}"
      }
      link(r.path, rel)
      val footer = FooterStats.collectFull(conf,
        new org.apache.hadoop.fs.Path(dir.resolve(rel).toString), schema)
      (r, rel, footer)
    }
    val importedByKey: Map[(String, Long), (Ref, String, FooterStats.FileFooter)] =
      imported.map(t => (t._1.raw, t._1.seq) -> t).toMap
    // source path → imported relative path (position-delete remap).
    // The spec says the delete parquet's file_path matches the data
    // file's manifest path, but writers normalize URIs inconsistently
    // (file:/tmp vs file:///tmp vs a bare path) — so BOTH sides resolve
    // through one canonical form (URI → absolute normalized local path)
    // and a delete tuple can only miss the map when its target file is
    // genuinely absent from this snapshot.
    def canon(s: String): String =
      try asLocal(s).toAbsolutePath.normalize.toString
      catch { case _: Exception => s }
    // ALL imported copies per canonical path: a history import can hold
    // the same source path at two sequence numbers (a file deleted and
    // re-added across tagged snapshots) — a last-wins single map would
    // remap a position delete to the WRONG copy and resurrect its rows
    // in the tagged version (the delete's tuple must name the copy the
    // delete can address: the highest seq ≤ the delete's own)
    val relsByCanon: Map[String, Seq[(Long, String)]] =
      imported.groupBy(t => canon(t._1.raw))
        .view.mapValues(_.map(t => (t._1.seq, t._2)).sortBy(_._1)).toMap
    def relForDelete(canonPath: String, deleteSeq: Long): Option[String] =
      relsByCanon.get(canonPath)
        .flatMap(_.filter(_._1 <= deleteSeq).lastOption.map(_._2))
    // the remapped delete parquet is shared across every snapshot that
    // lists the delete, so the global pick (highest seq ≤ delete seq)
    // is only valid if it matches the pick RESTRICTED to each such
    // snapshot's own data files — a source path re-added at a new
    // sequence across tagged snapshots would otherwise have the delete
    // name a rel absent from the historical version and resurrect its
    // rows there. Detection data for the guard inside the rewrite loop:
    // lazy: only a position delete over a RE-ADDED path (relsByCanon
    // copies > 1) ever reads these — a plain 100k-file history import
    // must not pay O(snapshots × files) canon() calls for a guard it
    // never consults
    lazy val dataKeysBySnap: Map[Long, Set[(String, Long)]] =
      entriesBySnap.view.mapValues(_.filter(_.content == 0)
        .map(rf => (canon(rf.raw), rf.seq)).toSet).toMap
    lazy val snapsWithPosDelete: Map[(String, Long), Seq[Long]] =
      histIds.flatMap { id =>
        entriesBySnap(id).filter(_.content == 1).map(rf => (rf.raw, rf.seq) -> id)
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    // position deletes: remap file_path URIs to the imported relative
    // paths; entries targeting files absent from this snapshot drop
    // their rows (they deleted nothing visible)
    val delDir = CommitFiles.deleteRel("iceimport", 2)
    Files.createDirectories(dir.resolve(delDir))
    import org.apache.spark.sql.functions.{col, element_at, typedlit}
    val posEntriesOpt: Seq[Option[DeleteFile]] = posRefs.zipWithIndex.map { case (r, i) =>
      // the delete file's distinct targets are ≤ the snapshot's data
      // file count (metadata-proportional, like the rest of the import);
      // canonicalizing them driver-side keeps the Spark-side lookup a
      // codegen'd map literal over the VERBATIM parquet values. The
      // parquet is cached across its two actions (distinct + rewrite).
      val src = spark.read.parquet(r.path.toString).persist()
      val rel = s"$delDir/pos-$i.parquet"
      try {
        val observed = src
          .select(col("file_path")).distinct().collect().map(_.getString(0))
        val relBySrc: Map[String, String] =
          observed.flatMap(v => relForDelete(canon(v), r.seq).map(v -> _)).toMap
        // ambiguity guard (see dataKeysBySnap above): refuse rather than
        // commit a historical version whose delete names an absent rel
        observed.foreach { v =>
          val cp = canon(v)
          val copies = relsByCanon.getOrElse(cp, Nil).filter(_._1 <= r.seq)
          if (copies.size > 1) {
            val globalPick = copies.last._2
            snapsWithPosDelete.getOrElse((r.raw, r.seq), Nil).foreach { sid =>
              val present = dataKeysBySnap(sid)
              val restricted = copies.filter { case (sq, _) => present((cp, sq)) }
              if (restricted.nonEmpty && restricted.last._2 != globalPick)
                throw new IllegalArgumentException(
                  s"import_iceberg: position delete ${r.raw} targets '$v', " +
                    "which was re-added at a different sequence across the " +
                    "imported snapshots — one shared remap cannot serve every " +
                    "historical version. Compact the source table (rewrite " +
                    "its deletes away) and re-export, then import; or pin a " +
                    "single snapshot with ref => '...'.")
            }
          }
        }
        val mapped = src
          .select(
            element_at(typedlit(relBySrc), col("file_path")).as(DeleteFile.PosFileCol),
            col("pos").cast(LongType).as(DeleteFile.PosPosCol))
          .filter(col(DeleteFile.PosFileCol).isNotNull)
        CommitFiles.writeOne(mapped, dir, rel)
      } finally src.unpersist()
      val footer = FooterStats.collectFull(conf,
        new org.apache.hadoop.fs.Path(dir.resolve(rel).toString),
        MergeOnRead.posKeySchema)
      val rows = footer.rows
      if (rows == 0L) { Files.deleteIfExists(dir.resolve(rel)); None }
      else {
        val ranges = footer.cols
        // Iceberg applies pos deletes to data seq ≤ delete seq; ours is
        // strict >, so the boundary is seq+1, rank-remapped (scaladoc)
        Some(DeleteFile(rel, Seq(DeleteFile.PosFileCol, DeleteFile.PosPosCol),
          boundaryRank(r.seq + 1L), rows, ranges, kind = DeleteFile.Positional))
      }
    }
    val posByKey: Map[(String, Long), DeleteFile] =
      posRefs.zip(posEntriesOpt).collect {
        case (r, Some(d)) => (r.raw, r.seq) -> d
      }.toMap
    // equality deletes: key columns via equality_ids; the parquet reads
    // by name (the export writes names alongside ids)
    val eqEntries = eqRefs.zipWithIndex.map { case (r, i) =>
      val keyCols = r.eqIds.map(id => nameById.getOrElse(id,
        throw new IllegalArgumentException(s"equality id $id not in the schema")))
      val rel = s"$delDir/eq-$i.parquet"
      link(r.path, rel)
      val ranges = FooterStats.collect(conf,
        new org.apache.hadoop.fs.Path(dir.resolve(rel).toString),
        MergeOnRead.keySchema(schema, keyCols))
      DeleteFile(rel, keyCols, boundaryRank(r.seq), r.rows, ranges)
    }
    val eqByKey: Map[(String, Long), DeleteFile] =
      eqRefs.zip(eqEntries).map { case (r, d) => (r.raw, r.seq) -> d }.toMap

    // commit versions strictly above every remapped sequence (scaladoc):
    // the next DML's entry seq (= version+1) then exceeds every imported
    // fileSeq, and every future file's seq exceeds every imported delete
    // seq. No-op pad commits keep the version log contiguous — the
    // forward version probe relies on no gaps above the hint. Then ONE
    // commit per imported snapshot, oldest first: each historical
    // version holds exactly that snapshot's files + delete entries
    // (global rank-remap preserves every seq comparison within each
    // snapshot too) and is tagged with the source's ref names; the last
    // commit is the main snapshot — the table's current state.
    val firstVersion = math.max(current.version + 1, boundaries.size + 1)
    var base = current
    while (base.version + 1 < firstVersion) {
      base = SnapshotChange.commit(dir, base, SnapshotChange.Change("import-pad"),
        SnapshotChange.Once)
    }
    histIds.zipWithIndex.foreach { case (id, i) =>
      val v = firstVersion + i
      val isMain = i == histIds.size - 1
      val snapFiles = entriesBySnap(id).filter(_.content == 0)
        .map(r => importedByKey((r.raw, r.seq))).sortBy(_._2)
      val snapDeletes = entriesBySnap(id).flatMap {
        case r if r.content == 1 => posByKey.get((r.raw, r.seq))
        case r if r.content == 2 => eqByKey.get((r.raw, r.seq))
        case _ => None
      }
      val tagProps = namesBySnap.getOrElse(id, Nil).flatMap(n => Seq(
        Maintenance.TagPrefix + n -> v.toString,
        Maintenance.TagCreatedPrefix + n -> System.currentTimeMillis().toString))
      val rels = snapFiles.map(_._2)
      // ANALYZE statistics round trip: a statistics entry for the
      // imported MAIN snapshot (our own export's Puffin, or any writer
      // using graft-ndv-v1 blobs WITH the graft-col-stats property —
      // an ndv-only blob is skipped rather than padded with fabricated
      // null counts CBO would trust) lands as graft.stats.*
      // properties, so Spark's CBO plans the imported table with the
      // source's measured NDV/null counts instead of re-ANALYZE-ing.
      // Foreign blob types (datasketches etc.) skip — no sketch
      // runtime ships offline to deserialize them honestly. Imported
      // only when the snapshot carries NO delete entries: raw file row
      // sums overcount a MoR snapshot's live rows, and TableStats
      // deliberately counts through the merged read. Stats are
      // ADVISORY: any malformed entry degrades to no stats, never a
      // failed import (the data files are already linked).
      val statsProps: Map[String, String] =
        if (!isMain || snapDeletes.nonEmpty) Map.empty
        else try {
          val rowsTotal = snapFiles.iterator.map(_._3.rows).sum
          var sourceStatsVersion: Option[String] = None
          val colProps = m.get("statistics").collect { case JArray(a) => a }
            .getOrElse(Nil).collect { case o: JObject => o.obj.toMap }
            .filter(e => e.get("snapshot-id").exists(jlong(_) == mainSnapId))
            .flatMap { e =>
              val pf = asLocal(e("statistics-path") match {
                case JString(x) => x; case o => o.values.toString })
              IcebergExport.readPuffinBlobs(pf).collect {
                case ("graft-ndv-v1", Seq(fid), props)
                    if nameById.contains(fid) &&
                      props.contains("graft-col-stats") =>
                  sourceStatsVersion =
                    sourceStatsVersion.orElse(props.get("graft-stats-version"))
                  TableStats.colProp(nameById(fid)) -> props("graft-col-stats")
              }
            }.toMap
          if (colProps.isEmpty) Map.empty
          else colProps ++ Map(
            TableStats.NumRowsProp -> rowsTotal.toString,
            TableStats.VersionProp -> v.toString) ++
            // the source's own staleness marker survives the trip: a
            // reader can still judge how far the NDVs trailed the
            // source's data when they were exported
            sourceStatsVersion.map(
              "graft.stats.import.sourceVersion" -> _).toMap
        } catch {
          case scala.util.control.NonFatal(_) => Map.empty[String, String]
        }
      // partition-statistics round trip, ADVISORY like the Puffin NDVs:
      // the source's per-partition file/row totals are cross-checked
      // against the manifests this import just linked (sum of claimed
      // data_record_count/data_file_count must equal the snapshot's
      // own) and recorded as graft.import.partition-stats.* properties
      // — an external planner's first question ("how many partitions,
      // how big") answered without a scan. A disagreeing or malformed
      // file degrades to no properties, never a failed import: graft
      // re-derives exact per-partition truth from its own manifests.
      val partStatsProps: Map[String, String] =
        if (!isMain) Map.empty
        else try {
          m.get("partition-statistics").collect { case JArray(a) => a }
            .getOrElse(Nil).collect { case o: JObject => o.obj.toMap }
            .filter(e => e.get("snapshot-id").exists(jlong(_) == mainSnapId))
            .headOption.flatMap { e =>
              val pf = asLocal(e("statistics-path") match {
                case JString(x) => x; case o => o.values.toString })
              val (recs, _) = IcebergExport.readAvro(pf)
              val claimedRows = recs.iterator
                .map(_.get("data_record_count").asInstanceOf[Long]).sum
              val claimedFiles = recs.iterator
                .map(_.get("data_file_count").asInstanceOf[Int].toLong).sum
              val actualRows = snapFiles.iterator.map(_._3.rows).sum
              if (claimedRows == actualRows && claimedFiles == snapFiles.size)
                Some(Map(
                  "graft.import.partition-stats.partitions" -> recs.size.toString,
                  "graft.import.partition-stats.rows" -> claimedRows.toString))
              else {
                System.err.println(
                  s"[graft] import: partition-statistics disagree with the " +
                    s"imported manifests (claimed $claimedRows rows / " +
                    s"$claimedFiles files, manifests say $actualRows / " +
                    s"${snapFiles.size}) — skipping the advisory properties")
                None
              }
            }.getOrElse(Map.empty)
        } catch {
          case scala.util.control.NonFatal(_) => Map.empty[String, String]
        }
      base = SnapshotChange.commit(dir, base, SnapshotChange.Change(
        if (isMain) "import-iceberg" else "import-iceberg-history",
        restore = Some(base.copy(
          files = rels,
          fileStats = snapFiles.map { case (_, rel, f) => rel -> f.cols }
            .filter(_._2.nonEmpty).toMap,
          fileRows = snapFiles.map { case (_, rel, f) => rel -> f.rows }.toMap,
          fileSeq = snapFiles.map { case (r, rel, _) => rel -> fileRank(r.seq) }.toMap,
          deleteFiles = snapDeletes)),
        properties = _ ++ tagProps ++ statsProps ++ partStatsProps ++
          (if (isMain) Map(
            "graft.import.source" -> metaPath.toString,
            "graft.import.snapshot" -> mainSnapId.toString)
           else Map.empty)),
        SnapshotChange.Once)
    }
    (imported.size + posByKey.size + eqEntries.size).toLong
  }

  private def asLocal(uriOrPath: String): Path =
    if (uriOrPath.startsWith("file:")) Paths.get(java.net.URI.create(uriOrPath))
    else Paths.get(uriOrPath)
}
