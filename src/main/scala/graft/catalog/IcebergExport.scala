package graft.catalog

import java.nio.file.{Files, Path}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Iceberg-compatible metadata EXPORT — the reference's multi-engine
  * premise (`/root/reference/README.md:567-570`: Spark writes the
  * table, BigQuery reads the same files through mirrored metadata;
  * `iceberg_table_creation.py:63-74` wires the mirror as
  * TBLPROPERTIES). Our metadata log is engine-private JSON; this
  * writes a SPEC-CONFORMANT Apache Iceberg v2 snapshot of the current
  * version — `metadata/v<N>.metadata.json`, an Avro manifest list, Avro
  * manifests, and rewritten v2 delete files — so any Iceberg reader
  * (DuckDB's `iceberg_scan`, Trino, Spark+Iceberg, BigQuery/BigLake)
  * can read the table's CURRENT snapshot directly from storage, no
  * graft code involved.
  *
  * Discovery follows Iceberg's HadoopCatalog convention, which our own
  * log already satisfies by construction: `metadata/version-hint.text`
  * holds the current version N (shared — both formats number versions
  * identically), and the export lands at `metadata/v<N>.metadata.json`
  * next to our `v<N>.json`. The names cannot collide, and none of our
  * maintenance listings match the export's names (`v\d+\.json`,
  * `m-*.json`, `*.reap` patterns all miss `*.metadata.json` /
  * `*.avro`). An export is a point-in-time MIRROR: after further graft
  * commits the hint advances past it and external readers fail loudly
  * on the missing `v<N+1>.metadata.json` until the next export — the
  * same refresh obligation the reference's BigQuery mirror carries —
  * UNLESS the table sets `graft.iceberg.mirror=true`, in which case
  * every main-log commit maintains the export as it publishes
  * ([[maintainMirror]], hooked in [[SnapshotChange.land]]): external
  * readers then never observe a stale hint, which is the reference's
  * actual contract (`iceberg_table_creation.py:63-74` — the catalog
  * keeps the BigQuery mirror linked on every write).
  *
  * The export is INCREMENTAL, not a rebuild: graft's own manifest
  * chunks are immutable and UUID-named, so each chunk exports to one
  * Avro manifest exactly once per (schema, partition-spec) fingerprint
  * and is reused by reference afterwards; rewritten delete parquets are
  * cached by their immutable source path. A sidecar
  * (`metadata/iceberg-mirror-state.json`) records the cached artifacts
  * plus each chunk's single-valued-partition verdict, so a mirror
  * update costs O(changed chunks + new deletes) in IO *and* CPU — the
  * per-commit cost a 100 TB table can afford. Each export
  * garbage-collects artifacts the new snapshot no longer references.
  *
  * Correspondence choices, each pinned by IcebergExportSpec:
  *  - data/delete file paths are absolute `file:` URIs; data files are
  *    our existing parquet, untouched. They carry no parquet field
  *    IDs, so the metadata publishes `schema.name-mapping.default`
  *    (the spec's path for imported files — Iceberg's own
  *    `add_files` relies on it).
  *  - sequence numbers are our commit versions: `fileSeq` for data
  *    files, entry `seq` for deletes. Apply semantics then agree
  *    engine-to-engine: Iceberg applies position deletes to data
  *    sequence ≤ delete sequence and equality deletes strictly less;
  *    our reader applies entries iff `entry.seq > fileSeq(f)`, and no
  *    graft writer emits a positional entry targeting a file of its
  *    own commit, so ≤ vs < is indistinguishable on exported tables.
  *  - positional delete parquets are REWRITTEN (our `(file, pos)`
  *    table-relative pairs → spec columns `file_path` (2147483546) /
  *    `pos` (2147483545) with absolute URIs, sorted, parquet field
  *    IDs written); equality delete parquets are rewritten with the
  *    key columns' assigned field IDs and published `equality_ids`.
  *  - the partition spec exports identity transforms over
  *    `partitionColumns` PLUS Iceberg's own day/hour/month/year/
  *    truncate transforms for our hidden partitioning, whenever every
  *    data file provably holds exactly one partition tuple (footer
  *    transform(min) == transform(max) — the transforms are monotonic —
  *    zero nulls, short string bounds); otherwise the export declares
  *    an unpartitioned spec — honest (hash-clustered writes can mix
  *    values in a file) and still spec-conformant, costing external
  *    engines only partition pruning. `bucket(n)` exports as a real
  *    Iceberg `bucket[n]` field when the table opted into Iceberg's
  *    published bucket hash (`graft.bucket.hash=iceberg`, see
  *    [[IcebergHash]]) and every live data file is bucket-addressable
  *    (written by a bucketed commit, zero nulls in the bucket column);
  *    spark-hash bucketed tables never export a bucket field (their
  *    murmur3(seed=42) layout is not Iceberg's hash).
  *    DELETE files always export under an UNPARTITIONED spec
  *    (id 1 on partitioned tables): Iceberg scopes delete application
  *    by (spec, partition tuple) and our delete entries are
  *    table-global — unpartitioned-spec deletes are exactly that.
  *
  * Scale: the export is metadata-proportional — O(files) manifest
  * entries plus a distributed rewrite of delete parquets. Data files
  * are never copied.
  */
object IcebergExport {

  /** Iceberg position-delete column IDs (Iceberg spec, Appendix —
    * reserved field IDs). */
  val PosPathFieldId = 2147483546L.toInt
  val PosPosFieldId = 2147483545L.toInt

  // ---- schema translation ---------------------------------------------------

  /** One table column translated to Iceberg: (assigned field ids are
    * depth-first, 1-based, matching Iceberg's fresh-schema assignment). */
  private final case class IdAlloc(var next: Int) { def take(): Int = { val v = next; next += 1; v } }

  /** Iceberg type JSON for a Spark type. Assigns nested ids from
    * `alloc` in the spec's order (struct fields first, then their
    * nested types, depth-first per field). */
  private def icebergType(dt: DataType, alloc: IdAlloc): JValue = dt match {
    case BooleanType => JString("boolean")
    case ByteType | ShortType | IntegerType => JString("int")
    case LongType => JString("long")
    case FloatType => JString("float")
    case DoubleType => JString("double")
    case StringType => JString("string")
    case BinaryType => JString("binary")
    case DateType => JString("date")
    case TimestampType => JString("timestamptz")
    case TimestampNTZType => JString("timestamp")
    case d: DecimalType => JString(s"decimal(${d.precision}, ${d.scale})")
    case ArrayType(et, containsNull) =>
      val eid = alloc.take()
      JObject(
        "type" -> JString("list"),
        "element-id" -> JInt(eid),
        "element" -> icebergType(et, alloc),
        "element-required" -> JBool(!containsNull))
    case MapType(kt, vt, valueContainsNull) =>
      val kid = alloc.take(); val vid = alloc.take()
      JObject(
        "type" -> JString("map"),
        "key-id" -> JInt(kid),
        "key" -> icebergType(kt, alloc),
        "value-id" -> JInt(vid),
        "value" -> icebergType(vt, alloc),
        "value-required" -> JBool(!valueContainsNull))
    case st: StructType =>
      JObject(
        "type" -> JString("struct"),
        "fields" -> JArray(st.fields.map { f =>
          val fid = alloc.take()
          JObject(
            "id" -> JInt(fid),
            "name" -> JString(f.name),
            "required" -> JBool(!f.nullable),
            "type" -> icebergType(f.dataType, alloc))
        }.toList))
    case other =>
      throw new IllegalArgumentException(
        s"cannot export column type ${other.sql} to Iceberg (no spec equivalent)")
  }

  /** Top-level field name → assigned id (needed for equality_ids and
    * partition source-ids). Mirrors [[icebergType]]'s allocation order:
    * each top-level field takes the next id, then its nested types. */
  private[catalog] def topLevelIds(schema: StructType): Map[String, Int] = {
    val alloc = IdAlloc(1)
    schema.fields.map { f =>
      val fid = alloc.take()
      icebergType(f.dataType, alloc) // advance past nested ids
      f.name -> fid
    }.toMap
  }

  /** Full Iceberg schema JSON (schema-id 0) + the last allocated id. */
  private def schemaJson(schema: StructType): (JValue, Int) = {
    val alloc = IdAlloc(1)
    val struct = icebergType(schema, alloc)
    val withId = struct.asInstanceOf[JObject] ~ ("schema-id" -> JInt(0))
    (withId, alloc.next - 1)
  }

  private implicit class JObjOps(o: JObject) {
    def ~(kv: (String, JValue)): JObject = JObject(o.obj :+ kv)
  }

  /** `schema.name-mapping.default`: our parquet data files carry no
    * field IDs, so readers resolve columns by name through this
    * mapping (recursive for nested types, per the spec's
    * name-mapping serialization). */
  private def nameMapping(schema: StructType): JValue = {
    val alloc = IdAlloc(1)
    // fully recursive — every nested level maps, including structs
    // inside arrays/maps — with id allocation in LOCKSTEP with
    // icebergType's depth-first order (map key/value ids allocate
    // consecutively BEFORE either side's nested types, same as there)
    def node(fid: Int, name: String, dt: DataType): JObject = {
      val base = JObject(
        "field-id" -> JInt(fid),
        "names" -> JArray(List(JString(name))))
      children(dt) match {
        case Nil => base
        case kids => base ~ ("fields" -> (JArray(kids.map(x => x: JValue)): JValue))
      }
    }
    def children(dt: DataType): List[JObject] = dt match {
      case st: StructType => st.fields.toList.map { f =>
        val fid = alloc.take(); node(fid, f.name, f.dataType)
      }
      case ArrayType(et, _) =>
        val eid = alloc.take(); List(node(eid, "element", et))
      case MapType(kt, vt, _) =>
        val kid = alloc.take(); val vid = alloc.take()
        List(node(kid, "key", kt), node(vid, "value", vt))
      case _ => Nil
    }
    JArray(children(schema).map(x => x: JValue))
  }

  // ---- avro schemas ---------------------------------------------------------

  /** Avro field JSON with Iceberg's `field-id` prop. */
  private def af(name: String, typ: String, fieldId: Int, optional: Boolean): String = {
    val t = if (optional) s"""["null", $typ]""" else typ
    val dflt = if (optional) ""","default": null""" else ""
    s"""{"name": "$name", "type": $t, "field-id": $fieldId$dflt}"""
  }

  /** manifest_file — the manifest-list entry schema (Iceberg spec v2). */
  private val manifestListSchema: Schema = new Schema.Parser().parse(
    s"""{"type": "record", "name": "manifest_file", "fields": [
       |${af("manifest_path", "\"string\"", 500, optional = false)},
       |${af("manifest_length", "\"long\"", 501, optional = false)},
       |${af("partition_spec_id", "\"int\"", 502, optional = false)},
       |${af("content", "\"int\"", 517, optional = false)},
       |${af("sequence_number", "\"long\"", 515, optional = false)},
       |${af("min_sequence_number", "\"long\"", 516, optional = false)},
       |${af("added_snapshot_id", "\"long\"", 503, optional = false)},
       |${af("added_files_count", "\"int\"", 504, optional = false)},
       |${af("existing_files_count", "\"int\"", 505, optional = false)},
       |${af("deleted_files_count", "\"int\"", 506, optional = false)},
       |${af("added_rows_count", "\"long\"", 512, optional = false)},
       |${af("existing_rows_count", "\"long\"", 513, optional = false)},
       |${af("deleted_rows_count", "\"long\"", 514, optional = false)},
       |{"name": "partitions", "type": ["null", {"type": "array", "element-id": 508,
       |  "items": {"type": "record", "name": "r508", "fields": [
       |    ${af("contains_null", "\"boolean\"", 509, optional = false)},
       |    ${af("contains_nan", "\"boolean\"", 518, optional = true)},
       |    ${af("lower_bound", "\"bytes\"", 510, optional = true)},
       |    ${af("upper_bound", "\"bytes\"", 511, optional = true)}]}}],
       | "field-id": 507, "default": null},
       |${af("key_metadata", "\"bytes\"", 519, optional = true)}
       |]}""".stripMargin)

  /** Avro type for a partition column (identity transform ⇒ the source
    * column's primitive type). */
  private def avroPrimitive(dt: DataType): String = dt match {
    case BooleanType => "\"boolean\""
    case ByteType | ShortType | IntegerType => "\"int\""
    case LongType => "\"long\""
    case FloatType => "\"float\""
    case DoubleType => "\"double\""
    case StringType => "\"string\""
    case DateType => """{"type": "int", "logicalType": "date"}"""
    case TimestampType | TimestampNTZType =>
      """{"type": "long", "logicalType": "timestamp-micros", "adjust-to-utc": true}"""
    case other =>
      throw new IllegalArgumentException(
        s"unsupported identity-partition type for export: ${other.sql}")
  }

  /** Iceberg's Avro encoding of `map<int, X>`: an array-of-records with
    * logicalType map (int keys cannot use Avro's native string-keyed
    * map). `kId`/`vId` are the spec's key/value field ids. */
  private def intMap(name: String, fieldId: Int, kId: Int, vId: Int, vType: String): String =
    s"""{"name": "$name", "field-id": $fieldId, "default": null, "type":
       |  ["null", {"type": "array", "logicalType": "map",
       |    "items": {"type": "record", "name": "k${kId}_v$vId", "fields": [
       |      {"name": "key", "type": "int", "field-id": $kId},
       |      {"name": "value", "type": $vType, "field-id": $vId}]}}]}""".stripMargin

  /** manifest_entry with the given partition struct (field ids 1000+).
    * `partFields` are (name, avro type JSON, field id). */
  private def manifestEntrySchema(partFields: Seq[(String, String, Int)]): Schema = {
    val partJson = partFields.map { case (n, at, fid) =>
      s"""{"name": "$n", "type": ["null", $at], "field-id": $fid, "default": null}"""
    }.mkString(",\n")
    new Schema.Parser().parse(
      s"""{"type": "record", "name": "manifest_entry", "fields": [
         |${af("status", "\"int\"", 0, optional = false)},
         |${af("snapshot_id", "\"long\"", 1, optional = true)},
         |${af("sequence_number", "\"long\"", 3, optional = true)},
         |${af("file_sequence_number", "\"long\"", 4, optional = true)},
         |{"name": "data_file", "field-id": 2, "type":
         |  {"type": "record", "name": "r2", "fields": [
         |    ${af("content", "\"int\"", 134, optional = false)},
         |    ${af("file_path", "\"string\"", 100, optional = false)},
         |    ${af("file_format", "\"string\"", 101, optional = false)},
         |    {"name": "partition", "field-id": 102, "type":
         |      {"type": "record", "name": "r102", "fields": [$partJson]}},
         |    ${af("record_count", "\"long\"", 103, optional = false)},
         |    ${af("file_size_in_bytes", "\"long\"", 104, optional = false)},
         |    ${intMap("null_value_counts", 110, 121, 122, "\"long\"")},
         |    ${intMap("lower_bounds", 125, 126, 127, "\"bytes\"")},
         |    ${intMap("upper_bounds", 128, 129, 130, "\"bytes\"")},
         |    {"name": "equality_ids", "field-id": 135, "default": null, "type":
         |      ["null", {"type": "array", "items": "int", "element-id": 136}]},
         |    ${af("sort_order_id", "\"int\"", 140, optional = true)}
         |  ]}}
         |]}""".stripMargin)
  }

  /** Iceberg single-value binary serialization (spec Appendix D) for
    * the bound maps: little-endian numerics, UTF-8 strings. The input
    * is [[FooterStats]]' rendered string (numerics as decimal text,
    * dates already epoch-day, timestamps already micros). None for
    * types the spec table doesn't cover here or unparsable values —
    * the column's bound is simply omitted (bounds are optional). */
  private[catalog] def boundBytes(dt: DataType, s: String): Option[java.nio.ByteBuffer] = {
    def le(n: Int) = java.nio.ByteBuffer.allocate(n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    try dt match {
      case ByteType | ShortType | IntegerType | DateType =>
        Some(le(4).putInt(s.toInt).flip().asInstanceOf[java.nio.ByteBuffer])
      case LongType | TimestampType | TimestampNTZType =>
        Some(le(8).putLong(s.toLong).flip().asInstanceOf[java.nio.ByteBuffer])
      case FloatType =>
        Some(le(4).putFloat(s.toFloat).flip().asInstanceOf[java.nio.ByteBuffer])
      case DoubleType =>
        Some(le(8).putDouble(s.toDouble).flip().asInstanceOf[java.nio.ByteBuffer])
      case BooleanType =>
        Some(java.nio.ByteBuffer.wrap(Array[Byte](if (s.toBoolean) 1 else 0)))
      case StringType =>
        Some(java.nio.ByteBuffer.wrap(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case _ => None
    } catch { case _: NumberFormatException | _: IllegalArgumentException => None }
  }

  /** Encode a partition tuple for the per-chunk mirror state: a
    * compact JSON array of stringified tuple values (null as JSON
    * null) — JSON so a string value containing any would-be separator
    * survives the round trip. */
  private def encodeTuple(vals: Seq[AnyRef]): String =
    JsonMethods.compact(JsonMethods.render(JArray(
      vals.toList.map(v => if (v == null) JNull else JString(v.toString)))))

  private def decodeTuple(s: String): Seq[Option[String]] =
    JsonMethods.parse(s).asInstanceOf[JArray].arr.map {
      case JNull => None
      case JString(x) => Some(x)
      case other => Some(other.values.toString)
    }

  /** Re-type an encoded tuple value for an Avro record, from the
    * field's Avro type JSON (the tuple values are already in their
    * transform domains — epoch-day ints, micros longs — so plain
    * numeric parses reconstruct them). */
  private def decodeTupleVal(avroType: String, s: String): AnyRef =
    if (avroType.contains("boolean")) Boolean.box(s.toBoolean)
    else if (avroType.contains("long")) Long.box(s.toLong)
    else if (avroType.contains("int")) Int.box(s.toInt)
    else if (avroType.contains("float")) Float.box(s.toFloat)
    else if (avroType.contains("double")) Double.box(s.toDouble)
    else s

  private[graft] def writeAvro(
      target: Path, schema: Schema,
      meta: Seq[(String, String)], records: Seq[GenericRecord]): Long = {
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => writer.setMeta(k, v) }
    writer.create(schema, target.toFile)
    try records.foreach(writer.append) finally writer.close()
    Files.size(target)
  }

  /** Read every record of an exported Avro file (test/verification
    * surface — also used by IcebergExportSpec to replay the read
    * protocol from the artifacts alone). */
  private[graft] def readAvro(path: Path): (Seq[GenericRecord], Map[String, String]) = {
    val reader = new DataFileReader[GenericRecord](
      path.toFile, new GenericDatumReader[GenericRecord]())
    try {
      val recs = Iterator.continually(reader)
        .takeWhile(_.hasNext).map(_.next()).toVector
      val metaKeys = reader.getMetaKeys.asScala.toSeq
      (recs, metaKeys.map(k => k -> Option(reader.getMetaString(k)).getOrElse("")).toMap)
    } finally reader.close()
  }

  // ---- mirror state ---------------------------------------------------------

  /** One exported chunk's cached artifact + the list-entry fields needed
    * to reference it without re-reading anything. `sv` is the chunk's
    * single-valued-partition verdict (valid for [[MirrorState.partCols]]);
    * `fp` the (schema, partition-spec) fingerprint the Avro was written
    * under — a mismatch forces a rewrite. */
  /** Per-partition totals of one chunk: encoded tuple (JSON array of
    * stringified tuple values, null as JSON null — see
    * [[encodeTuple]]/[[decodeTupleVal]]) → (rows, files, bytes). The
    * unit of incremental PARTITION-STATISTICS maintenance: a chunk is
    * immutable, so its per-partition aggregate is computed once (when
    * its Avro is written, where per-file sizes are already stat'd) and
    * reused forever — the export-time merge is O(chunks × partitions
    * per chunk), never O(files). Optional for migration: a state
    * written before this field recomputes lazily per chunk (one
    * entry+size pass), WITHOUT invalidating the chunk's Avro. */
  private final case class ChunkState(
      avro: String, len: Long, minSeq: Long, maxSeq: Long, rows: Long,
      count: Int, snap: Long, sv: Boolean, fp: String,
      parts: Option[Map[String, (Long, Long, Long)]] = None)

  /** One previously exported snapshot, carried forward verbatim so
    * external engines can time-travel to it (tags): the rendered
    * snapshot JSON object and every artifact (rel path) its manifest
    * list transitively references — kept out of GC while the snapshot
    * is retained, all with zero re-reads. */
  private final case class SnapState(
      json: String, artifacts: Seq[String], fp: String = "")

  private final case class MirrorState(
      partCols: Seq[String],
      chunks: Map[String, ChunkState],
      deletes: Map[String, String],
      snaps: Map[Int, SnapState] = Map.empty)

  private val StateName = "iceberg-mirror-state.json"

  private def sha1Hex(s: String, bytes: Int): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(bytes).map(b => f"$b%02x").mkString

  private def loadState(md: Path): MirrorState = {
    val f = md.resolve(StateName)
    if (!Files.isRegularFile(f)) return MirrorState(Nil, Map.empty, Map.empty)
    try {
      val o = JsonMethods.parse(Files.readString(f)).asInstanceOf[JObject].obj.toMap
      def jl(v: JValue): Long = v match {
        case JInt(i) => i.toLong; case JLong(l) => l; case x => x.values.toString.toLong
      }
      def js(v: JValue): String = v.asInstanceOf[JString].s
      // format gate: a state written by an OLDER revision (different
      // fields, different fingerprint semantics) must rebuild, never be
      // half-trusted — e.g. snapshots without an fp would otherwise all
      // drop out of (or wrongly stay in) the mirror on the next export
      if (!o.get("fmt").exists(jl(_) == StateFmt))
        return MirrorState(Nil, Map.empty, Map.empty)
      MirrorState(
        partCols = o.get("partCols").collect { case JArray(a) => a.map(js) }.getOrElse(Nil),
        chunks = o.get("chunks").collect { case c: JObject =>
          c.obj.toMap.map { case (k, v) =>
            val m = v.asInstanceOf[JObject].obj.toMap
            // optional per-partition totals (absent in older states:
            // recomputed lazily at the next export, never half-trusted)
            val parts = m.get("parts").collect { case p: JObject =>
              p.obj.toMap.map { case (tup, agg) =>
                val a = agg.asInstanceOf[JArray].arr
                tup -> ((jl(a(0)), jl(a(1)), jl(a(2))))
              }
            }
            k -> ChunkState(js(m("avro")), jl(m("len")), jl(m("minSeq")),
              jl(m("maxSeq")), jl(m("rows")), jl(m("count")).toInt, jl(m("snap")),
              m("sv").asInstanceOf[JBool].value, js(m("fp")), parts)
          }
        }.getOrElse(Map.empty),
        deletes = o.get("deletes").collect { case d: JObject =>
          d.obj.toMap.map { case (k, v) => k -> js(v) }
        }.getOrElse(Map.empty),
        snaps = o.get("snaps").collect { case s: JObject =>
          s.obj.toMap.map { case (v, rec) =>
            val m = rec.asInstanceOf[JObject].obj.toMap
            v.toInt -> SnapState(js(m("json")),
              m("artifacts").asInstanceOf[JArray].arr.map(js),
              m.get("fp").map(js).getOrElse(""))
          }
        }.getOrElse(Map.empty))
    } catch { case _: Exception => MirrorState(Nil, Map.empty, Map.empty) }
    // unreadable state only costs a rebuild — never correctness
  }

  /** Bumped whenever the state's fields or semantics change — an
    * unknown fmt loads as empty (one rebuild, never wrong reuse). */
  private val StateFmt = 2L

  private def saveState(md: Path, s: MirrorState): Unit = {
    val json = JObject(
      "fmt" -> JLong(StateFmt),
      "partCols" -> JArray(s.partCols.toList.map(JString(_))),
      "chunks" -> JObject(s.chunks.toList.sortBy(_._1).map { case (k, c) =>
        k -> (JObject(List(
          "avro" -> (JString(c.avro): JValue), "len" -> (JLong(c.len): JValue),
          "minSeq" -> (JLong(c.minSeq): JValue), "maxSeq" -> (JLong(c.maxSeq): JValue),
          "rows" -> (JLong(c.rows): JValue), "count" -> (JInt(c.count): JValue),
          "snap" -> (JLong(c.snap): JValue), "sv" -> (JBool(c.sv): JValue),
          "fp" -> (JString(c.fp): JValue)) ++
          c.parts.map(p => "parts" -> (JObject(
            p.toList.sortBy(_._1).map { case (tup, (r, f, b)) =>
              tup -> (JArray(List(JLong(r), JLong(f), JLong(b))): JValue)
            }): JValue)).toList): JValue)
      }),
      "deletes" -> JObject(s.deletes.toList.sortBy(_._1).map { case (k, v) =>
        k -> (JString(v): JValue)
      }),
      "snaps" -> JObject(s.snaps.toList.sortBy(_._1).map { case (v, sn) =>
        v.toString -> (JObject(
          "json" -> JString(sn.json),
          "artifacts" -> JArray(sn.artifacts.toList.map(JString(_))),
          "fp" -> JString(sn.fp)): JValue)
      }))
    val tmp = Files.createTempFile(md, ".icestate-", ".tmp")
    try {
      Files.writeString(tmp, JsonMethods.compact(JsonMethods.render(json)))
      Files.move(tmp, md.resolve(StateName),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** Instrumentation for the O(delta) scale assertions: bytes of Avro
    * manifests written, bytes of delete parquets rewritten, and chunk
    * manifests reused vs written since [[resetCounters]]. */
  val avroBytesWritten = new java.util.concurrent.atomic.AtomicLong
  val deleteBytesRewritten = new java.util.concurrent.atomic.AtomicLong
  val chunksReused = new java.util.concurrent.atomic.AtomicLong
  val chunksWritten = new java.util.concurrent.atomic.AtomicLong
  def resetCounters(): Unit = {
    avroBytesWritten.set(0); deleteBytesRewritten.set(0)
    chunksReused.set(0); chunksWritten.set(0)
  }

  // ---- export ---------------------------------------------------------------

  /** Write-through mirror hook, called by [[SnapshotChange.land]] after
    * every main-log publish. When the committed snapshot carries
    * `graft.iceberg.mirror=true`, the Iceberg export is maintained
    * incrementally so external readers never observe a stale
    * version-hint. A mirror failure NEVER fails the commit (the data
    * write is already durable; un-committing a successful INSERT would
    * be worse) — external readers surface the staleness loudly as a
    * missing `v<N>.metadata.json`, and the error is printed. */
  /** Returns false when this update was SUPERSEDED by a newer version's
    * mirror (racing commits): the caller must then leave the hint to
    * the superseding committer — advancing it here would transiently
    * name a version whose document was (correctly) never written. A
    * FAILED export still returns true: the hint advances and the
    * staleness surfaces loudly at the reader, the documented contract. */
  /** Sidecar recording an observable mirror-failure state: stderr alone
    * leaves a permanently-stale mirror invisible to anything that
    * doesn't tail logs. Written on failure, cleared by the next
    * successful export (including `CALL export_iceberg`); surfaced
    * through the `<tbl>.mirror` metadata table. */
  private[catalog] def staleMarker(tableDir: Path): Path =
    TableMetadata.metadataDir(tableDir).resolve("mirror-stale.txt")

  def maintainMirror(tableDir: Path, meta: TableMetadata): Boolean =
    if (!meta.properties.get("graft.iceberg.mirror").contains("true")) true
    else {
      try {
        val spark = SparkSession.getActiveSession
          .orElse(SparkSession.getDefaultSession).orNull
        exportSnapshot(spark, tableDir, meta) >= 0L
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] iceberg mirror update failed for ${meta.name} " +
              s"v${meta.version} (external readers will see a stale mirror " +
              s"until the next successful commit or export_iceberg): $e")
          try Files.writeString(staleMarker(tableDir),
            s"v${meta.version}: ${e.toString.linesIterator.next()}")
          catch { case _: Exception => () }
          true
      }
    }

  /** Export the current snapshot. Returns the number of files (data +
    * delete) the external snapshot references. */
  def export(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      table: String): Long = {
    val dir = Maintenance.lakehouseTable(spark, catalog, namespace, table).tableDir
    // a commit racing this CALL can supersede the loaded snapshot
    // between load and lock — reload and go again (terminates: the
    // table can only advance finitely often while we retry)
    var r = -1L
    while (r < 0L) r = exportSnapshot(spark, dir, TableMetadata.load(dir))
    r
  }

  /** The incremental export core (see object scaladoc): reuses exported
    * chunk manifests and rewritten delete parquets through the mirror
    * state; writes only the delta, then the manifest list + metadata
    * document, then GCs artifacts the new snapshot no longer
    * references. `spark` may be null when no delete parquet needs
    * rewriting (pure-append mirror maintenance needs no session). */
  /** Two-tier per-table exclusion for concurrent mirror updates: the
    * metadata LOG is race-safe on its own (slot claims), but two racing
    * commits would run exportSnapshot concurrently, and a failing
    * export's rollback deletes every pattern-matching artifact absent
    * from ITS stale snapshot — which includes the racer's freshly
    * published ones. Same-process racers serialize on a per-TABLE-DIR
    * monitor (FileLock is per-JVM-per-file: overlapping locks throw, so
    * the monitor must come FIRST; keyed by normalized path, not a
    * fixed stripe — a wedged peer polling the cross-process lock for
    * its full 60s budget must never block an UNRELATED table's commit
    * that merely hashed to the same slot); cross-process racers
    * serialize on an
    * exclusive `FileLock` over `metadata/mirror.lock` held across the
    * whole read-check-export-GC-publish — the supersession guard then
    * sees the other PROCESS's published state too, so a two-committer
    * deployment cannot thrash mirror artifacts even transiently. The
    * same writeFloor pattern: if the filesystem cannot lock (some
    * network mounts), the stripe still serializes this process and the
    * export proceeds — a clobbered mirror self-heals on the next
    * export, since artifact reuse verifies file existence. */
  // One monitor per table dir, created on first touch. Values are WEAK
  // so a long-lived service that mirrors many ephemeral tables cannot
  // grow the map without bound: a monitor is strongly held by every
  // thread inside its synchronized block, so a live entry never
  // vanishes mid-exclusion, and dead entries purge opportunistically.
  private val mirrorLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.WeakReference[Object]]()

  private def mirrorLockFor(key: String): Object = {
    var obj: Object = null
    while (obj == null) {
      val ref = mirrorLocks.compute(key, (_, old) =>
        if (old != null && old.get() != null) old
        else new java.lang.ref.WeakReference(new Object))
      obj = ref.get() // rarely null (GC between compute and get): retry
    }
    if (mirrorLocks.size() > 256)
      mirrorLocks.entrySet().removeIf(e => e.getValue.get() == null)
    obj
  }

  def exportSnapshot(spark: SparkSession, dir: Path, meta: TableMetadata): Long =
    mirrorLockFor(dir.toAbsolutePath.normalize.toString).synchronized {
      val md = dir.resolve("metadata")
      Files.createDirectories(md)
      val ch =
        try java.nio.channels.FileChannel.open(md.resolve("mirror.lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case _: java.io.IOException => null }
      // BOUNDED acquisition: this runs inside SnapshotChange.land's
      // publish, and the contract is that a mirror problem never stalls
      // a data commit — a wedged peer PROCESS holding the lock must
      // surface as a mirror FAILURE (stale marker, hint advances, next
      // export heals), not block committers forever. tryLock + poll up
      // to 60s; an fs that cannot lock at all proceeds unlocked (the
      // JVM stripe still serializes this process, clobbers self-heal).
      val lock =
        if (ch == null) null
        else {
          val deadline = System.nanoTime() + 60L * 1000L * 1000L * 1000L
          var l: java.nio.channels.FileLock = null
          var unsupported = false
          while (l == null && !unsupported && System.nanoTime() < deadline) {
            try {
              l = ch.tryLock()
              if (l == null) Thread.sleep(100)
            } catch { case _: java.io.IOException => unsupported = true }
          }
          if (l == null && !unsupported) {
            try ch.close() catch { case _: java.io.IOException => () }
            throw new java.io.IOException(
              s"mirror lock for ${meta.name} held by another process for >60s " +
                "— skipping this mirror update (staleness is recorded; the " +
                "next successful commit or export_iceberg heals it)")
          }
          l
        }
      try exportSnapshotLocked(spark, dir, meta)
      finally {
        if (lock != null) { try lock.release() catch { case _: java.io.IOException => () } }
        if (ch != null) { try ch.close() catch { case _: java.io.IOException => () } }
      }
    }

  /** Write a Puffin statistics file per the public spec
    * (apache/iceberg `puffin-spec.md`): Magic, blobs, then
    * Magic | FooterPayload(JSON) | payload-size (int32 LE) | flags |
    * Magic. One blob per analyzed column, type `graft-ndv-v1`: an
    * 8-byte big-endian NDV payload, with the same number mirrored in
    * the blob's `properties["ndv"]` — the property is where Iceberg
    * engines read NDV from, and Puffin's design makes unknown blob
    * types skippable. `apache-datasketches-theta-v1` is deliberately
    * NOT claimed: no datasketches runtime ships offline, and labeling
    * a non-sketch payload with that type would crash any reader that
    * deserializes it. Returns (file size, footer size, footer blob
    * JSON for the metadata document's `blob-metadata`). */
  private def writePuffin(
      target: Path, snapshotId: Long, sequenceNumber: Int,
      ndvByFieldId: Seq[(Int, Long, String)], statsVersion: Option[String])
      : (Long, Long, List[JValue]) = {
    val magic = Array[Byte]('P', 'F', 'A', '1')
    val out = new java.io.ByteArrayOutputStream()
    out.write(magic)
    val blobs: List[JObject] = ndvByFieldId.map { case (fid, ndv, encoded) =>
      val offset = out.size().toLong
      out.write(java.nio.ByteBuffer.allocate(8).putLong(ndv).array())
      JObject(
        "type" -> JString("graft-ndv-v1"),
        "fields" -> JArray(List(JInt(fid))),
        "snapshot-id" -> JLong(snapshotId),
        "sequence-number" -> JInt(sequenceNumber),
        "offset" -> JLong(offset),
        "length" -> JLong(8L),
        "properties" -> JObject(
          List(
            "ndv" -> (JString(ndv.toString): JValue),
            // the full TableStats encoding (ndv:nulls[:avgLen:maxLen]):
            // an import round-trips the whole CBO column stat, not
            // just ndv
            "graft-col-stats" -> (JString(encoded): JValue)) ++
            statsVersion.map(v =>
              "graft-stats-version" -> (JString(v): JValue)).toList))
    }.toList
    val footerStart = out.size()
    val payload = JsonMethods.compact(JsonMethods.render(JObject(
      "blobs" -> JArray(blobs),
      "properties" -> JObject("created-by" -> JString("graft")))))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.write(magic)
    out.write(payload)
    out.write(java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(payload.length).putInt(0) // flags: footer payload uncompressed
      .array())
    out.write(magic)
    val bytes = out.toByteArray
    val tmp = Files.createTempFile(target.getParent, ".puffin-", ".tmp")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    (bytes.length.toLong, (bytes.length - footerStart).toLong,
      blobs.map(b => b: JValue))
  }

  /** Parse a Puffin statistics file written by [[writePuffin]] (or any
    * conformant writer): validates both magics and the footer layout,
    * returns each blob's (type, field-ids, properties). Blob payloads
    * are not materialized — graft's own blobs mirror their payload in
    * properties, and foreign types (e.g. datasketches) are skipped by
    * the caller anyway. */
  private[graft] def readPuffinBlobs(
      file: Path): Seq[(String, Seq[Int], Map[String, String])] = {
    val raw = Files.readAllBytes(file)
    // 4 magic + 4 magic + payload-size + flags + 4 magic minimum
    require(raw.length >= 20, s"not a puffin file (truncated): $file")
    val magic = Array[Byte]('P', 'F', 'A', '1')
    def magicAt(off: Int): Boolean =
      off >= 0 && off + 4 <= raw.length &&
        java.util.Arrays.equals(raw.slice(off, off + 4), magic)
    require(magicAt(0) && magicAt(raw.length - 4),
      s"not a puffin file: $file")
    val bb = java.nio.ByteBuffer.wrap(raw)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val payloadSize = bb.getInt(raw.length - 12)
    val flags = bb.getInt(raw.length - 8)
    require(flags == 0, s"compressed puffin footer unsupported: $file")
    val footerStart = raw.length - 12 - payloadSize - 4
    require(magicAt(footerStart), s"bad puffin footer magic: $file")
    val footer = JsonMethods.parse(new String(
      raw.slice(footerStart + 4, footerStart + 4 + payloadSize),
      java.nio.charset.StandardCharsets.UTF_8)).asInstanceOf[JObject].obj.toMap
    footer.get("blobs").collect { case JArray(bs) => bs }.getOrElse(Nil)
      .map(_.asInstanceOf[JObject].obj.toMap)
      .map { b =>
        def str(v: JValue) = v match { case JString(x) => x; case o => o.values.toString }
        val tpe = str(b("type"))
        val fields = b.get("fields").collect { case JArray(fs) => fs }
          .getOrElse(Nil).map(_.values.toString.toInt)
        val props = b.get("properties").collect { case o: JObject =>
          o.obj.toMap.map { case (k, v) => k -> str(v) } }.getOrElse(Map.empty)
        (tpe, fields, props)
      }
  }

  private def exportSnapshotLocked(
      spark: SparkSession, dir: Path, meta: TableMetadata): Long = {
    // supersession guard: with racing commits, the LOG serializes
    // (v5 then v6) but the mirror calls may run in either order — a
    // v5 export running after v6's would GC v6's artifacts (they are
    // not in v5's referenced set) and leave the hinted document
    // unreadable. A superseded mirror update is skipped (-1): the
    // newer one covers the table's current state AND owns the hint.
    // The check sits INSIDE the per-table lock, so skip-vs-export is
    // atomic against the racer's own export.
    if (TableMetadata.currentVersion(dir) > meta.version) return -1L
    val md = TableMetadata.metadataDir(dir)
    val snapshotId = meta.version.toLong
    val nowMs = System.currentTimeMillis()

    // the previous export's artifacts are recorded NOW and garbage-
    // collected only AFTER the new metadata.json is atomically in place:
    // a mid-export failure (unsupported column type, IO error during the
    // delete rewrite) must leave the last working mirror untouched. New
    // artifact names are UUID-unique, so nothing collides meanwhile.
    val expDel = dir.resolve("deletes-iceberg")
    def artifacts(): Seq[Path] =
      (Fs.children(md).iterator.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".metadata.json") || (n.startsWith("snap-") && n.endsWith(".avro")) ||
          (n.startsWith("im-") && n.endsWith(".avro")) ||
          // statistics sidecars churn per export like everything else:
          // un-listed here they LEAKED one stale file per export (an
          // analyzed streaming table grew its metadata dir unboundedly)
          (n.startsWith("stats-") && n.endsWith(".puffin")) ||
          (n.startsWith("pstats-") && n.endsWith(".avro"))
      } ++ (if (Files.isDirectory(expDel)) Fs.children(expDel).iterator
            else Iterator.empty)).toSeq
    def drop(p: Path): Unit =
      try { if (Files.isDirectory(p)) Fs.deleteRecursively(p) else Files.deleteIfExists(p) }
      catch { case _: Exception => () }
    val staleArtifacts = artifacts()
    val target = md.resolve(s"v${meta.version}.metadata.json")
    // every artifact the NEW snapshot references (reused or fresh) —
    // everything else that matches the export patterns is GC'd after
    // the publish
    val referenced = scala.collection.mutable.Set.empty[Path]
    val prevState = loadState(md)
    val newChunks = scala.collection.mutable.Map.empty[String, ChunkState]
    val newDeletes = scala.collection.mutable.Map.empty[String, String]
    var savedSvKey: Seq[String] = Nil // set inside the build (sv cache key)
    var savedSnaps: Map[Int, SnapState] = Map.empty
    val fileCount = try {

    val (schemaJ, lastColumnId) = schemaJson(meta.schema)
    val ids = topLevelIds(meta.schema)
    def uri(rel: String): String = dir.resolve(rel).toUri.toString

    // the unit of incremental export is graft's own immutable manifest
    // chunk; a (rare) metadata payload without chunk refs exports as
    // one synthetic never-cached chunk
    val chunkList: Seq[(String, () => Seq[ManifestEntry])] =
      if (meta.manifests.nonEmpty)
        meta.manifests.map(r => r.path -> (() => Manifests.read(md, r)))
      else if (meta.files.isEmpty) Nil
      else Seq("<inline>" -> (() => meta.files.map(f => ManifestEntry(
        f, meta.fileRows.get(f), meta.seqOf(f), meta.fileStats.getOrElse(f, Map.empty)))))
    val entryCache = scala.collection.mutable.Map.empty[String, Seq[ManifestEntry]]
    def entriesOf(key: String, get: () => Seq[ManifestEntry]): Seq[ManifestEntry] =
      entryCache.getOrElseUpdate(key, get())

    // The exported partition spec: identity fields for the table's
    // partition columns PLUS Iceberg's own transform fields for our
    // hidden partitioning (day/hour/month/year/truncate — they ARE
    // Iceberg spec transforms, so external engines regain partition
    // pruning on exactly the tables laid out for it). A field exports
    // iff every data file provably holds ONE tuple value for it:
    // footer min == max under the TRANSFORM (transforms here are
    // monotonic, so transform(min) == transform(max) covers every row
    // between) and zero nulls. Strings require short bounds — writers
    // may truncate long stats, and truncation-equal bounds do not
    // prove a single value (the caution FileSkipping's exact proofs
    // take). Identity columns are all-or-nothing (a decimal/binary
    // partition column falls back to the unpartitioned spec); an
    // unsupported hidden transform merely drops out. bucket(n)
    // exports iff the table bucketed with ICEBERG's hash
    // (graft.bucket.hash=iceberg): its tuple is the part-file index
    // (the write path made partition index = iceberg bucket id),
    // provable per file from the `b-` commit-dir contract plus zero
    // nulls in the bucket column (nulls route to bucket 0 physically,
    // which is not the spec's null tuple — refuse the claim instead).
    // Spark-hash buckets never export (murmur3 seed 42 ≠ Appendix B).
    val partCols = meta.partitionColumns
    val hiddenTs = HiddenPartitioning.specOf(meta.properties)
    def dtOf(c: String): Option[DataType] =
      meta.schema.fields.find(_.name == c).map(_.dataType)
    final case class PartField(
        name: String, srcCol: String, transform: String, avroType: String,
        value: String => AnyRef, prove: ColumnRange => Boolean,
        // path-derived fields (bucket): tuple/proof read the ENTRY, not
        // the column stats — None for the stat-derived field kinds
        pathValue: Option[String => AnyRef] = None,
        pathProve: Option[ManifestEntry => Boolean] = None)
    def tupleOf(f: PartField, e: ManifestEntry): AnyRef = f.pathValue match {
      case Some(pv) => pv(e.path)
      case None => e.stats.get(f.srcCol).map(cr => f.value(cr.min)).orNull
    }
    def proved(f: PartField, e: ManifestEntry): Boolean = f.pathProve match {
      case Some(pp) => pp(e)
      case None => e.stats.get(f.srcCol).exists(f.prove)
    }
    def identityField(c: String): Option[PartField] = dtOf(c).flatMap { dt =>
      val v: Option[String => AnyRef] = dt match {
        case ByteType | ShortType | IntegerType | DateType =>
          Some(s => Int.box(s.toInt))
        case LongType | TimestampType | TimestampNTZType =>
          Some(s => Long.box(s.toLong))
        case FloatType => Some(s => Float.box(s.toFloat))
        case DoubleType => Some(s => Double.box(s.toDouble))
        case BooleanType => Some(s => Boolean.box(s.toBoolean))
        case StringType => Some(s => s)
        case _ => None
      }
      v.map(f => PartField(c, c, "identity", avroPrimitive(dt), f,
        r => r.hasValues && r.nulls.contains(0L) && r.min == r.max &&
          (dt != StringType || r.min.length < 32)))
    }
    val MicrosPerDay = 86400000000L
    val MicrosPerHour = 3600000000L
    def hiddenField(t: HiddenPartitioning.HiddenTransform): Option[PartField] =
      dtOf(t.col).flatMap { dt =>
        def mk(suffix: String, tr: String, avro: String,
            f: String => AnyRef): Option[PartField] =
          Some(PartField(s"${t.col}_$suffix", t.col, tr, avro, f,
            r => r.hasValues && r.nulls.contains(0L) && f(r.min) == f(r.max) &&
              (dt != StringType || (r.min.length < 32 && r.max.length < 32))))
        // FooterStats renders dates as epoch-day, timestamps as UTC
        // micros — Iceberg's transform value domains derive directly
        def epochDay(s: String): Long = dt match {
          case DateType => s.toLong
          case _ => Math.floorDiv(s.toLong, MicrosPerDay)
        }
        (t.func, dt) match {
          case ("days", DateType | TimestampType | TimestampNTZType) =>
            mk("day", "day", """{"type": "int", "logicalType": "date"}""",
              s => Int.box(epochDay(s).toInt))
          case ("hours", TimestampType | TimestampNTZType) =>
            mk("hour", "hour", "\"int\"",
              s => Int.box(Math.floorDiv(s.toLong, MicrosPerHour).toInt))
          case ("months", DateType | TimestampType | TimestampNTZType) =>
            mk("month", "month", "\"int\"", s => {
              val ld = java.time.LocalDate.ofEpochDay(epochDay(s))
              Int.box((ld.getYear - 1970) * 12 + (ld.getMonthValue - 1))
            })
          case ("years", DateType | TimestampType | TimestampNTZType) =>
            mk("year", "year", "\"int\"",
              s => Int.box(java.time.LocalDate.ofEpochDay(epochDay(s)).getYear - 1970))
          case ("truncate", StringType) =>
            val w = t.width.get
            // Iceberg truncate[w] on strings counts Unicode CODE
            // POINTS, not UTF-16 units — take(w) would split a
            // surrogate pair and publish a tuple no external engine's
            // own truncate ever matches
            mk("trunc", s"truncate[$w]", "\"string\"", s => {
              val cps = s.codePointCount(0, s.length)
              s.substring(0, s.offsetByCodePoints(0, math.min(w, cps)))
            })
          case ("truncate", IntegerType | ShortType) =>
            val w = t.width.get
            mk("trunc", s"truncate[$w]", "\"int\"",
              s => { val x = s.toInt; Int.box(x - (((x % w) + w) % w)) })
          case ("truncate", LongType) =>
            val w = t.width.get.toLong
            mk("trunc", s"truncate[$w]", "\"long\"",
              s => { val x = s.toLong; Long.box(x - (((x % w) + w) % w)) })
          case _ => None
        }
      }
    val idFieldOpts = partCols.map(identityField)
    // bucket[n] candidate: iceberg-hash tables only; the tuple comes
    // from the part-file index (write path: partition index = iceberg
    // bucket id) and the proof demands a bucket-addressable path plus
    // zero nulls in the bucket column
    val bucketField: Option[PartField] =
      Bucketing.specOf(meta.properties)
        .filter(_ => Bucketing.icebergHash(meta.properties))
        .map { case (bcol, n) =>
          PartField(s"${bcol}_bucket", bcol, s"bucket[$n]", "\"int\"",
            value = _ => null, prove = _ => false,
            pathValue = Some(p => Bucketing.bucketIdOf(p).map(Int.box).orNull),
            pathProve = Some(e =>
              Bucketing.bucketIdOf(e.path).exists(_ < n) &&
                e.stats.get(bcol).exists(r => r.hasValues && r.nulls.contains(0L))))
        }
    val candidates: Seq[PartField] =
      if (!idFieldOpts.forall(_.isDefined)) Seq.empty
      else {
        // synthesized names (<col>_day, <col>_bucket, …) can collide
        // with a REAL identity partition column of that exact name —
        // duplicate field names are illegal in both the Iceberg spec
        // JSON and the Avro partition record (the mirror would fail on
        // every commit). The identity field wins; the colliding
        // synthesized field drops (lossy-but-honest, like every other
        // unsupported-transform fallback).
        val all = idFieldOpts.flatten ++ hiddenTs.flatMap(hiddenField) ++ bucketField
        val seen = scala.collection.mutable.Set.empty[String]
        all.filter(f => seen.add(f.name))
      }
    // the key the cached per-chunk verdicts were computed under — any
    // change in fields/transforms/source types invalidates them
    val svKey: Seq[String] =
      candidates.map(f => s"${f.transform}:${f.srcCol}:${f.avroType}")
    savedSvKey = svKey
    // per-chunk single-tuple verdicts, cached across mirror runs — the
    // chunk is immutable, so the verdict is a pure function of its
    // entries and the candidate fields; a cached verdict keeps even a
    // COLD driver's mirror update from parsing unchanged chunks
    val svByChunk: Map[String, Boolean] =
      if (candidates.isEmpty) Map.empty
      else chunkList.map { case (key, get) =>
        val cached =
          if (key != "<inline>" && prevState.partCols == svKey)
            prevState.chunks.get(key).map(_.sv)
          else None
        key -> cached.getOrElse {
          entriesOf(key, get).forall { e =>
            e.rows.contains(0L) || candidates.forall(f => proved(f, e))
          }
        }
      }.toMap
    val partitioned = candidates.nonEmpty && svByChunk.values.forall(identity)
    val specFields: Seq[(PartField, Int)] =
      if (!partitioned) Seq.empty
      else candidates.zipWithIndex.map { case (f, i) => (f, 1000 + i) }
    val specJson = JsonMethods.compact(JsonMethods.render(JArray(
      specFields.map { case (f, fid) =>
        JObject(
          "name" -> JString(f.name),
          "transform" -> JString(f.transform),
          "source-id" -> JInt(ids(f.srcCol)),
          "field-id" -> JInt(fid)): JValue
      }.toList)))
    val schemaStr = JsonMethods.compact(JsonMethods.render(schemaJ))
    // the (schema, partition-spec) fingerprint cached artifacts were
    // written under: a schema evolution or a flipped partition proof
    // changes it and forces chunk re-export
    val fp = sha1Hex(schemaStr + "|" + specJson, 5)
    val entrySchema = manifestEntrySchema(
      specFields.map { case (f, fid) => (f.name, f.avroType, fid) })
    val partSchema = entrySchema.getField("data_file").schema()
      .getField("partition").schema()
    // DELETE files export under their own UNPARTITIONED spec (id 1 when
    // the table spec has fields): Iceberg scopes delete files by
    // (spec, partition tuple) — a delete entry written under the
    // partitioned spec with a null tuple would be scoped to the null
    // partition and conformant readers would apply it to NOTHING. Our
    // delete entries are table-global, which is exactly what an
    // unpartitioned-spec delete means.
    val delSpecId = if (partitioned) 1 else 0
    val delEntrySchema =
      if (partitioned) manifestEntrySchema(Seq.empty) else entrySchema
    val emptyDelPart = new GenericData.Record(
      delEntrySchema.getField("data_file").schema().getField("partition").schema())

    def partRecord(e: ManifestEntry): GenericRecord = {
      val r = new GenericData.Record(partSchema)
      // each stat field's tuple derives from the footer min — the
      // chunk's proof already established transform(min)==transform(max);
      // the bucket field's tuple derives from the entry's path
      specFields.foreach { case (f, _) => r.put(f.name, tupleOf(f, e)) }
      r
    }

    // array-of-record element schemas for the int-keyed maps
    def intMapVal(dfs: Schema, field: String, kvs: Seq[(Int, AnyRef)]): AnyRef =
      if (kvs.isEmpty) null
      else {
        val arrSchema = dfs.getField(field).schema().getTypes.get(1)
        val arr = new GenericData.Array[GenericRecord](kvs.size, arrSchema)
        kvs.sortBy(_._1).foreach { case (k, v) =>
          val r = new GenericData.Record(arrSchema.getElementType)
          r.put("key", Int.box(k)); r.put("value", v); arr.add(r)
        }
        arr
      }

    def entry(
        filePath: String, content: Int, seq: Long, rows: Long, bytes: Long,
        part: GenericRecord, equalityIds: Seq[Int],
        stats: Map[String, ColumnRange] = Map.empty,
        es: Schema = entrySchema): GenericRecord = {
      val dfs = es.getField("data_file").schema()
      val df = new GenericData.Record(dfs)
      df.put("content", Int.box(content))
      df.put("file_path", filePath)
      df.put("file_format", "PARQUET")
      df.put("partition", part)
      df.put("record_count", Long.box(rows))
      df.put("file_size_in_bytes", Long.box(bytes))
      // per-column pruning stats (optional maps, omitted where unknown):
      // null counts + spec-serialized lower/upper bounds keyed by field
      // id — this is what lets an EXTERNAL engine file-skip our data
      val byId = stats.toSeq.flatMap { case (c, r) =>
        for {
          id <- ids.get(c)
          f <- meta.schema.fields.find(_.name == c)
        } yield (id, f.dataType, r)
      }
      df.put("null_value_counts", intMapVal(dfs, "null_value_counts",
        byId.flatMap { case (id, _, r) => r.nulls.map(n => id -> (Long.box(n): AnyRef)) }))
      df.put("lower_bounds", intMapVal(dfs, "lower_bounds",
        byId.flatMap { case (id, dt, r) =>
          if (!r.hasValues) None else boundBytes(dt, r.min).map(id -> (_: AnyRef)) }))
      df.put("upper_bounds", intMapVal(dfs, "upper_bounds",
        byId.flatMap { case (id, dt, r) =>
          if (!r.hasValues) None else boundBytes(dt, r.max).map(id -> (_: AnyRef)) }))
      df.put("equality_ids",
        if (equalityIds.isEmpty) null
        else new GenericData.Array[Integer](
          dfs.getField("equality_ids").schema().getTypes.get(1),
          equalityIds.map(Int.box).asJava))
      df.put("sort_order_id", null)
      val e = new GenericData.Record(es)
      e.put("status", Int.box(1)) // ADDED in this (exported) snapshot
      e.put("snapshot_id", Long.box(snapshotId))
      e.put("sequence_number", Long.box(seq))
      e.put("file_sequence_number", Long.box(seq))
      e.put("data_file", df)
      e
    }

    val emptyPart = new GenericData.Record(partSchema)
    specFields.foreach { case (f, _) => emptyPart.put(f.name, null) }

    def manifestMeta(content: String, spec: String, specId: Int) = Seq(
      "schema" -> schemaStr,
      "schema-id" -> "0",
      "partition-spec" -> spec,
      "partition-spec-id" -> specId.toString,
      "format-version" -> "2",
      "content" -> content)
    def listRecord(rel: String, len: Long, specId: Int, content: Int,
        minSeq: Long, maxSeq: Long, snap: Long, count: Int, rows: Long): GenericRecord = {
      val m = new GenericData.Record(manifestListSchema)
      m.put("manifest_path", uri(rel))
      m.put("manifest_length", Long.box(len))
      m.put("partition_spec_id", Int.box(specId))
      m.put("content", Int.box(content))
      m.put("sequence_number", Long.box(maxSeq))
      m.put("min_sequence_number", Long.box(minSeq))
      m.put("added_snapshot_id", Long.box(snap))
      m.put("added_files_count", Int.box(count))
      m.put("existing_files_count", Int.box(0))
      m.put("deleted_files_count", Int.box(0))
      m.put("added_rows_count", Long.box(rows))
      m.put("existing_rows_count", Long.box(0L))
      m.put("deleted_rows_count", Long.box(0L))
      m.put("partitions", null)
      m.put("key_metadata", null)
      m
    }
    // artifacts of THIS snapshot (recorded in the state so later
    // exports can retain the snapshot for external time travel)
    val snapRefs = scala.collection.mutable.ArrayBuffer.empty[String]
    def keep(rel: String): Unit = {
      referenced += dir.resolve(rel).toAbsolutePath.normalize
      snapRefs += rel
    }

    // ---- data manifests: one Avro per graft chunk, reused by
    // reference while the chunk lives and the fingerprint holds — the
    // incremental core. A reused chunk costs ZERO reads: its list-entry
    // fields come from the mirror state.
    // Per-partition totals (rows, files, bytes) accumulate per chunk
    // for the partition-statistics file: computed when the chunk's
    // Avro is written (sizes are stat'd there anyway), cached in the
    // state, merged at O(chunks × partitions-per-chunk) per export. A
    // pre-parts state migrates per chunk with one entry+size pass —
    // unless that needs a row recount without a session, in which case
    // this export honestly skips the partition-statistics entry
    // (partsComplete) rather than fail pure-append maintenance.
    val partTotals = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    var partsComplete = true
    def tupleKey(e: ManifestEntry): String =
      if (partitioned) encodeTuple(specFields.map { case (f, _) => tupleOf(f, e) })
      else "[]"
    def partAgg(sized: Seq[(ManifestEntry, Long, Long)])
        : Map[String, (Long, Long, Long)] = {
      val m = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
      sized.foreach { case (e, rows, bytes) =>
        val k = tupleKey(e)
        val (r0, f0, b0) = m.getOrElse(k, (0L, 0L, 0L))
        m(k) = (r0 + rows, f0 + 1L, b0 + bytes)
      }
      m.toMap
    }
    val dataManifests: Seq[GenericRecord] = chunkList.flatMap { case (key, get) =>
      val reused =
        if (key == "<inline>") None
        else prevState.chunks.get(key).filter(c =>
          c.fp == fp && Files.isRegularFile(dir.resolve(c.avro)))
      reused.foreach(_ => chunksReused.incrementAndGet())
      val st = reused.orElse {
        val entries = entriesOf(key, get)
        if (entries.isEmpty) None
        else {
          val sized = entries.map(e => (e,
            e.rows.getOrElse(sparkCount(spark, dir, e.path)),
            Files.size(dir.resolve(e.path))))
          val records = sized.map { case (e, rows, bytes) =>
            val part = if (partitioned) partRecord(e) else emptyPart
            entry(uri(e.path), content = 0, seq = e.seq.toLong,
              rows = rows, bytes = bytes, part, Nil, e.stats)
          }
          val base =
            if (key == "<inline>") s"inline-${UUID.randomUUID().toString.take(12)}"
            else key.stripPrefix("m-").stripSuffix(".json")
          val rel = s"metadata/im-d-$fp-$base.avro"
          val len = writeAvro(dir.resolve(rel), entrySchema,
            manifestMeta("data", specJson, 0), records)
          avroBytesWritten.addAndGet(len)
          chunksWritten.incrementAndGet()
          Some(ChunkState(rel, len,
            entries.map(_.seq).min.toLong, entries.map(_.seq).max.toLong,
            sized.map(_._2).sum,
            entries.size, snapshotId, svByChunk.getOrElse(key, true), fp,
            parts = Some(partAgg(sized))))
        }
      }
      // migration: a reused chunk from a pre-parts state fills its
      // per-partition totals once (entry+size pass over THAT chunk)
      val stFilled = st.map { c =>
        if (c.parts.isDefined) c
        else {
          val entries = entriesOf(key, get)
          if (entries.exists(_.rows.isEmpty) && spark == null) {
            partsComplete = false; c
          } else c.copy(parts = Some(partAgg(entries.map(e => (e,
            e.rows.getOrElse(sparkCount(spark, dir, e.path)),
            Files.size(dir.resolve(e.path)))))))
        }
      }
      stFilled.map { c =>
        // refresh the sv verdict even on Avro reuse: the Avro depends
        // only on fp, but sv is keyed by svKey — a transform change
        // that leaves fp intact (unpartitioned → unpartitioned) would
        // otherwise persist a verdict computed under the OLD key
        if (key != "<inline>")
          newChunks(key) = c.copy(sv = svByChunk.getOrElse(key, true))
        c.parts match {
          case Some(p) => p.foreach { case (k, (r, f, b)) =>
            val (r0, f0, b0) = partTotals.getOrElse(k, (0L, 0L, 0L))
            partTotals(k) = (r0 + r, f0 + f, b0 + b)
          }
          case None => partsComplete = false
        }
        keep(c.avro)
        listRecord(c.avro, c.len, 0, 0, c.minSeq, c.maxSeq, c.snap, c.count, c.rows)
      }
    }

    // ---- delete files: rewrite into spec shapes with field IDs.
    // Rewritten parquets are cached by their immutable source path —
    // only deletes NEW since the last export touch Spark.
    Files.createDirectories(expDel)
    def withFieldIds(st: StructType, idOf: String => Int): StructType =
      StructType(st.fields.map { f =>
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong("parquet.field.id", idOf(f.name).toLong).build())
      })
    def shaName(s: String): String = sha1Hex(s, 6)
    // equality rewrites embed schema field ids → fingerprint-scoped;
    // position rewrites use the spec's reserved ids → stable
    def delRel(d: DeleteFile): String =
      if (d.isPositional) s"deletes-iceberg/pos-${shaName(d.path)}-${d.seq}.parquet"
      else s"deletes-iceberg/eq-$fp-${shaName(d.path)}-${d.seq}.parquet"
    def delKey(d: DeleteFile): String = s"${d.path}@${d.seq}"
    val toRewrite = meta.deleteFiles.filter { d =>
      !(prevState.deletes.get(delKey(d)).contains(delRel(d)) &&
        Files.isRegularFile(dir.resolve(delRel(d))))
    }
    if (toRewrite.nonEmpty) {
      require(spark != null,
        "iceberg export: rewriting delete files requires an active SparkSession")
      SessionConf.withConf(spark,
        "spark.sql.parquet.fieldId.write.enabled", "true") { toRewrite.foreach { d =>
        // the entry's own parquet holds the full (possibly consolidated)
        // tuple set; components may already be vacuumed
        val src = spark.read.parquet(dir.resolve(d.path).toString)
        val rel = delRel(d)
        if (d.isPositional) {
          val prefix = dir.toUri.toString
          val rewritten = src
            .select(
              org.apache.spark.sql.functions.concat(
                org.apache.spark.sql.functions.lit(prefix),
                col(DeleteFile.PosFileCol)).as("file_path"),
              col(DeleteFile.PosPosCol).cast(LongType).as("pos"))
            .orderBy(col("file_path"), col("pos"))
          writeSingleParquet(rewritten, withFieldIds(
            StructType(Seq(
              StructField("file_path", StringType, nullable = false),
              StructField("pos", LongType, nullable = false))),
            Map("file_path" -> PosPathFieldId, "pos" -> PosPosFieldId)), dir, rel)
        } else {
          val keySchema = StructType(d.keyColumns.map(c => meta.schema(c)))
          writeSingleParquet(src.select(d.keyColumns.map(col): _*),
            withFieldIds(keySchema, ids), dir, rel)
        }
        deleteBytesRewritten.addAndGet(Files.size(dir.resolve(rel)))
      } }
    }
    val deleteEntries = meta.deleteFiles.map { d =>
      val rel = delRel(d)
      newDeletes(delKey(d)) = rel
      keep(rel)
      entry(uri(rel),
        content = if (d.isPositional) 1 else 2,
        seq = d.seq.toLong, rows = d.rows,
        bytes = Files.size(dir.resolve(rel)), emptyDelPart,
        if (d.isPositional) Nil else d.keyColumns.map(ids(_)),
        es = delEntrySchema)
    }

    // ---- delete manifest (tiny, churns with consolidation — rebuilt
    // per export) + manifest list
    val delManifest: Option[GenericRecord] =
      if (deleteEntries.isEmpty) None
      else {
        val rel = s"metadata/im-x-$fp-${UUID.randomUUID().toString.take(12)}.avro"
        val len = writeAvro(dir.resolve(rel), delEntrySchema,
          manifestMeta("deletes", if (partitioned) "[]" else specJson, delSpecId),
          deleteEntries)
        avroBytesWritten.addAndGet(len)
        keep(rel)
        val seqs = deleteEntries.map(_.get("sequence_number").asInstanceOf[Long])
        val rows = deleteEntries.map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("record_count").asInstanceOf[Long]).sum
        Some(listRecord(rel, len, delSpecId, 1, seqs.min, seqs.max, snapshotId,
          deleteEntries.size, rows))
      }
    val manifests = dataManifests ++ delManifest.toSeq
    val listRel = s"metadata/snap-$snapshotId-${UUID.randomUUID().toString.take(12)}.avro"
    writeAvro(dir.resolve(listRel), manifestListSchema,
      Seq(
        "snapshot-id" -> snapshotId.toString,
        "sequence-number" -> meta.version.toString,
        "format-version" -> "2"),
      manifests)
    keep(listRel)

    // ---- snapshot history: previously exported snapshots whose graft
    // version is still live (not expired) carry forward VERBATIM —
    // their rendered snapshot JSON and transitive artifact lists come
    // from the mirror state with zero re-reads, and graft tags publish
    // as Iceberg tag refs, so external engines time-travel to exactly
    // the snapshots graft itself retains (`VERSION AS OF '<tag>'`'s
    // external face). Expiring a graft version retires its exported
    // snapshot and releases its artifacts to GC on the next export.
    // fp guard: the document publishes only the CURRENT schema (id 0)
    // and spec (id 0), so a snapshot exported under a DIFFERENT
    // (schema, spec) fingerprint must drop out — carrying it would
    // make external readers decode its partition tuples / columns with
    // the wrong definitions. Honest degradation: the snapshot stays
    // time-travelable in graft; it just leaves the external mirror.
    val retainedSnaps: Seq[(Int, SnapState)] = prevState.snaps.toSeq
      .filter { case (v, s) =>
        v < meta.version && s.fp == fp && TableMetadata.versionIsLive(dir, v)
      }.sortBy(_._1)
    retainedSnaps.foreach(_._2.artifacts.foreach(rel =>
      referenced += dir.resolve(rel).toAbsolutePath.normalize))
    val snapJson: JObject = JObject(
      "snapshot-id" -> JLong(snapshotId),
      "sequence-number" -> JInt(meta.version),
      "timestamp-ms" -> JLong(nowMs),
      "manifest-list" -> JString(uri(listRel)),
      "summary" -> JObject(
        "operation" -> JString("append"),
        "total-records" -> JString(
          meta.files.map(f => meta.fileRows.getOrElse(f, 0L)).sum.toString),
        "total-data-files" -> JString(meta.files.size.toString)),
      "schema-id" -> JInt(0))
    val liveIds = retainedSnaps.map(_._1).toSet + meta.version
    val tagRefs: List[(String, JValue)] = meta.properties.toList.collect {
      case (k, v) if k.startsWith(Maintenance.TagPrefix) &&
          v.toIntOption.exists(liveIds) =>
        k.stripPrefix(Maintenance.TagPrefix) -> (JObject(
          "snapshot-id" -> JLong(v.toLong),
          "type" -> JString("tag")): JValue)
    }.sortBy(_._1)
    savedSnaps = retainedSnaps.toMap + (meta.version -> SnapState(
      JsonMethods.compact(JsonMethods.render(snapJson)), snapRefs.toSeq, fp))

    // ---- ANALYZE statistics → the spec's `statistics` list ----------
    // NDV the engine already measured (TableStats, HLL++) publishes as
    // a Puffin statistics file, so an external engine plans against
    // the numbers instead of re-ANALYZE-ing 100 TB. Stats are a
    // snapshot of their `graft.stats.version` and may trail the data
    // (the same drift every warehouse's ANALYZE has); the version is
    // recorded on every blob so a reader can judge staleness.
    val statisticsJson: Option[JValue] = {
      val ndvs: Seq[(Int, Long, String)] = meta.schema.fieldNames.toSeq.flatMap { c =>
        meta.properties.get(TableStats.colProp(c)).flatMap { encoded =>
          encoded.split(':').headOption.flatMap(_.toLongOption)
            .filter(_ >= 0L)
            .flatMap(ndv => ids.get(c).map(id => (id, ndv, encoded)))
        }
      }
      if (ndvs.isEmpty) None
      else {
        val rel =
          s"metadata/stats-$snapshotId-${UUID.randomUUID().toString.take(12)}.puffin"
        val (size, footerSize, blobMeta) = writePuffin(dir.resolve(rel),
          snapshotId, meta.version, ndvs,
          meta.properties.get(TableStats.VersionProp))
        keep(rel)
        Some(JObject(
          "snapshot-id" -> JLong(snapshotId),
          "statistics-path" -> JString(uri(rel)),
          "file-size-in-bytes" -> JLong(size),
          "file-footer-size-in-bytes" -> JLong(footerSize),
          "blob-metadata" -> JArray(blobMeta)))
      }
    }

    // ---- partition statistics → the spec's `partition-statistics` ----
    // Per-partition data_record_count / data_file_count /
    // total_data_file_size_in_bytes under the exported default spec
    // (field ids 1-5 per the Iceberg spec's partition-statistics file
    // schema), written as an Avro data file — aggregated from the
    // per-chunk totals above, so maintenance is O(chunks), never
    // O(files). External CBO gets per-partition row counts instead of
    // re-deriving them from every manifest; unpartitioned tables
    // publish the single empty-tuple row (the unified partition type
    // is an empty struct). Skipped (partsComplete=false) only when a
    // pre-parts state needs a row recount without a session — honest
    // degradation, the next sessioned export heals it.
    val partitionStatsJson: Option[JValue] =
      if (!partsComplete) None
      else {
        val rel =
          s"metadata/pstats-$snapshotId-${UUID.randomUUID().toString.take(12)}.avro"
        val partJson2 = specFields.map { case (f, fid) =>
          s"""{"name": "${f.name}", "type": ["null", ${f.avroType}], "field-id": $fid, "default": null}"""
        }.mkString(",\n")
        val pss = new Schema.Parser().parse(
          s"""{"type": "record", "name": "partition_statistics", "fields": [
             |{"name": "partition", "field-id": 1, "type":
             |  {"type": "record", "name": "r1", "fields": [$partJson2]}},
             |${af("spec_id", "\"int\"", 2, optional = false)},
             |${af("data_record_count", "\"long\"", 3, optional = false)},
             |${af("data_file_count", "\"int\"", 4, optional = false)},
             |${af("total_data_file_size_in_bytes", "\"long\"", 5, optional = false)}
             |]}""".stripMargin)
        val partRecSchema = pss.getField("partition").schema()
        val recs = partTotals.toSeq.sortBy(_._1).map {
          case (tup, (rows, nFiles, bytes)) =>
            val pr = new GenericData.Record(partRecSchema)
            if (partitioned)
              specFields.zip(decodeTuple(tup)).foreach { case ((f, _), v) =>
                pr.put(f.name, v.map(decodeTupleVal(f.avroType, _)).orNull)
              }
            val r = new GenericData.Record(pss)
            r.put("partition", pr)
            r.put("spec_id", Int.box(0))
            r.put("data_record_count", Long.box(rows))
            r.put("data_file_count", Int.box(nFiles.toInt))
            r.put("total_data_file_size_in_bytes", Long.box(bytes))
            r
        }
        val len = writeAvro(dir.resolve(rel), pss,
          Seq("format-version" -> "2"), recs)
        keep(rel)
        Some(JObject(
          "snapshot-id" -> JLong(snapshotId),
          "statistics-path" -> JString(uri(rel)),
          "file-size-in-bytes" -> JLong(len)))
      }

    // ---- metadata.json
    // the write sort order publishes as an identity-ascending Iceberg
    // sort order (id 1) so a round-trip import keeps the layout hint
    val sortCols = WriteSortOrder.colsOf(meta.properties).filter(ids.contains)
    val tableUuid = UUID.nameUUIDFromBytes(
      ("graft-iceberg:" + dir.toAbsolutePath.normalize.toString)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    val userProps = meta.properties.filterNot(_._1.startsWith("graft."))
    val metadataJson = JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(tableUuid),
      "location" -> JString(dir.toUri.toString.stripSuffix("/")),
      "last-sequence-number" -> JInt(meta.version),
      "last-updated-ms" -> JLong(nowMs),
      "last-column-id" -> JInt(lastColumnId),
      "current-schema-id" -> JInt(0),
      "schemas" -> JArray(List(schemaJ)),
      "default-spec-id" -> JInt(0),
      "partition-specs" -> JArray(
        List(JObject(
          "spec-id" -> JInt(0),
          "fields" -> JsonMethods.parse(specJson))) ++
          (if (partitioned) List(JObject(
            "spec-id" -> (JInt(1): JValue),
            "fields" -> (JArray(Nil): JValue)): JValue) else Nil)),
      "last-partition-id" -> JInt(if (specFields.isEmpty) 999 else specFields.map(_._2).max),
      "default-sort-order-id" -> JInt(if (sortCols.isEmpty) 0 else 1),
      "sort-orders" -> JArray(
        JObject("order-id" -> JInt(0), "fields" -> JArray(Nil)) ::
          (if (sortCols.isEmpty) Nil
           else List(JObject(
             "order-id" -> (JInt(1): JValue),
             "fields" -> (JArray(sortCols.map(c => JObject(
               "transform" -> JString("identity"),
               "source-id" -> JInt(ids(c)),
               "direction" -> JString("asc"),
               "null-order" -> JString("nulls-first")): JValue).toList): JValue)): JValue))),
      "properties" -> JObject(
        (userProps + ("schema.name-mapping.default" ->
          JsonMethods.compact(JsonMethods.render(nameMapping(meta.schema)))))
          .toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }),
      "current-snapshot-id" -> JLong(snapshotId),
      "snapshots" -> JArray(
        retainedSnaps.map { case (_, s) => JsonMethods.parse(s.json) }.toList :+
          (snapJson: JValue)),
      "snapshot-log" -> JArray(
        retainedSnaps.map { case (v, s) =>
          JObject(
            "timestamp-ms" -> (JsonMethods.parse(s.json) \ "timestamp-ms"),
            "snapshot-id" -> JLong(v.toLong)): JValue
        }.toList :+ (JObject(
          "timestamp-ms" -> JLong(nowMs),
          "snapshot-id" -> JLong(snapshotId)): JValue)),
      "metadata-log" -> JArray(Nil),
      "refs" -> JObject(
        ("main" -> (JObject(
          "snapshot-id" -> JLong(snapshotId),
          "type" -> JString("branch")): JValue)) :: tagRefs),
      "statistics" -> JArray(statisticsJson.toList),
      "partition-statistics" -> JArray(partitionStatsJson.toList))
    val tmp = Files.createTempFile(md, ".icemeta-", ".tmp")
    try {
      Files.writeString(tmp, JsonMethods.pretty(JsonMethods.render(metadataJson)))
      Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    (meta.files.size + deleteEntries.size).toLong

    } catch {
      case e: Throwable =>
        // a failed attempt rolls back ITS artifacts only (everything
        // matching the export patterns that predates this call stays —
        // the last working mirror survives a mid-export throw)
        val stale = staleArtifacts.toSet
        artifacts().filterNot(p => stale(p) || p == target).foreach(drop)
        throw e
    }
    // the new export is live: persist the reuse state (best-effort — a
    // lost state only costs the next export a rebuild), then retire
    // every pattern-matching artifact the new snapshot doesn't
    // reference. A same-version re-export already swapped metadata.json
    // in place via REPLACE_EXISTING, so the target itself never drops.
    try saveState(md, MirrorState(
      savedSvKey, newChunks.toMap, newDeletes.toMap, savedSnaps))
    catch { case _: Exception => () }
    // retain the metadata DOCUMENTS of retained snapshots too: an
    // external reader that loaded the hint just before this export
    // published still resolves its (previous) version's document. A
    // historical document serves its OWN snapshot; refs/snapshot
    // entries inside it may dangle after later expiry — readers doing
    // time travel should refresh to the hinted document first. The
    // version the hint CURRENTLY names is always kept even when its
    // snapshot just left the retained set (e.g. a fingerprint change):
    // the hint advances only after this export returns, so dropping
    // that document would crash readers inside the publish window.
    val hintNow =
      try Files.readString(md.resolve("version-hint.text")).trim.toIntOption.getOrElse(-1)
      catch { case _: Exception => -1 }
    val DocName = """v(\d+)\.metadata\.json""".r
    def retainedDoc(p: Path): Boolean = p.getFileName.toString match {
      case DocName(v) => v.toIntOption.exists(n => savedSnaps.contains(n) || n == hintNow)
      case _ => false
    }
    staleArtifacts.filterNot(p =>
      p == target || retainedDoc(p) ||
        referenced(p.toAbsolutePath.normalize)).foreach(drop)
    // this export succeeded: any recorded mirror-failure state is healed
    try Files.deleteIfExists(staleMarker(dir)) catch { case _: Exception => () }
    fileCount
  }

  /** Row count fallback for files missing from fileRows (pre-rows-era
    * metadata): parquet footer count via a metadata-only read. */
  private def sparkCount(spark: SparkSession, dir: Path, rel: String): Long = {
    require(spark != null,
      s"iceberg export: counting pre-rows-era file $rel requires a SparkSession")
    spark.read.parquet(dir.resolve(rel).toString).count()
  }

  /** Write `df` as EXACTLY ONE parquet file at `rel` (delete files are
    * single spec objects, not directories). Coalesce(1) is safe: delete
    * parquets are O(changed rows), never corpus-sized. Names are
    * deterministic (cache keys): a re-export after state loss
    * legitimately replaces the identical previous rewrite. */
  private def writeSingleParquet(
      df: org.apache.spark.sql.DataFrame,
      schema: StructType,
      dir: Path, rel: String): Unit =
    // carry the parquet.field.id metadata through a plain select — the
    // writer reads it off the schema when fieldId.write is enabled
    CommitFiles.writeOne(df.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name, f.metadata)).toSeq: _*), dir, rel)
}
