package graft.catalog

import java.io.{DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deletion vectors for consolidated positional deletes — the roaring-
  * bitmap idea (Iceberg v3 DVs / Delta deletion vectors) in a
  * self-contained blob: per target data file, the SORTED row positions
  * its pending positional deletes kill. Consolidation writes one blob
  * next to the merged tuple parquet; the merged read then applies it as
  * a row-local FILTER — a codegen'd binary search per row — instead of
  * an anti-join, deleting a shuffle/broadcast stage from every read of
  * a dirty file.
  *
  * Format (`deletes/dv<version>-<uuid>.bin`, immutable, UUID-named):
  * magic `GDV1`, int32 file count, then per file: UTF int16-length
  * path, int32 position count, positions as zigzag-free delta varints
  * (sorted ascending, first absolute). Delta-varint keeps dense delete
  * runs at ~1 byte/position — the compression that matters here;
  * an actual roaring container layout would save little on top and
  * cost a dependency this build cannot take (zero egress).
  *
  * Scale bound: the vector ships to every task inside the filter
  * expression, so blobs are only written when the consolidated group
  * holds at most `spark.graft.dv.maxPositions` (default 1M ≈ 8 MB
  * heap) positions. Larger delete sets keep the anti-join — at that
  * volume the right fix is compaction, which rewrites the files and
  * drops the entries entirely. The tuple parquet is still written
  * either way: it remains the source of truth for time travel, export,
  * and the fallback read.
  */
object DeletionVectors {

  val Magic = 0x47445631 // "GDV1"
  val MaxPositionsConf = "spark.graft.dv.maxPositions"
  val DefaultMaxPositions = 1000000L

  /** Process-wide cache — blobs are immutable and UUID-named, same
    * staleness-free reasoning as [[Manifests]]' chunk cache. Bounded by
    * total positions held. */
  private val MaxCachedPositions = 4000000L
  private val cache = new java.util.LinkedHashMap[String, Map[String, Array[Long]]](16, 0.75f, true)
  private var cachedPositions = 0L

  def write(tableDir: Path, rel: String, positions: Map[String, Array[Long]]): Unit = {
    val target = tableDir.resolve(rel)
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".dv-", ".tmp")
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(Files.newOutputStream(tmp)))
    try {
      out.writeInt(Magic)
      out.writeInt(positions.size)
      positions.toSeq.sortBy(_._1).foreach { case (file, ps) =>
        out.writeUTF(file)
        out.writeInt(ps.length)
        var prev = 0L
        var i = 0
        while (i < ps.length) {
          var delta = if (i == 0) ps(0) else ps(i) - prev
          require(delta >= 0, s"positions for $file not sorted")
          prev = ps(i)
          // unsigned varint
          while ((delta & ~0x7fL) != 0L) {
            out.writeByte(((delta & 0x7f) | 0x80).toInt); delta >>>= 7
          }
          out.writeByte(delta.toInt)
          i += 1
        }
      }
    } finally out.close()
    try Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    finally Files.deleteIfExists(tmp)
  }

  def read(tableDir: Path, rel: String): Map[String, Array[Long]] = {
    val key = tableDir.resolve(rel).toAbsolutePath.normalize.toString
    cache.synchronized(Option(cache.get(key))) match {
      case Some(hit) => hit
      case None =>
        val in = new DataInputStream(
          new java.io.BufferedInputStream(Files.newInputStream(tableDir.resolve(rel))))
        val m = try {
          require(in.readInt() == Magic, s"not a deletion vector blob: $rel")
          val nFiles = in.readInt()
          (0 until nFiles).map { _ =>
            val file = in.readUTF()
            val n = in.readInt()
            val arr = new Array[Long](n)
            var prev = 0L
            var i = 0
            while (i < n) {
              var shift = 0; var v = 0L; var b = 0
              do {
                b = in.readUnsignedByte()
                v |= (b & 0x7fL) << shift; shift += 7
              } while ((b & 0x80) != 0)
              prev = if (i == 0) v else prev + v
              arr(i) = prev
              i += 1
            }
            file -> arr
          }.toMap
        } finally in.close()
        cache.synchronized {
          if (cache.put(key, m) == null) cachedPositions += m.valuesIterator.map(_.length.toLong).sum
          val it = cache.entrySet().iterator()
          while (cachedPositions > MaxCachedPositions && it.hasNext) {
            val eldest = it.next()
            if (eldest.getKey != key) {
              cachedPositions -= eldest.getValue.valuesIterator.map(_.length.toLong).sum
              it.remove()
            }
          }
        }
        m
    }
  }

  /** Union several blobs (distinct vector paths of one entry group)
    * into one lookup table, as a java map of sorted arrays — the shape
    * [[PosDeleted]]'s generated code binary-searches. */
  def loadAll(tableDir: Path, rels: Seq[String]): java.util.HashMap[String, Array[Long]] = {
    val merged = new java.util.HashMap[String, Array[Long]]()
    rels.foreach { rel =>
      read(tableDir, rel).foreach { case (f, ps) =>
        val prev = merged.get(f)
        merged.put(f,
          if (prev == null) ps
          else (prev ++ ps).distinct.sorted)
      }
    }
    merged
  }

  private[graft] def clearCacheForTesting(): Unit =
    cache.synchronized { cache.clear(); cachedPositions = 0 }
}

/** `PosDeleted(dv, file, pos)` — true when the deletion vector marks
  * row `pos` of data file `file` deleted. Codegen'd lookup + binary
  * search: stays inside whole-stage codegen, so applying deletion
  * vectors costs a comparison cascade per row, not a join. `dv` rides
  * along as a reference object (broadcast with the serialized plan —
  * bounded by [[DeletionVectors.MaxPositionsConf]] at write time). */
@ExpressionDescription(usage = "_FUNC_(file, pos) - deletion-vector membership probe")
case class PosDeleted(
    dv: java.util.HashMap[String, Array[Long]],
    left: Expression,
    right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "pos_deleted"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == StringType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pos_deleted needs (string, bigint), got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override protected def nullSafeEval(f: Any, p: Any): Any = {
    val arr = dv.get(f.asInstanceOf[UTF8String].toString)
    arr != null && java.util.Arrays.binarySearch(arr, p.asInstanceOf[Long]) >= 0
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dvRef = ctx.addReferenceObj("dv", dv, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, (f, p) => {
      val arr = ctx.freshName("dvArr")
      s"""
         |long[] $arr = (long[]) $dvRef.get($f.toString());
         |${ev.value} = $arr != null &&
         |  java.util.Arrays.binarySearch($arr, $p) >= 0;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
