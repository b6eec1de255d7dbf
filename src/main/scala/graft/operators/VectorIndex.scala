package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) vector index materialized INTO the lakehouse
  * catalog: the coarse quantizer is trained driver-side on a bounded
  * sample, every vector is assigned its nearest centroid with a
  * codegen'd argmin, and the corpus is written to a lakehouse table
  * PARTITIONED BY (cell). The insert path clusters files by partition
  * column and records per-file min/max stats, so an ANN probe that
  * filters `cell IN (<nprobe closest>)` prunes to nprobe/k of the DATA
  * FILES from metadata alone — the property that makes IVF the 100 TB
  * similarity-search layout (FAISS's IVF list = our partition;
  * reference's Iceberg partition pruning = our file skipping).
  */
object VectorIndex {

  /** Deterministic Lloyd k-means on a driver-side sample: init = first
    * k sample points, so the quantizer is bit-reproducible across runs
    * and scale factors. Training on a bounded sample (FAISS trains on
    * ~256·k points) keeps index build one distributed pass: only the
    * assignment touches the full corpus. */
  def trainKMeans(sample: Array[Array[Float]], k: Int, iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "k-means: empty training sample")
    val dim = sample.head.length
    val cent = Array.tabulate(k)(i => sample(i % sample.length).map(_.toDouble))
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dd = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cent(c)(i); dd += t * t; i += 1 }
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        cnts(best) += 1
      }
      for (c <- 0 until k if cnts(c) > 0; i <- 0 until dim)
        cent(c)(i) = sums(c)(i) / cnts(c)
    }
    cent
  }

  /** Nearest-centroid cell id for a float-vector column: codegen'd
    * argmin over the broadcast centroid array — array_min on
    * struct(dist, cell) is the deterministic (dist, then cell) argmin. */
  def cellOf(v: Column, cents: Array[Array[Double]]): Column = {
    val k = cents.length
    val centArr = typedLit(cents.map(_.toSeq).toSeq)
    val centNorm = typedLit(cents.map(c => c.map(x => x * x).sum).toSeq)
    array_min(transform(sequence(lit(0), lit(k - 1)), c =>
      struct(
        (element_at(centNorm, c + 1) -
          lit(2.0) * call_function("vec_dot_d", v, element_at(centArr, c + 1))).as("dist"),
        c.as("cell")))).getField("cell")
  }

  /** Per-subspace PQ codebooks: split each sample vector into `m`
    * contiguous `subDim`-wide slices and train an independent
    * `kCodes`-centroid quantizer per slice (Jégou et al. 2011, product
    * quantization). Deterministic for the same reason trainKMeans is. */
  def trainPq(
      sample: Array[Array[Float]],
      m: Int,
      subDim: Int,
      kCodes: Int,
      iters: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m) { j =>
      trainKMeans(sample.map(_.slice(j * subDim, (j + 1) * subDim)), kCodes, iters)
    }

  /** PQ code array for a float-vector column: per subspace, the same
    * codegen'd argmin as [[cellOf]] over that subspace's codebook —
    * encode is a row-local expression, no UDF, no extra pass. */
  def codesOf(v: Column, books: Array[Array[Array[Double]]]): Column = {
    val subDim = books(0)(0).length
    array(books.indices.map(j =>
      cellOf(slice(v, j * subDim + 1, subDim), books(j)).cast("int")): _*)
  }

  /** ADC lookup table for one query vector (Jégou et al. 2011 §IV):
    * `lut(j·kCodes + c)` = that query subvector's dot with codebook j's
    * centroid c — the bounded per-query driver state ADC search ships
    * as a broadcast. ONE copy shared by [[queryAdc]] and the in-query
    * PQ path (q29f) so the LUT layout can never diverge from
    * [[adcDot]]'s indexing. */
  def adcLut(qv: Array[Float], books: Array[Array[Array[Double]]]): Seq[Double] = {
    val m = books.length
    val kCodes = books(0).length
    val subDim = books(0)(0).length
    for (j <- 0 until m; c <- 0 until kCodes) yield {
      var acc = 0.0
      var i = 0
      while (i < subDim) { acc += qv(j * subDim + i).toDouble * books(j)(c)(i); i += 1 }
      acc
    }
  }

  /** The in-plan ADC approximate dot: Σ_j lut(j·kCodes + codes(j)),
    * pure element_at arithmetic over the broadcast LUT column. */
  def adcDot(lut: Column, codes: Column, m: Int, kCodes: Int): Column =
    (0 until m).map(j =>
      element_at(lut,
        (lit(j * kCodes) + element_at(codes, j + 1) + lit(1)).cast("int")))
      .reduce(_ + _)

  /** Train a quantizer on `embeddings` (columns vec_id, embedding) and
    * materialize the cell-partitioned index table. Returns the
    * centroids (the query-side probe list is computed from them). */
  def build(
      spark: SparkSession,
      embeddings: DataFrame,
      table: String,
      k: Int = 16,
      sampleN: Int = 2048,
      iters: Int = 3): Array[Array[Double]] = {
    val sample = embeddings.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val cents = trainKMeans(sample, k, iters)
    spark.sql(
      s"CREATE TABLE $table (vec_id BIGINT, embedding ARRAY<FLOAT>, cell INT) PARTITIONED BY (cell)")
    embeddings.select(col("vec_id"), col("embedding"),
        cellOf(col("embedding"), cents).cast("int").as("cell"))
      .createOrReplaceTempView("ivf_src")
    spark.sql(s"INSERT INTO $table SELECT vec_id, embedding, cell FROM ivf_src")
    cents
  }

  // ---- incremental maintenance -------------------------------------------
  //
  // The quantizer is part of the index: centroids, training error, and
  // the covered source version persist as index-table properties, so a
  // later refresh can (a) assign cells to ONLY the appended vectors
  // with the stored centroids — one pass over the delta, old index
  // files untouched — and (b) detect distribution drift (new vectors
  // quantizing much worse than the training sample) and re-train only
  // then. Same contract as MaterializedView.refresh over
  // Maintenance.changesBetween.

  val SourceProp = "graft.ivf.source"
  val VersionProp = "graft.ivf.sourceVersion"
  val CentroidsProp = "graft.ivf.centroids"
  val TrainErrProp = "graft.ivf.trainErr"
  val KProp = "graft.ivf.k"
  val SampleNProp = "graft.ivf.sampleN"
  val ItersProp = "graft.ivf.iters"
  // PQ half (IVF-PQ): codebooks persist WITH the index, so ADC search
  // and incremental refresh never re-train or re-encode the corpus
  val PqBooksProp = "graft.pq.codebooks"
  val PqMProp = "graft.pq.m"
  val PqKCodesProp = "graft.pq.kCodes"

  private def encodeCents(cents: Array[Array[Double]]): String =
    cents.map(_.mkString(",")).mkString(";")

  private def decodeCents(s: String): Array[Array[Double]] =
    s.split(';').map(_.split(',').map(_.toDouble))

  private def encodeBooks(books: Array[Array[Array[Double]]]): String =
    books.map(encodeCents).mkString("|")

  private def decodeBooks(s: String): Array[Array[Array[Double]]] =
    s.split('|').map(decodeCents)

  /** Mean squared distance to the nearest centroid — the quantization
    * error the drift check compares. */
  private def meanErr(sample: Array[Array[Float]], cents: Array[Array[Double]]): Double =
    if (sample.isEmpty) 0.0
    else sample.map { v =>
      cents.map { c =>
        var dd = 0.0; var i = 0
        while (i < c.length) { val t = v(i) - c(i); dd += t * t; i += 1 }
        dd
      }.min
    }.sum / sample.length

  private def fq(catalog: String, namespace: Seq[String], name: String): String =
    (catalog +: namespace :+ name).mkString(".")

  private def lakeTable(
      spark: SparkSession, catalog: String, namespace: Seq[String],
      name: String): graft.catalog.LakehouseTable =
    IndexSwap.lakeTable(spark, catalog, namespace, name)

  private def sampleOf(df: DataFrame, sampleN: Int): Array[Array[Float]] =
    df.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)

  private def setProps(spark: SparkSession, table: String, props: Map[String, String]): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (${
      props.map { case (k, v) => s"'$k'='$v'" }.mkString(", ")})")

  /** [[build]] against a LAKEHOUSE source table, persisting the
    * quantizer and covered source version so [[refresh]] can maintain
    * the index incrementally. */
  def create(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      sourceTable: String,
      indexName: String,
      k: Int = 16,
      sampleN: Int = 2048,
      iters: Int = 3): Array[Array[Double]] = {
    val srcLt = lakeTable(spark, catalog, namespace, sourceTable)
    val srcVersion = graft.catalog.TableMetadata.load(srcLt.tableDir).version
    val index = fq(catalog, namespace, indexName)
    val cents = build(spark, spark.table(fq(catalog, namespace, sourceTable)),
      index, k, sampleN, iters)
    val err = meanErr(sampleOf(spark.table(fq(catalog, namespace, sourceTable)), sampleN), cents)
    setProps(spark, index, Map(
      SourceProp -> sourceTable,
      VersionProp -> srcVersion.toString,
      CentroidsProp -> encodeCents(cents),
      TrainErrProp -> err.toString,
      KProp -> k.toString,
      SampleNProp -> sampleN.toString,
      ItersProp -> iters.toString))
    cents
  }

  /** The full IVF-PQ index row for a source vector: cell from the
    * coarse quantizer, per-subspace PQ codes from the codebooks, norm
    * once (cosine denominators at query time) — all row-local codegen'd
    * expressions, so encode is free inside whatever pass writes the
    * rows. */
  private def pqProjection(
      df: DataFrame,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      sqrt(call_function("vec_norm_sq", col("embedding"))).as("nrm"),
      codesOf(col("embedding"), books).as("codes"),
      cellOf(col("embedding"), cents).cast("int").as("cell"))

  /** [[create]] extended with the PQ half: the index table ALSO stores
    * per-vector PQ codes and norms (columns `codes`, `nrm`), and the
    * codebooks persist as table properties — the layout that answers
    * ADC search from the index alone ([[queryAdc]]): the ranking scan
    * reads (vec_id, nrm, codes) ≈ 3% of the vector bytes, full
    * embeddings only for the final shortlist re-rank. [[refresh]]
    * maintains it incrementally: appended vectors are encoded with the
    * STORED quantizers, existing index files untouched. */
  def createPq(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      sourceTable: String,
      indexName: String,
      k: Int = 16,
      m: Int = 8,
      kCodes: Int = 16,
      sampleN: Int = 2048,
      iters: Int = 3): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val srcLt = lakeTable(spark, catalog, namespace, sourceTable)
    val srcVersion = graft.catalog.TableMetadata.load(srcLt.tableDir).version
    val index = fq(catalog, namespace, indexName)
    val src = spark.table(fq(catalog, namespace, sourceTable))
    val sample = sampleOf(src, sampleN)
    val dim = sample.head.length
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m subspaces")
    val cents = trainKMeans(sample, k, iters)
    val books = trainPq(sample, m, dim / m, kCodes, iters)
    spark.sql(s"CREATE TABLE $index (vec_id BIGINT, embedding ARRAY<FLOAT>, " +
      "nrm DOUBLE, codes ARRAY<INT>, cell INT) PARTITIONED BY (cell)")
    pqProjection(src, cents, books).createOrReplaceTempView("ivfpq_src")
    spark.sql(s"INSERT INTO $index SELECT vec_id, embedding, nrm, codes, cell FROM ivfpq_src")
    val err = meanErr(sample, cents)
    setProps(spark, index, Map(
      SourceProp -> sourceTable,
      VersionProp -> srcVersion.toString,
      CentroidsProp -> encodeCents(cents),
      TrainErrProp -> err.toString,
      KProp -> k.toString,
      SampleNProp -> sampleN.toString,
      ItersProp -> iters.toString,
      PqBooksProp -> encodeBooks(books),
      PqMProp -> m.toString,
      PqKCodesProp -> kCodes.toString))
    (cents, books)
  }

  /** Fold source appends since the last refresh into the index.
    * Returns "noop" (already current), "incremental" (delta assigned
    * with the stored quantizer — old index files untouched), or "full"
    * (re-trained: non-append source commits, or the delta quantizes
    * worse than `driftFactor` × the training error). PQ indexes
    * ([[createPq]]) refresh the same way: the delta is ENCODED with the
    * stored codebooks — a refresh never re-encodes existing vectors. */
  def refresh(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      indexName: String,
      driftFactor: Double = 4.0): String = {
    // loadOrAdopt: a crash in rebuild's DROP→RENAME window leaves only
    // the completed __rebuild staging — adopt it instead of failing
    val idxLt = IndexSwap.loadOrAdopt(spark, catalog, namespace, indexName, VersionProp)
    val props = graft.catalog.TableMetadata.load(idxLt.tableDir).properties
    // validate the full IVF contract up front: a table created via the
    // bare build() path (or any non-index table) gets the descriptive
    // error, not a NoSuchElementException from a random property read
    def prop(p: String): String = props.getOrElse(p,
      throw new IllegalArgumentException(
        s"$indexName is not an IVF index (no $p — created via build() instead of create()?)"))
    val sourceTable = prop(SourceProp)
    val lastVersion = prop(VersionProp).toInt
    val cents = decodeCents(prop(CentroidsProp))
    val trainErr = prop(TrainErrProp).toDouble
    val (k, sampleN, iters) =
      (prop(KProp).toInt, prop(SampleNProp).toInt, prop(ItersProp).toInt)
    // PQ half present → rebuilds re-train codebooks, increments encode
    // the delta with the STORED codebooks
    val books = props.get(PqBooksProp).map(decodeBooks)
    val index = fq(catalog, namespace, indexName)

    val srcLt = lakeTable(spark, catalog, namespace, sourceTable)
    val srcVersion = graft.catalog.TableMetadata.load(srcLt.tableDir).version
    if (srcVersion == lastVersion) return "noop"

    def rebuild(): String = {
      // build the replacement under a temp name FIRST: the expensive,
      // failure-prone work (source scan, k-means, partitioned write)
      // completes before the live index is touched, and what remains is
      // two metadata ops. A crash mid-build leaves the live index
      // intact; a crash between drop and rename leaves the fully-built
      // replacement on disk under the temp name.
      val tmpName = indexName + "__rebuild"
      val tmpFq = fq(catalog, namespace, tmpName)
      spark.sql(s"DROP TABLE IF EXISTS $tmpFq")
      books match {
        case Some(_) => createPq(spark, catalog, namespace, sourceTable, tmpName,
          k, prop(PqMProp).toInt, prop(PqKCodesProp).toInt, sampleN, iters)
        case None => create(spark, catalog, namespace, sourceTable, tmpName, k, sampleN, iters)
      }
      spark.sql(s"DROP TABLE $index")
      // v2 RENAME resolves the target inside the source's catalog — the
      // target name must be namespace-qualified only
      spark.sql(s"ALTER TABLE $tmpFq RENAME TO ${(namespace :+ indexName).mkString(".")}")
      "full"
    }

    val delta =
      try Some(graft.catalog.Maintenance.changesBetween(
        spark, catalog, namespace, sourceTable, lastVersion, srcVersion))
      catch {
        // non-append commits in the window: an added-file delta cannot
        // represent removals — rebuild from the current snapshot
        case _: IllegalArgumentException => None
      }
    delta match {
      case None => rebuild()
      case Some(d) =>
        val newSample = sampleOf(d, sampleN)
        if (newSample.nonEmpty &&
            meanErr(newSample, cents) > driftFactor * math.max(trainErr, 1e-12)) {
          // the appended vectors quantize much worse than the training
          // distribution: stale centroids would crowd them into few
          // cells and probes would lose recall — re-train
          rebuild()
        } else {
          if (newSample.nonEmpty) {
            books match {
              case Some(b) =>
                pqProjection(d, cents, b).createOrReplaceTempView("ivfpq_delta")
                spark.sql(s"INSERT INTO $index " +
                  "SELECT vec_id, embedding, nrm, codes, cell FROM ivfpq_delta")
              case None =>
                d.select(col("vec_id"), col("embedding"),
                    cellOf(col("embedding"), cents).cast("int").as("cell"))
                  .createOrReplaceTempView("ivf_delta")
                spark.sql(s"INSERT INTO $index SELECT vec_id, embedding, cell FROM ivf_delta")
            }
          }
          setProps(spark, index, Map(VersionProp -> srcVersion.toString))
          "incremental"
        }
    }
  }

  /** The `nprobe` cells nearest to a query vector (driver-side: k is
    * small by construction). */
  def probeCells(q: Array[Float], cents: Array[Array[Double]], nprobe: Int): Seq[Int] = {
    val dists = cents.zipWithIndex.map { case (c, i) =>
      var dd = 0.0; var j = 0
      while (j < c.length) { val t = q(j) - c(j); dd += t * t; j += 1 }
      (dd, i)
    }
    dists.sortBy(identity).take(nprobe).map(_._2).toSeq
  }

  /** ADC (asymmetric distance computation) top-k answered from a
    * [[createPq]] index ALONE — no training, no corpus encode, no full
    * vectors in the ranking scan:
    *
    *  1. the stored codebooks become one per-query lookup table of
    *     m×kCodes subspace-dot partials, computed driver-side from the
    *     bounded query set and broadcast;
    *  2. the ranking scan reads ONLY (vec_id, nrm, codes) — column
    *     pruning leaves the full embedding bytes on disk, the property
    *     that ranks a 100 TB corpus reading ~3 TB of codes;
    *  3. per-query shortlist of `shortlistR` via the typed
    *     TopKAggregator (map-side partials, shuffle ≤ R rows per query
    *     per mapper);
    *  4. exact cosine re-rank of the broadcast shortlist against full
    *     embeddings, top-k windowed inside it.
    *
    * Output shape = q29: (qid, nid, rnk, sim_r). */
  def queryAdc(
      spark: SparkSession,
      catalog: String,
      namespace: Seq[String],
      indexName: String,
      queries: Seq[(Long, Array[Float])],
      topK: Int = 5,
      shortlistR: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // loadOrAdopt (not a bare load): ADC search must survive a crash in
    // rebuild's DROP→RENAME window like every other index reader
    val idxLt = IndexSwap.loadOrAdopt(spark, catalog, namespace, indexName, VersionProp)
    val props = graft.catalog.TableMetadata.load(idxLt.tableDir).properties
    val books = decodeBooks(props.getOrElse(PqBooksProp,
      throw new IllegalArgumentException(
        s"$indexName is not a PQ index (no $PqBooksProp — created via create()? " +
          "use createPq() for ADC search)")))
    val m = books.length
    val kCodes = books(0).length
    val index = fq(catalog, namespace, indexName)

    // per-query ADC lookup table + norm, from the bounded query set
    val lutRows = queries.map { case (qid, qv) =>
      var n2 = 0.0; var i = 0
      while (i < qv.length) { n2 += qv(i).toDouble * qv(i); i += 1 }
      (qid, math.sqrt(n2), adcLut(qv, books))
    }
    val lutDf = spark.createDataFrame(lutRows).toDF("qid", "qn", "lut")
    val approxDot = adcDot(col("lut"), col("codes"), m, kCodes)
    val idx = spark.table(index)
    val scored = idx.select(col("vec_id"), col("nrm"), col("codes"))
      .crossJoin(broadcast(lutDf))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        (approxDot / (col("qn") * col("nrm"))).as("asim"))
    val topR = udaf(new graft.functions.TopKAggregator(shortlistR))
    val shortlist = scored.groupBy(col("qid"))
      .agg(topR(col("nid"), col("asim")).as("top"))
      .select(col("qid"), explode(col("top.id")).as("nid"))
    val qVecDf = spark.createDataFrame(
      queries.map { case (qid, qv) => (qid, qv.toSeq) }).toDF("qid", "qv")
      .join(broadcast(lutDf.select(col("qid"), col("qn"))), Seq("qid"))
    val rerank = idx.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("nrm").as("nn"))
      .join(broadcast(shortlist.join(broadcast(qVecDf), Seq("qid"))), Seq("nid"))
      .select(col("qid"), col("nid"),
        (call_function("vec_dot", col("qv").cast("array<float>"), col("nv")) /
          (col("qn") * col("nn"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    rerank.select(col("qid"), col("nid"), row_number().over(w).as("rnk"),
        round(col("sim"), 4).as("sim_r"))
      .filter(col("rnk") <= topK)
      .orderBy(col("qid"), col("rnk"))
  }

  /** Exact top-k cosine re-rank INSIDE the probed cells: the scan
    * carries `cell IN (...)`, so file skipping prunes every unprobed
    * cell's files before any data is read. */
  def query(
      spark: SparkSession,
      table: String,
      cents: Array[Array[Double]],
      q: Array[Float],
      topK: Int,
      nprobe: Int): DataFrame = {
    val cells = probeCells(q, cents, nprobe)
    val qv = typedLit(q.toSeq)
    spark.table(table)
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"),
        (call_function("vec_dot", qv, col("embedding")) /
          (sqrt(call_function("vec_norm_sq", qv)) *
            sqrt(call_function("vec_norm_sq", col("embedding"))))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(topK)
  }
}
