package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.Materialize.PinOps
import graft.Tables._

/** North-star similarity search over `embeddings` (SURVEY.md §2B Q29).
  *
  * Cosine is computed as a sequential left fold over the vector (same
  * IEEE op order as the DuckDB oracle's LIST_REDUCE), with per-vector
  * norms precomputed once — at scale that halves the flops and keeps the
  * join input narrow. Brute-force top-k is the exact baseline; the
  * LSH-bucketed variant is the 100 TB path (candidates ∝ bucket
  * collisions, not |corpus|²).
  */
object VectorOps {

  /** Σ xᵢyᵢ via the native codegen expression (graft.functions.VecDot):
    * same sequential float→double fold as the HOF formulation and the
    * oracle's LIST_REDUCE, ~20× faster on all-pairs joins. */
  private def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  private def norm(v: Column): Column = sqrt(call_function("vec_norm_sq", v))

  /** (vec_id, embedding, norm) — norm computed once per vector. */
  private def withNorm(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    e
      // fan out of the (possibly single-task) scan: the similarity joins
      // below broadcast one side, so parallelism = this side's partitions.
      // Count is bytes-adaptive (guide §2.2), capped at the core budget:
      // at bench SFs the corpus side is sub-MB and a 32-way fan-out paid
      // more per-task fixed cost than the dot products it parallelized
      // (r20 interleaved A/B via graft.pin.adaptive, whole q29 family)
      .repartition(graft.Materialize.adaptivePinPartitions(e, expansion = 8.0),
        col("vec_id"))
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
  }

  /** Shared DuckDB CTE: embeddings as DOUBLE[] with precomputed norms. */
  private val oracleNormCte =
    """WITH ev AS (
      |  SELECT vec_id, embedding::DOUBLE[] v,
      |         SQRT(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
      |           LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |           (acc, x) -> acc + x)) nrm
      |  FROM embeddings)""".stripMargin

  private val oracleDot =
    """LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
      |   [a.v[i] * b.v[i] for i in range(1, LEN(a.v) + 1)]),
      |   (acc, x) -> acc + x)""".stripMargin

  /** Q29: exact brute-force cosine top-5 for query vectors vec_id < 10.
    *
    * The query side carries an EXPLICIT broadcast hint: without it the
    * non-equi join's build side is chosen by size estimates, and under
    * AQE whichever shuffle stage materializes first gets an exact size
    * while the other keeps its static estimate — under load the CORPUS
    * side can win that race, get broadcast, and serialize the join into
    * one task (observed as a 3.5× bench swing with identical code; at
    * 100 TB it would be an OOM). The ≤10-row query side is the only
    * correct build side at any scale, so it is pinned. */
  private def exactTop5(s: SparkSession, d: String) = {
    val e = withNorm(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nn"))
    val sims = broadcast(q).join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    sims.select(col("qid"), col("nid"), row_number().over(w).as("rnk"),
        round(col("sim"), 4).as("sim_r"))
      .filter(col("rnk") <= 5)
      .orderBy(col("qid"), col("rnk"))
  }

  private val exactTop5OracleBody =
    s"""SELECT a.vec_id qid, b.vec_id nid,
       |         ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |           ORDER BY $oracleDot / (a.nrm * b.nrm) DESC, b.vec_id) rnk,
       |         ROUND($oracleDot / (a.nrm * b.nrm), 4) sim_r
       |  FROM ev a JOIN ev b ON a.vec_id < 10 AND a.vec_id <> b.vec_id""".stripMargin

  val q29 = Q(
    "q29_cosine_topk",
    (s, d) => exactTop5(s, d),
    Some(s"""$oracleNormCte
            |SELECT qid, nid, rnk, sim_r FROM (
            |  $exactTop5OracleBody)
            |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin))

  /** Oracle-bounding for the ANN paths (q13's approx-plus-flag shape):
    * the emitted rows are the EXACT top-5 (value-checkable by the
    * DuckDB oracle) plus one `recall_ok` column — whether the
    * approximate path's recall@5 against those exact rows clears the
    * query's declared floor. The ANN result itself is deterministic
    * (seeded hyperplanes / deterministic k-means sample), so the flag
    * is reproducible and the oracle simply asserts TRUE. Recall is
    * computed IN-PLAN as a global window over the ≤50-row scored set —
    * ONE evaluation of both subtrees (the previous agg + crossJoin
    * formulation planned the exact-join AND the whole ANN pipeline as
    * two independent subtrees, doubling every recall-checked query's
    * cost); the single-partition window is safe because the exact set
    * is ≤ 10 queries × 5 rows by construction. */
  private def recallChecked(
      exact: org.apache.spark.sql.DataFrame,
      ann: org.apache.spark.sql.DataFrame,
      floor: Double) = {
    val annSet = ann.select(col("qid"), col("nid"), lit(1).as("hit"))
      .dropDuplicates("qid", "nid")
    val scored = exact.join(broadcast(annSet), Seq("qid", "nid"), "left")
    val w = Window.partitionBy(lit(1))
    scored
      .select(col("qid"), col("nid"), col("rnk"), col("sim_r"),
        ((sum(coalesce(col("hit"), lit(0))).over(w).cast("double") /
          count(lit(1)).over(w)) >= floor).as("recall_ok"))
      .orderBy(col("qid"), col("rnk"))
  }

  private def annOracle =
    s"""$oracleNormCte
       |SELECT qid, nid, rnk, sim_r, TRUE AS recall_ok FROM (
       |  $exactTop5OracleBody)
       |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** Embedding-cosine near-dup: all pairs with cosine ≥ 0.4 (the corpus
    * max is ~0.5 — this surfaces the closest-pair tail). Block-joined on
    * vec_id inequality; exact. */
  val q29b = Q(
    "q29b_embedding_neardup",
    (s, d) => {
      val e = withNorm(s, d)
      // all-pairs is COMPUTE-dense (|corpus|² dots), unlike the rest of
      // the family: the stream side must fan out to the core budget —
      // withNorm's bytes-adaptive count serialized the BNLJ and lost
      // 3.3× (r20 A/B: 0.74 s vs 0.22 s)
      val a = e.repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id").as("id1"), col("embedding").as("v1"), col("nrm").as("n1"))
      val b = e.select(col("vec_id").as("id2"), col("embedding").as("v2"), col("nrm").as("n2"))
      // exact all-pairs is the SMALL-corpus path by declaration (LSH /
      // IVF are the scale paths); the non-equi join must broadcast one
      // side regardless, so pin it — an unpinned BNLJ build side is
      // the load-dependent race that produced r5's q29 swing
      a.join(broadcast(b), col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          (dot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("sim"))
        .filter(col("sim") >= 0.4)
        .select(col("id1"), col("id2"), round(col("sim"), 4).as("sim_r"))
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""$oracleNormCte
            |SELECT id1, id2, sim_r FROM (
            |  SELECT a.vec_id id1, b.vec_id id2,
            |         $oracleDot / (a.nrm * b.nrm) sim,
            |         ROUND($oracleDot / (a.nrm * b.nrm), 4) sim_r
            |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id)
            |WHERE sim >= 0.4 ORDER BY id1, id2""".stripMargin))

  /** ANN top-k via LSH buckets: candidates = vectors sharing ≥1 of the
    * 12 table buckets with the query; exact cosine re-rank on candidates.
    * The buckets are `lsh_sigs`, seeded random-hyperplane signatures
    * (12 tables × 6 bits, tuned in [[graft.functions.LshSignatures]]).
    * Same output shape as q29 (recall measured against it in tests).
    */
  val q29c = Q(
    "q29c_ann_lsh",
    (s, d) => {
      val e = withNorm(s, d)
      val sigs = e.select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(call_function("lsh_sigs", col("embedding"))))
        .toDF("vec_id", "embedding", "nrm", "tbl", "sig")
      val q = sigs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"),
          col("tbl"), col("sig"))
      val c = sigs.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("nrm").as("nn"), col("tbl").as("tbl2"), col("sig").as("sig2"))
      // explicit broadcast of the query-signature side (see q29): the
      // bucket equi-join must probe the corpus, never shuffle it
      val cand = broadcast(q).join(c,
          col("tbl") === col("tbl2") && col("sig") === col("sig2") && col("qid") =!= col("nid"))
        .select(col("qid"), col("qv"), col("qn"), col("nid"), col("nv"), col("nn"))
        .dropDuplicates("qid", "nid")
      val sims = cand.select(col("qid"), col("nid"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      val ann = sims.select(col("qid"), col("nid"), row_number().over(w).as("rnk"))
        .filter(col("rnk") <= 5)
      // 6-bit × 12-table LSH on this corpus's flat similarity spectrum
      // (max s ≈ 0.5, see bucket-width note above) measures ~0.2-0.3
      // aggregate recall@5 across SFs; the floor asserts the candidate
      // generation stays useful without over-fitting one SF
      recallChecked(exactTop5(s, d), ann, floor = 0.15)
    },
    Some(annOracle))

  /** q29 re-expressed with the typed TopKAggregator: per-query top-k via
    * map-side partial aggregation (shuffle carries ≤ k rows per group
    * per mapper) instead of a windowed full sort. Same output, same
    * oracle as q29 — the cheaper plan at scale. */
  val q29d = Q(
    "q29d_topk_agg",
    (s, d) => {
      val e = withNorm(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
      val c = e.select(col("vec_id").as("nid"), col("embedding").as("nv"), col("nrm").as("nn"))
      val sims = broadcast(q).join(c, col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim"))
      val top5 = udaf(new graft.functions.TopKAggregator(5))
      sims.groupBy(col("qid"))
        .agg(top5(col("nid"), col("sim")).as("top"))
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), col("col.id").as("nid"),
          (col("pos") + 1).as("rnk"), round(col("col.score"), 4).as("sim_r"))
        .orderBy(col("qid"), col("rnk"))
    },
    q29.oracle)

  /** IVF (inverted-file) ANN: k-means coarse quantizer (trained on a
    * bounded, deterministic driver-side sample — the standard IVF
    * recipe; see [[graft.operators.VectorIndex.trainKMeans]]), vectors
    * indexed by nearest centroid, queries probe the `nprobe` closest
    * cells and re-rank exactly inside them. The other classic 100 TB
    * layout besides LSH (q29c): the index is a partitioned table keyed
    * by cell, so a query touches nprobe/k of the corpus. Cell
    * assignment is a codegen'd argmin over the broadcast centroid
    * array (array_min over struct(dist, cell) — no MLlib fit/transform
    * jobs, no extra shuffle). Recall is measured against exact q29 in
    * VectorSpec. Output shape = q29. */
  val q29e = Q(
    "q29e_ann_ivf",
    (s, d) => {
      val e = withNorm(s, d)
      val k = 16
      val nprobe = 4
      val sampleN = 2048
      val sample = embeddings(s, d).orderBy(col("vec_id")).limit(sampleN)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      val cents = graft.operators.VectorIndex.trainKMeans(sample, k, iters = 3)
      val indexed = e.select(col("vec_id"), col("embedding"), col("nrm"),
        graft.operators.VectorIndex.cellOf(col("embedding"), cents).as("cell"))
      val centDf = s.createDataFrame(
        cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum) })
        .toDF("cell", "centroid", "cnsq")
      val queries = indexed.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qn"))
      val probeW = Window.partitionBy(col("qid")).orderBy(col("cdist"), col("cell"))
      val probes = queries.crossJoin(broadcast(centDf))
        .select(col("qid"), col("qv"), col("qn"), col("cell"),
          (call_function("vec_norm_sq", col("qv")) + col("cnsq") -
            lit(2.0) * call_function("vec_dot_d", col("qv"), col("centroid"))).as("cdist"))
        .select(col("qid"), col("qv"), col("qn"), col("cell"),
          row_number().over(probeW).as("prnk"))
        .filter(col("prnk") <= nprobe)
      val cand = broadcast(probes).join(indexed.select(col("vec_id").as("nid"),
          col("embedding").as("nv"), col("nrm").as("nn"), col("cell")), Seq("cell"))
        .filter(col("qid") =!= col("nid"))
      // no dedup needed (unlike q29c): cellOf assigns each corpus
      // vector exactly ONE cell and `probes` has distinct cells per
      // qid, so the equi-join cannot produce duplicate (qid, nid) pairs
      val sims = cand.select(col("qid"), col("nid"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      val ann = sims.select(col("qid"), col("nid"), row_number().over(w).as("rnk"))
        .filter(col("rnk") <= 5)
      // nprobe=4 of k=16 cells scans ~25% of the corpus; measured
      // aggregate recall@5 ≈ 0.5-0.7 across SFs (VectorSpec asserts
      // ≥ 0.5 at its fixture) — floor with margin for SF variation
      recallChecked(exactTop5(s, d), ann, floor = 0.4)
    },
    Some(annOracle))

  /** IVF-PQ's quantization half — product-quantized ADC search: the
    * third classic 100 TB ANN layout besides LSH buckets (q29c) and
    * IVF cells (q29e). 64-dim float vectors compress to m=8 one-byte
    * codes (one 16-centroid codebook per 8-dim subspace, trained on
    * the same bounded deterministic sample as q29e), a 32× reduction —
    * the representation that lets a scan rank a 100 TB corpus while
    * reading ~3 TB of codes+norms and ZERO full vectors until the
    * final shortlist re-rank.
    *
    * Pipeline, all in-plan and codegen-friendly (no UDFs):
    *  1. encode: code_j = argmin-cell of slice_j(v) via the same
    *     array_min/struct expression as IVF cell assignment;
    *  2. ADC score: each query's 8×16 lookup table of subspace-dot
    *     partials (built from the ≤10 collected query vectors — same
    *     bounded-driver contract as q29e's k-means sample) joins the
    *     code scan broadcast; approx_dot = Σ_j lut[j][code_j] is pure
    *     element_at arithmetic;
    *  3. shortlist: top-R per query via the typed TopKAggregator —
    *     map-side partials, shuffle ≤ R rows per query per mapper
    *     (never the scored corpus);
    *  4. exact re-rank of the ≤R·|Q| shortlist (broadcast) against
    *     full vectors, top-5 windowed inside it.
    *
    * Emitted rows are the EXACT top-5 + the in-plan recall_ok floor
    * (q29c/q29e's oracle-bounding pattern). */
  val q29f = Q(
    "q29f_ann_pq",
    (s, d) => {
      val m = 8; val subDim = 8; val kCodes = 16; val shortlistR = 40
      val e = withNorm(s, d)
      val sample = embeddings(s, d).orderBy(col("vec_id")).limit(2048)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      // the quantizer, encoder, and ADC LUT/dot are the SAME code the
      // persisted index uses (VectorIndex.trainPq/codesOf/adcLut/adcDot)
      // — q29f differs from q29g only in WHERE the codes live
      val books = graft.operators.VectorIndex.trainPq(sample, m, subDim, kCodes, iters = 3)
      val codes = e.select(col("vec_id"), col("nrm"),
        graft.operators.VectorIndex.codesOf(col("embedding"), books).as("codes"))
      // ≤10 query vectors by definition (vec_id < 10): the bounded
      // driver-side set the per-query ADC tables derive from
      val qRows = e.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"), col("nrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      val lutRows = qRows.toSeq.map { case (qid, qv, qn) =>
        (qid, qn, graft.operators.VectorIndex.adcLut(qv, books))
      }
      val lutDf = s.createDataFrame(lutRows).toDF("qid", "qn", "lut")
      val approxDot = graft.operators.VectorIndex.adcDot(col("lut"), col("codes"), m, kCodes)
      val scored = codes.crossJoin(broadcast(lutDf))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"),
          (approxDot / (col("qn") * col("nrm"))).as("asim"))
      val topR = udaf(new graft.functions.TopKAggregator(shortlistR))
      val shortlist = scored.groupBy(col("qid"))
        .agg(topR(col("nid"), col("asim")).as("top"))
        .select(col("qid"), explode(col("top.id")).as("nid"))
      val qVecDf = s.createDataFrame(qRows.toSeq).toDF("qid", "qv", "qn")
      val rerank = e.select(col("vec_id").as("nid"), col("embedding").as("nv"),
          col("nrm").as("nn"))
        .join(broadcast(shortlist.join(broadcast(qVecDf), Seq("qid"))), Seq("nid"))
        .select(col("qid"), col("nid"),
          (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      val ann = rerank.select(col("qid"), col("nid"), row_number().over(w).as("rnk"))
        .filter(col("rnk") <= 5)
      // 8×16 codebooks on 64 dims + R=40 exact re-rank measure ~0.5-0.8
      // aggregate recall@5 across SFs on this corpus (ProbeRecall);
      // floor with margin for SF variation
      recallChecked(exactTop5(s, d), ann, floor = 0.4)
    },
    Some(annOracle))

  // ---- persisted IVF-PQ index (q29g) ---------------------------------------
  // One warehouse + build memo per JVM (the TextOps keyword-index
  // pattern): the index builds ONCE per corpus dir, so repeated bench
  // samples measure the ADC PROBE — the per-query cost at 100 TB — not
  // the one-time build.
  private val pqCatalog = "pqidx"
  private val pqMemo = new IndexMemo(pqCatalog, "emb")
  private def pqTable(d: String): String = pqMemo.tableFor(d)

  private def ensurePqIndex(s: SparkSession, d: String): Unit =
    pqMemo.ensure(s, d) { tbl =>
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $pqCatalog.ann")
      s.sql(s"DROP TABLE IF EXISTS $pqCatalog.ann.${tbl}_idx")
      s.sql(s"DROP TABLE IF EXISTS $pqCatalog.ann.$tbl")
      s.sql(s"CREATE TABLE $pqCatalog.ann.$tbl (vec_id BIGINT, embedding ARRAY<FLOAT>)")
      embeddings(s, d).select(col("vec_id"), col("embedding"))
        .createOrReplaceTempView("q29g_emb_src")
      s.sql(s"INSERT INTO $pqCatalog.ann.$tbl SELECT * FROM q29g_emb_src")
      graft.operators.VectorIndex.createPq(s, pqCatalog, Seq("ann"), tbl, s"${tbl}_idx",
        k = 16, m = 8, kCodes = 16, sampleN = 2048, iters = 3)
    }

  /** q29f's ADC search served from the PERSISTED IVF-PQ index
    * ([[graft.operators.VectorIndex.createPq]]) instead of re-training
    * codebooks and re-encoding the corpus inside the query — the
    * production shape: codes and codebooks live WITH the index table,
    * maintained incrementally by [[graft.operators.VectorIndex.refresh]]
    * (only appended vectors encode — VectorIndexSpec pins it), and the
    * ranking scan reads (vec_id, nrm, codes) only. Same quantizer
    * parameters and deterministic training sample as q29f, so the
    * exact-top-5 + recall-floor oracle carries over verbatim. */
  val q29g = Q(
    "q29g_ann_pq_index",
    (s, d) => {
      ensurePqIndex(s, d)
      val qRows = embeddings(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val ann = graft.operators.VectorIndex.queryAdc(
        s, pqCatalog, Seq("ann"), s"${pqTable(d)}_idx", qRows, topK = 5, shortlistR = 40)
      recallChecked(exactTop5(s, d), ann, floor = 0.4)
    },
    Some(annOracle))

  /** Cross-modality join: each document paired with its embedding row
    * (text metadata ⋈ vector metadata) — the gate a multimodal curation
    * pipeline runs before training ("keep docs long enough whose
    * embedding exists, carry the norm"). Plain equi join, so Catalyst
    * owns the strategy; at scale both sides hash-bucket on the shared
    * id (see BucketSpec's storage-partitioned joins) and the join runs
    * co-located. Norm parity with the oracle comes from the same
    * double-accumulated vec_norm_sq the q29 family hash-matches on. */
  val q49 = Q(
    "q49_join_modalities",
    (s, d) => {
      val e = withNorm(s, d)
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .join(e, col("doc_id") === col("vec_id"))
        .filter(col("n_chars") >= 200)
        .select(col("doc_id"), col("lang"), col("n_chars"), round(col("nrm"), 4).as("nrm_r"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$oracleNormCte
            |SELECT d.doc_id, d.lang, d.n_chars, ROUND(e.nrm, 4) AS nrm_r
            |FROM documents d JOIN ev e ON d.doc_id = e.vec_id
            |WHERE d.n_chars >= 200 ORDER BY d.doc_id""".stripMargin))

  /** Semantic dedup, SemDeDup shape: coarse-cluster embeddings by a
    * sign-random-projection bucket (sign bits of the first 8
    * dimensions — deterministic hyperplanes, no RNG state), elect the
    * min-id member as each cluster's representative, and score every
    * member's cosine against it; members above the dedup threshold are
    * marked dropped. Scale shape: bucketing is a row-local map, the
    * representative set is bounded by 2^8 buckets → broadcast, so the
    * verify pass is one scan + broadcast join — candidates never
    * corpus². Cosine parity with the oracle via the q29 fold. */
  val q59 = Q(
    "q59_semantic_dedup",
    (s, d) => {
      val e = withNorm(s, d)
      val bucketed = e.withColumn("bucket",
        (0 until 8).map(i =>
          when(element_at(col("embedding"), i + 1) >= 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _))
      val reps = bucketed.groupBy(col("bucket")).agg(min(col("vec_id")).as("rep_id"))
      val repVecs = bucketed
        .select(col("vec_id").as("rep_id"), col("embedding").as("rv"), col("nrm").as("rn"))
        .join(broadcast(reps), Seq("rep_id")) // ≤ 2^8 representatives, pinned
      val sim = round(dot(col("embedding"), col("rv")) / (col("nrm") * col("rn")), 4)
      bucketed.join(broadcast(repVecs), Seq("bucket"))
        .select(col("vec_id"), col("bucket"), col("rep_id"), sim.as("sim_r"),
          (col("vec_id") === col("rep_id") || sim < 0.995).as("kept"))
        .orderBy(col("vec_id"))
    },
    Some(s"""$oracleNormCte,
            |b AS (SELECT vec_id, v, nrm,
            |        CAST(${(0 until 8).map(i =>
                       s"(CASE WHEN v[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
                       .mkString(" + ")} AS BIGINT) bucket
            |      FROM ev),
            |r AS (SELECT bucket, MIN(vec_id) rep_id FROM b GROUP BY bucket),
            |rv AS (SELECT r.bucket, r.rep_id, b.v rvv, b.nrm rn
            |       FROM r JOIN b ON b.vec_id = r.rep_id)
            |SELECT a.vec_id, a.bucket, rv.rep_id,
            |       ROUND(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
            |           [a.v[i] * rv.rvv[i] for i in range(1, LEN(a.v) + 1)]),
            |         (acc, x) -> acc + x) / (a.nrm * rv.rn), 4) sim_r,
            |       (a.vec_id = rv.rep_id OR
            |        ROUND(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
            |            [a.v[i] * rv.rvv[i] for i in range(1, LEN(a.v) + 1)]),
            |          (acc, x) -> acc + x) / (a.nrm * rv.rn), 4) < 0.995) AS kept
            |FROM b a JOIN rv ON a.bucket = rv.bucket
            |ORDER BY a.vec_id""".stripMargin))

  /** Embedding-health audit: per label, dimension constancy (a ragged
    * dim means a broken encoder batch), mean L2 norm, and degenerate
    * (near-zero) vector count — the checks an ANN index build runs
    * BEFORE spending cluster-hours on k-means, because one
    * zero-vector slice silently poisons every cosine it touches.
    *
    * Scale shape: row-local codegen'd norm (the native `vec_norm_sq`
    * expression — same sequential float→double fold as the oracle's
    * LIST_REDUCE), one map-side-combined aggregation keyed by label.
    * No shuffle carries an embedding: vectors reduce to (dim, norm)
    * scalars before the exchange. */
  val q70 = Q(
    "q70_embedding_health",
    (s, d) => {
      val nrm = sqrt(call_function("vec_norm_sq", col("embedding")))
      embeddings(s, d)
        .select(col("label"), size(col("embedding")).as("dim"), nrm.as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"),
          round(avg(col("nrm")), 4).as("mean_norm"),
          sum(when(col("nrm") < 0.5, 1L).otherwise(0L)).as("n_degenerate"))
        .orderBy(col("label"))
    },
    Some("""WITH e AS (SELECT label, LEN(embedding) AS dim,
           |            SQRT(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
           |              [CAST(embedding[i] AS DOUBLE) * embedding[i]
           |                 FOR i IN range(1, LEN(embedding) + 1)]),
           |              (acc, x) -> acc + x)) AS nrm
           |          FROM embeddings)
           |SELECT label, COUNT(*) AS n, MIN(dim) AS dim_min, MAX(dim) AS dim_max,
           |       ROUND(AVG(nrm), 4) AS mean_norm,
           |       CAST(SUM(CASE WHEN nrm < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_degenerate
           |FROM e GROUP BY label ORDER BY label""".stripMargin))

  /** Embedding covariance matrix (the whitening/PCA input an ANN
    * pipeline computes before training quantizers — OPQ, whitened
    * cosine, decorrelated PQ subspaces all start here): all d(d+1)/2
    * population covariances of the 64-dim embedding column in ONE
    * pass.
    *
    * Scale shape: a single [[graft.functions.CovAggregator]] holds the
    * full second-moment state in a ~17 KB buffer per partition and
    * combines map-side — the shuffle is O(partitions · d²) bytes,
    * independent of corpus size, where the explode-pairs + groupBy
    * formulation (the oracle's shape) would shuffle d²·N rows (a
    * 4096-fold blowup of the corpus). The (i, j, cov) rows unfold from
    * the ONE aggregate row via nested sequence explodes — driver-free,
    * 4096 rows total. Rounded to 4 decimals (double accumulation order
    * differs across engines). */
  val q81 = Q(
    "q81_embedding_cov",
    (s, d) => {
      import org.apache.spark.sql.functions.udaf
      val dim = 64
      val cov = udaf(new graft.functions.CovAggregator(dim))
      val m = embeddings(s, d).agg(cov(col("embedding")).as("m"))
      // 1-based flat index of Σx_i·x_j (i ≤ j) in the moments buffer:
      // after [n, Σx_1..Σx_d], row i's pairs start past the
      // (i-1)·d − (i-1)(i-2)/2 pairs of earlier rows
      val i = col("i")
      val j = col("j")
      val sxyIdx = (lit(1 + dim) + (i - 1) * lit(dim) - (i - 1) * (i - 2) / 2
        + (j - i + 1)).cast("int")
      val n = element_at(col("m"), 1)
      m.select(explode(sequence(lit(1), lit(dim))).as("i"), col("m"))
        .select(i, explode(sequence(i, lit(dim))).as("j"), col("m"))
        .select(i.cast("long").as("i"), j.cast("long").as("j"),
          // + 0.0 canonicalizes IEEE −0.0 to 0.0 (a tiny negative
          // covariance rounds to −0.0 in one engine and 0.0 in the
          // other — same value, different sign bit, different hash)
          (round((element_at(col("m"), sxyIdx)
            - element_at(col("m"), (i + 1).cast("int"))
              * element_at(col("m"), (j + 1).cast("int")) / n) / n, 4) + lit(0.0))
            .as("cov"))
        .orderBy(col("i"), col("j"))
    },
    Some("""WITH u AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           |           FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)),
           |p AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sxy
           |      FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i >= a.i
           |      GROUP BY a.i, b.i),
           |m AS (SELECT i, SUM(x) AS sx, COUNT(*) AS n FROM u GROUP BY i)
           |SELECT p.i, p.j,
           |  ROUND((p.sxy - mi.sx * mj.sx / mi.n) / mi.n, 4) + 0.0 AS cov
           |FROM p JOIN m mi ON p.i = mi.i JOIN m mj ON p.j = mj.i
           |ORDER BY p.i, p.j""".stripMargin))

  /** Standardized (z-scored) cosine top-5 — DIAGONAL whitening, the
    * application of q81's moments: every dimension is centered and
    * scaled to unit variance before similarity, so high-variance
    * dimensions stop dominating the cosine (the preprocessing step
    * between raw embeddings and a trained quantizer).
    *
    * Scale shape: the per-dimension μ/σ come from the SAME one-pass
    * bounded moments aggregator as q81 (Σx on the μ side, the Σx²
    * diagonal on the σ side — ~17 KB per partition, map-side
    * combined); the μ/σ ARRAYS unfold from that one row and broadcast
    * (d doubles), z-scoring is a row-local array transform, and the
    * top-5 search is q29's pinned-broadcast exact shape. σ ≤ 0 guards
    * to 1 (a constant dimension contributes zero signal either way).
    * μ/σ arithmetic is written as the same explicit formula in both
    * engines (Σx/n, √(Σx²/n − μ²)) — builtin stddevs use different
    * accumulation and would drift. */
  val q82 = Q(
    "q82_cosine_standardized",
    (s, d) => {
      import org.apache.spark.sql.functions.udaf
      val dim = 64
      val cov = udaf(new graft.functions.CovAggregator(dim))
      // diagonal Σx_i² lives at the (i,i) flat index of the moments
      def diagIdx(i: Column): Column =
        (lit(1 + dim) + (i - 1) * lit(dim) - (i - 1) * (i - 2) / 2 + 1).cast("int")
      // ROUND μ/σ to 1e-6 (both engines): the moment sums are
      // accumulation-order-dependent, so unrounded stats differ in the
      // last ulps across engines/partitionings and every z-vector would
      // inherit the drift — the same re-synchronization the Lloyd core
      // applies to centroids. The guard is sign-flip-proof: a variance
      // within noise of zero rounds to a σ of 0 on BOTH sides of the
      // flip (√|ε| < 5e-7) and lands on the 1.0 constant-dimension path.
      val stats = embeddings(s, d).agg(cov(col("embedding")).as("m"))
        .select(
          transform(sequence(lit(1), lit(dim)), i =>
            round(element_at(col("m"), (i + 1).cast("int")) / element_at(col("m"), 1), 6))
            .as("mus"),
          transform(sequence(lit(1), lit(dim)), i => {
            val mu = element_at(col("m"), (i + 1).cast("int")) / element_at(col("m"), 1)
            val vr = element_at(col("m"), diagIdx(i)) / element_at(col("m"), 1) - mu * mu
            val sgr = round(sqrt(greatest(vr, lit(0.0))), 6)
            when(sgr <= 0, lit(1.0)).otherwise(sgr)
          }).as("sgs"))
      val z = embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .crossJoin(broadcast(stats))
        .select(col("vec_id"),
          transform(sequence(lit(1), lit(dim)), i =>
            (element_at(col("embedding"), i.cast("int")).cast(DoubleType)
              - element_at(col("mus"), i.cast("int"))) / element_at(col("sgs"), i.cast("int")))
            .as("zv"))
      // sequential left fold — the exact order DuckDB's LIST_REDUCE uses
      def zdot(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
      val withN = z.select(col("vec_id"), col("zv"), sqrt(zdot(col("zv"), col("zv"))).as("nrm"))
      val q = withN.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("zv").as("qv"), col("nrm").as("qn"))
      val c = withN.select(col("vec_id").as("nid"), col("zv").as("nv"), col("nrm").as("nn"))
      val sims = broadcast(q).join(c, col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (zdot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      sims.select(col("qid"), col("nid"), row_number().over(w).as("rnk"),
          round(col("sim"), 4).as("sim_r"))
        .filter(col("rnk") <= 5)
        .orderBy(col("qid"), col("rnk"))
    },
    Some("""WITH u AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           |           FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)),
           |st AS (SELECT i, ROUND(SUM(x) / COUNT(*), 6) AS mu,
           |         CASE WHEN ROUND(SQRT(GREATEST(
           |                SUM(x*x) / COUNT(*) - (SUM(x)/COUNT(*)) * (SUM(x)/COUNT(*)), 0)), 6) <= 0
           |              THEN 1.0
           |              ELSE ROUND(SQRT(GREATEST(
           |                SUM(x*x) / COUNT(*) - (SUM(x)/COUNT(*)) * (SUM(x)/COUNT(*)), 0)), 6)
           |         END AS sg
           |       FROM u GROUP BY i),
           |arrs AS (SELECT LIST(mu ORDER BY i) AS mus, LIST(sg ORDER BY i) AS sgs FROM st),
           |z AS (SELECT vec_id,
           |        [(CAST(embedding[i] AS DOUBLE) - arrs.mus[i]) / arrs.sgs[i]
           |         FOR i IN range(1, 65)] AS zv
           |      FROM embeddings CROSS JOIN arrs),
           |zn AS (SELECT vec_id, zv,
           |         SQRT(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
           |           [zv[i] * zv[i] FOR i IN range(1, 65)]), (acc, x) -> acc + x)) AS nrm
           |       FROM z)
           |SELECT qid, nid, rnk, sim_r FROM (
           |  SELECT a.vec_id AS qid, b.vec_id AS nid,
           |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
           |      LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
           |        [a.zv[i] * b.zv[i] FOR i IN range(1, 65)]), (acc, x) -> acc + x)
           |        / (a.nrm * b.nrm) DESC, b.vec_id) AS rnk,
           |    ROUND(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
           |        [a.zv[i] * b.zv[i] FOR i IN range(1, 65)]), (acc, x) -> acc + x)
           |        / (a.nrm * b.nrm), 4) AS sim_r
           |  FROM zn a JOIN zn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
           |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin))

  /** q105: HYBRID retrieval — BM25 keyword search and embedding-cosine
    * ANN fused by reciprocal-rank fusion (Cormack et al. 2009,
    * score = Σ 1/(60 + rank)), the standard first-stage retriever of a
    * RAG / training-data-curation stack (lexical recall + semantic
    * recall, neither alone sufficient).
    *
    * Scale shape: the lexical leg is the q72d postings probe (reads
    * ≤|terms| posting rows via metadata file-skipping, never the
    * corpus); the vector leg is a broadcast-1-query cosine top-k
    * (TakeOrderedAndProject — map-side top-50 per partition, no global
    * sort). Fusion then joins two ≤50-row sets — bounded by
    * construction, so the whole query is index-probe + one corpus scan
    * regardless of corpus size. Ranks are assigned over the 4-dp
    * ROUNDED scores both legs already hash-match on (q72d/q29), making
    * rank order engine-independent; doc_id breaks ties. Absent legs
    * contribute 0 to the fused score and report rank 0. */
  val q105 = Q(
    "q105_hybrid_rrf",
    (s, d) => {
      TextOps.ensureKeywordIndex(s, d)
      val lex = graft.operators.TextIndex.searchBM25(s, TextOps.kwCatalog,
        Seq("kw"), s"${TextOps.kwTable(d)}_idx",
        Seq("spark", "vector", "merge"), 50)
      // global windows below run on ≤50-row inputs (post-limit), so the
      // single-partition WindowExec is bounded by construction
      val wl = Window.orderBy(col("score").desc, col("doc_id"))
      val lexRank = lex.select(col("doc_id"), row_number().over(wl).as("r_lex"))
      val e = withNorm(s, d)
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), col("nrm").as("qn")))
      val vecTop = e.filter(col("vec_id") =!= 0).crossJoin(q)
        .select(col("vec_id").as("doc_id"),
          round(dot(col("qv"), col("embedding")) / (col("qn") * col("nrm")), 4)
            .as("sim_r"))
        .orderBy(col("sim_r").desc, col("doc_id")).limit(50)
      val wv = Window.orderBy(col("sim_r").desc, col("doc_id"))
      val vecRank = vecTop.select(col("doc_id"), row_number().over(wv).as("r_vec"))
      lexRank.join(vecRank, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_lex"), lit(0)).as("r_lex"),
          coalesce(col("r_vec"), lit(0)).as("r_vec"),
          // one null-leg idiom, mirroring the oracle's COALESCE(1/(60+r), 0)
          round(
            coalesce(lit(1.0) / (lit(60.0) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("r_vec")), lit(0.0)), 6).as("rrf_r"))
        .orderBy(col("rrf_r").desc, col("doc_id")).limit(20)
    },
    Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
            |                 CAST(SUM(len(t)) AS DOUBLE) AS sl FROM toks),
            |flat AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, unnest(t) AS tok
            |         FROM toks),
            |df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
            |       FROM flat GROUP BY tok),
            |tf AS (SELECT doc_id, tok, ANY_VALUE(dl) AS dl,
            |              CAST(COUNT(*) AS DOUBLE) AS tf
            |       FROM flat WHERE tok IN ('spark', 'vector', 'merge')
            |       GROUP BY doc_id, tok),
            |bm AS (SELECT tf.doc_id,
            |         ROUND(SUM(
            |           LN(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
            |           ((tf.tf * 2.2) /
            |            (tf.tf + 1.2 * ((1.0 - 0.75) + (0.75 * tf.dl) / (stats.sl / stats.n))))
            |         ), 4) AS score
            |       FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN stats
            |       GROUP BY tf.doc_id
            |       ORDER BY score DESC, tf.doc_id LIMIT 50),
            |lex AS (SELECT doc_id,
            |          ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_lex
            |        FROM bm),
            |ev AS (SELECT vec_id, embedding::DOUBLE[] v,
            |         SQRT(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
            |           LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
            |           (acc, x) -> acc + x)) nrm
            |       FROM embeddings),
            |sims AS (SELECT b.vec_id AS doc_id,
            |           ROUND($oracleDot / (a.nrm * b.nrm), 4) AS sim_r
            |         FROM ev a JOIN ev b ON a.vec_id = 0 AND b.vec_id <> 0),
            |vtop AS (SELECT doc_id,
            |           ROW_NUMBER() OVER (ORDER BY sim_r DESC, doc_id) AS r_vec
            |         FROM sims QUALIFY r_vec <= 50)
            |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
            |       COALESCE(l.r_lex, 0) AS r_lex,
            |       COALESCE(v.r_vec, 0) AS r_vec,
            |       ROUND(COALESCE(1.0 / (60.0 + l.r_lex), 0.0)
            |           + COALESCE(1.0 / (60.0 + v.r_vec), 0.0), 6) AS rrf_r
            |FROM lex l FULL OUTER JOIN vtop v ON l.doc_id = v.doc_id
            |ORDER BY rrf_r DESC, doc_id LIMIT 20""".stripMargin))

  /** q106: MMR-diversified top-10 (Carbonell & Goldstein 1998,
    * maximal marginal relevance): greedily pick documents maximizing
    * λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), λ=0.7 — the diversified
    * second stage every retrieval/curation stack runs on its shortlist
    * (dedup-aware sampling, RAG context packing).
    *
    * Scale shape: the DISTRIBUTED part is candidate generation — the
    * broadcast-one-query cosine top-50 (TakeOrderedAndProject) and the
    * 50×50 pairwise similarity join, both bounded by the shortlist
    * size, with every similarity computed by the same codegen'd
    * [[graft.functions.VecDot]] fold the oracle's LIST_REDUCE mirrors.
    * The greedy selection itself is inherently sequential (each pick
    * conditions on the previous set), so it runs driver-side over the
    * collected ≤50-row shortlist + ≤2450 pair rows — bounded by
    * construction, the BPE-argmax precedent, and exactly where every
    * production MMR implementation does it. No corpus-sized state ever
    * reaches the driver. The oracle unrolls the 10 greedy steps as a
    * CTE chain (the q76 pattern); all comparisons happen on 4-dp
    * rounded sims both engines hash-match on, so the argmax order is
    * engine-independent (doc_id breaks ties). */
  val q106 = Q(
    "q106_mmr_diversify",
    (s, d) => {
      import s.implicits._
      val e = withNorm(s, d)
      val q = broadcast(e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), col("nrm").as("qn")))
      val cand = e.filter(col("vec_id") =!= 0).crossJoin(q)
        .select(col("vec_id").as("doc_id"), col("embedding"), col("nrm"),
          round(dot(col("qv"), col("embedding")) / (col("qn") * col("nrm")), 4)
            .as("simq"))
        .orderBy(col("simq").desc, col("doc_id")).limit(50)
        // pin the shortlist: the self-join and the driver collect below
        // would otherwise each re-run the corpus-wide cosine scan + sort
        .pinned
      val pair = cand.as("c1").join(cand.as("c2"),
          col("c1.doc_id") =!= col("c2.doc_id"))
        .select(col("c1.doc_id").as("i"), col("c2.doc_id").as("j"),
          round(dot(col("c1.embedding"), col("c2.embedding")) /
            (col("c1.nrm") * col("c2.nrm")), 4).as("s"))
      // bounded collects: ≤50 shortlist rows, ≤50·49 pair rows
      val simq = cand.select(col("doc_id"), col("simq")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val ps = pair.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val first = simq.toSeq.minBy { case (id, sq) => (-sq, id) }
      var selected = Vector((first._1, 1, first._2))
      var remaining = simq.keySet - first._1
      for (k <- 2 to math.min(10, simq.size)) {
        val best = remaining.toSeq.map { c =>
          val maxSel = selected.map(sel => ps((c, sel._1))).max
          (c, 0.7 * simq(c) - 0.3 * maxSel)
        }.minBy { case (id, m) => (-m, id) }
        selected :+= ((best._1, k, best._2))
        remaining -= best._1
      }
      selected.map { case (id, rnk, m) => (rnk, id, r4(m)) }
        .toDF("rnk", "doc_id", "mmr_r")
        .orderBy(col("rnk"))
    },
    Some {
      val steps = (2 to 10).map { k =>
        s"""pick$k AS MATERIALIZED (SELECT c.doc_id, $k AS rnk,
           |            0.7 * c.simq - 0.3 * MAX(p.s) AS mmr
           |          FROM cand c JOIN pr p ON p.i = c.doc_id
           |          WHERE p.j IN (SELECT doc_id FROM sel${k - 1})
           |            AND c.doc_id NOT IN (SELECT doc_id FROM sel${k - 1})
           |          GROUP BY c.doc_id, c.simq
           |          ORDER BY mmr DESC, c.doc_id LIMIT 1),
           |sel$k AS MATERIALIZED (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM pick$k)"""
          .stripMargin
      }.mkString(",\n")
      s"""$oracleNormCte,
         |cand AS MATERIALIZED (SELECT b.vec_id AS doc_id, b.v, b.nrm,
         |           ROUND($oracleDot / (a.nrm * b.nrm), 4) AS simq
         |         FROM ev a JOIN ev b ON a.vec_id = 0 AND b.vec_id <> 0
         |         ORDER BY simq DESC, doc_id LIMIT 50),
         |pr AS MATERIALIZED (SELECT c1.doc_id AS i, c2.doc_id AS j,
         |          ROUND(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
         |            [c1.v[k] * c2.v[k] for k in range(1, LEN(c1.v) + 1)]),
         |            (acc, z) -> acc + z) / (c1.nrm * c2.nrm), 4) AS s
         |        FROM cand c1 JOIN cand c2 ON c1.doc_id <> c2.doc_id),
         |sel1 AS MATERIALIZED (SELECT doc_id, 1 AS rnk, simq AS mmr FROM cand
         |         ORDER BY simq DESC, doc_id LIMIT 1),
         |$steps
         |SELECT rnk, doc_id, ROUND(mmr, 4) AS mmr_r FROM sel10 ORDER BY rnk"""
        .stripMargin
    })

  /** Lloyd's k-means over the embedding corpus for q109/q110: K = 8
    * centroids seeded from vec_id 0..K-1, 3 update rounds, on the
    * [[Lloyd]] core.
    *  - The corpus is scanned once, fanned out to the core budget when
    *    the scan is narrower, and pinned as an RDD of float vectors.
    *  - Each round is ONE shuffle-free `treeAggregate` job: a scan of
    *    the pinned points that assigns each one to its nearest centroid
    *    and ships per-cluster (n, Σx), K·(d+1) doubles per partition, to
    *    the driver. No round plans a query or re-reads the table; at
    *    100 TB the per-round cost is one pass over the pinned points,
    *    which is what distributed k-means costs everywhere.
    *  - DETERMINISM vs the DuckDB oracle: centroids round to 1e-6 each
    *    round in both engines (the mean's summation order differs
    *    across engines and partitionings, and the rounding
    *    re-synchronizes the noise before it can flip a later
    *    assignment); distances use the same ascending-dimension (a−b)²
    *    fold as the oracle's LIST_REDUCE, and ties break to the smaller
    *    cid in both. */
  private def lloyd(s: SparkSession, d: String): Lloyd.Fit =
    Lloyd.fit(s, embeddings(s, d), k = 8, iters = 3, dim = 64)

  /** ONE copy of the oracle-side unrolled Lloyd's (shared by q109 and
    * q110 so the two oracles can never desynchronize): CTEs `c0` (seed),
    * `a1..a{iters+1}` (assign against the previous centroids) and
    * `u1..u{iters}`/`c1..c{iters}` (round-6 mean update with
    * empty-cluster carry-over). Expects an `ev(vec_id, v DOUBLE[], …)`
    * CTE in scope; the FINAL assignment is `a{iters+1}`. */
  private def oracleLloydCtes(k: Int, iters: Int, dim: Int): String = {
    def assign(t: Int): String =
      s"""a$t AS (SELECT vec_id, cid, dist FROM (
         |  SELECT vec_id, cid, dist,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) rn
         |  FROM (SELECT ev.vec_id, c.cid,
         |          LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
         |            [(ev.v[i] - c.c[i]) * (ev.v[i] - c.c[i])
         |             for i in range(1, LEN(ev.v) + 1)]),
         |            (acc, x) -> acc + x) AS dist
         |        FROM ev, c${t - 1} c)) WHERE rn = 1)""".stripMargin
    def update(t: Int): String =
      s"""u$t AS (SELECT cid, LIST(ROUND(m, 6) ORDER BY i) AS c FROM (
         |  SELECT a.cid, r.i, AVG(ev.v[r.i]) AS m
         |  FROM a$t a JOIN ev USING (vec_id), RANGE(1, ${dim + 1}) r(i)
         |  GROUP BY a.cid, r.i) GROUP BY cid),
         |c$t AS (SELECT p.cid, COALESCE(u.c, p.c) AS c
         |        FROM c${t - 1} p LEFT JOIN u$t u USING (cid))""".stripMargin
    val steps = (1 to iters).map(t => s"${assign(t)},\n${update(t)}").mkString(",\n")
    s"""c0 AS (SELECT vec_id AS cid, v AS c FROM ev WHERE vec_id < $k),
       |$steps,
       |${assign(iters + 1)}""".stripMargin
  }

  val q109 = Q(
    "q109_kmeans_cluster",
    // the final assignment, per-cluster counts and Σdist fold into one
    // last aggregate job that ends in a local frame
    (s, d) => lloyd(s, d).clusterStats(s),
    Some(
      s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |${oracleLloydCtes(k = 8, iters = 3, dim = 64)}
         |SELECT cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       ROUND(SUM(dist), 3) AS inertia_r
         |FROM a4 GROUP BY cid ORDER BY cluster""".stripMargin))

  /** q110: SemDeDup — cluster-scoped semantic near-dup removal (the
    * arXiv:2303.09540 recipe): k-means the corpus (q109's Lloyd's
    * pass), then compare pairs ONLY within a cluster and drop the
    * higher id of any pair with cosine ≥ τ. Output: one row per dropped
    * vector with its cluster, the keeper, and the max similarity seen.
    *
    * Scale shape — the whole point of SemDeDup: pair candidates are
    * Σ|cluster|², never |corpus|². The within-cluster join is an EQUI
    * join on cid (hash-partitioned, no broadcast of the corpus); at
    * production scale K is 10⁴–10⁵ so the key space is wide and each
    * partition's pair block is tiny — K=8 here only because the oracle
    * unrolls the same clustering. Similarities are rounded to 4 decimals
    * BEFORE the τ comparison, so the keep/drop frontier is identical
    * across engines. */
  val q110 = Q(
    "q110_semdedup",
    (s, d) => {
      val a = lloyd(s, d).assignment(s)
        .select(col("cid"), col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      val l = a.select(col("cid"), col("vec_id").as("id1"),
        col("embedding").as("v1"), col("nrm").as("n1"))
      val r = a.select(col("cid"), col("vec_id").as("id2"),
        col("embedding").as("v2"), col("nrm").as("n2"))
      l.join(r, Seq("cid")).filter(col("id1") < col("id2"))
        .select(col("cid"), col("id1"), col("id2"),
          round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4).as("sim_r"))
        .filter(col("sim_r") >= 0.45)
        .groupBy(col("id2").as("vec_id"))
        .agg(min(col("cid")).cast("long").as("cluster"),
          min(col("id1")).as("kept_by"), max(col("sim_r")).as("max_sim_r"))
        .orderBy(col("vec_id"))
    },
    Some(
      s"""$oracleNormCte,
         |${oracleLloydCtes(k = 8, iters = 3, dim = 64)}
         |SELECT id2 AS vec_id, CAST(MIN(cid) AS BIGINT) AS cluster,
         |       MIN(id1) AS kept_by, MAX(sim_r) AS max_sim_r
         |FROM (
         |  SELECT ax.cid, x.vec_id AS id1, y.vec_id AS id2,
         |         ROUND(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
         |           [x.v[i] * y.v[i] for i in range(1, LEN(x.v) + 1)]),
         |           (acc, z) -> acc + z) / (x.nrm * y.nrm), 4) AS sim_r
         |  FROM a4 ax JOIN a4 ay ON ax.cid = ay.cid AND ax.vec_id < ay.vec_id
         |  JOIN ev x ON x.vec_id = ax.vec_id
         |  JOIN ev y ON y.vec_id = ay.vec_id)
         |WHERE sim_r >= 0.45
         |GROUP BY id2 ORDER BY vec_id""".stripMargin))

  val all: Seq[Q] =
    Seq(q29, q29b, q29c, q29d, q29e, q29f, q29g, q49, q59, q70, q81, q82,
      q105, q106, q109, q110)
}
