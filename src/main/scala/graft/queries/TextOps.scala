package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Materialize.PinOps
import graft.Tables._

/** North-star text-pipeline operators over `documents` (SURVEY.md §2B
  * Q28/Q30): exact + near dedup (shingle jaccard, MinHash+LSH, SimHash),
  * token statistics, language heuristics, quality scores, fingerprints.
  *
  * Scale design: every pair-generating op goes through an inverted-index
  * or banded-signature join (shuffle on token/shingle/band key), never a
  * cross join — at 100 TB the candidate set stays proportional to true
  * collisions, and skewed hot shingles are bounded by `array_distinct`
  * per doc. Exact verification runs only on candidate pairs.
  */
object TextOps {

  private def tokens(c: Column): Column = split(c, " ")

  /** `documents` with the token array materialized ONCE as a column.
    * Referencing a `split(text)` *expression* from several places (or
    * from inside a higher-order-function lambda via `element_at`) makes
    * Catalyst re-evaluate the split per reference — per array element
    * inside a lambda, which turned shingling O(tokens²) and dominated
    * the whole dedup pipeline. A separate projection pins it: lambdas
    * then reference a cheap attribute. (CollapseProject keeps the
    * barrier because the alias is non-cheap and multiply-referenced.) */
  def tokenized(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      // The scan side is often a handful of big row groups (locally: one
      // file, one row group = one task). Everything downstream is
      // CPU-heavy per row, so hash-fan-out across the cluster first;
      // the shuffled payload is just the raw text.
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("toks", tokens(col("text")))

  /** Distinct word n-gram shingle HASHES of a token-hash-array column:
    * shingle i = xxhash64 chain over token hashes i..i+n-1. Hashing the
    * longs replaces the old `concat_ws + xxhash64(string)` shingling —
    * no string allocation per shingle, and `array_distinct` deduplicates
    * primitive longs instead of strings. Identity is the same
    * 64-bit-hash notion every downstream join already keys on. */
  private def nGramHashes(th: Column, n: Int): Column =
    array_distinct(
      transform(sequence(lit(0), size(th) - n),
        i => xxhash64((0 until n).map(j => element_at(th, i + j + 1)): _*)))

  private def shingleHashes(th: Column): Column = nGramHashes(th, 3)

  /** doc_id, shingle hash `h` (exploded), n = |shingle set|. Docs with
    * <3 tokens drop out. The inverted-index joins key on the 64-bit
    * shingle hash, not the string — narrower shuffle rows and cheaper
    * hash-join probes; a cross-doc collision needs two distinct
    * shingles at the same 64-bit hash (~10⁻¹¹ at 10⁶ distinct
    * shingles). Token hashes are pinned in their own projection so the
    * 3-reference shingle lambda reads a cheap attribute (CollapseProject
    * would otherwise inline the token-hashing per reference). */
  def explodedShingles(s: SparkSession, d: String): DataFrame =
    tokenized(s, d)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), transform(col("toks"), t => xxhash64(t)).as("th"))
      .select(col("doc_id"), shingleHashes(col("th")).as("sl"))
      .select(col("doc_id"), size(col("sl")).as("n"), explode(col("sl")).as("h"))
      // Terminal shuffle by h: every consumer (df counts, h-keyed joins,
      // doc_id regroups) hangs off this one exchange, and Spark's
      // ReuseExchange dedupes it across the 3–4 places each dedup query
      // references the index — the shingling pipeline runs ONCE per
      // query instead of once per consumer, with h-keyed consumers
      // reading it exchange-free.
      .repartition(col("h"))

  /** Exact jaccard of the candidate pairs `(id1, id2)` against the full
    * exploded (id, h, n) index: expand by id1's shingles, hash-join on
    * (id2, h) so only shared shingles survive, count per pair. Cost is
    * proportional to |candidates|, not corpus².
    *
    * Build sides are PINNED, not left to AQE size estimates: the
    * candidate set (near-dup survivors, bounded) is broadcast; the
    * expanded-candidate side of the (id2, h) join is the shuffle-hash
    * build. Left adaptive, whichever stage materializes first under
    * load wins the build — and a corpus-index broadcast is an OOM at
    * 100× (the r5 q29 race, recurring in r6's recorded q37/q53
    * regressions). The corpus index is never broadcast, never the
    * hash-table side. */
  def verifyJaccard(cand: DataFrame, ex: DataFrame, minJaccard: Double): DataFrame = {
    val a = ex.select(col("doc_id").as("id1"), col("n").as("n1"), col("h"))
    val b = ex.select(col("doc_id").as("id2"), col("n").as("n2"), col("h"))
    broadcast(cand).join(a, Seq("id1")).hint("shuffle_hash").join(b, Seq("id2", "h"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"), first(col("n1")).as("na"), first(col("n2")).as("nb"))
      .select(col("id1"), col("id2"),
        (col("shared").cast(DoubleType) / (col("na") + col("nb") - col("shared")).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** The per-doc prefix shingles — the p = n − ⌈t·n⌉ + 1 globally-
    * rarest per doc, selected by the bounded prefix_min_agg aggregate
    * (never a window sort). Exposed for PlanSpec: inside
    * [[jaccardPrefixJoin]] this subplan materializes under the prefix
    * pin, so its shape is not visible in the outer executed plan. */
  private[graft] def prefixSelection(ex: DataFrame, freq: DataFrame, t: Double): DataFrame =
    ex.join(freq.hint("shuffle_hash"), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(call_function("prefix_min_agg", col("df"), col("h"), col("n"), lit(t)).as("ph"),
        first(col("n")).as("n"))
      .select(col("doc_id"), col("n"), explode(col("ph")).as("h"))

  /** Exact all-pairs jaccard ≥ t via prefix filtering (PPJoin-style).
    *
    * A naive inverted-index self-join explodes on hot shingles (with a
    * small vocabulary a single common shingle can pair half the corpus:
    * Σ dfᵢ² rows). Prefix filtering is the exact fix: order shingles
    * globally by ascending document frequency; if J(A,B) ≥ t, A and B
    * must share one of each other's first p = n − ⌈t·n⌉ + 1 shingles
    * under that order, so candidates are generated only from each doc's
    * ~(1−t)·n RAREST shingles — the hot head never joins. Candidates
    * then get the exact verify, so the result equals the naive join's.
    */
  def jaccardPrefixJoin(ex0: DataFrame, t: Double): DataFrame = {
    // The exploded index feeds SIX consumers (freq, both self-join
    // sides via prefix, verify's a and b). ReuseExchange cannot dedupe
    // them — the shingle lambdas' variables defeat plan
    // canonicalization — so without the pin the scan+tokenize+shingle
    // pipeline runs once PER CONSUMER. Materialize it once, KEYED on h
    // (partitioning-preserving pin; ex0's terminal repartition(h)
    // collapses into the pin's): h-keyed consumers — the df count and
    // the ex⋈freq join — then read it with zero added exchanges.
    // Partition count DELIBERATELY stays at shuffle.partitions (the
    // cluster budget), not the bytes-adaptive count: this pipeline is
    // compute-dense, ~20× more CPU than its bytes suggest (shingle
    // hash joins + verify expansion). Measured (r20, interleaved A/B
    // via graft.pin.adaptive, 5 rounds, min): bytes-adaptive (1
    // partition at sf0.1) q28b 2.66 s / q37 2.65 s vs full fan-out
    // 1.19 s / 1.18 s — serializing the verify stage loses 2.2×. The
    // bytes-adaptive sizing is kept for the aggregate-sized pins
    // (q38/q46/q64/q65/q71) where the same A/B measured it
    // neutral-to-better.
    val pinParts = ex0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ex = graft.Materialize.pinPartitionedBy(ex0, pinParts, Seq("h"))
    val freq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // per-doc prefix = the p = n − ⌈t·n⌉ + 1 globally-rarest shingles,
    // selected by a typed bottom-p aggregate instead of a row_number
    // window: map-side partials cap each doc at p rows, so the exchange
    // ships prefixes, not the whole inverted index, and no sort runs.
    // freq is |distinct shingles| — corpus-scaled, so its join is pinned
    // shuffle_hash (the pinned ex REPORTS HashPartitioning(h), so freq
    // aggregates in place and the join adds zero exchanges — PlanSpec
    // pins it); adaptive would broadcast freq under the 10 MB
    // threshold at sf0.1 and OOM at 100×
    // pinned like ex, and for the same reason: the self-join below
    // references prefix TWICE, and the typed prefix_min_agg defeats
    // ReuseExchange canonicalization, so without the pin the whole
    // ex⋈freq + prefix-aggregate subtree ran once PER SIDE (Probe8
    // measured the duplicate). h-keyed, so the self-join reads both
    // sides from the pinned layout with zero added exchanges.
    val prefix = graft.Materialize.pinPartitionedBy(
      prefixSelection(ex, freq, t), pinParts, Seq("h"))
    // length filter (PPJoin): J(A,B) ≤ min(n)/max(n), so any pair with
    // n2 outside [t·n1, n1/t] can't reach t — dropped IN the join
    // condition, before the candidate set exists, which keeps the
    // verify stage's |cand| × shingles expansion proportional to
    // plausible pairs only
    // prefix scales with the corpus (one row per doc per prefix
    // shingle) — neither side of the self-join may ever be broadcast;
    // shuffle_hash pins a per-partition hash build with no sort
    val cand = prefix.select(col("doc_id").as("id1"), col("h"), col("n").as("n1"))
      .hint("shuffle_hash")
      .join(prefix.select(col("doc_id").as("id2"), col("h"), col("n").as("n2")), Seq("h"))
      .filter(col("id1") < col("id2") &&
        col("n2") >= ceil(col("n1") * t) && col("n1") >= ceil(col("n2") * t))
      .select(col("id1"), col("id2"))
      .distinct()
    verifyJaccard(cand, ex, t)
  }

  /** Connected components over near-dup pairs by iterated min-label
    * propagation: every node starts as its own label; each round takes
    * the min of its neighbours' labels; stop at fixpoint. Rounds are
    * bounded by component diameter (near-dup clusters are shallow), the
    * per-round work is one shuffle join, and `localCheckpoint`
    * truncates the growing lineage — the standard Spark shape for
    * iterative graph algorithms (driver only orchestrates; all data
    * stays distributed). Returns (node, label) with label = component
    * representative = min doc_id of the cluster. */
  def connectedComponents(pairs: DataFrame, smallCutoff: Long = 1000000L): DataFrame = {
    // Adaptive strategy, same spirit as a broadcast-join threshold: the
    // pair set is usually tiny relative to the corpus (it's the near-dup
    // survivors), and a driver-side union-find on ≤1M edges beats several
    // distributed fixpoint rounds of pure scheduling overhead. Past the
    // threshold, fall through to the distributed propagation loop
    // (cutoff injectable so tests can force that path).
    val cached = pairs.select(col("id1"), col("id2")).pinned
    // ONE bounded action decides the path AND fetches the small case's
    // edges (r20, guide §5 job-count): head(cutoff+1) returns every
    // edge iff the set fits under the cutoff, and its bounded overflow
    // row proves it doesn't — the old count()-then-collect() pair was
    // two sequential jobs over the same pinned frame. The fetch bound
    // is clamped so that cap + 1 stays a positive Int: an unclamped
    // Long.MaxValue cutoff wrapped to head(0) and returned no components
    val cap = math.min(smallCutoff, Int.MaxValue - 1L)
    val firstEdges = cached.head(cap.toInt + 1)
    if (firstEdges.length <= cap) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      // firstEdges IS the complete edge set here (≤ cutoff rows came
      // back from a cutoff+1 take) — no second collect job
      val edgeArr = firstEdges.map(r => (r.getLong(0), r.getLong(1)))
      edgeArr.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
      val nodes = edgeArr.flatMap(t => Seq(t._1, t._2)).distinct
      return nodes.toSeq.map(n => (n, find(n))).toDF("node", "label")
    }
    val edges = cached.select(col("id1").as("u"), col("id2").as("v"))
      .union(cached.select(col("id2").as("u"), col("id1").as("v")))
      .pinned
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .pinned
    var converged = false
    var iter = 0
    while (!converged && iter < 50) {
      val neighborMin = edges.join(labels.hint("shuffle_hash"), col("v") === col("node"))
        .groupBy(col("u")).agg(min(col("label")).as("nlabel"))
      // convergence folds into the update itself: the old label rides
      // along through the checkpoint, so `changed` is a filter-count
      // over already-materialized rows — one job per round instead of
      // a second join against the previous labels
      val updated = labels.as("l")
        .join(neighborMin.hint("shuffle_hash"), col("node") === col("u"), "left")
        .select(col("node"), col("l.label").as("old"),
          least(col("l.label"), coalesce(col("nlabel"), col("l.label"))).as("label"))
        .pinned
      val changed = updated.filter(col("label") < col("old")).count()
      labels = updated.select(col("node"), col("label"))
      converged = changed == 0
      iter += 1
    }
    labels
  }

  // ---- Q28: dedup family -------------------------------------------------

  /** Exact dedup: canonical representative (min doc_id) per distinct
    * text. Groups on a 320-bit content key (xxhash64 ∥ sha2-256) rather
    * than the text itself, so the shuffle carries ~50 bytes per row
    * instead of full document bodies — at 100 TB that is the difference
    * between shuffling kilobytes-per-doc and shuffling fingerprints
    * (the standard content-hash dedup contract; a collision needs two
    * documents agreeing on both hashes simultaneously). */
  val q28 = Q(
    "q28_dedup_exact",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), xxhash64(col("text")).as("h1"), sha2(col("text"), 256).as("h2"))
        .groupBy(col("h1"), col("h2"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
        .select(col("doc_id"), col("dup_cnt"))
        .orderBy(col("doc_id")),
    Some("""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_cnt
           |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin))

  /** Exact 3-gram-shingle jaccard near-dup via prefix-filtered join. */
  val q28b = Q(
    "q28b_ngram_jaccard",
    (s, d) =>
      jaccardPrefixJoin(explodedShingles(s, d), 0.8)
        .orderBy(col("id1"), col("id2")),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
           |sh AS (SELECT doc_id,
           |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                        for i in range(1, len(t) - 1)]) sl
           |       FROM toks WHERE len(t) >= 3),
           |ex AS (SELECT doc_id, len(sl) n, unnest(sl) shingle FROM sh),
           |pairs AS (SELECT a.doc_id id1, b.doc_id id2, COUNT(*) shared,
           |                 ANY_VALUE(a.n) na, ANY_VALUE(b.n) nb
           |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |          GROUP BY 1, 2)
           |SELECT id1, id2,
           |       CAST(shared AS DOUBLE) / CAST(na + nb - shared AS DOUBLE) AS jaccard
           |FROM pairs
           |WHERE CAST(shared AS DOUBLE) / CAST(na + nb - shared AS DOUBLE) >= 0.8
           |ORDER BY id1, id2""".stripMargin))

  /** MinHash + LSH banding: 128 hashes, 32 bands × 4 rows; candidates
    * from band-bucket collisions only, then exact-jaccard verified.
    * Same output contract as q28b — MinHash is the recall-scalable
    * candidate generator, the verify stage keeps precision exact. No
    * oracle (hash family is engine-specific).
    *
    * Scale shape: shingles are exploded and hashed ONCE to a long; the
    * 128 per-doc minima come from ONE native [[graft.functions.MinHashAgg]]
    * buffer (single map-side-combined aggregation keyed by doc_id — the
    * 128-column `min(xxhash64(lit(i), h))` formulation computed the same
    * values but its aggregate codegen was megabytes of Java whose JIT
    * cost dominated; and a nested array expression would be re-inlined
    * per band by CollapseProject, which made a first draft
    * O(bands×hashes) and 50× slower). Verification joins candidates on
    * (id, shingle) so its cost is proportional to candidate count, not
    * corpus².
    */
  val q28c = Q(
    "q28c_minhash_lsh",
    (s, d) => {
      // pinned: sig + both band-join sides + verify's a/b all read the
      // index, and ReuseExchange cannot dedupe the shingle lambdas
      val ex = graft.Materialize.pin(explodedShingles(s, d))
      // the aggregate emits the 32 banded signatures directly (same
      // XXH64 chain as xxhash64(m_{4j},…,m_{4j+3})) — banding inside
      // eval keeps the query-side expression tree tiny
      val sig = ex.groupBy(col("doc_id"))
        .agg(call_function("minhash_bands", col("h"), lit(128), lit(4)).as("bands"))
      val bands = sig.select(col("doc_id"), posexplode(col("bands")))
        .toDF("doc_id", "band_idx", "band_sig")
      val cand = bands.as("x")
        .join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_sig") === col("y.band_sig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
        .distinct()
      verifyJaccard(cand, ex, 0.8)
        .orderBy(col("id1"), col("id2"))
    },
    // The verify stage is EXACT, and at 32 bands × 4 rows candidate
    // recall for j ≥ 0.8 is 1 − (1 − 0.8⁴)³² ≈ 1 − 5·10⁻⁸ — so the
    // output equals the exact all-pairs join's and q28b's oracle
    // applies verbatim.
    q28b.oracle)

  /** Token hash feeding the SimHash family: the low 60 bits of
    * md5(token) (first 15 hex chars, radix-converted). Chosen over
    * xxhash64 NOT for hash quality but because BOTH engines compute it
    * bit-identically (`('0x' || substr(md5(token),1,15))::BIGINT` in
    * DuckDB), which is what lets q28d's oracle recompute the ENTIRE
    * simhash + pair set and hash-match the rows — the last no-oracle
    * query flipped to value-checked. 60 bits: 16 hex chars would
    * overflow a signed BIGINT on the oracle side; the four vacant top
    * bits get all-clear counters (sum = −n < 0 → 0) in both engines,
    * so the 4×16 banding below stays exact. A production corpus-scale
    * run would swap xxhash64 back in — the aggregate and banding are
    * hash-agnostic. */
  private def simTokenHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(org.apache.spark.sql.types.LongType)

  private val simhashOracleCte =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |hs AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM tok),
      |cnt AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
      |        FROM hs, range(60) r(b) GROUP BY doc_id, b),
      |sim AS (SELECT doc_id, SUM(CASE WHEN c > 0 THEN 1::BIGINT << b ELSE 0::BIGINT END) AS sh
      |        FROM cnt GROUP BY doc_id)""".stripMargin

  /** 64-bit SimHash over the token multiset + banded hamming-distance
    * pairing. 4 bands × 16 bits with threshold 3 is a GUARANTEE, not a
    * heuristic: ≤ 3 differing bits can touch at most 3 of the 4 bands
    * (pigeonhole), so every qualifying pair shares at least one intact
    * band and is found — recall 1.0 by construction, candidates ∝ band
    * collisions. (A higher threshold under the same banding would
    * silently lose pairs whose differences spread across all bands.)
    * Because candidates are then filtered on TRUE hamming, the banded
    * set is exactly the brute-force pair set (⊆ by the filter, ⊇ by
    * pigeonhole — PropertySpec asserts equality against q28e), so the
    * oracle simply recomputes the brute-force pairs. */
  val q28d = Q(
    "q28d_simhash",
    (s, d) => {
      val tok = tokenized(s, d)
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .select(col("doc_id"), simTokenHash(col("token")).as("h"))
      // one native buffer for all 64 bit-counters — the 64-column
      // sum(when(bit,1,-1)) formulation was identical semantically but
      // its aggregate codegen JIT cost dominated the query
      val sim = tok.groupBy(col("doc_id"))
        .agg(call_function("simhash_agg", col("h")).as("simhash"))
      val bands = sim.select(col("doc_id"), col("simhash"),
          posexplode(array((0 until 4).map(j =>
            shiftrightunsigned(col("simhash"), j * 16) % 65536): _*)))
        .toDF("doc_id", "simhash", "band_idx", "band_val")
      bands.as("x").join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_val") === col("y.band_val") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
        .filter(col("hamming") <= 3) // ≤ bands−1: full recall by pigeonhole;
        .distinct()                  // filter BEFORE distinct — the band join
        .orderBy(col("id1"), col("id2")) // can emit millions of far pairs
    },
    Some(s"""$simhashOracleCte
            |SELECT id1, id2, CAST(hamming AS INTEGER) AS hamming FROM (
            |  SELECT a.doc_id AS id1, b.doc_id AS id2,
            |         bit_count(xor(a.sh, b.sh)) AS hamming
            |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id)
            |WHERE hamming <= 3 ORDER BY id1, id2""".stripMargin))

  /** Exhaustive-recall check target for q28d: the same hamming-≤ 3 pair
    * set computed by brute force over all simhash pairs. Deliberately
    * NOT in `all` (it is quadratic); PropertySpec asserts q28d ≡ this
    * on sf0.001 — i.e. the banding's recall guarantee holds. */
  val q28e = Q(
    "q28e_simhash_brute",
    (s, d) => {
      val tok = tokenized(s, d)
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .select(col("doc_id"), simTokenHash(col("token")).as("h"))
      val sim = tok.groupBy(col("doc_id"))
        .agg(call_function("simhash_agg", col("h")).as("simhash"))
      val a = sim.select(col("doc_id").as("id1"), col("simhash").as("s1"))
      val b = sim.select(col("doc_id").as("id2"), col("simhash").as("s2"))
      a.join(b, col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy(col("id1"), col("id2"))
    },
    None)

  // ---- Q30: text analysis ------------------------------------------------

  val q30 = Q(
    "q30_token_freq",
    (s, d) =>
      documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(50),
    Some("""SELECT token, COUNT(*) AS cnt
           |FROM (SELECT unnest(string_split(text, ' ')) token FROM documents)
           |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin))

  val q30b = Q(
    "q30b_doc_stats",
    (s, d) => {
      val t = col("toks")
      tokenized(s, d)
        .select(col("doc_id"), col("n_chars"),
          size(t).as("n_tokens"),
          size(array_distinct(t)).as("n_distinct_tokens"),
          ((col("n_chars") - (size(t) - 1)).cast(DoubleType) / size(t).cast(DoubleType)).as("avg_token_len"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, n_chars,
           |       LEN(string_split(text, ' ')) AS n_tokens,
           |       LEN(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           |       CAST(n_chars - (LEN(string_split(text, ' ')) - 1) AS DOUBLE)
           |         / CAST(LEN(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
           |FROM documents ORDER BY doc_id""".stripMargin))

  val q30c = Q(
    "q30c_lang_hist",
    (s, d) =>
      documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"),
          (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"))
        .orderBy(col("lang")),
    Some("""SELECT lang, COUNT(*) AS cnt,
           |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  private val stopwords = Seq("the", "a", "of", "and", "to")

  /** Quality scoring: stopword ratio + length-band score, exact double
    * arithmetic (identical op order in the oracle). */
  val q30d = Q(
    "q30d_quality_score",
    (s, d) => {
      val t = col("toks")
      val nTok = size(t).cast(DoubleType)
      val stopCnt = size(filter(t, tk => tk.isin(stopwords: _*))).cast(DoubleType)
      val avgLen = (col("n_chars") - (size(t) - 1)).cast(DoubleType) / nTok
      tokenized(s, d)
        .select(col("doc_id"),
          (stopCnt / nTok).as("stop_ratio"),
          least(avgLen / lit(10.0), lit(1.0)).as("len_score"),
          ((stopCnt / nTok) * lit(0.5) + least(avgLen / lit(10.0), lit(1.0)) * lit(0.5)).as("quality"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
           |  CAST(LEN(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
           |    / CAST(LEN(string_split(text,' ')) AS DOUBLE) AS stop_ratio,
           |  LEAST(CAST(n_chars - (LEN(string_split(text,' ')) - 1) AS DOUBLE)
           |    / CAST(LEN(string_split(text,' ')) AS DOUBLE) / 10.0, 1.0) AS len_score,
           |  CAST(LEN(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
           |    / CAST(LEN(string_split(text,' ')) AS DOUBLE) * 0.5
           |  + LEAST(CAST(n_chars - (LEN(string_split(text,' ')) - 1) AS DOUBLE)
           |    / CAST(LEN(string_split(text,' ')) AS DOUBLE) / 10.0, 1.0) * 0.5 AS quality
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Regex token counting (BPE-ish word/number/symbol classes) alongside
    * whitespace counting. Patterns restricted to the RE2∩Java-regex
    * common subset. */
  val q30e = Q(
    "q30e_token_count",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+")).as("word_tokens"),
          regexp_count(col("text"), lit("[0-9]+")).as("num_tokens"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, LEN(string_split(text, ' ')) AS ws_tokens,
           |       LEN(regexp_extract_all(text, '[a-z]+')) AS word_tokens,
           |       LEN(regexp_extract_all(text, '[0-9]+')) AS num_tokens
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Rolling polynomial fingerprint over token lengths, mod 1e9+7 —
    * a sequential left fold in both engines. */
  val q30f = Q(
    "q30f_fingerprint",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          aggregate(tokens(col("text")), lit(0L),
            (acc, t) => (acc * lit(31L) + length(t).cast(LongType) + lit(1L)) % lit(1000000007L))
            .as("fingerprint"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |  LIST_REDUCE(
           |    LIST_PREPEND(CAST(0 AS BIGINT),
           |      LIST_TRANSFORM(string_split(text, ' '), t -> CAST(LENGTH(t) + 1 AS BIGINT))),
           |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Language-ID heuristic: score each language profile by marker-token
    * hits; deterministic argmax with ties broken alphabetically. (The
    * synthetic corpus is ASCII word salad, so this exercises the
    * mechanism, not linguistics.) The oracle mirrors the scoring with
    * DuckDB list_filter counts and the same struct-sort argmax. */
  val q30g = Q(
    "q30g_langid",
    (s, d) => {
      val profiles = Map(
        "en" -> Seq("the", "a", "and", "of"),
        "es" -> Seq("el", "la", "de", "que"),
        "fr" -> Seq("le", "la", "et", "de"),
        "de" -> Seq("der", "die", "und", "das"),
        "zh" -> Seq.empty[String])
      val t = col("toks")
      // negated score + ascending sort → argmax with alphabetical tiebreak
      val scores = profiles.toSeq.sortBy(_._1).map { case (lg, markers) =>
        val hits =
          if (markers.isEmpty) lit(0)
          else size(filter(t, tk => tk.isin(markers: _*)))
        struct((-hits).cast(DoubleType).as("neg_score"), lit(lg).as("lang"))
      }
      tokenized(s, d)
        .select(col("doc_id"),
          sort_array(array(scores: _*)).getItem(0).getField("lang").as("predicted_lang"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents)
           |SELECT doc_id,
           |  (list_sort([
           |     {'neg_score': -CAST(LEN(list_filter(toks, tk -> tk IN ('der','die','und','das'))) AS DOUBLE), 'lang': 'de'},
           |     {'neg_score': -CAST(LEN(list_filter(toks, tk -> tk IN ('the','a','and','of'))) AS DOUBLE), 'lang': 'en'},
           |     {'neg_score': -CAST(LEN(list_filter(toks, tk -> tk IN ('el','la','de','que'))) AS DOUBLE), 'lang': 'es'},
           |     {'neg_score': -CAST(LEN(list_filter(toks, tk -> tk IN ('le','la','et','de'))) AS DOUBLE), 'lang': 'fr'},
           |     {'neg_score': CAST(0 AS DOUBLE), 'lang': 'zh'}
           |   ]))[1].lang AS predicted_lang
           |FROM t ORDER BY doc_id""".stripMargin))

  /** End-to-end near-dup corpus dedup: pairs (prefix-filtered exact
    * jaccard ≥ 0.8) → connected components → keep each cluster's min
    * doc_id plus all unpaired docs. The oracle resolves the same
    * closure with a recursive CTE. This is the operator a training-data
    * pipeline actually runs — pair-finding (q28b) is its inner stage. */
  val q37 = Q(
    "q37_dedup_corpus",
    (s, d) => {
      val pairs = jaccardPrefixJoin(explodedShingles(s, d), 0.8).select(col("id1"), col("id2"))
      val cc = connectedComponents(pairs)
      documents(s, d)
        .join(cc, col("doc_id") === col("node"), "left")
        .filter(col("label").isNull || col("label") === col("doc_id"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
           |sh AS (SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |               for i in range(1, len(t) - 1)]) sl
           |       FROM toks WHERE len(t) >= 3),
           |ex AS (SELECT doc_id, len(sl) n, unnest(sl) shingle FROM sh),
           |pairs AS (SELECT a.doc_id id1, b.doc_id id2
           |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |          GROUP BY 1, 2
           |          HAVING CAST(COUNT(*) AS DOUBLE)
           |            / CAST(ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*) AS DOUBLE) >= 0.8),
           |edges AS (SELECT id1 u, id2 v FROM pairs UNION SELECT id2, id1 FROM pairs),
           |reach AS (SELECT u, v FROM edges
           |          UNION
           |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
           |rep AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS rep FROM reach GROUP BY u)
           |SELECT d.doc_id FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
           |WHERE r.rep IS NULL OR r.rep = d.doc_id
           |ORDER BY d.doc_id""".stripMargin))

  /** Sequence packing for training batches: docs in doc_id order are
    * grouped into packs by token-prefix-sum division — pack k holds the
    * docs whose preceding token count lies in [k·B, (k+1)·B); a pack's
    * size is ≤ B + max_doc_tokens (the straddling doc stays in its
    * starting pack). Deterministic, no driver loop.
    *
    * The prefix sum is THREE-level so it is fully distributed — no
    * driver-side cumsum, no collect() proportional to the corpus:
    *  1. a window WITHIN each doc_id bucket (|docs|/100 parallel
    *     groups of ≤100 docs);
    *  2. per-bucket totals cumsum'd WITHIN each super-bucket (another
    *     distributed window, ≤100 buckets per group);
    *  3. super-bucket totals cumsum'd by one ordered window over
    *     |docs|/10⁴ rows — the only serial step, 10⁷ tiny rows even at
    *     10¹¹ docs (add a fourth level before that ever matters).
    * A single global `Window.orderBy` would instead serialize the whole
    * corpus through one task. */
  val q38 = Q(
    "q38_pack_sequences",
    (s, d) => {
      val budget = 2048L
      val bucketWidth = 100L // docs per bucket
      val superWidth = 100L // buckets per super-bucket
      // Materialized once (eager localCheckpoint): the offset subplan
      // and the final join both read these 3 narrow columns, and
      // without the checkpoint each side would re-tokenize the corpus
      // from the raw text.
      // bucket-keyed pin: the bucket-total aggregation runs in place,
      // the rank join reads the corpus side with no exchange, and the
      // in-bucket window's clustering requirement is already satisfied.
      // Measured (sf0.1, local[32], graft.checkpoint.disable A/B, min
      // of 3): pin 1.09s vs no-pin 2.08s — re-tokenizing the corpus
      // for each of the two consumers costs ~2× the materialization.
      val toks0 = tokenized(s, d)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
        .withColumn("bucket", expr(s"doc_id div $bucketWidth"))
      // adaptive count (guide §2.2): 3 narrow columns per doc — the
      // corpus-sized shuffle.partitions fan-out was pure per-task cost
      val toks = toks0.pinnedBy(
        graft.Materialize.adaptivePinPartitions(toks0), "bucket")
      val inBucket = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bucketTotals = toks.groupBy(col("bucket"))
        .agg(sum(col("n_tokens")).as("btotal"))
        .withColumn("sb", expr(s"bucket div $superWidth"))
      val inSuper = Window.partitionBy(col("sb")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val superW = Window.orderBy(col("sb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val superOffsets = bucketTotals.groupBy(col("sb"))
        .agg(sum(col("btotal")).as("stotal"))
        .withColumn("soffset", sum(col("stotal")).over(superW) - col("stotal"))
        .select(col("sb"), col("soffset"))
      // exclusive prefix of every bucket = super offset + in-super cumsum
      // joins pinned shuffle-hash, aggregate side as build: offsets is
      // |docs|/bucketWidth rows — never broadcastable at scale
      val offsets = bucketTotals
        .withColumn("cum_in_sb", sum(col("btotal")).over(inSuper))
        .join(superOffsets.hint("shuffle_hash"), Seq("sb"))
        .select(col("bucket"),
          (col("soffset") + col("cum_in_sb") - col("btotal")).as("offset"))
      toks.join(offsets.hint("shuffle_hash"), Seq("bucket"))
        .withColumn("prefix",
          col("offset") + sum(col("n_tokens")).over(inBucket) - col("n_tokens"))
        .withColumn("pack_id", floor(col("prefix") / budget).cast("long"))
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("pack_id"))
    },
    Some("""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) n_tokens
           |           FROM documents),
           |p AS (SELECT doc_id, n_tokens,
           |        CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |             - n_tokens) / 2048.0) AS BIGINT) AS pack_id
           |      FROM t)
           |SELECT pack_id, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
           |FROM p GROUP BY pack_id ORDER BY pack_id""".stripMargin))

  /** Repetition-based quality signals (Gopher-rule style): duplicate
    * token fraction and the share of the document taken by its single
    * most frequent token — high values flag boilerplate/spam for
    * training-data filtering. */
  val q30h = Q(
    "q30h_repetition",
    (s, d) => {
      val t = col("toks")
      val topTokCnt = array_max(transform(array_distinct(t),
        tk => size(filter(t, x => x === tk))))
      tokenized(s, d)
        .select(col("doc_id"),
          (lit(1.0) - size(array_distinct(t)).cast(DoubleType) / size(t).cast(DoubleType))
            .as("dup_token_ratio"),
          (topTokCnt.cast(DoubleType) / size(t).cast(DoubleType)).as("top_token_share"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents)
           |SELECT doc_id,
           |  1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
           |    AS dup_token_ratio,
           |  CAST(list_max(list_transform(list_distinct(toks),
           |         tk -> len(list_filter(toks, x -> x = tk)))) AS DOUBLE)
           |    / CAST(len(toks) AS DOUBLE) AS top_token_share
           |FROM t ORDER BY doc_id""".stripMargin))

  /** Deterministic stratified sampling: per-language keep rates via
    * modulo on the stable doc_id (en 1/2, others 1/5). The sampling
    * predicate is a pure row-local filter — it pushes to the scan, needs
    * no shuffle and no state, and is bit-reproducible across runs and
    * engines, which is what a training-data pipeline needs from its
    * sampling stage at 100 TB (re-running the job must select the same
    * corpus; random() would not). */
  val q40 = Q(
    "q40_stratified_sample",
    (s, d) =>
      documents(s, d)
        .filter(when(col("lang") === "en", pmod(col("doc_id"), lit(2)) === 0)
          .otherwise(pmod(col("doc_id"), lit(5)) === 0))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id, lang FROM documents
           |WHERE (lang = 'en' AND doc_id % 2 = 0)
           |   OR (lang <> 'en' AND doc_id % 5 = 0)
           |ORDER BY doc_id""".stripMargin))

  /** Fixed-width histogram of document lengths: one partial-aggregated
    * groupBy over a computed bin key — the map-side combine means the
    * shuffle carries |bins| rows per task regardless of corpus size. */
  val q41 = Q(
    "q41_histogram",
    (s, d) =>
      documents(s, d)
        .groupBy((floor(col("n_chars") / lit(100.0)) * 100).cast(LongType).as("bin_lo"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("bin_lo")),
    Some("""SELECT CAST(FLOOR(n_chars / 100.0) * 100 AS BIGINT) AS bin_lo,
           |       COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
           |FROM documents GROUP BY 1 ORDER BY bin_lo""".stripMargin))

  /** TF-IDF: top-3 terms per document (docs 0–49) scored against
    * corpus-wide document frequency. Scale shape: term frequency is
    * computed only for the requested docs (filter pushed before the
    * explode), document frequency and N aggregate over the corpus with
    * map-side combine, and N joins in as a broadcast of one row. The
    * rank is integer-only — (tf DESC, df ASC, token) is order-identical
    * to tf·ln(N/df) but immune to cross-engine log() ulp differences;
    * the float score is computed only for display, rounded to 4. */
  val q42 = Q(
    "q42_tfidf",
    (s, d) => {
      val tok = tokenized(s, d)
      val tf = tok.filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      // df = #docs containing the token: dedupe per-doc with row-local
      // array_distinct BEFORE the explode — the alternative (explode →
      // global distinct on (doc_id, token)) shuffles the entire exploded
      // corpus once more for the same result. Here the only shuffle is
      // the map-side-combined groupBy(token), carrying |vocab| rows.
      val dfreq = tok
        .select(explode(array_distinct(col("toks"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      val nDocs = documents(s, d).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df"), col("token"))
      // tf is bounded by the query contract (50 requested docs) while
      // dfreq is the corpus vocabulary: broadcast the bounded side,
      // pinned so the build choice never races
      broadcast(tf).join(dfreq, Seq("token"))
        .crossJoin(broadcast(nDocs))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("token"),
          round(col("tf") * log(col("n").cast(DoubleType) / col("df")), 4).as("tfidf"))
        .orderBy(col("doc_id"), col("token"))
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) token FROM documents),
           |tf AS (SELECT doc_id, token, COUNT(*) tf FROM tok WHERE doc_id < 50 GROUP BY 1, 2),
           |df AS (SELECT token, COUNT(*) df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
           |n AS (SELECT COUNT(*) n FROM documents),
           |x AS (SELECT tf.doc_id, tf.token,
           |        ROUND(tf.tf * LN(CAST(n.n AS DOUBLE) / df.df), 4) tfidf,
           |        ROW_NUMBER() OVER (PARTITION BY tf.doc_id
           |          ORDER BY tf.tf DESC, df.df, tf.token) rn
           |      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
           |SELECT doc_id, token, tfidf FROM x WHERE rn <= 3
           |ORDER BY doc_id, token""".stripMargin))

  /** End-to-end curation: the filter→dedup composition a training-data
    * pipeline actually ships — language gate, quality gate (same exact
    * double arithmetic as q30d, so the threshold comparison is
    * deterministic cross-engine), then exact content-hash dedup keeping
    * each text's min doc_id. Everything before the dedup is a row-local
    * filter (pushes toward the scan); the only shuffle carries 50-byte
    * content fingerprints of the SURVIVORS — at 100 TB the expensive
    * stages see only what the cheap gates let through. */
  val q44 = Q(
    "q44_curate",
    (s, d) => {
      val t = col("toks")
      val nTok = size(t).cast(DoubleType)
      val stopCnt = size(filter(t, tk => tk.isin(stopwords: _*))).cast(DoubleType)
      val avgLen = (col("n_chars") - (size(t) - 1)).cast(DoubleType) / nTok
      val quality = (stopCnt / nTok) * lit(0.5) + least(avgLen / lit(10.0), lit(1.0)) * lit(0.5)
      tokenized(s, d)
        .filter(col("lang") === "en" && quality >= 0.26)
        .groupBy(xxhash64(col("text")).as("h1"), sha2(col("text"), 256).as("h2"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
        .select(col("doc_id"), col("dup_cnt"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH scored AS (
           |  SELECT doc_id, text, lang,
           |    CAST(LEN(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
           |      / CAST(LEN(string_split(text,' ')) AS DOUBLE) * 0.5
           |    + LEAST(CAST(n_chars - (LEN(string_split(text,' ')) - 1) AS DOUBLE)
           |      / CAST(LEN(string_split(text,' ')) AS DOUBLE) / 10.0, 1.0) * 0.5 AS quality
           |  FROM documents)
           |SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_cnt
           |FROM scored WHERE lang = 'en' AND quality >= 0.26
           |GROUP BY text ORDER BY doc_id""".stripMargin))

  /** Text cleaning / masking — the normalization stage of a curation
    * pipeline: drop 1-char tokens, mask a denylist to a sentinel, keep
    * the removed-count as an audit column. Deliberately token-level
    * (split → filter → transform → join) rather than regex chains: the
    * per-row lambda pipeline is codegen'd, row-local (no shuffle — the
    * whole op pushes to the scan side at any scale), and exactly
    * mirrorable in the oracle without engine regex dialect drift. */
  val q43 = Q(
    "q43_clean_text",
    (s, d) => {
      val kept = filter(col("toks"), t => length(t) > 1)
      tokenized(s, d)
        .select(col("doc_id"),
          array_join(
            transform(kept, t => when(t.isin("spark", "data"), "<TERM>").otherwise(t)),
            " ").as("clean_text"),
          (size(col("toks")) - size(kept)).as("n_removed"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
           |k AS (SELECT doc_id, toks, list_filter(toks, t -> LENGTH(t) > 1) kept FROM t)
           |SELECT doc_id,
           |       array_to_string(list_transform(kept,
           |         t -> CASE WHEN t IN ('spark','data') THEN '<TERM>' ELSE t END), ' ')
           |         AS clean_text,
           |       LEN(toks) - LEN(kept) AS n_removed
           |FROM k ORDER BY doc_id""".stripMargin))

  /** Benchmark decontamination: flag every training doc (doc_id >= 10)
    * sharing any word 5-gram with the eval set (doc_id < 10) — the
    * standard eval-leakage gate a training-data pipeline runs before
    * shipping a corpus. Scale shape: the eval side's distinct 5-gram
    * hashes are tiny relative to the corpus (eval sets are fixed-size),
    * so the semi join broadcasts them and the training side never
    * shuffles — cost is one scan of the corpus regardless of its size;
    * identity is the 64-bit n-gram hash (collision odds as q28's). */
  val q45 = Q(
    "q45_decontaminate",
    (s, d) => {
      val grams = tokenized(s, d)
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), transform(col("toks"), t => xxhash64(t)).as("th"))
        .select(col("doc_id"), explode(nGramHashes(col("th"), 5)).as("g"))
      val evalGrams = grams.filter(col("doc_id") < 10).select(col("g")).distinct()
      grams.filter(col("doc_id") >= 10)
        .join(broadcast(evalGrams), Seq("g"), "left_semi")
        .select(col("doc_id")).distinct()
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
           |g AS (SELECT doc_id,
           |        unnest(list_distinct([t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]
           |                              for i in range(1, len(t) - 3)])) g
           |      FROM toks WHERE len(t) >= 5)
           |SELECT DISTINCT a.doc_id FROM g a
           |JOIN (SELECT DISTINCT g FROM g WHERE doc_id < 10) e ON a.g = e.g
           |WHERE a.doc_id >= 10
           |ORDER BY a.doc_id""".stripMargin))

  /** Deterministic weighted corpus mixing: interleave the en corpus
    * (weight 5) with everything else (weight 2) into one ordered
    * stream — the curriculum-mixing stage of a training pipeline,
    * bit-reproducible across runs/engines (no random()). Mechanism:
    * rank within each group, then mix_key = rank × (L/weight) with
    * L = lcm(weights); ascending mix_key yields the weighted
    * round-robin. The per-group rank is q38's two-level prefix sum —
    * a `row_number() OVER (PARTITION BY grp)` would serialize half the
    * corpus through each of two sort tasks at 100 TB. Here every
    * corpus-sized window is partitioned by (grp, bucket) of ≤100 rows;
    * the only narrow windows run over bucket/super aggregates, 10⁴×
    * smaller than the corpus (PlanSpec pins the no-single-group-window
    * shape); the LIMIT plans as TakeOrdered, never a global sort. */
  val q46 = Q(
    "q46_mix_corpora",
    (s, d) => {
      val bucketWidth = 100L // docs per bucket
      val superWidth = 100L // buckets per super-bucket
      // (grp,bucket)-keyed pin: the bucket-count subplan and the final
      // rank join both read this narrow frame (without the pin each
      // re-scans the corpus), the count aggregation runs in place, the
      // rank join adds no corpus-side exchange, and the in-bucket
      // window's clustering is already satisfied.
      // Measured (sf0.1, local[32], graft.checkpoint.disable A/B, min
      // of 3): pin 0.61s vs no-pin 0.59s — a wash at this SF because
      // the recomputed subtree is one cheap projection scan; the pin
      // is kept for the shape (at corpus scale the re-scan side grows
      // with data while the pinned frame stays 4 narrow columns).
      val g0 = documents(s, d)
        .withColumn("grp", when(col("lang") === "en", "en").otherwise("other"))
        .select(col("grp"), col("doc_id"), col("lang"),
          expr(s"doc_id div $bucketWidth").as("bucket"))
      // adaptive count (guide §2.2), see jaccardPrefixJoin's note
      val g = g0.pinnedBy(
        graft.Materialize.adaptivePinPartitions(g0), "grp", "bucket")
      val bucketCounts = g.groupBy(col("grp"), col("bucket"))
        .agg(count(lit(1)).as("bcnt"))
        .withColumn("sb", expr(s"bucket div $superWidth"))
      // exclusive prefix of each super-bucket within its group: a
      // per-group window, but over |buckets|/superWidth aggregate rows
      val superW = Window.partitionBy(col("grp")).orderBy(col("sb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val superOffsets = bucketCounts.groupBy(col("grp"), col("sb"))
        .agg(sum(col("bcnt")).as("scnt"))
        .withColumn("soffset", sum(col("scnt")).over(superW) - col("scnt"))
        .select(col("grp"), col("sb"), col("soffset"))
      val inSuper = Window.partitionBy(col("grp"), col("sb")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // exclusive prefix of every bucket = super offset + in-super cumsum
      // both joins pinned shuffle-hash with the SMALLER aggregate side
      // as build (offsets is |docs|/bucketWidth rows — too big to ever
      // broadcast at scale, and an adaptive build choice is the
      // AQE race this codebase pins against everywhere else)
      val offsets = bucketCounts
        .withColumn("cum_in_sb", sum(col("bcnt")).over(inSuper))
        .join(superOffsets.hint("shuffle_hash"), Seq("grp", "sb"))
        .select(col("grp"), col("bucket"),
          (col("soffset") + col("cum_in_sb") - col("bcnt")).as("boffset"))
      // in-bucket rank is a ≤bucketWidth-row window; bucket = doc_id div W
      // is monotone in doc_id, so boffset + in-bucket row_number IS the
      // per-group doc_id rank
      val inBucket = Window.partitionBy(col("grp"), col("bucket")).orderBy(col("doc_id"))
      g.join(offsets.hint("shuffle_hash"), Seq("grp", "bucket"))
        .withColumn("rn", col("boffset") + row_number().over(inBucket))
        .withColumn("mix_key",
          col("rn") * when(col("grp") === "en", 2).otherwise(5))
        .select(col("mix_key"), col("doc_id"), col("lang"))
        .orderBy(col("mix_key"), col("doc_id"))
        .limit(200)
    },
    Some("""WITH g AS (SELECT doc_id, lang,
           |             CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END grp
           |           FROM documents),
           |r AS (SELECT doc_id, lang, grp,
           |        ROW_NUMBER() OVER (PARTITION BY grp ORDER BY doc_id) rn FROM g)
           |SELECT rn * CASE WHEN grp = 'en' THEN 2 ELSE 5 END AS mix_key, doc_id, lang
           |FROM r ORDER BY mix_key, doc_id LIMIT 200""".stripMargin))

  /** Exact-k deterministic sample per stratum: for each language keep
    * the 20 docs with the smallest portable multiplicative hash
    * (Knuth: id·2654435761 mod 2³²) — uniform-like, seedless,
    * re-runnable. Uses the bounded TopKAggregator instead of a window:
    * map-side partials carry ≤ k rows per group per mapper, so the
    * shuffle is k·|strata| rows and a hot stratum (half the corpus in
    * one language) never serializes through one sort — the window
    * formulation would. Hash arithmetic is integer-only, so the oracle
    * reproduces it exactly. */
  val q47 = Q(
    "q47_sample_per_stratum",
    (s, d) => {
      import org.apache.spark.sql.functions.udaf
      val h = pmod(col("doc_id") * lit(2654435761L), lit(4294967296L))
      val top20 = udaf(new graft.functions.TopKAggregator(20))
      documents(s, d)
        .select(col("lang"), col("doc_id"), h.as("h"))
        .groupBy(col("lang"))
        // smallest hash first → score = −h; doc_id breaks hash ties
        .agg(top20(col("doc_id"), -col("h").cast(DoubleType)).as("top"))
        .select(col("lang"), explode(col("top")).as("s"))
        .select(col("lang"), col("s.id").as("doc_id"),
          (-col("s.score")).cast(LongType).as("h"))
        .orderBy(col("lang"), col("h"), col("doc_id"))
    },
    Some("""WITH h AS (SELECT lang, doc_id,
           |             (doc_id * 2654435761) % 4294967296 AS h
           |           FROM documents),
           |r AS (SELECT lang, doc_id, h,
           |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) rn FROM h)
           |SELECT lang, doc_id, h FROM r WHERE rn <= 20
           |ORDER BY lang, h, doc_id""".stripMargin))

  /** Heavy hitters via the SpaceSaving sketch: a bounded m-entry
    * summary per partition generates the candidate set (shuffle carries
    * m rows per mapper, never |vocab|), then candidates alone are
    * recounted exactly and the true top-10 emitted — the sketch is the
    * recall engine, the recount keeps the output exact, the same
    * sketch-then-verify shape as the MinHash/SimHash dedup pipelines.
    * Output equals the exact top-10 whenever the true top-10 clear the
    * sketch's frequency bound (N/m per partition; HashAggSpec pins the
    * eviction guarantee on adversarial data, and at m=4096 the margin
    * here is orders of magnitude). */
  val q48 = Q(
    "q48_heavy_hitters",
    (s, d) => {
      val tok = tokenized(s, d).select(explode(col("toks")).as("token"))
      val cands = tok
        .agg(call_function("space_saving", col("token"), lit(4096)).as("cand"))
        .select(explode(col("cand")).as("token"))
      tok.join(broadcast(cands), Seq("token"), "left_semi")
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(10)
    },
    Some("""SELECT token, COUNT(*) AS cnt
           |FROM (SELECT unnest(string_split(text, ' ')) token FROM documents)
           |GROUP BY token ORDER BY cnt DESC, token LIMIT 10""".stripMargin))

  /** BM25 (k1=1.2, b=0.75) per-term relevance of docs 0–99 against a
    * fixed query term set — the keyword-retrieval scorer a curation
    * pipeline uses to mine topical subsets. Same shuffle shape as q42:
    * tf over the requested docs only, df + corpus stats map-side
    * combined, one-row stats broadcast. Per-(doc, term) contributions
    * are emitted unsummed so every value is a row-local expression —
    * deterministic cross-engine (no float-order dependence); both
    * engines evaluate the identical left-associated formula. */
  val q42b = Q(
    "q42b_bm25",
    (s, d) => {
      val terms = Seq("spark", "vector", "stream")
      val tok = tokenized(s, d)
      val dl = tok.select(col("doc_id"), size(col("toks")).cast(LongType).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"),
        (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
      val tf = tok.filter(col("doc_id") < 100)
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .filter(col("token").isin(terms: _*))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dfreq = tok
        .select(explode(array_distinct(col("toks"))).as("token"))
        .filter(col("token").isin(terms: _*))
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      // tf ⋈ dfreq is bounded (100 requested docs × 3 query terms) —
      // broadcast it against the corpus-scale per-doc lengths, pinned
      broadcast(tf.join(broadcast(dfreq), Seq("token")))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("token"),
          round(
            log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
              col("tf") * lit(2.2) /
              (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))),
            4).as("bm25"))
        .orderBy(col("doc_id"), col("token"))
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
           |dl AS (SELECT doc_id, len(t) dl FROM tok),
           |st AS (SELECT COUNT(*) n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) avgdl FROM dl),
           |ex AS (SELECT doc_id, unnest(t) token FROM tok),
           |tf AS (SELECT doc_id, token, COUNT(*) tf FROM ex
           |       WHERE token IN ('spark', 'vector', 'stream') AND doc_id < 100
           |       GROUP BY 1, 2),
           |df AS (SELECT token, COUNT(*) df FROM (SELECT DISTINCT doc_id, token FROM ex)
           |       WHERE token IN ('spark', 'vector', 'stream') GROUP BY 1)
           |SELECT tf.doc_id, tf.token,
           |       ROUND(LN((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
           |             * tf.tf * 2.2 /
           |             (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)), 4) AS bm25
           |FROM tf JOIN df ON tf.token = df.token
           |JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
           |ORDER BY 1, 2""".stripMargin))

  /** q45 with a Bloom-filter prefilter (Spark's own runtime-filter
    * sketch pair, surfaced as bloom_agg/bloom_contains): the eval set's
    * 5-gram hashes aggregate into a fixed-size filter that is
    * materialized driver-side (exactly how InjectRuntimeFilter ships
    * its subquery result) and probed as a row-local predicate on the
    * corpus stream; only the survivors — true matches plus the filter's
    * ~1% false positives — reach the exact semi join, whose verify
    * restores exactness. At 100 TB this is the decontamination shape
    * that wins when the eval gram set outgrows a broadcast hash table:
    * the bloom stays megabytes regardless, the corpus never shuffles,
    * and the exact join runs over a vanishingly small remnant. Output
    * (and oracle) identical to q45. */
  val q45b = Q(
    "q45b_decontaminate_bloom",
    (s, d) => {
      val grams = tokenized(s, d)
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), transform(col("toks"), t => xxhash64(t)).as("th"))
        .select(col("doc_id"), explode(nGramHashes(col("th"), 5)).as("g"))
      val evalGrams = grams.filter(col("doc_id") < 10).select(col("g")).distinct()
      // The bloom rides the PLAN as a scalar subquery (r19 verdict
      // item 4) instead of a driver head() collect — one action
      // instead of two sequential ones, and EXACTLY how Spark's own
      // InjectRuntimeFilter ships its bloom to might_contain (which
      // rejects anything but a constant or scalar subquery). Same
      // bloom_agg aggregate, same bytes, same survivors.
      val bloomDf = evalGrams
        .agg(call_function("bloom_agg", col("g"), lit(1000000L)).as("bf"))
      grams.filter(col("doc_id") >= 10)
        .filter(call_function("bloom_contains", bloomDf.scalar(), col("g")))
        // the eval-set grams are the bounded side by contract: pinned
        // broadcast for the exactness-restoring semi join
        .join(broadcast(evalGrams), Seq("g"), "left_semi")
        .select(col("doc_id")).distinct()
        .orderBy(col("doc_id"))
    },
    q45.oracle)

  /** Incremental dedup: a freshly-ingested batch (doc_id ≥ 400) is
    * deduplicated within itself (keep min doc_id per content hash) and
    * against the already-ingested corpus (doc_id < 400) — the daily
    * delta-dedup a continuously-growing training corpus runs instead of
    * re-deduplicating from scratch. The shuffle carries only 64-bit
    * content hashes (never text bodies), and the anti join against the
    * historical index is hash-keyed on both sides — at 100 TB the index
    * side is a bucketed lakehouse table and the join co-locates. */
  val q53 = Q(
    "q53_incremental_dedup",
    (s, d) => {
      val hashed = documents(s, d)
        .select(col("doc_id"), xxhash64(col("text")).as("ch"))
      val index = hashed.filter(col("doc_id") < 400).select(col("ch")).distinct()
      // the anti join is pinned shuffle_hash: the historical index is
      // the CORPUS (adaptive would broadcast it under-threshold at
      // sf0.1 — an OOM at 100×), and both sides are already
      // hash-partitioned on ch by their aggregates, so the pinned join
      // adds zero exchanges where the broadcast plan adds one. The hint
      // sits on the index side: an anti join can only build its hash
      // table from the right, and per-partition index slices (unlike a
      // whole-index broadcast) stay bounded as the corpus grows.
      hashed.filter(col("doc_id") >= 400)
        .groupBy(col("ch")).agg(min(col("doc_id")).as("doc_id"))
        .join(index.hint("shuffle_hash"), Seq("ch"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT MIN(doc_id) AS doc_id
           |FROM documents WHERE doc_id >= 400
           |  AND text NOT IN (SELECT text FROM documents WHERE doc_id < 400)
           |GROUP BY text ORDER BY doc_id""".stripMargin))

  /** Multimodal pipeline surfaced as a declared query: documents' bytes
    * stand in for opaque media payloads (the container has no image
    * libs — the codec is the deterministic stub, the Spark plumbing is
    * the real thing being exercised): repartition by id, stream
    * through the per-partition codec in bounded batches
    * (`mapPartitions`, the Scala analogue of `mapInPandas`), emit
    * narrow (id, width, height) rows and drop the binary column as
    * early as possible. Oracle-checked: the stub codec's dims are BY
    * CONTRACT the first two payload bytes (ASCII text → the first two
    * characters' codepoints), so DuckDB can assert the distributed
    * plumbing delivered every payload through the codec intact;
    * MediaSpec pins the per-op pixel semantics. */
  val q55 = Q(
    "q55_media_pipeline",
    (s, d) => {
      val media = documents(s, d)
        .select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("payload"))
      graft.multimodal.MediaOps.decodeFeatures(media).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
           |       GREATEST(1, ascii(substr(text, 1, 1))) AS width,
           |       GREATEST(1, ascii(substr(text, 2, 1))) AS height
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Audio near-dup under the oracle: deterministic RIFF/WAVE payloads
    * synthesize per document (a square-carrier clip whose 64-window
    * energy envelope encodes `(doc_id + w) % 5 == 0`, amplitude scaled
    * by `1 + doc_id % 3`), run the REAL javax.sound codec
    * ([[graft.multimodal.WavCodec]] decode), per-clip features, the
    * 64-window relative-RMS fingerprint, and the banded-hamming near-dup
    * join — and every stage is arithmetically reconstructable by DuckDB:
    * duration/rms/zcr in closed form from the designed signal, and the
    * near-dup clusters are exactly the doc_id mod-5 classes BECAUSE the
    * fingerprint is volume-invariant (three different volumes per class
    * collapse to one envelope — the invariance claim itself sits under
    * the hash-match gate; previously MediaSpec-only coverage). Scale
    * shape: encode/decode are row-local mapPartitions over bounded
    * batches; the pair join is banded (16-bit band equality), never
    * all-pairs. */
  val q125 = Q(
    "q125_audio_neardup",
    (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).filter(col("doc_id") < 120)
        .as[Long]
        .mapPartitions(_.map { id =>
          val v = 1 + (id % 3).toInt
          val samples = Array.tabulate(6400) { i =>
            val w = i / 100 // 64 windows x 100 samples
            val amp = if ((id + w) % 5 == 0) 8192 * v else 2048 * v
            (if ((i / 25) % 2 == 0) amp else -amp).toShort
          }
          (id, graft.multimodal.WavCodec.encode(samples, 8000f))
        })
        .toDF("id", "payload")
      val feats = graft.multimodal.AudioOps.audioFeatures(media).toDF()
      val pairs = graft.multimodal.MediaOps.nearDupMedia(
        graft.multimodal.AudioOps.audioHash(media))
      // cluster representative: the smallest near-dup neighbour (the
      // class min never sees a smaller id1, so it coalesces to itself)
      val grp = pairs.groupBy(col("id2").as("gid")).agg(min(col("id1")).as("m"))
      feats.join(grp, feats("id") === grp("gid"), "left")
        .select(
          feats("id").as("doc_id"),
          round(col("duration_sec"), 6).as("dur"),
          round(col("rms"), 9).as("rms"),
          round(col("zero_cross_rate"), 9).as("zcr"),
          least(feats("id"), coalesce(col("m"), feats("id"))).as("grp"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, 0.8 AS dur,
           |  ROUND(SQRT((k*(8192.0*v)*(8192.0*v) + (64-k)*(2048.0*v)*(2048.0*v))/64)/32768, 9) AS rms,
           |  ROUND(255.0/6399, 9) AS zcr,
           |  doc_id % 5 AS grp
           |FROM (SELECT doc_id, 1 + doc_id % 3 AS v,
           |        CASE WHEN doc_id % 5 = 1 THEN 12 ELSE 13 END AS k
           |      FROM documents WHERE doc_id < 120)
           |ORDER BY doc_id""".stripMargin))

  /** Video near-dup under the oracle: deterministic YUV4MPEG2 clips
    * synthesize per document (64 frames of 16×16 whose per-frame mean
    * luma encodes `(doc_id + f) % 5 == 0`, brightness scaled by
    * `1 + doc_id % 3`), run the REAL zero-dep Y4M codec
    * ([[graft.multimodal.Y4mCodec]] decode — spec header + planar C420
    * frames), per-clip features, the 64-window temporal-envelope
    * fingerprint, and the banded-hamming near-dup join — every stage
    * arithmetically reconstructable by DuckDB: geometry/duration from
    * the header, mean luma and the inter-frame motion proxy in closed
    * form from the designed signal (all-equal 256-pixel planes make
    * each frame mean an exact integer, so only the final divisions
    * round), and the near-dup clusters are exactly the doc_id mod-5
    * classes BECAUSE the fingerprint's relative threshold is
    * brightness-invariant (three brightness scales per class collapse
    * to one envelope — the invariance claim sits under the hash-match
    * gate, the q125 pattern). Compressed codecs stay honestly behind
    * the pluggable boundary; Y4M is the container every toolchain can
    * emit uncompressed. Scale shape: encode/decode are row-local
    * mapPartitions over bounded batches; the pair join is banded,
    * never all-pairs. */
  val q127 = Q(
    "q127_video_neardup",
    (s, d) => {
      import s.implicits._
      val media = documents(s, d).select(col("doc_id")).filter(col("doc_id") < 120)
        .as[Long]
        .mapPartitions(_.map { id =>
          val v = 1 + (id % 3).toInt
          val frames = Array.tabulate(64) { f =>
            val y = (if ((id + f) % 5 == 0) 60 * v else 20 * v).toByte
            Array.fill(16 * 16)(y)
          }
          (id, graft.multimodal.Y4mCodec.encode(frames, 16, 16, 16, 1))
        })
        .toDF("id", "payload")
      val feats = graft.multimodal.VideoOps.videoFeatures(media).toDF()
      val pairs = graft.multimodal.MediaOps.nearDupMedia(
        graft.multimodal.VideoOps.videoHash(media))
      val grp = pairs.groupBy(col("id2").as("gid")).agg(min(col("id1")).as("m"))
      feats.join(grp, feats("id") === grp("gid"), "left")
        .select(
          feats("id").as("doc_id"),
          feats("width").as("w"), feats("height").as("h"),
          feats("n_frames").as("nf"),
          col("duration_sec").as("dur"),
          round(col("mean_luma"), 9).as("luma"),
          round(col("motion"), 9).as("motion"),
          least(feats("id"), coalesce(col("m"), feats("id"))).as("grp"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, 16 AS w, 16 AS h, 64 AS nf, 4.0 AS dur,
           |  ROUND((k*60.0*v + (64-k)*20.0*v)/64/255, 9) AS luma,
           |  ROUND(40.0*v*t/63/255, 9) AS motion,
           |  doc_id % 5 AS grp
           |FROM (SELECT doc_id, 1 + doc_id % 3 AS v, k,
           |        2*k - (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
           |            - (CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END) AS t
           |      FROM (SELECT doc_id,
           |              CASE WHEN doc_id % 5 = 1 THEN 12 ELSE 13 END AS k
           |            FROM documents WHERE doc_id < 120))
           |ORDER BY doc_id""".stripMargin))

  /** Context-window chunking with overlap — the slicing stage that
    * turns documents into model-sized training sequences (window 40
    * tokens, stride 30 → 10-token overlap). Entirely row-local
    * (sequence → slice → posexplode, all codegen'd, no shuffle): at
    * 100 TB the op is one scan-side pass whatever the corpus size, and
    * output order is (doc_id, chunk_idx) total. */
  val q56 = Q(
    "q56_chunk_docs",
    (s, d) => {
      val w = 40
      val stride = 30
      tokenized(s, d)
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
        .select(col("doc_id"),
          posexplode(transform(
            transform(
              sequence(lit(0), ((col("n") - 1) / stride).cast("int")), i => i * stride),
            st => slice(col("toks"), st + 1, lit(w)))))
        .select(col("doc_id"),
          col("pos").cast(LongType).as("chunk_idx"),
          size(col("col")).cast(LongType).as("chunk_len"),
          array_join(col("col"), " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
           |s AS (SELECT doc_id, toks, unnest(range(0, ((len(toks)-1)//30)+1)) i FROM t)
           |SELECT doc_id, i AS chunk_idx,
           |       CAST(len(toks[i*30+1 : i*30+40]) AS BIGINT) AS chunk_len,
           |       array_to_string(toks[i*30+1 : i*30+40], ' ') AS chunk_text
           |FROM s ORDER BY doc_id, chunk_idx""".stripMargin))

  /** Tokenizer-coverage analysis: out-of-vocabulary rate per document
    * against the corpus' top-30 tokens (ties broken lexicographically —
    * deterministic across engines). Scale shape: the vocabulary is
    * FIXED-SIZE however big the corpus (top-k of a token aggregate), so
    * it broadcasts and the per-doc pass is one scan + broadcast anti
    * join — no shuffle of the corpus itself; docs with full coverage
    * survive via the left join (anti-join output alone would drop
    * them). */
  val q57 = Q(
    "q57_oov_rate",
    (s, d) => {
      // pinned: vocab, oov, and the per-doc totals all derive from the
      // tokenized corpus; without the pin the scan+split runs three
      // times (no pushdown distinguishes the branches)
      val tok = graft.Materialize.pin(tokenized(s, d))
      val flat = tok.select(col("doc_id"), explode(col("toks")).as("t"))
      val vocab = flat.groupBy(col("t")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t")).limit(30).select(col("t"))
      val total = tok
        .select(col("doc_id"), size(col("toks")).cast(LongType).as("n_toks"))
      val oov = flat.join(broadcast(vocab), Seq("t"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
      total.join(oov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("c"), lit(0L)).as("oov_cnt"),
          round(coalesce(col("c"), lit(0L)).cast(DoubleType) / col("n_toks"), 4)
            .as("oov_rate"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') t FROM documents),
           |flat AS (SELECT doc_id, unnest(t) tok FROM toks),
           |vocab AS (SELECT tok FROM (
           |  SELECT tok, count(*) n FROM flat GROUP BY tok ORDER BY n DESC, tok LIMIT 30)),
           |oov AS (SELECT doc_id, count(*) c FROM flat
           |        WHERE tok NOT IN (SELECT tok FROM vocab) GROUP BY doc_id),
           |tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) n FROM toks)
           |SELECT t.doc_id, n AS n_toks, CAST(COALESCE(c, 0) AS BIGINT) AS oov_cnt,
           |       ROUND(CAST(COALESCE(c, 0) AS DOUBLE) / n, 4) AS oov_rate
           |FROM tot t LEFT JOIN oov o ON t.doc_id = o.doc_id ORDER BY t.doc_id""".stripMargin))

  /** Deterministic train/valid/test corpus split (90/5/5) keyed on a
    * content hash — the assignment every training pipeline needs to be
    * REPRODUCIBLE and STABLE: md5(text) is row-local (no shuffle, no
    * RNG state), so a document's split never changes as the corpus
    * grows, across engines, reruns, or cluster sizes. At 100 TB this is
    * a pure map over the scan; the split column is then a partition/
    * cluster candidate for downstream reads. */
  val q58 = Q(
    "q58_split_corpus",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          (conv(substring(md5(col("text")), 1, 8), 16, 10).cast(LongType) % 100).as("h"))
        .select(col("doc_id"),
          when(col("h") < 90, "train")
            .when(col("h") < 95, "valid")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
           |       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid'
           |            ELSE 'test' END AS split
           |FROM (SELECT doc_id,
           |             CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) % 100 AS b
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Token budget per split — the sanity report after q58: documents
    * and whitespace tokens per assignment. One partial-aggregated
    * shuffle of three groups, whatever the corpus size. */
  val q58b = Q(
    "q58b_split_budget",
    (s, d) =>
      documents(s, d)
        .select(
          (conv(substring(md5(col("text")), 1, 8), 16, 10).cast(LongType) % 100).as("h"),
          size(split(col("text"), " ")).cast(LongType).as("toks"))
        .select(
          when(col("h") < 90, "train").when(col("h") < 95, "valid")
            .otherwise("test").as("split"),
          col("toks"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .orderBy(col("split")),
    Some("""SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid'
           |            ELSE 'test' END AS split,
           |       count(*) AS n_docs,
           |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           |FROM (SELECT text,
           |             CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) % 100 AS b
           |      FROM documents)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Cross-split contamination report — the QA gate after q58's split:
    * for every test/valid document, how many of its distinct 3-gram
    * shingles also occur anywhere in the train split, and is it
    * contaminated (≥ half shared — an integer comparison, no float
    * threshold). Composition of the split (row-local md5) and the
    * shingle machinery (64-bit hashes, so the semi join ships longs,
    * not text). Scale shape: the train gram set is corpus-sized, so
    * this is ONE hash-partitioned semi join on the gram key — never a
    * broadcast of the corpus, never candidates × corpus. */
  val q60 = Q(
    "q60_contamination",
    (s, d) => {
      // pinned: the shingle frame feeds THREE consumers (train, testN,
      // testG) and the bucket split cannot push down (computed column),
      // so without the pin the scan+tokenize+shingle pipeline runs
      // three times — ReuseExchange cannot dedupe the lambdas
      val sh = graft.Materialize.pin(tokenized(s, d)
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          (conv(substring(md5(col("text")), 1, 8), 16, 10).cast(LongType) % 100).as("b"),
          col("toks"))
        .select(col("doc_id"), col("b"),
          transform(col("toks"), t => xxhash64(t)).as("th"))
        .select(col("doc_id"), col("b"), shingleHashes(col("th")).as("sl")))
      val train = sh.filter(col("b") < 90).select(explode(col("sl")).as("g")).distinct()
      val testN = sh.filter(col("b") >= 90)
        .select(col("doc_id"), size(col("sl")).cast(LongType).as("n_grams"))
      val testG = sh.filter(col("b") >= 90)
        .select(col("doc_id"), explode(col("sl")).as("g"))
      val hits = testG.join(train, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
      testN.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("c"), lit(0L)).as("hits"),
          (coalesce(col("c"), lit(0L)) * 2 >= col("n_grams")).as("contaminated"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, text,
           |             CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) % 100 AS b
           |           FROM documents),
           |toks AS (SELECT doc_id, b, string_split(text, ' ') t FROM d
           |         WHERE len(string_split(text, ' ')) >= 3),
           |sh AS (SELECT doc_id, b,
           |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
           |                        for i in range(1, len(t) - 1)]) sl
           |       FROM toks),
           |tr AS (SELECT DISTINCT unnest(sl) g FROM sh WHERE b < 90),
           |ten AS (SELECT doc_id, len(sl) n FROM sh WHERE b >= 90),
           |teg AS (SELECT doc_id, unnest(sl) g FROM sh WHERE b >= 90),
           |hits AS (SELECT doc_id, count(*) c FROM teg
           |         WHERE g IN (SELECT g FROM tr) GROUP BY doc_id)
           |SELECT ten.doc_id, CAST(n AS BIGINT) AS n_grams,
           |       CAST(COALESCE(c, 0) AS BIGINT) AS hits,
           |       COALESCE(c, 0) * 2 >= n AS contaminated
           |FROM ten LEFT JOIN hits ON ten.doc_id = hits.doc_id
           |ORDER BY ten.doc_id""".stripMargin))

  /** PII detection + redaction — the scrub pass a training pipeline
    * runs before release (emails, phone-shaped digit runs). The corpus
    * fixture is word-salad with no PII, so the query first builds a
    * DETERMINISTIC dirty text (same construction in the oracle) and
    * then exercises the real detector/redactor: counts per kind and a
    * hash of the redacted output, all row-local and hash-checked.
    * Patterns stay in the Java-regex ∩ RE2 subset so both engines
    * match identically. */
  val q61 = Q(
    "q61_pii_scrub",
    (s, d) => {
      val emailPat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val phonePat = "\\d{3}-\\d{4}"
      documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("txt"))
        .select(col("doc_id"),
          regexp_count(col("txt"), lit(emailPat)).cast("long").as("n_emails"),
          regexp_count(col("txt"), lit(phonePat)).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("txt"), lit(emailPat), lit("<EMAIL>")),
            lit(phonePat), lit("<PHONE>"))).as("redacted_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH dirty AS (
           |  SELECT doc_id, text || ' contact user' || doc_id ||
           |         '@example.com or 555-' ||
           |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(txt, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS BIGINT)
           |    AS n_emails,
           |  CAST(len(regexp_extract_all(txt, '\d{3}-\d{4}')) AS BIGINT) AS n_phones,
           |  md5(regexp_replace(regexp_replace(txt, '[a-z0-9]+@[a-z]+\.[a-z]+',
           |    '<EMAIL>', 'g'), '\d{3}-\d{4}', '<PHONE>', 'g')) AS redacted_md5
           |FROM dirty ORDER BY doc_id""".stripMargin))

  /** Corpus-LM quality scoring (the CCNet/KenLM-shaped pass): build a
    * unigram language model FROM the corpus (token counts — one
    * map-side-combined aggregation), then score every document by its
    * mean token log-probability. Low scores flag unnatural token
    * distributions for filtering. Scale shape: the model is a TABLE
    * joined on token (hash-partitioned both sides), never a driver
    * structure or an unbounded broadcast; scoring is one join + one
    * per-doc aggregation. Log/avg rounded to 4 decimals for
    * cross-engine float parity (the established discipline). */
  val q62 = Q(
    "q62_lm_score",
    (s, d) => {
      // pinned at the un-exploded level: the model build and the
      // scoring probe both re-tokenized the corpus otherwise
      val toks = graft.Materialize.pin(tokenized(s, d))
        .select(col("doc_id"), explode(col("toks")).as("tok"))
      val model = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = model.agg(sum(col("cnt")).as("tot"))
      toks.join(model, "tok")
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          round(avg(log(col("cnt").cast(DoubleType) / col("tot").cast(DoubleType))), 4)
            .as("lm_score"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |           FROM documents),
           |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
           |tot AS (SELECT SUM(cnt) AS tot FROM c)
           |SELECT t.doc_id, COUNT(*) AS n_tokens,
           |       ROUND(AVG(LN(CAST(c.cnt AS DOUBLE) / CAST(tot.tot AS DOUBLE))), 4)
           |         AS lm_score
           |FROM t JOIN c ON t.tok = c.tok CROSS JOIN tot
           |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin))

  /** Vocabulary builder (tokenizer prep): the top-V tokens by corpus
    * frequency with rank and CUMULATIVE COVERAGE — the curve that
    * decides a vocab size ("how many types cover 95% of tokens").
    * Scale shape: counts partially aggregate map-side; top-V is a
    * TakeOrdered (no full sort shuffle); the coverage window runs over
    * only the V selected rows. */
  val q63 = Q(
    "q63_vocab",
    (s, d) => {
      val v = 100
      val toks = tokenized(s, d).select(explode(col("toks")).as("tok"))
      val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("tot"))
      val w = Window.orderBy(col("cnt").desc, col("tok"))
      counts.orderBy(col("cnt").desc, col("tok")).limit(v)
        .crossJoin(broadcast(total))
        .select(
          row_number().over(w).as("rank"),
          col("tok"), col("cnt"),
          round(sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)).cast(DoubleType) / col("tot").cast(DoubleType), 4)
            .as("coverage"))
        .orderBy(col("rank"))
    },
    Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
           |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
           |tot AS (SELECT SUM(cnt) AS tot FROM c),
           |top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 100)
           |SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank, tok, cnt,
           |       ROUND(CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           |             / CAST(tot.tot AS DOUBLE), 4) AS coverage
           |FROM top CROSS JOIN tot ORDER BY rank""".stripMargin))

  /** Bigram LM scoring — the conditional-probability step past q62's
    * unigram model: per doc, the mean log MLE bigram probability
    * log(c(prev, tok) / c(prev)) over its adjacent token pairs (the
    * denominator is the corpus unigram count over ALL positions — a
    * fixed, engine-mirrorable definition). Low scores mark documents
    * whose word TRANSITIONS are unusual for the corpus even when every
    * individual word is common — gibberish/shuffled-text detection a
    * unigram model cannot see.
    *
    * Scale shape: both models are map-side-combined aggregation TABLES
    * hash-joined against the pair stream (vocab²-bounded, never a
    * driver structure or an unbounded broadcast); the tokenized corpus
    * is pinned once and feeds the pair extraction and the unigram
    * model (ReuseExchange cannot dedupe the lambdas); pair extraction
    * is a row-local codegen'd transform+explode. */
  val q64 = Q(
    "q64_bigram_score",
    (s, d) => {
      // TWO corpus-scale operations, down from three: the prefix
      // totals c(p,·) — the true MLE transition denominator P(w|p) =
      // c(p,w)/c(p,·) — re-aggregate from the bigram MODEL
      // (vocab-bounded) instead of a second corpus-wide unigram
      // explode. The tokenized corpus is pinned ONCE (both the model
      // and probe branches explode from it — ReuseExchange cannot
      // dedup lambda subtrees). The probe⋈model join is PINNED
      // shuffle-hash with the MODEL as build: left adaptive, AQE
      // picked whichever side materialized first — Probe8 caught it
      // broadcasting the corpus-scale pairs stream (an OOM at 100×,
      // and the r7 bench-spread suspect), and the model itself is
      // distinct-bigram-sized (10⁹+ at 100 TB), never broadcastable.
      // The per-doc mean combines map-side to one row per doc.
      // plain pin: every consumer re-keys on (p, w) — the probe join
      // shuffles pairs by the join keys and the per-doc aggregation
      // runs on the JOIN's output — so no downstream consumer could
      // read a doc_id layout claim; the pin buys single derivation of
      // the tokenize pipeline only
      val tok0 = tokenized(s, d).filter(size(col("toks")) >= 2)
      // adaptive count taken from the PRE-pin frame (file-backed
      // leaves; the pinned LogicalRDD reports no size) — guide §2.2
      val pinParts = graft.Materialize.adaptivePinPartitions(tok0)
      val tok = graft.Materialize.pin(tok0)
      def pairs = tok.select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 2), i =>
          struct(element_at(col("toks"), i + 1).as("p"),
            element_at(col("toks"), i + 2).as("w")))).as("pr"))
        .select(col("doc_id"), col("pr.p").as("p"), col("pr.w").as("w"))
      // bigrams feeds BOTH the model join and the prefix re-aggregation;
      // the explode lambda defeats ReuseExchange, so unpinned the corpus
      // explode + (p,w) aggregation ran TWICE (Probe8 measured it).
      // p-keyed pin: prefix aggregates in place and the model join adds
      // no exchange — the pin is vocab-bounded, not corpus-scale.
      // adaptive count (guide §2.2), see jaccardPrefixJoin's note;
      // the pinned frame is vocab²-bounded, far below source bytes
      val bigrams = graft.Materialize.pinPartitionedBy(
        pairs.groupBy(col("p"), col("w")).agg(count(lit(1)).as("c2")),
        pinParts, Seq("p"))
      val prefix = bigrams.groupBy(col("p")).agg(sum(col("c2")).as("c1"))
      // both sides read the p-pinned layout: hash join in place, no sort
      val model = bigrams.join(prefix.hint("shuffle_hash"), Seq("p"))
        .select(col("p"), col("w"),
          log(col("c2").cast(DoubleType) / col("c1").cast(DoubleType)).as("lp"))
      pairs.join(model.hint("shuffle_hash"), Seq("p", "w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("lp")), 4).as("bg_score"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |pairs AS (SELECT doc_id,
           |            unnest([t[i] FOR i IN range(1, len(t))]) AS p,
           |            unnest([t[i+1] FOR i IN range(1, len(t))]) AS w
           |          FROM toks WHERE len(t) >= 2),
           |bm AS (SELECT p, w, COUNT(*) AS c2 FROM pairs GROUP BY p, w),
           |uc AS (SELECT p, SUM(c2) AS c1 FROM bm GROUP BY p)
           |SELECT doc_id, COUNT(*) AS n_bigrams,
           |       ROUND(AVG(LN(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))), 4) AS bg_score
           |FROM pairs JOIN bm USING (p, w) JOIN uc USING (p)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Per-language distribution drift: KL(P_lang ‖ P_corpus) over the
    * token unigram distributions — the corpus-health metric that flags
    * a language slice whose vocabulary usage diverges from the blend
    * (contaminated scrape, mislabeled language, template spam) before
    * any model trains on it.
    *
    * Scale shape: ONE map-side-combined (lang, token) aggregation is
    * the base table; per-language totals, corpus token counts, and the
    * corpus total all RE-AGGREGATE from it (no second corpus scan,
    * ReuseExchange-safe because the pinned frame is materialized);
    * the only join is (lang, token)⋈(token) — vocabulary-bounded —
    * and the two totals are one-row/`|langs|`-row broadcasts. */
  val q65 = Q(
    "q65_lang_kl",
    (s, d) => {
      // tok-keyed pin: the corpus-marginal re-aggregation runs in
      // place and the lt⋈corpus join on tok adds no exchange — only
      // the |langs|-row totals shuffle
      val lt0 = tokenized(s, d)
        .select(col("lang"), explode(col("toks")).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c_lt"))
      // adaptive count (guide §2.2), see jaccardPrefixJoin's note
      val lt = graft.Materialize.pinPartitionedBy(lt0,
        graft.Materialize.adaptivePinPartitions(lt0), Seq("tok"))
      val langTotals = lt.groupBy(col("lang")).agg(sum(col("c_lt")).as("n_l"))
      val corpus = lt.groupBy(col("tok")).agg(sum(col("c_lt")).as("c_t"))
      val total = lt.agg(sum(col("c_lt")).as("n"))
      lt.join(corpus.hint("shuffle_hash"), Seq("tok"))
        .join(broadcast(langTotals), Seq("lang"))
        .crossJoin(broadcast(total))
        .groupBy(col("lang"))
        .agg(
          max(col("n_l")).as("n_tokens"),
          round(sum(
            (col("c_lt").cast(DoubleType) / col("n_l").cast(DoubleType)) *
              log((col("c_lt").cast(DoubleType) / col("n_l").cast(DoubleType)) /
                (col("c_t").cast(DoubleType) / col("n").cast(DoubleType)))), 4)
            .as("kl"))
        .orderBy(col("lang"))
    },
    Some("""WITH flat AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
           |              FROM documents),
           |lt AS (SELECT lang, tok, COUNT(*) AS c_lt FROM flat GROUP BY lang, tok),
           |nl AS (SELECT lang, SUM(c_lt) AS n_l FROM lt GROUP BY lang),
           |ct AS (SELECT tok, SUM(c_lt) AS c_t FROM lt GROUP BY tok),
           |n AS (SELECT SUM(c_lt) AS n FROM lt)
           |SELECT lt.lang, CAST(MAX(n_l) AS BIGINT) AS n_tokens,
           |       ROUND(SUM((CAST(c_lt AS DOUBLE) / CAST(n_l AS DOUBLE)) *
           |               LN((CAST(c_lt AS DOUBLE) / CAST(n_l AS DOUBLE)) /
           |                  (CAST(c_t AS DOUBLE) / CAST(n.n AS DOUBLE)))), 4) AS kl
           |FROM lt JOIN ct USING (tok) JOIN nl USING (lang) CROSS JOIN n
           |GROUP BY lt.lang ORDER BY lt.lang""".stripMargin))

  /** Token-class quality rules (the Gopher/C4 filter family): per doc,
    * the fraction of purely-alphabetic tokens, the fraction of tokens
    * carrying a digit, mean token length, and the combined pass/fail
    * gate a curation pipeline drops on. Distinct from q30d's
    * stopword/length score: these are CHARACTER-CLASS rules — they
    * catch boilerplate, code, and serial-number spam whose stopword
    * profile looks fine. Everything is a row-local codegen'd
    * filter/size expression — embarrassingly parallel, no shuffle
    * beyond the scan. */
  val q66 = Q(
    "q66_quality_rules",
    (s, d) => {
      val t = col("toks")
      val n = size(t).cast(DoubleType)
      val alphaFrac = size(filter(t, tk => tk.rlike("^[A-Za-z]+$"))).cast(DoubleType) / n
      val digitFrac = size(filter(t, tk => tk.rlike("[0-9]"))).cast(DoubleType) / n
      val meanLen = (col("n_chars") - (size(t) - 1)).cast(DoubleType) / n
      tokenized(s, d)
        .select(col("doc_id"),
          size(t).cast(LongType).as("n_toks"),
          round(alphaFrac, 4).as("alpha_frac"),
          round(digitFrac, 4).as("digit_frac"),
          round(meanLen, 4).as("mean_tok_len"),
          (alphaFrac >= 0.7 && digitFrac <= 0.2 &&
            meanLen >= 2.0 && meanLen <= 12.0).as("pass_rules"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS tk
           |           FROM documents)
           |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_toks,
           |  ROUND(CAST(len(list_filter(tk, x -> regexp_full_match(x, '[A-Za-z]+')))
           |          AS DOUBLE) / len(tk), 4) AS alpha_frac,
           |  ROUND(CAST(len(list_filter(tk, x -> regexp_matches(x, '[0-9]')))
           |          AS DOUBLE) / len(tk), 4) AS digit_frac,
           |  ROUND(CAST(n_chars - (len(tk) - 1) AS DOUBLE) / len(tk), 4) AS mean_tok_len,
           |  (CAST(len(list_filter(tk, x -> regexp_full_match(x, '[A-Za-z]+')))
           |     AS DOUBLE) / len(tk) >= 0.7
           |   AND CAST(len(list_filter(tk, x -> regexp_matches(x, '[0-9]')))
           |     AS DOUBLE) / len(tk) <= 0.2
           |   AND CAST(n_chars - (len(tk) - 1) AS DOUBLE) / len(tk) BETWEEN 2.0 AND 12.0)
           |    AS pass_rules
           |FROM t ORDER BY doc_id""".stripMargin))

  /** Within-document repetition rules (the other half of the Gopher
    * filter family, complementing q66's token-class rules): duplicate
    * word-bigram fraction, duplicate word-trigram fraction, the share
    * of bigram slots taken by the single most frequent bigram, and the
    * combined gate. Repetition is THE signature of degenerate
    * generations, boilerplate, and crawler traps — a doc can pass every
    * character-class rule while looping one phrase.
    *
    * Scale shape: one scan, one aggregation tree, no join — the
    * duplicate fractions come straight from the per-(doc, bigram)
    * counts (n = Σc, distinct = |groups|, top = max c) with map-side
    * combine, and the trigram fraction rides along as a row-local
    * `array_distinct` computed BEFORE the explode so it is never
    * recomputed per exploded row. Embarrassingly parallel at 100 TB. */
  val q67 = Q(
    "q67_repetition",
    (s, d) => {
      val t = col("toks")
      val bg = transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))
      val tg = transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1),
          element_at(t, i + 2)))
      val dup2 = lit(1d) - col("d2").cast(DoubleType) / col("n2")
      val topf = col("topc").cast(DoubleType) / col("n2")
      tokenized(s, d)
        .where(size(t) >= 3)
        .select(col("doc_id"), bg.as("bg"),
          (lit(1d) - size(array_distinct(tg)).cast(DoubleType) / size(tg))
            .as("dup3"))
        .select(col("doc_id"), col("dup3"), explode(col("bg")).as("b"))
        .groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("c"), first(col("dup3")).as("dup3"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n2"), count(lit(1)).as("d2"),
          max(col("c")).as("topc"), first(col("dup3")).as("dup3"))
        .select(col("doc_id"),
          round(dup2, 4).as("dup2_frac"),
          round(col("dup3"), 4).as("dup3_frac"),
          round(topf, 4).as("top2_frac"),
          (dup2 <= 0.05 && col("dup3") <= 0.02 && topf <= 0.05)
            .as("pass_repetition"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |g AS (SELECT doc_id,
           |        [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))] AS bg,
           |        [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
           |           FOR i IN range(1, len(tk)-1)] AS tg
           |      FROM t WHERE len(tk) >= 3),
           |m AS (SELECT doc_id, len(bg) AS n2, len(list_distinct(bg)) AS d2,
           |        1 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg) AS dup3
           |      FROM g),
           |flat AS (SELECT doc_id, unnest(bg) AS b FROM g),
           |c AS (SELECT doc_id, b, COUNT(*) AS c FROM flat GROUP BY 1, 2),
           |mx AS (SELECT doc_id, MAX(c) AS topc FROM c GROUP BY 1)
           |SELECT m.doc_id,
           |  ROUND(1 - CAST(d2 AS DOUBLE) / n2, 4) AS dup2_frac,
           |  ROUND(dup3, 4) AS dup3_frac,
           |  ROUND(CAST(topc AS DOUBLE) / n2, 4) AS top2_frac,
           |  (1 - CAST(d2 AS DOUBLE) / n2 <= 0.05 AND dup3 <= 0.02
           |   AND CAST(topc AS DOUBLE) / n2 <= 0.05) AS pass_repetition
           |FROM m JOIN mx ON m.doc_id = mx.doc_id
           |ORDER BY m.doc_id""".stripMargin))

  /** Mixture construction: temperature-resampled per-language targets
    * (weight ∝ n^α, α=0.5 — the multilingual-LM upsampling rule that
    * flattens head languages without starving the tail) over a corpus
    * budget of 40%, then a DETERMINISTIC per-language subsample that
    * hits the target rate. Reports per language: corpus count, target,
    * kept count, and the mean length of the kept docs (which checks
    * that both engines selected the IDENTICAL documents).
    *
    * Scale shape: selection is a pure row-local hash-threshold — keep
    * iff the first 6 hex chars of md5(doc_id) fall under the
    * language's rate threshold (a 5-row broadcast). No window: the
    * obvious `row_number() OVER (PARTITION BY lang)` sorts every
    * language through one task — with single-digit language
    * cardinality at 100 TB that serializes the whole corpus. The
    * hash gate is embarrassingly parallel, reproducible across runs
    * and engines, and lands within binomial noise of the target. */
  val q68 = Q(
    "q68_mixture",
    (s, d) => {
      val docs = documents(s, d)
      val byLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val tot = byLang.agg(sum(col("n_docs")).as("n"),
        sum(pow(col("n_docs"), 0.5)).as("z"))
      val rate = pow(col("n_docs"), 0.5) / col("z") *
        floor(lit(0.4) * col("n")) / col("n_docs")
      val tgt = byLang.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"),
          floor(rate * col("n_docs")).cast(LongType).as("n_target"),
          format_string("%06x",
            least(floor(rate * 16777216d), lit(16777215d)).cast(LongType))
            .as("thr"))
      val kept = docs
        .join(broadcast(tgt.select(col("lang"), col("thr"))), Seq("lang"))
        .where(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 6)
          <= col("thr"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          round(avg(col("n_chars")), 4).as("avg_chars_kept"))
      tgt.join(broadcast(kept), Seq("lang"))
        .select(col("lang"), col("n_docs"), col("n_target"), col("n_kept"),
          col("avg_chars_kept"))
        .orderBy(col("lang"))
    },
    Some("""WITH n AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
           |tot AS (SELECT SUM(n_docs) AS n, SUM(POW(n_docs, 0.5)) AS z FROM n),
           |tgt AS (SELECT lang, n_docs,
           |          CAST(FLOOR(POW(n_docs, 0.5) / z * FLOOR(0.4 * n))
           |            AS BIGINT) AS n_target,
           |          printf('%06x', CAST(LEAST(FLOOR(
           |            POW(n_docs, 0.5) / z * FLOOR(0.4 * n) / n_docs * 16777216),
           |            16777215) AS BIGINT)) AS thr
           |        FROM n CROSS JOIN tot),
           |kept AS (SELECT d.lang, COUNT(*) AS n_kept,
           |           ROUND(AVG(n_chars), 4) AS avg_chars_kept
           |         FROM documents d JOIN tgt ON d.lang = tgt.lang
           |         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) <= thr
           |         GROUP BY d.lang)
           |SELECT tgt.lang, n_docs, n_target, n_kept, avg_chars_kept
           |FROM tgt JOIN kept ON tgt.lang = kept.lang
           |ORDER BY tgt.lang""".stripMargin))

  /** Source-similarity matrix: vocabulary Jaccard between every source
    * pair — the distribution-level contamination diagnostic (two
    * "independent" scrapes whose vocabularies coincide are one scrape
    * twice; a source whose vocabulary overlaps nothing is junk or a
    * language mislabel). Complements q28's content-level dedup: sources
    * can share zero exact documents and still be the same distribution.
    *
    * Scale shape: the corpus reduces to DISTINCT (source, token) pairs
    * first (map-side-combined; ≤ |vocab|·|sources| rows no matter the
    * corpus size), the self-join keys on the token with fan-out bounded
    * by |sources|² per token, and the per-source totals are a
    * |sources|-row broadcast. Nothing downstream of the first
    * aggregation scales with the corpus. */
  val q71 = Q(
    "q71_source_similarity",
    (s, d) => {
      // tok-keyed pin: the token self-join reads both sides from the
      // pinned layout with no exchange.
      // Measured (sf0.1, local[32], graft.checkpoint.disable A/B, min
      // of 3): pin 1.06s vs no-pin 1.13s — the saved duplicate
      // tokenize+distinct+exchange already outweighs the
      // materialization at this SF, and the gap widens with corpus
      // size (three consumers: counts + both self-join sides).
      val st0 = tokenized(s, d)
        .select(col("source"), explode(col("toks")).as("tok"))
        .distinct()
      // adaptive count (guide §2.2), see jaccardPrefixJoin's note
      val st = graft.Materialize.pinPartitionedBy(st0,
        graft.Materialize.adaptivePinPartitions(st0), Seq("tok"))
      val counts = st.groupBy(col("source")).agg(count(lit(1)).as("nt"))
      val shared = st.as("a")
        // pinned: the vocabulary frame is corpus-vocab-scale — an
        // adaptive broadcast of either self-join side is an OOM at 100×
        .join(st.as("b").hint("shuffle_hash"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a2"), col("b.source").as("src_b2"))
        .agg(count(lit(1)).as("shared"))
        .withColumnRenamed("src_a2", "src_a").withColumnRenamed("src_b2", "src_b")
      shared
        .join(broadcast(counts.withColumnRenamed("source", "src_a")
          .withColumnRenamed("nt", "nt_a")), Seq("src_a"))
        .join(broadcast(counts.withColumnRenamed("source", "src_b")
          .withColumnRenamed("nt", "nt_b")), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("shared"),
          round(col("shared").cast(DoubleType) /
            (col("nt_a") + col("nt_b") - col("shared")), 4).as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some("""WITH st AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
           |            FROM documents),
           |c AS (SELECT source, COUNT(*) AS nt FROM st GROUP BY source),
           |sh AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
           |       FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
           |       GROUP BY 1, 2)
           |SELECT src_a, src_b, shared,
           |       ROUND(CAST(shared AS DOUBLE) / (ca.nt + cb.nt - shared), 4) AS jaccard
           |FROM sh JOIN c ca ON sh.src_a = ca.source
           |        JOIN c cb ON sh.src_b = cb.source
           |ORDER BY src_a, src_b""".stripMargin))

  /** q72 support: build the postings index over `documents` ONCE per
    * corpus dir, registering a private lakehouse catalog on first use
    * (Verify/Bench sessions configure no catalogs; catalog resolution
    * is lazy, so a runtime conf set before first reference works).
    * Real usage amortizes the build across every query, so repeated
    * bench samples measure the PROBE — the per-query cost at 100 TB —
    * not the one-time build. */
  private[queries] val kwCatalog = "kwidx"
  private val kwMemo = new IndexMemo(kwCatalog, "docs")
  private[queries] def kwTable(d: String): String = kwMemo.tableFor(d)

  private[queries] def ensureKeywordIndex(s: SparkSession, d: String): Unit =
    kwMemo.ensure(s, d) { tbl =>
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $kwCatalog.kw")
      s.sql(s"DROP TABLE IF EXISTS $kwCatalog.kw.${tbl}_idx")
      s.sql(s"DROP TABLE IF EXISTS $kwCatalog.kw.$tbl")
      s.sql(s"CREATE TABLE $kwCatalog.kw.$tbl (doc_id BIGINT, text STRING)")
      documents(s, d).select(col("doc_id"), col("text"))
        .createOrReplaceTempView("q72_docs_src")
      s.sql(s"INSERT INTO $kwCatalog.kw.$tbl SELECT * FROM q72_docs_src")
      graft.operators.TextIndex.create(s, kwCatalog, Seq("kw"), tbl, s"${tbl}_idx",
        nBuckets = 16)
      // bucket-clustered files so the probe's `bucket IN (...)` file-skips
      // unprobed buckets from footer ranges alone (TextIndexSpec pins it)
      graft.catalog.Maintenance.compact(s, kwCatalog, Seq("kw"), s"${tbl}_idx",
        targetFiles = 8, clusterBy = Seq("bucket"))
    }

  /** q72: conjunctive keyword search answered from the inverted postings
    * index ([[graft.operators.TextIndex]]) — the probe reads
    * `bucket IN (h(term)) AND tok IN (terms)` posting FILES only, never
    * the corpus: at 100 TB a term lookup touches ≤|terms| posting rows
    * found via metadata file-skipping, the Lucene term-dictionary shape
    * re-expressed as a lakehouse table scan. */
  val q72 = Q(
    "q72_keyword_search",
    (s, d) => {
      ensureKeywordIndex(s, d)
      graft.operators.TextIndex.searchAll(s, kwCatalog, Seq("kw"),
        s"${kwTable(d)}_idx", Seq("spark", "vector", "merge"))
    },
    Some("""SELECT doc_id FROM documents
           |WHERE list_contains(string_split(text, ' '), 'spark')
           |  AND list_contains(string_split(text, ' '), 'vector')
           |  AND list_contains(string_split(text, ' '), 'merge')
           |ORDER BY doc_id""".stripMargin))

  /** q72b: idf-RANKED disjunctive keyword search from the postings
    * index — docs matching ANY term, scored Σ ln(N/df) over matched
    * terms (rarer terms dominate; the tf-absent half of BM25), top-k.
    * Same metadata-file-skipped probe as q72: the ranking input is
    * ≤|terms| posting rows, the corpus is never read. The oracle
    * recomputes df and N from the documents table directly. */
  val q72b = Q(
    "q72b_keyword_rank",
    (s, d) => {
      ensureKeywordIndex(s, d)
      graft.operators.TextIndex.searchRanked(s, kwCatalog, Seq("kw"),
        s"${kwTable(d)}_idx", Seq("spark", "vector", "merge"), 50)
    },
    Some("""WITH toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
           |              FROM documents),
           |flat AS (SELECT doc_id, unnest(t) AS tok FROM toks),
           |n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |df AS (SELECT tok, COUNT(*) AS df FROM flat GROUP BY tok)
           |SELECT f.doc_id,
           |       ROUND(SUM(LN(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))), 4)
           |         AS score
           |FROM flat f JOIN df ON f.tok = df.tok CROSS JOIN n
           |WHERE f.tok IN ('spark', 'vector', 'merge')
           |GROUP BY f.doc_id
           |ORDER BY score DESC, f.doc_id
           |LIMIT 50""".stripMargin))

  /** q72c: exact PHRASE search from the positional postings — the
    * terms must appear consecutively in order. Probe + rarest-first
    * doc join + row-local position-adjacency check; the corpus is
    * never read. The oracle is the padded-LIKE corpus scan (exact
    * under the corpus's single-space tokenization). */
  val q72c = Q(
    "q72c_phrase_search",
    (s, d) => {
      ensureKeywordIndex(s, d)
      graft.operators.TextIndex.phraseSearch(s, kwCatalog, Seq("kw"),
        s"${kwTable(d)}_idx", Seq("spark", "vector"))
    },
    Some("""SELECT doc_id FROM documents
           |WHERE ' ' || text || ' ' LIKE '% spark vector %'
           |ORDER BY doc_id""".stripMargin))

  /** q72d: full BM25 top-k served from the postings alone — tf from
    * the position arrays, doc-length norms from the per-entry lens,
    * N/sumLen from index properties; the classic Robertson formula,
    * computed row-locally on ≤|terms| posting rows (Lucene's
    * postings+norms evaluation as a lakehouse scan). The oracle
    * recomputes tf/df/len/avgdl from the corpus with the SAME
    * operation order so the 4-decimal rounding hash-matches. */
  val q72d = Q(
    "q72d_keyword_bm25",
    (s, d) => {
      ensureKeywordIndex(s, d)
      graft.operators.TextIndex.searchBM25(s, kwCatalog, Seq("kw"),
        s"${kwTable(d)}_idx", Seq("spark", "vector", "merge"), 50)
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           |                 CAST(SUM(len(t)) AS DOUBLE) AS sl FROM toks),
           |flat AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, unnest(t) AS tok
           |         FROM toks),
           |df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
           |       FROM flat GROUP BY tok),
           |tf AS (SELECT doc_id, tok, ANY_VALUE(dl) AS dl,
           |              CAST(COUNT(*) AS DOUBLE) AS tf
           |       FROM flat WHERE tok IN ('spark', 'vector', 'merge')
           |       GROUP BY doc_id, tok)
           |SELECT tf.doc_id,
           |       ROUND(SUM(
           |         LN(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
           |         ((tf.tf * 2.2) /
           |          (tf.tf + 1.2 * ((1.0 - 0.75) + (0.75 * tf.dl) / (stats.sl / stats.n))))
           |       ), 4) AS score
           |FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN stats
           |GROUP BY tf.doc_id
           |ORDER BY score DESC, tf.doc_id
           |LIMIT 50""".stripMargin))

  /** q73: the SAME BM25 search as q72d but routed through the SQL
    * procedure face (`CALL system.bm25_search` —
    * [[graft.catalog.LakehouseProcedures]]): what a SQL-only client
    * runs, and the row that puts the procedure path itself — parse,
    * bind, distributed probe, bounded LocalScan result — under the
    * driver's value-exact oracle gate rather than only ScalaTest.
    * Shares q72d's oracle verbatim. */
  val q73 = Q(
    "q73_bm25_sql_procedure",
    (s, d) => {
      ensureKeywordIndex(s, d)
      s.sql(s"CALL $kwCatalog.system.bm25_search(" +
        s"'kw', '${kwTable(d)}_idx', 'spark vector merge', 50, 1.2D, 0.75D)")
    },
    q72d.oracle)

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every pool
    * document by how target-like its hashed unigram features are —
    * log w(x) = Σ_b c_b(x)·(ln p̂_t(b) − ln p̂_s(b)) under two
    * Laplace-smoothed bag-of-hashed-BIGRAMS models (the paper's
    * feature choice; B = 256 md5 buckets — the md5-prefix hash is the
    * engine-bit-identical choice, see [[simTokenHash]]. Measured on
    * this corpus, unigram buckets barely separate the domains —
    * avg log w fr −2.69 vs pool ≈ −2.95 — while bigrams split them
    * cleanly: fr +1.30, everything else ≈ −1.6, 52/64 fr docs
    * selected). Target distribution: the corpus's French slice
    * (domain-upsampling, the paper's continued-pretraining setting);
    * source: the whole pool. `selected` = positive log weight, the
    * deterministic stand-in for the paper's Gumbel top-k (noisy
    * resampling is a seeded rand away and changes no plan shape).
    *
    * Scale shape: ONE corpus-scale tokenize+hash scan, map-side
    * combined into per-doc bucket counts (pinned — three consumers,
    * and the explode lambda defeats ReuseExchange); both models and
    * their totals RE-AGGREGATE from it (B-bounded); the λ_b table is
    * B rows broadcast; the final per-doc weight is one more map-side
    * combined aggregation. Nothing corpus-sized shuffles on anything
    * but doc_id, nothing corpus-sized is broadcast — the layout that
    * scores a 100 TB pool in two scans' worth of work. */
  val q74 = Q(
    "q74_dsir_select",
    (s, d) => {
      val buckets = 256
      // md5-per-bigram is CPU-dense row-local work on a (locally)
      // single-task scan: fan out to the core budget first, exactly
      // the BPE loop's trade (no-op at scale where scans are wide).
      // Measured r20: q74 solo bench 1.30 -> 0.97 s same host.
      val feats = graft.Materialize.pin(
        graft.Materialize.fanOutCompute(documents(s, d), "doc_id")
          .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), col("lang"),
            explode(transform(sequence(lit(0), size(col("t")) - 2), i =>
              concat(element_at(col("t"), i + 1), lit("_"),
                element_at(col("t"), i + 2)))).as("tok"))
          .select(col("doc_id"), col("lang"),
            (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast(LongType)
              % buckets).as("b"))
          .groupBy(col("doc_id"), col("lang"), col("b"))
          .agg(count(lit(1)).as("c")))
      val srcModel = feats.groupBy(col("b")).agg(sum(col("c")).as("sc"))
      val tgtModel = feats.filter(col("lang") === "fr")
        .groupBy(col("b")).agg(sum(col("c")).as("tc"))
      val sTot = srcModel.agg(sum(col("sc")).as("stot"))
      val tTot = tgtModel.agg(sum(col("tc")).as("ttot"))
      val lambda = srcModel.join(tgtModel, Seq("b"), "left")
        .crossJoin(broadcast(sTot)).crossJoin(broadcast(tTot))
        .select(col("b"),
          (log((coalesce(col("tc"), lit(0L)).cast(DoubleType) + 1.0) /
              (col("ttot").cast(DoubleType) + buckets)) -
            log((col("sc").cast(DoubleType) + 1.0) /
              (col("stot").cast(DoubleType) + buckets))).as("lam"))
      feats.join(broadcast(lambda), Seq("b"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).as("n_toks"),
          round(sum(col("c").cast(DoubleType) * col("lam")), 4).as("dsir_r"))
        .withColumn("selected", col("dsir_r") > 0)
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t
           |              FROM documents),
           |tok AS (SELECT doc_id, lang,
           |          unnest([t[i] || '_' || t[i+1] FOR i IN range(1, len(t))]) AS tok
           |        FROM toks WHERE len(t) >= 2),
           |f AS (SELECT doc_id, lang,
           |        CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) % 256 AS BIGINT) AS b,
           |        COUNT(*) AS c
           |      FROM tok GROUP BY doc_id, lang, b),
           |sm AS (SELECT b, SUM(c) AS sc FROM f GROUP BY b),
           |tm AS (SELECT b, SUM(c) AS tc FROM f WHERE lang = 'fr' GROUP BY b),
           |st AS (SELECT SUM(sc) AS stot FROM sm),
           |tt AS (SELECT SUM(tc) AS ttot FROM tm),
           |lam AS (SELECT sm.b,
           |          LN((COALESCE(tm.tc, 0) + 1.0) / (CAST(tt.ttot AS DOUBLE) + 256)) -
           |          LN((sm.sc + 1.0) / (CAST(st.stot AS DOUBLE) + 256)) AS lam
           |        FROM sm LEFT JOIN tm USING (b) CROSS JOIN st CROSS JOIN tt)
           |SELECT f.doc_id, f.lang, CAST(SUM(c) AS BIGINT) AS n_toks,
           |       ROUND(SUM(c * lam), 4) AS dsir_r,
           |       ROUND(SUM(c * lam), 4) > 0 AS selected
           |FROM f JOIN lam USING (b)
           |GROUP BY f.doc_id, f.lang ORDER BY f.doc_id""".stripMargin))

  /** Exact-substring contamination SPAN (the Lee et al. 2022 "exact
    * substring duplication" notion, pointed at eval decontamination):
    * for every training doc sharing a ≥5-token verbatim run with any
    * eval doc (doc_id < 10, q45's split), report the LENGTH of the
    * longest shared token run and the eval doc achieving it
    * (deterministic: longest span, then smallest eval id). q45 answers
    * "is any 5-gram shared?"; this answers "how long is the longest
    * verbatim overlap?" — the quantity real pipelines threshold (50
    * tokens in the paper) to drop or trim, where a boolean 5-gram hit
    * over-fires on idioms.
    *
    * Shape (suffix arrays don't distribute; positional gram chaining
    * does): positional 5-gram hashes — an xxhash64 chain over token
    * hashes, so no string shingles ever shuffle; eval grams BROADCAST
    * (the eval benchmark stays small at any corpus scale); matched
    * (train_pos, eval_pos) hits chain into maximal runs via
    * islands-and-gaps PER DIAGONAL (tp − ep): consecutive hits on one
    * diagonal are exactly one verbatim span of length run + K − 1.
    * Work ∝ matching gram pairs (inverted-index join), never
    * |train| × |eval|; each window partition is (train doc, eval doc,
    * diagonal) — bounded by one document's gram count, no global sort. */
  val q75 = Q(
    "q75_overlap_span",
    (s, d) => {
      val K = 5
      def grams(df: DataFrame): DataFrame = df
        .filter(size(col("toks")) >= K)
        .select(col("doc_id"), transform(col("toks"), t => xxhash64(t)).as("th"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), size(col("th")) - K),
            i => xxhash64((0 until K).map(j => element_at(col("th"), i + j + 1)): _*))))
        .toDF("doc_id", "pos", "g")
      val tok = tokenized(s, d)
      val ev = grams(tok.filter(col("doc_id") < 10))
        .select(col("doc_id").as("eid"), col("pos").as("ep"), col("g"))
      val tr = grams(tok.filter(col("doc_id") >= 10))
        .select(col("doc_id").as("tid"), col("pos").as("tp"), col("g"))
      val hits = tr.join(broadcast(ev), Seq("g"))
        .select(col("tid"), col("eid"), col("tp"), (col("tp") - col("ep")).as("diag"))
      val w = Window.partitionBy(col("tid"), col("eid"), col("diag")).orderBy(col("tp"))
      val runs = hits
        .withColumn("grp", col("tp") - row_number().over(w))
        .groupBy(col("tid"), col("eid"), col("diag"), col("grp"))
        .agg((count(lit(1)) + (K - 1)).as("span"))
      val perPair = runs.groupBy(col("tid"), col("eid")).agg(max(col("span")).as("span"))
      perPair
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("tid")).orderBy(col("span").desc, col("eid"))))
        .filter(col("rn") === 1)
        .select(col("tid").as("doc_id"), col("span").as("max_span"),
          col("eid").as("eval_id"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |g0 AS (SELECT doc_id,
           |         [{'pos': i, 'g': t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]}
           |          FOR i IN range(1, len(t) - 3)] AS l
           |       FROM toks WHERE len(t) >= 5),
           |g AS (SELECT doc_id, u.pos AS pos, u.g AS g
           |      FROM (SELECT doc_id, unnest(l) AS u FROM g0)),
           |h AS (SELECT tr.doc_id AS tid, ev.doc_id AS eid, tr.pos AS tp,
           |             tr.pos - ev.pos AS diag
           |      FROM g tr JOIN g ev ON tr.g = ev.g
           |      WHERE tr.doc_id >= 10 AND ev.doc_id < 10),
           |r AS (SELECT tid, eid, diag, tp,
           |             tp - ROW_NUMBER() OVER (PARTITION BY tid, eid, diag ORDER BY tp) AS grp
           |      FROM h),
           |runs AS (SELECT tid, eid, COUNT(*) + 4 AS span
           |         FROM r GROUP BY tid, eid, diag, grp),
           |per AS (SELECT tid, eid, MAX(span) AS span FROM runs GROUP BY tid, eid),
           |rk AS (SELECT tid, eid, span,
           |              ROW_NUMBER() OVER (PARTITION BY tid ORDER BY span DESC, eid) AS rn
           |       FROM per)
           |SELECT tid AS doc_id, span AS max_span, eid AS eval_id
           |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** Exact substring DEDUP within the corpus (the other half of Lee et
    * al. 2022: not "does train overlap eval?" like q75, but "excise
    * every token run that appears verbatim more than once ANYWHERE in
    * the corpus" — the transformation actually applied to C4/RealNews
    * in the paper, with K=50 there; K=5 here to bite on synthetic
    * docs). A token position is dup-covered when any K-gram through it
    * occurs ≥2 times corpus-wide (a second doc OR a second position in
    * the same doc — self-repetition is duplication too). Output per
    * doc: token count, covered-position count, and the cleaned text
    * with covered tokens removed.
    *
    * Shape (suffix arrays don't distribute; positional grams do):
    * K-gram xxhash64 chains over token hashes — no string shingles
    * shuffle. Duplicated grams come from a map-side-combined count on
    * the gram long; re-attaching them to positions is a shuffle hash
    * join on the gram key — BOTH sides corpus-sized, the standard
    * inverted-index shape, never broadcast and never all-pairs (work ∝
    * occurrences of duplicated grams, the quantity the op must touch by
    * definition). Coverage-merge and text rebuild are row-local lambda
    * work bounded by one document's length; no global sort anywhere
    * (the final orderBy is presentation-only). A pathological hot gram
    * ("the the the…" ×10⁶) concentrates its occurrence list on one key;
    * AQE skew-split handles the join side, and the per-doc explode is
    * bounded by that doc's own length. */
  val q88 = Q(
    "q88_substring_dedup",
    (s, d) => {
      val K = 5
      val tok = tokenized(s, d)
      val grams = tok
        .filter(size(col("toks")) >= K)
        .select(col("doc_id"), transform(col("toks"), t => xxhash64(t)).as("th"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), size(col("th")) - K),
            i => xxhash64((0 until K).map(j => element_at(col("th"), i + j + 1)): _*))))
        .toDF("doc_id", "pos", "g")
      val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("g"))
      val cov = grams.join(dup, Seq("g"))
        .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (K - 1))).as("p"))
        .groupBy(col("doc_id")).agg(collect_set(col("p")).as("cov"))
      tok.join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"),
          coalesce(size(col("cov")), lit(0)).cast("long").as("n_dup"),
          array_join(filter(col("toks"),
            (_, i) => !array_contains(coalesce(col("cov"), array().cast("array<int>")), i)),
            " ").as("clean_text"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           |g0 AS (SELECT doc_id,
           |         [{'pos': i, 'g': t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]}
           |          FOR i IN range(1, len(t) - 3)] AS l
           |       FROM toks WHERE len(t) >= 5),
           |g AS (SELECT doc_id, u.pos AS pos, u.g AS g
           |      FROM (SELECT doc_id, unnest(l) AS u FROM g0)),
           |dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) > 1),
           |cov AS (SELECT DISTINCT doc_id, p
           |        FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS p
           |              FROM g JOIN dup USING (g))),
           |covl AS (SELECT doc_id, list(p) AS cl FROM cov GROUP BY doc_id)
           |SELECT t.doc_id,
           |       CAST(len(t.t) AS BIGINT) AS n_toks,
           |       CAST(COALESCE(len(c.cl), 0) AS BIGINT) AS n_dup,
           |       COALESCE(array_to_string(
           |         [x.tok FOR x IN [{'tok': t.t[i], 'p': i} FOR i IN range(1, len(t.t) + 1)]
           |          IF NOT list_contains(COALESCE(c.cl, CAST([] AS BIGINT[])), x.p)],
           |         ' '), '') AS clean_text
           |FROM toks t LEFT JOIN covl c USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin))

  /** The unrolled DuckDB mirror of q76's 10 merge rounds — generated,
    * because each round's corpus state is the previous round's CTE.
    * Every round CTE is MATERIALIZED: each round references its
    * predecessor twice (pair count + substitution), so inlining would
    * re-derive the whole chain 2^r times. */
  /** Shared CTE chain for the BPE oracles: round CTEs `p_r`/`m_r` and
    * substituted-corpus CTEs `s_r` for r ≤ `lastSub`. q76 needs only
    * the merges (s up to rounds−1); q79 needs the fully-encoded s10. */
  private def bpeChain(rounds: Int, lastSub: Int): StringBuilder = {
    val sb = new StringBuilder
    sb.append("WITH s0 AS MATERIALIZED (SELECT doc_id, text, text AS s FROM documents)")
    for (r <- 1 to rounds) {
      sb.append(s""",
p$r AS (SELECT p, COUNT(*) AS c FROM (
         SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS p
         FROM (SELECT string_split(s, ' ') AS t FROM s${r - 1}))
       GROUP BY p),
m$r AS MATERIALIZED (SELECT p, c FROM p$r ORDER BY c DESC, p LIMIT 1)""")
      if (r <= lastSub) sb.append(s""",
s$r AS MATERIALIZED (SELECT doc_id, text, trim(replace(replace(' ' || replace(s, ' ', '  ') || ' ',
         (SELECT ' ' || replace(p, ' ', '  ') || ' ' FROM m$r),
         (SELECT ' ' || replace(p, ' ', '${"§"}') || ' ' FROM m$r)), '  ', ' ')) AS s
       FROM s${r - 1})""")
    }
    sb
  }

  private val bpeOracle: String = {
    val rounds = 10
    val sb = bpeChain(rounds, rounds - 1)
    sb.append("\nSELECT * FROM (\n")
    sb.append((1 to rounds).map(r =>
      s"SELECT $r AS step, split_part(p, ' ', 1) AS lhs, " +
        s"split_part(p, ' ', 2) AS rhs, c AS freq FROM m$r")
      .mkString("\nUNION ALL\n"))
    sb.append(") ORDER BY step")
    sb.toString
  }

  /** Distributed BPE merge-rule learning (Sennrich et al. 2016, run at
    * the token level): 10 rounds of (count adjacent symbol pairs → take
    * the globally most frequent → merge it corpus-wide) — the loop a
    * tokenizer trainer runs over the full corpus before any model sees
    * a batch, and inherently iterative: round r's pair counts depend on
    * round r−1's merges.
    *
    * Scale shape ([[Bpe.learnApply]]): the corpus is read once and
    * fanned out on doc_id; ONE `treeAggregate` of per-partition
    * histograms builds the full pair-count map on the driver. Each
    * round then takes the argmax (freq DESC, pair ASC) on the driver
    * and runs ONE single-stage job that merges the winning pair
    * corpus-wide, pins the new corpus, and returns the pair-count delta
    * of the documents whose text changed (−1 per old pair, +1 per new
    * one), again merged by `treeAggregate`. No shuffle runs after the
    * first pass and no round plans a query. The driver holds one count
    * per distinct pair; per round the cost is one scan of the pinned
    * corpus plus the affected documents' pairs. At cluster partition
    * counts `treeAggregate` adds a reduction level by itself. The merge
    * doubles the token separators so that one left-to-right replace
    * merges every non-overlapping occurrence greedy-left — exactly
    * BPE's merge semantics (`a a a` merges once, not twice) — then
    * collapses the doubles. Merged symbols join with '§' (verified
    * absent from the corpus).
    */
  val q76 = Q(
    "q76_bpe_merges",
    (s, d) => {
      val (learned, _) = Bpe.learnApply(s, documents(s, d), 10)
      val sch = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("step",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("lhs",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("rhs",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("freq",
          org.apache.spark.sql.types.LongType, nullable = false)))
      // rows are built in step order, so the local relation needs no sort
      s.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(learned).asJava), sch)
    },
    Some(bpeOracle))

  /** BPE ENCODING with the learned merges — the apply half of the
    * tokenizer story q76's trainer starts: run the same 10 learn+apply
    * rounds, then report per document the token count before and after
    * encoding, the compression ratio, and the encoded text's identity
    * (merged symbols joined with '§'). This is the number a tokenizer
    * change is judged by — corpus tokens saved — computed corpus-wide.
    * Scale shape is q76's: one pair count over the corpus, then per
    * round a driver-side argmax and one shuffle-free job returning the
    * affected documents' pair-count delta; the driver holds one count
    * per distinct pair. The final per-doc accounting is row-local (two
    * splits + md5), no joins, no windows. */
  private val bpeEncodeOracle: String = {
    val rounds = 10
    val sb = bpeChain(rounds, rounds)
    sb.append(s"""
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_before,
  CAST(len(string_split(s, ' ')) AS BIGINT) AS n_after,
  ROUND(CAST(len(string_split(text, ' ')) AS DOUBLE) /
        CAST(len(string_split(s, ' ')) AS DOUBLE), 4) AS compression,
  md5(s) AS enc_md5
FROM s$rounds ORDER BY doc_id""")
    sb.toString
  }

  val q79 = Q(
    "q79_bpe_encode",
    (s, d) => {
      val (_, enc) = Bpe.learnApply(s, documents(s, d), 10)
      enc.select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_before"),
        size(split(col("s"), " ")).cast(LongType).as("n_after"),
        round(size(split(col("text"), " ")).cast(DoubleType) /
          size(split(col("s"), " ")).cast(DoubleType), 4).as("compression"),
        md5(col("s")).as("enc_md5"))
        .orderBy(col("doc_id"))
    },
    Some(bpeEncodeOracle))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document by the corpus unigram LM (q62's mean token log-probability,
    * rounded to 4 decimals — the established cross-engine float
    * discipline), then split EACH LANGUAGE into head/middle/tail
    * tertiles by score — the quality-stratified corpus a curation
    * pipeline samples from (head = most natural under the LM).
    *
    * Scale shape: thresholds come from a bounded (lang, score) HISTOGRAM,
    * never a per-language sort of the corpus. Scores rounded to 4
    * decimals have ≤ ~10⁵ distinct values per language regardless of
    * corpus size, so the per-language cumulative window runs over
    * aggregate rows only (a `ntile() OVER (PARTITION BY lang)` would
    * serialize whole languages through single sorts at 100 TB — the q68
    * rule). Tertile cuts use integer arithmetic on counts
    * (3·cum ≥ k·n ⟺ cum ≥ k·n/3), so the only cross-engine float
    * surface is the rounded score itself, which q62 already gates.
    * Bucket assignment is a row-local comparison against a |langs|-row
    * broadcast. The scored frame is pinned: the histogram build and the
    * final assignment both read it. */
  val q77 = Q(
    "q77_ccnet_buckets",
    (s, d) => {
      val docs = documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      val toks = graft.Materialize.pin(docs)
        .select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
      val model = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = model.agg(sum(col("cnt")).as("tot"))
      val scored = graft.Materialize.pin(
        toks.join(model, "tok")
          .crossJoin(broadcast(total))
          .groupBy(col("doc_id"), col("lang"))
          .agg(round(avg(log(col("cnt").cast(DoubleType) / col("tot").cast(DoubleType))), 4)
            .as("lm_score")))
      val hist = scored.groupBy(col("lang"), col("lm_score")).agg(count(lit(1)).as("c"))
      val cumW = Window.partitionBy(col("lang")).orderBy(col("lm_score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("c")).over(cumW))
      val n = hist.groupBy(col("lang")).agg(sum(col("c")).as("n"))
      val cuts = cum.join(n, "lang")
        .groupBy(col("lang"))
        .agg(
          min(when(col("cum") * 3 >= col("n"), col("lm_score"))).as("t1"),
          min(when(col("cum") * 3 >= col("n") * 2, col("lm_score"))).as("t2"))
      scored.join(broadcast(cuts), "lang")
        .select(col("doc_id"), col("lang"), col("lm_score"),
          when(col("lm_score") > col("t2"), "head")
            .when(col("lm_score") > col("t1"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
           |           FROM documents),
           |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
           |tot AS (SELECT SUM(cnt) AS tot FROM c),
           |s AS (SELECT t.doc_id, t.lang,
           |        ROUND(AVG(LN(CAST(c.cnt AS DOUBLE)/CAST(tot.tot AS DOUBLE))),4)
           |          AS lm_score
           |      FROM t JOIN c ON t.tok=c.tok CROSS JOIN tot GROUP BY t.doc_id, t.lang),
           |h AS (SELECT lang, lm_score, COUNT(*) AS c FROM s GROUP BY lang, lm_score),
           |cm AS (SELECT lang, lm_score,
           |         SUM(c) OVER (PARTITION BY lang ORDER BY lm_score
           |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |       FROM h),
           |n AS (SELECT lang, SUM(c) AS n FROM h GROUP BY lang),
           |cuts AS (SELECT cm.lang,
           |           MIN(CASE WHEN cum*3 >= n THEN lm_score END) AS t1,
           |           MIN(CASE WHEN cum*3 >= n*2 THEN lm_score END) AS t2
           |         FROM cm JOIN n ON cm.lang=n.lang GROUP BY cm.lang)
           |SELECT s.doc_id, s.lang, s.lm_score,
           |  CASE WHEN s.lm_score > cuts.t2 THEN 'head'
           |       WHEN s.lm_score > cuts.t1 THEN 'middle' ELSE 'tail' END AS bucket
           |FROM s JOIN cuts ON s.lang = cuts.lang ORDER BY s.doc_id""".stripMargin))

  /** Document-frequency boilerplate pruning (the C4/IR stopword rule):
    * tokens present in > 78% of all documents are corpus boilerplate;
    * strip them from every document IN PLACE and report the cleaned
    * text's identity. The row-local half of what CCNet's line-dedup
    * does to web text.
    *
    * Scale shape: df comes from one map-side-combined count over
    * per-doc DISTINCT tokens. The pruned set is broadcast as ONE array
    * row — bounded by construction, not by luck: Σ df ≤ N·avgDistinct,
    * so |{tok : df > 0.78·N}| ≤ avgDistinct/0.78 ≈ mean doc length,
    * independent of corpus size. Cleaning is a codegen'd array
    * `filter` HOF against that broadcast — order-preserving and
    * row-local, so no posexplode/re-group cycle and nothing downstream
    * shuffles. The tokenized frame is pinned (df build + cleaning pass
    * both read it). */
  val q78 = Q(
    "q78_boilerplate_prune",
    (s, d) => {
      val docs = graft.Materialize.pin(
        tokenized(s, d).select(col("doc_id"), col("toks")))
      val nDocs = docs.agg(count(lit(1)).as("n"))
      val df = docs.select(explode(array_distinct(col("toks"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      // df > 0.78·N in exact integer arithmetic: 50·df > 39·N
      val bad = df.crossJoin(broadcast(nDocs))
        .filter(col("df") * 50 > col("n") * 39)
        .agg(sort_array(collect_list(col("tok"))).as("bad"))
      docs.crossJoin(broadcast(bad))
        .select(col("doc_id"),
          filter(col("toks"), t => !array_contains(col("bad"), t)).as("kept"),
          size(col("toks")).as("n_toks"))
        .select(col("doc_id"),
          size(col("kept")).cast(LongType).as("n_kept"),
          (col("n_toks") - size(col("kept"))).cast(LongType).as("n_removed"),
          md5(concat_ws(" ", col("kept"))).as("clean_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           |n AS (SELECT COUNT(*) AS n FROM documents),
           |df AS (SELECT tok, COUNT(*) AS df
           |       FROM (SELECT doc_id, unnest(list_distinct(l)) AS tok FROM t)
           |       GROUP BY tok),
           |bad AS (SELECT COALESCE(list(tok ORDER BY tok), []) AS b
           |        FROM df CROSS JOIN n WHERE df*50 > n*39),
           |k AS (SELECT doc_id, l, list_filter(l, x -> NOT list_contains(bad.b, x)) AS kept
           |      FROM t CROSS JOIN bad)
           |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
           |       CAST(len(l) - len(kept) AS BIGINT) AS n_removed,
           |       md5(COALESCE(array_to_string(kept, ' '), '')) AS clean_md5
           |FROM k ORDER BY doc_id""".stripMargin))

  /** UniMax budget-capped language sampling (Chung et al. 2023): give
    * every language an equal token share of the training budget,
    * capped at its corpus size — the anti-"English swallows the
    * budget" mixture rule. The per-language allocation is the
    * WATER-FILLING solution Σ min(c_l, u) ≤ B computed entirely in
    * integer arithmetic over the |langs|-row capacity table (sorted
    * capacities + prefix sums + one argmax — window functions over
    * aggregate rows, engine-mirrorable exactly); doc selection is
    * deterministic: docs enter in md5-hash order until the language's
    * allocation is spent.
    *
    * Scale shape: the only corpus-sized work is one token-count
    * projection and the hash-order cumulative sum, which runs as the
    * q38/q46 TWO-LEVEL prefix sum — per-(lang, 16-bit-hash-prefix)
    * bucket totals (bounded aggregate rows) carry the cross-bucket
    * offsets, and the in-bucket window sorts only corpus/65536-sized
    * partitions; a `SUM OVER (PARTITION BY lang ORDER BY hash)` would
    * serialize whole languages through single sorts at 100 TB. The
    * allocation table is a |langs|-row broadcast. */
  val q80 = Q(
    "q80_unimax",
    (s, d) => {
      val base = graft.Materialize.pin(
        documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), col("lang"),
            size(tokens(col("text"))).cast(LongType).as("ntok"),
            md5(concat(lit("um"), col("doc_id").cast("string"))).as("h"))
          .withColumn("bkt", conv(substring(col("h"), 1, 4), 16, 10).cast(LongType)))
      val lt = base.groupBy(col("lang")).agg(sum(col("ntok")).as("c"))
      val tot = lt.agg(sum(col("c")).as("t"), count(lit(1)).as("nl"))
      val b = tot.select(expr("(t * 3) div 5").as("bud"), col("nl"), col("t"))
      // water-filling over the sorted |langs|-row capacity table: the
      // single-partition windows here order AGGREGATE rows, never docs
      val wOrd = Window.orderBy(col("c"), col("lang"))
      val sTbl = lt.select(col("lang"), col("c"),
        row_number().over(wOrd).as("i"),
        sum(col("c")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("pre"))
      val cand = sTbl.crossJoin(broadcast(b)).where(col("i") < col("nl"))
        .select(col("i"), col("c"), expr("(bud - pre) div (nl - i)").as("u"))
        .where(col("c") <= col("u")).select(col("i"), col("u"))
        .unionByName(b.select(lit(0).as("i"), expr("bud div nl").as("u")))
      val kmax = cand.orderBy(col("i").desc).limit(1).select(col("u"))
      val alloc = lt.crossJoin(broadcast(b)).crossJoin(broadcast(kmax))
        .select(col("lang"),
          when(col("t") <= col("bud"), col("c"))
            .otherwise(least(col("c"), col("u"))).as("a"))
      // hash-order token cumsum per language, two-level (q38's shape)
      val bktTot = base.groupBy(col("lang"), col("bkt")).agg(sum(col("ntok")).as("bt"))
      val wB = Window.partitionBy(col("lang")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val offsets = bktTot.withColumn("off", sum(col("bt")).over(wB) - col("bt"))
        .select(col("lang"), col("bkt"), col("off"))
      val wIn = Window.partitionBy(col("lang"), col("bkt"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.join(offsets.hint("shuffle_hash"), Seq("lang", "bkt"))
        .withColumn("cs", col("off") + sum(col("ntok")).over(wIn))
        .join(broadcast(alloc), "lang")
        .select(col("doc_id"), col("lang"), col("ntok").as("n_tokens"),
          (col("cs") <= col("a")).as("selected"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, lang,
           |        CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
           |        md5('um' || CAST(doc_id AS VARCHAR)) AS h
           |      FROM documents),
           |lt AS (SELECT lang, SUM(ntok) AS c FROM d GROUP BY lang),
           |tot AS (SELECT SUM(c) AS t, COUNT(*) AS nl FROM lt),
           |b AS (SELECT (t * 3) // 5 AS bud, nl, t FROM tot),
           |s AS (SELECT lang, c, ROW_NUMBER() OVER (ORDER BY c, lang) AS i,
           |        SUM(c) OVER (ORDER BY c, lang ROWS UNBOUNDED PRECEDING) AS pre
           |      FROM lt),
           |cand AS (SELECT i, u FROM (
           |           SELECT s.i, s.c, (b.bud - s.pre) // (b.nl - s.i) AS u
           |           FROM s CROSS JOIN b WHERE s.i < b.nl)
           |         WHERE c <= u
           |         UNION ALL SELECT 0 AS i, bud // nl AS u FROM b),
           |kmax AS (SELECT u FROM cand ORDER BY i DESC LIMIT 1),
           |alloc AS (SELECT lt.lang,
           |            CASE WHEN b.t <= b.bud THEN lt.c
           |                 ELSE LEAST(lt.c, kmax.u) END AS a
           |          FROM lt CROSS JOIN b CROSS JOIN kmax),
           |cum AS (SELECT doc_id, lang, ntok,
           |          SUM(ntok) OVER (PARTITION BY lang ORDER BY h, doc_id
           |                          ROWS UNBOUNDED PRECEDING) AS cs
           |        FROM d)
           |SELECT cum.doc_id, cum.lang, cum.ntok AS n_tokens,
           |       (cum.cs <= alloc.a) AS selected
           |FROM cum JOIN alloc ON cum.lang = alloc.lang ORDER BY cum.doc_id"""
      .stripMargin))

  /** q107: sliding-window document chunking — split every document
    * into fixed-size token windows (W=64) advanced by a stride (S=48,
    * i.e. 16 tokens of overlap), the preprocessing step every
    * embedding/RAG/pretraining pipeline runs before batching. Output:
    * one row per (doc, chunk) with the chunk's token count and an
    * md5 content fingerprint.
    *
    * Scale shape: entirely row-local — one `sequence` + `slice` HOF
    * pipeline inside codegen, no shuffle besides the final order. The
    * chunk count per doc is integer math (`1 + floor((n-W+S-1)/S)`),
    * identical in both engines (explicit FLOOR: DuckDB CAST rounds
    * while Spark's truncates, so a bare cast would diverge on .5). */
  val q107 = Q(
    "q107_doc_chunking",
    (s, d) => {
      val W = 64
      val S = 48
      tokenized(s, d)
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
        .withColumn("nc",
          when(col("n") <= W, lit(1)).otherwise(
            lit(1) + floor((col("n") - lit(W) + lit(S - 1)).cast("double") / S).cast("int")))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), col("nc") - 1)).as("chunk_idx"))
        .withColumn("chunk", slice(col("toks"), col("chunk_idx") * S + 1, lit(W)))
        .select(col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          size(col("chunk")).cast("long").as("chunk_tokens"),
          md5(array_join(col("chunk"), " ")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, string_split(text, ' ') AS t,
           |         LEN(string_split(text, ' ')) AS n
           |  FROM documents),
           |counted AS (
           |  SELECT doc_id, t, n,
           |         CASE WHEN n <= 64 THEN 1
           |              ELSE 1 + CAST(FLOOR((n - 64 + 47.0) / 48) AS INT) END AS nc
           |  FROM toks),
           |c AS (
           |  SELECT doc_id, u.chunk_idx AS chunk_idx, u.chunk AS chunk
           |  FROM (SELECT doc_id,
           |          unnest([{'chunk_idx': i,
           |                   'chunk': list_slice(t, i * 48 + 1, LEAST(i * 48 + 64, n))}
           |                  FOR i IN range(0, nc)]) AS u
           |        FROM counted))
           |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           |       CAST(LEN(chunk) AS BIGINT) AS chunk_tokens,
           |       md5(array_to_string(chunk, ' ')) AS chunk_hash
           |FROM c ORDER BY doc_id, chunk_idx""".stripMargin))

  /** q108: greedy sequence packing — concatenate each shard's document
    * stream and chop it into fixed 256-token training sequences; a
    * document's bin is its start offset ÷ 256 (the concat-and-chop
    * packing GPT-style pretraining uses; documents may span a bin
    * boundary). Output: per (shard, bin) the packed doc count, token
    * total, and doc-id range.
    *
    * Scale shape: the cumulative-offset window is PARTITIONED by shard
    * (`doc_id % 32` here — deterministic for the oracle; production
    * uses one shard per data-loader worker, thousands at cluster
    * scale), so no corpus-wide sort or single-partition window exists;
    * each shard's window is the per-worker sequential stream a real
    * packer consumes. Everything else is one hash aggregation. */
  val q108 = Q(
    "q108_sequence_packing",
    (s, d) => {
      val SEQ = 256
      val SHARDS = 32
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      tokenized(s, d)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n"))
        .withColumn("shard", (col("doc_id") % SHARDS).cast("long"))
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("bin", floor((col("cum") - col("n")).cast("double") / SEQ).cast("long"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"), col("bin"))
    },
    Some("""WITH t AS (
           |  SELECT doc_id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n,
           |         doc_id % 32 AS shard
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, n, shard,
           |         SUM(n) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
           |  FROM t)
           |SELECT shard, CAST(FLOOR((cum - n) / 256.0) AS BIGINT) AS bin,
           |       CAST(COUNT(*) AS BIGINT) AS n_docs,
           |       CAST(SUM(n) AS BIGINT) AS n_tokens,
           |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
           |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin))

  val all: Seq[Q] =
    Seq(q28, q28b, q28c, q28d, q30, q30b, q30c, q30d, q30e, q30f, q30g, q30h,
      q37, q38, q40, q41, q42, q42b, q43, q44, q45, q45b, q46, q47, q48, q53,
      q55, q125, q127, q56, q57, q58, q58b, q60, q61, q62, q63, q64, q65, q66, q67, q68,
      q71, q72, q72b, q72c, q72d, q73, q74, q75, q76, q77, q78, q79, q80, q88,
      q107, q108)
}
