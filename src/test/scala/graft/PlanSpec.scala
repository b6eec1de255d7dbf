package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.queries.Relational

/** Physical-plan regression checks: the optimizations we rely on at
  * scale (scan pushdown, column pruning, broadcast of small dims,
  * top-k without full sort) must stay visible in the executed plan —
  * a correctness-preserving regression that silently reintroduces a
  * full shuffle or a full-column scan would only show up at 100 TB.
  */
class PlanSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    unwrap(df.queryExecution.executedPlan).toString
  }

  test("q02 pushes filters into the parquet scan and prunes columns") {
    val plan = executedPlan(Relational.q02.run(spark, sf))
    plan should include("PushedFilters")
    plan should include("l_shipdate")
    plan should include("l_discount")
    // projection needs 5 columns; the 16-col lineitem schema must not be read
    plan should not include "l_comment"
    plan should not include "l_tax"
  }

  test("q04 broadcasts every small dimension but never the fact table") {
    val df = Relational.q04.run(spark, sf)
    val plan = executedPlan(df)
    // supplier, nation, region are explicit broadcasts; AQE may add more
    "BroadcastHashJoin".r.findAllIn(plan).size should be >= 3
    // lineitem must stay the streamed probe side: a size estimate that
    // slips the fact table into a BroadcastExchange works at test SF and
    // inverts catastrophically at cluster scale
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val descend = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: descend.flatMap(allNodes)
    }
    val broadcastSubtrees = allNodes(df.queryExecution.executedPlan).collect {
      case b: BroadcastExchangeExec => allNodes(b).map(_.simpleString(200)).mkString("\n")
    }
    broadcastSubtrees should not be empty
    broadcastSubtrees.foreach(_ should not include "lineitem")
  }

  test("q19 global top-k plans as TakeOrderedAndProject, not a full sort") {
    val plan = executedPlan(Relational.q19.run(spark, sf))
    plan should include("TakeOrderedAndProject")
  }

  test("q10 aggregates hash-based inside whole-stage codegen") {
    val plan = executedPlan(Relational.q10.run(spark, sf))
    // AQE's final-plan string elides finished stages, so only the final
    // HashAggregate is visible; `*(n)` prefixes mark codegen spans
    plan should include("HashAggregate")
    plan should include("*(")
    plan should not include "SortAggregate"
  }

  test("q08 range join keys on user_id equality, residual as join condition") {
    val plan = executedPlan(Relational.q08.run(spark, sf))
    // must be an equi-join on user_id (hash or sort-merge), never a
    // cartesian/broadcast-nested-loop over all event pairs
    plan should not include "CartesianProduct"
    (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin")) shouldBe true
  }

  test("q35 correlated EXISTS decorrelates into a semi join") {
    val plan = executedPlan(Relational.q35.run(spark, sf))
    plan should include("LeftSemi")
    plan should not include "CartesianProduct"
  }

  test("q39 as-of join is one union + one window, never an inequality join") {
    val plan = executedPlan(Relational.q39.run(spark, sf))
    // the naive formulation would be a nested-loop/cartesian over
    // (purchase, prior views); the union+window shape must hold
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("Window")
    plan should include("Union")
  }

  test("q40 sampling predicate pushes down to the parquet scan") {
    val plan = executedPlan(graft.queries.TextOps.q40.run(spark, sf))
    // row-local filter: no shuffle beyond the final ordering, no join
    plan should not include "Join"
    plan should include("Filter")
  }

  test("q28b prefix selection runs as a bounded aggregate, not a window sort") {
    // the prefix subplan materializes inside the h-keyed pin, so its
    // shape is asserted on the exposed subframe; the outer plan is
    // still checked window- and cartesian-free
    import org.apache.spark.sql.functions.{col, count, lit}
    val ex = graft.queries.TextOps.explodedShingles(spark, sf)
    val freq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val sub = executedPlan(graft.queries.TextOps.prefixSelection(ex, freq, 0.8))
    sub.toLowerCase should include("prefix_min_agg")
    sub should not include "WindowExec"
    val plan = executedPlan(graft.queries.TextOps.q28b.run(spark, sf))
    plan should not include "WindowExec"
    plan should not include "CartesianProduct"
  }

  test("q43 cleaning is row-local: no exchange before the final ordering") {
    val plan = executedPlan(graft.queries.TextOps.q43.run(spark, sf))
    plan should not include "Join"
    // tokenized()'s fan-out repartition plus the orderBy's range
    // exchange are the ONLY exchanges — cleaning itself adds none
    "Exchange".r.findAllIn(plan).size should be <= 2
  }

  test("q45 decontamination broadcasts the eval-set grams") {
    val plan = executedPlan(graft.queries.TextOps.q45.run(spark, sf))
    plan should include("LeftSemi")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("q42 document frequency has no corpus-wide distinct exchange") {
    val plan = executedPlan(graft.queries.TextOps.q42.run(spark, sf))
    // df comes from row-local array_distinct + one map-side-combined
    // groupBy(token); the old explode→distinct→groupBy shape carried
    // TWO aggregate exchanges over the exploded corpus
    plan should include("array_distinct")
  }

  test("q47 per-stratum sample is a bounded aggregate, not a window sort") {
    val plan = executedPlan(graft.queries.TextOps.q47.run(spark, sf))
    plan should include("ObjectHashAggregate")
    plan should not include "WindowExec"
  }

  test("q48 heavy hitters recounts candidates through a broadcast semi join") {
    val plan = executedPlan(graft.queries.TextOps.q48.run(spark, sf))
    plan.toLowerCase should include("space_saving")
    plan should include("LeftSemi")
    plan should not include "WindowExec"
  }

  test("small lakehouse table reports statistics and broadcasts in a join") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.plan_ns")
    spark.sql("DROP TABLE IF EXISTS lakehouse.plan_ns.dim")
    spark.sql("CREATE TABLE lakehouse.plan_ns.dim (k INT, label STRING)")
    import spark.implicits._
    Seq.tabulate(20)(i => (i, s"l$i")).toDF("k", "label").createOrReplaceTempView("dim_src")
    spark.sql("INSERT INTO lakehouse.plan_ns.dim SELECT * FROM dim_src")
    // a ~500-byte dim joined to a big fact must be broadcast — the scan
    // wrapper has to forward the delegate's size statistics or AQE sees
    // "unknown" and falls back to a shuffle join
    val fact = spark.range(10000).selectExpr("CAST(id % 20 AS INT) AS k", "id AS v")
    val plan = executedPlan(fact.join(spark.table("lakehouse.plan_ns.dim"), "k"))
    plan should include("BroadcastHashJoin")
    spark.sql("DROP TABLE lakehouse.plan_ns.dim")
  }

  test("lakehouse scan prunes columns through the catalog") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.plan_ns")
    spark.sql("CREATE TABLE lakehouse.plan_ns.wide (a INT, b STRING, c DOUBLE, d STRING)")
    import spark.implicits._
    Seq((1, "x", 1.0, "y")).toDF("a", "b", "c", "d").createOrReplaceTempView("wide_src")
    spark.sql("INSERT INTO lakehouse.plan_ns.wide SELECT * FROM wide_src")
    val df = spark.table("lakehouse.plan_ns.wide").where($"a" > 0).select($"a", $"c")
    val plan = executedPlan(df)
    plan should include("PushedFilters")
    plan should include("ReadSchema: struct<a:int,c:double>")
    spark.sql("DROP TABLE lakehouse.plan_ns.wide")
  }

  test("q34b lateral-with-limit decorrelates to a partial top-k, not a re-executed subquery") {
    val plan = executedPlan(Relational.q34b.run(spark, sf))
    // per-group LIMIT 2 runs as WindowGroupLimit (map-side bounded)
    plan should include("WindowGroupLimit")
    plan should not include "CartesianProduct"
  }

  test("q45b probes the bloom filter before the exact semi join") {
    val plan = executedPlan(graft.queries.TextOps.q45b.run(spark, sf))
    // the row-local bloom probe must appear (prefilter), and the exact
    // verify join must still be there to restore exactness
    plan should include("LeftSemi")
    // the probe runs as a row-local Filter on the corpus stream (a
    // child of the join, so it prints BELOW the LeftSemi node), not as
    // part of the join condition
    val probeLine = plan.linesIterator.find(_.contains("might_contain"))
    probeLine should be (defined)
    probeLine.get should include("Filter")
  }

  test("q29 broadcasts the filtered query side with codegen'd dot; corpus never broadcast") {
    // Pin for the flagship similarity query: the intended plan is a
    // BroadcastNestedLoopJoin whose BUILD side is the ≤10-row filtered
    // query set, the corpus streamed, the dot product the native
    // codegen expression, and top-k a per-qid window. (Root cause of
    // r5's 3.5× q29 bench swing with identical code: without the
    // explicit broadcast hint the build side was an AQE race — the
    // first shuffle stage to materialize got an exact size while the
    // other kept its static estimate, so under load the CORPUS side
    // was broadcast and the join serialized into one task. This test
    // reproduced it deterministically when run after other suites.)
    val df = graft.queries.VectorOps.q29.run(spark, sf)
    val plan = executedPlan(df)
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "CartesianProduct"
    plan.toLowerCase should include("vec_dot")
    plan should include("Window")
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val descend = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: descend.flatMap(allNodes)
    }
    val broadcastSubtrees = allNodes(df.queryExecution.executedPlan).collect {
      case b: BroadcastExchangeExec => allNodes(b).map(_.simpleString(250)).mkString("\n")
    }
    broadcastSubtrees should not be empty
    // every broadcast build side must carry the vec_id < 10 restriction —
    // an unfiltered embeddings broadcast is the 100 TB failure mode
    broadcastSubtrees.foreach(_ should include("10"))
  }

  test("q38 prefix sum is fully distributed and equals the single-window formulation") {
    val df = graft.queries.TextOps.q38.run(spark, sf)
    val plan = executedPlan(df)
    // the old shape collected per-bucket totals to the driver and fed
    // them back as a LocalTableScan — scale-fatal at 10^11 docs
    plan should not include "LocalTableScan"
    "Window".r.findAllIn(plan).size should be >= 2
    // equivalence against the naive global-window packing (correct by
    // construction, serial by construction — test-only)
    val naive = graft.queries.TextOps.tokenized(spark, sf)
      .selectExpr("doc_id", "CAST(size(toks) AS LONG) AS n_tokens")
      .selectExpr("doc_id", "n_tokens",
        "CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW) - n_tokens) / 2048.0) AS LONG) AS pack_id")
      .groupBy("pack_id")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
        org.apache.spark.sql.functions.sum("n_tokens").as("n_tokens"),
        org.apache.spark.sql.functions.min("doc_id").as("first_doc"),
        org.apache.spark.sql.functions.max("doc_id").as("last_doc"))
      .orderBy("pack_id")
    df.collect() shouldBe naive.collect()
  }

  test("q62 LM scoring joins the model as a table, no cartesian blowup") {
    val plan = executedPlan(graft.queries.TextOps.q62.run(spark, sf))
    // the 1-row total is a broadcast; the token→count model join must
    // be a real join, never a nested loop over the exploded corpus
    plan should not include "CartesianProduct"
    plan should include("HashAggregate")
  }

  test("q63 vocab top-V plans as TakeOrdered, never a full sort") {
    val plan = executedPlan(graft.queries.TextOps.q63.run(spark, sf))
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
  }

  test("q13b sketches aggregate partially map-side before the shuffle") {
    val plan = executedPlan(Relational.q13b.run(spark, sf))
    plan should include("partial_hll_sketch_agg")
    plan should include("hll_union_agg")
  }

  test("q28b dedup joins are pinned: candidates broadcast, corpus index never") {
    // Pin for the jaccard dedup family (q28b/q37 share this pipeline):
    // r6 recorded a 2.7× q37 swing with identical code — the same AQE
    // build-side race as r5's q29, this time on the under-10MB exploded
    // shingle index. The pinned plan: the ONLY broadcast is the bounded
    // candidate-pair set; the freq join, the prefix self-join, and the
    // (id2, h) verify join are all shuffle-hash with the corpus index
    // on the streamed/partitioned side. A corpus-index broadcast is an
    // OOM at 100×.
    val df = graft.queries.TextOps.q28b.run(spark, sf)
    val plan = executedPlan(df)
    plan should not include "SortMergeJoin"
    // the freq join materializes inside the h-keyed prefix pin (it is
    // not in the final plan string); the final plan keeps the prefix
    // self-join and the verify join as shuffle-hash, and the pinned
    // h-layout means the self-join reads both sides with no exchange
    "ShuffledHashJoin".r.findAllIn(plan).size should be >= 2
    "BroadcastExchange".r.findAllIn(plan).size shouldBe 1
    // the verify join on (id2, h) must build from the expanded
    // candidates, never the corpus side
    val verifyJoin = plan.linesIterator.find(_.contains("ShuffledHashJoin [id2"))
    verifyJoin should be (defined)
    verifyJoin.get should include("BuildLeft")
    // exchange census: the self-join and both pinned-frame reads add
    // none, leaving exactly the 4 unavoidable ones — expanded (id2,h),
    // corpus-index (id2,h), candidate distinct, and the pair aggregate
    // (Probe8 measured 8 before the h-keyed pins)
    "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 4
  }

  test("bounded query sides are pinned broadcasts (q42/q42b); q29b pins its BNLJ build") {
    // q42/q42b join a QUERY-BOUNDED doc subset against corpus-scale
    // aggregates: the bounded side is the pinned broadcast
    val t = executedPlan(graft.queries.TextOps.q42.run(spark, sf))
    t should include("BroadcastHashJoin")
    t should not include "SortMergeJoin"
    val b = executedPlan(graft.queries.TextOps.q42b.run(spark, sf))
    b should include("BroadcastHashJoin")
    b should not include "SortMergeJoin"
    // q29b's non-equi all-pairs join is the genuinely racy class (the
    // r5 q29 swing): its build side must be the explicit hint
    val n = executedPlan(graft.queries.VectorOps.q29b.run(spark, sf))
    n should include("BroadcastNestedLoopJoin")
    n should not include "CartesianProduct"
  }

  test("q53 anti join is pinned shuffle-hash: the historical index is never broadcast") {
    // Same race class: at sf0.1 the dedupe index is under the broadcast
    // threshold, so adaptive planning broadcasts the CORPUS — fast in a
    // bench, fatal at 100×. Both sides arrive hash-partitioned on ch
    // from their aggregates, so the pinned shuffle-hash join adds zero
    // exchanges.
    val plan = executedPlan(graft.queries.TextOps.q53.run(spark, sf))
    plan should not include "BroadcastExchange"
    val anti = plan.linesIterator.find(_.contains("LeftAnti"))
    anti should be (defined)
    anti.get should include("ShuffledHashJoin")
  }

  test("q67 repetition metrics are one aggregation tree: no join anywhere") {
    // dup fractions, distinct counts, and the per-doc mode all come out
    // of the single (doc, bigram) aggregation with map-side combine;
    // reintroducing a join (e.g. computing row-local metrics separately
    // and joining back) would double the corpus scan at 100 TB.
    val plan = executedPlan(graft.queries.TextOps.q67.run(spark, sf))
    plan should not include "Join"
    plan should include("Generate")
    plan should include("HashAggregate")
  }

  test("q68 mixture sampling is hash-gated, never a per-language window sort") {
    // row_number() OVER (PARTITION BY lang) would sort each language
    // through one task — language cardinality is single-digit, so that
    // serializes the corpus. The deterministic md5 threshold keeps
    // selection row-local; the only joins are 5-row broadcasts.
    val plan = executedPlan(graft.queries.TextOps.q68.run(spark, sf))
    plan should not include "Window"
    plan should not include "SortMergeJoin"
    plan should include("BroadcastHashJoin")
  }

  test("q77 tertile cuts come from the histogram, assignment via broadcast") {
    // the per-language cumulative window must run over (lang, lm_score)
    // AGGREGATE rows — bounded by distinct rounded scores — and the
    // bucket assignment must be a row-local comparison against the
    // |langs|-row cuts broadcast, never a corpus-side sort-merge join
    val plan = executedPlan(graft.queries.TextOps.q77.run(spark, sf))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    // no window partitioned by (lang, doc_id) — the corpus-level shape
    "windowspecdefinition\\(lang#\\d+, doc_id#".r.findFirstIn(plan) shouldBe None
  }

  test("q78 boilerplate pruning is row-local: one explode, no regroup") {
    // the df build explodes per-doc DISTINCT tokens ONCE; the cleaning
    // pass is an array filter HOF against the one-row broadcast — a
    // posexplode/filter/collect_list formulation would re-shuffle the
    // whole corpus to reassemble documents
    val plan = executedPlan(graft.queries.TextOps.q78.run(spark, sf))
    "Generate explode".r.findAllIn(plan).size shouldBe 1
    plan should not include "SortMergeJoin"
    plan should not include "Window"
  }

  test("q80 unimax cumsum is two-level: no per-language corpus window") {
    // the hash-order token cumsum must partition by (lang, bkt) so
    // window partitions stay corpus/65536-sized; a PARTITION BY lang
    // ORDER BY hash window would serialize whole languages; the
    // allocation table is a broadcast
    val plan = executedPlan(graft.queries.TextOps.q80.run(spark, sf))
    "windowspecdefinition\\(lang#\\d+, h#".r.findFirstIn(plan) shouldBe None
    "windowspecdefinition\\(lang#\\d+, bkt#\\d+L?, h#".r.findFirstIn(plan) should not be None
    plan should include("BroadcastHashJoin")
  }

  test("q81 covariance is one bounded aggregation, never an exploded pair join") {
    // the whole second-moment state lives in one aggregator buffer per
    // partition; the d²-row explode + groupBy formulation (the
    // oracle's) would shuffle 4096 rows per vector
    val plan = executedPlan(graft.queries.VectorOps.q81.run(spark, sf))
    plan should include("Aggregate")
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q82 standardized cosine: stats and query sides broadcast, corpus never") {
    // μ/σ arrays are a one-row broadcast; the ≤10-row query side is the
    // pinned build of the non-equi join (the q29 rule) — the corpus
    // must never be the broadcast side
    val plan = executedPlan(graft.queries.VectorOps.q82.run(spark, sf))
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "SortMergeJoin"
  }

  test("q46 mixing ranks via two-level prefix sum, never a per-group corpus sort") {
    // the 2-value group key means PARTITION BY grp ORDER BY doc_id
    // serializes half the corpus through each of two sort tasks —
    // every corpus-sized window must carry a bucket column so its
    // partitions stay bounded; only bucket/super AGGREGATE rows may
    // flow through a per-group window
    val plan = executedPlan(graft.queries.TextOps.q46.run(spark, sf))
    // no window spec partitioned by grp alone ordering the raw docs
    "windowspecdefinition\\(grp#\\d+, doc_id#".r.findFirstIn(plan) shouldBe None
    // the in-bucket rank window is present and bucket-partitioned
    "windowspecdefinition\\(grp#\\d+, bucket#".r.findFirstIn(plan) should not be None
    // final stage is top-k, not a global sort
    plan should include("TakeOrderedAndProject")
  }

  test("q84 correlated avg runs as one lineitem pass: broadcast parts + window") {
    // the canonical Q17 plan self-joins lineitem against a per-part
    // aggregate (two fact scans + a fact-fact shuffle join); ours must
    // stay broadcast-filter-then-window — one scan, one sliver shuffle
    val plan = executedPlan(Relational.q84.run(spark, sf))
    "lineitem".r.findAllIn(plan).size should be > 0
    "FileScan parquet".r.findAllIn(plan).size shouldBe 2 // lineitem + part, once each
    plan should include("BroadcastHashJoin")
    plan should include("Window")
    plan should not include "SortMergeJoin"
  }

  test("q85 folds the HAVING subquery into the driving aggregation: one lineitem scan") {
    // canonical Q18 aggregates lineitem once for the IN-list and joins
    // it again for the output sum — at 100 TB that is a second full
    // fact scan; the folded form must keep exactly one
    val plan = executedPlan(Relational.q85.run(spark, sf))
    val factScans = "FileScan parquet \\S*\\[l_orderkey".r.findAllIn(plan).size
    factScans shouldBe 1
    plan should include("TakeOrderedAndProject") // limit 100 without a global sort
  }

  // q86/q87 can be empty at sf0.001 and AQE then collapses the final plan
  // to EmptyRelation — pin the full adaptive string (initial plan included)
  private def fullPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q86 collapses both correlated EXISTS into one per-order aggregate") {
    // two correlated subqueries would plan as two extra lineitem joins
    // (semi + anti, each shuffling the fact); the per-order-aggregate
    // rewrite allows exactly two fact scans (agg + R-filter), no Expand,
    // and the one-nation supplier sliver must be the broadcast side
    val plan = fullPlan(Relational.q86.run(spark, sf))
    val factScans = "FileScan parquet \\[l_orderkey".r.findAllIn(plan).size
    factScans shouldBe 2
    plan should include("BroadcastHashJoin")
    plan should not include "Expand"
    plan should not include "SortMergeJoin"
  }

  test("q87 plans the dormancy check as an anti join and the scalar avg as a 1-row broadcast") {
    val plan = fullPlan(Relational.q87.run(spark, sf))
    plan should include("LeftAnti")
    plan should include("BroadcastNestedLoopJoin") // one-row avg, cross join is safe
  }

  test("q105 hybrid RRF: lexical leg probes the index, vector top-k avoids a global sort") {
    // the documents corpus must never be scanned (BM25 is answered from
    // the postings table alone) and the cosine top-50 must plan as
    // TakeOrderedAndProject (map-side top-k), not a full sort — the two
    // properties that keep hybrid retrieval index-bound at 100 TB
    val plan = fullPlan(graft.queries.VectorOps.q105.run(spark, sf))
    plan should not include "documents.parquet"
    plan should include("TakeOrderedAndProject")
  }

  test("q98 threshold branch reuses the per-part aggregate's shuffle stage") {
    // TPC-H Q11's HAVING threshold is a global aggregate over the same
    // per-part sums the output rows come from; deriving both from ONE
    // groupBy lets AQE reuse the shuffle stage — at 100 TB that is the
    // difference between one partsupp derivation (a full lineitem scan +
    // two-key aggregate) and two. sf0.01 because at sf0.001 the result is
    // empty and AQE collapses the final plan to EmptyRelation, hiding the
    // reused stage.
    import graft.queries.TpcH
    val plan = fullPlan(TpcH.q98.run(spark, "/root/testdata/sf0.01"))
    plan should include("ReusedExchange")
  }

  test("q107 chunking is row-local: one explode, no window, no join") {
    // the chunk fan-out is sequence+slice inside codegen — any Window
    // or join here would mean a per-doc shuffle that scales with the
    // corpus instead of staying embarrassingly parallel
    val plan = executedPlan(graft.queries.TextOps.q107.run(spark, sf))
    "Generate explode".r.findAllIn(plan).size shouldBe 1
    plan should not include "Window"
    plan should not include "Join"
  }

  test("q110 semdedup pairs only within clusters: keyed join, never a cross product") {
    // Σ|cluster|² pair candidates, not |corpus|² — the join must stay
    // an equi join on cid
    val plan = executedPlan(graft.queries.VectorOps.q110.run(spark, sf))
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("q108 packing windows per shard, never a corpus-wide cumsum") {
    // the cumulative token offset must partition by shard (the
    // data-loader-worker stream); a bare ORDER BY doc_id window would
    // serialize the whole corpus through one task
    val plan = executedPlan(graft.queries.TextOps.q108.run(spark, sf))
    "windowspecdefinition\\(shard#\\d+L?, doc_id#".r.findFirstIn(plan) should not be None
    // no empty-partition (global) window spec anywhere in the plan
    "windowspecdefinition\\(doc_id#".r.findFirstIn(plan) shouldBe None
    plan should not include "SortMergeJoin"
  }

  test("q111 star join to the unused RELY'd dimension is eliminated from the plan") {
    // the BI-tool shape: SELECT over a star view touching no dimension
    // columns. With PK/FK RELY declared, the join must be GONE — at
    // 100 TB it is a dimension scan plus a corpus-wide shuffle (or
    // broadcast probe) for nothing. The oracle runs the join in DuckDB,
    // so the hash-match separately proves the rewrite invisible.
    val df = Relational.q111.run(spark, sf)
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    } shouldBe empty
    val plan = executedPlan(df)
    plan should not include "Join"
    plan should not include "customer" // the dimension is not even scanned
  }

  test("q112 reads the MoR-dirty table through the deletion vector: no join in the plan") {
    // two positional MERGEs consolidated into one DV-backed entry — the
    // merged read must be a row-local probe, not an anti-join per
    // dirty file group (at 100 TB that join is a per-read shuffle)
    val df = Relational.q112.run(spark, sf)
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    } shouldBe empty
    val plan = executedPlan(df)
    plan should not include "Join"
    plan should include("pos_deleted") // the DV probe is what replaced it
  }

  test("q114 drops the DISTINCT over a RELY'd primary key: no aggregate in the plan") {
    // DISTINCT is an Aggregate grouping on its outputs; with the PK
    // RELY'd it is a no-op and the corpus-wide hash shuffle must be GONE
    val df = Relational.q114.run(spark, sf)
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    } shouldBe empty
    executedPlan(df) should not include "HashAggregate"
  }

  test("q127 video near-dup joins on bands, never all-pairs") {
    // the media near-dup contract at 100 TB: candidates come from
    // 16-bit band equality (pigeonhole over the 64-bit envelope hash),
    // so the pair count tracks band collisions, never corpus² — a
    // regression to a cartesian/theta join would only show at scale
    val df = graft.queries.TextOps.q127.run(spark, sf)
    val plan = executedPlan(df)
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("q113 answers the partition-filtered aggregate from metadata: zero tasks") {
    val df = Relational.q113.run(spark, sf)
    val plan = executedPlan(df)
    plan should include("LocalTableScan") // the whole scan folded on the driver
    plan should not include "ParquetScan" // no file was opened
  }
}
