package lakebench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up, then a timed phase of ops from
  * a single closed-loop client, then the metrics as JSON.
  *
  *   lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --data <dir> --t0 <epoch ms> --cpus <k>
  *
  * `--t0` is when set-up began (epoch ms), for `setup_s`.
  *
  * `lakebench/run.py` builds the classes, generates the inputs and
  * launches this; see `lakebench/README.md`. */
/** A workload: untimed set-up, then whole timed rounds. */
trait Workload {
  def setup(): Unit
  /** Runs `rounds` more timed rounds: ingest cycles or query passes. */
  def timed(rounds: Int): Unit
  /** Workload-specific entries of the result file. */
  def report: Map[String, Any]
  /** Seconds one round takes on a 4-core host. */
  def nominalRoundS: Double
}

object Main {
  val Workloads: Seq[String] = Seq("lakehouse_ingest", "query_suite")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cpus = a("cpus").toInt
    val t0 = a("t0").toLong

    def mark(what: String): Unit =
      System.err.println(f"[lakebench] ${(System.currentTimeMillis() - t0) / 1000.0}%.2f s: $what")
    mark("JVM up")
    val spark = session(work, cpus)
    mark("session up")
    val tracer = new Tracer(spark)
    val run = new Runner(spark, tracer)
    run.heapChecks = trace
    val load0 = Host.load1
    val cpu0 = Host.cpuJiffies

    val w: Workload =
      if (name == "lakehouse_ingest") new IngestWorkload(spark, run, seed, work.resolve("warehouse"))
      else new QueryWorkload(spark, run, seed, QuerySets.All, a("data"), work.resolve("results"))
    w.setup()
    mark("set-up done")
    run.heapCheckpoint()

    // a run makes a fixed number of whole rounds, set by --seconds and the
    // round's nominal length: two versions of the engine then run the
    // same ops, and a faster run does not sample a later, warmer part of
    // the JIT's warm-up curve
    val rounds = math.max(2, math.round(a("seconds").toDouble / w.nominalRoundS).toInt)
    val timed0 = run.jvmTimes
    var traced0 = timed0
    var phase1 = 0.0
    var ops1 = 0
    if (!trace) w.timed(rounds)
    else {
      // traced runs measure an untraced half first: the ratio of the
      // halves' throughput is the tracing overhead
      w.timed(rounds / 2)
      phase1 = run.phaseSeconds
      ops1 = run.ops.size
      graft.catalog.Manifests.resetCounters()
      graft.catalog.IcebergExport.resetCounters()
      traced0 = run.jvmTimes
      tracer.on = true
      w.timed(rounds - rounds / 2)
      tracer.on = false
    }
    val phase = run.phaseSeconds
    mark("timed phase done")
    val jvm1 = run.jvmTimes
    if (trace) tracer.drain(run.ops.toSeq)
    val ops = run.ops.toSeq
    val cpu1 = Host.cpuJiffies
    val setupS = (run.firstTimedMs - t0) / 1000.0

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> name,
      "seed" -> seed,
      "attempted" -> (ops.size + run.checks),
      "failed" -> (ops.count(!_.ok) + run.checksFailed),
      "failures" -> run.failures.take(10).toSeq,
      "query_ops" -> ops.groupBy(_.name).view.mapValues(_.size).toMap,
      "phase_s" -> phase,
      "e2e" -> E2e(ops, run.rounds.toSeq, run.heapPeakMb, setupS),
      // where the timed phase's time went besides the ops, for diagnosis
      "timed_jvm" -> Map(
        "gc_ms" -> (jvm1.gcMs - timed0.gcMs),
        "jit_ms" -> (jvm1.jitMs - timed0.jitMs),
        "round_s" -> (0.0 +: run.rounds.map(_._1)).sliding(2).map(r => r(1) - r(0)).toSeq),
      "host" -> Map(
        "load1" -> ((load0 + Host.load1) / 2),
        "steal_pct" -> 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2)))
    val report = w.report
    out ++= report
    if (trace) {
      val ops2 = ops.drop(ops1)
      val ex = graft.catalog.IcebergExport
      val totals = Map(
        "export.chunks_written" -> ex.chunksWritten.get.toDouble,
        "export.chunks_reused" -> ex.chunksReused.get.toDouble,
        "export.avro_bytes_written" -> ex.avroBytesWritten.get.toDouble,
        "catalog.manifests_parsed" -> graft.catalog.Manifests.manifestsParsed.get.toDouble,
        "catalog.manifest_bytes_read" -> graft.catalog.Manifests.bytesRead.get.toDouble) ++
        report.get("catalog_totals").map(_.asInstanceOf[Map[String, Double]]).getOrElse(Map.empty)
      val thr1 = ops.take(ops1).count(_.ok) / math.max(phase1, 1e-9)
      val thr2 = ops2.count(_.ok) / math.max(phase - phase1, 1e-9)
      out("layers") = LayerMetrics(ops2, tracer, cpus, run, jvm1 - traced0) ++
        totals.view.mapValues(_ / math.max(1, ops2.size)) ++
        Map("trace.overhead_ratio" -> thr2 / math.max(thr1, 1e-9))
    }
    Files.writeString(work.resolve("result.json"), Json(out.toMap))
    spark.stop()
  }

  def session(work: Path, cpus: Int): SparkSession = {
    val s = graft.SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded status-store history: otherwise the retained jobs, stages,
      // tasks and SQL executions grow the heap with every op, and the
      // post-GC heap would measure how long the run was
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      // room for every generated class the ops use: with Spark's default
      // of 100 entries a pass over the suite evicts each class before its
      // query comes round again, so every pass recompiles its codegen
      // and the JIT never reaches a steady state
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.lakehouse", "graft.catalog.LakehouseCatalog")
      .config("spark.sql.catalog.lakehouse.warehouse", work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** End-to-end metrics of the timed ops (failed ops are left out of the
  * latencies). */
object E2e {
  def apply(ops: Seq[OpRecord], rounds: Seq[(Double, Int)], heapMb: Double, setupS: Double): Map[String, Any] = {
    val ok = ops.filter(_.ok)
    val reads = ok.filter(o => o.kind == "read" || o.kind == "query").map(_.latencyS)
    val perName = ok.groupBy(_.name).view.mapValues(xs => Stats.median(xs.map(_.latencyS))).toMap
    val m = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      // the median round, so that a burst of host contention in one
      // round does not set the figure
      "ops_per_s" -> Stats.median(Stats.roundRates(ops.map(_.ok), rounds)),
      "read_p50_s" -> Stats.median(reads),
      "op_geomean_s" -> Stats.geomean(perName.values.toSeq),
      "failed_ratio" -> (ops.size - ok.size).toDouble / ops.size,
      "reads" -> reads.size,
      "rounds" -> rounds.size)
    if (heapMb > 0) m("heap_live_peak_mb") = heapMb
    if (Stats.reportable(reads.size, 0.9)) m("read_p90_s") = Stats.quantile(reads, 0.9)
    m("op_p50_s") = perName
    m.toMap
  }
}

/** The ingest-only end-to-end figures, per op kind. */
object IngestMetrics {
  def apply(ops: Seq[OpRecord], ends: Seq[Map[String, Double]], writeAmp: Double): Map[String, Any] = {
    val ok = ops.filter(_.ok)
    def lat(kinds: String*) = ok.filter(o => kinds.contains(o.kind)).map(_.latencyS)
    val m = mutable.LinkedHashMap[String, Any]()
    val appends = lat("append")
    m("appends") = appends.size
    m("append_p50_s") = Stats.median(appends)
    if (Stats.reportable(appends.size, 0.9)) m("append_p90_s") = Stats.quantile(appends, 0.9)
    m("rowlevel_p50_s") = Stats.median(lat("delete", "update"))
    m("maint_p50_s") = Stats.median(lat("maint"))
    m("space_amp") = Stats.median(ends.map(_("space_amp")))
    m("write_amp") = writeAmp
    m("cycles") = ends.size
    m.toMap
  }
}

/** Per-layer metrics of the traced ops: per-op means unless the name
  * says otherwise. */
object LayerMetrics {
  def apply(ops: Seq[OpRecord], tracer: Tracer, cpus: Int, run: Runner, jvm: JvmTimes): Map[String, Double] = {
    val ok = ops.filter(_.ok)
    val ls = ok.map(Layers.forOp(_, tracer))
    val n = math.max(1, ls.size).toDouble
    def perOp(f: Layers.OpLayers => Double): Double = ls.map(f).sum / n
    def st(f: StageAgg => Long)(l: Layers.OpLayers): Double = l.stages.map(f).sum.toDouble
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def catSpans(name: String) = ok.flatMap(_.catalogSpans.filter(_._1 == name).map(_._4 / 1e6))
    val wallMs = ls.map(l => (l.op.endMs - l.op.startMs).toDouble).sum
    val cpuMs = ls.map(st(_.cpuNs)).sum / 1e6
    val resultRows = ok.map(_.counters.getOrElse("rows", 0.0)).sum
    val m = mutable.LinkedHashMap[String, Double]()
    // planning
    for (p <- Seq("analysis", "optimization", "planning"))
      m(s"plan.${p}_ms") = perOp(_.planPhases.getOrElse(p, 0L).toDouble)
    // self-time accounting: these four add up to the op's wall time
    m("self.jobs_ms") = perOp(_.self("jobs").toDouble)
    m("self.planning_ms") = perOp(_.self("planning").toDouble)
    m("self.catalog_ms") = perOp(_.self("catalog").toDouble)
    m("driver.gap_ms") = perOp(_.gapMs.toDouble)
    m("op.wall_ms") = wallMs / n
    // scan
    m("scan.bytes_read") = perOp(st(_.inputBytes))
    m("scan.rows_read") = perOp(st(_.inputRows))
    m("scan.rows_per_result") = ls.map(st(_.inputRows)).sum / math.max(1.0, resultRows)
    // shuffle
    m("shuffle.bytes_written") = perOp(st(_.shuffleWrite))
    m("shuffle.bytes_read") = perOp(st(_.shuffleRead))
    m("shuffle.fetch_wait_ms") = perOp(st(_.fetchWaitMs))
    m("shuffle.spill_bytes") = perOp(st(_.spill))
    // executors
    m("exec.run_ms") = perOp(st(_.runMs))
    m("exec.cpu_ms") = cpuMs / n
    m("exec.tasks") = perOp(st(_.tasks))
    m("exec.cpu_util") = cpuMs / math.max(1.0, wallMs * cpus)
    // scheduling
    m("sched.jobs") = ls.map(_.jobs).sum.toDouble
    m("sched.stages") = ls.map(_.stages.size).sum.toDouble
    m("sched.jobs_per_op") = perOp(_.jobs.toDouble)
    m("sched.delay_ms") = perOp(st(_.schedDelayMs))
    // Materialize pins and the JVM
    m("materialize.cached_rdds_peak") = run.cachedRddsPeak.get.toDouble
    m("materialize.cached_bytes_peak") = run.cachedBytesPeak.get.toDouble
    m("jvm.gc_ms") = jvm.gcMs.toDouble
    m("jvm.gc_count") = jvm.gcCount.toDouble
    // catalog (ingest only; zero where a workload makes no such call)
    val appends = ls.filter(_.op.kind == "append")
    val reads = ls.filter(_.op.kind == "read")
    m("catalog.commits") = ok.count(o => Set("append", "delete", "update").contains(o.kind)).toDouble +
      ok.count(_.kind == "maint")
    m("catalog.commit_ms_p50") = med(appends.map(l => (l.gapMs + l.self("catalog")).toDouble))
    m("catalog.load_ms_p50") = med(catSpans("loadTable"))
    m("scan.files_read") = med(reads.map(_.scanned.distinct.size.toDouble))
    m("catalog.prune_ratio") =
      if (reads.isEmpty) 0.0
      else reads.map { l =>
        val live = l.op.counters.getOrElse("files_live", 0.0)
        if (live <= 0) 0.0 else 1.0 - l.scanned.distinct.size / live
      }.sum / reads.size
    m("maint.compact_ms") = med(catSpans("compact"))
    m("maint.expire_ms") = med(catSpans("expire_snapshots"))
    m("maint.vacuum_ms") = med(catSpans("vacuum"))
    val maints = ok.filter(_.kind == "maint")
    m("maint.files_removed") = med(maints.map(_.counters.getOrElse("files_removed", 0.0)))
    m.toMap
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case x => apply(x.toString)
  }
}
