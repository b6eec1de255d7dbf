package lakebench

import java.nio.file.Paths

/** The benchmark's own tests: `python3 lakebench/run.py --self-test`.
  * Pure checks first, then one short ingest against a real session. */
object SelfTest {
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    if (!ok) {
      System.err.println(s"FAIL $name")
      sys.exit(1)
    }
    passed += 1
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    percentiles()
    spans()
    amplification()
    rowModel()
    plans()
    ingestAgainstTable(Paths.get(a("work")).toAbsolutePath)
    println(s"$passed checks passed")
  }

  def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank p90 of 1..100")(Stats.quantile(xs, 0.9) == 90.0)
    check("p90 of 100 samples leaves 10 beyond")(Stats.samplesBeyond(100, 0.9) == 10)
    check("p90 is reportable from 100 samples")(Stats.reportable(100, 0.9))
    check("p90 is not reportable from 99 samples")(!Stats.reportable(99, 0.9))
    check("p50 is reportable from 20 samples")(Stats.reportable(20, 0.5))
    check("p50 is not reportable from 19 samples")(!Stats.reportable(19, 0.5))
    check("even median averages the middle pair")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("geomean")(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    val rates = Stats.roundRates(Seq(true, true, false, true, true, true), Seq((2.0, 2), (3.0, 4), (6.0, 6)))
    check("round rates count each round's successful ops")(rates == Seq(1.0, 1.0, 2.0 / 3.0))
  }

  def spans(): Unit = {
    check("union of overlapping spans")(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    check("union ignores empty spans")(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
    check("coverage is clipped to the parent")(Stats.covered((10L, 20L), Seq((0L, 12L), (18L, 40L))) == 4L)
    // op 0..100: a job 10..40, planning 5..15 (overlaps the job) and
    // 50..60, a catalog call 55..80 wrapping the second planning phase
    val (self, gap) = Stats.layeredSelf((0L, 100L), Seq(
      "jobs" -> Seq((10L, 40L)),
      "planning" -> Seq((5L, 15L), (50L, 60L)),
      "catalog" -> Seq((55L, 80L))))
    val m = self.toMap
    check("jobs own their whole span")(m("jobs") == 30L)
    check("planning keeps only what jobs do not cover")(m("planning") == 15L)
    check("catalog keeps only what planning and jobs do not cover")(m("catalog") == 20L)
    check("gap is what no layer covers")(gap == 35L)
    check("self times plus gap add up to the wall time")(self.map(_._2).sum + gap == 100L)
    val (s2, g2) = Stats.layeredSelf((0L, 50L), Seq("jobs" -> Seq((-10L, 80L))))
    check("a child outliving its op is clipped")(s2.head._2 == 50L && g2 == 0L)
  }

  def amplification(): Unit = {
    val l = new Stats.FileLedger
    check("first listing counts every file")(l.observe(Map("a" -> 100L, "b" -> 50L)).map(_._2).sum == 150L)
    l.resetCount()
    val added = l.observe(Map("a" -> 999L, "c" -> 30L))
    check("a known path never counts again, even resized")(added == Seq("c" -> 30L))
    l.observe(Map("d" -> 20L))
    check("files deleted since still count")(l.createdBytes == 50L)
    check("write_amp divides by source bytes")(Stats.writeAmp(l.createdBytes, 25L) == 2.0)
    check("space_amp divides by live data")(Stats.spaceAmp(300L, 100L) == 3.0)
    check("space_amp refuses an empty table")(
      scala.util.Try(Stats.spaceAmp(1L, 0L)).isFailure)
  }

  def rowModel(): Unit = {
    import IngestPlan._
    val m = new RowModel
    val b0 = batchRows(7L, 0)
    val b1 = batchRows(7L, 1)
    m.append(b0); m.append(b1)
    check("appends add every row")(m.size == 2 * RowsPerBatch)
    check("a duplicate key is refused")(scala.util.Try(m.append(b0.take(1))).isFailure)
    val lo = KeysPerBatch.toLong + 5
    val before = m.lookup(b1(20).shipDay, lo, lo + 9)
    check("update hits four lines per key")(m.bumpQuantity(lo, lo + 9) == 40)
    val after = m.lookup(b1(20).shipDay, lo, lo + 9)
    check("update bumps quantity and nothing else")(
      after.map(_.copy(quantity = 0)) == before.map(_.copy(quantity = 0)) &&
        after.zip(before).forall { case (x, y) => x.quantity == y.quantity + 1.0 })
    check("delete retires the batch below the bound")(m.deleteBelow(KeysPerBatch.toLong) == RowsPerBatch)
    check("deleted rows are gone from lookups")(m.lookup(b0.head.shipDay, 0L, KeysPerBatch - 1L).isEmpty)
    val snapshot = m.all
    m.compact()
    check("compaction leaves the rows unchanged")(m.all == snapshot)
    check("lookups filter on the ship day")(
      m.lookup(b1.head.shipDay, KeysPerBatch.toLong, 2L * KeysPerBatch).forall(_.shipDay == b1.head.shipDay))
    check("diff is order-insensitive")(RowModel.diff(snapshot.reverse, snapshot).isEmpty)
    check("diff sees a changed row")(
      RowModel.diff(snapshot.updated(0, snapshot.head.copy(tax = 9.0)), snapshot).isDefined)
  }

  def plans(): Unit = {
    import IngestPlan._
    check("same seed, same batch")(batchRows(3L, 5) == batchRows(3L, 5))
    check("another seed, another batch")(batchRows(3L, 5) != batchRows(4L, 5))
    check("same seed, same cycle plan")(cycle(3L, 2) == cycle(3L, 2))
    check("another seed, another cycle plan")(cycle(3L, 2).lookups != cycle(4L, 2).lookups)
    check("cycles differ within a run")(cycle(3L, 2).lookups != cycle(3L, 3).lookups)
    val c = cycle(11L, 4)
    val live = liveAfterAppends(4)
    check("lookups hit live batches")(c.lookups.forall(l =>
      live.contains((l.lo / KeysPerBatch).toInt) && l.hi - l.lo == ReadKeys - 1))
    check("the delete leaves the window")(
      live.count(b => b.toLong * KeysPerBatch >= c.deleteBelow) == Window)
    check("the update touches a batch that stays live")(c.update._1 >= c.deleteBelow)
    val q = QuerySets.All
    check("same seed, same pass order")(QuerySets.passOrder(q, 5L, 1) == QuerySets.passOrder(q, 5L, 1))
    check("another seed, another pass order")(QuerySets.passOrder(q, 5L, 1) != QuerySets.passOrder(q, 6L, 1))
    check("a pass runs every query once")(QuerySets.passOrder(q, 5L, 1).sorted == q.sorted)
  }

  /** The ingest workload's own code on a real table: set-up (preload,
    * maintenance, warm-up cycles), then two timed cycles; every lookup
    * and every cycle-end full-table check must agree with the model. */
  def ingestAgainstTable(work: java.nio.file.Path): Unit = {
    val spark = Main.session(work, 2)
    try {
      val run = new Runner(spark, new Tracer(spark))
      val w = new IngestWorkload(spark, run, 42L, work.resolve("warehouse"))
      w.setup()
      w.timed(1)
      w.timed(1)
      check(s"ingest ops agree with the model: ${run.failures.mkString("; ")}")(
        run.failures.isEmpty && run.ops.forall(_.ok))
      check("every op kind ran")(run.ops.map(_.kind).toSet == Set("append", "read", "delete", "update", "maint"))
      check("two cycle-end table checks")(run.checks == 3 && w.cycleEnds.size == 2)
      val ends = w.cycleEnds.map(_("rows_live"))
      check("the table returns to the window size")(
        ends.forall(_ == IngestPlan.Window * IngestPlan.RowsPerBatch))
      check("expire and vacuum leave one metadata version")(w.cycleEnds.forall(_("snapshots_live") == 1.0))
      check("write_amp is positive")(w.writeAmp > 0)
    } finally spark.stop()
  }
}
