package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.queries.Q

/** The one probe tool: runs named queries on the Bench session
  * ([[graft.SessionTuning.local]]) and reports plans, job statistics,
  * or an interleaved A/B over a Spark conf. Queries are named in full
  * or by the prefix before their first `_` (`q28` is q28_dedup_exact);
  * `plan` and `jobs` with no names run every query.
  *
  * {{{
  * sbt "Test/runMain graft.tools.Probe plan q01_scan"
  * sbt "Test/runMain graft.tools.Probe jobs q76_bpe_merges"
  * sbt "Test/runMain graft.tools.Probe ab spark.sql.adaptive.enabled true,false q92"
  * }}}
  *
  *  - `plan`: a census line (rows, seconds, scans, join kinds,
  *    exchanges, reuse) of the executed plan, then AQE's initial plan
  *    in formatted mode (the join strategy and exchange placement code
  *    review checks) and the final adaptive plan (whether stage reuse
  *    actually deduped repeated subtrees).
  *  - `jobs`: one warm-up and one measured run per query under a
  *    listener: wall, jobs, stages, tasks, shuffle bytes written,
  *    summed task time and its ratio to wall. Wall far above task
  *    time / parallelism means the query is bound by job scheduling
  *    and planning, not compute.
  *    `SPARK_GRAFT_SAMPLE=1` also histograms the deepest engine frame
  *    of every running executor thread every 25 ms and prints it at
  *    exit.
  *  - `ab <conf> <v1,v2,…>`: warms every value once, then three
  *    rounds over the values, order reversed every other round so JIT
  *    warmth cannot favour one value, pinned blocks released between
  *    runs; prints min and median per value.
  *
  * `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS` as for Bench.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe plan|jobs <query…> | ab <spark-conf> <v1,v2,…> <query…>"
    require(args.nonEmpty, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.SessionTuning.local(cpus)
    try args.head match {
      case "plan" => plan(spark, sfDir, select(args.drop(1)))
      case "jobs" => jobs(spark, sfDir, select(args.drop(1)))
      case "ab" if args.length >= 4 =>
        ab(spark, sfDir, args(1), args(2).split(',').toSeq, select(args.drop(3)))
      case _ => throw new IllegalArgumentException(usage)
    } finally spark.stop()
  }

  private def select(names: Seq[String]): Seq[Q] = {
    val qs = graft.SparkEntry.allQueries.filter(q => names.isEmpty ||
      names.exists(n => q.name == n || q.name.startsWith(n + "_")))
    require(qs.nonEmpty, s"no query matches ${names.mkString(" ")}")
    qs
  }

  private def releasePins(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def plan(spark: SparkSession, sfDir: String, qs: Seq[Q]): Unit =
    qs.foreach { q =>
      val df = q.run(spark, sfDir)
      val initial = df.queryExecution.explainString(FormattedMode)
      var n = 0
      // collect() executes THIS dataset's queryExecution; count() would
      // build a new plan and leave df's adaptive plan unexecuted
      val sec = seconds { n = df.collect().length }
      val executed = df.queryExecution.executedPlan.toString
      val fin = executed.indexOf("== Initial Plan ==") match {
        case -1 => executed
        case i => executed.substring(0, i)
      }
      def c(p: String) = p.r.findAllIn(fin).length
      println(f"${q.name}%-22s rows=$n%-7d sec=$sec%6.2f scans=${c("FileScan parquet")} " +
        s"bhj=${c("BroadcastHashJoin")} smj=${c("SortMergeJoin")} " +
        s"shuffles=${c("Exchange hashpartitioning")} reuse=${c("ReusedExchange")} " +
        s"bnlj=${c("BroadcastNestedLoopJoin")} cart=${c("CartesianProduct")}")
      println(s"===== ${q.name} formatted =====")
      println(initial)
      println(s"===== ${q.name} final =====")
      println(executed.take(12000))
      releasePins(spark)
    }

  private def jobs(spark: SparkSession, sfDir: String, qs: Seq[Q]): Unit = {
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskNanos = new AtomicLong
    val shuffleBytes = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach { m =>
          taskNanos.addAndGet(m.executorRunTime * 1000000L)
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    // in-process frame sampler: finds the hot method without external
    // tooling (jstack cannot reliably find the JVM sbt forks)
    val sampleCounts = new ConcurrentHashMap[String, AtomicLong]()
    if (sys.env.get("SPARK_GRAFT_SAMPLE").contains("1")) {
      val t = new Thread(() => {
        while (true) {
          Thread.getAllStackTraces.forEach { (th, stack) =>
            if (th.getName.startsWith("Executor task launch") &&
                th.getState == Thread.State.RUNNABLE && stack.nonEmpty) {
              // first frame that is the engine's or Spark SQL's, else the top
              val frame = stack.take(24).find { e =>
                val c = e.getClassName
                (c.startsWith("org.apache.spark.sql") || c.startsWith("graft")) &&
                  !c.contains("Executor")
              }.getOrElse(stack.head)
              sampleCounts.computeIfAbsent(s"${frame.getClassName}.${frame.getMethodName}",
                _ => new AtomicLong).incrementAndGet()
            }
          }
          Thread.sleep(25)
        }
      })
      t.setDaemon(true); t.start()
      sys.addShutdownHook {
        import scala.jdk.CollectionConverters._
        println("== executor frame histogram ==")
        sampleCounts.asScala.toSeq.sortBy(-_._2.get).take(40).foreach {
          case (k, v) => println(f"${v.get}%6d $k")
        }
      }
    }
    // Bench-style warm-ups
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }
    println(f"${"query"}%-28s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"shufW_B"}%10s ${"taskT_s"}%8s ${"par"}%6s")
    var rows = List.empty[String]
    qs.foreach { q =>
      try {
        q.run(spark, sfDir).count(); releasePins(spark) // warm-up
        // settle listener events from the warm-up before zeroing
        Thread.sleep(150)
        jobs.set(0); stages.set(0); tasks.set(0); taskNanos.set(0); shuffleBytes.set(0)
        val wall = seconds { q.run(spark, sfDir).count() }
        releasePins(spark)
        Thread.sleep(150)
        val tt = taskNanos.get / 1e9
        val line = f"${q.name}%-28s $wall%8.3f ${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d " +
          f"${shuffleBytes.get}%10d $tt%8.3f ${tt / wall}%6.2f"
        println(line); rows ::= line
      } catch {
        case e: Throwable => println(s"${q.name} FAILED ${e.getClass.getSimpleName}")
      }
    }
    println("== sorted by wall ==")
    rows.sortBy(r => -r.split("\\s+")(1).toDouble).foreach(println)
  }

  private def ab(spark: SparkSession, sfDir: String, key: String,
      values: Seq[String], qs: Seq[Q]): Unit = {
    def run(q: Q, v: String): Double = {
      spark.conf.set(key, v)
      try seconds { q.run(spark, sfDir).count() }
      finally releasePins(spark)
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    qs.foreach { q =>
      values.foreach(run(q, _)) // warm every value once
      val times = scala.collection.mutable.Map.empty[String, List[Double]]
      for (round <- 1 to 3; v <- if (round % 2 == 0) values.reverse else values)
        times(v) = run(q, v) :: times.getOrElse(v, Nil)
      values.foreach { v =>
        val ts = times(v).sorted
        println(f"${q.name}%-24s $key=$v%-8s min=${ts.head}%.3f med=${ts(ts.size / 2)}%.3f " +
          ts.map(t => f"$t%.3f").mkString("[", " ", "]"))
      }
    }
  }
}
