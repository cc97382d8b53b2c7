package perfbench

import graft.{GraftExtensions, SparkEntry}
import java.util.concurrent.{Callable, Executors, TimeUnit}

/** `batch_suite`: every `SparkEntry.queries` entry over the generated
  * tables, each result written as parquet, closed loop with a fixed pool
  * of clients.
  *
  * Set-up (not timed): the `SparkEntry.prepares` pass. Timed: whole-suite
  * passes in a fixed longest-first order until the measuring window is
  * used up, at least one; the first pass runs on a fresh JVM. The last
  * pass's outputs are what the oracle check reads. A traced run times
  * the same passes with the execution listener, job tags and span log
  * on, and reports the last.
  *
  * Usage: BatchSuite <dataDir> <outDir> <seconds> <trace 0|1> <orderFile>
  *        <resultJson> <scratchDir>
  */
object BatchSuite {
  final case class Outcome(name: String, startNs: Long, constructNs: Long,
                           endNs: Long, error: Option[Throwable],
                           clientCpuNs: Long = 0L)
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, secondsArg, traceArg, orderFile, resultPath,
      scratch) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val load1Start = Common.load1
    val spark = Common.session("perfbench-batch", scratch)
    GraftExtensions.register(spark)

    val queries = SparkEntry.queries
    Common.writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    val costOrder = scala.io.Source.fromFile(orderFile).getLines()
      .map(_.trim).filter(n => n.nonEmpty && !n.startsWith("#"))
      .map(_.split("\\s+")(0)).toSeq
    // queries missing from the cost table run last, in name order
    val order = costOrder.filter(queries.contains) ++
      queries.keys.toSeq.filterNot(costOrder.toSet).sorted

    // the prepares build independent write-once artefacts, so they share
    // the client pool (each query would otherwise build its own lazily,
    // just as concurrently, inside the timed pass)
    val prepPool = Executors.newFixedThreadPool(Common.cpus)
    val prepFutures = SparkEntry.prepares.toSeq.sortBy(_._1).map { case (n, p) =>
      n -> prepPool.submit(new Callable[(Double, Option[Throwable])] {
        def call(): (Double, Option[Throwable]) = {
          val t0 = System.nanoTime()
          val err = try { p(spark, dataDir); None } catch { case e: Throwable => Some(e) }
          ((System.nanoTime() - t0) / 1e9, err)
        }
      })
    }
    val prepared = prepFutures.map { case (n, f) => n -> f.get() }
    prepPool.shutdown()
    val prepareTimes = prepared.map { case (n, (s, _)) => n -> s }
    val prepareErrors = prepared.collect { case (n, (_, Some(e))) =>
      Common.describe(e) + ("name" -> n) }

    /** One query: construct the frame, then write it. Tagged, its jobs
      * carry the query name and the phase they ran in. */
    def timedQuery(n: String, tagged: Boolean): Outcome = {
      val sc = spark.sparkContext
      if (tagged) { sc.addJobTag(s"q:$n"); sc.addJobTag("ph:construct") }
      val cpu0 = threads.getCurrentThreadCpuTime
      val s0 = System.nanoTime()
      var c = s0
      val err = try {
        val df = queries(n)(spark, dataDir)
        c = System.nanoTime()
        if (tagged) { sc.removeJobTag("ph:construct"); sc.addJobTag("ph:execute") }
        df.write.mode("overwrite").parquet(s"$outDir/$n")
        None
      } catch { case e: Throwable => Some(e) }
      finally if (tagged) sc.clearJobTags()
      if (c == s0) c = System.nanoTime()
      Outcome(n, s0, c, System.nanoTime(), err, threads.getCurrentThreadCpuTime - cpu0)
    }

    /** The whole suite on the client pool, in cost order: (wall s, outcomes). */
    def runPass(tagged: Boolean): (Double, Seq[Outcome]) = {
      val pool = Executors.newFixedThreadPool(Common.cpus)
      val t0 = System.nanoTime()
      val fs = order.map(n =>
        pool.submit(new Callable[Outcome] { def call(): Outcome = timedQuery(n, tagged) }))
      val res = fs.map(_.get())
      val wall = (System.nanoTime() - t0) / 1e9
      pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES)
      (wall, res)
    }

    val setupDone = Common.sinceStart
    val setupEpochMs = System.currentTimeMillis()

    // a traced run times the same pass with the listener and job tags on
    val listener = if (trace) Some(new ExecListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val cpu0 = Common.cpuSeconds
    val gc0 = Common.gcSeconds
    val t0 = System.nanoTime()
    val passes = Seq.newBuilder[(Double, Seq[Outcome])]
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      passes += runPass(tagged = trace); n += 1
    }
    val timed = passes.result()
    val cpu1 = Common.cpuSeconds
    val gc1 = Common.gcSeconds
    val load1End = Common.load1

    val traced: Map[String, Any] = listener.map { l =>
      val res = timed.last._2
      org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      val spans = new Spans
      val wallNowMs = System.currentTimeMillis()
      val nowNs = System.nanoTime()
      def epochToSpan(ms: Long): Double = spans.ms(nowNs) - (wallNowMs - ms)
      val spanIds = res.map { o =>
        val q = spans.add("query", o.startNs, o.endNs, 0L, o.name)
        val c = spans.add("construct", o.startNs, o.constructNs, q, o.name)
        val x = spans.add("execute", o.constructNs, o.endNs, q, o.name)
        o.name -> (c, x)
      }.toMap
      // jobs under their query's construct or execute span, stages under
      // their job
      val timeline = l.timeline.toSeq
      val jobSpan = timeline.collect { case (tags, "job", id, a, b, _) =>
        tags.find(_.startsWith("q:")).map(_.drop(2)).flatMap(spanIds.get).map {
          case (c, x) =>
            val parent = if (tags.contains("ph:construct")) c else x
            id -> spans.addMs("job", epochToSpan(a), epochToSpan(b), parent, s"job-$id")
        }
      }.flatten.toMap
      timeline.collect { case (_, "stage", id, a, b, job) =>
        jobSpan.get(job).foreach(p =>
          spans.addMs("stage", epochToSpan(a), epochToSpan(b), p, s"stage-$id"))
      }
      // planning phases hang under the execute span of their query
      res.foreach { o =>
        val a = l.snapshot(s"q:${o.name}")
        val planMs = Seq("analysis_ms", "optimization_ms", "planning_ms")
          .map(a(_).asInstanceOf[Double]).sum
        val x = spanIds(o.name)._2
        spans.addMs("plan", spans.ms(o.constructNs), spans.ms(o.constructNs) + planMs,
          x, o.name)
      }
      spans.write(s"$outDir/../spans.jsonl")
      Map("cpu_s" -> (cpu1 - cpu0),
        "queries" -> res.map(o => o.name -> (l.snapshot(s"q:${o.name}") ++ Map(
          "construct_s" -> (o.constructNs - o.startNs) / 1e9,
          "execute_s" -> (o.endNs - o.constructNs) / 1e9,
          "client_cpu_s" -> o.clientCpuNs / 1e9,
          "ok" -> o.error.isEmpty))).toMap,
        "construct" -> l.snapshot("ph:construct"),
        "execute" -> l.snapshot("ph:execute"))
    }.getOrElse(Map.empty)

    def outcomes(xs: Seq[Outcome]) = xs.map { o =>
      Map("name" -> o.name, "s" -> (o.endNs - o.startNs) / 1e9) ++
        o.error.map(e => Map("error" -> Common.describe(e))).getOrElse(Map.empty)
    }
    Common.writeJson(resultPath, Map(
      "setup_s" -> setupDone, "setup_epoch_ms" -> setupEpochMs,
      "load1_start" -> load1Start, "load1_end" -> load1End,
      "prepare_s" -> prepareTimes.toMap,
      "prepare_errors" -> prepareErrors,
      "passes" -> timed.map { case (w, r) => Map("wall_s" -> w, "queries" -> outcomes(r)) },
      "cpu_s" -> (cpu1 - cpu0), "gc_s" -> (gc1 - gc0),
      "process_cpu_s" -> Common.cpuSeconds, "jvm_gc_s" -> Common.gcSeconds,
      "peak_rss_mb" -> Common.peakRssMb,
      "traced" -> traced))
    spark.stop()
  }
}
