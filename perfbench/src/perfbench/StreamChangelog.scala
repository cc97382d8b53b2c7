package perfbench

import graft.ksql.Translator
import graft.ksql.Translator.Source
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

case class Click(eid: Long, uid: Long, amt: Long, cat: Long,
                 ts: java.sql.Timestamp, gen_ms: Long)
case class UserRow(uid_k: Long, region: Long, tier: Long, uoff: Long)
case class AcctRow(id: Long, seg: Long, bal: Long, off: Long)

/** `stream_changelog`: three persistent queries, written in KSQL and
  * translated by `Translator.run`, running together in one session over
  * `MemoryStream` sources:
  *
  *   - windowed: a tumbling-window CTAS (built-in state store)
  *   - joined:   stream ⋈ LIVE TABLE folded into a GROUP BY (RocksDB)
  *   - reagg:    table→table GROUP BY over a live changelog whose rows
  *               move between groups (RocksDB previous-image store)
  *
  * A generator thread feeds the seeded event log on its own clock, late
  * or not; it never waits for the engine. Each event carries its
  * scheduled creation time. An event's latency, in each query it feeds,
  * runs from that stamp to the sink arrival of the first result batch
  * that contains it: the first batch whose newest stamp (`MAX(gen_ms)`,
  * or the reagg changelog's `__off` mapped back to its stamp) is at
  * least the event's. After the open-loop window the log's backlog arrives at once
  * and the drain rate is the capacity figure. The final materialized
  * tables are compared with a recompute over every fed event.
  *
  * Usage: StreamChangelog <eventsDir> <resultJson> <scratchDir> <trace 0|1>
  */
object StreamChangelog {
  private val EventEpochMs = 1704067200000L // event time of due offset 0
  private val TickMs = 50L
  /** State partitions per stateful operator. Each partition pays a store
    * commit per trigger (about 0.5 s on RocksDB here), so with one
    * partition per query the three queries still share the cores and a
    * trigger takes ~0.5 s instead of ~4 s at four partitions. */
  private val StatePartitions = 1

  private def column(dir: String, name: String): Array[Long] = {
    val b = ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"$dir/$name.i64")))
      .order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(b.remaining() / 8)(b.getLong())
  }

  val statements: Seq[(String, String)] = Seq(
    "windowed" ->
      """CREATE TABLE clicks_per_sec AS
        |  SELECT cat, COUNT(*) AS n, SUM(amt) AS total, MAX(gen_ms) AS gen_ms
        |  FROM clicks WINDOW TUMBLING (SIZE 1 SECONDS)
        |  GROUP BY cat EMIT CHANGES;""".stripMargin,
    "joined" ->
      """CREATE TABLE region_totals AS
        |  SELECT region, COUNT(*) AS cnt, SUM(amt) AS total, MAX(gen_ms) AS gen_ms
        |  FROM clicks JOIN users_t ON uid = uid_k
        |  GROUP BY region EMIT CHANGES;""".stripMargin,
    "reagg" ->
      """CREATE TABLE seg_stats AS
        |  SELECT seg, COUNT(*) AS n, SUM(bal) AS bal_sum
        |  FROM accts GROUP BY seg;""".stripMargin)

  /** One query's update-mode output: the latest emission per key, and
    * per batch its arrival time and the newest creation stamp it holds. */
  final class Sink(val name: String, keyCols: Seq[String], version: Row => Long) {
    val latest = mutable.Map.empty[Seq[Any], Row]
    val arrivals = mutable.ArrayBuffer.empty[(Long, Long)] // (newest created ms, arrived ms)
    var rows = 0L
    def absorb(df: DataFrame, created: Row => Long): Unit = {
      val got = df.collect()
      val now = System.currentTimeMillis()
      synchronized {
        rows += got.length
        got.foreach { r =>
          val k = keyCols.map(c => r.get(r.fieldIndex(c)))
          if (latest.get(k).forall(o => version(o) <= version(r))) latest(k) = r
        }
        if (got.nonEmpty) arrivals += ((got.map(created).max, now))
      }
    }

    /** Latency of each event (creation stamps, ascending): the arrival of
      * the first batch whose newest stamp covers it, minus its stamp. */
    def latencies(stamps: Seq[Long]): Seq[Double] = {
      val bs = arrivals.toSeq
      var b = 0
      stamps.flatMap { c =>
        while (b < bs.size && bs(b)._1 < c) b += 1
        if (b < bs.size) Some((bs(b)._2 - c).toDouble) else None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, resultPath, scratch, traceArg) = args
    val trace = traceArg == "1"
    val meta = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(s"$dir/meta.json")), "UTF-8"))
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val warmS = (meta \ "warm").extract[Double]
    val seconds = (meta \ "seconds").extract[Double]
    val users = (meta \ "users").extract[Int]
    val accounts = (meta \ "accounts").extract[Int]

    val cDue = column(dir, "clicks_due_us"); val cUid = column(dir, "clicks_uid")
    val cAmt = column(dir, "clicks_amt"); val cCat = column(dir, "clicks_cat")
    val uRegion = column(dir, "users_region")
    val aSeg0 = column(dir, "accts_init_seg"); val aBal0 = column(dir, "accts_init_bal")
    val uDue = column(dir, "users_up_due_us"); val uUid = column(dir, "users_up_uid")
    val uTier = column(dir, "users_up_tier")
    val aDue = column(dir, "accts_up_due_us"); val aId = column(dir, "accts_up_id")
    val aSeg = column(dir, "accts_up_seg"); val aBal = column(dir, "accts_up_bal")

    val load1Start = Common.load1
    val spark = Common.session("perfbench-stream", scratch, partitions = StatePartitions)
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val listener = if (trace) Some(new ExecListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, StreamingQueryProgress)]
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add((e.progress.name, e.progress))
    })

    // a MemoryStream serves one query (each query commits, and so
    // discards, what it has read), so each query gets its own sources
    val clicksW = MemoryStream[Click](spark)
    val clicksJ = MemoryStream[Click](spark)
    val usersMem = MemoryStream[UserRow](spark)
    val accts = MemoryStream[AcctRow](spark)
    val catalogs: Map[String, Translator.Catalog] = Map(
      "windowed" -> Map("clicks" -> Source(clicksW.toDF(), "ts")),
      "joined" -> Map("clicks" -> Source(clicksJ.toDF(), "ts"),
        "users_t" -> Source(usersMem.toDF(), "uoff", key = Some("uid_k"), isTable = true)),
      "reagg" -> Map("accts" -> Source(accts.toDF(), "off", key = Some("id"), isTable = true)))

    // reagg changelog offsets: initial rows 1..accounts, then one per update
    val offGenMs = new Array[Long](accounts + aDue.length + 1)
    val sinks = Map(
      "windowed" -> new Sink("windowed", Seq("cat", "windowstart"), _.getAs[Long]("n")),
      "joined" -> new Sink("joined", Seq("region"), _.getAs[Long]("cnt")),
      "reagg" -> new Sink("reagg", Seq("seg"), _.getAs[Long]("__off")))
    def created(name: String)(r: Row): Long =
      if (name == "reagg") offGenMs(r.getAs[Long]("__off").toInt)
      else r.getAs[Long]("gen_ms")

    val queries = statements.map { case (name, sql) =>
      // the windowed CTAS keeps the built-in store; the keyed stores of
      // the join and the re-aggregation run on RocksDB
      if (name == "windowed") spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      else spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val (_, Some(out)) = Translator.run(spark, catalogs(name), sql): @unchecked
      val sink = sinks(name)
      name -> out.writeStream.queryName(name).outputMode("update")
        .option("checkpointLocation", s"$scratch/ckpt-$name")
        .foreachBatch((df: DataFrame, _: Long) => sink.absorb(df, created(name)))
        .start()
    }.toMap

    // set-up: the whole user table and the initial accounts, before any click
    val setupMs = System.currentTimeMillis()
    usersMem.addData((0 until users).map(u => UserRow(u, uRegion(u), 0L, 0L)))
    accts.addData((0 until accounts).map { i =>
      offGenMs(i + 1) = setupMs
      AcctRow(i, aSeg0(i), aBal0(i), i + 1L)
    })
    queries.values.foreach(_.processAllAvailable())
    val setupDone = Common.sinceStart
    val setupEpochMs = System.currentTimeMillis()

    // open loop: feed everything due, on the schedule's clock
    val t0Ns = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val openEndUs = ((warmS + seconds) * 1e6).toLong
    val late = mutable.ArrayBuffer.empty[Double]
    var ci = 0; var ui = 0; var ai = 0
    var cpuOpen0 = 0.0
    def nowUs = (System.nanoTime() - t0Ns) / 1000
    def feed(limitUs: Long): Unit = {
      val n0 = ci
      while (ci < cDue.length && cDue(ci) <= limitUs) ci += 1
      if (ci > n0) {
        val rows = (n0 until ci).map { i =>
          Click(i, cUid(i), cAmt(i), cCat(i),
            new java.sql.Timestamp(EventEpochMs + cDue(i) / 1000), t0Ms + cDue(i) / 1000)
        }
        clicksW.addData(rows); clicksJ.addData(rows)
      }
      val u0 = ui
      while (ui < uDue.length && uDue(ui) <= limitUs) ui += 1
      if (ui > u0) usersMem.addData((u0 until ui).map { i =>
        UserRow(uUid(i), uRegion(uUid(i).toInt), uTier(i), EventEpochMs / 1000 + uDue(i) / 1000000)
      })
      val a0 = ai
      while (ai < aDue.length && aDue(ai) <= limitUs) ai += 1
      if (ai > a0) accts.addData((a0 until ai).map { i =>
        val off = accounts + i + 1L
        offGenMs(off.toInt) = t0Ms + aDue(i) / 1000
        AcctRow(aId(i), aSeg(i), aBal(i), off)
      })
      val now = nowUs
      (n0 until ci).foreach(i => late += (now - cDue(i)) / 1000.0)
    }
    while (nowUs < openEndUs) {
      if (cpuOpen0 == 0.0 && nowUs >= warmS * 1e6) { cpuOpen0 = Common.cpuSeconds; late.clear() }
      feed(math.min(nowUs, openEndUs - 1))
      // one MemoryStream batch per tick: a trigger reads a union of the
      // batches it covers, so finer ticks would grow its plan
      Thread.sleep(TickMs)
    }
    val cpuOpen1 = Common.cpuSeconds
    val openFed = ci
    val measuredEvents = cDue.count(d => d >= warmS * 1e6 && d < openEndUs)
    // saturation: the backlog (due at the end of the window) arrives at once
    val drain0 = System.nanoTime()
    feed(Long.MaxValue)
    val backlog = ci - openFed
    queries.values.foreach(_.processAllAvailable())
    val drainS = (System.nanoTime() - drain0) / 1e9
    if (trace) org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    queries.values.foreach(_.stop())

    // recompute over every fed event
    val winExpect = mutable.Map.empty[Seq[Any], (Long, Long, Long)]
    val joinExpect = mutable.Map.empty[Long, (Long, Long, Long)]
    val cGen = (0 until ci).map(i => t0Ms + cDue(i) / 1000)
    (0 until ci).foreach { i =>
      val k = Seq(cCat(i), (EventEpochMs + cDue(i) / 1000) / 1000 * 1000)
      val (n, s, g) = winExpect.getOrElse(k, (0L, 0L, Long.MinValue))
      winExpect(k) = (n + 1, s + cAmt(i), math.max(g, cGen(i)))
      val reg = uRegion(cUid(i).toInt)
      val (n2, s2, g2) = joinExpect.getOrElse(reg, (0L, 0L, Long.MinValue))
      joinExpect(reg) = (n2 + 1, s2 + cAmt(i), math.max(g2, cGen(i)))
    }
    val acct = mutable.Map.empty[Long, (Long, Long)]
    (0 until accounts).foreach(i => acct(i.toLong) = (aSeg0(i), aBal0(i)))
    (0 until ai).foreach(i => acct(aId(i)) = (aSeg(i), aBal(i)))
    val reaggExpect = acct.values.groupBy(_._1).map { case (seg, rs) =>
      seg -> ((rs.size.toLong, rs.map(_._2).sum))
    }

    val mismatches = mutable.ArrayBuffer.empty[String]
    def check(name: String, got: Map[Any, Seq[Any]], want: Map[Any, Seq[Any]]): Unit = {
      val keys = got.keySet ++ want.keySet
      val bad = keys.filter(k => got.get(k) != want.get(k))
      if (bad.nonEmpty) mismatches += s"$name: ${bad.size} of ${keys.size} keys differ, " +
        s"e.g. ${bad.head} got ${got.get(bad.head)} want ${want.get(bad.head)}"
    }
    check("windowed",
      sinks("windowed").latest.map { case (_, r) =>
        (Seq(r.getAs[Long]("cat"), r.getAs[Long]("windowstart")): Any) ->
          Seq[Any](r.getAs[Long]("n"), r.getAs[Long]("total"), r.getAs[Long]("gen_ms"))
      }.toMap,
      winExpect.map { case (k, (n, s, g)) => (k: Any) -> Seq[Any](n, s, g) }.toMap)
    check("joined",
      sinks("joined").latest.map { case (_, r) =>
        (r.getAs[Long]("region"): Any) ->
          Seq[Any](r.getAs[Long]("cnt"), r.getAs[Long]("total"), r.getAs[Long]("gen_ms"))
      }.toMap,
      joinExpect.map { case (k, (n, s, g)) => (k: Any) -> Seq[Any](n, s, g) }.toMap)
    check("reagg",
      sinks("reagg").latest.values.filterNot(_.getAs[Boolean]("__deleted")).map { r =>
        (r.getAs[Long]("seg"): Any) -> Seq[Any](r.getAs[Long]("n"), r.getAs[Long]("bal_sum"))
      }.toMap,
      reaggExpect.map { case (k, (n, s)) => (k: Any) -> Seq[Any](n, s) })

    // latency of every event created in the window, in each query it feeds
    val winLo = t0Ms + (warmS * 1000).toLong
    val winHi = t0Ms + openEndUs / 1000
    def inWindow(xs: Seq[Long]) = xs.filter(c => c >= winLo && c < winHi)
    val clickStamps = inWindow(cGen)
    val acctStamps = inWindow(((accounts + 1) to (accounts + ai)).map(o => offGenMs(o)))
    val latency = Seq("windowed" -> clickStamps, "joined" -> clickStamps,
      "reagg" -> acctStamps).flatMap { case (n, st) => sinks(n).latencies(st) }
    val progresses = progress.asScala.toSeq
    if (trace) {
      val spans = new Spans
      val nowNs = System.nanoTime(); val nowMs = System.currentTimeMillis()
      def toSpan(ms: Long) = spans.ms(nowNs) - (nowMs - ms)
      progresses.foreach { case (name, p) =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val endMs = start + p.durationMs.getOrDefault("triggerExecution", 0L)
        val id = spans.addMs("trigger", toSpan(start), toSpan(endMs), 0L, s"$name-${p.batchId}")
        var at = start
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
          .foreach { ph =>
            val d = p.durationMs.getOrDefault(ph, 0L)
            if (d > 0) spans.addMs(ph, toSpan(at), toSpan(at + d), id, s"$name-${p.batchId}")
            at += d
          }
      }
      spans.write(s"$scratch/spans.jsonl")
    }
    def prog(p: StreamingQueryProgress): Map[String, Any] = Map(
      "query" -> p.name, "batch" -> p.batchId, "rows" -> p.numInputRows,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state" -> p.stateOperators.toSeq.map(s => Map(
        "rows" -> s.numRowsTotal, "updated" -> s.numRowsUpdated,
        "memory_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
        "updates_ms" -> s.allUpdatesTimeMs)))
    Common.writeJson(resultPath, Map(
      "setup_s" -> setupDone, "setup_epoch_ms" -> setupEpochMs,
      "load1_start" -> load1Start,
      "open_events" -> measuredEvents, "fed_events" -> ci, "backlog" -> backlog,
      "drain_s" -> drainS, "open_cpu_s" -> (cpuOpen1 - cpuOpen0),
      "latency_ms" -> latency, "gen_late_ms" -> late.toSeq,
      "t0_ms" -> t0Ms, "warm_s" -> warmS, "seconds" -> seconds,
      "results" -> sinks.map { case (n, s) => n -> Map("batches" -> s.arrivals.size,
        "rows" -> s.rows, "keys" -> s.latest.size) },
      "mismatches" -> mismatches.toSeq,
      "progress" -> progresses.map(x => prog(x._2)),
      "exec" -> listener.map(_.snapshot()).getOrElse(Map.empty),
      "process_cpu_s" -> Common.cpuSeconds, "jvm_gc_s" -> Common.gcSeconds,
      "peak_rss_mb" -> Common.peakRssMb))
    spark.stop()
  }
}
