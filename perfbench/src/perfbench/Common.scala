package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Shared plumbing of the JVM-side runners: the session every workload
  * uses, process counters, span recording and a tiny JSON writer. */
object Common {
  val startNs: Long = System.nanoTime()

  /** The host the benchmark targets has 4 cores; every load comes from
    * at most 4 clients. */
  val cpus = 4

  def session(appName: String, scratch: String, partitions: Int = cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.checkpoint.dir", s"$scratch/checkpoints")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/stream-ckpt")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$scratch/checkpoints")
    s
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9
  def load1: Double = os.getSystemLoadAverage
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  def sinceStart: Double = (System.nanoTime() - startNs) / 1e9

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** A failure is recorded with its class and message, never as a bare
    * sentinel value. */
  def describe(e: Throwable): Map[String, Any] = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    Map("class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(400),
      "root_class" -> root.getClass.getName)
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeJson(path: String, v: Any): Unit =
    Files.write(Paths.get(path), json(v).getBytes(UTF_8))
}

/** In-memory span log of a traced run, written out once at the end.
  * Times are milliseconds since the runner started. */
final class Spans {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]
  private val ids = new java.util.concurrent.atomic.AtomicLong
  def ms(ns: Long): Double = (ns - Common.startNs) / 1e6
  def add(name: String, startNs: Long, endNs: Long, parent: Long,
          request: String): Long = addMs(name, ms(startNs), ms(endNs), parent, request)
  def addMs(name: String, startMs: Double, endMs: Double, parent: Long,
            request: String): Long = {
    val id = ids.incrementAndGet()
    buf.add(Map("id" -> id, "name" -> name, "start_ms" -> startMs,
      "end_ms" -> endMs, "parent" -> parent, "request" -> request))
    id
  }
  def write(path: String): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path), UTF_8)
    try buf.asScala.foreach { s => w.write(Common.json(s)); w.write("\n") }
    finally w.close()
  }
}
