package perfbench

import graft.ksql.{Repl, Translator}
import java.nio.file.{Files, Paths}

/** In-process replay of the serving mix, for the traced `ksql_serving`
  * run: the same statements the REST client sent, in the same order,
  * straight through `Translator.run` in a session shaped like
  * `RestServer`'s. Splits each statement's service time into dialect
  * translation and execution (collecting at most 1001 rows, as a pull
  * does), and reads Catalyst's phases and the execution totals of each
  * statement from the listener.
  *
  * Usage: ServingReplay <dataDir> <statementsJson> <resultJson> <scratchDir>
  */
object ServingReplay {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, stmtPath, resultPath, scratch) = args
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val stmts = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(stmtPath)), "UTF-8"))
      .extract[Seq[Map[String, String]]]
    val spark = Common.session("perfbench-serving-replay", scratch)
    graft.GraftExtensions.register(spark)
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    var catalog = Repl.preloadCatalog(spark, dataDir)
    val sc = spark.sparkContext
    val out = stmts.zipWithIndex.map { case (st, i) =>
      val tag = s"r:$i"
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      var t1 = t0
      val err = try {
        val (cat2, res) = Translator.run(spark, catalog, st("sql"))
        t1 = System.nanoTime()
        catalog = cat2
        res.filter(df => !df.isStreaming && st("kind") != "write" && st("kind") != "ddl")
          .foreach(_.limit(1001).collect())
        None
      } catch { case e: Throwable => Some(Common.describe(e)) }
      finally sc.clearJobTags()
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      (tag, Map("kind" -> st("kind"), "translate_ms" -> (t1 - t0) / 1e6,
        "service_ms" -> (t2 - t0) / 1e6) ++ err.map("error" -> _))
    }
    org.apache.spark.perfbenchbridge.Bus.drain(sc)
    Common.writeJson(resultPath, Map(
      "statements" -> out.map { case (tag, m) => m ++ listener.snapshot(tag) },
      "exec" -> listener.snapshot()))
    spark.stop()
  }
}
