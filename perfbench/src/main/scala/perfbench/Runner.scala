package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.util.Random

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Canary, GraftSession, Logs, SparkEntry, Tables}

/** One benchmark run in a fresh JVM: set up the session, check the
  * workload's outputs, then run it as a closed loop with one client — the
  * workload's queries one after another, each `SparkEntry.queries(name)`
  * followed by a `noop` write — for a fixed number of untimed warm-up
  * passes and then a fixed number of timed passes.
  *
  *   perfbench.Runner <data dir> <out dir> <seed> <warm-up passes> <passes> <trace 0|1> <q1,q2,...>
  *
  * Writes `<out dir>/run.json` (timings, failures, contention stamp) and,
  * traced, `<out dir>/trace.jsonl` (spans and listener events); the
  * correctness pass leaves each query's output under `<out dir>/q/` with
  * the DuckDB twins in `<out dir>/oracle_sql.json`.
  */
object Runner {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, seedArg, warmupsArg, passesArg, traceArg, queryArg) = args
    val seed = seedArg.toLong
    val warmups = warmupsArg.toInt
    val passes = passesArg.toInt
    val traced = traceArg == "1"
    val queries = queryArg.split(",").toSeq
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val out = new File(outDir)
    out.mkdirs()

    // contention stamp, sampled before this run puts any load on the box
    val loadAtStart = loadavg1()
    val cpus = Runtime.getRuntime.availableProcessors()

    // set-up: seconds from JVM start until the session is built and every
    // table has had its one-time warm-up scan
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = setup(cpus, dataDir)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sc = spark.sparkContext

    val canary =
      try Some(Canary.run(spark))
      catch { case e: Throwable => System.err.println(s"[perfbench] canary failed: $e"); None }
    // peak memory is the workload's, not the set-up's or the canary's: give
    // the heap they grew back to the OS, then restart the high-water mark
    val rssResetMb = resetPeakRss()

    // correctness pass, untimed: each output lands in <out>/q/<name> for
    // the oracle compare. It is also the first warm-up pass.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def fail(name: String, e: Throwable): Unit = {
      System.err.println(s"[perfbench] $name failed: $e")
      failed(name) = failed.getOrElse(name, 0) + 1
    }
    val warmupQueryS = queries.map { name =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/q/$name")
      catch { case e: Throwable => fail(name, e) }
      unpersistAll(spark)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] correctness pass: $name%s $s%.3f s")
      name -> s
    }
    val warmupS = warmupQueryS.map(_._2).sum
    writeOracle(queries, dataDir, new File(out, "oracle_sql.json"))

    /** One pass over the queries in a seed-determined order. Returns the
      * pass time (sum of the per-query times) and whether all succeeded. */
    def pass(p: Int, trace: Option[Trace]): (Double, Boolean) = {
      val order = new Random(seed * 7919L + p).shuffle(queries)
      var total = 0.0
      var ok = true
      var persisted = 0
      // one query; `inSpan` wraps its entry call and its exec write
      def run(name: String, inSpan: (String, () => Unit) => Unit): Unit = {
        val t0 = System.nanoTime()
        try {
          var df: DataFrame = null
          inSpan("entry", () => df = SparkEntry.queries(name)(spark, dataDir))
          inSpan("exec", () => df.write.format("noop").mode("overwrite").save())
        } catch { case e: Throwable => fail(name, e); ok = false }
        persisted = unpersistAll(spark)
        total += (System.nanoTime() - t0) / 1e9
      }
      trace match {
        case None => order.foreach(run(_, (_, body) => body()))
        case Some(t) =>
          t.span(0L, "pass", s"pass $p") { passId =>
            order.foreach { name =>
              t.span(passId, "query", name) { qid =>
                run(name, (kind, body) => t.span(qid, kind, name) { id =>
                  sc.setLocalProperty(Trace.SpanProp, id.toString)
                  try body() finally sc.setLocalProperty(Trace.SpanProp, null)
                  Map.empty
                })
                Map("persisted_rdds" -> persisted.toDouble)
              }
              // deliver this query's listener events before the next one
              // starts, outside every timed interval
              ListenerBusDrain.drain(sc, 10000L)
            }
            Map("pass_s" -> total)
          }
      }
      (total, ok)
    }

    def runPasses(n: Int, first: Int, trace: Option[Trace]): Seq[(Double, Boolean)] =
      (first until first + n).map(pass(_, trace))

    // the JIT keeps speeding the query-planning code up for several passes
    // after the first; passes before it settles are not timed
    runPasses(warmups, -warmups, None)
    // traced: each traced pass is paired with an untraced one, the pair in
    // alternating order, so the tracing overhead is measured within the run
    // and neither side has had more JIT warm-up than the other
    val trace = if (traced) Some(new Trace) else None
    val (plain, tracedPasses) = trace match {
      case None => (runPasses(passes, 1, None), Seq.empty)
      case Some(t) =>
        def tracedPass(p: Int) = {
          t.install(spark)
          try pass(p, trace)
          finally { ListenerBusDrain.drain(sc, 10000L); t.uninstall(spark) }
        }
        (1 to passes).map { i =>
          if (i % 2 == 1) { val u = pass(i, None); (u, tracedPass(1000 + i)) }
          else { val tp = tracedPass(1000 + i); (pass(i, None), tp) }
        }.unzip
    }

    val attempted = queries.size * (1 + warmups + plain.size + tracedPasses.size)
    val failures = failed.values.sum
    // let the ContextCleaner reclaim what the dead DataFrames held (shuffle
    // files, reliable checkpoints) before the session stops, so the temp
    // files the run leaves are its leaks, not garbage-collection timing
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(300) }
    val hwmMb = statusMb("VmHWM")
    spark.stop()
    trace.foreach(_.write(new File(out, "trace.jsonl")))

    def arr(xs: Seq[(Double, Boolean)]) =
      xs.map { case (s, ok) => s"[$s,$ok]" }.mkString("[", ",", "]")
    val json =
      s"""{"cpus":$cpus,"queries":${Json.strs(queries)},"setup_s":$setupS,""" +
        s""""warmup_pass_s":$warmupS,"warmup_query_s":${warmupQueryS.map { case (q, t) => s"${Json.str(q)}:$t" }.mkString("{", ",", "}")},"passes":${arr(plain)},"traced_passes":${arr(tracedPasses)},""" +
        s""""attempted":$attempted,"failed":$failures,"failed_queries":${Json.strs(failed.keys.toSeq)},""" +
        s""""peak_rss_mb":$hwmMb,"rss_reset_mb":$rssResetMb,"load_1m_start":${loadAtStart.getOrElse(-1.0)},""" +
        s""""canary_s":${canary.getOrElse(-1.0)},"canary_ok":${canary.isDefined}}"""
    java.nio.file.Files.writeString(new File(out, "run.json").toPath, json)
  }

  /** Drop every RDD a query left persisted, as graft.Bench does: each
    * pass rebuilds its DataFrames, so the blocks are dead once the write
    * returns and would otherwise pile up across the queries of a pass. */
  private def unpersistAll(spark: SparkSession): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs.values
    rdds.foreach(_.unpersist(blocking = false))
    rdds.size
  }

  private def setup(cpus: Int, dataDir: String): SparkSession = {
    val spark = GraftSession.local(cpus)
    Logs.quietDeclaredBoundedWindows()
    Tables.names.foreach { n =>
      (if (n == "events") Tables.events(spark, dataDir) else Tables.load(spark, dataDir, n))
        .write.format("noop").mode("overwrite").save()
    }
    spark
  }

  private def writeOracle(queries: Seq[String], dataDir: String, file: File): Unit = {
    val sql = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(s =>
      s"${Json.str(q)}:${Json.str(SparkEntry.substituteFixturePaths(s, dataDir))}"))
    java.nio.file.Files.writeString(file.toPath, sql.mkString("{", ",", "}"))
  }

  private def loadavg1(): Option[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").headOption.map(_.toDouble)
    catch { case _: Throwable => None }

  /** A field of /proc/self/status (VmHWM, VmRSS), in MB. */
  private def statusMb(field: String): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith(field + ":")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  /** Shrink the heap (a full GC gives free heap back to the OS, since
    * the heap's initial size is below its maximum), then reset VmHWM to
    * the current resident set. Returns that resident set in MB, or -1
    * when the kernel offers no reset. */
  private def resetPeakRss(): Double = {
    System.gc()
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get("/proc/self/clear_refs"), "5")
      statusMb("VmRSS")
    } catch { case e: Throwable => System.err.println(s"[perfbench] VmHWM reset failed: $e"); -1.0 }
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
}
