package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage parallelism probe: runs named queries twice (min over the
  * warm pass) and prints each stage whose wall clock is significant,
  * with task count and shuffle record fan-out — the signature of the
  * AQE blind spot where a join's INPUT is small enough to coalesce to
  * one reducer but its OUTPUT fans out quadratically (found on
  * dedup_prefix_filter r9: one 4.9 s single-task stage was 70% of the
  * query). Usage:
  *   runMain graft.StageProbe <sfDir> <query1,query2,...>
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val spark = GraftSession.local()
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        val si = ev.stageInfo
        val m = si.taskMetrics
        if (m != null) stages.add((si.stageId,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorRunTime, si.numTasks,
          m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten))
        if (m != null && si.numTasks <= 2 &&
            si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L) > 500L)
          println(s"   [hot-stage detail] ${si.stageId} ${si.name}\n     ${si.details.linesIterator.take(12).mkString("\n     ")}")
      }
    })
    import scala.jdk.CollectionConverters._
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"== $name: no such query")
        case Some(fn) =>
          fn(spark, dir).write.format("noop").mode("overwrite").save() // warm
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
          org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 10000L)
          stages.clear()
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 10000L)
          println(f"== $name wall=$wall%.2f s")
          val topN = sys.env.getOrElse("GRAFT_PROBE_TOP", "6").toInt
          val minMs = sys.env.getOrElse("GRAFT_PROBE_MIN_MS", "200").toLong
          stages.asScala.toSeq.sortBy(-_._2).take(topN)
            .filter(_._2 > minMs).foreach { case (id, w, run, nt, sr, sw) =>
              val flag = if (nt <= 2 && w > 500L) "  <-- LOW-PARALLELISM HOT STAGE" else ""
              println(f"   stage $id%5d wall=${w / 1000.0}%6.2f s taskRun=${run / 1000.0}%7.2f s ntasks=$nt%3d srRec=$sr%9d swRec=$sw%9d$flag")
            }
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    spark.stop()
  }
}
