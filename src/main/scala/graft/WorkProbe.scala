package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operator WORK probe: runs named queries and prints
  * `numOutputRows` for every join / aggregate / generate node of the
  * FINAL (post-AQE) physical plan — the mechanical form of the
  * growth-curve adjudication. Wall-clock growth on K× data conflates
  * engine efficiency with workload arithmetic; the join-output row
  * counts separate them: a query whose candidate join emits ~K² rows
  * on K× data is doing quadratically more WORK (the workload's own
  * arithmetic — e.g. exact all-pairs similarity with a K×-shared
  * vocabulary), and the engine verdict is whether seconds-per-row
  * stays flat, not whether seconds stay K-linear. Usage:
  *   runMain graft.WorkProbe <sfDir> <query1,query2,...>
  * Prints one line per significant node: rows, node name; plus the
  * per-query total over join nodes (the candidate-work scalar to
  * compare across scale factors).
  */
object WorkProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val spark = GraftSession.local()

    // EVERY QueryExecution the query fires — the noop write plus any
    // internal collect()s (corpus stats, trained models): those are
    // real per-query work, so the totals sum across all of them;
    // shared physical nodes are deduped by identity below
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    // expand AQE wrappers so the walk sees the plan that actually ran.
    // A ReusedExchangeExec is a POINTER to a subtree that already ran
    // (and was walked) under its original exchange — descending it
    // would double-count every reused join's rows, and AQE reuses
    // exchanges differently across scale factors, so the growth ratio
    // would pick up a plan-shape artifact. Stop at the reuse node.
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Seq.empty
        case other => other.children
      }
      p +: kids.flatMap(walk)
    }

    import scala.jdk.CollectionConverters._
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"== $name: no such query")
        case Some(fn) =>
          qes.clear()
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 10000L)
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
          val nodes = qes.asScala.toSeq.flatMap(qe => walk(qe.executedPlan))
            .distinctBy(System.identityHashCode(_))
          def rows(p: SparkPlan): Long =
            p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
          val interesting = nodes.filter { p =>
            val n = p.nodeName
            (n.contains("Join") || n.contains("Aggregate") ||
              n.contains("Generate") || n.contains("Window")) && rows(p) >= 0
          }
          println(f"== $name wall=$wall%.2f s")
          interesting.sortBy(-rows(_)).take(12).foreach { p =>
            println(f"   ${rows(p)}%14d  ${p.nodeName}%s")
          }
          val joinWork = interesting.filter(_.nodeName.contains("Join"))
            .map(rows).sum
          println(s"   join-output total: $joinWork")
      }
    }
    spark.stop()
  }
}
