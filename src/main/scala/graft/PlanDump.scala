package graft

/** Print the analyzed/executed physical plan of named registry queries —
  * the `.explain("formatted")` loop as a main, for eyeballing exchange
  * reuse, join strategies, and pushdown on any query without editing
  * code. Usage: runMain graft.PlanDump <sfDir> <query1,query2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: PlanDump <sfDir> <query1,query2,...>")
      sys.exit(2)
    }
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")} " +
        s"(${SparkEntry.queries.size} registered — see README index)")
      sys.exit(2)
    }
    val spark = GraftSession.local()
    names.foreach { name =>
      println(s"==== $name")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
