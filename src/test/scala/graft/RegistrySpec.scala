package graft

import org.apache.spark.network.util.JavaUtils

/** Invariants of the query registry, the shared session and Bench's
  * contention verdict.
  */
class RegistrySpec extends SparkSpec {

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_._1)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"registered twice: ${dups.mkString(", ")}")
  }

  test("queries and oracleSql are views of the same 341 names") {
    assert(SparkEntry.queries.size === 341)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("no oracle is blank") {
    val blank = SparkEntry.oracleSql.collect { case (k, v) if v.trim.isEmpty => k }
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.mkString(", ")}")
  }

  test("Bench contention: failed canary -> unknown, clean -> false, hot -> true") {
    val idle = "0.50,0.40,0.30"
    assert(Bench.isContended(-1.0, idle, 4) === None)
    assert(Bench.isContended(1.0, idle, 4) === Some(false))
    assert(Bench.isContended(2.0, idle, 4) === Some(true))
    // a hot load decides even when the canary failed
    assert(Bench.isContended(-1.0, "9.00,8.00,7.00", 4) === Some(true))
  }

  test("the shared session carries GraftSession's confs and Spark's AQE defaults") {
    val conf = TestSession.spark.conf
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") === "true")
    // the values each main's session used to set explicitly
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")) ===
      JavaUtils.byteStringAsBytes("1m"))
  }
}
