package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's synthetic star schema (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events with `ts` normalized to a microsecond TimestampType,
    * whatever physical type the parquet carries — the generator has
    * shipped both TIMESTAMP(NANOS) (read as long ns under
    * spark.sql.legacy.parquet.nanosAsLong; integer `div` keeps the
    * ns→µs conversion exact where a double divide would lose precision
    * above 2^53 ns) and plain timestamp[us] (read as TIMESTAMP_NTZ;
    * with the session timezone pinned to UTC the NTZ→LTZ cast is
    * instant-preserving). Dispatching on the READ schema keeps every
    * downstream operator and its DuckDB oracle layout-agnostic.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "events"))
}
