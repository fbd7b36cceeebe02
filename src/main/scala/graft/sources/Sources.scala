package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink helpers mirroring the reference's I/O surface
  * (reference: etl_imdb.py:121 `read_tsv_gz`, etl_imdb.py:238
  * `write_parquet`): header'd delimited text (tab for the IMDb dumps,
  * .gz handled transparently by Spark's codec detection) and
  * overwrite-mode parquet with optional partitioning.
  */
object Sources {

  /** Delimited text with header. With `schema=None` Spark reads all
    * columns as string — matching the reference, which casts in staging.
    * At scale, always pass an explicit schema: schema inference is a
    * full extra pass over the data.
    */
  def readDelimited(spark: SparkSession, path: String, sep: String = "\t",
                    header: Boolean = true, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("sep", sep).option("header", header.toString)
    schema.fold(r)(s => r.schema(s)).csv(path)
  }

  /** JSON-lines source — the de-facto interchange format for LLM training
    * corpora. An explicit schema is REQUIRED: at 100 TB, schema inference
    * is a full extra pass, and a drifting inferred schema silently
    * corrupts downstream casts.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSON-lines sink (one JSON object per line, optionally compressed). */
  def writeJsonl(df: DataFrame, path: String, compression: String = "none"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)

  /** Raw binary-file ingestion — Spark's built-in `binaryFile` source,
    * the standard first hop for a multimodal corpus that lands as
    * individual image/audio/video FILES rather than packed tables: one
    * row per file with (path, modificationTime, length, content).
    *
    * Scale posture: the source parallelizes over files (bin-packed by
    * `spark.sql.files.maxPartitionBytes` / `openCostInBytes`), and the
    * ONLY pushdown it supports is the path glob + a `length` filter —
    * so at corpus scale the pattern is exactly this hop ONCE, straight
    * into a packed columnar table (payload + typed metadata, the §2.7
    * model), never repeated scans of the file tree; millions of tiny
    * files also pay a driver listing storm, which is what
    * [[compactParquet]]-style packing exists to end.
    */
  def readBinaryFiles(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)

  /** Small-file compaction: rewrite a parquet directory to
    * ≈`targetRowsPerFile` rows per file. Micro-batch sinks and
    * fine-grained partitioned writes accumulate thousands of tiny files;
    * at 100 TB that turns every scan's planning into a listing storm and
    * each task into a seek-bound read, so periodic compaction is part of
    * the pipeline, not an afterthought.
    *
    * A hive-partitioned layout MUST pass its partition columns in
    * `partitionCols` — the rewrite re-applies `partitionBy` so
    * downstream partition pruning survives (a plain rewrite would
    * silently flatten the layout). The swap is loss-window-free for a
    * single-writer owner: rewrite to `<path>_tmp`, move the original
    * aside, move the rewrite in, delete the original — every rename
    * checked, so a failure leaves at least one complete copy on disk
    * (the table-format way is a manifest commit; this is the
    * raw-directory equivalent). Returns (rows, filesBefore, filesAfter).
    *
    * The per-value planning collect is bounded by the number of
    * distinct hive values: past `maxPartitionValues` (default 100k —
    * far beyond any sane hive layout) the call FAILS with a clear
    * message instead of pulling an unbounded row-count table onto the
    * driver. A caller partitioning by a near-unique key gets an error,
    * not a driver OOM.
    */
  def compactParquet(spark: SparkSession, path: String,
                     targetRowsPerFile: Long,
                     partitionCols: Seq[String] = Nil,
                     maxPartitionValues: Int = 100000): (Long, Long, Long) = {
    require(targetRowsPerFile > 0 && maxPartitionValues > 0)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    def parquetFiles(dir: org.apache.hadoop.fs.Path): Long = {
      val it = fs.listFiles(dir, true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    val before = parquetFiles(p)
    val df = spark.read.parquet(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    import org.apache.spark.sql.functions.{col, count, hash, least, lit, pmod, struct}
    val (rows, repart) =
      if (partitionCols.isEmpty) {
        val r = df.count()
        val nFiles = math.max(1L, (r + targetRowsPerFile - 1) / targetRowsPerFile).toInt
        (r, df.repartition(nFiles))
      } else {
        // A plain round-robin repartition(nFiles) would let EVERY task see
        // EVERY hive-partition value, so each task writes one file per
        // value — up to nFiles × nValues files, potentially MORE small
        // files than before the compaction. Instead shuffle on the
        // partition columns plus a bounded per-value salt sized from the
        // per-value row counts, so each value lands in
        // ceil(valueRows / targetRowsPerFile) tasks and the row target is
        // honored inside every hive directory.
        //
        // ONE counting pass serves both sizings (review r4: a separate
        // df.count() was a second full read of the table being
        // rewritten): the per-value aggregate is collected — bounded, one
        // row per hive value — its sum is the total row count, and the
        // per-value file quotas are rebuilt driver-side so the rewrite
        // plan broadcast-joins a LocalRelation instead of re-aggregating.
        val pc = partitionCols.map(col)
        // limit+length guard: the aggregate still runs distributed, but
        // the driver never materializes more than cap+1 rows — if the
        // cap trips, fail loudly BEFORE any rewrite touches disk
        val counts = df.groupBy(pc: _*).agg(count(lit(1)).as("__cnt"))
          .limit(maxPartitionValues + 1).collect()
        require(counts.length <= maxPartitionValues,
          s"compactParquet: partition columns [${partitionCols.mkString(", ")}] " +
            s"have more than $maxPartitionValues distinct values — a " +
            "near-unique partition key produces one directory per row and an " +
            "unbounded planning collect; partition by a lower-cardinality key " +
            "or raise maxPartitionValues explicitly")
        val r = counts.map(_.getAs[Long]("__cnt")).sum
        val nFiles = math.max(1L, (r + targetRowsPerFile - 1) / targetRowsPerFile).toInt
        val keyFields = partitionCols.map(c =>
          df.schema(c).copy(name = s"__k_$c"))
        val nfSchema = org.apache.spark.sql.types.StructType(
          keyFields :+ org.apache.spark.sql.types.StructField(
            "__nf", org.apache.spark.sql.types.IntegerType, nullable = false))
        val nfRows = counts.map { row =>
          val nf = ((row.getAs[Long]("__cnt") + targetRowsPerFile - 1) / targetRowsPerFile).toInt
          org.apache.spark.sql.Row.fromSeq(row.toSeq.init :+ nf)
        }
        val nfR = spark.createDataFrame(
          java.util.Arrays.asList(nfRows: _*), nfSchema)
        // NULL-SAFE join back: a hive layout stores null keys in
        // __HIVE_DEFAULT_PARTITION__; a plain equi-join would silently
        // drop those rows from the rewrite and the swap would then
        // delete their only copy
        val joinCond = partitionCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
        val dataCols = df.columns.filterNot(partitionCols.contains).map(col)
        val salted = df
          .join(org.apache.spark.sql.functions.broadcast(nfR), joinCond)
          .withColumn("__salt",
            pmod(hash(struct(dataCols: _*)), least(col("__nf"), lit(nFiles))))
        (r, salted.repartition(nFiles, (pc :+ col("__salt")): _*)
          .drop((partitionCols.map(c => s"__k_$c") :+ "__nf" :+ "__salt"): _*))
      }
    // maxRecordsPerFile is the HARD per-file cap: hash partitioning can
    // collide two salt groups of the same value into one task, and the
    // salt alone would then write a file at a multiple of the target —
    // the writer-level cap holds regardless of collisions
    val w = repart.write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    fs.delete(old, true) // leftover from a previous crashed swap
    require(fs.rename(p, old), s"compaction swap failed: could not move $p aside")
    require(fs.rename(tmp, p),
      s"compaction swap failed: original preserved at $old, rewrite at $tmp")
    require(fs.delete(old, true), s"compaction could not remove $old")
    (rows, before, parquetFiles(p))
  }
}
