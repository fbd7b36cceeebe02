package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{ImdbPipeline, ImdbSynthetic, Marts, Staging, Star}
import graft.functions.{HashFunctions => H, TextFunctions => T, VectorFunctions => V}
import graft.multimodal.Multimodal
import graft.operators.{Audit, Dedup, EventOps, Experiment, Frequency, Intervals, Joins, Linkage, Quality, Sampling, Similarity, Sketches, Survival, TextOps}
import Params._

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory each query key maps to, and [[Oracles]] for the DuckDB twin
  * of every SQL-expressible query.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") Tables.events(s, dir) else Tables.load(s, dir, name)

  /** Embeddings load. A [[operators.CpuStage.fanOut]] width floor was
    * tried here r15 (the ANN dot products run fused into a one-task
    * scan stage at sf0.1) and MEASURED A NET LOSS across the family
    * (+9.4 s over 23 queries at sf0.1: repartitioning the 64-dim array
    * payload costs more than the parallelism buys — ann_lsh_recall_eval
    * 2.9 -> 4.4 s in a clean A/B), so the plain scan stands.
    */
  private def embT(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")

  /** money/metric doubles → exact integer cents (portable across engines). */
  private def cents(c: Column): Column = floor(c * lit(100.0)).cast("long")

  private def ts(lit0: String): Column = to_timestamp(lit(lit0))

  /** orders contract rules for the quarantine gate — mirrored
    * constant-for-constant in [[Oracles.etlQuarantine]]; the last two
    * rules never fire on clean data (they prove zero-count reporting).
    */
  private def qcRules: Seq[(String, Column)] = Seq(
    "price_under_400k" -> (cents(col("o_totalprice")) < lit(QcMaxPriceCents)),
    "status_final" -> col("o_orderstatus").isin("F", "O"),
    "priority_wellformed" -> col("o_orderpriority").like("_-%"),
    "key_positive" -> (col("o_orderkey") > lit(0L)))

  /** Per-query recall@k of an approximate (query_id, doc_id) top-k
    * against the exact one, reduced to one row (n_queries, mean/min
    * recall in integer ppm) — shared by the champion-cap audits. */
  private[graft] def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val perq = exact.select(col("query_id"), col("doc_id"))
      .join(approx.select(col("query_id"), col("doc_id"), lit(1L).as("hit")),
        Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(expr("sum(coalesce(hit, 0)) * 1000000L div count(1)").as("recall_ppm"))
    perq.agg(count(lit(1)).as("n_queries"),
      expr("sum(recall_ppm) div count(1)").as("mean_recall_ppm"),
      min(col("recall_ppm")).as("min_recall_ppm"))
  }

  private def imdbRun(part: DataFrame): ImdbPipeline.Outputs =
    ImdbPipeline.run(ImdbSynthetic.titlesFromPart(part),
      ImdbSynthetic.ratingsFromPart(part), ImdbMinVotes, TopNPerGroup)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("mart_kpi_year")(spark, "/root/testdata/sf0.001")

  /** Scratch dir for roundtrip/sink queries, unique per Spark app:
    * two concurrent runs on one machine must not clobber each other's
    * temp data mid-read (ADVICE r4).
    */
  private def tmpPath(s: SparkSession, name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_${s.sparkContext.applicationId}"

  /** Fixture roots keyed by the DATA dir (not the app id): the DuckDB
    * twin of a fixture-backed query must find the very tree the query
    * staged, so [[Verify]] substitutes these paths into the oracle SQL
    * it dumps (`__GRAFT_BINSRC__` / `__GRAFT_CDC_BYTES__`).
    */
  def binsrcRoot(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_binsrc_" +
      java.lang.Integer.toHexString(dir.hashCode)

  // the `2` is a CONTENT VERSION: the export is idempotent-skip keyed
  // on this path, so any change to the staged bytes (r10: encodeGif
  // went non-interlaced) must bump it or a machine holding the previous
  // round's fixture would feed the oracle stale bytes
  def cdcBytesRoot(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_cdcbytes2_" +
      java.lang.Integer.toHexString(dir.hashCode)

  def expFeatRoot(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_expfeat_" +
      java.lang.Integer.toHexString(dir.hashCode)

  def expAhashRoot(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_expahash_" +
      java.lang.Integer.toHexString(dir.hashCode)

  def expResizeRoot(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_expresize_" +
      java.lang.Integer.toHexString(dir.hashCode)

  def expFramesRoot(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_expframes_" +
      java.lang.Integer.toHexString(dir.hashCode)

  def expAhashDivRoot(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_expahashdiv_" +
      java.lang.Integer.toHexString(dir.hashCode)

  def expPngRoot(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_exppng_" +
      java.lang.Integer.toHexString(dir.hashCode)

  def expWavRoot(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_expwav_" +
      java.lang.Integer.toHexString(dir.hashCode)

  /** Replace fixture-path placeholders in oracle SQL with this run's
    * actual roots (driver + check.py execute the SQL verbatim).
    */
  def substituteFixturePaths(sql: String, dir: String): String =
    sql.replace("__GRAFT_BINSRC__", binsrcRoot(dir))
      .replace("__GRAFT_CDC_BYTES__", cdcBytesRoot(dir))
      .replace("__GRAFT_EXPFEAT__", expFeatRoot(dir))
      .replace("__GRAFT_EXPAHASHDIV__", expAhashDivRoot(dir))
      .replace("__GRAFT_EXPAHASH__", expAhashRoot(dir))
      .replace("__GRAFT_EXPRESIZE__", expResizeRoot(dir))
      .replace("__GRAFT_EXPFRAMES__", expFramesRoot(dir))
      .replace("__GRAFT_EXPPNG__", expPngRoot(dir))
      .replace("__GRAFT_EXPWAV__", expWavRoot(dir))

  /** ANN demo query set: the fixed hash-order budget over the
    * mod-selected vec ids. Queries were a corpus FRACTION, so every
    * retrieval demo's query×corpus work grew ∝ N² — measured at the
    * second decade (sf1→sf10): emb_ivf_pq_adc 99.7×, ann_ivf_topk
    * 31.5× wall on 10× data. A fixed budget models the real contract
    * (an external query workload over a growing corpus) and caps the
    * demos at budget×(N/cells) = linear; per-query cost at fixed cell
    * count remains ∝ N/cells — the cell count is the documented 100 TB
    * lever. Budget = the full sf0.1 population, so sf≤0.1 results are
    * unchanged and the driver gate certifies the same queries as ever.
    */
  private def annQueries(emb: DataFrame): DataFrame =
    emb.join(broadcast(Sampling.hashOrderIds(
      emb.where(col("vec_id") % AnnQueryMod === 0), "vec_id",
      AnnQueryBudget, "vec_id")), Seq("vec_id"))

  /** One registered query: its Spark plan and its DuckDB twin — equivalent
    * SQL over the same parquet tables (SURVEY.md §6). The twin is by-name,
    * so building the registry never initializes [[Oracles]].
    */
  private[graft] final class Query(oracle: => String,
                                   val run: (SparkSession, String) => DataFrame) {
    def oracleSql: String = oracle
  }

  private def Q(oracle: => String)(run: (SparkSession, String) => DataFrame): Query =
    new Query(oracle, run)

  /** Every query's run function, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, e) => k -> e.run }.toMap

  /** Every query's DuckDB twin, by name. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (k, e) => k -> e.oracleSql }.toMap

  /** One entry per implemented operator from SURVEY.md §2, in section
    * order. A Seq, not a Map literal, so a repeated name is caught by
    * RegistrySpec instead of silently keeping the last entry.
    */
  private[graft] val registry: Seq[(String, Query)] = Seq(
    // ---- §2.1 ETL core ----
    "src_csv_roundtrip" -> Q(Oracles.srcCsvRoundtrip)((s, dir) => {
      val tmp = tmpPath(s, "csv_roundtrip")
      t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("c_custkey LONG, c_name STRING, c_nationkey INT, c_mktsegment STRING")
        .csv(tmp)
    }),
    "src_jsonl_roundtrip" -> Q(Oracles.srcJsonlRoundtrip)((s, dir) => {
      val tmp = tmpPath(s, "jsonl_roundtrip")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("n_chars"))
      sources.Sources.writeJsonl(docs, tmp)
      sources.Sources.readJsonl(s, tmp,
        org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, text STRING, n_chars LONG"))
    }),
    "sink_compact" -> Q(Oracles.sinkCompact)((s, dir) => {
      // fragment events into 64 tiny files, compact, and prove the data
      // survives byte-exactly via the aggregate's oracle
      val tmp = tmpPath(s, "compact")
      t(s, dir, "events").select(col("event_id"), col("user_id"), col("event_type"))
        .repartition(64).write.mode("overwrite").parquet(tmp)
      val (_, before, after) = sources.Sources.compactParquet(s, tmp, 10000000L)
      require(after < before, s"compaction must shrink the file count ($before -> $after)")
      s.read.parquet(tmp).groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }),
    "stage_clean" -> Q(Oracles.stageClean)((s, dir) => {
      val ev = Staging.castColumns(t(s, dir, "events"), Map.empty)
      EventOps.extractIntField(ev, "props", "k")
        .filter(col("event_type") =!= "error")
        .select(col("event_id"), col("user_id"),
          expr("nullif(event_type, 'view')").as("event_type_clean"),
          cents(col("value")).as("value_cents"), col("k"))
    }),
    "stage_dedup_key" -> Q(Oracles.stageDedupKey)((s, dir) =>
      Staging.dedupByKeyKeepFirst(t(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))),
    "dim_distinct" -> Q(Oracles.dimDistinct)((s, dir) =>
      Star.dimFromColumn(t(s, dir, "customer"), col("c_mktsegment"), "segkey")),
    "dim_explode_bridge" -> Q(Oracles.dimExplodeBridge)((s, dir) =>
      Star.explodeBridge(t(s, dir, "part"), col("p_partkey"), col("p_name"), " ",
        "p_partkey", "word")._2),
    "fact_join" -> Q(Oracles.factJoin)((s, dir) =>
      Star.fact(t(s, dir, "orders"), broadcast(t(s, dir, "customer"))
          .withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"), Seq(
          col("o_orderkey").as("factkey"), col("o_custkey").as("custkey"),
          year(col("o_orderdate")).cast("long").as("yearkey"),
          cents(col("o_totalprice")).as("price_cents"),
          col("c_mktsegment").as("segment")))),
    "mart_kpi_year" -> Q(Oracles.martKpiYear)((s, dir) =>
      Marts.kpiByGroup(t(s, dir, "orders"),
        year(col("o_orderdate")).cast("long"), "yearkey", Seq(
          count(lit(1)).as("n_orders"),
          round(avg(col("o_totalprice")), 4).as("mean_price"),
          sum(cents(col("o_totalprice"))).as("total_cents")))),
    "mart_top_per_group" -> Q(Oracles.martTopPerGroup)((s, dir) =>
      Marts.topNPerGroup(
          t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
            col("o_custkey") === col("c_custkey")),
          Seq(col("c_mktsegment")),
          Seq(cents(col("o_totalprice")).desc, col("o_orderkey").asc), TopNPerGroup)
        .select(col("c_mktsegment").as("segment"), col("o_orderkey").as("factkey"),
          cents(col("o_totalprice")).as("price_cents"), col("rk"))),
    "mart_top_threshold" -> Q(Oracles.martTopThreshold)((s, dir) =>
      Marts.topNPerGroup(
          t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
            col("o_custkey") === col("c_custkey")),
          Seq(col("c_mktsegment")),
          Seq(cents(col("o_totalprice")).desc, col("o_orderkey").asc), TopThresholdN,
          Some(col("o_totalprice") >= TopThreshold))
        .select(col("c_mktsegment").as("segment"), col("o_orderkey").as("factkey"),
          cents(col("o_totalprice")).as("price_cents"), col("rk"))),
    "mart_top_agg" -> Q(Oracles.martTopPerGroup)((s, dir) =>
      operators.TopKAggregate.topK[Long, Long](
          t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
            col("o_custkey") === col("c_custkey")),
          col("c_mktsegment"), "segment",
          cents(col("o_totalprice")), col("o_orderkey"), TopNPerGroup,
          "factkey", "price_cents")
        .select(col("segment"), col("factkey"), col("price_cents"), col("rk"))),
    "mart_histogram" -> Q(Oracles.martHistogram)((s, dir) =>
      Marts.histogram(t(s, dir, "orders"),
          Seq(year(col("o_orderdate")).cast("long").as("yearkey")),
          col("o_totalprice"), HistWidth)
        .select(col("yearkey"), col("bucket"), col("n"))),
    "sink_partitioned_write" -> Q(Oracles.factJoin)((s, dir) => {
      val tmp = tmpPath(s, "sink_partitioned")
      queries("fact_join")(s, dir)
        .write.mode("overwrite").partitionBy("yearkey").parquet(tmp)
      s.read.parquet(tmp)
        .select(col("factkey"), col("custkey"), col("yearkey").cast("long").as("yearkey"),
          col("price_cents"), col("segment"))
    }),

    "src_orc_roundtrip" -> Q(Oracles.srcOrcRoundtrip)((s, dir) => {
      // ORC is Spark's other first-class columnar format (predicate
      // pushdown + column pruning work the same as parquet); the
      // roundtrip proves values survive bit-exactly, including an
      // exact-integer money column
      val tmp = tmpPath(s, "orc_roundtrip")
      t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          cents(col("c_acctbal")).as("acct_cents"), col("c_mktsegment"))
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
    }),
    "src_merge_schema" -> Q(Oracles.srcMergeSchema)((s, dir) => {
      // schema evolution: a landing zone written by two producer versions
      // (v2 added a column) read as ONE table via mergeSchema — the
      // missing column is null-filled, nothing is dropped or re-written.
      // At 100 TB, schema merge beats rewriting history to the new schema;
      // the option costs one footer read per file, so explicit > global.
      val tmp = tmpPath(s, "merge_schema")
      val orders = t(s, dir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .write.mode("overwrite").parquet(s"$tmp/v=1")
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/v=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .select(col("o_orderkey"), col("price_cents"), col("o_orderpriority"))
    }),

    // full reference pipeline composition under the oracle gate: raw
    // IMDb-shaped strings (with \N markers) → staging → dims/bridge/fact
    // → marts, all inside ImdbPipeline.run
    "imdb_pipeline" -> Q(Oracles.imdbPipelineKpi)((s, dir) => {
      val out = imdbRun(t(s, dir, "part"))
      out.martYearKpi.select(col("yearkey").cast("long").as("yearkey"),
        col("n_movies"), round(col("mean_rating"), 4).as("mean_rating"),
        col("total_votes").cast("long").as("total_votes"))
    }),
    "imdb_top_genre" -> Q(Oracles.imdbTopGenre)((s, dir) => {
      val out = imdbRun(t(s, dir, "part"))
      out.martTopGenreYear.select(col("yearkey").cast("long").as("yearkey"),
        col("genrekey"), col("titlekey"), round(col("avg_rating"), 4).as("avg_rating"),
        col("num_votes").cast("long").as("num_votes"), col("rk"))
    }),

    // ---- §2.2 TPC-H style ----
    "q1_pricing_summary" -> Q(Oracles.q1PricingSummary)((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts(Q1Cutoff))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_cents"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge_cents"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),
    "q3_shipping_priority" -> Q(Oracles.q3ShippingPriority)((s, dir) =>
      t(s, dir, "customer").filter(col("c_mktsegment") === Q3Segment)
        .join(t(s, dir, "orders").filter(col("o_orderdate") < ts(Q3Date)),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_shipdate") > ts(Q3Date)),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey").as("orderkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("orderkey").asc)
        .limit(10)),
    "q5_local_supplier" -> Q(Oracles.q5LocalSupplier)((s, dir) => {
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region").filter(col("r_name") === Q5Region))
      t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= ts(Q5Lo) && col("o_orderdate") < ts(Q5Hi)),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_cents"))
    }),
    "q_anti_join" -> Q(Oracles.qAntiJoin)((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))),
    "q_semi_join" -> Q(Oracles.qSemiJoin)((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))),
    "q_unpivot" -> Q(Oracles.qUnpivot)((s, dir) =>
      // wide → long re-shaping of the static pivot (Spark 4 melt);
      // narrow op, no shuffle beyond the pivot's own
      EventOps.dailyPivot(t(s, dir, "events"), "ts", "event_type", EventTypes)
        .unpivot(Array(col("y"), col("m"), col("d")),
          EventTypes.map(col).toArray, "event_type", "n")),
    "q_cusum" -> Q(Oracles.qCusum)((s, dir) => {
      // integer CUSUM change detection over the monthly series: track
      // S⁺ = max(0, S⁺ + (x − ref)) and S⁻ = max(0, S⁻ + (ref − x))
      // around the series' own integer mean; a month where either side
      // exceeds one full mean's worth of cumulative deviation flags the
      // shift — the same bounded post-aggregate array-fold shape as
      // q_ewma
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mkey"))
        .agg(sum(cents(col("o_totalprice"))).as("total_cents"))
      monthly.agg(array_sort(collect_list(struct(col("mkey"), col("total_cents"))))
          .as("series"),
          expr("sum(total_cents) div count(1)").as("ref"))
        .select(operators.TimeSeries.boundedSeries(col("series"), "q_cusum")
          .as("series"), col("ref"))
        .select(col("series"), col("ref"), posexplode(col("series")))
        .select(col("col.mkey").as("mkey"),
          col("col.total_cents").as("total_cents"),
          expr("aggregate(slice(series, 1, pos + 1), 0L, (acc, r) -> " +
            "greatest(0L, acc + (r.total_cents - ref)))").as("cusum_hi"),
          expr("aggregate(slice(series, 1, pos + 1), 0L, (acc, r) -> " +
            "greatest(0L, acc + (ref - r.total_cents)))").as("cusum_lo"),
          col("ref"))
        .select(col("mkey"), col("total_cents"), col("cusum_hi"), col("cusum_lo"),
          (col("cusum_hi") > col("ref") || col("cusum_lo") > col("ref")).as("shift"))
    }),
    "q_acf" -> Q(Oracles.qAcf)((s, dir) => {
      // exact-integer autocorrelation of the monthly revenue series at
      // lags 1..AcfMaxLag: with S = Σx and n months, the identity
      // n²(x_t−x̄)(x_{t+k}−x̄) = (n·x_t−S)(n·x_{t+k}−S) keeps every
      // intermediate an integer — DECIMAL(38,0) products so the math
      // survives any scale factor — and one truncating ppm division at
      // the end is bit-identical across engines. The only fact-table
      // work is the monthly partial aggregate; the lag self-join runs
      // on the bounded post-aggregate series.
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mkey"))
        .agg(sum(cents(col("o_totalprice"))).as("tc"))
        .select(col("mkey"), expr("tc div 100000000").as("x")) // M$ units
      operators.TimeSeries.acf(monthly, AcfMaxLag)
    }),

    "q_seasonal" -> Q(Oracles.qSeasonal)((s, dir) => {
      // calendar-seasonality split of monthly revenue: per month-of-year
      // integer baseline (Σ div n) + deseasonalized residual, exact cents
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mkey"))
        .agg(sum(cents(col("o_totalprice"))).as("x"))
      operators.TimeSeries.seasonalBaseline(monthly, 12)
    }),

    "q_holt" -> Q(Oracles.qHolt)((s, dir) =>
      // Holt double smoothing over the monthly revenue series — level +
      // trend + one-step forecast, exact-integer (TimeSeries.holtSmooth)
      operators.TimeSeries.holtSmooth(
        t(s, dir, "orders")
          .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mkey"))
          .agg(sum(cents(col("o_totalprice"))).as("total_cents")),
        "mkey", "total_cents")
        .withColumnRenamed("level", "level_cents")
        .withColumnRenamed("trend", "trend_cents")
        .withColumnRenamed("forecast", "forecast_cents")),
    "q_holt_winters" -> Q(Oracles.qHoltWinters)((s, dir) =>
      // Holt–Winters triple smoothing, annual (period-12) seasonality
      // over the same monthly revenue series as q_holt
      operators.TimeSeries.holtWinters(
        t(s, dir, "orders")
          .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mkey"))
          .agg(sum(cents(col("o_totalprice"))).as("total_cents")),
        "mkey", "total_cents", 12)
        .withColumnRenamed("level", "level_cents")
        .withColumnRenamed("trend", "trend_cents")
        .withColumnRenamed("seasonal", "seasonal_cents")
        .withColumnRenamed("forecast", "forecast_cents")),
    "q_trend_fit" -> Q(Oracles.qTrendFit)((s, dir) =>
      // per-priority monthly-revenue OLS trend: slope in ppm-cents per
      // month, intercept in cents — exact rational closed form
      operators.TimeSeries.trendFit(
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .cast("long").as("mkey"))
          .agg(sum(cents(col("o_totalprice"))).as("total_cents")),
        "o_orderpriority", "mkey", "total_cents")),
    "sample_temperature" -> Q(Oracles.sampleTemperature)((s, dir) =>
      // α=1/2 domain-rebalanced sample of documents by source mass
      Sampling.temperatureSample(t(s, dir, "documents"), "source",
          col("doc_id"), col("n_chars"), TempBudgetPct, "graft-temp")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("w_ppm"), col("rate_ppm"))),
    "q_drift_chi2" -> Q(Oracles.qDriftChi2)((s, dir) => {
      // price-distribution drift between two order-year snapshots:
      // χ² over fixed-width 50k-cent buckets (the mart_histogram
      // bucketing), exact-rational per-bucket contributions
      val o = t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("y"),
          cents(col("o_totalprice")).as("c"))
      Sketches.chi2Drift(
        o.where(col("y") <= lit(DriftSplitYear)),
        o.where(col("y") > lit(DriftSplitYear)),
        expr(s"c div $DriftBucketCents"))
    }),
    "q_entropy" -> Q(Oracles.qEntropy)((s, dir) =>
      // language-mix diversity per source: exact-integer Shannon
      // entropy + evenness vs the uniform bound
      Sketches.entropy(t(s, dir, "documents"), col("source"), col("lang"))),
    "events_user_entropy" -> Q(Oracles.eventsUserEntropy)((s, dir) =>
      // behavioral diversity: per-user Shannon entropy of the
      // event-type mix — one-trick users score 0, the bot/browser
      // separation feature (same exact-integer entropy operator)
      Sketches.entropy(t(s, dir, "events"), col("user_id"),
        col("event_type"))),
    "q_jsd_drift" -> Q(Oracles.qJsdDrift)((s, dir) => {
      // corpus-mix drift as LLM pipelines track it: Jensen–Shannon
      // divergence of the event-type distribution between the two
      // calendar halves of the stream — the categorical companion to
      // q_drift_chi2's numeric bucketing, bounded and symmetric
      val e = t(s, dir, "events").select(col("ts"), col("event_type"))
      Sketches.jsdDrift(
        e.where(col("ts") < ts(JsdSplitTs)),
        e.where(col("ts") >= ts(JsdSplitTs)),
        col("event_type"))
    }),
    "q_ab_ttest" -> Q(Oracles.qAbTtest)((s, dir) => {
      // hash-split A/B readout: per-user total event value in cents,
      // arms by user parity (deterministic stand-in for an assignment),
      // Welch's unequal-variance t + Satterthwaite df from exact sums
      val m = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(cents(col("value"))).as("m"))
      Experiment.welchT(m, col("user_id") % 2, col("m"))
    }),
    "q_cuped" -> Q(Oracles.qCuped)((s, dir) => {
      // CUPED variance reduction: pre-period per-user value (before the
      // split instant) is the covariate; the post-period value is the
      // experiment metric; theta fitted on the pooled units
      val e = t(s, dir, "events")
        .select(col("user_id"), col("ts"), cents(col("value")).as("c"))
      val u = e.groupBy(col("user_id")).agg(
        coalesce(sum(when(col("ts") < ts(JsdSplitTs), col("c"))), lit(0L)).as("x"),
        coalesce(sum(when(col("ts") >= ts(JsdSplitTs), col("c"))), lit(0L)).as("y"))
      Experiment.cuped(u, col("user_id") % 2, col("x"), col("y"))
    }),
    "q_odds_ratio" -> Q(Oracles.qOddsRatio)((s, dir) =>
      // per-priority 2×2 effect readout: parity-exposed × finalized
      // outcome, exact-ppm OR + Woolf 95% interval
      Experiment.oddsRatio(t(s, dir, "orders"), col("o_orderpriority"),
        col("o_custkey") % 2 === 0, col("o_orderstatus") === "F")),
    "q_wilson_ci" -> Q(Oracles.qWilsonCi)((s, dir) =>
      // per-priority finalized-order rate with the Wilson 95% score
      // interval — the small-stratum-safe proportion gate; exact (n, k)
      // per group, bounds floor-scaled ppm from the shared IEEE fragment
      Experiment.wilsonCI(t(s, dir, "orders"), col("o_orderpriority"),
        col("o_orderstatus") === "F")),
    "q_stratified_ate" -> Q(Oracles.qStratifiedAte)((s, dir) =>
      // post-stratification treatment effect: priority strata net out
      // the stratum mix; per-stratum contrasts + the standardized
      // __ate__ row, all exact truncating integers
      Experiment.stratifiedAte(t(s, dir, "orders"), col("o_orderpriority"),
        col("o_custkey") % 2 === 0, cents(col("o_totalprice")))),
    "q_srm" -> Q(Oracles.qSrm)((s, dir) =>
      // sample-ratio-mismatch gate on the hash assignment: distinct
      // units per arm, chi-squared vs 50/50, 95% flag
      Experiment.srmGate(t(s, dir, "events").select(col("user_id")).distinct(),
        col("user_id") % 2 === 0)),
    "q_did" -> Q(Oracles.qDid)((s, dir) =>
      // difference-in-differences launch readout: user-parity arms,
      // pre/post at the JSD split instant, per-event cents metric —
      // the control arm nets out shared drift
      Experiment.did(t(s, dir, "events"), col("user_id") % 2 === 0,
        col("ts") >= ts(JsdSplitTs), cents(col("value")))),
    "q_woe_iv" -> Q(Oracles.qWoeIv)((s, dir) =>
      // weight-of-evidence / information-value feature screen: order
      // priority vs the finalized-status target — exact int64 counts,
      // broadcast totals, ln() over exact-product doubles
      Quality.woeIv(t(s, dir, "orders"), col("o_orderpriority"),
        col("o_orderstatus") === "F")),
    "q_calibration" -> Q(Oracles.qCalibration)((s, dir) =>
      // reliability table: ppm score (10×discount pseudo-model) vs the
      // return outcome in equal-width bins; bin −1 = N/positives/ECE
      Quality.calibration(t(s, dir, "lineitem"),
        floor(col("l_discount") * lit(10000000.0)).cast("long"),
        col("l_returnflag") === "R", CalibBins)),
    "q_random_walks" -> Q(Oracles.qRandomWalks)((s, dir) => {
      // DeepWalk-style training corpus: hash-deterministic 4-step walks
      // over the undirected trading graph from every 100th supplier —
      // replayable on any engine (the oracle is WITH RECURSIVE)
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"),
          (col("o_custkey") + lit(PrCustOffset)).as("ck")).distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .unionAll(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val seeds = t(s, dir, "supplier")
        .filter(col("s_suppkey") % WalkSeedMod === 0)
        .select(col("s_suppkey").as("node"))
      operators.Walks.randomWalks(edges, seeds, WalkSteps, WalkSalt)
    }),
    "q_modularity" -> Q(Oracles.qModularity)((s, dir) => {
      // nation-homophily audit of the supplier–customer trading graph:
      // does linkage concentrate inside nations beyond what a
      // degree-preserving rewiring predicts? Σ(within−expected)/1e6 = Q
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
      val edges = pairs.select(col("sk").as("src"),
        (col("ck") + lit(PrCustOffset)).as("dst"))
      val labels = t(s, dir, "supplier")
        .select(col("s_suppkey").as("node"), col("s_nationkey").as("label"))
        .unionAll(t(s, dir, "customer")
          .select((col("c_custkey") + lit(PrCustOffset)).as("node"),
            col("c_nationkey").as("label")))
      operators.Modularity.partitionModularity(edges, labels)
    }),
    "q_ewma" -> Q(Oracles.qEwma)((s, dir) => {
      // integer exponential smoothing (α = 1/4): the recurrence
      // s' = (3s + x) div 4 folds over the SORTED monthly series — a
      // bounded post-aggregate array, so the sequential dependency never
      // touches the fact table; floor at each step is part of the spec
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mkey"))
        .agg(sum(cents(col("o_totalprice"))).as("total_cents"))
      monthly.agg(array_sort(collect_list(struct(col("mkey"), col("total_cents"))))
          .as("series"))
        .select(operators.TimeSeries.boundedSeries(col("series"), "q_ewma")
          .as("series"))
        .select(col("series"), posexplode(col("series")))
        .select(col("col.mkey").as("mkey"),
          col("col.total_cents").as("total_cents"),
          expr("aggregate(slice(series, 1, pos + 1), -1L, (acc, r) -> " +
            "if(acc < 0, r.total_cents, (acc * 3 + r.total_cents) div 4))")
            .as("ewma_cents"))
    }),
    "q_rolling_median" -> Q(Oracles.qRollingMedian)((s, dir) => {
      // exact rolling median over a bounded 7-row frame: sort the frame's
      // collected values, take the type-1 middle — robust trend line the
      // moving AVERAGE family can't give; runs on the post-aggregate
      // monthly series (bounded rows, constant partition explicit)
      val monthly = t(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mkey"))
        .agg(sum(cents(col("o_totalprice"))).as("total_cents"))
      monthly.withColumn("__w", collect_list(col("total_cents")).over(
          Window.partitionBy(lit(0)).orderBy(col("mkey")).rowsBetween(-6, 0)))
        .select(col("mkey"), col("total_cents"),
          element_at(array_sort(col("__w")),
            expr("(size(__w) + 1) div 2").cast("int")).as("med7"))
    }),
    "events_new_users" -> Q(Oracles.eventsNewUsers)((s, dir) => {
      // audience split: per day, active users partitioned into new
      // (first-ever activity) vs returning — first-seen table keyed on
      // the user, the same key the daily-activity join needs
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      val daily = ev.distinct()
      val first = daily.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      daily.join(first, "user_id")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
    }),
    "q_moving_avg" -> Q(Oracles.qMovingAvg)((s, dir) => {
      val yearly = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yearkey"))
        .agg(sum(cents(col("o_totalprice"))).as("total_cents"))
      // 3-year trailing mean over the bounded post-aggregate (one row per
      // year) — constant partition is safe and explicit
      yearly.withColumn("ma3",
        round(avg(col("total_cents")).over(
          Window.partitionBy(lit(0)).orderBy(col("yearkey")).rowsBetween(-2, 0)), 4))
    }),
    "q_ntile" -> Q(Oracles.qNtile)((s, dir) =>
      t(s, dir, "orders")
        .withColumn("quartile",
          ntile(4).over(Window.partitionBy(year(col("o_orderdate")))
            .orderBy(cents(col("o_totalprice")), col("o_orderkey"))).cast("long"))
        .groupBy(year(col("o_orderdate")).cast("long").as("yearkey"), col("quartile"))
        .agg(count(lit(1)).as("n"),
          min(cents(col("o_totalprice"))).as("lo_cents"),
          max(cents(col("o_totalprice"))).as("hi_cents"))),
    "q_rollup" -> Q(Oracles.qRollup)((s, dir) =>
      t(s, dir, "orders")
        .rollup(year(col("o_orderdate")).cast("long").as("yearkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_cents"))),
    "q_grouping_sets" -> Q(Oracles.qGroupingSets)((s, dir) =>
      // arbitrary grouping-set shapes (beyond rollup's prefix chain):
      // Spark expands the sets in ONE pass over the input — each set
      // contributes its own partial aggregate, no per-set rescan
      t(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yearkey"),
          col("o_orderpriority"), cents(col("o_totalprice")).as("pc"))
        .groupingSets(
          Seq(Seq(col("yearkey"), col("o_orderpriority")), Seq(col("o_orderpriority")), Seq.empty),
          col("yearkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("pc")).as("total_cents"))),
    "q_cube" -> Q(Oracles.qCube)((s, dir) =>
      t(s, dir, "orders")
        .cube(year(col("o_orderdate")).cast("long").as("yearkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("total_cents"))),
    "q_median" -> Q(Oracles.qMedian)((s, dir) =>
      Marts.exactMedian(t(s, dir, "orders"),
        year(col("o_orderdate")).cast("long"), "yearkey",
        col("o_totalprice"), col("o_orderkey"))),
    "q_weighted_median" -> Q(Oracles.qWeightedMedian)((s, dir) =>
      // quantity-weighted median line price per ship year — per-group
      // cumulatives out of the global two-pass cumsum, no per-group
      // single-partition sort
      Sketches.weightedMedian(t(s, dir, "lineitem"),
        year(col("l_shipdate")).cast("long"), "yearkey",
        cents(col("l_extendedprice")), col("l_quantity"),
        col("l_orderkey") * 8 + col("l_linenumber"))),
    "q_mode" -> Q(Oracles.qMode)((s, dir) =>
      // most frequent priority per year, smallest-value tie-break
      Marts.exactMode(t(s, dir, "orders"),
        year(col("o_orderdate")).cast("long"), "yearkey",
        col("o_orderpriority"))),
    "q_string_agg" -> Q(Oracles.qStringAgg)((s, dir) =>
      // deterministic listagg: sorted distinct statuses per year —
      // bounded by the value domain, never by row count
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yearkey"))
        .agg(concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
          .as("statuses"))),
    "q_higher_moments" -> Q(Oracles.qHigherMoments)((s, dir) =>
      // skew/kurtosis about the integer floor mean: exact decimal
      // centered power sums, one fixed-order IEEE formula (no pow)
      Sketches.higherMoments(t(s, dir, "orders"), col("o_orderpriority"),
        "grp", cents(col("o_totalprice")))),
    "events_concurrency" -> Q(Oracles.eventsConcurrency)((s, dir) =>
      // sweep-line peak occupancy per day over sessionized intervals,
      // running-summed by the two-pass globalCumsum
      EventOps.maxConcurrency(t(s, dir, "events"), "user_id", "ts",
        SessionGapMs)),
    "q_quartiles" -> Q(Oracles.qQuartiles)((s, dir) =>
      Marts.exactQuartiles(t(s, dir, "orders"),
        year(col("o_orderdate")).cast("long"), "yearkey",
        col("o_totalprice"), col("o_orderkey"))),
    "q_gap_fill" -> Q(Oracles.qGapFill)((s, dir) => {
      // dense monthly series per customer nation: months with no orders
      // must exist as zero rows (trend math breaks on a sparse axis),
      // and the running gauge carries the last observed value forward.
      // Integer month key = year*12+month-1: calendar-type-free.
      val o = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").cast("long").as("grp"),
          (year(col("o_orderdate")).cast("long") * 12
            + month(col("o_orderdate")).cast("long") - 1).as("mk"),
          cents(col("o_totalprice")).as("pc"))
      val obs = o.groupBy(col("grp"), col("mk"))
        .agg(count(lit(1)).as("n_orders"), sum(col("pc")).as("sum_cents"))
      Marts.gapFillLocf(obs, "grp", "mk", Seq("n_orders"), Seq("sum_cents"))
    }),
    "q_outliers" -> Q(Oracles.qOutliers)((s, dir) =>
      // robust per-priority price anomalies: |x-med| > k·MAD, exact
      // integer medians — the stats gate that doesn't mask itself
      Quality.robustOutliers(t(s, dir, "orders"), col("o_orderpriority"), "grp",
          cents(col("o_totalprice")), col("o_orderkey"), OutlierK)
        .select(col("grp"), col("row_key").as("o_orderkey"),
          col("value").as("price_cents"), col("med"), col("mad"))),
    "q_kmv_union" -> Q(Oracles.qKmvUnion)((s, dir) =>
      // sketch algebra: per-year KMV sketches merge into the all-years
      // union distinct estimate WITHOUT rescanning orders — the merged
      // sketch is exactly the union's sketch
      operators.Sketches.kmvUnion(
        operators.Sketches.kmvSketch(t(s, dir, "orders"),
          year(col("o_orderdate")).cast("long"), "yearkey",
          col("o_custkey"), KmvK, KmvSalt), "hs", KmvK)),
    "q_share" -> Q(Oracles.qShare)((s, dir) => {
      // ratio-to-report: each priority's share of total revenue in exact
      // ppm — group sums + a broadcast 1-row total, no window
      val g = t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(sum(cents(col("o_totalprice"))).as("rev_cents"))
      g.crossJoin(broadcast(g.agg(sum(col("rev_cents")).as("__t"))))
        .select(col("o_orderpriority"), col("rev_cents"),
          // per-priority cents reach ~7.5e13 at sf10 — DECIMAL(38,0)
          // keeps the ppm product exact at any decade
          expr("CAST(rev_cents AS DECIMAL(38,0)) * 1000000 div __t").as("share_ppm"))
    }),
    "q_nested_explode" -> Q(Oracles.qNestedExplode)((s, dir) => {
      // document-model roundtrip: orders nest into a per-customer sorted
      // ARRAY<STRUCT>, then a HOF fold (aggregate) and element access
      // compute the outputs from the NESTED form — proving the nested
      // plumbing against a flat oracle
      val nested = t(s, dir, "orders")
        .select(col("o_custkey"), struct(col("o_orderkey").as("k"),
          cents(col("o_totalprice")).as("p")).as("o"))
        .groupBy(col("o_custkey"))
        .agg(array_sort(collect_list(col("o"))).as("orders"))
      nested.select(col("o_custkey"),
        size(col("orders")).cast("long").as("n_orders"),
        col("orders").getItem(0).getField("k").as("first_key"),
        element_at(col("orders"), -1).getField("k").as("last_key"),
        aggregate(col("orders"), lit(0L), (acc, o) => acc + o.getField("p"))
          .as("total_cents"))
    }),
    "q_skyline" -> Q(Oracles.qSkyline)((s, dir) =>
      // Pareto frontier over parts (minimize price, maximize size) via
      // the range-partition + offset dominance sweep — no global window
      operators.Skyline.skyline2D(
        t(s, dir, "part").select(col("p_partkey"),
          cents(col("p_retailprice")).as("price_cents"),
          col("p_size").cast("long").as("psize")),
        "price_cents", "psize")),
    "q_bootstrap" -> Q(Oracles.qBootstrap)((s, dir) =>
      // Poisson bootstrap of the mean order price: B deterministic
      // hash-Poisson reweightings, each replicate mean exact int64 —
      // the sampling distribution without materializing a resample
      operators.Sketches.poissonBootstrap(t(s, dir, "orders"),
        col("o_orderkey"), cents(col("o_totalprice")), BootstrapB, BootstrapSalt)),
    "q_bootstrap_ci" -> Q(Oracles.qBootstrapCi)((s, dir) => {
      // the bootstrap read-out: type-1 [p05, p95] band over the B
      // replicate means (a B-row table — the heavy lifting happened in
      // the reweighting pass)
      val reps = operators.Sketches.poissonBootstrap(t(s, dir, "orders"),
        col("o_orderkey"), cents(col("o_totalprice")), BootstrapB, BootstrapSalt)
      reps.select(col("mean_cents"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(lit(0)).orderBy(col("mean_cents"))))
        .agg(count(lit(1)).as("b"),
          min(when(col("__rn") === greatest(
            expr(s"(${WinsorLoPm}L * $BootstrapB + 999) div 1000"), lit(1L)),
            col("mean_cents"))).as("lo_cents"),
          min(when(col("__rn") === greatest(
            expr(s"(${WinsorHiPm}L * $BootstrapB + 999) div 1000"), lit(1L)),
            col("mean_cents"))).as("hi_cents"))
    }),
    "q_mannwhitney" -> Q(Oracles.qMannWhitney)((s, dir) =>
      // exact AUC of price as a separator of open vs settled orders:
      // doubled midranks keep the tie handling in pure int64
      operators.Sketches.mannWhitney(t(s, dir, "orders"), col("o_orderstatus"),
        "O", cents(col("o_totalprice")))),
    "q_ks_test" -> Q(Oracles.qKsTest)((s, dir) =>
      // distribution drift gate: exact two-sample KS between open ('O')
      // and settled orders over price cents — integer CDF gaps via the
      // distributed two-phase cumsum
      operators.Sketches.ksTest(t(s, dir, "orders"), col("o_orderstatus"),
        "O", cents(col("o_totalprice")))),
    "q_gini" -> Q(Oracles.qGini)((s, dir) =>
      // spend-concentration KPI: exact Gini over per-customer totals,
      // ranks from the distributed range-partition GlobalRank
      operators.Sketches.gini(
        t(s, dir, "orders").groupBy(col("o_custkey"))
          .agg(sum(cents(col("o_totalprice"))).as("spend")),
        col("o_custkey"), col("spend"))),
    "q_winsorize" -> Q(Oracles.qWinsorize)((s, dir) =>
      // tail clipping at exact per-year [p05, p95]: permille ranks keep
      // both engines on pure integers; bounds broadcast back to rows
      Marts.winsorize(t(s, dir, "orders"), year(col("o_orderdate")).cast("long"),
          "yearkey", cents(col("o_totalprice")), col("o_orderkey"), "o_orderkey",
          WinsorLoPm, WinsorHiPm)
        .select(col("yearkey"), col("o_orderkey"),
          col("value").as("price_cents"), col("clipped").as("clipped_cents"))),
    "etl_upsert" -> Q(Oracles.etlUpsert)((s, dir) => {
      val orders = t(s, dir, "orders")
      val updates = orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      Staging.upsert(orders, updates, Seq("o_orderkey"))
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    }),
    "etl_ivm_join" -> Q(Oracles.etlIvmJoin)((s, dir) => {
      // incremental refresh of the orders⋈customer view: new orders
      // arrive past the cut AND a slice of the dimension arrives late;
      // only the three delta terms execute — V_old streams into the
      // union un-rejoined. Oracle = the full recompute, which the
      // delta rule must equal exactly
      val a = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").as("custkey"),
        cents(col("o_totalprice")).as("price_cents"), col("o_orderdate"))
      val cut = ts(AggMergeCut)
      val aOld = a.filter(col("o_orderdate") < cut).drop("o_orderdate")
      val aDelta = a.filter(col("o_orderdate") >= cut).drop("o_orderdate")
      val c = t(s, dir, "customer").select(col("c_custkey").as("custkey"),
        col("c_mktsegment").as("segment"))
      val bDelta = c.filter(pmod(col("custkey"), lit(IvmDimMod)) === 0)
      val bOld = c.filter(pmod(col("custkey"), lit(IvmDimMod)) =!= 0)
      val vOld = aOld.join(bOld, Seq("custkey"))
      Staging.ivmJoin(vOld, aOld, aDelta, bOld, bDelta, Seq("custkey"))
        .select(col("custkey"), col("o_orderkey"), col("price_cents"),
          col("segment"))
    }),
    "etl_merge_full" -> Q(Oracles.etlMergeFull)((s, dir) => {
      // 4-clause MERGE over a trimmed orders snapshot: source rows for
      // keys %7=0 (updates in place) plus new keys (+1e9 for %7=3);
      // matched O-status rows update, matched %21=0 rows delete, all
      // source-only rows insert, and stale target keys %1000=17 that the
      // source no longer carries are swept
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents"))
      val src = base.filter(col("o_orderkey") % 7 === 0)
        .withColumn("price_cents", col("price_cents") + 100L)
        .unionByName(base.filter(col("o_orderkey") % 7 === 3)
          .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("price_cents")))
      Staging.mergeInto(base, src, Seq("o_orderkey"),
        matchedUpdate = Some(col("o_orderstatus") === "O" &&
          col("o_orderkey") % 21 =!= 0),
        matchedDelete = Some(col("o_orderkey") % 21 === 0),
        insertWhen = Some(lit(true)),
        notBySourceDelete = Some(col("o_orderkey") % 1000 === 17))
    }),
    "etl_forget" -> Q(Oracles.etlForget)((s, dir) => {
      // GDPR erasure cascade: forget customers (key % 97 = 0), purge
      // them, their orders, and their orders' lineitems; emit the
      // deletion certificate (per-table before/after/removed counts).
      // Forget sets are key-only and broadcast at every level.
      val cust = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val fc = cust.filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
      val ordBad = Staging.cascadeKeys(orders, "o_custkey", fc, "o_orderkey")
      val cleaned = Seq(
        ("customer", cust, Staging.purge(cust, "c_custkey", fc)),
        ("orders", orders, Staging.purge(orders, "o_custkey", fc)),
        ("lineitem", li, Staging.purge(li, "l_orderkey", ordBad)))
      cleaned.map { case (name, before, after) =>
        before.agg(count(lit(1)).as("n_before")).crossJoin(
            after.agg(count(lit(1)).as("n_after")))
          .select(lit(name).as("tbl"), col("n_before"), col("n_after"),
            (col("n_before") - col("n_after")).as("n_removed"))
      }.reduce(_ unionByName _)
    }),
    "etl_cdc_apply" -> Q(Oracles.etlCdcApply)((s, dir) => {
      // CDC log fold: updates for keys %7=0 (seq 1), deletes for keys
      // %11=0 (seq 2) — keys hit by both get the delete as the LATER
      // entry, exercising latest-op-wins
      val orders = t(s, dir, "orders")
      val ups = orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      val dels = orders.filter(col("o_orderkey") % 11 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(2L))
      Staging.cdcApply(orders, ups.unionByName(dels), Seq("o_orderkey"), "op", Seq("seq"))
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    }),
    "etl_snapshot_diff" -> Q(Oracles.etlSnapshotDiff)((s, dir) => {
      // derive "today's dump" from orders (price bump for %7, drop %11,
      // insert %13 under shifted keys), then emit the minimal CDC log —
      // the no-CDC-upstream ingestion path, cdcApply's inverse
      val orders = t(s, dir, "orders")
      val newSnap = orders.where(col("o_orderkey") % 11 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1000.0)
            .otherwise(col("o_totalprice")))
        .unionByName(orders.where(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
      Staging.snapshotDiff(orders, newSnap, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("op"),
          cents(col("o_totalprice")).as("price_cents"))
    }),
    "etl_scd2" -> Q(Oracles.etlScd2)((s, dir) => {
      // history dimension from a change log: each order is a change event
      // for its customer, tracked attribute = order priority; output one
      // row per version with its half-open validity window
      val log = t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"), col("o_orderkey"))
      Staging.scd2(log, Seq("o_custkey"), "o_orderdate", Seq("o_orderpriority"),
          Seq(col("o_orderkey")))
        .select(col("o_custkey"),
          col("effective_from").cast("string").as("effective_from"),
          col("effective_to").cast("string").as("effective_to"),
          col("is_current"), col("o_orderpriority"))
    }),
    // the merge's oracle IS the full rebuild — incremental must equal it
    "etl_scd2_merge" -> Q(Oracles.etlScd2)((s, dir) => {
      // incremental ≡ full: build history from pre-1997 orders, merge the
      // 1997+ batch in, and let the DUCKDB FULL-REBUILD oracle hash-check
      // that the incremental path reproduces it exactly
      val log = t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"), col("o_orderkey"))
      val cut = ts("1997-01-01 00:00:00")
      val hist = Staging.scd2(log.filter(col("o_orderdate") < cut),
        Seq("o_custkey"), "o_orderdate", Seq("o_orderpriority"), Seq(col("o_orderkey")))
      Staging.scd2Merge(hist, log.filter(col("o_orderdate") >= cut),
          Seq("o_custkey"), "o_orderdate", Seq("o_orderpriority"), Seq(col("o_orderkey")))
        .select(col("o_custkey"),
          col("effective_from").cast("string").as("effective_from"),
          col("effective_to").cast("string").as("effective_to"),
          col("is_current"), col("o_orderpriority"))
    }),
    "etl_scd2_lookup" -> Q(Oracles.etlScd2Lookup)((s, dir) => {
      // point-in-time lookup: each order probes the SCD-2 version valid
      // 30 days after its date — scd2 composed with the KEYED bucketed
      // range join (equi on the business key + bucket id, exact [from,to)
      // predicate after). Open validity clamps to the data horizon so an
      // open version spans bounded buckets.
      val orders = t(s, dir, "orders")
      val dim = Staging.scd2(orders.select(col("o_custkey"), col("o_orderdate"),
            col("o_orderpriority"), col("o_orderkey")),
          Seq("o_custkey"), "o_orderdate", Seq("o_orderpriority"), Seq(col("o_orderkey")))
        .select(col("o_custkey"), col("effective_from").cast("date").as("version_d"),
          col("o_orderpriority").as("d_priority"),
          unix_date(col("effective_from").cast("date")).cast("double").as("lo_d"),
          unix_date(coalesce(col("effective_to").cast("date"),
            lit("1999-01-01").cast("date"))).cast("double").as("hi_d"))
      val probe = orders.select(col("o_orderkey"), col("o_custkey"),
          date_add(col("o_orderdate").cast("date"), 30).as("pd"))
        .withColumn("pd_d", unix_date(col("pd")).cast("double"))
      operators.RangeJoin.pointInInterval(probe, "pd_d", dim, "lo_d", "hi_d",
          bucketWidth = 1024.0, equiKeys = Seq("o_custkey"))
        .select(col("o_orderkey"), col("pd").cast("string").as("probe_date"),
          col("d_priority"), col("version_d").cast("string").as("version_from"))
    }),
    "q_distinct_count" -> Q(Oracles.qDistinctCount)((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yearkey"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))),
    "q_kmv_distinct" -> Q(Oracles.qKmvDistinct)((s, dir) =>
      // PORTABLE approx-distinct: k-minimum-values over md5 hashes —
      // unlike the HLL twin (q_approx_distinct, rows-only by design)
      // the DuckDB oracle replays this estimate bit-for-bit
      Sketches.kmvDistinct(t(s, dir, "orders"),
        year(col("o_orderdate")).cast("long"), "yearkey", col("o_custkey"),
        KmvK, KmvSalt)),
    "q_kll_quantiles" -> Q(Oracles.qKllQuantiles)((s, dir) =>
      // mergeable bounded-state quantile sketch: per-year price
      // percentiles from k sampled rows — no per-group sort-shuffle
      // (q_quartiles) and no a-priori value range (q_quantile_est);
      // deterministic bottom-k-by-hash state, oracle-replayed exactly
      operators.QuantileSketch.estimate(
        operators.QuantileSketch.sketch(t(s, dir, "orders"),
          year(col("o_orderdate")).cast("long"), "yearkey",
          col("o_orderkey"), cents(col("o_totalprice")), KllK, KllSalt),
        "qs", KllPs)),
    "q_kll_union" -> Q(Oracles.qKllUnion)((s, dir) =>
      // sketch algebra: per-year quantile sketches merge into the
      // all-years percentile estimate WITHOUT rescanning orders — the
      // merged bottom-k state is exactly the union's state
      operators.QuantileSketch.union(
        operators.QuantileSketch.sketch(t(s, dir, "orders"),
          year(col("o_orderdate")).cast("long"), "yearkey",
          col("o_orderkey"), cents(col("o_totalprice")), KllK, KllSalt),
        "qs", KllK, KllPs)),
    "q_global_rank" -> Q(Oracles.qGlobalRank)((s, dir) =>
      // global sequential rank over a total order WITHOUT the
      // single-partition window trap (range partition + offsets)
      operators.GlobalRank.globalRank(
          t(s, dir, "orders").select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents")),
          Seq(col("price_cents").desc, col("o_orderkey").asc))
        .select(col("o_orderkey"), col("price_cents"), col("grank"))),
    "q_running_total" -> Q(Oracles.qRunningTotal)((s, dir) => {
      val yearly = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yearkey"))
        .agg(sum(cents(col("o_totalprice"))).as("total_cents"))
      // the window runs on the POST-aggregate (one row per year — bounded
      // cardinality), so a single partition is safe at any input scale;
      // partitioning by a constant makes that intent explicit and avoids
      // WindowExec's unpartitioned-window warning drowning real ones
      yearly.withColumn("running_cents",
        sum(col("total_cents")).over(Window.partitionBy(lit(0)).orderBy(col("yearkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }),
    "q_approx_distinct" -> Q(Oracles.qApproxDistinct)((s, dir) =>
      // HLL sketch, CERTIFIED against the exact count in one pass: the
      // estimate itself isn't portable (HLL internals), so the output
      // carries the exact distinct plus a within-band flag — the DuckDB
      // twin asserts the flag TRUE, so an estimate drifting past 3σ
      // (3·rsd = 3×0.05 = 0.15 relative, floor 3 absolute for sparse-mode groups)
      // hash-FAILS the driver gate instead of passing rows-only
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("yearkey"))
        .agg(approx_count_distinct(col("o_custkey")).as("__est"),
          countDistinct(col("o_custkey")).as("n_cust_exact"))
        .select(col("yearkey"), col("n_cust_exact"),
          (abs(col("__est") - col("n_cust_exact"))
            <= greatest(lit(3L), (col("n_cust_exact") * 15L) / lit(100L)))
            .as("est_within_band"))),
    "mart_top_salted" -> Q(Oracles.martTopPerGroup)((s, dir) =>
      Marts.topNPerGroupSalted(
          t(s, dir, "orders").join(broadcast(t(s, dir, "customer")),
            col("o_custkey") === col("c_custkey")),
          Seq(col("c_mktsegment")), pmod(col("o_orderkey"), lit(16)),
          Seq(cents(col("o_totalprice")).desc, col("o_orderkey").asc), TopNPerGroup)
        .select(col("c_mktsegment").as("segment"), col("o_orderkey").as("factkey"),
          cents(col("o_totalprice")).as("price_cents"), col("rk"))),

    // ---- §2.3 dedup ----
    "dedup_source_stats" -> Q(Oracles.dedupSourceStats)((s, dir) =>
      // per-source duplication census: corpus-wide exact-dup rate by
      // origin — the first column of every curation dashboard (which
      // feeds are copy-paste farms); one (source)-keyed aggregate over
      // content digests, never the payload
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          expr("1000000L * (n_docs - n_unique) div n_docs").as("dup_ppm"))),
    "dedup_overlap_matrix" -> Q(Oracles.dedupOverlapMatrix)((s, dir) =>
      // source×source content-overlap matrix: Jaccard + both
      // containments per source pair over distinct content digests —
      // the provenance audit behind corpus mix weights
      Dedup.sourceOverlapMatrix(t(s, dir, "documents"), "source", "text")),
    "dedup_exact" -> Q(Oracles.dedupExact)((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),
    "dedup_span_audit" -> Q(Oracles.dedupSpanAudit)((s, dir) =>
      // substring-level duplication audit: per-doc coverage by n-token
      // spans shared across >= 2 distinct docs (Lee et al. signal)
      Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text", DupSpanN)),
    "dedup_minhash_lsh" -> Q(Oracles.dedupMinhashLsh)((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text", MinhashK, MinhashBands)),
    "dedup_minhash_n3" -> Q(Oracles.dedupMinhashN3)((s, dir) =>
      // same LSH pipeline over trigram shingles — the shingling-n dial
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text", MinhashK,
        MinhashBands, shingleN = 3)),
    "dedup_ngram_jaccard" -> Q(Oracles.dedupNgramJaccard)((s, dir) =>
      Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text", JaccardMin, MinhashK, MinhashBands)),
    "dedup_cluster" -> Q(Oracles.dedupCluster)((s, dir) =>
      Dedup.clusters(
        Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text", JaccardMin, MinhashK, MinhashBands))),
    "text_curation_e2e" -> Q(Oracles.textCurationE2e)((s, dir) => {
      // the whole curation pipeline as ONE declarative plan, with a
      // per-stage certificate: raw → exact dedup (keep min id) →
      // near-dup removal (keep doc_a side of verified pairs) → quality
      // gate → train/val/test split counts. Each stage is the library
      // operator; the certificate is what a production curation run
      // ships with its output.
      val docs = t(s, dir, "documents")
      val exDocs = docs.join(
        Dedup.exact(docs, "doc_id", "text").select(col("keep_id").as("doc_id")),
        "doc_id")
      val dupB = Dedup.ngramJaccard(exDocs, "doc_id", "text", JaccardMin)
        .select(col("doc_b")).distinct()
      val nd = exDocs.join(dupB, exDocs("doc_id") === dupB("doc_b"), "left_anti")
      val q = nd.where(T.qualityScore(col("text")) >= CleanMinQuality)
      val sp = Sampling.split(q, col("doc_id"), SplitSalt, SplitTrainPm, SplitValPm)
      val fixed = Seq("raw" -> docs, "exact" -> exDocs, "neardup" -> nd,
        "quality" -> q).map { case (name, df) =>
        df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))
      }
      val splits = sp.groupBy(col("split")).agg(count(lit(1)).as("n"))
        .select(col("split").as("stage"), col("n"))
      (fixed :+ splits).reduce(_ unionByName _)
    }),
    "dedup_consensus" -> Q(Oracles.dedupConsensus)((s, dir) => {
      // multi-signal dedup, the production shape: shingle-overlap pairs
      // (MinHash→Jaccard-verified) ∪ structural pairs (SimHash hamming)
      // feed ONE clustering — each detector catches near-dups the other
      // misses; the union is just more edges into the same CC loop
      val docs = t(s, dir, "documents")
      val jp = Dedup.ngramJaccard(docs, "doc_id", "text", JaccardMin,
        MinhashK, MinhashBands).select(col("doc_a"), col("doc_b"))
      val sp = Dedup.simhashPairs(docs, "doc_id", "text", SimhashMaxDist)
        .select(col("doc_a"), col("doc_b"))
      Dedup.clusters(jp.unionByName(sp).distinct())
    }),
    "text_pipeline" -> Q(Oracles.textPipeline)((s, dir) =>
      Dedup.cleanCorpus(t(s, dir, "documents"), "doc_id", "text", JaccardMin, CleanMinQuality)),
    "dedup_incremental" -> Q(Oracles.dedupIncremental)((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalCandidates(docs.filter(col("doc_id") % 5 === 0),
        Dedup.bandTable(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          MinhashK, MinhashBands),
        "doc_id", "text", MinhashK, MinhashBands)
    }),
    "dedup_decontaminate" -> Q(Oracles.dedupDecontaminate)((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(docs, docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", MinhashK, MinhashBands)
        .select(col("doc_id"), col("n_chars"))
    }),
    "dedup_containment" -> Q(Oracles.dedupContainment)((s, dir) => {
      // asymmetric containment |A∩B|/|A|: catches a benchmark item quoted
      // inside a larger doc, where symmetric jaccard dilutes to ~0
      val docs = t(s, dir, "documents")
      Dedup.containmentScores(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        ContMinNum, ContMinDen)
    }),
    "text_pii_scrub" -> Q(Oracles.textPiiScrub)((s, dir) => {
      // inject synthetic PII into a tenth of the docs so the scrub has
      // real matches to prove itself on
      val doc = t(s, dir, "documents").withColumn("t2",
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact alice@example.com or 555-867-5309 now")))
          .otherwise(col("text")))
      doc.select(col("doc_id"), T.piiScrub(col("t2")).as("clean_text"),
        T.piiCount(col("t2")).as("n_pii"))
    }),
    "dedup_simhash" -> Q(Oracles.dedupSimhash)((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", SimhashMaxDist)),
    "dedup_embedding" -> Q(Oracles.dedupEmbedding)((s, dir) =>
      Dedup.embeddingNearDup(embT(s, dir), "vec_id", "embedding", EmbMinCos,
        EmbPlanes, EmbBands, EmbDims)),
    "dedup_lsh_recall" -> Q(Oracles.dedupLshRecall)((s, dir) => {
      // MinHash-LSH recall against the EXACT PPJoin ground truth at the
      // same Jaccard threshold — the one number that justifies shipping
      // the probabilistic path over the lossless one. The truth half is
      // BUDGETED: pairs touching a fixed hash-order doc sample (found
      // side restricted identically), so the audit costs budget×corpus
      // instead of corpus² and still runs at any decade — at sf0.01 the
      // budget covers every doc, so the driver gate certifies the FULL
      // audit; the restriction itself is spec-pinned exact.
      val docs = t(s, dir, "documents")
      val sids = Sampling.hashOrderIds(docs, "doc_id",
        LshAuditProbeBudget)
      // truth and found each feed TWO consumers (their count aggregate
      // + the hit join) and foundAll feeds two semi-joins — without a
      // materialization the PPJoin/LSH pipelines re-execute per
      // consumer (lazy plans share nothing across aggregate subtrees);
      // the pair lists are audit-budget-sized, so the checkpoints are
      // cheap (r15)
      val truth = Dedup.prefixFilterJaccard(docs, "doc_id", "text",
        JaccardMinNum, JaccardMinDen, touchIds = Some(sids))
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint(false)
      val foundAll = Dedup.ngramJaccard(docs, "doc_id", "text", JaccardMin,
        MinhashK, MinhashBands).select(col("doc_a"), col("doc_b"))
        .localCheckpoint(false)
      val found = foundAll
        .join(broadcast(sids.select(col("doc_id").as("doc_a"))),
          Seq("doc_a"), "left_semi")
        .unionByName(foundAll.join(
          broadcast(sids.select(col("doc_id").as("doc_b"))),
          Seq("doc_b"), "left_semi").select(col("doc_a"), col("doc_b")))
        .distinct()
        .localCheckpoint(false)
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(broadcast(found.agg(count(lit(1)).as("n_found"))))
        .crossJoin(broadcast(truth.join(found, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_hit"))))
        .select(col("n_true"), col("n_found"), col("n_hit"),
          when(col("n_true") === 0L, lit(1000000L))
            .otherwise(expr("n_hit * 1000000 div n_true")).as("recall_ppm"))
    }),
    "dedup_threshold_sweep" -> Q(Oracles.dedupThresholdSweep)((s, dir) =>
      // one-pass cosine-band census of the LSH candidates: the evidence
      // for choosing EmbMinCos instead of guessing it
      Dedup.nearDupSweep(embT(s, dir), "vec_id", "embedding",
        EmbPlanes, EmbBands, EmbDims)),
    "src_csv_badrecords" -> Q(Oracles.srcCsvBadrecords)((s, dir) => {
      // malformed-row quarantine at the source: PERMISSIVE CSV read
      // with a corrupt-record column; corruption is injected
      // deterministically (custkey ≡0 mod 97 gets a non-numeric field)
      // so the per-segment damage census is oracle-checkable
      val tmp = tmpPath(s, "csv_bad")
      t(s, dir, "customer").select(col("c_custkey"),
          when(col("c_custkey") % 97 === 0, lit("not_a_number"))
            .otherwise(col("c_nationkey").cast("string")).as("natkey_str"),
          col("c_mktsegment"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema("c_custkey LONG, natkey_str INT, c_mktsegment STRING, _corrupt STRING")
        .csv(tmp)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_bad"),
          coalesce(sum(col("natkey_str").cast("long")), lit(0L)).as("natkey_sum"))
    }),
    "dedup_semantic" -> Q(Oracles.dedupSemantic)((s, dir) => {
      // SemDeDup end-to-end: train the cell quantizer with the k-means
      // loop, then within-cell near-dup prune keeping each group's most
      // prototypical member — the full semantic-dedup composition
      val emb = embT(s, dir)
      val (cents2, _, _) = Similarity.kmeansFit(emb, "embedding",
        H.centroidWeights(IvfCells, EmbDims), EmbDims, KmeansIters)
      Dedup.semanticDedup(emb, "vec_id", "embedding", cents2, SemMinCos)
    }),

    // ---- §2.4 similarity search ----
    "ann_brute_topk" -> Q(Oracles.annBruteTopK)((s, dir) => {
      val emb = embT(s, dir)
      Similarity.bruteForceTopK(annQueries(emb), emb,
          "vec_id", "embedding", AnnK)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
    }),
    "ann_mrl_topk" -> Q(Oracles.annMrlTopK)((s, dir) => {
      // Matryoshka two-stage: rank every corpus row in the 16-dim
      // prefix, exact-rerank a 30-candidate pool at full width
      val emb = embT(s, dir)
      Similarity.mrlTopK(annQueries(emb), emb,
          "vec_id", "embedding", MrlDims, MrlPool, AnnK)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
    }),
    "ann_lsh_topk" -> Q(Oracles.annLshTopK)((s, dir) => {
      val emb = embT(s, dir)
      Similarity.lshTopK(annQueries(emb), emb,
          "vec_id", "embedding", AnnK, EmbPlanes, EmbBands, EmbDims)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
    }),
    "ann_ivf_topk" -> Q(Oracles.annIvfTopK)((s, dir) => {
      val emb = embT(s, dir)
      Similarity.ivfTopK(annQueries(emb), emb,
          "vec_id", "embedding", AnnK, IvfCells, EmbDims)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
    }),
    "ann_ivf_nprobe" -> Q(Oracles.annIvfNprobe)((s, dir) => {
      // the recall knob: same inverted-file layout, each query probes its
      // IvfNprobe nearest cells instead of one
      val emb = embT(s, dir)
      Similarity.ivfTopK(annQueries(emb), emb,
          "vec_id", "embedding", AnnK, IvfCells, EmbDims, IvfNprobe)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
    }),
    "ann_recall_eval" -> Q(Oracles.annRecallEval)((s, dir) => {
      // index-quality readout: recall@k of the nprobe-IVF index against
      // the exact brute-force ground truth, per query + micro-average —
      // the number that justifies (or rejects) the cheap index
      val emb = embT(s, dir)
      val q = annQueries(emb)
      Similarity.recallEval(
        Similarity.ivfTopK(q, emb, "vec_id", "embedding", AnnK, IvfCells,
          EmbDims, IvfNprobe),
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", AnnK),
        AnnK)
    }),
    "emb_kmeans_step" -> Q(Oracles.embKmeansStep)((s, dir) => {
      // one distributed k-means update: map-side cell assignment against
      // literal centroids, then ONE hash aggregate with 64 per-dim sums —
      // deliberately no explode: a posexplode before the groupBy makes
      // Catalyst re-evaluate the argmax cell expression once per exploded
      // dim (64× per row, measured 47s vs ~1s at sf0.1), and would shuffle
      // 64 rows per vector instead of 8 cells × 65 partials per mapper
      val sums = (0 until EmbDims).map(i =>
        sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i"))
      val agg = embT(s, dir)
        .groupBy(Similarity.ivfCell(col("embedding"), IvfCells, EmbDims)
          .cast("long").as("cell"))
        .agg(count(lit(1)).as("n"), sums: _*)
      // reshape the tiny (cells × dims) aggregate into long form
      agg.select(col("cell"), col("n"),
          posexplode(array((0 until EmbDims).map(i => col(s"s$i")): _*)).as(Seq("dim", "sv")))
        .select(col("cell"), col("dim").cast("long").as("dim"),
          round(col("sv") / col("n"), 4).as("c"), col("n"))
    }),
    "emb_rand_proj" -> Q(Oracles.embRandProj)((s, dir) =>
      // JL random projection 64→8: fixed md5-derived matrix, one
      // codegen'd dotConst per output coordinate, map-side only
      Similarity.randProject(embT(s, dir), "vec_id",
        "embedding", EmbDims, JlDims)),
    "emb_sq8_codes" -> Q(Oracles.embSq8Codes)((s, dir) =>
      // 4x scalar quantization: global per-dim min/max broadcast, pure
      // map-side coding
      Similarity.sq8Codes(embT(s, dir), "vec_id", "embedding",
        EmbDims)),
    "emb_pq_codes" -> Q(Oracles.embPqCodes)((s, dir) =>
      // 32× embedding compression as a pure map-side projection
      Similarity.pqCodes(embT(s, dir), "vec_id", "embedding",
        PqSub, PqK, EmbDims)),
    "ann_mrl_recall_eval" -> Q(Oracles.annMrlRecallEval)((s, dir) => {
      // how much recall the 16-dim Matryoshka prefix + 30-pool rerank
      // gives up vs exact search — the prefix-width tuning evidence
      val emb = embT(s, dir)
      val q = annQueries(emb)
      Similarity.recallEval(
        Similarity.mrlTopK(q, emb, "vec_id", "embedding", MrlDims, MrlPool, AnnK),
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", AnnK), AnnK)
    }),
    "ann_lsh_recall_eval" -> Q(Oracles.annLshRecallEval)((s, dir) => {
      // the LSH bucket recall — completes the recall-eval family
      // (IVF / PQ / MRL / LSH all scored against one ground truth)
      val emb = embT(s, dir)
      val q = annQueries(emb)
      Similarity.recallEval(
        Similarity.lshTopK(q, emb, "vec_id", "embedding", AnnK,
          EmbPlanes, EmbBands, EmbDims),
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", AnnK), AnnK)
    }),
    "emb_pq_recall_eval" -> Q(Oracles.embPqRecallEval)((s, dir) => {
      // the question PQ compression must answer: how much recall does
      // 8×4-bit lossy coding give up vs exact search
      val emb = embT(s, dir)
      val q = annQueries(emb)
      val codes = Similarity.pqCodes(emb, "vec_id", "embedding", PqSub, PqK, EmbDims)
      Similarity.recallEval(
        Similarity.pqAdcTopK(q, codes, "vec_id", "embedding", AnnK,
          PqSub, PqK, EmbDims),
        Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", AnnK), AnnK)
    }),
    "emb_pq_adc" -> Q(Oracles.embPqAdc)((s, dir) => {
      // the search path PQ exists for: score the whole corpus from codes
      // only, no float vectors on the corpus side
      val emb = embT(s, dir)
      val codes = Similarity.pqCodes(emb, "vec_id", "embedding", PqSub, PqK, EmbDims)
      Similarity.pqAdcTopK(annQueries(emb), codes,
          "vec_id", "embedding", AnnK, PqSub, PqK, EmbDims)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk"))
    }),
    "emb_ivf_pq_adc" -> Q(Oracles.embIvfPqAdc)((s, dir) => {
      // IVF+PQ: probe nprobe cells, ADC-score only their codes — float
      // vectors touched once at index build, never on the search path
      val emb = embT(s, dir)
      Similarity.ivfPqTopK(annQueries(emb), emb,
          "vec_id", "embedding", AnnK, IvfCells, EmbDims, IvfNprobe, PqSub, PqK)
        .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk"))
    }),
    "ann_ivf_trained" -> Q(Oracles.annIvfTrained)((s, dir) => {
      // the production IVF shape: train the coarse quantizer with the
      // k-means loop, then search with the trained centroids + nprobe
      val emb = embT(s, dir)
      val (cents2, _, _) = Similarity.kmeansFit(emb, "embedding",
        H.centroidWeights(IvfCells, EmbDims), EmbDims, KmeansIters)
      Similarity.ivfTopKWith(annQueries(emb), emb,
          "vec_id", "embedding", AnnK, cents2, IvfNprobe)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rnk"))
    }),
    "emb_pca_top" -> Q(Oracles.embPcaTop)((s, dir) => {
      // top principal direction without the covariance matrix: one
      // aggregate pass per power-iteration round, round-4-snapped
      // trajectory (engine-replayable); dim −1 row carries λ̂
      val (v, lam) = Similarity.topComponent(embT(s, dir),
        "embedding", EmbDims, PcaIters)
      import s.implicits._
      (v.zipWithIndex.map { case (x, i) => (i.toLong, x) } :+ ((-1L, lam)))
        .toDF("dim", "value")
    }),
    "emb_label_silhouette" -> Q(Oracles.embLabelSilhouette)((s, dir) =>
      // label-noise audit: silhouette anchored at the LABELED class
      // centroid — negative scores mark points another class claims
      Similarity.labelSilhouette(embT(s, dir), "label",
        "embedding", EmbDims)),
    "emb_silhouette" -> Q(Oracles.embSilhouette)((s, dir) => {
      // clustering-quality audit of the trained k-means fit: per-cell
      // centroid silhouette (O(n·k) medoid form) — the gate before an
      // IVF index built on these cells ships
      val (cents, _, _) = Similarity.kmeansFit(embT(s, dir),
        "embedding", H.centroidWeights(IvfCells, EmbDims), EmbDims, KmeansIters)
      Similarity.silhouette(embT(s, dir), "embedding", cents, EmbDims)
    }),
    "emb_kmeans_train" -> Q(Oracles.embKmeansTrain)((s, dir) => {
      // full Lloyd's training loop: KmeansIters rounds of (assign against
      // literal centroids → one hash aggregate → round-4 means back to the
      // driver). Output is the final k×d centroid matrix in long form plus
      // last-assignment cell sizes — tiny by construction, so the local
      // result DataFrame is the honest shape (the corpus-side work already
      // ran as distributed aggregates inside kmeansFit).
      val (cents2, counts, _) = Similarity.kmeansFit(embT(s, dir),
        "embedding", H.centroidWeights(IvfCells, EmbDims), EmbDims, KmeansIters)
      import s.implicits._
      cents2.zipWithIndex.flatMap { case (cw, c) =>
        cw.zipWithIndex.map { case (v, d) => (c.toLong, d.toLong, v, counts(c)) }
      }.toDF("cell", "dim", "c", "n")
    }),
    "q_range_join" -> Q(Oracles.qRangeJoin)((s, dir) => {
      val iv = t(s, dir, "part").filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey").as("band_id"),
          ((col("p_partkey") % 100) * lit(2000.0)).as("lo"))
        .withColumn("hi", col("lo") + lit(3500.0))
      operators.RangeJoin.pointInInterval(t(s, dir, "orders"), "o_totalprice",
          iv, "lo", "hi", bucketWidth = 2000.0)
        .select(col("band_id"), col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
    }),
    "q_interval_coverage" -> Q(Oracles.qIntervalCoverage)((s, dir) =>
      // merged-interval coverage per supplier: fulfillment windows
      // [shipdate, shipdate + quantity days) overlap heavily, so the
      // sweep-line island merge is what makes "days committed" honest —
      // raw length sums double-count every overlap
      Intervals.coverage(
        t(s, dir, "lineitem").select(col("l_suppkey"),
          datediff(col("l_shipdate"), lit("1970-01-01")).as("d0"),
          floor(col("l_quantity")).cast("long").as("q")),
        col("l_suppkey"), col("d0"), col("d0") + col("q"))),

    "q_spatial_join" -> Q(Oracles.qSpatialJoin)((s, dir) =>
      // proximity self-join on a synthetic integer grid derived from
      // part keys: all pairs within Chebyshev radius SpatialR via the
      // 3x3 grid-bucket equi-join (never a theta join). This is the
      // EXACT fixed-ε density baseline (work ∝ density²·N on densifying
      // data by semantics) — the probe advisory announces when ε is too
      // dense for the target and points at the capped twin; output
      // unchanged (VERDICT r10 #8)
      {
        val pts = t(s, dir, "part").select(col("p_partkey"),
          (col("p_partkey") % 97).as("x"),
          (expr("p_partkey div 97") % 89).as("y"))
        // overrideDense/overridePairs: this query IS the declared exact
        // ground-truth baseline — the binding probes must not refuse it
        // (r12 §5.14: output-bound to the row at three decades);
        // production callers leave the defaults and get the
        // refuse-or-proceed gates. spatialAdvisory (r14, VERDICT r13
        // #7) speaks in TOTAL pairs — the join's cost forecast, since
        // its work is provably ∝ output — where the density probe
        // speaks in mean degree vs the DBSCAN target
        operators.Spatial.probeAdvisory(pts, "p_partkey", "x", "y",
          SpatialR, DbscanTargetNb, "q_spatial_join", overrideDense = true)
        operators.Spatial.spatialAdvisory(pts, "p_partkey", "x", "y",
          SpatialR, SpatialMaxPairs, "q_spatial_join", overridePairs = true)
        operators.RangeJoin.gridNeighborJoin(pts, "p_partkey", "x", "y", SpatialR)
      }),

    "q_spatial_sampled" -> Q(Oracles.qSpatialSampled)((s, dir) => {
      // the bounded twin the spatialAdvisory refusal recommends
      // (VERDICT r14 #4): probe-derived salted-hash rate thins ONE side
      // so pair output (= join work) is held at the budget however
      // dense the space grows; rate saturates to the exact join where
      // the bound already fits. The 20k budget engages the cap at
      // sf0.01, so the oracle gate replays the sampled path itself.
      val pts = t(s, dir, "part").select(col("p_partkey"),
        (col("p_partkey") % 97).as("x"),
        (expr("p_partkey div 97") % 89).as("y"))
      operators.Spatial.sampledPairs(pts, "p_partkey", "x", "y",
        SpatialR, SpatialSampledMaxPairs, SpatialSampleSalt)
    }),

    "q_dbscan_core" -> Q(Oracles.qDbscanCore)((s, dir) => {
      // DBSCAN density split on the same synthetic grid: exact neighbor
      // counts within Chebyshev SpatialR, then core/border/noise labels.
      // Exact fixed-ε baseline — probe advisory as in q_spatial_join
      val pts = t(s, dir, "part").select(col("p_partkey"),
        (col("p_partkey") % 97).as("x"),
        (expr("p_partkey div 97") % 89).as("y"))
      // overrideDense: declared exact baseline (see q_spatial_join)
      operators.Spatial.probeAdvisory(pts, "p_partkey", "x", "y",
        SpatialR, DbscanTargetNb, "q_dbscan_core", overrideDense = true)
      operators.Spatial.dbscanLabel(pts, "p_partkey", "x", "y",
        SpatialR, DbscanMinPts)
    }),

    "q_dbscan_cluster" -> Q(Oracles.qDbscanCluster)((s, dir) =>
      // full DBSCAN assignment: CC over the core-core in-radius graph
      // (checkpointed min-label loop, r10: connectivity-preserving
      // cell-star + per-cellpair-witness sparsification — the quadratic
      // pair stream collapses map-side, never crossing a shuffle into
      // the CC rounds), borders attach to their smallest core-neighbor
      // cluster, noise dropped
      operators.Spatial.dbscanCluster(
        t(s, dir, "part").select(col("p_partkey"),
          (col("p_partkey") % 97).as("x"),
          (expr("p_partkey div 97") % 89).as("y")),
        "p_partkey", "x", "y", SpatialR, DbscanMinPts)),
    "q_density_probe" -> Q(Oracles.qDensityProbe)((s, dir) =>
      // the ε knob, measured before any pair join exists: exact
      // integer degree bounds per candidate radius from cell counts
      // alone, the deterministic cap rate each would need, and the
      // recommendation under the mean-neighbor target
      operators.Spatial.densityProbe(
        t(s, dir, "part").select(col("p_partkey"),
          (col("p_partkey") % 97).as("x"),
          (expr("p_partkey div 97") % 89).as("y")),
        "p_partkey", "x", "y", DbscanProbeLadder, DbscanTargetNb)),
    "q_dbscan_capped" -> Q(Oracles.qDbscanCapped)((s, dir) =>
      // bounded-work DBSCAN: probe-driven salted-hash cap holds the
      // pair join at |pts|·target however dense the space grows — the
      // ship path for densifying corpora, with fixed-ε q_dbscan_core
      // kept as the exact semantic baseline
      operators.Spatial.dbscanCapped(
        t(s, dir, "part").select(col("p_partkey"),
          (col("p_partkey") % 97).as("x"),
          (expr("p_partkey div 97") % 89).as("y")),
        "p_partkey", "x", "y", SpatialR, DbscanMinPts,
        DbscanTargetNb, DbscanSampleSalt)),
    "q_salted_join" -> Q(Oracles.qSaltedJoin)((s, dir) => {
      // 10 hot keys over all of lineitem — the manual salt-replicate
      // join spreads each over SaltFactor partitions; the aggregate
      // proves result ≡ plain join
      val big = t(s, dir, "lineitem")
        .select((col("l_orderkey") % 10).as("grp"), col("l_quantity"))
      val dim = t(s, dir, "nation")
        .groupBy((col("n_nationkey") % 10).as("grp"))
        .agg(min(col("n_name")).as("label"))
      operators.Joins.saltedJoin(big, dim, Seq("grp"), saltFactor = 8)
        .groupBy(col("grp"), col("label"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"))
    }),
    "q_fuzzy_join" -> Q(Oracles.qFuzzyJoin)((s, dir) => {
      // record linkage: dirty probes (catalog names with the last char
      // dropped) resolved back to the catalog via block + length
      // prefilter + levenshtein + struct-min best-match
      val part = t(s, dir, "part")
      val probes = part.select(
        expr("substring(p_name, 1, length(p_name) - 1)").as("probe"))
      operators.Joins.fuzzyLookup(probes, "probe", part, "p_name", FuzzyMaxDist)
    }),
    "q_interval_join" -> Q(Oracles.qIntervalJoin)((s, dir) => {
      // interval×interval overlap: part-derived bands vs order-price
      // windows, bucketed equi-join (no nested loop), one row per
      // overlapping pair with the exact overlap extent in cents
      val iv = t(s, dir, "part").filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey").as("band_id"),
          ((col("p_partkey") % 100) * lit(2000.0)).as("lo"))
        .withColumn("hi", col("lo") + lit(3500.0))
      val ov = t(s, dir, "orders").filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"), col("o_totalprice").as("olo"),
          (col("o_totalprice") + lit(2500.0)).as("ohi"))
      operators.RangeJoin.intervalOverlap(iv, "lo", "hi", ov, "olo", "ohi",
          bucketWidth = 2000.0)
        .select(col("band_id"), col("o_orderkey"),
          cents(greatest(col("lo"), col("olo"))).as("ov_lo_cents"),
          cents(least(col("hi"), col("ohi"))).as("ov_hi_cents"))
    }),

    "q_full_outer" -> Q(Oracles.qFullOuter)((s, dir) => {
      // full-outer reconciliation of two keyed aggregates — the standard
      // "who churned / who appeared" comparison; both sides pre-aggregate
      // before the join so the shuffle carries one row per key
      val orders = t(s, dir, "orders")
      val a = orders.filter(year(col("o_orderdate")) === 1995)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n95"))
      val b = orders.filter(year(col("o_orderdate")) === 1998)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n98"))
      a.join(b, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("n95"), lit(0L)).as("n_1995"),
          coalesce(col("n98"), lit(0L)).as("n_1998"))
    }),
    "q_scalar_subquery" -> Q(Oracles.qScalarSubquery)((s, dir) => {
      // correlated scalar subquery through the SQL surface — Catalyst
      // de-correlates it into the aggregate+join plan (never a per-row
      // re-execution). The correlation MUST be on a bare column: with
      // `year(o2.d) = year(o.d)` Spark keys the de-correlated aggregate
      // on the raw outer DATE and joins every distinct date to every
      // same-year order (measured: 150k dates × 150k orders / 7 years ≈
      // 3×10⁹ intermediate rows at sf0.1, 5.8 s for a 150k-row table —
      // quadratic death at scale). Pre-deriving the year makes the
      // correlation an equality on the group key, which de-correlates to
      // one groupBy(yr) + broadcast join.
      // the membership test is ALL integer: a float avg()*1.1 threshold
      // would be partition-order dependent (distributed double summation)
      // and could flip rows within 1 ulp between engines. For integer
      // price_cents, `price_cents > floor(sum*11/(n*10))` is EXACTLY
      // `price_cents > sum*11/(n*10)` — floor-thresholding an integer
      // comparison loses nothing (review r4).
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""WITH oy AS (SELECT o_orderkey,
              |             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
              |             year(o_orderdate) AS yr
              |           FROM orders_v)
              |SELECT o_orderkey, price_cents
              |FROM oy o
              |WHERE price_cents > (SELECT (CAST(sum(o2.price_cents) AS BIGINT) * 11)
              |                            div (count(*) * 10)
              |                     FROM oy o2 WHERE o2.yr = o.yr)""".stripMargin)
    }),
    "q_stats_suite" -> Q(Oracles.qStatsSuite)((s, dir) =>
      // second-moment statistics from EXACT integer sums: the builtin
      // var_samp/corr/covar/regr_slope accumulate doubles, whose value
      // depends on partition summation order — the flake class SURVEY §6
      // documents. Here one partial-aggregating pass collects n, Σx, Σy,
      // Σx², Σy², Σxy as int64 over floor()'d whole-unit values (order-
      // independent, engine-identical), then each moment is derived ONCE
      // with IEEE double ops on those identical integers and floor-scaled
      // — floor of identical doubles is portable, round() is not.
      // The second moments accumulate on DECIMAL(38,0): the int64 Σx²
      // over whole-unit prices measured 1.03× headroom at sf100 in the
      // r11 envelope audit (tools/envelope_audit.py) — the DuckDB twin
      // sums into HUGEINT natively, and both engines then CAST the
      // identical exact integer to DOUBLE, so results are unchanged.
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_quantity")).cast("long").as("y"),
          floor(col("l_extendedprice")).cast("long").as("x"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy"), sum(col("x")).as("sx"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("y").cast("decimal(38,0)") * col("x")).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          expr("CAST(floor(sqrt((CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1))) * 1e4) AS BIGINT)").as("sd_qty_e4"),
          expr("CAST(floor((CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1)) * 1e4) AS BIGINT)").as("var_qty_e4"),
          expr("CAST(floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sx AS DOUBLE)) / sqrt((CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) * (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))) * 1e6) AS BIGINT)").as("corr_qp_e6"),
          expr("CAST(floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1)) * 1e4) AS BIGINT)").as("covar_qp_e4"),
          expr("CAST(floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) * 1e4) AS BIGINT)").as("slope_pq_e4"))),
    "q_window_suite" -> Q(Oracles.qWindowSuite)((s, dir) => {
      // the rank/distribution window family over one partition spec —
      // one sort per partition serves all five functions (single Window
      // exec, no repeated exchange); ties broken by the unique order key
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("price_cents"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(col("o_totalprice")).as("price_cents"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("price_cents"),
          // ppm via floor, not round(,4): both engines compute the SAME
          // IEEE double ((rank-1)/(n-1) etc.), and floor of an identical
          // double is identical — whereas round() differs in algorithm
          // at .xxxx5 boundaries, which integer ratios can land on
          // exactly (SURVEY §6)
          floor(percent_rank().over(w) * lit(1000000.0)).cast("long").as("pct_rank_ppm"),
          floor(cume_dist().over(w) * lit(1000000.0)).cast("long").as("cume_ppm"),
          (col("price_cents") - lag(col("price_cents"), 1).over(w)).as("lag_diff"),
          first(col("price_cents")).over(w).as("first_cents"),
          nth_value(col("price_cents"), 2).over(w).as("second_cents"))
    }),
    "etl_overwrite_partitions" -> Q(Oracles.etlOverwritePartitions)((s, dir) => {
      // idempotent reprocess: month partitions present in the batch are
      // replaced wholesale (row deletes included), the rest stream
      // through; the batch's partition list broadcasts
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mkey"),
        cents(col("o_totalprice")).as("price_cents"))
      val batch = base.filter(col("mkey") % 17 === 3)
        .withColumn("price_cents", col("price_cents") + 55L)
      Staging.overwritePartitions(base, batch, Seq("mkey"))
    }),
    "q_pct_change" -> Q(Oracles.qPctChange)((s, dir) =>
      // MoM + YoY growth of monthly revenue per priority, exact ppm
      operators.TimeSeries.pctChange(
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .cast("long").as("mkey"))
          .agg(sum(cents(col("o_totalprice"))).as("total_cents")),
        "o_orderpriority", "mkey", "total_cents", 1, 12)),
    "q_cohort_ltv" -> Q(Oracles.qCohortLtv)((s, dir) => {
      // cumulative value per acquisition cohort by week age, plus the
      // per-user LTV curve (cum cents div cohort size) — exact integers
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) div 604800000").as("wk"),
          floor(col("value") * 100).cast("long").as("v_cents"))
      val firstw = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val sizes = firstw.groupBy(col("cohort_wk"))
        .agg(countDistinct(col("user_id")).as("cohort_size"))
      val weekly = ev.join(firstw, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
        .agg(sum(col("v_cents")).as("wk_cents"))
      // running sum over a per-cohort window: frames are bounded by the
      // week span, never by users or events
      val w = Window.partitionBy(col("cohort_wk")).orderBy(col("wk_offset").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      weekly.withColumn("cum_cents", sum(col("wk_cents")).over(w))
        .join(broadcast(sizes), "cohort_wk")
        .select(col("cohort_wk"), col("wk_offset"), col("wk_cents"),
          col("cum_cents"), expr("cum_cents div cohort_size").as("ltv_cents"))
    }),
    "q_cohort_retention" -> Q(Oracles.qCohortRetention)((s, dir) => {
      // cohort = a user's first activity week; the retention matrix
      // counts distinct users per (cohort, weeks-since). Weeks are
      // integer epoch-ms buckets — calendar-week functions differ across
      // engines, epoch arithmetic does not.
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) div 604800000").as("wk"))
      val firstw = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      ev.join(firstw, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),
    "q_kaplan_meier" -> Q(Oracles.qKaplanMeier)((s, dir) => {
      // order-fulfillment survival: duration = days from order to line
      // shipment, administratively censored at the KmCutoff study end —
      // lines shipped by the cutoff are observed events, open lines
      // censor at (cutoff − order date). Restricted to coherent lines
      // (ship ≥ order; the synthetic generator emits some free-floating
      // ship dates) so durations are honest nonnegatives.
      val c = ts(KmCutoff)
      val j = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("o_orderdate") <= c && col("l_shipdate") >= col("o_orderdate"))
      Survival.kaplanMeier(j,
        when(col("l_shipdate") <= c,
          datediff(col("l_shipdate"), col("o_orderdate")))
          .otherwise(datediff(c, col("o_orderdate"))),
        when(col("l_shipdate") <= c, 1L).otherwise(0L))
    }),
    // the merge's oracle IS the full rebuild — incremental must equal it
    "agg_incremental_merge" -> Q(Oracles.aggIncrementalMerge)((s, dir) => {
      // incremental mart refresh: fold the new batch's aggregate state
      // into the standing state instead of rescanning history — must
      // equal the full recompute (the oracle IS the full recompute)
      val orders = t(s, dir, "orders")
      val cut = ts(AggMergeCut)
      val state = Marts.aggState(orders.filter(col("o_orderdate") < cut),
        Seq(col("o_custkey")), cents(col("o_totalprice")))
      val batch = Marts.aggState(orders.filter(col("o_orderdate") >= cut),
        Seq(col("o_custkey")), cents(col("o_totalprice")))
      // derived mean in centi-cents via exact int64 floor-division — a
      // round(double,4) here can land on a .00005 boundary where Spark
      // (BigDecimal half-up) and DuckDB (x*1e4 + std::round) disagree by
      // one final digit (observed at sf0.01)
      Marts.mergeAggState(state, batch, Seq("o_custkey"))
        .withColumn("mean_centicents", expr("(sum_cents * 100L) div n"))
    }),
    "q_dataset_fingerprint" -> Q(Oracles.qDatasetFingerprint)((s, dir) =>
      // order-invariant copy-validation checksum over lineitem, per
      // returnflag + rollup total; signature columns are all exact
      // renderings (ints, date, money as cents) so both engines hash
      // the identical canonical string
      Audit.datasetFingerprint(t(s, dir, "lineitem"), "l_returnflag",
        Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), cents(col("l_extendedprice")),
          col("l_shipdate").cast("date")))),
    "q_join_size_audit" -> Q(Oracles.qJoinSizeAudit)((s, dir) => {
      // candidate-pair explosion audit: exact output size of the
      // lineitem self-join on l_partkey (the blocking-key shape every
      // dedup family starts from), per heaviest key + grand total —
      // without running the join
      val li = t(s, dir, "lineitem")
      Audit.joinSizeAudit(li, "l_partkey", li, "l_partkey", AuditTopK)
    }),
    "q_join_size_est" -> Q(Oracles.qJoinSizeEst)((s, dir) => {
      // sampled twin of q_join_size_audit: 1/8 deterministic key
      // sample, exact products on the sample, inverse-rate scale-up —
      // the probe you can afford when the key is near-unique
      val li = t(s, dir, "lineitem")
      Audit.joinSizeEst(li, "l_partkey", li, "l_partkey", JseRatePpm, JseSalt)
    }),
    "q_skew_audit" -> Q(Oracles.qSkewAudit)((s, dir) =>
      // pre-flight shuffle-key skew diagnosis on the lineitem supplier
      // key: hottest keys, their table share, and the salt factor a
      // salted join would need — decided from counts, before any join
      Audit.keySkewAudit(t(s, dir, "lineitem"), col("l_suppkey"),
        SkewTopK, SkewSaltPartitions)),
    "q_compaction_plan" -> Q(Oracles.qCompactionPlan)((s, dir) =>
      // small-file compaction planning from the (year, month, rows)
      // manifest: stream months in order, cut a write bucket each time
      // the running size crosses a CompactTargetRows multiple
      operators.Layout.compactionPlan(
        t(s, dir, "lineitem").groupBy(
            year(col("l_shipdate")).cast("long").as("y"),
            month(col("l_shipdate")).cast("long").as("m"))
          .agg(count(lit(1)).as("n")),
        col("y"), col("m"), col("n"), CompactTargetRows)),
    "q_recursive_bom" -> Q(Oracles.qRecursiveBom)((s, dir) => {
      // WITH RECURSIVE workload, Spark-first: decimal-digit forest over
      // part (child k → parent k div 10), path-product quantities;
      // frontier loop never grows on a forest, early-stops when drained
      val edges = t(s, dir, "part")
        .where(col("p_partkey") >= 10)
        .select(col("p_partkey").as("child"),
          expr("p_partkey div 10").as("parent"),
          (col("p_size") % 5 + 1).cast("long").as("qty"))
      operators.Hierarchy.flatten(edges, BomMaxDepth)
    }),
    "q_corr_matrix" -> Q(Oracles.qCorrMatrix)((s, dir) =>
      // one-pass pairwise Pearson over four exact-integer lineitem
      // measures: all moments in DECIMAL(38,0), the only doubles are
      // correctly-rounded IEEE steps shared by both engines
      Sketches.corrMatrix(t(s, dir, "lineitem"), Seq(
        "qty" -> floor(col("l_quantity")),
        "price_cents" -> cents(col("l_extendedprice")),
        "disc_ppm" -> floor(col("l_discount") * lit(1000000.0)),
        "tax_ppm" -> floor(col("l_tax") * lit(1000000.0))))),
    "sample_topk_weighted" -> Q(Oracles.sampleTopkWeighted)((s, dir) =>
      // exactly-K quality-weighted sample per source (A-ES): the
      // fixed-budget counterpart of sample_weighted's per-row rates
      Sampling.weightedK(t(s, dir, "documents"), Seq(col("source")),
          col("doc_id"), length(col("text")), WkK, WkSalt)
        .select(col("source"), col("doc_id"),
          length(col("text")).cast("long").as("wt"))),
    // the merge's oracle IS the full recompute — merged state must equal it
    "q_fingerprint_merge" -> Q(Oracles.qDatasetFingerprint)((s, dir) => {
      // mergeable-fingerprint algebra: fingerprint two disjoint shipdate
      // halves independently, merge the STATES — must equal the full
      // recompute (the oracle IS the full recompute, like etl_scd2_merge)
      val li = t(s, dir, "lineitem")
      val cut = ts(FpMergeCut)
      val cols = Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), cents(col("l_extendedprice")),
        col("l_shipdate").cast("date"))
      Audit.mergeFingerprints(
        Audit.datasetFingerprint(li.filter(col("l_shipdate") < cut),
          "l_returnflag", cols),
        Audit.datasetFingerprint(li.filter(col("l_shipdate") >= cut),
          "l_returnflag", cols))
    }),
    "q_kmv_intersect" -> Q(Oracles.qKmvIntersect)((s, dir) =>
      // sketch set algebra, completed: pairwise union/intersection/
      // Jaccard estimates across the per-year custkey sketches — from
      // sketch state alone, never rescanning orders
      operators.Sketches.kmvIntersect(
        operators.Sketches.kmvSketch(t(s, dir, "orders"),
          year(col("o_orderdate")).cast("long"), "yearkey",
          col("o_custkey"), KmvK, KmvSalt), "yearkey", "hs", KmvK)),
    "q_kmv_diff" -> Q(Oracles.qKmvDiff)((s, dir) =>
      // sketch set algebra, final piece: churn-style difference
      // estimates (customers active in year a but not b, and vice
      // versa) from the same per-year sketch state — the union's
      // bottom-k partitions exactly into a-only/b-only/both
      operators.Sketches.kmvDiff(
        operators.Sketches.kmvSketch(t(s, dir, "orders"),
          year(col("o_orderdate")).cast("long"), "yearkey",
          col("o_custkey"), KmvK, KmvSalt), "yearkey", "hs", KmvK)),
    "er_resolve" -> Q(Oracles.erResolve)((s, dir) => {
      // entity resolution E2E on a synthesized dirty registry: every
      // part is a base record, every ErTwinMod-th part adds a twin with
      // the last character truncated (edit distance 1); block on first
      // name token → levenshtein ≤ ErMaxDist pairs → CC → survivorship
      val part = t(s, dir, "part")
      val base = part.select((col("p_partkey") * 2).as("rec_id"),
        col("p_name").as("rec_name"))
      val twins = part.where(col("p_partkey") % ErTwinMod === 0)
        .select((col("p_partkey") * 2 + 1).as("rec_id"),
          expr("substring(p_name, 1, length(p_name) - 1)").as("rec_name"))
      Linkage.resolveEntities(base.unionByName(twins), "rec_id",
        "rec_name", ErMaxDist)
    }),
    "q_bloom_anti" -> Q(Oracles.qBloomAnti)((s, dir) => {
      // anti join with a bloom pre-filter: only might-contain rows enter
      // the exact anti-join shuffle; a bloom "no" is a definitive keep.
      // Result is EXACTLY the plain anti join (false positives evicted),
      // which is why a plain NOT IN oracle checks it.
      val cust = t(s, dir, "customer").where(col("c_mktsegment") === Q3Segment)
        .select(col("c_custkey").as("o_custkey"))
      Joins.bloomAntiJoin(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          cust, "o_custkey", expectedItems = 100000L)
        .select(col("o_orderkey"), col("o_custkey"))
    }),
    "q_profile" -> Q(Oracles.qProfile)((s, dir) =>
      // one-pass column census: per-column counts, exact distincts, and
      // typed min/max — every projection normalized to portable
      // long/string first (cents / epoch-ms), SURVEY §6 rules
      Quality.profile(t(s, dir, "orders"), Seq(
        "o_orderkey" -> col("o_orderkey"),
        "o_custkey" -> col("o_custkey"),
        "o_orderstatus" -> col("o_orderstatus"),
        "price_cents" -> cents(col("o_totalprice")),
        // NTZ → TZ cast is a no-op wall-clock reinterpretation under the
        // session's UTC; epoch millis then matches DuckDB's epoch_ms
        "odate_ms" -> unix_millis(col("o_orderdate").cast("timestamp")),
        "o_orderpriority" -> col("o_orderpriority")))),
    "etl_quarantine" -> Q(Oracles.etlQuarantine)((s, dir) =>
      // contract gate audit: per-rule violation counts in one pass,
      // zero-violation rules included (a clean run still gets its row)
      Quality.audit(t(s, dir, "orders"), qcRules)),
    "q_rand_response" -> Q(Oracles.qRandResponse)((s, dir) =>
      // local-privacy release: is-urgent bit randomized per order, true
      // per-year urgency rate recovered by the exact Warner debias
      Quality.randomizedResponse(t(s, dir, "orders"),
        year(col("o_orderdate")).cast("long"), col("o_orderkey"),
        col("o_orderpriority") === "1-URGENT", RrFlipPpm, RrSalt)),
    "q_kanon" -> Q(Oracles.qKanon)((s, dir) =>
      // k-anonymity suppression: QI combinations smaller than KanonK are
      // generalized to '*' before release — census broadcasts back, the
      // rows themselves never shuffle
      Quality.kSuppress(t(s, dir, "customer"), Seq(
          "segment" -> col("c_mktsegment"), "nation" -> col("c_nationkey")), KanonK)
        .select(col("c_custkey"), col("segment"), col("nation"))),
    "q_ldiversity" -> Q(Oracles.qLdiversity)((s, dir) =>
      // l-diversity audit: each (segment, nation) class must span >= l
      // distinct account-balance bands before release — catches the
      // homogeneous classes k-anonymity alone would pass
      Quality.lDiversity(t(s, dir, "customer"), Seq(
          "segment" -> col("c_mktsegment"), "nation" -> col("c_nationkey")),
        floor(col("c_acctbal") / lit(1000.0)).cast("long"), LdivL)),
    "q_tcloseness" -> Q(Oracles.qTcloseness)((s, dir) =>
      // t-closeness audit on the same (segment, nation) classes and
      // balance bands as q_ldiversity: exact integer EMD vs the global
      // band distribution, release gate at TclosePpm
      operators.Quality.tCloseness(t(s, dir, "customer"), Seq(
          "segment" -> col("c_mktsegment"), "nation" -> col("c_nationkey")),
        floor(col("c_acctbal") / lit(1000.0)).cast("long"), TclosePpm)),
    "q_countmin" -> Q(Oracles.qCountmin)((s, dir) => {
      // count-min sketch vs truth: estimates for every token whose true
      // count clears CmMinCount — n_est >= n_true always (overcount-only
      // error), with the sketch itself d*w counters regardless of corpus
      val tok = t(s, dir, "documents").select(explode(T.tokens(col("text"))).as("tok"))
      val sketch = Sketches.countMin(tok, col("tok"), CmDepth, CmWidth)
      // truth feeds both the estimate probe and the final join — share
      // one computation instead of re-aggregating the corpus
      val truth = tok.groupBy(col("tok").as("term")).agg(count(lit(1)).as("n_true"))
        .where(col("n_true") >= CmMinCount).localCheckpoint(false)
      val est = Sketches.cmEstimate(sketch, truth, col("term"), CmDepth, CmWidth)
      truth.join(est, col("term") === col("item"))
        .select(col("term"), col("n_true"), col("n_est"))
    }),
    "q_quantile_est" -> Q(Oracles.qQuantileEst)((s, dir) =>
      // mergeable percentile estimates: equi-width histogram (bounded
      // state) instead of a global sort; error <= one bucket width
      Sketches.histogramQuantiles(t(s, dir, "orders"),
        cents(col("o_totalprice")), QuantWidthCents, QuantPs)),
    "q_equidepth_hist" -> Q(Oracles.qEquidepthHist)((s, dir) =>
      // equal-count price buckets with exact [lo,hi] ranges — the
      // skew-proof histogram: ranks via the range-partitioned
      // GlobalRank, never a single-partition sort
      Sketches.equidepthHist(t(s, dir, "orders"),
        cents(col("o_totalprice")), col("o_orderkey"), EqdepthBuckets)),
    "q_benford" -> Q(Oracles.qBenford)((s, dir) =>
      // first-digit conformity of order totals per priority class —
      // the fabricated-amounts screen; absent digits still score
      Audit.benford(t(s, dir, "orders"), col("o_orderpriority"),
        cents(col("o_totalprice")))),
    "q_theilsen" -> Q(Oracles.qTheilsen)((s, dir) =>
      // robust monthly-revenue trend per priority: median pairwise
      // slope over the same series OLS (q_trend_fit) fits — one wild
      // month barely moves it
      operators.TimeSeries.theilSen(
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .cast("long").as("mkey"))
          .agg(sum(cents(col("o_totalprice"))).as("total_cents")),
        "o_orderpriority", "mkey", "total_cents")),
    "sample_epoch_shuffle" -> Q(Oracles.sampleEpochShuffle)((s, dir) =>
      // two independent deterministic training orders of the corpus,
      // sharded so no global sort exists anywhere
      Sampling.epochShuffle(t(s, dir, "documents"), col("doc_id"),
        EpochShuffleEpochs, EpochShuffleShards, EpochSalt)),
    "q_zorder" -> Q(Oracles.qZorder)((s, dir) =>
      // Morton Z-value for 2-D layout clustering (operators.Layout): the
      // mapping itself is oracle-checked here; the write discipline
      // (range-partition by Z + sort within) is spec-checked for
      // disjoint per-file Z-ranges
      t(s, dir, "orders").select(col("o_orderkey"),
        operators.Layout.zValue(col("o_custkey") % 65536, col("o_orderkey") % 65536)
          .as("zval"))),
    "q_skipping_audit" -> Q(Oracles.qSkippingAudit)((s, dir) =>
      // the measured payoff of the Z-order layout: per-file min/max
      // stats vs a y-band predicate, zorder vs linear-on-x layouts;
      // matched_in_skipped must be 0 (min/max pruning never lies)
      operators.Layout.skippingAudit(t(s, dir, "orders"),
        col("o_custkey") % 65536, col("o_orderkey") % 65536,
        col("o_orderkey"), SkipFiles, 16, SkipYLo, SkipYHi)),
    "q_hilbert" -> Q(Oracles.qHilbert)((s, dir) =>
      // Hilbert index for 2-D layout clustering: the mapping itself is
      // oracle-checked (one packed-int64 fold, replayed token-for-token
      // by the DuckDB list_reduce twin); locality payoff in q_hilbert_audit
      t(s, dir, "orders").select(col("o_orderkey"),
        operators.Layout.hilbertValue(col("o_custkey") % HilbertMod,
          col("o_orderkey") % HilbertMod, HilbertBits).as("hval"))),
    "q_hilbert_audit" -> Q(Oracles.qHilbertAudit)((s, dir) =>
      // hilbert vs zorder vs linear on the same 15-bit grid and y band:
      // the curve choice as measured skip counts, not folklore
      operators.Layout.hilbertAudit(t(s, dir, "orders"),
        col("o_custkey") % HilbertMod, col("o_orderkey") % HilbertMod,
        col("o_orderkey"), SkipFiles, HilbertBits, SkipYLo, SkipYHi)),
    "q_stress" -> Q(Oracles.qStress)((s, dir) => {
      // sampled hop-bounded stress centrality (integer betweenness
      // family): shortest-path counts THROUGH each node of the trading
      // graph from the harmonic seed sample — σ forward, ψ backward,
      // exact integers end to end
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), (col("o_custkey") + lit(PrCustOffset)).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val seeds = t(s, dir, "supplier")
        .where(col("s_suppkey") % StressSeedMod === 0)
        .select(col("s_suppkey").as("node"))
      operators.Bfs.stressCentrality(edges, seeds, BfsHops)
    }),
    "events_interarrival" -> Q(Oracles.eventsInterarrival)((s, dir) =>
      // per-type cadence profile: exact millisecond gaps between each
      // user's consecutive events — the evidence behind cooldown and
      // session-gap thresholds
      EventOps.interArrival(t(s, dir, "events"), col("user_id"),
        col("event_type"), col("ts"), col("event_id"))),
    "q_fulfillment_latency" -> Q(Oracles.qFulfillmentLatency)((s, dir) => {
      // order→first-shipment latency quartiles per priority: exact day
      // gaps through the exactQuartiles rank selector
      val first = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(min(col("l_shipdate")).as("ship"))
      Marts.exactQuartiles(
        t(s, dir, "orders")
          .join(first, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderpriority").as("p"),
            datediff(col("ship"), col("o_orderdate")).cast("long").as("days"),
            col("o_orderkey")),
        col("p"), "prio", col("days"), col("o_orderkey"))
    }),
    "q_abc_class" -> Q(Oracles.qAbcClass)((s, dir) => {
      // ABC / Pareto classification: customers in descending-revenue
      // order, class cut at 80% / 95% cumulative share (exact ppm via
      // the distributed globalCumsum — never a global window)
      val cust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      val cum = operators.GlobalRank.globalCumsum(cust,
        Seq(col("rev").desc, col("o_custkey").asc), col("rev"), "gcum")
      val tot = broadcast(cust.agg(sum(col("rev")).as("trev")))
      // DECIMAL(38,0) products: gcum tops out at trev (total revenue
      // CENTS — 3.75e13 at sf1), so gcum·1e6 wraps int64 one decade up
      // from the gate; found by the r10 sf1 census as a loud ANSI
      // ARITHMETIC_OVERFLOW. div returns BIGINT, values identical
      // wherever the long path fit.
      cum.crossJoin(tot)
        .select(col("o_custkey"), col("rev"),
          expr("CAST(gcum AS DECIMAL(38,0)) * 1000000 div trev").as("cum_ppm"))
        .select(col("rev"),
          when(col("cum_ppm") <= 800000L, "A")
            .when(col("cum_ppm") <= 950000L, "B").otherwise("C").as("abc"))
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("rev_cents"))
        .crossJoin(tot)
        .select(col("abc"), col("n_customers"), col("rev_cents"),
          expr("CAST(rev_cents AS DECIMAL(38,0)) * 1000000 div trev").as("share_ppm"))
    }),
    "q_lorenz" -> Q(Oracles.qLorenz)((s, dir) => {
      // Lorenz curve deciles: customers ranked by revenue ascending,
      // cumulative revenue share per decile in exact ppm — the curve
      // behind q_gini's scalar
      val cust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("rev"))
      val ranked = operators.GlobalRank.globalRank(cust,
        Seq(col("rev").asc, col("o_custkey").asc), "grank")
      val tot = broadcast(ranked.agg(count(lit(1)).as("nc"),
        sum(col("rev")).as("trev")))
      val perDec = ranked.crossJoin(tot)
        .select(expr("(grank - 1) * 10 div nc").as("decile"), col("rev"),
          col("trev"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("rev")).as("rev_cents"),
          max(col("trev")).as("__t"))
      // cumulative over the 10 decile rows (declared bounded HERE)
      val w = Window.partitionBy(lit(0)).orderBy(col("decile").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perDec.withColumn("__cum", sum(col("rev_cents")).over(w))
        .select(col("decile"), col("n"), col("rev_cents"),
          // same int64 envelope as q_abc_class: cum cents × 1e6 wraps
          // at sf1 — DECIMAL(38,0) product, div returns BIGINT
          expr("CAST(__cum AS DECIMAL(38,0)) * 1000000 div __t").as("cum_share_ppm"))
    }),
    "events_zscore_alerts" -> Q(Oracles.eventsZscoreAlerts)((s, dir) =>
      // batch twin of the streaming z-alert: cumulative prior stats per
      // type, division-free DECIMAL(38,0) test — backfill == live feed
      EventOps.zscoreAlerts(t(s, dir, "events"), col("event_type"),
        col("ts"), col("event_id"), cents(col("value")))),
    "q_rolling_corr" -> Q(Oracles.qRollingCorr)((s, dir) => {
      // trailing-28-day correlation of daily order count vs revenue —
      // the co-movement monitor; exact decimal window moments, one
      // shared IEEE corr per row, over the bounded day series
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).cast("string").as("d"))
        .agg(count(lit(1)).as("c"), sum(cents(col("o_totalprice"))).as("r"))
      val w = Window.partitionBy(lit(0)) // declared bounded: day series
        .orderBy(col("d").asc).rowsBetween(-27, Window.currentRow)
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      daily
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sc", sum(dec(col("c"))).over(w))
        .withColumn("sr", sum(dec(col("r"))).over(w))
        .withColumn("scc", sum(dec(col("c")) * col("c")).over(w))
        .withColumn("srr", sum(dec(col("r")) * col("r")).over(w))
        .withColumn("scr", sum(dec(col("c")) * col("r")).over(w))
        .select(col("d"), col("n"),
          when(expr("sqrt(cast(n * scc - sc * sc as double) * " +
            "cast(n * srr - sr * sr as double))") > 0.0,
            expr("round(cast(n * scr - sc * sr as double) / " +
              "sqrt(cast(n * scc - sc * sc as double) * " +
              "cast(n * srr - sr * sr as double)), 4)"))
            .otherwise(lit(null).cast("double")).as("corr"))
    }),
    "etl_gap_partitions" -> Q(Oracles.etlGapPartitions)((s, dir) => {
      // backfill planning: expected month partitions (generated axis)
      // vs observed; a deterministically-suppressed month (1996-06) is
      // the real positive the plan must list
      val observed = t(s, dir, "orders")
        .where(!(year(col("o_orderdate")) === 1996 &&
          month(col("o_orderdate")) === 6))
        .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("part_key")).distinct()
      val bounds = t(s, dir, "orders").agg(
        min(year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("lo"),
        max(year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("hi")).collect().head
      val expected = s.range(bounds.getInt(0).toLong, bounds.getInt(1) + 1L)
        .select(expr("(id div 12) * 100 + (id % 12 + 1)").as("part_key"))
      expected.join(observed, Seq("part_key"), "left_anti")
        .select(col("part_key"))
    }),
    "q_runs_test" -> Q(Oracles.qRunsTest)((s, dir) => {
      // randomness audit of the daily order-count series: above/below
      // the exact global mean, then the Wald–Wolfowitz run count
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).cast("string").as("k"))
        .agg(count(lit(1)).as("c"))
      val tot = broadcast(daily.agg(sum(col("c")).as("tc"),
        count(lit(1)).as("nd")))
      Sketches.runsTest(
        daily.crossJoin(tot)
          .select(col("k"), (col("c") * col("nd") > col("tc")).as("b")),
        col("k"), col("b"))
    }),
    "q_psi_drift" -> Q(Oracles.qPsiDrift)((s, dir) => {
      // population stability index across the chi2 gate's snapshot
      // split and bucketing — the credit-risk member of the drift family
      val o = t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("y"),
          cents(col("o_totalprice")).as("c"))
      Sketches.psiDrift(
        o.where(col("y") <= lit(DriftSplitYear)),
        o.where(col("y") > lit(DriftSplitYear)),
        expr(s"c div $DriftBucketCents"))
    }),
    "q_quantile_scale" -> Q(Oracles.qQuantileScale)((s, dir) =>
      // quantile feature normalization: each price mapped to its exact
      // corpus percentile ppm under a total order (GlobalRank two-pass,
      // never a global window) — the rank-uniformization step before
      // models that want scale-free features
      operators.GlobalRank.globalRank(
        t(s, dir, "lineitem").select(col("l_orderkey").as("okey"),
          col("l_linenumber").cast("long").as("lnum"),
          cents(col("l_extendedprice")).as("c")),
        Seq(col("c").asc, col("okey").asc, col("lnum").asc), "grank")
        .crossJoin(broadcast(t(s, dir, "lineitem")
          .agg(count(lit(1)).as("n"))))
        .select(col("okey"), col("lnum"), col("c"),
          expr("(grank - 1) * 1000000 div (n - 1)").as("pct_ppm"))),
    "q_mutual_best" -> Q(Oracles.qMutualBest)((s, dir) => {
      // reciprocal best match (mutual nearest neighbor) — the ER
      // pairing rule that kills asymmetric lookalikes: keep (a, b) only
      // when each is the other's top Jaro–Winkler match in the block
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      val scored = sup.as("a").join(sup.as("b"),
          col("a.s_nationkey") === col("b.s_nationkey") &&
            col("a.s_suppkey") =!= col("b.s_suppkey"))
        .select(col("a.s_suppkey").as("k1"), col("b.s_suppkey").as("k2"),
          round(T.jaroWinkler(col("a.s_name"), col("b.s_name")), 4).as("jw"))
      val w = Window.partitionBy(col("k1"))
        .orderBy(col("jw").desc, col("k2").asc)
      val best = scored.withColumn("__rk", row_number().over(w))
        .where(col("__rk") === 1).select(col("k1"), col("k2"), col("jw"))
      best.as("x").join(best.as("y"),
          col("x.k1") === col("y.k2") && col("x.k2") === col("y.k1") &&
            col("x.k1") < col("x.k2"))
        .select(col("x.k1").as("k1"), col("x.k2").as("k2"), col("x.jw").as("jw"))
    }),
    "q_assortativity" -> Q(Oracles.qAssortativity)((s, dir) => {
      // degree assortativity of the trading graph: Pearson r of
      // endpoint degrees over the symmetric edge list — negative =
      // hub-to-leaf (the usual bipartite-projection shape); exact
      // decimal moments through the corrMatrix fragment
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), (col("o_custkey") + lit(PrCustOffset)).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val withDeg = edges
        .join(deg.select(col("node").as("src"), col("deg").as("sd")), "src")
        .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
      Sketches.corrMatrix(withDeg,
        Seq("d_src" -> col("sd"), "d_dst" -> col("dd")))
    }),
    "text_langid_confusion" -> Q(Oracles.textLangidConfusion)((s, dir) =>
      // langid evaluation closed loop: confusion counts of the labeled
      // lang column vs the stopword-vote prediction
      t(s, dir, "documents")
        .select(col("lang"), T.langId(col("text")).as("pred"))
        .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))),
    "q_sql_surface" -> Q(Oracles.qSqlSurface)((s, dir) => {
      // the spark.sql(...) entrypoint exercised end-to-end: a Q10-shape
      // returned-revenue ranking written as SQL TEXT over temp views —
      // same Catalyst plan machinery, proving the library's tables
      // compose with the declarative surface, not only the DSL
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      t(s, dir, "nation").createOrReplaceTempView("v_nation")
      s.sql(s"""
        SELECT c.c_custkey, n.n_name,
               sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS lost_cents
        FROM v_customer c
        JOIN v_orders o ON o.o_custkey = c.c_custkey
        JOIN v_lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN v_nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY 1, 2
        ORDER BY lost_cents DESC, c.c_custkey
        LIMIT 20""")
    }),
    "q_cramers_v" -> Q(Oracles.qCramersV)((s, dir) =>
      // association strength companion to q_mutual_info: Cramér's V
      // from exact chi-squared cell arithmetic
      Sketches.cramersV(t(s, dir, "orders"),
        col("o_orderpriority"), col("o_orderstatus"))),
    "q_mutual_info" -> Q(Oracles.qMutualInfo)((s, dir) =>
      // association screen between priority and status — near-zero MI on
      // independent synthetic columns exercises the negative-rounding
      // truncation path both engines must agree on
      Sketches.mutualInfo(t(s, dir, "orders"),
        col("o_orderpriority"), col("o_orderstatus"))),
    "sample_kfold" -> Q(Oracles.sampleKfold)((s, dir) =>
      // deterministic 5-fold assignment + per-fold class balance audit
      Sampling.kfoldBalance(t(s, dir, "documents"), col("doc_id"),
        col("lang"), KfoldK, KfoldSalt)),
    "dim_calendar" -> Q(Oracles.dimCalendar)((s, dir) =>
      // generated conformed calendar dimension — spark.range, no driver
      // loop; dow/iso_week conventions pinned cross-engine
      Star.calendarDim(s, CalStart, CalDays)),
    "etl_surrogate_assign" -> Q(Oracles.etlSurrogateAssign)((s, dir) => {
      // incremental surrogate keys: the pre-existing dim keeps its sks
      // verbatim, unseen brands extend from max(sk) in natural-key
      // order through GlobalRank — no global-sort window
      val brands = t(s, dir, "part").select(col("p_brand").as("bkey")).distinct()
      val first = brands.where(col("bkey") < SurrogateCut)
      val seed = first.limit(0).withColumn("sk", lit(0L))
      val existing = Star.assignSurrogates(seed, first, "bkey", "sk")
      Star.assignSurrogates(existing, brands, "bkey", "sk")
    }),
    "q_changepoint" -> Q(Oracles.qChangepoint)((s, dir) =>
      // best single split of each priority's monthly revenue series
      // (binary segmentation step): exact prefix sums, engine-exact
      // argmax, truncating segment means
      operators.TimeSeries.changePoint(
        t(s, dir, "orders").select(col("o_orderpriority").as("grp"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mkey"),
          cents(col("o_totalprice")).as("c")),
        col("grp"), col("mkey"), col("c"))),
    "etl_scd2_audit" -> Q(Oracles.etlScd2Audit)((s, dir) => {
      // history-invariant audit: the clean scd2 build must score zero
      // defects; a deliberately duplicated slice (keys ≡0 mod 97) must
      // light up overlaps and duplicate currents — both rows oracle-checked
      val hist = Staging.scd2(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"), col("o_orderkey")),
        Seq("o_custkey"), "o_orderdate", Seq("o_orderpriority"),
        Seq(col("o_orderkey")))
      def audit(name: String, df: DataFrame) =
        Staging.scd2Audit(df, Seq("o_custkey"), "effective_from",
            "effective_to", "is_current")
          .select(lit(name).as("variant"), col("n_keys"), col("n_rows"),
            col("keys_with_overlap"), col("keys_with_gap"),
            col("keys_bad_current"))
      audit("clean", hist).unionByName(audit("broken",
        hist.unionByName(hist.where(col("o_custkey") % 97 === 0))))
    }),
    "etl_wap" -> Q(Oracles.etlWap)((s, dir) => {
      // write-audit-publish: stage a batch, run the contract rules,
      // publish ONLY an all-green batch. Attempt 1 carries injected
      // violations (status corrupted for keys ≡0 mod 101) and must
      // refuse; attempt 2 is the fixed batch and publishes. The
      // decision, not just the counts, is the oracle-checked output.
      val base = t(s, dir, "orders")
      // publish-gate rules hold on clean data (unlike qcRules, whose
      // price cap fires by design to prove nonzero reporting)
      val wapRules = Seq(
        "status_known" -> col("o_orderstatus").isin("F", "O", "P"),
        "key_nonneg" -> (col("o_orderkey") >= lit(0L)),
        "priority_wellformed" -> col("o_orderpriority").like("_-%"))
      def attempt(name: String, batch: DataFrame): DataFrame = {
        val staged = tmpPath(s, s"wap_$name")
        batch.write.mode("overwrite").parquet(staged)
        val audited = Quality.checkRules(s.read.parquet(staged), wapRules)
        val bad = Quality.quarantined(audited).count()
        val n = audited.count()
        val publish = bad == 0L
        if (publish)
          Quality.valid(audited).write.mode("overwrite")
            .parquet(tmpPath(s, s"wap_pub_$name"))
        import s.implicits._
        Seq((name, n, bad, publish,
          if (publish) n else 0L)).toDF("attempt", "n_staged",
          "n_violations", "published", "n_published")
      }
      val broken = base.withColumn("o_orderstatus",
        when(col("o_orderkey") % 101 === 0, lit("?"))
          .otherwise(col("o_orderstatus")))
      attempt("broken", broken).unionByName(attempt("fixed", base))
    }),
    "events_bots" -> Q(Oracles.eventsBots)((s, dir) =>
      // rate-based bot census: users sustaining ≥ BotRate events in a
      // minute for ≥ BotMinutes distinct minutes — pure integer rates
      EventOps.botCensus(t(s, dir, "events"), col("user_id"), col("ts"),
        BotRate, BotMinutes)),
    "etl_late_dim" -> Q(Oracles.etlLateDim)((s, dir) => {
      // early-arriving facts: the part feed lags 10% of keys; inferred
      // placeholders keep the star join total, then half the laggards
      // land and replace their placeholders
      val part = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val dim = part.where(col("p_partkey") % LateDimHoldoutMod =!= 0)
      val aug = Staging.inferredDim(t(s, dir, "lineitem"),
        col("l_partkey"), dim, "p_partkey")
      Staging.backfillDim(aug,
        part.where(col("p_partkey") % LateDimArriveMod === 0), "p_partkey")
    }),
    "q_reciprocity" -> Q(Oracles.qReciprocity)((s, dir) => {
      // directed reciprocity of the supplier hand-off graph: share of
      // edges whose reverse also exists — near 1 means the "direction"
      // carries no information and SCC ≈ CC
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_suppkey"))  // value-total order: (okey, lnum) is NOT unique in the testdata
      val e = li.withColumn("nxt", lead(col("l_suppkey"), 1).over(w))
        .where(col("nxt").isNotNull && col("l_suppkey") =!= col("nxt"))
        .select(col("l_suppkey").as("src"), col("nxt").as("dst")).distinct()
      e.join(e.select(col("dst").as("src"), col("src").as("dst"))
            .withColumn("__r", lit(1L)).distinct(),
          Seq("src", "dst"), "left")
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("__r").isNotNull, 1L).otherwise(0L)).as("n_recip"))
        .select(col("n_edges"), col("n_recip"),
          expr("n_recip * 1000000 div n_edges").as("recip_ppm"))
    }),
    "sample_negatives" -> Q(Oracles.sampleNegatives)((s, dir) =>
      // word2vec-style negative-sampling table: exactly-K corpus terms
      // drawn by the unigram^(3/4) distribution through the A-ES
      // exactly-K machinery — deterministic, RNG-free
      Sampling.weightedK(
        t(s, dir, "documents")
          .select(explode(T.tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("cf"))
          .withColumn("w34",
            expr("cast(floor(pow(cast(cf as double), 0.75) * 1e6) as long)")),
        Seq(lit("all")), col("term"), col("w34"), NegK, NegSalt)
        .select(col("term"), col("cf"), col("w34"))),
    "q_scc" -> Q(Oracles.qScc)((s, dir) => {
      // directed supplier hand-off graph: consecutive lineitems of each
      // order pass work supplier→supplier (lead over the per-order line
      // sequence — a partitioned window, never global); SCC groups =
      // mutual-reachability cells, which undirected CC would over-merge
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_suppkey"))  // value-total order: (okey, lnum) is NOT unique in the testdata
      val edges = li.withColumn("nxt", lead(col("l_suppkey"), 1).over(w))
        .where(col("nxt").isNotNull)
        .select(col("l_suppkey").as("src"), col("nxt").as("dst"))
      operators.Scc.scc(edges)
    }),
    "q_jaro_pairs" -> Q(Oracles.qJaroPairs)((s, dir) => {
      // transposition-tolerant name linkage: nation-blocked supplier
      // pairs scored by the native graft_jaro_winkler expression
      // (codegen'd static kernel — no UDF wall at the candidate scorer,
      // the hot seat of any linkage job); DuckDB's builtin is the twin
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      sup.as("a").join(sup.as("b"),
          col("a.s_nationkey") === col("b.s_nationkey") &&
            col("a.s_suppkey") < col("b.s_suppkey"))
        .select(col("a.s_suppkey").as("k1"), col("b.s_suppkey").as("k2"),
          round(T.jaroWinkler(col("a.s_name"), col("b.s_name")), 4).as("jw"))
        .where(col("jw") >= lit(JaroMinSim))
    }),
    "q_triangles" -> Q(Oracles.qTriangles)((s, dir) => {
      // per-part triangle counts over the "parts bought together" graph;
      // degree orientation bounds the wedge fan-out (operators.Triangles)
      val pairs = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val edges = pairs.as("x").join(pairs.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      operators.Triangles.perNodeCounts(edges)
    }),
    "q_degree_hist" -> Q(Oracles.qDegreeHist)((s, dir) => {
      // degree-distribution census of the co-purchase graph: per degree
      // the node count and exact ppm share — the first thing anyone
      // asks of a graph (skew! hubs!) and the input to the CnMaxDeg-
      // style caps the wedge/link ops rely on
      val pairs = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val edges = pairs.as("x").join(pairs.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("u"), col("y.p").as("v")).distinct()
      val deg = edges.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      val tot = deg.agg(count(lit(1)).as("n_total"))
      deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(tot))
        .select(col("degree"), col("n_nodes"),
          expr("1000000L * n_nodes div n_total").as("share_ppm"))
    }),
    "q_msf" -> Q(Oracles.qMsf)((s, dir) => {
      // Borůvka minimum spanning forest of the co-purchase graph under
      // md5 edge weights; hash-checked against a generated per-round
      // replay twin (the (w,u,v) total order makes every round's pick
      // deterministic — Oracles.qMsf), plus Kruskal-parity property
      // specs on random graphs
      val pairs = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val edges = pairs.as("x").join(pairs.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst")).distinct()
        .withColumn("w", H.hash32(
          concat(col("src").cast("string"), lit(":"), col("dst").cast("string")),
          "msf"))
      operators.Msf.msf(edges)
    }),
    "q_clustering_coef" -> Q(Oracles.qClusteringCoef)((s, dir) => {
      // local clustering coefficient over the co-purchase graph: how
      // clique-like each part's neighborhood is, exact ppm; zero-tri
      // nodes score 0 rather than vanish
      val pairs = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val edges = pairs.as("x").join(pairs.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      operators.Triangles.clusteringCoef(edges)
    }),
    "q_pagerank" -> Q(Oracles.qPagerank)((s, dir) => {
      // fixed-point integer PageRank over the supplier↔customer graph
      // (both arc directions of each trading pair); bit-identical on any
      // engine/partitioning — see operators.PageRank
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
      val edges = pairs.select(col("sk").as("src"), (col("ck") + lit(PrCustOffset)).as("dst"))
        .union(pairs.select((col("ck") + lit(PrCustOffset)).as("src"), col("sk").as("dst")))
      operators.PageRank.pageRank(edges, PrIters)
    }),
    "q_pagerank_weighted" -> Q(Oracles.qPagerankWeighted)((s, dir) => {
      // volume-weighted variant: each trading pair's edge carries its
      // distinct-order count, so rank flows ∝ trade volume, not 1/deg
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
        .agg(countDistinct(col("l_orderkey")).as("w"))
      val edges = pairs.select(col("sk").as("src"),
          (col("ck") + lit(PrCustOffset)).as("dst"), col("w"))
        .union(pairs.select((col("ck") + lit(PrCustOffset)).as("src"),
          col("sk").as("dst"), col("w")))
      operators.PageRank.pageRankWeighted(edges, PrIters)
    }),
    "q_link_predict" -> Q(Oracles.qLinkPredict)((s, dir) =>
      // supplier-pair similarity by shared supplied parts: capped wedge
      // enumeration + exact integer Jaccard (ppm) on the filtered graph
      operators.LinkPredict.scores(
        t(s, dir, "lineitem").select(col("l_suppkey").as("u"),
          col("l_partkey").as("w")),
        CnMaxDeg, CnMinCommon)),
    "q_assoc_rules" -> Q(Oracles.qAssocRules)((s, dir) =>
      // market-basket pairs over order baskets: support / directed
      // confidence / lift in exact ppm, tail pruned at the pair agg
      operators.Frequency.associationRules(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", AssocMinPairs)),
    "q_kcore" -> Q(Oracles.qKcore)((s, dir) => {
      // k-core peeling on the symmetric trading graph: nodes that keep
      // >= k surviving partners after KcoreRounds peels
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
      val edges = pairs.select(col("sk").as("src"), (col("ck") + lit(PrCustOffset)).as("dst"))
        .union(pairs.select((col("ck") + lit(PrCustOffset)).as("src"), col("sk").as("dst")))
      operators.PageRank.kCorePeel(edges, KcoreK, KcoreRounds)
    }),
    "q_hits" -> Q(Oracles.qHits)((s, dir) => {
      // HITS hubs/authorities on the DIRECTED supplier→customer arcs
      // (who supplies the well-supplied customers) — integer
      // fixed-iteration form, rankings ≡ the normalized algorithm
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + lit(PrCustOffset)).as("dst")).distinct()
      operators.PageRank.hits(pairs, HitsIters)
    }),
    "q_ppr" -> Q(Oracles.qPpr)((s, dir) => {
      // personalized PageRank: proximity to the seed suppliers
      // (suppkey % BfsSeedMod = 0) over the same trading graph
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
      val edges = pairs.select(col("sk").as("src"), (col("ck") + lit(PrCustOffset)).as("dst"))
        .union(pairs.select((col("ck") + lit(PrCustOffset)).as("src"), col("sk").as("dst")))
      val seeds = t(s, dir, "supplier")
        .filter(col("s_suppkey") % BfsSeedMod === 0).select(col("s_suppkey"))
      operators.PageRank.personalizedPageRank(edges, seeds, PrIters)
    }),
    "q_label_prop" -> Q(Oracles.qLabelProp)((s, dir) => {
      // community detection by majority vote on the same trading graph —
      // LP keeps densely-connected groups apart where CC would merge
      // anything bridged by a single edge
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
      val edges = pairs.select(col("sk").as("src"), (col("ck") + lit(PrCustOffset)).as("dst"))
        .union(pairs.select((col("ck") + lit(PrCustOffset)).as("src"), col("sk").as("dst")))
      operators.LabelProp.labelPropagation(edges, LpIters)
    }),
    "q_louvain_move" -> Q(Oracles.qLouvainMove)((s, dir) => {
      // greedy modularity agglomeration: one deterministic Louvain
      // local-move round from singletons — each node joins the neighbor
      // with the best strictly-positive exact-integer gain
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck")).distinct()
      val edges = pairs.select(col("sk").as("src"), (col("ck") + lit(PrCustOffset)).as("dst"))
        .union(pairs.select((col("ck") + lit(PrCustOffset)).as("src"), col("sk").as("dst")))
      operators.Louvain.localMove(edges)
    }),
    "q_bfs_reach" -> Q(Oracles.qBfsReach)((s, dir) => {
      // recursive-CTE-shaped reachability: min hop distance from the
      // seed suppliers over the trading graph, frontier-iterated
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), (col("o_custkey") + lit(PrCustOffset)).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val seeds = t(s, dir, "supplier")
        .where(col("s_suppkey") % BfsSeedMod === 0)
        .select(col("s_suppkey").as("node"))
      operators.Bfs.hopDistances(edges, seeds, BfsHops)
    }),
    "q_eccentricity" -> Q(Oracles.qEccentricity)((s, dir) => {
      // hop-bounded eccentricity census from the harmonic seed sample:
      // per seed the farthest-reached hop and reach count — the cheap
      // diameter lower-bound / disconnection smell
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), (col("o_custkey") + lit(PrCustOffset)).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val seeds = t(s, dir, "supplier")
        .where(col("s_suppkey") % HarmonicSeedMod === 0)
        .select(col("s_suppkey").as("node"))
      operators.Bfs.perSeedHopDistances(edges, seeds, BfsHops)
        .groupBy(col("seed"))
        .agg(max(col("dist")).as("ecc_capped"),
          sum(when(col("dist") > 0, 1L).otherwise(0L)).as("n_reached"))
    }),
    "q_harmonic" -> Q(Oracles.qHarmonic)((s, dir) => {
      // sampled truncated harmonic centrality: Σ 1/hop-dist (exact e6)
      // per seed supplier over the trading graph — per-seed BFS keyed
      // (seed, node), one pass for every seed at once
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), (col("o_custkey") + lit(PrCustOffset)).as("ck"))
        .distinct()
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst")))
      val seeds = t(s, dir, "supplier")
        .where(col("s_suppkey") % HarmonicSeedMod === 0)
        .select(col("s_suppkey").as("node"))
      operators.Bfs.harmonicCentrality(edges, seeds, BfsHops)
    }),
    "q_sssp" -> Q(Oracles.qSssp)((s, dir) => {
      // weighted recursive-CTE workload: min-plus shortest paths from
      // the seed suppliers over the trading graph, edge weight a
      // deterministic 1..10 from the endpoint keys (symmetric by
      // construction), frontier-iterated with early exit
      val pairs = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("sk"), (col("o_custkey") + lit(PrCustOffset)).as("ck"))
        .distinct()
      val w = (col("sk") + col("ck")) % 10 + 1
      val edges = pairs.select(col("sk").as("src"), col("ck").as("dst"), w.as("w"))
        .union(pairs.select(col("ck").as("src"), col("sk").as("dst"), w.as("w")))
      val seeds = t(s, dir, "supplier")
        .where(col("s_suppkey") % BfsSeedMod === 0)
        .select(col("s_suppkey").as("node"))
      operators.Sssp.weightedDistances(edges, seeds, SsspRounds)
    }),

    // ---- §2.8 deterministic sampling ----
    "sample_bernoulli" -> Q(Oracles.sampleBernoulli)((s, dir) =>
      Sampling.bernoulli(t(s, dir, "documents"), col("doc_id"), SampleRate, SampleSalt)
        .select(col("doc_id"), H.hash32(col("doc_id"), SampleSalt).as("h"))),
    "sample_stratified" -> Q(Oracles.sampleStratified)((s, dir) =>
      Sampling.stratifiedK(t(s, dir, "events"), Seq(col("event_type")),
          col("event_id"), StratumK, SampleSalt)
        .select(col("event_id"), col("event_type"))),
    "sample_weighted" -> Q(Oracles.sampleWeighted)((s, dir) => {
      // quality-weighted corpus downsampling: keep probability = qscore,
      // computed ONCE as a column (the filter predicate and the output
      // both reference the attribute, not a second evaluation)
      val d = t(s, dir, "documents")
        .withColumn("qscore", T.qualityScore(col("text")))
      Sampling.weighted(d, col("doc_id"), col("qscore"), SampleSalt)
        .select(col("doc_id"), col("qscore"))
    }),
    "sample_dsir" -> Q(Oracles.sampleDsir)((s, dir) => {
      // domain-matched data selection: score the whole corpus by hashed
      // n-gram importance ratio against the English subset as the
      // target domain, keep the top-K lookalikes
      val docs = t(s, dir, "documents")
      Sampling.dsirTopK(docs, docs.where(col("lang") === "en"),
        "doc_id", "text", DsirBuckets, DsirTopK)
    }),
    "sample_split" -> Q(Oracles.sampleSplit)((s, dir) =>
      // deterministic train/val/test assignment (90/5/5 permille hash
      // ranges): disjoint, exhaustive, stable under corpus growth
      Sampling.split(t(s, dir, "documents"), col("doc_id"), SplitSalt,
          SplitTrainPm, SplitValPm)
        .select(col("doc_id"), col("split"))),
    "sample_split_grouped" -> Q(Oracles.sampleSplitGrouped)((s, dir) =>
      // leakage-safe variant of sample_split: the hash key is the doc's
      // SOURCE domain, so a domain's docs can never straddle train/test
      // — near-duplicates cluster within domains, and splitting by doc
      // would leak them across the boundary
      Sampling.split(t(s, dir, "documents"), col("source"), GroupSplitSalt,
          SplitTrainPm, SplitValPm)
        .select(col("doc_id"), col("source"), col("split"))),
    "sample_mix_budget" -> Q(Oracles.sampleMixBudget)((s, dir) =>
      // pre-sampling mix plan: 170% of corpus char mass spread uniform
      // across sources, ≤2 epochs each, one water-filling redistribution
      Sampling.mixBudget(t(s, dir, "documents"), "source", col("n_chars"),
        PlanBudgetPct, PlanMaxEpochs)),
    "sample_mixture" -> Q(Oracles.sampleMixture)((s, dir) =>
      // domain-mixture curation: per-source keep-rates so the sample
      // approaches the target mixture under a char budget, rates capped
      // at availability (the quadratic target ramp exercises the cap)
      Sampling.mixtureSample(t(s, dir, "documents"), "source", col("doc_id"),
          col("n_chars"), MixTargetsPpm, MixBudgetPct, MixSalt)
        .select(col("doc_id"), col("source"), col("rate_ppm"))),

    // ---- §2.5 text analysis ----
    "text_vocab" -> Q(Oracles.textVocab)((s, dir) =>
      TextOps.vocabulary(t(s, dir, "documents"), "text", VocabTopN)
        .select(col("term"), col("n"), col("rank"))),
    "text_tfidf" -> Q(Oracles.textTfidf)((s, dir) =>
      TextOps.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", TfidfTopK)
        .select(col("doc_id"), col("term"), col("tfidf"), col("rk"))),
    "text_repetition" -> Q(Oracles.textRepetition)((s, dir) =>
      // Gopher-style boilerplate signals: within-doc duplicate-line and
      // top-bigram shares as integer ppm
      TextOps.repetitionSignals(t(s, dir, "documents"), "doc_id", "text", LineTokens)),
    "text_chunk" -> Q(Oracles.textChunk)((s, dir) =>
      TextOps.chunk(t(s, dir, "documents"), "doc_id", "text", ChunkSize, ChunkStride)),
    "text_dedup_lines" -> Q(Oracles.textDedupLines)((s, dir) =>
      TextOps.dedupLines(t(s, dir, "documents"), "doc_id", "text", LineTokens)),
    "text_oov" -> Q(Oracles.textOov)((s, dir) =>
      TextOps.oovRate(t(s, dir, "documents"), "doc_id", "text", VocabTopN)),
    "dedup_keep_best" -> Q(Oracles.dedupKeepBest)((s, dir) =>
      Dedup.keepBestInCluster(t(s, dir, "documents"), "doc_id", "text", JaccardMin)),
    "sample_ht_estimate" -> Q(Oracles.sampleHtEstimate)((s, dir) =>
      // corpus char-mass total estimated from the 1/8 salted-hash
      // sample — unbiased, replayable on any engine
      Sampling.htEstimate(t(s, dir, "documents"), col("doc_id"),
        col("n_chars"), HtRatePpm, HtSalt)),
    "text_url_dedup" -> Q(Oracles.textUrlDedup)((s, dir) => {
      // canonical-URL dedup: per doc a URL whose scheme / www / port /
      // tracking params / param order / fragment vary by id, while
      // (source, id div 4) fixes the underlying page — the census must
      // collapse every variant group to one canonical key
      val id = col("doc_id")
      val url = concat(
        when(id % 3 === 0, lit("https://"))
          .when(id % 3 === 1, lit("http://")).otherwise(lit("")),
        when(id % 4 === 0, lit("www.")).otherwise(lit("")),
        lit("site"), expr("(doc_id div 4) % 7").cast("string"), lit(".com"),
        when(id % 7 === 0, lit(":443")).otherwise(lit("")),
        lit("/a/"), expr("doc_id div 4").cast("string"),
        when(id % 5 === 0, lit("/")).otherwise(lit("")),
        when(id % 4 === 0, lit("?b=2&a=1"))
          .when(id % 4 === 1, lit("?a=1&b=2&utm_source=feed"))
          .when(id % 4 === 2, lit("?a=1&utm_campaign=x&b=2#frag"))
          .otherwise(lit("?b=2&a=1")))
      operators.UrlOps.urlDedup(
        t(s, dir, "documents").withColumn("url", url), "doc_id", "url")
    }),
    "text_domain_stats" -> Q(Oracles.textDomainStats)((s, dir) => {
      // host/domain-level curation: the documents table has no URL
      // column, so the query synthesizes a deterministic URL per doc
      // (scheme / www / multi-part-TLD / port / path / query variants —
      // exercising the whole expression-level parser), then groups
      // curation stats by registered domain and joins them back as
      // doc-level features
      val id = col("doc_id")
      val url = concat(
        when(id % 3 === 0, lit("https://"))
          .when(id % 3 === 1, lit("http://")).otherwise(lit("")),
        when(id % 4 === 0, lit("www.")).otherwise(lit("")),
        col("source"), lit("."),
        when(id % 5 === 0, lit("co.uk"))
          .when(id % 5 === 1, lit("org")).otherwise(lit("com")),
        when(id % 7 === 0, lit(":8080")).otherwise(lit("")),
        lit("/p/"), id.cast("string"),
        when(id % 2 === 0, lit("?ref=rss")).otherwise(lit("")))
      operators.UrlOps.domainStats(
        t(s, dir, "documents").withColumn("url", url), "doc_id", "url", "text")
    }),
    "dedup_prefix_filter" -> Q(Oracles.dedupPrefixFilter)((s, dir) =>
      // EXACT all-pairs token-Jaccard join (prefix + length filtering) —
      // the recall-lossless complement to dedup_minhash_lsh
      Dedup.prefixFilterJaccard(t(s, dir, "documents"), "doc_id", "text",
        JaccardMinNum, JaccardMinDen)),
    "q_heavy_hitters" -> Q(Oracles.qHeavyHitters)((s, dir) =>
      // exact frequent tokens via Misra–Gries candidates + exact verify
      Frequency.heavyHitters(
          t(s, dir, "documents").select(explode(T.tokens(col("text"))).as("tok")),
          col("tok"), HhDenom, HhMgK)
        .select(col("item").as("term"), col("n"), col("n_total"))),
    "text_token_count" -> Q(Oracles.textTokenCount)((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        T.tokenCount(col("text")).as("n_ws"), T.bpeTokenCount(col("text")).as("n_bpe"))),
    "text_langid" -> Q(Oracles.textLangId)((s, dir) => {
      val d = t(s, dir, "documents")
      val scores = T.langStopwords.map { case (l, ws) => T.stopwordHits(col("text"), ws).as(s"s_$l") }
      d.select((col("doc_id") +: (T.langId(col("text")).as("lang_pred") +: scores)): _*)
    }),
    "text_quality" -> Q(Oracles.textQuality)((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        T.tokenCount(col("text")).as("n_tokens"), T.qualityScore(col("text")).as("qscore"))),
    "text_readability" -> Q(Oracles.textReadability)((s, dir) =>
      // Flesch-style readability on the deterministic syllable proxy;
      // integer-divided e3 score so every engine agrees bit-for-bit
      t(s, dir, "documents").select(col("doc_id"),
        T.tokenCount(col("text")).as("n_words"),
        T.sentenceCount(col("text")).as("n_sentences"),
        T.syllableCount(col("text")).as("n_syllables"))
        .withColumn("flesch_e3",
          when(col("n_words") === 0, lit(null).cast("long"))
            .otherwise(expr("206835 - (1015 * n_words) div n_sentences" +
              " - (84600 * n_syllables) div n_words")))),
    "text_script_mix" -> Q(Oracles.textScriptMix)((s, dir) => {
      // Unicode script census + homoglyph smell: a tiny Cyrillic
      // presence inside otherwise-Latin text is the lookalike-spoofing
      // signature (pаypal); deterministic o→о injection supplies the
      // positives, the text_nfc synthesis pattern
      val d = t(s, dir, "documents").withColumn("t",
        when(col("doc_id") % HomoglyphMod === 0,
          translate(col("text"), "o", "\u043E")).otherwise(col("text")))
      val lat = T.charClassCount(col("t"), "\\p{IsLatin}")
      val cyr = T.charClassCount(col("t"), "\\p{IsCyrillic}")
      d.select(col("doc_id"), lat.as("n_latin"), cyr.as("n_cyrillic"),
          T.charClassCount(col("t"), "[0-9]").as("n_digit"))
        .withColumn("mixed_script", col("n_latin") > 0 && col("n_cyrillic") > 0)
        .withColumn("homoglyph_suspect",
          col("n_cyrillic") > 0 && col("n_cyrillic") * 10 < col("n_latin"))
    }),
    "text_source_cover" -> Q(Oracles.textSourceCover)((s, dir) =>
      // which sources to take next, by marginal vocabulary coverage —
      // greedy set cover with the classic (1−1/e) guarantee
      TextOps.sourceCover(t(s, dir, "documents"), "source", "text",
        SourceCoverK)),
    "text_burstiness" -> Q(Oracles.textBurstiness)((s, dir) => {
      // Church–Gale burstiness per term: mean occurrences per
      // CONTAINING doc (cf·10⁶ div df) for the top corpus terms —
      // separates topical words (bursty) from function words (flat)
      val perDoc = t(s, dir, "documents")
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      perDoc.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
        .orderBy(col("cf").desc, col("term").asc).limit(TopNPerGroup * 4)
        .select(col("term"), col("df"), col("cf"),
          expr("cf * 1000000 div df").as("burst_ppm"))
    }),
    "sample_balance" -> Q(Oracles.sampleBalance)((s, dir) => {
      // class-balanced downsample: every lang keeps exactly the
      // minority-class count of docs, chosen by salted hash rank —
      // deterministic, no RNG, no global sort (per-class windows)
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val k = broadcast(d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("k")))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("__h").asc, col("doc_id").asc)
      d.withColumn("__h", H.hash32(col("doc_id").cast("string"), EpochSalt))
        .withColumn("__rk", row_number().over(w))
        .crossJoin(k)
        .where(col("__rk") <= col("k"))
        .select(col("doc_id"), col("lang"))
    }),
    "text_boilerplate" -> Q(Oracles.textBoilerplate)((s, dir) =>
      // cross-doc line-frequency census: the text that survives
      // page-level dedup because each page differs elsewhere
      TextOps.boilerplate(t(s, dir, "documents"), "doc_id", "text",
        LineTokens, BoilerMinDocs)),
    "text_keyphrases" -> Q(Oracles.textKeyphrases)((s, dir) =>
      // per-doc top-k bigrams by corpus PMI over a hapax floor
      TextOps.keyphrases(t(s, dir, "documents"), "doc_id", "text",
        KeyphraseK, KeyphraseMinCount)),
    "text_nb_classify" -> Q(Oracles.textNbClassify)((s, dir) =>
      // Laplace-smoothed multinomial NB over the labeled lang column,
      // trained + resubstitution-scored in one plan; micro-nat integer
      // scores keep the argmax engine-exact
      TextOps.naiveBayes(t(s, dir, "documents"), "doc_id", "text", "lang")),
    "text_encoding_audit" -> Q(Oracles.textEncodingAudit)((s, dir) =>
      // per-source encoding health; deterministic corruption (U+FFFD on
      // doc_id≡0 mod 7, BEL on ≡0 mod 11) is injected query-side so the
      // audit has real positives to flag — the text_nfc synthesis pattern
      TextOps.encodingAudit(
        t(s, dir, "documents").withColumn("t", concat(col("text"),
          when(col("doc_id") % EncReplMod === 0, lit("\uFFFD"))
            .otherwise(lit("")),
          when(col("doc_id") % EncCtrlMod === 0, lit("\u0007"))
            .otherwise(lit("")))),
        col("source"), col("t"))),
    "text_fingerprint" -> Q(Oracles.textFingerprint)((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        T.fingerprint(col("text")).as("fp"), T.rollingHash(col("text")).as("roll"))),
    "text_nfc" -> Q(Oracles.textNfc)((s, dir) => {
      // Unicode canonicalization through the native graft_nfc expression:
      // a decomposed variant of each doc (every 'e' + combining acute
      // U+0301) must compose back byte-identical to the precomposed 'é'
      // replacement, and the codepoint count must shrink to the original
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("decomp", expr("replace(text, 'e', 'e\u0301')"))
      d.select(col("doc_id"),
        length(col("text")).cast("long").as("len_raw"),
        length(col("decomp")).cast("long").as("len_decomp"),
        length(T.nfc(col("decomp"))).cast("long").as("len_nfc"),
        (T.nfc(col("decomp")) === expr("replace(text, 'e', '\u00e9')"))
          .as("composed_ok"))
    }),
    "text_winnow" -> Q(Oracles.textWinnow)((s, dir) =>
      // winnowing (MOSS) fingerprint selection: positional substring-run
      // detection at ~2/(w+1) the gram density
      TextOps.winnow(t(s, dir, "documents"), "doc_id", "text", WinK, WinW, WinSalt)),
    "text_bpe_train" -> Q(Oracles.textBpeTrain)((s, dir) =>
      // BPE tokenizer training: the merge table after BpeMerges rounds
      TextOps.bpeTrain(t(s, dir, "documents"), "text", BpeMerges)._1),
    "text_bpe_vocab" -> Q(Oracles.textBpeVocab)((s, dir) =>
      // the trained vocabulary: frequency-weighted symbol histogram of
      // the post-merge state
      TextOps.bpeTrain(t(s, dir, "documents"), "text", BpeMerges)._2
        .select(col("freq"), explode(col("syms")).as("sym"))
        .groupBy(col("sym")).agg(sum(col("freq")).as("n"))),
    "text_feature_hash" -> Q(Oracles.textFeatureHash)((s, dir) =>
      // hashing-trick featurization: vocabulary-free stable feature ids,
      // sparse (doc, bucket, n) output
      TextOps.featureHash(t(s, dir, "documents"), "doc_id", "text",
        FeatureHashBuckets, FeatureHashSalt)),
    "text_bigram_pred" -> Q(Oracles.textBigramPred)((s, dir) =>
      // LM-shaped fluency signal: mean P(next|prev) under the corpus
      // bigram model, exact integer ppm (no ln — portable)
      TextOps.bigramPredictability(t(s, dir, "documents"), "doc_id", "text")),
    "text_pmi" -> Q(Oracles.textPmi)((s, dir) =>
      // collocation detection: PMI over the top-N adjacent token pairs
      TextOps.pmiBigrams(t(s, dir, "documents"), "text", PmiTopN)),
    "text_bm25" -> Q(Oracles.textBm25)((s, dir) =>
      // BM25 retrieval: top-k corpus docs per query doc, exact-integer
      // Okapi scoring (inverted-index aggregates + one term-keyed join)
      TextOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Bm25QueryMod, Bm25K)),
    "text_phrase_search" -> Q(Oracles.textPhraseSearch)((s, dir) =>
      // positional-postings phrase match: docs containing the phrase
      // contiguously, postings pruned to the phrase terms up front
      TextOps.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
        PhraseQuery)),
    "text_gopher_rules" -> Q(Oracles.textGopherRules)((s, dir) =>
      // published Gopher quality battery in exact integers: evidence
      // columns + per-rule flags + composite gate, all map-side
      TextOps.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        GopherMinWords, GopherMaxWords, GopherMinMeanLenX100,
        GopherMaxMeanLenX100, GopherStopwords, GopherMinStop,
        GopherMinAlphaPpm)),
    "text_jaccard_topk" -> Q(Oracles.textJaccardTopk)((s, dir) =>
      // set-overlap retrieval: exact shingle-Jaccard top-k through the
      // inverted shingle index (sparse candidates, integer ppm)
      TextOps.jaccardTopK(t(s, dir, "documents"), "doc_id", "text",
        Bm25QueryMod, Bm25K)),
    "text_rrf_fuse" -> Q(Oracles.textRrfFuse)((s, dir) => {
      // hybrid retrieval: reciprocal-rank fusion of the lexical (BM25)
      // and set-overlap (Jaccard) rankings — rank-only, exact integers.
      // Both rankers are EXACT (no champion cap), so the query set is
      // the fixed hash-order budget: exact retrieval over a corpus
      // fraction of queries is ∝ N² (measured 21× wall on 10× data);
      // the budget makes the fusion demo linear without touching its
      // semantics (per-query output identical to the full run).
      val docs = t(s, dir, "documents")
      TextOps.rrfFuse(Seq(
        TextOps.bm25TopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          queryBudget = AuditQueryBudget),
        TextOps.jaccardTopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          queryBudget = AuditQueryBudget)),
        Bm25K, RrfC)
    }),
    "text_jaccard_champion" -> Q(Oracles.textJaccardChampion)((s, dir) => {
      // bounded-work shingle-Jaccard: champion cap (sz asc = the exact
      // per-shingle impact order) for candidate generation + exact
      // full-set intersection rescore; M derived from corpus size by
      // Jaccard's OWN calibration (Params.jaccardChampM — r14 sweeps:
      // the BM25 formula read min recall 10%/0% at sf1/sf10, so the
      // set-overlap geometry needs ∝N uncapped M — a constant-factor
      // work cut, with MinHash-LSH as the asymptotic path). Queries ride the
      // FIXED hash-order budget (the r10 ANN-demo contract): a corpus-
      // fraction query set × a corpus-derived M made demo work ~N² —
      // measured 774 s at sf10; ≤ sf0.1 populations fit the budget, so
      // gate and small-SF benches are unchanged
      val docs = t(s, dir, "documents")
      TextOps.jaccardTopK(docs, "doc_id", "text",
        Bm25QueryMod, Bm25K, champM = jaccardChampM(docs.count()),
        queryBudget = AuditQueryBudget)
    }),
    "text_jaccard_champ_recall" -> Q(Oracles.textJaccardChampRecall)((s, dir) => {
      // recall@k of the champion Jaccard ranking vs the exact one
      val docs = t(s, dir, "documents")
      // one shingle build for both rankings (r15: the two jaccardTopK
      // calls each materialized an identical digest checkpoint)
      val sh = Some(TextOps.shingleDigests(docs, "doc_id", "text"))
      recallAtK(
        TextOps.jaccardTopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          digests = sh),
        TextOps.jaccardTopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          champM = jaccardChampM(docs.count()),
          // declared audit: it EXISTS to measure the champion ranking,
          // so the binding work gate degrades to the advisory line
          overrideWork = true, digests = sh))
    }),
    "text_bm25_champion" -> Q(Oracles.textBm25Champion)((s, dir) => {
      // bounded-work BM25: champion-list posting cap (impact-ordered
      // top-M docs per term) — query-time candidates ≤ |qterms|·M, the
      // linear-scale twin of the exact text_bm25 path; M derived from
      // corpus size (Params.bm25ChampM — per-scale, r12 §5.14).
      // Queries ride the FIXED hash-order budget (the r10 ANN-demo
      // contract): a corpus-fraction query set × a corpus-derived M
      // made demo work ~N² — measured 847 s at sf10; ≤ sf0.1
      // populations fit the budget, so gate and small-SF benches are
      // unchanged
      val docs = t(s, dir, "documents")
      TextOps.bm25TopK(docs, "doc_id", "text",
        Bm25QueryMod, Bm25K, champM = bm25ChampM(docs.count()),
        queryBudget = AuditQueryBudget)
    }),
    "text_bm25_champ_recall" -> Q(Oracles.textBm25ChampRecall)((s, dir) => {
      // what the champion cap costs: per-query recall@k of the champion
      // ranking against the exact BM25 top-k (integer ppm; mean + min)
      // exact half budgeted to the fixed hash-order query sample (the
      // champion half restricted to the SAME queries — recall is
      // per-query, so the sampled audit is the full audit's restriction)
      val docs = t(s, dir, "documents")
      // one tokenize/postings build for both rankings (r15)
      val idx = Some(TextOps.bm25Postings(docs, "doc_id", "text"))
      recallAtK(
        TextOps.bm25TopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          queryBudget = AuditQueryBudget, index = idx),
        TextOps.bm25TopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          champM = bm25ChampM(docs.count()), queryBudget = AuditQueryBudget,
          overrideWork = true, // declared audit (see text_jaccard_champ_recall)
          index = idx))
    }),
    "text_champ_recall_floor" -> Q(Oracles.textChampRecallFloor)((s, dir) => {
      // the champion recall FLOOR as a BINDING driver gate (the
      // q_approx_distinct certification pattern): Spark computes the
      // audit recall AND the meets_floor flag from the derived M; the
      // twin recomputes the recall exactly but ASSERTS the flag TRUE —
      // so a scale where the bm25ChampM calibration breaks hash-FAILS
      // the gate instead of relying on operators re-running RecallSweep
      // (r12 §5.14: the M=40 evidence silently collapsed at sf1)
      val docs = t(s, dir, "documents")
      // one tokenize/postings build for both rankings (r15)
      val idx = Some(TextOps.bm25Postings(docs, "doc_id", "text"))
      recallAtK(
        TextOps.bm25TopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          queryBudget = AuditQueryBudget, index = idx),
        TextOps.bm25TopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          champM = bm25ChampM(docs.count()), queryBudget = AuditQueryBudget,
          overrideWork = true, // declared CERTIFICATION gate
          index = idx))
        .select(col("n_queries"), col("mean_recall_ppm"),
          col("min_recall_ppm"),
          (col("min_recall_ppm") >= ChampRecallFloorPpm).as("meets_floor"))
    }),
    "text_jaccard_recall_floor" -> Q(Oracles.textJaccardRecallFloor)((s, dir) => {
      // the Jaccard champion's recall floor as a BINDING driver gate —
      // the text_champ_recall_floor pattern on the set-overlap ranking.
      // The r14 sweeps PROVED the BM25-by-analogy M broken (min recall
      // 10% at sf1, 0% at sf10 under bm25ChampM) — exactly the silent-
      // collapse class VERDICT r13 #1 predicted — so Jaccard derives
      // its own M (Params.jaccardChampM, measured 100% min recall at
      // four decades with ≥25% margin) and this gate hash-FAILS the
      // first scale where that calibration stops holding
      val docs = t(s, dir, "documents")
      // one shingle build for both rankings (r15)
      val sh = Some(TextOps.shingleDigests(docs, "doc_id", "text"))
      recallAtK(
        TextOps.jaccardTopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          queryBudget = AuditQueryBudget, digests = sh),
        TextOps.jaccardTopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          champM = jaccardChampM(docs.count()), queryBudget = AuditQueryBudget,
          overrideWork = true, // declared CERTIFICATION gate
          digests = sh))
        .select(col("n_queries"), col("mean_recall_ppm"),
          col("min_recall_ppm"),
          (col("min_recall_ppm") >= ChampRecallFloorPpm).as("meets_floor"))
    }),
    "text_jaccard_lsh_topk" -> Q(Oracles.textJaccardLshTopk)((s, dir) =>
      // the ASYMPTOTIC Jaccard retrieval path (VERDICT r14 #1): MinHash
      // band buckets (recall-tuned scheme, Params.LshTopk*) probed per
      // query, exact full-set rescore of bucket candidates, threshold
      // at the corpus' near-dup design τ, top-k per query — what the
      // binding championAdvisory hands a refused caller at the scale
      // where the champion's M ∝ N rescore costs 1202 s (sf100)
      TextOps.jaccardLshTopK(t(s, dir, "documents"), "doc_id", "text",
        Bm25QueryMod, Bm25K, LshTopkMinJacPpm, LshTopkK, LshTopkBands,
        queryBudget = AuditQueryBudget)),
    "text_jaccard_lsh_recall" -> Q(Oracles.textJaccardLshRecall)((s, dir) => {
      // what the band bucketing costs vs the exact THRESHOLDED truth
      // (the exact top-k restricted to jac_ppm ≥ τ — the near-dup
      // retrieval contract; sub-τ tail misses are the design, not a
      // defect): per-query recall@k, mean + min in exact ppm
      val docs = t(s, dir, "documents")
      // one shingle build for the exact truth AND the LSH rescore (r15)
      val sh = Some(TextOps.shingleDigests(docs, "doc_id", "text"))
      recallAtK(
        TextOps.jaccardTopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          queryBudget = AuditQueryBudget, digests = sh)
          .where(col("jac_ppm") >= LshTopkMinJacPpm),
        TextOps.jaccardLshTopK(docs, "doc_id", "text", Bm25QueryMod,
          Bm25K, LshTopkMinJacPpm, LshTopkK, LshTopkBands,
          queryBudget = AuditQueryBudget, digests = sh))
    }),
    "text_jaccard_lsh_floor" -> Q(Oracles.textJaccardLshFloor)((s, dir) => {
      // the LSH retrieval recall floor as a BINDING driver gate (the
      // text_jaccard_recall_floor pattern): Spark computes the audit
      // recall AND the meets_floor flag; the twin recomputes the recall
      // exactly but asserts the flag TRUE — the first corpus scale
      // where the band scheme stops reaching the calibrated floor
      // hash-FAILS instead of silently degrading (the jaccardChampM
      // lesson: every bounded-candidate retrieval path gets its own
      // per-scale floor gate)
      val docs = t(s, dir, "documents")
      // one shingle build for the exact truth AND the LSH rescore (r15)
      val sh = Some(TextOps.shingleDigests(docs, "doc_id", "text"))
      recallAtK(
        TextOps.jaccardTopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          queryBudget = AuditQueryBudget, digests = sh)
          .where(col("jac_ppm") >= LshTopkMinJacPpm),
        TextOps.jaccardLshTopK(docs, "doc_id", "text", Bm25QueryMod,
          Bm25K, LshTopkMinJacPpm, LshTopkK, LshTopkBands,
          queryBudget = AuditQueryBudget, digests = sh))
        .select(col("n_queries"), col("mean_recall_ppm"),
          col("min_recall_ppm"),
          (col("min_recall_ppm") >= JaccardLshRecallFloorPpm).as("meets_floor"))
    }),
    "text_jaccard_prefix_topk" -> Q(Oracles.textJaccardPrefixTopk)((s, dir) =>
      // the EXACT mid-τ retrieval path (r15): PPJoin prefix-filter
      // candidates touching the budgeted queries, verified on full
      // rank-encoded sets, per-query top-k at the 0.5 design τ —
      // 100% recall by construction at the τ where the r15 decade
      // sweeps proved NO LSH scheme holds a floor over this corpus'
      // j≈0.1 background (min recall 0% at sf10 under the first
      // band scheme) and the champion's certified M grows ∝N
      TextOps.jaccardPrefixTopK(t(s, dir, "documents"), "doc_id", "text",
        Bm25QueryMod, Bm25K, JaccardMinNum, JaccardMinDen,
        queryBudget = AuditQueryBudget)),
    "text_novelty" -> Q(Oracles.textNovelty)((s, dir) =>
      // per-doc share of shingles first seen in THIS doc — the
      // streaming-ingest novelty/re-crawl smell, digest-keyed
      TextOps.noveltyPerDoc(t(s, dir, "documents"), "doc_id", "text")),
    "text_heaps" -> Q(Oracles.textHeaps)((s, dir) =>
      // vocabulary-growth curve at fixed corpus prefixes — one pass via
      // term-first-document, no per-checkpoint count-distinct
      TextOps.heapsLaw(t(s, dir, "documents"), "doc_id", "text",
        HeapsCutPcts)),
    "text_zipf" -> Q(Oracles.textZipf)((s, dir) =>
      // rank-frequency power-law fit over the top vocabulary: OLS on
      // per-rank-rounded integer lns, exact moments, truncating ratios
      TextOps.zipfFit(t(s, dir, "documents"), "text", ZipfTopN)),
    "text_rank_metrics" -> Q(Oracles.textRankMetrics)((s, dir) => {
      // retrieval evaluation: score the BM25 ranking against the exact
      // shingle-Jaccard top-k as the relevance set — P@k, R@k, MRR, AP,
      // nDCG per query, all exact integers (per-rank discounts floored
      // individually, ratios truncating)
      // both the scored ranking and the relevance set are exact paths —
      // budgeted to the fixed hash-order query sample (metrics are
      // per-query rows, so sampled output = full output ∩ sample)
      val docs = t(s, dir, "documents")
      TextOps.rankMetrics(
        TextOps.bm25TopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          queryBudget = AuditQueryBudget),
        TextOps.jaccardTopK(docs, "doc_id", "text", Bm25QueryMod, Bm25K,
          queryBudget = AuditQueryBudget)
          .select(col("query_id"), col("doc_id")),
        Bm25K)
    }),
    "text_bpe_encode" -> Q(Oracles.textBpeEncode)((s, dir) => {
      // tokenize the corpus with the trained BPE: per-doc encoded length
      val docs = t(s, dir, "documents")
      TextOps.bpeEncodedLength(docs, "doc_id", "text",
        TextOps.bpeTrain(docs, "text", BpeMerges)._2)
    }),
    "text_pack" -> Q(Oracles.textPack)((s, dir) => {
      // pretraining sequence packing: concatenate docs in doc_id order,
      // cut fixed windows of PackChunkTokens — each doc maps to the
      // chunk range its global token interval [cum−n, cum) straddles.
      // The global cumsum is the two-phase GlobalRank shape (range
      // partition + offsets), NEVER a single-partition window.
      val c = PackChunkTokens
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), T.tokenCount(col("text")).as("n"))
      operators.GlobalRank.globalCumsum(toks, Seq(col("doc_id")), col("n"), "cum")
        .where(col("n") > 0)
        .select(col("doc_id"), (col("cum") - col("n")).as("st"), col("cum"))
        .select(col("doc_id"), col("st"), col("cum"),
          explode(sequence(expr(s"st div ${c}L"), expr(s"(cum - 1) div ${c}L")))
            .as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          (least(col("cum"), (col("chunk_id") + 1) * c)
            - greatest(col("st"), col("chunk_id") * c)).as("n_tokens"))
    }),

    // ---- §2.6 events ----
    "events_window_agg" -> Q(Oracles.eventsWindowAgg)((s, dir) =>
      EventOps.hourlyAgg(t(s, dir, "events"), "ts", "event_type", "value")),
    "events_sliding_window" -> Q(Oracles.eventsSlidingWindow)((s, dir) =>
      // hopping 1h windows every 15min — each event counted in exactly
      // size/hop windows via integer epoch arithmetic
      EventOps.slidingCounts(t(s, dir, "events"), "ts", "event_type",
        SlideSizeMs, SlideHopMs)),
    "events_sessionize" -> Q(Oracles.eventsSessionize)((s, dir) =>
      EventOps.sessionize(t(s, dir, "events"), "user_id", "ts", SessionGapMs)),
    "stream_sessionize_replay" -> Q(Oracles.streamSessionizeReplay)((s, dir) =>
      // the STREAMING sessionizer (fMGWS + event-time timeout) run to
      // completion on the static table via Trigger.AvailableNow and
      // sentinel-advanced watermark — its FINAL table must equal the
      // batch twin's sessions (driver-oracle'd; VERDICT r7 task #4)
      graft.streaming.StreamRun.sessionizeReplay(s, dir, SessionGapMs)),
    "stream_dedupe_replay" -> Q(Oracles.streamDedupeReplay)((s, dir) =>
      // the STREAMING watermark-bounded dedup fed every event TWICE in
      // two micro-batches; final table must be exactly one row per id
      graft.streaming.StreamRun.dedupeReplay(s, dir)),
    "stream_window_agg_replay" -> Q(Oracles.streamWindowAggReplay)((s, dir) =>
      // the STREAMING watermarked 1h tumbling aggregate run to
      // completion (sentinel-advanced watermark flushes every window);
      // final table must equal the batch GROUP BY twin
      graft.streaming.StreamRun.windowAggReplay(s, dir)),
    "stream_join_replay" -> Q(Oracles.streamJoinReplay(inner = true))((s, dir) =>
      // the STREAMING stream-stream interval join (inner) run to
      // completion; matches emit in-batch, final table must equal the
      // batch interval-join twin
      graft.streaming.StreamRun.joinReplay(s, dir)),
    "stream_left_join_replay" -> Q(Oracles.streamJoinReplay(inner = false))((s, dir) =>
      // the STREAMING LEFT-OUTER stream-stream join run to completion —
      // including the null-row-at-eviction path: two two-sided sentinel
      // files advance both watermarks then give eviction a batch to
      // fire in; final table must equal the batch LEFT JOIN twin
      graft.streaming.StreamRun.leftJoinReplay(s, dir)),
    "stream_idempotent_sink_replay" -> Q(Oracles.streamIdempotentSinkReplay)((s, dir) =>
      // merge-on-read idempotent sink run to completion: every batch
      // APPENDED verbatim (the table is staged twice = a redelivery,
      // and the replay asserts the sink holds both copies), read-side
      // key dedup restores exactly-once; must equal the events table
      graft.streaming.StreamRun.idempotentSinkReplay(s, dir)),
    "stream_enrich_replay" -> Q(Oracles.streamEnrichReplay)((s, dir) =>
      // stream-static enrichment run to completion (broadcast dim per
      // micro-batch, stateless; dim = event-type domain minus 'error'
      // so both match and null-row paths carry data); final table must
      // equal the batch LEFT JOIN twin
      graft.streaming.StreamRun.enrichReplay(s, dir)),
    "stream_topk_replay" -> Q(Oracles.streamTopkReplay)((s, dir) =>
      // the custom TopK Aggregator inside a streaming aggregation run
      // to completion over TWO parity-split micro-batches (cross-batch
      // buffer MERGE exercised); final per-type top-K must equal the
      // batch window twin
      graft.streaming.StreamRun.topkReplay(s, dir, TopNPerGroup)),
    "stream_cdc_replay" -> Q(Oracles.streamCdcReplay)((s, dir) =>
      // the STREAMING CDC ingestion loop (foreachBatch folds each
      // micro-batch into the snapshot via cdcApply) run to completion
      // over a three-seq change log staged as seq-ordered files; the
      // final snapshot must equal one global latest-op-wins fold
      graft.streaming.StreamRun.cdcReplay(s, dir)),
    "stream_kll_replay" -> Q(Oracles.qKllQuantiles)((s, dir) =>
      // the STREAMING bottom-k quantile sketch run to completion over
      // two parity micro-batches (cross-batch state MERGE exercised);
      // exact mergeable state ⇒ final estimates must equal the batch
      // q_kll_quantiles (shared oracle)
      graft.streaming.StreamRun.kllReplay(s, dir)),
    "stream_kmv_replay" -> Q(Oracles.qKmvDistinct)((s, dir) =>
      // the STREAMING KMV distinct sketch run to completion over two
      // parity micro-batches; final estimate must equal the batch
      // q_kmv_distinct (shared oracle)
      graft.streaming.StreamRun.kmvReplay(s, dir)),
    "stream_heavy_hitters_replay" -> Q(Oracles.qHeavyHitters)((s, dir) =>
      // the STREAMING Misra-Gries candidate summary run to completion
      // (two micro-batches, cross-batch counter fold), then the
      // documented exact-verify batch pass over the same corpus; the
      // per-shard retention guarantee makes the verified set equal the
      // batch q_heavy_hitters (shared oracle)
      graft.streaming.StreamRun.heavyHittersReplay(s, dir)),
    "stream_minhash_replay" -> Q(Oracles.streamMinhashReplay)((s, dir) =>
      // the STREAMING MinHash-LSH first-claimant detector run to
      // completion over two id-ordered micro-batches; candidates must
      // equal the per-band (min doc, later doc) twin
      graft.streaming.StreamRun.minhashReplay(s, dir)),
    "stream_drift_replay" -> Q(Oracles.streamDriftReplay)((s, dir) =>
      // the STREAMING chi-squared ingestion guard run to completion:
      // each parity micro-batch scored independently against the static
      // pre-split reference; per-batch pooled stats vs the twin
      graft.streaming.StreamRun.driftReplay(s, dir)),
    "stream_zscore_replay" -> Q(Oracles.eventsZscoreAlerts)((s, dir) =>
      // the STREAMING exact-integer z-score alert detector run to
      // completion over two time-split micro-batches (cross-batch state
      // fold, global per-key order preserved); alert set must equal the
      // batch events_zscore_alerts (shared oracle)
      graft.streaming.StreamRun.zscoreReplay(s, dir)),
    "stream_restart_replay" -> Q(Oracles.streamRestartReplay)((s, dir) =>
      // checkpoint-restart recovery as a hash gate: half the backlog
      // drains, the query stops, the rest lands, a second query resumes
      // on the SAME checkpoint — recovered state + exactly-once file
      // offsets or the final per-type aggregate hash-fails the twin
      graft.streaming.StreamRun.restartReplay(s, dir)),
    "stream_throttle_replay" -> Q(Oracles.streamThrottleReplay)((s, dir) =>
      // the STREAMING per-key cooldown throttle run to completion over
      // two time-split micro-batches (cross-batch last-passed anchors);
      // passed set must equal the batch per-key recurrence twin
      graft.streaming.StreamRun.throttleReplay(s, dir, ThrottleCooldownMs)),
    "stream_latedrop_replay" -> Q(Oracles.streamLateDropReplay)((s, dir) =>
      // watermark late-drop observability as a HASH gate (§2.6 row 33n,
      // VERDICT r14 #7): a sentinel advances the watermark past every
      // real timestamp, a deliberately late frame follows, and the
      // windowed aggregation must drop AND COUNT exactly those rows —
      // the twin recomputes the staged-late count and asserts equality
      graft.streaming.StreamRun.lateDropReplay(s, dir)),
    "events_sessionize_typed" -> Q(Oracles.eventsSessionize)((s, dir) => {
      // the SAME sessions through the typed Dataset[Event] surface —
      // flatMapGroups closure instead of analytic windows; shares the
      // untyped query's oracle, so typed-API parity is driver-checked
      import s.implicits._
      EventOps.sessionizeTyped(
        t(s, dir, "events").as[graft.streaming.EventStreams.Event],
        SessionGapMs)
    }),
    "q_sliding_distinct" -> Q(Oracles.qSlidingDistinct)((s, dir) =>
      // rolling 7-day distinct users (WAU), exact — ×7 window explode
      EventOps.slidingDistinct(t(s, dir, "events"),
        expr("unix_millis(ts) div 86400000"), col("user_id"),
        SlidingWindowDays)),
    "q_kmv_sliding" -> Q(Oracles.qKmvSliding)((s, dir) =>
      // same rolling windows from per-day KMV sketch state — the
      // bounded-state form: facts shuffle once into day sketches, each
      // window merges 7 arrays of 64 longs
      Sketches.kmvSlidingDistinct(t(s, dir, "events"),
        expr("unix_millis(ts) div 86400000"), col("user_id"),
        SlidingWindowDays, KmvK, KmvSalt)),
    "q_kll_sliding" -> Q(Oracles.qKllSliding)((s, dir) =>
      // rolling 7-day value percentiles from per-day quantile-sketch
      // state — the bounded-state rolling p50/p95 ops metric
      operators.QuantileSketch.slidingQuantiles(t(s, dir, "events"),
        expr("unix_millis(ts) div 86400000"), col("event_id"),
        cents(col("value")), SlidingWindowDays, KllK, KllSalt, KllPs)),
    "events_extract" -> Q(Oracles.eventsExtract)((s, dir) =>
      EventOps.extractIntField(t(s, dir, "events"), "props", "k")
        .select(col("event_id"), col("k"))),
    "events_json_parse" -> Q(Oracles.eventsJsonParse)((s, dir) =>
      // structured JSON parse (codegen'd Jackson) — the robust form of
      // the regex extraction above for nested/typed payloads
      t(s, dir, "events").select(col("event_id"),
        from_json(col("props"), "k LONG", java.util.Map.of[String, String]())
          .getField("k").as("k"))),
    "events_bursts" -> Q(Oracles.eventsBursts)((s, dir) =>
      // alerting: hours where a type's count doubles its trailing
      // observed-hour baseline, integer cross-multiplied
      EventOps.bursts(t(s, dir, "events"), "event_type", "ts",
        BurstTrailHours, BurstK, BurstMinTrail)),
    "events_attribution" -> Q(Oracles.eventsAttribution)((s, dir) =>
      // linear multi-touch: clicks in the 30min window before a purchase
      // split its credit equally, exact integer ppm
      EventOps.attribution(t(s, dir, "events"), "user_id", "ts", "event_type",
        AsofTarget, AsofMatch, SessionGapMs)),
    "events_attribution_ushaped" -> Q(Oracles.eventsAttributionUShaped)((s, dir) =>
      // 40/20/40 position-based credit: first + last touch anchor,
      // middles split exactly (deterministic truncated shares)
      EventOps.attributionUShaped(t(s, dir, "events"), "user_id", "ts",
        "event_type", AsofTarget, AsofMatch, SessionGapMs)),
    "etl_fk_audit" -> Q(Oracles.etlFkAudit)((s, dir) => {
      // referential-integrity census over the star, plus one
      // deliberately-broken demo relation (parent limited to even part
      // keys) so orphan accounting is exercised, not just asserted zero
      val li = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
      Audit.fkAudit(Seq(
        ("lineitem.l_orderkey->orders", li, col("l_orderkey"),
          orders, col("o_orderkey")),
        ("orders.o_custkey->customer", orders, col("o_custkey"),
          t(s, dir, "customer"), col("c_custkey")),
        ("lineitem.l_partkey->part_even", li, col("l_partkey"),
          t(s, dir, "part").where(col("p_partkey") % 2 === 0), col("p_partkey"))))
    }),
    "q_lift_table" -> Q(Oracles.qLiftTable)((s, dir) =>
      // decile lift/PR of the quality score against a token label: does
      // the top decile concentrate the docs that mention the token
      Quality.liftTable(t(s, dir, "documents"),
        round(T.qualityScore(col("text")) * 10000).cast("long"),
        array_contains(T.tokens(col("text")), LiftLabelToken),
        col("doc_id"), LiftBuckets)),
    "events_paths" -> Q(Oracles.eventsPaths)((s, dir) =>
      // top pre-purchase event-type journeys inside the session window
      EventOps.conversionPaths(t(s, dir, "events"), "user_id", "ts",
        "event_type", AsofTarget, SessionGapMs, PathTopK)),
    "events_growth" -> Q(Oracles.eventsGrowth)((s, dir) => {
      // audience growth curve: per week the first-seen users and the
      // running total of uniques to date — the week table is bounded,
      // so the cumulative window is the histogramQuantiles idiom
      val firsts = t(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts) div 604800000").as("wk"))
        .groupBy(col("user_id")).agg(min(col("wk")).as("wk"))
        .groupBy(col("wk")).agg(count(lit(1)).as("new_users"))
      import org.apache.spark.sql.expressions.Window
      firsts.withColumn("cum_users",
        sum(col("new_users")).over(
          Window.partitionBy(lit(0)).orderBy(col("wk").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }),
    "events_stickiness" -> Q(Oracles.eventsStickiness)((s, dir) =>
      // DAU/WAU/MAU engagement census with the DAU/MAU ratio — three
      // trailing windows out of one offset explode + one aggregate
      EventOps.stickiness(t(s, dir, "events"), "user_id", "ts",
        StickyWauDays, StickyMauDays)),
    "events_rfm" -> Q(Oracles.eventsRfm)((s, dir) =>
      // recency/frequency/monetary quintile segmentation — boundaries
      // are exact equi-depth ranks via GlobalRank, never a global ntile
      EventOps.rfm(t(s, dir, "events"), "user_id", "ts", "value")),
    "events_attribution_decay" -> Q(Oracles.eventsAttributionDecay)((s, dir) =>
      // recency-weighted multi-touch: credit halves per 5 min of age,
      // exact power-of-two ladder — the e^-λt that hash-matches
      EventOps.attributionDecay(t(s, dir, "events"), "user_id", "ts",
        "event_type", AsofTarget, AsofMatch, SessionGapMs, AttrHalflifeMs)),
    "events_pivot" -> Q(Oracles.eventsPivot)((s, dir) =>
      EventOps.dailyPivot(t(s, dir, "events"), "ts", "event_type", EventTypes)),
    "events_asof" -> Q(Oracles.eventsAsof)((s, dir) =>
      EventOps.asofPriorEvent(t(s, dir, "events"), "user_id", "ts", "event_type",
        AsofTarget, AsofMatch)),
    "events_nearest" -> Q(Oracles.eventsNearest)((s, dir) =>
      // nearest click to each purchase in EITHER direction — two frame
      // scans on one per-user sort, ties to the prior event
      EventOps.nearestEvent(t(s, dir, "events"), "user_id", "ts", "event_type",
        AsofTarget, AsofMatch)),
    "events_attribution_markov" -> Q(Oracles.eventsMarkov)((s, dir) =>
      // removal-effect attribution: first-order session chain absorbed
      // at the first purchase; channel credit = conversion-probability
      // drop when the channel is removed (ppm fixed-point iteration)
      EventOps.markovAttribution(t(s, dir, "events"), "user_id", "ts",
        "event_type", SessionGapMs, MarkovConv, MarkovChannels, MarkovSteps)),
    "events_transitions" -> Q(Oracles.eventsTransitions)((s, dir) =>
      // within-session Markov transition counts — one user-keyed window
      // pass, no session ids materialized
      EventOps.transitionMatrix(t(s, dir, "events"), "user_id", "ts", "event_type",
        SessionGapMs)),
    "events_funnel" -> Q(Oracles.eventsFunnel)((s, dir) =>
      // compare step times in epoch-ms (the events table's portable
      // granularity — raw ns/us timestamps truncate differently per engine)
      EventOps.funnel(t(s, dir, "events").withColumn("ts_ms", unix_millis(col("ts"))),
        "user_id", "ts_ms", "event_type", FunnelSteps)),
    "events_funnel_latency" -> Q(Oracles.eventsFunnelLatency)((s, dir) =>
      // click→…→purchase wall time for full-funnel completers, exact
      // ms quartiles via the range-partitioned rank (no global window)
      EventOps.funnelLatency(t(s, dir, "events"), "user_id", "ts",
        "event_type", FunnelSteps)),

    // ---- §2.7 multimodal ----
    "multimodal_features" -> Q(Oracles.multimodalFeatures)((s, dir) => {
      // binary columns + typed metadata through the REAL codecs: mixed
      // PNG/WAV/GIF payloads, decode on the executor, per-media
      // features. Hash-checked (r10): the twin compares against an
      // expected-value fixture computed GENERATION-SIDE (raster/sample
      // arithmetic, no decoder) — matching checksums prove the
      // encode→decode roundtrip reproduced the content bit-exactly,
      // not merely that the query ran twice.
      val docs = t(s, dir, "documents")
      Multimodal.exportExpectedFeatures(docs, expFeatRoot(dir))
      Multimodal.featuresFromDocuments(s, docs)
    }),
    "src_binaryfile_ingest" -> Q(Oracles.srcBinaryfileIngest)((s, dir) => {
      // raw multimodal ingestion: materialize a deterministic PNG file
      // tree once (executor-side, idempotent) and read it back through
      // Spark's binaryFile source — path/length metadata from the
      // source, pixel dimensions from the REAL decode. The fixture is
      // bounded to BinSrcMaxId files: the query exercises the plumbing
      // (glob filter, per-file rows, binary content column), not
      // file-count throughput (see Sources.readBinaryFiles on why a
      // corpus takes this hop exactly once).
      import s.implicits._
      val media = Multimodal.mediaFromDocumentsPng(
        t(s, dir, "documents").where(col("doc_id") < BinSrcMaxId))
      val root = binsrcRoot(dir)
      Multimodal.materializeTree(media, root, "png")
      sources.Sources.readBinaryFiles(s, root, "media_*.png")
        .select(regexp_extract(col("path"), "media_(\\d+)\\.png$", 1)
            .cast("long").as("media_id"),
          col("length").as("n_bytes"), col("content"))
        .as[(Long, Long, Array[Byte])]
        .map { case (id, n, bytes) =>
          val (w, h) = multimodal.ImageCodec.decodePng(bytes)
            .map(t => (t._1.toLong, t._2.toLong)).getOrElse((-1L, -1L))
          (id, n, w, h)
        }.toDF("media_id", "n_bytes", "width", "height")
    }),
    "multimodal_cdc_chunks" -> Q(Oracles.multimodalCdcChunks)((s, dir) => {
      // chunk-level dedup census over real binary payloads (PNG/WAV/
      // GIF): content-defined boundaries → content-key groupBy — how
      // much payload mass dedups away without any pairwise byte
      // compare. The census keys on the exact chunk bytes (hex) rather
      // than their md5 so the DuckDB twin can replay it: the payloads
      // are exported once as exploded (media_id, i, b) rows, and the
      // twin recomputes the rolling-hash cut rule in modular
      // arithmetic (h mod 2^maskBits is exact because 2^maskBits
      // divides 2^64) plus a recursive cut staircase — boundary
      // placement, not just aggregation, is oracle-checked. The md5
      // form stays on the operator (CdcChunk) with its own spec.
      import s.implicits._
      val media = Multimodal.mediaFromDocumentsMixed(t(s, dir, "documents"))
      Multimodal.exportPayloadBytes(media, cdcBytesRoot(dir))
      val chunks = Multimodal.cdcChunks(
        media, CdcWindow, CdcMaskBits, CdcMinLen, CdcMaxLen).toDF()
      chunks.join(media.toDF().select(col("media_id"), col("payload")), "media_id")
        .select(col("media_id"), col("length"),
          lower(hex(expr(
            "substring(payload, cast(offset + 1 as int), cast(length as int))")))
            .as("chunk_hex"))
        .groupBy(col("chunk_hex"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("media_id")).as("n_media"),
          max(col("length")).as("chunk_bytes"))
    }),
    "multimodal_resize" -> Q(Oracles.multimodalResize)((s, dir) => {
      // REAL image resize, oracle-gated (r13, VERDICT r12 #5): PNG
      // renders → ImageIO decode → DEFINED floor-NN rescale → PNG
      // re-encode → ImageIO decode of the RESIZED payload; the twin
      // compares the decoded pixel crc against the generation-side
      // expected-resize fixture (raster arithmetic + the same integer
      // sample map, no codec) — a hash match proves the whole
      // decode→rescale→re-encode roundtrip, not that the query ran twice
      import s.implicits._
      val docs = t(s, dir, "documents")
      Multimodal.exportExpectedResize(docs, ResizeTargetW, ResizeTargetH,
        expResizeRoot(dir))
      Multimodal.resizeImages(Multimodal.mediaFromDocumentsPng(docs),
          ResizeTargetW, ResizeTargetH)
        .map { r =>
          val (w, h, crc) = multimodal.ImageCodec.decodePng(r.payload)
            .map(t => (t._1.toLong, t._2.toLong, t._3)).getOrElse((-1L, -1L, -1L))
          (r.media_id, w, h, crc)
        }.toDF("media_id", "width", "height", "pix_crc")
    }),
    "multimodal_frame_sample" -> Q(Oracles.multimodalFrameSample)((s, dir) => {
      // REAL GIF frame sampling, oracle-gated (r13, VERDICT r12 #5):
      // animated-GIF payloads → JVM demux → strided frames with decoded
      // dims + pixel crc; the twin reads the generation-side
      // expected-frame fixture (per-frame raster arithmetic, no
      // demuxer) — every sampled frame's content is independently pinned
      val docs = t(s, dir, "documents")
      Multimodal.exportExpectedFrameSamples(docs, FrameSampleStride,
        expFramesRoot(dir))
      Multimodal.frameSample(Multimodal.mediaFromDocumentsGif(docs),
        FrameSampleBytes, FrameSampleStride)
    }),
    "multimodal_png_codec" -> Q(Oracles.multimodalPngCodec)((s, dir) => {
      // §2.7 row 35 as a DIRECT driver gate (r14, VERDICT r13 #5):
      // every doc renders a PNG and the REAL ImageIO decode must
      // reproduce dims AND pixel crc against the generation-side
      // raster-arithmetic fixture; `decoded` is computed from the
      // actual decode and asserted TRUE by the twin, so a silent
      // codec fallback hash-fails instead of degrading quietly
      import s.implicits._
      val docs = t(s, dir, "documents")
      Multimodal.exportExpectedPng(docs, expPngRoot(dir))
      Multimodal.mediaFromDocumentsPng(docs).map { r =>
        multimodal.ImageCodec.decodePng(r.payload) match {
          case Some((w, h, crc)) => (r.media_id, w.toLong, h.toLong, crc, true)
          case None => (r.media_id, -1L, -1L, -1L, false)
        }
      }.toDF("media_id", "width", "height", "pix_crc", "decoded")
    }),
    "multimodal_wav_codec" -> Q(Oracles.multimodalWavCodec)((s, dir) => {
      // §2.7 row 35c as a DIRECT driver gate (r14, VERDICT r13 #5):
      // every doc synthesizes PCM, RIFF-encodes, and the REAL
      // javax.sound decode must reproduce rate, sample count AND
      // sample crc against the synth-parameter fixture; `decoded`
      // asserted TRUE by the twin
      import s.implicits._
      val docs = t(s, dir, "documents")
      Multimodal.exportExpectedWav(docs, expWavRoot(dir))
      Multimodal.mediaFromDocumentsWav(docs).map { r =>
        multimodal.AudioCodec.decodeWav(r.payload) match {
          case Some((rate, n, crc)) => (r.media_id, rate.toLong, n, crc, true)
          case None => (r.media_id, -1L, -1L, -1L, false)
        }
      }.toDF("media_id", "sample_rate", "n_samples", "pcm_crc", "decoded")
    }),
    "multimodal_image_neardup" -> Q(Oracles.multimodalImageNeardup)((s, dir) => {
      // image near-dup over real PNG decode: every doc renders with a
      // one-pixel-perturbed twin; aHash signatures feed the shared
      // Dedup.signaturePairs kernel (equal-signature clique collapse +
      // Manku C(6,3) block-triple probe) to find them.
      // Hash-checked (r10): expected signatures computed from the gray
      // raster arithmetic (no codec) are staged as a fixture and the
      // DuckDB twin re-derives the whole pigeonhole pair table from
      // them — decode→aHash→pair is verified end-to-end, the PNG
      // roundtrip included.
      val docs = t(s, dir, "documents")
      Multimodal.exportExpectedTwinSignatures(docs, 16, 12, expAhashRoot(dir))
      Multimodal.imageNearDup(
        Multimodal.mediaFromDocumentsPngTwins(docs, 16, 12),
        Params.SimhashMaxDist)
    }),
    "multimodal_image_neardup_diverse" -> Q(Oracles.multimodalImageNeardupDiverse)((s, dir) => {
      // the same decode→aHash→pair pipeline on the REALISTIC-DIVERSITY
      // renders (md5-raster per doc — a uniform draw of the aHash
      // space): the pair set is ~one twin pair per doc, OUTPUT-SPARSE
      // and ~linear in N, so this census row measures the engine where
      // the text-raster row measures its output-bound stress case
      val docs = t(s, dir, "documents")
      Multimodal.exportExpectedTwinSignaturesDiverse(docs, 16, 12, expAhashDivRoot(dir))
      Multimodal.imageNearDup(
        Multimodal.mediaFromDocumentsPngTwinsDiverse(docs, 16, 12),
        Params.SimhashMaxDist)
    }),
  )
}
