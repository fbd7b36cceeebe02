package graft

import Params._
import graft.functions.HashFunctions

/** DuckDB oracle SQL for every SQL-expressible query in [[SparkEntry]].
  *
  * Portability contract (SURVEY.md §6): every value the Spark side emits is
  * either a raw column, an exact-integer derivation (`CAST(FLOOR(x*100) AS
  * BIGINT)` money-cents, epoch-ms, counts), an md5-derived digest, or a
  * `round(_, 4)` double — so DuckDB reproduces results bit-for-bit.
  * The big LSH/simhash oracles are *generated* from the same constants in
  * [[Params]] that drive the Spark plans.
  */
object Oracles {

  private val hex = "0123456789abcdef"

  /** documents tokens CTE (empties filtered, same as TextFunctions.tokens). */
  private val toksCte =
    "toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents)"

  /** word n-gram shingles CTE (same as TextFunctions.shingles at n). */
  private def shingCteFor(n: Int): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) "ts[i]" else s"ts[i+$j]").mkString(" || ' ' || ")
    s"shing AS (SELECT doc_id, list_transform(range(1, greatest(len(ts) - ${n - 2}, 1)), i -> $parts) AS sh FROM toks)"
  }

  private val shingCte = shingCteFor(2)

  /** minhash signature + LSH band CTEs, generated from the SAME constants
    * ([[Params]], [[HashFunctions.minhashCoeffs]]) as the Spark plan:
    * one md5 per shingle → 60-bit hex prefix mod P → k affine min-hashes
    * → base-31 integer band keys.
    */
  private def minhashCtes: String = minhashCtesFor(2)

  private def minhashCtesFor(shingleN: Int, k: Int = MinhashK,
                             bands: Int = MinhashBands): String = {
    val rows = k / bands
    val P = HashFunctions.MinhashP
    val hex15 = (0 until 15).map(j => s"(instr('$hex', substr(md5(t), ${j + 1}, 1)) - 1)")
      .reduce((acc, d) => s"($acc * 16 + $d)")
    val mhs = HashFunctions.minhashCoeffs(k).zipWithIndex
      .map { case ((a, b), i) => s"min((hb * $a + $b) % $P) AS mh$i" }.mkString(", ")
    val bandSel = (0 until bands).map { b =>
      val bk = (0 until rows).map(r => s"mh${b * rows + r}")
        .reduce((acc, m) => s"($acc * 31 + $m)")
      s"SELECT doc_id, $b AS band_id, $bk AS bk FROM sig"
    }.mkString(" UNION ALL ")
    s"""$toksCte, ${shingCteFor(shingleN)},
       |tok AS (SELECT doc_id, unnest(sh) AS t FROM shing),
       |hb AS (SELECT doc_id, CAST($hex15 AS BIGINT) % $P AS hb FROM tok),
       |sig AS (SELECT doc_id, $mhs FROM hb GROUP BY doc_id),
       |bands AS ($bandSel)""".stripMargin
  }

  private val candSelect =
    "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b " +
      "ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id"

  def dedupMinhashLsh: String = s"WITH ${minhashCtes} $candSelect"

  /** Same LSH pipeline over trigram shingles — n is the recall dial of
    * the shingling stage (larger n = stricter duplicates).
    */
  def dedupMinhashN3: String = s"WITH ${minhashCtesFor(3)} $candSelect"

  /** Streaming MinHash-LSH first-claimant twin
    * ([[graft.streaming.StreamRun.minhashReplay]]): docs arrive in
    * doc_id order, so each band's claimant is its MIN doc_id and every
    * later member emits one candidate row per shared band — per
    * (band_id, bk), (min doc, other doc) for all others.
    */
  def streamMinhashReplay: String =
    s"""WITH $minhashCtes,
       |fc AS (SELECT band_id, bk, min(doc_id) AS doc_a
       |  FROM bands GROUP BY 1, 2)
       |SELECT CAST(fc.doc_a AS BIGINT) AS doc_a,
       |  CAST(b.doc_id AS BIGINT) AS doc_b,
       |  CAST(b.band_id AS BIGINT) AS band_id, CAST(b.bk AS BIGINT) AS bk
       |FROM fc JOIN bands b
       |  ON b.band_id = fc.band_id AND b.bk = fc.bk
       |  AND b.doc_id > fc.doc_a""".stripMargin

  /** CTE chain ending in `pairs(doc_a, doc_b, jaccard)` — the verified
    * near-dup pairs, reused by the jaccard, clustering, and cleaning
    * oracles.
    */
  private def jaccardPairsCtes: String =
    s"""${minhashCtes},
       |cand AS ($candSelect),
       |dsh AS (SELECT doc_id, list_distinct(sh) AS s FROM shing),
       |g AS (SELECT doc_id, unnest(s) AS gm FROM dsh),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni FROM cand c
       |  JOIN g x ON x.doc_id = c.doc_a JOIN g y ON y.doc_id = c.doc_b AND x.gm = y.gm
       |  GROUP BY c.doc_a, c.doc_b),
       |pairs AS (SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT c.doc_a, c.doc_b,
       |    round(CAST(i.ni AS DOUBLE) / (CAST(sa.n + sb.n AS DOUBLE) - CAST(i.ni AS DOUBLE)), 4) AS jaccard
       |  FROM cand c JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN sizes sa ON sa.doc_id = c.doc_a JOIN sizes sb ON sb.doc_id = c.doc_b)
       |WHERE jaccard >= $JaccardMin)""".stripMargin

  def dedupNgramJaccard: String =
    s"WITH $jaccardPairsCtes SELECT doc_a, doc_b, jaccard FROM pairs"

  /** LSH-recall twin: the verified LSH pairs vs the exact PPJoin truth
    * at the same rational threshold, both restricted to pairs TOUCHING
    * the fixed hash-order probe sample (`lsids` —
    * [[graft.operators.Sampling.hashOrderIds]]'s SQL replay; at sf0.01
    * the budget covers every doc, so this twin certifies the full
    * audit). A rounded-boundary found-pair can legitimately miss the
    * exact truth set; recall counts only the intersection, so the
    * ratio stays honest.
    */
  def dedupLshRecall: String =
    s"""WITH $jaccardPairsCtes,
       |lsids AS (SELECT doc_id FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $LshAuditProbeBudget),
       |tsets AS (SELECT doc_id, list_distinct(sh) AS s, len(list_distinct(sh)) AS sz
       |  FROM shing WHERE len(list_distinct(sh)) > 0),
       |truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM tsets a JOIN tsets b ON a.doc_id < b.doc_id
       |    AND a.sz * $JaccardMinDen >= b.sz * $JaccardMinNum
       |    AND b.sz * $JaccardMinDen >= a.sz * $JaccardMinNum
       |  WHERE len(list_intersect(a.s, b.s)) * $JaccardMinDen
       |    >= (a.sz + b.sz - len(list_intersect(a.s, b.s))) * $JaccardMinNum
       |    AND (a.doc_id IN (SELECT doc_id FROM lsids)
       |      OR b.doc_id IN (SELECT doc_id FROM lsids))),
       |f AS (SELECT doc_a, doc_b FROM pairs
       |  WHERE doc_a IN (SELECT doc_id FROM lsids)
       |    OR doc_b IN (SELECT doc_id FROM lsids))
       |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       |  CAST((SELECT count(*) FROM f) AS BIGINT) AS n_found,
       |  CAST((SELECT count(*) FROM truth t JOIN f
       |    ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b) AS BIGINT) AS n_hit,
       |  CAST(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1000000
       |    ELSE (SELECT count(*) FROM truth t JOIN f
       |      ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b) * 1000000
       |      // (SELECT count(*) FROM truth) END AS BIGINT) AS recall_ppm""".stripMargin

  /** Connected components of the verified near-dup graph: cluster id =
    * min doc_id reachable. Recursive CTE (DuckDB) ≡ the Spark side's
    * iterative min-label propagation.
    */
  def dedupCluster: String =
    s"""WITH RECURSIVE $jaccardPairsCtes,
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
       |SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u""".stripMargin

  /** Quality-ranked cluster representative: same recursive-CTE CC as
    * [[dedupCluster]], then pick each cluster's best-quality member
    * (rank on the round-4 score, ties → smallest id).
    */
  def dedupKeepBest: String = {
    s"""WITH RECURSIVE $jaccardPairsCtes,
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
       |cc AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
       |q AS (SELECT d.doc_id,
       |  $qualityExprSql AS q
       |  FROM documents d JOIN toks ON toks.doc_id = d.doc_id),
       |sc AS (SELECT cc.cluster_id, cc.doc_id, q.q,
       |  row_number() OVER (PARTITION BY cc.cluster_id ORDER BY q.q DESC, cc.doc_id) AS rk
       |  FROM cc JOIN q USING (doc_id))
       |SELECT cluster_id, min(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
       |  min(CASE WHEN rk = 1 THEN q END) AS keep_q,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM sc GROUP BY cluster_id""".stripMargin
  }

  /** OOV-rate twin: corpus top-N vocabulary, per-doc unmatched-token
    * counts via LEFT JOIN.
    */
  def textOov: String =
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(ts) AS term FROM toks),
       |vc AS (SELECT term FROM (
       |  SELECT term, count(*) AS n FROM tok GROUP BY term
       |  ORDER BY n DESC, term LIMIT $VocabTopN))
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(count(CASE WHEN v.term IS NULL THEN 1 END) AS BIGINT) AS n_oov,
       |  round(CAST(count(CASE WHEN v.term IS NULL THEN 1 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 4) AS oov_rate
       |FROM tok t LEFT JOIN vc v ON v.term = t.term GROUP BY t.doc_id""".stripMargin

  /** C4-style cleaning: quality threshold + drop non-canonical near-dups
    * (any doc that has a verified duplicate with a smaller id).
    */
  def textPipeline: String = {
    val langs = functions.TextFunctions.langStopwords.map(_._1)
    val scoreCols = functions.TextFunctions.langStopwords
      .map { case (l, ws) => s"CAST(${hits(ws)} AS BIGINT) AS s_$l" }.mkString(", ")
    val m = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val cases = langs.dropRight(1).map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ")
    val qscore = qualityExprSql
    s"""WITH $jaccardPairsCtes,
       |sc AS (SELECT doc_id, $scoreCols FROM toks)
       |SELECT doc_id, qscore, lang_pred FROM (
       |  SELECT d.doc_id, $qscore AS qscore, CASE $cases ELSE '${langs.last}' END AS lang_pred
       |  FROM documents d JOIN toks ON toks.doc_id = d.doc_id JOIN sc ON sc.doc_id = d.doc_id
       |  WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs))
       |WHERE qscore >= $CleanMinQuality""".stripMargin
  }

  /** Curation-certificate twin of the `text_curation_e2e` composition:
    * pairs over exact-dedup survivors = full-corpus pairs restricted to
    * survivor endpoints (signatures are per-doc and exact dups share
    * identical shingle sets).
    */
  def textCurationE2e: String = {
    val trainThr = SplitTrainPm * 4294967296L / 1000L
    val valThr = (SplitTrainPm + SplitValPm) * 4294967296L / 1000L
    val h = hex8Expr(s"('$SplitSalt:' || CAST(doc_id AS VARCHAR))")
    s"""WITH $jaccardPairsCtes,
       |ex AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |nd AS (SELECT doc_id FROM ex WHERE doc_id NOT IN (
       |  SELECT doc_b FROM pairs
       |  WHERE doc_a IN (SELECT doc_id FROM ex)
       |    AND doc_b IN (SELECT doc_id FROM ex))),
       |qv AS (SELECT d.doc_id, $qualityExprSql AS qscore
       |  FROM documents d JOIN toks ON toks.doc_id = d.doc_id),
       |q AS (SELECT nd.doc_id FROM nd JOIN qv USING (doc_id)
       |  WHERE qscore >= $CleanMinQuality),
       |sp AS (SELECT CASE WHEN hh < $trainThr THEN 'train'
       |    WHEN hh < $valThr THEN 'val' ELSE 'test' END AS stage
       |  FROM (SELECT doc_id, CAST($h AS BIGINT) AS hh FROM q))
       |SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
       |UNION ALL SELECT 'exact', CAST(count(*) AS BIGINT) FROM ex
       |UNION ALL SELECT 'neardup', CAST(count(*) AS BIGINT) FROM nd
       |UNION ALL SELECT 'quality', CAST(count(*) AS BIGINT) FROM q
       |UNION ALL SELECT stage, CAST(count(*) AS BIGINT) FROM sp GROUP BY stage""".stripMargin
  }

  /** 8-hex-char window → bigint for simhash's per-token hash halves
    * (== Spark's conv(substring(md5(t), 1+8*half, 8),16,10)).
    */
  private def hex8Expr(t: String, half: Int = 0): String =
    (0 until 8).map(j => s"(instr('$hex', substr(md5($t), ${1 + 8 * half + j}, 1)) - 1)")
      .reduce((acc, d) => s"($acc * 16 + $d)")

  /** Fixed hash-order ANN query budget — the SQL replay of the Spark
    * side's `annQueries` (Sampling.hashOrderIds over the mod-selected
    * vec ids). Appended to every retrieval twin's query filter.
    */
  private def annQIn(idExpr: String): String =
    s"$idExpr % $AnnQueryMod = 0 AND $idExpr IN (SELECT vec_id FROM embeddings " +
    s"WHERE vec_id % $AnnQueryMod = 0 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id " +
    s"LIMIT $AnnQueryBudget)"

  /** SimHash candidate-pair CTEs with `p`-prefixed names so they compose
    * with the minhash CTE family (whose `tok` is shingle-level); ends in
    * `<p>pairs` (doc_a, doc_b). Requires `toks` upstream.
    */
  private def simhashPairCtes(p: String): String = {
    val ws = (0 until 64).map { b =>
      val v = if (b < 32) "vlo" else "vhi"
      s"sum(2 * (($v >> ${b % 32}) & 1) - 1) AS w$b"
    }.mkString(", ")
    def pack(from: Int): String = (0 until 32)
      .map(b => s"(CASE WHEN w${from + b} >= 0 THEN 1 ELSE 0 END) * ${1L << b}").mkString(" + ")
    val blocks = Seq("sim_lo & 65535", "(sim_lo >> 16) & 65535",
      "sim_hi & 65535", "(sim_hi >> 16) & 65535").zipWithIndex.map { case (bv, k) =>
      s"SELECT doc_id, sim_lo, sim_hi, $k AS blk, $bv AS bv FROM ${p}s"
    }.mkString(" UNION ALL ")
    s"""${p}tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
       |${p}tv AS (SELECT doc_id, CAST(${hex8Expr("t", 0)} AS BIGINT) AS vlo,
       |  CAST(${hex8Expr("t", 1)} AS BIGINT) AS vhi FROM ${p}tok),
       |${p}w AS (SELECT doc_id, $ws FROM ${p}tv GROUP BY doc_id),
       |${p}s AS (SELECT doc_id, ${pack(0)} AS sim_lo, ${pack(32)} AS sim_hi FROM ${p}w),
       |${p}blk AS ($blocks),
       |${p}pairs AS (SELECT doc_a, doc_b FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT) AS hamming
       |  FROM ${p}blk a JOIN ${p}blk b ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |WHERE hamming <= $SimhashMaxDist)""".stripMargin
  }

  /** Multi-signal consensus clustering: shingle-overlap pairs ∪ simhash
    * pairs → the same recursive-CTE CC as [[dedupCluster]].
    */
  def dedupConsensus: String =
    s"""WITH RECURSIVE $jaccardPairsCtes,
       |${simhashPairCtes("sh_")},
       |alle AS (SELECT doc_a, doc_b FROM pairs
       |  UNION SELECT doc_a, doc_b FROM sh_pairs),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM alle
       |  UNION SELECT doc_b, doc_a FROM alle),
       |reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
       |SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u""".stripMargin

  def dedupSimhash: String = {
    // 64 bits as two 32-bit halves (lo = md5 hex 1-8, hi = hex 9-16):
    // no engine ever touches a signed-64 pack, and per-half bit_count
    // sums give the exact 64-bit hamming distance.
    val ws = (0 until 64).map { b =>
      val v = if (b < 32) "vlo" else "vhi"
      s"sum(2 * (($v >> ${b % 32}) & 1) - 1) AS w$b"
    }.mkString(", ")
    def pack(from: Int): String = (0 until 32)
      .map(b => s"(CASE WHEN w${from + b} >= 0 THEN 1 ELSE 0 END) * ${1L << b}").mkString(" + ")
    val blocks = Seq(
      "sim_lo & 65535", "(sim_lo >> 16) & 65535",
      "sim_hi & 65535", "(sim_hi >> 16) & 65535"
    ).zipWithIndex.map { case (bv, k) =>
      s"SELECT doc_id, sim_lo, sim_hi, $k AS blk, $bv AS bv FROM s"
    }.mkString(" UNION ALL ")
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
       |tv AS (SELECT doc_id, CAST(${hex8Expr("t", 0)} AS BIGINT) AS vlo,
       |  CAST(${hex8Expr("t", 1)} AS BIGINT) AS vhi FROM tok),
       |w AS (SELECT doc_id, $ws FROM tv GROUP BY doc_id),
       |s AS (SELECT doc_id, ${pack(0)} AS sim_lo, ${pack(32)} AS sim_hi FROM w),
       |blk AS ($blocks)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT) AS hamming
       |  FROM blk a JOIN blk b ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |WHERE hamming <= $SimhashMaxDist""".stripMargin
  }

  /** Left-assoc dot-product chain — matches Spark's aggregate fold order. */
  private def dotChain(a: String, b: String): String = dotChainN(a, b, EmbDims)

  private def dotChainN(a: String, b: String, dims: Int): String =
    (1 to dims).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")

  private def dotConstChain(v: String, w: Seq[Double]): String =
    (1 to EmbDims).map(i => s"CAST($v[$i] AS DOUBLE) * (${w(i - 1)})").mkString(" + ")

  private def cosExpr(a: String, b: String): String = cosExprN(a, b, EmbDims)

  private def cosExprN(a: String, b: String, dims: Int): String =
    s"round((${dotChainN(a, b, dims)}) / (sqrt(${dotChainN(a, a, dims)}) * sqrt(${dotChainN(b, b, dims)})), 4)"

  /** hyperplane band CTEs over embeddings, weights inlined as exact
    * binary-fraction literals generated by the SAME Scala code
    * ([[HashFunctions.hyperplaneWeights]]) that builds the Spark plan.
    */
  private def embBandCtes: String = {
    val ws = HashFunctions.hyperplaneWeights(EmbPlanes, EmbDims)
    val dots = ws.zipWithIndex
      .map { case (w, p) => s"(${dotConstChain("embedding", w)}) AS d$p" }.mkString(", ")
    val bands = (0 until EmbBands).map { b =>
      (0 until EmbRows)
        .map(r => s"(CASE WHEN d${b * EmbRows + r} >= 0 THEN 1 ELSE 0 END) * ${1L << r}")
        .mkString(" + ") + s" AS bv$b"
    }.mkString(", ")
    val blocks = (0 until EmbBands)
      .map(b => s"SELECT vec_id, $b AS band_id, bv$b AS bv FROM bnd").mkString(" UNION ALL ")
    s"p AS (SELECT vec_id, embedding, $dots FROM embeddings), " +
      s"bnd AS (SELECT vec_id, $bands FROM p), bl AS ($blocks)"
  }

  def dedupEmbedding: String =
    s"""WITH ${embBandCtes},
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bl a JOIN bl b ON a.band_id = b.band_id AND a.bv = b.bv AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cos FROM (
       |  SELECT id_a, id_b, ${cosExpr("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand JOIN embeddings ea ON ea.vec_id = id_a JOIN embeddings eb ON eb.vec_id = id_b)
       |WHERE cos >= $EmbMinCos""".stripMargin

  /** Sweep twin: same candidate pairs and cosine, 0.05 bands with a
    * descending cumulative.
    */
  def dedupThresholdSweep: String =
    s"""WITH ${embBandCtes},
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bl a JOIN bl b ON a.band_id = b.band_id AND a.bv = b.bv AND a.vec_id < b.vec_id),
       |sc AS (SELECT CAST(floor(${cosExpr("ea.embedding", "eb.embedding")} * 20) AS BIGINT) AS band20
       |  FROM cand JOIN embeddings ea ON ea.vec_id = id_a
       |    JOIN embeddings eb ON eb.vec_id = id_b),
       |per AS (SELECT band20, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM sc GROUP BY 1)
       |SELECT band20 * 50000 AS thr_lo_ppm, n_pairs,
       |  CAST(sum(n_pairs) OVER (ORDER BY band20 DESC ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS n_pairs_ge
       |FROM per""".stripMargin

  /** Bad-records twin: the corruption rule is deterministic, so the
    * expected quarantine census recomputes from the base table.
    */
  def srcCsvBadrecords: String =
    s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       |  CAST(coalesce(sum(CASE WHEN c_custkey % 97 = 0 THEN NULL
       |    ELSE c_nationkey END), 0) AS BIGINT) AS natkey_sum
       |FROM customer GROUP BY 1""".stripMargin

  def annBruteTopK: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE ${annQIn("vec_id")}),
       |sc AS (SELECT query_id, c.vec_id AS neighbor_id, ${cosExpr("qv", "c.embedding")} AS cos
       |  FROM q, embeddings c WHERE c.vec_id <> query_id)
       |SELECT query_id, neighbor_id, cos, rnk FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM sc)
       |WHERE rnk <= $AnnK""".stripMargin

  /** IVF cell-assignment CTEs (ends in asg(vec_id, embedding, cell)),
    * centroids inlined from the same [[HashFunctions.centroidWeights]]
    * constants the Spark plan bakes in.
    */
  private def ivfAsgCtes: String = {
    val ws = HashFunctions.centroidWeights(IvfCells, EmbDims)
    val dots = ws.zipWithIndex
      .map { case (w, c) => s"(${dotConstChain("embedding", w)}) AS cd$c" }.mkString(", ")
    val m = s"greatest(${(0 until IvfCells).map(c => s"cd$c").mkString(", ")})"
    val cases = (0 until IvfCells - 1).map(c => s"WHEN cd$c = m THEN $c").mkString(" ")
    s"""cd AS (SELECT vec_id, embedding, $dots FROM embeddings),
       |asg AS (SELECT vec_id, embedding,
       |  CASE $cases ELSE ${IvfCells - 1} END AS cell
       |  FROM (SELECT *, $m AS m FROM cd))""".stripMargin
  }

  def annIvfTopK: String =
    s"""WITH $ivfAsgCtes,
       |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM asg q JOIN asg c ON q.cell = c.cell AND c.vec_id <> q.vec_id
       |  WHERE ${annQIn("q.vec_id")}),
       |sc AS (SELECT query_id, neighbor_id, ${cosExpr("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand JOIN embeddings ea ON ea.vec_id = query_id
       |  JOIN embeddings eb ON eb.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, cos, rnk FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM sc)
       |WHERE rnk <= $AnnK""".stripMargin

  /** Recall-eval twin of [[graft.operators.Similarity.recallEval]]
    * over the nprobe-IVF index vs the brute-force ground truth:
    * composes the two ranking pipelines under fresh CTE names, then
    * the same hit/size joins and the −1 micro-average row.
    */
  /** Brute-force-vs-approx recall compare: consumes an `ia` CTE
    * (query_id, neighbor_id) defined by the caller, emits per-query +
    * micro-average recall. Shared by [[annRecallEval]] and
    * [[embPqRecallEval]].
    */
  private def recallCompareSql: String =
    s"""bq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE ${annQIn("vec_id")}),
       |be AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM (SELECT query_id, c.vec_id AS neighbor_id,
       |      ${cosExpr("qv", "c.embedding")} AS cos
       |    FROM bq, embeddings c WHERE c.vec_id <> query_id))
       |  WHERE rnk <= $AnnK),
       |hits AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM be e JOIN ia a ON a.query_id = e.query_id
       |    AND a.neighbor_id = e.neighbor_id
       |  GROUP BY 1),
       |en AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM be GROUP BY 1),
       |an AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx FROM ia GROUP BY 1),
       |per AS (SELECT en.query_id, n_exact,
       |    COALESCE(n_approx, 0) AS n_approx, COALESCE(n_hit, 0) AS n_hit,
       |    CAST(COALESCE(n_hit, 0) * 1000000 // n_exact AS BIGINT) AS recall_ppm
       |  FROM en LEFT JOIN an ON an.query_id = en.query_id
       |  LEFT JOIN hits ON hits.query_id = en.query_id)
       |SELECT query_id, n_exact, n_approx, n_hit, recall_ppm FROM per
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(sum(n_exact) AS BIGINT),
       |  CAST(sum(n_approx) AS BIGINT), CAST(sum(n_hit) AS BIGINT),
       |  CAST(sum(n_hit) * 1000000 // sum(n_exact) AS BIGINT)
       |FROM per""".stripMargin

  def annRecallEval: String =
    s"""WITH $ivfAsgCtes,
       |$ivfProbeCtes,
       |ia AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM (SELECT query_id, neighbor_id,
       |      ${cosExpr("ea.embedding", "eb.embedding")} AS cos
       |    FROM cand JOIN embeddings ea ON ea.vec_id = query_id
       |    JOIN embeddings eb ON eb.vec_id = neighbor_id))
       |  WHERE rnk <= $AnnK),
       |$recallCompareSql""".stripMargin

  /** PQ-ADC recall twin: the lossy-compression path scored against the
    * same brute-force ground truth through [[recallCompareSql]].
    */
  def embPqRecallEval: String =
    s"""WITH pqc AS (
       |$embPqCodes),
       |$pqLutCtes,
       |pv AS (SELECT query_id, p.vec_id AS neighbor_id, min(CASE WHEN lut.m = 0 THEN part END) AS sp0, min(CASE WHEN lut.m = 1 THEN part END) AS sp1, min(CASE WHEN lut.m = 2 THEN part END) AS sp2, min(CASE WHEN lut.m = 3 THEN part END) AS sp3, min(CASE WHEN lut.m = 4 THEN part END) AS sp4, min(CASE WHEN lut.m = 5 THEN part END) AS sp5, min(CASE WHEN lut.m = 6 THEN part END) AS sp6, min(CASE WHEN lut.m = 7 THEN part END) AS sp7
       |  FROM lut JOIN pqc p ON p.m = lut.m AND p.code = lut.code AND p.vec_id <> lut.query_id
       |  GROUP BY query_id, p.vec_id),
       |ia AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(sp0 + sp1 + sp2 + sp3 + sp4 + sp5 + sp6 + sp7, 4) DESC,
       |        neighbor_id) AS BIGINT) AS rnk FROM pv)
       |  WHERE rnk <= $AnnK),
       |$recallCompareSql""".stripMargin

  /** MRL recall twin: the Matryoshka two-stage top-k as `ia`, shared
    * recall tail.
    */
  def annMrlRecallEval: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS e FROM embeddings
       |  WHERE ${annQIn("vec_id")}),
       |co AS (SELECT query_id, c.vec_id AS neighbor_id,
       |    ${cosExprN("q.e", "c.embedding", MrlDims)} AS ccos
       |  FROM q, embeddings c WHERE c.vec_id <> q.query_id),
       |pool AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ccos DESC, neighbor_id) AS rn
       |    FROM co) WHERE rn <= $MrlPool),
       |msc AS (SELECT query_id, neighbor_id,
       |    ${cosExpr("ea.embedding", "eb.embedding")} AS cos
       |  FROM pool
       |  JOIN embeddings ea ON ea.vec_id = query_id
       |  JOIN embeddings eb ON eb.vec_id = neighbor_id),
       |ia AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM msc) WHERE rnk <= $AnnK),
       |$recallCompareSql""".stripMargin

  /** LSH recall twin: bucket candidates as `ia`, shared recall tail. */
  def annLshRecallEval: String =
    s"""WITH ${embBandCtes},
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bl q JOIN bl c ON q.band_id = c.band_id AND q.bv = c.bv AND c.vec_id <> q.vec_id
       |  WHERE ${annQIn("q.vec_id")}),
       |lsc AS (SELECT query_id, neighbor_id, ${cosExpr("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand JOIN embeddings ea ON ea.vec_id = query_id JOIN embeddings eb ON eb.vec_id = neighbor_id),
       |ia AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM lsc) WHERE rnk <= $AnnK),
       |$recallCompareSql""".stripMargin

  /** One k-means update step over the IVF assignment: per-cell per-dim
    * mean. dims CTE drives the explode so the lateral syntax stays plain.
    */
  def embKmeansStep: String =
    s"""WITH $ivfAsgCtes,
       |dims AS (SELECT unnest(range(0, $EmbDims)) AS dim),
       |ex AS (SELECT asg.cell, d.dim, CAST(embedding[d.dim + 1] AS DOUBLE) AS v
       |  FROM asg CROSS JOIN dims d)
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(dim AS BIGINT) AS dim,
       |  round(avg(v), 4) AS c, count(*) AS n
       |FROM ex GROUP BY 1, 2""".stripMargin

  /** Probe-selection CTEs shared by every nprobe oracle: qc (query
    * dots), pr (the IvfNprobe top cells per query — tie-break ORDER BY
    * d DESC, cell must bit-match Spark's probeCells sort), cand (the
    * probed cells' members). Follows $ivfAsgCtes.
    */
  private def ivfProbeCtes: String = {
    val cellRows = (0 until IvfCells)
      .map(c => s"SELECT vec_id, $c AS cell, cd$c AS d FROM qc").mkString(" UNION ALL ")
    s"""qc AS (SELECT * FROM cd WHERE ${annQIn("vec_id")}),
       |pr AS (SELECT vec_id AS query_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS cr
       |  FROM ($cellRows)) WHERE cr <= $IvfNprobe),
       |cand AS (SELECT pr.query_id, c.vec_id AS neighbor_id
       |  FROM pr JOIN asg c ON c.cell = pr.cell AND c.vec_id <> pr.query_id)""".stripMargin
  }

  /** nprobe>1 IVF: each query's cells ranked by centroid dot (desc, cell
    * asc — exact doubles, same fold order as Spark's probeCells sort),
    * top IvfNprobe probed.
    */
  def annIvfNprobe: String = {
    s"""WITH $ivfAsgCtes,
       |$ivfProbeCtes,
       |sc AS (SELECT query_id, neighbor_id, ${cosExpr("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand JOIN embeddings ea ON ea.vec_id = query_id
       |  JOIN embeddings eb ON eb.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, cos, rnk FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM sc)
       |WHERE rnk <= $AnnK""".stripMargin
  }

  /** Full k-means training replay: KmeansIters chained
    * (assign → round-4 means) CTE pairs from the same md5-derived init
    * centroids the Spark driver loop starts from. Empty cells keep the
    * previous round's centroid (LEFT JOIN + coalesce); final output is
    * the long-form centroid matrix plus last-assignment cell sizes,
    * exactly [[SparkEntry]] `emb_kmeans_train`'s shape.
    */
  /** Assignment t against centroid CTE m{t}: argmax dot (desc, cell asc).
    * Produces d$t (per-vector per-cell dots) and asg$t (argmax cell).
    */
  private def kmeansAsgCte(t: Int): String = {
    val dot = (1 to EmbDims)
      .map(i => s"CAST(e.embedding[$i] AS DOUBLE) * m.c${i - 1}").mkString(" + ")
    s"""d$t AS (SELECT e.vec_id, e.embedding, m.cell, ($dot) AS d
       |  FROM embeddings e CROSS JOIN m$t m),
       |asg$t AS (SELECT vec_id, embedding, cell FROM (
       |  SELECT vec_id, embedding, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn
       |  FROM d$t) WHERE rn = 1)""".stripMargin
  }

  /** WITH-body prefix replaying `iters` k-means rounds from the literal
    * md5-derived init: m0 (VALUES) then (asg{t-1}, agg{t}, m{t}) chains.
    * Ends with centroid CTE m{iters}(cell, c0.., n).
    */
  private def kmeansCtes(iters: Int): String = {
    val init = HashFunctions.centroidWeights(IvfCells, EmbDims)
    val cNames = (0 until EmbDims).map(i => s"c$i")
    val initRows = init.zipWithIndex
      .map { case (w, c) => s"($c, ${w.mkString(", ")})" }.mkString(", ")
    val initCte = s"m0(cell, ${cNames.mkString(", ")}) AS (VALUES $initRows)"
    // means of assignment t-1 → centroids m{t}; empty cell keeps m{t-1}
    def meanCte(t: Int): String = {
      val avgs = (0 until EmbDims)
        .map(i => s"round(avg(CAST(embedding[${i + 1}] AS DOUBLE)), 4) AS c$i")
        .mkString(", ")
      val keep = (0 until EmbDims)
        .map(i => s"coalesce(a.c$i, p.c$i) AS c$i").mkString(", ")
      s"""agg$t AS (SELECT cell, count(*) AS n, $avgs FROM asg${t - 1} GROUP BY cell),
         |m$t AS (SELECT p.cell, $keep, coalesce(a.n, 0) AS n
         |  FROM m${t - 1} p LEFT JOIN agg$t a ON a.cell = p.cell)""".stripMargin
    }
    val rounds = (1 to iters)
      .map(t => s"${kmeansAsgCte(t - 1)},\n${meanCte(t)}").mkString(",\n")
    s"$initCte,\n$rounds"
  }

  def embKmeansTrain: String = {
    val cCase = (0 until EmbDims).map(i => s"WHEN $i THEN c$i").mkString(" ")
    s"""WITH ${kmeansCtes(KmeansIters)},
       |dims AS (SELECT unnest(range(0, $EmbDims)) AS dim)
       |SELECT CAST(m.cell AS BIGINT) AS cell, CAST(d.dim AS BIGINT) AS dim,
       |  CASE d.dim $cCase END AS c, CAST(m.n AS BIGINT) AS n
       |FROM m$KmeansIters m CROSS JOIN dims d""".stripMargin
  }

  /** IVF search against the TRAINED centroids: replay the training
    * rounds, assign the corpus to m{iters} cells, rank each query's
    * cells by dot, probe the top IvfNprobe, exact-cosine rank inside.
    */
  def annIvfTrained: String =
    s"""WITH ${kmeansCtes(KmeansIters)},
       |${kmeansAsgCte(KmeansIters)},
       |pq AS (SELECT vec_id AS query_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS cr
       |  FROM d$KmeansIters WHERE ${annQIn("vec_id")}) WHERE cr <= $IvfNprobe),
       |cand AS (SELECT pq.query_id, c.vec_id AS neighbor_id
       |  FROM pq JOIN asg$KmeansIters c ON c.cell = pq.cell AND c.vec_id <> pq.query_id),
       |sc AS (SELECT query_id, neighbor_id, ${cosExpr("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand JOIN embeddings ea ON ea.vec_id = query_id
       |  JOIN embeddings eb ON eb.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, cos, rnk FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM sc)
       |WHERE rnk <= $AnnK""".stripMargin

  /** SemDeDup twin of [[graft.operators.Dedup.semanticDedup]]: replay
    * the k-means training rounds, assign cells with the trained
    * centroids, verify within-cell pairwise cosine at the threshold,
    * recursive-CTE connected components, keep each cluster's member
    * with the highest round-4 cosine to its own cell centroid.
    */
  def dedupSemantic: String = {
    val T = KmeansIters
    val centDot = (1 to EmbDims)
      .map(i => s"CAST(a.embedding[$i] AS DOUBLE) * m.c${i - 1}").mkString(" + ")
    val centN2 = (0 until EmbDims).map(i => s"m.c$i * m.c$i").mkString(" + ")
    s"""WITH RECURSIVE ${kmeansCtes(T)},
       |${kmeansAsgCte(T)},
       |prs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM asg$T a JOIN asg$T b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${cosExpr("a.embedding", "b.embedding")} >= $SemMinCos),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM prs
       |  UNION SELECT doc_b, doc_a FROM prs),
       |reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
       |cc AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
       |dc AS (SELECT a.vec_id AS doc_id,
       |  round(($centDot) / (sqrt(${dotChainN("a.embedding", "a.embedding", EmbDims)}) * sqrt($centN2)), 4) AS dcent
       |  FROM asg$T a JOIN m$T m ON m.cell = a.cell),
       |sc AS (SELECT cc.cluster_id, cc.doc_id, dc.dcent,
       |  row_number() OVER (PARTITION BY cc.cluster_id ORDER BY dc.dcent DESC, cc.doc_id) AS rk
       |  FROM cc JOIN dc USING (doc_id))
       |SELECT cluster_id, min(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
       |  min(CASE WHEN rk = 1 THEN dcent END) AS keep_cos,
       |  CAST(count(*) AS BIGINT) AS n_vecs
       |FROM sc GROUP BY cluster_id""".stripMargin
  }

  /** PQ encode twin: per subspace, argmax of (sub-dot − ‖c‖²/2) over the
    * generated codebook constants; ties resolve to the lowest code via
    * the CASE order, matching the Spark when-chain.
    */
  def embPqCodes: String = {
    val subDims = EmbDims / PqSub
    val cb = HashFunctions.pqCodebooks(PqSub, PqK, subDims)
    (0 until PqSub).map { m =>
      val scores = cb(m).zipWithIndex.map { case (c, ci) =>
        val dot = (0 until subDims)
          .map(i => s"CAST(embedding[${m * subDims + i + 1}] AS DOUBLE) * (${c(i)})")
          .mkString(" + ")
        s"($dot - (${c.map(x => x * x).sum / 2})) AS s$ci"
      }.mkString(", ")
      val best = s"greatest(${(0 until PqK).map(ci => s"s$ci").mkString(", ")})"
      val cases = (0 until PqK - 1).map(ci => s"WHEN s$ci = b THEN $ci").mkString(" ")
      s"""SELECT vec_id, CAST($m AS BIGINT) AS m, CAST(CASE $cases ELSE ${PqK - 1} END AS BIGINT) AS code
         |FROM (SELECT *, $best AS b FROM (SELECT vec_id, $scores FROM embeddings))""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** Global line-dedup twin: same fixed-token lines, first occurrence =
    * smallest (doc, position), ordered string_agg reassembly.
    */
  def textDedupLines: String = {
    val L = LineTokens
    // dims bound derives from the corpus (max line count over docs), not
    // a fixed cap — a long document must never silently lose tail lines
    s"""WITH $toksCte,
       |dims AS (SELECT unnest(range(0, (SELECT coalesce(max((len(ts) + ${L - 1}) // $L), 0) FROM toks))) AS i),
       |lines AS (SELECT doc_id, i AS line_idx, array_to_string(ts[(i*$L+1):((i+1)*$L)], ' ') AS line
       |  FROM toks CROSS JOIN dims WHERE i*$L < len(ts)),
       |kept AS (SELECT doc_id, line_idx, line FROM (
       |  SELECT doc_id, line_idx, line,
       |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS occ
       |  FROM lines) WHERE occ = 1)
       |SELECT doc_id, string_agg(line, ' ' ORDER BY line_idx) AS clean_text,
       |  CAST(count(*) AS BIGINT) AS n_lines_kept
       |FROM kept GROUP BY doc_id""".stripMargin
  }

  /** Repetition-signal twin: same pseudo-lines, same bigram shares. */
  def textRepetition: String = {
    val L = LineTokens
    s"""WITH $toksCte, $shingCte,
       |dims AS (SELECT unnest(range(0, (SELECT coalesce(max((len(ts) + ${L - 1}) // $L), 0) FROM toks))) AS i),
       |lines AS (SELECT doc_id, array_to_string(ts[(i*$L+1):((i+1)*$L)], ' ') AS line
       |  FROM toks CROSS JOIN dims WHERE i*$L < len(ts)),
       |ls AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       |       CAST(count(DISTINCT line) AS BIGINT) AS n_uniq FROM lines GROUP BY doc_id),
       |bgc AS (SELECT doc_id, g, count(*) AS c
       |  FROM (SELECT doc_id, unnest(sh) AS g FROM shing) GROUP BY 1, 2),
       |bga AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg,
       |        CAST(sum(c) AS BIGINT) AS n_bg FROM bgc GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(CASE WHEN coalesce(l.n_lines, 0) = 0 THEN 0
       |       ELSE ((l.n_lines - l.n_uniq) * 1000000) // l.n_lines END AS BIGINT) AS dup_line_ppm,
       |  CAST(CASE WHEN coalesce(b.n_bg, 0) = 0 THEN 0
       |       ELSE (b.top_bg * 1000000) // b.n_bg END AS BIGINT) AS top_bigram_ppm
       |FROM toks t LEFT JOIN ls l USING (doc_id) LEFT JOIN bga b USING (doc_id)""".stripMargin
  }

  /** Ordered min-time funnel twin, times in epoch-ms like the Spark side. */
  def eventsFunnel: String = {
    val ctes = FunnelSteps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"s1 AS (SELECT user_id, min(epoch_ms(ts)) AS t FROM events WHERE event_type = '$st' GROUP BY user_id)"
      else
        s"s${i + 1} AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t FROM events e " +
          s"JOIN s$i p ON e.user_id = p.user_id WHERE e.event_type = '$st' AND epoch_ms(e.ts) > p.t GROUP BY e.user_id)"
    }.mkString(",\n")
    val sels = FunnelSteps.indices
      .map(i => s"SELECT CAST(${i + 1} AS BIGINT) AS step, CAST(count(*) AS BIGINT) AS n_users FROM s${i + 1}")
      .mkString(" UNION ALL ")
    s"WITH $ctes\n$sels"
  }

  /** CTE chain ending in lut(query_id, m, code, part): the per-query
    * ADC lookup table built by a CASE dispatch over the (m, code) grid,
    * same literal codebooks as the Spark side.
    */
  private def pqLutCtes: String = {
    val subDims = EmbDims / PqSub
    val cb = HashFunctions.pqCodebooks(PqSub, PqK, subDims)
    val branches = (for (m <- 0 until PqSub; ci <- 0 until PqK) yield {
      val c = cb(m)(ci)
      val dot = (0 until subDims)
        .map(i => s"CAST(embedding[${m * subDims + i + 1}] AS DOUBLE) * (${c(i)})")
        .mkString(" + ")
      s"WHEN ${m * PqK + ci} THEN ($dot - (${c.map(x => x * x).sum / 2}))"
    }).mkString(" ")
    s"""g AS (SELECT unnest(range(0, ${PqSub * PqK})) AS gi),
       |lq AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE ${annQIn("vec_id")}),
       |lut AS (SELECT query_id, CAST(gi // $PqK AS BIGINT) AS m, CAST(gi % $PqK AS BIGINT) AS code,
       |  CASE gi $branches END AS part FROM lq CROSS JOIN g)""".stripMargin
  }

  /** PQ-ADC twin: the generated code table (embPqCodes) joined with the
    * per-query LUT — same MIPS-ADC score.
    */
  def embPqAdc: String =
    s"""WITH pqc AS (
       |$embPqCodes),
       |$pqLutCtes,
       |pv AS (SELECT query_id, p.vec_id AS neighbor_id, min(CASE WHEN lut.m = 0 THEN part END) AS sp0, min(CASE WHEN lut.m = 1 THEN part END) AS sp1, min(CASE WHEN lut.m = 2 THEN part END) AS sp2, min(CASE WHEN lut.m = 3 THEN part END) AS sp3, min(CASE WHEN lut.m = 4 THEN part END) AS sp4, min(CASE WHEN lut.m = 5 THEN part END) AS sp5, min(CASE WHEN lut.m = 6 THEN part END) AS sp6, min(CASE WHEN lut.m = 7 THEN part END) AS sp7
       |  FROM lut JOIN pqc p ON p.m = lut.m AND p.code = lut.code AND p.vec_id <> lut.query_id
       |  GROUP BY query_id, p.vec_id),
       |sc AS (SELECT query_id, neighbor_id, round(sp0 + sp1 + sp2 + sp3 + sp4 + sp5 + sp6 + sp7, 4) AS score FROM pv)
       |SELECT query_id, neighbor_id, score, rnk FROM (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM sc) WHERE rnk <= $AnnK""".stripMargin

  /** IVF+PQ twin: probe the IvfNprobe nearest cells (same CTEs as
    * annIvfNprobe), ADC-score only those cells' codes.
    */
  def embIvfPqAdc: String = {
    s"""WITH $ivfAsgCtes,
       |$ivfProbeCtes,
       |pqc AS (
       |$embPqCodes),
       |$pqLutCtes,
       |pv AS (SELECT cand.query_id, cand.neighbor_id, min(CASE WHEN lut.m = 0 THEN part END) AS sp0, min(CASE WHEN lut.m = 1 THEN part END) AS sp1, min(CASE WHEN lut.m = 2 THEN part END) AS sp2, min(CASE WHEN lut.m = 3 THEN part END) AS sp3, min(CASE WHEN lut.m = 4 THEN part END) AS sp4, min(CASE WHEN lut.m = 5 THEN part END) AS sp5, min(CASE WHEN lut.m = 6 THEN part END) AS sp6, min(CASE WHEN lut.m = 7 THEN part END) AS sp7
       |  FROM cand JOIN pqc p ON p.vec_id = cand.neighbor_id
       |  JOIN lut ON lut.query_id = cand.query_id AND lut.m = p.m AND lut.code = p.code
       |  GROUP BY cand.query_id, cand.neighbor_id),
       |sc AS (SELECT query_id, neighbor_id, round(sp0 + sp1 + sp2 + sp3 + sp4 + sp5 + sp6 + sp7, 4) AS score FROM pv)
       |SELECT query_id, neighbor_id, score, rnk FROM (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM sc) WHERE rnk <= $AnnK""".stripMargin
  }

  def qGlobalRank: String =
    """SELECT o_orderkey, price_cents,
      |  CAST(row_number() OVER (ORDER BY price_cents DESC, o_orderkey) AS BIGINT) AS grank
      |FROM (SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders)""".stripMargin

  /** Spatial twin of [[graft.operators.RangeJoin.gridNeighborJoin]]:
    * brute theta on the small oracle side — independent ground truth
    * for the grid bucketing.
    */
  def qSpatialJoin: String =
    s"""WITH p AS (SELECT p_partkey AS id, p_partkey % 97 AS x,
       |  (p_partkey // 97) % 89 AS y FROM part)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(b.x - a.x AS BIGINT) AS dx, CAST(b.y - a.y AS BIGINT) AS dy
       |FROM p a JOIN p b ON a.id < b.id
       |  AND abs(a.x - b.x) <= $SpatialR AND abs(a.y - b.y) <= $SpatialR""".stripMargin

  /** Density twin of [[graft.operators.Spatial.dbscanLabel]]: brute
    * theta-join neighbor counts, then the same core/border/noise rule.
    */
  def qDbscanCore: String =
    s"""WITH p AS (SELECT p_partkey AS id, p_partkey % 97 AS x,
       |  (p_partkey // 97) % 89 AS y FROM part),
       |e AS (SELECT a.id AS id, b.id AS nb FROM p a JOIN p b
       |  ON a.id <> b.id AND abs(a.x - b.x) <= $SpatialR AND abs(a.y - b.y) <= $SpatialR),
       |c AS (SELECT p.id, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_nb FROM p
       |  LEFT JOIN (SELECT id, count(*) AS n FROM e GROUP BY 1) cnt USING (id)),
       |core AS (SELECT id FROM c WHERE n_nb >= $DbscanMinPts)
       |SELECT c.id, c.n_nb,
       |  CASE WHEN c.n_nb >= $DbscanMinPts THEN 'core'
       |       WHEN c.id IN (SELECT e.id FROM e JOIN core ON e.nb = core.id) THEN 'border'
       |       ELSE 'noise' END AS label
       |FROM c""".stripMargin

  /** Clustering twin of [[graft.operators.Spatial.dbscanCluster]]:
    * transitive closure over the brute-force core-core edge list via a
    * recursive CTE, min reachable core id = the cluster label, then the
    * same min-over-core-neighbors border attachment.
    */
  def qDbscanCluster: String =
    s"""WITH RECURSIVE p AS (SELECT p_partkey AS id, p_partkey % 97 AS x,
       |  (p_partkey // 97) % 89 AS y FROM part),
       |e AS (SELECT a.id AS id, b.id AS nb FROM p a JOIN p b
       |  ON a.id <> b.id AND abs(a.x - b.x) <= $SpatialR AND abs(a.y - b.y) <= $SpatialR),
       |core AS (SELECT id FROM e GROUP BY id HAVING count(*) >= $DbscanMinPts),
       |ce AS (SELECT e.id, e.nb FROM e JOIN core a ON e.id = a.id
       |  JOIN core b ON e.nb = b.id),
       |reach(id, lab) AS (
       |  SELECT id, id FROM core
       |  UNION
       |  SELECT ce.id, r.lab FROM ce JOIN reach r ON ce.nb = r.id),
       |cl AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY 1),
       |border AS (SELECT e.id, min(cl.cluster) AS cluster FROM e
       |  JOIN cl ON e.nb = cl.id
       |  WHERE e.id NOT IN (SELECT id FROM core) GROUP BY 1)
       |SELECT id, CAST(cluster AS BIGINT) AS cluster, 'core' AS role FROM cl
       |UNION ALL
       |SELECT id, CAST(cluster AS BIGINT) AS cluster, 'border' AS role FROM border""".stripMargin

  /** Probe twin of [[graft.operators.Spatial.densityProbe]]: per
    * candidate ε the cell census, integer degree bound, cap rate, and
    * recommendation — block sums via a correlated 3×3 cell-window sum
    * (the cell table is tiny, the quadratic pair space is never
    * touched, same as the Spark side).
    */
  def qDensityProbe: String = {
    val perR = DbscanProbeLadder.map { r =>
      s"""cr$r AS (SELECT x // $r AS cx, y // $r AS cy, CAST(count(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |sr$r AS (SELECT CAST($r AS BIGINT) AS r,
         |  CAST(sum(n) AS BIGINT) AS n_points,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(max(n) AS BIGINT) AS max_cell_pts,
         |  CAST(sum(n * (bn - 1)) AS BIGINT) AS nb_bound_sum
         |  FROM (SELECT c.n, (SELECT sum(c2.n) FROM cr$r c2
         |    WHERE abs(c2.cx - c.cx) <= 1 AND abs(c2.cy - c.cy) <= 1) AS bn
         |    FROM cr$r c))""".stripMargin
    }.mkString(",\n")
    val u = DbscanProbeLadder.map(r => s"SELECT * FROM sr$r").mkString(" UNION ALL ")
    s"""WITH p AS (SELECT p_partkey AS id, p_partkey % 97 AS x,
       |  (p_partkey // 97) % 89 AS y FROM part),
       |$perR,
       |u AS ($u),
       |s AS (SELECT r, n_points, n_cells, max_cell_pts, nb_bound_sum,
       |  CAST(nb_bound_sum // n_points AS BIGINT) AS mean_nb_ub,
       |  CAST(least(1000000, ($DbscanTargetNb * 1000000)
       |    // (nb_bound_sum // n_points + 1)) AS BIGINT) AS rate_ppm
       |  FROM u),
       |b AS (SELECT coalesce(max(CASE WHEN mean_nb_ub <= $DbscanTargetNb THEN r END),
       |  min(r)) AS rec_r FROM s)
       |SELECT s.*, s.r = b.rec_r AS recommended FROM s CROSS JOIN b""".stripMargin
  }

  /** Capped-DBSCAN twin of [[graft.operators.Spatial.dbscanCapped]]:
    * the same exact-integer probe → rate → salted-hash sample chain
    * (md5 hash32 replayed via [[hex8Expr]]), then brute all-points ×
    * sample neighbor counts and the scaled core/border/noise rule. At
    * sf0.01 the rate is genuinely < 1 (the target sits below the
    * fixture's density), so the gate checks the SAMPLED path, not the
    * saturated identity.
    */
  def qDbscanCapped: String = {
    val h = hex8Expr(s"('$DbscanSampleSalt:' || CAST(p.id AS VARCHAR))")
    s"""WITH p AS (SELECT p_partkey AS id, p_partkey % 97 AS x,
       |  (p_partkey // 97) % 89 AS y FROM part),
       |cr AS (SELECT x // $SpatialR AS cx, y // $SpatialR AS cy,
       |  CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
       |st AS (SELECT CAST(sum(n) AS BIGINT) AS np,
       |  CAST(sum(n * (bn - 1)) AS BIGINT) AS nb
       |  FROM (SELECT c.n, (SELECT sum(c2.n) FROM cr c2
       |    WHERE abs(c2.cx - c.cx) <= 1 AND abs(c2.cy - c.cy) <= 1) AS bn
       |    FROM cr c)),
       |k AS (SELECT least(1000000, ($DbscanTargetNb * 1000000) // (nb // np + 1)) AS rate_ppm
       |  FROM st),
       |k2 AS (SELECT rate_ppm,
       |  greatest(1, ($DbscanMinPts * rate_ppm) // 1000000) AS minpts_eff,
       |  (rate_ppm * 4294967296) // 1000000 AS thr FROM k),
       |hv AS (SELECT p.id, p.x, p.y, CAST($h AS BIGINT) AS h FROM p),
       |sam AS (SELECT hv.id, hv.x, hv.y FROM hv CROSS JOIN k2 WHERE hv.h < k2.thr),
       |e AS (SELECT a.id AS id_a, b.id AS id_b FROM p a JOIN sam b
       |  ON a.id <> b.id AND abs(a.x - b.x) <= $SpatialR AND abs(a.y - b.y) <= $SpatialR),
       |c AS (SELECT p.id, p.id IN (SELECT id FROM sam) AS sampled,
       |  CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_nb FROM p
       |  LEFT JOIN (SELECT id_a AS id, count(*) AS n FROM e GROUP BY 1) cnt USING (id)),
       |core AS (SELECT c.id FROM c CROSS JOIN k2
       |  WHERE c.sampled AND c.n_nb >= k2.minpts_eff)
       |SELECT c.id, c.sampled, c.n_nb,
       |  CASE WHEN c.sampled AND c.n_nb >= k2.minpts_eff THEN 'core'
       |       WHEN c.id IN (SELECT e.id_a FROM e JOIN core ON e.id_b = core.id)
       |         THEN 'border'
       |       ELSE 'noise' END AS label
       |FROM c CROSS JOIN k2""".stripMargin
  }

  /** Sampled-pair twin of [[graft.operators.Spatial.sampledPairs]]:
    * the same exact-integer cell probe → total-pair bound → salted-hash
    * rate chain as [[qDbscanCapped]] (md5 hash32 via [[hex8Expr]]),
    * then brute all-points × sample within Chebyshev r. DuckDB's
    * 128-bit integer arithmetic makes the rate ratio exact without the
    * Spark side's BigInt guard.
    */
  def qSpatialSampled: String = {
    val h = hex8Expr(s"('$SpatialSampleSalt:' || CAST(p.id AS VARCHAR))")
    s"""WITH p AS (SELECT p_partkey AS id, p_partkey % 97 AS x,
       |  (p_partkey // 97) % 89 AS y FROM part),
       |cr AS (SELECT x // $SpatialR AS cx, y // $SpatialR AS cy,
       |  CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
       |st AS (SELECT CAST(sum(n * (bn - 1)) AS BIGINT) AS nb
       |  FROM (SELECT c.n, (SELECT sum(c2.n) FROM cr c2
       |    WHERE abs(c2.cx - c.cx) <= 1 AND abs(c2.cy - c.cy) <= 1) AS bn
       |    FROM cr c)),
       |k AS (SELECT least(1000000,
       |    (CAST($SpatialSampledMaxPairs AS BIGINT) * 1000000)
       |      // (nb // 2 + 1)) AS rate_ppm
       |  FROM st),
       |k2 AS (SELECT rate_ppm,
       |  (rate_ppm * 4294967296) // 1000000 AS thr FROM k),
       |hv AS (SELECT p.id, p.x, p.y, CAST($h AS BIGINT) AS h FROM p),
       |sam AS (SELECT hv.id, hv.x, hv.y FROM hv CROSS JOIN k2 WHERE hv.h < k2.thr)
       |SELECT a.id AS id_a, b.id AS id_b, CAST(k2.rate_ppm AS BIGINT) AS rate_ppm
       |FROM p a JOIN sam b
       |  ON a.id <> b.id AND abs(a.x - b.x) <= $SpatialR
       |  AND abs(a.y - b.y) <= $SpatialR
       |CROSS JOIN k2""".stripMargin
  }

  /** Twin of [[graft.operators.LinkPredict.scores]] on the
    * supplier→part affiliation graph: same hub cap, same filtered-graph
    * degrees, same integer ppm Jaccard.
    */
  def qLinkPredict: String =
    s"""WITH e AS (SELECT DISTINCT l_suppkey AS u, l_partkey AS w FROM lineitem),
       |cd AS (SELECT w FROM e GROUP BY w HAVING count(*) <= $CnMaxDeg),
       |k AS (SELECT e.u, e.w FROM e JOIN cd USING (w)),
       |deg AS (SELECT u, count(*) AS d FROM k GROUP BY 1),
       |cn AS (SELECT a.u AS u_a, b.u AS u_b, count(*) AS n_common
       |  FROM k a JOIN k b ON a.w = b.w AND a.u < b.u GROUP BY 1, 2
       |  HAVING count(*) >= $CnMinCommon)
       |SELECT cn.u_a, cn.u_b, CAST(cn.n_common AS BIGINT) AS n_common,
       |  CAST(cn.n_common * 1000000 // (da.d + db.d - cn.n_common) AS BIGINT) AS jaccard_ppm
       |FROM cn JOIN deg da ON cn.u_a = da.u JOIN deg db ON cn.u_b = db.u""".stripMargin

  def qSaltedJoin: String =
    """WITH dim AS (SELECT n_nationkey % 10 AS grp, min(n_name) AS label FROM nation GROUP BY 1)
      |SELECT grp, label, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM (SELECT l_orderkey % 10 AS grp, l_quantity FROM lineitem) b
      |JOIN dim USING (grp)
      |GROUP BY grp, label""".stripMargin

  /** Fuzzy lookup twin of [[graft.operators.Joins.fuzzyLookup]]: same
    * first-token block, length prefilter, levenshtein budget, and
    * (dist, candidate) best-match ordering.
    */
  def qFuzzyJoin: String =
    s"""WITH cat AS (SELECT DISTINCT p_name AS candidate FROM part),
       |pr AS (SELECT DISTINCT substring(p_name, 1, length(p_name) - 1) AS probe FROM part),
       |cand AS (SELECT probe, candidate,
       |    CAST(levenshtein(probe, candidate) AS BIGINT) AS d
       |  FROM pr JOIN cat
       |    ON split_part(probe, ' ', 1) = split_part(candidate, ' ', 1)
       |  WHERE abs(length(probe) - length(candidate)) <= $FuzzyMaxDist)
       |SELECT probe, candidate AS matched, d AS dist FROM (
       |  SELECT probe, candidate, d,
       |    row_number() OVER (PARTITION BY probe ORDER BY d, candidate) AS rn
       |  FROM cand WHERE d <= $FuzzyMaxDist)
       |WHERE rn = 1""".stripMargin

  def qRangeJoin: String =
    """WITH iv AS (SELECT p_partkey AS band_id, (p_partkey % 100) * 2000.0 AS lo
      |  FROM part WHERE p_partkey % 20 = 0)
      |SELECT band_id, o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents
      |FROM iv JOIN orders ON o_totalprice >= lo AND o_totalprice < lo + 3500.0""".stripMargin

  def qIntervalJoin: String =
    """WITH iv AS (SELECT p_partkey AS band_id, (p_partkey % 100) * 2000.0 AS lo,
      |    (p_partkey % 100) * 2000.0 + 3500.0 AS hi
      |  FROM part WHERE p_partkey % 20 = 0),
      |ov AS (SELECT o_orderkey, o_totalprice AS olo, o_totalprice + 2500.0 AS ohi
      |  FROM orders WHERE o_orderkey % 50 = 0)
      |SELECT band_id, o_orderkey,
      |  CAST(FLOOR(greatest(lo, olo) * 100) AS BIGINT) AS ov_lo_cents,
      |  CAST(FLOOR(least(hi, ohi) * 100) AS BIGINT) AS ov_hi_cents
      |FROM iv JOIN ov ON lo < ohi AND olo < hi""".stripMargin

  /** Matryoshka twin of [[graft.operators.Similarity.mrlTopK]]: coarse
    * rank over the first [[Params.MrlDims]] components (same left-to-
    * right dot order), pool of [[Params.MrlPool]], exact full-width
    * rerank.
    */
  def annMrlTopK: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS e FROM embeddings
       |  WHERE ${annQIn("vec_id")}),
       |co AS (SELECT query_id, c.vec_id AS neighbor_id,
       |    ${cosExprN("q.e", "c.embedding", MrlDims)} AS ccos
       |  FROM q, embeddings c WHERE c.vec_id <> q.query_id),
       |pool AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ccos DESC, neighbor_id) AS rn
       |    FROM co) WHERE rn <= $MrlPool),
       |sc AS (SELECT query_id, neighbor_id,
       |    ${cosExpr("ea.embedding", "eb.embedding")} AS cos
       |  FROM pool
       |  JOIN embeddings ea ON ea.vec_id = query_id
       |  JOIN embeddings eb ON eb.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, cos, rnk FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM sc)
       |WHERE rnk <= $AnnK""".stripMargin

  /** SQ8 twin of [[graft.operators.Similarity.sq8Codes]]: same global
    * per-dim min/max, same `((v−mn)·255)/(mx−mn)` op order, floor,
    * clamp.
    */
  def embSq8Codes: String = {
    val mins = (0 until EmbDims).map(d =>
      s"CAST(min(embedding[${d + 1}]) AS DOUBLE) AS mn$d").mkString(", ")
    val maxs = (0 until EmbDims).map(d =>
      s"CAST(max(embedding[${d + 1}]) AS DOUBLE) AS mx$d").mkString(", ")
    val rows = (0 until EmbDims).map { d =>
      s"""SELECT vec_id, CAST($d AS BIGINT) AS d,
         |  CASE WHEN mx$d = mn$d THEN 0
         |    ELSE least(CAST(floor((CAST(embedding[${d + 1}] AS DOUBLE) - mn$d)
         |      * 255.0 / (mx$d - mn$d)) AS BIGINT), 255) END AS code
         |FROM embeddings CROSS JOIN st""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH st AS (SELECT $mins, $maxs FROM embeddings)\n$rows"
  }

  def annLshTopK: String =
    s"""WITH ${embBandCtes},
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bl q JOIN bl c ON q.band_id = c.band_id AND q.bv = c.bv AND c.vec_id <> q.vec_id
       |  WHERE ${annQIn("q.vec_id")}),
       |sc AS (SELECT query_id, neighbor_id, ${cosExpr("ea.embedding", "eb.embedding")} AS cos
       |  FROM cand JOIN embeddings ea ON ea.vec_id = query_id JOIN embeddings eb ON eb.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, cos, rnk FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM sc)
       |WHERE rnk <= $AnnK""".stripMargin

  // ---- text analysis ----

  private def stopList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The quality-score expression (doc alias `d`, token list `ts`) — ONE
    * definition for the four oracles embedding it, in lockstep with
    * TextFunctions.qualityScore.
    */
  private def qualityExprSql: String = {
    val allStops = functions.TextFunctions.langStopwords.flatMap(_._2).distinct
    s"""round(0.5 * least(1.0, CAST(length(d.text) AS DOUBLE) / 400.0)
       |      + 0.3 * (CAST(${hits(allStops)} AS DOUBLE) / greatest(CAST(len(ts) AS DOUBLE), 1.0))
       |      + 0.2 * (CAST(length(regexp_replace(d.text, '[^a-z]', '', 'g')) AS DOUBLE)
       |               / greatest(CAST(length(d.text) AS DOUBLE), 1.0)), 4)""".stripMargin
  }

  private def hits(words: Seq[String]): String =
    s"len(list_filter(ts, t -> list_contains(${stopList(words)}, t)))"

  /** Domain-stats twin of [[graft.operators.UrlOps.domainStats]]: same
    * synthetic URL, same host regex, registered domain via negative
    * list slicing (≡ Spark's substring_index from the right).
    */
  def textDomainStats: String = {
    val tldIn = graft.operators.UrlOps.MultiTlds.map(s => s"'$s'").mkString(", ")
    s"""WITH $toksCte,
       |u AS (SELECT d.doc_id,
       |  (CASE WHEN d.doc_id % 3 = 0 THEN 'https://'
       |        WHEN d.doc_id % 3 = 1 THEN 'http://' ELSE '' END) ||
       |  (CASE WHEN d.doc_id % 4 = 0 THEN 'www.' ELSE '' END) ||
       |  d.source || '.' ||
       |  (CASE WHEN d.doc_id % 5 = 0 THEN 'co.uk'
       |        WHEN d.doc_id % 5 = 1 THEN 'org' ELSE 'com' END) ||
       |  (CASE WHEN d.doc_id % 7 = 0 THEN ':8080' ELSE '' END) ||
       |  '/p/' || CAST(d.doc_id AS VARCHAR) ||
       |  (CASE WHEN d.doc_id % 2 = 0 THEN '?ref=rss' ELSE '' END) AS url,
       |  len(ts) AS n_tok
       |  FROM documents d JOIN toks ON toks.doc_id = d.doc_id),
       |h AS (SELECT doc_id, n_tok,
       |  lower(regexp_extract(url, '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host
       |  FROM u),
       |dd AS (SELECT doc_id, n_tok,
       |  CASE WHEN array_to_string(string_split(host, '.')[-2:], '.') IN ($tldIn)
       |    THEN array_to_string(string_split(host, '.')[-3:], '.')
       |    ELSE array_to_string(string_split(host, '.')[-2:], '.') END AS domain
       |  FROM h),
       |st AS (SELECT domain, CAST(count(*) AS BIGINT) AS domain_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS domain_tokens FROM dd GROUP BY domain),
       |tot AS (SELECT count(*) AS n_total FROM dd)
       |SELECT dd.domain, dd.doc_id, CAST(dd.n_tok AS BIGINT) AS n_tok,
       |  st.domain_docs, st.domain_tokens,
       |  CAST(st.domain_tokens // st.domain_docs AS BIGINT) AS domain_tok_mean,
       |  CAST(st.domain_docs * 1000000 // tot.n_total AS BIGINT) AS domain_share_ppm
       |FROM dd JOIN st USING (domain) CROSS JOIN tot""".stripMargin
  }

  def textTokenCount: String =
    s"""WITH $toksCte
       |SELECT d.doc_id, CAST(len(ts) AS BIGINT) AS n_ws,
       |  CAST(len(regexp_extract_all(d.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe
       |FROM documents d JOIN toks ON toks.doc_id = d.doc_id""".stripMargin

  def textLangId: String = {
    val scoreCols = functions.TextFunctions.langStopwords
      .map { case (l, ws) => s"CAST(${hits(ws)} AS BIGINT) AS s_$l" }.mkString(", ")
    val langs = functions.TextFunctions.langStopwords.map(_._1)
    val m = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val cases = langs.dropRight(1).map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ")
    s"""WITH $toksCte,
       |sc AS (SELECT doc_id, $scoreCols FROM toks)
       |SELECT doc_id, CASE $cases ELSE '${langs.last}' END AS lang_pred,
       |  ${langs.map(l => s"s_$l").mkString(", ")}
       |FROM sc""".stripMargin
  }

  def textQuality: String =
    s"""WITH $toksCte
       |SELECT d.doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
       |  $qualityExprSql AS qscore
       |FROM documents d JOIN toks ON toks.doc_id = d.doc_id""".stripMargin

  def textFingerprint: String = {
    val hv = s"CAST((instr('$hex', substr(md5(t), 1, 1)) - 1) * 16 + (instr('$hex', substr(md5(t), 2, 1)) - 1) AS BIGINT)"
    s"""WITH $toksCte
       |SELECT d.doc_id,
       |  md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(ts, t -> $hv)),
       |              (a, x) -> (a * 31 + x) % 1000000007) AS roll
       |FROM documents d JOIN toks ON toks.doc_id = d.doc_id""".stripMargin
  }

  /** Winnowing twin of [[graft.operators.TextOps.winnow]]: same k-gram
    * strings, same salted hash, same packed `h·2²⁰ + (2²⁰−1−pos)` min
    * over a ROWS window — pure int64 on both engines.
    */
  def textWinnow: String = {
    val h = hex8Expr(s"('$WinSalt:' || g)")
    s"""WITH $toksCte,
       |gr AS (SELECT doc_id, unnest(range(0, greatest(len(ts) - ${WinK - 1}, 0))) AS pos, ts
       |       FROM toks),
       |gh AS (SELECT doc_id, pos,
       |  CAST($h AS BIGINT) * 1048576 + (1048575 - pos) AS pk
       |  FROM (SELECT doc_id, pos,
       |        array_to_string(ts[pos+1:pos+$WinK], ' ') AS g FROM gr)),
       |sel AS (SELECT doc_id, pos,
       |  min(pk) OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN ${WinW - 1} PRECEDING AND CURRENT ROW) AS wmin,
       |  count(*) OVER (PARTITION BY doc_id) AS cnt FROM gh)
       |SELECT DISTINCT doc_id, CAST(wmin // 1048576 AS BIGINT) AS h,
       |  CAST(1048575 - (wmin % 1048576) AS BIGINT) AS pos
       |FROM sel WHERE pos >= least($WinW, cnt) - 1""".stripMargin
  }

  /** Sequence-packing twin of the `text_pack` query: DuckDB's default
    * cumulative window over the unique doc order is the same inclusive
    * global cumsum the two-phase Spark operator computes.
    */
  def textPack: String = {
    val c = PackChunkTokens
    s"""WITH $toksCte,
       |n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n FROM toks),
       |cte AS (SELECT doc_id, n,
       |  CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM n),
       |e AS (SELECT doc_id, cum - n AS st, cum,
       |  unnest(range((cum - n) // $c, (cum - 1) // $c + 1)) AS chunk_id
       |  FROM cte WHERE n > 0)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(least(cum, (chunk_id + 1) * $c) - greatest(st, chunk_id * $c) AS BIGINT) AS n_tokens
       |FROM e""".stripMargin
  }

  /** BPE training replay: chained per-round CTEs — pair counts, the
    * deterministic best pair (count desc, lexicographic), greedy
    * left-to-right merge via run-parity (islands of consecutive match
    * positions keep even offsets) — in lockstep with
    * [[operators.TextOps.bpeTrain]].
    *
    * Every chain CTE is MATERIALIZED: DuckDB inlines CTEs by default,
    * and round t references round t−1 two to three times — inlined,
    * the 6-round chain re-evaluates the whole prefix ~2⁶ times
    * (measured: minutes; materialized: ~1 s).
    */
  private def bpeCtes(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""p$t AS MATERIALIZED (SELECT word, freq, pos, sym,
         |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s${t - 1}),
         |best$t AS MATERIALIZED (SELECT sym AS l, nxt AS r, sum(freq) AS c FROM p$t
         |  WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY c DESC, l, r LIMIT 1),
         |sel$t AS MATERIALIZED (SELECT word, pos FROM (
         |  SELECT word, pos, min(pos) OVER (PARTITION BY word, grp) AS rs FROM (
         |    SELECT m.word, m.pos,
         |      m.pos - row_number() OVER (PARTITION BY m.word ORDER BY m.pos) AS grp
         |    FROM (SELECT p.word, p.pos FROM p$t p
         |          JOIN best$t b ON p.sym = b.l AND p.nxt = b.r) m))
         |  WHERE (pos - rs) % 2 = 0),
         |s$t AS MATERIALIZED (SELECT word, freq,
         |  CAST(row_number() OVER (PARTITION BY word ORDER BY opos) AS BIGINT) AS pos, sym FROM (
         |  SELECT p.word, p.freq, p.pos AS opos,
         |    CASE WHEN a.pos IS NOT NULL THEN p.sym || p.nxt ELSE p.sym END AS sym
         |  FROM p$t p
         |  LEFT JOIN sel$t a ON a.word = p.word AND a.pos = p.pos
         |  LEFT JOIN sel$t b ON b.word = p.word AND b.pos = p.pos - 1
         |  WHERE b.pos IS NULL))""".stripMargin
    }.mkString(",\n")
    s"""$toksCte,
       |tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
       |w0 AS MATERIALIZED (SELECT t AS word, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY t),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq, CAST(i AS BIGINT) AS pos,
       |    substring(word, CAST(i AS INT), 1) AS sym
       |  FROM (SELECT word, freq, unnest(range(1, length(word) + 1)) AS i FROM w0)
       |  UNION ALL
       |  SELECT word, freq, CAST(length(word) + 1 AS BIGINT), '</w>' FROM w0),
       |$rounds""".stripMargin
  }

  /** Bigram-predictability twin of
    * [[graft.operators.TextOps.bigramPredictability]]: same bigram-start
    * context counts, same int64 ppm divisions.
    */
  /** Feature-hash twin: same salted 32-bit hash mod bucket count. */
  def textFeatureHash: String = {
    val h = hex8Expr(s"('$FeatureHashSalt:' || t)")
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(ts) AS t FROM toks)
       |SELECT doc_id, CAST($h AS BIGINT) % $FeatureHashBuckets AS bucket,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM tok GROUP BY 1, 2""".stripMargin
  }

  def textBigramPred: String =
    s"""WITH $toksCte, $shingCte,
       |pr AS (SELECT doc_id, unnest(sh) AS g FROM shing),
       |bg AS (SELECT g, split_part(g, ' ', 1) AS w1,
       |  CAST(count(*) AS BIGINT) AS c_ab FROM pr GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM bg GROUP BY 1),
       |sc AS (SELECT doc_id, (c_ab * 1000000) // c_a AS p_ppm
       |  FROM pr JOIN bg USING (g) JOIN ctx USING (w1))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(p_ppm) // count(*) AS BIGINT) AS pred_ppm
       |FROM sc GROUP BY doc_id""".stripMargin

  /** Set-cover twin: the same greedy rounds as chained CTEs — each
    * round's gains exclude everything the previous picks covered.
    */
  def textSourceCover: String = {
    val rounds = (1 to SourceCoverK).map { r =>
      s"""g$r AS (SELECT source, CAST(count(*) AS BIGINT) AS gain
         |  FROM st WHERE term NOT IN (SELECT term FROM c${r - 1})
         |  GROUP BY 1),
         |p$r AS (SELECT $r AS rank, source, gain FROM g$r
         |  ORDER BY gain DESC, source LIMIT 1),
         |c$r AS (SELECT term FROM c${r - 1}
         |  UNION SELECT st.term FROM st JOIN p$r ON st.source = p$r.source)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to SourceCoverK)
      .map(r => s"SELECT rank, source, gain FROM p$r").mkString(" UNION ALL ")
    s"""WITH $toksCte,
       |st AS (SELECT DISTINCT d.source, t.term FROM documents d
       |  JOIN (SELECT doc_id, unnest(ts) AS term FROM toks) t
       |    ON t.doc_id = d.doc_id),
       |c0 AS (SELECT CAST(NULL AS VARCHAR) AS term WHERE false),
       |$rounds,
       |all_p AS ($unions)
       |SELECT CAST(rank AS BIGINT) AS rank, source, gain,
       |  CAST(sum(gain) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS cum_covered
       |FROM all_p WHERE gain > 0""".stripMargin
  }

  /** Boilerplate twin: same pseudo-lines as textDedupLines, distinct
    * per-doc census, ≥ BoilerMinDocs cut, per-doc share ppm.
    */
  def textBoilerplate: String = {
    val L = LineTokens
    s"""WITH $toksCte,
       |dims AS (SELECT unnest(range(0, (SELECT coalesce(max((len(ts) + ${L - 1}) // $L), 0) FROM toks))) AS i),
       |lines AS (SELECT doc_id, array_to_string(ts[(i*$L+1):((i+1)*$L)], ' ') AS line
       |  FROM toks CROSS JOIN dims WHERE i*$L < len(ts)),
       |bp AS (SELECT line FROM (
       |    SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY 1)
       |  WHERE nd >= $BoilerMinDocs)
       |SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       |  CAST(sum(CASE WHEN bp.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |  CAST(sum(CASE WHEN bp.line IS NOT NULL THEN 1 ELSE 0 END)
       |    * 1000000 // count(*) AS BIGINT) AS boiler_ppm
       |FROM lines l LEFT JOIN bp ON bp.line = l.line
       |GROUP BY 1""".stripMargin
  }

  /** Keyphrase twin: textPmi's corpus PMI over a min-count floor,
    * joined to each doc's distinct bigrams, (pmi desc, g) top-k.
    */
  def textKeyphrases: String =
    s"""WITH $toksCte, $shingCte,
       |uni AS (SELECT t AS w, count(*) AS c
       |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1),
       |ntk AS (SELECT sum(c) AS n_tok FROM uni),
       |bg AS (SELECT g, count(*) AS n_ab
       |  FROM (SELECT unnest(sh) AS g FROM shing) GROUP BY 1),
       |nbg AS (SELECT sum(n_ab) AS n_bg FROM bg),
       |pmi AS (SELECT g,
       |    round(ln((CAST(n_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE))
       |      / (CAST(n_bg AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 4) AS pmi
       |  FROM bg JOIN uni u1 ON u1.w = split_part(g, ' ', 1)
       |    JOIN uni u2 ON u2.w = split_part(g, ' ', 2)
       |  CROSS JOIN ntk CROSS JOIN nbg
       |  WHERE n_ab >= $KeyphraseMinCount),
       |dg AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM shing),
       |r AS (SELECT doc_id, g, pmi,
       |    CAST(row_number() OVER (PARTITION BY doc_id
       |      ORDER BY pmi DESC, g ASC) AS BIGINT) AS rk
       |  FROM dg JOIN pmi USING (g))
       |SELECT doc_id, rk, g, pmi FROM r WHERE rk <= $KeyphraseK""".stripMargin

  def textPmi: String =
    s"""WITH $toksCte, $shingCte,
       |uni AS (SELECT t AS w, count(*) AS c
       |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1),
       |ntk AS (SELECT sum(c) AS n_tok FROM uni),
       |bg AS (SELECT g, count(*) AS n_ab
       |  FROM (SELECT unnest(sh) AS g FROM shing) GROUP BY 1),
       |nbg AS (SELECT sum(n_ab) AS n_bg FROM bg),
       |top AS (SELECT g, n_ab FROM bg ORDER BY n_ab DESC, g LIMIT $PmiTopN)
       |SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
       |  CAST(n_ab AS BIGINT) AS n_ab,
       |  round(ln((CAST(n_ab AS DOUBLE) * CAST(n_tok AS DOUBLE) * CAST(n_tok AS DOUBLE))
       |        / (CAST(n_bg AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 4) AS pmi
       |FROM top
       |JOIN uni u1 ON u1.w = split_part(g, ' ', 1)
       |JOIN uni u2 ON u2.w = split_part(g, ' ', 2)
       |CROSS JOIN ntk CROSS JOIN nbg""".stripMargin

  /** BM25 query-by-document: same exact-rational Okapi scoring as
    * [[graft.operators.TextOps.bm25TopK]] — int64 num/den products, one
    * IEEE divide floored to ppm, integer per-doc sums (k1=6/5, b=3/4,
    * rational Robertson idf).
    */
  /** BM25 ranking CTEs ending in `bmr` (query_id, doc_id, score_ppm,
    * rnk) — shared by the plain BM25 query and the RRF fusion.
    * Requires [[toksCte]] upstream.
    */
  private def bm25Ctes(budgeted: Boolean = false): String =
    s"""tok AS (SELECT doc_id, unnest(ts) AS term FROM toks),
       |post AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
       |q AS (SELECT doc_id AS query_id, term FROM post WHERE doc_id % $Bm25QueryMod = 0${
      if (budgeted) " AND doc_id IN (SELECT doc_id FROM sqids)" else ""}),
       |sc AS (SELECT q.query_id, p.doc_id,
       |    CAST(floor(1000000.0 *
       |      (CAST(44 * p.tf * sum_dl * (2 * n_docs - 2 * f.df + 1) AS DOUBLE)
       |       / CAST((20 * p.tf * sum_dl + 6 * sum_dl + 18 * d.dl * n_docs)
       |              * (2 * f.df + 1) AS DOUBLE))) AS BIGINT) AS ppm
       |  FROM q
       |  JOIN post p ON p.term = q.term AND p.doc_id <> q.query_id
       |  JOIN dfreq f ON f.term = q.term
       |  JOIN dl d ON d.doc_id = p.doc_id
       |  CROSS JOIN st),
       |bmagg AS (SELECT query_id, doc_id, CAST(sum(ppm) AS BIGINT) AS score_ppm
       |  FROM sc GROUP BY 1, 2),
       |bmr AS (SELECT query_id, doc_id, score_ppm,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rnk
       |  FROM bmagg)""".stripMargin

  /** Fixed hash-order query-sample CTE (`sqids`) for the budgeted audit
    * twins — the SQL replay of
    * [[graft.operators.Sampling.hashOrderIds]] over the mod-selected
    * query ids: the AuditQueryBudget ids with the smallest
    * (md5(id), id). Referenced by [[bm25Ctes]]/[[jacCtes]] when
    * `budgeted = true`.
    */
  private def sqidsCte: String =
    s"""sqids AS (SELECT doc_id FROM documents WHERE doc_id % $Bm25QueryMod = 0
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $AuditQueryBudget)""".stripMargin

  /** Champion-list BM25 CTEs ending in `cbmr` — twin of
    * [[graft.operators.TextOps.bm25TopK]] with `champM` set: per term
    * only the top-M docs in exact impact order (tf desc, dl asc, doc_id)
    * enter candidate generation; candidates are then rescored on their
    * FULL query-term profile with the same exact-rational formula.
    * Requires [[bm25Ctes]] upstream (reuses post/dl/dfreq/st/q; the
    * exact chain's sc/bmagg/bmr stay unevaluated unless referenced).
    */
  private def champCtes: String =
    s"""cpost AS (SELECT doc_id, term FROM (
       |  SELECT p.doc_id, p.term,
       |    row_number() OVER (PARTITION BY p.term
       |      ORDER BY p.tf DESC, d.dl ASC, p.doc_id ASC) AS crk
       |  FROM post p JOIN dl d USING (doc_id))
       |  WHERE crk <= (SELECT greatest($Bm25ChampMFloor, least($Bm25ChampMCap, count(*) * $Bm25ChampMPerMille // 1000)) FROM documents)),
       |cand AS (SELECT DISTINCT q.query_id, p.doc_id
       |  FROM q JOIN cpost p ON p.term = q.term AND p.doc_id <> q.query_id),
       |csc AS (SELECT c.query_id, c.doc_id,
       |    CAST(floor(1000000.0 *
       |      (CAST(44 * p.tf * sum_dl * (2 * n_docs - 2 * f.df + 1) AS DOUBLE)
       |       / CAST((20 * p.tf * sum_dl + 6 * sum_dl + 18 * d.dl * n_docs)
       |              * (2 * f.df + 1) AS DOUBLE))) AS BIGINT) AS ppm
       |  FROM cand c
       |  JOIN post p ON p.doc_id = c.doc_id
       |  JOIN q ON q.query_id = c.query_id AND q.term = p.term
       |  JOIN dfreq f ON f.term = p.term
       |  JOIN dl d ON d.doc_id = c.doc_id
       |  CROSS JOIN st),
       |cbmagg AS (SELECT query_id, doc_id, CAST(sum(ppm) AS BIGINT) AS score_ppm
       |  FROM csc GROUP BY 1, 2),
       |cbmr AS (SELECT query_id, doc_id, score_ppm,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rnk
       |  FROM cbmagg)""".stripMargin

  def textBm25Champion: String =
    s"""WITH $toksCte,
       |$sqidsCte,
       |${bm25Ctes(budgeted = true)},
       |$champCtes
       |SELECT query_id, doc_id, score_ppm, rnk FROM cbmr
       |WHERE rnk <= $Bm25K""".stripMargin

  def textBm25ChampRecall: String =
    s"""WITH $toksCte,
       |$sqidsCte,
       |${bm25Ctes(budgeted = true)},
       |$champCtes,
       |ex AS (SELECT query_id, doc_id FROM bmr WHERE rnk <= $Bm25K),
       |ch AS (SELECT query_id, doc_id, 1 AS hit FROM cbmr WHERE rnk <= $Bm25K),
       |pq AS (SELECT e.query_id,
       |    CAST(sum(coalesce(ch.hit, 0)) * 1000000 // count(*) AS BIGINT) AS recall_ppm
       |  FROM ex e LEFT JOIN ch ON ch.query_id = e.query_id AND ch.doc_id = e.doc_id
       |  GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(recall_ppm) // count(*) AS BIGINT) AS mean_recall_ppm,
       |  CAST(min(recall_ppm) AS BIGINT) AS min_recall_ppm
       |FROM pq""".stripMargin

  /** Champion recall FLOOR gate twin: the recall replay of
    * [[textBm25ChampRecall]] plus a LITERAL `true` floor flag — the
    * Spark side computes the flag from the measured min recall, so a
    * scale where the derived champion M stops reaching the floor
    * hash-fails the driver gate (the q_approx_distinct certification
    * pattern).
    */
  def textChampRecallFloor: String =
    s"""SELECT n_queries, mean_recall_ppm, min_recall_ppm,
       |  true AS meets_floor FROM ($textBm25ChampRecall)""".stripMargin

  /** Shingle-Jaccard ranking CTEs ending in `jr` (query_id, doc_id,
    * jac_ppm, rnk) — twin of [[graft.operators.TextOps.jaccardTopK]].
    * Requires [[toksCte]] upstream.
    */
  private def jacCtes(budgeted: Boolean = false): String =
    s"""${shingCteFor(2)},
       |dsh AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM shing),
       |jsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM dsh GROUP BY 1),
       |jqs AS (SELECT doc_id AS query_id, g FROM dsh WHERE doc_id % $Bm25QueryMod = 0${
      if (budgeted) " AND doc_id IN (SELECT doc_id FROM sqids)" else ""}),
       |jit AS (SELECT query_id, d.doc_id, CAST(count(*) AS BIGINT) AS inter
       |  FROM jqs JOIN dsh d USING (g) WHERE d.doc_id <> query_id GROUP BY 1, 2),
       |jac AS (SELECT j.query_id, j.doc_id,
       |    CAST(j.inter * 1000000 // (sa.sz + sb.sz - j.inter) AS BIGINT) AS jac_ppm
       |  FROM jit j
       |  JOIN jsz sa ON sa.doc_id = j.query_id
       |  JOIN jsz sb ON sb.doc_id = j.doc_id),
       |jr AS (SELECT query_id, doc_id, jac_ppm,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY jac_ppm DESC, doc_id) AS BIGINT) AS rnk
       |  FROM jac)""".stripMargin

  /** Champion-list Jaccard CTEs ending in `cjr` — twin of
    * [[graft.operators.TextOps.jaccardTopK]] with `champM` set: per
    * shingle only the top-M docs in impact order (sz asc, doc_id)
    * enter candidate generation; candidates are rescored on their full
    * shingle sets. M is the JACCARD derivation
    * ([[graft.Params.jaccardChampM]] — uncapped ∝N, its own r14 sweep
    * calibration; the BM25 formula read min recall 10%/0% at sf1/sf10).
    * Requires [[jacCtes]] upstream (reuses dsh/jsz/jqs).
    */
  private def jacChampCtes: String =
    s"""cjpost AS (SELECT doc_id, g FROM (
       |  SELECT d.doc_id, d.g,
       |    row_number() OVER (PARTITION BY d.g
       |      ORDER BY s.sz ASC, d.doc_id ASC) AS crk
       |  FROM dsh d JOIN jsz s USING (doc_id))
       |  WHERE crk <= (SELECT greatest($JaccardChampMFloor, count(*) * $JaccardChampMPerMille // 1000) FROM documents)),
       |cjcand AS (SELECT DISTINCT q.query_id, p.doc_id
       |  FROM jqs q JOIN cjpost p ON p.g = q.g AND p.doc_id <> q.query_id),
       |cjit AS (SELECT c.query_id, c.doc_id, CAST(count(*) AS BIGINT) AS inter
       |  FROM cjcand c
       |  JOIN dsh d ON d.doc_id = c.doc_id
       |  JOIN jqs q ON q.query_id = c.query_id AND q.g = d.g
       |  GROUP BY 1, 2),
       |cjac AS (SELECT j.query_id, j.doc_id,
       |    CAST(j.inter * 1000000 // (sa.sz + sb.sz - j.inter) AS BIGINT) AS jac_ppm
       |  FROM cjit j
       |  JOIN jsz sa ON sa.doc_id = j.query_id
       |  JOIN jsz sb ON sb.doc_id = j.doc_id),
       |cjr AS (SELECT query_id, doc_id, jac_ppm,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY jac_ppm DESC, doc_id) AS BIGINT) AS rnk
       |  FROM cjac)""".stripMargin

  def textJaccardChampion: String =
    s"""WITH $toksCte,
       |$sqidsCte,
       |${jacCtes(budgeted = true)},
       |$jacChampCtes
       |SELECT query_id, doc_id, jac_ppm, rnk FROM cjr
       |WHERE rnk <= $Bm25K""".stripMargin

  def textJaccardChampRecall: String =
    s"""WITH $toksCte,
       |${jacCtes()},
       |$jacChampCtes,
       |ex AS (SELECT query_id, doc_id FROM jr WHERE rnk <= $Bm25K),
       |ch AS (SELECT query_id, doc_id, 1 AS hit FROM cjr WHERE rnk <= $Bm25K),
       |pq AS (SELECT e.query_id,
       |    CAST(sum(coalesce(ch.hit, 0)) * 1000000 // count(*) AS BIGINT) AS recall_ppm
       |  FROM ex e LEFT JOIN ch ON ch.query_id = e.query_id AND ch.doc_id = e.doc_id
       |  GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(recall_ppm) // count(*) AS BIGINT) AS mean_recall_ppm,
       |  CAST(min(recall_ppm) AS BIGINT) AS min_recall_ppm
       |FROM pq""".stripMargin

  /** Jaccard champion recall FLOOR gate twin — [[textChampRecallFloor]]
    * for the set-overlap ranking: the budgeted recall replay of the
    * champion Jaccard top-k vs the exact one plus a LITERAL `true`
    * floor flag. The Spark side computes the flag from the measured min
    * recall, so a corpus scale where the derived champion M stops
    * reaching the floor ON THE JACCARD GEOMETRY hash-fails the driver
    * gate — r13's M was fitted to BM25 sweeps and applied to Jaccard by
    * analogy, the exact silent-collapse class that broke M twice
    * (VERDICT r13 task #1).
    */
  def textJaccardRecallFloor: String =
    s"""WITH $toksCte,
       |$sqidsCte,
       |${jacCtes(budgeted = true)},
       |$jacChampCtes,
       |ex AS (SELECT query_id, doc_id FROM jr WHERE rnk <= $Bm25K),
       |ch AS (SELECT query_id, doc_id, 1 AS hit FROM cjr WHERE rnk <= $Bm25K),
       |pq AS (SELECT e.query_id,
       |    CAST(sum(coalesce(ch.hit, 0)) * 1000000 // count(*) AS BIGINT) AS recall_ppm
       |  FROM ex e LEFT JOIN ch ON ch.query_id = e.query_id AND ch.doc_id = e.doc_id
       |  GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(recall_ppm) // count(*) AS BIGINT) AS mean_recall_ppm,
       |  CAST(min(recall_ppm) AS BIGINT) AS min_recall_ppm,
       |  true AS meets_floor
       |FROM pq""".stripMargin

  /** LSH-bucketed Jaccard retrieval CTE chain ending in `ljr`
    * (query_id, doc_id, jac_ppm, rnk over the ≥τ candidates) — twin of
    * [[graft.operators.TextOps.jaccardLshTopK]]: the minhash band CTEs
    * at the RETRIEVAL scheme ([[graft.Params.LshTopkK]]/
    * [[graft.Params.LshTopkBands]] — generated from the same
    * coefficients as the Spark plan, like [[dedupMinhashLsh]]), budgeted
    * query probes against the corpus buckets, exact full-shingle-set
    * rescore of the candidates, threshold at
    * [[graft.Params.LshTopkMinJacPpm]], per-query rank.
    */
  private def lshTopkCtes: String =
    s"""${minhashCtesFor(2, LshTopkK, LshTopkBands)},
       |$sqidsCte,
       |dsh AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM shing),
       |jsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM dsh GROUP BY 1),
       |jqs AS (SELECT doc_id AS query_id, g FROM dsh
       |  WHERE doc_id % $Bm25QueryMod = 0
       |    AND doc_id IN (SELECT doc_id FROM sqids)),
       |lcand AS (SELECT DISTINCT qb.doc_id AS query_id, cb.doc_id
       |  FROM bands qb JOIN bands cb
       |    ON cb.band_id = qb.band_id AND cb.bk = qb.bk
       |    AND cb.doc_id <> qb.doc_id
       |  WHERE qb.doc_id % $Bm25QueryMod = 0
       |    AND qb.doc_id IN (SELECT doc_id FROM sqids)),
       |lint AS (SELECT c.query_id, c.doc_id, CAST(count(*) AS BIGINT) AS inter
       |  FROM lcand c
       |  JOIN dsh d ON d.doc_id = c.doc_id
       |  JOIN jqs q ON q.query_id = c.query_id AND q.g = d.g
       |  GROUP BY 1, 2),
       |ljac AS (SELECT i.query_id, i.doc_id,
       |    CAST(i.inter * 1000000 // (sa.sz + sb.sz - i.inter) AS BIGINT) AS jac_ppm
       |  FROM lint i
       |  JOIN jsz sa ON sa.doc_id = i.query_id
       |  JOIN jsz sb ON sb.doc_id = i.doc_id),
       |ljr AS (SELECT query_id, doc_id, jac_ppm,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY jac_ppm DESC, doc_id) AS BIGINT) AS rnk
       |  FROM ljac WHERE jac_ppm >= $LshTopkMinJacPpm)""".stripMargin

  def textJaccardLshTopk: String =
    s"""WITH $lshTopkCtes
       |SELECT query_id, doc_id, jac_ppm, rnk FROM ljr
       |WHERE rnk <= $Bm25K""".stripMargin

  /** LSH retrieval recall twin: the exact thresholded truth (the exact
    * Jaccard ranking's top-k restricted to jac_ppm ≥ τ — equal to the
    * top-k OF the ≥τ subset, since ties break identically) vs the LSH
    * top-k, per-query recall aggregated like [[textJaccardChampRecall]].
    */
  def textJaccardLshRecall: String =
    s"""WITH $lshTopkCtes,
       |jit AS (SELECT query_id, d.doc_id, CAST(count(*) AS BIGINT) AS inter
       |  FROM jqs JOIN dsh d USING (g) WHERE d.doc_id <> query_id
       |  GROUP BY 1, 2),
       |jac AS (SELECT j.query_id, j.doc_id,
       |    CAST(j.inter * 1000000 // (sa.sz + sb.sz - j.inter) AS BIGINT) AS jac_ppm
       |  FROM jit j
       |  JOIN jsz sa ON sa.doc_id = j.query_id
       |  JOIN jsz sb ON sb.doc_id = j.doc_id),
       |jr AS (SELECT query_id, doc_id, jac_ppm,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY jac_ppm DESC, doc_id) AS BIGINT) AS rnk
       |  FROM jac),
       |ex AS (SELECT query_id, doc_id FROM jr
       |  WHERE rnk <= $Bm25K AND jac_ppm >= $LshTopkMinJacPpm),
       |ch AS (SELECT query_id, doc_id, 1 AS hit FROM ljr WHERE rnk <= $Bm25K),
       |pq AS (SELECT e.query_id,
       |    CAST(sum(coalesce(ch.hit, 0)) * 1000000 // count(*) AS BIGINT) AS recall_ppm
       |  FROM ex e LEFT JOIN ch ON ch.query_id = e.query_id AND ch.doc_id = e.doc_id
       |  GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(sum(recall_ppm) // count(*) AS BIGINT) AS mean_recall_ppm,
       |  CAST(min(recall_ppm) AS BIGINT) AS min_recall_ppm
       |FROM pq""".stripMargin

  /** LSH retrieval recall FLOOR gate twin — [[textChampRecallFloor]]
    * for the bucketed retrieval path: the recall replay plus a LITERAL
    * `true` floor flag, so a corpus scale where the band scheme stops
    * reaching the calibrated floor hash-fails the driver gate.
    */
  def textJaccardLshFloor: String =
    s"""SELECT n_queries, mean_recall_ppm, min_recall_ppm,
       |  true AS meets_floor FROM ($textJaccardLshRecall)""".stripMargin

  /** Exact prefix-filter retrieval twin of
    * [[graft.operators.TextOps.jaccardPrefixTopK]]: because the PPJoin
    * kernel is EXACT, the twin does not replay the prefix filter — it
    * is the plain brute-force thresholded Jaccard ranking over the
    * budgeted queries (rank over all candidates ≡ rank over the ≥τ
    * subset, since ≥τ rows sort strictly first), which makes the hash
    * gate ALGORITHM-INDEPENDENT: any prefix/positional-filter bug that
    * drops or resurrects a candidate mismatches here.
    */
  def textJaccardPrefixTopk: String =
    s"""WITH $toksCte,
       |$sqidsCte,
       |${jacCtes(budgeted = true)}
       |SELECT query_id, doc_id, jac_ppm, rnk FROM jr
       |WHERE rnk <= $Bm25K AND jac_ppm >= $PrefixTopkMinJacPpm""".stripMargin

  def textBm25: String =
    s"""WITH $toksCte,
       |${bm25Ctes()}
       |SELECT query_id, doc_id, score_ppm, rnk FROM bmr
       |WHERE rnk <= $Bm25K""".stripMargin

  def textJaccardTopk: String =
    s"""WITH $toksCte,
       |${jacCtes()}
       |SELECT query_id, doc_id, jac_ppm, rnk FROM jr
       |WHERE rnk <= $Bm25K""".stripMargin

  /** RRF fusion twin of [[graft.operators.TextOps.rrfFuse]] over the
    * BM25 and Jaccard top-k rankings: Σ 1e6 // (c + rank) in exact
    * integers.
    */
  def textRrfFuse: String =
    s"""WITH $toksCte,
       |$sqidsCte,
       |${bm25Ctes(budgeted = true)},
       |${jacCtes(budgeted = true)},
       |uni AS (SELECT query_id, doc_id, rnk FROM bmr WHERE rnk <= $Bm25K
       |  UNION ALL SELECT query_id, doc_id, rnk FROM jr WHERE rnk <= $Bm25K),
       |fu AS (SELECT query_id, doc_id,
       |    CAST(sum(1000000 // ($RrfC + rnk)) AS BIGINT) AS rrf_ppm
       |  FROM uni GROUP BY 1, 2)
       |SELECT query_id, doc_id, rrf_ppm, rnk FROM (
       |  SELECT query_id, doc_id, rrf_ppm,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS rnk
       |  FROM fu)
       |WHERE rnk <= $Bm25K""".stripMargin

  def textBpeTrain: String = {
    val u = (1 to BpeMerges).map(t =>
      s"SELECT CAST($t AS BIGINT) AS step, l AS merge_left, r AS merge_right, " +
        s"CAST(c AS BIGINT) AS pair_count FROM best$t").mkString(" UNION ALL ")
    s"WITH ${bpeCtes(BpeMerges)}\n$u"
  }

  def textBpeVocab: String =
    s"""WITH ${bpeCtes(BpeMerges)}
       |SELECT sym, CAST(sum(freq) AS BIGINT) AS n FROM s$BpeMerges GROUP BY sym""".stripMargin

  def textBpeEncode: String =
    s"""WITH ${bpeCtes(BpeMerges)},
       |pw AS (SELECT word, CAST(count(*) AS BIGINT) AS n_syms
       |  FROM s$BpeMerges GROUP BY word)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_syms) AS BIGINT) AS n_bpe
       |FROM tok JOIN pw ON pw.word = tok.t GROUP BY doc_id""".stripMargin

  /** Incremental dedup: candidates touching the "new" split (doc_id%5=0)
    * against the rest — signatures are per-doc, so filtering the full
    * bands CTE is exactly what per-split computation yields.
    */
  def dedupIncremental: String =
    s"""WITH $minhashCtes,
       |nb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
       |eb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0)
       |SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM nb a JOIN nb b
       |    ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT least(n.doc_id, e.doc_id), greatest(n.doc_id, e.doc_id) FROM nb n JOIN eb e
       |    ON n.band_id = e.band_id AND n.bk = e.bk AND n.doc_id <> e.doc_id)""".stripMargin

  /** Decontamination: corpus docs sharing any LSH band with the
    * benchmark subset (doc_id % 50 = 0) are dropped.
    */
  def dedupDecontaminate: String =
    s"""WITH $minhashCtes,
       |bad AS (SELECT DISTINCT c.doc_id FROM bands c
       |  JOIN (SELECT band_id, bk FROM bands WHERE doc_id % 50 = 0) b
       |  ON c.band_id = b.band_id AND c.bk = b.bk)
       |SELECT d.doc_id, d.n_chars FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  def textPiiScrub: String = {
    val em = functions.TextFunctions.EmailRe
    val dg = functions.TextFunctions.LongDigitsRe
    s"""WITH t AS (SELECT doc_id,
       |  CASE WHEN doc_id % 10 = 0
       |       THEN text || ' contact alice@example.com or 555-867-5309 now'
       |       ELSE text END AS t2 FROM documents)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(t2, '$em', '<EMAIL>', 'g'), '$dg', '<NUMBER>', 'g') AS clean_text,
       |  CAST(len(regexp_extract_all(t2, '$em')) + len(regexp_extract_all(t2, '$dg')) AS BIGINT) AS n_pii
       |FROM t""".stripMargin
  }

  // ---- sampling + corpus text ops ----

  /** Split twin of [[graft.operators.Sampling.split]]: same salted hash,
    * same integer permille thresholds.
    */
  def sampleSplit: String = {
    val h = hex8Expr("('" + SplitSalt + ":' || CAST(doc_id AS VARCHAR))")
    val trainThr = SplitTrainPm * 4294967296L / 1000L
    val valThr = (SplitTrainPm + SplitValPm) * 4294967296L / 1000L
    s"""SELECT doc_id, CASE WHEN h < $trainThr THEN 'train'
       |  WHEN h < $valThr THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id, CAST($h AS BIGINT) AS h FROM documents)""".stripMargin
  }

  /** text_nfc twin: DuckDB's nfc_normalize against the native graft_nfc
    * expression — chr(769) = U+0301 combining acute, chr(233) = é.
    * Both engines count length() in Unicode codepoints.
    */
  def textNfc: String =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS len_raw,
      |  CAST(length(decomp) AS BIGINT) AS len_decomp,
      |  CAST(length(nfc_normalize(decomp)) AS BIGINT) AS len_nfc,
      |  nfc_normalize(decomp) = replace(text, 'e', chr(233)) AS composed_ok
      |FROM (SELECT doc_id, text,
      |    replace(text, 'e', 'e' || chr(769)) AS decomp FROM documents)""".stripMargin

  /** Grouped-split twin: [[sampleSplit]]'s hash thresholds with the
    * SOURCE as the hash key under its own salt.
    */
  def sampleSplitGrouped: String = {
    val h = hex8Expr("('" + GroupSplitSalt + ":' || source)")
    val trainThr = SplitTrainPm * 4294967296L / 1000L
    val valThr = (SplitTrainPm + SplitValPm) * 4294967296L / 1000L
    s"""SELECT doc_id, source, CASE WHEN h < $trainThr THEN 'train'
       |  WHEN h < $valThr THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id, source, CAST($h AS BIGINT) AS h FROM documents)""".stripMargin
  }

  /** mixBudget twin: identical water-filling rounds; HUGEINT where Spark
    * rides DECIMAL(38,0); every `//` numerator non-negative.
    */
  def sampleMixBudget: String =
    s"""WITH avail AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail
       |    FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(avail) AS BIGINT) AS tot, count(*) AS n_src FROM avail),
       |base AS (SELECT source, avail, avail * ${Params.PlanMaxEpochs} AS cap,
       |    tot * ${Params.PlanBudgetPct} // 100 // n_src AS alloc0
       |  FROM avail CROSS JOIN tot),
       |b2 AS (SELECT source, avail, cap, least(cap, alloc0) AS alloc1,
       |    greatest(0, alloc0 - cap) AS shortfall,
       |    greatest(0, cap - alloc0) AS headroom FROM base),
       |pool AS (SELECT CAST(sum(shortfall) AS BIGINT) AS pool,
       |    CAST(sum(headroom) AS BIGINT) AS hsum FROM b2),
       |fin AS (SELECT source, avail, cap,
       |    alloc1 + CASE WHEN hsum > 0 THEN least(headroom,
       |        CAST(CAST(pool AS HUGEINT) * headroom // hsum AS BIGINT))
       |      ELSE 0 END AS alloc
       |  FROM b2 CROSS JOIN pool)
       |SELECT source, avail, cap, CAST(alloc AS BIGINT) AS alloc,
       |  CAST(alloc * 1000000 // avail AS BIGINT) AS epochs_ppm FROM fin""".stripMargin

  /** DSIR twin of [[graft.operators.Sampling.dsirTopK]]: same md5-prefix
    * feature buckets, same add-one smoothed log ratio quantized to int64
    * 10⁻⁴ nats (the float surfaces ONLY inside round(ln·10⁴) — the
    * per-doc fold is exact-integer, so aggregation order can't flake).
    */
  def sampleDsir: String = {
    val hb = hex8Expr("t")
    s"""WITH $toksCte, $shingCte,
       |feat AS (SELECT doc_id, unnest(ts) AS t FROM toks
       |  UNION ALL SELECT doc_id, unnest(sh) AS t FROM shing),
       |fb AS (SELECT doc_id, CAST($hb AS BIGINT) % $DsirBuckets AS b FROM feat),
       |dbk AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
       |  FROM fb GROUP BY 1, 2),
       |rawb AS (SELECT b, CAST(sum(c) AS BIGINT) AS rc FROM dbk GROUP BY 1),
       |tgtb AS (SELECT b, CAST(sum(c) AS BIGINT) AS tc
       |  FROM dbk JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
       |tot AS (SELECT (SELECT sum(rc) FROM rawb) AS rtot,
       |  (SELECT coalesce(sum(tc), 0) FROM tgtb) AS ttot),
       |lam AS (SELECT rawb.b, CAST(round(
       |    (ln(CAST(coalesce(tc, 0) + 1 AS DOUBLE) / CAST(ttot + $DsirBuckets AS DOUBLE))
       |     - ln(CAST(rc + 1 AS DOUBLE) / CAST(rtot + $DsirBuckets AS DOUBLE))) * 10000)
       |    AS BIGINT) AS lam4
       |  FROM rawb LEFT JOIN tgtb ON tgtb.b = rawb.b CROSS JOIN tot),
       |sc AS (SELECT doc_id, CAST(sum(c * lam4) AS BIGINT) AS score4
       |  FROM dbk JOIN lam USING (b) GROUP BY 1)
       |SELECT doc_id, score4,
       |  CAST(row_number() OVER (ORDER BY score4 DESC, doc_id) AS BIGINT) AS rk
       |FROM sc ORDER BY score4 DESC, doc_id LIMIT $DsirTopK""".stripMargin
  }

  def sampleBernoulli: String = {
    val thr = math.floor(SampleRate * 4294967296.0).toLong
    val h = hex8Expr("('" + SampleSalt + ":' || CAST(doc_id AS VARCHAR))")
    s"""SELECT doc_id, h FROM (
       |  SELECT doc_id, CAST($h AS BIGINT) AS h FROM documents)
       |WHERE h < $thr""".stripMargin
  }

  def sampleWeighted: String = {
    val h = hex8Expr("('" + SampleSalt + ":' || CAST(d.doc_id AS VARCHAR))")
    s"""WITH $toksCte,
       |q AS (SELECT d.doc_id, CAST($h AS BIGINT) AS h,
       |  $qualityExprSql AS qscore
       |  FROM documents d JOIN toks ON toks.doc_id = d.doc_id)
       |SELECT doc_id, qscore FROM q
       |WHERE h < CAST(FLOOR(least(greatest(qscore, 0.0), 1.0) * 4294967296.0) AS BIGINT)""".stripMargin
  }

  def sampleStratified: String = {
    val h = hex8Expr("('" + SampleSalt + ":' || CAST(event_id AS VARCHAR))")
    s"""SELECT event_id, event_type FROM (
       |  SELECT event_id, event_type,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn
       |  FROM (SELECT event_id, event_type, CAST($h AS BIGINT) AS h FROM events))
       |WHERE rn <= $StratumK""".stripMargin
  }

  def textVocab: String =
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
       |tc AS (SELECT t AS term, count(*) AS n FROM tok GROUP BY t)
       |SELECT term, n, rank FROM (
       |  SELECT term, n,
       |    CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank
       |  FROM tc)
       |WHERE rank <= $VocabTopN""".stripMargin

  def textTfidf: String =
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(ts) AS t FROM toks),
       |tf AS (SELECT doc_id, t AS term, count(*) AS tf FROM tok GROUP BY doc_id, t),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |nq AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (SELECT tf.doc_id, tf.term,
       |  round(tf.tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 4) AS tfidf
       |  FROM tf JOIN dfq USING (term) CROSS JOIN nq)
       |SELECT doc_id, term, tfidf, rk FROM (
       |  SELECT doc_id, term, tfidf,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rk
       |  FROM sc)
       |WHERE rk <= $TfidfTopK""".stripMargin

  def textChunk: String =
    s"""WITH $toksCte,
       |ch AS (SELECT doc_id, i AS chunk_idx,
       |    array_to_string(ts[(i*$ChunkStride+1):(i*$ChunkStride+$ChunkSize)], ' ') AS chunk_text
       |  FROM (SELECT doc_id, ts,
       |      unnest(range(0, CASE WHEN len(ts) = 0 THEN 0
       |                          ELSE (len(ts)-1)//$ChunkStride + 1 END)) AS i
       |    FROM toks))
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk_text,
       |  CAST(len(list_filter(string_split(chunk_text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens
       |FROM ch""".stripMargin

  // ---- events ----

  def eventsWindowAgg: String =
    """SELECT CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m,
      |  CAST(day(ts) AS BIGINT) AS d, CAST(hour(ts) AS BIGINT) AS h, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2, 3, 4, 5""".stripMargin

  def eventsSessionize: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
       |f AS (SELECT user_id, event_id, ts_ms,
       |  CASE WHEN lag(ts_ms) OVER w IS NULL THEN 1
       |       WHEN ts_ms - lag(ts_ms) OVER w > $SessionGapMs THEN 1 ELSE 0 END AS ns
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |s AS (SELECT user_id, ts_ms,
       |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
       |  FROM f)
       |SELECT user_id, session_id, count(*) AS n_events, min(ts_ms) AS start_ms,
       |  max(ts_ms) - min(ts_ms) AS duration_ms
       |FROM s GROUP BY user_id, session_id""".stripMargin

  /** Twin for the STREAMING sessionizer replay: identical session math
    * to [[eventsSessionize]], minus the ordinal session_id the streaming
    * form (by design) does not number. Rows stay unique because two
    * sessions of one user cannot share start_ms.
    */
  def streamSessionizeReplay: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events),
       |f AS (SELECT user_id, event_id, ts_ms,
       |  CASE WHEN lag(ts_ms) OVER w IS NULL THEN 1
       |       WHEN ts_ms - lag(ts_ms) OVER w > $SessionGapMs THEN 1 ELSE 0 END AS ns
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |s AS (SELECT user_id, ts_ms,
       |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
       |  FROM f)
       |SELECT user_id, count(*) AS n_events, min(ts_ms) AS start_ms,
       |  max(ts_ms) - min(ts_ms) AS duration_ms
       |FROM s GROUP BY user_id, session_id""".stripMargin

  /** Twin for the STREAMING exact-dedup replay: the stream saw every
    * event twice (two staged micro-batches) and must emit each exactly
    * once — i.e. the plain table, event_id being unique in the
    * generator's layout (driver-checked here every round).
    */
  def streamDedupeReplay: String =
    """SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
      |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events""".stripMargin

  /** Twin for the checkpoint-RESTART replay: the stream drained the
    * backlog across two separately-started queries sharing one
    * checkpoint, so exactly-once across restart means the final
    * complete-mode state is just the batch GROUP BY over the whole
    * table — a state loss undercounts, a file re-read double-counts,
    * both hash-fail here.
    */
  def streamRestartReplay: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1""".stripMargin

  /** Twin for the watermark late-drop replay (§2.6 row 33n): the
    * harness stages the deterministic `event_id % 37` slice of the
    * events table AFTER a watermark-advancing sentinel, so the drop
    * counter the stream surfaces must equal the slice's cardinality
    * EXACTLY — and the flag must be literally true. A stream that
    * admits late rows into state, or drops without accounting, breaks
    * one of the three columns.
    */
  def streamLateDropReplay: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_late_staged,
      |  CAST(count(*) AS BIGINT) AS n_dropped_by_watermark,
      |  true AS all_late_dropped
      |FROM events WHERE event_id % 37 = 0""".stripMargin

  /** Twin for the STREAMING per-key throttle replay: the cooldown rule
    * is deterministic in event time — within each (user, type) key,
    * events in (ts, event_id) order pass iff ≥ cooldown elapsed since
    * the last PASSED event's time (the passed event anchors the window,
    * so this is a data-dependent fold, not a lag window) — replayed
    * here as a per-key recursive step over the position-indexed events
    * (the qHolt recursive-CTE pattern, all keys advancing in lockstep).
    */
  def streamThrottleReplay: String =
    s"""WITH RECURSIVE ev AS (SELECT user_id, event_type, event_id,
       |    epoch_ms(ts) AS t,
       |    row_number() OVER (PARTITION BY user_id, event_type
       |      ORDER BY ts, event_id) AS pos
       |  FROM events),
       |rec AS (
       |  SELECT user_id, event_type, pos, event_id, t, t AS last_t,
       |    true AS passed
       |  FROM ev WHERE pos = 1
       |  UNION ALL
       |  SELECT e.user_id, e.event_type, e.pos, e.event_id, e.t,
       |    CASE WHEN e.t - r.last_t >= $ThrottleCooldownMs THEN e.t
       |         ELSE r.last_t END,
       |    e.t - r.last_t >= $ThrottleCooldownMs
       |  FROM rec r JOIN ev e ON e.user_id = r.user_id
       |    AND e.event_type = r.event_type AND e.pos = r.pos + 1)
       |SELECT event_id, user_id, event_type, t AS ts_ms
       |FROM rec WHERE passed""".stripMargin

  /** Twin for the STREAMING windowed-aggregate replay: Spark's
    * window(ts, '1 hour') is epoch-aligned, so the window start is
    * integer-division hour truncation of epoch millis (ts is always
    * after 1970 here, so truncation == floor).
    */
  def streamWindowAggReplay: String =
    """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS win_ms, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Twin for the STREAMING interval-join replays: the plain batch
    * interval join — each purchase against the same user's clicks in
    * the preceding window. `inner = false` adds the LEFT-OUTER null
    * rows for clicks no purchase ever lands on (the streaming side
    * emits those at watermark eviction).
    */
  def streamJoinReplay(inner: Boolean): String = {
    val jt = if (inner) "JOIN" else "LEFT JOIN"
    s"""SELECT c.user_id, b.event_id AS buy_id, c.event_id AS click_id,
       |  epoch_ms(b.ts) - epoch_ms(c.ts) AS gap_ms
       |FROM (SELECT * FROM events WHERE event_type = '$AsofMatch') c
       |$jt (SELECT * FROM events WHERE event_type = '$AsofTarget') b
       |  ON b.user_id = c.user_id AND b.ts >= c.ts
       |  AND b.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin
  }

  /** Twin for the STREAMING CDC ingestion replay: the staged log's
    * batches partition it by seq range, so the foreachBatch fold equals
    * ONE global latest-op-wins — recomputed here from orders directly
    * (seq 2's %13 update outranks seq 1's %7; seq 3 deletes %11 keys).
    */
  def streamCdcReplay: String =
    """SELECT o_orderkey,
      |  CAST(FLOOR((CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 500.0
      |              WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
      |              ELSE o_totalprice END) * 100) AS BIGINT) AS price_cents
      |FROM orders WHERE o_orderkey % 11 <> 0""".stripMargin

  def eventsPivot: String = {
    val cols = EventTypes
      .map(t => s"count(*) FILTER (WHERE event_type = '$t') AS $t").mkString(", ")
    s"""SELECT CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m,
       |  CAST(day(ts) AS BIGINT) AS d, $cols
       |FROM events GROUP BY 1, 2, 3""".stripMargin
  }

  def eventsAsof: String =
    s"""SELECT event_id, user_id, ts_ms, asof_ms, ts_ms - asof_ms AS gap_ms FROM (
       |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
       |    max(CASE WHEN event_type = '$AsofMatch' THEN epoch_ms(ts) END) OVER (
       |      PARTITION BY user_id ORDER BY epoch_ms(ts), event_id ROWS UNBOUNDED PRECEDING) AS asof_ms
       |  FROM events)
       |WHERE event_type = '$AsofTarget'""".stripMargin

  /** Nearest-event twin of [[graft.operators.EventOps.nearestEvent]]:
    * same two frames over the same (ts_ms, event_id) sort, same
    * tie-to-prior pick.
    */
  def eventsNearest: String =
    s"""SELECT event_id, user_id, ts_ms, prev_ms, next_ms, nearest_ms,
       |  abs(nearest_ms - ts_ms) AS gap_ms FROM (
       |  SELECT event_id, user_id, event_type, ts_ms, prev_ms, next_ms,
       |    CASE WHEN prev_ms IS NULL THEN next_ms
       |      WHEN next_ms IS NULL THEN prev_ms
       |      WHEN ts_ms - prev_ms <= next_ms - ts_ms THEN prev_ms
       |      ELSE next_ms END AS nearest_ms
       |  FROM (
       |    SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
       |      max(CASE WHEN event_type = '$AsofMatch' THEN epoch_ms(ts) END) OVER (
       |        PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
       |        ROWS UNBOUNDED PRECEDING) AS prev_ms,
       |      min(CASE WHEN event_type = '$AsofMatch' THEN epoch_ms(ts) END) OVER (
       |        PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
       |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ms
       |    FROM events))
       |WHERE event_type = '$AsofTarget'""".stripMargin

  /** Burst twin of [[graft.operators.EventOps.bursts]]. */
  def eventsBursts: String =
    s"""WITH h AS (SELECT event_type AS entity, epoch_ms(ts) // 3600000 AS hour,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2),
       |w AS (SELECT entity, hour, cnt,
       |    CAST(COALESCE(sum(cnt) OVER tw, 0) AS BIGINT) AS trail_sum,
       |    CAST(COALESCE(count(cnt) OVER tw, 0) AS BIGINT) AS trail_n
       |  FROM h WINDOW tw AS (PARTITION BY entity ORDER BY hour
       |    ROWS BETWEEN $BurstTrailHours PRECEDING AND 1 PRECEDING))
       |SELECT entity, CAST(hour AS BIGINT) AS hour, cnt, trail_sum, trail_n,
       |  trail_n >= $BurstMinTrail AND cnt * trail_n > $BurstK * trail_sum AS burst
       |FROM w""".stripMargin

  /** Attribution twin of [[graft.operators.EventOps.attribution]]. */
  def eventsAttribution: String =
    s"""WITH tg AS (SELECT user_id, event_id AS conv_id, epoch_ms(ts) AS conv_ms
       |  FROM events WHERE event_type = '$AsofTarget'),
       |tc AS (SELECT user_id, event_id AS touch_id, epoch_ms(ts) AS touch_ms
       |  FROM events WHERE event_type = '$AsofMatch'),
       |p AS (SELECT tg.user_id, conv_id, touch_id
       |  FROM tg JOIN tc ON tc.user_id = tg.user_id
       |    AND touch_ms >= conv_ms - $SessionGapMs AND touch_ms < conv_ms),
       |k AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS k FROM p GROUP BY 1)
       |SELECT p.user_id, p.conv_id, p.touch_id,
       |  CAST(1000000 // k.k AS BIGINT) AS credit_ppm
       |FROM p JOIN k USING (conv_id)""".stripMargin

  /** attributionDecay twin: the same capped power-of-two decay ladder
    * (`<<` + `//` are exact in both engines) and per-conversion
    * normalizer.
    */
  def eventsAttributionDecay: String =
    s"""WITH tg AS (SELECT user_id, event_id AS conv_id, epoch_ms(ts) AS conv_ms
       |  FROM events WHERE event_type = '$AsofTarget'),
       |tc AS (SELECT user_id, event_id AS touch_id, epoch_ms(ts) AS touch_ms
       |  FROM events WHERE event_type = '$AsofMatch'),
       |p AS (SELECT tg.user_id, conv_id, touch_id,
       |    CAST(1000000 // (1 << CAST(least((conv_ms - touch_ms) // $AttrHalflifeMs, 19) AS INTEGER)) AS BIGINT) AS w
       |  FROM tg JOIN tc ON tc.user_id = tg.user_id
       |    AND touch_ms >= conv_ms - $SessionGapMs AND touch_ms < conv_ms),
       |n AS (SELECT conv_id, sum(w) AS tw FROM p GROUP BY 1)
       |SELECT p.user_id, p.conv_id, p.touch_id, CAST(p.w AS BIGINT) AS w_ppm,
       |  CAST((1000000 * p.w) // n.tw AS BIGINT) AS credit_ppm
       |FROM p JOIN n USING (conv_id)""".stripMargin

  /** phraseSearch twin: DuckDB's parallel unnest zips (term, 0-based
    * position); the k−1 positional joins are generated from the same
    * [[Params.PhraseQuery]] the Spark side compiles in.
    */
  def textPhraseSearch: String = {
    val ph = PhraseQuery
    val joins = ph.zipWithIndex.drop(1).map { case (t, i) =>
      s"JOIN (SELECT doc_id, pos - $i AS pos FROM p WHERE term = '$t') a$i USING (doc_id, pos)"
    }.mkString("\n       |  ")
    s"""WITH $toksCte,
       |p AS (SELECT doc_id, unnest(ts) AS term,
       |    CAST(unnest(range(0, len(ts))) AS BIGINT) AS pos FROM toks),
       |m AS (SELECT a0.doc_id FROM
       |    (SELECT doc_id, pos FROM p WHERE term = '${ph.head}') a0
       |  $joins)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches FROM m
       |GROUP BY doc_id""".stripMargin
  }

  def eventsTransitions: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
       |x AS (SELECT event_type AS ft,
       |  lead(event_type) OVER w AS tt,
       |  lead(ts_ms) OVER w - ts_ms AS gap
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
       |SELECT ft AS from_type, tt AS to_type, count(*) AS n
       |FROM x WHERE tt IS NOT NULL AND gap <= $SessionGapMs GROUP BY 1, 2""".stripMargin

  /** Randomized-response twin of
    * [[graft.operators.Quality.randomizedResponse]]: replays the salted
    * flips bit-for-bit, then the same clamped HUGEINT debias (DuckDB's
    * int128 standing in for Spark's DECIMAL(38,0)).
    */
  def qRandResponse: String = {
    val h = hex8Expr(s"('$RrSalt:' || CAST(o_orderkey AS VARCHAR))")
    s"""WITH b AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
       |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS bit,
       |    CASE WHEN CAST($h AS BIGINT) * 1000000 <
       |      $RrFlipPpm * 4294967296 THEN 1 ELSE 0 END AS flip
       |  FROM orders),
       |g AS (SELECT y, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN bit <> flip THEN 1 ELSE 0 END) AS BIGINT)
       |      AS reported_cnt
       |  FROM b GROUP BY y)
       |SELECT y AS grp, n, reported_cnt,
       |  CAST(least(1000000, (greatest(CAST(0 AS HUGEINT),
       |      CAST(reported_cnt AS HUGEINT) * 1000000
       |        - CAST(n AS HUGEINT) * $RrFlipPpm) * 1000000)
       |    // (CAST(n AS HUGEINT) * ${1000000L - 2 * RrFlipPpm})) AS BIGINT)
       |    AS est_true_ppm
       |FROM g""".stripMargin
  }

  def qKanon: String =
    s"""WITH g AS (SELECT CAST(c_mktsegment AS VARCHAR) AS segment,
       |  CAST(c_nationkey AS VARCHAR) AS nation, count(*) AS n
       |  FROM customer GROUP BY 1, 2)
       |SELECT c.c_custkey,
       |  CASE WHEN g.n < $KanonK THEN '*' ELSE CAST(c.c_mktsegment AS VARCHAR) END AS segment,
       |  CASE WHEN g.n < $KanonK THEN '*' ELSE CAST(c.c_nationkey AS VARCHAR) END AS nation
       |FROM customer c JOIN g ON g.segment = CAST(c.c_mktsegment AS VARCHAR)
       |  AND g.nation = CAST(c.c_nationkey AS VARCHAR)""".stripMargin

  def qLdiversity: String =
    s"""SELECT CAST(c_mktsegment AS VARCHAR) AS segment,
       |  CAST(c_nationkey AS VARCHAR) AS nation,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS BIGINT) AS n_sens,
       |  count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= $LdivL AS diverse
       |FROM customer GROUP BY 1, 2""".stripMargin

  /** Twin of [[graft.operators.Quality.tCloseness]]: same zero-filled
    * class×band cumulative grid, same cross-multiplied integer EMD and
    * truncating ppm division (HUGEINT = Spark's DECIMAL(38,0) here).
    */
  def qTcloseness: String =
    s"""WITH base AS (SELECT CAST(c_mktsegment AS VARCHAR) AS segment,
       |    CAST(c_nationkey AS VARCHAR) AS nation,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band FROM customer),
       |g AS (SELECT band, count(*) AS gc FROM base GROUP BY 1),
       |tot AS (SELECT sum(gc) AS n_total, count(*) AS n_bands FROM g),
       |gcum AS (SELECT band, sum(gc) OVER (ORDER BY band) AS gcum FROM g),
       |cls AS (SELECT segment, nation, count(*) AS n FROM base GROUP BY 1, 2),
       |cb AS (SELECT segment, nation, band, count(*) AS cc FROM base GROUP BY 1, 2, 3),
       |ccum AS (SELECT cls.segment, cls.nation, cls.n, gcum.band, gcum.gcum,
       |    sum(coalesce(cb.cc, 0)) OVER (PARTITION BY cls.segment, cls.nation
       |      ORDER BY gcum.band) AS ccum
       |  FROM cls CROSS JOIN gcum
       |  LEFT JOIN cb ON cb.segment = cls.segment AND cb.nation = cls.nation
       |    AND cb.band = gcum.band),
       |emd AS (SELECT segment, nation, n,
       |    sum(abs(ccum * tot.n_total - gcum * n)) AS raw,
       |    max(tot.n_total) AS n_total, max(tot.n_bands) AS n_bands
       |  FROM ccum, tot GROUP BY 1, 2, 3)
       |SELECT segment, nation, CAST(n AS BIGINT) AS n,
       |  CAST(CAST(raw AS HUGEINT) * 1000000
       |    // (n * n_total * greatest(n_bands - 1, 1)) AS BIGINT) AS emd_ppm,
       |  CAST(CAST(raw AS HUGEINT) * 1000000
       |    // (n * n_total * greatest(n_bands - 1, 1)) <= $TclosePpm AS BOOLEAN) AS close
       |FROM emd""".stripMargin

  def eventsExtract: String =
    """SELECT event_id, CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k FROM events"""

  // ---- ETL core ----

  def stageClean: String =
    """SELECT event_id, user_id, nullif(event_type, 'view') AS event_type_clean,
      |  CAST(FLOOR(value * 100) AS BIGINT) AS value_cents,
      |  CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
      |FROM events WHERE event_type <> 'error'""".stripMargin

  def stageDedupKey: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rk
      |  FROM orders) WHERE rk = 1""".stripMargin

  def dimDistinct: String =
    "SELECT DISTINCT c_mktsegment AS segkey FROM customer WHERE c_mktsegment IS NOT NULL"

  def dimExplodeBridge: String =
    """SELECT DISTINCT p_partkey, lower(trim(w)) AS word FROM (
      |  SELECT p_partkey, unnest(list_filter(string_split(p_name, ' '), t -> t <> '')) AS w
      |  FROM part)""".stripMargin

  private val cents = "CAST(FLOOR(o_totalprice * 100) AS BIGINT)"

  def factJoin: String =
    s"""SELECT o_orderkey AS factkey, o_custkey AS custkey,
       |  CAST(year(o_orderdate) AS BIGINT) AS yearkey, $cents AS price_cents,
       |  c_mktsegment AS segment
       |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  def martKpiYear: String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey, count(*) AS n_orders,
       |  round(avg(o_totalprice), 4) AS mean_price, CAST(sum($cents) AS BIGINT) AS total_cents
       |FROM orders GROUP BY 1""".stripMargin

  def martTopPerGroup: String =
    s"""SELECT segment, factkey, price_cents, rk FROM (
       |  SELECT c_mktsegment AS segment, o_orderkey AS factkey, $cents AS price_cents,
       |    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY $cents DESC, o_orderkey) AS BIGINT) AS rk
       |  FROM orders JOIN customer ON o_custkey = c_custkey)
       |WHERE rk <= $TopNPerGroup""".stripMargin

  def martTopThreshold: String =
    s"""SELECT segment, factkey, price_cents, rk FROM (
       |  SELECT c_mktsegment AS segment, o_orderkey AS factkey, $cents AS price_cents,
       |    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY $cents DESC, o_orderkey) AS BIGINT) AS rk
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE o_totalprice >= $TopThreshold)
       |WHERE rk <= $TopThresholdN""".stripMargin

  def martHistogram: String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey,
       |  CAST(FLOOR(o_totalprice / $HistWidth) AS BIGINT) AS bucket, count(*) AS n
       |FROM orders GROUP BY 1, 2""".stripMargin

  def srcCsvRoundtrip: String =
    "SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer"

  // ---- TPC-H style ----

  def q1PricingSummary: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(sum(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       |  CAST(sum(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       |  CAST(sum(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       |  CAST(sum(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       |  round(avg(l_quantity), 4) AS avg_qty,
       |  round(avg(l_extendedprice), 4) AS avg_price,
       |  round(avg(l_discount), 4) AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '$Q1Cutoff'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  def q3ShippingPriority: String =
    s"""SELECT l_orderkey AS orderkey,
       |  CAST(sum(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
       |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = '$Q3Segment' AND o_orderdate < TIMESTAMP '$Q3Date'
       |  AND l_shipdate > TIMESTAMP '$Q3Date'
       |GROUP BY l_orderkey
       |ORDER BY revenue_cents DESC, orderkey LIMIT 10""".stripMargin

  def q5LocalSupplier: String =
    s"""SELECT n_name,
       |  CAST(sum(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = '$Q5Region' AND o_orderdate >= TIMESTAMP '$Q5Lo'
       |  AND o_orderdate < TIMESTAMP '$Q5Hi'
       |GROUP BY n_name""".stripMargin

  def qAntiJoin: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin

  def qSemiJoin: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin

  def qUnpivot: String = {
    val wide = eventsPivot
    val arms = EventTypes
      .map(t => s"SELECT y, m, d, '$t' AS event_type, $t AS n FROM wide")
      .mkString(" UNION ALL ")
    s"WITH wide AS ($wide) $arms"
  }

  def qMovingAvg: String =
    s"""WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey,
       |  CAST(sum($cents) AS BIGINT) AS total_cents FROM orders GROUP BY 1)
       |SELECT yearkey, total_cents,
       |  round(avg(total_cents) OVER (ORDER BY yearkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
       |FROM y""".stripMargin

  def qNtile: String =
    s"""SELECT CAST(yearkey AS BIGINT) AS yearkey, CAST(quartile AS BIGINT) AS quartile,
       |  count(*) AS n, min(pc) AS lo_cents, max(pc) AS hi_cents
       |FROM (
       |  SELECT year(o_orderdate) AS yearkey, $cents AS pc,
       |    ntile(4) OVER (PARTITION BY year(o_orderdate) ORDER BY $cents, o_orderkey) AS quartile
       |  FROM orders)
       |GROUP BY 1, 2""".stripMargin

  def qMedian: String =
    """SELECT yearkey, round(avg(v), 4) AS median FROM (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey, o_totalprice AS v,
      |    row_number() OVER (PARTITION BY year(o_orderdate) ORDER BY o_totalprice, o_orderkey) AS rn,
      |    count(*) OVER (PARTITION BY year(o_orderdate)) AS cnt
      |  FROM orders)
      |WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
      |GROUP BY yearkey""".stripMargin

  /** Calendar densify + LOCF twin of [[graft.etl.Marts.gapFillLocf]]:
    * `range(mn, mx+1)` is DuckDB's upper-exclusive integer sequence
    * (Spark's `sequence(mn, mx)` is inclusive), and both engines'
    * default `ORDER BY`-window frame is RANGE UNBOUNDED
    * PRECEDING..CURRENT ROW, so `last_value(... IGNORE NULLS)` ≡
    * Spark `last(_, ignoreNulls=true)`.
    */
  def qGapFill: String =
    """WITH o AS (SELECT CAST(c_nationkey AS BIGINT) AS grp,
      |  year(o_orderdate)*12 + month(o_orderdate) - 1 AS mk,
      |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS pc
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |obs AS (SELECT grp, mk, count(*) AS n_orders,
      |        CAST(sum(pc) AS BIGINT) AS sum_cents FROM o GROUP BY 1, 2),
      |b AS (SELECT min(mk) AS mn, max(mk) AS mx FROM obs),
      |cal AS (SELECT grp, unnest(range(mn, mx + 1)) AS mk
      |        FROM (SELECT DISTINCT grp FROM obs) CROSS JOIN b)
      |SELECT cal.grp, CAST(cal.mk AS BIGINT) AS mk,
      |  CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
      |  last_value(sum_cents IGNORE NULLS)
      |    OVER (PARTITION BY cal.grp ORDER BY cal.mk) AS sum_cents_locf
      |FROM cal LEFT JOIN obs ON cal.grp = obs.grp AND cal.mk = obs.mk""".stripMargin

  /** Robust outlier twin of [[graft.operators.Quality.robustOutliers]]:
    * type-1 lower medians at rank `(n+1)//2`, all int64.
    */
  def qOutliers: String =
    s"""WITH o AS (SELECT o_orderpriority AS grp, o_orderkey,
       |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v FROM orders),
       |r1 AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY v, o_orderkey) AS rn,
       |       count(*) OVER (PARTITION BY grp) AS cnt FROM o),
       |med AS (SELECT grp, min(CASE WHEN rn = (cnt + 1) // 2 THEN v END) AS med
       |        FROM r1 GROUP BY 1),
       |d AS (SELECT o.grp, o.o_orderkey, o.v, med.med, abs(v - med) AS dev
       |      FROM o JOIN med USING (grp)),
       |r2 AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY dev, o_orderkey) AS rn,
       |       count(*) OVER (PARTITION BY grp) AS cnt FROM d),
       |mad AS (SELECT grp, min(CASE WHEN rn = (cnt + 1) // 2 THEN dev END) AS mad
       |        FROM r2 GROUP BY 1)
       |SELECT d.grp, d.o_orderkey, d.v AS price_cents, d.med, mad.mad
       |FROM d JOIN mad USING (grp) WHERE dev > $OutlierK * mad""".stripMargin

  /** Hopping-window twin of [[graft.operators.EventOps.slidingCounts]]:
    * window membership replayed with the same integer epoch arithmetic.
    */
  def eventsSlidingWindow: String = {
    val k = SlideSizeMs / SlideHopMs
    s"""WITH e AS (SELECT event_type, epoch_ms(ts) AS ms FROM events),
       |i AS (SELECT unnest(range(0, $k)) AS i)
       |SELECT event_type,
       |  CAST((ms // $SlideHopMs - i) * $SlideHopMs AS BIGINT) AS w_start,
       |  count(*) AS n_events
       |FROM e CROSS JOIN i GROUP BY 1, 2""".stripMargin
  }

  /** Mixture-sampling twin of [[graft.operators.Sampling.mixtureSample]]:
    * the target-weight table inlined as VALUES from the same Params
    * constants, the keep draw the same salted md5.
    */
  def sampleMixture: String = {
    val vals = MixTargetsPpm.map { case (s, w) => s"('$s', $w)" }.mkString(", ")
    val h = hex8Expr("('" + MixSalt + ":' || CAST(doc_id AS VARCHAR))")
    s"""WITH tgt(source, wppm) AS (VALUES $vals),
       |avail AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS c
       |          FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tc FROM avail),
       |rates AS (SELECT avail.source,
       |  least(1000000, (((tc * $MixBudgetPct) // 100) * wppm) // c) AS rate_ppm
       |  FROM avail CROSS JOIN tot JOIN tgt USING (source))
       |SELECT doc_id, d.source, CAST(rate_ppm AS BIGINT) AS rate_ppm
       |FROM documents d JOIN rates ON d.source = rates.source
       |WHERE CAST($h AS BIGINT) * 1000000 < rate_ppm * 4294967296""".stripMargin
  }

  /** KMV twin: the k-th smallest distinct hash per group via a rank
    * window over the DISTINCT hash set — order statistics replay the
    * bounded-buffer aggregate exactly.
    */
  def qKmvDistinct: String = {
    val h = hex8Expr(s"('$KmvSalt:' || CAST(o_custkey AS VARCHAR))")
    s"""WITH hv AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yearkey,
       |  CAST($h AS BIGINT) AS h FROM orders),
       |r AS (SELECT yearkey, h,
       |  row_number() OVER (PARTITION BY yearkey ORDER BY h) AS rn,
       |  count(*) OVER (PARTITION BY yearkey) AS cnt FROM hv)
       |SELECT yearkey, CAST(CASE WHEN max(cnt) < $KmvK THEN max(cnt)
       |  ELSE ((${KmvK - 1} * 4294967296) // (max(CASE WHEN rn = $KmvK THEN h END) + 1))
       |  END AS BIGINT) AS n_est
       |FROM r GROUP BY yearkey""".stripMargin
  }

  /** KMV-union twin: any hash in the union's true k-minimum set is in
    * its own group's k-minimum set, so the merged sketch equals the
    * global sketch — replay as the k-th smallest distinct hash overall.
    */
  def qKmvUnion: String = {
    val h = hex8Expr(s"('$KmvSalt:' || CAST(o_custkey AS VARCHAR))")
    s"""WITH y AS (SELECT CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS n_sketches
       |  FROM orders),
       |hv AS (SELECT DISTINCT CAST($h AS BIGINT) AS h FROM orders),
       |r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
       |  count(*) OVER () AS cnt FROM hv),
       |e AS (SELECT CAST(CASE WHEN max(cnt) < $KmvK THEN max(cnt)
       |  ELSE ((${KmvK - 1} * 4294967296) // (max(CASE WHEN rn = $KmvK THEN h END) + 1))
       |  END AS BIGINT) AS union_est FROM r)
       |SELECT n_sketches, union_est FROM y CROSS JOIN e""".stripMargin
  }

  /** Quantile-sketch twin of
    * [[graft.operators.QuantileSketch.sketch]]+`estimate`: the bottom-k
    * rows by salted row hash replay as a rank window over (h, v); the
    * nearest-rank percentiles are integer order statistics over those k
    * sampled values.
    */
  def qKllQuantiles: String = {
    val h = hex8Expr(s"('$KllSalt:' || CAST(o_orderkey AS VARCHAR))")
    val pcols = KllPs.map(p =>
      s"CAST(max(CASE WHEN vr = greatest(1, ($p * n + 99) // 100) THEN v END) AS BIGINT) AS p$p")
      .mkString(",\n  ")
    s"""WITH b AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey,
       |  CAST($h AS BIGINT) AS h,
       |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v FROM orders),
       |s AS (SELECT yearkey, v,
       |  row_number() OVER (PARTITION BY yearkey ORDER BY h, v) AS rn FROM b),
       |kk AS (SELECT yearkey, v FROM s WHERE rn <= $KllK),
       |r AS (SELECT yearkey, v,
       |  row_number() OVER (PARTITION BY yearkey ORDER BY v) AS vr,
       |  count(*) OVER (PARTITION BY yearkey) AS n FROM kk)
       |SELECT yearkey, CAST(max(n) AS BIGINT) AS n_sample,
       |  $pcols
       |FROM r GROUP BY yearkey""".stripMargin
  }

  /** Quantile-sketch-union twin: merged per-year bottom-k state equals
    * the GLOBAL bottom-k state (any of the union's k smallest pairs is
    * among its own year's k smallest), so the replay is one global rank
    * window — no per-group stage needed.
    */
  def qKllUnion: String = {
    val h = hex8Expr(s"('$KllSalt:' || CAST(o_orderkey AS VARCHAR))")
    val pcols = KllPs.map(p =>
      s"CAST(max(CASE WHEN vr = greatest(1, ($p * n + 99) // 100) THEN v END) AS BIGINT) AS p$p")
      .mkString(",\n  ")
    s"""WITH y AS (SELECT CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS n_sketches
       |  FROM orders),
       |b AS (SELECT CAST($h AS BIGINT) AS h,
       |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v FROM orders),
       |s AS (SELECT v, row_number() OVER (ORDER BY h, v) AS rn FROM b),
       |kk AS (SELECT v FROM s WHERE rn <= $KllK),
       |r AS (SELECT v, row_number() OVER (ORDER BY v) AS vr,
       |  count(*) OVER () AS n FROM kk),
       |e AS (SELECT CAST(max(n) AS BIGINT) AS n_sample,
       |  $pcols
       |FROM r)
       |SELECT n_sketches, n_sample, ${KllPs.map(p => s"p$p").mkString(", ")}
       |FROM y CROSS JOIN e""".stripMargin
  }

  /** Four-clause MERGE twin of [[graft.etl.Staging.mergeInto]]: same
    * full-outer join and the same clause order (matched update before
    * matched delete).
    */
  def etlMergeFull: String =
    """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
      |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
      |s AS (SELECT k, st, pc + 100 AS pc FROM t WHERE k % 7 = 0
      |  UNION ALL SELECT k + 1000000000, 'N', pc FROM t WHERE k % 7 = 3),
      |m AS (SELECT t.k AS tk, t.st AS tst, t.pc AS tp,
      |    s.k AS sk, s.st AS sst, s.pc AS sp
      |  FROM t FULL OUTER JOIN s ON t.k = s.k),
      |a AS (SELECT *, CASE
      |    WHEN tk IS NOT NULL AND sk IS NOT NULL THEN
      |      CASE WHEN tst = 'O' AND tk % 21 <> 0 THEN 'U'
      |           WHEN tk % 21 = 0 THEN 'D' ELSE 'K' END
      |    WHEN sk IS NOT NULL THEN 'I'
      |    ELSE CASE WHEN tk % 1000 = 17 THEN 'D' ELSE 'K' END END AS act
      |  FROM m)
      |SELECT CASE WHEN act IN ('U','I') THEN sk ELSE tk END AS o_orderkey,
      |  CASE WHEN act IN ('U','I') THEN sst ELSE tst END AS o_orderstatus,
      |  CAST(CASE WHEN act IN ('U','I') THEN sp ELSE tp END AS BIGINT) AS price_cents
      |FROM a WHERE act <> 'D'""".stripMargin

  /** Deletion-certificate twin of the `etl_forget` cascade. */
  def etlForget: String =
    """WITH fc AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      |ob AS (SELECT DISTINCT o_orderkey FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM fc)),
      |c AS (SELECT CAST(count(*) AS BIGINT) AS b,
      |  CAST(count(*) FILTER (c_custkey NOT IN (SELECT c_custkey FROM fc)) AS BIGINT) AS a
      |  FROM customer),
      |o AS (SELECT CAST(count(*) AS BIGINT) AS b,
      |  CAST(count(*) FILTER (o_custkey NOT IN (SELECT c_custkey FROM fc)) AS BIGINT) AS a
      |  FROM orders),
      |l AS (SELECT CAST(count(*) AS BIGINT) AS b,
      |  CAST(count(*) FILTER (l_orderkey NOT IN (SELECT o_orderkey FROM ob)) AS BIGINT) AS a
      |  FROM lineitem)
      |SELECT 'customer' AS tbl, b AS n_before, a AS n_after, b - a AS n_removed FROM c
      |UNION ALL SELECT 'orders', b, a, b - a FROM o
      |UNION ALL SELECT 'lineitem', b, a, b - a FROM l""".stripMargin

  def etlCdcApply: String =
    """SELECT o_orderkey,
      |  CAST(FLOOR((CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
      |              ELSE o_totalprice END) * 100) AS BIGINT) AS price_cents
      |FROM orders WHERE o_orderkey % 11 <> 0""".stripMargin

  def etlSnapshotDiff: String =
    """SELECT o_orderkey, 'D' AS op, CAST(NULL AS BIGINT) AS price_cents
      |FROM orders WHERE o_orderkey % 11 = 0
      |UNION ALL
      |SELECT o_orderkey, 'U', CAST(FLOOR((o_totalprice + 1000.0) * 100) AS BIGINT)
      |FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
      |UNION ALL
      |SELECT o_orderkey + 10000000, 'I', CAST(FLOOR(o_totalprice * 100) AS BIGINT)
      |FROM orders WHERE o_orderkey % 13 = 0""".stripMargin

  /** Borůvka-MSF round replay ([[graft.operators.Msf.msf]]): the
    * per-round cheapest-outgoing-edge pick under the total (w, u, v)
    * order is fully deterministic, so each round generates as three
    * chained CTEs — pick (row_number over the exploded two-sided
    * frontier), contraction labels (a nested WITH RECURSIVE min-label
    * closure over the merge graph, which is component-sized, never
    * data-sized), and the relabeled + collapsed next frontier (exactly
    * the Spark side's least/greatest + min-struct contraction). Label
    * VALUES differ from Spark's pointer-doubling roots, but the node
    * partition they induce is identical, so picks and rounds match
    * row-for-row. Rounds generated = 16 ≥ observed convergence (3 at
    * sf0.001, 5 at sf0.01; components at least halve per round);
    * post-convergence rounds have empty frontiers and cost nothing.
    * A too-small bound fails LOUD (missing forest rows → row-count
    * mismatch), never silently.
    */
  def qMsf: String = {
    val w = hex8Expr("('msf:' || CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR))")
    val rounds = (1 to MsfOracleRounds).map { r =>
      val p = r - 1
      s"""pk$r AS MATERIALIZED (
         |  SELECT DISTINCT u, v, w, cu, cv FROM (
         |    SELECT u, v, w, cu, cv,
         |      row_number() OVER (PARTITION BY c ORDER BY w, u, v) AS rn
         |    FROM (SELECT cu AS c, u, v, w, cu, cv FROM e$p
         |          UNION ALL SELECT cv, u, v, w, cu, cv FROM e$p) s) t
         |  WHERE rn = 1),
         |lb$r AS MATERIALIZED (
         |  WITH RECURSIVE st(c, l) AS (
         |    SELECT c, c FROM (SELECT cu AS c FROM pk$r UNION SELECT cv FROM pk$r) n
         |    UNION
         |    SELECT eg.b, st.l FROM st
         |      JOIN (SELECT cu AS a, cv AS b FROM pk$r
         |            UNION SELECT cv, cu FROM pk$r) eg ON eg.a = st.c)
         |  SELECT c, min(l) AS l FROM st GROUP BY c),
         |e$r AS MATERIALIZED (
         |  SELECT u, v, w, ca AS cu, cb AS cv FROM (
         |    SELECT u, v, w, least(lu, lv) AS ca, greatest(lu, lv) AS cb,
         |      row_number() OVER (PARTITION BY least(lu, lv), greatest(lu, lv)
         |                         ORDER BY w, u, v) AS rn
         |    FROM (SELECT e.u, e.v, e.w,
         |        coalesce(la.l, e.cu) AS lu, coalesce(lc.l, e.cv) AS lv
         |      FROM e$p e LEFT JOIN lb$r la ON la.c = e.cu
         |                  LEFT JOIN lb$r lc ON lc.c = e.cv) j
         |    WHERE lu <> lv) k
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val forest = (1 to MsfOracleRounds)
      .map(r => s"SELECT u, v, w, CAST($r AS BIGINT) AS round FROM pk$r")
      .mkString("\nUNION ALL ")
    s"""WITH pp AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |eg0 AS MATERIALIZED (
       |  SELECT DISTINCT x.p AS src, y.p AS dst FROM pp x JOIN pp y
       |    ON x.ok = y.ok AND x.p < y.p),
       |e0 AS MATERIALIZED (
       |  SELECT CAST(src AS BIGINT) AS u, CAST(dst AS BIGINT) AS v,
       |    CAST($w AS BIGINT) AS w,
       |    CAST(src AS BIGINT) AS cu, CAST(dst AS BIGINT) AS cv FROM eg0),
       |$rounds
       |$forest""".stripMargin
  }

  // shared with Msf.msf's default maxRounds via Params so the twin can
  // never omit rounds the Spark side legitimately uses (r12 advice: a
  // graph converging in rounds 17-20 would otherwise gate-FAIL spuriously)
  private val MsfOracleRounds = graft.Params.MsfMaxRounds

  /** Label-propagation replay: per round, the in-neighbor majority vote
    * (count desc, label asc) with isolated nodes carrying their previous
    * label. MATERIALIZED like the BPE chain — l{t} is referenced twice
    * per round, so inlining is exponential in rounds.
    */
  def qLabelProp: String = {
    val iters = (1 to LpIters).map { k =>
      s"""c$k AS MATERIALIZED (SELECT e.dst AS node, l.label, count(*) AS c
         |  FROM edges e JOIN l${k - 1} l ON l.node = e.src GROUP BY 1, 2),
         |w$k AS MATERIALIZED (SELECT node, label FROM (
         |  SELECT node, label,
         |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
         |  FROM c$k) WHERE rn = 1),
         |l$k AS MATERIALIZED (SELECT l.node, COALESCE(w.label, l.label) AS label
         |  FROM l${k - 1} l LEFT JOIN w$k w ON w.node = l.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS MATERIALIZED (SELECT sk AS src, ck + $PrCustOffset AS dst FROM pairs
       |          UNION ALL SELECT ck + $PrCustOffset, sk FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes),
       |$iters
       |SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
       |FROM l$LpIters""".stripMargin
  }

  /** BFS replay: per hop, the frontier expansion minus the visited set;
    * a node's first-discovery hop is its min distance. MATERIALIZED for
    * the same reason as the BPE/LP chains.
    */
  def qBfsReach: String = {
    val rounds = (1 to BfsHops).map { h =>
      s"""n$h AS MATERIALIZED (SELECT node, CAST($h AS BIGINT) AS dist FROM (
         |  SELECT DISTINCT e.dst AS node FROM f${h - 1} f JOIN edges e ON e.src = f.node) x
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} v WHERE v.node = x.node)),
         |v$h AS MATERIALIZED (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM n$h),
         |f$h AS MATERIALIZED (SELECT node FROM n$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, o_custkey + $PrCustOffset AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS MATERIALIZED (SELECT sk AS src, ck AS dst FROM pairs
       |          UNION ALL SELECT ck, sk FROM pairs),
       |v0 AS MATERIALIZED (
       |  SELECT CAST(s_suppkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
       |  FROM supplier WHERE s_suppkey % $BfsSeedMod = 0),
       |f0 AS (SELECT node FROM v0),
       |$rounds
       |SELECT node, dist FROM v$BfsHops""".stripMargin
  }

  /** Weighted-SSSP twin of [[graft.operators.Sssp.weightedDistances]]:
    * dense Bellman–Ford round replay — R chained min-plus CTEs. The
    * Spark side's frontier restriction and early exit don't change the
    * result: after R rounds both hold the min weight over ≤R-edge paths.
    */
  def qSssp: String = {
    val rounds = (1 to SsspRounds).map { h =>
      s"""d$h AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
         |  SELECT node, dist FROM d${h - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, d.dist + e.w AS dist
         |  FROM d${h - 1} d JOIN edges e ON e.src = d.node) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, o_custkey + $PrCustOffset AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT sk AS src, ck AS dst, (sk + ck) % 10 + 1 AS w FROM pairs
       |  UNION ALL SELECT ck, sk, (sk + ck) % 10 + 1 FROM pairs),
       |d0 AS MATERIALIZED (
       |  SELECT CAST(s_suppkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
       |  FROM supplier WHERE s_suppkey % $BfsSeedMod = 0),
       |$rounds
       |SELECT node, dist FROM d$SsspRounds""".stripMargin
  }

  def etlUpsert: String =
    """SELECT o_orderkey,
      |  CAST(FLOOR((CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0
      |              ELSE o_totalprice END) * 100) AS BIGINT) AS price_cents
      |FROM orders""".stripMargin

  /** IVM-join twin: the oracle IS the full recompute — the delta rule's
    * whole claim is exact equality with it.
    */
  def etlIvmJoin: String =
    """SELECT o_custkey AS custkey, o_orderkey,
      |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
      |  c_mktsegment AS segment
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** SCD-2 twin: prune no-change log rows by a lag-compare (direct value
    * compare — equivalent to the Spark side's md5 fingerprint for a
    * single non-null tracked column), then lead() for the half-open
    * validity window.
    */
  /** CTE chain ending in hist(o_custkey, effective_from DATE,
    * effective_to DATE-or-NULL, o_orderpriority) — the SCD-2 history
    * dimension, shared by the build and lookup oracles.
    */
  private val scd2HistCtes: String =
    """pr AS (
      |  SELECT o_custkey, o_orderdate, o_orderpriority, o_orderkey FROM (
      |    SELECT o_custkey, o_orderdate, o_orderpriority, o_orderkey,
      |      lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      |    FROM orders)
      |  WHERE prev IS NULL OR o_orderpriority <> prev),
      |hist AS (
      |  SELECT o_custkey, o_orderdate AS effective_from,
      |    lead(o_orderdate) OVER w AS effective_to, o_orderpriority
      |  FROM pr WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))""".stripMargin

  /** SCD2-audit twin: same history CTEs, same (from, to NULLS LAST) lag
    * and per-key defect flags, clean + duplicated-slice variants.
    */
  def etlScd2Audit: String = {
    def one(name: String, src: String) =
      s"""SELECT '$name' AS variant, CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(nr) AS BIGINT) AS n_rows,
         |  CAST(sum(ov) AS BIGINT) AS keys_with_overlap,
         |  CAST(sum(gp) AS BIGINT) AS keys_with_gap,
         |  CAST(sum(CASE WHEN nc <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS keys_bad_current
         |FROM (SELECT o_custkey, count(*) AS nr,
         |    max(CASE WHEN pto IS NOT NULL AND effective_from < pto THEN 1 ELSE 0 END) AS ov,
         |    max(CASE WHEN pto IS NOT NULL AND effective_from > pto THEN 1 ELSE 0 END) AS gp,
         |    sum(CASE WHEN effective_to IS NULL THEN 1 ELSE 0 END) AS nc
         |  FROM (SELECT o_custkey, effective_from, effective_to,
         |      lag(effective_to) OVER (PARTITION BY o_custkey
         |        ORDER BY effective_from ASC, effective_to ASC NULLS LAST) AS pto
         |    FROM $src)
         |  GROUP BY 1)""".stripMargin
    s"""WITH $scd2HistCtes,
       |broken AS (SELECT o_custkey, effective_from, effective_to FROM hist
       |  UNION ALL SELECT o_custkey, effective_from, effective_to FROM hist
       |  WHERE o_custkey % 97 = 0)
       |${one("clean", "hist")}
       |UNION ALL
       |${one("broken", "broken")}""".stripMargin
  }

  def etlScd2: String =
    s"""WITH $scd2HistCtes
       |SELECT o_custkey, CAST(effective_from AS VARCHAR) AS effective_from,
       |  CAST(effective_to AS VARCHAR) AS effective_to,
       |  (effective_to IS NULL) AS is_current, o_orderpriority
       |FROM hist""".stripMargin

  /** Point-in-time lookup against the SCD-2 history: each order probes
    * the version valid 30 days after its own date. Open-ended validity
    * clamps to the data horizon (matching the Spark side's bucketed
    * keyed range join).
    */
  def etlScd2Lookup: String =
    s"""WITH $scd2HistCtes,
       |probe AS (SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) + 30 AS pd FROM orders)
       |SELECT o_orderkey, CAST(pd AS VARCHAR) AS probe_date,
       |  o_orderpriority AS d_priority, CAST(CAST(effective_from AS DATE) AS VARCHAR) AS version_from
       |FROM probe JOIN hist USING (o_custkey)
       |WHERE pd >= CAST(effective_from AS DATE)
       |  AND pd < coalesce(CAST(effective_to AS DATE), DATE '1999-01-01')""".stripMargin

  def qQuartiles: String =
    """SELECT yearkey,
      |  min(CASE WHEN rn = (cnt + 3) // 4 THEN v END) AS p25,
      |  min(CASE WHEN rn = (cnt + 1) // 2 THEN v END) AS p50,
      |  min(CASE WHEN rn = (3 * cnt + 3) // 4 THEN v END) AS p75
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey, o_totalprice AS v,
      |    row_number() OVER (PARTITION BY year(o_orderdate) ORDER BY o_totalprice, o_orderkey) AS rn,
      |    count(*) OVER (PARTITION BY year(o_orderdate)) AS cnt
      |  FROM orders)
      |GROUP BY yearkey""".stripMargin

  /** Winsorize twin of [[graft.etl.Marts.winsorize]]: same permille
    * type-1 ranks (ceil, clamped to 1) over cents, same clip.
    */
  /** KS twin of [[graft.operators.Sketches.ksTest]]: same per-value
    * group counts, window cumsums, integer cross-multiplied CDF gap.
    */
  def qKsTest: String =
    """WITH pv AS (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v,
      |    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN o_orderstatus <> 'O' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM orders GROUP BY 1),
      |c AS (SELECT v, sum(na) OVER w AS ca, sum(nb) OVER w AS cb FROM pv
      |  WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
      |t AS (SELECT sum(na) AS n_a, sum(nb) AS n_b FROM pv)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(max(abs(ca * n_b - cb * n_a)) * 1000000 // (n_a * n_b) AS BIGINT) AS ks_ppm
      |FROM c CROSS JOIN t GROUP BY n_a, n_b""".stripMargin

  /** Bootstrap twin: same Poisson(1) staircase over the same per-replicate
    * salted hashes — thresholds inlined from the ONE JVM computation.
    */
  def qBootstrap: String = {
    val P = HashFunctions.MinhashP
    val thr = graft.operators.Sketches.PoissonThresholds
    val coeffs = HashFunctions.minhashCoeffs(BootstrapB)
    def stair(h: String): String =
      thr.zipWithIndex.map { case (t, k) => s"WHEN $h < $t THEN $k" }
        .mkString("CASE ", " ", s" ELSE ${thr.length} END")
    val hex15 = (0 until 15)
      .map(j => s"(instr('$hex', substr(md5('$BootstrapSalt:' || CAST(o_orderkey AS VARCHAR)), ${j + 1}, 1)) - 1)")
      .reduce((acc, d) => s"($acc * 16 + $d)")
    val reps = (0 until BootstrapB).map { i =>
      val (a, c) = coeffs(i)
      s"SELECT $i AS rep, x, ${stair(s"((hb * $a + $c) % $P)")} AS w FROM hb"
    }.mkString("\nUNION ALL\n")
    s"""WITH hb AS (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS x,
       |  CAST($hex15 AS BIGINT) % $P AS hb FROM orders),
       |r AS ($reps)
       |SELECT CAST(rep AS BIGINT) AS rep, CAST(sum(w) AS BIGINT) AS n_eff,
       |  CAST(sum(w * x) // sum(w) AS BIGINT) AS mean_cents
       |FROM r GROUP BY rep""".stripMargin
  }

  /** Bootstrap-CI twin: type-1 permille ranks over the replicate means
    * from [[qBootstrap]]'s CTE.
    */
  def qBootstrapCi: String = {
    val inner = qBootstrap
    s"""WITH reps AS ($inner),
       |rk AS (SELECT mean_cents,
       |  row_number() OVER (ORDER BY mean_cents) AS rn FROM reps)
       |SELECT CAST(count(*) AS BIGINT) AS b,
       |  CAST(min(CASE WHEN rn = greatest(($WinsorLoPm * $BootstrapB + 999) // 1000, 1)
       |    THEN mean_cents END) AS BIGINT) AS lo_cents,
       |  CAST(min(CASE WHEN rn = greatest(($WinsorHiPm * $BootstrapB + 999) // 1000, 1)
       |    THEN mean_cents END) AS BIGINT) AS hi_cents
       |FROM rk""".stripMargin
  }

  /** Mann–Whitney twin of [[graft.operators.Sketches.mannWhitney]]:
    * same doubled midranks (2·cum − c + 1) per tied value block.
    */
  def qMannWhitney: String =
    """WITH pv AS (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v,
      |    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN o_orderstatus <> 'O' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |  FROM orders GROUP BY 1),
      |c AS (SELECT v, na, nb, na + nb AS cc,
      |    sum(na + nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM pv),
      |t AS (SELECT sum(na) AS n_a, sum(nb) AS n_b FROM pv),
      |r AS (SELECT sum(na * (2 * cum - cc + 1)) AS r2a FROM c)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2,
      |  CAST(((r2a - n_a * (n_a + 1)) * 1000000) // (2 * n_a * n_b) AS BIGINT) AS auc_ppm
      |FROM r CROSS JOIN t""".stripMargin

  /** Gini twin of [[graft.operators.Sketches.gini]] over per-customer
    * spend: same ascending (value, key) ranks, int64 sums, one IEEE
    * divide floored to ppm.
    */
  def qGini: String =
    """WITH sp AS (SELECT o_custkey AS k,
      |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |r AS (SELECT k, x, CAST(row_number() OVER (ORDER BY x, k) AS BIGINT) AS i FROM sp)
      |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS total,
      |  CAST(floor(1000000.0 *
      |    (CAST(2 * sum(i * x) - (count(*) + 1) * sum(x) AS DOUBLE)
      |     / CAST(count(*) * sum(x) AS DOUBLE))) AS BIGINT) AS gini_ppm
      |FROM r""".stripMargin

  def qShare: String =
    """WITH g AS (SELECT o_orderpriority,
      |  CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM orders GROUP BY 1)
      |SELECT o_orderpriority, rev_cents,
      |  CAST(rev_cents * 1000000 // (SELECT sum(rev_cents) FROM g) AS BIGINT) AS share_ppm
      |FROM g""".stripMargin

  /** Nested-roundtrip twin: the flat aggregates the array-of-struct form
    * must reproduce (struct sort = (k, p) lexicographic = order-key
    * order, keys unique).
    */
  def qNestedExplode: String =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(min(o_orderkey) AS BIGINT) AS first_key,
      |  CAST(max(o_orderkey) AS BIGINT) AS last_key,
      |  CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders GROUP BY o_custkey""".stripMargin

  /** Skyline twin of [[graft.operators.Skyline.skyline2D]]: dominated iff
    * a strictly-cheaper row reaches the size, or an equal-price row
    * strictly exceeds it.
    */
  def qSkyline: String =
    """WITH p AS (SELECT p_partkey, CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS price_cents,
      |  CAST(p_size AS BIGINT) AS psize FROM part)
      |SELECT p_partkey, price_cents, psize FROM (
      |  SELECT p_partkey, price_cents, psize,
      |    max(psize) OVER (ORDER BY price_cents
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ch,
      |    max(psize) OVER (PARTITION BY price_cents) AS sm
      |  FROM p)
      |WHERE (ch IS NULL OR ch < psize) AND sm <= psize""".stripMargin

  def qWinsorize: String =
    s"""WITH r AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey, o_orderkey,
       |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS pc,
       |    row_number() OVER (PARTITION BY year(o_orderdate)
       |      ORDER BY CAST(FLOOR(o_totalprice * 100) AS BIGINT), o_orderkey) AS rn,
       |    count(*) OVER (PARTITION BY year(o_orderdate)) AS cnt
       |  FROM orders),
       |b AS (SELECT yearkey,
       |    min(CASE WHEN rn = greatest(($WinsorLoPm * cnt + 999) // 1000, 1) THEN pc END) AS lo,
       |    min(CASE WHEN rn = greatest(($WinsorHiPm * cnt + 999) // 1000, 1) THEN pc END) AS hi
       |  FROM r GROUP BY yearkey)
       |SELECT r.yearkey, o_orderkey, pc AS price_cents,
       |  greatest(b.lo, least(b.hi, pc)) AS clipped_cents
       |FROM r JOIN b USING (yearkey)""".stripMargin

  /** Rolling-median twin: same 7-row frame, sorted pick of the type-1
    * middle element.
    */
  def qRollingMedian: String =
    """WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
      |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM orders GROUP BY 1),
      |w AS (SELECT mkey, total_cents,
      |    array_agg(total_cents) OVER (ORDER BY mkey
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS win
      |  FROM m)
      |SELECT mkey, total_cents,
      |  CAST(list_sort(win)[CAST((len(win) + 1) // 2 AS INT)] AS BIGINT) AS med7
      |FROM w""".stripMargin

  /** CUSUM twin: same integer max(0, ·) folds around the integer mean. */
  def qCusum: String =
    """WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
      |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM orders GROUP BY 1),
      |a AS (SELECT list(total_cents ORDER BY mkey) AS vals,
      |    list(mkey ORDER BY mkey) AS ks, count(*) AS n,
      |    sum(total_cents) // count(*) AS ref FROM m),
      |idx AS (SELECT unnest(range(1, n + 1)) AS i FROM a)
      |SELECT CAST(ks[CAST(i AS INT)] AS BIGINT) AS mkey,
      |  CAST(vals[CAST(i AS INT)] AS BIGINT) AS total_cents,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), vals[1:CAST(i AS INT)]),
      |    (acc, x) -> greatest(CAST(0 AS BIGINT), acc + (x - ref))) AS BIGINT) AS cusum_hi,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), vals[1:CAST(i AS INT)]),
      |    (acc, x) -> greatest(CAST(0 AS BIGINT), acc + (ref - x))) AS BIGINT) AS cusum_lo,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), vals[1:CAST(i AS INT)]),
      |      (acc, x) -> greatest(CAST(0 AS BIGINT), acc + (x - ref))) > ref
      |    OR list_reduce(list_prepend(CAST(0 AS BIGINT), vals[1:CAST(i AS INT)]),
      |      (acc, x) -> greatest(CAST(0 AS BIGINT), acc + (ref - x))) > ref AS shift
      |FROM idx CROSS JOIN a""".stripMargin

  /** EWMA twin: list_reduce seeds with the first element, matching the
    * Spark fold's sentinel; floor-div each step IS the spec.
    */
  /** Twin of `q_acf`: same n²-scaled integer mean-centering, HUGEINT
    * products (DuckDB's exact wide integer, = Spark's DECIMAL(38,0)
    * here), and the same truncating ppm division (`//` and Spark's
    * `div` both truncate toward zero).
    */
  def qAcf: String =
    s"""WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
       |    sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) // 100000000 AS x
       |  FROM orders GROUP BY 1),
       |st AS (SELECT count(*) AS n, sum(x) AS sx FROM m),
       |c AS (SELECT m.mkey, CAST(st.n * m.x - st.sx AS HUGEINT) AS cx FROM m, st),
       |d AS (SELECT sum(cx * cx) AS den FROM c),
       |nk AS (SELECT k.k, count(*) AS n_pairs, sum(a.cx * b.cx) AS num
       |  FROM range(1, $AcfMaxLag + 1) k(k)
       |  JOIN c a ON true JOIN c b ON b.mkey = a.mkey + k.k GROUP BY 1)
       |SELECT CAST(nk.k AS BIGINT) AS k, CAST(nk.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(nk.num * 1000000 // d.den AS BIGINT) AS acf_ppm
       |FROM nk, d""".stripMargin

  /** Twin of `q_seasonal`: same phase classes, same `Σ // n` integer
    * baseline (both engines truncate; sums are non-negative so it's
    * floor on both).
    */
  def qSeasonal: String =
    """WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
      |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |b AS (SELECT mkey % 12 AS phase, CAST(sum(x) // count(*) AS BIGINT) AS baseline
      |  FROM m GROUP BY 1)
      |SELECT m.mkey, CAST(m.mkey % 12 AS BIGINT) AS phase, m.x, b.baseline,
      |  CAST(m.x - b.baseline AS BIGINT) AS residual
      |FROM m JOIN b ON m.mkey % 12 = b.phase""".stripMargin

  def qEwma: String =
    """WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
      |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM orders GROUP BY 1),
      |a AS (SELECT list(total_cents ORDER BY mkey) AS vals,
      |    list(mkey ORDER BY mkey) AS ks, count(*) AS n FROM m),
      |idx AS (SELECT unnest(range(1, n + 1)) AS i FROM a)
      |SELECT CAST(ks[CAST(i AS INT)] AS BIGINT) AS mkey,
      |  CAST(vals[CAST(i AS INT)] AS BIGINT) AS total_cents,
      |  CAST(list_reduce(vals[1:CAST(i AS INT)],
      |    (acc, x) -> (acc * 3 + x) // 4) AS BIGINT) AS ewma_cents
      |FROM idx CROSS JOIN a""".stripMargin

  /** Holt twin: the (level, trend) recurrence replayed as a recursive
    * CTE over the sorted series — one row per step, every column
    * computed from the PREVIOUS row (a list_reduce struct accumulator
    * was tried first and rejected: DuckDB mutates the accumulator
    * field-by-field, so the trend expression saw the already-updated
    * level). `//`/`div` truncate identically on the (possibly negative)
    * trend intermediates.
    */
  def qHolt: String =
    """WITH RECURSIVE m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
      |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM orders GROUP BY 1),
      |a AS (SELECT list(mkey ORDER BY mkey) AS ks,
      |    list(total_cents ORDER BY mkey) AS xs, count(*) AS n FROM m),
      |hw(i, l, b) AS (
      |  SELECT 1, xs[1], CAST(0 AS BIGINT) FROM a
      |  UNION ALL
      |  SELECT hw.i + 1,
      |    (xs[hw.i + 1] + 3*(hw.l + hw.b)) // 4,
      |    (((xs[hw.i + 1] + 3*(hw.l + hw.b)) // 4) - hw.l + 3*hw.b) // 4
      |  FROM hw CROSS JOIN a WHERE hw.i < a.n)
      |SELECT CAST(ks[hw.i] AS BIGINT) AS mkey,
      |  CAST(xs[hw.i] AS BIGINT) AS total_cents,
      |  CAST(hw.l AS BIGINT) AS level_cents, CAST(hw.b AS BIGINT) AS trend_cents,
      |  CAST(hw.l + hw.b AS BIGINT) AS forecast_cents
      |FROM hw CROSS JOIN a""".stripMargin

  /** Holt–Winters twin: the (level, trend, seasonal[12]) recurrence as
    * a recursive CTE with a LIST-typed seasonal state column — the
    * per-step slot update is a list comprehension (list_transform has
    * no index arg), every other convention identical to [[qHolt]].
    */
  def qHoltWinters: String =
    """WITH RECURSIVE m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
      |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM orders GROUP BY 1),
      |a AS (SELECT list(mkey ORDER BY mkey) AS ks,
      |    list(total_cents ORDER BY mkey) AS xs, count(*) AS n FROM m),
      |hw(i, l, b, s) AS (
      |  SELECT 1, xs[1], CAST(0 AS BIGINT), [0::BIGINT FOR j IN range(1, 13)] FROM a
      |  UNION ALL
      |  SELECT hw.i + 1,
      |    (xs[hw.i + 1] - hw.s[(hw.i % 12) + 1] + 3*(hw.l + hw.b)) // 4,
      |    (((xs[hw.i + 1] - hw.s[(hw.i % 12) + 1] + 3*(hw.l + hw.b)) // 4) - hw.l + 3*hw.b) // 4,
      |    [CASE WHEN j = (hw.i % 12) + 1
      |       THEN (xs[hw.i + 1] - ((xs[hw.i + 1] - hw.s[(hw.i % 12) + 1] + 3*(hw.l + hw.b)) // 4)
      |             + 3*hw.s[(hw.i % 12) + 1]) // 4
      |       ELSE hw.s[CAST(j AS INT)] END FOR j IN range(1, 13)]
      |  FROM hw CROSS JOIN a WHERE hw.i < a.n)
      |SELECT CAST(ks[hw.i] AS BIGINT) AS mkey, CAST(xs[hw.i] AS BIGINT) AS total_cents,
      |  CAST(hw.l AS BIGINT) AS level_cents, CAST(hw.b AS BIGINT) AS trend_cents,
      |  CAST(hw.s[((hw.i - 1) % 12) + 1] AS BIGINT) AS seasonal_cents,
      |  CAST(hw.l + hw.b + hw.s[(hw.i % 12) + 1] AS BIGINT) AS forecast_cents
      |FROM hw CROSS JOIN a""".stripMargin

  /** chi2Drift twin: HUGEINT (int128) where Spark uses DECIMAL(38,0)
    * for the squared term; the numerator is a square (non-negative), so
    * `//` vs `div` agree regardless of rounding-direction convention.
    */
  def qDriftChi2: String =
    s"""WITH o AS (SELECT year(o_orderdate) AS y, CAST(FLOOR(o_totalprice*100) AS BIGINT) AS c FROM orders),
       |r AS (SELECT c // ${Params.DriftBucketCents} AS bucket, count(*) AS n_ref FROM o WHERE y <= ${Params.DriftSplitYear} GROUP BY 1),
       |cu AS (SELECT c // ${Params.DriftBucketCents} AS bucket, count(*) AS n_cur FROM o WHERE y > ${Params.DriftSplitYear} GROUP BY 1),
       |j AS (SELECT COALESCE(r.bucket, cu.bucket) AS bucket, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
       |      FROM r FULL OUTER JOIN cu ON r.bucket = cu.bucket),
       |t AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM j)
       |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       |  CAST((CAST(t_cur*n_ref - t_ref*n_cur AS HUGEINT) * CAST(t_cur*n_ref - t_ref*n_cur AS HUGEINT) * 1000000)
       |    // (CAST(n_ref + n_cur AS HUGEINT) * t_ref * t_cur) AS BIGINT) AS contrib_ppm
       |FROM j CROSS JOIN t""".stripMargin

  /** Streaming drift-guard twin
    * ([[graft.streaming.StreamRun.driftReplay]]): the post-split order
    * prices arrive as two parity micro-batches (batch_id = o_orderkey
    * parity by staging order), each scored independently against the
    * full pre-split reference with [[qDriftChi2]]'s exact-rational
    * per-bucket contribution, then pooled to the guard's per-batch
    * (chi2_ppm, n_buckets, n_rows) statistics.
    */
  def streamDriftReplay: String =
    s"""WITH o AS (SELECT year(o_orderdate) AS y,
       |    CAST(FLOOR(o_totalprice*100) AS BIGINT) AS c,
       |    o_orderkey % 2 AS par FROM orders),
       |r AS (SELECT c // ${Params.DriftBucketCents} AS bucket,
       |    count(*) AS n_ref
       |  FROM o WHERE y <= ${Params.DriftSplitYear} GROUP BY 1),
       |cu AS (SELECT par, c // ${Params.DriftBucketCents} AS bucket,
       |    count(*) AS n_cur
       |  FROM o WHERE y > ${Params.DriftSplitYear} GROUP BY 1, 2),
       |rp AS (SELECT p.par, r.bucket, r.n_ref
       |  FROM (SELECT DISTINCT par FROM cu) p CROSS JOIN r),
       |j AS (SELECT COALESCE(rp.par, cu.par) AS par,
       |      COALESCE(rp.bucket, cu.bucket) AS bucket,
       |      COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
       |    FROM rp FULL OUTER JOIN cu
       |      ON rp.par = cu.par AND rp.bucket = cu.bucket),
       |t AS (SELECT par, sum(n_ref) AS t_ref, sum(n_cur) AS t_cur
       |  FROM j GROUP BY par),
       |contrib AS (SELECT j.par, j.n_cur,
       |    CAST((CAST(t_cur*n_ref - t_ref*n_cur AS HUGEINT)
       |          * CAST(t_cur*n_ref - t_ref*n_cur AS HUGEINT) * 1000000)
       |      // (CAST(n_ref + n_cur AS HUGEINT) * t_ref * t_cur)
       |      AS BIGINT) AS contrib_ppm
       |  FROM j JOIN t ON t.par = j.par)
       |SELECT CAST(par AS BIGINT) AS batch_id,
       |  CAST(sum(contrib_ppm) AS BIGINT) AS chi2_ppm,
       |  CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(sum(n_cur) AS BIGINT) AS n_rows
       |FROM contrib GROUP BY 1""".stripMargin

  /** jsdDrift twin: the float surfaces only inside round(ln·10⁴) (the
    * PMI discipline); HUGEINT where Spark uses DECIMAL(38,0); every
    * integer division has a non-negative numerator (greatest-0 clamp on
    * the KL sums), so `//` vs `div` convention never matters.
    */
  def qJsdDrift: String =
    s"""WITH r AS (SELECT event_type AS bucket, count(*) AS n_ref FROM events
       |    WHERE ts < TIMESTAMP '${Params.JsdSplitTs}' GROUP BY 1),
       |cu AS (SELECT event_type AS bucket, count(*) AS n_cur FROM events
       |    WHERE ts >= TIMESTAMP '${Params.JsdSplitTs}' GROUP BY 1),
       |j AS (SELECT COALESCE(r.bucket, cu.bucket) AS bucket,
       |      COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
       |    FROM r FULL OUTER JOIN cu ON r.bucket = cu.bucket),
       |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
       |      CAST(sum(n_cur) AS BIGINT) AS t_cur FROM j),
       |terms AS (SELECT t_ref, t_cur,
       |    CASE WHEN n_ref > 0 THEN n_ref * CAST(round(ln(
       |        CAST(2*n_ref*t_cur AS DOUBLE)
       |        / CAST(n_ref*t_cur + n_cur*t_ref AS DOUBLE)) * 10000) AS BIGINT)
       |      ELSE 0 END AS p_term,
       |    CASE WHEN n_cur > 0 THEN n_cur * CAST(round(ln(
       |        CAST(2*n_cur*t_ref AS DOUBLE)
       |        / CAST(n_ref*t_cur + n_cur*t_ref AS DOUBLE)) * 10000) AS BIGINT)
       |      ELSE 0 END AS q_term
       |  FROM j CROSS JOIN t)
       |SELECT count(*) AS n_buckets, t_ref, t_cur,
       |  CAST(CAST(greatest(0, sum(p_term)) AS HUGEINT) * 1000000 // t_ref AS BIGINT) AS kl_pm_e10,
       |  CAST(CAST(greatest(0, sum(q_term)) AS HUGEINT) * 1000000 // t_cur AS BIGINT) AS kl_qm_e10,
       |  (CAST(CAST(greatest(0, sum(p_term)) AS HUGEINT) * 1000000 // t_ref AS BIGINT)
       |   + CAST(CAST(greatest(0, sum(q_term)) AS HUGEINT) * 1000000 // t_cur AS BIGINT)) // 2 AS jsd_e10
       |FROM terms GROUP BY t_ref, t_cur""".stripMargin

  /** welchT twin: the IEEE fragments come VERBATIM from
    * [[graft.operators.Experiment]] (shared vals — the op tree cannot
    * drift between engines); only the integer-division operator is
    * dialect-local.
    */
  def qAbTtest: String = {
    import graft.operators.Experiment.{SeaFrag, SebFrag, tE6Frag, dfE6Frag}
    s"""WITH m AS (SELECT user_id,
       |    CAST(sum(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS m
       |  FROM events GROUP BY 1),
       |a AS (SELECT
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN m ELSE 0 END) AS BIGINT) AS s1a,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN m ELSE 0 END) AS BIGINT) AS s1b,
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN m*m ELSE 0 END) AS BIGINT) AS s2a,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN m*m ELSE 0 END) AS BIGINT) AS s2b
       |  FROM m)
       |SELECT na AS n_a, nb AS n_b, s1a AS sum_a, s1b AS sum_b,
       |  CAST(CAST(CAST(s1a AS DECIMAL(38,0))*nb - CAST(s1b AS DECIMAL(38,0))*na AS HUGEINT)
       |    * 1000000 // CAST(CAST(na AS DECIMAL(38,0))*nb AS HUGEINT) AS BIGINT) AS diff_ppm,
       |  ${tE6Frag(SeaFrag, SebFrag)} AS t_e6,
       |  ${dfE6Frag(SeaFrag, SebFrag)} AS df_e6
       |FROM a""".stripMargin
  }

  /** cuped twin: same shared-fragment contract as [[qAbTtest]]. */
  def qCuped: String = {
    import graft.operators.Experiment.{ThetaNumFrag, ThetaDenFrag, adjE4Frag}
    s"""WITH e AS (SELECT user_id, ts,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS c FROM events),
       |u AS (SELECT user_id,
       |    CAST(COALESCE(sum(CASE WHEN ts < TIMESTAMP '${Params.JsdSplitTs}' THEN c END), 0) AS BIGINT) AS x,
       |    CAST(COALESCE(sum(CASE WHEN ts >= TIMESTAMP '${Params.JsdSplitTs}' THEN c END), 0) AS BIGINT) AS y
       |  FROM e GROUP BY 1),
       |p AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx,
       |    CAST(sum(x*y) AS BIGINT) AS sxy FROM u),
       |arms AS (SELECT user_id % 2 AS arm, count(*) AS n_arm,
       |    CAST(sum(x) AS BIGINT) AS sx_arm, CAST(sum(y) AS BIGINT) AS sy_arm
       |  FROM u GROUP BY 1)
       |SELECT arm, n_arm AS n, sx_arm AS sum_pre, sy_arm AS sum_post,
       |  CAST(CAST($ThetaNumFrag AS HUGEINT) * 1000000
       |    // CAST($ThetaDenFrag AS HUGEINT) AS BIGINT) AS theta_e6,
       |  CAST(floor(CAST(sy_arm AS DOUBLE)/CAST(n_arm AS DOUBLE) * 1e4) AS BIGINT) AS mean_post_e4,
       |  ${adjE4Frag(ThetaNumFrag, ThetaDenFrag)} AS mean_adj_e4
       |FROM arms CROSS JOIN p""".stripMargin
  }

  /** randomWalks twin: WITH RECURSIVE replay of the hash-deterministic
    * walk — the same md5-derived neighbor pick ([[hex8Expr]]) over the
    * same rank-ordered adjacency; dead-end termination falls out of the
    * deg inner join in both engines.
    */
  def qRandomWalks: String = {
    val h = hex8Expr("('" + Params.WalkSalt + ":' || CAST(w.walk_id AS VARCHAR) " +
      "|| ':' || CAST(w.step + 1 AS VARCHAR) || ':' || CAST(w.node AS VARCHAR))")
    s"""WITH RECURSIVE pairs AS (SELECT DISTINCT l_suppkey AS sk,
       |    o_custkey + ${Params.PrCustOffset} AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |ed AS (SELECT sk AS src, ck AS dst FROM pairs
       |  UNION ALL SELECT ck, sk FROM pairs),
       |adj AS (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk FROM ed),
       |deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY 1),
       |w(walk_id, step, node) AS (
       |  SELECT s_suppkey, CAST(0 AS BIGINT), s_suppkey FROM supplier
       |    WHERE s_suppkey % ${Params.WalkSeedMod} = 0
       |  UNION ALL
       |  SELECT w.walk_id, w.step + 1, a.dst
       |  FROM w JOIN deg d ON d.src = w.node
       |  JOIN adj a ON a.src = w.node AND a.rnk = ($h) % d.deg
       |  WHERE w.step < ${Params.WalkSteps})
       |SELECT walk_id, step, node FROM w""".stripMargin
  }

  /** partitionModularity twin: non-negative numerators throughout (the
    * two Q terms are emitted separately, never subtracted), HUGEINT for
    * the d_c² square.
    */
  def qModularity: String =
    s"""WITH pairs AS (SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
       |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT s.s_nationkey AS l_src, c.c_nationkey AS l_dst
       |    FROM pairs p JOIN supplier s ON p.sk = s.s_suppkey
       |    JOIN customer c ON p.ck = c.c_custkey),
       |lab AS (SELECT s_nationkey AS label FROM supplier
       |    UNION ALL SELECT c_nationkey FROM customer),
       |w AS (SELECT l_src AS label, count(*) AS e_within FROM e
       |    WHERE l_src = l_dst GROUP BY 1),
       |d AS (SELECT label, count(*) AS degree_sum FROM
       |    (SELECT l_src AS label FROM e UNION ALL SELECT l_dst FROM e) GROUP BY 1),
       |n AS (SELECT label, count(*) AS n_nodes FROM lab GROUP BY 1),
       |m AS (SELECT count(*) AS m FROM e)
       |SELECT n.label, n_nodes, COALESCE(degree_sum, 0) AS degree_sum,
       |  COALESCE(e_within, 0) AS e_within,
       |  COALESCE(e_within, 0) * 1000000 // m AS within_ppm,
       |  CAST(CAST(COALESCE(degree_sum, 0) AS HUGEINT) * COALESCE(degree_sum, 0)
       |    * 1000000 // (CAST(m AS HUGEINT) * m * 4) AS BIGINT) AS expected_ppm
       |FROM n LEFT JOIN d ON n.label = d.label
       |LEFT JOIN w ON n.label = w.label CROSS JOIN m""".stripMargin

  /** trendFit twin: identical moment sums and truncating rational
    * divisions in HUGEINT; the den=0 NULL guard is part of the portable
    * contract (DuckDB `//` by zero errors where Spark nulls).
    */
  def qTrendFit: String =
    """WITH m AS (SELECT o_orderpriority,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
      |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM orders GROUP BY 1, 2),
      |a AS (SELECT o_orderpriority, count(*) AS n,
      |    sum(CAST(mkey AS HUGEINT)) AS sx, sum(CAST(total_cents AS HUGEINT)) AS sy,
      |    sum(CAST(mkey AS HUGEINT) * total_cents) AS sxy,
      |    sum(CAST(mkey AS HUGEINT) * mkey) AS sxx
      |  FROM m GROUP BY 1),
      |d AS (SELECT o_orderpriority, n, sx, sy,
      |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den FROM a)
      |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
      |  CASE WHEN den = 0 THEN NULL
      |    ELSE CAST(num * 1000000 // den AS BIGINT) END AS slope_ppm,
      |  CASE WHEN den = 0 THEN NULL
      |    ELSE CAST((sy * den - num * sx) // (n * den) AS BIGINT) END AS intercept
      |FROM d""".stripMargin

  /** temperatureSample twin: the integer-sqrt weight derivation and the
    * same md5 hash32 keep rule as [[sampleBernoulli]]/[[sampleMixture]].
    */
  def sampleTemperature: String = {
    val h = hex8Expr("('graft-temp:' || CAST(doc_id AS VARCHAR))")
    s"""WITH avail AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS c
       |          FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tc,
       |    CAST(sum(CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)) AS BIGINT) AS tsq
       |  FROM avail),
       |rates AS (SELECT avail.source,
       |    (1000000 * CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)) // tsq AS w_ppm,
       |    least(1000000, (((tc * ${Params.TempBudgetPct}) // 100)
       |      * ((1000000 * CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT)) // tsq)) // c) AS rate_ppm
       |  FROM avail CROSS JOIN tot)
       |SELECT doc_id, d.source, n_chars,
       |  CAST(w_ppm AS BIGINT) AS w_ppm, CAST(rate_ppm AS BIGINT) AS rate_ppm
       |FROM documents d JOIN rates ON d.source = rates.source
       |WHERE CAST($h AS BIGINT) * 1000000 < rate_ppm * 4294967296""".stripMargin
  }

  def qSlidingDistinct: String =
    s"""WITH f AS (SELECT epoch_ms(ts) // 86400000 AS p, user_id AS a FROM events),
       |present AS (SELECT DISTINCT p AS period FROM f),
       |x AS (SELECT p + off AS period, a
       |      FROM f CROSS JOIN (SELECT unnest(range(0, ${Params.SlidingWindowDays})) AS off) o)
       |SELECT CAST(period AS BIGINT) AS period,
       |  CAST(count(DISTINCT a) AS BIGINT) AS n_distinct
       |FROM x JOIN present USING (period) GROUP BY period""".stripMargin

  /** kmvSlidingDistinct twin: each window's bottom-k replayed from the
    * base rows (the union of per-day bottom-k sets re-truncated IS the
    * window's exact bottom-k, so the full recompute is the oracle).
    */
  def qKmvSliding: String = {
    val w = Params.SlidingWindowDays
    val h = hex8Expr(s"('$KmvSalt:' || CAST(user_id AS VARCHAR))")
    s"""WITH f AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS p,
       |    CAST($h AS BIGINT) AS h FROM events),
       |present AS (SELECT DISTINCT p AS period FROM f),
       |np AS (SELECT p1.period, CAST(count(*) AS BIGINT) AS n_periods
       |  FROM present p1 JOIN present p2
       |    ON p2.period BETWEEN p1.period - ${w - 1} AND p1.period GROUP BY 1),
       |d AS (SELECT DISTINCT period, h FROM present JOIN f
       |    ON f.p BETWEEN period - ${w - 1} AND period),
       |r AS (SELECT period, h,
       |    row_number() OVER (PARTITION BY period ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY period) AS cnt FROM d),
       |est AS (SELECT period, CAST(CASE WHEN max(cnt) < $KmvK THEN max(cnt)
       |    ELSE ((${KmvK - 1} * 4294967296) // (max(CASE WHEN rn = $KmvK THEN h END) + 1))
       |    END AS BIGINT) AS window_est
       |  FROM r GROUP BY period)
       |SELECT CAST(est.period AS BIGINT) AS period, n_periods, window_est
       |FROM est JOIN np ON est.period = np.period""".stripMargin
  }

  /** slidingQuantiles twin: each window's bottom-k sample replayed from
    * base rows (rank by (h, v) within the window — the aggregator's
    * exact ordering — keep k, nearest-rank order statistics), plus the
    * present-period window count, mirroring [[qKmvSliding]]'s shape.
    */
  def qKllSliding: String = {
    val w = Params.SlidingWindowDays
    val h = hex8Expr(s"('$KllSalt:' || CAST(event_id AS VARCHAR))")
    val pcols = KllPs.map(p =>
      s"CAST(max(CASE WHEN vr = greatest(1, ($p * n + 99) // 100) THEN v END) AS BIGINT) AS p$p")
      .mkString(",\n  ")
    s"""WITH f AS (SELECT epoch_ms(ts) // 86400000 AS p,
       |    CAST($h AS BIGINT) AS h,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events),
       |present AS (SELECT DISTINCT p AS period FROM f),
       |np AS (SELECT p1.period, CAST(count(*) AS BIGINT) AS n_periods
       |  FROM present p1 JOIN present p2
       |    ON p2.period BETWEEN p1.period - ${w - 1} AND p1.period GROUP BY 1),
       |m AS (SELECT period, h, v FROM present JOIN f
       |    ON f.p BETWEEN period - ${w - 1} AND period),
       |s AS (SELECT period, v,
       |  row_number() OVER (PARTITION BY period ORDER BY h, v) AS rn FROM m),
       |kk AS (SELECT period, v FROM s WHERE rn <= $KllK),
       |r AS (SELECT period, v,
       |  row_number() OVER (PARTITION BY period ORDER BY v) AS vr,
       |  count(*) OVER (PARTITION BY period) AS n FROM kk),
       |est AS (SELECT period, CAST(max(n) AS BIGINT) AS n_sample,
       |  $pcols
       |  FROM r GROUP BY period)
       |SELECT CAST(est.period AS BIGINT) AS period, n_periods, n_sample,
       |  ${KllPs.map(p => s"p$p").mkString(", ")}
       |FROM est JOIN np ON est.period = np.period""".stripMargin
  }

  def eventsNewUsers: String =
    """WITH d AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |f AS (SELECT user_id, min(day) AS first_day FROM d GROUP BY 1)
      |SELECT CAST(day AS BIGINT) AS day, CAST(count(*) AS BIGINT) AS n_active,
      |  CAST(count(*) FILTER (day = first_day) AS BIGINT) AS n_new,
      |  CAST(count(*) - count(*) FILTER (day = first_day) AS BIGINT) AS n_returning
      |FROM d JOIN f USING (user_id) GROUP BY day""".stripMargin

  def qDistinctCount: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey,
      |  count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
      |FROM orders GROUP BY 1""".stripMargin

  def qRunningTotal: String =
    s"""WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey,
       |  CAST(sum($cents) AS BIGINT) AS total_cents FROM orders GROUP BY 1)
       |SELECT yearkey, total_cents,
       |  CAST(sum(total_cents) OVER (ORDER BY yearkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
       |FROM y""".stripMargin

  def qRollup: String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey, o_orderpriority,
       |  count(*) AS n, CAST(sum($cents) AS BIGINT) AS total_cents
       |FROM orders GROUP BY ROLLUP(CAST(year(o_orderdate) AS BIGINT), o_orderpriority)""".stripMargin

  /** CTE chain re-deriving [[graft.etl.ImdbSynthetic]]'s raw inputs and
    * the reference pipeline's staging + fact (etl_imdb.py:129–193) over
    * `part`, ending in fact(titlekey, yearkey, avg_rating, num_votes).
    * The null-marker → NULL → cast staging collapses to direct NULLs here
    * because the generator's markers are total functions of p_partkey.
    */
  private def imdbCtes: String =
    s"""movies AS (
       |  SELECT 't' || CAST(p_partkey AS VARCHAR) AS tconst,
       |    CASE WHEN p_partkey % 17 = 0 THEN NULL
       |         ELSE CAST(1980 + p_partkey % 40 AS INT) END AS startYear,
       |    CASE WHEN p_partkey % 11 = 0 THEN NULL
       |         ELSE replace(p_name, ' ', ',') END AS genres
       |  FROM part WHERE p_partkey % 10 < 8),
       |imdb_ratings AS (
       |  SELECT 't' || CAST(p_partkey AS VARCHAR) AS tconst,
       |    CAST(CAST((10 + p_partkey % 80) // 10 AS VARCHAR) || '.' ||
       |         CAST((10 + p_partkey % 80) % 10 AS VARCHAR) AS DOUBLE) AS avg_rating,
       |    CAST((p_partkey * 37) % 200000 AS INT) AS num_votes
       |  FROM part WHERE p_partkey % 3 <> 0),
       |imdb_fact AS (
       |  SELECT m.tconst AS titlekey, m.startYear AS yearkey, r.avg_rating, r.num_votes
       |  FROM movies m JOIN imdb_ratings r ON m.tconst = r.tconst)""".stripMargin

  /** Reference KPI mart (etl_imdb.py:196) over the full pipeline. */
  def imdbPipelineKpi: String =
    s"""WITH $imdbCtes
       |SELECT CAST(yearkey AS BIGINT) AS yearkey, count(*) AS n_movies,
       |  round(avg(avg_rating), 4) AS mean_rating,
       |  CAST(sum(num_votes) AS BIGINT) AS total_votes
       |FROM imdb_fact GROUP BY 1""".stripMargin

  /** Reference top-genre-per-year mart (etl_imdb.py:208–222) over the
    * full pipeline, including the genre explode→bridge and the min-votes
    * threshold.
    */
  def imdbTopGenre: String =
    s"""WITH $imdbCtes,
       |bridge AS (SELECT DISTINCT titlekey, lower(trim(g)) AS genrekey FROM (
       |  SELECT tconst AS titlekey,
       |    unnest(list_filter(string_split(genres, ','), t -> t <> '')) AS g
       |  FROM movies WHERE genres IS NOT NULL)),
       |tg AS (SELECT f.yearkey, b.genrekey, f.titlekey, f.avg_rating, f.num_votes,
       |  row_number() OVER (PARTITION BY f.yearkey, b.genrekey
       |                     ORDER BY f.num_votes DESC, f.titlekey) AS rk
       |  FROM imdb_fact f JOIN bridge b ON b.titlekey = f.titlekey
       |  WHERE f.num_votes >= $ImdbMinVotes)
       |SELECT CAST(yearkey AS BIGINT) AS yearkey, genrekey, titlekey,
       |  round(avg_rating, 4) AS avg_rating, CAST(num_votes AS BIGINT) AS num_votes,
       |  CAST(rk AS BIGINT) AS rk
       |FROM tg WHERE rk <= $TopNPerGroup""".stripMargin

  def qGroupingSets: String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey, o_orderpriority,
       |  count(*) AS n, CAST(sum($cents) AS BIGINT) AS total_cents
       |FROM orders GROUP BY GROUPING SETS (
       |  (CAST(year(o_orderdate) AS BIGINT), o_orderpriority), (o_orderpriority), ())""".stripMargin

  def qCube: String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey, o_orderpriority,
       |  count(*) AS n, CAST(sum($cents) AS BIGINT) AS total_cents
       |FROM orders GROUP BY CUBE(CAST(year(o_orderdate) AS BIGINT), o_orderpriority)""".stripMargin

  // ---- round-4 additions ----

  def srcOrcRoundtrip: String =
    """SELECT c_custkey, c_name, c_nationkey,
      |  CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS acct_cents, c_mktsegment
      |FROM customer""".stripMargin

  def srcMergeSchema: String =
    s"""SELECT o_orderkey, $cents AS price_cents,
       |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
       |FROM orders""".stripMargin

  def qFullOuter: String =
    """WITH a AS (SELECT o_custkey, count(*) AS n95 FROM orders
      |           WHERE year(o_orderdate) = 1995 GROUP BY 1),
      |     b AS (SELECT o_custkey, count(*) AS n98 FROM orders
      |           WHERE year(o_orderdate) = 1998 GROUP BY 1)
      |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
      |  CAST(COALESCE(n95, 0) AS BIGINT) AS n_1995,
      |  CAST(COALESCE(n98, 0) AS BIGINT) AS n_1998
      |FROM a FULL JOIN b ON a.o_custkey = b.o_custkey""".stripMargin

  def qScalarSubquery: String =
    """WITH oy AS (SELECT o_orderkey,
      |             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents,
      |             year(o_orderdate) AS yr FROM orders)
      |SELECT o_orderkey, price_cents
      |FROM oy o
      |WHERE price_cents > (SELECT (CAST(sum(o2.price_cents) AS BIGINT) * 11)
      |                            // (count(*) * 10)
      |                     FROM oy o2 WHERE o2.yr = o.yr)""".stripMargin

  /** Second moments from exact integer sums (mirrors the Spark side):
    * identical int64 sums → identical IEEE double derivations → floor
    * is portable. DuckDB's BIGINT sums go HUGEINT, hence the casts.
    */
  def qStatsSuite: String = {
    val (dn, dsy, dsx, dsyy, dsxx, dsxy) =
      ("CAST(n AS DOUBLE)", "CAST(sy AS DOUBLE)", "CAST(sx AS DOUBLE)",
        "CAST(syy AS DOUBLE)", "CAST(sxx AS DOUBLE)", "CAST(sxy AS DOUBLE)")
    val vy = s"($dn*$dsyy - $dsy*$dsy) / ($dn*($dn-1))"
    val cxy = s"($dn*$dsxy - $dsy*$dsx)"
    s"""WITH v AS (SELECT l_returnflag,
       |  CAST(FLOOR(l_quantity) AS BIGINT) AS y,
       |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS x FROM lineitem),
       |s AS (SELECT l_returnflag, count(*) AS n,
       |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx,
       |  CAST(sum(y*y) AS BIGINT) AS syy, CAST(sum(x*x) AS BIGINT) AS sxx,
       |  CAST(sum(y*x) AS BIGINT) AS sxy FROM v GROUP BY 1)
       |SELECT l_returnflag, n,
       |  CAST(floor(sqrt($vy) * 1e4) AS BIGINT) AS sd_qty_e4,
       |  CAST(floor($vy * 1e4) AS BIGINT) AS var_qty_e4,
       |  CAST(floor($cxy / sqrt(($dn*$dsyy - $dsy*$dsy) * ($dn*$dsxx - $dsx*$dsx)) * 1e6) AS BIGINT) AS corr_qp_e6,
       |  CAST(floor($cxy / ($dn*($dn-1)) * 1e4) AS BIGINT) AS covar_qp_e4,
       |  CAST(floor($cxy / ($dn*$dsyy - $dsy*$dsy) * 1e4) AS BIGINT) AS slope_pq_e4
       |FROM s""".stripMargin
  }

  def qWindowSuite: String =
    """WITH o AS (SELECT o_orderkey, o_orderpriority,
      |  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents FROM orders)
      |SELECT o_orderkey, o_orderpriority, price_cents,
      |  CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS pct_rank_ppm,
      |  CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_ppm,
      |  price_cents - lag(price_cents, 1) OVER w AS lag_diff,
      |  first_value(price_cents) OVER w AS first_cents,
      |  nth_value(price_cents, 2) OVER w AS second_cents
      |FROM o WINDOW w AS (PARTITION BY o_orderpriority
      |                    ORDER BY price_cents, o_orderkey)""".stripMargin

  def qCohortRetention: String =
    """WITH ev AS (SELECT user_id, epoch_ms(ts) // 604800000 AS wk FROM events),
      |fw AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
      |SELECT cohort_wk, wk - cohort_wk AS wk_offset,
      |  CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
      |FROM ev JOIN fw USING (user_id) GROUP BY 1, 2""".stripMargin

  /** The merge oracle is the FULL RECOMPUTE — the incremental path must
    * reproduce it exactly (same contract as etl_scd2_merge).
    */
  def aggIncrementalMerge: String =
    s"""SELECT o_custkey, count(*) AS n,
       |  CAST(sum($cents) AS BIGINT) AS sum_cents,
       |  CAST(min($cents) AS BIGINT) AS min_cents,
       |  CAST(max($cents) AS BIGINT) AS max_cents,
       |  CAST((CAST(sum($cents) AS BIGINT) * 100) // count(*) AS BIGINT) AS mean_centicents
       |FROM orders GROUP BY 1""".stripMargin

  /** Fixed-point int64 PageRank, iterations unrolled as a CTE chain from
    * the same constants as [[graft.operators.PageRank]] — every transfer
    * an integer floor-division, every combine an exact BIGINT sum, so
    * Spark and DuckDB agree bit-for-bit.
    */
  /** pageRankWeighted twin: the same generated-round replay as
    * [[qPagerank]] with weighted shares `(pr·85·w) // (100·Σw_src)`;
    * the symmetric trading graph has no sinks, so no dangling CTE —
    * matching the operator's probed fast path exactly.
    */
  def qPagerankWeighted: String = {
    val u = graft.operators.PageRank.MassUnit
    val iters = (1 to PrIters).map { k =>
      s"""c$k AS (SELECT e.dst AS node,
         |  CAST(sum((p.pr * 85 * e.w) // (100 * e.wsum)) AS BIGINT) AS inbound
         |  FROM ed e JOIN pr${k - 1} p ON e.src = p.node GROUP BY e.dst),
         |pr$k AS (SELECT nodes.node,
         |  CAST((15 * $u) // (100 * nn) + COALESCE(inbound, 0) AS BIGINT) AS pr
         |  FROM nodes CROSS JOIN n
         |  LEFT JOIN c$k ON nodes.node = c$k.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT l_suppkey AS sk, o_custkey AS ck,
       |    count(DISTINCT l_orderkey) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
       |edges AS (SELECT sk AS src, ck + $PrCustOffset AS dst, w FROM pairs
       |          UNION ALL SELECT ck + $PrCustOffset, sk, w FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |wdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM edges GROUP BY 1),
       |ed AS (SELECT edges.src, edges.dst, edges.w, wdeg.wsum
       |       FROM edges JOIN wdeg USING (src)),
       |n AS (SELECT count(*) AS nn FROM nodes),
       |pr0 AS (SELECT node, CAST($u // nn AS BIGINT) AS pr FROM nodes CROSS JOIN n),
       |$iters
       |SELECT node, pr FROM pr$PrIters""".stripMargin
  }

  def qPagerank: String = {
    val u = graft.operators.PageRank.MassUnit
    val iters = (1 to PrIters).map { k =>
      s"""d$k AS (SELECT CAST(COALESCE(sum(p.pr), 0) AS BIGINT) AS dm
         |  FROM pr${k - 1} p LEFT JOIN deg ON p.node = deg.src
         |  WHERE deg.src IS NULL),
         |c$k AS (SELECT e.dst AS node,
         |  CAST(sum((p.pr * 85) // (100 * e.deg)) AS BIGINT) AS inbound
         |  FROM ed e JOIN pr${k - 1} p ON e.src = p.node GROUP BY e.dst),
         |pr$k AS (SELECT nodes.node,
         |  CAST((15 * $u) // (100 * nn) + (85 * dm) // (100 * nn)
         |       + COALESCE(inbound, 0) AS BIGINT) AS pr
         |  FROM nodes CROSS JOIN n CROSS JOIN d$k
         |  LEFT JOIN c$k ON nodes.node = c$k.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT sk AS src, ck + $PrCustOffset AS dst FROM pairs
       |          UNION ALL SELECT ck + $PrCustOffset, sk FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |ed AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
       |n AS (SELECT count(*) AS nn FROM nodes),
       |pr0 AS (SELECT node, CAST($u // nn AS BIGINT) AS pr FROM nodes CROSS JOIN n),
       |$iters
       |SELECT node, pr FROM pr$PrIters""".stripMargin
  }

  /** Association-rules twin of
    * [[graft.operators.Frequency.associationRules]].
    */
  def qAssocRules: String =
    s"""WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
       |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM bi),
       |itn AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM bi GROUP BY 1),
       |p AS (SELECT a.i, bb.i AS j, CAST(count(*) AS BIGINT) AS n_ab
       |  FROM bi a JOIN bi bb ON a.b = bb.b AND a.i < bb.i
       |  GROUP BY 1, 2 HAVING count(*) >= $AssocMinPairs)
       |SELECT p.i AS item_a, p.j AS item_b, n_ab,
       |  CAST(n_ab * 1000000 // n_baskets AS BIGINT) AS supp_ppm,
       |  CAST(n_ab * 1000000 // na.n_i AS BIGINT) AS conf_ab_ppm,
       |  CAST(n_ab * 1000000 // nbb.n_i AS BIGINT) AS conf_ba_ppm,
       |  CAST((n_ab * n_baskets * 1000000) // (na.n_i * nbb.n_i) AS BIGINT) AS lift_ppm
       |FROM p JOIN itn na ON na.i = p.i JOIN itn nbb ON nbb.i = p.j
       |CROSS JOIN nb""".stripMargin

  /** k-core-peeling twin: the same fixed peel rounds, unrolled. */
  def qKcore: String = {
    val rounds = (1 to KcoreRounds).map { r =>
      s"""k$r AS (SELECT node FROM d${r - 1} WHERE deg >= $KcoreK),
         |e$r AS (SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN k$r a ON e.src = a.node JOIN k$r b ON e.dst = b.node),
         |d$r AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |  FROM e$r GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e0 AS (SELECT sk AS src, ck + $PrCustOffset AS dst FROM pairs
       |       UNION ALL SELECT ck + $PrCustOffset, sk FROM pairs),
       |d0 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e0 GROUP BY 1),
       |$rounds
       |SELECT node, deg FROM d$KcoreRounds WHERE deg >= $KcoreK""".stripMargin
  }

  /** HITS twin: the same unnormalized integer rounds, unrolled. */
  def qHits: String = {
    val rounds = (1 to HitsIters).map { k =>
      s"""a$k AS (SELECT nodes.node, CAST(COALESCE(s.a, 0) AS BIGINT) AS auth
         |  FROM nodes LEFT JOIN (SELECT e.dst AS node, sum(h.hub) AS a
         |    FROM e JOIN h${k - 1} h ON e.src = h.node GROUP BY e.dst) s
         |  ON nodes.node = s.node),
         |h$k AS (SELECT nodes.node, CAST(COALESCE(s.h, 0) AS BIGINT) AS hub
         |  FROM nodes LEFT JOIN (SELECT e.src AS node, sum(a.auth) AS h
         |    FROM e JOIN a$k a ON e.dst = a.node GROUP BY e.src) s
         |  ON nodes.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT l_suppkey AS src, o_custkey + $PrCustOffset AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
       |h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes),
       |$rounds
       |SELECT h.node, h.hub, a.auth
       |FROM h$HitsIters h JOIN a$HitsIters a ON h.node = a.node""".stripMargin
  }

  /** Personalized-PageRank twin of [[qPagerank]]: teleport and dangling
    * mass restricted to the seed suppliers, start vector uniform over
    * seeds.
    */
  def qPpr: String = {
    val u = graft.operators.PageRank.MassUnit
    val iters = (1 to PrIters).map { k =>
      s"""d$k AS (SELECT CAST(COALESCE(sum(p.pr), 0) AS BIGINT) AS dm
         |  FROM pr${k - 1} p LEFT JOIN deg ON p.node = deg.src
         |  WHERE deg.src IS NULL),
         |c$k AS (SELECT e.dst AS node,
         |  CAST(sum((p.pr * 85) // (100 * e.deg)) AS BIGINT) AS inbound
         |  FROM ed e JOIN pr${k - 1} p ON e.src = p.node GROUP BY e.dst),
         |pr$k AS (SELECT nodes.node,
         |  CAST(CASE WHEN seeds.node IS NOT NULL
         |    THEN (15 * $u) // (100 * ns) + (85 * dm) // (100 * ns)
         |    ELSE 0 END + COALESCE(inbound, 0) AS BIGINT) AS pr
         |  FROM nodes CROSS JOIN sn CROSS JOIN d$k
         |  LEFT JOIN c$k ON nodes.node = c$k.node
         |  LEFT JOIN seeds ON nodes.node = seeds.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT l_suppkey AS sk, o_custkey AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT sk AS src, ck + $PrCustOffset AS dst FROM pairs
       |          UNION ALL SELECT ck + $PrCustOffset, sk FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |ed AS (SELECT edges.src, edges.dst, deg.deg FROM edges JOIN deg USING (src)),
       |seeds AS (SELECT n.node FROM nodes n JOIN supplier s ON s.s_suppkey = n.node
       |          WHERE s.s_suppkey % $BfsSeedMod = 0),
       |sn AS (SELECT count(*) AS ns FROM seeds),
       |pr0 AS (SELECT nodes.node,
       |  CAST(CASE WHEN seeds.node IS NOT NULL THEN $u // ns ELSE 0 END AS BIGINT) AS pr
       |  FROM nodes CROSS JOIN sn LEFT JOIN seeds ON nodes.node = seeds.node),
       |$iters
       |SELECT node, pr FROM pr$PrIters""".stripMargin
  }

  /** Degree-oriented triangle twin of
    * [[graft.operators.Triangles.perNodeCounts]] over the same
    * parts-bought-together graph — identical orientation rule, so the
    * wedge/closure replay is exact.
    */
  def qTriangles: String =
    """WITH pairs AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
      |      FROM pairs a JOIN pairs b ON a.ok = b.ok AND a.p < b.p),
      |deg AS (SELECT n, count(*) AS d FROM
      |        (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
      |ed AS (SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
      |              THEN e.u ELSE e.v END AS s,
      |              CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
      |              THEN e.v ELSE e.u END AS t
      |       FROM e JOIN deg d1 ON e.u = d1.n JOIN deg d2 ON e.v = d2.n),
      |tri AS (SELECT e1.s AS a, e1.t AS x, e2.t AS y
      |        FROM ed e1 JOIN ed e2 ON e1.s = e2.s AND e1.t < e2.t
      |        JOIN e ON e.u = e1.t AND e.v = e2.t)
      |SELECT node, count(*) AS n_tri FROM
      |  (SELECT a AS node FROM tri UNION ALL SELECT x FROM tri
      |   UNION ALL SELECT y FROM tri)
      |GROUP BY 1""".stripMargin

  /** htEstimate twin: same salted draw, same inverse-rate scale-up. */
  def sampleHtEstimate: String = {
    val thr = HtRatePpm * 4294967296L / 1000000L
    val h = hex8Expr(s"('$HtSalt:' || CAST(doc_id AS VARCHAR))")
    s"""WITH s AS (SELECT n_chars FROM documents
       |  WHERE CAST($h AS BIGINT) < $thr)
       |SELECT CAST(count(*) AS BIGINT) AS n_sampled,
       |  CAST(COALESCE(sum(n_chars), 0) AS BIGINT) AS sampled_sum,
       |  CAST((CAST(COALESCE(sum(n_chars), 0) AS HUGEINT) * 4294967296) // $thr
       |    AS BIGINT) AS est_total
       |FROM s""".stripMargin
  }

  /** urlDedup twin: the same synthesized per-doc URL variants and the
    * same expression-for-expression canonicalization.
    */
  def textUrlDedup: String = {
    val url = """concat(
      |    CASE WHEN doc_id % 3 = 0 THEN 'https://'
      |         WHEN doc_id % 3 = 1 THEN 'http://' ELSE '' END,
      |    CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END,
      |    'site', CAST((doc_id // 4) % 7 AS VARCHAR), '.com',
      |    CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END,
      |    '/a/', CAST(doc_id // 4 AS VARCHAR),
      |    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
      |    CASE WHEN doc_id % 4 = 0 THEN '?b=2&a=1'
      |         WHEN doc_id % 4 = 1 THEN '?a=1&b=2&utm_source=feed'
      |         WHEN doc_id % 4 = 2 THEN '?a=1&utm_campaign=x&b=2#frag'
      |         ELSE '?b=2&a=1' END)""".stripMargin
    s"""WITH u AS (SELECT doc_id, $url AS url FROM documents),
       |c AS (SELECT doc_id,
       |    regexp_replace(lower(regexp_extract(url,
       |      '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)', 1)),
       |      '^www\\.', '')
       |    || regexp_replace(regexp_extract(url,
       |      '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?[^/?#]*([^?#]*)', 1),
       |      '/+$$', '')
       |    || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
       |  FROM (SELECT doc_id, url,
       |      array_to_string(list_sort(list_filter(
       |        string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
       |        p -> p <> '' AND NOT regexp_matches(p,
       |          '^(utm_[^=]*|ref|fbclid|gclid)(=.*)?$$'))), '&') AS q
       |    FROM u))
       |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_variants,
       |  min(doc_id) AS keep_id
       |FROM c GROUP BY 1""".stripMargin
  }

  /** weightedMedian twin: per-group running weights in one window,
    * same `2·cum ≥ total` lower-median rule.
    */
  def qWeightedMedian: String =
    """WITH b AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS yearkey,
      |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
      |    CAST(l_quantity AS BIGINT) AS w,
      |    l_orderkey * 8 + l_linenumber AS t FROM lineitem),
      |r AS (SELECT yearkey, v, w,
      |    sum(w) OVER (PARTITION BY yearkey ORDER BY v, t
      |      ROWS UNBOUNDED PRECEDING) AS cumw,
      |    sum(w) OVER (PARTITION BY yearkey) AS totw FROM b)
      |SELECT yearkey, CAST(max(totw) AS BIGINT) AS total_weight,
      |  CAST(min(CASE WHEN 2 * cumw >= totw THEN v END) AS BIGINT) AS wmedian
      |FROM r GROUP BY yearkey""".stripMargin

  /** exactMode twin: same count + (n desc, value asc) tie-break. */
  def qMode: String =
    """WITH c AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey,
      |    o_orderpriority AS mode_value, CAST(count(*) AS BIGINT) AS n_mode
      |  FROM orders GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY yearkey
      |    ORDER BY n_mode DESC, mode_value) AS rn FROM c)
      |SELECT yearkey, mode_value, n_mode FROM r WHERE rn = 1""".stripMargin

  /** deterministic listagg twin: sorted distinct values, same separator. */
  def qStringAgg: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey,
      |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
      |FROM orders GROUP BY 1""".stripMargin

  /** higherMoments twin: integer floor mean, exact HUGEINT centered
    * power sums, the identical ÷/×/sqrt-only double formula.
    */
  def qHigherMoments: String =
    """WITH v AS (SELECT o_orderpriority AS grp,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS x FROM orders),
      |m AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) // count(*) AS mu FROM v GROUP BY 1),
      |c AS (SELECT v.grp, m.n, m.mu,
      |    sum(CAST(x - mu AS HUGEINT) * (x - mu)) AS t2,
      |    sum(CAST(x - mu AS HUGEINT) * (x - mu) * (x - mu)) AS t3,
      |    sum(CAST(x - mu AS HUGEINT) * (x - mu) * (x - mu) * (x - mu)) AS t4
      |  FROM v JOIN m ON v.grp = m.grp GROUP BY 1, 2, 3)
      |SELECT grp, n, CAST(mu AS BIGINT) AS mu,
      |  CASE WHEN n < 2 OR t2 = 0 THEN NULL ELSE
      |    round((CAST(t3 AS DOUBLE) / n) /
      |      ((CAST(t2 AS DOUBLE) / n) * sqrt(CAST(t2 AS DOUBLE) / n)), 4)
      |  END AS skewness,
      |  CASE WHEN n < 2 OR t2 = 0 THEN NULL ELSE
      |    round((CAST(t4 AS DOUBLE) / n) /
      |      ((CAST(t2 AS DOUBLE) / n) * (CAST(t2 AS DOUBLE) / n)) - 3.0, 4)
      |  END AS kurtosis
      |FROM c""".stripMargin

  /** maxConcurrency twin: same sweep points, same total order, same
    * per-day max over the running gauge.
    */
  def eventsConcurrency: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
       |f AS (SELECT user_id, event_id, ts_ms,
       |    CASE WHEN ts_ms - lag(ts_ms) OVER w > $SessionGapMs
       |         OR lag(ts_ms) OVER w IS NULL THEN 1 ELSE 0 END AS ns
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |sid AS (SELECT user_id, ts_ms,
       |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |      ROWS UNBOUNDED PRECEDING) AS session_id FROM f),
       |sess AS (SELECT user_id AS u, session_id AS sid,
       |    min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
       |  FROM sid GROUP BY 1, 2),
       |pts AS (SELECT start_ms AS ms, 1 AS delta, u, sid FROM sess
       |  UNION ALL SELECT end_ms + 1, -1, u, sid FROM sess),
       |sw AS (SELECT ms, sum(delta) OVER (ORDER BY ms, delta, u, sid
       |    ROWS UNBOUNDED PRECEDING) AS conc FROM pts)
       |SELECT CAST(ms // 86400000 AS BIGINT) AS day,
       |  CAST(max(conc) AS BIGINT) AS max_concurrent
       |FROM sw GROUP BY 1""".stripMargin

  /** attributionUShaped twin: same rank window and 40/20/40 ladder. */
  def eventsAttributionUShaped: String =
    s"""WITH tg AS (SELECT user_id, event_id AS conv_id, epoch_ms(ts) AS conv_ms
       |  FROM events WHERE event_type = '$AsofTarget'),
       |tc AS (SELECT user_id, event_id AS touch_id, epoch_ms(ts) AS touch_ms
       |  FROM events WHERE event_type = '$AsofMatch'),
       |p AS (SELECT tg.user_id, conv_id, touch_id, touch_ms
       |  FROM tg JOIN tc ON tc.user_id = tg.user_id
       |    AND touch_ms >= conv_ms - $SessionGapMs AND touch_ms < conv_ms),
       |r AS (SELECT user_id, conv_id, touch_id,
       |    row_number() OVER (PARTITION BY conv_id ORDER BY touch_ms, touch_id) AS rn,
       |    count(*) OVER (PARTITION BY conv_id) AS k FROM p)
       |SELECT user_id, conv_id, touch_id,
       |  CAST(CASE WHEN k = 1 THEN 1000000 WHEN k = 2 THEN 500000
       |    WHEN rn = 1 OR rn = k THEN 400000
       |    ELSE 200000 // (k - 2) END AS BIGINT) AS credit_ppm
       |FROM r""".stripMargin

  /** fkAudit twin: the same three relations, LEFT ANTI as NOT IN over
    * non-null parent keys (null child keys orphan in both engines).
    */
  def etlFkAudit: String = {
    def rel(name: String, childSql: String, parentSql: String) =
      s"""SELECT '$name' AS relation,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ($childSql)) AS n_child,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ($childSql) c
         |    WHERE c.k IS NULL OR c.k NOT IN (SELECT k FROM ($parentSql) WHERE k IS NOT NULL))
         |    AS n_orphan""".stripMargin
    val rels = Seq(
      rel("lineitem.l_orderkey->orders",
        "SELECT l_orderkey AS k FROM lineitem",
        "SELECT DISTINCT o_orderkey AS k FROM orders"),
      rel("orders.o_custkey->customer",
        "SELECT o_custkey AS k FROM orders",
        "SELECT DISTINCT c_custkey AS k FROM customer"),
      rel("lineitem.l_partkey->part_even",
        "SELECT l_partkey AS k FROM lineitem",
        "SELECT DISTINCT p_partkey AS k FROM part WHERE p_partkey % 2 = 0"))
    s"""SELECT relation, n_child, n_orphan,
       |  CAST(CASE WHEN n_child = 0 THEN NULL
       |    ELSE 1000000 * n_orphan // n_child END AS BIGINT) AS orphan_ppm
       |FROM (${rels.mkString(" UNION ALL ")})""".stripMargin
  }

  /** liftTable twin: same integer score encoding, equi-depth rank rule,
    * bounded cumulative window, HUGEINT lift ratio.
    */
  def qLiftTable: String =
    s"""WITH $toksCte,
       |q AS (SELECT d.doc_id,
       |    CAST(round(($qualityExprSql) * 10000) AS BIGINT) AS s,
       |    list_contains(ts, '$LiftLabelToken') AS pos
       |  FROM documents d JOIN toks ON toks.doc_id = d.doc_id),
       |r AS (SELECT s, pos, doc_id,
       |    row_number() OVER (ORDER BY s DESC, doc_id) AS rk,
       |    count(*) OVER () AS n_tot,
       |    sum(CASE WHEN pos THEN 1 ELSE 0 END) OVER () AS pos_tot FROM q),
       |d AS (SELECT (rk - 1) * $LiftBuckets // n_tot AS bucket,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    max(n_tot) AS nt, max(pos_tot) AS pt FROM r GROUP BY 1),
       |c AS (SELECT *,
       |    sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum_n,
       |    CAST(sum(n_pos) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS cum_pos FROM d)
       |SELECT CAST(bucket AS BIGINT) AS bucket, n, n_pos, cum_pos,
       |  CAST(1000000 * cum_pos // cum_n AS BIGINT) AS precision_ppm,
       |  CAST(CASE WHEN pt = 0 THEN NULL
       |    ELSE 1000000 * cum_pos // pt END AS BIGINT) AS recall_ppm,
       |  CAST(CASE WHEN pt = 0 THEN NULL
       |    ELSE (CAST(n_pos AS HUGEINT) * nt * 1000) // (n * pt) END AS BIGINT)
       |    AS lift_pm
       |FROM c""".stripMargin

  /** conversionPaths twin: same total order inside each conversion's
    * path, same (count desc, path asc) top-K.
    */
  def eventsPaths: String =
    s"""WITH tg AS (SELECT user_id, event_id AS conv_id, epoch_ms(ts) AS conv_ms
       |  FROM events WHERE event_type = '$AsofTarget'),
       |tc AS (SELECT user_id, event_id AS touch_id, epoch_ms(ts) AS touch_ms,
       |    event_type AS t FROM events WHERE event_type <> '$AsofTarget'),
       |p AS (SELECT conv_id,
       |    string_agg(t, '>' ORDER BY touch_ms, touch_id) AS path
       |  FROM tg JOIN tc ON tc.user_id = tg.user_id
       |    AND touch_ms >= conv_ms - $SessionGapMs AND touch_ms < conv_ms
       |  GROUP BY conv_id),
       |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_conversions
       |  FROM p GROUP BY 1)
       |SELECT path, n_conversions FROM c
       |ORDER BY n_conversions DESC, path LIMIT $PathTopK""".stripMargin

  /** growth-curve twin: first-seen week per user, cumulative uniques. */
  def eventsGrowth: String =
    """WITH f AS (SELECT user_id, min(epoch_ms(ts) // 604800000) AS wk
      |  FROM events GROUP BY 1),
      |n AS (SELECT wk, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY 1)
      |SELECT CAST(wk AS BIGINT) AS wk, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY wk ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS cum_users
      |FROM n""".stripMargin

  /** stickiness twin: same offset explode, same three conditional
    * distincts in one aggregate.
    */
  def eventsStickiness: String =
    s"""WITH f AS (SELECT DISTINCT epoch_ms(ts) // 86400000 AS d, user_id AS u
       |  FROM events),
       |p AS (SELECT DISTINCT d AS day FROM f),
       |x AS (SELECT f.d + o.off AS day, u, off FROM f CROSS JOIN
       |  (SELECT unnest(range(0, $StickyMauDays)) AS off) o),
       |j AS (SELECT x.day, u, off FROM x JOIN p ON x.day = p.day)
       |SELECT CAST(day AS BIGINT) AS day,
       |  CAST(count(DISTINCT CASE WHEN off = 0 THEN u END) AS BIGINT) AS dau,
       |  CAST(count(DISTINCT CASE WHEN off < $StickyWauDays THEN u END) AS BIGINT) AS wau,
       |  CAST(count(DISTINCT u) AS BIGINT) AS mau,
       |  CAST(1000000 * count(DISTINCT CASE WHEN off = 0 THEN u END)
       |    // count(DISTINCT u) AS BIGINT) AS stickiness_ppm
       |FROM j GROUP BY day""".stripMargin

  /** rfm twin: same per-user census, same `(rank−1)·5 div N + 1`
    * quintile rule with user-id tie-breaks per dimension.
    */
  def eventsRfm: String =
    """WITH per AS (SELECT user_id,
      |    max(epoch_ms(ts) // 86400000) AS last_day,
      |    CAST(count(*) AS BIGINT) AS freq,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
      |  FROM events GROUP BY 1),
      |b AS (SELECT user_id,
      |    (SELECT max(last_day) FROM per) - last_day AS recency_days,
      |    freq, monetary_cents FROM per),
      |n AS (SELECT count(*) AS n FROM b),
      |s AS (SELECT b.user_id, recency_days, freq, monetary_cents,
      |    (row_number() OVER (ORDER BY recency_days DESC, user_id) - 1) * 5 // n.n + 1 AS r_score,
      |    (row_number() OVER (ORDER BY freq ASC, user_id) - 1) * 5 // n.n + 1 AS f_score,
      |    (row_number() OVER (ORDER BY monetary_cents ASC, user_id) - 1) * 5 // n.n + 1 AS m_score
      |  FROM b CROSS JOIN n)
      |SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, freq,
      |  monetary_cents, CAST(r_score AS BIGINT) AS r_score,
      |  CAST(f_score AS BIGINT) AS f_score, CAST(m_score AS BIGINT) AS m_score,
      |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment
      |FROM s""".stripMargin

  /** overwritePartitions twin: partitions in the batch (%17=3 months)
    * come back with the batch's rows, everything else untouched — the
    * batch here rewrites every row of its partitions, so a CASE
    * reproduces the wholesale replace.
    */
  def etlOverwritePartitions: String =
    """WITH b AS (SELECT o_orderkey,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders)
      |SELECT o_orderkey, mkey,
      |  CASE WHEN mkey % 17 = 3 THEN price_cents + 55 ELSE price_cents END
      |    AS price_cents
      |FROM b""".stripMargin

  /** pctChange twin: the same lag-1/lag-12 exact-ppm growth. */
  def qPctChange: String =
    """WITH m AS (SELECT o_orderpriority,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mkey,
      |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM orders GROUP BY 1, 2),
      |l AS (SELECT o_orderpriority, mkey, total_cents,
      |    lag(total_cents, 1) OVER w AS ls, lag(total_cents, 12) OVER w AS lc
      |  FROM m WINDOW w AS (PARTITION BY o_orderpriority ORDER BY mkey))
      |SELECT o_orderpriority, mkey, total_cents,
      |  CAST((total_cents - ls) * 1000000 // ls AS BIGINT) AS short_ppm,
      |  CAST((total_cents - lc) * 1000000 // lc AS BIGINT) AS cycle_ppm
      |FROM l""".stripMargin

  /** cohortLtv twin: same epoch-week cohorts as [[qCohortRetention]],
    * running sum per cohort, per-user curve by integer division.
    */
  def qCohortLtv: String =
    """WITH ev AS (SELECT user_id, epoch_ms(ts) // 604800000 AS wk,
      |    CAST(floor(value * 100) AS BIGINT) AS v_cents FROM events),
      |fw AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1),
      |sz AS (SELECT cohort_wk, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
      |  FROM fw GROUP BY 1),
      |wkly AS (SELECT fw.cohort_wk, ev.wk - fw.cohort_wk AS wk_offset,
      |    CAST(sum(v_cents) AS BIGINT) AS wk_cents
      |  FROM ev JOIN fw ON ev.user_id = fw.user_id GROUP BY 1, 2),
      |c AS (SELECT cohort_wk, wk_offset, wk_cents,
      |    CAST(sum(wk_cents) OVER (PARTITION BY cohort_wk ORDER BY wk_offset
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |  FROM wkly)
      |SELECT CAST(c.cohort_wk AS BIGINT) AS cohort_wk,
      |  CAST(wk_offset AS BIGINT) AS wk_offset, wk_cents, cum_cents,
      |  CAST(cum_cents // cohort_size AS BIGINT) AS ltv_cents
      |FROM c JOIN sz ON c.cohort_wk = sz.cohort_wk""".stripMargin

  /** randProject twin: same md5-derived binary-fraction matrix
    * ([[HashFunctions.projectionWeights]]) inlined as literal chains.
    */
  def embRandProj: String = {
    val ws = HashFunctions.projectionWeights(JlDims, EmbDims)
    val cols = ws.zipWithIndex
      .map { case (w, j) => s"round(${dotConstChain("embedding", w)}, 4) AS d$j" }
      .mkString(",\n       |  ")
    s"""SELECT vec_id,
       |  $cols
       |FROM embeddings""".stripMargin
  }

  /** joinSizeEst twin: same salted key sample, same exact products and
    * inverse-rate scale-up (HUGEINT // thr ≡ decimal floor-div — both
    * positive).
    */
  def qJoinSizeEst: String = {
    val thr = JseRatePpm * 4294967296L / 1000000L
    val h = hex8Expr(s"('$JseSalt:' || CAST(l_partkey AS VARCHAR))")
    s"""WITH lk AS (SELECT l_partkey AS join_key FROM lineitem
       |  WHERE CAST($h AS BIGINT) < $thr),
       |a AS (SELECT join_key, CAST(count(*) AS BIGINT) AS n FROM lk GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_keys_sampled,
       |  CAST(COALESCE(sum(n * n), 0) AS BIGINT) AS sampled_rows,
       |  CAST((CAST(COALESCE(sum(n * n), 0) AS HUGEINT) * 4294967296) // $thr
       |    AS BIGINT) AS est_rows
       |FROM a""".stripMargin
  }

  /** Hierarchy.flatten twin: the native recursive CTE this operator
    * re-expresses — DuckDB recurses to the natural forest depth, the
    * Spark loop's early-stop must land on the same closure.
    */
  def qRecursiveBom: String =
    """WITH RECURSIVE eh AS (SELECT CAST(p_partkey AS BIGINT) AS child,
      |    CAST(p_partkey // 10 AS BIGINT) AS parent,
      |    CAST(p_size % 5 + 1 AS BIGINT) AS qty
      |  FROM part WHERE p_partkey >= 10),
      |r AS (
      |  SELECT child AS node, parent AS ancestor, CAST(1 AS BIGINT) AS depth, qty
      |  FROM eh
      |  UNION ALL
      |  SELECT r.node, eh.parent, r.depth + 1, r.qty * eh.qty
      |  FROM r JOIN eh ON r.ancestor = eh.child)
      |SELECT node, ancestor, depth, qty FROM r""".stripMargin

  /** degree-histogram twin: same canonical edges, same census. */
  def qDegreeHist: String =
    """WITH pairs AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
      |      FROM pairs a JOIN pairs b ON a.ok = b.ok AND a.p < b.p),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree FROM
      |        (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
      |t AS (SELECT count(*) AS n_total FROM deg)
      |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(1000000 * count(*) // max(n_total) AS BIGINT) AS share_ppm
      |FROM deg CROSS JOIN t GROUP BY degree""".stripMargin

  /** clusteringCoef twin: the [[qTriangles]] pipeline extended with the
    * degree-≥2 frame LEFT-joined against per-node triangle counts.
    */
  def qClusteringCoef: String =
    """WITH pairs AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v
      |      FROM pairs a JOIN pairs b ON a.ok = b.ok AND a.p < b.p),
      |deg AS (SELECT n, count(*) AS d FROM
      |        (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY 1),
      |ed AS (SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
      |              THEN e.u ELSE e.v END AS s,
      |              CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.u < e.v)
      |              THEN e.v ELSE e.u END AS t
      |       FROM e JOIN deg d1 ON e.u = d1.n JOIN deg d2 ON e.v = d2.n),
      |tri AS (SELECT e1.s AS a, e1.t AS x, e2.t AS y
      |        FROM ed e1 JOIN ed e2 ON e1.s = e2.s AND e1.t < e2.t
      |        JOIN e ON e.u = e1.t AND e.v = e2.t),
      |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM
      |  (SELECT a AS node FROM tri UNION ALL SELECT x FROM tri
      |   UNION ALL SELECT y FROM tri) GROUP BY 1)
      |SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS d,
      |  COALESCE(tc.n_tri, 0) AS n_tri,
      |  CAST((2000000 * COALESCE(tc.n_tri, 0)) // (deg.d * (deg.d - 1)) AS BIGINT)
      |    AS coef_ppm
      |FROM deg LEFT JOIN tc ON tc.node = deg.n WHERE deg.d >= 2""".stripMargin

  /** gopherRules twin: same exact-integer measurements and flag bands,
    * constants interpolated from [[Params]].
    */
  def textGopherRules: String = {
    val stopList = GopherStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH $toksCte,
       |m AS (SELECT doc_id, len(ts) AS n_words,
       |    COALESCE(list_sum(list_transform(ts, t -> len(t))), 0) AS sumlen,
       |    len(list_intersect(list_distinct(ts), [$stopList])) AS n_stop,
       |    len(list_filter(ts, t -> regexp_matches(t, '[a-z]'))) AS n_alpha
       |  FROM toks),
       |x AS (SELECT doc_id, n_words, n_stop,
       |    CASE WHEN n_words > 0 THEN (100 * sumlen) // n_words END AS mean_len_x100,
       |    CASE WHEN n_words > 0 THEN (1000000 * n_alpha) // n_words END AS alpha_ppm
       |  FROM m)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(mean_len_x100 AS BIGINT) AS mean_len_x100,
       |  CAST(n_stop AS BIGINT) AS n_stop, CAST(alpha_ppm AS BIGINT) AS alpha_ppm,
       |  n_words >= $GopherMinWords AND n_words <= $GopherMaxWords AS pass_words,
       |  COALESCE(mean_len_x100 >= $GopherMinMeanLenX100
       |    AND mean_len_x100 <= $GopherMaxMeanLenX100, false) AS pass_len,
       |  n_stop >= $GopherMinStop AS pass_stop,
       |  COALESCE(alpha_ppm >= $GopherMinAlphaPpm, false) AS pass_alpha,
       |  (n_words >= $GopherMinWords AND n_words <= $GopherMaxWords)
       |    AND COALESCE(mean_len_x100 >= $GopherMinMeanLenX100
       |      AND mean_len_x100 <= $GopherMaxMeanLenX100, false)
       |    AND n_stop >= $GopherMinStop
       |    AND COALESCE(alpha_ppm >= $GopherMinAlphaPpm, false) AS pass_all
       |FROM x""".stripMargin
  }

  /** funnelLatency twin: the [[eventsFunnel]] first-reach CTE chain,
    * then completion duration = last-step minus step-1 anchor, reduced
    * with the exact type-1 quartile ranks.
    */
  def eventsFunnelLatency: String = {
    val ctes = FunnelSteps.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"s1 AS (SELECT user_id, min(epoch_ms(ts)) AS t FROM events WHERE event_type = '$st' GROUP BY user_id)"
      else
        s"s${i + 1} AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t FROM events e " +
          s"JOIN s$i p ON e.user_id = p.user_id WHERE e.event_type = '$st' AND epoch_ms(e.ts) > p.t GROUP BY e.user_id)"
    }.mkString(",\n")
    val last = s"s${FunnelSteps.size}"
    s"""WITH $ctes,
       |d AS (SELECT $last.user_id, $last.t - s1.t AS dur_ms
       |  FROM $last JOIN s1 USING (user_id)),
       |r AS (SELECT dur_ms,
       |    row_number() OVER (ORDER BY dur_ms, user_id) AS rn,
       |    count(*) OVER () AS cnt FROM d)
       |SELECT CAST(1 AS BIGINT) AS g, CAST(max(cnt) AS BIGINT) AS n_completed,
       |  min(CASE WHEN rn = (cnt + 3) // 4 THEN dur_ms END) AS p25_ms,
       |  min(CASE WHEN rn = (cnt + 1) // 2 THEN dur_ms END) AS p50_ms,
       |  min(CASE WHEN rn = (3 * cnt + 3) // 4 THEN dur_ms END) AS p75_ms
       |FROM r""".stripMargin
  }

  /** Brute-force all-pairs token-set Jaccard — the independent oracle for
    * the prefix-filter join (which must find EXACTLY these pairs). The
    * length filter in the join condition only prunes work; the WHERE
    * holds the exact integer threshold.
    */
  /** Duplicate-span audit twin of [[graft.operators.Dedup.dupSpans]]:
    * spans as md5 of the n-gram, duplicated iff seen in >= 2 distinct
    * docs, coverage as exact floor-ppm.
    */
  def dedupSpanAudit: String =
    s"""WITH $toksCte, ${shingCteFor(DupSpanN)},
       |sp AS (SELECT doc_id, md5(g) AS h
       |  FROM (SELECT doc_id, unnest(sh) AS g FROM shing)),
       |dup AS (SELECT h FROM (
       |    SELECT h, count(DISTINCT doc_id) AS nd FROM sp GROUP BY h)
       |  WHERE nd >= 2)
       |SELECT sp.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(count(dup.h) AS BIGINT) AS n_dup,
       |  CAST(count(dup.h) * 1000000 // count(*) AS BIGINT) AS dup_ppm
       |FROM sp LEFT JOIN dup ON dup.h = sp.h
       |GROUP BY sp.doc_id""".stripMargin

  def dedupPrefixFilter: String = {
    val (num, den) = (JaccardMinNum, JaccardMinDen)
    s"""WITH $toksCte, $shingCte,
       |sets AS (SELECT doc_id, list_distinct(sh) AS s, len(list_distinct(sh)) AS sz
       |         FROM shing WHERE len(list_distinct(sh)) > 0),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  len(list_intersect(a.s, b.s)) AS li, a.sz AS la, b.sz AS lb
       |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |    AND a.sz * $den >= b.sz * $num AND b.sz * $den >= a.sz * $num)
       |SELECT doc_a, doc_b,
       |  CAST((li * 1000000) // (la + lb - li) AS BIGINT) AS jac_ppm
       |FROM pr WHERE li * $den >= (la + lb - li) * $num""".stripMargin
  }

  /** Morton bit-interleave generated from the same bit layout as
    * [[graft.operators.Layout.zValue]] — pure integer ops in both engines.
    */
  def qZorder: String = {
    val terms = (0 until 16).flatMap { i =>
      Seq(s"((((o_custkey % 65536) >> $i) & 1) << ${2 * i})",
        s"((((o_orderkey % 65536) >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")
    s"SELECT o_orderkey, CAST($terms AS BIGINT) AS zval FROM orders"
  }

  /** Skipping-audit twin: same Morton interleave, same total-order file
    * assignment (row_number replays the distributed globalRank), same
    * per-file min/max prune logic for both layouts.
    */
  def qSkippingAudit: String = {
    val zterms = (0 until 16).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i})", s"(((y >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")
    def layout(name: String, ord: String): String =
      s"""SELECT '$name' AS layout, CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(CASE WHEN max_y < $SkipYLo OR min_y > $SkipYHi THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
         |  CAST(sum(CASE WHEN max_y < $SkipYLo OR min_y > $SkipYHi THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
         |  CAST(sum(n_match) AS BIGINT) AS rows_matched,
         |  CAST(sum(CASE WHEN max_y < $SkipYLo OR min_y > $SkipYHi THEN n_match ELSE 0 END) AS BIGINT) AS matched_in_skipped
         |FROM (SELECT file_id, count(*) AS n_rows, min(y) AS min_y, max(y) AS max_y,
         |    sum(CASE WHEN y BETWEEN $SkipYLo AND $SkipYHi THEN 1 ELSE 0 END) AS n_match
         |  FROM (SELECT y, ((row_number() OVER (ORDER BY $ord, k) - 1) * $SkipFiles) // nn AS file_id
         |    FROM z CROSS JOIN n)
         |  GROUP BY file_id)""".stripMargin
    s"""WITH b AS (SELECT o_custkey % 65536 AS x, o_orderkey % 65536 AS y,
       |    o_orderkey AS k FROM orders),
       |n AS (SELECT count(*) AS nn FROM b),
       |z AS (SELECT x, y, k, CAST($zterms AS BIGINT) AS zo FROM b)
       |${layout("zorder", "zo")}
       |UNION ALL
       |${layout("linear", "x")}""".stripMargin
  }

  /** Hilbert `list_reduce` fragment over a packed `d·2³² + x·2¹⁶ + y`
    * BIGINT accumulator — token-for-token the integer arithmetic of
    * [[graft.operators.Layout.hilbertValue]] (same mask-before-rotate
    * variant, same scale list).
    */
  private def hilbertFrag(xSql: String, ySql: String): String = {
    val slist = (HilbertBits - 1 to 0 by -1)
      .map(i => s"CAST(${1L << i} AS BIGINT)").mkString(",")
    val X = "((a // 65536) % 65536)"
    val Y = "(a % 65536)"
    val D = "(a // 4294967296)"
    val RX = s"(CASE WHEN ($X & s) > 0 THEN 1 ELSE 0 END)"
    val RY = s"(CASE WHEN ($Y & s) > 0 THEN 1 ELSE 0 END)"
    val MX = s"($X & (s - 1))"
    val MY = s"($Y & (s - 1))"
    val NX = s"(CASE WHEN $RY = 1 THEN $MX ELSE " +
      s"(CASE WHEN $RX = 1 THEN s - 1 - $MY ELSE $MY END) END)"
    val NY = s"(CASE WHEN $RY = 1 THEN $MY ELSE " +
      s"(CASE WHEN $RX = 1 THEN s - 1 - $MX ELSE $MX END) END)"
    s"(list_reduce(list_prepend(CAST($xSql AS BIGINT) * 65536 + " +
      s"CAST($ySql AS BIGINT), [$slist]), " +
      s"(a, s) -> ($D + s * s * xor(3 * $RX, $RY)) * 4294967296 + " +
      s"$NX * 65536 + $NY) // 4294967296)"
  }

  /** Batch z-alert twin: cumulative prior sums per key in (ts, id)
    * order, same division-free HUGEINT test.
    */
  def eventsZscoreAlerts: String =
    s"""WITH b AS (SELECT event_type, ts, event_id,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS cents FROM events),
       |c AS (SELECT event_type, event_id, cents,
       |    CAST(coalesce(count(cents) OVER w, 0) AS BIGINT) AS n_prior,
       |    CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT) AS s1,
       |    CAST(coalesce(sum(cents * cents) OVER w, 0) AS BIGINT) AS s2
       |  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT event_type, event_id, cents, n_prior FROM c
       |WHERE n_prior >= 5
       |  AND CAST(cents * n_prior - s1 AS HUGEINT) * (cents * n_prior - s1)
       |    * (n_prior - 1)
       |  > CAST(9 AS HUGEINT) * n_prior
       |    * (CAST(n_prior AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)""".stripMargin

  /** Rolling-corr twin: same trailing-28-row HUGEINT moments and one
    * shared IEEE corr per day.
    */
  def qRollingCorr: String =
    s"""WITH daily AS (SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
       |    CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
       |  FROM orders GROUP BY 1),
       |m AS (SELECT d,
       |    CAST(count(*) OVER w AS HUGEINT) AS n,
       |    sum(CAST(c AS HUGEINT)) OVER w AS sc,
       |    sum(CAST(r AS HUGEINT)) OVER w AS sr,
       |    sum(CAST(c AS HUGEINT) * c) OVER w AS scc,
       |    sum(CAST(r AS HUGEINT) * r) OVER w AS srr,
       |    sum(CAST(c AS HUGEINT) * r) OVER w AS scr
       |  FROM daily
       |  WINDOW w AS (ORDER BY d ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
       |SELECT d, CAST(n AS BIGINT) AS n,
       |  CASE WHEN sqrt(CAST(n * scc - sc * sc AS DOUBLE) *
       |      CAST(n * srr - sr * sr AS DOUBLE)) > 0
       |    THEN round(CAST(n * scr - sc * sr AS DOUBLE) /
       |      sqrt(CAST(n * scc - sc * sc AS DOUBLE) *
       |        CAST(n * srr - sr * sr AS DOUBLE)), 4)
       |    ELSE NULL END AS corr
       |FROM m""".stripMargin

  /** Gap-partition twin: generated month axis minus observed months
    * with the same suppressed 1996-06.
    */
  def etlGapPartitions: String =
    s"""WITH b AS (SELECT min(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS lo,
       |    max(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS hi FROM orders),
       |expected AS (SELECT CAST((m // 12) * 100 + (m % 12 + 1) AS BIGINT) AS part_key
       |  FROM (SELECT unnest(range(lo, hi + 1)) AS m FROM b)),
       |observed AS (SELECT DISTINCT
       |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS part_key
       |  FROM orders
       |  WHERE NOT (year(o_orderdate) = 1996 AND month(o_orderdate) = 6))
       |SELECT part_key FROM expected
       |WHERE part_key NOT IN (SELECT part_key FROM observed)""".stripMargin

  /** Runs-test twin: same daily above-mean flags, same run counting via
    * lag over the bounded day series, same IEEE z expression.
    */
  def qRunsTest: String =
    s"""WITH daily AS (SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS k,
       |    CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tc,
       |    CAST(count(*) AS BIGINT) AS nd FROM daily),
       |f AS (SELECT k, (c * nd > tc) AS b FROM daily CROSS JOIN tot),
       |g AS (SELECT b, lag(b) OVER (ORDER BY k) AS p FROM f),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN b THEN 0 ELSE 1 END) AS BIGINT) AS n0,
       |    CAST(sum(CASE WHEN p IS NULL OR p <> b THEN 1 ELSE 0 END) AS BIGINT)
       |      AS runs FROM g)
       |SELECT n, n1, n0, runs,
       |  CASE WHEN n1 = 0 OR n0 = 0 OR n < 2 THEN NULL
       |    ELSE CAST(floor((CAST(runs AS DOUBLE) -
       |      (CAST(2 * n1 * n0 AS DOUBLE) / n + 1)) /
       |      sqrt(CAST(2 * n1 * n0 AS DOUBLE) * (2 * n1 * n0 - n) /
       |      (CAST(n AS DOUBLE) * n * (n - 1))) * 1e6) AS BIGINT) END AS z_e6
       |FROM a""".stripMargin

  /** PSI twin: same snapshot split/bucketing as qDriftChi2, same
    * smoothed-ppm shares and round-e4 single-double logs.
    */
  def qPsiDrift: String =
    s"""WITH o AS (SELECT year(o_orderdate) AS y,
       |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) // $DriftBucketCents AS bucket
       |  FROM orders),
       |r AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_ref FROM o
       |  WHERE y <= $DriftSplitYear GROUP BY 1),
       |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_cur FROM o
       |  WHERE y > $DriftSplitYear GROUP BY 1),
       |per AS (SELECT coalesce(r.bucket, c.bucket) AS bucket,
       |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
       |  FROM r FULL JOIN c ON r.bucket = c.bucket),
       |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS nr,
       |    CAST(sum(n_cur) AS BIGINT) AS nc,
       |    CAST(count(*) AS BIGINT) AS b FROM per),
       |rows_ AS (SELECT bucket, n_ref, n_cur,
       |    CAST(((n_ref + 1) * 1000000 // (nr + b)
       |      - (n_cur + 1) * 1000000 // (nc + b))
       |      * CAST(round(ln(CAST((n_ref + 1) * (nc + b) AS DOUBLE)
       |        / CAST((n_cur + 1) * (nr + b) AS DOUBLE)) * 1e4, 0) AS BIGINT)
       |      AS BIGINT) AS term_e10
       |  FROM per CROSS JOIN tot)
       |SELECT bucket, n_ref, n_cur, term_e10 FROM rows_
       |UNION ALL
       |SELECT -1, (SELECT nr FROM tot), (SELECT nc FROM tot),
       |  (SELECT CAST(sum(term_e10) AS BIGINT) FROM rows_)""".stripMargin

  /** Quantile-scale twin: same total order, same exact ppm division. */
  def qQuantileScale: String =
    s"""WITH b AS (SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS lnum,
       |    CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
       |r AS (SELECT okey, lnum, c,
       |    row_number() OVER (ORDER BY c, okey, lnum) AS grank,
       |    count(*) OVER () AS n FROM b)
       |SELECT okey, lnum, c,
       |  CAST((grank - 1) * 1000000 // (n - 1) AS BIGINT) AS pct_ppm
       |FROM r""".stripMargin

  /** Mutual-best twin: same per-record (jw desc, key asc) champion, kept
    * only when reciprocal.
    */
  def qMutualBest: String =
    s"""WITH sc AS (SELECT a.s_suppkey AS k1, b.s_suppkey AS k2,
       |    round(jaro_winkler_similarity(a.s_name, b.s_name), 4) AS jw
       |  FROM supplier a JOIN supplier b
       |    ON a.s_nationkey = b.s_nationkey AND a.s_suppkey <> b.s_suppkey),
       |best AS (SELECT k1, k2, jw FROM (
       |    SELECT k1, k2, jw,
       |      row_number() OVER (PARTITION BY k1 ORDER BY jw DESC, k2) AS rk
       |    FROM sc) WHERE rk = 1)
       |SELECT x.k1, x.k2, x.jw FROM best x JOIN best y
       |  ON x.k1 = y.k2 AND x.k2 = y.k1 AND x.k1 < x.k2""".stripMargin

  /** Calendar twin: inclusive generate_series; DuckDB's 0-based Sunday
    * dayofweek +1 = Spark's convention; weekofyear is ISO in both.
    */
  def dimCalendar: String =
    s"""SELECT CAST(CAST(d AS DATE) AS VARCHAR) AS d,
       |  CAST(year(d) AS BIGINT) AS y, CAST(quarter(d) AS BIGINT) AS q,
       |  CAST(month(d) AS BIGINT) AS m, CAST(day(d) AS BIGINT) AS dom,
       |  CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
       |  CAST(weekofyear(d) AS BIGINT) AS iso_week,
       |  dayofweek(d) IN (0, 6) AS is_weekend
       |FROM (SELECT unnest(generate_series(DATE '$CalStart',
       |  DATE '$CalStart' + INTERVAL ${CalDays - 1} DAY, INTERVAL 1 DAY)) AS d)""".stripMargin

  /** Surrogate-assignment twin: row_number in natural-key order for the
    * seed load, max(sk)+rank for the unseen batch keys.
    */
  def etlSurrogateAssign: String =
    s"""WITH b AS (SELECT DISTINCT p_brand AS bkey FROM part),
       |e AS (SELECT bkey, CAST(row_number() OVER (ORDER BY bkey) AS BIGINT) AS sk
       |  FROM b WHERE bkey < '$SurrogateCut'),
       |mx AS (SELECT coalesce(max(sk), 0) AS m FROM e),
       |n AS (SELECT bkey, CAST(m + row_number() OVER (ORDER BY bkey) AS BIGINT) AS sk
       |  FROM b CROSS JOIN mx WHERE bkey NOT IN (SELECT bkey FROM e))
       |SELECT bkey, sk FROM e UNION ALL SELECT bkey, sk FROM n""".stripMargin

  /** Change-point twin: same ordered series, same exact prefix sums and
    * single-double split score, same (score desc, k asc) argmax.
    */
  def qChangepoint: String =
    s"""WITH m AS (SELECT o_orderpriority AS grp,
       |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS k,
       |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
       |  FROM orders GROUP BY 1, 2),
       |s AS (SELECT grp, list(v ORDER BY k) AS vs FROM m GROUP BY 1),
       |b AS (SELECT grp, CAST(len(vs) AS BIGINT) AS n, vs,
       |    CAST(list_sum(vs) AS BIGINT) AS tot FROM s WHERE len(vs) >= 2),
       |sp AS (SELECT grp, n, vs, tot, unnest(range(1, n)) AS k FROM b),
       |sc AS (SELECT grp, n, tot, k,
       |    CAST(list_sum(vs[1:k]) AS BIGINT) AS s1l FROM sp),
       |r AS (SELECT grp, n, tot, k, s1l,
       |    row_number() OVER (PARTITION BY grp ORDER BY
       |      (CAST(s1l AS DOUBLE) * CAST(s1l AS DOUBLE)) / CAST(k AS DOUBLE)
       |      + (CAST(tot - s1l AS DOUBLE) * CAST(tot - s1l AS DOUBLE))
       |        / CAST(n - k AS DOUBLE) DESC, k ASC) AS rk
       |  FROM sc)
       |SELECT grp, n, CAST(k AS BIGINT) AS split_k,
       |  CAST(s1l // k AS BIGINT) AS mean_left,
       |  CAST((tot - s1l) // (n - k) AS BIGINT) AS mean_right
       |FROM r WHERE rk = 1""".stripMargin

  /** Degree-assortativity twin: same symmetric edge list and degree
    * census, corrMatrix's HUGEINT-moment + IEEE-fragment discipline.
    */
  def qAssortativity: String =
    s"""WITH pairs AS (SELECT DISTINCT l_suppkey AS sk,
       |    o_custkey + $PrCustOffset AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (SELECT sk AS src, ck AS dst FROM pairs
       |  UNION ALL SELECT ck, sk FROM pairs),
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY 1),
       |m AS (SELECT a.deg AS d_src, b.deg AS d_dst FROM edges e
       |  JOIN deg a ON a.node = e.src JOIN deg b ON b.node = e.dst),
       |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |  sum(CAST(d_src AS HUGEINT)) AS s_a, sum(CAST(d_dst AS HUGEINT)) AS s_b,
       |  sum(CAST(d_src AS HUGEINT) * d_src) AS ss_a,
       |  sum(CAST(d_dst AS HUGEINT) * d_dst) AS ss_b,
       |  sum(CAST(d_src AS HUGEINT) * d_dst) AS sp FROM m)
       |SELECT 'd_src' AS var_a, 'd_dst' AS var_b,
       |  CASE WHEN sqrt(CAST(n * ss_a - s_a * s_a AS DOUBLE) *
       |                 CAST(n * ss_b - s_b * s_b AS DOUBLE)) > 0
       |    THEN round(CAST(n * sp - s_a * s_b AS DOUBLE) /
       |      sqrt(CAST(n * ss_a - s_a * s_a AS DOUBLE) *
       |           CAST(n * ss_b - s_b * s_b AS DOUBLE)), 4)
       |    ELSE NULL END AS corr
       |FROM g""".stripMargin

  /** Langid confusion twin: textLangId's stopword vote joined back to
    * the labeled column, counted per (label, prediction) cell.
    */
  def textLangidConfusion: String = {
    val scoreCols = functions.TextFunctions.langStopwords
      .map { case (l, ws) => s"CAST(${hits(ws)} AS BIGINT) AS s_$l" }.mkString(", ")
    val langs = functions.TextFunctions.langStopwords.map(_._1)
    val m = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val cases = langs.dropRight(1).map(l => s"WHEN s_$l = $m THEN '$l'").mkString(" ")
    s"""WITH $toksCte,
       |sc AS (SELECT doc_id, $scoreCols FROM toks),
       |p AS (SELECT doc_id, CASE $cases ELSE '${langs.last}' END AS pred FROM sc)
       |SELECT d.lang, p.pred, CAST(count(*) AS BIGINT) AS n
       |FROM documents d JOIN p ON p.doc_id = d.doc_id
       |GROUP BY 1, 2""".stripMargin
  }

  /** Silhouette twin of [[graft.operators.Similarity.silhouette]]:
    * replay the trained centroids (same kmeans CTEs), same
    * left-associated per-dim distance sum, same (d, cell) rank-1/rank-2
    * selection and floor-e6 scores.
    */
  def embSilhouette: String = {
    val dterm = (0 until EmbDims).map(i =>
      s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - m.c$i) * " +
        s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - m.c$i)").mkString(" + ")
    s"""WITH ${kmeansCtes(KmeansIters)},
       |dd AS (SELECT e.vec_id, m.cell, sqrt($dterm) AS d
       |  FROM embeddings e CROSS JOIN m$KmeansIters m),
       |r AS (SELECT vec_id, cell, d,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rk FROM dd),
       |s AS (SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |    CASE WHEN greatest(a.d, b.d) = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(floor((b.d - a.d) / greatest(a.d, b.d) * 1e6) AS BIGINT) END AS s_e6
       |  FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.rk = 1 AND b.rk = 2)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(s_e6) // count(*) AS BIGINT) AS mean_sil_e6,
       |  CAST(min(s_e6) AS BIGINT) AS min_sil_e6
       |FROM s GROUP BY 1""".stripMargin
  }

  /** Power-iteration twin of
    * [[graft.operators.Similarity.topComponent]]: the same round-4
    * mean centering, uniform init, per-round w-sums / normalize /
    * round-4 snap as chained CTEs.
    */
  def embPcaTop: String = {
    val D = EmbDims
    val init = {
      val x = BigDecimal(1.0 / math.sqrt(D))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (0 until D).map(j => s"CAST($x AS DOUBLE) AS b$j").mkString(", ")
    }
    val muSel = (0 until D).map(i =>
      s"round(avg(CAST(embedding[${i + 1}] AS DOUBLE)), 4) AS m$i").mkString(", ")
    def dotTerms(vAlias: String) = (0 until D).map(j =>
      s"(CAST(e.embedding[${j + 1}] AS DOUBLE) - m.m$j) * $vAlias.b$j")
      .mkString(" + ")
    def round(t: Int): String = {
      val wSums = (0 until D).map(i =>
        s"sum((CAST(embedding[${i + 1}] AS DOUBLE) - m.m$i) * dt) AS w$i")
        .mkString(", ")
      val nmExpr = (0 until D).map(i => s"w$i * w$i").mkString(" + ")
      val vSel = (0 until D).map(i => s"round(w$i / nm, 4) AS b$i").mkString(", ")
      s"""d$t AS (SELECT e.embedding, ${dotTerms(s"v${t - 1}")} AS dt
         |  FROM embeddings e CROSS JOIN v${t - 1} v${t - 1} CROSS JOIN mu m),
         |w$t AS (SELECT $wSums FROM d$t CROSS JOIN mu m),
         |n$t AS (SELECT sqrt($nmExpr) AS nm FROM w$t),
         |v$t AS (SELECT $vSel FROM w$t CROSS JOIN n$t)""".stripMargin
    }
    val rounds = (1 to PcaIters).map(round).mkString(",\n")
    val vCase = (0 until D).map(i => s"WHEN $i THEN b$i").mkString(" ")
    s"""WITH mu AS (SELECT $muSel FROM embeddings),
       |v0 AS (SELECT $init),
       |$rounds,
       |dims AS (SELECT unnest(range(0, $D)) AS dim)
       |SELECT CAST(d.dim AS BIGINT) AS dim,
       |  CASE d.dim $vCase END AS value
       |FROM v$PcaIters v CROSS JOIN dims d
       |UNION ALL
       |SELECT -1, round(nm / (SELECT count(*) FROM embeddings), 4)
       |FROM n$PcaIters""".stripMargin
  }

  /** Label-silhouette twin: per-label round-4 centroid means, same
    * left-assoc distance sums, own-label a vs min-other b, floor e6.
    */
  def embLabelSilhouette: String = {
    val avgs = (0 until EmbDims).map(i =>
      s"round(avg(CAST(embedding[${i + 1}] AS DOUBLE)), 4) AS c$i")
      .mkString(", ")
    val dterm = (0 until EmbDims).map(i =>
      s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - m.c$i) * " +
        s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - m.c$i)").mkString(" + ")
    s"""WITH cents AS (SELECT CAST(label AS BIGINT) AS clab, $avgs
       |  FROM embeddings GROUP BY 1),
       |dd AS (SELECT e.vec_id, CAST(e.label AS BIGINT) AS lab, m.clab,
       |    sqrt($dterm) AS d
       |  FROM embeddings e CROSS JOIN cents m),
       |a AS (SELECT vec_id, lab, d AS da FROM dd WHERE clab = lab),
       |b AS (SELECT vec_id, min(d) AS db FROM dd WHERE clab <> lab GROUP BY 1),
       |s AS (SELECT a.lab,
       |    CASE WHEN greatest(da, db) = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(floor((db - da) / greatest(da, db) * 1e6) AS BIGINT)
       |    END AS s_e6
       |  FROM a JOIN b ON a.vec_id = b.vec_id)
       |SELECT lab, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(s_e6) // count(*) AS BIGINT) AS mean_sil_e6,
       |  CAST(min(s_e6) AS BIGINT) AS min_sil_e6,
       |  CAST(sum(CASE WHEN s_e6 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
       |FROM s GROUP BY 1""".stripMargin
  }

  /** Inter-arrival twin: same (user, type)-partitioned gap window. */
  def eventsInterarrival: String =
    s"""WITH b AS (SELECT user_id AS u, event_type, epoch_ms(ts) AS ms,
       |    event_id AS id FROM events),
       |g AS (SELECT event_type, ms - lag(ms) OVER
       |    (PARTITION BY u, event_type ORDER BY ms, id) AS gap FROM b)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
       |  CAST(sum(gap) // count(*) AS BIGINT) AS mean_gap_ms,
       |  CAST(min(gap) AS BIGINT) AS min_gap_ms,
       |  CAST(max(gap) AS BIGINT) AS max_gap_ms
       |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin

  /** Fulfillment-latency twin: same first-shipment join and quartile
    * rank selectors as qQuartiles.
    */
  def qFulfillmentLatency: String =
    s"""WITH l AS (SELECT l_orderkey, min(l_shipdate) AS ship
       |  FROM lineitem GROUP BY 1),
       |j AS (SELECT o_orderpriority AS prio,
       |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
       |      CAST(ship AS DATE)) AS BIGINT) AS days, o_orderkey AS k
       |  FROM orders JOIN l ON o_orderkey = l_orderkey),
       |r AS (SELECT prio, days,
       |    row_number() OVER (PARTITION BY prio ORDER BY days, k) AS rn,
       |    count(*) OVER (PARTITION BY prio) AS cnt FROM j)
       |SELECT prio,
       |  CAST(min(CASE WHEN rn = (cnt + 3) // 4 THEN days END) AS BIGINT) AS p25,
       |  CAST(min(CASE WHEN rn = (cnt + 1) // 2 THEN days END) AS BIGINT) AS p50,
       |  CAST(min(CASE WHEN rn = (3 * cnt + 3) // 4 THEN days END) AS BIGINT) AS p75
       |FROM r GROUP BY 1""".stripMargin

  /** ABC twin: same descending-revenue cumulative ppm and class cuts. */
  def qAbcClass: String =
    s"""WITH cust AS (SELECT o_custkey,
       |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1),
       |r AS (SELECT o_custkey, rev,
       |    sum(rev) OVER (ORDER BY rev DESC, o_custkey
       |      ROWS UNBOUNDED PRECEDING) AS gcum,
       |    sum(rev) OVER () AS trev FROM cust),
       |c AS (SELECT rev, trev,
       |    CASE WHEN gcum * 1000000 // trev <= 800000 THEN 'A'
       |      WHEN gcum * 1000000 // trev <= 950000 THEN 'B'
       |      ELSE 'C' END AS abc FROM r)
       |SELECT abc, CAST(count(*) AS BIGINT) AS n_customers,
       |  CAST(sum(rev) AS BIGINT) AS rev_cents,
       |  CAST(sum(rev) * 1000000 // max(trev) AS BIGINT) AS share_ppm
       |FROM c GROUP BY 1""".stripMargin

  /** Lorenz twin: same ascending revenue total order and decile cuts. */
  def qLorenz: String =
    s"""WITH cust AS (SELECT o_custkey,
       |    CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1),
       |r AS (SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS grank,
       |    count(*) OVER () AS nc, sum(rev) OVER () AS trev FROM cust),
       |d AS (SELECT (grank - 1) * 10 // nc AS decile,
       |    CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS rev_cents,
       |    CAST(max(trev) AS BIGINT) AS t FROM r GROUP BY 1)
       |SELECT CAST(decile AS BIGINT) AS decile, n, rev_cents,
       |  CAST(sum(rev_cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
       |    * 1000000 // t AS BIGINT) AS cum_share_ppm
       |FROM d""".stripMargin

  /** Stress-centrality twin: replays the layered σ/ψ algorithm as a
    * generated CTE chain (the qHarmonic per-hop technique) — forward
    * layers f0..fH carry exact path counts, backward b(H)..b1 the
    * DAG-path counts, contributions σ·ψ ride HUGEINT.
    */
  def qStress: String = {
    val H = BfsHops
    val fwd = (1 to H).map { h =>
      s"""n$h AS MATERIALIZED (SELECT seed, node, CAST(sum(sigma) AS BIGINT) AS sigma
         |  FROM (SELECT f.seed, e.dst AS node, f.sigma
         |    FROM f${h - 1} f JOIN edges e ON f.node = e.src) x
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} v
         |    WHERE v.seed = x.seed AND v.node = x.node)
         |  GROUP BY 1, 2),
         |v$h AS MATERIALIZED (SELECT seed, node FROM v${h - 1}
         |  UNION ALL SELECT seed, node FROM n$h),
         |f$h AS MATERIALIZED (SELECT seed, node, sigma FROM n$h)""".stripMargin
    }.mkString(",\n")
    val bwd = ((H - 1) to 1 by -1).map { h =>
      s"""b$h AS MATERIALIZED (SELECT f.seed, f.node, f.sigma,
         |    CAST(coalesce(s.p, 0) AS BIGINT) AS psi
         |  FROM f$h f LEFT JOIN (
         |    SELECT f2.seed, f2.node, sum(b.psi + 1) AS p
         |    FROM f$h f2 JOIN edges e ON f2.node = e.src
         |      JOIN b${h + 1} b ON b.seed = f2.seed AND b.node = e.dst
         |    GROUP BY 1, 2) s ON s.seed = f.seed AND s.node = f.node)""".stripMargin
    }.mkString(",\n")
    val contribs = (1 to (H - 1)).map { h =>
      s"SELECT node, CAST(sigma AS HUGEINT) * psi AS c FROM b$h WHERE psi > 0"
    }.mkString(" UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, o_custkey + $PrCustOffset AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS MATERIALIZED (SELECT sk AS src, ck AS dst FROM pairs
       |          UNION ALL SELECT ck, sk FROM pairs),
       |f0 AS MATERIALIZED (
       |  SELECT CAST(s_suppkey AS BIGINT) AS seed, CAST(s_suppkey AS BIGINT) AS node,
       |    CAST(1 AS BIGINT) AS sigma
       |  FROM supplier WHERE s_suppkey % $StressSeedMod = 0),
       |v0 AS (SELECT seed, node FROM f0),
       |$fwd,
       |b$H AS (SELECT seed, node, sigma, CAST(0 AS BIGINT) AS psi FROM f$H),
       |$bwd,
       |c AS ($contribs),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |st AS (SELECT node, CAST(sum(c) AS BIGINT) AS stress FROM c GROUP BY 1)
       |SELECT n.node, coalesce(st.stress, 0) AS stress
       |FROM nodes n LEFT JOIN st ON st.node = n.node""".stripMargin
  }

  /** Script-mix twin: RE2 spellings of the same script classes, same
    * chr(1086) homoglyph injection (SQL text stays 7-bit clean).
    */
  def textScriptMix: String =
    s"""WITH c AS (SELECT doc_id,
       |    CASE WHEN doc_id % $HomoglyphMod = 0
       |      THEN translate(text, 'o', chr(1086)) ELSE text END AS t
       |  FROM documents),
       |per AS (SELECT doc_id,
       |    CAST(length(t) - length(regexp_replace(t, '\\p{Latin}', '', 'g')) AS BIGINT) AS n_latin,
       |    CAST(length(t) - length(regexp_replace(t, '\\p{Cyrillic}', '', 'g')) AS BIGINT) AS n_cyrillic,
       |    CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
       |  FROM c)
       |SELECT doc_id, n_latin, n_cyrillic, n_digit,
       |  (n_latin > 0 AND n_cyrillic > 0) AS mixed_script,
       |  (n_cyrillic > 0 AND n_cyrillic * 10 < n_latin) AS homoglyph_suspect
       |FROM per""".stripMargin

  /** k-fold twin: same hex8 salted-md5 fold draw, same ppm shares. */
  def sampleKfold: String = {
    val h = hex8Expr("('" + KfoldSalt + ":' || CAST(doc_id AS VARCHAR))")
    s"""WITH a AS (SELECT CAST($h % $KfoldK AS BIGINT) AS fold, lang AS cls
       |  FROM documents),
       |per AS (SELECT fold, cls, CAST(count(*) AS BIGINT) AS n
       |  FROM a GROUP BY 1, 2)
       |SELECT fold, cls, n,
       |  CAST(sum(n) OVER (PARTITION BY fold) AS BIGINT) AS n_fold,
       |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY fold) AS BIGINT)
       |    AS share_ppm
       |FROM per""".stripMargin
  }

  /** Late-arriving-dim twin: placeholders = distinct missing FKs; the
    * backfill replays upsert as arrivals ∪ (aug anti arrivals).
    */
  def etlLateDim: String =
    s"""WITH dim AS (SELECT p_partkey, p_name FROM part
       |  WHERE p_partkey % $LateDimHoldoutMod <> 0),
       |missing AS (SELECT DISTINCT l_partkey AS p_partkey FROM lineitem
       |  WHERE l_partkey NOT IN (SELECT p_partkey FROM dim)),
       |aug AS (SELECT p_partkey, p_name, false AS inferred FROM dim
       |  UNION ALL SELECT p_partkey, NULL, true FROM missing),
       |arr AS (SELECT p_partkey, p_name, false AS inferred FROM part
       |  WHERE p_partkey % $LateDimArriveMod = 0)
       |SELECT p_partkey, p_name, inferred FROM arr
       |UNION ALL
       |SELECT p_partkey, p_name, inferred FROM aug
       |WHERE p_partkey NOT IN (SELECT p_partkey FROM arr)""".stripMargin

  /** WAP twin: the violation rule is deterministic, so the publish
    * decision recomputes from the base table.
    */
  def etlWap: String =
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn,
       |    CAST(sum(CASE WHEN o_orderkey % 101 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
       |  FROM orders)
       |SELECT 'broken' AS attempt, nn AS n_staged, nb AS n_violations,
       |  false AS published, CAST(0 AS BIGINT) AS n_published FROM n
       |UNION ALL
       |SELECT 'fixed', nn, CAST(0 AS BIGINT), true, nn FROM n""".stripMargin

  /** Bot-census twin: same integer minute buckets and rate cuts. */
  def eventsBots: String =
    s"""WITH m AS (SELECT user_id AS u, epoch_ms(ts) // 60000 AS mn FROM events),
       |per AS (SELECT u, mn, CAST(count(*) AS BIGINT) AS c FROM m GROUP BY 1, 2)
       |SELECT u AS user_id, CAST(count(*) AS BIGINT) AS n_minutes,
       |  CAST(max(c) AS BIGINT) AS peak_per_minute,
       |  CAST(sum(CASE WHEN c >= $BotRate THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hot_minutes,
       |  (sum(CASE WHEN c >= $BotRate THEN 1 ELSE 0 END) >= $BotMinutes) AS bot
       |FROM per GROUP BY 1""".stripMargin

  /** Odds-ratio twin: same 2×2 cells, truncating-ppm OR, shared Woolf
    * IEEE interval.
    */
  def qOddsRatio: String = {
    val cellFrag = "CAST(1.0 AS DOUBLE)/a + CAST(1.0 AS DOUBLE)/b + " +
      "CAST(1.0 AS DOUBLE)/c + CAST(1.0 AS DOUBLE)/d"
    def bound(sign: String) =
      s"CAST(floor(exp(ln((CAST(a AS DOUBLE) * d) / " +
        s"(CAST(b AS DOUBLE) * c)) $sign 1.96 * sqrt($cellFrag)) * 1e6) " +
        "AS BIGINT)"
    s"""WITH t AS (SELECT o_orderpriority AS grp,
       |    (o_custkey % 2 = 0) AS e, (o_orderstatus = 'F') AS o FROM orders),
       |g AS (SELECT grp,
       |    CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM t GROUP BY 1)
       |SELECT grp, a, b, c, d,
       |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
       |    ELSE CAST(CAST(a AS HUGEINT) * d * 1000000
       |      // (CAST(b AS HUGEINT) * c) AS BIGINT) END AS or_ppm,
       |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
       |    ELSE ${bound("-")} END AS lo_e6,
       |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
       |    ELSE ${bound("+")} END AS hi_e6
       |FROM g""".stripMargin
  }

  /** Q10-shape SQL-surface twin: the same SQL text modulo view names. */
  def qSqlSurface: String =
    s"""SELECT c.c_custkey, n.n_name,
       |  CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
       |    AS lost_cents
       |FROM customer c
       |JOIN orders o ON o.o_custkey = c.c_custkey
       |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |JOIN nation n ON n.n_nationkey = c.c_nationkey
       |WHERE l.l_returnflag = 'R'
       |GROUP BY 1, 2
       |ORDER BY lost_cents DESC, c.c_custkey
       |LIMIT 20""".stripMargin

  /** Cramér's V twin: same zero-cell-free identity, same truncating e12
    * cell terms and floor-ppm √.
    */
  def qCramersV: String =
    s"""WITH cells AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
       |    CAST(count(*) AS BIGINT) AS n_xy FROM orders GROUP BY 1, 2),
       |nx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1),
       |ny AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1),
       |s AS (SELECT CAST(sum(CAST(n_xy AS HUGEINT) * n_xy * 1000000000000
       |    // (CAST(n_x AS HUGEINT) * n_y)) AS HUGEINT) AS s_e12
       |  FROM cells JOIN nx USING (x) JOIN ny USING (y)),
       |shape AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n,
       |    CAST(count(DISTINCT x) AS BIGINT) AS r,
       |    CAST(count(DISTINCT y) AS BIGINT) AS c FROM cells),
       |g AS (SELECT n, r, c,
       |    CAST(CAST(n AS HUGEINT) * (s_e12 - 1000000000000) // 1000000
       |      AS BIGINT) AS chi2_e6
       |  FROM shape CROSS JOIN s)
       |SELECT n, r, c, chi2_e6,
       |  CASE WHEN chi2_e6 <= 0 OR least(r, c) <= 1 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(floor(sqrt((CAST(chi2_e6 AS DOUBLE) / 1e6)
       |      / (CAST(n AS DOUBLE) * (least(r, c) - 1))) * 1e6) AS BIGINT) END
       |    AS v_ppm
       |FROM g""".stripMargin

  /** Mutual-information twin of [[graft.operators.Sketches.mutualInfo]]:
    * same exact cell/marginal counts, same round-e4 single-double logs,
    * same truncating divisions (DuckDB `//` truncates toward zero like
    * Spark `div`, including the negative near-zero-MI case).
    */
  def qMutualInfo: String =
    s"""WITH cells AS (SELECT o_orderpriority AS x, o_orderstatus AS y,
       |    CAST(count(*) AS BIGINT) AS n_xy FROM orders GROUP BY 1, 2),
       |nx AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1),
       |ny AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1),
       |nn AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS n_cells FROM cells),
       |hx AS (SELECT CAST(sum(n_x * CAST(round(ln(CAST(n AS DOUBLE) /
       |    CAST(n_x AS DOUBLE)) * 1e4, 0) AS BIGINT)) AS BIGINT) AS hx_num
       |  FROM nx CROSS JOIN nn),
       |hy AS (SELECT CAST(sum(n_y * CAST(round(ln(CAST(n AS DOUBLE) /
       |    CAST(n_y AS DOUBLE)) * 1e4, 0) AS BIGINT)) AS BIGINT) AS hy_num
       |  FROM ny CROSS JOIN nn),
       |mi AS (SELECT CAST(sum(n_xy * CAST(round(ln(CAST(n_xy * n AS DOUBLE) /
       |    CAST(n_x * n_y AS DOUBLE)) * 1e4, 0) AS BIGINT)) AS BIGINT) AS mi_num
       |  FROM cells JOIN nx USING (x) JOIN ny USING (y) CROSS JOIN nn)
       |SELECT n, n_cells,
       |  CAST(hx_num // n AS BIGINT) AS h_x_e4,
       |  CAST(hy_num // n AS BIGINT) AS h_y_e4,
       |  CAST(mi_num // n AS BIGINT) AS mi_e4,
       |  CAST(CASE WHEN least(hx_num // n, hy_num // n) > 0
       |    THEN (mi_num // n) * 1000000 // least(hx_num // n, hy_num // n)
       |    ELSE 0 END AS BIGINT) AS nmi_ppm
       |FROM nn CROSS JOIN hx CROSS JOIN hy CROSS JOIN mi""".stripMargin

  /** Naive-Bayes twin of [[graft.operators.TextOps.naiveBayes]]: same
    * exact counts, same single-double floor-scaled micro-nat logs, same
    * int64 score sums and (score desc, class asc) argmax.
    */
  def textNbClassify: String =
    s"""WITH $toksCte,
       |tok AS (SELECT d.doc_id, d.lang AS lab, unnest(ts) AS term
       |  FROM documents d JOIN toks ON toks.doc_id = d.doc_id),
       |tf AS (SELECT doc_id, lab, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY 1, 2, 3),
       |nd AS (SELECT lang AS c, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_c
       |  FROM documents GROUP BY 1),
       |pri AS (SELECT c, CAST(floor(ln(CAST(n_c AS DOUBLE) /
       |    CAST((SELECT sum(n_c) FROM nd) AS DOUBLE)) * 1e6) AS BIGINT) AS prior_e6
       |  FROM nd),
       |vv AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM tok),
       |ct AS (SELECT lab AS c, term, CAST(count(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY 1, 2),
       |tot AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS t_c FROM ct GROUP BY 1),
       |sc AS (SELECT tf.doc_id, tf.lab, tot.c,
       |    CAST(sum(tf.tf * CAST(floor(ln(CAST(coalesce(ct.cnt, 0) + 1 AS DOUBLE)
       |      / CAST(tot.t_c + vv.v AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS ll
       |  FROM tf CROSS JOIN tot CROSS JOIN vv
       |    LEFT JOIN ct ON ct.c = tot.c AND ct.term = tf.term
       |  GROUP BY 1, 2, 3),
       |fin AS (SELECT sc.doc_id, sc.lab, sc.c,
       |    sc.ll + pri.prior_e6 AS score_e6,
       |    row_number() OVER (PARTITION BY sc.doc_id
       |      ORDER BY sc.ll + pri.prior_e6 DESC, sc.c ASC) AS rk
       |  FROM sc JOIN pri ON pri.c = sc.c)
       |SELECT doc_id, lab AS label, c AS pred,
       |  CAST(score_e6 AS BIGINT) AS score_e6
       |FROM fin WHERE rk = 1""".stripMargin

  /** Reciprocity twin: same hand-off edges, reverse-edge left join. */
  def qReciprocity: String =
    s"""WITH e AS (SELECT DISTINCT src, dst FROM (
       |    SELECT l_suppkey AS src, lead(l_suppkey) OVER
       |      (PARTITION BY l_orderkey ORDER BY l_linenumber, l_suppkey) AS dst
       |    FROM lineitem)
       |  WHERE dst IS NOT NULL AND src <> dst),
       |j AS (SELECT e.src, e.dst, r.src AS rs FROM e
       |  LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src)
       |SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |  CAST(sum(CASE WHEN rs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recip,
       |  CAST(sum(CASE WHEN rs IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       |    // count(*) AS BIGINT) AS recip_ppm
       |FROM j""".stripMargin

  /** Negative-sampling twin: same unigram^(3/4) weights and A-ES
    * priority order.
    */
  def sampleNegatives: String = {
    val h = hex8Expr(s"('$NegSalt:' || term)")
    s"""WITH $toksCte,
       |tf AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS cf
       |  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1),
       |w AS (SELECT term, cf,
       |    CAST(floor(pow(CAST(cf AS DOUBLE), 0.75) * 1e6) AS BIGINT) AS w34,
       |    (CAST($h AS BIGINT) + 1) / 4294967296.0 AS u FROM tf),
       |p AS (SELECT term, cf, w34,
       |    row_number() OVER (ORDER BY ln(u) / w34 DESC, term) AS rn FROM w)
       |SELECT term, cf, w34 FROM p WHERE rn <= $NegK""".stripMargin
  }

  /** SCC twin: brute-force transitive closure (WITH RECURSIVE) over the
    * same supplier hand-off edges, scc_id = min over the mutual-
    * reachability cell — tractable at oracle scale, where the closure
    * is bounded by (suppliers)².
    */
  def qScc: String =
    s"""WITH RECURSIVE
       |e AS (SELECT DISTINCT src, dst FROM (
       |    SELECT l_suppkey AS src, lead(l_suppkey) OVER
       |      (PARTITION BY l_orderkey ORDER BY l_linenumber, l_suppkey) AS dst
       |    FROM lineitem)
       |  WHERE dst IS NOT NULL AND src <> dst),
       |r AS (SELECT src, dst FROM e
       |  UNION
       |  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |mutual AS (SELECT a.src AS v, a.dst AS u
       |  FROM r a JOIN r b ON a.src = b.dst AND a.dst = b.src)
       |SELECT n.node, CAST(least(n.node, coalesce(min(m.u), n.node)) AS BIGINT) AS scc_id
       |FROM nodes n LEFT JOIN mutual m ON m.v = n.node
       |GROUP BY n.node""".stripMargin

  /** Jaro–Winkler linkage twin: DuckDB's builtin IS the reference the
    * native kernel was fuzz-pinned against, so the twin is one line.
    */
  def qJaroPairs: String =
    s"""SELECT a.s_suppkey AS k1, b.s_suppkey AS k2,
       |  round(jaro_winkler_similarity(a.s_name, b.s_name), 4) AS jw
       |FROM supplier a JOIN supplier b
       |  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
       |WHERE round(jaro_winkler_similarity(a.s_name, b.s_name), 4) >= $JaroMinSim""".stripMargin

  def qHilbert: String =
    s"SELECT o_orderkey, CAST(${hilbertFrag(s"o_custkey % $HilbertMod",
      s"o_orderkey % $HilbertMod")} AS BIGINT) AS hval FROM orders"

  /** Three-layout audit twin: qSkippingAudit's machinery on the 15-bit
    * grid with the Hilbert ordering as the third contender.
    */
  def qHilbertAudit: String = {
    val zterms = (0 until HilbertBits).flatMap { i =>
      Seq(s"(((x >> $i) & 1) << ${2 * i})", s"(((y >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")
    def layout(name: String, ord: String): String =
      s"""SELECT '$name' AS layout, CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(CASE WHEN max_y < $SkipYLo OR min_y > $SkipYHi THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
         |  CAST(sum(CASE WHEN max_y < $SkipYLo OR min_y > $SkipYHi THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
         |  CAST(sum(n_match) AS BIGINT) AS rows_matched,
         |  CAST(sum(CASE WHEN max_y < $SkipYLo OR min_y > $SkipYHi THEN n_match ELSE 0 END) AS BIGINT) AS matched_in_skipped
         |FROM (SELECT file_id, count(*) AS n_rows, min(y) AS min_y, max(y) AS max_y,
         |    sum(CASE WHEN y BETWEEN $SkipYLo AND $SkipYHi THEN 1 ELSE 0 END) AS n_match
         |  FROM (SELECT y, ((row_number() OVER (ORDER BY $ord, k) - 1) * $SkipFiles) // nn AS file_id
         |    FROM z CROSS JOIN n)
         |  GROUP BY file_id)""".stripMargin
    s"""WITH b AS (SELECT o_custkey % $HilbertMod AS x, o_orderkey % $HilbertMod AS y,
       |    o_orderkey AS k FROM orders),
       |n AS (SELECT count(*) AS nn FROM b),
       |z AS (SELECT x, y, k, CAST($zterms AS BIGINT) AS zo,
       |    CAST(${hilbertFrag("x", "y")} AS BIGINT) AS hv FROM b)
       |${layout("hilbert", "hv")}
       |UNION ALL
       |${layout("zorder", "zo")}
       |UNION ALL
       |${layout("linear", "x")}""".stripMargin
  }

  /** Profile census: one UNION ALL branch per profiled column, each
    * normalizing exactly like the Spark projection (cents / epoch-ms /
    * identity); min/max cast to VARCHAR after aggregating so ordering is
    * the value type's, matching [[graft.operators.Quality.profile]].
    */
  def qProfile: String = {
    val cols = Seq(
      "o_orderkey" -> "o_orderkey",
      "o_custkey" -> "o_custkey",
      "o_orderstatus" -> "o_orderstatus",
      "price_cents" -> "CAST(FLOOR(o_totalprice * 100) AS BIGINT)",
      "odate_ms" -> "epoch_ms(o_orderdate)",
      "o_orderpriority" -> "o_orderpriority")
    cols.map { case (n, e) =>
      s"SELECT '$n' AS col_name, count(*) AS n_rows, count(c) AS n_vals, " +
        s"count(DISTINCT c) AS n_distinct, CAST(min(c) AS VARCHAR) AS min_val, " +
        s"CAST(max(c) AS VARCHAR) AS max_val FROM (SELECT $e AS c FROM orders)"
    }.mkString(" UNION ALL ")
  }

  /** Quarantine audit: same four rules as `SparkEntry.qcRules`, same
    * constants, conditional-sum per rule so zero-violation rules report.
    */
  def etlQuarantine: String = {
    val rules = Seq(
      "price_under_400k" -> s"CAST(FLOOR(o_totalprice * 100) AS BIGINT) < $QcMaxPriceCents",
      "status_final" -> "o_orderstatus IN ('F', 'O')",
      "priority_wellformed" -> "o_orderpriority LIKE '_-%'",
      "key_positive" -> "o_orderkey > 0")
    rules.map { case (n, p) =>
      s"SELECT '$n' AS rule, CAST(sum(CASE WHEN $p THEN 0 ELSE 1 END) AS BIGINT) AS n_viol, " +
        s"count(*) AS n_rows FROM orders"
    }.mkString(" UNION ALL ")
  }

  /** Containment decontamination replay: same shingle hashes, same
    * distinct postings, same integer ppm scores.
    */
  def dedupContainment: String = {
    val P = HashFunctions.MinhashP
    s"""WITH $toksCte, $shingCte,
       |csh AS (SELECT DISTINCT doc_id, CAST(${hex15Of("s")} AS BIGINT) % $P AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM shing
       |        WHERE doc_id % 50 <> 0)),
       |bsh AS (SELECT DISTINCT doc_id AS bench_id, CAST(${hex15Of("s")} AS BIGINT) % $P AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM shing
       |        WHERE doc_id % 50 = 0)),
       |bsz AS (SELECT bench_id, count(*) AS asz FROM bsh GROUP BY bench_id),
       |li AS (SELECT c.doc_id, b.bench_id, count(*) AS li
       |  FROM csh c JOIN bsh b USING (h) GROUP BY 1, 2)
       |SELECT l.doc_id, l.bench_id,
       |  CAST((l.li * 1000000) // z.asz AS BIGINT) AS cont_ppm
       |FROM li l JOIN bsz z USING (bench_id)
       |WHERE l.li * $ContMinDen >= z.asz * $ContMinNum""".stripMargin
  }

  /** The bloom pre-filtered anti join must EQUAL the plain anti join —
    * the sketch only routes rows, never decides membership.
    */
  def qBloomAnti: String =
    s"""SELECT o_orderkey, o_custkey FROM orders
       |WHERE o_custkey NOT IN
       |  (SELECT c_custkey FROM customer WHERE c_mktsegment = '$Q3Segment')""".stripMargin

  /** md5 60-bit hex prefix of column `c` as the same integer
    * [[HashFunctions.shingleHash]] computes.
    */
  private def hex15Of(c: String): String =
    (0 until 15).map(j => s"(instr('$hex', substr(md5($c), ${j + 1}, 1)) - 1)")
      .reduce((acc, d) => s"($acc * 16 + $d)")

  /** Count-min sketch replay: identical d affine hashes mod w, identical
    * counter build, identical min-over-rows estimates.
    */
  def qCountmin: String = {
    val P = HashFunctions.MinhashP
    val coeffs = HashFunctions.minhashCoeffs(CmDepth)
    def cellsFrom(src: String, extra: String): String = coeffs.zipWithIndex.map {
      case ((a, b), j) =>
        s"SELECT $extra$j AS j, ((hb * $a + $b) % $P) % $CmWidth AS h FROM $src"
    }.mkString(" UNION ALL ")
    s"""WITH $toksCte,
       |tok AS (SELECT unnest(ts) AS t FROM toks),
       |hb AS (SELECT CAST(${hex15Of("t")} AS BIGINT) % $P AS hb FROM tok),
       |cells AS (${cellsFrom("hb", "")}),
       |cm AS (SELECT j, h, count(*) AS cnt FROM cells GROUP BY j, h),
       |truth AS (SELECT t AS term, count(*) AS n_true FROM tok GROUP BY t
       |          HAVING count(*) >= $CmMinCount),
       |qhb AS (SELECT term, n_true, CAST(${hex15Of("term")} AS BIGINT) % $P AS hb FROM truth),
       |qcells AS (${cellsFrom("qhb", "term, n_true, ")}),
       |est AS (SELECT term, n_true, min(coalesce(cnt, 0)) AS n_est
       |        FROM qcells LEFT JOIN cm USING (j, h) GROUP BY term, n_true)
       |SELECT term, n_true, n_est FROM est""".stripMargin
  }

  /** Histogram-quantile replay: integer bucket ids, integer cumulative
    * rank test `cum*100 >= p*N` — no float percentile math anywhere.
    */
  def qQuantileEst: String = {
    val w = QuantWidthCents
    val ps = QuantPs.mkString(", ")
    s"""WITH b AS (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) // $w AS b,
       |           count(*) AS cnt FROM orders GROUP BY 1),
       |c AS (SELECT b, CAST(sum(cnt) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
       |        AND CURRENT ROW) AS BIGINT) AS cum,
       |      CAST(sum(cnt) OVER () AS BIGINT) AS n_total FROM b),
       |p AS (SELECT CAST(unnest([$ps]) AS BIGINT) AS p)
       |SELECT p, CAST(min(b) * $w AS BIGINT) AS est
       |FROM c JOIN p ON cum * 100 >= p * n_total GROUP BY p""".stripMargin
  }

  def qHeavyHitters: String =
    s"""WITH $toksCte,
       |tok AS (SELECT unnest(ts) AS t FROM toks),
       |tc AS (SELECT t AS term, count(*) AS n FROM tok GROUP BY 1),
       |nq AS (SELECT count(*) AS n_total FROM tok)
       |SELECT term, CAST(n AS BIGINT) AS n, CAST(n_total AS BIGINT) AS n_total
       |FROM tc CROSS JOIN nq WHERE n * $HhDenom > n_total""".stripMargin

  /** KMV pairwise set-algebra twin: replay each year's k-smallest
    * distinct hash set, then per year pair the k smallest of the union
    * (M), the both-sides member count c, and the same exact-int64
    * estimate formulas ([[qKmvUnion]]'s order-statistic estimator,
    * c·union_est // |M| intersection, c·10^6 // |M| Jaccard ppm).
    */
  def qKmvIntersect: String = {
    val h = hex8Expr(s"('$KmvSalt:' || CAST(o_custkey AS VARCHAR))")
    s"""WITH hv AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS y,
       |    CAST($h AS BIGINT) AS h FROM orders),
       |sa AS (SELECT y, h, row_number() OVER (PARTITION BY y ORDER BY h) AS rn
       |  FROM hv),
       |sk AS (SELECT y, h FROM sa WHERE rn <= $KmvK),
       |ys AS (SELECT DISTINCT y FROM sk),
       |pr AS (SELECT a.y AS ya, b.y AS yb FROM ys a JOIN ys b ON a.y < b.y),
       |und AS (SELECT DISTINCT pr.ya, pr.yb, sk.h FROM pr
       |  JOIN sk ON sk.y = pr.ya OR sk.y = pr.yb),
       |rk AS (SELECT ya, yb, h,
       |    row_number() OVER (PARTITION BY ya, yb ORDER BY h) AS rn FROM und),
       |m AS (SELECT ya, yb, h, rn FROM rk WHERE rn <= $KmvK),
       |st AS (SELECT ya, yb, CAST(count(*) AS BIGINT) AS kk,
       |    max(CASE WHEN rn = $KmvK THEN h END) AS hk FROM m GROUP BY ya, yb),
       |cm AS (SELECT m.ya, m.yb, CAST(count(*) AS BIGINT) AS c FROM m
       |  JOIN sk a ON a.y = m.ya AND a.h = m.h
       |  JOIN sk b ON b.y = m.yb AND b.h = m.h
       |  GROUP BY m.ya, m.yb),
       |est AS (SELECT st.ya, st.yb, st.kk, coalesce(cm.c, 0) AS c,
       |    CAST(CASE WHEN st.kk < $KmvK THEN st.kk
       |      ELSE ((${KmvK - 1} * 4294967296) // (st.hk + 1)) END AS BIGINT)
       |      AS union_est
       |  FROM st LEFT JOIN cm ON cm.ya = st.ya AND cm.yb = st.yb)
       |SELECT ya AS grp_a, yb AS grp_b, union_est,
       |  CAST((c * union_est) // kk AS BIGINT) AS intersect_est,
       |  CAST((c * 1000000) // kk AS BIGINT) AS jaccard_ppm
       |FROM est""".stripMargin
  }

  /** kmvDiff twin: the intersect replay plus per-side membership counts
    * of the union's bottom-k, so a-only/b-only fall out as ca−c / cb−c
    * — membership decisions replayed exactly like the Spark side's
    * array_intersect over stored sketches.
    */
  def qKmvDiff: String = {
    val h = hex8Expr(s"('$KmvSalt:' || CAST(o_custkey AS VARCHAR))")
    s"""WITH hv AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS y,
       |    CAST($h AS BIGINT) AS h FROM orders),
       |sa AS (SELECT y, h, row_number() OVER (PARTITION BY y ORDER BY h) AS rn
       |  FROM hv),
       |sk AS (SELECT y, h FROM sa WHERE rn <= $KmvK),
       |ys AS (SELECT DISTINCT y FROM sk),
       |pr AS (SELECT a.y AS ya, b.y AS yb FROM ys a JOIN ys b ON a.y < b.y),
       |und AS (SELECT DISTINCT pr.ya, pr.yb, sk.h FROM pr
       |  JOIN sk ON sk.y = pr.ya OR sk.y = pr.yb),
       |rk AS (SELECT ya, yb, h,
       |    row_number() OVER (PARTITION BY ya, yb ORDER BY h) AS rn FROM und),
       |m AS (SELECT ya, yb, h, rn FROM rk WHERE rn <= $KmvK),
       |st AS (SELECT ya, yb, CAST(count(*) AS BIGINT) AS kk,
       |    max(CASE WHEN rn = $KmvK THEN h END) AS hk FROM m GROUP BY ya, yb),
       |cm AS (SELECT m.ya, m.yb, CAST(count(*) AS BIGINT) AS c FROM m
       |  JOIN sk a ON a.y = m.ya AND a.h = m.h
       |  JOIN sk b ON b.y = m.yb AND b.h = m.h
       |  GROUP BY m.ya, m.yb),
       |cma AS (SELECT m.ya, m.yb, CAST(count(*) AS BIGINT) AS ca FROM m
       |  JOIN sk a ON a.y = m.ya AND a.h = m.h GROUP BY m.ya, m.yb),
       |cmb AS (SELECT m.ya, m.yb, CAST(count(*) AS BIGINT) AS cb FROM m
       |  JOIN sk b ON b.y = m.yb AND b.h = m.h GROUP BY m.ya, m.yb),
       |est AS (SELECT st.ya, st.yb, st.kk, coalesce(cm.c, 0) AS c,
       |    coalesce(cma.ca, 0) AS ca, coalesce(cmb.cb, 0) AS cb,
       |    CAST(CASE WHEN st.kk < $KmvK THEN st.kk
       |      ELSE ((${KmvK - 1} * 4294967296) // (st.hk + 1)) END AS BIGINT)
       |      AS union_est
       |  FROM st LEFT JOIN cm ON cm.ya = st.ya AND cm.yb = st.yb
       |  LEFT JOIN cma ON cma.ya = st.ya AND cma.yb = st.yb
       |  LEFT JOIN cmb ON cmb.ya = st.ya AND cmb.yb = st.yb)
       |SELECT ya AS grp_a, yb AS grp_b, union_est,
       |  CAST(((ca - c) * union_est) // kk AS BIGINT) AS a_only_est,
       |  CAST(((cb - c) * union_est) // kk AS BIGINT) AS b_only_est,
       |  CAST((c * union_est) // kk AS BIGINT) AS intersect_est
       |FROM est""".stripMargin
  }

  /** Correlation-matrix twin, generated from the same measure list as
    * the Spark side: DuckDB's sum(BIGINT) accumulates in HUGEINT (exact
    * like the Spark DECIMAL(38,0) sums); the final divide/sqrt run in
    * double where both engines are correctly-rounded IEEE, then
    * round(_, 4).
    */
  def qCorrMatrix: String = {
    val vars = Seq(
      "qty" -> "CAST(FLOOR(l_quantity) AS BIGINT)",
      "price_cents" -> "CAST(FLOOR(l_extendedprice * 100) AS BIGINT)",
      "disc_ppm" -> "CAST(FLOOR(l_discount * 1000000) AS BIGINT)",
      "tax_ppm" -> "CAST(FLOOR(l_tax * 1000000) AS BIGINT)")
    val names = vars.map(_._1)
    val pairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (names(i), names(j))
    val sums = (names.map(n => s"sum(CAST($n AS HUGEINT)) AS s_$n")
      ++ names.map(n => s"sum(CAST($n AS HUGEINT) * $n) AS ss_$n")
      ++ pairs.map { case (a, b) => s"sum(CAST($a AS HUGEINT) * $b) AS sp_${a}_$b" })
      .mkString(",\n  ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS var_a, '$b' AS var_b,
         |  round(CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE) /
         |    sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE) *
         |         CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)), 4) AS corr FROM g""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT ${vars.map { case (n, e) => s"$e AS $n" }.mkString(", ")}
       |  FROM lineitem),
       |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |  $sums FROM m)
       |$rows""".stripMargin
  }

  /** Exactly-K weighted sample twin: the same salted-hash uniform and
    * ln(u)/w A-ES priority, per-source top-K by (priority DESC, id).
    */
  def sampleTopkWeighted: String = {
    val h = hex8Expr(s"('$WkSalt:' || CAST(doc_id AS VARCHAR))")
    s"""WITH w AS (SELECT doc_id, source,
       |    CAST(length(text) AS BIGINT) AS wt,
       |    (CAST($h AS BIGINT) + 1) / 4294967296.0 AS u
       |  FROM documents),
       |p AS (SELECT source, doc_id, wt,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ln(u) / wt DESC, doc_id) AS rn FROM w)
       |SELECT source, doc_id, wt FROM p WHERE rn <= $WkK""".stripMargin
  }

  /** 60-bit signature of an md5 over column `c`: Horner fold of the first
    * 15 hex digits (== Spark's conv(substring(md5(c),1,15),16,10)).
    */
  private def sig60(c: String): String =
    (0 until 15).map(j => s"(instr('$hex', substr(md5($c), ${j + 1}, 1)) - 1)")
      .reduce((acc, d) => s"($acc * 16 + $d)")

  /** Dataset fingerprint twin: identical canonical row string (`|`-joined
    * exact renderings), identical 60-bit md5 signature, same commutative
    * combiners per returnflag + rollup total. DuckDB sums BIGINT into
    * HUGEINT, so the mod-2^60 reduction is exact there just as the
    * DECIMAL(38,0) sum is on the Spark side.
    */
  def qDatasetFingerprint: String =
    s"""WITH rows_ AS (SELECT l_returnflag AS grp,
       |    concat_ws('|', CAST(l_orderkey AS VARCHAR), CAST(l_partkey AS VARCHAR),
       |      CAST(l_suppkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
       |      CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS VARCHAR),
       |      CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) AS canon
       |  FROM lineitem),
       |s AS (SELECT grp, CAST(${sig60("canon")} AS BIGINT) AS sig FROM rows_)
       |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(bit_xor(sig) AS BIGINT) AS xor_sig,
       |  CAST(sum(sig) % ${operators.Audit.SigModulus} AS BIGINT) AS sum_sig,
       |  min(sig) AS min_sig, max(sig) AS max_sig
       |FROM s GROUP BY ROLLUP(grp)""".stripMargin

  /** Join-size audit twin: the self-join per-key census, top keys by
    * output contribution + a NULL-key grand total.
    */
  def qJoinSizeAudit: String =
    s"""WITH la AS (SELECT CAST(l_partkey AS BIGINT) AS join_key,
       |    CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1),
       |per AS (SELECT join_key, n AS left_rows, n AS right_rows,
       |    n * n AS out_rows FROM la)
       |SELECT * FROM (SELECT join_key, left_rows, right_rows, out_rows
       |  FROM per ORDER BY out_rows DESC, join_key LIMIT $AuditTopK)
       |UNION ALL
       |SELECT CAST(NULL AS BIGINT), CAST(sum(left_rows) AS BIGINT),
       |  CAST(sum(right_rows) AS BIGINT), CAST(sum(out_rows) AS BIGINT)
       |FROM per""".stripMargin

  /** Entity-resolution twin: same synthesized dirty registry, same
    * exact-duplicate collapse to distinct names (name_id = min record
    * id), same block + length-band + levenshtein edges over names,
    * recursive-CTE connected components (the [[dedupCluster]] shape),
    * unmatched names keep their own name_id, records inherit the
    * entity through their name, canonical name = minimum-id member's.
    */
  def erResolve: String =
    s"""WITH RECURSIVE recs AS (
       |  SELECT CAST(p_partkey * 2 AS BIGINT) AS rid, p_name AS name FROM part
       |  UNION ALL
       |  SELECT CAST(p_partkey * 2 + 1 AS BIGINT),
       |    substring(p_name, 1, length(p_name) - 1)
       |  FROM part WHERE p_partkey % $ErTwinMod = 0),
       |names AS (SELECT name, min(rid) AS name_id FROM recs GROUP BY name),
       |e0 AS (SELECT a.name_id AS u, b.name_id AS v FROM names a JOIN names b
       |    ON split_part(a.name, ' ', 1) = split_part(b.name, ' ', 1)
       |   AND a.name_id < b.name_id
       |   AND abs(length(a.name) - length(b.name)) <= $ErMaxDist
       |  WHERE levenshtein(a.name, b.name) <= $ErMaxDist),
       |edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
       |reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
       |cc AS (SELECT u AS name_id, min(r) AS cluster_id FROM reach GROUP BY u),
       |lab AS (SELECT recs.rid, recs.name, ne.entity_id
       |  FROM recs JOIN (SELECT names.name,
       |      coalesce(cc.cluster_id, names.name_id) AS entity_id
       |    FROM names LEFT JOIN cc USING (name_id)) ne USING (name)),
       |rk AS (SELECT entity_id, name,
       |    row_number() OVER (PARTITION BY entity_id ORDER BY rid) AS rn
       |  FROM lab)
       |SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
       |  min(CASE WHEN rn = 1 THEN name END) AS canonical_name
       |FROM rk GROUP BY entity_id""".stripMargin

  /** equidepthHist twin: same total order (cents, orderkey), same
    * `(rank−1)·B div N` bucket rule — trunc vs floor agree (all ranks
    * positive), so the full-sort window here must equal the
    * range-partitioned two-pass exactly.
    */
  def qEquidepthHist: String =
    s"""WITH v AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
       |    o_orderkey AS t FROM orders),
       |r AS (SELECT v, row_number() OVER (ORDER BY v, t) AS rk,
       |    count(*) OVER () AS n_total FROM v)
       |SELECT CAST((rk - 1) * $EqdepthBuckets // n_total AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n, min(v) AS lo, max(v) AS hi
       |FROM r GROUP BY 1""".stripMargin

  /** benford twin: the expected-ppm CASE is generated from the same
    * [[graft.operators.Audit.BenfordPpm]] constants the Spark side
    * compiles in — one source of truth, two engines.
    */
  def qBenford: String = {
    val cases = graft.operators.Audit.BenfordPpm
      .map { case (d, ppm) => s"WHEN $d THEN $ppm" }.mkString(" ")
    s"""WITH v AS (SELECT o_orderpriority AS grp,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders WHERE floor(o_totalprice * 100) > 0),
       |c AS (SELECT grp, CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |    CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1, 2),
       |g AS (SELECT grp, sum(n) AS n_total FROM c GROUP BY 1),
       |f AS (SELECT g.grp, d.digit, g.n_total, COALESCE(c.n, 0) AS n
       |  FROM g CROSS JOIN (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit) d
       |  LEFT JOIN c ON c.grp = g.grp AND c.digit = d.digit),
       |s AS (SELECT grp, digit, n, (1000000 * n) // n_total AS obs_ppm,
       |    CASE digit $cases END AS exp_ppm FROM f)
       |SELECT grp, digit, n, CAST(obs_ppm AS BIGINT) AS obs_ppm,
       |  CAST(exp_ppm AS BIGINT) AS exp_ppm,
       |  CAST(sum(abs(obs_ppm - exp_ppm)) OVER (PARTITION BY grp) // 9 AS BIGINT)
       |    AS mad_ppm
       |FROM s""".stripMargin
  }

  /** theilSen twin: all pairwise slopes of the q_trend_fit monthly
    * series, exact ppm integer division (trunc in both engines), exact
    * two-middle-ranks median.
    */
  def qTheilsen: String =
    """WITH m AS (SELECT o_orderpriority AS grp,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS x,
      |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |p AS (SELECT a.grp, a.x AS x, b.x AS x2,
      |    ((b.y - a.y) * 1000000) // (b.x - a.x) AS slope_ppm
      |  FROM m a JOIN m b ON a.grp = b.grp AND b.x > a.x),
      |r AS (SELECT grp, slope_ppm,
      |    row_number() OVER (PARTITION BY grp ORDER BY slope_ppm, x, x2) AS rn,
      |    count(*) OVER (PARTITION BY grp) AS cnt FROM p)
      |SELECT grp, CAST(max(cnt) AS BIGINT) AS n_pairs,
      |  round(avg(slope_ppm), 4) AS slope_ppm_med
      |FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
      |GROUP BY grp""".stripMargin

  /** epochShuffle twin: same salted md5 order key, same shard mod, same
    * (h, doc_id) tie-broken rank within (epoch, shard).
    */
  def sampleEpochShuffle: String = {
    val h = hex8Expr(
      s"('$EpochSalt:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))")
    s"""WITH e AS (SELECT doc_id, CAST(o.epoch AS BIGINT) AS epoch
       |  FROM documents CROSS JOIN
       |    (SELECT unnest(range(0, $EpochShuffleEpochs)) AS epoch) o),
       |s AS (SELECT doc_id, epoch, CAST($h AS BIGINT) AS h FROM e)
       |SELECT epoch, CAST(h % $EpochShuffleShards AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY epoch, h % $EpochShuffleShards
       |    ORDER BY h, doc_id) AS BIGINT) AS pos, doc_id
       |FROM s""".stripMargin
  }

  /** Wilson-interval twin of [[graft.operators.Experiment.wilsonCI]] —
    * the bound fragments come VERBATIM from the shared
    * [[graft.operators.Experiment.wilsonFrag]] (every token valid in
    * both dialects), clamped to [0, 10⁶] on both sides identically.
    */
  def qWilsonCi: String = {
    import graft.operators.Experiment.wilsonFrag
    s"""WITH a AS (SELECT o_orderpriority AS grp,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM orders GROUP BY 1)
       |SELECT grp, n, k AS n_pos,
       |  CAST(k * 1000000 // n AS BIGINT) AS p_ppm,
       |  greatest(CAST(0 AS BIGINT), ${wilsonFrag("-")}) AS lo_ppm,
       |  least(CAST(1000000 AS BIGINT), ${wilsonFrag("+")}) AS hi_ppm
       |FROM a""".stripMargin
  }

  /** Post-stratification twin of
    * [[graft.operators.Experiment.stratifiedAte]]: per-stratum exact
    * cross-multiplied contrasts, population-weighted truncating
    * contributions, and the `__ate__` integer-sum row.
    */
  def qStratifiedAte: String =
    s"""WITH per AS (SELECT o_orderpriority AS grp,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
       |    CAST(sum(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
       |    CAST(sum(CASE WHEN o_custkey % 2 = 0
       |      THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_t,
       |    CAST(sum(CASE WHEN o_custkey % 2 <> 0
       |      THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_c
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all FROM per),
       |r1 AS (SELECT grp, n, n_t, n_c,
       |    CASE WHEN n_t > 0 AND n_c > 0 THEN
       |      CAST(CAST(CAST(s_t AS DECIMAL(38,0))*n_c - CAST(s_c AS DECIMAL(38,0))*n_t AS HUGEINT)
       |        * 100 // CAST(CAST(n_t AS DECIMAL(38,0))*n_c AS HUGEINT) AS BIGINT) END AS diff_e2,
       |    n_all
       |  FROM per CROSS JOIN tot),
       |r2 AS (SELECT grp, n, n_t, n_c, diff_e2,
       |    CAST(CAST(diff_e2 AS HUGEINT) * n // n_all AS BIGINT) AS contrib_e2
       |  FROM r1)
       |SELECT grp, n, n_t, n_c, diff_e2, contrib_e2 FROM r2
       |UNION ALL
       |SELECT '__ate__', CAST(sum(n) AS BIGINT), CAST(sum(n_t) AS BIGINT),
       |  CAST(sum(n_c) AS BIGINT), CAST(sum(contrib_e2) AS BIGINT),
       |  CAST(sum(contrib_e2) AS BIGINT) FROM r2""".stripMargin

  /** DiD twin of [[graft.operators.Experiment.did]]: the four exact
    * arm×period cell sums, then the shared-fragment IEEE estimate.
    */
  def qDid: String = {
    import graft.operators.Experiment.DidE4Frag
    s"""WITH o AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a,
       |    CASE WHEN ts >= TIMESTAMP '$JsdSplitTs' THEN 1 ELSE 0 END AS p,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS m FROM events),
       |c AS (SELECT
       |    CAST(sum(CASE WHEN a = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ta,
       |    CAST(sum(CASE WHEN a = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
       |    CAST(sum(CASE WHEN a = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ca,
       |    CAST(sum(CASE WHEN a = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
       |    CAST(sum(CASE WHEN a = 1 AND p = 0 THEN m ELSE 0 END) AS BIGINT) AS s_ta,
       |    CAST(sum(CASE WHEN a = 1 AND p = 1 THEN m ELSE 0 END) AS BIGINT) AS s_tp,
       |    CAST(sum(CASE WHEN a = 0 AND p = 0 THEN m ELSE 0 END) AS BIGINT) AS s_ca,
       |    CAST(sum(CASE WHEN a = 0 AND p = 1 THEN m ELSE 0 END) AS BIGINT) AS s_cp
       |  FROM o)
       |SELECT n_ta, n_tp, n_ca, n_cp, s_ta, s_tp, s_ca, s_cp,
       |  $DidE4Frag AS did_e4
       |FROM c""".stripMargin
  }

  /** Bin-packing twin of [[graft.operators.Layout.compactionPlan]]:
    * running size before each manifest chunk, truncating-divided by the
    * target.
    */
  def qCompactionPlan: String =
    s"""WITH mf AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS grp,
       |    CAST(month(l_shipdate) AS BIGINT) AS key,
       |    CAST(count(*) AS BIGINT) AS sz
       |  FROM lineitem GROUP BY 1, 2),
       |w AS (SELECT grp, key, sz,
       |    COALESCE(sum(sz) OVER (PARTITION BY grp ORDER BY key ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM mf)
       |SELECT grp, key, sz,
       |  CAST(cum_before // $CompactTargetRows AS BIGINT) AS bucket
       |FROM w""".stripMargin

  /** Skew-audit twin of [[graft.operators.Audit.keySkewAudit]]: count
    * per key, global top-k by (cnt desc, key), ceil via add-then-
    * truncate (both engines truncate toward zero).
    */
  def qSkewAudit: String =
    s"""WITH c AS (SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS cnt
       |  FROM lineitem GROUP BY 1),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
       |  CAST(count(*) AS BIGINT) AS n_keys FROM c),
       |top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT $SkewTopK)
       |SELECT key, cnt, n_total, n_keys,
       |  CAST(cnt * 1000000 // n_total AS BIGINT) AS share_ppm,
       |  greatest(CAST(1 AS BIGINT),
       |    CAST((cnt * $SkewSaltPartitions + n_total - 1) // n_total AS BIGINT))
       |    AS salt_factor
       |FROM top CROSS JOIN t""".stripMargin

  /** Source-overlap twin of
    * [[graft.operators.Dedup.sourceOverlapMatrix]]: distinct
    * (source, md5) sets, digest-joined pair intersections over a full
    * pair frame so zero overlaps stay visible.
    */
  def dedupOverlapMatrix: String =
    s"""WITH sh AS (SELECT DISTINCT source AS src, md5(text) AS h FROM documents),
       |sz AS (SELECT src, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
       |iv AS (SELECT a.src AS src_a, b.src AS src_b,
       |    CAST(count(*) AS BIGINT) AS n_common
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src GROUP BY 1, 2),
       |fr AS (SELECT a.src AS src_a, b.src AS src_b, a.sz AS n_a, b.sz AS n_b
       |  FROM sz a JOIN sz b ON a.src < b.src)
       |SELECT fr.src_a, fr.src_b, n_a, n_b,
       |  COALESCE(n_common, 0) AS n_common,
       |  CAST(COALESCE(n_common, 0) * 1000000 // (n_a + n_b - COALESCE(n_common, 0)) AS BIGINT) AS jaccard_ppm,
       |  CAST(COALESCE(n_common, 0) * 1000000 // n_a AS BIGINT) AS contain_a_ppm,
       |  CAST(COALESCE(n_common, 0) * 1000000 // n_b AS BIGINT) AS contain_b_ppm
       |FROM fr LEFT JOIN iv ON fr.src_a = iv.src_a AND fr.src_b = iv.src_b""".stripMargin

  /** Sweep-line twin of [[graft.operators.Intervals.coverage]]: same
    * two windows (running max-end over the preceding frame → island
    * flags → running sum), same half-open day intervals.
    */
  def qIntervalCoverage: String =
    s"""WITH base AS (SELECT l_suppkey AS grp,
       |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
       |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
       |      + CAST(floor(l_quantity) AS BIGINT) AS BIGINT) AS e
       |  FROM lineitem),
       |m AS (SELECT grp, s, e,
       |    max(e) OVER (PARTITION BY grp ORDER BY s ASC, e ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |  FROM base),
       |fl AS (SELECT grp, s, e,
       |    CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS opens FROM m),
       |isl AS (SELECT grp, s, e,
       |    sum(opens) OVER (PARTITION BY grp ORDER BY s ASC, e ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM fl),
       |g AS (SELECT grp, island, CAST(count(*) AS BIGINT) AS n_iv,
       |    min(s) AS i_s, max(e) AS i_e FROM isl GROUP BY 1, 2)
       |SELECT grp, CAST(sum(n_iv) AS BIGINT) AS n_intervals,
       |  CAST(count(*) AS BIGINT) AS n_islands,
       |  CAST(sum(i_e - i_s) AS BIGINT) AS covered,
       |  CAST(max(i_e) - min(i_s) AS BIGINT) AS span,
       |  CAST(sum(i_e - i_s) * 1000000 // (max(i_e) - min(i_s)) AS BIGINT) AS util_ppm
       |FROM g GROUP BY grp""".stripMargin

  /** Product-limit twin of [[graft.operators.Survival.kaplanMeier]]:
    * the survival recurrence S_k = S_{k−1}·(r−d) // r replays as a
    * WITH RECURSIVE over the row-numbered event steps — identical
    * integer sequence to the Spark fold.
    */
  def qKaplanMeier: String =
    s"""WITH RECURSIVE units AS (
       |  SELECT CAST(CASE WHEN l_shipdate <= TIMESTAMP '$KmCutoff'
       |      THEN CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
       |      ELSE CAST(TIMESTAMP '$KmCutoff' AS DATE) - CAST(o_orderdate AS DATE)
       |    END AS BIGINT) AS t,
       |    CASE WHEN l_shipdate <= TIMESTAMP '$KmCutoff' THEN 1 ELSE 0 END AS obs
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderdate <= TIMESTAMP '$KmCutoff'
       |    AND l_shipdate >= o_orderdate),
       |pt AS (SELECT t, CAST(sum(obs) AS BIGINT) AS d,
       |    CAST(sum(1 - obs) AS BIGINT) AS c FROM units GROUP BY 1),
       |ar AS (SELECT t, d, c, CAST(sum(d + c) OVER (ORDER BY t DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r
       |  FROM pt),
       |st AS (SELECT t, r, d, c,
       |    row_number() OVER (ORDER BY t ASC) AS i FROM ar WHERE d > 0),
       |rec(i, surv) AS (
       |  SELECT CAST(0 AS BIGINT), CAST(1000000 AS BIGINT)
       |  UNION ALL
       |  SELECT st.i, rec.surv * (st.r - st.d) // st.r
       |  FROM rec JOIN st ON st.i = rec.i + 1)
       |SELECT st.t, st.r AS n_risk, st.d AS n_event, st.c AS n_censor,
       |  CAST(rec.surv AS BIGINT) AS surv_e6
       |FROM st JOIN rec ON rec.i = st.i""".stripMargin

  /** IR-metrics twin of [[graft.operators.TextOps.rankMetrics]] over
    * the BM25 ranking scored against the Jaccard top-k relevance set —
    * composes the [[bm25Ctes]]/[[jacCtes]] rankings, then the same
    * integer metric algebra (per-rank discounts floored individually,
    * truncating ratios, IDCG as a list fold over the ideal prefix).
    */
  def textRankMetrics: String =
    s"""WITH $toksCte,
       |$sqidsCte,
       |${bm25Ctes(budgeted = true)},
       |${jacCtes(budgeted = true)},
       |sys AS (SELECT query_id, doc_id, rnk FROM bmr WHERE rnk <= $Bm25K),
       |rel AS (SELECT query_id, doc_id FROM jr WHERE rnk <= $Bm25K),
       |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |  FROM rel GROUP BY 1),
       |lab AS (SELECT s.query_id, s.doc_id, s.rnk,
       |    CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS rel
       |  FROM sys s LEFT JOIN rel r
       |    ON s.query_id = r.query_id AND s.doc_id = r.doc_id),
       |h AS (SELECT query_id, doc_id, rnk, rel,
       |    sum(rel) OVER (PARTITION BY query_id ORDER BY rnk ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hits
       |  FROM lab),
       |pq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_ret,
       |    CAST(sum(rel) AS BIGINT) AS n_hit,
       |    min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
       |    CAST(sum(CASE WHEN rel = 1 THEN hits * 1000000 // rnk ELSE 0 END) AS BIGINT) AS ap_num,
       |    CAST(sum(CASE WHEN rel = 1 THEN CAST(floor(1000000.0
       |      / log2(CAST(rnk AS DOUBLE) + 1.0)) AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_e6
       |  FROM h GROUP BY 1),
       |j AS (SELECT pq.query_id, COALESCE(n_rel, 0) AS n_rel, n_ret, n_hit,
       |    first_rel, ap_num, dcg_e6,
       |    least(COALESCE(n_rel, 0), $Bm25K) AS m
       |  FROM pq LEFT JOIN nrel ON pq.query_id = nrel.query_id)
       |SELECT query_id, n_rel, n_ret, n_hit,
       |  CAST(n_hit * 1000000 // $Bm25K AS BIGINT) AS prec_ppm,
       |  CASE WHEN n_rel > 0 THEN CAST(n_hit * 1000000 // n_rel AS BIGINT)
       |    ELSE 0 END AS recall_ppm,
       |  COALESCE(CAST(1000000 // first_rel AS BIGINT), 0) AS mrr_e6,
       |  CASE WHEN m > 0 THEN CAST(ap_num // m AS BIGINT) ELSE 0 END AS ap_e6,
       |  dcg_e6,
       |  CASE WHEN m > 0 AND CAST(list_sum(list_transform(range(1, m + 1),
       |      rr -> CAST(floor(1000000.0 / log2(CAST(rr AS DOUBLE) + 1.0)) AS BIGINT)))
       |      AS BIGINT) > 0
       |    THEN CAST(dcg_e6 * 1000000 // CAST(list_sum(list_transform(range(1, m + 1),
       |      rr -> CAST(floor(1000000.0 / log2(CAST(rr AS DOUBLE) + 1.0)) AS BIGINT)))
       |      AS BIGINT) AS BIGINT)
       |    ELSE 0 END AS ndcg_ppm
       |FROM j""".stripMargin

  /** Louvain local-move twin of
    * [[graft.operators.Louvain.localMove]]: exact-integer gains
    * 2m·n_ij − k_i·k_j, argmax per node with smallest-neighbor
    * tie-break.
    */
  def qLouvainMove: String =
    s"""WITH pairs0 AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, o_custkey + $PrCustOffset AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS MATERIALIZED (SELECT sk AS src, ck AS dst FROM pairs0
       |          UNION ALL SELECT ck, sk FROM pairs0),
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS k
       |  FROM edges GROUP BY 1),
       |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges),
       |pr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n_ij
       |  FROM edges GROUP BY 1, 2),
       |g AS (SELECT pr.src, pr.dst,
       |    CAST(m2.m2 * n_ij - di.k * dj.k AS BIGINT) AS gain_x
       |  FROM pr JOIN deg di ON di.node = pr.src
       |  JOIN deg dj ON dj.node = pr.dst CROSS JOIN m2),
       |b AS (SELECT src AS node, dst, gain_x,
       |    row_number() OVER (PARTITION BY src ORDER BY gain_x DESC, dst ASC) AS rn
       |  FROM g)
       |SELECT node,
       |  CASE WHEN gain_x > 0 THEN dst ELSE node END AS new_label,
       |  greatest(gain_x, CAST(0 AS BIGINT)) AS gain_x
       |FROM b WHERE rn = 1""".stripMargin

  /** Markov removal-effect twin of
    * [[graft.operators.EventOps.markovAttribution]]: journeys → ppm
    * transition matrix, then one GENERATED unrolled fixed-point chain
    * per variant (full + each removed channel) — the BPE-style
    * per-step-CTE replay of the driver-side fold.
    */
  def eventsMarkov: String = {
    val T = MarkovSteps
    def chain(tag: String, removed: Option[String]): String = {
      val remFilter = removed.map(c => s" AND c.src <> '$c'").getOrElse("")
      val dstExpr = removed
        .map(c => s"CASE WHEN c.dst = '$c' THEN 'NULL' ELSE c.dst END")
        .getOrElse("c.dst")
      val v0 = s"v${tag}0 AS MATERIALIZED (SELECT 'START' AS st, CAST(1000000 AS BIGINT) AS m)"
      val stepsSql = (1 to T).map { k =>
        s"""v$tag$k AS MATERIALIZED (SELECT st, CAST(sum(m) AS BIGINT) AS m FROM (
           |  SELECT $dstExpr AS st, v.m * c.p // 1000000 AS m
           |  FROM v$tag${k - 1} v JOIN p c ON c.src = v.st$remFilter
           |  WHERE v.st NOT IN ('CONV', 'NULL')
           |  UNION ALL
           |  SELECT st, m FROM v$tag${k - 1} WHERE st IN ('CONV', 'NULL')
           |) GROUP BY st)""".stripMargin
      }.mkString(",\n")
      s"$v0,\n$stepsSql"
    }
    val variants = (chain("full", None) +:
      MarkovChannels.sorted.map(c => chain(c, Some(c)))).mkString(",\n")
    val resRows = MarkovChannels.sorted.map { c =>
      s"""SELECT '$c' AS channel,
         |  COALESCE((SELECT m FROM vfull$T WHERE st = 'CONV'), 0) AS pf,
         |  COALESCE((SELECT m FROM v$c$T WHERE st = 'CONV'), 0) AS pr""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type
       |  FROM events),
       |x AS (SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
       |      OR ts_ms - lag(ts_ms) OVER w > $SessionGapMs THEN 1 ELSE 0 END AS ns
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
       |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
       |    ROWS UNBOUNDED PRECEDING) AS sess FROM x),
       |f AS (SELECT *, min(CASE WHEN event_type = '$MarkovConv' THEN ts_ms END)
       |    OVER (PARTITION BY user_id, sess) AS fc FROM s),
       |k AS (SELECT * FROM f WHERE fc IS NULL OR ts_ms <= fc),
       |t AS (SELECT user_id, sess, ts_ms, event_id, event_type,
       |    lag(event_type) OVER ws AS prev, lead(event_type) OVER ws AS nxt
       |  FROM k WINDOW ws AS (PARTITION BY user_id, sess ORDER BY ts_ms, event_id)),
       |tr AS (
       |  SELECT 'START' AS src,
       |    CASE WHEN event_type = '$MarkovConv' THEN 'CONV' ELSE event_type END AS dst
       |  FROM t WHERE prev IS NULL
       |  UNION ALL
       |  SELECT event_type,
       |    CASE WHEN nxt = '$MarkovConv' THEN 'CONV' ELSE nxt END
       |  FROM t WHERE nxt IS NOT NULL AND event_type <> '$MarkovConv'
       |  UNION ALL
       |  SELECT event_type, 'NULL'
       |  FROM t WHERE nxt IS NULL AND event_type <> '$MarkovConv'),
       |cnt AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
       |  FROM tr GROUP BY 1, 2),
       |rs AS MATERIALIZED (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM cnt GROUP BY 1),
       |p AS MATERIALIZED (SELECT c.src, c.dst,
       |    CAST(c.n * 1000000 // r.tot AS BIGINT) AS p
       |  FROM cnt c JOIN rs r ON r.src = c.src),
       |$variants,
       |res AS (
       |$resRows),
       |eff AS (SELECT channel, pf, pr, greatest(0, pf - pr) AS eff FROM res),
       |te AS (SELECT CAST(sum(eff) AS BIGINT) AS te FROM eff)
       |SELECT channel, CAST(pf AS BIGINT) AS p_full_ppm,
       |  CAST(pr AS BIGINT) AS p_removed_ppm, CAST(eff AS BIGINT) AS effect_ppm,
       |  CASE WHEN te > 0 THEN CAST(eff * 1000000 // te AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS share_ppm
       |FROM eff CROSS JOIN te""".stripMargin
  }

  /** Entropy twin of [[graft.operators.Sketches.entropy]]: per-class
    * e4-rounded log terms, integer weighted sum, truncating ratios.
    */
  def qEntropy: String =
    s"""WITH per AS (SELECT source AS grp, lang AS c,
       |    CAST(count(*) AS BIGINT) AS n_c FROM documents GROUP BY 1, 2),
       |w AS (SELECT grp, c, n_c,
       |    CAST(sum(n_c) OVER (PARTITION BY grp) AS BIGINT) AS n FROM per),
       |a AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_classes,
       |    CAST(max(n) AS BIGINT) AS n,
       |    CAST(sum(n_c * CAST(round(ln(CAST(n AS DOUBLE) / CAST(n_c AS DOUBLE))
       |      * 1e4, 0) AS BIGINT)) AS BIGINT) AS h_num
       |  FROM w GROUP BY 1)
       |SELECT grp, n, n_classes, CAST(h_num // n AS BIGINT) AS entropy_e4,
       |  CASE WHEN n_classes > 1 THEN CAST((h_num // n) * 1000000
       |    // CAST(round(ln(CAST(n_classes AS DOUBLE)) * 1e4, 0) AS BIGINT) AS BIGINT)
       |  ELSE 0 END AS evenness_ppm
       |FROM a""".stripMargin

  /** Per-user behavioral-entropy twin: qEntropy's integerization over
    * (user, event_type).
    */
  def eventsUserEntropy: String =
    s"""WITH per AS (SELECT user_id AS grp, event_type AS c,
       |    CAST(count(*) AS BIGINT) AS n_c FROM events GROUP BY 1, 2),
       |w AS (SELECT grp, c, n_c,
       |    CAST(sum(n_c) OVER (PARTITION BY grp) AS BIGINT) AS n FROM per),
       |a AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_classes,
       |    CAST(max(n) AS BIGINT) AS n,
       |    CAST(sum(n_c * CAST(round(ln(CAST(n AS DOUBLE) / CAST(n_c AS DOUBLE))
       |      * 1e4, 0) AS BIGINT)) AS BIGINT) AS h_num
       |  FROM w GROUP BY 1)
       |SELECT grp, n, n_classes, CAST(h_num // n AS BIGINT) AS entropy_e4,
       |  CASE WHEN n_classes > 1 THEN CAST((h_num // n) * 1000000
       |    // CAST(round(ln(CAST(n_classes AS DOUBLE)) * 1e4, 0) AS BIGINT) AS BIGINT)
       |  ELSE 0 END AS evenness_ppm
       |FROM a""".stripMargin

  /** SRM twin of [[graft.operators.Experiment.srmGate]]. */
  def qSrm: String =
    s"""WITH u AS (SELECT DISTINCT user_id FROM events),
       |a AS (SELECT
       |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM u)
       |SELECT n_a, n_b,
       |  CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 10000
       |    // (n_a + n_b) AS BIGINT) AS chi2_e4,
       |  (CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 10000
       |    // (n_a + n_b) AS BIGINT) > 38415) AS srm_flag
       |FROM a""".stripMargin

  /** Novelty twin of [[graft.operators.TextOps.noveltyPerDoc]]: the
    * heapsLaw first-occurrence trick at per-doc grain.
    */
  def textNovelty: String =
    s"""WITH $toksCte,
       |${shingCteFor(2)},
       |dsh AS (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM shing),
       |f AS (SELECT g, min(doc_id) AS fd FROM dsh GROUP BY 1)
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN f.fd = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST(sum(CASE WHEN f.fd = d.doc_id THEN 1 ELSE 0 END) * 1000000
       |    // count(*) AS BIGINT) AS novelty_ppm
       |FROM dsh d JOIN f ON f.g = d.g GROUP BY 1""".stripMargin

  /** Heaps-law twin of [[graft.operators.TextOps.heapsLaw]]: the same
    * first-document trick — vocab(cut) = #terms whose min doc ≤ cut.
    */
  def textHeaps: String = {
    val pcts = HeapsCutPcts.mkString(", ")
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(ts) AS term FROM toks),
       |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM tok GROUP BY 1),
       |fdoc AS (SELECT term, min(doc_id) AS fd FROM tok GROUP BY 1),
       |mx AS (SELECT max(doc_id) AS max_id FROM documents),
       |cuts AS (SELECT CAST(p AS BIGINT) AS cut_pct,
       |    CAST(max_id * p // 100 AS BIGINT) AS cut_doc
       |  FROM mx CROSS JOIN (SELECT unnest([$pcts]) AS p)),
       |ta AS (SELECT cut_pct, cut_doc, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM cuts JOIN pd ON doc_id <= cut_doc GROUP BY 1, 2),
       |va AS (SELECT cut_pct, cut_doc, CAST(count(*) AS BIGINT) AS n_vocab
       |  FROM cuts JOIN fdoc ON fd <= cut_doc GROUP BY 1, 2)
       |SELECT ta.cut_pct, ta.cut_doc, n_tokens, n_vocab
       |FROM ta JOIN va ON ta.cut_pct = va.cut_pct AND ta.cut_doc = va.cut_doc""".stripMargin
  }

  /** Zipf-fit twin of [[graft.operators.TextOps.zipfFit]]: per-rank
    * rounded integer lns, exact OLS moments, HUGEINT truncating ratios
    * (trunc-toward-zero parity with Spark's DECIMAL `div`).
    */
  def textZipf: String =
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(ts) AS term FROM toks),
       |fr AS (SELECT term AS w, CAST(count(*) AS BIGINT) AS f FROM tok
       |  GROUP BY 1 ORDER BY f DESC, w ASC LIMIT $ZipfTopN),
       |rk AS (SELECT f, CAST(row_number() OVER (ORDER BY f DESC, w ASC) AS BIGINT) AS rnk
       |  FROM fr),
       |xy AS (SELECT
       |    CAST(round(ln(CAST(rnk AS DOUBLE)) * 1e4, 0) AS BIGINT) AS x,
       |    CAST(round(ln(CAST(f AS DOUBLE)) * 1e4, 0) AS BIGINT) AS y
       |  FROM rk),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x*x) AS BIGINT) AS sxx,
       |    CAST(sum(x*y) AS BIGINT) AS sxy FROM xy)
       |SELECT n AS n_terms,
       |  CAST(CAST(n*sxy - sx*sy AS HUGEINT) * 1000000
       |    // CAST(n*sxx - sx*sx AS HUGEINT) AS BIGINT) AS slope_e6,
       |  CAST((CAST(sy AS HUGEINT) * 1000000 -
       |    CAST(n*sxy - sx*sy AS HUGEINT) * 1000000
       |    // CAST(n*sxx - sx*sx AS HUGEINT) * sx) // (n * 1000000) AS BIGINT)
       |    AS intercept_e4
       |FROM m""".stripMargin

  /** Harmonic-centrality twin of
    * [[graft.operators.Bfs.harmonicCentrality]]: the qBfsReach
    * round-unrolled level BFS, generalized to (seed, node) keyed
    * state; zero-reach seeds emit explicit 0 rows.
    */
  /** Shared per-seed BFS CTE chain over the trading graph — ends in
    * `v$BfsHops(seed, node, dist)`; consumed by [[qHarmonic]] and
    * [[qEccentricity]].
    */
  private def perSeedBfsCtes: String = {
    val rounds = (1 to BfsHops).map { h =>
      s"""n$h AS MATERIALIZED (SELECT seed, node, CAST($h AS BIGINT) AS dist FROM (
         |  SELECT DISTINCT f.seed, e.dst AS node
         |  FROM f${h - 1} f JOIN edges e ON e.src = f.node) x
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} v
         |    WHERE v.seed = x.seed AND v.node = x.node)),
         |v$h AS MATERIALIZED (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM n$h),
         |f$h AS MATERIALIZED (SELECT seed, node FROM n$h)""".stripMargin
    }.mkString(",\n")
    s"""pairs AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey AS sk, o_custkey + $PrCustOffset AS ck
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS MATERIALIZED (SELECT sk AS src, ck AS dst FROM pairs
       |          UNION ALL SELECT ck, sk FROM pairs),
       |v0 AS MATERIALIZED (
       |  SELECT CAST(s_suppkey AS BIGINT) AS seed, CAST(s_suppkey AS BIGINT) AS node,
       |    CAST(0 AS BIGINT) AS dist
       |  FROM supplier WHERE s_suppkey % $HarmonicSeedMod = 0),
       |f0 AS (SELECT seed, node FROM v0),
       |$rounds""".stripMargin
  }

  def qHarmonic: String =
    s"""WITH $perSeedBfsCtes,
       |reached AS (SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
       |    CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_e6
       |  FROM v$BfsHops WHERE dist > 0 GROUP BY 1)
       |SELECT s.seed, COALESCE(n_reached, 0) AS n_reached,
       |  COALESCE(harmonic_e6, 0) AS harmonic_e6
       |FROM (SELECT CAST(s_suppkey AS BIGINT) AS seed FROM supplier
       |  WHERE s_suppkey % $HarmonicSeedMod = 0) s
       |LEFT JOIN reached ON s.seed = reached.seed""".stripMargin

  /** Eccentricity twin: same BFS chain, per-seed max hop + reach. */
  def qEccentricity: String =
    s"""WITH $perSeedBfsCtes
       |SELECT seed, CAST(max(dist) AS BIGINT) AS ecc_capped,
       |  CAST(sum(CASE WHEN dist > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reached
       |FROM v$BfsHops GROUP BY 1""".stripMargin

  /** Burstiness twin: same tf table, (cf desc, term) top-N cut. */
  def textBurstiness: String =
    s"""WITH $toksCte,
       |tf AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks) GROUP BY 1, 2),
       |agg AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
       |    CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       |top AS (SELECT * FROM agg ORDER BY cf DESC, term LIMIT ${TopNPerGroup * 4})
       |SELECT term, df, cf, CAST(cf * 1000000 // df AS BIGINT) AS burst_ppm
       |FROM top""".stripMargin

  /** Balanced-downsample twin: same salted-hash per-class rank, same
    * minority-size cut.
    */
  def sampleBalance: String = {
    val h = hex8Expr("('" + EpochSalt + ":' || CAST(doc_id AS VARCHAR))")
    s"""WITH k AS (SELECT CAST(min(n) AS BIGINT) AS k FROM (
       |    SELECT lang, count(*) AS n FROM documents GROUP BY 1)),
       |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
       |    ORDER BY CAST($h AS BIGINT), doc_id) AS rk FROM documents)
       |SELECT doc_id, lang FROM r CROSS JOIN k WHERE rk <= k""".stripMargin
  }

  /** WOE/IV twin of [[graft.operators.Quality.woeIv]]: same exact int64
    * counts, same single-double ln() argument (exact products < 2⁵³),
    * same truncating ppm divisions.
    */
  def qWoeIv: String = {
    val woe = "CAST(floor(ln((CAST(n_good AS DOUBLE) * " +
      "CAST(b_tot AS DOUBLE)) / (CAST(n_bad AS DOUBLE) * " +
      "CAST(g_tot AS DOUBLE))) * 1e4) AS BIGINT)"
    s"""WITH per AS (SELECT o_orderpriority AS grp,
       |    CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
       |  FROM orders GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_good) AS BIGINT) AS g_tot,
       |    CAST(sum(n_bad) AS BIGINT) AS b_tot FROM per),
       |r AS (SELECT grp, n_good, n_bad,
       |    CASE WHEN n_good = 0 OR n_bad = 0 THEN NULL ELSE $woe END AS woe_e4,
       |    CASE WHEN n_good = 0 OR n_bad = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST((n_good * 1000000 // g_tot - n_bad * 1000000 // b_tot)
       |        * $woe AS BIGINT) END AS contrib_e10
       |  FROM per CROSS JOIN tot)
       |SELECT grp, n_good, n_bad, woe_e4, contrib_e10 FROM r
       |UNION ALL
       |SELECT '__iv__', g_tot, b_tot, NULL,
       |  (SELECT CAST(sum(contrib_e10) AS BIGINT) FROM r) FROM tot""".stripMargin
  }

  /** Calibration twin of [[graft.operators.Quality.calibration]]: the
    * score is floor(10×discount·10⁶) — ONE double product of the stored
    * double, floored, so both engines bin identical int64s.
    */
  def qCalibration: String =
    s"""WITH base AS (SELECT CAST(floor(l_discount * 10000000.0) AS BIGINT) AS p,
       |    (l_returnflag = 'R') AS y FROM lineitem),
       |per AS (SELECT CAST(least(${CalibBins - 1}, p * $CalibBins // 1000000) AS BIGINT) AS bin,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    CAST(sum(p) AS BIGINT) AS sp
       |  FROM base GROUP BY 1),
       |r AS (SELECT bin, n, n_pos, CAST(sp // n AS BIGINT) AS avg_score_ppm,
       |    CAST(n_pos * 1000000 // n AS BIGINT) AS pos_ppm,
       |    CAST(sp // n - n_pos * 1000000 // n AS BIGINT) AS gap_ppm FROM per)
       |SELECT bin, n, n_pos, avg_score_ppm, pos_ppm, gap_ppm FROM r
       |UNION ALL
       |SELECT -1, CAST(sum(n) AS BIGINT), CAST(sum(n_pos) AS BIGINT), NULL, NULL,
       |  CAST(sum(n * abs(gap_ppm)) // sum(n) AS BIGINT) FROM r""".stripMargin

  /** Readability twin of the `text_readability` query: same whitespace
    * tokens, same max(1, vowel-chars) syllable proxy, same `[.!?]+`
    * sentence runs, same truncating integer Flesch formula.
    */
  def textReadability: String =
    s"""WITH $toksCte,
       |per AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_sum(list_transform(ts, w ->
       |      greatest(CAST(1 AS BIGINT), CAST(length(w) -
       |        length(regexp_replace(lower(w), '[aeiouy]', '', 'g')) AS BIGINT)))), 0)
       |      AS BIGINT) AS n_syllables
       |  FROM toks),
       |sent AS (SELECT doc_id, greatest(CAST(1 AS BIGINT),
       |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences
       |  FROM documents)
       |SELECT p.doc_id, n_words, n_sentences, n_syllables,
       |  CASE WHEN n_words = 0 THEN NULL
       |    ELSE 206835 - (1015 * n_words) // n_sentences
       |      - (84600 * n_syllables) // n_words END AS flesch_e3
       |FROM per p JOIN sent s ON p.doc_id = s.doc_id""".stripMargin

  /** Encoding-audit twin of [[graft.operators.TextOps.encodingAudit]]
    * with the same deterministic corruption applied inline (chr(65533)
    * = U+FFFD, chr(7) = BEL — spelled via chr() so the SQL text itself
    * stays 7-bit clean).
    */
  def textEncodingAudit: String =
    s"""WITH c AS (SELECT source,
       |    text || (CASE WHEN doc_id % $EncReplMod = 0 THEN chr(65533) ELSE '' END)
       |         || (CASE WHEN doc_id % $EncCtrlMod = 0 THEN chr(7) ELSE '' END) AS t
       |  FROM documents),
       |per AS (SELECT source,
       |    CAST(length(t) - length(replace(t, chr(65533), '')) AS BIGINT) AS r,
       |    CAST(length(t) - length(regexp_replace(t,
       |      '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')) AS BIGINT) AS k
       |  FROM c)
       |SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN r > 0 OR k > 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_docs,
       |  CAST(sum(r) AS BIGINT) AS n_repl, CAST(sum(k) AS BIGINT) AS n_ctrl,
       |  CAST((count(*) - sum(CASE WHEN r > 0 OR k > 0 THEN 1 ELSE 0 END))
       |    * 1000000 // count(*) AS BIGINT) AS clean_ppm
       |FROM per GROUP BY 1""".stripMargin

  /** Twin for the binary-file ingestion query: DuckDB independently
    * lists and measures the very PNG tree the query staged (read_blob
    * over the same glob; `__GRAFT_BINSRC__` is resolved to the run's
    * root by [[graft.Verify]]), cross-checking the binaryFile source's
    * path parse and length metadata byte-for-byte, and the decoded
    * dimensions against the generator's (id-derived) spec dims.
    */
  def srcBinaryfileIngest: String =
    """WITH f AS (
      |  SELECT CAST(regexp_extract(filename, 'media_(\d+)\.png$', 1) AS BIGINT) AS media_id,
      |         CAST(octet_length(content) AS BIGINT) AS n_bytes
      |  FROM read_blob('__GRAFT_BINSRC__/media_*.png'))
      |SELECT media_id, n_bytes, media_id % 12 + 4 AS width,
      |  media_id % 9 + 3 AS height FROM f""".stripMargin

  /** Twin for `multimodal_features`: modality re-derived from the id
    * scheme in SQL; byte length and content checksum from the
    * expected-value fixture the query staged
    * ([[graft.multimodal.Multimodal.exportExpectedFeatures]] — computed
    * from the GENERATION arithmetic, never a decoder, so a matching
    * checksum certifies the query's real encode→decode roundtrip).
    */
  def multimodalFeatures: String =
    """SELECT d.doc_id AS media_id,
      |  CASE WHEN d.doc_id % 3 = 0 THEN 'image'
      |       WHEN d.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |  f.n_bytes, f.checksum
      |FROM documents d
      |JOIN read_parquet('__GRAFT_EXPFEAT__/*.parquet') f
      |  ON f.media_id = d.doc_id""".stripMargin

  /** Twin for `multimodal_resize`: the expected-resize fixture carries
    * the floor-NN rescale's pixel crc computed from raster arithmetic
    * alone ([[graft.multimodal.Multimodal.exportExpectedResize]]); the
    * target dims are the shared Params constants.
    */
  /** PNG codec twin: the generation-side raster fixture IS the
    * expectation (dims + pixel crc, computed without ImageIO) plus a
    * literal TRUE decoded flag — the Spark side computes the flag from
    * the real decode, so a silent fallback hash-fails.
    */
  def multimodalPngCodec: String =
    """SELECT media_id, width, height, pix_crc, true AS decoded
      |FROM read_parquet('__GRAFT_EXPPNG__/*.parquet')""".stripMargin

  /** WAV codec twin: the synth-parameter fixture (rate, sample count,
    * sample crc — no javax.sound) plus the asserted decoded flag.
    */
  def multimodalWavCodec: String =
    """SELECT media_id, sample_rate, n_samples, pcm_crc, true AS decoded
      |FROM read_parquet('__GRAFT_EXPWAV__/*.parquet')""".stripMargin

  def multimodalResize: String =
    s"""SELECT media_id, CAST(${Params.ResizeTargetW} AS BIGINT) AS width,
       |  CAST(${Params.ResizeTargetH} AS BIGINT) AS height, pix_crc
       |FROM read_parquet('__GRAFT_EXPRESIZE__/*.parquet')""".stripMargin

  /** Twin for `multimodal_frame_sample`: the expected-frame fixture
    * carries every strided frame's dims + pixel crc from per-frame
    * raster arithmetic
    * ([[graft.multimodal.Multimodal.exportExpectedFrameSamples]]);
    * `decoded` is ASSERTED true — a payload falling back to the chunking
    * path hash-fails.
    */
  def multimodalFrameSample: String =
    """SELECT media_id, frame_idx, width, height, frame_crc,
      |  true AS decoded
      |FROM read_parquet('__GRAFT_EXPFRAMES__/*.parquet')""".stripMargin

  /** Twin for `multimodal_image_neardup`: re-derives the FULL
    * pigeonhole pair table (4×16-bit block buckets, exact 64-bit
    * hamming via per-half bit_count(xor)) from the expected-signature
    * fixture ([[graft.multimodal.Multimodal.exportExpectedTwinSignatures]]
    * — gray-raster arithmetic, no codec), the same pair algebra as the
    * [[dedupSimhash]] twin. A hash match means the query's PNG
    * decode→aHash produced exactly the independent signatures AND its
    * candidate/verify join kept exactly the right pairs.
    */
  def multimodalImageNeardup: String = multimodalImageNeardupFrom("__GRAFT_EXPAHASH__")

  /** Same twin over the realistic-diversity fixture's signatures. */
  def multimodalImageNeardupDiverse: String =
    multimodalImageNeardupFrom("__GRAFT_EXPAHASHDIV__")

  private def multimodalImageNeardupFrom(fixture: String): String = {
    val blocks = Seq(
      "sim_lo & 65535", "(sim_lo >> 16) & 65535",
      "sim_hi & 65535", "(sim_hi >> 16) & 65535"
    ).zipWithIndex.map { case (bv, k) =>
      s"SELECT media_id, sim_lo, sim_hi, $k AS blk, $bv AS bv FROM s"
    }.mkString(" UNION ALL ")
    s"""WITH s AS (SELECT media_id, sim_lo, sim_hi
       |  FROM read_parquet('$fixture/*.parquet')),
       |blk AS ($blocks)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT DISTINCT a.media_id AS doc_a, b.media_id AS doc_b,
       |    CAST(bit_count(xor(a.sim_lo, b.sim_lo))
       |      + bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT) AS hamming
       |  FROM blk a JOIN blk b
       |    ON a.blk = b.blk AND a.bv = b.bv AND a.media_id < b.media_id)
       |WHERE hamming <= $SimhashMaxDist""".stripMargin
  }

  /** Twin for the CDC chunk census: replays the rolling-hash cut rule
    * over the exported (media_id, i, b) byte rows. The wrapping-64-bit
    * window hash h_i = Σ_{k<W} b_{i−k}·B^k (mod 2⁶⁴) only feeds the
    * test `h mod 2^maskBits = 0`, and 2^maskBits divides 2⁶⁴, so the
    * check reduces EXACTLY to Σ b·(B^k mod 2^maskBits) mod 2^maskBits —
    * plain BIGINT lag arithmetic. Cut placement (the minLen/maxLen
    * staircase: next cut = least(first candidate ≥ start+minLen,
    * start+maxLen, total)) rides a recursive CTE; chunk content is
    * re-keyed per boundary via an ordered hex string_agg. Boundary
    * placement, content keys, and census all independently recomputed.
    */
  def multimodalCdcChunks: String = {
    val B = java.math.BigInteger.valueOf(0x100000001b3L)
    val m64 = java.math.BigInteger.ONE.shiftLeft(64)
    val mask = 1L << CdcMaskBits
    val pows = Iterator.iterate(java.math.BigInteger.ONE)(p => p.multiply(B).mod(m64))
      .take(CdcWindow).map(_.mod(java.math.BigInteger.valueOf(mask)).longValue).toSeq
    val terms = pows.zipWithIndex.map { case (p, k) =>
      s"COALESCE(lag(b,$k) OVER w, 0) * $p" }.mkString(" + ")
    s"""WITH RECURSIVE
       |h AS (
       |  SELECT media_id, i, ($terms) % $mask AS hmod
       |  FROM read_parquet('__GRAFT_CDC_BYTES__/*.parquet')
       |  WINDOW w AS (PARTITION BY media_id ORDER BY i)
       |),
       |n AS (SELECT media_id, max(i)+1 AS total FROM h GROUP BY media_id),
       |cand AS (SELECT media_id, i+1 AS e FROM h WHERE i >= ${CdcWindow - 1} AND hmod = 0),
       |cuts AS (
       |  SELECT media_id, CAST(0 AS BIGINT) AS s FROM n
       |  UNION ALL
       |  SELECT c.media_id, LEAST(
       |      COALESCE((SELECT min(e) FROM cand
       |                WHERE cand.media_id = c.media_id AND cand.e >= c.s + $CdcMinLen),
       |               9223372036854775807),
       |      c.s + $CdcMaxLen,
       |      (SELECT total FROM n WHERE n.media_id = c.media_id))
       |  FROM cuts c
       |  WHERE c.s < (SELECT total FROM n WHERE n.media_id = c.media_id)
       |),
       |chunks AS (
       |  SELECT media_id, s AS off,
       |    lead(s) OVER (PARTITION BY media_id ORDER BY s) - s AS len
       |  FROM cuts QUALIFY len IS NOT NULL
       |),
       |hx AS (
       |  SELECT c.media_id, c.off, c.len,
       |    string_agg(printf('%02x', b.b), '' ORDER BY b.i) AS chunk_hex
       |  FROM chunks c JOIN read_parquet('__GRAFT_CDC_BYTES__/*.parquet') b
       |    ON b.media_id = c.media_id AND b.i >= c.off AND b.i < c.off + c.len
       |  GROUP BY c.media_id, c.off, c.len
       |)
       |SELECT chunk_hex, count(*) AS n_copies,
       |  count(DISTINCT media_id) AS n_media, max(len) AS chunk_bytes
       |FROM hx GROUP BY chunk_hex""".stripMargin
  }

  // ---- literal twins of the ETL, dedup and streaming queries ----

  def srcJsonlRoundtrip: String =
    "SELECT doc_id, text, n_chars FROM documents"

  def sinkCompact: String =
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY event_type"

  // the estimate is certified, not reproduced: the twin asserts the
  // within-band flag TRUE next to the exact distinct, so HLL drift
  // past the documented bound is a loud hash FAIL
  def qApproxDistinct: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yearkey,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust_exact,
      |  TRUE AS est_within_band
      |FROM orders GROUP BY 1""".stripMargin

  def dedupExact: String =
    "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY md5(text)"

  def dedupSourceStats: String =
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique, CAST(1000000 * (count(*) - count(DISTINCT md5(text))) // count(*) AS BIGINT) AS dup_ppm FROM documents GROUP BY source"

  def streamIdempotentSinkReplay: String =
    """SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
      |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events""".stripMargin

  def streamEnrichReplay: String =
    """SELECT event_id, user_id,
      |  CASE WHEN event_type <> 'error' THEN 'cat_' || event_type END AS category
      |FROM events""".stripMargin

  def streamTopkReplay: String =
    s"""SELECT event_type, rnk, event_id, cents FROM (
       |  SELECT event_type, event_id,
       |    CAST(floor(value * 100) AS BIGINT) AS cents,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY value DESC, event_id) AS BIGINT) AS rnk
       |  FROM events) WHERE rnk <= ${Params.TopNPerGroup}""".stripMargin

  def eventsJsonParse: String =
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events"
}
