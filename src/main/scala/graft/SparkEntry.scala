package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions.col

import graft.queries.{Analytics, BehaviorOps, CoreOps, CurationOps, FactOps, GeoOps, GraphOps, MaintenanceOps, OlapOps, PrivacyOps, ProfileOps, ScaleOps, StatsOps, TextOps, VectorOps}

/** Driver contract (SURVEY.md §7).
  *
  * [[SparkEntry.registry]] declares every entry once: one operator family
  * from SURVEY.md §2, re-expressed Spark-first over the driver testdata,
  * paired with the equivalent ANSI SQL the driver runs in DuckDB over the
  * same parquet files; `queries` and `oracleSql` are name-keyed views of it.
  * Column names and types are aligned on both sides (counts→BIGINT,
  * year/month/row_number→INT, monetary sums→exact DECIMAL accumulation cast
  * to DOUBLE) so the driver's sorted-column value hash matches exactly.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's most complex query shape (olap_queries.sql:38-69):
    * CTE → COUNT(DISTINCT) → window argmax → top-k.
    */
  def entry(spark: SparkSession): DataFrame =
    Analytics.topMonthlyUniqueLocations(spark, "/root/testdata/sf0.001")

  /** One registry row: the Spark builder over `(spark, sfDir)` and its
    * DuckDB oracle SQL. */
  final case class Entry(name: String,
      run: (SparkSession, String) => DataFrame, oracleSql: String)

  /** Entry name → Spark builder, derived once from [[registry]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(e => e.name -> e.run).toMap

  /** Entry name → DuckDB oracle SQL, derived once from [[registry]]. */
  lazy val oracleSql: Map[String, String] =
    registry.map(e => e.name -> e.oracleSql).toMap

  /** The registry's guard against a repeated name, which a `Map(...)`
    * literal would silently resolve to its last binding. */
  private[graft] def distinctNames(entries: Seq[Entry]): Seq[Entry] = {
    val dups = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate SparkEntry names: ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }

  private val revenueSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)"

  /** DuckDB spelling of TextOps.h32: first 8 hex digits of md5 as BIGINT. */
  private def h32Sql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 8)) AS BIGINT)"

  /** The winnowing-selection CTE chain shared by q_winnow and
    * q_plagiarism_pairs — ends at `s` = one DISTINCT (doc_id, n_grams,
    * fp_hash, fp_pos) row per selected fingerprint (TextOps.winnowSel). */
  private lazy val winnowSelSql: String = {
    import graft.queries.TextOps.{WinnowW, WinnowP}
    val gh = h32Sql("concat_ws(' ', t[i+1], t[i+2], t[i+3])")
    s"""d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      |  FROM documents),
      |g AS (SELECT doc_id, unnest(list_transform(range(0, len(t) - 2),
      |    i -> struct_pack(pos := i, gh := $gh))) AS p
      |  FROM d WHERE len(t) >= 3),
      |f AS (SELECT doc_id, p.pos AS pos, p.gh AS gh FROM g),
      |w AS (SELECT doc_id, pos,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS n_grams,
      |    MIN(gh * $WinnowP + ($WinnowP - 1 - pos)) OVER (PARTITION BY doc_id
      |      ORDER BY pos ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS key
      |  FROM f),
      |s AS (SELECT DISTINCT doc_id, n_grams, key // $WinnowP AS fp_hash,
      |    $WinnowP - 1 - (key % $WinnowP) AS fp_pos
      |  FROM w WHERE pos <= n_grams - $WinnowW AND n_grams < $WinnowP)""".stripMargin
  }

  /** The materialized co-purchase edge-list CTE chain (capped baskets,
    * support threshold — GraphOps.coEdges) shared by the iterative graph
    * oracles; terminal CTE `e0(u, v)`, u < v. */
  private def coEdgeCtes(
      minSupport: Long = graft.queries.GraphOps.TriMinSupport): String = {
    import graft.queries.BehaviorOps.MaxBasketItems
    s"""lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |sized AS MATERIALIZED (SELECT ok FROM lp GROUP BY ok
      |  HAVING COUNT(*) BETWEEN 2 AND $MaxBasketItems),
      |items AS MATERIALIZED (SELECT lp.ok, lp.pk FROM lp JOIN sized USING (ok)),
      |e0 AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport)""".stripMargin
  }

  /** One parity-alternating WEIGHTED Louvain move phase, unrolled
    * (GraphOps.louvainMovePhase): `iters` rounds of tot/k_ic/cand/score/
    * argmax CTEs prefixed `p`, over symmetric weighted adjacency
    * `sym(src, dst, w)` and node weights `deg(node, deg)`, seeded from
    * `${p}0`. Shared by q_louvain (unit weights) and q_louvain2 (both
    * levels), so the two engines' move dynamics cannot drift. */
  private def louvainMoveRoundsSql(iters: Int, p: String, sym: String,
      deg: String, parityExpr: String = "s.node % 2"): String =
    (1 to iters).map { k =>
      val prev = s"$p${k - 1}"
      s"""${p}tot$k AS (SELECT comm, CAST(SUM(deg) AS BIGINT) AS tot
        |  FROM $prev JOIN $deg USING (node) GROUP BY 1),
        |${p}kic$k AS (SELECT e.src AS node, l.comm, CAST(SUM(e.w) AS BIGINT) AS k_ic
        |  FROM $sym e JOIN $prev l ON e.dst = l.node GROUP BY 1, 2),
        |${p}cand$k AS (SELECT node, comm, CAST(SUM(k_ic) AS BIGINT) AS k_ic FROM
        |  (SELECT node, comm, k_ic FROM ${p}kic$k
        |   UNION ALL SELECT node, comm, 0 FROM $prev) GROUP BY 1, 2),
        |${p}sc$k AS (SELECT c.node, c.comm, l.comm AS cur,
        |    CAST(c.k_ic AS HUGEINT) * 2 * m
        |      - CAST(d.deg AS HUGEINT) * (t.tot -
        |          CASE WHEN c.comm = l.comm THEN d.deg ELSE 0 END) AS score
        |  FROM ${p}cand$k c JOIN $prev l ON c.node = l.node
        |  JOIN $deg d ON c.node = d.node
        |  JOIN ${p}tot$k t ON c.comm = t.comm CROSS JOIN mm),
        |${p}b$k AS (SELECT node, MAX(score) AS best_s FROM ${p}sc$k GROUP BY 1),
        |$p$k AS MATERIALIZED (SELECT s.node,
        |    CASE WHEN $parityExpr = ${k % 2} THEN MIN(s.comm)
        |         ELSE MIN(s.cur) END AS comm
        |  FROM ${p}sc$k s JOIN ${p}b$k b ON s.node = b.node AND s.score = b.best_s
        |  GROUP BY s.node)""".stripMargin
    }.mkString(",\n")

  /** The level-1 Louvain CTE chain shared by q_louvain and q_louvain2:
    * coEdges, unit-weight symmetric adjacency, degrees, edge mass, and
    * LouvainIters unrolled move rounds ending at `l$LouvainIters`. */
  private lazy val louvainL1Ctes: String = {
    import graft.queries.GraphOps.LouvainIters
    s"""${coEdgeCtes()},
      |sym AS MATERIALIZED (SELECT u AS src, v AS dst, 1 AS w FROM e0
      |  UNION ALL SELECT v AS src, u AS dst, 1 AS w FROM e0),
      |deg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |  (SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0) GROUP BY 1),
      |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
      |l0 AS (SELECT node, node AS comm FROM deg),
      |${louvainMoveRoundsSql(LouvainIters, "l", "sym", "deg")}""".stripMargin
  }

  /** The item-item CF CTE chain (capped baskets → co-counts → quantized
    * cosine → rank) shared by q_item_cf and q_cf_eval; terminal CTE
    * `r(item, cf_rank, nbr, n_co, cos_q)`. `where` filters the lineitem
    * scan (the train-split hook). */
  private def itemCfCtes(where: String = ""): String = {
    import graft.queries.BehaviorOps.{CfScale, CfTopItems, MaxBasketItems}
    s"""lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem $where),
      |sized AS (SELECT ok FROM lp GROUP BY ok
      |  HAVING COUNT(*) BETWEEN 2 AND $MaxBasketItems),
      |items AS (SELECT lp.ok, lp.pk FROM lp JOIN sized USING (ok)),
      |ic AS (SELECT pk, COUNT(*) AS n_item FROM items GROUP BY pk),
      |co AS (SELECT a.pk AS pk_a, b.pk AS pk_b, COUNT(*) AS n_co
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
      |sym AS (SELECT pk_a AS item, pk_b AS nbr, n_co FROM co
      |  UNION ALL SELECT pk_b AS item, pk_a AS nbr, n_co FROM co),
      |top AS (SELECT pk AS item FROM ic ORDER BY n_item DESC, pk LIMIT $CfTopItems),
      |scored AS (SELECT item, nbr, n_co,
      |    CAST(floor(CAST(n_co * $CfScale AS DOUBLE)
      |      / sqrt(CAST(i.n_item * n.n_item AS DOUBLE)) + 0.5) AS BIGINT) AS cos_q
      |  FROM sym
      |  JOIN top USING (item)
      |  JOIN ic i ON i.pk = item
      |  JOIN ic n ON n.pk = nbr),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY item
      |    ORDER BY cos_q DESC, n_co DESC, nbr) AS INT) AS cf_rank FROM scored)""".stripMargin
  }

  /** The BPE merge-learning CTE chain shared by q_bpe_train and
    * q_bpe_fertility (TextOps.bpeTrainMerges): corpus vocabulary,
    * leading-delimiter encode, and BpeIters (pair-count → winner m$i →
    * greedy-replace v$i) rounds, all MATERIALIZED. */
  private lazy val bpeChainSql: String = {
    import graft.queries.TextOps.BpeIters
    val rounds = (1 to BpeIters).map { i =>
      s"""p$i AS MATERIALIZED (SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, unnest(list_transform(range(1, len(tk)),
        |      x -> struct_pack(l := tk[x], r := tk[x+1]))) AS p
        |    FROM (SELECT string_split(repr[2:], '|') AS tk, freq FROM v${i - 1})
        |    WHERE len(tk) >= 2)
        |  GROUP BY 1, 2),
        |m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
        |v$i AS MATERIALIZED (SELECT replace(repr,
        |    '|' || (SELECT l FROM m$i) || '|' || (SELECT r FROM m$i),
        |    '|' || (SELECT l FROM m$i) || (SELECT r FROM m$i)) AS repr, freq FROM v${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""u AS MATERIALIZED (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents),
      |vocab AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM u
      |  WHERE w NOT LIKE '%|%' GROUP BY w),
      |v0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '|\\1', 'g') AS repr, freq FROM vocab),
      |$rounds""".stripMargin
  }

  /** Probe-LUT + summed asymmetric-distance CTEs shared by q_pq_ann and
    * q_ivf_pq: per subspace, each probe's exact distance to every trained
    * codeword (l_$m), joined onto the encoded corpus (t_$m), summed to
    * `adc(probe_id, vec_id, adc_dist)`. Requires pqChainSql upstream. */
  private lazy val pqAdcCtes: String = {
    import graft.queries.VectorOps.{PqM, PqProbes}
    val luts = (0 until PqM).map { m =>
      s"""l_$m AS MATERIALIZED (SELECT p.vec_id AS probe_id, c.cid,
        |    ${pqDistSql("p.sv", "c.c")} AS d
        |  FROM (SELECT vec_id, sv FROM s$m WHERE vec_id < $PqProbes) p
        |  CROSS JOIN c1_$m c),
        |t_$m AS MATERIALIZED (SELECT l.probe_id, e.vec_id, l.d
        |  FROM a2_$m e JOIN l_$m l ON e.cid = l.cid)""".stripMargin
    }.mkString(",\n")
    val union = (0 until PqM).map(m => s"SELECT * FROM t_$m").mkString(" UNION ALL ")
    s"""$luts,
      |adc AS (SELECT probe_id, vec_id, CAST(SUM(d) AS BIGINT) AS adc_dist
      |  FROM ($union) GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB exact integer squared distance between two BIGINT lists. */
  private def pqDistSql(sv: String, c: String): String =
    s"list_reduce(list_transform(range(1, ${graft.queries.VectorOps.PqSubDim + 1}), " +
      s"i -> ($sv[i]-$c[i])*($sv[i]-$c[i])), (a,b) -> a+b)"

  /** The PQ codebook-training CTE chain shared by q_pq_quant and
    * q_pq_ann (VectorOps.pqCodebooks): quantized vectors `q`, per-
    * subspace slices s$m, seed/assign/update rounds, trained codebooks
    * c1_$m, and the final assignment a2_$m (vec_id, cid, dist). */
  private lazy val pqChainSql: String = {
    import graft.queries.VectorOps.{PqM, PqSubDim, PqK}
    val chains = (0 until PqM).map { m =>
      val lo = m * PqSubDim
      s"""s$m AS MATERIALIZED (SELECT vec_id, v[${lo + 1}:${lo + PqSubDim}] AS sv FROM q),
        |c0_$m AS MATERIALIZED (SELECT vec_id AS cid, sv AS c FROM s$m WHERE vec_id < $PqK),
        |d1_$m AS MATERIALIZED (SELECT s.vec_id, s.sv, c.cid,
        |    ${pqDistSql("s.sv", "c.c")} AS dist
        |  FROM s$m s CROSS JOIN c0_$m c),
        |a1_$m AS MATERIALIZED (SELECT vec_id, sv, cid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |    FROM d1_$m) WHERE rn = 1),
        |m1_$m AS MATERIALIZED (
        |  SELECT cid, i, CAST(floor(CAST(SUM(sv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
        |  FROM a1_$m CROSS JOIN (SELECT unnest(range(1, ${PqSubDim + 1})) AS i) t
        |  GROUP BY cid, i),
        |c1_$m AS MATERIALIZED (SELECT cid, list(cm ORDER BY i) AS c FROM m1_$m GROUP BY cid),
        |d2_$m AS MATERIALIZED (SELECT s.vec_id, c.cid,
        |    ${pqDistSql("s.sv", "c.c")} AS dist
        |  FROM s$m s CROSS JOIN c1_$m c),
        |a2_$m AS MATERIALIZED (SELECT vec_id, cid, dist FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |    FROM d2_$m) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""q AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      |  FROM embeddings),
      |$chains""".stripMargin
  }

  /** The golden-record match chain (drop-one subset keys → candidate
    * edges → recursive-walk components → labeled names), ending at
    * `lab(name, m, comp)` with `nm(name, m)` upstream — shared by
    * q_golden_record and q_entity_verify. */
  private lazy val goldenLabSql: String =
    """nm AS (SELECT lower(p_name) AS name, COUNT(*) AS m
      |  FROM part GROUP BY 1),
      |w AS (SELECT name, m, list_sort(string_split(name, ' ')) AS ws FROM nm),
      |k AS (SELECT name, unnest(list_transform(range(0, len(ws)),
      |    i -> list_aggregate(list_concat(ws[1:i], ws[i+2:len(ws)]),
      |      'string_agg', ' '))) AS key
      |  FROM w WHERE len(ws) >= 2),
      |e AS (SELECT DISTINCT a.name AS n_a, b.name AS n_b
      |  FROM k a JOIN k b ON a.key = b.key AND a.name < b.name),
      |sym AS (SELECT n_a AS src, n_b AS dst FROM e
      |  UNION ALL SELECT n_b AS src, n_a AS dst FROM e),
      |nodes AS (SELECT DISTINCT src AS id FROM sym),
      |walk AS (
      |  WITH RECURSIVE wr(id, reach) AS (
      |    SELECT id, id FROM nodes
      |    UNION
      |    SELECT w.id, s.dst FROM wr w JOIN sym s ON s.src = w.reach)
      |  SELECT * FROM wr),
      |comp AS MATERIALIZED (SELECT id, MIN(reach) AS comp FROM walk GROUP BY 1),
      |lab AS (SELECT nm.name, nm.m, COALESCE(c.comp, nm.name) AS comp
      |  FROM nm LEFT JOIN comp c ON nm.name = c.id)""".stripMargin

  /** The PCA power-iteration chain shared by q_pca_power and
    * q_pca_project: quantized vectors `q(vec_id, label, v)`, exact-integer
    * centered Gram `ct`/`tr`, the 64×64 nested-list matrix `mat`, and the
    * 24 unrolled L∞-normalized matvec rounds, ending at
    * `sc(v, num, den)` (the final iterate and its Rayleigh terms). */
  private lazy val pcaCoreSql: String = {
    import graft.queries.VectorOps.{PcaDim, PcaRounds, PcaScale}
    val dp1 = PcaDim + 1
    def round(i: Int): String =
      s"""it$i AS (SELECT m, list_transform(w, x -> x / mx) AS v FROM (
        |  SELECT m, w, list_aggregate(list_transform(w, x -> abs(x)), 'max') AS mx FROM (
        |    SELECT m, list_transform(range(1, $dp1), j ->
        |      list_reduce(list_transform(range(1, $dp1), k -> m[j][k] * v[k]),
        |        (a, b) -> a + b)) AS w
        |    FROM it${i - 1})))""".stripMargin
    val rounds = (1 to PcaRounds).map(round).mkString(",\n")
    s"""q AS (SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * $PcaScale) AS BIGINT)) AS v
      |  FROM embeddings),
      |nn AS (SELECT COUNT(*) AS n FROM q),
      |el AS (SELECT vec_id, generate_subscripts(v, 1) AS j, unnest(v) AS x FROM q),
      |sums AS (SELECT j, CAST(SUM(x) AS BIGINT) AS sj FROM el GROUP BY j),
      |g AS (SELECT a.j, b.j AS k, CAST(SUM(a.x * b.x) AS BIGINT) AS g
      |  FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.j <= b.j GROUP BY 1, 2),
      |ct AS (SELECT g.j, g.k, nn.n * g.g - sa.sj * sb.sj AS c
      |  FROM g CROSS JOIN nn
      |  JOIN sums sa ON sa.j = g.j JOIN sums sb ON sb.j = g.k),
      |tr AS (SELECT CAST(SUM(c) AS BIGINT) AS tr FROM ct WHERE j = k),
      |fsym AS (SELECT j, k, c FROM ct
      |  UNION ALL SELECT k AS j, j AS k, c FROM ct WHERE j < k),
      |rows_ AS (SELECT j, list(c ORDER BY k) AS r FROM fsym GROUP BY j),
      |mat AS (SELECT list(r ORDER BY j) AS m FROM rows_),
      |it0 AS (SELECT m, list_transform(range(1, $dp1), x -> CAST(1 AS DOUBLE)) AS v
      |  FROM mat),
      |$rounds,
      |fin AS (SELECT m, v, list_transform(range(1, $dp1), j ->
      |    list_reduce(list_transform(range(1, $dp1), k -> m[j][k] * v[k]),
      |      (a, b) -> a + b)) AS w
      |  FROM it$PcaRounds),
      |sc AS (SELECT v,
      |    list_reduce(list_transform(range(1, $dp1), j -> v[j] * w[j]),
      |      (a, b) -> a + b) AS num,
      |    list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS den
      |  FROM fin)""".stripMargin
  }

  /** The SPRT monitor oracle — shared verbatim by q_sprt_monitor (window
    * cumsum plan) and q_sprt_state (the flatMapGroupsWithState fold). */
  private lazy val sprtMonitorSql: String = {
    import graft.queries.BehaviorOps.{SprtBoundArg, SprtP0, SprtP1}
    import graft.queries.StatsOps.LogScale
    def lnq(m: String) =
      s"CAST(floor(ln(CAST($m AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)"
    val (p0n, den) = SprtP0
    val (p1n, _)   = SprtP1
    s"""WITH daily AS (SELECT CAST(user_id % 2 AS INT) AS arm, CAST(ts AS DATE) AS day,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      |c AS (SELECT arm, day, n, x,
      |    SUM(x * (${lnq(p1n.toString)} - ${lnq(p0n.toString)})
      |      + (n - x) * (${lnq((den - p1n).toString)} - ${lnq((den - p0n).toString)}))
      |      OVER (PARTITION BY arm ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM daily)
      |SELECT arm, day, n, x, CAST(cum AS DOUBLE) / $LogScale.0 AS llr,
      |  CASE WHEN cum >= ${lnq(SprtBoundArg.toString)} THEN 'accept_h1'
      |       WHEN cum <= -${lnq(SprtBoundArg.toString)} THEN 'accept_h0'
      |       ELSE 'continue' END AS decision
      |FROM c ORDER BY arm, day""".stripMargin
  }

  /** The q_ewma list_reduce fold — shared verbatim by q_ewma (the
    * collect_list HOF fold) and q_ewma_state (the mapGroupsWithState
    * fold): same seed, same left-to-right IEEE chain, bit-identical. */
  private lazy val ewmaSql: String = {
    import graft.queries.BehaviorOps.EwmaAlpha
    s"""WITH e AS (
      |  SELECT user_id, ts, event_id, value FROM events WHERE value IS NOT NULL),
      |l AS (SELECT user_id, COUNT(*) AS n,
      |    list(value ORDER BY ts, event_id) AS vals
      |  FROM e GROUP BY user_id)
      |SELECT user_id, n,
      |  list_reduce(vals, (acc, x) ->
      |    CAST($EwmaAlpha AS DOUBLE) * x + CAST(${1.0 - EwmaAlpha} AS DOUBLE) * acc) AS ewma
      |FROM l ORDER BY user_id""".stripMargin
  }

  /** DuckDB 12-signature MinHash battery over a BIGINT list column `th`,
    * generated from the same (a, b, P) constants as the Spark side. */
  private val minhashSigSql: String =
    (0 until 12).map { i =>
      s"list_min(list_transform(th, x -> (x*${TextOps.MinhashA(i)}+${TextOps.MinhashB(i)}) % ${TextOps.MinhashP})) AS sig$i"
    }.mkString(",\n    ")

  /** DuckDB left-fold double dot product over two list columns — mirrors the
    * Spark aggregate(zip_with(...)) accumulation order bitwise. */
  private def dotSql(a: String, b: String, n: String): String =
    s"list_reduce(list_transform(range(1, $n + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** Zero-norm vectors null out via nullif, mirroring VectorOps.normd — so a
    * degenerate row is NULL (and filtered/ordered identically) in BOTH
    * engines instead of Spark-NaN vs DuckDB-inf diverging. */
  private def cosSql(a: String, b: String, n: String): String =
    s"(${dotSql(a, b, n)} / nullif(sqrt(${dotSql(a, a, n)}) * sqrt(${dotSql(b, b, n)}), 0))"

  /** Two unrolled Lloyd iterations over 1e-6-quantized embeddings — the
    * WITH-body behind q_kmeans, shared with q_semdedup (whose clusters are
    * the SAME trained set by construction). Terminal CTE: a2(vec_id, cid,
    * dist) = the final assignment. */
  /** The trained-Naive-Bayes scoring CTE chain, ending at
    * `scored(doc_id, y, score, n_train, v)` — shared by q_nb_classify,
    * q_lift_curve, and q_ks_classifier so the three oracles cannot
    * drift from one another (the kmeansCte precedent). */
  private def nbScoredCtes: String = {
    import graft.queries.StatsOps.LogScale
    import graft.queries.TextOps.NbPosLang
    def lnqSql(e: String) =
      s"CAST(floor(ln(CAST($e AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)"
    s"""d AS (SELECT doc_id,
      |    CASE WHEN lang = '$NbPosLang' THEN 1 ELSE 0 END AS y,
      |    doc_id % 2 AS par,
      |    string_split_regex(lower(trim(text)), '\\s+') AS tk
      |  FROM documents),
      |tok AS (SELECT doc_id, y, par, unnest(tk) AS tok FROM d),
      |tok2 AS (SELECT * FROM tok WHERE length(tok) > 0),
      |cnt AS (SELECT tok,
      |    CAST(SUM(y) AS BIGINT) AS c1, CAST(SUM(1 - y) AS BIGINT) AS c0
      |  FROM tok2 WHERE par = 0 GROUP BY tok),
      |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1, CAST(SUM(c0) AS BIGINT) AS t0,
      |    CAST(COUNT(*) AS BIGINT) AS v FROM cnt),
      |pri AS (SELECT CAST(SUM(y) AS BIGINT) AS n1, CAST(SUM(1 - y) AS BIGINT) AS n0
      |  FROM d WHERE par = 0),
      |w AS (SELECT tok, ${lnqSql("c1 + 1")} - ${lnqSql("c0 + 1")} AS w FROM cnt),
      |sc AS (SELECT t.doc_id, CAST(SUM(w.w) AS BIGINT) AS sw,
      |    CAST(COUNT(*) AS BIGINT) AS nm
      |  FROM tok2 t JOIN w USING (tok) WHERE t.par = 1 GROUP BY 1),
      |scored AS (SELECT dd.doc_id, dd.y,
      |    (${lnqSql("n1")} - ${lnqSql("n0")}) + COALESCE(sw, 0)
      |      - COALESCE(nm, 0) * (${lnqSql("t1 + v")} - ${lnqSql("t0 + v")}) AS score,
      |    n1 + n0 AS n_train, v
      |  FROM (SELECT doc_id, y FROM d WHERE par = 1) dd
      |  LEFT JOIN sc USING (doc_id) CROSS JOIN tot CROSS JOIN pri)""".stripMargin
  }

  private val kmeansCte: String =
    """q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, v AS c FROM q WHERE vec_id < 4),
      |d1 AS (
      |  SELECT q.vec_id, q.v, c0.cid,
      |    list_reduce(list_transform(range(1, 65),
      |      i -> (q.v[i]-c0.c[i])*(q.v[i]-c0.c[i])), (a,b) -> a+b) AS dist
      |  FROM q CROSS JOIN c0),
      |a1 AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d1) WHERE rn = 1),
      |m1 AS (
      |  SELECT cid, i, CAST(floor(CAST(SUM(v[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
      |  FROM a1 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
      |  GROUP BY cid, i),
      |c1 AS (SELECT cid, list(m ORDER BY i) AS c FROM m1 GROUP BY cid),
      |d2 AS (
      |  SELECT q.vec_id, c1.cid,
      |    list_reduce(list_transform(range(1, 65),
      |      i -> (q.v[i]-c1.c[i])*(q.v[i]-c1.c[i])), (a,b) -> a+b) AS dist
      |  FROM q CROSS JOIN c1),
      |a2 AS (
      |  SELECT vec_id, cid, dist FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |    FROM d2) WHERE rn = 1)""".stripMargin

  /** The ORDER-BY-free core of the q_lm_score oracle (CurationOps
    * .lmFamiliarity) — shared with q_retrieval_gated, whose quality gate
    * is this query filtered on familiarity. */
  private val lmFamiliarityCore: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
      |b AS (
      |  SELECT doc_id, unnest(list_transform(range(0, len(tk) - 1),
      |    i -> concat(tk[i+1], ' ', tk[i+2]))) AS bg
      |  FROM t WHERE len(tk) >= 2),
      |cb AS (SELECT bg, COUNT(*) AS c2 FROM b GROUP BY bg),
      |cw AS (
      |  SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c2) AS BIGINT) AS c1
      |  FROM cb GROUP BY 1),
      |lm AS (
      |  SELECT bg, c2, c1
      |  FROM cb JOIN cw ON split_part(cb.bg, ' ', 1) = cw.w1)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(c2) AS BIGINT) AS sum_bg_count,
      |  CAST(SUM(c1) AS BIGINT) AS sum_ctx_count,
      |  CAST(SUM(c2) AS DOUBLE) / CAST(SUM(c1) AS DOUBLE) AS familiarity
      |FROM b JOIN lm USING (bg)
      |GROUP BY b.doc_id""".stripMargin

  /** DuckDB ±1 hyperplane projection (plane j) matching VectorOps.planeDot. */
  private def planeDotSql(j: Int): String =
    s"list_reduce(list_transform(range(0, n), i -> CAST(embedding[i+1] AS DOUBLE) * (CASE WHEN substr(md5(concat('${j}_', i)), 1, 1) <= '7' THEN 1.0 ELSE -1.0 END)), (x, y) -> x + y)"

  private val multiDistinctSql =
    """SELECT o_custkey,
      | COUNT(DISTINCT l_suppkey) AS n_suppliers,
      | COUNT(DISTINCT l_partkey) AS n_parts,
      | COUNT(DISTINCT o_orderkey) AS n_orders,
      | COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_months
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  private val thetaSql =
    """SELECT e.event_id, COUNT(*) AS n_matched, MIN(c.c_custkey) AS min_custkey
      |FROM events e JOIN customer c
      |  ON c.c_custkey < 100 AND e.props LIKE '%' || CAST(c.c_custkey AS VARCHAR) || '%'
      |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin

  /** Per-language stopword-score select list, generated from
    * TextOps.LangStops — the one stopword source of truth (ADVICE r12). */
  private def langScoreSelects: String =
    graft.queries.TextOps.LangStops.map { case (code, stops) =>
      val list = stops.map(s => s"'$s'").mkString(",")
      s"CAST(len(list_filter(toks, t -> t IN ($list))) AS INT) AS s_$code"
    }.mkString(",\n    ")

  /** The language-precedence CASE over the s_<code> scores, generated in
    * TextOps.LangStops order (en > es > de > fr; 'und' when no list hits). */
  private def langPredCase: String = {
    val codes = graft.queries.TextOps.LangStops.map(_._1)
    val branches = codes.zipWithIndex.map { case (c, i) =>
      val geq = codes.drop(i + 1).map(o => s"AND s_$c >= s_$o ").mkString
      s"WHEN s_$c > 0 ${geq}THEN '$c'"
    }.mkString("\n         ")
    s"CASE $branches\n         ELSE 'und' END"
  }

  /** Shared CTE chain computing per-doc language-ID predictions — prefix
    * of q_lang_id and q_langid_eval and the heuristic arm of q_mcnemar,
    * the DuckDB twin of TextOps.langId. Stopword lists and precedence are
    * generated from TextOps.LangStops, never hand-copied. */
  private def langIdCtes: String = {
    val scoreCols = graft.queries.TextOps.LangStops.map(c => s"s_${c._1}").mkString(", ")
    s"""WITH d AS (
      |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
      |s AS (
      |  SELECT doc_id, lang,
      |    $langScoreSelects
      |  FROM d),
      |p AS (
      |  SELECT doc_id, $scoreCols,
      |    $langPredCase AS pred_lang,
      |    lang
      |  FROM s)""".stripMargin
  }

  /** Shared CTE chain computing the per-doc MinHash-LSH (band_id, band_key)
    * rows — prefix of q_dedup_minhash and q_dedup_incremental, the DuckDB
    * twin of TextOps.minhashBands. */
  private def minhashBandedCtes: String =
    s"""WITH t AS (
      |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
      |  FROM documents),
      |h AS (SELECT doc_id, list_transform(toks, tk -> ${h32Sql("tk")}) AS th FROM t),
      |sig AS (SELECT doc_id,
      |    $minhashSigSql
      |  FROM h),
      |banded AS (
      |  SELECT doc_id, band_id,
      |    CASE band_id
      |      WHEN 0 THEN concat(sig0, '_', sig1, '_', sig2)
      |      WHEN 1 THEN concat(sig3, '_', sig4, '_', sig5)
      |      WHEN 2 THEN concat(sig6, '_', sig7, '_', sig8)
      |      ELSE concat(sig9, '_', sig10, '_', sig11) END AS band_key
      |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band_id))""".stripMargin

  /** One oracle for BOTH decontamination plans (broadcast-exact
    * q_decontaminate and the bloom-prefiltered q_decontaminate_bloom) —
    * shared so the "same oracle, both plans" claim cannot drift. */
  /** The connected-component CTE chain behind q_dedup_cc, terminal CTE
    * `comp(doc_id, component_id)` — shared with q_label_spread, whose
    * propagation rides the same near-dup components. */
  private def ccComponentCtes: String =
    s"""$minhashBandedCtes,
      |rep AS (
      |  SELECT band_id, band_key, min(doc_id) AS rep
      |  FROM banded GROUP BY band_id, band_key),
      |star AS (
      |  SELECT DISTINCT r.rep AS src, b.doc_id AS dst
      |  FROM banded b JOIN rep r USING (band_id, band_key) WHERE r.rep <> b.doc_id),
      |edges AS (SELECT src, dst FROM star UNION SELECT dst AS src, src AS dst FROM star),
      |walk AS (
      |  WITH RECURSIVE wr(doc_id, reach) AS (
      |    SELECT doc_id, doc_id FROM documents
      |    UNION
      |    SELECT w.doc_id, e.dst FROM wr w JOIN edges e ON e.src = w.reach)
      |  SELECT * FROM wr),
      |comp AS (
      |  SELECT doc_id, min(reach) AS component_id FROM walk GROUP BY doc_id)""".stripMargin

  private val decontaminateSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(0, len(tk) - 2),
      |      i -> ${h32Sql("concat(tk[i+1], ' ', tk[i+2], ' ', tk[i+3])")})) AS h
      |  FROM t WHERE len(tk) >= 3),
      |e AS (SELECT DISTINCT unnest(h) AS sh FROM s WHERE doc_id % 20 = 0),
      |tr AS (
      |  SELECT doc_id, CAST(len(h) AS INT) AS n_shingles, unnest(h) AS sh
      |  FROM s WHERE doc_id % 20 <> 0)
      |SELECT tr.doc_id, tr.n_shingles, COUNT(*) AS n_hits,
      |  CAST(COUNT(*) AS DOUBLE) / tr.n_shingles AS hit_rate
      |FROM tr JOIN e USING (sh)
      |GROUP BY tr.doc_id, tr.n_shingles
      |ORDER BY tr.doc_id""".stripMargin

  /** One oracle for BOTH quota plans (single-window q_source_quota and the
    * salted two-phase q_quota_twophase) — shared so the "same oracle, both
    * plans" claim cannot drift. */
  private val sourceQuotaSql: String =
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, source, n_chars, CAST(rn AS INT) AS quota_rank
      |FROM r WHERE rn <= 10 ORDER BY source, quota_rank""".stripMargin

  /** DuckDB spelling of CurationOps' mixture hash-uniform and tier rates —
    * shared by q_mixture_sample and q_curation_pipeline. */
  private def mixtureUSql: String =
    s"${h32Sql("concat('mix_', CAST(doc_id AS VARCHAR))")} % 10000"
  private val mixtureRateSql: String =
    """CASE WHEN source IN ('src0','src1','src2','src3') THEN 10000
      |         WHEN source IN ('src4','src5','src6','src7') THEN 5000
      |         ELSE 2000 END""".stripMargin

  /** Shared CTE chain ending in `rep`: per-doc Gopher-style repetition
    * stats — prefix of q_repetition and the composed q_curation_pipeline,
    * the DuckDB twin of CurationOps.repetitionStats.
    */
  private def repetitionCtes: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
      |tc AS (
      |  SELECT doc_id, tk, count(*) AS n
      |  FROM (SELECT doc_id, unnest(toks) AS tk FROM d) GROUP BY doc_id, tk),
      |tt AS (
      |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
      |    CAST(max(n) AS BIGINT) AS top_token_count
      |  FROM tc GROUP BY doc_id),
      |bi AS (
      |  SELECT doc_id,
      |    CAST(len(toks) - 1 AS BIGINT) AS n_bigrams,
      |    CAST(len(list_distinct(list_transform(range(0, len(toks) - 1),
      |      i -> concat(toks[i+1], ' ', toks[i+2])))) AS BIGINT) AS n_distinct_bigrams
      |  FROM d),
      |rep AS (
      |  SELECT t.doc_id, t.n_tokens, t.top_token_count,
      |    CAST(t.top_token_count AS DOUBLE) / t.n_tokens AS top_token_frac,
      |    b.n_bigrams, b.n_distinct_bigrams,
      |    1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams AS dup_bigram_frac,
      |    CAST(CAST(t.top_token_count AS DOUBLE) / t.n_tokens <= 0.3
      |      AND 1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams <= 0.5
      |      AS INT) AS passes_repetition
      |  FROM tt t JOIN bi b USING (doc_id))""".stripMargin

  /** The Hamming-verified LSH clustering tail shared by
    * q_dedup_simhash_cluster and q_media_neardup (TextOps.
    * hammingClustersFrom): band into `nBands` × `bandBits`-bit keys,
    * cap-guarded candidate pairs per bucket, exact
    * `bit_count(xor) <= hammingMax` edge verification, then components
    * over the verified edges (= Spark's converged min-label
    * propagation): one HOOKING round first (every node contracts to its
    * min verified neighbor — near-dup cliques collapse to their min
    * member outright), recursive walk only on the contracted quotient
    * graph. Walking the raw edge set is quadratic in clique size
    * (measured: 711 s at sf0.1 over the 607k-edge verified graph; the
    * hooked quotient walks in seconds) while the quotient preserves
    * components exactly — the component's min doc id is its own hook
    * root, so cluster ids are unchanged. `sigTable(doc_id, sigCol)` is
    * the upstream CTE. */
  private def hammingClusterSql(sigTable: String, sigCol: String,
      nBands: Int, bandBits: Int, hammingMax: Int): String =
    s"""banded AS MATERIALIZED (SELECT doc_id, $sigCol, band_id,
      |    ($sigCol // CAST(power(2, band_id * $bandBits) AS BIGINT))
      |      % ${1L << bandBits} AS band_key
      |  FROM $sigTable CROSS JOIN (SELECT unnest(range($nBands)) AS band_id)),
      |bkt AS MATERIALIZED (SELECT band_id, band_key, count(*) AS bsz
      |  FROM banded GROUP BY 1, 2),
      |ib AS MATERIALIZED (SELECT b.band_id, b.band_key, b.doc_id, b.$sigCol
      |  FROM banded b JOIN bkt k USING (band_id, band_key)
      |  WHERE k.bsz <= ${graft.queries.TextOps.LshBucketCap}),
      |hv AS MATERIALIZED (SELECT DISTINCT a.doc_id AS src, c.doc_id AS dst
      |  FROM ib a JOIN ib c USING (band_id, band_key)
      |  WHERE a.doc_id < c.doc_id
      |    AND bit_count(xor(a.$sigCol, c.$sigCol)) <= $hammingMax),
      |${hookedComponentsSql(sigTable)}
      |SELECT c.doc_id, s.$sigCol, c.cluster_id,
      |  CAST(c.doc_id <> c.cluster_id AS INT) AS is_dup
      |FROM comp c JOIN $sigTable s USING (doc_id) ORDER BY c.doc_id""".stripMargin

  /** Hooked min-label component CTEs over a verified edge CTE
    * `hv(src, dst)`, seeded from `$seed(doc_id, ...)` — the shared tail
    * of the verified clusterers (TextOps.hookedComponents): one hooking
    * round collapses near-dup cliques to their min member, the
    * recursive walk runs on the contracted quotient graph only.
    * Terminal CTE `comp(doc_id, cluster_id)`. */
  private def hookedComponentsSql(seed: String, pfx: String = "",
      hv: String = "hv"): String =
    s"""${pfx}edges AS MATERIALIZED (SELECT src, dst FROM $hv
      |  UNION SELECT dst AS src, src AS dst FROM $hv),
      |${pfx}nmin AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS p
      |  FROM ${pfx}edges GROUP BY src),
      |${pfx}lab0 AS MATERIALIZED (SELECT s.doc_id, COALESCE(n.p, s.doc_id) AS p
      |  FROM $seed s LEFT JOIN ${pfx}nmin n USING (doc_id)),
      |${pfx}ec AS MATERIALIZED (SELECT DISTINCT la.p AS src, lb.p AS dst
      |  FROM ${pfx}edges e JOIN ${pfx}lab0 la ON e.src = la.doc_id
      |  JOIN ${pfx}lab0 lb ON e.dst = lb.doc_id
      |  WHERE la.p <> lb.p),
      |${pfx}walk AS (
      |  WITH RECURSIVE wr(id, reach) AS (
      |    SELECT DISTINCT p, p FROM ${pfx}lab0
      |    UNION
      |    SELECT w.id, e.dst FROM wr w JOIN ${pfx}ec e ON e.src = w.reach)
      |  SELECT * FROM wr),
      |${pfx}croot AS (SELECT id, MIN(reach) AS root FROM ${pfx}walk GROUP BY id),
      |${pfx}comp AS (SELECT l.doc_id, c.root AS cluster_id
      |  FROM ${pfx}lab0 l JOIN ${pfx}croot c ON l.p = c.id)""".stripMargin

  /** Shared CTE chain computing the per-doc 32-bit SimHash signature —
    * prefix of both q_dedup_simhash and q_dedup_simhash_cluster. */
  private def simhashSqlCtes: String =
    s"""WITH t AS (
      |  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tk
      |  FROM documents),
      |h AS (SELECT doc_id, ${h32Sql("tk")} AS h FROM t),
      |bits AS (SELECT doc_id, h, unnest(range(32)) AS b FROM h),
      |votes AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN (h // CAST(power(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS vote_sum
      |  FROM bits GROUP BY doc_id, b),
      |sig AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN vote_sum > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id)""".stripMargin

  /** Gap sessionization as the classic cumulative gap-count — shared by
    * q_sessionize (window-sum form) and q_session_window (built-in
    * session_window form): both must hash-match these exact sessions. */
  private val sessionizeSql =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM g)
      |SELECT user_id, session_seq,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
      |FROM s GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  private val eventErrSql =
    """CASE WHEN value IS NULL OR value < 0 THEN 'value out of range'
      | WHEN event_type IS NULL OR UPPER(event_type) NOT IN ('CLICK','VIEW','PURCHASE','SIGNUP') THEN 'unknown event_type'
      | WHEN value > 400 THEN 'value above limit'
      | WHEN props IS NULL OR NOT regexp_matches(props, '^\{"k": [0-9]+\}$') THEN 'malformed props'
      | ELSE NULL END""".stripMargin.replaceAll("\n", " ")

  /** Every entry, declared exactly once. */
  lazy val registry: Seq[Entry] = distinctNames(Seq(
    // D1/D2 aggregate + F2 ordered output
    Entry("q1_agg", CoreOps.q1Agg,
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    // F1 top-k + C1 join chain
    Entry("q_topk_revenue", CoreOps.topkRevenue,
      s"""SELECT c_custkey, c_name, $revenueSql AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin),
    // C1 multi-way FK joins to broadcast dims
    Entry("q_join_multiway", CoreOps.joinMultiway,
      s"""SELECT r_name, COUNT(*) AS n_items, $revenueSql AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    // C2 left outer join
    Entry("q_left_join", CoreOps.leftJoinAgg,
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        | CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    // B6/B7/A9 anti join (NOT EXISTS / NOT IN / quarantine delete)
    Entry("q_anti_join", CoreOps.antiJoin,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin),
    // C10 semi join (EXISTS)
    Entry("q_semi_join", CoreOps.semiJoin,
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),
    // A4 quarantine sink + B2-B5 validation predicates
    Entry("q_quarantine_invalid", CoreOps.quarantineInvalid,
      s"""SELECT event_id, event_type, value, err AS error_message
        |FROM (SELECT *, $eventErrSql AS err FROM events)
        |WHERE err IS NOT NULL ORDER BY event_id""".stripMargin),
    Entry("q_quarantine_valid", CoreOps.quarantineValid,
      s"""SELECT event_id, user_id, event_type, value
        |FROM (SELECT *, $eventErrSql AS err FROM events)
        |WHERE err IS NULL ORDER BY event_id""".stripMargin),
    // A8 scrub + B8 CASE + B10 NULLIF/COALESCE
    Entry("q_scrub_case", CoreOps.scrubCase,
      """SELECT p_partkey,
        | COALESCE(CASE WHEN TRIM(p_name) = '' THEN NULL ELSE TRIM(p_name) END, 'unknown') AS name_clean,
        | CASE WHEN p_size BETWEEN 1 AND 25 THEN 'small'
        |      WHEN p_size BETWEEN 26 AND 40 THEN 'medium'
        |      ELSE 'large' END AS size_class
        |FROM part ORDER BY p_partkey""".stripMargin),
    // D7 DISTINCT ON first-row-per-group
    Entry("q_distinct_on", CoreOps.distinctOn,
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS first_order_date
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
    // E1 SCD2 end-dating via window lead/lag
    Entry("q_scd2_lag", CoreOps.scd2Lag,
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS start_date,
        | CAST(LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |      - INTERVAL 1 DAY AS DATE) AS end_date
        |FROM orders ORDER BY o_custkey, start_date, o_orderkey""".stripMargin),
    // C5/C6 temporal as-of join + fallback coalesce
    Entry("q_asof_join", CoreOps.asofJoin,
      """WITH cand AS (
        |  SELECT e.event_id, e.user_id, o.o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts),
        |earliest AS (
        |  SELECT o_custkey, o_orderkey AS earliest_orderkey FROM (
        |    SELECT o_custkey, o_orderkey,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |    FROM orders) WHERE rn = 1)
        |SELECT c.event_id, COALESCE(c.o_orderkey, e2.earliest_orderkey) AS resolved_orderkey
        |FROM cand c LEFT JOIN earliest e2 ON c.user_id = e2.o_custkey
        |WHERE c.rn = 1 ORDER BY c.event_id""".stripMargin),
    // C7 prioritized best-match resolution
    Entry("q_priority_bestmatch", CoreOps.priorityBestmatch,
      """WITH intervals AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS start_date,
        |    CAST(LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |         - INTERVAL 1 DAY AS DATE) AS end_date
        |  FROM orders),
        |cand AS (
        |  SELECT e.event_id, i.o_orderkey, i.start_date,
        |    CASE WHEN i.start_date <= CAST(e.ts AS DATE)
        |              AND (i.end_date IS NULL OR i.end_date >= CAST(e.ts AS DATE)) THEN 1
        |         WHEN i.start_date IS NULL THEN 2
        |         WHEN CAST(e.ts AS DATE) < i.start_date THEN 3
        |         ELSE 4 END AS prio
        |  FROM events e JOIN intervals i ON e.user_id = i.o_custkey)
        |SELECT event_id, o_orderkey AS matched_orderkey, prio FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
        |    ORDER BY prio, start_date, o_orderkey) AS rn FROM cand)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin),
    // C4 theta substring-containment join
    Entry("q_theta_contains", CoreOps.thetaContains, thetaSql),
    // C4 at-scale rewrite: candidate-substring equi-join, same oracle
    // the candidate-substring equi-join rewrite must produce the IDENTICAL
    // result — one oracle, two plans
    Entry("q_theta_prefilter", CoreOps.thetaPrefilter, thetaSql),
    // C8 join on computed key + D8/dim_date build + §1 surrogate keys
    Entry("q_dim_date_join", CoreOps.dimDateJoin,
      """WITH dim_date AS (
        |  SELECT CAST(year * 100 + month AS INT) AS date_sk,
        |    year, month,
        |    strftime(make_date(year, month, 1), '%B') AS month_name,
        |    strftime(make_date(year, month, 1), '%Y-%m') AS month_year
        |  FROM (SELECT DISTINCT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS year,
        |          CAST(EXTRACT(MONTH FROM l_shipdate) AS INT) AS month FROM lineitem))
        |SELECT d.date_sk, d.year, d.month, d.month_name, d.month_year,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN dim_date d
        |  ON CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) = d.year
        | AND CAST(EXTRACT(MONTH FROM l.l_shipdate) AS INT) = d.month
        |GROUP BY d.date_sk, d.year, d.month, d.month_name, d.month_year
        |ORDER BY d.year, d.month""".stripMargin),
    // C11 case-insensitive equi-join
    Entry("q_ci_join", CoreOps.ciJoin,
      """WITH seg_dim AS (
        |  SELECT CAST(concat('0x', substr(md5(seg_name), 1, 8)) AS BIGINT) AS seg_sk, seg_name
        |  FROM (SELECT DISTINCT UPPER(c_mktsegment) AS seg_name FROM customer))
        |SELECT s.seg_sk, s.seg_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer c JOIN seg_dim s ON LOWER(c.c_mktsegment) = LOWER(s.seg_name)
        |GROUP BY s.seg_sk, s.seg_name ORDER BY s.seg_name""".stripMargin),
    // A6 idempotent anti-join insert
    // same adaptive max/2 orderkey cut, same NOT-EXISTS anti shape
    Entry("q_dim_upsert_new", CoreOps.dimUpsertNew,
      """WITH mx AS (SELECT MAX(l_orderkey) AS mx FROM lineitem),
        |i AS (SELECT DISTINCT l_partkey, l_suppkey
        |  FROM lineitem CROSS JOIN mx WHERE l_orderkey * 2 > mx),
        |e AS (SELECT DISTINCT l_partkey, l_suppkey
        |  FROM lineitem CROSS JOIN mx WHERE l_orderkey * 2 <= mx)
        |SELECT l_partkey, l_suppkey FROM i
        |WHERE NOT EXISTS (SELECT 1 FROM e
        |  WHERE e.l_partkey = i.l_partkey AND e.l_suppkey = i.l_suppkey)
        |ORDER BY l_partkey, l_suppkey""".stripMargin),
    // A7 keyed upsert (ON CONFLICT DO UPDATE → full-outer merge)
    Entry("q_fact_upsert", CoreOps.factUpsert,
      """WITH f AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
        |  FROM orders WHERE year(o_orderdate) < 1999 GROUP BY o_custkey),
        |b AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
        |  FROM orders WHERE year(o_orderdate) >= 1999 GROUP BY o_custkey)
        |SELECT COALESCE(f.o_custkey, b.o_custkey) AS o_custkey,
        |  COALESCE(f.n_orders, 0) + COALESCE(b.n_orders, 0) AS n_orders,
        |  COALESCE(f.total_spend, 0) + COALESCE(b.total_spend, 0) AS total_spend,
        |  CASE WHEN f.n_orders IS NOT NULL AND b.n_orders IS NOT NULL THEN 'updated'
        |       WHEN b.n_orders IS NOT NULL THEN 'inserted'
        |       ELSE 'kept' END AS merge_action
        |FROM f FULL OUTER JOIN b ON f.o_custkey = b.o_custkey
        |ORDER BY o_custkey""".stripMargin),
    // A8 join-update (UPDATE … FROM → left join + coalesce)
    Entry("q_join_update", CoreOps.joinUpdate,
      """WITH upd AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS settled_spend
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey)
        |SELECT c_custkey,
        |  CAST(c_acctbal AS DOUBLE) AS old_bal,
        |  COALESCE(settled_spend, CAST(c_acctbal AS DOUBLE)) AS new_bal,
        |  CASE WHEN settled_spend IS NOT NULL THEN 1 ELSE 0 END AS was_updated
        |FROM customer LEFT JOIN upd ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin),
    // D8 static seed dim (INSERT … VALUES → createDataFrame + broadcast)
    Entry("q_seed_dims", CoreOps.seedDims,
      """SELECT prio_rank, prio_name, is_fast, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |JOIN (VALUES (1, '1-URGENT', true), (2, '2-HIGH', true), (3, '3-MEDIUM', false),
        |             (4, '4-NOT SPECIFIED', false), (5, '5-LOW', false))
        |  AS prio(prio_rank, prio_name, is_fast)
        |  ON o_orderpriority = prio_name
        |GROUP BY prio_rank, prio_name, is_fast
        |ORDER BY prio_rank""".stripMargin),
    // C9 null-guarded join condition ≡ plain equi-join
    Entry("q_null_guard_join", CoreOps.nullGuardJoin,
      """WITH o AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS cust_key_n
        |  FROM orders)
        |SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  COUNT(c_custkey) AS n_matched,
        |  COUNT(DISTINCT c_mktsegment) AS n_segments
        |FROM o LEFT JOIN customer
        |  ON o.cust_key_n IS NOT NULL AND c_custkey = o.cust_key_n
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    // D3/D4 conditional aggregates
    Entry("q_cond_agg", CoreOps.condAgg,
      """SELECT l_returnflag,
        | CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_highdisc,
        | COUNT(CASE WHEN l_tax > 0.04 THEN 1 END) AS n_hightax,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // D5 multiple exact COUNT(DISTINCT)
    Entry("q_multi_count_distinct", CoreOps.multiCountDistinct, multiDistinctSql),
    // D5 at-scale rewrite: Expand-free two-phase form, same oracle
    // the Expand-free two-phase rewrite must produce the IDENTICAL result —
    // one oracle, two plans (the q_theta_prefilter pattern)
    Entry("q_multi_count_distinct_twophase", CoreOps.multiCountDistinctTwophase, multiDistinctSql),
    // D6 group key = expression
    Entry("q_groupby_expr", CoreOps.groupbyExpr,
      """SELECT COALESCE(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END,
        |         'PENDING') AS status_bucket,
        | CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY status_bucket, order_year""".stripMargin),
    // G set operations
    Entry("q_set_ops", CoreOps.setOps,
      """WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |p AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM p)
        |UNION ALL
        |SELECT 'f_only' AS tag, o_custkey FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM p)
        |ORDER BY tag, o_custkey""".stripMargin),
    // B3 regex validation/extraction
    Entry("q_regex_extract", CoreOps.regexExtract,
      """SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS INT) AS k_val,
        | CASE WHEN regexp_matches(props, '^\{"k": [0-9]+\}$') THEN 1 ELSE 0 END AS valid_props,
        | CASE WHEN UPPER(event_type) IN ('CLICK','VIEW') THEN 1 ELSE 0 END AS is_passive
        |FROM events ORDER BY event_id""".stripMargin),
    // H scalar batteries
    Entry("q_scalar_strings", CoreOps.scalarStrings,
      """SELECT p_partkey, TRIM(p_name) AS name_trim, UPPER(p_name) AS name_upper,
        | LOWER(p_brand) AS brand_lower,
        | UPPER(SUBSTRING(SPLIT_PART(p_name, ' ', 1), 1, 1)) || SUBSTRING(SPLIT_PART(p_name, ' ', 1), 2)
        |   || ' ' ||
        | UPPER(SUBSTRING(SPLIT_PART(p_name, ' ', 2), 1, 1)) || SUBSTRING(SPLIT_PART(p_name, ' ', 2), 2)
        |   AS name_initcap,
        | SPLIT_PART(p_name, ' ', 1) AS first_word,
        | REVERSE(p_brand) AS brand_rev,
        | CAST(STRPOS(p_name, 'widget') AS INT) AS widget_pos,
        | SUBSTRING(p_name, 3) AS name_from3,
        | LPAD(CAST(p_size AS VARCHAR), 3, '0') AS size_pad,
        | p_brand || '/' || p_type AS brand_type,
        | CASE WHEN p_name LIKE '%bolt%' THEN 1 ELSE 0 END AS is_bolt,
        | CAST(LENGTH(p_name) AS INT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin),
    Entry("q_scalar_dates", CoreOps.scalarDates,
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        | CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
        | CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
        | CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS order_day,
        | strftime(o_orderdate, '%B') AS month_name,
        | strftime(o_orderdate, '%Y-%m') AS month_year,
        | CAST(o_orderdate - INTERVAL 1 DAY AS DATE) AS prev_day,
        | CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus_30,
        | CAST(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS DATE) AS roundtrip_date
        |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin),
    Entry("q_scalar_casts", CoreOps.scalarCasts,
      """SELECT l_orderkey, l_linenumber,
        | CAST(l_quantity AS INT) AS qty_int,
        | CASE WHEN l_returnflag = 'R' THEN TRUE ELSE FALSE END AS returned_bool,
        | CAST(CAST(l_discount AS DECIMAL(9,6)) AS DOUBLE) AS disc_dec,
        | CAST(l_linenumber AS VARCHAR) AS line_str
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    // JSON read battery (typed from_json + path get_json_object)
    Entry("q_json_extract", CoreOps.jsonExtract,
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INT) AS k_json,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_path,
        |  CAST(json_extract(props, '$.k') IS NOT NULL AS INT) AS has_k
        |FROM events ORDER BY event_id""".stripMargin),
    // OLAP reshaping: pivot/unpivot, rollup subtotals, ranking windows
    Entry("q_pivot", OlapOps.pivotEvents,
      """SELECT user_id,
        |  COUNT(CASE WHEN lower(event_type) = 'click' THEN 1 END) AS n_click,
        |  COUNT(CASE WHEN lower(event_type) = 'view' THEN 1 END) AS n_view,
        |  COUNT(CASE WHEN lower(event_type) = 'purchase' THEN 1 END) AS n_purchase,
        |  COUNT(CASE WHEN lower(event_type) = 'signup' THEN 1 END) AS n_signup
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // exact-decimal time-decay recency weighting
    Entry("q_decay_score", OlapOps.decayScore,
      """WITH m AS (SELECT max(CAST(ts AS DATE)) AS tmax FROM events),
        |e AS (
        |  SELECT user_id, value,
        |    LEAST(CAST(floor(datediff('day', CAST(ts AS DATE), m.tmax) / 7) AS INT), 10) AS k
        |  FROM events CROSS JOIN m)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(power(0.5, k) AS DECIMAL(13,12)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
        |    AS decay_score
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin),
    // deterministic array aggregation (sorted collect_set profile)
    Entry("q_collect_types", OlapOps.collectTypes,
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT lower(event_type))), ' ') AS event_types,
        |  min(ts) AS first_ts, max(ts) AS last_ts, COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // fixed-bucket equi-width histogram
    Entry("q_histogram", OlapOps.histogram,
      """WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
        |b AS (SELECT v,
        |  CAST(least(greatest(floor((v - 0.0) / 50000.0), 0.0), 11.0) AS INT) AS bucket FROM v)
        |SELECT bucket, bucket * 50000.0 + 0.0 AS bucket_lo,
        |  (bucket + 1) * 50000.0 + 0.0 AS bucket_hi,
        |  COUNT(*) AS n_orders, min(v) AS min_v, max(v) AS max_v
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
    // LATERAL per-row top-N via the SQL entry point (decorrelated plan)
    Entry("q_lateral", OlapOps.lateralTopOrders,
      """SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice
        |FROM customer,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
        |WHERE c_custkey < 200
        |ORDER BY c_custkey, totalprice DESC, o_orderkey""".stripMargin),
    // dense hourly grid, zero-filled gaps (resample for trend/window stats)
    Entry("q_gapfill", OlapOps.gapFill,
      """WITH e AS (
        |  SELECT lower(event_type) AS event_type, date_trunc('hour', ts) AS hour_start
        |  FROM events),
        |h AS (SELECT event_type, hour_start, count(*) AS n FROM e GROUP BY 1, 2),
        |s AS (SELECT min(hour_start) AS h0, max(hour_start) AS h1 FROM e),
        |g AS (
        |  SELECT t.event_type,
        |    unnest(range(s.h0, s.h1 + INTERVAL 1 HOUR, INTERVAL 1 HOUR)) AS hour_start
        |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN s)
        |SELECT g.event_type, g.hour_start, COALESCE(h.n, 0) AS n_events
        |FROM g LEFT JOIN h USING (event_type, hour_start)
        |ORDER BY event_type, hour_start""".stripMargin),
    // OLAP reshaping: unpivot (the pivot inverse)
    Entry("q_unpivot", OlapOps.unpivotParts,
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part)
        |ORDER BY p_partkey, metric""".stripMargin),
    // OLAP reshaping: rollup subtotals with grouping flags
    Entry("q_rollup", OlapOps.rollupOrders,
      """SELECT order_year, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(order_year) AS INT) AS g_year,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        |FROM (SELECT *, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year FROM orders)
        |GROUP BY ROLLUP(order_year, o_orderpriority)
        |ORDER BY order_year NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    Entry("q_cube", OlapOps.cubeOrders,
      """SELECT order_year, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(order_year) AS INT) AS g_year,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        |FROM (SELECT *, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year FROM orders)
        |GROUP BY CUBE(order_year, o_orderpriority)
        |ORDER BY order_year NULLS FIRST, o_orderpriority NULLS FIRST, g_year, g_prio""".stripMargin),
    // explicit GROUPING SETS: only the asked-for marginals
    Entry("q_grouping_sets", OlapOps.groupingSets,
      """SELECT order_year, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(order_year) AS INT) AS g_year,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        |FROM (SELECT *, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year FROM orders)
        |GROUP BY GROUPING SETS ((order_year), (o_orderpriority))
        |ORDER BY order_year NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),
    // context-window chunking (50-token windows, stride 40, map-only)
    Entry("q_doc_chunks", TextOps.docChunks,
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |c AS (
        |  SELECT doc_id, tk,
        |    unnest(range(0, GREATEST(0, CAST(floor((len(tk) - 11) / 40) AS INT)) + 1)) AS chunk_idx
        |  FROM t),
        |s AS (SELECT doc_id, chunk_idx, tk[chunk_idx * 40 + 1 : chunk_idx * 40 + 50] AS chunk FROM c)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(chunk) AS INT) AS n_chunk_tokens,
        |  ${h32Sql("list_aggregate(chunk, 'string_agg', ' ')")} AS chunk_hash
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin),
    // sub-document dedup: repeated 50-token windows across the corpus
    // (boilerplate/template detection document dedup cannot see)
    Entry("q_chunk_dedup", TextOps.chunkDedup,
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |c AS (
        |  SELECT doc_id, tk,
        |    unnest(range(0, GREATEST(0, CAST(floor((len(tk) - 11) / 40) AS INT)) + 1)) AS chunk_idx
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    ${h32Sql("list_aggregate(tk[chunk_idx * 40 + 1 : chunk_idx * 40 + 50], 'string_agg', ' ')")} AS chunk_hash
        |  FROM c)
        |SELECT chunk_hash, COUNT(*) AS n_occurrences,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  MIN(doc_id) AS keep_doc_id
        |FROM s GROUP BY chunk_hash HAVING COUNT(*) > 1
        |ORDER BY chunk_hash""".stripMargin),
    // OLAP reshaping: ranking-window battery
    Entry("q_window_battery", OlapOps.windowBattery,
      """SELECT o_custkey, o_orderkey,
        |  CAST(RANK() OVER w AS INT) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS INT) AS drnk,
        |  PERCENT_RANK() OVER w AS prnk,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  CUME_DIST() OVER w AS cdist,
        |  LAG(o_orderkey) OVER w AS prev_orderkey,
        |  LEAD(o_orderkey) OVER w AS next_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders WHERE o_custkey % 10 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    // correlated scalar subquery via the spark.sql entry point (decorrelated)
    Entry("q_scalar_subquery", OlapOps.scalarSubquery,
      """SELECT c_custkey, c_name,
        |  CAST((SELECT MAX(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders
        |        WHERE o_custkey = c_custkey) AS DOUBLE) AS max_order,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_custkey = c_custkey AND o_orderstatus = 'F') AS n_finished
        |FROM customer ORDER BY c_custkey""".stripMargin),
    // RANGE (value-distance) window frame: trailing 3-day features
    Entry("q_range_frame", OlapOps.rangeFrame,
      """SELECT o_custkey, o_orderkey, day_num,
        |  COUNT(*) OVER w AS n_orders_3d,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS spend_3d
        |FROM (SELECT *, CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num
        |      FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
        |  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, day_num, o_orderkey""".stripMargin),
    // EP3: the reference's 7 analytical queries
    Entry("q_top_months_excl_jan", Analytics.topMonthsExclJan,
      """SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
        | CAST(EXTRACT(MONTH FROM l_shipdate) AS INT) AS ship_month,
        | COUNT(*) AS n_returned
        |FROM lineitem
        |WHERE EXTRACT(MONTH FROM l_shipdate) <> 1 AND l_returnflag = 'R'
        |GROUP BY 1, 2 ORDER BY n_returned DESC, ship_year, ship_month LIMIT 5""".stripMargin),
    Entry("q_top_location_months", Analytics.topLocationMonths,
      """SELECT n_name, strftime(o_orderdate, '%Y-%m') AS order_month,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY n_orders DESC, n_name, order_month LIMIT 10""".stripMargin),
    Entry("q_top_pairs", Analytics.topPairs,
      """SELECT p_name, s_name, COUNT(*) AS n_lines,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2 ORDER BY n_lines DESC, p_name, s_name LIMIT 10""".stripMargin),
    Entry("q_habitat_rank", Analytics.habitatRank,
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY n_customers DESC, c_mktsegment""".stripMargin),
    Entry("q_quality_summary", Analytics.qualitySummary,
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        | COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
        | COUNT(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_large,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Entry("q_top_users", Analytics.topUsers,
      """SELECT c_custkey, c_name, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY n_orders DESC, c_custkey LIMIT 10""".stripMargin),
    Entry("q_top_monthly_unique", Analytics.topMonthlyUniqueLocations,
      """WITH user_monthly AS (
        |  SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS order_month,
        |    COUNT(DISTINCT l_suppkey) AS n_distinct_suppliers
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY n_distinct_suppliers DESC, order_month) AS rn
        |  FROM user_monthly)
        |SELECT o_custkey, order_month, n_distinct_suppliers FROM ranked WHERE rn = 1
        |ORDER BY n_distinct_suppliers DESC, o_custkey LIMIT 10""".stripMargin),
    // LLM-data-pipeline tier (SURVEY.md §7 tier 4) — dedup
    Entry("q_dedup_exact", TextOps.dedupExact,
      """SELECT doc_id, content_hash, keep_doc_id, n_copies,
        | CAST(doc_id <> keep_doc_id AS INT) AS is_dup
        |FROM (SELECT doc_id, sha256(lower(trim(text))) AS content_hash,
        |  MIN(doc_id) OVER (PARTITION BY sha256(lower(trim(text)))) AS keep_doc_id,
        |  COUNT(*) OVER (PARTITION BY sha256(lower(trim(text)))) AS n_copies
        | FROM documents)
        |ORDER BY doc_id""".stripMargin),
    Entry("q_dedup_minhash", TextOps.dedupMinhash,
      s"""$minhashBandedCtes,
        |rep AS (
        |  SELECT band_id, band_key, min(doc_id) AS bucket_rep
        |  FROM banded GROUP BY band_id, band_key)
        |SELECT b.doc_id,
        |  min(r.bucket_rep) AS cluster_id,
        |  CAST(b.doc_id <> min(r.bucket_rep) AS INT) AS is_dup
        |FROM banded b JOIN rep r USING (band_id, band_key)
        |GROUP BY b.doc_id
        |ORDER BY b.doc_id""".stripMargin),
    // incremental probe of a persisted MinHash bucket table (multi-batch)
    Entry("q_dedup_incremental", TextOps.dedupIncremental,
      s"""$minhashBandedCtes,
        |exist AS (
        |  SELECT band_id, band_key, min(doc_id) AS bucket_rep
        |  FROM banded WHERE doc_id % 10 <> 0 GROUP BY band_id, band_key),
        |nb AS (SELECT doc_id, band_id, band_key FROM banded WHERE doc_id % 10 = 0)
        |SELECT nb.doc_id,
        |  COALESCE(min(e.bucket_rep), nb.doc_id) AS cluster_id,
        |  CAST(min(e.bucket_rep) IS NOT NULL AS INT) AS is_known_dup
        |FROM nb LEFT JOIN exist e USING (band_id, band_key)
        |GROUP BY nb.doc_id
        |ORDER BY nb.doc_id""".stripMargin),
    // transitive closure of the band graph: connected-component clusters
    Entry("q_dedup_cc", TextOps.dedupCC,
      s"""$ccComponentCtes
        |SELECT doc_id, component_id,
        |  CAST(doc_id <> component_id AS INT) AS is_dup
        |FROM comp ORDER BY doc_id""".stripMargin),
    // CC with the exact-Jaccard verify stage (band collision = recall only)
    // same band buckets (cap-guarded), exact token-hash-set Jaccard
    // verify by integer cross-multiply, hooked-component tail
    Entry("q_dedup_cc_verified", TextOps.dedupCCVerified, {
      import graft.queries.TextOps.{CcJaccardTauDen, CcJaccardTauNum, LshBucketCap}
      s"""$minhashBandedCtes,
        |bkt2 AS (SELECT band_id, band_key, count(*) AS bsz
        |  FROM banded GROUP BY 1, 2),
        |ib2 AS MATERIALIZED (SELECT b.band_id, b.band_key, b.doc_id
        |  FROM banded b JOIN bkt2 USING (band_id, band_key)
        |  WHERE bsz <= $LshBucketCap),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_id_a,
        |    c.doc_id AS doc_id_b
        |  FROM ib2 a JOIN ib2 c USING (band_id, band_key)
        |  WHERE a.doc_id < c.doc_id),
        |ts AS MATERIALIZED (SELECT doc_id, list_distinct(th) AS th FROM h),
        |hv AS MATERIALIZED (SELECT doc_id_a AS src, doc_id_b AS dst FROM (
        |    SELECT doc_id_a, doc_id_b,
        |      len(list_intersect(ta.th, tb.th)) AS ni,
        |      len(ta.th) AS na, len(tb.th) AS nb
        |    FROM cand JOIN ts ta ON cand.doc_id_a = ta.doc_id
        |    JOIN ts tb ON cand.doc_id_b = tb.doc_id)
        |  WHERE ni * $CcJaccardTauDen >= (na + nb - ni) * $CcJaccardTauNum),
        |${hookedComponentsSql("ts")}
        |SELECT doc_id, cluster_id AS component_id,
        |  CAST(doc_id <> cluster_id AS INT) AS is_dup
        |FROM comp ORDER BY doc_id""".stripMargin
    }),
    // incremental verified dedup: batch probes the persisted band table,
    // exact-Jaccard verify, component UPDATE at (touched comps + batch)
    // scale — fixture-proven equal to the full recompute
    // doc-level reference of the incremental update: existing-only
    // clustering (the persisted state), combined-bucket batch candidates
    // (>= 1 batch endpoint), exact-Jaccard verify, then a SECOND hooked
    // pass over the CONTRACTED (labels + batch ids) graph. The size
    // prefilter is an optimization (can never change what verifies) and
    // is deliberately absent here, as in the cc_verified oracle.
    Entry("q_dedup_inc_verified", TextOps.dedupIncVerified, {
      import graft.queries.TextOps.{CcJaccardTauDen, CcJaccardTauNum, LshBucketCap}
      def verifySql(cand: String, out: String) =
        s"""$out AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM (
          |    SELECT doc_id_a, doc_id_b,
          |      len(list_intersect(ta.th, tb.th)) AS ni,
          |      len(ta.th) AS na, len(tb.th) AS nb
          |    FROM $cand JOIN ts ta ON $cand.doc_id_a = ta.doc_id
          |    JOIN ts tb ON $cand.doc_id_b = tb.doc_id)
          |  WHERE ni * $CcJaccardTauDen >= (na + nb - ni) * $CcJaccardTauNum)""".stripMargin
      s"""$minhashBandedCtes,
        |ts AS MATERIALIZED (SELECT doc_id, list_distinct(th) AS th FROM h),
        |tsE AS (SELECT doc_id, th FROM ts WHERE doc_id % 10 <> 0),
        |bktE AS (SELECT band_id, band_key, count(*) AS bsz FROM banded
        |  WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
        |ibE AS MATERIALIZED (SELECT b.band_id, b.band_key, b.doc_id
        |  FROM banded b JOIN bktE USING (band_id, band_key)
        |  WHERE bsz <= $LshBucketCap AND b.doc_id % 10 <> 0),
        |candE AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_id_a,
        |    c.doc_id AS doc_id_b
        |  FROM ibE a JOIN ibE c USING (band_id, band_key)
        |  WHERE a.doc_id < c.doc_id),
        |${verifySql("candE", "hvE")},
        |${hookedComponentsSql("tsE", "e", "hvE")},
        |bktA AS (SELECT band_id, band_key, count(*) AS bsz FROM banded
        |  GROUP BY 1, 2),
        |ibA AS MATERIALIZED (SELECT b.band_id, b.band_key, b.doc_id
        |  FROM banded b JOIN bktA USING (band_id, band_key)
        |  WHERE bsz <= $LshBucketCap),
        |candN AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_id_a,
        |    c.doc_id AS doc_id_b
        |  FROM ibA a JOIN ibA c USING (band_id, band_key)
        |  WHERE a.doc_id < c.doc_id
        |    AND (a.doc_id % 10 = 0 OR c.doc_id % 10 = 0)),
        |${verifySql("candN", "hvN")},
        |hvU AS (SELECT DISTINCT COALESCE(ea.cluster_id, v.src) AS src,
        |    COALESCE(eb.cluster_id, v.dst) AS dst
        |  FROM hvN v LEFT JOIN ecomp ea ON v.src = ea.doc_id
        |  LEFT JOIN ecomp eb ON v.dst = eb.doc_id
        |  WHERE COALESCE(ea.cluster_id, v.src) <> COALESCE(eb.cluster_id, v.dst)),
        |nodesU AS (SELECT DISTINCT cluster_id AS doc_id FROM ecomp
        |  UNION SELECT doc_id FROM ts WHERE doc_id % 10 = 0),
        |${hookedComponentsSql("nodesU", "u", "hvU")}
        |SELECT doc_id, component_id,
        |  CAST(doc_id <> component_id AS INT) AS is_dup, is_batch
        |FROM (
        |  SELECT e.doc_id, u.cluster_id AS component_id, 0 AS is_batch
        |  FROM ecomp e JOIN ucomp u ON e.cluster_id = u.doc_id
        |  UNION ALL
        |  SELECT t.doc_id, u.cluster_id AS component_id, 1 AS is_batch
        |  FROM ts t JOIN ucomp u ON t.doc_id = u.doc_id
        |  WHERE t.doc_id % 10 = 0)
        |ORDER BY doc_id""".stripMargin
    }),
    Entry("q_dedup_simhash", TextOps.dedupSimhash,
      s"""$simhashSqlCtes
        |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin),
    // same signatures, then the shared Hamming-verified clustering tail:
    // cap-guarded star candidates, bit_count(xor) <= 3 verify, walk
    Entry("q_dedup_simhash_cluster", TextOps.dedupSimhashCluster,
      s"""$simhashSqlCtes,
        |${hammingClusterSql("sig", "simhash", nBands = 4, bandBits = 8,
          hammingMax = graft.queries.TextOps.SimhashHammingMax)}""".stripMargin),
    Entry("q_dedup_ngram", TextOps.dedupNgram,
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(range(0, len(tk) - 2),
        |      i -> ${h32Sql("concat(tk[i+1], ' ', tk[i+2], ' ', tk[i+3])")}))) AS h
        |  FROM t WHERE len(tk) >= 3),
        |k AS (SELECT doc_id, unnest(h[1:5]) AS bucket FROM s),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        |  FROM k a JOIN k b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |j AS (
        |  SELECT doc_id_a, doc_id_b,
        |    CAST(len(list_intersect(sa.h, sb.h)) AS DOUBLE) /
        |      len(list_distinct(list_concat(sa.h, sb.h))) AS jaccard
        |  FROM cand
        |  JOIN s sa ON sa.doc_id = doc_id_a
        |  JOIN s sb ON sb.doc_id = doc_id_b)
        |SELECT doc_id_a, doc_id_b, jaccard FROM j
        |WHERE jaccard >= 0.8
        |ORDER BY doc_id_a, doc_id_b""".stripMargin),
    // asymmetric containment near-dup (quote/subset pairs Jaccard misses):
    // min-5 sketch probed against the full inverted shingle postings
    Entry("q_dedup_contain", TextOps.dedupContain,
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(range(0, len(tk) - 2),
        |      i -> ${h32Sql("concat(tk[i+1], ' ', tk[i+2], ' ', tk[i+3])")}))) AS h
        |  FROM t WHERE len(tk) >= 3),
        |probe AS (SELECT doc_id AS doc_id_a, unnest(h[1:5]) AS sh FROM s),
        |postings AS (
        |  SELECT doc_id AS doc_id_b, sh
        |  FROM (SELECT doc_id, unnest(h) AS sh FROM s)
        |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= ${TextOps.StopShingleDfCap}),
        |cand AS (
        |  SELECT DISTINCT doc_id_a, doc_id_b
        |  FROM probe JOIN postings USING (sh)
        |  WHERE doc_id_a <> doc_id_b),
        |j AS (
        |  SELECT doc_id_a, doc_id_b,
        |    CAST(len(sa.h) AS INT) AS n_a, CAST(len(sb.h) AS INT) AS n_b,
        |    CAST(len(list_intersect(sa.h, sb.h)) AS DOUBLE) / len(sa.h) AS containment
        |  FROM cand
        |  JOIN s sa ON sa.doc_id = doc_id_a
        |  JOIN s sb ON sb.doc_id = doc_id_b
        |  WHERE len(sa.h) < len(sb.h)
        |     OR (len(sa.h) = len(sb.h) AND doc_id_a < doc_id_b))
        |SELECT doc_id_a, doc_id_b, n_a, n_b, containment FROM j
        |WHERE containment >= 0.9
        |ORDER BY doc_id_a, doc_id_b""".stripMargin),
    Entry("q_fingerprint", TextOps.fingerprint,
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(range(0, len(tk) - 2),
        |      i -> ${h32Sql("concat(tk[i+1], ' ', tk[i+2], ' ', tk[i+3])")}))) AS h
        |  FROM t WHERE len(tk) >= 3)
        |SELECT doc_id, CAST(r AS INT) AS rank, h[r] AS shingle_hash
        |FROM s CROSS JOIN (SELECT unnest(range(1, 6)) AS r)
        |WHERE r <= len(h)
        |ORDER BY doc_id, rank""".stripMargin),
    // benchmark decontamination: broadcast the eval shingle set, map-side
    // probe the training corpus (GPT-3-style n-gram overlap)
    Entry("q_decontaminate", TextOps.decontaminate, decontaminateSql),
    // same answer via a distributed BloomFilterAggregate prefilter + exact
    // confirm join — the shape for eval sets too big to broadcast exactly
    // the bloom prefilter is transparent to the answer (false positives
    // die in the exact confirm join), so the oracle is shared verbatim
    Entry("q_decontaminate_bloom", (s, d) => TextOps.decontaminateBloom(s, d), decontaminateSql),
    // cross-split contamination audit: test-doc shingles probed against
    // per-shingle train counts (shuffle join — neither side broadcastable)
    Entry("q_split_leakage", TextOps.splitLeakage, {
      val bucket = h32Sql("concat('split_', CAST(doc_id AS VARCHAR))") + " % 100"
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN $bucket < 90 THEN 'train'
        |         WHEN $bucket < 95 THEN 'valid' ELSE 'test' END AS split,
        |    list_distinct(list_transform(range(0, len(tk) - 2),
        |      i -> ${h32Sql("concat(tk[i+1], ' ', tk[i+2], ' ', tk[i+3])")})) AS h
        |  FROM t WHERE len(tk) >= 3),
        |trc AS (
        |  SELECT sh, COUNT(*) AS n_train_docs
        |  FROM (SELECT doc_id, unnest(h) AS sh FROM s WHERE split = 'train')
        |  GROUP BY sh
        |  HAVING COUNT(*) <= ${TextOps.StopShingleDfCap}),
        |te AS (
        |  SELECT doc_id, CAST(len(h) AS INT) AS n_shingles, unnest(h) AS sh
        |  FROM s WHERE split = 'test')
        |SELECT te.doc_id, te.n_shingles, COUNT(*) AS n_leaked,
        |  MAX(trc.n_train_docs) AS max_train_docs,
        |  CAST(COUNT(*) AS DOUBLE) / te.n_shingles AS leak_ratio
        |FROM te JOIN trc USING (sh)
        |GROUP BY te.doc_id, te.n_shingles
        |ORDER BY te.doc_id""".stripMargin
    }),
    // training-context packing: per-source concat-and-chunk pack assignment
    // via one window cumsum (no sequential recurrence)
    Entry("q_seq_pack", CurationOps.seqPack,
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
        |  FROM d)
        |SELECT source, doc_id, n_tokens,
        |  CAST(cum_excl // 256 AS BIGINT) AS pack_id,
        |  CAST(cum_excl % 256 AS BIGINT) AS pack_offset
        |FROM c ORDER BY source, doc_id""".stripMargin),
    // CCNet-style LM quality scoring: self-estimated bigram model, exact-int
    // ratio-of-sums familiarity (division-only, hash-stable cross-engine)
    Entry("q_lm_score", CurationOps.lmFamiliarity,
      s"SELECT * FROM ($lmFamiliarityCore) ORDER BY doc_id"),
    // DSIR importance weighting: target-domain vs raw bigram-LM familiarity
    // ratio from ONE shared bigram pass (division-only, overflow-safe)
    Entry("q_dsir", CurationOps.dsirWeights,
      s"""WITH t AS (
        |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS tk
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lang, unnest(list_transform(range(0, len(tk) - 1),
        |    i -> concat(tk[i+1], ' ', tk[i+2]))) AS bg
        |  FROM t WHERE len(tk) >= 2),
        |cba AS (SELECT bg, COUNT(*) AS c2_all FROM b GROUP BY bg),
        |cwa AS (
        |  SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c2_all) AS BIGINT) AS c1_all
        |  FROM cba GROUP BY 1),
        |lma AS (
        |  SELECT bg, c2_all, c1_all
        |  FROM cba JOIN cwa ON split_part(cba.bg, ' ', 1) = cwa.w1),
        |cbt AS (SELECT bg, COUNT(*) AS c2_t FROM b WHERE lang = '${CurationOps.DsirTargetLang}' GROUP BY bg),
        |cwt AS (
        |  SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c2_t) AS BIGINT) AS c1_t
        |  FROM cbt GROUP BY 1),
        |lmt AS (
        |  SELECT bg, c2_t, c1_t
        |  FROM cbt JOIN cwt ON split_part(cbt.bg, ' ', 1) = cwt.w1),
        |agg AS (
        |  SELECT b.doc_id, b.lang, COUNT(*) AS n_bigrams,
        |    CAST(SUM(lma.c2_all) AS BIGINT) AS sba, CAST(SUM(lma.c1_all) AS BIGINT) AS sca,
        |    COUNT(lmt.c2_t) AS n_matched_target,
        |    CAST(SUM(lmt.c2_t) AS BIGINT) AS sbt, CAST(SUM(lmt.c1_t) AS BIGINT) AS sct
        |  FROM b JOIN lma USING (bg) LEFT JOIN lmt USING (bg)
        |  GROUP BY b.doc_id, b.lang)
        |SELECT doc_id, lang, n_bigrams, n_matched_target,
        |  CAST(sba AS DOUBLE) / CAST(sca AS DOUBLE) AS fam_raw,
        |  CAST(sbt AS DOUBLE) / CAST(sct AS DOUBLE) AS fam_target,
        |  (CAST(sbt AS DOUBLE) / CAST(sct AS DOUBLE)) /
        |    (CAST(sba AS DOUBLE) / CAST(sca AS DOUBLE)) AS dsir_weight
        |FROM agg ORDER BY doc_id""".stripMargin),
    // privacy tier: PII detection + masking (map-only regex pass over a
    // deterministic contact string derived from event columns)
    Entry("q_pii_redact", PrivacyOps.piiRedact,
      """WITH c AS (
        |  SELECT event_id,
        |    concat('contact u', CAST(user_id AS VARCHAR),
        |      '@mail', CAST(user_id % 10 AS VARCHAR), '.example.com',
        |      CASE WHEN event_type = 'signup'
        |        THEN concat(' alt u', CAST(user_id AS VARCHAR), '.alt@mail.example.org')
        |        ELSE '' END,
        |      CASE WHEN event_type IN ('click', 'view')
        |        THEN concat(' call 555-', lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0'))
        |        ELSE '' END,
        |      ' from 10.', CAST(user_id % 256 AS VARCHAR), '.0.',
        |      CAST(event_id % 256 AS VARCHAR)) AS contact
        |  FROM events)
        |SELECT event_id, contact,
        |  CAST(len(regexp_extract_all(contact, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(contact, '\b[0-9]{3}-[0-9]{4}\b')) AS INT) AS n_phones,
        |  CAST(len(regexp_extract_all(contact, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(contact,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted
        |FROM c ORDER BY event_id""".stripMargin),
    // k-anonymity releasability with one generalization step (dow -> '*')
    Entry("q_kanon_release", PrivacyOps.kanonRelease,
      """WITH base AS (
        |  SELECT event_type, CAST(hour(ts) AS INT) AS hour,
        |    CAST(dayofweek(ts) + 1 AS INT) AS dow, user_id
        |  FROM events),
        |l1 AS (
        |  SELECT event_type, hour, dow, COUNT(*) AS n_events,
        |    COUNT(DISTINCT user_id) AS n_users
        |  FROM base GROUP BY 1, 2, 3),
        |supp AS (SELECT event_type, hour, dow FROM l1 WHERE n_users < 20),
        |l2 AS (
        |  SELECT event_type, hour, COUNT(*) AS n_events,
        |    COUNT(DISTINCT user_id) AS n_users
        |  FROM base JOIN supp USING (event_type, hour, dow)
        |  GROUP BY 1, 2)
        |SELECT event_type, hour, CAST(dow AS VARCHAR) AS dow,
        |  n_events, n_users, 1 AS anon_level
        |FROM l1 WHERE n_users >= 20
        |UNION ALL
        |SELECT event_type, hour, '*' AS dow, n_events, n_users,
        |  CASE WHEN n_users >= 20 THEN 2 ELSE 0 END AS anon_level
        |FROM l2
        |ORDER BY event_type, hour, dow""".stripMargin),
    // weighted sampling without replacement (priority sampling): map-only
    // projection + TakeOrdered top-k, no transcendentals, no global sort
    Entry("q_priority_sample", CurationOps.prioritySample,
      s"""SELECT doc_id, source, n_chars,
        |  CAST(n_chars AS DOUBLE) * 4294967296 /
        |    (${h32Sql("concat('prio_', CAST(doc_id AS VARCHAR))")} + 1) AS priority
        |FROM documents
        |ORDER BY priority DESC, doc_id LIMIT 30""".stripMargin),
    // deterministic hash-bucket train/valid/test split (map-only, append-stable)
    Entry("q_data_split", CurationOps.dataSplit,
      s"""WITH b AS (
        |  SELECT doc_id, source,
        |    ${h32Sql("concat('split_', CAST(doc_id AS VARCHAR))")} % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, source, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin),
    // salted two-phase rank, hash-matching the same oracle (skew escape)
    // the two-phase salted rank must land on the SAME rows and ranks as the
    // single-window form — one oracle, both plans
    Entry("q_quota_twophase", CurationOps.sourceQuotaTwoPhase, sourceQuotaSql),
    // skew-salted join, hash-matching the plain join oracle
    Entry("q_salted_join", ScaleOps.saltedJoin,
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // blocked levenshtein entity matching (equi-join blocks, verify inside)
    Entry("q_fuzzy_match", CurationOps.fuzzyMatch,
      """WITH p AS (
        |  SELECT p_partkey, lower(p_name) AS name,
        |    split_part(lower(p_name), ' ', 1) AS blk,
        |    CAST(length(split_part(lower(p_name), ' ', 2)) AS INT) AS nlen
        |  FROM part)
        |SELECT a.blk, a.nlen, COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN levenshtein(a.name, b.name) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
        |FROM p a JOIN p b ON a.blk = b.blk AND a.nlen = b.nlen
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.name, b.name) <= 2
        |GROUP BY a.blk, a.nlen
        |ORDER BY a.blk, a.nlen""".stripMargin),
    // complete lev<=2 matching: total-length ±2 band restores indel pairs;
    // oracle is the UNBANDED naive pairwise form, proving the band drops nothing
    Entry("q_fuzzy_match_indel", CurationOps.fuzzyMatchIndel,
      """WITH p AS (
        |  SELECT p_partkey, lower(p_name) AS name,
        |    split_part(lower(p_name), ' ', 1) AS blk
        |  FROM part)
        |SELECT a.blk, COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN levenshtein(a.name, b.name) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(SUM(CASE WHEN length(a.name) <> length(b.name) THEN 1 ELSE 0 END) AS BIGINT) AS n_indel
        |FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.name, b.name) <= 2
        |GROUP BY a.blk
        |ORDER BY a.blk""".stripMargin),
    // corpus curation: per-source quota, mixture sampling, repetition gates
    Entry("q_source_quota", CurationOps.sourceQuota, sourceQuotaSql),
    // corpus curation: deterministic mixture sampling
    Entry("q_mixture_sample", CurationOps.mixtureSample,
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    $mixtureUSql AS u,
        |    CAST($mixtureRateSql AS BIGINT) AS keep_rate
        |  FROM documents)
        |SELECT doc_id, source, u, keep_rate FROM d
        |WHERE u < keep_rate ORDER BY doc_id""".stripMargin),
    Entry("q_repetition", CurationOps.repetitionStats,
      s"""$repetitionCtes
        |SELECT doc_id, n_tokens, top_token_count, top_token_frac,
        |  n_bigrams, n_distinct_bigrams, dup_bigram_frac, passes_repetition
        |FROM rep ORDER BY doc_id""".stripMargin),
    // the composed flow: dedup -> quality gate -> quota -> mixture
    Entry("q_curation_pipeline", CurationOps.curationPipeline,
      s"""$repetitionCtes,
        |k AS (
        |  SELECT doc_id, source, n_chars
        |  FROM (SELECT doc_id, source, n_chars,
        |          min(doc_id) OVER (PARTITION BY sha256(lower(trim(text)))) AS keep_id
        |        FROM documents)
        |  WHERE doc_id = keep_id),
        |g AS (
        |  SELECT k.* FROM k JOIN rep USING (doc_id) WHERE rep.passes_repetition = 1),
        |q AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM g),
        |s AS (
        |  SELECT doc_id, source, n_chars, CAST(rn AS INT) AS quota_rank,
        |    $mixtureUSql AS u,
        |    $mixtureRateSql AS rate
        |  FROM q WHERE rn <= 10)
        |SELECT doc_id, source, n_chars, quota_rank, u
        |FROM s WHERE u < rate ORDER BY doc_id""".stripMargin),
    // text analysis
    Entry("q_text_stats", TextOps.textStats,
      """WITH d AS (
        |  SELECT *, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |e AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(length(text) AS BIGINT) AS n_chars_actual,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe_tokens,
        |    CAST(list_sum(list_transform(toks, tk -> length(tk))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) AS avg_token_len,
        |    CAST(len(list_filter(toks, tk -> tk IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) AS stopword_ratio
        |  FROM d)
        |SELECT doc_id, lang, n_chars, n_chars_actual, n_tokens, n_distinct_tokens,
        |  n_bpe_tokens, avg_token_len, stopword_ratio,
        |  CASE WHEN n_tokens BETWEEN 5 AND 1000 AND stopword_ratio < 0.5
        |       THEN 1.0 - stopword_ratio ELSE 0.0 END AS quality_score
        |FROM e ORDER BY doc_id""".stripMargin),
    Entry("q_lang_id", TextOps.langId,
      s"""$langIdCtes
        |SELECT doc_id, s_en, s_es, s_de, s_fr, pred_lang, lang,
        |  CAST(pred_lang = lang AS INT) AS is_match
        |FROM p ORDER BY doc_id""".stripMargin),
    Entry("q_tfidf", TextOps.tfidf,
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
        |SELECT doc_id, CAST(rn AS INT) AS rank, term, tf, df, score FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) / df.df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS rn
        |  FROM tf JOIN df USING (term))
        |WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin),
    Entry("q_top_ngrams", TextOps.topNgrams,
      """WITH t AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
        |b AS (
        |  SELECT unnest(list_transform(range(0, len(tk) - 1),
        |    i -> concat(tk[i+1], ' ', tk[i+2]))) AS bigram
        |  FROM t WHERE len(tk) >= 2)
        |SELECT bigram, COUNT(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin),
    // skew-salted two-phase aggregation, hash-matching the plain oracle
    // the plain-GROUP-BY oracle; the Spark side computes it via the
    // (key, salt) two-phase shape — one oracle, the skew-safe plan
    Entry("q_salted_agg", ScaleOps.saltedAgg,
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    // §2.I: stream-stream join (watermark-bounded attribution), batch analog
    Entry("q_stream_join", graft.streaming.Streams.attributionJoinBatch,
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE lower(event_type) = 'click'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
        |  FROM events WHERE lower(event_type) = 'purchase'),
        |j AS (
        |  SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts, p.value,
        |    ROW_NUMBER() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND c.click_ts <= p.purchase_ts
        |    AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR)
        |SELECT purchase_id, user_id, purchase_ts, click_id, click_ts, value
        |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin),
    // exact grouped quantiles (approx_percentile is the documented 100 TB path)
    Entry("q_quantiles", ScaleOps.quantiles,
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS p25,
        |  quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS p50,
        |  quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS p75
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // per-group p05/p95 outlier clipping: exact-percentile bounds frame
    // (group-cardinality rows) broadcast back, clipping map-side
    Entry("q_winsorize", ScaleOps.winsorize,
      """WITH b AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, value, lo, hi,
        |  CASE WHEN value IS NOT NULL THEN least(greatest(value, lo), hi) END AS clipped,
        |  (value < lo OR value > hi) AS is_clipped
        |FROM events e JOIN b USING (event_type)
        |ORDER BY event_id""".stripMargin),
    // §2.I: hopping (sliding) windows — each event in exactly two windows
    Entry("q_hopping_counts", (s, dir) =>
      graft.streaming.Streams.hoppingTypeCounts(Tables.events(s, dir))
        .orderBy(col("window_start"), col("event_type")),
      """WITH h AS (
        |  SELECT event_type,
        |    time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS window_start
        |  FROM events CROSS JOIN (SELECT unnest(range(2)) AS k))
        |SELECT window_start, event_type, COUNT(*) AS n_events
        |FROM h GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),
    // pure range (point-in-interval) join, bucketized equi-join rewrite —
    // the oracle states the naive BETWEEN join; the plan is hash, not NLJ
    // the ORACLE is the naive nested-loop BETWEEN join (DuckDB's IEJoin
    // executes it); the Spark side must hash-match it from the bucketized
    // equi-join rewrite — one oracle, the scale-safe plan
    Entry("q_range_join", ScaleOps.rangeJoin,
      """WITH i AS (
        |  SELECT o_custkey AS i_custkey, MIN(CAST(o_orderdate AS DATE)) AS lo
        |  FROM orders WHERE o_custkey < 100 GROUP BY o_custkey),
        |i2 AS (SELECT i_custkey, lo, CAST(lo + INTERVAL 30 DAY AS DATE) AS hi FROM i)
        |SELECT i_custkey, lo, hi, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM i2 JOIN orders ON CAST(o_orderdate AS DATE) BETWEEN lo AND hi
        |GROUP BY i_custkey, lo, hi
        |ORDER BY i_custkey""".stripMargin),
    // Morton key arithmetic for z-order clustering (write side in LayoutSpec)
    // Morton spread via chained CTEs (each step referenced twice — a CTE
    // chain avoids the 2^4 textual blowup of inlining the magic-number
    // steps); bit-identical to Layout.zOrderKey's shift/and/or ladder.
    // Inputs quantize to the full 16-bit range from observed min/max first
    // (the zOrderKey domain contract): identical double arithmetic on both
    // sides — (c-lo)*65535.0/(hi-lo), mul before div — so FLOOR agrees
    Entry("q_zorder_key", ScaleOps.zorderKeys,
      """WITH ob AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dkey
        |  FROM orders),
        |bnd AS (
        |  SELECT CAST(MIN(o_custkey) AS DOUBLE) AS a_lo, CAST(MAX(o_custkey) AS DOUBLE) AS a_hi,
        |         CAST(MIN(dkey) AS DOUBLE) AS b_lo, CAST(MAX(dkey) AS DOUBLE) AS b_hi
        |  FROM ob),
        |o AS (
        |  SELECT o_orderkey, o_custkey, dkey,
        |    CASE WHEN a_hi = a_lo THEN 0
        |         ELSE CAST(FLOOR((CAST(o_custkey AS DOUBLE) - a_lo) * 65535.0 / (a_hi - a_lo)) AS BIGINT) END AS qa,
        |    CASE WHEN b_hi = b_lo THEN 0
        |         ELSE CAST(FLOOR((CAST(dkey AS DOUBLE) - b_lo) * 65535.0 / (b_hi - b_lo)) AS BIGINT) END AS qb
        |  FROM ob CROSS JOIN bnd),
        |m0 AS (SELECT *, qa & 65535 AS a0, qb & 65535 AS b0 FROM o),
        |m1 AS (SELECT *, (a0 | (a0 << 8)) & 16711935 AS a1,
        |               (b0 | (b0 << 8)) & 16711935 AS b1 FROM m0),
        |m2 AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
        |               (b1 | (b1 << 4)) & 252645135 AS b2 FROM m1),
        |m3 AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
        |               (b2 | (b2 << 2)) & 858993459 AS b3 FROM m2),
        |m4 AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
        |               (b3 | (b3 << 1)) & 1431655765 AS b4 FROM m3)
        |SELECT o_orderkey, o_custkey, dkey, a4 | (b4 << 1) AS zkey
        |FROM m4 ORDER BY o_orderkey""".stripMargin),
    // deterministic hash-keyed stratified sampling (map-only, reproducible)
    Entry("q_stratified_sample", ScaleOps.stratifiedSample,
      """WITH s AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN lower(event_type) = 'purchase' THEN 100
        |         WHEN lower(event_type) = 'signup' THEN 50
        |         WHEN lower(event_type) = 'click' THEN 20
        |         ELSE 5 END AS strat_rate,
        |    CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS h_bucket
        |  FROM events)
        |SELECT event_id, user_id, event_type,
        |  CAST(strat_rate AS INT) AS strat_rate, CAST(h_bucket AS INT) AS h_bucket
        |FROM s WHERE h_bucket < strat_rate ORDER BY event_id""".stripMargin),
    // multimodal metadata plumbing (SQL-expressible deterministic stub)
    Entry("q_multimodal_meta", TextOps.multimodalMeta,
      s"""SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS content_sha,
        |  CAST(64 + CAST(concat('0x', substr(sha256(text), 1, 8)) AS BIGINT) % 193 AS INT) AS width,
        |  CAST(64 + CAST(concat('0x', substr(sha256(text), 9, 8)) AS BIGINT) % 129 AS INT) AS height,
        |  CAST(1 + octet_length(encode(text)) % 7 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin),
    // multimodal feature-extract: resize plan + quantized pseudo-embedding
    // (column twin of the MultimodalStub batch encoder)
    // the resize scale is one double division + min (correctly-rounded
    // IEEE both engines); embedding slices are integer arithmetic on the
    // one per-payload sha digest
    Entry("q_media_features", TextOps.mediaFeatures, {
      val box = s"${graft.queries.TextOps.MediaFitBox}.0"
      s"""WITH m AS (SELECT doc_id,
        |    CAST(64 + CAST(concat('0x', substr(sha256(text), 1, 8)) AS BIGINT) % 193 AS INT) AS width,
        |    CAST(64 + CAST(concat('0x', substr(sha256(text), 9, 8)) AS BIGINT) % 129 AS INT) AS height,
        |    sha256(text) AS sha
        |  FROM documents),
        |s AS (SELECT *,
        |    least($box / CAST(width AS DOUBLE), $box / CAST(height AS DOUBLE)) AS scale
        |  FROM m)
        |SELECT doc_id, width, height,
        |  CAST(floor(CAST(width AS DOUBLE) * scale) AS INT) AS resized_w,
        |  CAST(floor(CAST(height AS DOUBLE) * scale) AS INT) AS resized_h,
        |  array_to_string(list_transform(range(0, 8), i ->
        |    CAST(CAST(concat('0x', substr(sha, CAST(1 + 8 * i AS INT), 8)) AS BIGINT) % 256 - 128
        |      AS VARCHAR)), ' ')
        |    AS embedding
        |FROM s ORDER BY doc_id""".stripMargin
    }),
    // multimodal frame sampling: stride Generate over per-payload frame
    // counts, per-frame digests, payload never travels with the frames
    // same frame arithmetic as q_multimodal_meta; range() end-exclusive
    // stride == sequence(0, n-1, stride) inclusive — identical index sets
    Entry("q_frame_sample", TextOps.frameSample, {
      val stride = graft.queries.TextOps.FrameStride
      s"""WITH m AS (SELECT doc_id, sha256(text) AS content_sha,
        |    CAST(1 + octet_length(encode(text)) % 7 AS INT) AS n_frames
        |  FROM documents),
        |f AS (SELECT doc_id, content_sha,
        |    unnest(range(0, n_frames, $stride)) AS frame_idx
        |  FROM m)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  sha256(concat(content_sha, ':', CAST(frame_idx AS VARCHAR))) AS frame_sha,
        |  frame_idx = 0 AS is_key_frame
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin
    }),
    // pHash near-dup: integer DCT sign bits, Hamming-banded LSH cluster
    // same token-hash luma grid, same build-time-literal integer DCT
    // sign bits, same 7×9-bit banding and bucket-min cluster (the
    // dedup_simhash_cluster idiom); phashExprs emits BOTH trees
    Entry("q_media_neardup", TextOps.mediaNeardup, {
      import graft.queries.TextOps.{PhBandBits, PhBands, PhGrid}
      val n = PhGrid * PhGrid
      val (rowPassSql, colPassSql) = graft.queries.TextOps.dctExprs(
        "g", "t", (a, i) => s"$a[${i + 1}]", es => es.mkString("[", ", ", "]"))
      s"""WITH d AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        |h AS (SELECT doc_id,
        |    list_transform(toks, tk -> ${h32Sql("tk")} % 256) AS hs FROM d),
        |grid AS (SELECT doc_id, list_transform(range($n), c ->
        |    coalesce(CAST(list_sum(list_transform(range(len(hs)),
        |        i -> CASE WHEN i % $n = c THEN hs[i+1] ELSE 0 END)) AS BIGINT), 0)
        |      // greatest(len(list_filter(range(len(hs)), i -> i % $n = c)), 1)) AS g
        |  FROM h),
        |tp AS (SELECT doc_id, $rowPassSql AS t FROM grid),
        |cp AS (SELECT doc_id, $colPassSql AS dd FROM tp),
        |ph AS MATERIALIZED (SELECT doc_id, CAST(coalesce(list_sum(list_transform(range(1, $n),
        |      k -> CASE WHEN dd[k+1] > 0
        |        THEN (CAST(1 AS BIGINT) << CAST(k - 1 AS INT)) ELSE 0 END)), 0)
        |    AS BIGINT) AS phash FROM cp),
        |${hammingClusterSql("ph", "phash", nBands = PhBands,
          bandBits = PhBandBits,
          hammingMax = graft.queries.TextOps.PhHammingMax)}""".stripMargin
    }),
    // §2.I: the streaming window aggregation run in batch mode (the
    // transform is mode-agnostic; the watermark is a no-op on batch)
    Entry("q_hourly_counts", (s, dir) =>
      graft.streaming.Streams.hourlyTypeCounts(Tables.events(s, dir))
        .orderBy(col("window_start"), col("event_type")),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    // §2.I: first-delivery-wins ingest dedup, batch analog of
    // dropDuplicatesWithinWatermark with in-query modeled re-delivery
    Entry("q_stream_dedup", graft.streaming.Streams.streamDedupBatch,
      """WITH deliveries AS (
        |  SELECT event_id, ts, user_id, event_type, value, 1 AS delivery FROM events
        |  UNION ALL
        |  SELECT event_id,
        |    CASE WHEN event_id % 20 = 0 THEN ts - INTERVAL 30 MINUTE
        |         ELSE ts + INTERVAL 1 HOUR END AS ts,
        |    user_id, event_type, value, 2 AS delivery
        |  FROM events WHERE event_id % 10 = 0)
        |SELECT event_id, user_id, event_type, value, delivery FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts, delivery) AS rn
        |  FROM deliveries)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin),
    // §2.I: gap sessionization, batch analog of Sessionize (same boundaries;
    // property-tied to Sessionize.fold in SessionizeProps)
    Entry("q_sessionize", graft.streaming.Streams.sessionizeBatch, sessionizeSql),
    // §2.I: the same sessions via the built-in session_window — hash-matches
    // the q_sessionize oracle (one oracle, two plans: built-in vs custom)
    // the built-in session_window form must produce the IDENTICAL sessions
    Entry("q_session_window", graft.streaming.Streams.sessionWindowBatch, sessionizeSql),
    // EP2 fact-build shapes over testdata (08_ETL2_part2.sql)
    Entry("q_fact_activity", FactOps.factActivity,
      """SELECT p_brand, n_name AS supp_nation,
        |  CAST(EXTRACT(YEAR FROM l_shipdate) * 100 + EXTRACT(MONTH FROM l_shipdate) AS INT) AS date_sk,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        |  COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_highdisc
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2, 3
        |ORDER BY p_brand, supp_nation, date_sk""".stripMargin),
    Entry("q_fact_monthly_summary", FactOps.factMonthlySummary,
      """WITH cand AS (
        |  SELECT e.event_id, e.user_id, e.ts, e.event_type, e.value, e.props, o.o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts),
        |earliest AS (
        |  SELECT o_custkey, o_orderkey AS earliest_orderkey FROM (
        |    SELECT o_custkey, o_orderkey,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |    FROM orders) WHERE rn = 1),
        |resolved AS (
        |  SELECT c.user_id, c.ts, c.event_type, c.value, c.props,
        |    COALESCE(c.o_orderkey, e2.earliest_orderkey) AS sub_sk
        |  FROM cand c LEFT JOIN earliest e2 ON c.user_id = e2.o_custkey
        |  WHERE c.rn = 1)
        |SELECT user_id, strftime(ts, '%Y-%m') AS month_year, sub_sk,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  COUNT(DISTINCT event_type) AS n_event_types,
        |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days,
        |  COUNT(DISTINCT value) AS n_distinct_values,
        |  COUNT(DISTINCT props) AS n_distinct_props
        |FROM resolved
        |GROUP BY 1, 2, 3
        |ORDER BY user_id, month_year, sub_sk NULLS FIRST""".stripMargin),
    // similarity search
    Entry("q_sim_topk", VectorOps.simTopk,
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, embedding AS p_emb, n FROM e WHERE vec_id < 5),
        |pairs AS (
        |  SELECT pr.probe_id, c.vec_id AS neighbor_id,
        |    ${cosSql("pr.p_emb", "c.embedding", "pr.n")} AS cos_sim
        |  FROM pr JOIN e c ON c.vec_id <> pr.probe_id)
        |SELECT probe_id, CAST(rnk AS INT) AS rank, neighbor_id, cos_sim FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM pairs)
        |WHERE rnk <= 3 ORDER BY probe_id, rank""".stripMargin),
    // MMR diversity re-ranking of each probe's cosine top-10 pool
    // same pool (the simTopk shape, rank <= 10), same greedy rounds
    // unrolled: per round the engine-mirrored cosine MAX against the
    // picked set, score = rel - maxsim, argmax with cand-id tiebreak
    Entry("q_mmr", VectorOps.mmrRerank, {
      import graft.queries.VectorOps.{MmrK, MmrPoolK, RrfProbes}
      val rounds = (2 to MmrK).map { k =>
        s"""sc$k AS (SELECT p.probe_id, p.cand_id, p.rel,
           |    p.rel - MAX(${cosSql("p.c_emb", "q.c_emb", "p.n")}) AS mmr_score
           |  FROM pool p
           |  JOIN sel${k - 1} s ON s.probe_id = p.probe_id
           |  JOIN pool q ON q.probe_id = s.probe_id AND q.cand_id = s.cand_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
           |    WHERE x.probe_id = p.probe_id AND x.cand_id = p.cand_id)
           |  GROUP BY 1, 2, 3),
           |s$k AS (SELECT probe_id, cand_id, rel, mmr_score, $k AS mmr_rank FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
           |      ORDER BY mmr_score DESC, cand_id) AS rn FROM sc$k) WHERE rn = 1),
           |sel$k AS (SELECT probe_id, cand_id FROM sel${k - 1}
           |  UNION ALL SELECT probe_id, cand_id FROM s$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, embedding AS p_emb, n FROM e
        |  WHERE vec_id < $RrfProbes),
        |pool AS MATERIALIZED (SELECT * FROM (
        |    SELECT pr.probe_id, c.vec_id AS cand_id, c.embedding AS c_emb, c.n,
        |      ${cosSql("pr.p_emb", "c.embedding", "pr.n")} AS rel,
        |      ROW_NUMBER() OVER (PARTITION BY pr.probe_id
        |        ORDER BY ${cosSql("pr.p_emb", "c.embedding", "pr.n")} DESC, c.vec_id) AS rnk
        |    FROM pr JOIN e c ON c.vec_id <> pr.probe_id)
        |  WHERE rnk <= $MmrPoolK),
        |s1 AS (SELECT probe_id, cand_id, rel, rel AS mmr_score, 1 AS mmr_rank
        |  FROM pool WHERE rnk = 1),
        |sel1 AS (SELECT probe_id, cand_id FROM s1),
        |$rounds
        |SELECT probe_id, mmr_rank, cand_id AS vec_id, rel, mmr_score FROM (
        |  ${(1 to MmrK).map(k => s"SELECT * FROM s$k").mkString("\n  UNION ALL ")})
        |ORDER BY probe_id, mmr_rank""".stripMargin
    }),
    // retrieve-from-curated composition: candidates LM-quality-gated
    // (aggregate-barriered) before the cosine pass
    Entry("q_retrieval_gated", VectorOps.retrievalGated,
      s"""WITH g AS (
        |  SELECT doc_id FROM ($lmFamiliarityCore)
        |  WHERE familiarity >= ${graft.queries.VectorOps.RetrievalGateMin}),
        |e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, embedding AS p_emb, n FROM e WHERE vec_id < 5),
        |c AS (SELECT e.* FROM e JOIN g ON e.vec_id = g.doc_id),
        |pairs AS (
        |  SELECT pr.probe_id, c.vec_id AS neighbor_id,
        |    ${cosSql("pr.p_emb", "c.embedding", "pr.n")} AS cos_sim
        |  FROM pr JOIN c ON c.vec_id <> pr.probe_id)
        |SELECT probe_id, CAST(rnk AS INT) AS rank, neighbor_id, cos_sim FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM pairs)
        |WHERE rnk <= 3 ORDER BY probe_id, rank""".stripMargin),
    Entry("q_sim_lsh", VectorOps.simLsh,
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |b AS (
        |  SELECT vec_id, embedding, n,
        |    CAST((CASE WHEN ${planeDotSql(0)} > 0 THEN 8 ELSE 0 END)
        |       + (CASE WHEN ${planeDotSql(1)} > 0 THEN 4 ELSE 0 END)
        |       + (CASE WHEN ${planeDotSql(2)} > 0 THEN 2 ELSE 0 END)
        |       + (CASE WHEN ${planeDotSql(3)} > 0 THEN 1 ELSE 0 END) AS INT) AS bucket
        |  FROM e),
        |pr AS (SELECT vec_id AS probe_id, embedding AS p_emb, n, bucket FROM b WHERE vec_id < 10),
        |pairs AS (
        |  SELECT pr.probe_id, pr.bucket, c.vec_id AS neighbor_id,
        |    ${cosSql("pr.p_emb", "c.embedding", "pr.n")} AS cos_sim
        |  FROM pr JOIN b c ON c.bucket = pr.bucket AND c.vec_id <> pr.probe_id)
        |SELECT probe_id, bucket, CAST(rnk AS INT) AS rank, neighbor_id, cos_sim FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM pairs)
        |WHERE rnk <= 3 ORDER BY probe_id, rank""".stripMargin),
    // NSW-class graph ANN: bucketed top-Deg neighbor graph + unrolled
    // greedy beam search (recall@3 measured in VectorOpsSpec)
    // two-table bucketed candidate pairs, per-node top-Deg neighbor
    // graph (UNION-symmetrized), probe's-own-bucket beam seeds, then the
    // unrolled beam hops — expansion (UNION dedupes, matching
    // .distinct()), rescoring, per-probe top-B
    Entry("q_graph_ann", VectorOps.graphAnn, {
      import graft.queries.VectorOps.{GraphAnnBeam, GraphAnnDeg,
        GraphAnnEntries, GraphAnnHops}
      def bucketSql(j0: Int) =
        s"""CAST((CASE WHEN ${planeDotSql(j0)} > 0 THEN 8 ELSE 0 END)
           |       + (CASE WHEN ${planeDotSql(j0 + 1)} > 0 THEN 4 ELSE 0 END)
           |       + (CASE WHEN ${planeDotSql(j0 + 2)} > 0 THEN 2 ELSE 0 END)
           |       + (CASE WHEN ${planeDotSql(j0 + 3)} > 0 THEN 1 ELSE 0 END) AS INT)""".stripMargin
      val hops = (1 to GraphAnnHops).map { k =>
        val prev = s"bm${k - 1}"
        s"""x$k AS (SELECT probe_id, cand FROM $prev
          |  UNION SELECT p.probe_id, ed.dst AS cand FROM $prev p
          |    JOIN ed ON ed.src = p.cand WHERE ed.dst <> p.probe_id),
          |s$k AS (SELECT x.probe_id, x.cand,
          |    ${cosSql("pr.p_emb", "c.embedding", "pr.n")} AS cos
          |  FROM x$k x JOIN e c ON c.vec_id = x.cand
          |  JOIN pr ON pr.probe_id = x.probe_id),
          |bm$k AS (SELECT probe_id, cand FROM (SELECT *,
          |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand) AS rk
          |  FROM s$k) WHERE rk <= $GraphAnnBeam)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |b AS (SELECT vec_id, embedding, n, ${bucketSql(0)} AS b1,
        |    ${bucketSql(4)} AS b2 FROM e),
        |mp AS (SELECT vec_id, 1 AS tbl, b1 AS bk FROM b
        |  UNION ALL SELECT vec_id, 2 AS tbl, b2 AS bk FROM b),
        |cd AS (SELECT DISTINCT a.vec_id AS src, c.vec_id AS dst
        |  FROM mp a JOIN mp c ON c.tbl = a.tbl AND c.bk = a.bk
        |    AND c.vec_id <> a.vec_id),
        |tk AS (SELECT src, dst FROM (
        |  SELECT cd.src, cd.dst,
        |    ROW_NUMBER() OVER (PARTITION BY cd.src
        |      ORDER BY ${cosSql("sa.embedding", "sb.embedding", "sa.n")} DESC,
        |        cd.dst) AS rk
        |  FROM cd JOIN e sa ON sa.vec_id = cd.src JOIN e sb ON sb.vec_id = cd.dst)
        |  WHERE rk <= $GraphAnnDeg),
        |ed AS MATERIALIZED (SELECT src, dst FROM tk
        |  UNION SELECT dst AS src, src AS dst FROM tk),
        |pr AS (SELECT vec_id AS probe_id, embedding AS p_emb, n, b1 FROM b
        |  WHERE vec_id < 5),
        |bm0 AS (SELECT probe_id, cand FROM (
        |  SELECT pr.probe_id, c.vec_id AS cand,
        |    ROW_NUMBER() OVER (PARTITION BY pr.probe_id ORDER BY c.vec_id) AS rk
        |  FROM pr JOIN b c ON c.b1 = pr.b1 AND c.vec_id <> pr.probe_id)
        |  WHERE rk <= $GraphAnnEntries),
        |$hops
        |SELECT probe_id, CAST(rnk AS INT) AS rank, cand AS neighbor_id,
        |  cos AS cos_sim FROM (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand) AS rnk
        |  FROM s$GraphAnnHops s
        |  WHERE EXISTS (SELECT 1 FROM bm$GraphAnnHops f
        |    WHERE f.probe_id = s.probe_id AND f.cand = s.cand))
        |WHERE rnk <= 3 ORDER BY probe_id, rank""".stripMargin
    }),
    // similarity search: embedding near-dup
    Entry("q_embed_dedup", VectorOps.embedDedup,
      s"""WITH e AS (SELECT vec_id, label, embedding, len(embedding) AS n FROM embeddings),
        |bk AS (
        |  SELECT vec_id, label, embedding, n,
        |    CAST((CASE WHEN ${planeDotSql(0)} > 0 THEN 8 ELSE 0 END)
        |       + (CASE WHEN ${planeDotSql(1)} > 0 THEN 4 ELSE 0 END)
        |       + (CASE WHEN ${planeDotSql(2)} > 0 THEN 2 ELSE 0 END)
        |       + (CASE WHEN ${planeDotSql(3)} > 0 THEN 1 ELSE 0 END) AS INT) AS bucket
        |  FROM e)
        |SELECT label, bucket, vec_id_a, vec_id_b, cos_sim FROM (
        |  SELECT a.label, a.bucket, a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |    ${cosSql("a.embedding", "b.embedding", "a.n")} AS cos_sim
        |  FROM bk a JOIN bk b
        |    ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |WHERE cos_sim >= 0.3
        |ORDER BY label, vec_id_a, vec_id_b""".stripMargin),
    // per-vector int8 scalar quantization + reconstruction-error audit
    Entry("q_vec_quant", VectorOps.vecQuantize,
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM embeddings),
        |s AS (SELECT *, nullif(mx - mn, 0.0) / 255 AS scale FROM e),
        |c AS (
        |  SELECT vec_id, mn, mx, scale, embedding,
        |    list_transform(embedding,
        |      x -> coalesce(CAST(floor((CAST(x AS DOUBLE) - mn) / scale) AS INT), 0)) AS codes
        |  FROM s)
        |SELECT vec_id, mn, mx,
        |  codes[1] AS code0, codes[2] AS code1, codes[len(codes)] AS code_last,
        |  list_reduce(list_transform(range(1, len(embedding) + 1),
        |    i -> abs(CAST(embedding[i] AS DOUBLE) - (mn + codes[i] * coalesce(scale, 0.0)))),
        |    (x, y) -> x + y) / len(embedding) AS mean_abs_err
        |FROM c ORDER BY vec_id""".stripMargin),
    // quantized Lloyd's k-means: broadcast-literal centroids, map-only
    // assignment, one K·d-cell aggregate per update — exact int arithmetic
    // two unrolled Lloyd iterations over 1e-6-quantized embeddings; the 64
    // in range(1, 65) is the embedding width (schema constant, all SFs).
    // Exact int arithmetic end to end; floor((exact double)/n) centroids.
    Entry("q_kmeans", VectorOps.kmeans,
      s"""WITH $kmeansCte
        |SELECT vec_id, CAST(cid AS INT) AS cluster, dist AS dist2
        |FROM a2 ORDER BY vec_id""".stripMargin),
    // SemDeDup: cosine near-dup keep/drop inside the LEARNED k-means
    // clusters (LSH sub-bucket pruned) — shares kmeans' centroid set
    // SemDeDup: the SAME trained clusters (shared kmeansCte, a2 = final
    // assignment), the SAME 4-plane bucket as q_embed_dedup, min-lower-id
    // keep rule
    Entry("q_semdedup", VectorOps.semDedup,
      s"""WITH $kmeansCte,
        |e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |bk AS (
        |  SELECT e.vec_id, a2.cid AS cluster, e.embedding, e.n,
        |    CAST((CASE WHEN ${planeDotSql(0)} > 0 THEN 8 ELSE 0 END)
        |       + (CASE WHEN ${planeDotSql(1)} > 0 THEN 4 ELSE 0 END)
        |       + (CASE WHEN ${planeDotSql(2)} > 0 THEN 2 ELSE 0 END)
        |       + (CASE WHEN ${planeDotSql(3)} > 0 THEN 1 ELSE 0 END) AS INT) AS bucket
        |  FROM e JOIN a2 USING (vec_id)),
        |p AS (
        |  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
        |  FROM bk a JOIN bk b
        |    ON a.cluster = b.cluster AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  WHERE ${cosSql("a.embedding", "b.embedding", "a.n")} >= 0.3
        |  GROUP BY b.vec_id)
        |SELECT bk.vec_id, CAST(bk.cluster AS INT) AS cluster, bk.bucket,
        |  p.dup_of IS NULL AS is_kept, p.dup_of
        |FROM bk LEFT JOIN p USING (vec_id)
        |ORDER BY bk.vec_id""".stripMargin),
    // similarity search: IVF cosine top-k
    Entry("q_sim_ivf", VectorOps.simIvf,
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding AS c_emb FROM e WHERE vec_id < 8),
        |sims AS (
        |  SELECT e.vec_id, e.embedding, e.n, c.cid,
        |    ${cosSql("e.embedding", "c.c_emb", "e.n")} AS sim
        |  FROM e JOIN c ON TRUE),
        |asg AS (
        |  SELECT vec_id, embedding, n, cid AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
        |    FROM sims)
        |  WHERE r = 1),
        |pr AS (SELECT vec_id AS probe_id, embedding AS p_emb, n, cell FROM asg WHERE vec_id < 5),
        |pairs AS (
        |  SELECT pr.probe_id, pr.cell, a.vec_id AS neighbor_id,
        |    ${cosSql("pr.p_emb", "a.embedding", "pr.n")} AS cos_sim
        |  FROM pr JOIN asg a ON a.cell = pr.cell AND a.vec_id <> pr.probe_id)
        |SELECT probe_id, cell, CAST(rnk AS INT) AS rank, neighbor_id, cos_sim FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM pairs)
        |WHERE rnk <= 3 ORDER BY probe_id, rank""".stripMargin),
    // multi-probe IVF: each probe searches its nprobe nearest cells —
    // the recall/cost knob (curve measured in VectorOpsSpec)
    // same cell assignment as q_sim_ivf; probes additionally keep their
    // top-IvfNProbe cells (r <= nprobe instead of r = 1 on the probe side)
    Entry("q_sim_ivf_multi", VectorOps.simIvfMulti,
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding AS c_emb FROM e WHERE vec_id < 8),
        |sims AS (
        |  SELECT e.vec_id, e.embedding, e.n, c.cid,
        |    ${cosSql("e.embedding", "c.c_emb", "e.n")} AS sim
        |  FROM e JOIN c ON TRUE),
        |rsims AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
        |  FROM sims),
        |asg AS (SELECT vec_id, embedding, n, cid AS cell FROM rsims WHERE r = 1),
        |pr AS (
        |  SELECT vec_id AS probe_id, embedding AS p_emb, n, cid AS cell
        |  FROM rsims WHERE r <= ${VectorOps.IvfNProbe} AND vec_id < 5),
        |pairs AS (
        |  SELECT pr.probe_id, a.vec_id AS neighbor_id,
        |    ${cosSql("pr.p_emb", "a.embedding", "pr.n")} AS cos_sim
        |  FROM pr JOIN asg a ON a.cell = pr.cell AND a.vec_id <> pr.probe_id)
        |SELECT probe_id, CAST(rnk AS INT) AS rank, neighbor_id, cos_sim FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM pairs)
        |WHERE rnk <= 3 ORDER BY probe_id, rank""".stripMargin),
    // table maintenance: CDC merge-apply (last-writer-wins + tombstones,
    // the foreachBatch-MERGE shape), key-skew diagnostics, compaction plan
    Entry("q_cdc_apply", MaintenanceOps.cdcApply,
      """WITH latest AS (
        |  SELECT user_id, event_type, value FROM (
        |    SELECT user_id, event_type, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |snap AS (
        |  SELECT c_custkey AS key, c_name AS name, c_acctbal AS snap_val
        |  FROM customer WHERE c_custkey >= 50 AND c_custkey < 300)
        |SELECT COALESCE(s.key, l.user_id) AS key, s.name,
        |  CASE WHEN l.user_id IS NULL THEN s.snap_val ELSE l.value END AS val,
        |  CASE WHEN l.user_id IS NULL THEN 'unchanged'
        |       WHEN s.key IS NULL THEN 'insert'
        |       ELSE 'update' END AS action
        |FROM snap s FULL OUTER JOIN latest l ON s.key = l.user_id
        |WHERE COALESCE(l.event_type, '') <> 'error'
        |ORDER BY key""".stripMargin),
    Entry("q_skew_report", MaintenanceOps.skewReport,
      """WITH li AS (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey),
        |o AS (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
        |e AS (SELECT COUNT(*) AS cnt FROM events GROUP BY user_id),
        |u AS (
        |  SELECT 'lineitem.l_orderkey' AS key_col, * FROM li
        |  UNION ALL SELECT 'orders.o_custkey', * FROM o
        |  UNION ALL SELECT 'events.user_id', * FROM e)
        |SELECT key_col, COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |  MAX(cnt) AS max_cnt,
        |  quantile_cont(CAST(cnt AS DOUBLE), 0.5) AS p50_cnt,
        |  quantile_cont(CAST(cnt AS DOUBLE), 0.99) AS p99_cnt,
        |  CAST(MAX(cnt) AS DOUBLE) / AVG(cnt) AS skew_ratio
        |FROM u GROUP BY key_col ORDER BY key_col""".stripMargin),
    Entry("q_compaction_plan", MaintenanceOps.compactionPlan,
      """WITH p AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    COUNT(DISTINCT doc_id % 20) AS files_now
        |  FROM documents GROUP BY source, lang),
        |q AS (
        |  SELECT *, GREATEST(1, (total_chars + 65535) // 65536) AS planned_files
        |  FROM p)
        |SELECT source, lang, n_docs, total_chars, files_now, planned_files,
        |  GREATEST(0, files_now - planned_files) AS files_saved
        |FROM q ORDER BY source, lang""".stripMargin),
    // snapshot-to-snapshot reconciliation by content checksum
    Entry("q_data_diff", MaintenanceOps.dataDiff, {
      val sum1 = h32Sql("text")
      val sum2 = h32Sql("CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END")
      s"""WITH v1 AS (
        |  SELECT doc_id, source, $sum1 AS sum1
        |  FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (
        |  SELECT doc_id, source AS source2, $sum2 AS sum2
        |  FROM documents WHERE doc_id % 13 <> 0),
        |j AS (
        |  SELECT COALESCE(v1.source, v2.source2) AS source,
        |    CASE WHEN v1.sum1 IS NULL THEN 'added'
        |         WHEN v2.sum2 IS NULL THEN 'removed'
        |         WHEN v1.sum1 = v2.sum2 THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT source, status, COUNT(*) AS n_docs
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }),
    // behavioral analytics: staged conversion funnel, weekly retention
    // cohorts, and per-day L-infinity distribution-drift monitoring
    Entry("q_funnel", BehaviorOps.funnel,
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3, MIN(s2.t2) AS t2
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT 1 AS stage, 'signup' AS stage_name, COUNT(*) AS n_users,
        |  CAST(NULL AS DOUBLE) AS avg_delta_us FROM s1
        |UNION ALL SELECT 2, 'click', COUNT(*),
        |  AVG(epoch_us(t2) - epoch_us(t1)) FROM s2
        |UNION ALL SELECT 3, 'purchase', COUNT(*),
        |  AVG(epoch_us(t3) - epoch_us(t2)) FROM s3
        |ORDER BY stage""".stripMargin),
    Entry("q_retention", BehaviorOps.retention,
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS INT) AS week
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id)
        |SELECT c.cohort_week, ev.week - c.cohort_week AS week_offset,
        |  COUNT(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN c ON ev.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // gaps-and-islands activity streaks (one window, no self-join)
    Entry("q_streaks", BehaviorOps.streaks,
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (
        |  SELECT user_id, day,
        |    (day - DATE '1970-01-01')
        |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM days),
        |runs AS (SELECT user_id, island, COUNT(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_streaks, MAX(len) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS active_days
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin),
    // behavioral analytics: per-day L-infinity drift monitor
    Entry("q_drift_linf", BehaviorOps.driftLinf,
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS o
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT day, CAST(SUM(o) AS BIGINT) AS day_total FROM c GROUP BY day),
        |t AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS type_total
        |      FROM c GROUP BY event_type),
        |g AS (SELECT CAST(SUM(type_total) AS BIGINT) AS grand FROM t),
        |x AS (
        |  SELECT d.day, d.day_total, t.type_total, g.grand, COALESCE(c.o, 0) AS o
        |  FROM d CROSS JOIN t CROSS JOIN g
        |  LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type)
        |SELECT day, day_total AS n_events,
        |  MAX(ABS(CAST(o AS DOUBLE) / day_total
        |          - CAST(type_total AS DOUBLE) / grand)) AS linf_drift
        |FROM x GROUP BY day, day_total ORDER BY day""".stripMargin),
    // profiling: count-min-sketch heavy hitters (exact audit beside) and
    // join-key inference via distinct-set containment
    Entry("q_heavy_hitters", ProfileOps.heavyHitters, {
      // 4 hash functions = 4 disjoint 8-hex slices of ONE md5 digest
      val bucketSql =
        "CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1 + 8 * CAST(depth AS INT), 8)) AS BIGINT) % 64"
      s"""WITH d AS (SELECT unnest(range(4)) AS depth),
        |cms AS (
        |  SELECT depth, $bucketSql AS bucket, COUNT(*) AS cell
        |  FROM lineitem CROSS JOIN d GROUP BY 1, 2),
        |exact AS (SELECT l_partkey, COUNT(*) AS exact FROM lineitem GROUP BY 1),
        |probe AS (
        |  SELECT e.l_partkey, e.exact, d.depth, $bucketSql AS bucket
        |  FROM exact e CROSS JOIN d),
        |est AS (
        |  SELECT p.l_partkey, p.exact, MIN(c.cell) AS est
        |  FROM probe p JOIN cms c ON c.depth = p.depth AND c.bucket = p.bucket
        |  GROUP BY 1, 2)
        |SELECT l_partkey, est, exact, est - exact AS overestimate
        |FROM est ORDER BY est DESC, l_partkey LIMIT 10""".stripMargin
    }),
    Entry("q_fk_profile", ProfileOps.fkProfile, {
      def pairSql(ct: String, cc: String, pt: String, pc: String): String =
        s"""SELECT '$ct.$cc' AS child_col, '$pt.$pc' AS parent_col,
          |  CAST(SUM(is_c) AS BIGINT) AS n_child_keys,
          |  CAST(SUM(is_p) AS BIGINT) AS n_parent_keys,
          |  CAST(SUM(is_c * is_p) AS BIGINT) AS n_matched,
          |  CAST(SUM(is_c * is_p) AS DOUBLE) / SUM(is_c) AS containment,
          |  SUM(is_c * is_p) = SUM(is_c) AS is_fk_candidate
          |FROM (
          |  SELECT COALESCE(c.is_c, 0) AS is_c, COALESCE(p.is_p, 0) AS is_p
          |  FROM (SELECT DISTINCT $cc AS k, 1 AS is_c FROM $ct) c
          |  FULL OUTER JOIN (SELECT DISTINCT $pc AS k, 1 AS is_p FROM $pt) p
          |  ON c.k = p.k)""".stripMargin
      Seq(
        pairSql("lineitem", "l_orderkey", "orders", "o_orderkey"),
        pairSql("lineitem", "l_partkey", "part", "p_partkey"),
        pairSql("orders", "o_custkey", "customer", "c_custkey"),
        pairSql("events", "user_id", "customer", "c_custkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY child_col, parent_col")
    }),
    // distributed OLS: one exact-moment aggregate, closed-form fit at the
    // O(groups) output edge — how a linear scorer trains at 100 TB
    // same exact int64 moments, same fixed double association order as
    // the Spark side — slope/intercept/r2 round identically
    Entry("q_ols_fit", ProfileOps.olsFit,
      s"""WITH m AS (
        |  SELECT lang, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM (
        |    SELECT lang,
        |      CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS x,
        |      CAST(n_chars AS BIGINT) AS y
        |    FROM documents)
        |  GROUP BY lang)
        |SELECT lang, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS slope,
        |  (CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS intercept,
        |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    / nullif((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0) AS r2
        |FROM m ORDER BY lang""".stripMargin),
    // equi-depth histogram: exact-percentile split points + broadcast
    // bucket assignment — the range-partition balance statistic
    // same exact i/8 quantile boundaries (binary fractions, identical
    // interpolation both engines — the q_quantiles precedent), same
    // closed-left `>` bucket rule
    Entry("q_equidepth", ProfileOps.equidepth, {
      val bsList = (1 until graft.queries.ProfileOps.EquidepthBuckets)
        .map(i => i.toDouble / graft.queries.ProfileOps.EquidepthBuckets)
        .mkString("[", ", ", "]")
      val bucketExpr = (1 until graft.queries.ProfileOps.EquidepthBuckets)
        .map(i => s"CAST(price > bs[$i] AS INT)").mkString(" + ")
      s"""WITH l AS (SELECT CAST(l_extendedprice AS DOUBLE) AS price FROM lineitem),
        |b AS (SELECT quantile_cont(price, $bsList) AS bs FROM l)
        |SELECT bucket, COUNT(*) AS n, MIN(price) AS lo, MAX(price) AS hi
        |FROM (SELECT price, 1 + $bucketExpr AS bucket FROM l CROSS JOIN b)
        |GROUP BY bucket ORDER BY bucket""".stripMargin
    }),
    // event-time lateness profile: the watermark-sizing statistic
    // same running-max window over the same arrival order; lateness is
    // exact integer microseconds, percentiles the q_quantiles contract
    Entry("q_lateness_profile", ProfileOps.latenessProfile,
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |l AS (SELECT event_type,
        |    MAX(ts_us) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ts_us AS late_us
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE late_us > 0) AS n_late,
        |  quantile_cont(CAST(late_us AS DOUBLE), 0.5) AS p50_late_us,
        |  quantile_cont(CAST(late_us AS DOUBLE), 0.99) AS p99_late_us,
        |  MAX(late_us) AS max_late_us,
        |  CAST(COUNT(*) FILTER (WHERE late_us > 0) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS late_rate
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin),
    // one-pass numeric column profile (catalog "describe")
    // four single-scan profile legs; COUNT(DISTINCT) ignores NULLs in
    // both engines, min/max cast to DOUBLE after aggregation
    Entry("q_column_profile", ProfileOps.columnProfile, {
      def leg(t: String, c: String) =
        s"""SELECT '$t.$c' AS column_name, COUNT(*) AS n_rows, COUNT($c) AS n_nonnull,
          |  COUNT(DISTINCT $c) AS n_distinct,
          |  CAST(MIN($c) AS DOUBLE) AS min_val, CAST(MAX($c) AS DOUBLE) AS max_val
          |FROM $t""".stripMargin
      s"""SELECT * FROM (
        |${leg("orders", "o_orderkey")}
        |UNION ALL
        |${leg("orders", "o_custkey")}
        |UNION ALL
        |${leg("orders", "o_totalprice")}
        |UNION ALL
        |${leg("events", "value")})
        |ORDER BY column_name""".stripMargin
    }),
    // Gini concentration per priority: exact integer-cents rank sums
    // exact integer-cents rank sums (the q1_agg DECIMAL cast), one
    // fixed-association double expression at the end
    Entry("q_gini", ProfileOps.gini,
      """WITH c AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |    ORDER BY cents, o_orderkey) AS i FROM c),
        |a AS (SELECT o_orderpriority, COUNT(*) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS s,
        |    CAST(SUM(i * cents) AS BIGINT) AS s1
        |  FROM r GROUP BY o_orderpriority)
        |SELECT o_orderpriority, n, s AS total_cents,
        |  2.0 * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
        |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
        |FROM a ORDER BY o_orderpriority""".stripMargin),
    // robust outlier profile: element-picked median + MAD per group
    // element-picked lower medians (never interpolated) so every value is
    // a datum and |x-med|, the second pick, and the 3*MAD comparison are
    // single IEEE ops — identical in both engines
    Entry("q_mad_outliers", ProfileOps.madOutliers,
      """WITH e AS (SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL),
        |r1 AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM e),
        |med AS (SELECT event_type, value AS med FROM r1 WHERE rn = (cnt + 1) // 2),
        |d AS (SELECT e.event_type, e.event_id, m.med, ABS(e.value - m.med) AS dev
        |      FROM e JOIN med m USING (event_type)),
        |r2 AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (cnt + 1) // 2)
        |SELECT d.event_type, COUNT(*) AS n, MIN(d.med) AS med, MIN(m.mad) AS mad,
        |  COUNT(*) FILTER (WHERE d.dev > 3 * m.mad) AS n_outliers
        |FROM d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),
    // incremental view maintenance: signed delta aggregate merged into a
    // stored view — O(delta+view) refresh, base never rescanned
    // the oracle RECOMPUTES the final state from scratch — the abelian
    // merge in MaintenanceOps.ivmApply must equal it group for group;
    // final set algebra: (B \ D) ∪ I  =  k%7=0 ∨ k%11≠0
    Entry("q_ivm_agg", MaintenanceOps.ivmApply,
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
        |FROM orders
        |WHERE o_orderkey % 7 = 0 OR o_orderkey % 11 <> 0
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    // JOIN-view IVM: bilinear signed delta (dA*B + A*dB + dA*dB) merged
    // into the stored aggregate view; neither base table rescanned
    // recompute over the FINAL state of BOTH tables — the gate proving
    // the bilinear delta expansion merges to exactly the recomputed view
    Entry("q_ivm_join", MaintenanceOps.ivmJoin,
      """WITH fo AS (SELECT o_orderkey AS ok, o_custkey FROM orders
        |  WHERE o_orderkey % 7 = 0 OR o_orderkey % 11 <> 0),
        |fl AS (SELECT l_orderkey AS ok, CAST(l_quantity AS DECIMAL(12,2)) AS qty
        |  FROM lineitem
        |  WHERE (l_orderkey + l_linenumber) % 13 = 0
        |     OR (l_orderkey + l_linenumber) % 17 <> 0)
        |SELECT o_custkey, COUNT(*) AS n_pairs,
        |  CAST(SUM(qty) AS DOUBLE) AS sum_qty
        |FROM fo JOIN fl USING (ok)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    // two-proportion z-test between experiment arms, one scan-reduce
    // all four inputs are exact conditional counts from ONE scan; the z
    // arithmetic is mirrored node for node (olsFit association precedent)
    Entry("q_ab_test", BehaviorOps.abTest, {
      val zSql = "(p_a - p_b) / sqrt(p_pool * (1.0 - p_pool) * " +
        "(1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
      s"""WITH c AS (SELECT
        |    COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n_a,
        |    COUNT(*) FILTER (WHERE user_id % 2 = 0 AND event_type = 'purchase') AS conv_a,
        |    COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n_b,
        |    COUNT(*) FILTER (WHERE user_id % 2 = 1 AND event_type = 'purchase') AS conv_b
        |  FROM events),
        |p AS (SELECT *,
        |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
        |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
        |    (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS p_pool
        |  FROM c)
        |SELECT n_a, conv_a, n_b, conv_b, p_a, p_b, $zSql AS z,
        |  ABS($zSql) > ${graft.queries.BehaviorOps.AbZCrit} AS significant
        |FROM p""".stripMargin
    }),
    // corpus-slice vocabulary profile: hapax + inverse-Simpson diversity
    // same whitespace tokenizer as every text entry; integer algebra up
    // to the single double division for the diversity index
    Entry("q_vocab_profile", TextOps.vocabProfile,
      """WITH tk AS (
        |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, COUNT(*) AS n FROM tk GROUP BY source, tok)
        |SELECT source,
        |  CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_types,
        |  COUNT(*) FILTER (WHERE n = 1) AS n_hapax,
        |  CAST(SUM(n * n) AS BIGINT) AS sum_sq,
        |  CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE) / CAST(SUM(n * n) AS DOUBLE) AS inv_simpson
        |FROM c GROUP BY source ORDER BY source""".stripMargin),
    // chi-square independence over the arm x type contingency table,
    // order-pinned fold so even the float statistic hash-matches
    // Σ(O−E)²/E is an order-dependent double sum, so BOTH engines fold
    // the cell terms in (arm, type) order: Spark aggregate-over-
    // sort_array ≡ DuckDB list_reduce-over-ordered-list
    Entry("q_chisq", BehaviorOps.chisq,
      s"""WITH cells AS (
        |  SELECT user_id % 2 AS arm, event_type, COUNT(*) AS o
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT arm, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY arm),
        |t AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY event_type),
        |g AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        |x AS (SELECT c.arm, c.event_type, c.o, g.n,
        |    CAST(r.rt AS DOUBLE) * CAST(t.ct AS DOUBLE) / CAST(g.n AS DOUBLE) AS e
        |  FROM cells c JOIN r USING (arm) JOIN t USING (event_type) CROSS JOIN g),
        |y AS (SELECT arm, event_type, n,
        |    (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS term
        |  FROM x)
        |SELECT MIN(n) AS n_events, COUNT(*) AS n_cells,
        |  list_reduce(list(term ORDER BY arm, event_type), (a, b) -> a + b) AS chisq,
        |  (COUNT(DISTINCT arm) - 1) * (COUNT(DISTINCT event_type) - 1) AS df,
        |  list_reduce(list(term ORDER BY arm, event_type), (a, b) -> a + b)
        |    > ${graft.queries.BehaviorOps.ChisqCrit} AS significant
        |FROM y""".stripMargin),
    // top first-k user-journey paths across gap-sessions
    // same gap-sessionize CTE as q_sessionize, then an ordered
    // string_agg ≡ Spark's sorted-collect array_join
    Entry("q_session_paths", BehaviorOps.sessionPaths, {
      val gapUs = graft.streaming.Sessionize.GapMs * 1000L
      val k = graft.queries.BehaviorOps.PathSteps
      s"""WITH g AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $gapUs
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY ts, event_id) AS step
        |  FROM s),
        |p AS (
        |  SELECT user_id, session_seq, string_agg(event_type, '>' ORDER BY step) AS path
        |  FROM r WHERE step <= $k GROUP BY user_id, session_seq)
        |SELECT path, COUNT(*) AS n_sessions, COUNT(DISTINCT user_id) AS n_users
        |FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 15""".stripMargin
    }),
    // rolling 7-day distinct users via bounded x7 contribution explode
    // the same x7 contribution expansion; anchors restricted to ACTIVE
    // days on both sides
    Entry("q_rolling_dau", BehaviorOps.rollingDau,
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |c AS (SELECT day + CAST(x.i AS INT) AS g_day, day, user_id
        |      FROM du CROSS JOIN (SELECT unnest(range(7)) AS i) x),
        |f AS (SELECT * FROM c WHERE g_day IN (SELECT day FROM du))
        |SELECT g_day,
        |  COUNT(DISTINCT CASE WHEN day = g_day THEN user_id END) AS dau_1d,
        |  COUNT(DISTINCT user_id) AS dau_7d
        |FROM f GROUP BY g_day ORDER BY g_day""".stripMargin),
    // per-user EWMA: the ordered fold a combining aggregate can't express
    // the identical left fold: first element is the seed in BOTH
    // engines (list_reduce ≡ aggregate-with-first-as-init), and α=1/4
    // makes every coefficient an exact double
    Entry("q_ewma", BehaviorOps.ewma, ewmaSql),
    // the ewma fold as mapGroupsWithState state (batch-mode twin)
    // the SAME fold carried as mapGroupsWithState state (one oracle,
    // two plans: collect_list HOF fold vs per-key stateful fold)
    Entry("q_ewma_state", graft.streaming.EwmaState.ewmaStateBatch, ewmaSql),
    // zone-map skip-ratio audit: clustered vs unclustered column pruning
    // zones are exact per-file min/max; both probes and the monthly file
    // rule are shared constants, so the audit rows match exactly
    Entry("q_zonemap_audit", MaintenanceOps.zonemapAudit, {
      import graft.queries.MaintenanceOps.{ZoneDateLo, ZoneDateHi, ZonePriceGt}
      val dateSkip  = s"d_max < $ZoneDateLo OR d_min > $ZoneDateHi"
      val priceSkip = s"p_max <= $ZonePriceGt"
      def leg(name: String, skip: String) =
        s"""SELECT '$name' AS predicate, COUNT(*) AS n_files,
          |  COUNT(*) FILTER (WHERE $skip) AS n_skipped,
          |  CAST(COALESCE(SUM(CASE WHEN $skip THEN n_rows END), 0) AS BIGINT) AS rows_skipped,
          |  CAST(COUNT(*) FILTER (WHERE $skip) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS skip_ratio
          |FROM z""".stripMargin
      s"""WITH o AS (SELECT
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS file_id,
        |    CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
        |    CAST(o_totalprice AS DOUBLE) AS price
        |  FROM orders),
        |z AS (SELECT file_id, COUNT(*) AS n_rows,
        |    MIN(day_idx) AS d_min, MAX(day_idx) AS d_max,
        |    MIN(price) AS p_min, MAX(price) AS p_max
        |  FROM o GROUP BY file_id)
        |SELECT * FROM (${leg("date_between", dateSkip)}
        |UNION ALL
        |${leg("price_gt", priceSkip)})
        |ORDER BY predicate""".stripMargin
    }),
    // fixed-point PageRank over the customer-supplier trade graph:
    // 3 unrolled BSP iterations, one edge-shuffle each, integer-exact
    // unrolled fixed-point iterations — every division is integral
    // truncation on positive values, so ranks are bit-identical
    Entry("q_pagerank", GraphOps.pagerank, {
      import graft.queries.GraphOps.{PrBaseNum, PrDampNum, PrIters, PrScale}
      val iterCtes = (1 to PrIters).map { k =>
        s"""r$k AS (
          |  SELECT d.node, d.deg,
          |    $PrBaseNum + ($PrDampNum * COALESCE(SUM(r.pr // r.deg), 0)) // $PrScale AS pr
          |  FROM deg d
          |  LEFT JOIN edges e ON e.dst = d.node
          |  LEFT JOIN r${k - 1} r ON r.node = e.src
          |  GROUP BY d.node, d.deg)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT c AS src, s AS dst FROM pairs
        |          UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT node, deg, CAST($PrScale AS BIGINT) AS pr FROM deg),
        |$iterCtes
        |SELECT node // 2 AS entity_key,
        |  CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END AS kind,
        |  CAST(pr AS BIGINT) AS pr
        |FROM r$PrIters
        |ORDER BY pr DESC, kind, entity_key LIMIT 20""".stripMargin
    }),
    // deterministic q-digest quantile sketch + truth audit vs the exact
    // deciles (completes the sketch quartet: CMS, HLL, MinHash, quantiles)
    // the same level-synchronous q-digest sweep unrolled as 16 CTE rounds
    // (the PCA chain precedent); the quantile walk replays as a window
    // cumsum + MIN-over-suffix, provably equal to the engine's sorted
    // array fold (upper is the leading sort key, so the first crossing
    // node has the minimal upper)
    Entry("q_qdigest", ProfileOps.qdigest, {
      import graft.queries.ProfileOps.{QdK, QdLevels, QdUniverse}
      // the keep predicate carries the root clamp (level >= QdLevels) the
      // engine's sweep applies — a no-op on this level-0 build, mirrored
      // so the two sweeps stay textually equivalent for merge input too
      val rounds = (0 until QdLevels).map { i =>
        s"""s${i + 1} AS (SELECT level, bin, SUM(c) AS c, done, MAX(t) AS t FROM (
           |    SELECT CASE WHEN done OR c >= t OR level >= $QdLevels THEN level ELSE level + 1 END AS level,
           |           CASE WHEN done OR c >= t OR level >= $QdLevels THEN bin ELSE bin // 2 END AS bin,
           |           c, (done OR c >= t OR level >= $QdLevels) AS done, t
           |    FROM s$i) GROUP BY level, bin, done)""".stripMargin
      }.mkString(",\n")
      s"""WITH h0 AS MATERIALIZED (
        |  SELECT GREATEST(LEAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT),
        |      ${QdUniverse - 1}), 0) AS bin, COUNT(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    GREATEST(SUM(c) // $QdK, 1) AS t FROM h0),
        |s0 AS (SELECT 0 AS level, bin, c, FALSE AS done, t FROM h0 CROSS JOIN tot),
        |$rounds,
        |digest AS MATERIALIZED (
        |  SELECT level, bin, CAST(SUM(c) AS BIGINT) AS c FROM s$QdLevels GROUP BY 1, 2),
        |nodes AS (SELECT LEAST((bin + 1) * (CAST(1 AS BIGINT) << level) - 1,
        |    ${QdUniverse - 1}) AS upper, level, bin, c FROM digest),
        |cum AS (SELECT *, SUM(c) OVER (ORDER BY upper, level, bin) AS cum FROM nodes),
        |h0cum AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum FROM h0),
        |nn AS (SELECT (SELECT COUNT(*) FROM digest) AS n_nodes, n, t FROM tot),
        |q AS (SELECT unnest(range(1, 10)) AS p, n, n_nodes, t FROM nn),
        |q2 AS (SELECT p, (p * n + 9) // 10 AS target, n_nodes, t FROM q),
        |est AS (SELECT q2.p, q2.target, q2.n_nodes, q2.t,
        |    CAST(MIN(cum.upper) AS BIGINT) AS est_cents
        |  FROM q2 JOIN cum ON cum.cum >= q2.target GROUP BY 1, 2, 3, 4),
        |tru AS (SELECT q2.p, CAST(MIN(h0cum.bin) AS BIGINT) AS true_cents
        |  FROM q2 JOIN h0cum ON h0cum.cum >= q2.target GROUP BY 1),
        |rk AS (SELECT e.p,
        |    CAST(COALESCE(SUM(h.c) FILTER (WHERE h.bin <= e.est_cents), 0) AS BIGINT) AS rank_of_est,
        |    CAST(COALESCE(SUM(h.c) FILTER (WHERE h.bin < e.est_cents), 0) AS BIGINT) AS rank_below_est
        |  FROM est e LEFT JOIN h0 h ON h.bin <= e.est_cents GROUP BY 1)
        |SELECT CAST(e.p * 10 AS INT) AS phi_pct, CAST(e.target AS BIGINT) AS target_rank,
        |  e.est_cents, t2.true_cents, rk.rank_of_est,
        |  GREATEST(0, rk.rank_below_est + 1 - e.target, e.target - rk.rank_of_est) AS abs_rank_err,
        |  CAST(2 * $QdLevels * e.t AS BIGINT) AS err_bound,
        |  CAST(e.n_nodes AS BIGINT) AS n_nodes
        |FROM est e JOIN tru t2 USING (p) JOIN rk USING (p) ORDER BY phi_pct""".stripMargin
    }),
    // the MERGE law as a distributed plan: per-event-type digests built
    // independently, union-and-recompressed, audited vs the global truth
    // the per-type sweep (threshold per shard) then the merged sweep —
    // both the identical 16-round CASE text as q_qdigest, the first with
    // the shard key carried through every GROUP BY; same-(level, bin)
    // nodes COMBINE before the merged sweep (engine pre-combines too);
    // report tail identical to q_qdigest against the GLOBAL histogram
    Entry("q_qdigest_merge", ProfileOps.qdigestMerge, {
      import graft.queries.ProfileOps.{QdK, QdLevels, QdUniverse}
      def sweep(pfx: String, grp: String) = (0 until QdLevels).map { i =>
        s"""$pfx${i + 1} AS (SELECT ${grp}level, bin, SUM(c) AS c, done, MAX(t) AS t FROM (
           |    SELECT ${grp}CASE WHEN done OR c >= t OR level >= $QdLevels THEN level ELSE level + 1 END AS level,
           |           CASE WHEN done OR c >= t OR level >= $QdLevels THEN bin ELSE bin // 2 END AS bin,
           |           c, (done OR c >= t OR level >= $QdLevels) AS done, t
           |    FROM $pfx$i) GROUP BY ${grp}level, bin, done)""".stripMargin
      }.mkString(",\n")
      s"""WITH h0t AS MATERIALIZED (
        |  SELECT event_type AS et,
        |    GREATEST(LEAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT),
        |      ${QdUniverse - 1}), 0) AS bin, COUNT(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT et, GREATEST(SUM(c) // $QdK, 1) AS t FROM h0t GROUP BY et),
        |p0 AS (SELECT h0t.et, 0 AS level, bin, c, FALSE AS done, t
        |  FROM h0t JOIN tt USING (et)),
        |${sweep("p", "et, ")},
        |dsrc AS MATERIALIZED (
        |  SELECT level, bin, CAST(SUM(c) AS BIGINT) AS c FROM p$QdLevels GROUP BY 1, 2),
        |h0 AS MATERIALIZED (SELECT bin, CAST(SUM(c) AS BIGINT) AS c FROM h0t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    GREATEST(SUM(c) // $QdK, 1) AS t FROM h0),
        |s0 AS (SELECT level, bin, c, FALSE AS done, t FROM dsrc CROSS JOIN tot),
        |${sweep("s", "")},
        |digest AS MATERIALIZED (
        |  SELECT level, bin, CAST(SUM(c) AS BIGINT) AS c FROM s$QdLevels GROUP BY 1, 2),
        |nodes AS (SELECT LEAST((bin + 1) * (CAST(1 AS BIGINT) << level) - 1,
        |    ${QdUniverse - 1}) AS upper, level, bin, c FROM digest),
        |cum AS (SELECT *, SUM(c) OVER (ORDER BY upper, level, bin) AS cum FROM nodes),
        |h0cum AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum FROM h0),
        |nn AS (SELECT (SELECT COUNT(*) FROM digest) AS n_nodes, n, t FROM tot),
        |q AS (SELECT unnest(range(1, 10)) AS p, n, n_nodes, t FROM nn),
        |q2 AS (SELECT p, (p * n + 9) // 10 AS target, n_nodes, t FROM q),
        |est AS (SELECT q2.p, q2.target, q2.n_nodes, q2.t,
        |    CAST(MIN(cum.upper) AS BIGINT) AS est_cents
        |  FROM q2 JOIN cum ON cum.cum >= q2.target GROUP BY 1, 2, 3, 4),
        |tru AS (SELECT q2.p, CAST(MIN(h0cum.bin) AS BIGINT) AS true_cents
        |  FROM q2 JOIN h0cum ON h0cum.cum >= q2.target GROUP BY 1),
        |rk AS (SELECT e.p,
        |    CAST(COALESCE(SUM(h.c) FILTER (WHERE h.bin <= e.est_cents), 0) AS BIGINT) AS rank_of_est,
        |    CAST(COALESCE(SUM(h.c) FILTER (WHERE h.bin < e.est_cents), 0) AS BIGINT) AS rank_below_est
        |  FROM est e LEFT JOIN h0 h ON h.bin <= e.est_cents GROUP BY 1)
        |SELECT CAST(e.p * 10 AS INT) AS phi_pct, CAST(e.target AS BIGINT) AS target_rank,
        |  e.est_cents, t2.true_cents, rk.rank_of_est,
        |  GREATEST(0, rk.rank_below_est + 1 - e.target, e.target - rk.rank_of_est) AS abs_rank_err,
        |  CAST(2 * $QdLevels * e.t AS BIGINT) AS err_bound,
        |  CAST(e.n_nodes AS BIGINT) AS n_nodes
        |FROM est e JOIN tru t2 USING (p) JOIN rk USING (p) ORDER BY phi_pct""".stripMargin
    }),
    // HyperLogLog distinct-user estimate, register-level and replayable
    // by the oracle; daily sketches max-merged into the per-type state
    // register index + leading-zero rank replayed from the same md5
    // slices; Σ 2^(33-M_r) is an exact integer sum, and the one float op
    // (the final division) uses the digit-identical numerator constant
    Entry("q_hll_distinct", ProfileOps.hllDistinct, {
      import graft.queries.ProfileOps.{HllEstNum, HllRegisters}
      val estSql =
        s"$HllEstNum / CAST(s_present + ($HllRegisters - n_registers) * 8589934592 AS DOUBLE)"
      s"""WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ${h32Sql("CAST(user_id AS VARCHAR)")} % $HllRegisters AS r,
        |    CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rk
        |  FROM (SELECT *,
        |      CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT) AS w
        |    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)),
        |daily AS (SELECT event_type, day, r, MAX(rk) AS m_r FROM e GROUP BY 1, 2, 3),
        |merged AS (SELECT event_type, r, MAX(m_r) AS m_r FROM daily GROUP BY 1, 2),
        |agg AS (SELECT event_type, COUNT(*) AS n_registers,
        |    CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - m_r AS INT)) AS BIGINT) AS s_present
        |  FROM merged GROUP BY 1),
        |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_exact, n_registers, $estSql AS hll_est,
        |  ($estSql - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
        |FROM agg JOIN ex USING (event_type) ORDER BY event_type""".stripMargin
    }),
    // Shannon entropy of the categorical catalog columns, fixed-point
    // per-value log2 quantized via the identical floor(x·2^20 + 0.5);
    // the weighted sums are exact (HUGEINT here, DECIMAL(38,0) on the
    // Spark side), so only the mirrored final division runs in floats
    Entry("q_entropy_profile", ProfileOps.entropyProfile, {
      import graft.queries.ProfileOps.EntScale
      def leg(name: String, tbl: String, c: String): String =
        s"""SELECT '$name' AS dim, CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS k,
          |  CAST(CAST(SUM(cnt) AS HUGEINT)
          |        * CAST(floor(log2(CAST(SUM(cnt) AS DOUBLE)) * $EntScale.0 + 0.5) AS BIGINT)
          |      - SUM(CAST(cnt AS HUGEINT) * lc) AS DOUBLE)
          |    / (CAST(SUM(cnt) AS DOUBLE) * $EntScale.0) AS entropy_bits
          |FROM (SELECT COUNT(*) AS cnt,
          |    CAST(floor(log2(CAST(COUNT(*) AS DOUBLE)) * $EntScale.0 + 0.5) AS BIGINT) AS lc
          |  FROM $tbl WHERE $c IS NOT NULL GROUP BY $c)""".stripMargin
      s"""SELECT * FROM (
        |${leg("events.event_type", "events", "event_type")}
        |UNION ALL
        |${leg("documents.lang", "documents", "lang")}
        |UNION ALL
        |${leg("documents.source", "documents", "source")})
        |ORDER BY dim""".stripMargin
    }),
    // market-basket pair co-occurrence with support + lift, cap-guarded
    // the cap is applied to baskets BEFORE pair formation in both
    // engines; lift is exact integer products under one division
    Entry("q_basket_pairs", BehaviorOps.basketPairs, {
      import graft.queries.BehaviorOps.{BasketTopK, MaxBasketItems}
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |sized AS (SELECT ok FROM lp GROUP BY ok
        |  HAVING COUNT(*) BETWEEN 2 AND $MaxBasketItems),
        |items AS (SELECT lp.ok, lp.pk FROM lp JOIN sized USING (ok)),
        |ic AS (SELECT pk, COUNT(*) AS n_item FROM items GROUP BY pk),
        |nb AS (SELECT COUNT(*) AS n_baskets FROM sized),
        |pairs AS (SELECT a.pk AS pk_a, b.pk AS pk_b, COUNT(*) AS n_co
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2)
        |SELECT pk_a, pk_b, n_co, ia.n_item AS n_a, ib.n_item AS n_b,
        |  CAST(nb.n_baskets * n_co AS DOUBLE)
        |    / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
        |FROM pairs
        |JOIN ic ia ON ia.pk = pairs.pk_a
        |JOIN ic ib ON ib.pk = pairs.pk_b
        |CROSS JOIN nb
        |ORDER BY n_co DESC, pk_a, pk_b LIMIT $BasketTopK""".stripMargin
    }),
    // per-user time-weighted (hold-duration) average via exact moments
    // identical per-row quantization (floor ·10⁴, integral-div seconds),
    // exact integer/128-bit sums, one mirrored final division
    Entry("q_time_weighted", BehaviorOps.timeWeighted, {
      import graft.queries.BehaviorOps.TwScale
      s"""WITH e AS (SELECT user_id, ts, event_id, value FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |d AS (SELECT user_id,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |      - epoch_us(ts) AS delta_us,
        |    CAST(floor(value * $TwScale.0) AS BIGINT) AS v_scaled
        |  FROM e),
        |f AS (SELECT user_id, delta_us // 1000000 AS dur_s, v_scaled
        |  FROM d WHERE delta_us IS NOT NULL)
        |SELECT user_id, COUNT(*) AS n_spans, CAST(SUM(dur_s) AS BIGINT) AS span_s,
        |  CAST(SUM(CAST(v_scaled AS HUGEINT) * dur_s) AS DOUBLE)
        |    / ($TwScale.0 * CAST(nullif(CAST(SUM(dur_s) AS BIGINT), 0) AS DOUBLE)) AS twa
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin
    }),
    // inverted-index build: df + total tf + truncated postings per term
    // same tokenizer, same per-term rank truncation; postings ordered
    // numerically then stringified in both engines
    Entry("q_inverted_index", TextOps.invertedIndex, {
      import graft.queries.TextOps.PostingsCap
      s"""WITH t AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |  FROM tf)
        |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
        |  string_agg(CASE WHEN rn <= $PostingsCap THEN CAST(doc_id AS VARCHAR) END,
        |             ',' ORDER BY doc_id) AS postings
        |FROM r GROUP BY term ORDER BY df DESC, term LIMIT 20""".stripMargin
    }),
    // oriented triangle census of the part co-purchase graph
    // same id-order orientation (u < v, b < c), same basket cap and
    // support threshold — every count is integer-exact
    Entry("q_triangles", GraphOps.triangles, {
      import graft.queries.BehaviorOps.MaxBasketItems
      import graft.queries.GraphOps.TriMinSupport
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |sized AS (SELECT ok FROM lp GROUP BY ok
        |  HAVING COUNT(*) BETWEEN 2 AND $MaxBasketItems),
        |items AS (SELECT lp.ok, lp.pk FROM lp JOIN sized USING (ok)),
        |edges AS (SELECT a.pk AS u, b.pk AS v
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport),
        |deg AS (SELECT node, COUNT(*) AS deg FROM
        |  (SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
        |  GROUP BY node),
        |-- n_wedges is the orientation-invariant path-of-length-2 count
        |-- straight off the degree table (the Spark twin's definition);
        |-- the id-ordered candidate join below only finds triangles,
        |-- which ARE invariant under any total-order orientation
        |cand AS (SELECT e1.u, e1.v AS b, e2.v AS c
        |  FROM edges e1 JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v),
        |tris AS (SELECT * FROM cand w
        |  WHERE EXISTS (SELECT 1 FROM edges e WHERE e.u = w.b AND e.v = w.c))
        |SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
        |  (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
        |  (SELECT COUNT(*) FROM tris) AS n_triangles,
        |  CAST(3 * (SELECT COUNT(*) FROM tris) AS DOUBLE)
        |    / CAST((SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS DOUBLE)
        |    AS closure_rate""".stripMargin
    }),
    // CMS inner-product join-size estimate with exact audit (est >= exact)
    // same one-digest bucket slices as q_heavy_hitters on BOTH join
    // sides; inner products exact (HUGEINT / DECIMAL(38,0))
    Entry("q_join_size_est", ProfileOps.joinSizeEst, {
      def bucketSql(k: String) =
        s"CAST(concat('0x', substr(md5(CAST($k AS VARCHAR)), 1 + 8 * CAST(depth AS INT), 8)) AS BIGINT) % 64"
      s"""WITH d AS (SELECT unnest(range(4)) AS depth),
        |la AS (SELECT depth, ${bucketSql("l_orderkey")} AS bucket, COUNT(*) AS ca
        |  FROM lineitem CROSS JOIN d GROUP BY 1, 2),
        |ob AS (SELECT depth, ${bucketSql("o_orderkey")} AS bucket, COUNT(*) AS cb
        |  FROM orders CROSS JOIN d GROUP BY 1, 2),
        |de AS (SELECT la.depth, SUM(CAST(ca AS HUGEINT) * cb) AS depth_est
        |  FROM la JOIN ob ON la.depth = ob.depth AND la.bucket = ob.bucket
        |  GROUP BY 1),
        |est AS (SELECT CAST(MIN(depth_est) AS BIGINT) AS est FROM de),
        |ex AS (SELECT CAST(SUM(CAST(na AS HUGEINT) * nb) AS BIGINT) AS exact FROM
        |  (SELECT l_orderkey, COUNT(*) AS na FROM lineitem GROUP BY 1) a JOIN
        |  (SELECT o_orderkey, COUNT(*) AS nb FROM orders GROUP BY 1) b
        |  ON a.l_orderkey = b.o_orderkey)
        |SELECT 'lineitem*orders@orderkey' AS join_key, est, exact,
        |  est - exact AS overestimate
        |FROM est CROSS JOIN ex""".stripMargin
    }),
    // 80% Pareto point per priority: integer cumsum, cross-multiplied test
    // exact integer cents, explicit ROWS cumsum frame, integer 5:4
    // cross-multiplication — float only in the final share
    Entry("q_pareto", ProfileOps.pareto,
      """WITH o AS (SELECT o_orderpriority AS pri, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT pri, cents, o_orderkey,
        |    row_number() OVER (PARTITION BY pri ORDER BY cents DESC, o_orderkey) AS rk,
        |    SUM(cents) OVER (PARTITION BY pri ORDER BY cents DESC, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM o),
        |t AS (SELECT pri, COUNT(*) AS n_orders,
        |    CAST(SUM(cents) AS BIGINT) AS total_cents FROM o GROUP BY 1)
        |SELECT r.pri, t.n_orders, t.total_cents, CAST(MIN(rk) AS BIGINT) AS n_top80,
        |  CAST(MIN(rk) AS DOUBLE) / CAST(t.n_orders AS DOUBLE) AS top_share
        |FROM r JOIN t ON r.pri = t.pri
        |WHERE cum * 5 >= total_cents * 4
        |GROUP BY r.pri, t.n_orders, t.total_cents ORDER BY r.pri""".stripMargin),
    // (dow, hour) seasonal baseline + 3-sigma anomaly counts per cell
    // integer calendar dow (neither engine's dayofweek numbering), exact
    // moments, mirrored mean/σ arithmetic, 3σ flags on identical doubles
    Entry("q_seasonal_anomaly", BehaviorOps.seasonalAnomaly, {
      import graft.queries.BehaviorOps.TwScale
      s"""WITH e AS (SELECT
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS dow,
        |    hour(ts) AS hr,
        |    CAST(floor(value * $TwScale.0) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |b AS (SELECT dow, hr, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sv,
        |    SUM(CAST(v AS HUGEINT) * v) AS svv FROM e GROUP BY 1, 2),
        |m AS (SELECT dow, hr, n,
        |    CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean_scaled,
        |    sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
        |          - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
        |         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sd_scaled
        |  FROM b)
        |SELECT e.dow, e.hr, m.n, m.mean_scaled / $TwScale.0 AS mean_value,
        |  m.sd_scaled / $TwScale.0 AS sd_value,
        |  COUNT(*) FILTER (WHERE abs(CAST(v AS DOUBLE) - mean_scaled)
        |                   > 3.0 * sd_scaled) AS n_anomalies
        |FROM e JOIN m ON e.dow = m.dow AND e.hr = m.hr
        |GROUP BY e.dow, e.hr, m.n, m.mean_scaled, m.sd_scaled
        |ORDER BY e.dow, e.hr""".stripMargin
    }),
    // RFM quartile grid occupancy from exact population quantiles
    // identical exact-quantile boundaries (integer inputs, shared
    // interpolation) and the same >-comparison scoring on both sides
    Entry("q_rfm", BehaviorOps.rfm, {
      def over(v: String, b: String) =
        s"(($v > $b[1])::INT + ($v > $b[2])::INT + ($v > $b[3])::INT)"
      s"""WITH pc AS (SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_od,
        |    COUNT(*) AS f,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS m
        |  FROM orders GROUP BY 1),
        |h AS (SELECT MAX(last_od) AS hz FROM pc),
        |r AS (SELECT pc.*, datediff('day', last_od, hz) AS rec_days
        |  FROM pc CROSS JOIN h),
        |b AS (SELECT quantile_cont(rec_days, [0.25, 0.5, 0.75]) AS rb,
        |    quantile_cont(f, [0.25, 0.5, 0.75]) AS fb,
        |    quantile_cont(m, [0.25, 0.5, 0.75]) AS mb FROM r),
        |s AS (SELECT CAST(4 - ${over("rec_days", "rb")} AS BIGINT) AS r_score,
        |    CAST(1 + ${over("f", "fb")} AS BIGINT) AS f_score,
        |    CAST(1 + ${over("m", "mb")} AS BIGINT) AS m_score, m
        |  FROM r CROSS JOIN b)
        |SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
        |  CAST(SUM(m) AS BIGINT) AS total_cents
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
    }),
    // pairwise event-type audience Jaccard (bounded per-user fan-out)
    // distinct (type, user) pairs feed both the sizes and the pair
    // intersection; |A∪B| stays integer until the final division
    Entry("q_audience_overlap", BehaviorOps.audienceOverlap,
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |sz AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_both
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  CAST(n_both AS DOUBLE) / CAST(sa.n + sb.n - n_both AS DOUBLE) AS jaccard
        |FROM p JOIN sz sa ON sa.event_type = p.type_a
        |JOIN sz sb ON sb.event_type = p.type_b
        |ORDER BY type_a, type_b""".stripMargin),
    // dedup ROI: cluster-size histogram over the CC label frame
    // the q_dedup_cc label chain, then two aggregates and a scalar total
    Entry("q_cluster_profile", TextOps.clusterProfile,
      s"""$minhashBandedCtes,
        |rep AS (
        |  SELECT band_id, band_key, min(doc_id) AS rep
        |  FROM banded GROUP BY band_id, band_key),
        |star AS (
        |  SELECT DISTINCT r.rep AS src, b.doc_id AS dst
        |  FROM banded b JOIN rep r USING (band_id, band_key) WHERE r.rep <> b.doc_id),
        |edges AS (SELECT src, dst FROM star UNION SELECT dst AS src, src AS dst FROM star),
        |walk AS (
        |  WITH RECURSIVE wr(doc_id, reach) AS (
        |    SELECT doc_id, doc_id FROM documents
        |    UNION
        |    SELECT w.doc_id, e.dst FROM wr w JOIN edges e ON e.src = w.reach)
        |  SELECT * FROM wr),
        |lab AS (SELECT doc_id, min(reach) AS component_id FROM walk GROUP BY doc_id),
        |cs AS (SELECT component_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_total FROM lab)
        |SELECT cluster_size, COUNT(*) AS n_clusters,
        |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(cluster_size * COUNT(*) AS DOUBLE) / CAST(n_total AS DOUBLE) AS doc_pct
        |FROM cs CROSS JOIN tot
        |GROUP BY cluster_size, n_total ORDER BY cluster_size""".stripMargin),
    // MinHash accuracy audit: signature estimate vs exact Jaccard per
    // LSH candidate pair
    // same signature battery (minhashSigSql) and band buckets; exact
    // Jaccard over distinct token hashes, pair-restricted
    Entry("q_minhash_est", TextOps.minhashEst, {
      val matchSum = (0 until 12)
        .map(i => s"(sa.sig$i = sb.sig$i)::INT").mkString(" + ")
      s"""$minhashBandedCtes,
        |hd AS (SELECT DISTINCT doc_id, unnest(th) AS hh FROM h),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        |  FROM banded a JOIN banded b
        |    ON a.band_id = b.band_id AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id
        |  WHERE (a.doc_id + b.doc_id) % ${graft.queries.TextOps.MinhashAuditMod} = 0),
        |m AS (SELECT p.doc_id_a, p.doc_id_b, $matchSum AS n_match
        |  FROM pairs p
        |  JOIN sig sa ON sa.doc_id = p.doc_id_a
        |  JOIN sig sb ON sb.doc_id = p.doc_id_b),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM hd GROUP BY 1),
        |iv AS (SELECT p.doc_id_a, p.doc_id_b, COUNT(*) AS n_inter
        |  FROM pairs p
        |  JOIN hd a ON a.doc_id = p.doc_id_a
        |  JOIN hd b ON b.doc_id = p.doc_id_b AND b.hh = a.hh
        |  GROUP BY 1, 2)
        |SELECT m.doc_id_a, m.doc_id_b,
        |  CAST(n_match AS DOUBLE) / 12.0 AS est_sim,
        |  CAST(COALESCE(n_inter, 0) AS DOUBLE)
        |    / CAST(sa.sz + sb.sz - COALESCE(n_inter, 0) AS DOUBLE) AS jaccard,
        |  CAST(n_match AS DOUBLE) / 12.0
        |    - CAST(COALESCE(n_inter, 0) AS DOUBLE)
        |      / CAST(sa.sz + sb.sz - COALESCE(n_inter, 0) AS DOUBLE) AS err
        |FROM m
        |LEFT JOIN iv ON iv.doc_id_a = m.doc_id_a AND iv.doc_id_b = m.doc_id_b
        |JOIN sz sa ON sa.doc_id = m.doc_id_a
        |JOIN sz sb ON sb.doc_id = m.doc_id_b
        |ORDER BY m.doc_id_a, m.doc_id_b""".stripMargin
    }),
    // trade-graph degree histogram by node kind (the skew early warning)
    Entry("q_degree_profile", GraphOps.degreeProfile,
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cd AS (SELECT c, COUNT(*) AS deg FROM pairs GROUP BY 1),
        |sd AS (SELECT s, COUNT(*) AS deg FROM pairs GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'customer' AS kind, deg, COUNT(*) AS n_nodes FROM cd GROUP BY deg
        |  UNION ALL
        |  SELECT 'supplier' AS kind, deg, COUNT(*) AS n_nodes FROM sd GROUP BY deg)
        |ORDER BY kind, deg""".stripMargin),
    // first-order Markov transition matrix over per-user event sequences
    // same lead() sequence (ties on event_id), row totals from the cell
    // frame itself, one division per cell
    Entry("q_markov_next", BehaviorOps.markovNext,
      """WITH seq AS (SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |cells AS (SELECT cur, nxt, COUNT(*) AS n FROM seq
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT cur, nxt, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY cur) AS DOUBLE) AS p
        |FROM cells ORDER BY cur, nxt""".stripMargin),
    // Kaplan-Meier user-lifetime survival with right-censoring
    // identical left-fold product per prefix: list_reduce seeded by the
    // first factor ≡ aggregate seeded 1.0 (1.0·f1 is exact)
    Entry("q_survival", BehaviorOps.survival, {
      import graft.queries.BehaviorOps.SurvCensorDays
      s"""WITH pu AS (SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS first_d,
        |    MAX(CAST(o_orderdate AS DATE)) AS last_d
        |  FROM orders GROUP BY 1),
        |hz AS (SELECT MAX(last_d) AS hz FROM pu),
        |lv AS (SELECT datediff('day', first_d, last_d) // 7 AS lifetime,
        |    datediff('day', last_d, hz) < $SurvCensorDays AS censored
        |  FROM pu CROSS JOIN hz),
        |dd AS (SELECT lifetime AS week, COUNT(*) AS d FROM lv
        |  WHERE NOT censored GROUP BY 1),
        |rk AS (SELECT dd.week, COUNT(*) AS r FROM lv
        |  JOIN dd ON lv.lifetime >= dd.week GROUP BY 1),
        |ar AS (SELECT list(struct_pack(week := dd.week, d := dd.d, r := rk.r)
        |    ORDER BY dd.week) AS arr
        |  FROM dd JOIN rk USING (week)),
        |ix AS (SELECT generate_subscripts(arr, 1) AS i, arr FROM ar)
        |SELECT arr[i].week AS week, CAST(arr[i].d AS BIGINT) AS deaths,
        |  CAST(arr[i].r AS BIGINT) AS at_risk,
        |  list_reduce(list_transform(arr[1:i],
        |    x -> 1.0 - CAST(x.d AS DOUBLE) / CAST(x.r AS DOUBLE)),
        |    (a, b) -> a * b) AS survival
        |FROM ix ORDER BY week""".stripMargin
    }),
    // cohort LTV triangle: integer-cents cumsum per acquisition month
    // integer month index (year*12+month), exact cents, explicit ROWS
    // cumsum frame, one final division
    Entry("q_cohort_ltv", BehaviorOps.cohortLtv,
      """WITH o AS (SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m_idx,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |fm AS (SELECT o_custkey, MIN(m_idx) AS cohort_m FROM o GROUP BY 1),
        |sz AS (SELECT cohort_m, COUNT(*) AS n_customers FROM fm GROUP BY 1),
        |cells AS (SELECT fm.cohort_m, o.m_idx - fm.cohort_m AS offset_m,
        |    CAST(SUM(cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN fm USING (o_custkey) GROUP BY 1, 2)
        |SELECT cells.cohort_m, offset_m, n_customers, rev_cents,
        |  CAST(SUM(rev_cents) OVER (PARTITION BY cells.cohort_m ORDER BY offset_m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
        |  CAST(SUM(rev_cents) OVER (PARTITION BY cells.cohort_m ORDER BY offset_m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(n_customers AS DOUBLE) AS ltv_cents
        |FROM cells JOIN sz ON sz.cohort_m = cells.cohort_m
        |ORDER BY cells.cohort_m, offset_m""".stripMargin),
    // k-NN majority-vote classification over the held-out vectors
    // same cosine fold, same K, ties to the smaller label in both engines
    Entry("q_knn_classify", VectorOps.knnClassify, {
      import graft.queries.VectorOps.{KnnHoldoutMod, KnnK}
      s"""WITH e AS (SELECT vec_id, label, embedding, len(embedding) AS n
        |  FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, label AS true_label,
        |    embedding AS p_emb, n FROM e WHERE vec_id % $KnnHoldoutMod = 0),
        |tr AS (SELECT vec_id AS neighbor_id, label AS n_label, embedding, n
        |  FROM e WHERE vec_id % $KnnHoldoutMod <> 0),
        |pairs AS (SELECT pr.probe_id, pr.true_label, tr.n_label, tr.neighbor_id,
        |    ${cosSql("pr.p_emb", "tr.embedding", "pr.n")} AS cos_sim
        |  FROM pr JOIN tr ON tr.neighbor_id <> pr.probe_id),
        |tk AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM pairs) WHERE rnk <= $KnnK),
        |v AS (SELECT probe_id, true_label, n_label, COUNT(*) AS n_votes
        |  FROM tk GROUP BY 1, 2, 3)
        |SELECT probe_id, true_label, n_label AS pred_label, n_votes,
        |  n_label = true_label AS is_correct
        |FROM (SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY probe_id ORDER BY n_votes DESC, n_label) AS vr FROM v)
        |WHERE vr = 1 ORDER BY probe_id""".stripMargin
    }),
    // per-class precision/recall/F1 of the heuristic language ID
    // the q_lang_id prediction chain, then class-cardinality aggregates
    // and nullif-guarded ratio arithmetic mirrored term for term
    Entry("q_langid_eval", TextOps.langIdEval, {
      val prec = "CAST(COALESCE(tp.tp, 0) AS DOUBLE) / nullif(CAST(COALESCE(pn.n_pred, 0) AS DOUBLE), 0.0)"
      val rec = "CAST(COALESCE(tp.tp, 0) AS DOUBLE) / nullif(CAST(COALESCE(sup.support, 0) AS DOUBLE), 0.0)"
      s"""$langIdCtes,
        |cls AS (SELECT lang AS cls FROM p UNION SELECT pred_lang FROM p),
        |sup AS (SELECT lang AS cls, COUNT(*) AS support FROM p GROUP BY 1),
        |pn AS (SELECT pred_lang AS cls, COUNT(*) AS n_pred FROM p GROUP BY 1),
        |tp AS (SELECT lang AS cls, COUNT(*) AS tp FROM p
        |  WHERE pred_lang = lang GROUP BY 1)
        |SELECT cls.cls AS lang_class,
        |  COALESCE(sup.support, 0) AS support,
        |  COALESCE(pn.n_pred, 0) AS n_pred,
        |  COALESCE(tp.tp, 0) AS tp,
        |  $prec AS prec, $rec AS rec,
        |  2.0 * ($prec) * ($rec) / nullif(($prec) + ($rec), 0.0) AS f1
        |FROM cls
        |LEFT JOIN sup ON sup.cls = cls.cls
        |LEFT JOIN pn ON pn.cls = cls.cls
        |LEFT JOIN tp ON tp.cls = cls.cls
        |ORDER BY lang_class""".stripMargin
    }),
    // deterministic hash-rank exemplars per (lang, source) stratum
    // same md5 hash-rank, same (hk, doc_id) tie order
    Entry("q_group_exemplars", CurationOps.groupExemplars, {
      import graft.queries.CurationOps.ExemplarsPerGroup
      s"""SELECT lang, source, CAST(rn AS BIGINT) AS exemplar_rank, doc_id, preview
        |FROM (
        |  SELECT lang, source, doc_id, substr(text, 1, 60) AS preview,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= $ExemplarsPerGroup
        |ORDER BY lang, source, exemplar_rank""".stripMargin
    }),
    // Pearson correlation matrix from one scan of exact integer moments
    // same hundredths-scaled integer moments (squares as HUGEINT — the
    // DECIMAL(38,0) twin), same double combination order per pair.
    // The double cast routes through VARCHAR: DuckDB's direct
    // HUGEINT→DOUBLE cast is NOT correctly rounded above 2^63 (measured
    // 4096 off on the price² moment at sf0.1), while string→double is —
    // and Spark's Decimal→Double is correctly rounded, so the detour is
    // what makes the two engines agree bitwise.
    Entry("q_corr_matrix", StatsOps.corrMatrix, {
      val cols = Seq("quantity", "extendedprice", "discount", "tax")
      val moments = cols.map(c => s"SUM($c) AS s_$c") ++
        (for (x <- cols; y <- cols if x <= y)
          yield s"SUM(CAST($x AS HUGEINT) * $y) AS s_${x}_$y")
      def dbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      val legs = for (x <- cols; y <- cols if x < y) yield {
        val num = s"(${dbl("n")} * ${dbl(s"s_${x}_$y")} - ${dbl(s"s_$x")} * ${dbl(s"s_$y")})"
        val dx  = s"(${dbl("n")} * ${dbl(s"s_${x}_$x")} - ${dbl(s"s_$x")} * ${dbl(s"s_$x")})"
        val dy  = s"(${dbl("n")} * ${dbl(s"s_${y}_$y")} - ${dbl(s"s_$y")} * ${dbl(s"s_$y")})"
        s"SELECT '$x' AS x, '$y' AS y, n, $num / nullif(sqrt($dx * $dy), 0.0) AS corr FROM m"
      }
      s"""WITH li AS (SELECT
        |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS quantity,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS extendedprice,
        |    CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS discount,
        |    CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) AS tax
        |  FROM lineitem),
        |m AS (SELECT COUNT(*) AS n, ${moments.mkString(", ")} FROM li)
        |SELECT * FROM (${legs.mkString(" UNION ALL ")}) ORDER BY x, y""".stripMargin
    }),
    // daily-series lag-1..7 autocorrelation (the seasonality detector)
    // same days-sized lagged equi-join, same exact moments per lag
    Entry("q_autocorr", StatsOps.autocorr, {
      import graft.queries.StatsOps.AutocorrMaxLag
      def dbl(c: String) = s"CAST($c AS DOUBLE)"
      // VARCHAR detour for the HUGEINT cross-moments (see q_ttest_welch)
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      s"""WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    COUNT(*) AS cnt
        |  FROM orders GROUP BY 1),
        |lagged AS (SELECT lag, day + lag AS probe_day, cnt AS x
        |  FROM daily CROSS JOIN (SELECT CAST(unnest(range(1, ${AutocorrMaxLag + 1})) AS BIGINT) AS lag)),
        |pairs AS (SELECT lag, x, d2.cnt AS y FROM lagged JOIN daily d2 ON probe_day = d2.day),
        |m AS (SELECT lag, COUNT(*) AS n_pairs,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM pairs GROUP BY lag)
        |SELECT lag, n_pairs,
        |  (${dbl("n_pairs")} * ${hdbl("sxy")} - ${dbl("sx")} * ${dbl("sy")})
        |    / nullif(sqrt((${dbl("n_pairs")} * ${hdbl("sxx")} - ${dbl("sx")} * ${dbl("sx")})
        |         * (${dbl("n_pairs")} * ${hdbl("syy")} - ${dbl("sy")} * ${dbl("sy")})), 0.0) AS autocorr
        |FROM m ORDER BY lag""".stripMargin
    }),
    // first-digit Benford conformance audit, quantized integer-log expected
    // digits from the same exact cents integer; the expected mass is a
    // difference of quantized integer log10s, so it matches bitwise
    Entry("q_benford", StatsOps.benford, {
      import graft.queries.StatsOps.LogScale
      s"""WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM orders),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit, COUNT(*) AS n
        |  FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM d)
        |SELECT digit, n, pct, benford_pct, abs(pct - benford_pct) AS abs_dev
        |FROM (
        |  SELECT digit, n,
        |    CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS pct,
        |    CAST(CAST(floor(log10(CAST(digit + 1 AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)
        |       - CAST(floor(log10(CAST(digit AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT) AS DOUBLE)
        |      / $LogScale.0 AS benford_pct
        |  FROM d CROSS JOIN t)
        |ORDER BY digit""".stripMargin
    }),
    // exact-rational two-sample KS distance via two-level prefix sums
    // the oracle may use the single global cumsum the Spark plan is
    // banned from (DuckDB has no 100 TB to serialize); D is the same
    // exact rational max|C1*n2 - C2*n1| / (n1*n2)
    Entry("q_ks_test", StatsOps.ksTest, {
      import graft.queries.StatsOps.{KsSourceA, KsSourceB}
      s"""WITH d AS (SELECT n_chars AS v, source FROM documents
        |  WHERE source IN ('$KsSourceA', '$KsSourceB')),
        |pv AS (SELECT v,
        |    SUM(CASE WHEN source = '$KsSourceA' THEN 1 ELSE 0 END) AS c1,
        |    SUM(CASE WHEN source = '$KsSourceB' THEN 1 ELSE 0 END) AS c2
        |  FROM d GROUP BY v),
        |cum AS (SELECT v,
        |    SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        |    SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
        |  FROM pv),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM pv),
        |dev AS (SELECT v, CAST(abs(f1 * n2 - f2 * n1) AS BIGINT) AS dnum, n1, n2
        |  FROM cum CROSS JOIN t),
        |dm AS (SELECT MAX(dnum) AS d_num FROM dev)
        |SELECT n1, n2, CAST(MIN(v) AS BIGINT) AS at_value, d_num,
        |  CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS d_stat
        |FROM dev JOIN dm ON dnum = d_num
        |GROUP BY n1, n2, d_num""".stripMargin
    }),
    // per-type max-deviation changepoint over daily volumes
    // same (type, day) reduction, same integer deviation, min-day tiebreak
    Entry("q_changepoint", StatsOps.changepoint,
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, day,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS t,
        |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
        |  FROM daily),
        |tot AS (SELECT event_type, COUNT(*) AS n_days, CAST(SUM(cnt) AS BIGINT) AS total
        |  FROM daily GROUP BY 1),
        |dev AS (SELECT c.event_type, day, n_days, total,
        |    CAST(abs(prefix * n_days - t * total) AS BIGINT) AS dev
        |  FROM cum c JOIN tot USING (event_type)),
        |b AS (SELECT event_type, MAX(dev) AS max_dev FROM dev GROUP BY 1)
        |SELECT event_type, n_days, total, MIN(day) AS best_day,
        |  CAST(max_dev AS DOUBLE) / CAST(n_days * total AS DOUBLE) AS shift_frac
        |FROM dev JOIN b USING (event_type)
        |WHERE dev = max_dev
        |GROUP BY event_type, n_days, total, max_dev
        |ORDER BY event_type""".stripMargin),
    // BM25 ranking for a fixed query, integer-quantized idf
    // same integer idf quantization (logs of integers only), same
    // double normalization order, contribution quantized BEFORE the sum
    Entry("q_bm25", TextOps.bm25, {
      import graft.queries.TextOps.{BmB, BmK1, BmScale, BmTerms, BmTopK}
      val terms = BmTerms.map(t => s"'$t'").mkString(", ")
      def lnq(m: String) =
        s"CAST(floor(ln(CAST($m AS DOUBLE)) * $BmScale.0 + 0.5) AS BIGINT)"
      s"""WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM d),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        |        FROM documents)
        |  WHERE term IN ($terms) GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |c AS (SELECT doc_id,
        |    CAST(floor(
        |      CAST(${lnq("2 * n_docs + 2")} - ${lnq("2 * df + 1")} AS DOUBLE)
        |      * (CAST(tf AS DOUBLE) * ${BmK1 + 1.0}
        |         / (CAST(tf AS DOUBLE) + $BmK1 * (${1.0 - BmB}
        |            + $BmB * CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        |      + 0.5) AS BIGINT) AS contrib_q
        |  FROM tf JOIN dfreq USING (term) JOIN d USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(contrib_q) AS BIGINT) AS score_q,
        |  CAST(SUM(contrib_q) AS DOUBLE) / $BmScale.0 AS bm25
        |FROM c GROUP BY doc_id
        |ORDER BY score_q DESC, doc_id LIMIT $BmTopK""".stripMargin
    }),
    // per-source greedy token-budget allocation report
    // same longest-first prefix rule under the same budget constant
    Entry("q_token_budget", CurationOps.tokenBudget, {
      import graft.queries.CurationOps.TokenBudget
      s"""WITH d AS (SELECT source, doc_id, n_chars,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (SELECT source, tokens,
        |    SUM(tokens) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT source, COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN cum <= $TokenBudget THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN cum <= $TokenBudget THEN tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
        |  CAST(SUM(CASE WHEN cum <= $TokenBudget THEN tokens ELSE 0 END) AS DOUBLE)
        |    / $TokenBudget.0 AS fill_ratio
        |FROM c GROUP BY source ORDER BY source""".stripMargin
    }),
    // top-k per source with at most one doc per near-dup cluster
    // same min-shingle-hash cluster key (sorted list => element 1), same
    // singleton fallback for unshingleable docs, same two-window ranks
    Entry("q_diverse_topk", CurationOps.diverseTopk, {
      import graft.queries.CurationOps.DiverseK
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(range(0, len(tk) - 2),
        |      i -> ${h32Sql("concat(tk[i+1], ' ', tk[i+2], ' ', tk[i+3])")})))[1] AS cluster
        |  FROM t WHERE len(tk) >= 3),
        |d AS (SELECT source, documents.doc_id AS doc_id, n_chars,
        |    COALESCE(s.cluster, -documents.doc_id) AS cluster
        |  FROM documents LEFT JOIN s ON documents.doc_id = s.doc_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source, cluster
        |    ORDER BY n_chars DESC, doc_id) AS rn FROM d),
        |k AS (SELECT source, doc_id, cluster, n_chars,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS INT) AS rank_in_source
        |  FROM r WHERE rn = 1)
        |SELECT source, rank_in_source, doc_id, cluster, n_chars
        |FROM k WHERE rank_in_source <= $DiverseK
        |ORDER BY source, rank_in_source""".stripMargin
    }),
    // open-wedge common-neighbor / Adamic-Adar link prediction
    // same capped edge build as q_triangles, same integer Adamic-Adar
    // quantization (// is DuckDB's integer division, Spark's div)
    Entry("q_common_neighbors", GraphOps.commonNeighbors, {
      import graft.queries.BehaviorOps.MaxBasketItems
      import graft.queries.GraphOps.{AaScale, CnTopK, TriMinSupport}
      s"""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |sized AS (SELECT ok FROM lp GROUP BY ok
        |  HAVING COUNT(*) BETWEEN 2 AND $MaxBasketItems),
        |items AS (SELECT lp.ok, lp.pk FROM lp JOIN sized USING (ok)),
        |edges AS (SELECT a.pk AS u, b.pk AS v
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport),
        |adj AS (SELECT u AS w, v AS n FROM edges
        |  UNION ALL SELECT v AS w, u AS n FROM edges),
        |deg AS (SELECT w,
        |    ${AaScale * AaScale} // CAST(floor(ln(CAST(COUNT(*) AS DOUBLE)) * $AaScale.0 + 0.5) AS BIGINT) AS aa_w
        |  FROM adj GROUP BY w HAVING COUNT(*) >= 2),
        |pairs AS (SELECT x.w, x.n AS a, y.n AS b
        |  FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n),
        |open AS (SELECT * FROM pairs p
        |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = p.a AND e.v = p.b)),
        |s AS (SELECT a, b, COUNT(*) AS cn, CAST(SUM(aa_w) AS BIGINT) AS aa_q
        |  FROM open JOIN deg USING (w) GROUP BY 1, 2)
        |SELECT a, b, cn, aa_q, CAST(aa_q AS DOUBLE) / $AaScale.0 AS adamic_adar
        |FROM s ORDER BY cn DESC, aa_q DESC, a, b LIMIT $CnTopK""".stripMargin
    }),
    // item-item cosine neighbors over capped baskets ("also bought")
    // same basket cap before pair formation, same quantized cosine (every
    // input integer-exact, one sqrt + one division per pair)
    Entry("q_item_cf", BehaviorOps.itemCf,
      s"""WITH ${itemCfCtes()}
        |SELECT item, cf_rank, nbr, n_co, cos_q FROM r
        |WHERE cf_rank <= ${graft.queries.BehaviorOps.CfNeighbors}
        |ORDER BY item, cf_rank""".stripMargin),
    // item-CF hit-rate on an even/odd basket split with max-id holdout
    // same even/odd append-stable split, same CF chain on the train half,
    // same max-id holdout and applicable-basket denominator
    Entry("q_cf_eval", BehaviorOps.cfEval, {
      import graft.queries.BehaviorOps.{CfNeighbors, MaxBasketItems}
      s"""WITH ${itemCfCtes("WHERE l_orderkey % 2 = 0")},
        |cf AS (SELECT item, nbr FROM r WHERE cf_rank <= $CfNeighbors),
        |tlp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_orderkey % 2 = 1),
        |tsized AS (SELECT ok FROM tlp GROUP BY ok
        |  HAVING COUNT(*) BETWEEN 2 AND $MaxBasketItems),
        |titems AS (SELECT tlp.ok, tlp.pk FROM tlp JOIN tsized USING (ok)),
        |hold AS (SELECT ok, MAX(pk) AS holdout FROM titems GROUP BY ok),
        |ctx AS (SELECT t.ok, t.pk, h.holdout FROM titems t JOIN hold h USING (ok)
        |  WHERE t.pk <> h.holdout),
        |recs AS (SELECT DISTINCT ctx.ok, ctx.holdout, cf.nbr
        |  FROM ctx JOIN cf ON cf.item = ctx.pk),
        |hits AS (SELECT DISTINCT ok FROM recs WHERE nbr = holdout),
        |app AS (SELECT DISTINCT ok FROM ctx
        |  WHERE pk IN (SELECT DISTINCT item FROM cf))
        |SELECT (SELECT COUNT(*) FROM hold) AS n_test_baskets,
        |  (SELECT COUNT(*) FROM app) AS n_applicable,
        |  (SELECT COUNT(*) FROM hits) AS n_hits,
        |  CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
        |    / CAST((SELECT COUNT(*) FROM app) AS DOUBLE) AS hit_rate""".stripMargin
    }),
    // last-touch conversion attribution with day-resolution lookback
    // same (rank, day, code) int64 encoding under the same running MAX,
    // same day-resolution lookback, integer-cents revenue
    Entry("q_attribution", BehaviorOps.attribution, {
      import graft.queries.BehaviorOps.{AttrConvType, AttrLookbackDays, AttrTouch}
      val codeCase = AttrTouch.map { case (t, c) =>
        s"WHEN event_type = '$t' THEN rn * ${1L << 21} + day * 8 + $c"
      }.mkString(" ")
      val decode = AttrTouch.map { case (t, c) => s"WHEN $c THEN '$t'" }.mkString(" ")
      s"""WITH e AS (SELECT user_id, event_id, event_type, ts, value,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day
        |  FROM events),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS BIGINT) AS rn FROM e),
        |x AS (SELECT *, MAX(CASE $codeCase END) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_touch
        |  FROM r),
        |c AS (SELECT
        |    CASE WHEN last_touch IS NULL
        |           OR day - ((last_touch // 8) % ${1L << 18}) > $AttrLookbackDays THEN 'none'
        |         ELSE CASE (last_touch % 8) $decode END END AS channel,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM x WHERE event_type = '$AttrConvType')
        |SELECT channel, COUNT(*) AS n_conversions, CAST(SUM(cents) AS BIGINT) AS revenue_cents
        |FROM c GROUP BY channel ORDER BY channel""".stripMargin
    }),
    // 2-D Pareto frontier via the two-level prefix-max sweep
    // the oracle may take the single global cummax the Spark plan is
    // banned from; dominance rule and tie handling are identical
    Entry("q_skyline", OlapOps.skyline,
      """WITH p AS (SELECT CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    CAST(p_size AS BIGINT) AS size FROM part),
        |g AS (SELECT cents, size, COUNT(*) AS n_parts FROM p GROUP BY 1, 2),
        |best AS (SELECT cents, size, n_parts FROM (
        |    SELECT *, MAX(size) OVER (PARTITION BY cents) AS ms FROM g)
        |  WHERE size = ms),
        |c AS (SELECT *, MAX(size) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mlt FROM best)
        |SELECT cents AS price_cents, size AS max_size, n_parts
        |FROM c WHERE mlt IS NULL OR size > mlt
        |ORDER BY price_cents""".stripMargin),
    // rank-based Mann-Whitney U with exact doubled-midrank arithmetic
    // same doubled-midrank integers over the same per-value counts; the
    // oracle's global cumsum is the banned-in-Spark shortcut
    Entry("q_mann_whitney", StatsOps.mannWhitney, {
      import graft.queries.StatsOps.{KsSourceA, KsSourceB}
      s"""WITH d AS (SELECT n_chars AS v, source FROM documents
        |  WHERE source IN ('$KsSourceA', '$KsSourceB')),
        |pv AS (SELECT v,
        |    SUM(CASE WHEN source = '$KsSourceA' THEN 1 ELSE 0 END) AS c1,
        |    SUM(CASE WHEN source = '$KsSourceB' THEN 1 ELSE 0 END) AS c2
        |  FROM d GROUP BY v),
        |cum AS (SELECT v, c1, c2,
        |    SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        |    SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
        |  FROM pv),
        |m AS (SELECT CAST(MAX(f1) AS BIGINT) AS n1, CAST(MAX(f2) AS BIGINT) AS n2,
        |    CAST(SUM(c1 * (2 * (f1 + f2 - c1 - c2) + c1 + c2 + 1)) AS BIGINT) AS r1_2
        |  FROM cum)
        |SELECT n1, n2,
        |  CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |  CAST(2 * n1 * n2 - (r1_2 - n1 * (n1 + 1)) AS DOUBLE) / 2.0 AS u2,
        |  CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / CAST(2 * n1 * n2 AS DOUBLE) AS auc
        |FROM m""".stripMargin
    }),
    // Welch's unequal-variance t-test from one conditional-moment scan
    // same six conditional moments, same closed-form t and Welch df
    Entry("q_ttest_welch", StatsOps.welchTtest, {
      import graft.queries.StatsOps.{TtSegA, TtSegB}
      def mom(seg: String, t: String) =
        s"""SUM(CASE WHEN c_mktsegment = '$seg' THEN 1 ELSE 0 END) AS n$t,
          |    CAST(SUM(CASE WHEN c_mktsegment = '$seg' THEN cents ELSE 0 END) AS BIGINT) AS s$t,
          |    SUM(CASE WHEN c_mktsegment = '$seg' THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS ss$t""".stripMargin
      def dbl(c: String) = s"CAST($c AS DOUBLE)"
      // HUGEINT->DOUBLE is not correctly rounded above 2^63 (the
      // q_corr_matrix finding); route the squared-cents moments through
      // VARCHAR like q_corr_matrix/q_anova do
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      def mean(t: String) = s"(${dbl(s"s$t")} / ${dbl(s"n$t")})"
      def varv(t: String) =
        s"((${hdbl(s"ss$t")} - ${dbl(s"s$t")} * ${dbl(s"s$t")} / ${dbl(s"n$t")}) / (${dbl(s"n$t")} - 1.0))"
      val se1 = s"(${varv("1")} / ${dbl("n1")})"
      val se2 = s"(${varv("2")} / ${dbl("n2")})"
      s"""WITH c AS (SELECT c_mktsegment,
        |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM customer),
        |m AS (SELECT ${mom(TtSegA, "1")},
        |    ${mom(TtSegB, "2")}
        |  FROM c)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  ${mean("1")} AS mean1, ${mean("2")} AS mean2,
        |  (${mean("1")} - ${mean("2")}) / sqrt($se1 + $se2) AS t_stat,
        |  (($se1 + $se2) * ($se1 + $se2))
        |    / ($se1 * $se1 / (${dbl("n1")} - 1.0) + $se2 * $se2 / (${dbl("n2")} - 1.0)) AS welch_df
        |FROM m""".stripMargin
    }),
    // one-way ANOVA F with order-pinned cross-group float folds
    // same exact group moments; the cross-group float sums ride the same
    // sorted-list left fold as q_ewma/q_chisq so the order is pinned
    Entry("q_anova", StatsOps.anova,
      """WITH o AS (SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |g AS (SELECT grp, COUNT(*) AS n_g, CAST(SUM(cents) AS BIGINT) AS s_g,
        |    SUM(CAST(cents AS HUGEINT) * cents) AS ss_g
        |  FROM o GROUP BY grp),
        |t AS (SELECT COUNT(*) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(s_g) AS BIGINT) AS grand,
        |    list_reduce(list(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
        |        ORDER BY grp), (x, y) -> x + y) AS sum_sq_n,
        |    list_reduce(list(CAST(CAST(ss_g AS VARCHAR) AS DOUBLE) ORDER BY grp),
        |      (x, y) -> x + y) AS sum_ss
        |  FROM g),
        |s AS (SELECT k, n,
        |    sum_sq_n - CAST(grand AS DOUBLE) * CAST(grand AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
        |    sum_ss - sum_sq_n AS ssw
        |  FROM t)
        |SELECT k, n, ssb, ssw,
        |  (ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n - k AS DOUBLE)) AS f_stat,
        |  ssb / (ssb + ssw) AS eta_sq
        |FROM s""".stripMargin),
    // Spearman rank-correlation matrix via exact doubled midranks
    // same doubled midranks (window cumsum over distinct values replays
    // the engine's two-level prefix sum exactly), same DECIMAL moments
    Entry("q_spearman", StatsOps.spearman, {
      val cols = Seq("discount", "extendedprice", "quantity")
      val rts = cols.map { c =>
        s"""rt_$c AS (SELECT v, 2 * (f - c) + c + 1 AS rank2 FROM (
           |  SELECT v, c, SUM(c) OVER (ORDER BY v) AS f FROM (
           |    SELECT $c AS v, COUNT(*) AS c FROM li GROUP BY 1)))""".stripMargin
      }.mkString(",\n")
      val joins = cols.map(c => s"JOIN rt_$c ON li.$c = rt_$c.v").mkString(" ")
      val moments = cols.map(c => s"SUM(CAST(r_$c AS HUGEINT)) AS s_$c") ++
        (for (x <- cols; y <- cols if x <= y)
          yield s"SUM(CAST(r_$x AS HUGEINT) * r_$y) AS s_${x}_$y")
      def dbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      val legs = for (x <- cols; y <- cols if x < y) yield {
        val num = s"(${dbl("n")} * ${dbl(s"s_${x}_$y")} - ${dbl(s"s_$x")} * ${dbl(s"s_$y")})"
        val dx  = s"(${dbl("n")} * ${dbl(s"s_${x}_$x")} - ${dbl(s"s_$x")} * ${dbl(s"s_$x")})"
        val dy  = s"(${dbl("n")} * ${dbl(s"s_${y}_$y")} - ${dbl(s"s_$y")} * ${dbl(s"s_$y")})"
        s"SELECT '$x' AS x, '$y' AS y, n, $num / nullif(sqrt($dx * $dy), 0.0) AS rho FROM m"
      }
      s"""WITH li AS (SELECT
        |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS quantity,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS extendedprice,
        |    CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS discount
        |  FROM lineitem),
        |$rts,
        |j AS (SELECT ${cols.map(c => s"rt_$c.rank2 AS r_$c").mkString(", ")}
        |  FROM li $joins),
        |m AS (SELECT COUNT(*) AS n, ${moments.mkString(", ")} FROM j)
        |SELECT * FROM (${legs.mkString(" UNION ALL ")}) ORDER BY x, y""".stripMargin
    }),
    // Kruskal-Wallis rank H across order priorities, tie-corrected
    // same doubled midranks, same grp-ordered float fold (the anova
    // list_reduce), same exact HUGEINT tie moment via the VARCHAR detour
    Entry("q_kruskal", StatsOps.kruskal, {
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      s"""WITH o AS (SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |  FROM orders),
        |pv AS (SELECT v, COUNT(*) AS c FROM o GROUP BY 1),
        |rt AS (SELECT v, c,
        |    2 * (SUM(c) OVER (ORDER BY v) - c) + c + 1 AS rank2 FROM pv),
        |pg AS (SELECT grp, v, COUNT(*) AS cg FROM o GROUP BY 1, 2),
        |g AS (SELECT grp, CAST(SUM(cg) AS BIGINT) AS n_g,
        |    SUM(CAST(cg AS HUGEINT) * rank2) AS r2_g
        |  FROM pg JOIN rt USING (v) GROUP BY grp),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
        |    list_reduce(list(${hdbl("r2_g")} * ${hdbl("r2_g")}
        |        / (4.0 * CAST(n_g AS DOUBLE)) ORDER BY grp), (x, y) -> x + y) AS s
        |  FROM g),
        |ties AS (SELECT SUM(CAST(c AS HUGEINT) * c * c) - SUM(CAST(c AS HUGEINT)) AS t3 FROM pv),
        |f AS (SELECT k, n, s, ${hdbl("t3")} AS t3d, CAST(n AS DOUBLE) AS nd
        |  FROM t CROSS JOIN ties),
        |h AS (SELECT k, n,
        |    12.0 * s / (nd * (nd + 1.0)) - 3.0 * (nd + 1.0) AS h,
        |    1.0 - t3d / (nd * nd * nd - nd) AS tie_c
        |  FROM f)
        |SELECT k, n, h, tie_c, h / nullif(tie_c, 0.0) AS h_adj FROM h""".stripMargin
    }),
    // lead-lag cross-correlation between two daily event-count series
    // same days-sized lagged equi-join per signed lag, same exact moments
    Entry("q_xcorr", StatsOps.xcorr, {
      import graft.queries.StatsOps.{XcMaxLag, XcTypeA, XcTypeB}
      def dbl(c: String) = s"CAST($c AS DOUBLE)"
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      s"""WITH daily AS (
        |  SELECT event_type,
        |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |    COUNT(*) AS cnt
        |  FROM events WHERE event_type IN ('$XcTypeA', '$XcTypeB') GROUP BY 1, 2),
        |a AS (SELECT day, cnt AS x FROM daily WHERE event_type = '$XcTypeA'),
        |b AS (SELECT day, cnt AS y FROM daily WHERE event_type = '$XcTypeB'),
        |lagged AS (SELECT lag, day + lag AS probe, x FROM a CROSS JOIN
        |  (SELECT CAST(unnest(range(-$XcMaxLag, ${XcMaxLag + 1})) AS BIGINT) AS lag)),
        |m AS (SELECT lag, COUNT(*) AS n_pairs,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM lagged JOIN b ON probe = b.day GROUP BY lag)
        |SELECT lag, n_pairs,
        |  (${dbl("n_pairs")} * ${hdbl("sxy")} - ${dbl("sx")} * ${dbl("sy")})
        |    / nullif(sqrt((${dbl("n_pairs")} * ${hdbl("sxx")} - ${dbl("sx")} * ${dbl("sx")})
        |         * (${dbl("n_pairs")} * ${hdbl("syy")} - ${dbl("sy")} * ${dbl("sy")})), 0.0) AS xcorr
        |FROM m ORDER BY lag""".stripMargin
    }),
    // Theil-Sen median-slope robust monthly revenue trend per segment
    // same calendar-bounded monthly reduction, same exact-int slope
    // division, same (slope, mi1, mi2) lower-median rank selection
    Entry("q_theilsen", StatsOps.theilsen,
      """WITH monthly AS (
        |  SELECT c_mktsegment AS seg,
        |    CAST((year(CAST(o_orderdate AS DATE)) - 1992) * 12
        |      + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS mi,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |pairs AS (SELECT a.seg, a.mi AS mi1, b.mi AS mi2,
        |    CAST(b.cents - a.cents AS DOUBLE) / CAST(b.mi - a.mi AS DOUBLE) AS slope
        |  FROM monthly a JOIN monthly b ON a.seg = b.seg AND a.mi < b.mi),
        |rn AS (SELECT seg, mi1, mi2, slope,
        |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY slope, mi1, mi2) AS rn
        |  FROM pairs),
        |sizes AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_months,
        |    CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS n_pairs
        |  FROM monthly GROUP BY 1)
        |SELECT r.seg AS seg, n_months, n_pairs, slope AS median_slope
        |FROM rn r JOIN sizes s ON r.seg = s.seg
        |WHERE rn = (n_pairs + 1) // 2 ORDER BY r.seg""".stripMargin),
    // seed-teleport personalized PageRank over the trade graph
    // the pagerank unroll with teleport mass restricted to the seed set
    // (suppliers ≡ 0 mod PprSeedMod), same integer fixed point
    Entry("q_ppr", GraphOps.ppr, {
      import graft.queries.GraphOps.{PprSeedMod, PrBaseNum, PrDampNum, PrIters, PrScale}
      val seedSql = s"node % 2 = 1 AND ((node - 1) // 2) % $PprSeedMod = 0"
      val iterCtes = (1 to PrIters).map { k =>
        s"""r$k AS (
          |  SELECT d.node, d.deg,
          |    CASE WHEN ${seedSql.replace("node", "d.node")} THEN $PrBaseNum ELSE 0 END
          |      + ($PrDampNum * COALESCE(SUM(r.pr // r.deg), 0)) // $PrScale AS pr
          |  FROM deg d
          |  LEFT JOIN edges e ON e.dst = d.node
          |  LEFT JOIN r${k - 1} r ON r.node = e.src
          |  GROUP BY d.node, d.deg)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT c AS src, s AS dst FROM pairs
        |          UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT node, deg,
        |    CASE WHEN $seedSql THEN CAST($PrScale AS BIGINT) ELSE 0 END AS pr
        |  FROM deg),
        |$iterCtes
        |SELECT node // 2 AS entity_key,
        |  CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'customer' END AS kind,
        |  CAST(pr AS BIGINT) AS ppr
        |FROM r$PrIters
        |ORDER BY ppr DESC, kind, entity_key LIMIT 20""".stripMargin
    }),
    // NDCG@10 / MRR / recall@10 of a popularity ranker, exact-int metrics
    // same parity split, same literal discount weights, same integral
    // per-user quantization (DCG <= IDCG keeps every metric <= 10^6)
    Entry("q_ndcg", BehaviorOps.ndcg, {
      import graft.queries.BehaviorOps.{NdcgK, NdcgQScale, NdcgWeights}
      val wvals = NdcgWeights.zipWithIndex
        .map { case (w, i) => s"(${i + 1}, $w)" }.mkString(", ")
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      s"""WITH li AS (SELECT l_orderkey, l_partkey AS pk,
        |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS q
        |  FROM lineitem),
        |j AS (SELECT pk, q, o_custkey AS cust, o_orderkey % 2 AS par
        |  FROM li JOIN orders ON l_orderkey = o_orderkey),
        |wt AS (SELECT i, w FROM (VALUES $wvals) AS t(i, w)),
        |train AS (SELECT pk, CAST(SUM(q) AS BIGINT) AS pop
        |  FROM j WHERE par = 0 GROUP BY 1),
        |topw AS (SELECT pk, i, w FROM (
        |    SELECT pk, CAST(ROW_NUMBER() OVER (ORDER BY pop DESC, pk) AS BIGINT) AS i
        |    FROM train ORDER BY pop DESC, pk LIMIT $NdcgK) t JOIN wt USING (i)),
        |rel AS (SELECT cust, pk, CAST(SUM(q) AS BIGINT) AS rel
        |  FROM j WHERE par = 1 GROUP BY 1, 2),
        |base AS (SELECT cust, CAST(COUNT(*) AS BIGINT) AS m FROM rel GROUP BY 1),
        |idcg AS (SELECT cust, CAST(SUM(rel * w) AS BIGINT) AS idcg FROM (
        |    SELECT cust, rel, pk,
        |      CAST(ROW_NUMBER() OVER (PARTITION BY cust ORDER BY rel DESC, pk) AS BIGINT) AS rn
        |    FROM rel) r JOIN wt ON r.rn = wt.i
        |  GROUP BY cust),
        |dcg AS (SELECT cust, CAST(SUM(rel * w) AS BIGINT) AS dcg,
        |    CAST(MIN(t.i) AS BIGINT) AS first_hit, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM rel JOIN topw t USING (pk) GROUP BY cust),
        |per AS (SELECT
        |    COALESCE((COALESCE(dcg, 0) * $NdcgQScale) // NULLIF(idcg, 0), 0) AS ndcg_q,
        |    COALESCE($NdcgQScale // first_hit, 0) AS mrr_q,
        |    (COALESCE(n_hits, 0) * $NdcgQScale) // LEAST(m, $NdcgK) AS rec_q,
        |    CASE WHEN dcg IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM base b JOIN idcg USING (cust) LEFT JOIN dcg USING (cust))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  ${hdbl("SUM(ndcg_q)")} / (CAST(COUNT(*) AS DOUBLE) * $NdcgQScale.0) AS mean_ndcg,
        |  ${hdbl("SUM(mrr_q)")} / (CAST(COUNT(*) AS DOUBLE) * $NdcgQScale.0) AS mean_mrr,
        |  ${hdbl("SUM(rec_q)")} / (CAST(COUNT(*) AS DOUBLE) * $NdcgQScale.0) AS mean_recall,
        |  CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hit_rate
        |FROM per""".stripMargin
    }),
    // pairwise source shingle-Jaccard contamination matrix
    // same distinct (source, shingle) reduction, bounded per-shingle
    // fan-out, |A|+|B|-|A∩B| union arithmetic
    Entry("q_source_overlap", TextOps.sourceOverlap, {
      import graft.queries.TextOps.OverlapTopK
      s"""WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(0, len(tk) - 2),
        |    i -> ${h32Sql("concat(tk[i+1], ' ', tk[i+2], ' ', tk[i+3])")})) AS h
        |  FROM t WHERE len(tk) >= 3),
        |ss AS (SELECT DISTINCT source, sh2 AS sh
        |  FROM (SELECT d.source, unnest(s.h) AS sh2
        |        FROM sh s JOIN documents d USING (doc_id))),
        |c AS (SELECT source, COUNT(*) AS n_sh FROM ss GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
        |  FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2)
        |SELECT source_a, source_b, n_inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
        |  CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE) AS jaccard
        |FROM p JOIN c ca ON ca.source = p.source_a JOIN c cb ON cb.source = p.source_b
        |ORDER BY jaccard DESC, source_a, source_b LIMIT $OverlapTopK""".stripMargin
    }),
    // semi-supervised majority-vote label spread over near-dup components
    // same components (shared CTE), same majority vote + tiebreak, same
    // held-out accuracy arithmetic
    Entry("q_label_spread", TextOps.labelSpread, {
      import graft.queries.TextOps.SpreadSeedMod
      s"""$ccComponentCtes,
        |seeds AS (SELECT c.component_id, d.lang
        |  FROM comp c JOIN documents d USING (doc_id)
        |  WHERE c.doc_id % $SpreadSeedMod = 0),
        |votes AS (SELECT component_id, lang, COUNT(*) AS v FROM seeds GROUP BY 1, 2),
        |best AS (SELECT component_id, lang AS prop_lang FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY component_id
        |      ORDER BY v DESC, lang) AS rn FROM votes)
        |  WHERE rn = 1),
        |asg AS (SELECT b.prop_lang, d.lang
        |  FROM comp c JOIN best b USING (component_id)
        |  JOIN documents d USING (doc_id)
        |  WHERE c.doc_id % $SpreadSeedMod <> 0)
        |SELECT prop_lang, COUNT(*) AS n_assigned,
        |  CAST(SUM(CASE WHEN prop_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(SUM(CASE WHEN prop_lang = lang THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS accuracy
        |FROM asg GROUP BY prop_lang ORDER BY prop_lang""".stripMargin
    }),
    // HITS hubs/authorities, max-normalized fixed-point BSP rounds
    // same unrolled half-rounds, same integral max-normalization
    Entry("q_hits", GraphOps.hits, {
      import graft.queries.GraphOps.{HitsScale, HitsTopK}
      s"""WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |h0 AS (SELECT c, CAST($HitsScale AS BIGINT) AS h FROM (SELECT DISTINCT c FROM pairs)),
        |a1r AS (SELECT s, CAST(SUM(h) AS BIGINT) AS ar FROM pairs JOIN h0 USING (c) GROUP BY s),
        |a1 AS (SELECT s, (ar * $HitsScale) // (SELECT MAX(ar) FROM a1r) AS a FROM a1r),
        |h1r AS (SELECT c, CAST(SUM(a) AS BIGINT) AS hr FROM pairs JOIN a1 USING (s) GROUP BY c),
        |h1 AS (SELECT c, (hr * $HitsScale) // (SELECT MAX(hr) FROM h1r) AS h FROM h1r),
        |a2r AS (SELECT s, CAST(SUM(h) AS BIGINT) AS ar FROM pairs JOIN h1 USING (c) GROUP BY s),
        |a2 AS (SELECT s, (ar * $HitsScale) // (SELECT MAX(ar) FROM a2r) AS a FROM a2r),
        |h2r AS (SELECT c, CAST(SUM(a) AS BIGINT) AS hr FROM pairs JOIN a2 USING (s) GROUP BY c),
        |h2 AS (SELECT c, (hr * $HitsScale) // (SELECT MAX(hr) FROM h2r) AS h FROM h2r)
        |SELECT * FROM (
        |  (SELECT 'hub' AS kind, c AS entity_key, h AS score FROM h2
        |   ORDER BY score DESC, entity_key LIMIT $HitsTopK)
        |  UNION ALL
        |  (SELECT 'authority' AS kind, s AS entity_key, a AS score FROM a2
        |   ORDER BY score DESC, entity_key LIMIT $HitsTopK))
        |ORDER BY kind, score DESC, entity_key""".stripMargin
    }),
    // delete-one-bucket jackknife CI for the mean (deterministic resampling)
    // same md5 buckets, same exact bucket sums, same pinned float folds
    Entry("q_jackknife", StatsOps.jackknife, {
      import graft.queries.StatsOps.JkBuckets
      val bucket = h32Sql("CAST(o_orderkey AS VARCHAR)") + s" % $JkBuckets"
      s"""WITH o AS (SELECT $bucket AS bucket,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |b AS (SELECT bucket, COUNT(*) AS n_b, CAST(SUM(cents) AS BIGINT) AS s_b
        |  FROM o GROUP BY bucket),
        |t0 AS (SELECT COUNT(*) AS n_buckets, CAST(SUM(n_b) AS BIGINT) AS n,
        |    CAST(SUM(s_b) AS BIGINT) AS s
        |  FROM b),
        |t AS (SELECT n_buckets, n, s,
        |    list((CAST(s AS DOUBLE) - CAST(s_b AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - CAST(n_b AS DOUBLE)) ORDER BY bucket) AS loo
        |  FROM t0 CROSS JOIN b GROUP BY 1, 2, 3),
        |m AS (SELECT *, list_reduce(loo, (a, x) -> a + x) / CAST(n_buckets AS DOUBLE) AS m_bar
        |  FROM t),
        |v AS (SELECT *,
        |    list_reduce(list_transform(loo, x -> (x - m_bar) * (x - m_bar)),
        |      (a, x) -> a + x)
        |      * CAST(n_buckets - 1 AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS jk_var
        |  FROM m)
        |SELECT n, n_buckets,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
        |  sqrt(jk_var) AS se_cents,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - 1.96 * sqrt(jk_var) AS ci_lo,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 1.96 * sqrt(jk_var) AS ci_hi
        |FROM v""".stripMargin
    }),
    // Hill power-law tail index of the trade-graph degree distribution
    // same quantized integer log sum over the same tail slice
    Entry("q_tail_index", GraphOps.tailIndex, {
      import graft.queries.GraphOps.{AaScale, TailMinDeg}
      def lnq(m: String) =
        s"CAST(floor(ln(CAST($m AS DOUBLE)) * $AaScale.0 + 0.5) AS BIGINT)"
      s"""WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (
        |  SELECT 'customer' AS kind, COUNT(*) AS deg FROM pairs GROUP BY c
        |  UNION ALL
        |  SELECT 'supplier' AS kind, COUNT(*) AS deg FROM pairs GROUP BY s)
        |SELECT kind, CAST($TailMinDeg AS BIGINT) AS d_min, COUNT(*) AS k,
        |  1.0 + CAST(COUNT(*) * $AaScale AS DOUBLE)
        |    / CAST(nullif(SUM(${lnq("deg")} - ${lnq(TailMinDeg.toString)}), 0) AS DOUBLE) AS alpha
        |FROM deg WHERE deg >= $TailMinDeg
        |GROUP BY kind ORDER BY kind""".stripMargin
    }),
    // top word pairs by quantized pointwise mutual information
    // same integer-count quantized logs, same support floor and tie order
    Entry("q_collocations", TextOps.collocations, {
      import graft.queries.TextOps.{BmScale, PmiMinCount, PmiTopK}
      def lq(m: String) =
        s"CAST(floor(ln(CAST($m AS DOUBLE)) * $BmScale.0 + 0.5) AS BIGINT)"
      s"""WITH t AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |uni AS (SELECT unnest(tk) AS w FROM t),
        |uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_uni FROM uni),
        |bgl AS (SELECT unnest(list_transform(range(0, len(tk) - 1),
        |    i -> struct_pack(w1 := tk[i+1], w2 := tk[i+2]))) AS p FROM t),
        |bc AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c_xy FROM bgl
        |  GROUP BY 1, 2 HAVING COUNT(*) >= $PmiMinCount),
        |s AS (SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
        |    ${lq("c_xy")} + ${lq("n_uni")} - ${lq("u1.c")} - ${lq("u2.c")} AS pmi_q
        |  FROM bc JOIN uc u1 ON u1.w = bc.w1 JOIN uc u2 ON u2.w = bc.w2
        |  CROSS JOIN n)
        |SELECT w1, w2, c_xy, c_x, c_y, pmi_q,
        |  CAST(pmi_q AS DOUBLE) / $BmScale.0 AS pmi
        |FROM s ORDER BY pmi_q DESC, w1, w2 LIMIT $PmiTopK""".stripMargin
    }),
    // seasonal-naive vs naive-1 backtest with skill score
    // same O(days) reduction, same exact-cents absolute errors
    Entry("q_forecast_eval", StatsOps.forecastEval,
      """WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |e AS (SELECT d.day, d.x, d1.x AS x1, d7.x AS x7
        |  FROM daily d
        |  JOIN daily d1 ON d1.day = d.day - 1
        |  JOIN daily d7 ON d7.day = d.day - 7),
        |m AS (SELECT COUNT(*) AS n_eval,
        |    CAST(SUM(abs(x - x1)) AS BIGINT) AS ae1,
        |    CAST(SUM(abs(x - x7)) AS BIGINT) AS ae7
        |  FROM e)
        |SELECT n_eval,
        |  CAST(ae1 AS DOUBLE) / CAST(n_eval AS DOUBLE) AS mae1_cents,
        |  CAST(ae7 AS DOUBLE) / CAST(n_eval AS DOUBLE) AS mae7_cents,
        |  1.0 - CAST(ae7 AS DOUBLE) / CAST(nullif(ae1, 0) AS DOUBLE) AS skill
        |FROM m""".stripMargin),
    // reliability bins + order-pinned expected calibration error
    // same md5-derived pseudo-score, same 10-bin integer moments; the ECE
    // fold rides list(... ORDER BY bin) ≡ sort_array, 0.0-seed-equivalent
    Entry("q_calibration", StatsOps.calibration, {
      import graft.queries.StatsOps.CalBins
      val milli = h32Sql("CAST(event_id AS VARCHAR)") + " % 1000"
      s"""WITH e AS (SELECT $milli AS milli,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |b AS (SELECT milli * $CalBins // 1000 AS bin, COUNT(*) AS n,
        |    CAST(SUM(milli) AS BIGINT) AS sm, CAST(SUM(pos) AS BIGINT) AS n_pos
        |  FROM e GROUP BY 1),
        |b2 AS (SELECT bin, n, n_pos,
        |    CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0) AS mean_conf,
        |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos
        |  FROM b),
        |b3 AS (SELECT *, abs(frac_pos - mean_conf) AS abs_gap FROM b2),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
        |    list(CAST(n AS DOUBLE) * abs_gap ORDER BY bin) AS ws FROM b3),
        |tt AS (SELECT list_reduce(ws, (a, x) -> a + x)
        |    / CAST(n_total AS DOUBLE) AS ece FROM t)
        |SELECT bin, n, n_pos, mean_conf, frac_pos, abs_gap, ece
        |FROM b3 CROSS JOIN tt ORDER BY bin""".stripMargin
    }),
    // LSH (bands, rows) tuning table over the one 12-signature pass
    // same 12 signatures, same b·r = 12 retilings, same exact integer
    // bucket economics and bucket-min fold counts
    Entry("q_lsh_tuning", TextOps.lshTuning, {
      import graft.queries.TextOps.LshConfigs
      val configs = LshConfigs.map { case (b, r) =>
        val cases = (0 until b).map { j =>
          val key = (0 until r).map(i => s"sig${r * j + i}")
            .mkString("concat(", ", '_', ", ")")
          s"WHEN $j THEN $key"
        }.mkString(" ")
        s"""bd_${b}_$r AS (
          |  SELECT doc_id, band_id, CASE band_id $cases END AS band_key
          |  FROM sig CROSS JOIN (SELECT unnest(range($b)) AS band_id)),
          |bk_${b}_$r AS (SELECT band_id, band_key, COUNT(*) AS m
          |  FROM bd_${b}_$r GROUP BY 1, 2),
          |st_${b}_$r AS (SELECT COUNT(*) AS n_buckets,
          |    CAST(SUM(CASE WHEN m >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_collision_buckets,
          |    CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS candidate_pairs
          |  FROM bk_${b}_$r),
          |rp_${b}_$r AS (SELECT band_id, band_key, min(doc_id) AS bucket_rep
          |  FROM bd_${b}_$r GROUP BY 1, 2),
          |du_${b}_$r AS (SELECT CAST(SUM(CASE WHEN doc_id <> cid THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
          |  FROM (SELECT b.doc_id, min(r.bucket_rep) AS cid
          |        FROM bd_${b}_$r b JOIN rp_${b}_$r r USING (band_id, band_key)
          |        GROUP BY b.doc_id))""".stripMargin
      }.mkString(",\n")
      val rows = LshConfigs.map { case (b, r) =>
        s"""SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
          |  n_buckets, n_collision_buckets, candidate_pairs, n_dup_docs
          |FROM st_${b}_$r CROSS JOIN du_${b}_$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (
        |  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
        |  FROM documents),
        |h AS (SELECT doc_id, list_transform(toks, tk -> ${h32Sql("tk")}) AS th FROM t),
        |sig AS (SELECT doc_id,
        |    $minhashSigSql
        |  FROM h),
        |$configs
        |$rows
        |ORDER BY rows_per_band""".stripMargin
    }),
    // held-out bigram cross-entropy per source (LM corpus evaluation)
    // same even/odd split, same add-one smoothing with the train context
    // vocabulary as V, same integer-argument quantized log sums
    Entry("q_perplexity_eval", CurationOps.perplexityEval, {
      import graft.queries.StatsOps.LogScale
      def lnq(m: String) =
        s"CAST(floor(ln(CAST($m AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)"
      s"""WITH t AS (SELECT doc_id, source,
        |    string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |btr AS (SELECT unnest(list_transform(range(0, len(tk) - 1),
        |    i -> concat(tk[i+1], ' ', tk[i+2]))) AS bg
        |  FROM t WHERE len(tk) >= 2 AND doc_id % 2 = 0),
        |cb AS (SELECT bg, COUNT(*) AS c2 FROM btr GROUP BY bg),
        |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c2) AS BIGINT) AS c1
        |  FROM cb GROUP BY 1),
        |vc AS (SELECT COUNT(*) AS v FROM ctx),
        |bev AS (SELECT source, doc_id, unnest(list_transform(range(0, len(tk) - 1),
        |    i -> concat(tk[i+1], ' ', tk[i+2]))) AS bg
        |  FROM t WHERE len(tk) >= 2 AND doc_id % 2 = 1),
        |sc AS (SELECT b.source, b.doc_id,
        |    ${lnq("COALESCE(cb.c2, 0) + 1")} - ${lnq("COALESCE(ctx.c1, 0) + vc.v")} AS lp
        |  FROM bev b
        |  LEFT JOIN cb ON b.bg = cb.bg
        |  LEFT JOIN ctx ON split_part(b.bg, ' ', 1) = ctx.w1
        |  CROSS JOIN vc)
        |SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_bigrams,
        |  -CAST(SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / $LogScale.0 AS cross_entropy
        |FROM sc GROUP BY source ORDER BY source""".stripMargin
    }),
    // isotonic (PAV) calibration fit via the minimax closed form
    // same reliability bins, same exact prefix-sum interval means, same
    // minimax (max over j<=i of min over k>=i) pick on identical doubles
    Entry("q_isotonic", StatsOps.isotonic, {
      import graft.queries.StatsOps.CalBins
      val milli = h32Sql("CAST(event_id AS VARCHAR)") + " % 1000"
      s"""WITH e AS (SELECT $milli AS milli,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |b AS (SELECT milli * $CalBins // 1000 AS bin, COUNT(*) AS n,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos
        |  FROM e GROUP BY 1),
        |pre AS (SELECT a.bin AS pb, CAST(SUM(c.n) AS BIGINT) AS cn,
        |    CAST(SUM(c.n_pos) AS BIGINT) AS cp
        |  FROM b a JOIN b c ON c.bin <= a.bin GROUP BY 1),
        |iv AS (SELECT j.bin AS j, pk.pb AS k,
        |    pk.cn - pj.cn + j.n AS sn, pk.cp - pj.cp + j.n_pos AS sp
        |  FROM b j
        |  JOIN pre pj ON pj.pb = j.bin
        |  JOIN pre pk ON j.bin <= pk.pb),
        |cand AS (SELECT i.bin AS i, iv.j, iv.k,
        |    CAST(sp AS DOUBLE) / CAST(sn AS DOUBLE) AS mean
        |  FROM b i JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin),
        |inner_ AS (SELECT i, j, MIN(mean) AS inner_min FROM cand GROUP BY 1, 2),
        |iso AS (SELECT i, MAX(inner_min) AS iso_rate FROM inner_ GROUP BY 1)
        |SELECT bin, n, n_pos,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate, iso_rate
        |FROM b JOIN iso ON bin = i ORDER BY bin""".stripMargin
    }),
    // population stability index, smoothed integer-log bins
    // same literal bin spine, same +1/+bins smoothing, same quantized
    // integer-argument logs; total PSI folds in bin order on both sides;
    // same two-sided bin clamp (greatest 0 collapses negative values onto
    // bin 0 in both engines, absorbing the trunc-vs-floor divide gap)
    Entry("q_psi", StatsOps.psi, {
      import graft.queries.StatsOps.{LogScale, PsiBins, PsiBinCents}
      // the argument is a HUGEINT count product: its double read routes
      // through the pinned CAST-to-VARCHAR detour (the q_gmm_hard lnqh
      // precedent) so a 1-ulp hugeint->double drift above 2^63 cannot
      // flip the floor-quantized log vs Spark's Decimal(38,0) read
      def lnq(m: String) =
        s"CAST(floor(ln(CAST(CAST($m AS VARCHAR) AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)"
      s"""WITH e AS (SELECT
        |    greatest(least(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // $PsiBinCents,
        |      ${PsiBins - 1}), 0) AS bin,
        |    CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 1 ELSE 0 END AS in_a
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |c AS (SELECT bin, CAST(SUM(in_a) AS BIGINT) AS ca,
        |    CAST(SUM(1 - in_a) AS BIGINT) AS cb
        |  FROM e GROUP BY bin),
        |s AS (SELECT r.range AS bin, COALESCE(ca, 0) + 1 AS sa, COALESCE(cb, 0) + 1 AS sb
        |  FROM range($PsiBins) r LEFT JOIN c ON c.bin = r.range),
        |t AS (SELECT CAST(SUM(sa) AS BIGINT) AS na, CAST(SUM(sb) AS BIGINT) AS nb FROM s),
        |x AS (SELECT bin, sa, sb, na, nb,
        |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS share_a,
        |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS share_b
        |  FROM s CROSS JOIN t),
        |x2 AS (SELECT *, (share_a - share_b)
        |    * CAST(${lnq("CAST(sa AS HUGEINT) * nb")} - ${lnq("CAST(sb AS HUGEINT) * na")} AS DOUBLE)
        |    / $LogScale.0 AS psi_term
        |  FROM x),
        |tot AS (SELECT list_reduce(list(psi_term ORDER BY bin), (a, x) -> a + x) AS psi
        |  FROM x2)
        |SELECT bin, sa - 1 AS n_a, sb - 1 AS n_b, share_a, share_b, psi_term, psi
        |FROM x2 CROSS JOIN tot ORDER BY bin""".stripMargin
    }),
    // categorical mutual information, exact integer PMI contributions
    // same cell/margin counts, same integer PMI quantization; MI total is
    // an exact integer sum — no float fold at all
    Entry("q_mutual_info", StatsOps.mutualInfo, {
      import graft.queries.StatsOps.LogScale
      // HUGEINT count-product argument -> VARCHAR detour (q_psi note)
      def lnq(m: String) =
        s"CAST(floor(ln(CAST(CAST($m AS VARCHAR) AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)"
      s"""WITH cells AS (SELECT o_orderpriority AS x_val, o_orderstatus AS y_val,
        |    COUNT(*) AS n_xy FROM orders GROUP BY 1, 2),
        |mx AS (SELECT x_val, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1),
        |my AS (SELECT y_val, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells),
        |s AS (SELECT x_val, y_val, n_xy, n_x, n_y, n,
        |    ${lnq("CAST(n_xy AS HUGEINT) * n")} - ${lnq("CAST(n_x AS HUGEINT) * n_y")} AS pmi_q
        |  FROM cells JOIN mx USING (x_val) JOIN my USING (y_val) CROSS JOIN nn),
        |mi AS (SELECT SUM(CAST(n_xy AS HUGEINT) * pmi_q) AS mi_num, MAX(n) AS nn2 FROM s)
        |SELECT x_val, y_val, n_xy, n_x, n_y,
        |  CAST(pmi_q AS DOUBLE) / $LogScale.0 AS pmi,
        |  CAST(mi_num AS DOUBLE) / (CAST(nn2 AS DOUBLE) * $LogScale.0) AS mi
        |FROM s CROSS JOIN mi ORDER BY x_val, y_val""".stripMargin
    }),
    // CUPED variance-reduced A/B comparison from one moment scan
    // same user-level conditional sums, same exact covariance moments
    // (HUGEINT products through the VARCHAR detour), same closed forms
    Entry("q_cuped", StatsOps.cuped, {
      val arm = h32Sql("CAST(user_id AS VARCHAR)") + " % 2"
      def dbl(c: String) = s"CAST($c AS DOUBLE)"
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      s"""WITH u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
        |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) > 15
        |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
        |    CASE WHEN $arm = 0 THEN 'control' ELSE 'treatment' END AS arm
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY user_id),
        |g AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM u),
        |gg AS (SELECT n, sx,
        |    (${dbl("n")} * ${hdbl("sxy")} - ${dbl("sx")} * ${dbl("sy")})
        |      / nullif(${dbl("n")} * ${hdbl("sxx")} - ${dbl("sx")} * ${dbl("sx")}, 0.0) AS theta,
        |    (${dbl("n")} * ${hdbl("sxy")} - ${dbl("sx")} * ${dbl("sy")})
        |      * (${dbl("n")} * ${hdbl("sxy")} - ${dbl("sx")} * ${dbl("sy")})
        |      / nullif((${dbl("n")} * ${hdbl("sxx")} - ${dbl("sx")} * ${dbl("sx")})
        |        * (${dbl("n")} * ${hdbl("syy")} - ${dbl("sy")} * ${dbl("sy")}), 0.0) AS var_reduction
        |  FROM g),
        |a AS (SELECT arm, COUNT(*) AS n_users, CAST(SUM(x) AS BIGINT) AS sx_a,
        |    CAST(SUM(y) AS BIGINT) AS sy_a
        |  FROM u GROUP BY arm)
        |SELECT arm, n_users,
        |  ${dbl("sy_a")} / ${dbl("n_users")} AS mean_post_cents,
        |  ${dbl("sx_a")} / ${dbl("n_users")} AS mean_pre_cents,
        |  ${dbl("sy_a")} / ${dbl("n_users")}
        |    - theta * (${dbl("sx_a")} / ${dbl("n_users")} - ${dbl("sx")} / ${dbl("n")}) AS adj_mean_cents,
        |  theta, var_reduction
        |FROM a CROSS JOIN gg ORDER BY arm""".stripMargin
    }),
    // deterministic integer-weight bootstrap CI, rank-based bounds
    // same one-digest hex-digit weights (the CMS slicing discipline),
    // same rank-based bounds over the value-sorted replicate means,
    // same order-pinned SE fold
    Entry("q_bootstrap_ci", StatsOps.bootstrapCi, {
      import graft.queries.StatsOps.{BootReps, BootWMod}
      val w = s"CAST(concat('0x', substr(d, CAST(r.range + 1 AS INT), 1)) AS BIGINT) % $BootWMod"
      s"""WITH o AS (SELECT md5(CAST(o_orderkey AS VARCHAR)) AS d,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |reps AS (SELECT r.range AS rep, $w AS w, cents
        |  FROM o CROSS JOIN range($BootReps) r),
        |rm AS (SELECT rep,
        |    CAST(SUM(w * cents) AS DOUBLE) / CAST(nullif(SUM(w), 0) AS DOUBLE) AS rep_mean
        |  FROM reps GROUP BY rep),
        |p AS (SELECT COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS s FROM o),
        |st0 AS (SELECT COUNT(*) AS n_reps, list(rep_mean ORDER BY rep_mean) AS means FROM rm),
        |st1 AS (SELECT n_reps, means,
        |    list_reduce(means, (a, x) -> a + x) / CAST(n_reps AS DOUBLE) AS m_bar
        |  FROM st0),
        |st AS (SELECT n_reps, means[2] AS ci_lo, means[${BootReps - 1}] AS ci_hi,
        |    sqrt(list_reduce(list_transform(means, x -> (x - m_bar) * (x - m_bar)),
        |      (a, x) -> a + x) / CAST(n_reps - 1 AS DOUBLE)) AS boot_se
        |  FROM st1)
        |SELECT n_rows, n_reps, CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE) AS point_mean_cents,
        |  boot_se, ci_lo, ci_hi
        |FROM p CROSS JOIN st""".stripMargin
    }),
    // Gopher quality-rule battery, per-rule violation counts by source
    // same exact-integer rule comparisons (cross-multiplied ratios), same
    // stopword list; the mode rides the one (doc, token) aggregate
    Entry("q_gopher_rules", TextOps.gopherRules, {
      import graft.queries.TextOps.{GopherMinTokens, GopherMaxTokens, GopherMinStops}
      val stops = graft.queries.TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, source,
        |    string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |b AS (SELECT doc_id, source,
        |    CAST(len(tk) AS BIGINT) AS n,
        |    CAST(list_reduce(list_transform(tk, x -> length(x)), (a, v) -> a + v) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(tk, x -> x IN ($stops))) AS BIGINT) AS n_stop,
        |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha
        |  FROM t),
        |u AS (SELECT doc_id, unnest(tk) AS tok FROM t),
        |uc AS (SELECT doc_id, tok, COUNT(*) AS c FROM u GROUP BY 1, 2),
        |m AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_cnt FROM uc GROUP BY 1),
        |f AS (SELECT b.source,
        |    CASE WHEN n < $GopherMinTokens OR n > $GopherMaxTokens THEN 1 ELSE 0 END AS f_wc,
        |    CASE WHEN sum_len < 3 * n OR sum_len > 10 * n THEN 1 ELSE 0 END AS f_awl,
        |    CASE WHEN n_stop < $GopherMinStops THEN 1 ELSE 0 END AS f_stop,
        |    CASE WHEN top_cnt * 5 > n THEN 1 ELSE 0 END AS f_rep,
        |    CASE WHEN n_alpha * 5 < n * 4 THEN 1 ELSE 0 END AS f_alpha
        |  FROM b JOIN m USING (doc_id))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(f_wc) AS BIGINT) AS n_fail_wordcount,
        |  CAST(SUM(f_awl) AS BIGINT) AS n_fail_avglen,
        |  CAST(SUM(f_stop) AS BIGINT) AS n_fail_stopword,
        |  CAST(SUM(f_rep) AS BIGINT) AS n_fail_repetition,
        |  CAST(SUM(f_alpha) AS BIGINT) AS n_fail_alpha,
        |  CAST(SUM(CASE WHEN f_wc + f_awl + f_stop + f_rep + f_alpha = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(SUM(CASE WHEN f_wc + f_awl + f_stop + f_rep + f_alpha = 0
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pass_rate
        |FROM f GROUP BY source ORDER BY source""".stripMargin
    }),
    // content-defined chunking + chunk-level storage dedup (FastCDC shape)
    // same content-decided boundaries (h32(token) mod CdcMod), same
    // doc-partitioned exclusive prefix sum, same min()-pinned dedup
    Entry("q_content_chunks", TextOps.contentChunks, {
      import graft.queries.TextOps.CdcMod
      s"""WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents),
        |x AS (SELECT doc_id, unnest(list_transform(range(0, len(tk)),
        |    i -> struct_pack(idx := i, tok := tk[i+1]))) AS p FROM t),
        |f AS (SELECT doc_id, p.idx AS idx, p.tok AS tok,
        |    CASE WHEN ${h32Sql("p.tok")} % $CdcMod = 0 THEN 1 ELSE 0 END AS b FROM x),
        |c AS (SELECT doc_id, idx, tok,
        |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        |  FROM f),
        |ch AS (SELECT doc_id, chunk_id, COUNT(*) AS n_toks,
        |    string_agg(tok, ' ' ORDER BY idx) AS chunk_text
        |  FROM c GROUP BY 1, 2),
        |h AS (SELECT doc_id, CAST(n_toks AS BIGINT) AS n_chunk_tokens,
        |    ${h32Sql("chunk_text")} AS chunk_hash FROM ch),
        |g AS (SELECT chunk_hash,
        |    CAST(MIN(n_chunk_tokens) AS BIGINT) AS n_chunk_tokens,
        |    COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs,
        |    CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
        |  FROM h GROUP BY 1)
        |SELECT chunk_hash, n_chunk_tokens, n_occurrences, n_docs, keep_doc_id,
        |  (n_occurrences - 1) * n_chunk_tokens AS tokens_saved
        |FROM g WHERE n_occurrences > 1 ORDER BY chunk_hash""".stripMargin
    }),
    // CCNet head/middle/tail LM-familiarity buckets per language
    // same familiarity core, same NTILE fill and (score DESC, doc_id) tiebreak
    Entry("q_ccnet_buckets", CurationOps.ccnetBuckets,
      s"""WITH fam AS ($lmFamiliarityCore),
        |s AS (SELECT fam.*, d.lang FROM fam JOIN documents d USING (doc_id)),
        |b AS (SELECT lang, n_bigrams, familiarity,
        |    ntile(3) OVER (PARTITION BY lang
        |      ORDER BY familiarity DESC, doc_id) AS bn FROM s)
        |SELECT lang,
        |  CASE bn WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
        |  MIN(familiarity) AS min_familiarity, MAX(familiarity) AS max_familiarity
        |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin),
    // per-domain resampling weights to a uniform token mixture
    // same map-only token counts, same single-division ratios and cap
    Entry("q_domain_weights", CurationOps.domainWeights, {
      import graft.queries.CurationOps.WeightCap
      s"""WITH t AS (SELECT source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS nt
        |  FROM documents),
        |p AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY 1),
        |g AS (SELECT COUNT(*) AS n_sources, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        |  FROM p)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
        |  CAST(total_tokens AS DOUBLE) / CAST(n_sources * n_tokens AS DOUBLE) AS weight,
        |  least(CAST(total_tokens AS DOUBLE) / CAST(n_sources * n_tokens AS DOUBLE),
        |    $WeightCap) AS weight_capped
        |FROM p CROSS JOIN g ORDER BY source""".stripMargin
    }),
    // k-core peel trace over the co-purchase graph, fixed synchronous rounds
    // same capped co-edge build as q_triangles; the peel rounds unroll to
    // exactly KcoreIters chained CTEs — synchronous peeling on both sides
    Entry("q_kcore", GraphOps.kcore, {
      import graft.queries.BehaviorOps.MaxBasketItems
      import graft.queries.GraphOps.{TriMinSupport, KcoreK, KcoreIters}
      // every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
      // reference, so the chained rounds + 2 scalar subqueries per stat
      // row would re-execute the whole peel prefix (and re-open the
      // parquet) exponentially many times
      val rounds = (1 to KcoreIters).map { i =>
        s"""k$i AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e${i - 1}
          |    UNION ALL SELECT v AS node FROM e${i - 1})
          |  GROUP BY node HAVING COUNT(*) >= $KcoreK),
          |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
          |  WHERE u IN (SELECT node FROM k$i) AND v IN (SELECT node FROM k$i))""".stripMargin
      }.mkString(",\n")
      val stats = (0 to KcoreIters).map { i =>
        s"""SELECT CAST($i AS INT) AS iteration,
          |  (SELECT COUNT(*) FROM (SELECT u AS n FROM e$i UNION SELECT v AS n FROM e$i)) AS n_nodes,
          |  (SELECT COUNT(*) FROM e$i) AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${coEdgeCtes()},
        |$rounds
        |SELECT * FROM ($stats) ORDER BY iteration""".stripMargin
    }),
    // k-truss peel trace: per-round triangle-support edge filtering
    // same unthresholded coEdges build, same once-per-triangle enumeration
    // (id-ordered here, degree-ordered in Spark — the triangle SET is
    // orientation-invariant), same 3-edge support counts and peel rule
    Entry("q_ktruss", GraphOps.ktruss, {
      import graft.queries.GraphOps.{KtrussK, KtrussIters, KtrussEdgeSupport}
      val rounds = (0 to KtrussIters).map { i =>
        val base =
          s"""t$i AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            |  FROM e$i e1 JOIN e$i e2 ON e1.u = e2.u AND e1.v < e2.v
            |  WHERE EXISTS (SELECT 1 FROM e$i e WHERE e.u = e1.v AND e.v = e2.v)),
            |s$i AS MATERIALIZED (SELECT u, v, COUNT(*) AS support FROM (
            |    SELECT a AS u, b AS v FROM t$i
            |    UNION ALL SELECT a AS u, c AS v FROM t$i
            |    UNION ALL SELECT b AS u, c AS v FROM t$i)
            |  GROUP BY 1, 2)""".stripMargin
        if (i < KtrussIters)
          base + s""",
            |e${i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e$i e
            |  JOIN s$i s ON e.u = s.u AND e.v = s.v
            |  WHERE s.support >= ${KtrussK - 2})""".stripMargin
        else base
      }.mkString(",\n")
      val stats = (0 to KtrussIters).map { i =>
        s"""SELECT CAST($i AS INT) AS iteration,
          |  (SELECT COUNT(*) FROM e$i) AS n_edges,
          |  (SELECT COUNT(*) FROM t$i) AS n_triangles""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${coEdgeCtes(KtrussEdgeSupport)},
        |$rounds
        |SELECT * FROM ($stats) ORDER BY iteration""".stripMargin
    }),
    // degree assortativity (Pearson of endpoint degrees), one row
    // same unthresholded edges + symmetrized endpoint-degree pairs; the
    // six moments in HUGEINT on the VARCHAR detour, the one closed form
    // mirrored node for node (the corr_matrix contract)
    Entry("q_assortativity", GraphOps.assortativity, {
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      val num = s"(CAST(n AS DOUBLE) * ${hdbl("sxy")} - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
      val den = s"(sqrt(CAST(n AS DOUBLE) * ${hdbl("sxx")} - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
        s" * sqrt(CAST(n AS DOUBLE) * ${hdbl("syy")} - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
      s"""WITH ${coEdgeCtes(1L)},
        |sym AS (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v AS a, u AS b FROM e0),
        |deg AS (SELECT node, COUNT(*) AS deg FROM (
        |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
        |xy AS (SELECT da.deg AS x, db.deg AS y
        |  FROM sym JOIN deg da ON da.node = sym.a JOIN deg db ON db.node = sym.b),
        |mo AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM xy)
        |SELECT n AS n_endpoints,
        |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_deg,
        |  $num / nullif($den, 0.0) AS assortativity
        |FROM mo""".stripMargin
    }),
    // per-node local clustering coefficient (ego density), top-20
    // same unthresholded co-purchase edges; triangles enumerate once via
    // the shared-lower-endpoint join (a < b < c), per-node counts from
    // the 3-way union, one mirrored division
    Entry("q_lcc", GraphOps.lcc, {
      import graft.queries.GraphOps.LccTopK
      s"""WITH ${coEdgeCtes(1L)},
        |tri AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e0 e1 JOIN e0 e2 ON e1.u = e2.u AND e1.v < e2.v
        |  WHERE EXISTS (SELECT 1 FROM e0 e WHERE e.u = e1.v AND e.v = e2.v)),
        |pn AS (SELECT node, COUNT(*) AS n_tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1),
        |deg AS (SELECT node, COUNT(*) AS deg FROM (
        |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1)
        |SELECT node AS partkey, deg, n_tri,
        |  CAST(n_tri * 2 AS DOUBLE) / CAST(deg * (deg - 1) AS DOUBLE) AS lcc
        |FROM pn JOIN deg USING (node)
        |ORDER BY n_tri DESC, partkey LIMIT $LccTopK""".stripMargin
    }),
    // multi-source min-hop BFS reach counts over the trade graph
    // same symmetric trade edges and seed rule; depths unroll with
    // NOT-IN exclusion of every earlier level — min-hop on both sides
    Entry("q_bfs_reach", GraphOps.bfsReach, {
      import graft.queries.GraphOps.{BfsSeedMod, BfsMaxDepth}
      val levels = (1 to BfsMaxDepth).map { d =>
        val excl = (0 until d).map {
          case 0 => "node NOT IN (SELECT node FROM v0)"
          case j => s"node NOT IN (SELECT node FROM f$j)"
        }.mkString(" AND ")
        val prev = if (d == 1) "v0" else s"f${d - 1}"
        s"""f$d AS (SELECT node FROM (
          |    SELECT DISTINCT e.dst AS node FROM e JOIN $prev p ON e.src = p.node)
          |  WHERE $excl)""".stripMargin
      }.mkString(",\n")
      val union = (s"SELECT CAST(0 AS INT) AS depth, node FROM v0" +:
        (1 to BfsMaxDepth).map(d =>
          s"SELECT CAST($d AS INT) AS depth, node FROM f$d")).mkString("\nUNION ALL\n")
      s"""WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |v0 AS (SELECT DISTINCT src AS node FROM e
        |  WHERE src % 2 = 0 AND (src // 2) % $BfsSeedMod = 1),
        |$levels,
        |a AS ($union)
        |SELECT depth,
        |  CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers
        |FROM a GROUP BY depth ORDER BY depth""".stripMargin
    }),
    // BPE merge learning over the frequency-weighted word vocabulary
    // same vocabulary-weighted pair counts, same leading-delimiter greedy
    // replace, same (cnt DESC, l, r) winner rule; rounds unroll MATERIALIZED;
    // same exclusion of delimiter-bearing ('|') tokens from the vocabulary
    Entry("q_bpe_train", TextOps.bpeTrain, {
      import graft.queries.TextOps.BpeIters
      val union = (1 to BpeIters).map(i =>
        s"SELECT CAST($i AS INT) AS merge_rank, l AS lhs, r AS rhs, l || r AS merged, cnt AS pair_count FROM m$i")
        .mkString("\nUNION ALL\n")
      s"""WITH $bpeChainSql
        |SELECT * FROM ($union) ORDER BY merge_rank""".stripMargin
    }),
    // tokenizer fertility per source: learned merges applied + measured
    // same trained merges (the shared chain) applied per SOURCE vocabulary
    // with the same replace chain; symbol count = '|' count; exact sums
    Entry("q_bpe_fertility", TextOps.bpeFertility, {
      import graft.queries.TextOps.BpeIters
      val applies = (1 to BpeIters).map { i =>
        s"""f$i AS MATERIALIZED (SELECT source, replace(repr,
          |    '|' || (SELECT l FROM m$i) || '|' || (SELECT r FROM m$i),
          |    '|' || (SELECT l FROM m$i) || (SELECT r FROM m$i)) AS repr,
          |    freq, n_chars FROM f${i - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH $bpeChainSql,
        |u2 AS MATERIALIZED (SELECT source,
        |  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents),
        |voc2 AS MATERIALIZED (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM u2 WHERE w NOT LIKE '%|%' GROUP BY 1, 2),
        |f0 AS MATERIALIZED (SELECT source,
        |    regexp_replace(w, '(.)', '|\\1', 'g') AS repr, freq,
        |    CAST(len(w) AS BIGINT) AS n_chars
        |  FROM voc2),
        |$applies,
        |fin AS (SELECT source, freq, n_chars,
        |    CAST(len(repr) - len(replace(repr, '|', '')) AS BIGINT) AS n_sym
        |  FROM f$BpeIters)
        |SELECT source, CAST(SUM(freq) AS BIGINT) AS n_word_occurrences,
        |  CAST(SUM(freq * n_sym) AS BIGINT) AS n_tokens,
        |  CAST(CAST(SUM(freq * n_sym) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(freq) AS BIGINT) AS DOUBLE) AS fertility,
        |  CAST(CAST(SUM(freq * n_chars) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(freq * n_sym) AS BIGINT) AS DOUBLE) AS chars_per_token
        |FROM fin GROUP BY source ORDER BY source""".stripMargin
    }),
    // tokenizer application: the corpus encoded with the learned merges
    // same trained merges applied to the DISTINCT-WORD table, the corpus
    // re-joined on the word key; per-doc exact integer sums
    Entry("q_bpe_encode", TextOps.bpeEncode, {
      import graft.queries.TextOps.BpeIters
      val applies = (1 to BpeIters).map { i =>
        s"""e$i AS MATERIALIZED (SELECT w, n_chars, replace(repr,
          |    '|' || (SELECT l FROM m$i) || '|' || (SELECT r FROM m$i),
          |    '|' || (SELECT l FROM m$i) || (SELECT r FROM m$i)) AS repr
          |  FROM e${i - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH $bpeChainSql,
        |u3 AS MATERIALIZED (SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w FROM documents),
        |dw AS MATERIALIZED (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM u3 WHERE w NOT LIKE '%|%' GROUP BY 1, 2),
        |e0 AS MATERIALIZED (SELECT w, CAST(len(w) AS BIGINT) AS n_chars,
        |    regexp_replace(w, '(.)', '|\\1', 'g') AS repr
        |  FROM (SELECT DISTINCT w FROM dw)),
        |$applies,
        |esym AS (SELECT w, n_chars,
        |    CAST(len(repr) - len(replace(repr, '|', '')) AS BIGINT) AS n_sym
        |  FROM e$BpeIters)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_ws_tokens,
        |  CAST(SUM(cnt * n_sym) AS BIGINT) AS n_bpe_tokens,
        |  CAST(CAST(SUM(cnt * n_sym) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE) AS bpe_per_word,
        |  CAST(CAST(SUM(cnt * n_chars) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(cnt * n_sym) AS BIGINT) AS DOUBLE) AS chars_per_bpe_token
        |FROM dw JOIN esym USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),
    // product quantization: per-subspace codebooks + occupancy/distortion
    // same lowest-id seeds, one integer Lloyd update and argmin encode per
    // subspace (the kmeansCte recipe sliced); HUGEINT distortions through
    // the VARCHAR detour
    Entry("q_pq_quant", VectorOps.pqQuantize, {
      import graft.queries.VectorOps.PqM
      val stats = (0 until PqM).map { m =>
        s"""SELECT CAST($m AS INT) AS subspace, CAST(cid AS INT) AS code,
          |  COUNT(*) AS n_vectors,
          |  CAST(CAST(SUM(dist) AS VARCHAR) AS DOUBLE) AS distortion_sum,
          |  CAST(CAST(SUM(dist) AS VARCHAR) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_distortion
          |FROM a2_$m GROUP BY cid""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $pqChainSql
        |SELECT * FROM ($stats) ORDER BY subspace, code""".stripMargin
    }),
    // PQ asymmetric-distance ANN top-k via broadcast probe LUTs
    // same trained codebooks (the shared chain), same exact integer
    // subspace LUT distances, same (adc, id) rank rule
    Entry("q_pq_ann", VectorOps.pqAnn, {
      import graft.queries.VectorOps.PqTopK
      s"""WITH $pqChainSql,
        |$pqAdcCtes,
        |r AS (SELECT probe_id, vec_id AS neighbor_id, adc_dist,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY adc_dist, vec_id) AS INT) AS rank
        |  FROM adc WHERE vec_id <> probe_id)
        |SELECT probe_id, rank, neighbor_id, adc_dist
        |FROM r WHERE rank <= $PqTopK ORDER BY probe_id, rank""".stripMargin
    }),
    // composed FAISS stack: IVF cell pruning x PQ asymmetric distance
    // the composed stack: q_sim_ivf's cell assignment gates which ADC
    // pairs survive; same codebooks, LUT integers, and rank rule (the
    // oracle filters the full ADC table by cell — correctness-identical
    // to Spark's cell-pruned join)
    Entry("q_ivf_pq", VectorOps.ivfPqAnn, {
      import graft.queries.VectorOps.PqTopK
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding AS c_emb FROM e WHERE vec_id < 8),
        |sims AS (
        |  SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.c_emb", "e.n")} AS sim
        |  FROM e JOIN c ON TRUE),
        |asg AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
        |    FROM sims)
        |  WHERE r = 1),
        |$pqChainSql,
        |$pqAdcCtes,
        |flt AS (SELECT a.probe_id, pc.cell, a.vec_id, a.adc_dist FROM adc a
        |  JOIN asg pc ON pc.vec_id = a.probe_id
        |  JOIN asg nc ON nc.vec_id = a.vec_id AND nc.cell = pc.cell
        |  WHERE a.vec_id <> a.probe_id),
        |r AS (SELECT probe_id, cell, vec_id AS neighbor_id, adc_dist,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY adc_dist, vec_id) AS INT) AS rank
        |  FROM flt)
        |SELECT probe_id, cell, rank, neighbor_id, adc_dist
        |FROM r WHERE rank <= $PqTopK ORDER BY probe_id, rank""".stripMargin
    }),
    // multi-probe IVF x PQ: both recall knobs in one composed query path
    // the q_ivf_pq chain with the probe side taking its top-IvfNProbe
    // cells (same sim DESC, cid tie rule as the assignment); a candidate
    // has exactly one cell, so the multi-probe join needs no dedup
    Entry("q_ivfpq_multi", VectorOps.ivfPqMulti, {
      import graft.queries.VectorOps.{IvfNProbe, PqProbes, PqTopK}
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding AS c_emb FROM e WHERE vec_id < 8),
        |sims AS (
        |  SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.c_emb", "e.n")} AS sim
        |  FROM e JOIN c ON TRUE),
        |rks AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
        |  FROM sims),
        |asg AS (SELECT vec_id, cid AS cell FROM rks WHERE r = 1),
        |pcell AS (SELECT vec_id AS probe_id, cid AS cell FROM rks
        |  WHERE r <= $IvfNProbe AND vec_id < $PqProbes),
        |$pqChainSql,
        |$pqAdcCtes,
        |flt AS (SELECT a.probe_id, a.vec_id, a.adc_dist FROM adc a
        |  JOIN pcell pc ON pc.probe_id = a.probe_id
        |  JOIN asg nc ON nc.vec_id = a.vec_id AND nc.cell = pc.cell
        |  WHERE a.vec_id <> a.probe_id),
        |r AS (SELECT probe_id, vec_id AS neighbor_id, adc_dist,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY adc_dist, vec_id) AS INT) AS rank
        |  FROM flt)
        |SELECT probe_id, rank, neighbor_id, adc_dist
        |FROM r WHERE rank <= $PqTopK ORDER BY probe_id, rank""".stripMargin
    }),
    // Markov removal-effect attribution: absorbing-chain value iteration
    // same purchase-split journeys, same quantized matrix, the SAME
    // unrolled integer value iteration (removal = value forced to 0, no
    // matrix rebuild); every division is integral on non-negatives, the
    // effect sum is an integer sum — only the two final ratios are doubles
    Entry("q_markov_removal", BehaviorOps.markovRemoval, {
      import graft.queries.BehaviorOps.{MarkovRemIters, MarkovRemScale}
      val rounds = (1 to MarkovRemIters).map { k =>
        s"""v$k AS MATERIALIZED (
          |  SELECT qs.sc, qs.cur AS s,
          |    CAST(SUM(qs.q * (CASE WHEN qs.nxt = 'CONV' THEN $MarkovRemScale
          |      WHEN qs.nxt = 'NULL' OR qs.nxt = qs.sc THEN 0
          |      ELSE COALESCE(p.v, 0) END)) // $MarkovRemScale AS BIGINT) AS v
          |  FROM qs LEFT JOIN v${k - 1} p ON p.sc = qs.sc AND p.s = qs.nxt
          |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH x AS (SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS s,
        |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |st AS (SELECT s,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, seg ORDER BY ts, event_id) AS rn,
        |    LEAD(s) OVER (PARTITION BY user_id, seg ORDER BY ts, event_id) AS nxt
        |  FROM x),
        |tr AS (
        |  SELECT 'START' AS cur, s AS nxt FROM st WHERE rn = 1
        |  UNION ALL
        |  SELECT s AS cur, COALESCE(nxt, 'NULL') AS nxt FROM st WHERE s <> 'CONV'),
        |cells AS (SELECT cur, nxt, COUNT(*) AS n FROM tr GROUP BY 1, 2),
        |tot AS (SELECT cur, SUM(n) AS nt FROM cells GROUP BY 1),
        |q AS (SELECT c.cur, c.nxt,
        |    CAST((c.n * $MarkovRemScale) // t.nt AS BIGINT) AS q
        |  FROM cells c JOIN tot t USING (cur)),
        |scn AS (SELECT DISTINCT cur AS sc FROM cells WHERE cur <> 'START'
        |  UNION ALL SELECT '(full)'),
        |qs AS MATERIALIZED (SELECT scn.sc, q.cur, q.nxt, q.q FROM scn CROSS JOIN q),
        |v0 AS MATERIALIZED (SELECT scn.sc, s.s, CAST(0 AS BIGINT) AS v
        |  FROM scn CROSS JOIN (SELECT DISTINCT cur AS s FROM cells) s),
        |$rounds,
        |conv AS (SELECT sc, v FROM v$MarkovRemIters WHERE s = 'START'),
        |f AS (SELECT v AS vf FROM conv WHERE sc = '(full)'),
        |eff AS (SELECT sc AS channel, f.vf AS conv_full_q, conv.v AS conv_removed_q,
        |    f.vf - conv.v AS eff_q
        |  FROM conv CROSS JOIN f WHERE sc <> '(full)'),
        |t2 AS (SELECT CAST(SUM(eff_q) AS BIGINT) AS te FROM eff)
        |SELECT channel, conv_full_q, conv_removed_q,
        |  CAST(eff_q AS DOUBLE) / nullif(CAST(conv_full_q AS DOUBLE), 0.0)
        |    AS removal_effect,
        |  CAST(eff_q AS DOUBLE) / nullif(CAST(te AS DOUBLE), 0.0) AS attribution
        |FROM eff CROSS JOIN t2 ORDER BY channel""".stripMargin
    }),
    // cross-source quantile normalization (batch-effect correction)
    // same (n_chars, doc_id) rank tie rule, same floor-interpolated index
    // by integer cross-multiplication, one division of an exact int sum
    Entry("q_quantile_norm", CurationOps.quantileNorm,
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |rk AS (SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r
        |  FROM d),
        |sz AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1),
        |pr AS (SELECT rk.source, rk.r, sz.n FROM rk JOIN sz USING (source)),
        |lk AS (SELECT pr.source, pr.r, rv.n_chars AS v
        |  FROM pr CROSS JOIN sz s2
        |  JOIN rk rv ON rv.source = s2.source
        |    AND rv.r = CASE WHEN pr.n = 1 THEN 1
        |      ELSE ((pr.r - 1) * (s2.n - 1)) // (pr.n - 1) + 1 END),
        |t AS (SELECT source, r, CAST(SUM(v) AS BIGINT) AS sv, COUNT(*) AS c
        |  FROM lk GROUP BY 1, 2)
        |SELECT rk.doc_id, rk.source, rk.n_chars,
        |  CAST(rk.r AS INT) AS rank_in_source,
        |  CAST(t.sv AS DOUBLE) / CAST(t.c AS DOUBLE) AS norm_chars
        |FROM rk JOIN t USING (source, r) ORDER BY rk.doc_id""".stripMargin),
    // Matryoshka truncation audit: 16-dim vs 64-dim top-3 agreement
    // one pair pass, two rankings: the truncated cosine reads the first
    // TruncDims components of the SAME arrays (range-bounded list fold =
    // Spark's sliced-array dot, same left-to-right order)
    Entry("q_dim_trunc", VectorOps.dimTruncRecall, {
      import graft.queries.VectorOps.TruncDims
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, embedding AS p_emb, n FROM e WHERE vec_id < 5),
        |pairs AS (
        |  SELECT pr.probe_id, a.vec_id AS neighbor_id,
        |    ${cosSql("pr.p_emb", "a.embedding", "pr.n")} AS cos_full,
        |    ${cosSql("pr.p_emb", "a.embedding", TruncDims.toString)} AS cos_trunc
        |  FROM pr JOIN e a ON a.vec_id <> pr.probe_id),
        |rk AS (SELECT *,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos_full DESC, neighbor_id) AS fr,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos_trunc DESC, neighbor_id) AS tr
        |  FROM pairs)
        |SELECT probe_id, CAST(tr AS INT) AS rank, neighbor_id, cos_trunc,
        |  fr <= 3 AS in_full_top3
        |FROM rk WHERE tr <= 3 ORDER BY probe_id, rank""".stripMargin
    }),
    // Simpson's screen: per-segment vs pooled slope, moments re-aggregated
    // same per-segment exact moments (HUGEINT through the VARCHAR
    // detour), pooled moments RE-AGGREGATED from them, same closed forms
    Entry("q_simpsons", StatsOps.simpsons, {
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      def dbl(c: String) = s"CAST($c AS DOUBLE)"
      def slope(n: String, sx: String, sy: String, sxy: String, sxx: String) =
        s"(${dbl(n)} * ${hdbl(sxy)} - ${dbl(sx)} * ${dbl(sy)})" +
          s" / nullif(${dbl(n)} * ${hdbl(sxx)} - ${dbl(sx)} * ${dbl(sx)}, 0.0)"
      s"""WITH seg AS (SELECT o_orderpriority AS segment,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM orders),
        |m AS (SELECT segment, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM seg GROUP BY 1),
        |p AS (SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx) AS BIGINT) AS sx,
        |    CAST(SUM(sy) AS BIGINT) AS sy, SUM(sxy) AS sxy, SUM(sxx) AS sxx FROM m),
        |s AS (SELECT segment, m.n,
        |    ${slope("m.n", "m.sx", "m.sy", "m.sxy", "m.sxx")} AS slope,
        |    ${slope("p.n", "p.sx", "p.sy", "p.sxy", "p.sxx")} AS pooled_slope
        |  FROM m CROSS JOIN p)
        |SELECT segment, n, slope, pooled_slope,
        |  slope * pooled_slope < 0 AS is_reversed
        |FROM s ORDER BY segment""".stripMargin
    }),
    // sample-ratio-mismatch guardrail on the experiment's user split
    // same user-grain distinct, same integer cross-multiplied flag
    Entry("q_srm_check", BehaviorOps.srmCheck, {
      import graft.queries.BehaviorOps.SrmChiCritX1000
      s"""WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM u)
        |SELECT n_a, n_b,
        |  CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS chi_sq,
        |  1000 * (n_a - n_b) * (n_a - n_b) > $SrmChiCritX1000 * (n_a + n_b) AS srm
        |FROM c""".stripMargin
    }),
    // log-log price elasticity per brand (quantized-integer-log OLS)
    // same integer-argument quantized logs on both axes, same moments,
    // same closed-form slope/intercept through the VARCHAR detour
    Entry("q_elasticity", StatsOps.elasticity, {
      import graft.queries.StatsOps.LogScale
      def lnq(m: String) =
        s"CAST(floor(ln(CAST($m AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)"
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      def dbl(c: String) = s"CAST($c AS DOUBLE)"
      val slope =
        s"(${dbl("n")} * ${hdbl("sxy")} - ${dbl("sx")} * ${dbl("sy")})" +
          s" / nullif(${dbl("n")} * ${hdbl("sxx")} - ${dbl("sx")} * ${dbl("sx")}, 0.0)"
      s"""WITH li AS (SELECT p_brand AS brand,
        |    ${lnq("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")} AS x,
        |    ${lnq("CAST(l_quantity AS BIGINT)")} AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (SELECT brand, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM li GROUP BY 1),
        |s AS (SELECT brand, n, $slope AS elasticity,
        |    (${dbl("sy")} - ($slope) * ${dbl("sx")}) / ${dbl("n")} / $LogScale.0 AS intercept
        |  FROM m)
        |SELECT brand, n, elasticity, intercept FROM s ORDER BY brand""".stripMargin
    }),
    // leave-one-segment-out trend influence from additive moments
    // same additive moments (pooled − segment), same closed-form slopes
    // through the same VARCHAR detour for the HUGEINT moments
    Entry("q_loo_influence", StatsOps.looInfluence, {
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      def dbl(c: String) = s"CAST($c AS DOUBLE)"
      def slope(n: String, sx: String, sy: String, sxy: String, sxx: String) =
        s"(${dbl(n)} * ${hdbl(sxy)} - ${dbl(sx)} * ${dbl(sy)})" +
          s" / nullif(${dbl(n)} * ${hdbl(sxx)} - ${dbl(sx)} * ${dbl(sx)}, 0.0)"
      s"""WITH seg AS (SELECT o_orderpriority AS segment,
        |    CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM orders),
        |m AS (SELECT segment, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM seg GROUP BY 1),
        |p AS (SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx) AS BIGINT) AS sx,
        |    CAST(SUM(sy) AS BIGINT) AS sy, SUM(sxy) AS sxy, SUM(sxx) AS sxx FROM m),
        |l AS (SELECT segment, m.n,
        |    CAST(p.n - m.n AS BIGINT) AS l_n, CAST(p.sx - m.sx AS BIGINT) AS l_sx,
        |    CAST(p.sy - m.sy AS BIGINT) AS l_sy,
        |    p.sxy - m.sxy AS l_sxy, p.sxx - m.sxx AS l_sxx,
        |    ${slope("p.n", "p.sx", "p.sy", "p.sxy", "p.sxx")} AS slope_full
        |  FROM m CROSS JOIN p),
        |s AS (SELECT segment, n, slope_full,
        |    ${slope("l_n", "l_sx", "l_sy", "l_sxy", "l_sxx")} AS slope_loo
        |  FROM l)
        |SELECT segment, n, slope_full, slope_loo,
        |  slope_full - slope_loo AS influence
        |FROM s ORDER BY segment""".stripMargin
    }),
    // Markov transition model backtested on each user's held-out last hop
    // same transition build, same last-per-user holdout, same
    // (count DESC, next) argmax; unseen states predict NULL = miss
    Entry("q_markov_eval", BehaviorOps.markovEval,
      """WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |t AS (SELECT user_id, event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM e),
        |tr AS (SELECT *, MAX(rn) OVER (PARTITION BY user_id) AS mx
        |  FROM (SELECT * FROM t WHERE nxt IS NOT NULL)),
        |train AS (SELECT cur, nxt, COUNT(*) AS n FROM tr WHERE rn < mx GROUP BY 1, 2),
        |pred AS (SELECT cur, nxt AS pred FROM (
        |    SELECT *, row_number() OVER (PARTITION BY cur ORDER BY n DESC, nxt) AS r
        |    FROM train) WHERE r = 1),
        |test AS (SELECT tr.cur, tr.nxt, p.pred FROM tr
        |  LEFT JOIN pred p ON p.cur = tr.cur WHERE rn = mx)
        |SELECT cur, COUNT(*) AS n_test,
        |  CAST(SUM(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(SUM(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS accuracy
        |FROM test GROUP BY cur ORDER BY cur""".stripMargin),
    // STL-style daily decomposition: trend + weekday seasonal + residual
    // same day-scale series, same 7-offset explode join for the centered
    // trend sum, same integer detrend (7*cents - sum7) and weekday means;
    // every component derives from exact integers, divisions at the edge
    Entry("q_stl", StatsOps.stl, {
      import graft.queries.StatsOps.StlHalf
      val w = 2 * StlHalf + 1
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |d2 AS (SELECT *, CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) AS epoch
        |  FROM daily),
        |probes AS (SELECT epoch AS center, epoch + o.off AS epoch2
        |  FROM d2 CROSS JOIN (SELECT unnest(range(-$StlHalf, ${StlHalf + 1})) AS off) o),
        |win AS (SELECT center, CAST(SUM(b.cents) AS BIGINT) AS sum7
        |  FROM probes JOIN d2 b ON b.epoch = probes.epoch2
        |  GROUP BY 1 HAVING COUNT(*) = $w),
        |det AS (SELECT day, cents, sum7, d2.epoch % 7 AS dow,
        |    cents * $w - sum7 AS det_num
        |  FROM d2 JOIN win ON d2.epoch = win.center),
        |seas AS (SELECT dow, CAST(SUM(det_num) AS BIGINT) AS s_num, COUNT(*) AS s_n
        |  FROM det GROUP BY 1)
        |SELECT day, cents, CAST(sum7 AS DOUBLE) / $w AS trend,
        |  CAST(s_num AS DOUBLE) / CAST(s_n * $w AS DOUBLE) AS seasonal,
        |  CAST(cents AS DOUBLE) - CAST(sum7 AS DOUBLE) / $w
        |    - CAST(s_num AS DOUBLE) / CAST(s_n * $w AS DOUBLE) AS residual
        |FROM det JOIN seas USING (dow) ORDER BY day""".stripMargin
    }),
    // entity resolution completed: match-pair components + survivorship
    // same drop-one sorted-word-subset keys (equi-join candidate match),
    // recursive-walk components over name strings (both engines order
    // ASCII names identically), same (m DESC, name) survivorship
    Entry("q_golden_record", CurationOps.goldenRecord,
      s"""WITH $goldenLabSql,
        |ent AS (SELECT comp, COUNT(*) AS n_variants, CAST(SUM(m) AS BIGINT) AS n_rows
        |  FROM lab GROUP BY 1),
        |canon AS (SELECT comp, name AS canonical_name FROM (
        |    SELECT *, row_number() OVER (PARTITION BY comp ORDER BY m DESC, name) AS r
        |    FROM lab) WHERE r = 1)
        |SELECT canonical_name, n_variants, n_rows FROM ent JOIN canon USING (comp)
        |WHERE n_variants >= 2 ORDER BY canonical_name""".stripMargin),
    // golden record + hub verification: over-merged entities refined
    // same chain + hub verification vs the elected canonical: word-set
    // Jaccard by exact sizes (|A∩B| = |A|+|B|−|A∪B|), integer
    // cross-multiplied threshold, same (m DESC, name) canonical
    Entry("q_entity_verify", CurationOps.entityVerify, {
      import graft.queries.CurationOps.VerifyTauDen
      s"""WITH $goldenLabSql,
        |canon AS (SELECT comp, name AS canon_name FROM (
        |    SELECT *, row_number() OVER (PARTITION BY comp ORDER BY m DESC, name) AS r
        |    FROM lab) WHERE r = 1),
        |wsx AS (SELECT name, list_distinct(string_split(name, ' ')) AS wd FROM nm),
        |v AS (SELECT lab.comp, c.canon_name, lab.m,
        |    len(a.wd) + len(b.wd) - len(list_distinct(list_concat(a.wd, b.wd))) AS inter_n,
        |    len(list_distinct(list_concat(a.wd, b.wd))) AS un
        |  FROM lab JOIN canon c USING (comp)
        |  JOIN wsx a ON a.name = lab.name
        |  JOIN wsx b ON b.name = c.canon_name)
        |SELECT canon_name AS canonical_name,
        |  CAST(SUM(CASE WHEN inter_n * $VerifyTauDen >= un THEN 1 ELSE 0 END) AS BIGINT) AS n_variants,
        |  CAST(SUM(CASE WHEN inter_n * $VerifyTauDen >= un THEN m ELSE 0 END) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN inter_n * $VerifyTauDen >= un THEN 0 ELSE 1 END) AS BIGINT) AS n_rejected
        |FROM v GROUP BY comp, canon_name
        |HAVING SUM(CASE WHEN inter_n * $VerifyTauDen >= un THEN 1 ELSE 0 END) >= 2
        |ORDER BY canonical_name""".stripMargin
    }),
    // contrastive hard-negative mining (label-contrastive cosine top-k)
    // same label-rejecting pair join, same cosine and (cos desc, id) rank
    Entry("q_hard_negatives", VectorOps.hardNegatives, {
      import graft.queries.VectorOps.{HardNegK, HardNegProbes}
      s"""WITH e AS (SELECT vec_id, label, embedding, len(embedding) AS n FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, label AS p_label, embedding AS p_emb, n
        |  FROM e WHERE vec_id < $HardNegProbes),
        |pairs AS (
        |  SELECT pr.probe_id, pr.p_label, c.vec_id AS neighbor_id, c.label AS n_label,
        |    ${cosSql("pr.p_emb", "c.embedding", "pr.n")} AS cos_sim
        |  FROM pr JOIN e c ON c.label <> pr.p_label)
        |SELECT probe_id, p_label, CAST(rnk AS INT) AS rank, neighbor_id, n_label, cos_sim
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM pairs)
        |WHERE rnk <= $HardNegK ORDER BY probe_id, rank""".stripMargin
    }),
    // hybrid dense+lexical retrieval fused by reciprocal rank
    // same two rank lists (cosine scan; probe-term BM25 with the exact
    // integer-quantized contributions) fused by the same two-term RRF sum
    Entry("q_hybrid_rrf", VectorOps.hybridRrf, {
      import graft.queries.TextOps.{BmB, BmK1, BmScale}
      import graft.queries.VectorOps.{RrfK, RrfPoolK, RrfProbes, RrfTopK}
      def lnq(m: String) =
        s"CAST(floor(ln(CAST($m AS DOUBLE)) * $BmScale.0 + 0.5) AS BIGINT)"
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |pr AS (SELECT vec_id AS probe_id, embedding AS p_emb, n
        |  FROM e WHERE vec_id < $RrfProbes),
        |dpairs AS (
        |  SELECT pr.probe_id, c.vec_id AS neighbor_id,
        |    ${cosSql("pr.p_emb", "c.embedding", "pr.n")} AS cos_sim
        |  FROM pr JOIN e c ON c.vec_id <> pr.probe_id),
        |dense AS (SELECT probe_id, neighbor_id, CAST(rnk AS INT) AS r_dense FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM dpairs) WHERE rnk <= $RrfPoolK),
        |d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM d),
        |pterms AS (SELECT DISTINCT doc_id AS probe_id, term
        |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        |        FROM documents WHERE doc_id < $RrfProbes)),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        |        FROM documents)
        |  WHERE term IN (SELECT term FROM pterms) GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |c AS (SELECT doc_id, term,
        |    CAST(floor(
        |      CAST(${lnq("2 * n_docs + 2")} - ${lnq("2 * df + 1")} AS DOUBLE)
        |      * (CAST(tf AS DOUBLE) * ${BmK1 + 1.0}
        |         / (CAST(tf AS DOUBLE) + $BmK1 * (${1.0 - BmB}
        |            + $BmB * CAST(dl AS DOUBLE)
        |              / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
        |      + 0.5) AS BIGINT) AS contrib_q
        |  FROM tf JOIN dfreq USING (term) JOIN d USING (doc_id) CROSS JOIN stats),
        |lexsc AS (SELECT p.probe_id, c.doc_id AS neighbor_id,
        |    CAST(SUM(contrib_q) AS BIGINT) AS score_q
        |  FROM c JOIN pterms p USING (term) WHERE c.doc_id <> p.probe_id
        |  GROUP BY 1, 2),
        |lex AS (SELECT probe_id, neighbor_id, CAST(rnk AS INT) AS r_lex FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY score_q DESC, neighbor_id) AS rnk
        |  FROM lexsc) WHERE rnk <= $RrfPoolK),
        |fused AS (
        |  SELECT COALESCE(dense.probe_id, lex.probe_id) AS probe_id,
        |    COALESCE(dense.neighbor_id, lex.neighbor_id) AS neighbor_id,
        |    r_dense, r_lex,
        |    COALESCE(CAST(1 AS DOUBLE) / ($RrfK + r_dense), CAST(0 AS DOUBLE))
        |      + COALESCE(CAST(1 AS DOUBLE) / ($RrfK + r_lex), CAST(0 AS DOUBLE)) AS rrf_score
        |  FROM dense FULL JOIN lex
        |    ON dense.probe_id = lex.probe_id AND dense.neighbor_id = lex.neighbor_id)
        |SELECT probe_id, CAST(rnk AS INT) AS rank, neighbor_id, r_dense, r_lex, rrf_score
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY rrf_score DESC, neighbor_id) AS rnk
        |  FROM fused)
        |WHERE rnk <= $RrfTopK ORDER BY probe_id, rank""".stripMargin
    }),
    // top principal component: exact-integer centered Gram + power iteration
    // same integer moments (n·Σqq − ΣqΣq), same 24 unrolled L∞-normalized
    // matvec rounds as k-ascending first-seed folds, same Rayleigh close
    Entry("q_pca_power", VectorOps.pcaPower, {
      import graft.queries.VectorOps.PcaDim
      s"""WITH $pcaCoreSql
        |SELECT CAST(jj - 1 AS INT) AS dim, v[jj] / sqrt(den) AS loading,
        |  num / den AS lambda, (num / den) / CAST(tr.tr AS DOUBLE) AS var_frac
        |FROM sc CROSS JOIN tr CROSS JOIN (SELECT unnest(range(1, ${PcaDim + 1})) AS jj)
        |ORDER BY dim""".stripMargin
    }),
    // per-source unigram KL divergence matrix (integer-sum total)
    // same add-one smoothing over the shared vocab, same integer
    // cross-product log arguments, same single end division
    Entry("q_source_kl", TextOps.sourceKl, {
      import graft.queries.TextOps.BmScale
      // HUGEINT count-product argument -> VARCHAR detour (q_psi note)
      def lnq(m: String) =
        s"CAST(floor(ln(CAST(CAST($m AS VARCHAR) AS DOUBLE)) * $BmScale.0 + 0.5) AS BIGINT)"
      s"""WITH st AS (SELECT source, term, COUNT(*) AS c
        |  FROM (SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM st GROUP BY 1),
        |vocab AS (SELECT DISTINCT term FROM st),
        |vc AS (SELECT COUNT(*) AS v FROM vocab),
        |uni AS (SELECT a.source AS source_a, a.n AS n_a, b.source AS source_b,
        |    b.n AS n_b, vc.v, vocab.term
        |  FROM ns a CROSS JOIN ns b CROSS JOIN vc CROSS JOIN vocab
        |  WHERE a.source <> b.source),
        |j AS (SELECT u.source_a, u.source_b, u.n_a, u.n_b,
        |    COALESCE(sa.c, 0) + 1 AS ia, COALESCE(sb.c, 0) + 1 AS ib,
        |    u.n_a + u.v AS nap, u.n_b + u.v AS nbp
        |  FROM uni u
        |  LEFT JOIN st sa ON sa.source = u.source_a AND sa.term = u.term
        |  LEFT JOIN st sb ON sb.source = u.source_b AND sb.term = u.term)
        |SELECT source_a, source_b, n_a, n_b,
        |  CAST(SUM(ia * (${lnq("CAST(ia AS HUGEINT) * nbp")} - ${lnq("CAST(ib AS HUGEINT) * nap")})) AS DOUBLE)
        |    / CAST(nap AS DOUBLE) / $BmScale.0 AS kl
        |FROM j GROUP BY source_a, source_b, n_a, n_b, nap
        |ORDER BY source_a, source_b""".stripMargin
    }),
    // Wald SPRT day-by-day experiment monitor (integer LLR cumsum)
    // same /50 rational hypotheses, same integer lnq increments, same
    // arm-partitioned day cumsum against the quantized ±ln 19 bound
    Entry("q_sprt_monitor", BehaviorOps.sprtMonitor, sprtMonitorSql),
    // the SPRT cumsum as flatMapGroupsWithState state (batch twin)
    // the SAME integer cumsum carried as flatMapGroupsWithState state
    // (one oracle, two plans: window cumsum vs per-arm stateful fold)
    Entry("q_sprt_state", graft.streaming.SprtState.sprtStateBatch, sprtMonitorSql),
    // harmonic centrality from probe customers (exact lcm-scaled 1/d)
    // same bipartite encoding and seeds; the layered first-visit BFS
    // replays as a depth-bounded recursive walk + MIN(depth); same
    // lcm-scaled integer reciprocals
    Entry("q_harmonic", GraphOps.harmonic, {
      import graft.queries.GraphOps.{HarmonicLcm, HarmonicMaxDepth, HarmonicSeedMod}
      s"""WITH pairs AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |seeds AS (SELECT DISTINCT src AS s FROM e
        |  WHERE src % 2 = 0 AND (src // 2) % $HarmonicSeedMod = 1),
        |walk AS (
        |  WITH RECURSIVE w(s, node, depth) AS (
        |    SELECT s, s, 0 FROM seeds
        |    UNION
        |    SELECT w.s, e.dst, w.depth + 1 FROM w JOIN e ON e.src = w.node
        |    WHERE w.depth < $HarmonicMaxDepth)
        |  SELECT * FROM w),
        |d AS (SELECT s, node, MIN(depth) AS depth FROM walk GROUP BY 1, 2)
        |SELECT s // 2 AS custkey, CAST(COUNT(*) AS BIGINT) AS n_reached,
        |  CAST(SUM($HarmonicLcm // depth) AS DOUBLE) / $HarmonicLcm.0 AS harmonic
        |FROM d WHERE depth > 0 GROUP BY s ORDER BY custkey""".stripMargin
    }),
    // source-sampled Brandes betweenness: integer sigma + 2^20 fixed-
    // point dependency accumulation, top-20 interior nodes
    // same bipartite encoding and seeds as q_harmonic; sigma replays as
    // WALK COUNTS (a minimum-length walk cannot revisit, so the count of
    // length-MIN(depth) walks IS the shortest-path count) in unrolled
    // edge-join CTEs with HUGEINT counts; the backward sweep applies the
    // identical half-up integral rational (2a+b)//(2b) level by level
    Entry("q_betweenness", GraphOps.betweenness, {
      import graft.queries.GraphOps.{BetwMaxDepth, BetwScale, HarmonicSeedMod}
      val walks = (1 to BetwMaxDepth).map { d =>
        s"""w$d AS MATERIALIZED (SELECT w.sk, e.dst AS node, SUM(w.sigma) AS sigma
           |  FROM edges e JOIN w${d - 1} w ON e.src = w.node GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      val uAll = (0 to BetwMaxDepth)
        .map(d => s"SELECT sk, node, $d AS d, sigma FROM w$d")
        .mkString("\n  UNION ALL ")
      val back = (BetwMaxDepth - 1) to 1 by -1
      val bLevels = back.map { k =>
        s"""b$k AS MATERIALIZED (SELECT d.sk, d.v AS node,
           |    CAST(SUM((2 * d.sigma_v * ($BetwScale + COALESCE(b.dq, 0)) + d.sigma_w)
           |      // (2 * d.sigma_w)) AS BIGINT) AS dq
           |  FROM dag d LEFT JOIN b${k + 1} b ON b.sk = d.sk AND b.node = d.w
           |  WHERE d.dv = $k GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      val accAll = back.map(k => s"SELECT * FROM b$k").mkString("\n  UNION ALL ")
      s"""WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |seeds AS (SELECT DISTINCT src AS sk FROM edges
        |  WHERE src % 2 = 0 AND (src // 2) % $HarmonicSeedMod = 1),
        |w0 AS (SELECT sk, sk AS node, CAST(1 AS HUGEINT) AS sigma FROM seeds),
        |$walks,
        |u AS ($uAll),
        |vis AS MATERIALIZED (SELECT sk, node, MIN(d) AS depth FROM u GROUP BY 1, 2),
        |sv AS MATERIALIZED (SELECT u.sk, u.node, v.depth, u.sigma
        |  FROM u JOIN vis v ON u.sk = v.sk AND u.node = v.node AND u.d = v.depth),
        |dag AS MATERIALIZED (
        |  SELECT a.sk, a.node AS v, b.node AS w, a.depth AS dv,
        |    a.sigma AS sigma_v, b.sigma AS sigma_w
        |  FROM edges e
        |  JOIN sv a ON e.src = a.node
        |  JOIN sv b ON e.dst = b.node AND b.sk = a.sk
        |  WHERE b.depth = a.depth + 1),
        |b$BetwMaxDepth AS (SELECT sk, node, CAST(0 AS BIGINT) AS dq FROM sv
        |  WHERE depth = $BetwMaxDepth),
        |$bLevels,
        |acc AS ($accAll),
        |agg AS (SELECT node, COUNT(DISTINCT sk) AS n_sources,
        |    CAST(SUM(dq) AS BIGINT) AS betw_q FROM acc GROUP BY 1)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        |  node // 2 AS entity_key, n_sources, betw_q,
        |  CAST(betw_q AS DOUBLE) / $BetwScale.0 AS betweenness
        |FROM agg ORDER BY betw_q DESC, kind, entity_key LIMIT 20""".stripMargin
    }),
    // HyperANF neighborhood function: per-node HLL register-max
    // propagation, quantized-integer estimate sums per depth
    // same md5 registers as q_hll_distinct, propagated through unrolled
    // 16-column register-MAX CTEs; per-node estimates floor-quantized to
    // 1/1024 BEFORE the cross-node sum, so nf_q is an exact integer in
    // both engines and only the mirrored final divisions run in floats
    Entry("q_anf", GraphOps.anf, {
      import graft.queries.GraphOps.{AnfEstNum, AnfMaxDepth, AnfQScale, AnfRegisters}
      val ms = (0 until AnfRegisters).map(i => s"m$i")
      val mcols = ms.mkString(", ")
      val init = ms.zipWithIndex
        .map { case (m, i) => s"CASE WHEN r = $i THEN rk ELSE 0 END AS $m" }
        .mkString(",\n        |    ")
      val maxes = ms.map(m => s"MAX($m) AS $m").mkString(", ")
      val rounds = (1 to AnfMaxDepth).map { d =>
        s"""s$d AS MATERIALIZED (SELECT node, $maxes FROM (
           |    SELECT node, $mcols FROM s${d - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, $mcols FROM edges e JOIN s${d - 1} p ON e.src = p.node)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      val denom = ms
        .map(m => s"(CAST(1 AS BIGINT) << CAST(33 - $m AS INT))")
        .mkString(" + ")
      val ests = (0 to AnfMaxDepth).map { d =>
        s"""e$d AS (SELECT $d AS depth, COUNT(*) AS n_nodes,
           |  CAST(SUM(CAST(floor($AnfEstNum / CAST($denom AS DOUBLE)
           |    * $AnfQScale.0 + 0.5) AS BIGINT)) AS BIGINT) AS nf_q FROM s$d)""".stripMargin
      }.mkString(",\n")
      val unions = (0 to AnfMaxDepth).map(d => s"SELECT * FROM e$d")
        .mkString("\n  UNION ALL ")
      s"""WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs
        |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |regs AS (SELECT node,
        |    ${h32Sql("CAST(node AS VARCHAR)")} % $AnfRegisters AS r,
        |    CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rk
        |  FROM (SELECT node,
        |      CAST(concat('0x', substr(md5(CAST(node AS VARCHAR)), 9, 8)) AS BIGINT) AS w
        |    FROM nodes)),
        |s0 AS MATERIALIZED (SELECT node,
        |    $init
        |  FROM regs),
        |$rounds,
        |$ests,
        |all_ AS ($unions),
        |hz AS (SELECT nf_q AS nf_q_max FROM all_ WHERE depth = $AnfMaxDepth)
        |SELECT CAST(depth AS INT) AS depth, n_nodes,
        |  CAST(nf_q AS DOUBLE) / $AnfQScale.0 AS nf_est, nf_q,
        |  CAST(nf_q AS DOUBLE) / CAST(nf_q_max AS DOUBLE) AS nf_ratio
        |FROM all_ CROSS JOIN hz ORDER BY depth""".stripMargin
    }),
    // 2-component mixture by classification EM (exact-moment scores)
    // same midpoint init, same unrolled rounds with HUGEINT moments and
    // the identical per-row score expression (lnq grid + exact rational)
    Entry("q_gmm_hard", StatsOps.gmmHard, {
      import graft.queries.StatsOps.{GmmRounds, LogScale}
      def lnq(m: String) =
        s"CAST(floor(ln(CAST($m AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)"
      // the m_i moments are HUGEINT and routinely exceed 2^63, so every
      // double read of one routes through the pinned CAST-to-VARCHAR
      // detour (q_simpsons/q_elasticity/q_modularity precedent): a
      // 1-ulp hugeint->double drift would feed the floor-quantized
      // E-step comparison and could flip an assignment (ADVICE r10)
      def dd(m: String) = s"CAST(CAST($m AS VARCHAR) AS DOUBLE)"
      def lnqh(m: String) =
        s"CAST(floor(ln(${dd(m)}) * $LogScale.0 + 0.5) AS BIGINT)"
      def moments(src: String, out: String) =
        s"""$out AS (SELECT COUNT(*) AS nn,
          |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          |    CAST(SUM(CASE WHEN c = 1 THEN x ELSE 0 END) AS BIGINT) AS s1,
          |    SUM(CASE WHEN c = 1 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q1,
          |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          |    CAST(SUM(CASE WHEN c = 2 THEN x ELSE 0 END) AS BIGINT) AS s2,
          |    SUM(CASE WHEN c = 2 THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q2
          |  FROM $src),
          |${out}m AS (SELECT *,
          |    CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS m1,
          |    CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS m2
          |  FROM $out)""".stripMargin
      def score(i: Int) =
        s"""(CAST(${lnqh(s"m$i")} - 4 * ${lnq(s"n$i")} + 2 * ${lnq("nn")} AS DOUBLE)
          |      / $LogScale.0
          |      + ${dd(s"(CAST(n$i AS HUGEINT) * x - s$i) * (CAST(n$i AS HUGEINT) * x - s$i)")}
          |        / ${dd(s"m$i")})""".stripMargin
      val rounds = (1 to GmmRounds).map { r =>
        s"""${moments(s"a${r - 1}", s"mo$r")},
          |a$r AS (SELECT x, CASE WHEN ${score(1)} <= ${score(2)} THEN 1 ELSE 2 END AS c
          |  FROM xs CROSS JOIN mo${r}m)""".stripMargin
      }.mkString(",\n")
      def out(i: Int) =
        s"""SELECT $i AS component, n$i AS n,
          |  CAST(n$i AS DOUBLE) / CAST(nn AS DOUBLE) AS weight,
          |  CAST(s$i AS DOUBLE) / CAST(n$i AS DOUBLE) / 100.0 AS mean_price,
          |  sqrt(${dd(s"m$i")} / CAST(n$i AS DOUBLE) / CAST(n$i AS DOUBLE)) / 100.0 AS sd_price
          |FROM finm""".stripMargin
      s"""WITH xs AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |  FROM orders),
        |mm AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM xs),
        |a0 AS (SELECT x, CASE WHEN 2 * x <= mn + mx THEN 1 ELSE 2 END AS c
        |  FROM xs CROSS JOIN mm),
        |$rounds,
        |${moments(s"a$GmmRounds", "fin")}
        |${out(1)} UNION ALL ${out(2)} ORDER BY component""".stripMargin
    }),
    // JL sketch distance-preservation audit over the LSH planes
    // same ±1 md5 planes, same left-associated 16-term estimate
    Entry("q_jl_audit", VectorOps.jlAudit, {
      import graft.queries.VectorOps.{JlPlanes, JlProbes}
      val projCols = (0 until JlPlanes).map(j => s"${planeDotSql(j)} AS p$j").mkString(",\n    ")
      val est = (0 until JlPlanes)
        .map(j => s"(a.p$j - c.p$j) * (a.p$j - c.p$j)").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings
        |  WHERE vec_id < $JlProbes),
        |b AS (SELECT vec_id, embedding, n,
        |    ${dotSql("embedding", "embedding", "n")} AS ss,
        |    $projCols
        |  FROM e),
        |pairs AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
        |    a.ss + c.ss - CAST(2 AS DOUBLE) * ${dotSql("a.embedding", "c.embedding", "a.n")} AS d2_true,
        |    ($est) / CAST($JlPlanes AS DOUBLE) AS d2_jl
        |  FROM b a JOIN b c ON a.vec_id < c.vec_id)
        |SELECT id_a, id_b, d2_true, d2_jl, d2_jl / nullif(d2_true, CAST(0 AS DOUBLE)) AS ratio
        |FROM pairs ORDER BY id_a, id_b""".stripMargin
    }),
    // coarsened-exact-matching ATT (adaptive mean cuts, pruned strata)
    // same adaptive cross-multiplied cuts, same pruned-strata join, same
    // stratum-ordered ATT fold
    Entry("q_cem_att", StatsOps.cemAtt,
      s"""WITH ev AS (SELECT user_id, event_type,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events),
        |u AS (SELECT user_id,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
        |    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS n_signup,
        |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_error,
        |    SUM(CASE WHEN event_type = 'purchase' THEN COALESCE(cents, 0) ELSE 0 END) AS y_cents
        |  FROM ev GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS nu, SUM(n_click) AS tc, SUM(n_view) AS tv,
        |    SUM(n_signup) AS tsg, SUM(n_error) AS te FROM u),
        |f AS (SELECT u.user_id, u.y_cents,
        |    CAST((CASE WHEN nu * n_click > tc THEN 1 ELSE 0 END) * 4
        |      + (CASE WHEN nu * n_view > tv THEN 1 ELSE 0 END) * 2
        |      + (CASE WHEN nu * n_signup > tsg THEN 1 ELSE 0 END) AS INT) AS stratum,
        |    CASE WHEN nu * n_error > te THEN 1 ELSE 0 END AS treat
        |  FROM u CROSS JOIN tot),
        |g AS (SELECT stratum, treat, COUNT(*) AS n, CAST(SUM(y_cents) AS BIGINT) AS sy
        |  FROM f GROUP BY 1, 2),
        |d AS (SELECT t.stratum, t.n AS n_treated, c.n AS n_control,
        |    CAST(t.sy AS DOUBLE) / CAST(t.n AS DOUBLE) / 100.0 AS mean_y_treated,
        |    CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE) / 100.0 AS mean_y_control
        |  FROM g t JOIN g c ON t.stratum = c.stratum AND t.treat = 1 AND c.treat = 0),
        |d2 AS (SELECT *, mean_y_treated - mean_y_control AS diff FROM d),
        |att AS (SELECT list_reduce(list(CAST(n_treated AS DOUBLE) * diff ORDER BY stratum),
        |    (a, b) -> a + b) / CAST(SUM(n_treated) AS DOUBLE) AS att FROM d2)
        |SELECT stratum, n_treated, n_control, mean_y_treated, mean_y_control, diff, att
        |FROM d2 CROSS JOIN att ORDER BY stratum""".stripMargin),
    // per-label PC1 projection moments (the trained component applied)
    // same unit loadings, same k-ascending projection fold and floor
    // quantization, same HUGEINT (n·Σp² − ΣpΣp) spread moments
    Entry("q_pca_project", VectorOps.pcaProject, {
      import graft.queries.VectorOps.{PcaDim, PcaScale}
      val dp1 = PcaDim + 1
      s"""WITH $pcaCoreSql,
        |u AS (SELECT list_transform(range(1, $dp1), j -> v[j] / sqrt(den)) AS u FROM sc),
        |pj AS (SELECT q.label,
        |    CAST(floor(list_reduce(
        |      list_transform(range(1, $dp1), k -> q.v[k] * u.u[k]),
        |      (a, b) -> a + b)) AS BIGINT) AS pq
        |  FROM q CROSS JOIN u),
        |ag AS (SELECT label, COUNT(*) AS n_vecs,
        |    CAST(SUM(pq) AS BIGINT) AS s1, CAST(SUM(pq * pq) AS BIGINT) AS s2
        |  FROM pj GROUP BY label)
        |SELECT label, n_vecs,
        |  CAST(s1 AS DOUBLE) / CAST(n_vecs AS DOUBLE) / $PcaScale.0 AS mean_proj,
        |  -- HUGEINT spread through the pinned VARCHAR detour (ADVICE r10)
        |  CAST(CAST(CAST(n_vecs AS HUGEINT) * CAST(s2 AS HUGEINT)
        |       - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT) AS VARCHAR) AS DOUBLE)
        |    / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs AS DOUBLE))
        |    / ${PcaScale * PcaScale}.0 AS var_proj
        |FROM ag ORDER BY label""".stripMargin
    }),
    // Newman modularity of co-purchase components, exact wide-int terms
    // same thresholded co-edges; recursive-walk components (= Spark's
    // converged pointer-jumping labels); identical wide-int modularity
    // terms through the VARCHAR detour
    Entry("q_modularity", GraphOps.modularity,
      s"""WITH ${coEdgeCtes()},
        |sym AS (SELECT u AS src, v AS dst FROM e0
        |  UNION ALL SELECT v AS src, u AS dst FROM e0),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |walk AS (
        |  WITH RECURSIVE wr(id, reach) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT w.id, s.dst FROM wr w JOIN sym s ON s.src = w.reach)
        |  SELECT * FROM wr),
        |comp AS MATERIALIZED (SELECT id, MIN(reach) AS comp FROM walk GROUP BY 1),
        |lab AS (SELECT e0.u, e0.v, cu.comp AS cu, cv.comp AS cv
        |  FROM e0 JOIN comp cu ON e0.u = cu.id JOIN comp cv ON e0.v = cv.id),
        |intra AS (SELECT cu AS comp, COUNT(*) AS e_c FROM lab WHERE cu = cv GROUP BY 1),
        |deg AS (SELECT node, COUNT(*) AS deg FROM
        |  (SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0) GROUP BY 1),
        |dc AS (SELECT c.comp, COUNT(*) AS n_nodes, CAST(SUM(deg) AS BIGINT) AS d_c
        |  FROM deg JOIN comp c ON deg.node = c.id GROUP BY 1),
        |mm AS (SELECT COUNT(*) AS m FROM e0),
        |parts AS (SELECT dc.comp AS component, n_nodes,
        |    COALESCE(e_c, 0) AS e_c, d_c,
        |    CAST(COALESCE(e_c, 0) AS HUGEINT) * 4 * m
        |      - CAST(d_c AS HUGEINT) * d_c AS num,
        |    CAST(m AS HUGEINT) * m * 4 AS den
        |  FROM dc LEFT JOIN intra ON dc.comp = intra.comp CROSS JOIN mm),
        |qt AS (SELECT CAST(CAST(SUM(num) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(MAX(den) AS VARCHAR) AS DOUBLE) AS q_total FROM parts)
        |SELECT component, n_nodes, e_c AS intra_edges, d_c AS degree_sum,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS q_c,
        |  q_total
        |FROM parts CROSS JOIN qt ORDER BY component""".stripMargin),
    // one-level Louvain: parity-scheduled modularity-ascent moves
    // same singleton start, same exact HUGEINT gain score 2m·k_ic −
    // k_i·(tot − own k_i), same min-community tiebreak and parity-
    // alternating move schedule, unrolled to the shared round count
    Entry("q_louvain", GraphOps.louvain, {
      import graft.queries.GraphOps.LouvainIters
      val lk = s"l$LouvainIters"
      s"""WITH $louvainL1Ctes,
        |lab AS (SELECT e0.u, e0.v, cu.comm AS cu, cv.comm AS cv
        |  FROM e0 JOIN $lk cu ON e0.u = cu.node JOIN $lk cv ON e0.v = cv.node),
        |intra AS (SELECT cu AS community, COUNT(*) AS e_c FROM lab
        |  WHERE cu = cv GROUP BY 1),
        |dc AS (SELECT comm AS community, COUNT(*) AS n_nodes,
        |    CAST(SUM(deg) AS BIGINT) AS d_c
        |  FROM deg JOIN $lk USING (node) GROUP BY 1),
        |parts AS (SELECT dc.community, n_nodes,
        |    COALESCE(e_c, 0) AS e_c, d_c,
        |    CAST(COALESCE(e_c, 0) AS HUGEINT) * 4 * m
        |      - CAST(d_c AS HUGEINT) * d_c AS num,
        |    CAST(m AS HUGEINT) * m * 4 AS den
        |  FROM dc LEFT JOIN intra ON dc.community = intra.community CROSS JOIN mm),
        |qt AS (SELECT CAST(CAST(SUM(num) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(MAX(den) AS VARCHAR) AS DOUBLE) AS q_total FROM parts)
        |SELECT community, n_nodes, e_c AS intra_edges, d_c AS degree_sum,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS q_c,
        |  q_total
        |FROM parts CROSS JOIN qt ORDER BY community""".stripMargin
    }),
    // two-level Louvain: contraction into the weighted supergraph + re-run
    // same level-1 chain, contraction into the weighted supergraph (edge
    // weight = inter-community count, self rows = intra mass, supernode
    // weight = level-1 tot, m invariant), the SAME move-round template
    // re-run weighted, final partition = labels2 ∘ labels1
    Entry("q_louvain2", GraphOps.louvain2, {
      import graft.queries.GraphOps.{LouvainIters, LouvainLevelsMax}
      val lk = s"l$LouvainIters"
      // One contraction LEVEL, mirrored (GraphOps.louvain2From's level
      // loop): contract the composed partition fl{v-1} into the weighted
      // supergraph, re-run the shared move-round template with hash
      // parity, score every round's EXACT supergraph modularity
      // numerator, pick the best round (rk tie -> earliest = identity
      // round 0), compose into fl{v}. A stable level picks the identity
      // and every later level replays it — the Scala side's level-
      // stability stop is a no-op here by the fixed-point argument.
      def levelCtes(v: Int): String = {
        val prev = s"fl${v - 1}"
        val p = s"s${v}_"
        val roundNums = (0 to LouvainIters).map { k =>
          s"""ei${v}_$k AS (SELECT la.comm AS community,
            |    CAST(SUM(e.w) AS HUGEINT) // 2 AS e_pair
            |  FROM sym2$v e JOIN $p$k la ON e.src = la.node
            |  JOIN $p$k lb ON e.dst = lb.node
            |  WHERE la.comm = lb.comm GROUP BY 1),
            |mb${v}_$k AS (SELECT l.comm AS community,
            |    CAST(SUM(d.deg) AS HUGEINT) AS d_c,
            |    CAST(SUM(COALESCE(sl.w, 0)) AS HUGEINT) AS e_self
            |  FROM $p$k l JOIN sdeg$v d ON l.node = d.node
            |  LEFT JOIN (SELECT a AS node, w FROM ce$v WHERE a = b) sl
            |    ON l.node = sl.node
            |  GROUP BY 1),
            |rn${v}_$k AS (SELECT $k AS rk,
            |    SUM((COALESCE(e.e_pair, 0) + m2.e_self) * 4 * m
            |      - m2.d_c * m2.d_c) AS num
            |  FROM mb${v}_$k m2 LEFT JOIN ei${v}_$k e USING (community)
            |  CROSS JOIN mm)""".stripMargin
        }.mkString(",\n")
        val rqUnion = (0 to LouvainIters).map(k => s"SELECT * FROM rn${v}_$k")
          .mkString(" UNION ALL ")
        val allUnion = (0 to LouvainIters)
          .map(k => s"SELECT $k AS rk, node, comm FROM $p$k")
          .mkString(" UNION ALL ")
        s"""ce$v AS MATERIALIZED (SELECT cu.comm AS a, cv.comm AS b,
          |    CAST(COUNT(*) AS BIGINT) AS w
          |  FROM e0 JOIN $prev cu ON e0.u = cu.node
          |  JOIN $prev cv ON e0.v = cv.node
          |  GROUP BY 1, 2),
          |sym2$v AS MATERIALIZED (SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
          |    SELECT a AS src, b AS dst, w FROM ce$v WHERE a <> b
          |    UNION ALL SELECT b AS src, a AS dst, w FROM ce$v WHERE a <> b)
          |  GROUP BY 1, 2),
          |sdeg$v AS MATERIALIZED (SELECT l.comm AS node,
          |    CAST(SUM(d.deg) AS BIGINT) AS deg
          |  FROM $prev l JOIN deg d ON l.node = d.node GROUP BY 1),
          |${p}0 AS MATERIALIZED (SELECT node, node AS comm FROM sdeg$v),
          |${louvainMoveRoundsSql(LouvainIters, p, s"sym2$v", s"sdeg$v",
            parityExpr = h32Sql("CAST(s.node AS VARCHAR)") + " % 2")},
          |$roundNums,
          |rq$v AS ($rqUnion),
          |bestrk$v AS (SELECT rk FROM rq$v ORDER BY num DESC, rk LIMIT 1),
          |sbest$v AS MATERIALIZED (SELECT node, comm
          |  FROM ($allUnion) a JOIN bestrk$v USING (rk)),
          |fl$v AS MATERIALIZED (SELECT f.node, lv.comm FROM $prev f
          |  JOIN sbest$v lv ON f.comm = lv.node)""".stripMargin
      }
      val levels = (2 to LouvainLevelsMax).map(levelCtes).mkString(",\n")
      val flLast = s"fl$LouvainLevelsMax"
      s"""WITH $louvainL1Ctes,
        |fl1 AS (SELECT node, comm FROM $lk),
        |$levels,
        |q1 AS (SELECT CAST(CAST(SUM(CAST(COALESCE(i.w, 0) AS HUGEINT) * 4 * m
        |      - CAST(d.deg AS HUGEINT) * d.deg) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(MAX(CAST(m AS HUGEINT) * m * 4) AS VARCHAR) AS DOUBLE)
        |      AS q_level1
        |  FROM sdeg2 d LEFT JOIN (SELECT a, w FROM ce2 WHERE a = b) i ON d.node = i.a
        |  CROSS JOIN mm),
        |flab AS (SELECT e0.u, e0.v, cu.comm AS cu, cv.comm AS cv
        |  FROM e0 JOIN $flLast cu ON e0.u = cu.node
        |  JOIN $flLast cv ON e0.v = cv.node),
        |fintra AS (SELECT cu AS community, COUNT(*) AS e_c FROM flab
        |  WHERE cu = cv GROUP BY 1),
        |fdc AS (SELECT comm AS community, COUNT(*) AS n_nodes,
        |    CAST(SUM(deg) AS BIGINT) AS d_c
        |  FROM deg JOIN $flLast USING (node) GROUP BY 1),
        |parts AS (SELECT fdc.community, n_nodes,
        |    COALESCE(e_c, 0) AS e_c, d_c,
        |    CAST(COALESCE(e_c, 0) AS HUGEINT) * 4 * m
        |      - CAST(d_c AS HUGEINT) * d_c AS num,
        |    CAST(m AS HUGEINT) * m * 4 AS den
        |  FROM fdc LEFT JOIN fintra ON fdc.community = fintra.community
        |  CROSS JOIN mm),
        |qt AS (SELECT CAST(CAST(SUM(num) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(MAX(den) AS VARCHAR) AS DOUBLE) AS q_total FROM parts)
        |SELECT community, n_nodes, e_c AS intra_edges, d_c AS degree_sum,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS q_c,
        |  q_total, q_level1
        |FROM parts CROSS JOIN qt CROSS JOIN q1 ORDER BY community""".stripMargin
    }),
    // exact 2-D DBSCAN: grid radius graph, core CC, deterministic borders
    // same quantized coordinates and radius (the oracle may take the
    // quadratic candidate join the Spark plan is banned from — the shift
    // cancels in differences), same core rule, recursive-walk components
    // (= Spark's converged min-label propagation), same min-adjacent
    // border assignment
    Entry("q_dbscan", VectorOps.dbscan, {
      import graft.queries.VectorOps.{NnRadius, DbscanMinPts}
      s"""WITH p AS MATERIALIZED (SELECT vec_id,
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS x,
        |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) AS y
        |  FROM embeddings),
        |pr AS MATERIALIZED (SELECT a.vec_id, b.vec_id AS nn_id
        |  FROM p a JOIN p b ON a.vec_id <> b.vec_id
        |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= ${NnRadius * NnRadius}),
        |core AS MATERIALIZED (SELECT vec_id FROM pr GROUP BY 1
        |  HAVING COUNT(*) >= $DbscanMinPts),
        |ce AS MATERIALIZED (SELECT pr.vec_id AS src, pr.nn_id AS dst FROM pr
        |  JOIN core ca ON pr.vec_id = ca.vec_id
        |  JOIN core cb ON pr.nn_id = cb.vec_id),
        |walk AS (
        |  WITH RECURSIVE wr(id, reach) AS (
        |    SELECT vec_id, vec_id FROM core
        |    UNION
        |    SELECT w.id, e.dst FROM wr w JOIN ce e ON e.src = w.reach)
        |  SELECT * FROM wr),
        |comp AS MATERIALIZED (SELECT id AS vec_id, MIN(reach) AS comp
        |  FROM walk GROUP BY 1),
        |borders AS (SELECT pr.vec_id, MIN(c.comp) AS comp FROM pr
        |  JOIN comp c ON pr.nn_id = c.vec_id
        |  WHERE pr.vec_id NOT IN (SELECT vec_id FROM core)
        |  GROUP BY 1),
        |nc AS (SELECT comp, COUNT(*) AS n_core FROM comp GROUP BY 1),
        |nb AS (SELECT comp, COUNT(*) AS n_border FROM borders GROUP BY 1)
        |SELECT nc.comp AS cluster_id, n_core, COALESCE(n_border, 0) AS n_border
        |FROM nc LEFT JOIN nb USING (comp) ORDER BY cluster_id""".stripMargin
    }),
    // Holt level+trend smoothing backtest, struct-accumulator ordered fold
    // same calendar-reduced series, same first-element-seeded ARRAY fold.
    // Two DuckDB traps pinned here: a bare 0.5 is DECIMAL (the recursion
    // would run in decimal arithmetic), and a STRUCT accumulator is
    // mutated field-by-field by list_reduce — the t field's `a.l` reads
    // the already-updated level (probed: [10,20,40] gave t=4.6875, not
    // the IEEE-correct 8.125) — so the state rides a 2-element list
    Entry("q_holt", StatsOps.holt, {
      import graft.queries.StatsOps.HoltHorizon
      val half = "CAST(0.5 AS DOUBLE)"
      s"""WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |cut AS (SELECT MAX(day) - $HoltHorizon AS cutoff FROM daily),
        |arr AS (SELECT cutoff,
        |    list([CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)] ORDER BY day) AS ss
        |  FROM daily CROSS JOIN cut WHERE day <= cutoff GROUP BY cutoff),
        |fit AS (SELECT cutoff,
        |    list_reduce(ss, (a, e) -> [
        |      $half * e[1] + $half * (a[1] + a[2]),
        |      $half * ($half * e[1] + $half * (a[1] + a[2]) - a[1]) + $half * a[2]]) AS st
        |  FROM arr),
        |f AS (SELECT h.range + 1 AS h, cutoff + h.range + 1 AS day,
        |    st[1] + CAST(h.range + 1 AS DOUBLE) * st[2] AS forecast_cents
        |  FROM fit CROSS JOIN range($HoltHorizon) h)
        |SELECT CAST(f.h AS INT) AS h, f.day, d.x AS actual_cents, f.forecast_cents,
        |  abs(CAST(d.x AS DOUBLE) - f.forecast_cents) AS abs_err
        |FROM f JOIN daily d ON d.day = f.day
        |ORDER BY h""".stripMargin
    }),
    // Holt-Winters additive weekly-seasonal smoothing backtest
    // the same 10-slot array fold, generated from the SAME hwStepExprs
    // (1-based here) so both engines run the identical expression tree
    Entry("q_holt_winters", StatsOps.holtWinters, {
      import graft.queries.StatsOps.{HwHorizon, HwPeriod, hwStepExprs}
      val zeros = Seq.fill(8)("CAST(0.0 AS DOUBLE)").mkString(", ")
      val merge = hwStepExprs(1).mkString("[", ", ", "]")
      s"""WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |cut AS (SELECT MAX(day) - $HwHorizon AS cutoff FROM daily),
        |arr AS (SELECT cutoff,
        |    list([CAST(x AS DOUBLE), $zeros, CAST(day AS DOUBLE)] ORDER BY day) AS ss
        |  FROM daily CROSS JOIN cut WHERE day <= cutoff GROUP BY cutoff),
        |fit AS (SELECT cutoff,
        |    list_reduce(ss, (a, e) -> $merge) AS st
        |  FROM arr),
        |f AS (SELECT h.range + 1 AS h, cutoff + h.range + 1 AS day,
        |    st[1] + CAST(h.range + 1 AS DOUBLE) * st[2]
        |      + st[CAST((cutoff + h.range + 1) % $HwPeriod AS INT) + 3] AS forecast_cents
        |  FROM fit CROSS JOIN range($HwHorizon) h)
        |SELECT CAST(f.h AS INT) AS h, f.day, d.x AS actual_cents, f.forecast_cents,
        |  abs(CAST(d.x AS DOUBLE) - f.forecast_cents) AS abs_err
        |FROM f JOIN daily d ON d.day = f.day
        |ORDER BY h""".stripMargin
    }),
    // Laplace-mechanism noisy count release, deterministic noise replica
    // same md5-derived symmetric draw, same quantized integer-log
    // magnitude, same clamp — noise is bit-identical by construction
    Entry("q_dp_counts", PrivacyOps.dpCounts, {
      import graft.queries.PrivacyOps.{DpBMilli, DpEpsMilli, DpHalfRange}
      import graft.queries.StatsOps.LogScale
      def lnqSql(e: String) =
        s"CAST(floor(ln(CAST($e AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)"
      s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_true
        |  FROM documents GROUP BY 1),
        |n AS (SELECT source, n_true,
        |    ${h32Sql("concat('dp|', source)")} % ${2 * DpHalfRange} - $DpHalfRange AS v
        |  FROM c),
        |m AS (SELECT source, n_true, v,
        |    GREATEST(${lnqSql(DpHalfRange.toString)} - ${lnqSql("abs(v) + 1")}, 0) AS mag
        |  FROM n),
        |r AS (SELECT source, n_true,
        |    (CASE WHEN v < 0 THEN -1 ELSE 1 END) * (($DpBMilli * mag) // $LogScale) AS noise_milli
        |  FROM m)
        |SELECT source, n_true, noise_milli,
        |  CAST(n_true * 1000 + noise_milli AS DOUBLE) / 1000.0 AS n_released,
        |  ${DpEpsMilli.toDouble / 1000.0} AS epsilon_nominal,
        |  TRUE AS deterministic_replica
        |FROM r ORDER BY source""".stripMargin
    }),
    // in-engine Naive Bayes: train on parity split, classify, confusion
    // same parity split, same Laplace-smoothed quantized-log weights,
    // same matched-tokens-only normalizer — scores are exact integers
    Entry("q_nb_classify", TextOps.nbClassify, {
      s"""WITH $nbScoredCtes,
        |m AS (SELECT n_train, v, CAST(COUNT(*) AS BIGINT) AS n_test,
        |    CAST(SUM(CASE WHEN score > 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN score > 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN score <= 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN score <= 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM scored GROUP BY 1, 2)
        |SELECT n_train, n_test, v AS vocab, tp, fp, fn, tn,
        |  CAST(tp + tn AS DOUBLE) / CAST(n_test AS DOUBLE) AS accuracy,
        |  CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0) AS precision,
        |  CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0) AS recall,
        |  2.0 * (CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0))
        |      * (CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0))
        |    / nullif(CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)
        |      + CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0), 0.0) AS f1
        |FROM m""".stripMargin
    }),
    // decile lift / cumulative gains of the trained NB score
    // same NB scoring chain; global rank replays the engine's exclusive
    // prefix + within-score rank; same integer decile cut and cumulative
    Entry("q_lift_curve", TextOps.liftCurve, {
      s"""WITH $nbScoredCtes,
        |rk AS (SELECT y, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
        |  FROM scored),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p
        |  FROM scored),
        |dec AS (SELECT ((rn - 1) * 10) // n AS decile, y, n, p
        |  FROM rk CROSS JOIN nt),
        |g AS (SELECT decile, n, p, CAST(COUNT(*) AS BIGINT) AS n_d,
        |    CAST(SUM(y) AS BIGINT) AS pos_d
        |  FROM dec GROUP BY 1, 2, 3),
        |cum AS (SELECT g2.decile AS d2, CAST(SUM(g1.pos_d) AS BIGINT) AS cum_pos
        |  FROM g g1 JOIN g g2 ON g1.decile <= g2.decile GROUP BY 1)
        |SELECT decile, n_d, pos_d, cum_pos,
        |  CAST(pos_d AS DOUBLE) * CAST(n AS DOUBLE)
        |    / nullif(CAST(n_d AS DOUBLE) * CAST(p AS DOUBLE), 0.0) AS lift,
        |  CAST(cum_pos AS DOUBLE) / nullif(CAST(p AS DOUBLE), 0.0) AS cum_gain
        |FROM g JOIN cum ON g.decile = cum.d2 ORDER BY decile""".stripMargin
    }),
    // KS separation of the NB score distributions, positives vs negatives
    // same NB scoring chain; the ksTest shape over the score column with
    // per-class cumulatives — exact rational D, min-score location
    Entry("q_ks_classifier", TextOps.ksClassifier, {
      s"""WITH $nbScoredCtes,
        |pv AS (SELECT score AS v, CAST(SUM(y) AS BIGINT) AS c1,
        |    CAST(SUM(1 - y) AS BIGINT) AS c0
        |  FROM scored GROUP BY 1),
        |cum AS (SELECT v, SUM(c1) OVER (ORDER BY v) AS f1,
        |    SUM(c0) OVER (ORDER BY v) AS f0 FROM pv),
        |m AS (SELECT CAST(MAX(f1) AS BIGINT) AS n1, CAST(MAX(f0) AS BIGINT) AS n0
        |  FROM cum),
        |dev AS (SELECT v, n1, n0,
        |    CAST(abs(f1 * n0 - f0 * n1) AS BIGINT) AS dnum
        |  FROM cum CROSS JOIN m),
        |b AS (SELECT MAX(dnum) AS d_num FROM dev)
        |SELECT n1, n0, CAST(MIN(v) AS BIGINT) AS at_score, d_num,
        |  CAST(d_num AS DOUBLE) / nullif(CAST(n1 * n0 AS DOUBLE), 0.0) AS d_stat
        |FROM dev JOIN b ON dnum = d_num GROUP BY n1, n0, d_num""".stripMargin
    }),
    // exact Mann-Whitney ROC-AUC of the NB score, ties half-credited
    // same per-score class counts, same Mann-Whitney doubled-U identity
    // U*2 = sum c1*(2*F0 - c0) in HUGEINT, one final division
    Entry("q_auc_roc", TextOps.aucRoc, {
      s"""WITH $nbScoredCtes,
        |pv AS (SELECT score AS v, CAST(SUM(y) AS BIGINT) AS c1,
        |    CAST(SUM(1 - y) AS BIGINT) AS c0
        |  FROM scored GROUP BY 1),
        |cum AS (SELECT c1, c0,
        |    CAST(SUM(c0) OVER (ORDER BY v) AS BIGINT) AS f0 FROM pv),
        |u AS (SELECT SUM(CAST(c1 AS HUGEINT) * (2 * f0 - c0)) AS u2,
        |    CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c0) AS BIGINT) AS n0
        |  FROM cum)
        |SELECT n1, n0, CAST(CAST(u2 AS VARCHAR) AS DOUBLE) AS u2,
        |  CAST(CAST(u2 AS VARCHAR) AS DOUBLE)
        |    / nullif(2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE), 0.0) AS auc,
        |  CAST(CAST(u2 AS VARCHAR) AS DOUBLE)
        |    / nullif(2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE), 0.0) * 2 - 1
        |    AS gini_coeff
        |FROM u""".stripMargin
    }),
    // McNemar paired test: trained NB vs the stopword langid heuristic
    // the NB scoring chain paired with an inline (renamed) copy of the
    // langid chain on the same test docs; same exact 2x2 cells and
    // continuity-corrected chi-square
    Entry("q_mcnemar", TextOps.mcnemar, {
      import graft.queries.TextOps.NbPosLang
      s"""WITH $nbScoredCtes,
        |ld AS (SELECT doc_id, lang,
        |    string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
        |ls AS (SELECT doc_id,
        |    $langScoreSelects
        |  FROM ld),
        |lp AS (SELECT doc_id,
        |    $langPredCase AS pred_lang
        |  FROM ls),
        |jj AS (SELECT s.y,
        |    CASE WHEN s.score > 0 THEN 1 ELSE 0 END AS pa,
        |    CASE WHEN lp.pred_lang = '$NbPosLang' THEN 1 ELSE 0 END AS pb
        |  FROM scored s JOIN lp USING (doc_id)),
        |ff AS (SELECT CASE WHEN pa = y THEN 1 ELSE 0 END AS ca,
        |    CASE WHEN pb = y THEN 1 ELSE 0 END AS cb FROM jj),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(ca * cb) AS BIGINT) AS n11,
        |    CAST(SUM(ca * (1 - cb)) AS BIGINT) AS n10,
        |    CAST(SUM((1 - ca) * cb) AS BIGINT) AS n01,
        |    CAST(SUM((1 - ca) * (1 - cb)) AS BIGINT) AS n00
        |  FROM ff)
        |SELECT n, n11, n10, n01, n00,
        |  CAST(GREATEST(abs(n10 - n01) - 1, 0) AS DOUBLE)
        |    * CAST(GREATEST(abs(n10 - n01) - 1, 0) AS DOUBLE)
        |    / nullif(CAST(n10 + n01 AS DOUBLE), 0.0) AS chi2_cc
        |FROM mm""".stripMargin
    }),
    // optimal decision-stump split per feature by exact-moment Gini
    // same per-value reduction (window cumsum replays the two-level
    // prefix sum), same exact-int split objective, same min-v argmax
    Entry("q_stump", StatsOps.stump, {
      import graft.queries.StatsOps.StumpPosPriority
      def dbl(c: String) = s"CAST($c AS DOUBLE)"
      def sq2(a: String, b: String) =
        s"(${dbl(a)} * ${dbl(a)} + ${dbl(b)} * ${dbl(b)})"
      def block(tag: String, vcol: String, name: String) = {
        val score = s"${sq2("f1", "f - f1")} / ${dbl("f")}" +
          s" + ${sq2("n1 - f1", "(n - f) - (n1 - f1)")} / ${dbl("n - f")}"
        s"""pv_$tag AS (SELECT $vcol AS v, COUNT(*) AS c, CAST(SUM(y) AS BIGINT) AS c1
           |  FROM o GROUP BY 1),
           |cum_$tag AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) AS f,
           |    CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS f1 FROM pv_$tag),
           |tot_$tag AS (SELECT CAST(MAX(f) AS BIGINT) AS n, CAST(MAX(f1) AS BIGINT) AS n1
           |  FROM cum_$tag),
           |sc_$tag AS (SELECT v, n, n1, $score AS score
           |  FROM cum_$tag CROSS JOIN tot_$tag WHERE f < n),
           |b_$tag AS (SELECT MAX(score) AS best FROM sc_$tag),
           |r_$tag AS (SELECT '$name' AS feature, n, n1, CAST(MIN(v) AS BIGINT) AS threshold,
           |    best / ${dbl("n")} - ${sq2("n1", "n - n1")} / (${dbl("n")} * ${dbl("n")}) AS gini_gain
           |  FROM sc_$tag CROSS JOIN b_$tag WHERE score = best GROUP BY n, n1, best)""".stripMargin
      }
      s"""WITH o AS (SELECT
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CASE WHEN o_orderpriority = '$StumpPosPriority' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |${block("a", "cents", "totalprice_cents")},
        |${block("b", "day", "order_day")}
        |SELECT * FROM (SELECT * FROM r_a UNION ALL SELECT * FROM r_b)
        |ORDER BY feature""".stripMargin
    }),
    // Friedman blocked-rank chi2 across event types, tie-corrected
    // same complete-block restriction, same in-block doubled midranks,
    // same type-ordered fold and HUGEINT tie moment
    Entry("q_friedman", StatsOps.friedman,
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM daily),
        |complete AS (SELECT day FROM daily GROUP BY day
        |  HAVING COUNT(*) = (SELECT k FROM kk)),
        |cells AS (SELECT d.event_type, d.day, d.cnt
        |  FROM daily d JOIN complete USING (day)),
        |pv AS (SELECT day, cnt, COUNT(*) AS t FROM cells GROUP BY 1, 2),
        |pr AS (SELECT day, cnt,
        |    2 * (SUM(t) OVER (PARTITION BY day ORDER BY cnt) - t) + t + 1 AS rank2
        |  FROM pv),
        |ranked AS (SELECT c.event_type, r.rank2
        |  FROM cells c JOIN pr r ON c.day = r.day AND c.cnt = r.cnt),
        |bt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(rank2) AS BIGINT) AS r2 FROM ranked GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k2, CAST(MAX(n_blocks) AS BIGINT) AS n,
        |    list_reduce(list(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / 4.0
        |        ORDER BY event_type), (x, y) -> x + y) AS s
        |  FROM bt),
        |ties AS (SELECT SUM(CAST(t AS HUGEINT) * t * t) - SUM(CAST(t AS HUGEINT)) AS t3
        |  FROM pv),
        |f AS (SELECT k2, n, s, CAST(CAST(t3 AS VARCHAR) AS DOUBLE) AS t3d,
        |    CAST(k2 AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd
        |  FROM t CROSS JOIN ties),
        |h AS (SELECT k2 AS k, n,
        |    12.0 * s / (nd * kd * (kd + 1.0)) - 3.0 * nd * (kd + 1.0) AS chi2,
        |    1.0 - t3d / (nd * kd * (kd * kd - 1.0)) AS tie_c
        |  FROM f)
        |SELECT k, n, chi2, tie_c, chi2 / nullif(tie_c, 0.0) AS chi2_adj FROM h""".stripMargin),
    // oracle-checked recall@3 of multi-probe IVF vs exact brute force
    // the q_sim_topk and q_sim_ivf_multi chains verbatim, joined: recall
    // is |approx ∩ exact| / k per probe — the ANN honesty metric itself
    // cross-engine-checked
    Entry("q_ann_recall", VectorOps.annRecall,
      s"""WITH e AS (SELECT vec_id, embedding, len(embedding) AS n FROM embeddings),
        |pr0 AS (SELECT vec_id AS probe_id, embedding AS p_emb, n FROM e WHERE vec_id < 5),
        |pairs0 AS (
        |  SELECT pr0.probe_id, c.vec_id AS neighbor_id,
        |    ${cosSql("pr0.p_emb", "c.embedding", "pr0.n")} AS cos_sim
        |  FROM pr0 JOIN e c ON c.vec_id <> pr0.probe_id),
        |exact AS (SELECT probe_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM pairs0) WHERE rnk <= 3),
        |c AS (SELECT vec_id AS cid, embedding AS c_emb FROM e WHERE vec_id < 8),
        |sims AS (
        |  SELECT e.vec_id, e.embedding, e.n, c.cid,
        |    ${cosSql("e.embedding", "c.c_emb", "e.n")} AS sim
        |  FROM e JOIN c ON TRUE),
        |rsims AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
        |  FROM sims),
        |asg AS (SELECT vec_id, embedding, n, cid AS cell FROM rsims WHERE r = 1),
        |pr AS (
        |  SELECT vec_id AS probe_id, embedding AS p_emb, n, cid AS cell
        |  FROM rsims WHERE r <= ${VectorOps.IvfNProbe} AND vec_id < 5),
        |pairs AS (
        |  SELECT pr.probe_id, a.vec_id AS neighbor_id,
        |    ${cosSql("pr.p_emb", "a.embedding", "pr.n")} AS cos_sim
        |  FROM pr JOIN asg a ON a.cell = pr.cell AND a.vec_id <> pr.probe_id),
        |approx AS (SELECT probe_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
        |  FROM pairs) WHERE rnk <= 3),
        |hits AS (SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        |  FROM exact ex JOIN approx ap
        |    ON ex.probe_id = ap.probe_id AND ex.neighbor_id = ap.neighbor_id
        |  GROUP BY 1),
        |base AS (SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS k FROM exact GROUP BY 1)
        |SELECT b.probe_id AS probe_id, k, COALESCE(n_hit, 0) AS n_hit,
        |  CAST(COALESCE(n_hit, 0) AS DOUBLE) / CAST(k AS DOUBLE) AS recall
        |FROM base b LEFT JOIN hits USING (probe_id) ORDER BY b.probe_id""".stripMargin),
    // exact radius nearest-neighbor join via 3x3 grid-cell pruning
    // same shifted integer grid (cell = radius), same 9-offset candidate
    // join, same (dist2, id) argmin
    Entry("q_radius_nn", VectorOps.radiusNn, {
      import graft.queries.VectorOps.{NnRadius, NnShift}
      s"""WITH p AS (SELECT vec_id,
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) + $NnShift AS x,
        |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) + $NnShift AS y
        |  FROM embeddings),
        |b AS (SELECT vec_id AS nn_id, x AS xb, y AS yb,
        |    x // $NnRadius AS cx, y // $NnRadius AS cy FROM p),
        |o AS (SELECT i // 3 - 1 AS dx, i % 3 - 1 AS dy
        |  FROM (SELECT unnest(range(9)) AS i)),
        |pr AS (SELECT vec_id, x, y, x // $NnRadius + dx AS cx, y // $NnRadius + dy AS cy
        |  FROM p CROSS JOIN o),
        |c AS (SELECT pr.vec_id, b.nn_id,
        |    (pr.x - b.xb) * (pr.x - b.xb) + (pr.y - b.yb) * (pr.y - b.yb) AS dist2
        |  FROM pr JOIN b ON pr.cx = b.cx AND pr.cy = b.cy
        |  WHERE pr.vec_id <> b.nn_id),
        |g AS (SELECT vec_id, nn_id, dist2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, nn_id) AS rn
        |  FROM c WHERE dist2 <= ${NnRadius * NnRadius})
        |SELECT vec_id, nn_id, dist2 FROM g WHERE rn = 1 ORDER BY vec_id""".stripMargin
    }),
    // winnowing fingerprints (MOSS): windowed rightmost-min 3-gram hashes
    // same packed (hash, rightmost-pos) integer window-min over the same
    // positional 3-gram hashes, full windows only; same n_grams < P
    // packing-bound exclusion of oversized docs
    Entry("q_winnow", TextOps.winnow,
      s"""WITH $winnowSelSql
        |SELECT doc_id, CAST(MAX(n_grams) AS BIGINT) AS n_grams,
        |  COUNT(*) AS n_fingerprints, COUNT(DISTINCT fp_hash) AS n_distinct_hashes,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(MAX(n_grams) - ${graft.queries.TextOps.WinnowW - 1} AS DOUBLE) AS density
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // cross-document plagiarism candidates off shared winnow fingerprints
    // same winnow selection chain, same df-capped fp_hash equi-join, same
    // shared-count threshold and min-side containment
    Entry("q_plagiarism_pairs", TextOps.plagiarismPairs, {
      import graft.queries.TextOps.{PlagMaxDf, PlagMinShared}
      s"""WITH $winnowSelSql,
        |fps AS (SELECT DISTINCT doc_id, fp_hash FROM s),
        |nfp AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY 1),
        |rare AS (SELECT fp_hash FROM fps GROUP BY 1
        |  HAVING COUNT(*) BETWEEN 2 AND $PlagMaxDf),
        |capped AS (SELECT fps.doc_id, fps.fp_hash FROM fps JOIN rare USING (fp_hash)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM capped a JOIN capped b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING COUNT(*) >= $PlagMinShared)
        |SELECT doc_a, doc_b, n_shared, ca.n_fp AS n_fp_a, cb.n_fp AS n_fp_b,
        |  CAST(n_shared AS DOUBLE) / CAST(least(ca.n_fp, cb.n_fp) AS DOUBLE) AS containment
        |FROM pairs JOIN nfp ca ON doc_a = ca.doc_id JOIN nfp cb ON doc_b = cb.doc_id
        |ORDER BY n_shared DESC, doc_a, doc_b""".stripMargin
    }),
    // per-source distinctive vocabulary by smoothed quantized log-odds
    // same margins off the one (source, term) aggregate, same +1-smoothed
    // quantized integer-log cross-products, same (lor DESC, term) top-k
    Entry("q_topic_words", TextOps.topicWords, {
      import graft.queries.TextOps.{BmScale, TopicK}
      def lq(m: String) =
        s"CAST(floor(ln(CAST($m AS DOUBLE)) * $BmScale.0 + 0.5) AS BIGINT)"
      s"""WITH tm AS (SELECT source,
        |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term FROM documents),
        |csw AS (SELECT source, term, COUNT(*) AS c_sw FROM tm GROUP BY 1, 2),
        |cs AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s FROM csw GROUP BY 1),
        |cw AS (SELECT term, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM csw GROUP BY 1),
        |nn AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM cs),
        |sc AS (SELECT csw.source, csw.term, c_sw, c_w - c_sw AS c_rest, n_s, n,
        |    ${lq("(c_sw + 1) * (n - n_s - (c_w - c_sw) + 1)")}
        |      - ${lq("(c_w - c_sw + 1) * (n_s - c_sw + 1)")} AS lor_q
        |  FROM csw JOIN cs USING (source) JOIN cw USING (term) CROSS JOIN nn),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY lor_q DESC, term) AS rnk FROM sc)
        |SELECT source, CAST(rnk AS INT) AS rank, term, c_sw AS n_in_source,
        |  c_rest AS n_elsewhere, CAST(lor_q AS DOUBLE) / $BmScale.0 AS log_odds
        |FROM r WHERE rnk <= $TopicK ORDER BY source, rank""".stripMargin
    }),
    // marginal bigram-novelty curve over append-order id buckets
    // same arithmetic id buckets off the 1-row max, same min-doc first-seen
    Entry("q_novelty_curve", TextOps.noveltyCurve, {
      import graft.queries.TextOps.NoveltyBuckets
      s"""WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
        |  FROM documents),
        |bgs AS (SELECT doc_id, unnest(list_transform(range(0, len(tk) - 1),
        |    i -> concat(tk[i+1], ' ', tk[i+2]))) AS bg
        |  FROM d WHERE len(tk) >= 2),
        |mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        |inst AS (SELECT doc_id * $NoveltyBuckets // (mx + 1) AS bucket,
        |    COUNT(*) AS n_instances FROM bgs CROSS JOIN mx GROUP BY 1),
        |fst AS (SELECT bg, MIN(doc_id) AS first_doc FROM bgs GROUP BY 1),
        |nw AS (SELECT first_doc * $NoveltyBuckets // (mx + 1) AS bucket,
        |    COUNT(*) AS n_new_bigrams FROM fst CROSS JOIN mx GROUP BY 1),
        |dc AS (SELECT doc_id * $NoveltyBuckets // (mx + 1) AS bucket,
        |    COUNT(*) AS n_docs FROM documents CROSS JOIN mx GROUP BY 1)
        |SELECT dc.bucket, n_docs,
        |  COALESCE(n_instances, 0) AS n_instances,
        |  COALESCE(n_new_bigrams, 0) AS n_new_bigrams,
        |  CAST(COALESCE(n_new_bigrams, 0) AS DOUBLE)
        |    / CAST(nullif(COALESCE(n_instances, 0), 0) AS DOUBLE) AS novelty_rate
        |FROM dc LEFT JOIN inst USING (bucket) LEFT JOIN nw USING (bucket)
        |ORDER BY bucket""".stripMargin
    }),
    // QQ decile table between two corpus slices (the KS companion)
    // same exact-order-statistic interpolation (quantile_cont == percentile,
    // the equidepth contract) at the same 9 deciles
    Entry("q_qq_deciles", StatsOps.qqDeciles, {
      import graft.queries.StatsOps.{KsSourceA, KsSourceB}
      val probs = (1 until 10).map(i => (i.toDouble / 10).toString).mkString("[", ", ", "]")
      s"""WITH a AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE), $probs) AS qa
        |  FROM documents WHERE source = '$KsSourceA'),
        |b AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE), $probs) AS qb
        |  FROM documents WHERE source = '$KsSourceB'),
        |x AS (SELECT i.range + 1 AS i, qa, qb FROM a CROSS JOIN b CROSS JOIN range(9) i)
        |SELECT CAST(i * 10 AS INT) AS decile, qa[i] AS q_a, qb[i] AS q_b,
        |  qb[i] - qa[i] AS diff, qb[i] / nullif(qa[i], 0.0) AS ratio
        |FROM x ORDER BY decile""".stripMargin
    }),
    // Kimball drill-across: two facts pre-aggregated to the conformed month
    // same conformed-month pre-aggregation per fact, same full-outer merge
    Entry("q_drill_across", OlapOps.drillAcross,
      """WITH rev AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS month_key,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM orders GROUP BY 1),
        |act AS (SELECT CAST(year(ts) * 100 + month(ts) AS BIGINT) AS month_key,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS event_value_cents
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1)
        |SELECT COALESCE(rev.month_key, act.month_key) AS month_key,
        |  COALESCE(n_orders, 0) AS n_orders, revenue_cents,
        |  COALESCE(n_events, 0) AS n_events, event_value_cents
        |FROM rev FULL OUTER JOIN act ON rev.month_key = act.month_key
        |ORDER BY month_key""".stripMargin),
    // signup->purchase time-to-convert latency percentiles
    // same first-signup / first-qualifying-purchase reduction, same exact
    // microsecond deltas, quantile_cont == percentile (equidepth contract)
    Entry("q_funnel_time", BehaviorOps.funnelTime,
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |su AS (SELECT user_id, CAST(MIN(us) AS BIGINT) AS s_us FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |conv AS (SELECT e.user_id, s_us, CAST(MIN(us) AS BIGINT) AS p_us
        |  FROM e JOIN su USING (user_id)
        |  WHERE event_type = 'purchase' AND us >= s_us GROUP BY 1, 2),
        |d AS (SELECT p_us - s_us AS delta_us FROM conv),
        |st AS (SELECT COUNT(*) AS n_converted,
        |    quantile_cont(CAST(delta_us AS DOUBLE), [0.5, 0.9]) AS ps FROM d),
        |ns AS (SELECT COUNT(*) AS n_signups FROM su)
        |SELECT n_signups, n_converted,
        |  CAST(n_converted AS DOUBLE) / CAST(n_signups AS DOUBLE) AS conv_rate,
        |  ps[1] / CAST(1000000 AS DOUBLE) AS p50_secs,
        |  ps[2] / CAST(1000000 AS DOUBLE) AS p90_secs
        |FROM ns CROSS JOIN st""".stripMargin),
    // Zipf exponent: weighted log-log OLS, midrank ranks, no global window
    // same two-level prefix sum for higher-frequency counts, same doubled
    // midranks and quantized integer logs, HUGEINT moments on the VARCHAR
    // detour
    Entry("q_zipf_fit", TextOps.zipfFit, {
      import graft.queries.TextOps.BmScale
      def lq(m: String) =
        s"CAST(floor(ln(CAST($m AS DOUBLE)) * $BmScale.0 + 0.5) AS BIGINT)"
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      val varN = s"CAST(n_terms AS DOUBLE)"
      val slope = s"($varN * ${hdbl("sxy")} - ${hdbl("sx")} * ${hdbl("sy")})" +
        s" / nullif($varN * ${hdbl("sxx")} - ${hdbl("sx")} * ${hdbl("sx")}, 0.0)"
      s"""WITH vc AS (SELECT term, COUNT(*) AS f FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        |    FROM documents) GROUP BY 1),
        |pf AS (SELECT f, COUNT(*) AS m, LENGTH(bin(f)) AS bucket FROM vc GROUP BY 1),
        |ib AS (SELECT f, m, bucket,
        |    CAST(SUM(m) OVER (PARTITION BY bucket ORDER BY f DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rcum
        |  FROM pf),
        |bt AS (SELECT bucket, CAST(SUM(m) AS BIGINT) AS tm FROM pf GROUP BY 1),
        |boff AS (SELECT a.bucket AS b,
        |    CAST(COALESCE(SUM(bt.tm), 0) AS BIGINT) AS off
        |  FROM bt a LEFT JOIN bt ON bt.bucket > a.bucket GROUP BY 1),
        |pts AS (SELECT f, m, off + rcum - m AS r_excl
        |  FROM ib JOIN boff ON ib.bucket = boff.b),
        |p2 AS (SELECT m, ${lq("r_excl * 2 + m + 1")} AS x, ${lq("f * 2")} AS y FROM pts),
        |mo AS (SELECT CAST(SUM(m) AS BIGINT) AS n_terms,
        |    SUM(CAST(m AS HUGEINT) * x) AS sx, SUM(CAST(m AS HUGEINT) * y) AS sy,
        |    SUM(CAST(m AS HUGEINT) * x * y) AS sxy,
        |    SUM(CAST(m AS HUGEINT) * x * x) AS sxx
        |  FROM p2)
        |SELECT n_terms, $slope AS slope, -($slope) AS zipf_alpha,
        |  ((${hdbl("sy")} - ($slope) * ${hdbl("sx")}) / $varN) / $BmScale.0 AS intercept_ln
        |FROM mo""".stripMargin
    }),
    // per-type interarrival gap profile (cadence / session-gap sizing)
    // same user-partitioned lag gaps (ts, event_id tiebreak), exact
    // microsecond sums, quantile_cont == percentile interpolation
    Entry("q_interarrival", BehaviorOps.interarrival,
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (SELECT event_type,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
        |  FROM e),
        |f AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  CAST(CAST(SUM(gap_us) AS BIGINT) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS mean_secs,
        |  quantile_cont(CAST(gap_us AS DOUBLE), 0.5) / CAST(1000000 AS DOUBLE) AS p50_secs,
        |  quantile_cont(CAST(gap_us AS DOUBLE), 0.9) / CAST(1000000 AS DOUBLE) AS p90_secs
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin),
    // period-over-period churn headline from one conditional aggregate
    // same per-user any-flags, same 1-row conditional reduce
    Entry("q_churn", BehaviorOps.churn,
      """WITH u AS (SELECT user_id,
        |    MAX(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 1 ELSE 0 END) AS a,
        |    MAX(CASE WHEN day(CAST(ts AS TIMESTAMP)) > 15 THEN 1 ELSE 0 END) AS b
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1)
        |SELECT CAST(SUM(a) AS BIGINT) AS n_active_first,
        |  CAST(SUM(b) AS BIGINT) AS n_active_second,
        |  CAST(SUM(a * b) AS BIGINT) AS n_retained,
        |  CAST(SUM(a * (1 - b)) AS BIGINT) AS n_churned,
        |  CAST(SUM((1 - a) * b) AS BIGINT) AS n_new,
        |  CAST(SUM(a * (1 - b)) AS DOUBLE)
        |    / CAST(nullif(SUM(a), 0) AS DOUBLE) AS churn_rate
        |FROM u""".stripMargin),
    // Heaps'-law vocabulary-growth exponent over append-order buckets
    // same bucket spine and first-seen types as q_novelty_curve (unigrams),
    // same triangular cumulative, same quantized-log OLS closed forms
    Entry("q_heaps_fit", TextOps.heapsFit, {
      import graft.queries.TextOps.{BmScale, NoveltyBuckets}
      def lq(m: String) =
        s"CAST(floor(ln(CAST($m AS DOUBLE)) * $BmScale.0 + 0.5) AS BIGINT)"
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      val n = "CAST(n_points AS DOUBLE)"
      val beta = s"($n * ${hdbl("sxy")} - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
        s" / nullif($n * ${hdbl("sxx")} - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)"
      s"""WITH t AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term FROM documents),
        |mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        |inst AS (SELECT doc_id * $NoveltyBuckets // (mx + 1) AS bucket,
        |    COUNT(*) AS n_inst FROM t CROSS JOIN mx GROUP BY 1),
        |fst AS (SELECT term, MIN(doc_id) AS first_doc FROM t GROUP BY 1),
        |nw AS (SELECT first_doc * $NoveltyBuckets // (mx + 1) AS bucket,
        |    COUNT(*) AS n_new FROM fst CROSS JOIN mx GROUP BY 1),
        |pb AS (SELECT inst.bucket, n_inst, COALESCE(n_new, 0) AS n_new
        |  FROM inst LEFT JOIN nw USING (bucket)),
        |cum AS (SELECT a.bucket AS b, CAST(SUM(pb.n_inst) AS BIGINT) AS nb,
        |    CAST(SUM(pb.n_new) AS BIGINT) AS vb
        |  FROM pb a JOIN pb ON pb.bucket <= a.bucket GROUP BY 1),
        |pts AS (SELECT ${lq("nb")} AS x, ${lq("vb")} AS y FROM cum
        |  WHERE nb > 0 AND vb > 0),
        |mo AS (SELECT COUNT(*) AS n_points, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM pts)
        |SELECT n_points, $beta AS heaps_beta,
        |  ((CAST(sy AS DOUBLE) - ($beta) * CAST(sx AS DOUBLE)) / $n) / $BmScale.0 AS ln_k
        |FROM mo""".stripMargin
    }),
    // first-touch conversion attribution via one range-frame window
    // same us*8+code packing, same peer-inclusive RANGE frame (both
    // engines' RANGE windows include same-instant peers), same decode
    Entry("q_first_touch", BehaviorOps.firstTouch, {
      import graft.queries.BehaviorOps.{AttrConvType, AttrLookbackUs, AttrTouch}
      val codeCase = AttrTouch.map { case (t, c) =>
        s"WHEN event_type = '$t' THEN us * 8 + $c"
      }.mkString(" ")
      val decode = AttrTouch.map { case (t, c) => s"WHEN $c THEN '$t'" }.mkString(" ")
      s"""WITH e AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |x AS (SELECT *, MIN(CASE $codeCase END) OVER (PARTITION BY user_id
        |    ORDER BY us RANGE BETWEEN $AttrLookbackUs PRECEDING AND CURRENT ROW)
        |    AS first_touch
        |  FROM e),
        |c AS (SELECT
        |    CASE WHEN first_touch IS NULL THEN 'none'
        |         ELSE CASE (first_touch % 8) $decode END END AS channel,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM x WHERE event_type = '$AttrConvType')
        |SELECT channel, COUNT(*) AS n_conversions, CAST(SUM(cents) AS BIGINT) AS revenue_cents
        |FROM c GROUP BY channel ORDER BY channel""".stripMargin
    }),
    // CUPED with per-stratum theta over pre-period activity tiers
    // q_cuped's exact moments and closed forms, per pre-period-spend
    // stratum (zero / below-mean / above-mean, exact integer
    // cross-multiplied cut); the zero-covariate stratum's theta is NULL
    // on both sides and its adjustment coalesces to zero on both sides
    Entry("q_cuped_strat", StatsOps.cupedStratified, {
      val arm = h32Sql("CAST(user_id AS VARCHAR)") + " % 2"
      def dbl(c: String) = s"CAST($c AS DOUBLE)"
      def hdbl(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      s"""WITH u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
        |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN day(CAST(ts AS TIMESTAMP)) > 15
        |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
        |    CASE WHEN $arm = 0 THEN 'control' ELSE 'treatment' END AS arm
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY user_id),
        |t AS (SELECT COUNT(*) AS n_all, CAST(SUM(x) AS BIGINT) AS sx_all FROM u),
        |us AS (SELECT u.*, CASE WHEN x = 0 THEN 's0_zero'
        |    WHEN CAST(x AS HUGEINT) * n_all <= sx_all THEN 's1_below'
        |    ELSE 's2_above' END AS stratum
        |  FROM u CROSS JOIN t),
        |g AS (SELECT stratum, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |  FROM us GROUP BY stratum),
        |gg AS (SELECT stratum, n, sx,
        |    (${dbl("n")} * ${hdbl("sxy")} - ${dbl("sx")} * ${dbl("sy")})
        |      / nullif(${dbl("n")} * ${hdbl("sxx")} - ${dbl("sx")} * ${dbl("sx")}, 0.0) AS theta,
        |    (${dbl("n")} * ${hdbl("sxy")} - ${dbl("sx")} * ${dbl("sy")})
        |      * (${dbl("n")} * ${hdbl("sxy")} - ${dbl("sx")} * ${dbl("sy")})
        |      / nullif((${dbl("n")} * ${hdbl("sxx")} - ${dbl("sx")} * ${dbl("sx")})
        |        * (${dbl("n")} * ${hdbl("syy")} - ${dbl("sy")} * ${dbl("sy")}), 0.0) AS var_reduction
        |  FROM g),
        |a AS (SELECT stratum, arm, COUNT(*) AS n_users, CAST(SUM(x) AS BIGINT) AS sx_a,
        |    CAST(SUM(y) AS BIGINT) AS sy_a
        |  FROM us GROUP BY stratum, arm)
        |SELECT a.stratum, arm, n_users,
        |  ${dbl("sy_a")} / ${dbl("n_users")} AS mean_post_cents,
        |  ${dbl("sx_a")} / ${dbl("n_users")} AS mean_pre_cents,
        |  ${dbl("sy_a")} / ${dbl("n_users")}
        |    - COALESCE(theta, CAST(0 AS DOUBLE))
        |      * (${dbl("sx_a")} / ${dbl("n_users")} - ${dbl("sx")} / ${dbl("n")}) AS adj_mean_cents,
        |  theta, var_reduction
        |FROM a JOIN gg ON a.stratum = gg.stratum ORDER BY a.stratum, arm""".stripMargin
    }),
    // per-day PSI drift series against the all-period baseline
    // q_psi's bins, two-sided clamp, smoothing, and quantized logs, one
    // row per day vs the all-period baseline; per-day fold in bin order
    Entry("q_psi_daily", StatsOps.psiDaily, psiDailySql),
    // streaming-shaped PSI drift monitor (single windowed aggregation +
    // static-baseline broadcast join), batch twin of q_psi_daily
    // ONE oracle, TWO plans (the q_sessionize / q_session_window
    // precedent): the streaming-shaped single-aggregation window form
    // must reproduce the batch per-day PSI row for row
    Entry("q_stream_psi", graft.streaming.Streams.psiWindowedBatch, psiDailySql),
    // URL canonicalization collapse report (pre-dedup crawl normalize)
    // same generated raw URLs (shared rawUrlSql generator), same scalar
    // canonicalization battery, same three cascading group-bys
    Entry("q_url_canon", CurationOps.urlCanon, {
      val raw = graft.queries.CurationOps.rawUrlSql(x => s"CAST($x AS VARCHAR)")
      s"""WITH raw AS (SELECT source, $raw AS raw_url FROM documents),
        |q AS (SELECT source, raw_url,
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(raw_url, '[?]([^#]*)', 1), '&'),
        |      p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&'), '') AS qn
        |  FROM raw),
        |c AS (SELECT source, raw_url, concat('https://',
        |    regexp_replace(regexp_replace(lower(
        |      regexp_extract(raw_url, '^[a-zA-Z]+://([^/?#]+)', 1)),
        |      ':(443|80)$$', ''), '^www\\.', ''),
        |    regexp_replace(regexp_replace(
        |      regexp_extract(raw_url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
        |      '/index\\.html$$', ''), '/$$', ''),
        |    CASE WHEN qn = '' THEN '' ELSE concat('?', qn) END) AS canonical_url
        |  FROM q),
        |g1 AS (SELECT source, raw_url, canonical_url, COUNT(*) AS cnt
        |  FROM c GROUP BY 1, 2, 3),
        |g2 AS (SELECT source, canonical_url, CAST(SUM(cnt) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_raw
        |  FROM g1 GROUP BY 1, 2)
        |SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_raw) AS BIGINT) AS n_raw_urls,
        |  CAST(COUNT(*) AS BIGINT) AS n_canonical_urls,
        |  CAST(CAST(SUM(n_raw) AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS collapse_ratio
        |FROM g2 GROUP BY source ORDER BY source""".stripMargin
    }),
    // per-host politeness scheduling over the canonical URL frontier
    // same canonical URLs, same per-host ROW_NUMBER politeness rank,
    // same hash-derived crawl delay — all integer ms arithmetic
    Entry("q_crawl_frontier", CurationOps.crawlFrontier, {
      import graft.queries.CurationOps.{CrawlBaseDelayMs, CrawlDelaySpanMs}
      val raw = graft.queries.CurationOps.rawUrlSql(x => s"CAST($x AS VARCHAR)")
      s"""WITH raw AS (SELECT $raw AS raw_url FROM documents),
        |q AS (SELECT raw_url,
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(raw_url, '[?]([^#]*)', 1), '&'),
        |      p -> p <> '' AND substr(p, 1, 4) <> 'utm_')), '&'), '') AS qn
        |  FROM raw),
        |c AS (SELECT concat('https://',
        |    regexp_replace(regexp_replace(lower(
        |      regexp_extract(raw_url, '^[a-zA-Z]+://([^/?#]+)', 1)),
        |      ':(443|80)$$', ''), '^www\\.', ''),
        |    regexp_replace(regexp_replace(
        |      regexp_extract(raw_url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
        |      '/index\\.html$$', ''), '/$$', ''),
        |    CASE WHEN qn = '' THEN '' ELSE concat('?', qn) END) AS url
        |  FROM q),
        |u AS (SELECT url, CAST(COUNT(*) AS BIGINT) AS n_docs FROM c GROUP BY 1),
        |h AS (SELECT url, n_docs,
        |    regexp_extract(url, '^https://([^/?#]+)', 1) AS host FROM u),
        |s AS (SELECT host, url, n_docs,
        |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY n_docs DESC, url) AS pos,
        |    $CrawlBaseDelayMs + ${h32Sql("host")} % $CrawlDelaySpanMs AS delay_ms
        |  FROM h)
        |SELECT host, CAST(delay_ms AS BIGINT) AS delay_ms,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(MAX((pos - 1) * delay_ms) AS BIGINT) AS makespan_ms,
        |  MAX(CASE WHEN pos = 1 THEN url END) AS first_url
        |FROM s GROUP BY 1, 2 ORDER BY host""".stripMargin
    }),
    // grid-bucketed spatial radius self-join, exact-verified (3×3
    // literal cell fan-out; never a cross join)
    // same md5-derived integer points, the same 3×3 cell-neighborhood
    // candidate cover (BETWEEN ±1 on both cell axes), same exact int64
    // Euclidean verify — a true neighbor is never farther than one cell
    Entry("q_geo_neighbors", GeoOps.geoNeighbors, {
      import graft.queries.GeoOps.{GeoRadius, GeoSpan}
      val r2 = GeoRadius * GeoRadius
      s"""WITH p AS (SELECT c_custkey AS k,
        |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % $GeoSpan AS x,
        |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) % $GeoSpan AS y
        |  FROM customer),
        |c AS (SELECT k, x, y, x // $GeoRadius AS cx, y // $GeoRadius AS cy FROM p),
        |n AS (SELECT a.k AS ka, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
        |    MIN((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS nn_dist_sq
        |  FROM c a JOIN c b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
        |    AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
        |    AND a.k <> b.k
        |    AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= $r2
        |  GROUP BY 1)
        |SELECT p.k AS custkey, p.x, p.y,
        |  COALESCE(n.n_neighbors, 0) AS n_neighbors, n.nn_dist_sq
        |FROM p LEFT JOIN n ON n.ka = p.k ORDER BY custkey""".stripMargin
    }),
    // cumulative distinct-user curve from max-merged daily HLL partials
    // the q_hll_distinct register contract, cumulated: per-day register
    // partials max-merged through each day by a window, the exact curve
    // from first-seen-day prefix sums — identical integer algebra
    Entry("q_hll_sliding", ProfileOps.hllSliding, {
      import graft.queries.ProfileOps.{HllEstNum, HllRegisters}
      val estSql =
        s"$HllEstNum / CAST(s_present + ($HllRegisters - n_registers) * 8589934592 AS DOUBLE)"
      s"""WITH e0 AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |e AS (SELECT day,
        |    ${h32Sql("CAST(user_id AS VARCHAR)")} % $HllRegisters AS r,
        |    CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rk
        |  FROM (SELECT *,
        |      CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT) AS w
        |    FROM e0)),
        |daily AS (SELECT day, r, MAX(rk) AS m_r FROM e GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM e0),
        |grid AS (SELECT day, r.range AS r FROM days CROSS JOIN range($HllRegisters) r),
        |cum AS (SELECT g.day, g.r, MAX(d.m_r) OVER (PARTITION BY g.r
        |      ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        |  FROM grid g LEFT JOIN daily d ON d.day = g.day AND d.r = g.r),
        |est AS (SELECT day, COUNT(cm) AS n_registers,
        |    CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - cm AS INT)) AS BIGINT) AS s_present
        |  FROM cum GROUP BY 1),
        |fc AS (SELECT first_day, COUNT(*) AS n_new FROM
        |    (SELECT user_id, MIN(day) AS first_day FROM e0 GROUP BY 1) GROUP BY 1),
        |ex AS (SELECT d.day, CAST(SUM(fc.n_new) AS BIGINT) AS n_exact
        |  FROM days d JOIN fc ON fc.first_day <= d.day GROUP BY 1)
        |SELECT day, n_exact, n_registers, $estSql AS hll_est,
        |  ($estSql - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
        |FROM est JOIN ex USING (day) ORDER BY day""".stripMargin
    }),
    // real-coordinate (lat/lon degree) radius census: quantized-
    // equirectangular metric, shared literal cos table, degree-scaled cells
    // same per-cell aggregation-first shape: the ×9 kernel fan-out runs
    // on the CELL table; the hotspot flag is one integer cross-multiply
    // same grid kernel in degree space: the cos table is GENERATED from
    // the same Scala Seq the Spark plan embeds, so trig rounding cannot
    // drift between engines; the midpoint-band metric is mirrored term
    // by term (both latitude offsets nonnegative -> div/// agree)
    Entry("q_geo_latlon", GeoOps.geoLatLon, {
      import graft.queries.GeoOps.{GeoCosQ, GeoCosScale, GeoLLRadius,
        GeoLatSpanU, GeoLonSpanU}
      val lonCell = 2L * GeoLLRadius
      val r2 = GeoLLRadius * GeoLLRadius
      val cosList = GeoCosQ.mkString("[", ", ", "]")
      s"""WITH p AS (SELECT c_custkey AS k,
        |    CAST(concat('0x', substr(md5(concat('geo|', CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT) % $GeoLatSpanU AS latu,
        |    CAST(concat('0x', substr(md5(concat('geo|', CAST(c_custkey AS VARCHAR))), 9, 8)) AS BIGINT) % $GeoLonSpanU AS lonu
        |  FROM customer),
        |c AS (SELECT k, latu, lonu, latu // $GeoLLRadius AS clat,
        |    lonu // $lonCell AS clon FROM p),
        |d AS (SELECT a.k AS ka,
        |    (a.latu - b.latu) * (a.latu - b.latu)
        |      + ((abs(a.lonu - b.lonu) * ($cosList)[CAST((a.latu + b.latu) // 2 // 1000000 AS INT) + 1]) // $GeoCosScale)
        |      * ((abs(a.lonu - b.lonu) * ($cosList)[CAST((a.latu + b.latu) // 2 // 1000000 AS INT) + 1]) // $GeoCosScale) AS d2
        |  FROM c a JOIN c b ON b.clat BETWEEN a.clat - 1 AND a.clat + 1
        |    AND b.clon BETWEEN a.clon - 1 AND a.clon + 1
        |    AND a.k <> b.k),
        |n AS (SELECT ka, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
        |    MIN(d2) AS nn_dist2
        |  FROM d WHERE d2 <= $r2 GROUP BY 1)
        |SELECT p.k AS custkey, p.latu, p.lonu,
        |  COALESCE(n.n_neighbors, 0) AS n_neighbors, n.nn_dist2
        |FROM p LEFT JOIN n ON n.ka = p.k ORDER BY custkey""".stripMargin
    }),
    // cell-scale density smoothing + exact-integer hotspot flags
    Entry("q_geo_density", GeoOps.geoDensity, {
      import graft.queries.GeoOps.{GeoHotDen, GeoHotNum, GeoRadius, GeoSpan}
      val axis = GeoSpan / GeoRadius
      val nCells = axis * axis
      val offs = (for (dx <- -1 to 1; dy <- -1 to 1) yield s"($dx, $dy)")
        .mkString(", ")
      s"""WITH p AS (SELECT
        |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % $GeoSpan AS x,
        |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) % $GeoSpan AS y
        |  FROM customer),
        |cells AS (SELECT x // $GeoRadius AS cx, y // $GeoRadius AS cy,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
        |total AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cells),
        |probe AS (SELECT cells.cx + d.dx AS cx, cells.cy + d.dy AS cy, n
        |  FROM cells CROSS JOIN (VALUES $offs) d(dx, dy)
        |  WHERE cells.cx + d.dx BETWEEN 0 AND ${axis - 1}
        |    AND cells.cy + d.dy BETWEEN 0 AND ${axis - 1}),
        |sm AS (SELECT cx, cy, CAST(SUM(n) AS BIGINT) AS smoothed
        |  FROM probe GROUP BY 1, 2),
        |w AS (SELECT c.cx, c.cy, c.n, s.smoothed,
        |    (LEAST(c.cx + 1, ${axis - 1}) - GREATEST(c.cx - 1, 0) + 1)
        |      * (LEAST(c.cy + 1, ${axis - 1}) - GREATEST(c.cy - 1, 0) + 1) AS n_window
        |  FROM cells c JOIN sm s USING (cx, cy))
        |SELECT w.cx, w.cy, w.n, w.smoothed, w.n_window,
        |  CAST(w.smoothed * $nCells * $GeoHotDen > t.n_total * w.n_window * $GeoHotNum AS INT) AS is_hot
        |FROM w CROSS JOIN total t ORDER BY cx, cy""".stripMargin
    }),
    // right-to-be-forgotten cascade audit (map-only cohort predicate)
    // cohort membership is the same keyed hash on the fact's own user
    // column — no side table; the audit is one combining aggregate over
    // the (type, user, purged) pre-aggregation in both engines
    Entry("q_forget_user", PrivacyOps.forgetUser, {
      import graft.queries.PrivacyOps.ForgetMod
      s"""WITH pu AS (SELECT event_type, user_id,
        |    CASE WHEN ${h32Sql("concat('forget|', CAST(user_id AS VARCHAR))")}
        |      % $ForgetMod = 0 THEN 1 ELSE 0 END AS purged,
        |    COUNT(*) AS n
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT event_type,
        |  CAST(SUM(CASE WHEN purged = 1 THEN n ELSE 0 END) AS BIGINT) AS rows_purged,
        |  CAST(SUM(CASE WHEN purged = 0 THEN n ELSE 0 END) AS BIGINT) AS rows_kept,
        |  CAST(SUM(purged) AS BIGINT) AS users_purged,
        |  CAST(SUM(1 - purged) AS BIGINT) AS users_kept,
        |  CAST(SUM(CASE WHEN purged = 1 THEN n ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(n) AS DOUBLE) AS purge_frac
        |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    // Flesch reading-ease per source (exact count sums, one final formula)
    // the same three regex counts summed exactly per source; the Flesch
    // arithmetic runs once per source row on the integer sums
    Entry("q_readability", TextOps.readability, {
      s"""WITH d AS (SELECT source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS w,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS s,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS y
        |  FROM documents),
        |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(w) AS BIGINT) AS words, CAST(SUM(s) AS BIGINT) AS sentences,
        |    CAST(SUM(y) AS BIGINT) AS syllables
        |  FROM d GROUP BY 1)
        |SELECT source, n_docs, words, sentences, syllables,
        |  CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE) AS words_per_sentence,
        |  CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE) AS syllables_per_word,
        |  206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
        |    - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)) AS flesch
        |FROM a ORDER BY source""".stripMargin
    }),
    // report-noisy-max DP median selection over the value-bin spine
    // same bin spine, same prefix-sum utility, same truncated-Laplace
    // replica keyed 'dpm|type|bin', same multiplied-through integer
    // score (u*1000 + noise*2Δ — no signed division anywhere)
    Entry("q_dp_median", PrivacyOps.dpMedian, {
      import graft.queries.PrivacyOps.{DpBMilli, DpEpsMilli, DpHalfRange, DpUSens}
      import graft.queries.StatsOps.{LogScale, PsiBinCents, PsiBins}
      def lnqSql(e: String) =
        s"CAST(floor(ln(CAST($e AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)"
      s"""WITH e AS (SELECT event_type,
        |    greatest(least(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // $PsiBinCents,
        |      ${PsiBins - 1}), 0) AS bin
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
        |spine AS (SELECT event_type, r.range AS bin
        |  FROM (SELECT DISTINCT event_type FROM c) CROSS JOIN range($PsiBins) r),
        |s AS (SELECT spine.event_type, spine.bin, COALESCE(c.c, 0) AS c
        |  FROM spine LEFT JOIN c USING (event_type, bin)),
        |u AS (SELECT event_type, bin, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM s),
        |sc AS (SELECT event_type, bin, n, -abs(cum * 2 - n) AS u,
        |    ${h32Sql(s"concat('dpm|', event_type, '|', CAST(bin AS VARCHAR))")}
        |      % ${2 * DpHalfRange} - $DpHalfRange AS v
        |  FROM u),
        |m AS (SELECT event_type, bin, n, u,
        |    (CASE WHEN v < 0 THEN -1 ELSE 1 END)
        |      * (($DpBMilli * GREATEST(${lnqSql(DpHalfRange.toString)}
        |          - ${lnqSql("abs(v) + 1")}, 0)) // $LogScale) AS noise_milli
        |  FROM sc),
        |r AS (SELECT event_type, bin, n, u,
        |    u * 1000 + noise_milli * ${2 * DpUSens} AS noisy_milli
        |  FROM m),
        |w AS (SELECT event_type, bin, n, u, noisy_milli,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY noisy_milli DESC, bin) AS rn_noisy,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY u DESC, bin) AS rn_true
        |  FROM r)
        |SELECT rel.event_type, rel.n, tru.bin AS true_median_bin,
        |  rel.bin AS released_bin, CAST($PsiBinCents AS BIGINT) AS bin_width_cents,
        |  ${DpEpsMilli.toDouble / 1000.0} AS epsilon_nominal,
        |  TRUE AS deterministic_replica
        |FROM (SELECT * FROM w WHERE rn_noisy = 1) rel
        |JOIN (SELECT * FROM w WHERE rn_true = 1) tru USING (event_type)
        |ORDER BY event_type""".stripMargin
    }),
    // KMV theta-sketch union/intersection estimates vs exact overlap
    // same k-min sketches (rank windows over the same h32 hashes), same
    // combined-sketch membership algebra, same two mirrored divisions
    Entry("q_kmv_overlap", ProfileOps.kmvOverlap, {
      import graft.queries.ProfileOps.KmvK
      val unionNum = (KmvK - 1).toDouble * 4294967296.0
      s"""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE user_id IS NOT NULL),
        |sizes AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY 1),
        |hashed AS (SELECT DISTINCT event_type,
        |    ${h32Sql("concat('kmv|', CAST(user_id AS VARCHAR))")} AS h FROM tu),
        |sk AS (SELECT event_type, h FROM (SELECT event_type, h,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM hashed)
        |  WHERE rk <= $KmvK),
        |pairs AS (SELECT a.event_type AS type_a, a.n AS n_a,
        |    b.event_type AS type_b, b.n AS n_b
        |  FROM sizes a JOIN sizes b ON a.event_type < b.event_type),
        |su AS (SELECT p.type_a, p.type_b, s.h, 'a' AS src
        |    FROM pairs p JOIN sk s ON s.event_type = p.type_a
        |  UNION ALL SELECT p.type_a, p.type_b, s.h, 'b'
        |    FROM pairs p JOIN sk s ON s.event_type = p.type_b),
        |comb AS (SELECT type_a, type_b, h,
        |    MAX(CASE WHEN src = 'a' THEN 1 ELSE 0 END) AS in_a,
        |    MAX(CASE WHEN src = 'b' THEN 1 ELSE 0 END) AS in_b
        |  FROM su GROUP BY 1, 2, 3),
        |est0 AS (SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS sk_k,
        |    MAX(h) AS hk, CAST(SUM(in_a * in_b) AS BIGINT) AS sk_inter
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY type_a, type_b
        |      ORDER BY h) AS rk FROM comb)
        |  WHERE rk <= $KmvK GROUP BY 1, 2),
        |est AS (SELECT type_a, type_b, sk_k, sk_inter,
        |    CASE WHEN sk_k < $KmvK THEN CAST(sk_k AS DOUBLE)
        |      ELSE $unionNum / CAST(hk AS DOUBLE) END AS est_union
        |  FROM est0),
        |exact AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |  p.n_a + p.n_b - COALESCE(x.n_inter, 0) AS n_union,
        |  COALESCE(x.n_inter, 0) AS n_inter, e.sk_k, e.est_union,
        |  (CAST(e.sk_inter AS DOUBLE) / CAST(e.sk_k AS DOUBLE)) * e.est_union
        |    AS est_inter,
        |  (e.est_union - CAST(p.n_a + p.n_b - COALESCE(x.n_inter, 0) AS DOUBLE))
        |    / CAST(p.n_a + p.n_b - COALESCE(x.n_inter, 0) AS DOUBLE)
        |    AS rel_err_union
        |FROM pairs p LEFT JOIN exact x USING (type_a, type_b)
        |  JOIN est e USING (type_a, type_b)
        |ORDER BY type_a, type_b""".stripMargin
    }),
  ))

  /** The per-day PSI oracle shared by q_psi_daily (batch spine/fold form)
    * and q_stream_psi (the streaming single-aggregation window form). */
  private lazy val psiDailySql: String = {
    import graft.queries.StatsOps.{LogScale, PsiBins, PsiBinCents}
    // HUGEINT count-product argument -> VARCHAR detour (q_psi note)
    def lnq(m: String) =
      s"CAST(floor(ln(CAST(CAST($m AS VARCHAR) AS DOUBLE)) * $LogScale.0 + 0.5) AS BIGINT)"
    s"""WITH e AS (SELECT CAST(ts AS DATE) AS day,
      |    greatest(least(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) // $PsiBinCents,
      |      ${PsiBins - 1}), 0) AS bin
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |c AS (SELECT day, bin, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |b AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS cb FROM c GROUP BY 1),
      |spine AS (SELECT day, r.range AS bin
      |  FROM (SELECT DISTINCT day FROM c) CROSS JOIN range($PsiBins) r),
      |s AS (SELECT spine.day, spine.bin,
      |    COALESCE(c.c, 0) + 1 AS sa, COALESCE(b.cb, 0) + 1 AS sb
      |  FROM spine LEFT JOIN c ON c.day = spine.day AND c.bin = spine.bin
      |    LEFT JOIN b ON b.bin = spine.bin),
      |dt AS (SELECT day, CAST(SUM(sa) AS BIGINT) AS na FROM s GROUP BY 1),
      |bt AS (SELECT CAST(SUM(cb) + $PsiBins AS BIGINT) AS nb FROM b),
      |x AS (SELECT s.day, s.bin, sa, sb, na, nb,
      |    (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))
      |      * CAST(${lnq("CAST(sa AS HUGEINT) * nb")} - ${lnq("CAST(sb AS HUGEINT) * na")} AS DOUBLE) / $LogScale.0 AS term
      |  FROM s JOIN dt USING (day) CROSS JOIN bt)
      |SELECT day, CAST(SUM(sa) - $PsiBins AS BIGINT) AS n_events,
      |  list_reduce(list(term ORDER BY bin), (a, x) -> a + x) AS psi
      |FROM x GROUP BY day ORDER BY day""".stripMargin
  }
}
