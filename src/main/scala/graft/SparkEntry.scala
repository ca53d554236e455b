package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.GraftSession
import graft.operators.{Dedup, JoinOps, LayoutOps, Multimodal, Similarity, TextOps}

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql`) per operator
  * from SURVEY.md §2. Implementation is DataFrame-API-first (Catalyst plans
  * the physical strategy); `spark.sql` is used for the entries whose point IS
  * the SQL surface (comma joins, scalar subqueries, NATURAL join) so the same
  * text exercises Spark's parser exactly like the reference's
  * (`engine/src/parser.cpp`).
  *
  * Oracle-stability rules (driver hashes column-name-sorted values):
  *  - money aggregates go through CAST(x AS DECIMAL(12,2)) on BOTH sides —
  *    decimal sums are exact and order-independent, double sums are not;
  *  - AVG is computed as SUM/COUNT on both sides (one final fp division on
  *    exact operands, identical bits in JVM and DuckDB);
  *  - LIMIT always rides on a total order with a unique tiebreaker.
  */
object SparkEntry {

  /** Deterministic doc-subset replay mode (round 14, dev-only): see
    * [[GraftSession.applySubset]] — the filter lives in GraftSession so
    * every path to a table (DataFrame entries, SQL-text entries, replay
    * oracle generators) is thinned uniformly; the
    * all-pairs-by-construction oracle families, quadratic in DuckDB at
    * 10× data, replay at sf1 on a bounded pair space instead of being
    * skipped. The subset is pushed into the entry INPUT (a smaller
    * corpus, not a truncated result), so every operator's semantics are
    * exercised unchanged.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.table(s, dir, name)

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  private type QFn = (SparkSession, String) => DataFrame

  /** The t01 language-ID CASE chain, shared by the t01 oracle and t24's
    * confusion-matrix oracle so the two can never drift apart. Mirrors
    * [[TextOps.langId]] marker-for-marker.
    */
  private val langCaseSql: String =
    "CASE WHEN ' ' || text || ' ' LIKE '% der %' OR ' ' || text || ' ' LIKE '% und %' OR " +
      "' ' || text || ' ' LIKE '% die %' OR ' ' || text || ' ' LIKE '% nicht %' THEN 'de' " +
      "WHEN ' ' || text || ' ' LIKE '% le %' OR ' ' || text || ' ' LIKE '% la %' OR " +
      "' ' || text || ' ' LIKE '% et %' OR ' ' || text || ' ' LIKE '% les %' THEN 'fr' " +
      "WHEN ' ' || text || ' ' LIKE '% el %' OR ' ' || text || ' ' LIKE '% los %' OR " +
      "' ' || text || ' ' LIKE '% las %' OR ' ' || text || ' ' LIKE '% es %' THEN 'es' " +
      "WHEN ' ' || text || ' ' LIKE '% the %' OR ' ' || text || ' ' LIKE '% a %' OR " +
      "' ' || text || ' ' LIKE '% and %' OR ' ' || text || ' ' LIKE '% of %' THEN 'en' " +
      "ELSE 'und' END"

  /** An entry's DuckDB oracle: fixed SQL text, or a generator that writes
    * the text from the dump dir's data (the ANN entries replay their
    * training in SQL, which needs the actual embeddings' dim).
    */
  sealed trait Oracle
  final case class Static(sql: String) extends Oracle
  final case class Replay(gen: (SparkSession, String) => String) extends Oracle

  /** One registry entry: the DataFrame it builds from a dump dir, and the
    * DuckDB oracle that must return the same rows.
    */
  final case class Entry(name: String, build: (SparkSession, String) => DataFrame,
      oracle: Oracle)

  /** A query whose single SQL text runs identically in Spark and DuckDB. */
  private def shared(q: String): (QFn, Oracle) =
    (((s: SparkSession, dir: String) => { GraftSession.useDir(s, dir); s.sql(q) }), Static(q))

  private def entry(fn: QFn, oracle: String): (QFn, Oracle) = (fn, Static(oracle))
  private def replay(fn: QFn)(gen: (SparkSession, String) => String): (QFn, Oracle) =
    (fn, Replay(gen))

  /** Recall@k measurement on the approximate ANN entries (d08/d09) runs the
    * exact brute-force baseline inside the same job. On by default so the
    * driver's correctness dump carries measured accuracy; Bench turns it off
    * (`-Dgraft.ann.recall=off`, see [[withoutRecall]]) so the timed queries
    * measure only the approximate path.
    */
  private def annRecall: Boolean =
    sys.props.get("graft.ann.recall").forall(_ != "off")

  /** Runs `body` with [[annRecall]] off, restoring the property after. */
  def withoutRecall[T](body: => T): T = {
    val prev = sys.props.get("graft.ann.recall")
    sys.props("graft.ann.recall") = "off"
    try body
    finally prev match {
      case Some(v) => sys.props("graft.ann.recall") = v
      case None => sys.props.remove("graft.ann.recall")
    }
  }

  /** `approx` with each query's recall@k against the exact top-k of the
    * shared `vec_id < 10` query set attached, while [[annRecall]] is on.
    */
  private def withRecall(emb: DataFrame, approx: DataFrame, k: Int): DataFrame =
    if (!annRecall) approx
    else Similarity.withRecallAtK(approx,
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = k), k = k)

  /** Generated DuckDB replay of d08's full approximate pipeline. Embeds the
    * exact hyperplane constants the Spark plan uses
    * ([[Similarity.hyperplanes]], seed 7 + t*1009 per table — Double.toString
    * round-trips, so DuckDB parses bit-identical doubles), buckets on
    * sign(dot(raw, plane)) (= sign(dot(unit, plane)): unit-normalization
    * scales by a positive factor), unions candidates across tables
    * (DISTINCT = the Spark side's max(cos) pair-dedup), re-ranks by cosine,
    * and recomputes recall@k against the same exact baseline d07 already
    * proves DuckDB-equal — including [[Similarity.withRecallAtK]]'s
    * exact-side-driven left join (a query with zero approximate candidates
    * still appears, null neighbor columns, recall 0.0) and its
    * least(n_exact, k) denominator.
    */
  private def lshOracleSql(nPlanes: Int, dim: Int, nTables: Int, k: Int): String = {
    val tableKeys = (0 until nTables).map { tb =>
      val planes = Similarity.hyperplanes(nPlanes, dim, seed = 7L + tb * 1009L)
      val bits = planes.zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN list_dot_product(v, ${p.mkString("[", ", ", "]")}) >= 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $tb AS t, $bits AS b FROM n"
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                   WHERE embedding IS NOT NULL),
       keys AS (
       $tableKeys),
       qk AS (SELECT vec_id AS q_id, t, b FROM keys WHERE vec_id < 10),
       cand AS (SELECT DISTINCT qk.q_id, ky.vec_id AS n_id
                FROM qk JOIN keys ky ON ky.t = qk.t AND ky.b = qk.b AND ky.vec_id <> qk.q_id),
       scored AS (SELECT c.q_id, c.n_id, list_cosine_similarity(qa.v, nb.v) AS cos
                  FROM cand c JOIN n qa ON qa.vec_id = c.q_id JOIN n nb ON nb.vec_id = c.n_id),
       ap AS (SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
                SELECT q_id, n_id,
                  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
                FROM scored) WHERE rank <= $k),
       ${annOracleTail(k)}"""
  }

  /** The exact baseline of the ANN replays (d07-proven DuckDB-equal):
    * `ex(q_id, n_id)`, each `vec_id < 10` query's exact top-k neighbors
    * (restricted to `cand`, a predicate over the candidate's embeddings
    * row aliased `l`, when given), and `n_ex(q_id, n_exact)`.
    */
  private def exactCtes(k: Int, cand: Option[String] = None): String = {
    val (join, filter) = cand.fold(("", ""))(c =>
      (" JOIN embeddings l ON l.vec_id = nb.vec_id", s" AND ($c)"))
    s"""ex AS (SELECT q_id, n_id FROM (
                SELECT q.vec_id AS q_id, nb.vec_id AS n_id,
                  ROW_NUMBER() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.v, nb.v) DESC, nb.vec_id ASC) AS rank
                FROM n q JOIN n nb ON nb.vec_id <> q.vec_id$join WHERE q.vec_id < 10$filter)
              WHERE rank <= $k),
       n_ex AS (SELECT q_id, COUNT(*) AS n_exact FROM ex GROUP BY q_id)"""
  }

  /** Per-query recall of the top-k CTE `ap$g` against `ex`/`n_ex`:
    * `perq$g(q_id, recall)` with [[Similarity.withRecallAtK]]'s
    * exact-side-driven left join and least(n_exact, k) denominator.
    */
  private def recallCtes(g: String, k: Int): String =
    s"""hits$g AS (SELECT a.q_id, COUNT(*) AS n_hit
                FROM ap$g a JOIN ex e ON a.q_id = e.q_id AND a.n_id = e.n_id GROUP BY a.q_id),
       perq$g AS (SELECT n_ex.q_id,
                  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / LEAST(n_ex.n_exact, $k) AS recall
                FROM n_ex LEFT JOIN hits$g h ON h.q_id = n_ex.q_id)"""

  /** Shared tail of the single-config ANN replays: the exact baseline,
    * recall@k of CTE `ap` (q_id, n_id, rank) and the final (q_id, n_id,
    * rank, recall) projection. Expects CTE `n` (vec_id, v) upstream.
    */
  private def annOracleTail(k: Int, cand: Option[String] = None): String =
    s"""${exactCtes(k, cand)},
       ${recallCtes("", k)}
       SELECT p.q_id, a.n_id, a.rank, p.recall
       FROM perq p LEFT JOIN ap a ON a.q_id = p.q_id"""

  /** Shared tail of the d25/d35 curve replays: one (key, q_id, recall,
    * n_returned) branch per config `(g, key)` whose top-k is CTE `ap$g`,
    * UNION ALL'd, all against one exact baseline.
    */
  private def curveTail(k: Int, configs: Seq[(String, String)]): String = {
    val ctes = configs.map { case (g, _) =>
      s"""${recallCtes(g, k)},
       ret$g AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_returned FROM ap$g GROUP BY 1)"""
    }.mkString(",\n       ")
    val branches = configs.map { case (g, key) =>
      s"""SELECT $key, p.q_id, p.recall, COALESCE(r.n_returned, 0) AS n_returned
         FROM perq$g p LEFT JOIN ret$g r ON r.q_id = p.q_id"""
    }.mkString("\n       UNION ALL\n       ")
    s"""${exactCtes(k)},
       $ctes
       $branches"""
  }

  /** Top-`k` CTE `name(q_id, n_id, rank)` of `from` by (`score` desc,
    * n_id asc) — [[Similarity]]'s rankTopK order.
    */
  private def topKCte(name: String, from: String, score: String, k: Int): String =
    s"""$name AS (SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM (
                SELECT q_id, n_id,
                  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY $score DESC, n_id ASC) AS rank
                FROM $from) WHERE rank <= $k)"""

  /** The embedding dim of the dump dir's corpus: the one fact the ANN
    * replays read from the data. Everything else in their SQL is a pure
    * function of the entry's config.
    */
  private def embDim(spark: SparkSession, dir: String): Int =
    t(spark, dir, "embeddings")
      .select(size(col("embedding")).as("d")).filter(col("d") > 0)
      .head().getInt(0)

  /** The raw (`n`: vec_id, v) and unit (`un`: vec_id, u) corpus CTEs the
    * training replays start from; `un` recomputes unit-normalization bit
    * for bit ([[graft.functions.UnitNormExpr]]'s order: sequential
    * squared sum, one sqrt, per-element divide).
    */
  private val unitCtes =
    """n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                   WHERE embedding IS NOT NULL),
       un AS MATERIALIZED (SELECT vec_id,
                CASE WHEN list_dot_product(v, v) = 0 THEN v
                     ELSE list_transform(v, x -> x / sqrt(list_dot_product(v, v))) END AS u
              FROM n)"""

  /** The WITH-body of every replay over [[Similarity.kmeansDistributed]]
    * (d09, d25, d34, d35, d39, d42-d45, x20, p27): the FULL training
    * re-derived in SQL, never Spark-trained constants. Init = the k
    * lowest-id unit vectors; per iteration, assignment by sequential-fold
    * `list_dot_product` argmax (ties to the lowest cell — the Spark
    * side's array_min struct order) and re-estimation by EXACT integer
    * sums of floor(u·1e6) per (cell, dim), normalized directly (the
    * mean's division cancels under normalization, so no decimal-rounding
    * divergence exists between engines). Ends with the final centroids
    * `c{iters}` and the final assignment `fa(vec_id, cell)`. Each
    * iteration reads the previous centroids twice (assignment, and the
    * keep-previous join for empty cells), so the model CTEs are
    * MATERIALIZED: inlined, iteration i would be re-derived 2^i times.
    */
  private def kmeansAssignCtes(dim: Int, k: Int, iters: Int): String = {
    def assignSql(from: String): String =
      s"""SELECT vec_id, cell FROM (
         SELECT un.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY un.vec_id
             ORDER BY list_dot_product(un.u, c.cvec) DESC, c.cell ASC) AS rn
         FROM un CROSS JOIN $from c) WHERE rn = 1"""
    val iterBlocks = (1 to iters).map { i =>
      val prev = s"c${i - 1}"
      s"""a$i AS (${assignSql(prev)}),
       s$i AS (SELECT a.cell, d.i AS dim,
           SUM(CAST(FLOOR(un.u[d.i] * 1e6) AS BIGINT)) AS s
         FROM a$i a JOIN un ON un.vec_id = a.vec_id, range(1, ${dim + 1}) d(i)
         GROUP BY 1, 2),
       v$i AS (SELECT cell, list(CAST(s AS DOUBLE) ORDER BY dim) AS sv
         FROM s$i GROUP BY cell),
       c$i AS MATERIALIZED (SELECT c.cell,
           CASE WHEN v.cell IS NULL OR list_dot_product(v.sv, v.sv) = 0 THEN c.cvec
                ELSE list_transform(v.sv, x -> x / sqrt(list_dot_product(v.sv, v.sv))) END AS cvec
         FROM $prev c LEFT JOIN v$i v ON v.cell = c.cell)"""
    }.mkString(",\n       ")
    s"""WITH $unitCtes,
       c0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, u AS cvec
              FROM (SELECT vec_id, u FROM un ORDER BY vec_id LIMIT $k)),
       $iterBlocks,
       fa AS (${assignSql(s"c$iters")})"""
  }

  private def kmeansOracleSql(spark: SparkSession, dir: String,
      k: Int, iters: Int): String =
    s"""${kmeansAssignCtes(embDim(spark, dir), k, iters)}
       SELECT vec_id, CAST(cell AS INT) AS cell FROM fa"""

  /** Generated DuckDB replay of x20: the d42 training CTEs plus the
    * stratified cut — per cell, rows ranked by (md5-order-hash(id), id)
    * and the first ⌊n·pct/100⌋ take "train" — then (cell, split) counts.
    */
  private def clusterSplitOracleSql(spark: SparkSession, dir: String,
      k: Int, iters: Int, trainPct: Int): String =
    s"""${kmeansAssignCtes(embDim(spark, dir), k, iters)},
       rk AS (SELECT cell,
           ROW_NUMBER() OVER (PARTITION BY cell ORDER BY
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
             vec_id ASC) AS rn,
           COUNT(*) OVER (PARTITION BY cell) AS n
         FROM fa)
       SELECT CAST(cell AS INT) AS cell,
         CASE WHEN rn <= (n * $trainPct) // 100 THEN 'train' ELSE 'test' END AS split,
         COUNT(*) AS n
       FROM rk GROUP BY 1, 2"""

  /** Generated DuckDB replay of p27: the d42 training CTEs, the
    * doc↔assignment join, the t01 language CASE chain, both aggregates
    * (exact BIGINT char mass), and the (count DESC, lang ASC) mode rank.
    */
  private def clusterProfileOracleSql(spark: SparkSession, dir: String,
      k: Int, iters: Int): String =
    s"""${kmeansAssignCtes(embDim(spark, dir), k, iters)},
       j AS (SELECT fa.cell, d.source, length(d.text) AS len,
               $langCaseSql AS lang
             FROM documents d JOIN fa ON fa.vec_id = d.doc_id),
       st AS (SELECT cell, COUNT(*) AS n_docs,
                CAST(SUM(len) AS BIGINT) AS total_chars,
                COUNT(DISTINCT source) AS n_sources
              FROM j GROUP BY cell),
       lc AS (SELECT cell, lang, COUNT(*) AS c FROM j GROUP BY 1, 2),
       tl AS (SELECT cell, lang FROM (
                SELECT cell, lang,
                  ROW_NUMBER() OVER (PARTITION BY cell ORDER BY c DESC, lang ASC) AS rn
                FROM lc) WHERE rn = 1)
       SELECT CAST(st.cell AS INT) AS cell, st.n_docs, st.total_chars,
         st.n_sources, tl.lang AS top_lang
       FROM st JOIN tl ON tl.cell = st.cell"""

  /** Every query's (`vec_id < 10`) cells against the final centroids
    * `c{iters}`, ranked by (dot desc, cell asc) — the Spark probe list's
    * array_sort struct order: `qrank(q_id, cell, rn)`.
    */
  private def qrankCte(iters: Int): String =
    s"""qrank AS (SELECT un.vec_id AS q_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY un.vec_id
             ORDER BY list_dot_product(un.u, c.cvec) DESC, c.cell ASC) AS rn
         FROM un CROSS JOIN c$iters c WHERE un.vec_id < 10)"""

  /** [[Similarity.ivfProbe]] replayed as top-k CTE `ap$g`: candidates of
    * `assign(vec_id, cell)` in each query's `nProbe` best cells, scored by
    * the exact unit dot.
    */
  private def ivfProbeCtes(g: String, assign: String, nProbe: Int, k: Int): String =
    s"""scored$g AS (SELECT p.q_id, a.vec_id AS n_id, list_dot_product(qu.u, nu.u) AS cos
                FROM qrank p JOIN $assign a ON a.cell = p.cell AND a.vec_id <> p.q_id
                  JOIN un qu ON qu.vec_id = p.q_id JOIN un nu ON nu.vec_id = a.vec_id
                WHERE p.rn <= $nProbe),
       ${topKCte(s"ap$g", s"scored$g", "cos", k)}"""

  /** Generated DuckDB replay of d09: [[kmeansAssignCtes]]' training, the
    * nProbe probe list, exact scoring of the probed cells, recall@k.
    */
  private def ivfOracleSql(spark: SparkSession, dir: String, nCentroids: Int,
      nProbe: Int, iters: Int, k: Int): String =
    s"""${kmeansAssignCtes(embDim(spark, dir), nCentroids, iters)},
       ${qrankCte(iters)},
       ${ivfProbeCtes("", "fa", nProbe, k)},
       ${annOracleTail(k)}"""

  /** Generated DuckDB replay of d25's nProbe → recall curve: one training,
    * one probe chain per nProbe against the shared assignment.
    */
  private def ivfCurveOracleSql(spark: SparkSession, dir: String, nProbes: Seq[Int],
      nCentroids: Int, iters: Int, k: Int): String =
    s"""${kmeansAssignCtes(embDim(spark, dir), nCentroids, iters)},
       ${qrankCte(iters)},
       ${nProbes.map(np => ivfProbeCtes(s"$np", "fa", np, k)).mkString(",\n       ")},
       ${curveTail(k, nProbes.map(np => (s"$np", s"$np AS n_probe")))}"""

  /** Generated DuckDB replay of d39's FILTERED IVF search: the d09 chain
    * with candidates restricted by `cand` (over the embeddings row aliased
    * `l`) BEFORE scoring, and an exact baseline that ranks only filtered
    * neighbors. Queries stay unfiltered (a query outside the filter still
    * searches the filtered corpus), replaying [[Similarity.ivfProbeFiltered]].
    */
  private def ivfFilteredOracleSql(spark: SparkSession, dir: String, nCentroids: Int,
      nProbe: Int, iters: Int, k: Int, cand: String): String =
    s"""${kmeansAssignCtes(embDim(spark, dir), nCentroids, iters)},
       fassign AS (SELECT fa.vec_id, fa.cell FROM fa JOIN embeddings l ON l.vec_id = fa.vec_id
                   WHERE ($cand)),
       ${qrankCte(iters)},
       ${ivfProbeCtes("", "fassign", nProbe, k)},
       ${annOracleTail(k, Some(cand))}"""

  /** Per-subspace PQ training CTEs of every replay over
    * [[Similarity.pqCodebooksDistributed]] — [[kmeansAssignCtes]]'
    * discipline applied to its Euclidean Lloyd's: per subspace j, init =
    * slices of the ksub lowest-id unit vectors; per iteration, assignment
    * by argmin ‖c‖² − 2·sub·c (both terms sequential list_dot_product
    * folds, ties to the lowest code) and re-estimation as EXACT integer
    * sums of floor(u·1e6) per (code, sub-dim) divided by n·1e6 in ONE IEEE
    * double division (exact operands → bit-identical on any engine; an
    * empty code keeps its previous centroid). `pb{j}_{iters}` are the
    * final books (MATERIALIZED, as in [[kmeansAssignCtes]]) and `penc{j}`
    * the final per-subspace encode. Expects CTE `un` upstream.
    */
  private def pqTrainCtes(dim: Int, m: Int, ksub: Int, iters: Int): String = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val subDim = dim / m
    (0 until m).map { j =>
      val lo = j * subDim + 1
      val hi = (j + 1) * subDim
      def assignCte(name: String, from: String): String =
        s"""$name AS (SELECT vec_id, code FROM (
           SELECT un.vec_id, b.code,
             ROW_NUMBER() OVER (PARTITION BY un.vec_id
               ORDER BY (list_dot_product(b.bvec, b.bvec)
                         - 2 * list_dot_product(un.u[$lo:$hi], b.bvec)) ASC,
                 b.code ASC) AS rn
           FROM un CROSS JOIN $from b) WHERE rn = 1)"""
      val init =
        s"""pb${j}_0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code,
             u[$lo:$hi] AS bvec
           FROM (SELECT vec_id, u FROM un ORDER BY vec_id LIMIT $ksub))"""
      val iterBlocks = (1 to iters).map { i =>
        s"""${assignCte(s"pa${j}_$i", s"pb${j}_${i - 1}")},
       ps${j}_$i AS (SELECT a.code, d.i AS t,
           SUM(CAST(FLOOR(un.u[${lo - 1} + d.i] * 1e6) AS BIGINT)) AS s,
           COUNT(*) AS n
         FROM pa${j}_$i a JOIN un ON un.vec_id = a.vec_id, range(1, ${subDim + 1}) d(i)
         GROUP BY 1, 2),
       pb${j}_$i AS MATERIALIZED (SELECT b.code,
           CASE WHEN v.code IS NULL THEN b.bvec ELSE v.bvec END AS bvec
         FROM pb${j}_${i - 1} b LEFT JOIN (
           SELECT code, list(CAST(s AS DOUBLE) / (n * 1e6) ORDER BY t) AS bvec
           FROM ps${j}_$i GROUP BY code) v ON v.code = b.code)"""
      }.mkString(",\n       ")
      s"""$init,
       $iterBlocks,
       ${assignCte(s"penc$j", s"pb${j}_$iters")}"""
    }.mkString(",\n       ")
  }

  /** The encoded corpus `enc(vec_id[, cell], code0..code{m-1})` over the
    * final encodes `penc{j}` (with each vector's final cell from `fa` when
    * `cells`), plus the query units `q(q_id, u)`.
    */
  private def encCtes(m: Int, cells: Boolean): String = {
    val (from, cell) = if (cells) ("fa", ", f.cell") else ("un", "")
    val codes = (0 until m).map(j => s"penc$j.code AS code$j").mkString(", ")
    val joins = (0 until m).map(j => s"JOIN penc$j ON penc$j.vec_id = f.vec_id")
      .mkString("\n            ")
    s"""enc AS (SELECT f.vec_id$cell, $codes
               FROM $from f $joins),
       q AS (SELECT vec_id AS q_id, u FROM un WHERE vec_id < 10)"""
  }

  /** The ADC score of query `q` against encoded candidate `e` — the
    * left-assoc sum, in subspace order, of dot(q_sub_j, book_j[code_j])
    * (the Spark LUT lookups' order) — and the joins to the final books it
    * reads.
    */
  private def adcSql(dim: Int, m: Int, iters: Int): (String, String) = {
    val subDim = dim / m
    ((0 until m).map { j =>
      s"list_dot_product(q.u[${j * subDim + 1}:${(j + 1) * subDim}], b$j.bvec)"
    }.mkString("\n            + "),
      (0 until m).map(j => s"JOIN pb${j}_$iters b$j ON b$j.code = e.code$j")
        .mkString("\n            "))
  }

  /** The WITH-body of the d26/d32 replays: the PQ training, the encoded
    * corpus and the full-corpus ADC scores `sc(q_id, n_id, score)`.
    */
  private def pqCtes(spark: SparkSession, dir: String, m: Int, ksub: Int, iters: Int): String = {
    val dim = embDim(spark, dir)
    val (adc, bookJoins) = adcSql(dim, m, iters)
    s"""WITH $unitCtes,
       ${pqTrainCtes(dim, m, ksub, iters)},
       ${encCtes(m, cells = false)},
       sc AS (SELECT q.q_id, e.vec_id AS n_id, ($adc) AS score
          FROM q JOIN enc e ON e.vec_id <> q.q_id
            $bookJoins)"""
  }

  /** Generated DuckDB replay of d26's PQ/ADC pipeline: codebook training,
    * encode, ADC top-k, recall@k.
    */
  private def pqOracleSql(spark: SparkSession, dir: String, m: Int, ksub: Int,
      iters: Int, k: Int): String =
    s"""${pqCtes(spark, dir, m, ksub, iters)},
       ${topKCte("ap", "sc", "score", k)},
       ${annOracleTail(k)}"""

  /** Generated DuckDB replay of d32: the d26 pipeline, then BOTH variants
    * — top-k straight off the ADC order, and top-k after the exact-cosine
    * re-rank of the c·k shortlist — each with its own recall, unioned
    * under a `variant` tag.
    */
  private def pqRerankOracleSql(spark: SparkSession, dir: String, m: Int, ksub: Int,
      iters: Int, k: Int, shortlist: Int): String =
    s"""${pqCtes(spark, dir, m, ksub, iters)},
       ${topKCte("short", "sc", "score", k * shortlist)},
       ap_adc AS (SELECT q_id, n_id, rank FROM short WHERE rank <= $k),
       rr AS (SELECT s.q_id, s.n_id, list_dot_product(qu.u, nu.u) AS cos
              FROM short s JOIN un qu ON qu.vec_id = s.q_id
                           JOIN un nu ON nu.vec_id = s.n_id),
       ${topKCte("ap_rr", "rr", "cos", k)},
       ${exactCtes(k)},
       ${recallCtes("_adc", k)},
       ${recallCtes("_rr", k)}
       SELECT 'adc' AS variant, p.q_id, a.n_id, a.rank, p.recall
       FROM perq_adc p LEFT JOIN ap_adc a ON a.q_id = p.q_id
       UNION ALL
       SELECT 'rerank' AS variant, p.q_id, a.n_id, a.rank, p.recall
       FROM perq_rr p LEFT JOIN ap_rr a ON a.q_id = p.q_id"""

  /** The WITH-body of the IVF-PQ replays (d34, d35, d43, d45): BOTH
    * trainings re-derived in SQL ([[kmeansAssignCtes]], [[pqTrainCtes]]),
    * the encoded corpus `enc(vec_id, cell, code..)`, the query units `q`
    * and their ranked cells `qrank`; plus the ADC pieces ([[adcSql]]).
    */
  private def ivfPqCtes(spark: SparkSession, dir: String, nCentroids: Int, m: Int,
      ksub: Int, iters: Int): (String, (String, String)) = {
    val dim = embDim(spark, dir)
    (s"""${kmeansAssignCtes(dim, nCentroids, iters)},
       ${pqTrainCtes(dim, m, ksub, iters)},
       ${encCtes(m, cells = true)},
       ${qrankCte(iters)}""", adcSql(dim, m, iters))
  }

  /** [[Similarity.ivfPqProbe]] replayed as top-k CTE `ap$g`: ADC scores of
    * the encoded candidates in each query's `nProbe` best cells, the
    * `shortlist`·k best of them re-ranked by exact unit dot.
    */
  private def ivfPqProbeCtes(g: String, adc: (String, String), nProbe: Int,
      shortlist: Int, k: Int): String =
    s"""sc$g AS (SELECT p.q_id, e.vec_id AS n_id, (${adc._1}) AS score
          FROM qrank p
            JOIN enc e ON e.cell = p.cell AND e.vec_id <> p.q_id
            JOIN q ON q.q_id = p.q_id
            ${adc._2}
          WHERE p.rn <= $nProbe),
       ${topKCte(s"short$g", s"sc$g", "score", k * shortlist)},
       rr$g AS (SELECT s.q_id, s.n_id, list_dot_product(qu.u, nu.u) AS cos
              FROM short$g s JOIN un qu ON qu.vec_id = s.q_id
                             JOIN un nu ON nu.vec_id = s.n_id),
       ${topKCte(s"ap$g", s"rr$g", "cos", k)}"""

  /** Generated DuckDB replay of the IVF-PQ + re-rank stack (d34, d43,
    * d45): both trainings, probe list, routed ADC scoring, c·k shortlist,
    * exact re-rank, recall@k. Nothing in this SQL came from a Spark run.
    */
  private def ivfPqOracleSql(spark: SparkSession, dir: String,
      nCentroids: Int, m: Int, ksub: Int, iters: Int, nProbe: Int, k: Int,
      shortlist: Int): String = {
    val (ctes, adc) = ivfPqCtes(spark, dir, nCentroids, m, ksub, iters)
    s"""$ctes,
       ${ivfPqProbeCtes("", adc, nProbe, shortlist, k)},
       ${annOracleTail(k)}"""
  }

  /** Generated DuckDB replay of d35's (nProbe, shortlist) → recall curve:
    * one training and encode shared by every config, one d34 probe chain
    * per config, UNION ALL'd under (n_probe, shortlist).
    */
  private def ivfPqCurveOracleSql(spark: SparkSession, dir: String,
      configs: Seq[(Int, Int)], nCentroids: Int, m: Int, ksub: Int,
      iters: Int, k: Int): String = {
    val (ctes, adc) = ivfPqCtes(spark, dir, nCentroids, m, ksub, iters)
    val named = configs.map { case (np, sl) => (s"${np}_$sl", np, sl) }
    s"""$ctes,
       ${named.map { case (g, np, sl) => ivfPqProbeCtes(g, adc, np, sl, k) }.mkString(",\n       ")},
       ${curveTail(k, named.map { case (g, np, sl) => (g, s"$np AS n_probe, $sl AS shortlist") })}"""
  }

  /** Shared frame prep for the j01/j03 as-of entries: purchases vs clicks
    * pre-aggregated to unique (user, ts) so tie resolution is
    * engine-independent; only the direction differs between the twins.
    */
  private def asofEntry(s: SparkSession, d: String, direction: String): DataFrame = {
    val ev = t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("value")).as("click_value"))
    JoinOps.asofJoin(purchases, clicks, "user_id", "ts", direction = direction)
      .select(col("user_id"), col("ts"), col("value"),
        col("asof_ts").as("click_ts"), col("asof_click_value").as("click_value"))
  }

  // ------------------------------------------------------------------
  // §2a/§2b relational surface — one entry per reference operator
  // ------------------------------------------------------------------
  private lazy val relational: Vector[(String, (QFn, Oracle))] = Vector(

    // #1 table scan + #4 projection (column pruning reaches the parquet scan)
    "q01_scan_project" -> entry(
      (s, d) => t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem"),

    // #3 filter — predicate pushed to parquet (PushedFilters)
    "q02_filter_pushdown" -> entry(
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity") > 45.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE l_quantity > 45.0"),

    // #2 index-scan analog: selective point lookup (row-group skipping via min/max)
    "q03_point_lookup" -> entry(
      (s, d) => t(s, d, "customer").filter(col("c_custkey") === 42L)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment")),
      "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = 42"),

    // LIKE pattern filter (§2b)
    "q04_like" -> entry(
      (s, d) => t(s, d, "part").filter(col("p_name").like("red%"))
        .select(col("p_partkey"), col("p_name")),
      "SELECT p_partkey, p_name FROM part WHERE p_name LIKE 'red%'"),

    // AND / OR / NOT boolean structure (§2b)
    "q05_boolean" -> entry(
      (s, d) => t(s, d, "orders")
        .filter((col("o_orderstatus") === "F" || col("o_totalprice") > 400000.0)
          && !col("o_orderpriority").like("1%"))
        .select(col("o_orderkey"), col("o_orderstatus")),
      "SELECT o_orderkey, o_orderstatus FROM orders WHERE (o_orderstatus = 'F' OR o_totalprice > 400000.0) AND NOT (o_orderpriority LIKE '1%')"),

    // arithmetic expressions in projection and predicates (§2b)
    "q06_arith" -> entry(
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_quantity") % 2 === 0 && col("l_quantity") + 10 > 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("net")),
      "SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS net FROM lineitem WHERE l_quantity % 2 = 0 AND l_quantity + 10 > 30"),

    // BETWEEN + IN list (§2b)
    "q07_between_in" -> entry(
      (s, d) => t(s, d, "orders")
        .filter(col("o_orderdate").between(lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp"))
          && col("o_orderstatus").isin("O", "F"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
      "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31' AND o_orderstatus IN ('O', 'F')"),

    // CASE expression (§2b)
    "q08_case" -> entry(
      (s, d) => t(s, d, "orders").select(col("o_orderkey"),
        when(col("o_totalprice") > 300000.0, "big")
          .when(col("o_totalprice") > 150000.0, "mid")
          .otherwise("small").as("bucket")),
      "SELECT o_orderkey, CASE WHEN o_totalprice > 300000.0 THEN 'big' WHEN o_totalprice > 150000.0 THEN 'mid' ELSE 'small' END AS bucket FROM orders"),

    // #13 DISTINCT
    "q09_distinct" -> entry(
      (s, d) => t(s, d, "customer").select(col("c_mktsegment"), col("c_nationkey")).distinct(),
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"),

    // #11 sort + #12 limit → Spark fuses to TakeOrderedAndProject (top-k)
    "q10_topk" -> entry(
      (s, d) => t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice")),
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),

    // #8 hash aggregate w/ GROUP BY + #9 scalar aggs (partial+final, map-side combine)
    "q11_agg_group" -> entry(
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).as("sum_base"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("n_rows")),
      "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_base, SUM(l_quantity) / COUNT(*) AS avg_qty, COUNT(*) AS n_rows FROM lineitem GROUP BY l_returnflag, l_linestatus"),

    // #9 global (no GROUP BY) aggregate incl. COUNT(*), COUNT(DISTINCT), MIN/MAX
    "q12_global_agg" -> entry(
      (s, d) => t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship")),
      "SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders, SUM(l_quantity) AS sum_qty, MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship FROM lineitem"),

    // #10 HAVING (post-aggregation filter)
    // Final CAST(... AS DOUBLE) on every SUM-decimal output, BOTH sides:
    // the driver's hash stringifies DuckDB decimals through float64 (drops
    // trailing zeros, "12.30"→"12.3") but keeps Spark parquet decimals as
    // exact-scale Decimals — identical doubles are the only stable encoding.
    // The SUM itself stays decimal (exact, order-independent); only the
    // final result is converted, one correctly-rounded step in both engines.
    "q13_having" -> entry(
      (s, d) => t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("spend"))
        .filter(col("n_orders") >= 12),
      "SELECT o_custkey, COUNT(*) AS n_orders, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12"),

    // #5 inner equi-join (Catalyst picks broadcast/shuffled-hash/sort-merge)
    "q14_join_inner" -> entry(
      (s, d) => {
        val c = t(s, d, "customer"); val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
        c.join(o, c("c_custkey") === o("o_custkey"), "inner")
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
      },
      "SELECT c_custkey, c_name, o_orderkey, o_totalprice FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey WHERE o.o_totalprice > 400000.0"),

    // #6 LEFT outer join (NULL padding observable)
    "q15_join_left" -> entry(
      (s, d) => {
        val c = t(s, d, "customer").filter(col("c_custkey") <= 100L)
        val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .select(col("c_custkey"), col("o_orderkey"))
      },
      "SELECT c.c_custkey, o.o_orderkey FROM (SELECT * FROM customer WHERE c_custkey <= 100) c LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o ON c.c_custkey = o.o_custkey"),

    // #6 RIGHT outer join
    "q16_join_right" -> entry(
      (s, d) => {
        val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
        val c = t(s, d, "customer").filter(col("c_custkey") <= 100L)
        o.join(c, c("c_custkey") === o("o_custkey"), "right")
          .select(col("c_custkey"), col("o_orderkey"))
      },
      "SELECT c.c_custkey, o.o_orderkey FROM (SELECT * FROM orders WHERE o_totalprice > 400000.0) o RIGHT JOIN (SELECT * FROM customer WHERE c_custkey <= 100) c ON c.c_custkey = o.o_custkey"),

    // #6 FULL outer join (on pre-aggregated sides: both-null regions visible)
    "q17_join_full" -> entry(
      (s, d) => {
        val cn = t(s, d, "customer").groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
          .filter(col("c_nationkey") < 20)
        val sn = t(s, d, "supplier").groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
          .filter(col("s_nationkey") >= 10)
        cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full")
          .select(col("c_nationkey"), col("n_cust"), col("s_nationkey"), col("n_supp"))
      },
      "SELECT cn.c_nationkey, cn.n_cust, sn.s_nationkey, sn.n_supp FROM (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey HAVING c_nationkey < 20) cn FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey HAVING s_nationkey >= 10) sn ON cn.c_nationkey = sn.s_nationkey"),

    // #6 NATURAL join — same SQL text in Spark and DuckDB
    "q18_join_natural" -> shared(
      "SELECT n_name, r_name FROM (SELECT n_nationkey, n_name, n_regionkey AS regionkey FROM nation) a NATURAL JOIN (SELECT r_regionkey AS regionkey, r_name FROM region) b"),

    // IN (subquery) → left-semi join (§2b; reference RewritePredicateSubquery analog)
    "q19_semi_in" -> shared(
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)"),

    // LEFT ANTI (reference parses `LEFT ANTI`, parser.cpp:99-121)
    "q20_join_left_anti" -> entry(
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").filter(col("o_totalprice") > 450000.0)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
      },
      "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000.0)"),

    // RIGHT ANTI — no native Spark join type; JoinOps.rightAnti (swapped left_anti)
    "q21_join_right_anti" -> entry(
      (s, d) => {
        val c = t(s, d, "customer").filter(col("c_custkey") <= 750L)
        val o = t(s, d, "orders")
        JoinOps.rightAnti(c, o, c("c_custkey") === o("o_custkey"))
          .select(col("o_orderkey"), col("o_custkey"))
      },
      "SELECT o_orderkey, o_custkey FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey AND c.c_custkey <= 750)"),

    // FULL OUTER ANTI — union of both anti joins (JoinOps.fullOuterAnti)
    "q22_join_full_outer_anti" -> entry(
      (s, d) => {
        val c = t(s, d, "customer").filter(col("c_custkey") <= 100L)
          .select(col("c_custkey"), col("c_name"))
        val o = t(s, d, "orders").filter(col("o_totalprice") > 480000.0)
          .select(col("o_orderkey"), col("o_custkey"))
        JoinOps.fullOuterAnti(c, o, c("c_custkey") === o("o_custkey"))
      },
      "SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_custkey FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 100) c FULL JOIN (SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 480000.0) o ON c.c_custkey = o.o_custkey WHERE c.c_custkey IS NULL OR o.o_custkey IS NULL"),

    // #7 true cross join (reference: comma join that survives with no predicate)
    "q23_cross" -> entry(
      (s, d) => t(s, d, "region")
        .crossJoin(t(s, d, "nation").filter(col("n_nationkey") < 5))
        .select(col("r_regionkey"), col("r_name"), col("n_nationkey")),
      "SELECT r_regionkey, r_name, n_nationkey FROM region CROSS JOIN (SELECT * FROM nation WHERE n_nationkey < 5) n"),

    // #7 comma join + WHERE → Catalyst converts to inner equi-join
    // (≙ reference query_rewriter.cpp:41-133 comma-join conversion)
    "q24_comma_join" -> shared(
      "SELECT c.c_name, o.o_orderkey, o.o_totalprice FROM customer c, orders o WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 9000.0 AND o.o_orderstatus = 'O'"),

    // scalar subqueries (correlated + uncorrelated) → LEFT JOIN decorrelation
    // (≙ reference query_rewriter.cpp:229-318)
    "q25_scalar_subquery" -> shared(
      "SELECT c_custkey, c_name, (SELECT n_name FROM nation WHERE n_nationkey = c_nationkey) AS nation_name, (SELECT r_name FROM region WHERE r_regionkey = 0) AS region0 FROM customer WHERE c_custkey <= 200"),

    // correlated COUNT/SUM subqueries → JOIN + GROUP BY (≙ OPTIMIZATION_DEMO.md:101-139)
    "q26_correlated_agg" -> shared(
      "SELECT c.c_custkey, c.c_name, (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS order_count, CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders o WHERE o.o_custkey = c.c_custkey) AS DOUBLE) AS total_spent FROM customer c WHERE c.c_acctbal > 0"),

    // NOT IN over a literal list (§2b)
    "q27_not_in" -> shared(
      "SELECT c_custkey FROM customer WHERE c_nationkey NOT IN (0, 1, 2) AND c_custkey <= 300"),

    // multi-join star aggregation — broadcasts the small dims explicitly
    "q28_star_agg" -> entry(
      (s, d) => {
        val r = t(s, d, "region"); val n = t(s, d, "nation")
        val c = t(s, d, "customer"); val o = t(s, d, "orders"); val l = t(s, d, "lineitem")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          // discount data is 2-decimal: exact decimal arithmetic on both
          // sides (a double product cast to decimal rounds differently in
          // Spark vs DuckDB at the cent boundary)
          .agg(sum(dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
      },
      "SELECT r_name, n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue, COUNT(*) AS n_items FROM region JOIN nation ON n_regionkey = r_regionkey JOIN customer ON c_nationkey = n_nationkey JOIN orders ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey GROUP BY r_name, n_name"),

    // flagship (≙ demo_query.sql): comma joins + scalar subquery + filters +
    // ORDER BY + LIMIT (unique key added for determinism)
    "q29_flagship" -> shared(
      "SELECT c.c_name, (SELECT n.n_name FROM nation n WHERE n.n_nationkey = c.c_nationkey) AS nation_name, o.o_orderkey, l.l_linenumber FROM customer c, orders o, lineitem l WHERE c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey AND c.c_acctbal > 0 AND o.o_orderstatus = 'O' ORDER BY o.o_orderkey, l.l_linenumber LIMIT 20"),

    // GROUP BY on a computed expression (corpus: computed sort/group keys)
    "q30_group_expr" -> shared(
      "SELECT year(o_orderdate) AS yr, o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend FROM orders GROUP BY year(o_orderdate), o_orderstatus"),

    // correlated EXISTS → left-semi join
    "q31_exists" -> shared(
      "SELECT s_suppkey, s_name FROM supplier s WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)"),

    // ANY/ALL comparison semantics via their MIN/MAX scalar-subquery
    // rewrites (reference lexes ANY/ALL, `lexer.cpp:36`; Spark SQL expresses
    // them this way)
    "q32_any_all" -> shared(
      "SELECT p_partkey, p_retailprice FROM part WHERE p_retailprice >= (SELECT MAX(p_retailprice) FROM part) OR p_retailprice < (SELECT MIN(p_retailprice) + 1.0 FROM part)"),

    // kitchen sink (≙ test_complex_queries.sql:1): arithmetic inside an
    // aggregate + IN list + OR + LIKE + GROUP BY + HAVING + ORDER BY on the
    // aggregate alias + LIMIT
    "q33_kitchen_sink" -> shared(
      "SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 2) AS DOUBLE) AS doubled_spend, COUNT(*) AS n FROM orders WHERE o_orderstatus IN ('O', 'F') OR o_orderpriority LIKE '5%' GROUP BY o_custkey HAVING COUNT(*) >= 10 ORDER BY doubled_spend DESC, o_custkey LIMIT 25"),

    // 4-table join + DISTINCT + computed sort key (≙ test_complex_queries.sql:5)
    "q34_four_join_distinct" -> shared(
      "SELECT DISTINCT r_name, n_name, c_mktsegment, year(o_orderdate) AS yr FROM region JOIN nation ON n_regionkey = r_regionkey JOIN customer ON c_nationkey = n_nationkey JOIN orders ON o_custkey = c_custkey ORDER BY yr DESC, r_name, n_name, c_mktsegment"),

    // ----- OLAP surface beyond the reference's parser (analytics an engine
    // at this tier is expected to answer; all shared-SQL, one text both
    // engines) -----

    // ROLLUP: hierarchical subtotals + grand total in one pass — Spark
    // plans an Expand (one row per grouping set) into the ordinary
    // partial/final hash aggregate, so the rollup costs one shuffle, not
    // one scan per level. GROUPING() disambiguates "subtotal row" from a
    // genuinely NULL group key
    "q35_rollup" -> shared(
      "SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag) AS INT) AS g_flag, CAST(GROUPING(l_linestatus) AS INT) AS g_status, COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"),

    // CUBE (round 12): completes the ROLLUP/GROUPING SETS family — all
    // 2² grouping combinations in one Expand + one shuffle; GROUPING()
    // bits disambiguate a real NULL key from a superaggregate row
    "q55_cube" -> shared(
      "SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag) AS INT) AS g_flag, " +
        "CAST(GROUPING(l_linestatus) AS INT) AS g_status, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"),

    // calendar-interval RANGE frame (round 12): the trailing-30-days
    // running spend — RANGE over a DATE order key with an INTERVAL
    // bound (q41's frames are ROWS/numeric-RANGE); ties are frame PEERS
    // so duplicate order dates share one deterministic sum
    "q57_interval_range" -> shared(
      "SELECT o_orderkey, o_custkey, o_orderdate, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) " +
        "AS DOUBLE) AS spend_30d " +
        "FROM orders WHERE o_custkey % 50 = 0"),

    // LIMIT ... OFFSET pagination (round 17): the page-2 query every API
    // backend runs. Spark plans ORDER BY + LIMIT + OFFSET as a single
    // global top-(limit+offset) then a drop — no full sort materializes.
    // Unique-key tiebreak (o_orderkey) makes the page deterministic; a
    // bare ORDER BY o_totalprice would hand non-deterministic pages to
    // the hash gate (the LIMIT house rule)
    "q58_limit_offset" -> shared(
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20 OFFSET 40"),

    // cost-model accuracy, measured (round 18) — the Spark-native analog
    // of the reference's cardinality table (README.md:149-153), which
    // prints claimed percentages with no reproducible method. One row per
    // operator class: actual_rows is genuinely replayed by the oracle;
    // est_band is the documented accuracy contract and est_ok the
    // MEASURED verdict (optimizedPlan.stats.rowCount vs executed count),
    // so an estimator/stats regression flips a hashed value and fails
    // this gate. The oracle's TRUE literals are the pinned claim — the
    // estimates themselves are Spark-internal and pinned numerically in
    // CboSpec. Bands are measurements (sf0.001/0.01/0.1), not
    // aspirations: scan exact, filter <=5%, join <=3x ratio (FK-NDV
    // underestimation on small tables — the structural CBO weakness AQE
    // exists to absorb), agg <=15% (HLL NDV).
    "q59_cbo_accuracy" -> entry(
      (s, d) => graft.engine.CboAccuracy.estimatedVsActual(s, d),
      """SELECT 'scan' AS op_class,
           (SELECT COUNT(*) FROM customer) AS actual_rows,
           'exact' AS est_band, TRUE AS est_ok
         UNION ALL SELECT 'filter_range',
           (SELECT COUNT(*) FROM customer WHERE c_acctbal > 5000.0),
           '<=5%', TRUE
         UNION ALL SELECT 'filter_eq',
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O'),
           '<=5%', TRUE
         UNION ALL SELECT 'join',
           (SELECT COUNT(*) FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey),
           '<=3x', TRUE
         UNION ALL SELECT 'agg',
           (SELECT COUNT(DISTINCT o_custkey) FROM orders),
           '<=15%', TRUE"""),

    // correlated LATERAL subquery in FROM (round 12): the other LATERAL
    // (q46 is LATERAL VIEW explode) — a per-row scalar-aggregate
    // subquery Catalyst decorrelates into one join + aggregate, never
    // the N+1 re-execution a naive engine runs
    "q56_lateral_subquery" -> shared(
      "SELECT o_orderkey, o_totalprice, t.max_qty, t.n_items " +
        "FROM orders, LATERAL (SELECT MAX(l_quantity) AS max_qty, " +
        "COUNT(*) AS n_items FROM lineitem WHERE l_orderkey = o_orderkey) t " +
        "WHERE o_orderkey % 100 = 0"),

    // GROUPING SETS: the general form (CUBE/ROLLUP are sugar over it) —
    // two independent single-column aggregations plus the grand total
    // answered in one Expand + one shuffle instead of three scans
    "q36_grouping_sets" -> shared(
      "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"),

    // SQL window functions: ranking + lag in one partition pass. Both
    // windows share the o_custkey partitioning, so Catalyst plans ONE
    // exchange with two sorts; determinism: RANK compares exact decimals,
    // LAG rides a unique (date, orderkey) total order
    "q37_window_sql" -> shared(
      "SELECT o_orderkey, o_custkey, RANK() OVER (PARTITION BY o_custkey ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC) AS price_rank, LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey FROM orders WHERE o_custkey < 500"),

    // set operators (UNION dedups, INTERSECT, EXCEPT) — parenthesized so
    // both parsers associate identically; Spark plans INTERSECT/EXCEPT as
    // left-semi/left-anti aggregates, never materializing the cross
    "q38_set_ops" -> shared(
      "(SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O' INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') UNION (SELECT c_custkey FROM customer WHERE c_acctbal < -900 EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1%')"),

    // PIVOT (round 11): wide-format rotation — one hash aggregate with the
    // pivot values folded into conditional aggregates (Spark's
    // RewritePivot does exactly the CASE WHEN lowering the oracle spells
    // out; one shuffle, never one scan per pivot value). Spark's PIVOT
    // SQL clause and DuckDB's disagree on grammar (implicit vs in-clause
    // GROUP BY), so the entry pins the DataFrame API against the
    // conditional-aggregation definition. Multi-agg pivot: sums are
    // decimal-exact before the final double cast, counts are integer
    "q39_pivot" -> entry(
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("qty"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          col("F_qty").as("qty_f"), col("F_n").as("n_f"),
          col("O_qty").as("qty_o"), col("O_n").as("n_o")),
      """SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_f,
           COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_o,
           COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
         FROM lineitem GROUP BY l_returnflag"""),

    // UNPIVOT / melt (round 11): long-format rotation of a pre-aggregated
    // frame — Spark plans Expand (each input row fans to one row per
    // unpivoted column, no shuffle, no re-scan); the oracle is the
    // definitional UNION ALL. value keeps both metrics in one double
    // column; sums are decimal-exact before the cast
    "q40_unpivot" -> entry(
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price")), "metric", "value"),
      """WITH a AS (
           SELECT l_returnflag,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'qty' AS metric, qty AS value FROM a
         UNION ALL
         SELECT l_returnflag, 'price' AS metric, price AS value FROM a"""),

    // date/time function family (round 11): EXTRACT parts, date+int
    // arithmetic, month truncation — the SQL-surface breadth a reporting
    // user leans on; all parts integral, session TZ pinned UTC, so every
    // value is hash-stable. (DOW is EXCLUDED deliberately: Spark counts
    // Sunday=1, DuckDB Sunday=0 — an entry would pin one convention
    // arbitrarily and document nothing)
    "q44_date_functions" -> shared(
      """WITH o AS (
           SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od
           FROM orders WHERE o_custkey < 100)
         SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM od) AS INT) AS yr,
           CAST(EXTRACT(MONTH FROM od) AS INT) AS mo,
           CAST(EXTRACT(DAY FROM od) AS INT) AS dy,
           CAST(EXTRACT(QUARTER FROM od) AS INT) AS qtr,
           od + 30 AS due_date,
           CAST(date_trunc('month', od) AS DATE) AS month_start
         FROM o"""),

    // string-function family (round 11): the scalar-function breadth of
    // the ANSI intersection both engines implement identically (UPPER /
    // LOWER / SUBSTR / REPLACE / LENGTH / LPAD / TRIM / SPLIT_PART /
    // CONCAT_WS); all codegen'd per-row algebra on the scan
    "q45_string_functions" -> shared(
      """SELECT c_custkey,
           UPPER(c_name) AS up_name,
           LOWER(c_mktsegment) AS lo_seg,
           SUBSTR(c_name, 10, 8) AS name_digits,
           REPLACE(c_name, 'Customer#', '') AS bare_name,
           LENGTH(c_name) AS name_len,
           LPAD(CAST(c_custkey AS STRING), 10, '0') AS padded_key,
           TRIM(CONCAT_WS(' ', c_mktsegment, c_name)) AS seg_name,
           SPLIT_PART(c_name, '#', 2) AS name_tail
         FROM customer WHERE c_custkey < 500"""),

    // LATERAL VIEW explode (round 11): the table-generating-function SQL
    // surface (HiveQL lateral views parse natively in Spark SQL; DuckDB
    // spells the identical relation unnest-in-SELECT). Tokens are unique
    // within the group row, so (n DESC, token ASC) totally orders LIMIT
    "q46_lateral_explode" -> entry(
      (s, d) => {
        val q = """SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
                   FROM documents LATERAL VIEW explode(split(text, ' ')) t AS token
                   WHERE token <> '' GROUP BY token ORDER BY n DESC, token ASC LIMIT 20"""
        GraftSession.useDir(s, d); s.sql(q)
      },
      """SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         WHERE token <> '' GROUP BY token ORDER BY n DESC, token ASC LIMIT 20"""),

    // inline VALUES table (round 11): the literal-relation surface — a
    // probe list LEFT-joined against the catalog (COUNT(col) gives the
    // missing segment its 0). One shared text, both parsers
    "q47_values_inline" -> shared(
      """SELECT t.seg, COUNT(c.c_custkey) AS n
         FROM (VALUES ('BUILDING'), ('MACHINERY'), ('NOSEGMENT')) AS t(seg)
         LEFT JOIN customer c ON c.c_mktsegment = t.seg
         GROUP BY t.seg"""),

    // window-frame family (round 11): NTILE / FIRST_VALUE / CUME_DIST plus
    // a RANGE value frame, all via a shared WINDOW clause so both parsers
    // bind the same definitions. Both windows partition on o_orderpriority,
    // so Catalyst plans ONE exchange; orders are unique on o_orderkey so
    // every function is deterministic (CUME_DIST = row_number/n on a
    // unique order — an exact int/int double division); the RANGE frame
    // sums decimals, not doubles, so summation order can't leak
    "q41_window_frames" -> shared(
      """SELECT o_orderkey, o_orderpriority,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           FIRST_VALUE(o_orderkey) OVER w AS first_key,
           CUME_DIST() OVER w AS cd,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_orderpriority ORDER BY o_orderkey
             RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_spend
         FROM orders WHERE o_custkey < 200
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)"""),

    // CTE reuse (round 11): one WITH block referenced twice (per-customer
    // spend joined against its own global average) — Spark's WithCTE keeps
    // a single definition; the avg is SUM/COUNT on exact decimals so the
    // one fp division is bit-identical cross-engine
    "q42_cte" -> shared(
      """WITH spend AS (
           SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
                  COUNT(*) AS n_orders
           FROM orders GROUP BY o_custkey),
         overall AS (
           SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(DISTINCT o_custkey) AS avg_spend
           FROM orders)
         SELECT s.o_custkey, s.total, s.n_orders
         FROM spend s, overall o WHERE s.total > o.avg_spend"""),

    // bag-semantics set operators (round 11): INTERSECT ALL / EXCEPT ALL
    // preserve multiplicities (min / truncated-difference of per-value
    // counts) — Spark lowers both to a count-compare aggregate + generator
    // replication, one shuffle each, never a join explosion; tagged UNION
    // ALL so one entry pins both multisets
    "q43_set_ops_all" -> shared(
      """SELECT 'ia' AS op, k FROM (
           SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
           INTERSECT ALL
           SELECT l_suppkey FROM lineitem WHERE l_linestatus = 'F')
         UNION ALL
         SELECT 'ea' AS op, k FROM (
           SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A'
           EXCEPT ALL
           SELECT l_suppkey FROM lineitem WHERE l_shipdate < DATE '1994-06-01')"""),

    // aggregate FILTER clause (round 11): per-aggregate predicates without
    // CASE-WHEN contortions — one hash aggregate, each filter evaluated
    // map-side; SUM over a filtered-empty group is NULL on both engines
    "q48_filter_clause" -> shared(
      """SELECT l_returnflag,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
             FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_spend,
           MIN(CAST(l_shipdate AS DATE)) FILTER (WHERE l_linestatus = 'F') AS first_f_ship
         FROM lineitem GROUP BY l_returnflag"""),

    // regex-function family (round 11): extract / global replace / match
    // / count. NOT a shared text: Spark's regexp_replace is global by
    // default where DuckDB needs the 'g' flag, and match/count spell
    // differently (rlike+regexp_count vs regexp_matches+extract_all) —
    // the PATTERNS stay in the dialect-portable subset (char classes,
    // anchors, groups; no backslash classes) so RE2 and java.util.regex
    // agree on every row
    "q49_regexp" -> entry(
      (s, d) => t(s, d, "customer").filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
          col("c_mktsegment").rlike("^[AEIOU]").as("seg_vowel"),
          regexp_count(col("c_name"), lit("[0-9]")).as("n_digits")),
      """SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
           regexp_matches(c_mktsegment, '^[AEIOU]') AS seg_vowel,
           CAST(len(regexp_extract_all(c_name, '[0-9]')) AS INT) AS n_digits
         FROM customer WHERE c_custkey < 300"""),

    // explicit NULL ordering (round 11): the engines DISAGREE on default
    // null placement (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST), so
    // portable ordered output must pin it — both legs, tagged, with a
    // unique tiebreaker making each LIMIT a total order
    "q54_nulls_ordering" -> shared(
      """SELECT 'nf' AS leg, c_custkey, seg FROM (
           SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
           FROM customer WHERE c_custkey <= 200
           ORDER BY seg ASC NULLS FIRST, c_custkey LIMIT 25) a
         UNION ALL
         SELECT 'nl' AS leg, c_custkey, seg FROM (
           SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
           FROM customer WHERE c_custkey <= 200
           ORDER BY seg DESC NULLS LAST, c_custkey LIMIT 25) b"""),

    // recursive CTE (round 11): WITH RECURSIVE landed in Spark 4 — a
    // literal edge hierarchy walked to per-node depth, payload joined
    // from the catalog; one shared text (both engines iterate to a
    // fixpoint; the graph is a DAG so termination is structural)
    "q53_recursive_cte" -> shared(
      """WITH RECURSIVE edges(parent, child) AS (
           VALUES (0, 1), (0, 2), (1, 3), (1, 4), (2, 5), (5, 6), (5, 7)
         ), tree(node, depth) AS (
           SELECT 0, 0
           UNION ALL
           SELECT e.child, t.depth + 1 FROM tree t JOIN edges e ON e.parent = t.node
         )
         SELECT t.node, t.depth, COUNT(c.c_custkey) AS n_customers
         FROM tree t LEFT JOIN customer c ON c.c_nationkey = t.node
         GROUP BY t.node, t.depth"""),

    // latest-per-key dedup (round 11): THE production query — one row
    // per customer, most recent order; ROW_NUMBER over a unique total
    // order (date DESC, key DESC) so both engines pick the same row
    "q52_latest_per_key" -> shared(
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS latest_date, o_totalprice
         FROM (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
               FROM orders) t
         WHERE rn = 1"""),

    // GROUP BY ALL (round 11): both parsers infer the grouping keys from
    // the non-aggregate select items — one shared text
    "q51_group_by_all" -> shared(
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders GROUP BY ALL"""),

    // NULL-handling scalar family (round 11): COALESCE / NULLIF /
    // GREATEST / LEAST — one shared text; both engines skip NULLs in
    // GREATEST/LEAST (Postgres semantics) and unify BIGINT/INT to BIGINT
    "q50_null_funcs" -> shared(
      """SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'REDACTED') AS seg_or_redacted,
           GREATEST(c_acctbal, 0.0) AS bal_floor,
           LEAST(c_custkey, c_nationkey) AS min_key,
           NULLIF(c_nationkey, 0) AS nation_nz
         FROM customer WHERE c_custkey < 400""")
  )

  // ------------------------------------------------------------------
  // Training-data pipeline extensions (north-star, BASELINE.json):
  // dedup, similarity search, text analysis, multimodal, event analytics.
  // ------------------------------------------------------------------
  private lazy val extensions: Vector[(String, (QFn, Oracle))] = Vector(

    // exact dedup — one hash aggregate on the content key
    "d01_dedup_exact" -> entry(
      (s, d) => Dedup.exactClusters(t(s, d, "documents"), "doc_id", "text"),
      "SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents WHERE text IS NOT NULL GROUP BY text"),

    // dedup on normalized-content md5 fingerprint
    "d02_dedup_fingerprint" -> entry(
      (s, d) => Dedup.fingerprintClusters(t(s, d, "documents"), "doc_id", "text"),
      "SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents WHERE text IS NOT NULL GROUP BY 1"),

    // MinHash + LSH banding near-duplicates (candidate gen via band shuffle).
    // Oracle-exact: k=8/bands=4 with the md5Hash60 family — at threshold
    // 0.7 a qualifying pair mismatches <= 2 minima, damaging <= 2 of 4
    // bands, so banded LSH provably equals the oracle's all-pairs filter
    // (the production k=64 xxhash64 fused-native path is DedupSpec'd)
    "d03_dedup_minhash" -> entry(
      (s, d) => Dedup.minhashNearDuplicates(t(s, d, "documents"), "doc_id", "text",
          k = 8, bands = 4, threshold = 0.7,
          signature = Some(Dedup.md5MinhashSignature(_, 8)))
        .select(col("doc_a"), col("doc_b")),
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM documents),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) >= 6"""),

    // SimHash hamming<=3 near-duplicates (pigeonhole block join).
    // Oracle-exact via the 60-bit md5Simhash twin (4 blocks of 15 bits);
    // the oracle replays bit-sign voting per token and verifies by
    // bit_count(xor) like the Spark side (production 64-bit
    // SimHashTextExpr path is DedupSpec'd)
    "d04_dedup_simhash" -> entry(
      (s, d) => Dedup.simhashNearDuplicatesMd5(t(s, d, "documents"), "doc_id", "text"),
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM documents),
         th AS (
           SELECT doc_id, unnest(list_transform(w, t ->
             CAST(('0x' || substr(md5('0|' || t), 1, 15)) AS BIGINT))) AS h
           FROM toks WHERE len(w) > 0),
         bits AS (
           SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM th CROSS JOIN range(0, 60) r(j) GROUP BY doc_id, j),
         sig AS (
           SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sh
           FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3"""),

    // exact n-gram Jaccard >= 0.5, blocked by source (inverted-index join)
    // PPJoin candidate-volume bound (round 17): the 1-aggregate estimate a
    // 100 TB pipeline checks BEFORE paying d05's candidate join — per
    // (block, prefix-token) bucket of dfP documents the join emits exactly
    // C(dfP, 2) pairs pre-filter, so the per-block sum bounds the join's
    // volume with plain integer arithmetic (the sf10 run measured d05
    // going quadratic on the no-vocabulary-growth fixture; this makes
    // that cliff a 1-row answer instead of a discovered outage). The
    // oracle replays tokenize -> global df -> (df, tok) prefix ranking ->
    // EPS-ceil prefix cut -> bucket combinatorics from the raw table.
    "d37_ppjoin_budget" -> entry(
      (s, d) => graft.operators.Dedup.ppjoinCandidateBound(
        t(s, d, "documents"), "doc_id", "text", "source", 0.5),
      """WITH toks AS (
           SELECT doc_id, source AS blk,
             unnest(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS tok
           FROM documents),
         df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
         ranked AS (
           SELECT t.doc_id, t.blk, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.df ASC, t.tok ASC) AS pos,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS sz
           FROM toks t JOIN df d ON d.tok = t.tok),
         pref AS (SELECT blk, tok FROM ranked
           WHERE pos <= sz - CEIL(0.5 * sz - 1e-9) + 1),
         b AS (SELECT blk, tok, COUNT(*) AS dfp FROM pref GROUP BY 1, 2)
         SELECT blk, CAST(SUM((dfp * (dfp - 1)) // 2) AS BIGINT) AS candidate_pairs,
           CAST(MAX(dfp) AS BIGINT) AS max_prefix_df,
           COUNT(*) AS n_prefix_tokens
         FROM b GROUP BY blk"""),

    // the asymmetric budget for d28's containment pipeline (round 17):
    // probe side prefix-filtered, index side full — a bucket with dfP
    // probe and dfF index rows emits exactly dfP*(dfF - 1) directional
    // pairs pre-filter (prefix ⊆ full, so the doc_a ≠ doc_b cut removes
    // exactly dfP self-meets). One pass over the ranked frame; oracle
    // replays ranking + prefix cut + the asymmetric combinatorics.
    "d38_containment_budget" -> entry(
      (s, d) => graft.operators.Dedup.containmentCandidateBound(
        t(s, d, "documents"), "doc_id", "text", "source", 0.9),
      """WITH toks AS (
           SELECT doc_id, source AS blk,
             unnest(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS tok
           FROM documents),
         df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
         ranked AS (
           SELECT t.doc_id, t.blk, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.df ASC, t.tok ASC) AS pos,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS sz
           FROM toks t JOIN df d ON d.tok = t.tok),
         b AS (SELECT blk, tok, COUNT(*) AS dff,
             SUM(CASE WHEN pos <= sz - CEIL(0.9 * sz - 1e-9) + 1 THEN 1 ELSE 0 END) AS dfp
           FROM ranked GROUP BY 1, 2)
         SELECT blk, CAST(SUM(dfp * (dff - 1)) AS BIGINT) AS candidate_pairs,
           CAST(MAX(dff) AS BIGINT) AS max_index_df,
           COUNT(*) AS n_shared_tokens
         FROM b WHERE dfp > 0 GROUP BY blk"""),

    // the budget gate's GUARD branch (round 18, wiring d37's bound into
    // the operator it protects): a degenerate no-vocabulary-growth fixture
    // (every doc the same 8 tokens, one block — the provable worst case
    // for PPJoin's prefix filter, the shape the sf10 run measured at
    // 483 s / 34 GB shuffle) is gated at 2000 candidate pairs (small
    // enough that the guard branch survives the documents:16 subset
    // replay mode — 5*C(31,2)=2325 still exceeds it; the sf0.01 bound
    // is 623,725); the
    // operator evaluates the exact bound from its own persisted prefix
    // frame, refuses the join, and returns the 1-row guard frame instead
    // of walking into the cliff. Oracle replays the bound combinatorics
    // from the raw table (dfp = N per prefix token -> 5*C(N,2) pairs).
    "d40_ppjoin_gate_guard" -> entry(
      (s, d) => graft.operators.Dedup.ngramJaccardPairsBudgeted(
        t(s, d, "documents").select(col("doc_id"), lit("all").as("blk1"),
          lit("a b c d e f g h").as("txt")),
        "doc_id", "txt", "blk1", 0.5, maxCandidates = 2000L,
        onExceed = "guard"),
      """WITH toks AS (
           SELECT doc_id, 'all' AS blk,
             unnest(list_distinct(list_filter(string_split('a b c d e f g h', ' '), w -> w <> ''))) AS tok
           FROM documents),
         df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
         ranked AS (
           SELECT t.doc_id, t.blk, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.df ASC, t.tok ASC) AS pos,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS sz
           FROM toks t JOIN df d ON d.tok = t.tok),
         pref AS (SELECT blk, tok FROM ranked
           WHERE pos <= sz - CEIL(0.5 * sz - 1e-9) + 1),
         b AS (SELECT blk, tok, COUNT(*) AS dfp FROM pref GROUP BY 1, 2)
         SELECT CAST(SUM((dfp * (dfp - 1)) // 2) AS BIGINT) AS candidate_pairs,
           CAST(MAX(dfp) AS BIGINT) AS max_prefix_df,
           CAST(2000 AS BIGINT) AS budget
         FROM b"""),

    // the budget gate's ALLOWED branch: the real corpus clears a 10M
    // budget (sf0.01 bound: 54,364), so the gated operator runs the exact
    // pipeline and the result is bit-identical to d05's — pinned here by
    // sharing d05's oracle SQL verbatim (same rows, same hash), and in
    // DedupSpec against the ungated operator directly.
    "d41_ppjoin_gate_allowed" -> entry(
      (s, d) => graft.operators.Dedup.ngramJaccardPairsBudgeted(
        t(s, d, "documents"), "doc_id", "text", "source", 0.5,
        maxCandidates = 10000000L),
      """WITH toks AS (SELECT doc_id, source AS blk, unnest(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS tok FROM documents), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter FROM toks a JOIN toks b ON a.blk = b.blk AND a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5"""),

    "d05_ngram_jaccard" -> entry(
      (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", "source", 0.5),
      """WITH toks AS (SELECT doc_id, source AS blk, unnest(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS tok FROM documents), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter FROM toks a JOIN toks b ON a.blk = b.blk AND a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5"""),

    // integer-exact PageRank over the near-dup graph (round 12):
    // template/boilerplate hubs rank high. The scaled-integer recurrence
    // (contrib = (pr·85) div (100·deg), base 0.15·scale) is exact and
    // order-independent, so 5 pinned iterations replay definitionally in
    // SQL — the fp formulation could never hash-match
    "d31_dup_centrality" -> entry(
      (s, d) => graft.operators.Dedup.rankPropagation(
        Dedup.minhashNearDuplicates(t(s, d, "documents"), "doc_id", "text",
            k = 8, bands = 4, threshold = 0.7,
            signature = Some(Dedup.md5MinhashSignature(_, 8)))
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b", iters = 5)
        .select(col("node").as("doc_id"), col("rank_scaled")),
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM documents),
         shl AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM shl),
         prs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) >= 6),
         ed AS (SELECT doc_a AS src, doc_b AS dst FROM prs
                UNION SELECT doc_b, doc_a FROM prs),
         dg AS (SELECT src, COUNT(*) AS deg FROM ed GROUP BY 1),
         p0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS pr FROM dg),
         c1 AS (SELECT e.dst AS node, SUM((q.pr * 85) // (100 * d.deg)) AS cin
                FROM ed e JOIN dg d ON d.src = e.src JOIN p0 q ON q.node = e.src GROUP BY 1),
         p1 AS (SELECT p.node, 150000000 + COALESCE(c.cin, 0) AS pr
                FROM p0 p LEFT JOIN c1 c ON c.node = p.node),
         c2 AS (SELECT e.dst AS node, SUM((q.pr * 85) // (100 * d.deg)) AS cin
                FROM ed e JOIN dg d ON d.src = e.src JOIN p1 q ON q.node = e.src GROUP BY 1),
         p2 AS (SELECT p.node, 150000000 + COALESCE(c.cin, 0) AS pr
                FROM p1 p LEFT JOIN c2 c ON c.node = p.node),
         c3 AS (SELECT e.dst AS node, SUM((q.pr * 85) // (100 * d.deg)) AS cin
                FROM ed e JOIN dg d ON d.src = e.src JOIN p2 q ON q.node = e.src GROUP BY 1),
         p3 AS (SELECT p.node, 150000000 + COALESCE(c.cin, 0) AS pr
                FROM p2 p LEFT JOIN c3 c ON c.node = p.node),
         c4 AS (SELECT e.dst AS node, SUM((q.pr * 85) // (100 * d.deg)) AS cin
                FROM ed e JOIN dg d ON d.src = e.src JOIN p3 q ON q.node = e.src GROUP BY 1),
         p4 AS (SELECT p.node, 150000000 + COALESCE(c.cin, 0) AS pr
                FROM p3 p LEFT JOIN c4 c ON c.node = p.node),
         c5 AS (SELECT e.dst AS node, SUM((q.pr * 85) // (100 * d.deg)) AS cin
                FROM ed e JOIN dg d ON d.src = e.src JOIN p4 q ON q.node = e.src GROUP BY 1),
         p5 AS (SELECT p.node, 150000000 + COALESCE(c.cin, 0) AS pr
                FROM p4 p LEFT JOIN c5 c ON c.node = p.node)
         SELECT node AS doc_id, CAST(pr AS BIGINT) AS rank_scaled FROM p5"""),

    // MinHash estimator-error audit (round 12; pair-budgeted round 14):
    // the measured-accuracy report for k=8 minhash on THIS corpus — per
    // within-block pair, |signature estimate − exact shingle Jaccard|
    // histogrammed in tenths via exact integer cross-multiplication (no
    // fp on bucket boundaries); the d08/d09 recall discipline applied to
    // d03's sketch. Two deterministic sampling layers make the audit
    // O(budget) at ANY corpus scale: a 1-in-4 block sample (md5
    // order-hash of the source ≡ 0 mod 4) bounds how many blocks pay,
    // and the per-block doc cap of 16 (rate = ⌈nb/16⌉ thinning, pair
    // weight rate² — see minhashErrorAudit) bounds what a block costs —
    // without it, sampled-block pair cost grew quadratically with SF
    // (the round-13 weak mark). n_pairs is the inverse-probability-
    // weighted count, integer-exact so the oracle replays bitwise.
    "d30_minhash_error" -> entry(
      (s, d) => Dedup.minhashErrorAudit(
        t(s, d, "documents").filter(
          pmod(graft.operators.SampleOps.md5OrderHash(col("source")), lit(4L)) === 0),
        "doc_id", "text", "source", k = 8, n = 3, maxBlockDocs = 16),
      """WITH toks AS (
           SELECT doc_id, source AS blk,
             list_filter(string_split(text, ' '), w -> w <> '') AS w
           FROM documents WHERE text IS NOT NULL
             AND CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT) % 4 = 0),
         shl AS (
           SELECT doc_id, blk, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1),
                  i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         ds AS (
           SELECT doc_id, blk, list_distinct(shingles) AS sh,
             list_transform(range(0, 8), i ->
               list_min(list_transform(shingles, s ->
                 CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM shl),
         rt AS (SELECT blk, (COUNT(*) + 15) // 16 AS rate FROM ds GROUP BY 1),
         smp AS (
           SELECT ds.*, rt.rate FROM ds JOIN rt USING (blk)
           WHERE CAST(('0x' || substr(md5(CAST(ds.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 % rt.rate = 0),
         p AS (
           SELECT CAST(len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) AS BIGINT) AS m,
             CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS i,
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS u,
             CAST(a.rate * a.rate AS BIGINT) AS w
           FROM smp a JOIN smp b ON a.blk = b.blk AND a.doc_id < b.doc_id)
         SELECT LEAST(9, (abs(m * u - i * 8) * 10) // (8 * u)) AS err_bucket,
                CAST(SUM(w) AS BIGINT) AS n_pairs
         FROM p GROUP BY 1"""),

    // directional containment pairs (round 12): quote/subset detection —
    // the asymmetric sibling of d05 (Jaccard scores an embedded quote
    // near 0; containment scores it 1). Asymmetric prefix filter: only
    // each probe doc's rarest `|A|−ceil(t·|A|)+1` tokens join the index
    // side. Oracle is the definitional intersection count
    "d28_containment" -> entry(
      (s, d) => Dedup.containmentPairs(
        t(s, d, "documents"), "doc_id", "text", "source", 0.9),
      """WITH toks AS (
           SELECT doc_id, source AS blk,
             unnest(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS tok
           FROM documents),
         sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
           FROM toks a JOIN toks b ON a.blk = b.blk AND a.tok = b.tok
             AND a.doc_id <> b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / sa.sz AS containment
         FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.9"""),

    // end-to-end corpus dedup: exact-fingerprint pass + MinHash near-dup
    // pass, greedy keep-lowest-id (the "dedup this corpus" API).
    // Oracle replays the whole pipeline: fingerprint keep-set, md5-family
    // minhash pairs over the survivors, drop every pair's doc_b
    "d10_dedup_corpus" -> entry(
      (s, d) => Dedup.dedupCorpus(t(s, d, "documents"), "doc_id", "text",
          k = 8, bands = 4, signature = Some(Dedup.md5MinhashSignature(_, 8)))
        .select(col("doc_id")),
      """WITH keep AS (
           SELECT MIN(doc_id) AS doc_id FROM documents
           GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))),
         surv AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
         toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM surv),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) >= 6),
         drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
         SELECT s.doc_id FROM surv s
         WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = s.doc_id)"""),

    // transitive closure of the near-dup graph: label-propagation connected
    // components (one cluster per component, component = min doc id).
    // Oracle: recursive-CTE transitive closure over the same md5-family
    // pair set — label propagation must agree with full reachability
    "d11_dedup_components" -> entry(
      (s, d) => Dedup.connectedComponents(
        Dedup.minhashNearDuplicates(t(s, d, "documents"), "doc_id", "text",
          k = 8, bands = 4, threshold = 0.7,
          signature = Some(Dedup.md5MinhashSignature(_, 8))),
        "doc_a", "doc_b"),
      """WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM documents),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) >= 6),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         SELECT src AS id, LEAST(src, MIN(dst)) AS component FROM reach GROUP BY src"""),

    // TRANSITIVE corpus dedup: same pipeline as d10 but near-dup drops come
    // from connected components (keep each component's min id) — the
    // semantics production dedup wants (greedy keeps both 1 and 2 for pairs
    // (2,10),(1,10); transitive keeps only 1). Oracle = d10's replay with
    // the drop set derived from recursive-CTE reachability (d11's closure)
    // over the SURVIVOR pair graph. On THIS fixture the transitive and
    // greedy drop sets happen to coincide (measured at sf0.01), so the
    // case where they differ is pinned by DedupSpec's synthetic
    // counter-example, while this entry proves the full pipeline against
    // an independent reachability oracle
    "d13_dedup_transitive" -> entry(
      (s, d) => Dedup.dedupCorpus(t(s, d, "documents"), "doc_id", "text",
          transitive = true, k = 8, bands = 4,
          signature = Some(Dedup.md5MinhashSignature(_, 8)))
        .select(col("doc_id")),
      """WITH RECURSIVE keep AS (
           SELECT MIN(doc_id) AS doc_id FROM documents
           GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))),
         surv AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
         toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM surv),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) >= 6),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         drops AS (SELECT src AS doc_id FROM reach GROUP BY src HAVING MIN(dst) < src)
         SELECT s.doc_id FROM surv s
         WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = s.doc_id)"""),

    // train/eval contamination: cross-corpus near-dup pairs only (the
    // benchmark-leakage check) — corpora = a deterministic doc_id split
    // (every 10th doc plays the held-out eval set).
    // Oracle-exact: bands=8/r=1 makes banding complete for ANY threshold
    // (a pair sharing even one minimum collides in that minimum's band),
    // so the banded join equals the oracle's all-pairs >= 4-of-8 filter
    "d12_contamination" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.crossCorpusContamination(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          "doc_id", "text", k = 8, bands = 8, threshold = 0.5,
          signature = Some(Dedup.md5MinhashSignature(_, 8)))
          .select(col("train_id"), col("eval_id"))
      },
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM documents),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh)
         SELECT t.doc_id AS train_id, e.doc_id AS eval_id
         FROM sig t JOIN sig e ON t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
         WHERE len(list_filter(range(1, 9), i -> t.sig[i] = e.sig[i])) >= 4"""),

    // EXACT n-gram decontamination — the "13-gram eval overlap" check, the
    // exact sibling of d12's probabilistic MinHash variant: every verbatim
    // shared n-gram between a train and an eval doc is found via the
    // inverted-index join on the gram itself (distinct grams per side, so
    // the shuffle is bounded by token count). n = 8 on this fixture so
    // partially-overlapping near-dups hit alongside exact copies; docs
    // shorter than n contribute their whole token sequence as one gram
    "d14_exact_decontam" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.exactNgramContamination(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          "doc_id", "text", n = 8)
      },
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id, gram FROM (
             SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(w) <= 8 THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w) - 6),
                           i -> array_to_string(list_slice(w, i, i + 7), ' '))
               END)) AS gram
             FROM toks)
           WHERE gram <> '')
         SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS n_shared
         FROM g t JOIN g e ON t.gram = e.gram
         WHERE t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
         GROUP BY 1, 2"""),

    // duplicate-passage spans (round 11): d14 counts shared n-grams, this
    // locates them — each row is a MAXIMAL run of consecutive shared
    // 8-grams (gap-and-island on the pair's alignment diagonal), i.e. one
    // verbatim shared passage >= 12 tokens with its 1-based offsets.
    // Integer-only output; the window is partitioned by (pair, diagonal)
    // cross-source duplication matrix (round 11): which sources copy from
    // each other — per-fingerprint SOURCE COUNTS pair up (n1·n2 cross,
    // n(n−1)/2 within), document pairs never materialize; a megacluster
    // costs its source count squared, not its document count squared
    // the fixture has no exact duplicates (d02: all singleton clusters),
    // so the entry plants them with identical literals on both engines
    // (t10/t11 technique): %7 docs mirrored to a 'mirror' source
    // (cross-source pairs), %13 docs re-keyed within their own source
    // (within-source pairs) — moduli coprime with the fixture's
    // source = id%20 assignment, so every source participates
    "d19_dup_matrix" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("source"), col("text"))
        val mirrored = docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id") + 500000L, lit("mirror").as("source"), col("text"))
        val rekeyed = docs.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id") + 600000L, col("source"), col("text"))
        Dedup.crossSourceDupMatrix(docs.union(mirrored).union(rekeyed), "source", "text")
      },
      """WITH d AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 500000, 'mirror', text FROM documents WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id + 600000, source, text FROM documents WHERE doc_id % 13 = 0),
         fps AS (
           SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
                  source, COUNT(*) AS n
           FROM d WHERE text IS NOT NULL GROUP BY 1, 2),
         pairs AS (
           SELECT l.source AS source_a, r.source AS source_b,
             CASE WHEN l.source = r.source THEN l.n * (l.n - 1) // 2
                  ELSE l.n * r.n END AS p
           FROM fps l JOIN fps r ON l.fp = r.fp AND l.source <= r.source)
         SELECT source_a, source_b, CAST(SUM(p) AS BIGINT) AS n_dup_pairs
         FROM pairs GROUP BY 1, 2 HAVING SUM(p) > 0"""),

    // incremental dedup (round 11): the continuously-fed-corpus ingest
    // shape — collapse the incoming batch on fingerprint, then LEFT ANTI
    // against the existing corpus' DISTINCT fingerprints; text never
    // crosses the wire, both shuffles co-partition on fp
    "d18_incremental_dedup" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 10 >= 3),
          docs.filter(col("doc_id") % 10 < 3), "doc_id", "text")
      },
      """WITH ex AS (
           SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
           FROM documents WHERE doc_id % 10 >= 3 AND text IS NOT NULL),
         inc AS (
           SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
                  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
           FROM documents WHERE doc_id % 10 < 3 AND text IS NOT NULL GROUP BY 1)
         SELECT inc.fp, inc.keep_id, inc.n_copies FROM inc
         WHERE inc.fp NOT IN (SELECT fp FROM ex)"""),

    "d17_duplicate_spans" -> entry(
      (s, d) => Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
        n = 8, minSpanTokens = 12),
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
           FROM documents WHERE text IS NOT NULL),
         g0 AS (
           SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
             i -> struct_pack(pos := i, gram := array_to_string(list_slice(w, i, i + 7), ' ')))) AS pg
           FROM toks WHERE len(w) >= 8),
         g AS (SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM g0),
         m AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
           FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         r AS (
           SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
                  pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS island
           FROM m)
         SELECT doc_a, doc_b, MIN(pos_a) AS start_a, MIN(pos_b) AS start_b,
                COUNT(*) + 7 AS span_tokens
         FROM r GROUP BY doc_a, doc_b, diag, island
         HAVING COUNT(*) + 7 >= 12"""),

    // embedding-cosine near-duplicate pairs, blocked by label.
    // Oracle-safe despite float math: output is the pair SET only, and the
    // closest same-label cosine to the 0.4 threshold at sf0.01 is >1e-3 away
    // (measured) — no boundary pair can flip between double roundings.
    "d06_embed_neardup" -> entry(
      (s, d) => Similarity.cosineNearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding", "label", 0.4)
        .select(col("id_a"), col("id_b")),
      """WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.4"""),

    // the cosine budget gate's GUARD branch (round 20, d40's contract on
    // the blocked-cosine engine — the last pair-generating path without
    // it): a degenerate one-block fixture (every vector under a single
    // constant block key — the template-embedding skew sign-LSH can't
    // subdivide once vectors are near-identical; here the block is small
    // enough that no subdivision triggers, so the bound IS C(n,2) over
    // the whole corpus) gated at 100 candidate pairs — small enough that
    // the guard branch survives the embeddings:16 subset-replay thinning
    // (C(31,2)=465 at the sf0.001 floor still exceeds it). The operator
    // evaluates the exact bound off its own persisted keyed frame,
    // refuses the join, and returns the 1-row guard frame. Oracle
    // replays the bound combinatorics from the raw table.
    "d46_cosine_gate_guard" -> entry(
      (s, d) => Similarity.cosineNearDupPairsBudgeted(
        t(s, d, "embeddings").withColumn("blk1", lit("all")),
        "vec_id", "embedding", "blk1", 0.4,
        maxCandidates = 100L, onExceed = "guard"),
      """SELECT CAST((COUNT(*) * (COUNT(*) - 1)) // 2 AS BIGINT) AS candidate_pairs,
           CAST(COUNT(*) AS BIGINT) AS max_bucket_n,
           CAST(100 AS BIGINT) AS budget
         FROM embeddings"""),

    // embedding-space train/eval contamination (round 11): the semantic
    // sibling of d12 — paraphrase-level leakage token methods miss. Cross-
    // corpus pairs ONLY; cos dropped from the entry output as in d06 (the
    // filter decision is margin-safe at this threshold, the raw double is
    // not hash-safe)
    "d16_semantic_contamination" -> entry(
      (s, d) => Similarity.crossCorpusSemanticContamination(
        t(s, d, "embeddings").filter(pmod(col("vec_id"), lit(10)) =!= 0),
        t(s, d, "embeddings").filter(pmod(col("vec_id"), lit(10)) === 0),
        "vec_id", "embedding", "label", 0.4)
        .select(col("train_id"), col("eval_id")),
      """WITH tr AS (SELECT vec_id AS train_id, label, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings WHERE vec_id % 10 <> 0 AND embedding IS NOT NULL),
         ev AS (SELECT vec_id AS eval_id, label, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 10 = 0 AND embedding IS NOT NULL)
         SELECT tr.train_id, ev.eval_id
         FROM tr JOIN ev ON tr.label = ev.label
         WHERE list_cosine_similarity(tr.v, ev.v) >= 0.4"""),

    // SemDeDup-style semantic dedup: d06's cosine near-dup pairs closed
    // transitively (d11's component semantics), keep each component's min
    // id — the embedding-modality sibling of d13's text pipeline. Oracle
    // composes d06's pair SQL with the recursive-CTE reachability closure
    "d15_semantic_dedup" -> entry(
      (s, d) => Similarity.semanticDedup(
        t(s, d, "embeddings"), "vec_id", "embedding", "label", 0.4),
      """WITH RECURSIVE n AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE embedding IS NOT NULL),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS component
                  FROM reach GROUP BY src)
         SELECT vec_id FROM n
         WHERE vec_id NOT IN (SELECT id FROM comp WHERE component <> id)"""),

    // brute-force cosine top-k (exact ANN baseline). Oracle-safe: smallest
    // adjacent cosine gap in any query's top-7 is 1.9e-5 (measured) — rank
    // order cannot flip between Spark's dot-of-units and DuckDB's
    // dot/(norm*norm) double roundings.
    "d07_ann_topk" -> entry(
      (s, d) => Similarity.bruteForceTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 10, k = 5),
      """WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM n WHERE vec_id < 10),
         s AS (SELECT q_id, n.vec_id AS n_id, list_cosine_similarity(qv, v) AS cos
               FROM q JOIN n ON n.vec_id <> q_id),
         r AS (SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank FROM s)
         SELECT q_id, n_id, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5"""),

    // sign-LSH bucketed approximate top-k (the scale path); each row
    // carries its query's measured recall@k vs the exact baseline run in
    // the same job, so accuracy is driver-visible, not just ScalaTested.
    // The exact baseline is O(|Q|·|N|): Bench.main runs its query loop
    // under withoutRecall so the TIMED number measures only the
    // approximate search and stays comparable across rounds.
    // Oracle: a FULL replay of the approximate pipeline — the generated SQL
    // embeds the very hyperplane constants the Spark plan uses
    // (Similarity.hyperplanes, same seeds), buckets on sign(dot(raw,
    // plane)) (= sign(dot(unit, plane)): normalization scales by a
    // positive factor), re-ranks candidates, and recomputes recall@k
    // against the same exact baseline d07 already proves DuckDB-equal.
    // Sign flips between the two engines' double roundings would need
    // |dot| ~ 1e-13; SimilaritySpec's "d08 oracle margin" test asserts the
    // measured min |dot| across all sf0.01 rows × 32 planes stays > 1e-6
    "d08_ann_lsh" -> entry(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val approx = Similarity.lshTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = 5)
        withRecall(emb, approx, k = 5)
      },
      lshOracleSql(nPlanes = 4, dim = 64, nTables = 8, k = 5)),

    // IVF approximate top-k: spherical k-means cells + nProbe search;
    // recall@k vs the exact baseline attached per row as in d08.
    // Oracle is a replay: [[ivfOracleSql]] re-derives the whole training
    // and probe in DuckDB from the dump dir's embeddings
    "d09_ann_ivf" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = 5)
        withRecall(emb, approx, k = 5)
      })((s, d) => ivfOracleSql(s, d, nCentroids = 16, nProbe = 2,
        iters = 5, k = 5)),

    // IVF probe-budget tuning curve (round 12): per-query recall@k for
    // nProbe in {1, 2, 4} — the ANN sibling of d23's LSH banding S-curve,
    // measuring the cost/recall knob an operator actually turns. One
    // exact baseline serves all configs, and (round 15) so does one
    // ivfAssign training + cell-assignment scan — each nProbe config is
    // probe-only against the shared assigned frame; recall is
    // withRecallAtK's rational, so the full curve replays in the
    // generated DuckDB oracle (the same training replay as d09's)
    "d25_ivf_nprobe_curve" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        // checkpoint the tiny k·|Q| exact frame (the d35/d32 discipline)
        // so the O(|Q|·|N|) brute-force scan runs once: without the pin,
        // the three configs' shared exact subtree rides AQE exchange
        // reuse, which is plan-context-sensitive — the audited shuffle
        // count moved 6 -> 10 depending on what ran earlier in the JVM
        val exactRaw = Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", col("vec_id") < 10, k = 5)
        val exact = GraftSession.eagerPin(exactRaw)
        // the assigned frame (vec_id, unit, cell) IS the inverted-file
        // index a deployment persists; checkpoint it so the three probe
        // configs share one assignment scan
        val raw = Similarity.ivfAssign(emb, "vec_id", "embedding")
        val model = raw.copy(assigned = GraftSession.eagerPin(raw.assigned))
        Seq(1, 2, 4).map { np =>
          Similarity.withRecallAtK(
              Similarity.ivfProbe(emb, "vec_id", "embedding", model,
                col("vec_id") < 10, k = 5, nProbe = np),
              exact, k = 5)
            .groupBy(col("q_id"))
            .agg(max(col("recall")).as("recall"), count(col("n_id")).as("n_returned"))
            .select(lit(np).as("n_probe"), col("q_id"), col("recall"), col("n_returned"))
        }.reduce(_ unionAll _)
      })((s, d) => ivfCurveOracleSql(s, d, Seq(1, 2, 4),
        nCentroids = 16, iters = 5, k = 5)),

    // METADATA-FILTERED ANN (round 17): "nearest neighbors among vectors
    // WHERE label is even" — every production vector store's second query.
    // PRE-filtering: the predicate prunes the cell-assigned inverted file
    // (semi-join on an id sliver) BEFORE any distance is scored, so the
    // probe never pays for out-of-filter vectors and recall is measured
    // against the exact FILTERED baseline — post-filtering an unfiltered
    // top-k would return short lists and miss true filtered neighbors
    // (SimilaritySpec pins a concrete miss). Oracle is a replay like d09's:
    // [[ivfFilteredOracleSql]] replays training, probe, filter and recall
    "d39_filtered_ann" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = col("vec_id") < 10
        val cand = pmod(col("label"), lit(2)) === 0
        val approx = Similarity.ivfProbeFiltered(emb, "vec_id", "embedding",
          Similarity.ivfAssign(emb, "vec_id", "embedding"), q, cand,
          k = 5, nProbe = 2)
        if (!annRecall) approx
        else Similarity.withRecallAtK(approx,
          Similarity.bruteForceTopKFiltered(emb, "vec_id", "embedding", q, cand, k = 5),
          k = 5)
      })((s, d) => ivfFilteredOracleSql(s, d, nCentroids = 16,
        nProbe = 2, iters = 5, k = 5, cand = "l.label % 2 = 0")),

    // Full-corpus k-means (round 18): Lloyd's over EVERY vector, on the
    // driver while the corpus holds n·dim ≤ 10⁶ doubles, else one scan +
    // one k·dim-row shuffle per iteration. The oracle replays the ENTIRE
    // training (not just the
    // final assignment): init from the k lowest-id unit vectors, 4
    // unrolled Lloyd's iterations with exact integer re-estimation sums
    // (unit components quantized floor(u·1e6) so partial-sum order can't
    // bit-drift), sum-normalized centroids (mean's division cancels under
    // normalization — no engine-specific decimal rounding anywhere), and
    // the final argmax assignment with lowest-cell tie-break.
    "d42_kmeans_distributed" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.kmeansAssign(emb, "vec_id", "embedding",
          Similarity.kmeansDistributed(emb, "vec_id", "embedding",
            nCentroids = 8, iters = 4))
      })((s, d) => kmeansOracleSql(s, d, k = 8, iters = 4)),

    // IVF-PQ with BOTH trainings in the Spark shape (round 19): coarse
    // cells from d42's full-corpus spherical Lloyd's, codebooks from the
    // per-subspace Euclidean Lloyd's (exact-integer re-estimation sums,
    // one IEEE division per component), each iteration one Spark job —
    // forced here, where the size rule would train this corpus on the
    // driver, so that shape stays oracle-checked. The oracle re-derives
    // BOTH trainings in SQL (every Lloyd's iteration of both k-means runs
    // is unrolled CTE algebra) and replays probe/ADC/shortlist/re-rank/
    // recall on top of them.
    "d43_ann_ivfpq_distributed" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val k = 5
        val model = Similarity.ivfPqEncodeAs(emb, "vec_id", "embedding",
          nCentroids = 8, m = 4, ksub = 8, iters = 3, Some(Similarity.Lloyds.Spark))
        val approx = Similarity.ivfPqProbe(emb, "vec_id", "embedding", model,
          col("vec_id") < 10, k = k, nProbe = 2, shortlist = 4)
        withRecall(emb, approx, k = k)
      })((s, d) => ivfPqOracleSql(s, d,
        nCentroids = 8, m = 4, ksub = 8, iters = 3, nProbe = 2,
        k = 5, shortlist = 4)),

    // broadcast-centroid assignment (round 19): the table shape
    // kmeansAssign picks past its plan-literal ceiling, forced here at
    // fixture size — centroids ship as a broadcast TABLE and one
    // map-side-combined aggregate per row keeps the (negSim, cell)-minimal
    // struct, so nothing k-sized rides the plan or the generated code.
    // Same training as d42, same oracle SQL verbatim: the two assignment
    // shapes must be bit-identical (also pinned directly in SimilaritySpec).
    "d44_kmeans_assign_join" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.kmeansAssignJoin(emb, "vec_id", "embedding",
          Similarity.kmeansDistributed(emb, "vec_id", "embedding",
            nCentroids = 8, iters = 4))
      })((s, d) => kmeansOracleSql(s, d, k = 8, iters = 4)),

    // broadcast-table IVF-PQ encode + probe (round 20): the d44 shape
    // propagated to the WHOLE query stack, forced at fixture size (the
    // public stages pick it themselves past the k·dim ≤ 10⁶ plan-literal
    // ceiling). Same trainers and config as d43, but both trainings run
    // their Spark iterations in the table shape too, the encode decides
    // cell + all m sub-codes in ONE aggregate over a combined broadcast
    // (centroid ∪ codebook) table, and the probe list and the ADC LUTs
    // come from per-row aggregates over the same broadcast table —
    // nothing k- or book-sized rides the plan.
    // Bit-identical under the ceiling: shares d43's oracle VERBATIM (the
    // full generated DuckDB replay of both trainings + probe/ADC/
    // re-rank), and SimilaritySpec pins literal-vs-join equality per
    // stage.
    "d45_ann_ivfpq_join" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val k = 5
        val table = Some(Similarity.Lloyds.SparkTable)
        val cents = Similarity.kmeansDistributedAs(emb, "vec_id", "embedding",
          nCentroids = 8, iters = 3, table)
        val books = Similarity.pqCodebooksDistributedAs(emb, "vec_id", "embedding",
          m = 4, ksub = 8, iters = 3, table)
        val model = Similarity.ivfPqEncodeJoin(emb, "vec_id", "embedding",
          cents, books)
        val approx = Similarity.ivfPqProbeJoin(emb, "vec_id", "embedding", model,
          col("vec_id") < 10, k = k, nProbe = 2, shortlist = 4)
        withRecall(emb, approx, k = k)
      })((s, d) => ivfPqOracleSql(s, d,
        nCentroids = 8, m = 4, ksub = 8, iters = 3, nProbe = 2,
        k = 5, shortlist = 4)),

    // product-quantization ANN (round 12): the compressed-scan path —
    // unit vectors encoded as m per-subspace centroid codes (32× smaller
    // than the floats), queries score candidates via per-query lookup
    // tables (asymmetric distance). Oracle is a FULL generated DuckDB
    // replay of codebook training, encode and ADC ([[pqOracleSql]], a
    // replay like d09's), recall@k recomputed against the
    // d07-proven exact baseline
    "d26_ann_pq" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val approx = Similarity.pqTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = 5)
        withRecall(emb, approx, k = 5)
      })((s, d) => pqOracleSql(s, d, m = 8, ksub = 16, iters = 5, k = 5)),

    // PQ + exact re-rank (round 13, the standard production ANN
    // discipline): ADC keeps a 4·k shortlist, one exact cosine per
    // shortlisted pair re-ranks it. Both variants ship in one frame under
    // a `variant` tag with their own recall@k (the d25 multi-config
    // pattern), so the artifact MEASURES what the re-rank buys. Oracle is
    // the generated full replay ([[pqRerankOracleSql]])
    "d32_ann_pq_rerank" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val k = 5
        // ONE ADC scan serves both variants: plain top-k is the head of
        // the 4k-shortlist ranking (identical (score desc, id asc)
        // order), so the codebooks train once and the encode scan runs
        // once instead of twice
        val short = Similarity.pqTopK(emb, "vec_id", "embedding",
          col("vec_id") < 10, k = k * 4)
        val adc = short.filter(col("rank") <= k)
        val rr = Similarity.rerankExact(emb, "vec_id", "embedding", short, k)
        if (!annRecall)
          adc.withColumn("variant", lit("adc"))
            .unionByName(rr.withColumn("variant", lit("rerank")))
        else {
          // both variants' recall joins consume the exact baseline —
          // checkpoint it eagerly (tiny: k·|Q| rows) so the O(|Q|·|N|)
          // brute-force scan executes once, not once per union branch
          val exactRaw = Similarity.bruteForceTopK(
            emb, "vec_id", "embedding", col("vec_id") < 10, k = k)
          val exact = GraftSession.eagerPin(exactRaw)
          Similarity.withRecallAtK(adc, exact, k).withColumn("variant", lit("adc"))
            .unionByName(
              Similarity.withRecallAtK(rr, exact, k).withColumn("variant", lit("rerank")))
        }
      })((s, d) => pqRerankOracleSql(s, d, m = 8, ksub = 16,
        iters = 5, k = 5, shortlist = 4)),

    // IVF-PQ + exact re-rank (round 13): the complete production ANN
    // stack composed from d09's cell routing, d26's ADC compression and
    // d32's shortlist re-rank — cells bound what is READ, codes bound
    // what a read COSTS, re-rank touches full vectors for |Q|·c·k ids
    // only. Oracle is the generated full replay ([[ivfPqOracleSql]])
    "d34_ann_ivfpq" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val k = 5
        val approx = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          col("vec_id") < 10, k = k)
        withRecall(emb, approx, k = k)
      })((s, d) => ivfPqOracleSql(s, d, nCentroids = 16,
        m = 8, ksub = 16, iters = 5, nProbe = 2, k = 5, shortlist = 4)),

    // IVF-PQ cost/recall curve (round 14): the d25 multi-config discipline
    // applied to the COMPLETE production stack — per (nProbe, shortlist)
    // config, per-query recall@k of the IVF-PQ stack against one shared
    // exact baseline, so the artifact measures the two knobs a deployment
    // tunes (cells read × candidates re-ranked) end-to-end rather than
    // for plain IVF only. Centroids/codebooks/encoded corpus are pure
    // functions of the data, identical across configs — so the stack is
    // trained and encoded ONCE via ivfPqEncode (the round-15 two-stage
    // split) and each config pays only its probe/shortlist stage; the
    // checkpoint pins the single corpus-encode scan the way the exact
    // baseline's does. Oracle is the generated full replay
    // ([[ivfPqCurveOracleSql]], trained once and shared)
    "d35_ivfpq_curve" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val k = 5
        def pin(df: DataFrame): DataFrame = GraftSession.eagerPin(df)
        // one exact baseline serves every config: checkpoint the tiny
        // k·|Q| frame so the O(|Q|·|N|) brute-force scan runs once
        val exact = pin(Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", col("vec_id") < 10, k = k))
        // one training + corpus encode serves every config: the encoded
        // frame is (vec_id, cell, m byte-codes) — the ~1%-of-raw artifact
        // a production deployment persists — checkpointed so the four
        // configs probe it without re-scanning the corpus
        val model = Similarity.ivfPqEncode(emb, "vec_id", "embedding")
        val pinned = model.copy(encoded = pin(model.encoded))
        Seq((1, 4), (2, 2), (2, 4), (4, 4)).map { case (np, sl) =>
          Similarity.withRecallAtK(
              Similarity.ivfPqProbe(emb, "vec_id", "embedding", pinned,
                col("vec_id") < 10, k = k, nProbe = np, shortlist = sl),
              exact, k = k)
            .groupBy(col("q_id"))
            .agg(max(col("recall")).as("recall"), count(col("n_id")).as("n_returned"))
            .select(lit(np).as("n_probe"), lit(sl).as("shortlist"), col("q_id"),
              col("recall"), col("n_returned"))
        }.reduce(_ unionAll _)
      })((s, d) => ivfPqCurveOracleSql(s, d,
        Seq((1, 4), (2, 2), (2, 4), (4, 4)), nCentroids = 16, m = 8,
        ksub = 16, iters = 5, k = 5)),

    // incremental LSH band index (round 13): versioned-corpus near-dup —
    // batch-2 (doc_id ≡ 0 mod 3) dedups against batch-1's PERSISTED band
    // index without recomputing old signatures (probeBandIndex never sees
    // corpus text). Oracle is the full-recompute twin: an all-pairs
    // cross-split filter at >= 6/8 agreeing signature rows, which the
    // banding provably equals at k=8/bands=4/t=0.7 (est >= .75 => some
    // 2-row band agrees by pigeonhole; the d03 DedupSpec pin)
    "d33_incremental_lsh" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
        val idx = Dedup.lshBandIndex(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text",
          k = 8, bands = 4, signature = Some(Dedup.md5MinhashSignature(_, 8)))
        Dedup.probeBandIndex(idx,
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text",
          k = 8, bands = 4, threshold = 0.7,
          signature = Some(Dedup.md5MinhashSignature(_, 8)))
      },
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM documents),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh)
         SELECT b.doc_id AS doc_id, a.doc_id AS corpus_id,
                len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) / 8.0 AS est_jaccard
         FROM sig a JOIN sig b ON a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0
         WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) >= 6"""),

    // index compaction / second generation (round 14): docs ≡ 1 mod 3 are
    // RE-INGESTED with revised text as generation 2; compact(gen1 ∪ gen2)
    // keeps only each id's latest rows (ids-only aggregate + equi-join,
    // no window), and batch-3 probes the compacted index. Oracle is the
    // d33-style full recompute over the EFFECTIVE corpus — latest text
    // per id — so a stale gen-1 signature surviving compaction (or a
    // gen-2 one dropped) breaks the hash gate
    "d36_index_compaction" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
        val sig = Some(Dedup.md5MinhashSignature(_: org.apache.spark.sql.Column, 8))
        val gen1 = Dedup.lshBandIndex(
            docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), "doc_id", "text",
            k = 8, bands = 4, signature = sig)
          .withColumn("gen", lit(1L))
        val gen2 = Dedup.lshBandIndex(
            docs.filter(pmod(col("doc_id"), lit(3)) === 1)
              .withColumn("text", concat(col("text"), lit(" revised edition"))),
            "doc_id", "text", k = 8, bands = 4, signature = sig)
          .withColumn("gen", lit(2L))
        Dedup.probeBandIndex(
          Dedup.compactBandIndex(gen1.unionByName(gen2)).drop("gen"),
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text",
          k = 8, bands = 4, threshold = 0.7, signature = sig)
      },
      """WITH eff AS (
           SELECT doc_id, CASE WHEN doc_id % 3 = 1
                  THEN text || ' revised edition' ELSE text END AS text
           FROM documents),
         toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM eff),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh)
         SELECT b.doc_id AS doc_id, a.doc_id AS corpus_id,
                len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) / 8.0 AS est_jaccard
         FROM sig a JOIN sig b ON a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0
         WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) >= 6"""),

    // near-dup cluster-size distribution (round 13, filling the d29
    // registry hole): every doc (singletons included) → its component →
    // (cluster_size, n_clusters, n_docs) — the megacluster audit. Oracle
    // = d11's recursive-CTE reachability + the same two rollups
    "d29_cluster_sizes" -> entry(
      (s, d) => graft.operators.Dedup.clusterSizeProfile(
        t(s, d, "documents"), "doc_id", "text", k = 8, bands = 4,
        threshold = 0.7, signature = Some(Dedup.md5MinhashSignature(_, 8))),
      """WITH RECURSIVE toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM documents),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) >= 6),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS component FROM reach GROUP BY src),
         assigned AS (
           SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep
           FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
           WHERE d.doc_id IS NOT NULL),
         cl AS (SELECT rep, COUNT(*) AS cluster_size FROM assigned GROUP BY rep)
         SELECT cluster_size, COUNT(*) AS n_clusters,
                CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
         FROM cl GROUP BY cluster_size"""),

    // content-defined-chunking sub-document dedup (round 12): boundaries
    // decided by token content (md5 order-hash ≡ 0 mod 8 — the
    // engine-replayable hash family), so edits never shift downstream
    // chunks; per doc, the fraction of chunks shared with other docs
    "d27_cdc_chunks" -> entry(
      (s, d) => graft.operators.Dedup.cdcChunkShared(
        t(s, d, "documents"), "doc_id", "text", divisor = 8),
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents WHERE text IS NOT NULL),
         e AS (
           SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
             i -> struct_pack(pos := i - 1, tok := w[i]))) AS pt
           FROM w),
         tkn AS (
           SELECT doc_id, pt.pos AS pos, pt.tok AS tok,
             CASE WHEN CAST(('0x' || substr(md5(pt.tok), 1, 15)) AS BIGINT) % 8 = 0
                  THEN 1 ELSE 0 END AS bnd
           FROM e),
         c AS (
           SELECT doc_id, pos, tok,
             COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
           FROM tkn),
         ch AS (
           SELECT doc_id, chunk_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
           FROM c GROUP BY 1, 2),
         cnt AS (SELECT fp, COUNT(*) AS nd
                 FROM (SELECT DISTINCT fp, doc_id FROM ch) GROUP BY 1)
         SELECT ch.doc_id, COUNT(*) AS n_chunks,
                CAST(COUNT(*) FILTER (WHERE cnt.nd > 1) AS BIGINT) AS n_shared_chunks,
                CAST(COUNT(*) FILTER (WHERE cnt.nd > 1) AS DOUBLE) / COUNT(*) AS shared_ratio
         FROM ch JOIN cnt ON cnt.fp = ch.fp
         GROUP BY 1"""),

    // language-ID heuristic (codegen'd CASE/LIKE chain)
    "t01_lang_id" -> entry(
      (s, d) => t(s, d, "documents").select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred")),
      s"SELECT doc_id, $langCaseSql AS lang_pred FROM documents"),

    // language-ID confusion matrix (round 12): t01's heuristic audited
    // against the labeled lang column — the eval step that belongs next
    // to any classifier-driven curation gate. Per-(truth, prediction)
    // counts and the within-truth share; the window rides the
    // languages²-bounded confusion frame, never the corpus
    "t24_lang_confusion" -> entry(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        t(s, d, "documents")
          .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
          .withColumn("__tot", sum(col("n")).over(w))
          .select(col("lang"), col("lang_pred"), col("n"),
            (col("n").cast("double") / col("__tot")).as("share"),
            (col("lang") === col("lang_pred")).as("correct"))
      },
      s"""WITH p AS (SELECT lang, $langCaseSql AS lang_pred FROM documents),
         c AS (SELECT lang, lang_pred, COUNT(*) AS n FROM p GROUP BY 1, 2)
         SELECT lang, lang_pred, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS share,
           lang = lang_pred AS correct
         FROM c"""),

    // quality-signal scoring
    "t02_quality" -> entry(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("__toks"))
        .select(col("doc_id") +:
          TextOps.qualityColumnsFromTokens(col("text"), col("__toks")): _*),
      "SELECT doc_id, length(text) AS n_chars, len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens, CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / NULLIF(len(list_filter(string_split(text, ' '), w -> w <> '')), 0) AS mean_tok_len, length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct, CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS DOUBLE) / NULLIF(len(list_filter(string_split(text, ' '), w -> w <> '')), 0) AS stopword_ratio FROM documents"),

    // per-group top-k curation: keep the 3 longest docs per source
    // (window-function top-k — the "best N per stratum" selection every
    // corpus pipeline runs; deterministic doc_id tiebreak)
    "t05_topk_per_source" -> entry(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(length(col("text")).desc, col("doc_id").asc)
        t(s, d, "documents")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("source"), col("rk"), col("doc_id"), length(col("text")).as("n_chars"))
      },
      """SELECT source, rk, doc_id, n_chars FROM (
           SELECT source, doc_id, length(text) AS n_chars,
                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY length(text) DESC, doc_id ASC) AS rk
           FROM documents) WHERE rk <= 3"""),

    // within-doc repetition fractions (Gopher-style quality rules): the
    // duplicate share of the 1/2/3-gram streams. 1.0 - a/b over small
    // exact integers — one correctly-rounded fp op each, bit-identical in
    // both engines
    "t06_repetition" -> entry(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
        .select(col("doc_id") +:
          TextOps.repetitionColumnsFromTokens(col("__toks")): _*),
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents),
         g AS (
           SELECT doc_id, w AS g1,
             CASE WHEN len(w) < 2 THEN [] ELSE list_transform(range(1, len(w)),
               i -> concat_ws(' ', w[i], w[i+1])) END AS g2,
             CASE WHEN len(w) < 3 THEN [] ELSE list_transform(range(1, len(w) - 1),
               i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS g3
           FROM w)
         SELECT doc_id,
           CASE WHEN g1 IS NULL THEN NULL WHEN len(g1) > 0
                THEN 1.0 - CAST(len(list_distinct(g1)) AS DOUBLE) / len(g1) ELSE 0.0 END AS dup_token_frac,
           CASE WHEN g2 IS NULL THEN NULL WHEN len(g2) > 0
                THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) ELSE 0.0 END AS dup_2gram_frac,
           CASE WHEN g3 IS NULL THEN NULL WHEN len(g3) > 0
                THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) ELSE 0.0 END AS dup_3gram_frac
         FROM g"""),

    // composite quality gate (C4/Gopher-style rule filter): reasons
    // bitmask + keep verdict per doc, rejected rows kept WITH their
    // reasons (the drop report is a product too). Bits: 1 = too few
    // tokens, 2 = too many, 4 = mean token length out of range,
    // 8 = stopword ratio too low, 16 = token repetition too high.
    // Ratio comparisons replay bit-exact: both engines compare the same
    // exact-integer divisions against the same literals
    "t08_quality_gate" -> entry(
      (s, d) => TextOps.qualityFilter(
          // project first: the fixture carries its own n_chars column, which
          // would collide with the emitted signal (and column-prunes the scan)
          t(s, d, "documents").select(col("doc_id"), col("text")), "text",
          minTokens = 20, maxTokens = 90, minMeanTokLen = 2.0, maxMeanTokLen = 12.0,
          minStopwordRatio = 0.01, maxDupTokenFrac = 0.6)
        .select(col("doc_id"), col("n_tokens"), col("reasons"), col("keep")),
      """WITH w AS (
           SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents),
         q AS (
           SELECT doc_id, len(w) AS nt,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
               / NULLIF(len(w), 0) AS mtl,
             CAST(len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS DOUBLE)
               / NULLIF(len(w), 0) AS sr,
             CASE WHEN w IS NULL THEN NULL WHEN len(w) > 0
                  THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
                  ELSE 0.0 END AS dtf
           FROM w),
         r AS (
           SELECT doc_id, nt,
             CASE WHEN COALESCE(nt, 0) < 20 THEN 1 ELSE 0 END
             + CASE WHEN COALESCE(nt > 90, FALSE) THEN 2 ELSE 0 END
             + CASE WHEN COALESCE(mtl < 2.0 OR mtl > 12.0, FALSE) THEN 4 ELSE 0 END
             + CASE WHEN COALESCE(sr < 0.01, FALSE) THEN 8 ELSE 0 END
             + CASE WHEN COALESCE(dtf > 0.6, FALSE) THEN 16 ELSE 0 END AS reasons
           FROM q)
         SELECT doc_id, CAST(nt AS INT) AS n_tokens, reasons, reasons = 0 AS keep FROM r"""),

    // token counting: whitespace + BPE-ish pre-tokenizer regex
    "t03_token_count" -> entry(
      (s, d) => t(s, d, "documents").select(col("doc_id") +: TextOps.tokenCounts(col("text")): _*),
      "SELECT doc_id, len(list_filter(string_split(text, ' '), w -> w <> '')) AS ws_tokens, len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens FROM documents"),

    // multimodal: binary payload + metadata + per-partition decode
    // (javax.imageio for real image formats; these synthetic fake/rgb8
    // payloads take the byte-stats fallback — real-PNG decode is
    // MultimodalSpec'd, DuckDB can't decode images). The byte stats ARE
    // oracle-able (documents are ASCII, so DuckDB codepoints = payload
    // bytes; list_reduce replays the checksum fold); mean_pixel is NULL on
    // the fallback path in both engines
    "m01_multimodal_features" -> entry(
      (s, d) => Multimodal.featurize(t(s, d, "documents"), "doc_id", "text"),
      """WITH b AS (
           SELECT doc_id, strlen(text) AS byte_len,
                  list_transform(string_split_regex(text, ''), c -> CAST(unicode(c) AS BIGINT)) AS bytes
           FROM documents)
         SELECT doc_id,
           CAST(byte_len AS INT) AS byte_len,
           CASE WHEN byte_len = 0 THEN 0.0
                ELSE CAST(list_aggregate(bytes, 'sum') AS DOUBLE) / byte_len END AS mean_byte,
           CASE WHEN byte_len = 0 THEN 1
                ELSE list_reduce(list_prepend(CAST(1 AS BIGINT), bytes),
                                 (acc, x) -> (acc * 31 + x) % 4294967296)
           END AS checksum,
           CAST(doc_id % 640 + 1 AS INT) AS width,
           CAST(doc_id % 480 + 1 AS INT) AS height,
           CAST(NULL AS DOUBLE) AS mean_pixel
         FROM b"""),

    // video-like frame sampling: fixed-stride binary slices, every 4th of
    // 16-byte frames; frame lengths are SQL-expressible → full oracle
    "m02_frame_sample" -> entry(
      (s, d) => Multimodal.frameSample(
          Multimodal.attachBinary(t(s, d, "documents"), "doc_id", "text"), 16, 4)
        .select(col("doc_id"), col("frame_no"), col("n_frames"),
          length(col("frame_bytes")).as("frame_len")),
      """WITH f AS (
          SELECT doc_id, strlen(text) AS len,
                 CAST(ceil(strlen(text) / 16.0) AS INT) AS n_frames
          FROM documents WHERE strlen(text) > 0),
        e AS (SELECT doc_id, len, n_frames, unnest(range(0, n_frames)) AS fno FROM f)
        SELECT doc_id, CAST(fno AS INT) AS frame_no, n_frames,
               CAST(LEAST(16, len - fno * 16) AS INT) AS frame_len
        FROM e WHERE fno % 4 = 0"""),

    // image-resize shape: binary in → binary out + consistent metadata.
    // These synthetic fake/rgb8 payloads take the byte-thinning fallback
    // (the real bilinear path is MultimodalSpec'd on generated PNGs),
    // whose arithmetic is pure math → full oracle: trunc() mirrors
    // Scala's .toInt truncation (DuckDB's CAST(double AS INT) rounds, so
    // it must go through trunc first).
    "m03_resize" -> entry(
      (s, d) => Multimodal.resize(
          Multimodal.attachBinary(t(s, d, "documents"), "doc_id", "text"), 64, 64)
        .select(col("doc_id"), length(col("payload")).as("payload_len"),
          col("width"), col("height")),
      """WITH m AS (SELECT doc_id, strlen(text) AS len,
                CAST(doc_id % 640 + 1 AS INT) AS w,
                CAST(doc_id % 480 + 1 AS INT) AS h
         FROM documents)
         SELECT doc_id,
           CAST(LEAST(len, GREATEST(1, CAST(trunc(len * LEAST(1.0, 4096.0 / (w * h))) AS BIGINT))) AS INT) AS payload_len,
           CAST(LEAST(w, 64) AS INT) AS width,
           CAST(LEAST(h, 64) AS INT) AS height
         FROM m"""),

    // winnowing-style rolling-window fingerprint: min hash over every
    // 16-char window. Oracle-replayable md5Hash60 variant (the O(n)/doc
    // native RollingMinHashExpr stays the production path, FunctionsSpec'd)
    "t04_rolling_fingerprint" -> entry(
      // spreadScan (round 20, guide §2.5): 16-char-window md5 per text
      // position is the suite's heaviest per-row projection — serial on an
      // under-split single-file scan
      (s, d) => GraftSession.spreadScan(t(s, d, "documents")).select(col("doc_id"),
        TextOps.rollingFingerprintMd5(col("text"), 16).as("roll_fp")),
      """SELECT doc_id, list_min(list_transform(
           range(1, GREATEST(1, length(text) - 15) + 1),
           i -> CAST(('0x' || substr(md5('0|' || substr(text, i, 16)), 1, 15)) AS BIGINT))) AS roll_fp
         FROM documents"""),

    // the PRODUCTION rolling fingerprint: native O(n)/doc Rabin-Karp
    // rolling minimum ([[graft.functions.RollingMinHashExpr]], codegen'd).
    // Its 64-bit wrapping polynomial hash has no DuckDB twin (BIGINT
    // overflow throws there), so the driver check is Spark-vs-Spark: run
    // the optimized recurrence AND its direct-definition twin
    // ([[graft.functions.RollingMinHashNaiveExpr]]: every window hashed
    // from scratch — independent power/update/min logic) over the full
    // corpus and select the rows where they DISAGREE; the oracle is the
    // empty result. A bug in the rolling update, the precomputed B^(w-1),
    // or the min seed surfaces as a hash-mismatching non-empty dump.
    // (t04's md5 twin separately proves the min-over-windows pipeline
    // shape against DuckDB; FunctionsSpec pins the native values.)
    "t07_rolling_native" -> entry(
      (s, d) => {
        val nat = graft.functions.RollingMinHashExpr.rollingMinHash(col("text"), 16)
        val ref = graft.functions.RollingMinHashExpr.rollingMinHashNaive(col("text"), 16)
        t(s, d, "documents")
          .select(col("doc_id"), nat.as("roll_fp"), ref.as("roll_fp_ref"))
          .filter(col("roll_fp") =!= col("roll_fp_ref") ||
            (col("roll_fp").isNull =!= col("roll_fp_ref").isNull))
      },
      """SELECT doc_id, CAST(NULL AS BIGINT) AS roll_fp, CAST(NULL AS BIGINT) AS roll_fp_ref
         FROM documents WHERE 1 = 0"""),

    // overlapping document chunking (the RAG/long-context splitter):
    // chunks of <= 32 tokens, consecutive chunks sharing 8 — per-row
    // column algebra, zero shuffle; oracle list-slices the same windows
    "t09_chunk" -> entry(
      (s, d) => graft.operators.PackOps.chunkDocuments(
        t(s, d, "documents"), "doc_id", "text", maxTokens = 32, overlap = 8),
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents WHERE text IS NOT NULL),
         t AS (SELECT doc_id, w, len(w) AS n FROM w WHERE len(w) > 0),
         c AS (SELECT doc_id, w, n,
                 CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 32 + 23) // 24 END AS n_chunks
               FROM t),
         e AS (SELECT doc_id, w, n, unnest(range(0, n_chunks)) AS k FROM c)
         SELECT doc_id, CAST(k AS INT) AS chunk_id,
           array_to_string(list_slice(w, k * 24 + 1, LEAST(n, k * 24 + 32)), ' ') AS chunk_text,
           CAST(LEAST(32, n - k * 24) AS INT) AS n_tokens
         FROM e"""),

    // PII redaction (round 11): the fixture text carries no PII, so the
    // entry APPENDS deterministic synthetic PII (email/IP/phone + SSN on
    // every third doc) identically on both engines, then scrubs — positive
    // matches are hash-checked, not just absence. Patterns stay inside the
    // Java∩RE2 regex subset so the oracle replays them verbatim. Pure
    // chained regexp_replace: zero shuffle, codegen'd.
    "t10_pii_redact" -> entry(
      (s, d) => {
        val built = t(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"), lit("@example.com from 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit(".1 call 555-867-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit(" ssn 123-45-"),
                lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
              .otherwise(lit(""))).as("text"))
        graft.operators.TextOps.piiRedact(built, "doc_id", "text")
      },
      """WITH d AS (SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.1 call 555-867-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
             '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS text,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip,
           CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
           CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phone
         FROM d"""),

    // boilerplate line removal (round 11, RefinedWeb/CCNet-style): the
    // fixture is single-line, so the entry builds multi-line docs — a
    // header on EVERY doc (df = N) and a footer on every second (df =
    // N/2), both over the 0.3 doc-frac threshold; unique bodies stay. One
    // line-frequency shuffle + a bounded broadcast set; per-doc filtering
    // preserves line order natively (no positional reassembly).
    "t11_boilerplate" -> entry(
      (s, d) => {
        val built = t(s, d, "documents").select(col("doc_id"),
          concat(lit("subscribe to our newsletter\n"), col("text"),
            when(pmod(col("doc_id"), lit(2)) === 0, lit("\nvisit our sponsors"))
              .otherwise(lit(""))).as("text"))
        graft.operators.TextOps.removeBoilerplateLines(
          built, "doc_id", "text", maxDocFrac = 0.3, minDocs = 2)
      },
      """WITH d AS (SELECT doc_id,
             'subscribe to our newsletter' || chr(10) || text ||
             CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'visit our sponsors' ELSE '' END AS text
           FROM documents),
         n AS (SELECT COUNT(*) AS n FROM d),
         l AS (SELECT doc_id, unnest(list_distinct(string_split(text, chr(10)))) AS line FROM d),
         f AS (SELECT line, COUNT(*) AS df FROM l GROUP BY 1),
         bp AS (SELECT COALESCE(list(line), CAST([] AS VARCHAR[])) AS bp
                FROM f, n WHERE df >= 2 AND df >= n.n * 0.3)
         SELECT d.doc_id,
           array_to_string(list_filter(string_split(d.text, chr(10)),
             x -> NOT list_contains(bp.bp, x)), chr(10)) AS text,
           CAST(len(string_split(d.text, chr(10))) -
                len(list_filter(string_split(d.text, chr(10)),
                  x -> NOT list_contains(bp.bp, x))) AS INT) AS n_removed
         FROM d, bp"""),

    // TF-IDF keyword extraction (round 11): per-doc top-5 by tf·ln(N/df),
    // scores rounded to 9 decimals BEFORE ranking so libm ulp differences
    // can't flip rank ties between engines (see scaladoc); token breaks
    // residual ties identically on both
    // deterministic canonicalization (round 11): accent-fold via an
    // EXPLICIT shared character map, controls -> space, space runs
    // collapsed, trim, lower — the normalize-before-hash pass ahead of
    // exact dedup. The ASCII fixture would make this a case-only no-op,
    // so the entry appends a constructed suffix with identical literals
    // on both sides (the t10/t11 technique): accents, a tab (chr 9), a
    // control byte (chr 1), double spaces
    "t13_normalize" -> entry(
      (s, d) => t(s, d, "documents").select(col("doc_id"),
        TextOps.normalizeText(concat(col("text"),
          lit(" Él CAFÉ  über\tnaïve\u0001 mañana "))).as("norm")),
      """SELECT doc_id,
           lower(trim(regexp_replace(regexp_replace(translate(
             text || ' Él CAFÉ  über' || chr(9) || 'naïve' || chr(1) || ' mañana ',
             'ÁÀÂÄáàâäÉÈÊËéèêëÍÌÎÏíìîïÓÒÔÖóòôöÚÙÛÜúùûüÑñÇç',
             'AAAAaaaaEEEEeeeeIIIIiiiiOOOOooooUUUUuuuuNnCc'),
             '[\x00-\x1F\x7F]', ' ', 'g'), ' +', ' ', 'g'))) AS norm
         FROM documents"""),

    // top-2-gram share (round 11): the other half of Gopher's repetition
    // family (dup fractions are t06) — most frequent 2-gram per doc and
    // its share of the gram stream. Spark side never shuffles (per-row
    // fold over distinct grams); the oracle is the definitional
    // unnest+count+rank. share = int/int — one correctly-rounded fp
    // division, bit-identical cross-engine
    "t14_top_ngram" -> entry(
      (s, d) => TextOps.topNgramShare(t(s, d, "documents"), "doc_id", "text", n = 2),
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents),
         g AS (
           SELECT doc_id,
             CASE WHEN len(w) < 2 THEN [] ELSE list_transform(range(1, len(w)),
               i -> concat_ws(' ', w[i], w[i+1])) END AS g2
           FROM w),
         tot AS (SELECT doc_id, len(g2) AS n FROM g),
         e AS (SELECT doc_id, unnest(g2) AS gram FROM g),
         c AS (SELECT doc_id, gram, COUNT(*) AS c FROM e GROUP BY 1, 2),
         b AS (SELECT doc_id, gram, c FROM (
                 SELECT doc_id, gram, c,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
                 FROM c) WHERE rn = 1)
         SELECT t.doc_id, b.gram AS top_gram, b.c AS top_n,
                CAST(b.c AS DOUBLE) / t.n AS top_share
         FROM tot t LEFT JOIN b ON b.doc_id = t.doc_id"""),

    // corpus top-k n-grams (round 11): vocabulary audit — one explode,
    // one map-side-partial aggregate, then a DISTRIBUTED top-k
    // (TakeOrderedAndProject, never a global sort); (count DESC, gram
    // ASC) total order pins the boundary of k
    "t15_top_ngrams_corpus" -> entry(
      (s, d) => TextOps.topKNgrams(t(s, d, "documents"), "text", n = 3, k = 20),
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents),
         g AS (
           SELECT CASE WHEN len(w) < 3 THEN [] ELSE list_transform(range(1, len(w) - 1),
             i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS g3
           FROM w),
         e AS (SELECT unnest(g3) AS gram FROM g)
         SELECT gram, COUNT(*) AS n FROM e GROUP BY gram
         ORDER BY n DESC, gram ASC LIMIT 20"""),

    // sentence segmentation stats (round 11): split on [.!?]+ (Java ≡ RE2
    // on this subset), per-doc integer counts, ONE fp division of exact
    // integer sums at the group level — bit-identical cross-engine
    "t16_sentence_stats" -> entry(
      (s, d) => TextOps.sentenceStats(t(s, d, "documents"), "lang", "text"),
      """WITH sp AS (
           SELECT lang, list_filter(list_transform(
             string_split_regex(text, '[.!?]+'), x -> trim(x)), x -> len(x) > 0) AS sents
           FROM documents WHERE text IS NOT NULL),
         p AS (SELECT lang, CAST(len(sents) AS INT) AS ns,
                 COALESCE(CAST(list_sum(list_transform(sents, x -> len(x))) AS BIGINT), 0) AS chars
               FROM sp)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(ns) AS BIGINT) AS n_sentences,
           CAST(MAX(ns) AS INT) AS max_doc_sentences,
           CASE WHEN SUM(ns) > 0
                THEN CAST(SUM(chars) AS DOUBLE) / CAST(SUM(ns) AS BIGINT) END
             AS mean_sentence_chars
         FROM p GROUP BY lang"""),

    // URL/domain extraction (round 11): the fixture has no URLs, so the
    // entry appends deterministic ones (identical literals both engines —
    // the t10 pattern); mixed-case host + www prefix exercise the
    // lower/strip normalization
    "t17_url_domains" -> entry(
      (s, d) => TextOps.urlDomainStats(
        t(s, d, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" see https://Ex"), pmod(col("doc_id"), lit(20)).cast("string"),
            lit(".com/a and http://www.site"), pmod(col("doc_id"), lit(5)).cast("string"),
            lit(".org/b")).as("text")),
        "doc_id", "text"),
      """WITH d AS (SELECT doc_id,
             text || ' see https://Ex' || CAST(doc_id % 20 AS VARCHAR) ||
             '.com/a and http://www.site' || CAST(doc_id % 5 AS VARCHAR) || '.org/b' AS text
           FROM documents),
         u AS (SELECT doc_id,
                 unnest(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1)) AS host
               FROM d WHERE text IS NOT NULL),
         dom AS (SELECT doc_id, regexp_replace(lower(host), '^www\.', '') AS domain FROM u),
         pd AS (SELECT domain, doc_id, COUNT(*) AS n FROM dom GROUP BY 1, 2)
         SELECT domain, CAST(SUM(n) AS BIGINT) AS n_urls, COUNT(*) AS n_docs
         FROM pd GROUP BY domain"""),

    // URL canonicalization + url-level dedup accounting (round 17): the
    // normalization a crawl pipeline runs BEFORE content dedup — scheme/
    // host case, www., default ports, fragments, tracking params, param
    // order, trailing slashes. Four deterministic messy variants per doc
    // (t17's synthesis idiom, identical literals both engines): the
    // HTTP/:80 form, the https/www/:443/trailing-slash form, and the
    // utm+gclid+fragment form collapse per (site, page) group — the
    // ?b=2&a=1 form canonicalizes to sorted ?a=1&b=2, its own group
    "t30_url_canonical" -> entry(
      (s, d) => TextOps.canonicalUrlGroups(
        t(s, d, "documents").select(col("doc_id"),
          {
            val k = pmod(col("doc_id"), lit(5)).cast("string")
            val pg = pmod(col("doc_id"), lit(3)).cast("string")
            when(pmod(col("doc_id"), lit(4)) === 0,
                concat(lit("HTTP://SITE"), k, lit(".org:80/Page/"), pg))
              .when(pmod(col("doc_id"), lit(4)) === 1,
                concat(lit("https://www.site"), k, lit(".org:443/Page/"), pg, lit("/")))
              .when(pmod(col("doc_id"), lit(4)) === 2,
                concat(lit("https://site"), k, lit(".org/Page/"), pg,
                  lit("?utm_source=x&gclid=1#top")))
              .otherwise(
                concat(lit("https://site"), k, lit(".org/Page/"), pg, lit("?b=2&a=1")))
              .as("url")
          }),
        "doc_id", "url"),
      """WITH raw AS (
           SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'HTTP://SITE' || CAST(doc_id % 5 AS VARCHAR) || '.org:80/Page/' || CAST(doc_id % 3 AS VARCHAR)
               WHEN 1 THEN 'https://www.site' || CAST(doc_id % 5 AS VARCHAR) || '.org:443/Page/' || CAST(doc_id % 3 AS VARCHAR) || '/'
               WHEN 2 THEN 'https://site' || CAST(doc_id % 5 AS VARCHAR) || '.org/Page/' || CAST(doc_id % 3 AS VARCHAR) || '?utm_source=x&gclid=1#top'
               ELSE 'https://site' || CAST(doc_id % 5 AS VARCHAR) || '.org/Page/' || CAST(doc_id % 3 AS VARCHAR) || '?b=2&a=1'
             END AS url
           FROM documents),
         parts AS (
           SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS rest
           FROM raw),
         norm AS (
           SELECT doc_id, url, scheme,
             CASE WHEN scheme = 'http'
                    THEN regexp_replace(regexp_replace(hostport, '^www\.', ''), ':80$', '')
                  WHEN scheme = 'https'
                    THEN regexp_replace(regexp_replace(hostport, '^www\.', ''), ':443$', '')
                  ELSE regexp_replace(hostport, '^www\.', '') END AS host,
             regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path,
             regexp_extract(rest, '\?(.*)$', 1) AS q0
           FROM parts),
         canon AS (
           SELECT doc_id, url,
             CASE WHEN scheme = '' OR host = '' THEN NULL
                  ELSE scheme || '://' || host || path ||
                    CASE WHEN q0 = '' OR qs = '' THEN '' ELSE '?' || qs END
             END AS canonical_url
           FROM (SELECT *,
               -- COALESCE: DuckDB's array_to_string of an empty list is
               -- NULL where Spark's array_join is '' — without it every
               -- all-tracking-params URL canonicalizes to NULL
               COALESCE(array_to_string(list_sort(list_filter(string_split(q0, '&'),
                 p -> p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z]+|gclid|fbclid)='))), '&'), '') AS qs
             FROM norm))
         SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
           MIN(doc_id) AS first_doc
         FROM canon WHERE canonical_url IS NOT NULL
         GROUP BY canonical_url"""),

    // code-vs-prose detection (round 11): integer structural-signal gate
    // (braces + semicolons), synthetic code appended to every 7th doc with
    // identical literals on both engines
    "t18_code_detect" -> entry(
      (s, d) => TextOps.codeDetect(
        t(s, d, "documents").select(col("source"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(7)) === 0,
              lit(" if (x > 0) { y = x; } else { y = -x; } print(y);"))
              .otherwise(lit(""))).as("text")),
        "source", "text"),
      """WITH d AS (SELECT source,
             text || CASE WHEN doc_id % 7 = 0
               THEN ' if (x > 0) { y = x; } else { y = -x; } print(y);'
               ELSE '' END AS text
           FROM documents),
         c AS (SELECT source,
             (len(text) - len(replace(text, '{', ''))) +
             (len(text) - len(replace(text, '}', ''))) AS b,
             len(text) - len(replace(text, ';', '')) AS sm,
             len(text) - len(replace(text, '=', '')) AS a
           FROM d WHERE text IS NOT NULL)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN b >= 2 AND sm >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_code_docs,
           CAST(SUM(b) AS BIGINT) AS n_braces,
           CAST(SUM(sm) AS BIGINT) AS n_semis,
           CAST(SUM(a) AS BIGINT) AS n_assigns
         FROM c GROUP BY source"""),

    // Flesch readability (round 11): vowel-run syllable proxy; integers
    // from engine-identical regex splits, then a fixed left-associated
    // IEEE tree — decimal literals CAST to DOUBLE on the DuckDB side
    // (its bare decimals are DECIMAL-typed)
    "t19_readability" -> entry(
      (s, d) => TextOps.readability(t(s, d, "documents"), "doc_id", "text"),
      """WITH d AS (
           SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
             GREATEST(1, len(list_filter(list_transform(
               string_split_regex(text, '[.!?]+'), x -> trim(x)), x -> len(x) > 0))) AS sct,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, CAST(w AS INT) AS n_words, CAST(sct AS INT) AS n_sentences,
           CAST(syl AS INT) AS n_syllables,
           CASE WHEN w > 0 THEN
             CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * (CAST(w AS DOUBLE) / sct)
               - CAST(84.6 AS DOUBLE) * (CAST(syl AS DOUBLE) / w) END AS flesch
         FROM d"""),

    // per-source duplication report (round 11): dedup ROI — two stacked
    // fingerprint aggregates, inflation is one fp division of exact counts
    "d20_dup_stats" -> entry(
      (s, d) => graft.operators.Dedup.dupStats(
        t(s, d, "documents"), "source", "text"),
      """WITH f AS (
           SELECT source, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
           FROM documents WHERE text IS NOT NULL),
         c AS (SELECT source, fp, COUNT(*) AS c FROM f GROUP BY 1, 2)
         SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs, COUNT(*) AS n_unique,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_docs,
           CAST(SUM(c) AS DOUBLE) / COUNT(*) AS inflation
         FROM c GROUP BY source"""),

    // perceptual-hash image dedup (round 11): the m-series capstone —
    // signatures from Multimodal.perceptualHash's per-partition seam
    // (real 8x8 aHash for decodable images; the synthetic fake/rgb8
    // payloads take the documented md5-60 deterministic stand-in, which
    // is what DuckDB replays), then the d21 engine: twin injection
    // (XOR 9: bits 0 and 3), pigeonhole block join, exact verify
    "m04_phash_dedup" -> entry(
      (s, d) => {
        val withBin = Multimodal.attachBinary(
          t(s, d, "documents").filter(col("text").isNotNull), "doc_id", "text")
        val sigs = Multimodal.perceptualHash(withBin)
          .select(col("doc_id"), col("phash").as("sig"))
        val twins = sigs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            col("sig").bitwiseXOR(lit(9L)).as("sig"))
        Dedup.hammingNearDuplicates(
          sigs.unionAll(twins), "doc_id", "sig", maxHamming = 3, blockBits = 15)
      },
      """WITH s0 AS (SELECT doc_id,
             CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS sig
           FROM documents WHERE text IS NOT NULL),
         s AS (SELECT doc_id, sig FROM s0
               UNION ALL
               SELECT doc_id + 100000, xor(sig, 9) FROM s0 WHERE doc_id % 25 = 0)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3"""),

    // audio frame energy + silence gate (round 12): the third modality —
    // payload read as u8 PCM (real WAV sample format; a compressed codec
    // swaps in at the PcmFrameEnergyExpr seam), exact-integer per-frame
    // energy Σ(sample−128)², zero shuffles/UDFs. ASCII guard pins
    // byte ≡ codepoint so DuckDB's ord() replays the byte stream
    "m05_audio_energy" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
          .filter(col("text").isNotNull && col("text").rlike("^[ -~]*$"))
        Multimodal.audioFrameEnergy(
          Multimodal.attachBinary(docs, "doc_id", "text"),
          frameLen = 64, silenceThreshold = 100000L)
      },
      """WITH d AS (
           SELECT doc_id, text, length(text) AS n FROM documents
           WHERE text IS NOT NULL AND regexp_matches(text, '^[ -~]*$')),
         f AS (
           SELECT doc_id, text, n,
             unnest(range(0, CAST(ceil(CAST(n AS DOUBLE) / 64) AS BIGINT))) AS frame_no
           FROM d),
         e AS (
           SELECT doc_id, frame_no,
             CAST(list_sum(list_transform(
               range(frame_no * 64 + 1, LEAST((frame_no + 1) * 64, n) + 1),
               i -> (ord(substr(text, CAST(i AS INT), 1)) - 128)
                  * (ord(substr(text, CAST(i AS INT), 1)) - 128))) AS BIGINT) AS energy
           FROM f)
         SELECT doc_id, frame_no, energy, energy < 100000 AS silent FROM e"""),

    // cross-video frame-overlap near-dup (round 17): which video pairs
    // share content at the frame level — re-upload detection, the video
    // sibling of m04. Twin videos planted (every 25th doc re-keyed, full
    // frame overlap); natural repeats in the synthetic payloads surface
    // as partial overlaps. Frames ride the shared hamming engine under a
    // packed (video, frame) id; overlap counts DISTINCT matched frames.
    // ASCII guard (the m05 idiom) so DuckDB's char-substr replays the
    // byte slicing
    "m09_video_frame_dedup" -> entry(
      (s, d) => {
        val base = t(s, d, "documents")
          .filter(col("text").isNotNull && col("text").rlike("^[ -~]*$"))
          .select(col("doc_id"), col("text"))
        val twins = base.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
        Multimodal.videoNearDupPairs(
          Multimodal.videoFrameSignatures(
            Multimodal.attachBinary(base.unionAll(twins), "doc_id", "text"),
            frameBytes = 16, everyN = 4),
          maxHamming = 2, blockBits = 15)
      },
      """WITH d AS (SELECT doc_id, text FROM documents
           WHERE text IS NOT NULL AND regexp_matches(text, '^[ -~]*$')),
         v AS (SELECT doc_id, text FROM d
               UNION ALL SELECT doc_id + 200000, text FROM d WHERE doc_id % 25 = 0),
         f0 AS (SELECT doc_id, text,
                  CAST(ceil(strlen(text) / 16.0) AS INT) AS n_frames
                FROM v WHERE strlen(text) > 0),
         fr AS (SELECT doc_id, CAST(fno AS INT) AS frame_no,
                  substr(text, CAST(fno * 16 + 1 AS INT), 16) AS fb
                FROM (SELECT doc_id, text, unnest(range(0, n_frames)) AS fno FROM f0)
                WHERE fno % 4 = 0),
         sg AS (SELECT doc_id, frame_no,
                  CAST(('0x' || substr(md5(fb), 1, 15)) AS BIGINT) AS sig FROM fr),
         cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM sg GROUP BY 1),
         pr AS (SELECT a.doc_id AS video_a, a.frame_no AS frame_a,
                  b.doc_id AS video_b, b.frame_no AS frame_b
                FROM sg a JOIN sg b
                  ON a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 2),
         ag AS (SELECT video_a, video_b, CAST(COUNT(*) AS BIGINT) AS n_matched_pairs,
                  CAST(COUNT(DISTINCT frame_a) AS BIGINT) AS n_frames_a_matched,
                  CAST(COUNT(DISTINCT frame_b) AS BIGINT) AS n_frames_b_matched
                FROM pr GROUP BY 1, 2)
         SELECT ag.video_a, ag.video_b, ag.n_matched_pairs,
           ag.n_frames_a_matched, ag.n_frames_b_matched,
           CAST(ag.n_frames_a_matched AS DOUBLE) / ca.nf AS overlap_a,
           CAST(ag.n_frames_b_matched AS DOUBLE) / cb.nf AS overlap_b
         FROM ag JOIN cnt ca ON ca.doc_id = ag.video_a
                 JOIN cnt cb ON cb.doc_id = ag.video_b"""),

    // the multimodal budget gate's GUARD branch (round 19, the verdict's
    // item 6): constant frame payloads — every video the same 64-byte
    // still, the degenerate shape re-encoded filler produces — collapse
    // every pigeonhole block into ONE bucket and the "banded" frame join
    // turns all-pairs (4·C(n_frames, 2) candidates). The gated operator
    // evaluates the exact pre-verify bound off the SAME packed frame the
    // join would read, refuses, and returns the 1-row guard frame. The
    // oracle replays the packing, the 15-bit block split and the bucket
    // combinatorics from the raw table.
    "m10_video_dedup_gate" -> entry(
      (s, d) => {
        val vids = t(s, d, "documents")
          .select(col("doc_id"),
            lit("STILLFRAMESTILLFRAMESTILLFRAMESTILLFRAMESTILLFRAMESTILLFRAME64.").as("text"))
        Multimodal.videoNearDupPairsBudgeted(
          Multimodal.videoFrameSignatures(
            Multimodal.attachBinary(vids, "doc_id", "text"),
            frameBytes = 16, everyN = 4),
          maxHamming = 2, blockBits = 15, maxCandidates = 1000L,
          onExceed = "guard")
      },
      """WITH v AS (SELECT doc_id,
             'STILLFRAMESTILLFRAMESTILLFRAMESTILLFRAMESTILLFRAMESTILLFRAME64.' AS text
           FROM documents),
         f0 AS (SELECT doc_id, text,
                  CAST(ceil(strlen(text) / 16.0) AS INT) AS n_frames
                FROM v WHERE strlen(text) > 0),
         fr AS (SELECT doc_id, CAST(fno AS INT) AS frame_no,
                  substr(text, CAST(fno * 16 + 1 AS INT), 16) AS fb
                FROM (SELECT doc_id, text, unnest(range(0, n_frames)) AS fno FROM f0)
                WHERE fno % 4 = 0),
         sg AS (SELECT doc_id * 1000000 + frame_no AS fid,
                  CAST(('0x' || substr(md5(fb), 1, 15)) AS BIGINT) AS sig FROM fr),
         bl AS (SELECT j, (sig >> CAST(j * 15 AS INT)) & 32767 AS blkval,
                  COUNT(*) AS n
                FROM sg, range(0, 4) t(j) GROUP BY 1, 2)
         SELECT CAST(SUM((n * (n - 1)) // 2) AS BIGINT) AS candidate_pairs,
           CAST(MAX(n) AS BIGINT) AS max_bucket_n,
           CAST(1000 AS BIGINT) AS budget
         FROM bl"""),

    // VAD speech segmentation (round 12): m05's energy gate composed
    // with gaps-and-islands — consecutive voiced frames merge into the
    // segments an ASR pipeline consumes; island window and segment agg
    // share one doc-key exchange
    "m08_speech_segments" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
          .filter(col("text").isNotNull && col("text").rlike("^[ -~]*$"))
        Multimodal.speechSegments(
          Multimodal.attachBinary(docs, "doc_id", "text"),
          frameLen = 64, silenceThreshold = 100000L)
      },
      """WITH d AS (
           SELECT doc_id, text, length(text) AS n FROM documents
           WHERE text IS NOT NULL AND regexp_matches(text, '^[ -~]*$')),
         f AS (
           SELECT doc_id, text, n,
             unnest(range(0, CAST(ceil(CAST(n AS DOUBLE) / 64) AS BIGINT))) AS frame_no
           FROM d),
         e AS (
           SELECT doc_id, frame_no,
             CAST(list_sum(list_transform(
               range(frame_no * 64 + 1, LEAST((frame_no + 1) * 64, n) + 1),
               i -> (ord(substr(text, CAST(i AS INT), 1)) - 128)
                  * (ord(substr(text, CAST(i AS INT), 1)) - 128))) AS BIGINT) AS energy
           FROM f),
         v AS (
           SELECT doc_id, frame_no,
             frame_no - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY frame_no) AS island
           FROM e WHERE NOT (energy < 100000)),
         g AS (
           SELECT doc_id, MIN(frame_no) AS start_frame, MAX(frame_no) AS end_frame,
             COUNT(*) AS n_frames
           FROM v GROUP BY doc_id, island)
         SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame) AS INT) AS seg_no,
           CAST(start_frame AS INT) AS start_frame, CAST(end_frame AS INT) AS end_frame,
           n_frames
         FROM g"""),

    // scene-cut detection (round 12): consecutive-frame SSD over the
    // video-like fixed-stride frame layout (codegen'd
    // FrameDeltaEnergyExpr), cut where the exact-integer delta exceeds
    // the threshold; ASCII-only filter keeps ord(char) == payload byte
    // so DuckDB replays the bytes from the text itself
    "m06_scene_cuts" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
          .filter(col("text").isNotNull && col("text").rlike("^[ -~]*$"))
        Multimodal.sceneCuts(
          Multimodal.attachBinary(docs, "doc_id", "text"),
          frameBytes = 16, cutThreshold = 20000L)
      },
      """WITH d AS (
           SELECT doc_id, text, length(text) AS n FROM documents
           WHERE text IS NOT NULL AND regexp_matches(text, '^[ -~]*$')),
         f AS (
           SELECT doc_id, text, n,
             unnest(range(1, CAST(ceil(CAST(n AS DOUBLE) / 16) AS BIGINT))) AS frame_no
           FROM d),
         e AS (
           SELECT doc_id, frame_no,
             CAST(list_sum(list_transform(
               range(0, LEAST((frame_no + 1) * 16, n) - frame_no * 16),
               i -> (ord(substr(text, CAST(frame_no * 16 + i + 1 AS INT), 1))
                   - ord(substr(text, CAST((frame_no - 1) * 16 + i + 1 AS INT), 1)))
                  * (ord(substr(text, CAST(frame_no * 16 + i + 1 AS INT), 1))
                   - ord(substr(text, CAST((frame_no - 1) * 16 + i + 1 AS INT), 1))))) AS BIGINT) AS delta
           FROM f)
         SELECT doc_id, CAST(frame_no AS INT) AS frame_no, delta,
                delta > 20000 AS cut
         FROM e"""),

    // text↔media pairing audit (round 12): the integrity gate ahead of a
    // paired-modality training run. The fixture pairs 1:1, so the entry
    // injects deterministic drift (the s17/t20 idiom): media ids ≡ 3
    // (mod 7) are shifted out of range — their docs unpair AND the
    // shifted rows surface in the '(orphan media)' row
    "m07_pair_audit" -> entry(
      (s, d) => {
        val emb = t(s, d, "embeddings").select(
          when(pmod(col("vec_id"), lit(7L)) === 3, col("vec_id") + 1000000L)
            .otherwise(col("vec_id")).as("vec_id"))
        Multimodal.pairAudit(
          t(s, d, "documents"), "doc_id", "source", emb, "vec_id")
      },
      """WITH m AS (
           SELECT DISTINCT CASE WHEN vec_id % 7 = 3 THEN vec_id + 1000000 ELSE vec_id END AS vec_id
           FROM embeddings),
         g AS (
           SELECT d.source, COUNT(*) AS n_rows,
                  COUNT(m.vec_id) AS n_paired
           FROM documents d LEFT JOIN m ON m.vec_id = d.doc_id
           GROUP BY 1)
         SELECT source, n_rows, n_paired,
                CAST(n_paired AS DOUBLE) / n_rows AS pair_rate
         FROM g
         UNION ALL
         SELECT '(orphan media)' AS source, COUNT(*) AS n_rows,
                CAST(0 AS BIGINT) AS n_paired, CAST(NULL AS DOUBLE) AS pair_rate
         FROM m WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = m.vec_id)"""),

    // event-type co-occurrence lift (round 11): association-rules
    // primitive over per-user presence sets — deliberately lift, not PMI
    // (PMI = ln lift puts libm at the engine boundary); per-user pair
    // join over distinct TYPES, never event volume
    "s15_cooccurrence_lift" -> entry(
      (s, d) => graft.operators.EventOps.cooccurrenceLift(
        t(s, d, "events"), "user_id", "event_type"),
      """WITH pres AS (SELECT DISTINCT user_id, event_type FROM events
                       WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
         nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM pres),
         tot AS (SELECT event_type, COUNT(*) AS n FROM pres GROUP BY 1),
         pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
                   FROM pres a JOIN pres b ON a.user_id = b.user_id
                     AND a.event_type < b.event_type
                   GROUP BY 1, 2)
         SELECT p.type_a, p.type_b, ta.n AS n_a, tb.n AS n_b, p.n_ab,
           CAST(p.n_ab * nu.n_users AS DOUBLE) / (ta.n * tb.n) AS lift
         FROM pairs p
         JOIN tot ta ON ta.event_type = p.type_a
         JOIN tot tb ON tb.event_type = p.type_b, nu"""),

    // temperature-mix resampling at alpha = 0.5 (round 11): sqrt-scaled
    // per-source quotas (floor(sqrt(n)) is the same integer on every
    // engine — general n^alpha would put exp/ln at the boundary), then
    // the md5 hash-order pick per stratum
    "x12_temperature_mix" -> entry(
      (s, d) => graft.operators.SampleOps.temperatureMix(
        t(s, d, "documents"), "source", "doc_id", targetTotal = 300L),
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents
                    WHERE source IS NOT NULL AND doc_id IS NOT NULL GROUP BY 1),
         w AS (SELECT source, n,
                 CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM c),
         t AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM w),
         caps AS (SELECT source, LEAST(n, (300 * w) // t.tot) AS cap FROM w, t),
         r AS (SELECT d.source, d.doc_id,
             ROW_NUMBER() OVER (PARTITION BY d.source
               ORDER BY CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                        d.doc_id) AS rn
           FROM documents d WHERE d.source IS NOT NULL AND d.doc_id IS NOT NULL)
         SELECT r.source, r.doc_id
         FROM r JOIN caps ON r.source = caps.source WHERE r.rn <= caps.cap"""),

    // longest activity streak (round 11): gaps-and-islands — the
    // day-minus-row_number anchor; (user, day) distinct collapses event
    // volume before the window, integer date arithmetic throughout
    "s14_longest_streak" -> entry(
      (s, d) => graft.operators.EventOps.longestStreak(
        t(s, d, "events"), "user_id", "ts"),
      """WITH days AS (
           SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         isl AS (SELECT user_id,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS anchor
           FROM days),
         runs AS (SELECT user_id, anchor, COUNT(*) AS len
                  FROM isl GROUP BY 1, 2)
         SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(MAX(len) AS BIGINT) AS longest_streak
         FROM runs GROUP BY user_id"""),

    // 2-D equi-width histogram (round 11): joint density binning — p03's
    // fp bucket expression per dimension, bounds re-derived from the
    // same tree; one stats broadcast + one cell aggregate
    "p11_histogram2d" -> entry(
      (s, d) => graft.operators.Profile.histogram2d(
        t(s, d, "lineitem"), "l_quantity", "l_discount", 8, 4),
      """WITH st AS (
           SELECT MIN(CAST(l_quantity AS DOUBLE)) AS xmin, MAX(CAST(l_quantity AS DOUBLE)) AS xmax,
                  MIN(CAST(l_discount AS DOUBLE)) AS ymin, MAX(CAST(l_discount AS DOUBLE)) AS ymax
           FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
         b AS (
           SELECT CASE WHEN st.xmax > st.xmin
                       THEN LEAST(7, CAST(trunc((CAST(l_quantity AS DOUBLE) - st.xmin)
                                                / (st.xmax - st.xmin) * 8) AS BIGINT))
                       ELSE 0 END AS bucket_x,
                  CASE WHEN st.ymax > st.ymin
                       THEN LEAST(3, CAST(trunc((CAST(l_discount AS DOUBLE) - st.ymin)
                                                / (st.ymax - st.ymin) * 4) AS BIGINT))
                       ELSE 0 END AS bucket_y,
                  st.xmin AS xmin, st.xmax AS xmax, st.ymin AS ymin, st.ymax AS ymax
           FROM lineitem, st WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL)
         SELECT bucket_x, bucket_y,
           xmin + bucket_x * (xmax - xmin) / 8 AS lo_x,
           ymin + bucket_y * (ymax - ymin) / 4 AS lo_y,
           COUNT(*) AS n
         FROM b GROUP BY bucket_x, bucket_y, xmin, xmax, ymin, ymax"""),

    // token-weighted quantiles (round 11): "half the TOKENS live in docs
    // shorter than X" — p02's rank-exact machinery with SUM(weight)
    // histograms; integer weights keep every cumulative exact
    "p10_weighted_quantiles" -> entry(
      (s, d) => graft.operators.Profile.weightedQuantiles(
        t(s, d, "documents").filter(col("text").isNotNull)
          .select(col("n_chars"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
        "n_chars", "n_tokens", Seq(0.5, 0.9)),
      """WITH dd AS (SELECT n_chars AS v,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS w
           FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         dist AS (SELECT v, CAST(SUM(w) AS BIGINT) AS cnt FROM dd
                  GROUP BY 1 HAVING SUM(w) > 0),
         cum AS (SELECT v, cnt,
             CAST(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
           FROM dist),
         p AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS p)
         SELECT p.p, cum.v AS quantile
         FROM cum, p
         WHERE cum.cum >= GREATEST(1, CAST(ceil(p.p * cum.n) AS BIGINT))
           AND cum.cum - cum.cnt < GREATEST(1, CAST(ceil(p.p * cum.n) AS BIGINT))"""),

    // median absolute deviation (round 11): robust dispersion via two
    // rank-exact medians (p02's machinery twice, stitched by an eager
    // 1-row literal) — both an actual data value / exact |difference|
    "p09_mad" -> entry(
      (s, d) => graft.operators.Profile.mad(t(s, d, "lineitem"), "l_quantity"),
      """WITH dist AS (
           SELECT l_quantity AS v, COUNT(*) AS cnt FROM lineitem
           WHERE l_quantity IS NOT NULL GROUP BY 1),
         cum AS (SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n
           FROM dist),
         med AS (SELECT v AS m FROM cum
           WHERE cum >= GREATEST(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT))
             AND cum - cnt < GREATEST(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT))),
         dev AS (SELECT abs(l_quantity - med.m) AS v FROM lineitem, med
                 WHERE l_quantity IS NOT NULL),
         dist2 AS (SELECT v, COUNT(*) AS cnt FROM dev GROUP BY 1),
         cum2 AS (SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n
           FROM dist2),
         mad AS (SELECT v AS md FROM cum2
           WHERE cum >= GREATEST(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT))
             AND cum - cnt < GREATEST(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)))
         SELECT med.m AS median, mad.md AS mad FROM med, mad"""),

    // packed-shard manifest (round 11): the capacity report x04's layout
    // implies, as ONE order-independent hash aggregate (no window, no
    // offsets); md5 order-hash twin so DuckDB shards identically
    "x14_pack_manifest" -> entry(
      (s, d) => graft.operators.PackOps.packManifest(
        t(s, d, "documents"), "doc_id", "text", tokenBudget = 512, shards = 8,
        orderHash = graft.operators.SampleOps.md5OrderHash),
      """WITH dd AS (
           SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
             CAST(COALESCE(len(list_filter(string_split(text, ' '), x -> x <> '')), 0) AS BIGINT) AS w
           FROM documents),
         m AS (SELECT shard, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS n_tokens
               FROM dd GROUP BY 1)
         SELECT CAST(shard AS INT) AS shard, n_docs, n_tokens,
           (n_tokens + 511) // 512 AS n_seqs,
           CASE WHEN n_tokens > 0
                THEN CAST(n_tokens AS DOUBLE) / (((n_tokens + 511) // 512) * 512) END AS utilization
         FROM m"""),

    // quality-policy survivor selection (round 11): each near-dup
    // cluster keeps its LONGEST member (not min-id) — with the x13 twin
    // injection the ' twin' copies are 5 chars longer, so every cluster
    // keeps the twin and drops the base: the policy is observable in the
    // oracle-checked output, not just a spec claim
    "d22_keep_best" -> entry(
      (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), col("text"))
        val twins = base.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(col("text"), lit(" twin")).as("text"))
        graft.operators.Dedup.keepBestSurvivors(
          base.unionAll(twins), "doc_id", "text", quality = length(col("text")),
          signature = Some(graft.operators.Dedup.md5MinhashSignature(_, 8)))
      },
      """WITH RECURSIVE docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 200000, text || ' twin' FROM documents WHERE doc_id % 20 = 0),
         toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM docs2),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) >= 6),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS component FROM reach GROUP BY src),
         j AS (SELECT d.doc_id, CAST(len(d.text) AS INT) AS quality,
                 COALESCE(c.component, d.doc_id) AS rep
               FROM docs2 d LEFT JOIN comp c ON d.doc_id = c.id),
         r AS (SELECT doc_id, rep, quality,
                 ROW_NUMBER() OVER (PARTITION BY rep
                   ORDER BY quality DESC NULLS LAST, doc_id ASC) AS rn
               FROM j)
         SELECT doc_id, rep, quality, rn = 1 AS keep FROM r"""),

    // near-dup-closed split (round 11): the leakage x10 can't see —
    // near-duplicates of one doc must not straddle train/test. The
    // regenerated corpus has no natural near-dups, so the entry injects
    // one-token-appended twins (doc_id % 20, Jaccard ~0.95 on 3-gram
    // shingles) on BOTH engines; the oracle composes d11's recursive-CTE
    // minhash closure with the md5 split hash on the component rep
    "x13_dedup_closed_split" -> entry(
      (s, d) => {
        val base = t(s, d, "documents").select(col("doc_id"), col("text"))
        val twins = base.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"),
            concat(col("text"), lit(" twin")).as("text"))
        graft.operators.SampleOps.dedupClosedSplit(
          base.unionAll(twins), "doc_id", "text", trainPct = 60,
          signature = Some(graft.operators.Dedup.md5MinhashSignature(_, 8)))
      },
      """WITH RECURSIVE docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 200000, text || ' twin' FROM documents WHERE doc_id % 20 = 0),
         toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w FROM docs2),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           WHERE len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) >= 6),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS component FROM reach GROUP BY src)
         SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep,
           CASE WHEN CAST(('0x' || substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 60
                THEN 'train' ELSE 'test' END AS split
         FROM docs2 d LEFT JOIN comp c ON d.doc_id = c.id"""),

    // per-doc lexical richness (round 11): type-token ratio — vocabulary
    // collapse the n-gram repetition signals can miss; per-row array
    // algebra, one fp division of exact integers
    "t21_lexical_richness" -> entry(
      (s, d) => TextOps.lexicalRichness(t(s, d, "documents"), "doc_id", "text"),
      """WITH d AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_types,
           CAST(len(list_distinct(toks)) AS DOUBLE) / NULLIF(len(toks), 0) AS ttr
         FROM d"""),

    // vocabulary coverage curve (round 12): top-k tokens by corpus
    // frequency with cumulative share — the "how big a vocab covers X%"
    // audit before tokenizer training. Corpus-wide work is one explode +
    // one map-side-partial aggregate + a distributed top-k; the
    // rank/cumsum window runs on the k-row RESULT, never the corpus
    "t22_vocab_coverage" -> entry(
      (s, d) => TextOps.vocabCoverage(t(s, d, "documents"), "text", k = 1000),
      """WITH e AS (
           SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
           FROM documents WHERE text IS NOT NULL),
         c AS (SELECT token, COUNT(*) AS n FROM e GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
         top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 1000)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT) AS rank,
           token, n,
           CAST(SUM(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
           CAST(CAST(SUM(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
             / (SELECT total FROM tot) AS coverage
         FROM top"""),

    // sentence-aware chunking (round 12): the RAG splitter that never
    // cuts mid-sentence — chunks begin when the running token count
    // crosses a budget multiple (size variance traded for boundary
    // sanity; PackOps.chunkDocuments is the fixed-window complement)
    // vocabulary-growth / Heaps-law curve (round 17): distinct types vs
    // cumulative tokens at md5-ordered corpus prefixes — the measured
    // form of the vocabulary-growth property the PPJoin scale analysis
    // assumes (BENCH_NOTES sf10: a plateaued vocabulary is the prefix
    // filter's worst case). ONE token-keyed aggregate answers every cut
    // via first-occurrence buckets; the oracle replays hash buckets,
    // first-seen histogram, and prefix sums exactly
    "t29_vocab_growth" -> entry(
      (s, d) => TextOps.vocabularyGrowth(t(s, d, "documents"), "doc_id", "text"),
      """WITH d AS (
           SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS INT) AS b,
             list_filter(string_split(text, ' '), w -> w <> '') AS w
           FROM documents WHERE text IS NOT NULL),
         mass AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(len(w)) AS BIGINT) AS toks FROM d GROUP BY 1),
         fs AS (SELECT tok, MIN(b) AS fb FROM
             (SELECT b, unnest(w) AS tok FROM d) GROUP BY 1),
         th AS (SELECT fb, CAST(COUNT(*) AS BIGINT) AS types FROM fs GROUP BY 1),
         c AS (SELECT CAST(unnest([0, 1, 3, 7, 15, 31, 63, 99]) AS INT) AS cut_bucket),
         m2 AS (SELECT c.cut_bucket,
             CAST(COALESCE(SUM(mass.docs), 0) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(mass.toks), 0) AS BIGINT) AS n_tokens
           FROM c LEFT JOIN mass ON mass.b <= c.cut_bucket GROUP BY 1),
         t2 AS (SELECT c.cut_bucket,
             CAST(COALESCE(SUM(th.types), 0) AS BIGINT) AS n_types
           FROM c LEFT JOIN th ON th.fb <= c.cut_bucket GROUP BY 1)
         SELECT m2.cut_bucket, m2.n_docs, m2.n_tokens, t2.n_types
         FROM m2 JOIN t2 ON t2.cut_bucket = m2.cut_bucket"""),

    "t28_sentence_chunks" -> entry(
      (s, d) => TextOps.sentenceChunks(
        t(s, d, "documents"), "doc_id", "text", budgetTokens = 24),
      """WITH sl AS (
           SELECT doc_id,
             list_filter(list_transform(string_split_regex(text, '[.!?]+'),
               x -> trim(x)), x -> len(x) > 0) AS sents
           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         e AS (
           SELECT doc_id, unnest(list_transform(range(1, len(sents) + 1),
             i -> struct_pack(pos := i - 1, sent := sents[i]))) AS ps
           FROM sl),
         t2 AS (
           SELECT doc_id, ps.pos AS pos, ps.sent AS sent,
             CAST(len(list_filter(string_split(ps.sent, ' '), w -> w <> '')) AS BIGINT) AS nt
           FROM e),
         c AS (
           SELECT doc_id, pos, sent, nt,
             CAST(COALESCE(SUM(nt) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               // 24 AS chunk_id
           FROM t2)
         SELECT doc_id, chunk_id, COUNT(*) AS n_sentences,
           CAST(SUM(nt) AS BIGINT) AS chunk_tokens,
           string_agg(sent, '. ' ORDER BY pos) AS chunk_text
         FROM c GROUP BY 1, 2"""),

    // Luhn-validated card detection (round 12): the false-positive
    // killer regex PII patterns can't express — a digit run is a real
    // PAN only if its checksum closes. Fixture carries no cards, so the
    // entry injects one valid and one invalid PAN on doc_id % 9 = 2
    // (the t20 idiom); checksum replayed digit-for-digit in SQL
    "t27_luhn_cards" -> entry(
      (s, d) => TextOps.luhnValidCards(
        t(s, d, "documents").withColumn("text",
          concat(col("text"), when(col("doc_id") % 9 === 2,
            lit(" card 4532015112830366 ref 4532015112830367")).otherwise(lit("")))),
        "doc_id", "text"),
      """WITH d AS (
           SELECT doc_id,
             text || CASE WHEN doc_id % 9 = 2
               THEN ' card 4532015112830366 ref 4532015112830367' ELSE '' END AS text
           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         c AS (SELECT doc_id, regexp_extract_all(text, '[0-9]{13,19}') AS cands FROM d)
         SELECT doc_id, CAST(len(cands) AS INT) AS n_candidates,
           CAST(len(list_filter(cands, s ->
             list_sum(list_transform(range(1, length(s) + 1), i ->
               CASE WHEN i % 2 = 0
                    THEN CASE WHEN 2 * CAST(substr(reverse(s), CAST(i AS INT), 1) AS INT) > 9
                              THEN 2 * CAST(substr(reverse(s), CAST(i AS INT), 1) AS INT) - 9
                              ELSE 2 * CAST(substr(reverse(s), CAST(i AS INT), 1) AS INT) END
                    ELSE CAST(substr(reverse(s), CAST(i AS INT), 1) AS INT) END)) % 10 = 0))
             AS INT) AS n_valid
         FROM c"""),

    // casing/digit composition profile (round 13, filling the t25
    // registry hole): ALL-CAPS share, Capitalized share, digit share of
    // non-whitespace chars, 30% shouting gate — the Gopher symbol rules
    // t02's quality signals don't cover
    "t25_casing_profile" -> entry(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("__toks"))
        .select(col("doc_id") +:
          TextOps.casingColumnsFromTokens(col("text"), col("__toks")): _*),
      """WITH w AS (
           SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g') AS nws
           FROM documents),
         c AS (
           SELECT doc_id, text, toks,
             len(toks) AS n_tokens,
             len(list_filter(toks, t -> regexp_matches(t, '\A[A-Z]{2,}\z'))) AS n_allcaps,
             len(list_filter(toks, t -> regexp_matches(t, '\A[A-Z]'))) AS n_cap,
             len(nws) AS n_nws,
             len(nws) - len(regexp_replace(nws, '[0-9]', '', 'g')) AS n_dig
           FROM w)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(n_allcaps AS DOUBLE) / NULLIF(n_tokens, 0) AS allcaps_ratio,
                CAST(n_cap AS DOUBLE) / NULLIF(n_tokens, 0) AS capitalized_ratio,
                CAST(n_dig AS DOUBLE) / NULLIF(n_nws, 0) AS digit_ratio,
                CASE WHEN text IS NULL THEN NULL
                     ELSE COALESCE(CAST(n_allcaps AS DOUBLE) / NULLIF(n_tokens, 0) > 0.3, FALSE)
                END AS is_shouty
         FROM c"""),

    // OOV rate vs the corpus top-20 vocabulary (round 12): the gate run
    // before committing to a fixed tokenizer — occurrences, not types;
    // vocab boundary pinned by the (count desc, token asc) total order
    "t26_oov_rate" -> entry(
      (s, d) => TextOps.oovRate(
        t(s, d, "documents"), "doc_id", "text",
        TextOps.vocabCoverage(t(s, d, "documents"), "text", k = 20)
          .select(col("token"))),
      """WITH e AS (
           SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS token
           FROM documents WHERE text IS NOT NULL),
         vocab AS (
           SELECT token FROM (
             SELECT token, COUNT(*) AS n FROM e GROUP BY 1
             ORDER BY n DESC, token LIMIT 20)),
         dt AS (
           SELECT d.doc_id, t.tok
           FROM documents d
           LEFT JOIN LATERAL (
             SELECT unnest(list_filter(string_split(d.text, ' '), w -> w <> '')) AS tok
           ) t ON TRUE
           WHERE d.doc_id IS NOT NULL AND d.text IS NOT NULL)
         SELECT doc_id, COUNT(tok) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE tok IS NOT NULL
             AND tok NOT IN (SELECT token FROM vocab)) AS BIGINT) AS n_oov,
           CAST(COUNT(*) FILTER (WHERE tok IS NOT NULL
             AND tok NOT IN (SELECT token FROM vocab)) AS DOUBLE)
             / CASE WHEN COUNT(tok) > 0 THEN COUNT(tok) END AS oov_rate
         FROM dt GROUP BY 1"""),

    // bigram-LM cross-entropy quality score (round 12): the KenLM-style
    // perplexity filter — add-one-smoothed bigram model trained on the
    // corpus itself, each doc scored by mean −ln P(w2|w1). Per-bigram
    // logs round to 9 dp from exact integer operands, the per-doc sum is
    // an exact DECIMAL(28,9) reduction (order-independent), final score
    // one fp division — the p05/t12 determinism recipe
    "t23_lm_score" -> entry(
      (s, d) => TextOps.lmQualityScore(t(s, d, "documents"), "doc_id", "text"),
      """WITH w AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents),
         g AS (
           SELECT doc_id,
             CASE WHEN len(w) < 2 THEN [] ELSE list_transform(range(1, len(w)),
               i -> concat_ws(' ', w[i], w[i+1])) END AS g2
           FROM w),
         tot AS (SELECT doc_id, CAST(len(g2) AS BIGINT) AS n_bigrams FROM g),
         e AS (SELECT doc_id, unnest(g2) AS gram FROM g),
         c12 AS (SELECT gram, COUNT(*) AS c12 FROM e GROUP BY 1),
         ctx AS (SELECT split_part(gram, ' ', 1) AS w1,
                   CAST(SUM(c12) AS BIGINT) AS c1
                 FROM c12 GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT split_part(gram, ' ', 2)) AS v FROM c12),
         sc AS (SELECT e.doc_id,
                  CAST(round(-ln(CAST(c.c12 + 1 AS DOUBLE) / (x.c1 + v.v)), 9)
                    AS DECIMAL(28,9)) AS lp
                FROM e
                JOIN c12 c ON c.gram = e.gram
                JOIN ctx x ON x.w1 = split_part(e.gram, ' ', 1)
                CROSS JOIN v),
         agg AS (SELECT doc_id, SUM(lp) AS s FROM sc GROUP BY 1)
         SELECT t.doc_id, t.n_bigrams,
                CAST(a.s AS DOUBLE) / t.n_bigrams AS xent
         FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id"""),

    // LSH banding S-curve audit (round 12): candidate-pair volume per
    // band config from bucket SIZES (n·(n−1)/2 per bucket) — the
    // bands/rows tuning measurement, one aggregate, zero pairs
    // materialized. Bucket key = exact band values (md5-family signature
    // for cross-engine replay)
    "d23_band_sensitivity" -> entry(
      (s, d) => graft.operators.Dedup.bandSensitivity(
        t(s, d, "documents"), "doc_id", "text", k = 8,
        signature = Some(graft.operators.Dedup.md5MinhashSignature(_, 8))),
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
           FROM documents WHERE text IS NOT NULL),
         sh AS (
           SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                ELSE list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) END AS shingles
           FROM toks),
         sig AS (
           SELECT doc_id, list_transform(range(0, 8), i ->
             list_min(list_transform(shingles, s ->
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15)) AS BIGINT)))) AS sig
           FROM sh),
         banded AS (
           SELECT cfg.bands, cfg.band,
             array_to_string(list_transform(
               list_slice(sig, cfg.band * (8 // cfg.bands) + 1,
                 cfg.band * (8 // cfg.bands) + (8 // cfg.bands)),
               v -> CAST(v AS VARCHAR)), ',') AS key
           FROM sig, (VALUES (2, 0), (2, 1),
                             (4, 0), (4, 1), (4, 2), (4, 3),
                             (8, 0), (8, 1), (8, 2), (8, 3),
                             (8, 4), (8, 5), (8, 6), (8, 7)) cfg(bands, band)),
         buckets AS (
           SELECT bands, band, key, COUNT(*) AS n
           FROM banded GROUP BY 1, 2, 3)
         SELECT bands,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_candidate_pairs
         FROM buckets GROUP BY 1"""),

    // Bloom-prefiltered exact decontamination (round 12): d14's check
    // restructured the way trillion-token pipelines run it — a Bloom
    // filter of the eval side's gram hashes (built distributed via a
    // typed Aggregator, OR-merged partials) prunes the train-side gram
    // stream in a codegen'd probe BEFORE the join's shuffle; the exact
    // confirm join on the raw gram removes the one-sided FP error, so the
    // output is bit-identical to the unfiltered join and the plain d14
    // oracle SQL replays it. Different split (mod 7) and n (6) from d14
    // so the two entries exercise different fixtures
    "d24_bloom_decontam" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Dedup.bloomNgramContamination(
          docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(7)) === 0),
          "doc_id", "text", n = 6, numBits = 1L << 20, numHashes = 7)
      },
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id, gram FROM (
             SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(w) <= 6 THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w) - 4),
                           i -> array_to_string(list_slice(w, i, i + 5), ' '))
               END)) AS gram
             FROM toks)
           WHERE gram <> '')
         SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS n_shared
         FROM g t JOIN g e ON t.gram = e.gram
         WHERE t.doc_id % 7 <> 0 AND e.doc_id % 7 = 0
         GROUP BY 1, 2"""),

    // categorical drift between splits (round 11): per-value chi-square
    // contributions over the md5 train/test split — deliberately NOT
    // PSI/KL (per-value ln = libm at the engine boundary; see
    // Profile.categoricalDrift); rational functions of exact counts
    "p08_drift" -> entry(
      (s, d) => graft.operators.Profile.categoricalDrift(
        t(s, d, "documents").withColumn("split",
          when(graft.operators.SampleOps.md5Bucket(col("doc_id")) < 60, "train")
            .otherwise("test")),
        "lang", "split", "train", "test"),
      """WITH s AS (SELECT lang,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 60
                  THEN 'train' ELSE 'test' END AS split
           FROM documents),
         c AS (SELECT lang AS value,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
           FROM s WHERE lang IS NOT NULL GROUP BY 1),
         t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS na, CAST(SUM(n_b) AS BIGINT) AS nb FROM c),
         e AS (SELECT c.value, c.n_a, c.n_b, t.na, t.nb,
                 (CAST(c.n_a + c.n_b AS DOUBLE) * t.na) / (t.na + t.nb) AS ea,
                 (CAST(c.n_a + c.n_b AS DOUBLE) * t.nb) / (t.na + t.nb) AS eb
               FROM c, t)
         SELECT value, n_a, n_b,
           CASE WHEN na > 0 AND nb > 0 THEN
             (n_a - ea) * (n_a - ea) / ea + (n_b - eb) * (n_b - eb) / eb END AS chi2
         FROM e"""),

    // numeric drift (round 12): binned two-sample KS curve over the md5
    // train/test split — p03's bin math + a <=64-row cumulative window;
    // the numeric complement of p08's categorical chi-square. Binned, not
    // exact-ECDF: exact needs an unbounded distinct-value walk (the p02
    // lesson); bins bound both the window and the statistic's error
    // winsorized per-group mean (round 12): exact [p05, p95] quantile
    // clamp + clip counts — outlier-robust location with the tail mass
    // reported, not absorbed. Mean = one fp division of exact integers
    // one-pass correlation matrix (round 12): every pairwise Pearson r
    // over 4 lineitem measures from ONE sufficient-stats aggregate —
    // the naive form scans the table once per pair; sums/cross-products
    // are exact decimals, each r one fixed fp expression (p05/p07
    // discipline incl. the VARCHAR-route decimal→double cast)
    "p17_corr_matrix" -> entry(
      (s, d) => graft.operators.Profile.correlationMatrix(
        t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      """WITH s AS (
           SELECT COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(19,2))) AS s_q,
             SUM(CAST(l_extendedprice AS DECIMAL(19,2))) AS s_e,
             SUM(CAST(l_discount AS DECIMAL(19,2))) AS s_d,
             SUM(CAST(l_tax AS DECIMAL(19,2))) AS s_t,
             SUM(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(19,2))) AS ss_q,
             SUM(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2))) AS ss_e,
             SUM(CAST(l_discount AS DECIMAL(19,2)) * CAST(l_discount AS DECIMAL(19,2))) AS ss_d,
             SUM(CAST(l_tax AS DECIMAL(19,2)) * CAST(l_tax AS DECIMAL(19,2))) AS ss_t,
             SUM(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2))) AS sp_q_e,
             SUM(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_discount AS DECIMAL(19,2))) AS sp_q_d,
             SUM(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_tax AS DECIMAL(19,2))) AS sp_q_t,
             SUM(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(l_discount AS DECIMAL(19,2))) AS sp_e_d,
             SUM(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(l_tax AS DECIMAL(19,2))) AS sp_e_t,
             SUM(CAST(l_discount AS DECIMAL(19,2)) * CAST(l_tax AS DECIMAL(19,2))) AS sp_d_t
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
         v AS (
           SELECT n,
             CAST(CAST(s_q AS VARCHAR) AS DOUBLE) AS s_q,
             CAST(CAST(s_e AS VARCHAR) AS DOUBLE) AS s_e,
             CAST(CAST(s_d AS VARCHAR) AS DOUBLE) AS s_d,
             CAST(CAST(s_t AS VARCHAR) AS DOUBLE) AS s_t,
             CAST(CAST(ss_q AS VARCHAR) AS DOUBLE) AS ss_q,
             CAST(CAST(ss_e AS VARCHAR) AS DOUBLE) AS ss_e,
             CAST(CAST(ss_d AS VARCHAR) AS DOUBLE) AS ss_d,
             CAST(CAST(ss_t AS VARCHAR) AS DOUBLE) AS ss_t,
             CAST(CAST(sp_q_e AS VARCHAR) AS DOUBLE) AS sp_q_e,
             CAST(CAST(sp_q_d AS VARCHAR) AS DOUBLE) AS sp_q_d,
             CAST(CAST(sp_q_t AS VARCHAR) AS DOUBLE) AS sp_q_t,
             CAST(CAST(sp_e_d AS VARCHAR) AS DOUBLE) AS sp_e_d,
             CAST(CAST(sp_e_t AS VARCHAR) AS DOUBLE) AS sp_e_t,
             CAST(CAST(sp_d_t AS VARCHAR) AS DOUBLE) AS sp_d_t
           FROM s)
         SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
           CASE WHEN n = 0 OR n * ss_q - s_q * s_q <= 0 OR n * ss_e - s_e * s_e <= 0 THEN NULL
                ELSE (n * sp_q_e - s_q * s_e)
                     / sqrt((n * ss_q - s_q * s_q) * (n * ss_e - s_e * s_e)) END AS r FROM v
         UNION ALL
         SELECT 'l_quantity', 'l_discount', n,
           CASE WHEN n = 0 OR n * ss_q - s_q * s_q <= 0 OR n * ss_d - s_d * s_d <= 0 THEN NULL
                ELSE (n * sp_q_d - s_q * s_d)
                     / sqrt((n * ss_q - s_q * s_q) * (n * ss_d - s_d * s_d)) END FROM v
         UNION ALL
         SELECT 'l_quantity', 'l_tax', n,
           CASE WHEN n = 0 OR n * ss_q - s_q * s_q <= 0 OR n * ss_t - s_t * s_t <= 0 THEN NULL
                ELSE (n * sp_q_t - s_q * s_t)
                     / sqrt((n * ss_q - s_q * s_q) * (n * ss_t - s_t * s_t)) END FROM v
         UNION ALL
         SELECT 'l_extendedprice', 'l_discount', n,
           CASE WHEN n = 0 OR n * ss_e - s_e * s_e <= 0 OR n * ss_d - s_d * s_d <= 0 THEN NULL
                ELSE (n * sp_e_d - s_e * s_d)
                     / sqrt((n * ss_e - s_e * s_e) * (n * ss_d - s_d * s_d)) END FROM v
         UNION ALL
         SELECT 'l_extendedprice', 'l_tax', n,
           CASE WHEN n = 0 OR n * ss_e - s_e * s_e <= 0 OR n * ss_t - s_t * s_t <= 0 THEN NULL
                ELSE (n * sp_e_t - s_e * s_t)
                     / sqrt((n * ss_e - s_e * s_e) * (n * ss_t - s_t * s_t)) END FROM v
         UNION ALL
         SELECT 'l_discount', 'l_tax', n,
           CASE WHEN n = 0 OR n * ss_d - s_d * s_d <= 0 OR n * ss_t - s_t * s_t <= 0 THEN NULL
                ELSE (n * sp_d_t - s_d * s_t)
                     / sqrt((n * ss_d - s_d * s_d) * (n * ss_t - s_t * s_t)) END FROM v"""),

    // Cramér's V (round 12): source↔lang association strength — the
    // stratification-redundancy check. χ² via the missing-cell-free
    // identity Σ n_ij²·n/(r_i·c_j) − n; per-cell contributions rounded
    // to 9 dp and summed as exact decimal (the t12/t23 recipe), one
    // final √ on exactly-known operands
    "p16_cramers_v" -> entry(
      (s, d) => graft.operators.Profile.cramersV(
        t(s, d, "documents"), "source", "lang"),
      """WITH cells AS (
           SELECT source AS a, lang AS b, COUNT(*) AS n FROM documents
           WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
         ra AS (SELECT a, CAST(SUM(n) AS BIGINT) AS ra FROM cells GROUP BY 1),
         cb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cb FROM cells GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n, COUNT(*) AS n_cells,
                   COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c FROM cells),
         sacc AS (
           SELECT SUM(CAST(round(
               CAST(cells.n AS DOUBLE) * cells.n * tot.n
                 / (CAST(ra.ra AS DOUBLE) * cb.cb), 9) AS DECIMAL(28,9))) AS s
           FROM cells
           JOIN ra ON ra.a = cells.a
           JOIN cb ON cb.b = cells.b
           CROSS JOIN tot)
         SELECT tot.n, tot.n_cells, tot.r, tot.c,
           CAST(CAST(sacc.s AS VARCHAR) AS DOUBLE) - tot.n AS chi2,
           CASE WHEN LEAST(tot.r, tot.c) <= 1 THEN NULL
                ELSE sqrt(GREATEST(CAST(CAST(sacc.s AS VARCHAR) AS DOUBLE) - tot.n, 0)
                          / (tot.n * (LEAST(tot.r, tot.c) - 1))) END AS cramers_v
         FROM sacc CROSS JOIN tot"""),

    // exact heavy hitters via Misra–Gries prune + exact confirm (round
    // 12): the sketch pass moves ≤k counters per partition, never the
    // NDV histogram; MG's no-eviction guarantee makes the thresholded
    // result deterministic, so a plain exact SQL oracle hash-matches.
    // Skew injected deterministically (the s17/t20 idiom — the fixture's
    // cohorts are near-uniform): residues 7/11 arrive 4×
    "p15_heavy_hitters" -> entry(
      (s, d) => {
        val base = t(s, d, "events").filter(col("user_id").isNotNull)
          .select(pmod(col("user_id"), lit(40L)).cast("string").as("cohort"))
        val boost = base.filter(col("cohort").isin("7", "11"))
        graft.operators.Profile.frequentItems(
          base.union(boost).union(boost).union(boost), "cohort", k = 16)
      },
      """WITH base AS (
           SELECT CAST(user_id % 40 AS VARCHAR) AS cohort FROM events
           WHERE user_id IS NOT NULL),
         sk AS (
           SELECT cohort FROM base
           UNION ALL SELECT cohort FROM base WHERE cohort IN ('7', '11')
           UNION ALL SELECT cohort FROM base WHERE cohort IN ('7', '11')
           UNION ALL SELECT cohort FROM base WHERE cohort IN ('7', '11')),
         c AS (SELECT cohort, COUNT(*) AS cnt FROM sk GROUP BY 1),
         t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
         SELECT c.cohort, c.cnt, CAST(c.cnt AS DOUBLE) / t.n AS share
         FROM c, t WHERE c.cnt * 17 > t.n"""),

    // mergeable profile state (round 14): snapshot A and snapshot B
    // (doc_id parity split) are profiled separately into bucketed
    // sufficient-statistics states, then MERGED without rescanning either
    // corpus — the d33 incremental idea applied to profiling. The oracle
    // recomputes the same state from scratch over the full table, so the
    // driver gate proves merge ≡ from-scratch under rows+schema+hash.
    // Caller-fixed [0, 640) × 16 buckets (fixed bounds are what make
    // shard states addable); NULLs bucket to −1; Σ/Σ² per-factor
    // DECIMAL(18,0) — integer-exact and engine-portable. The Σ/Σ²
    // columns cross the oracle boundary as VARCHAR (the p05/p07 route:
    // lossless for scale-0 decimals at any magnitude) because the
    // driver's hash is sensitive to the decimal type CLASS even when
    // every value matches — the operator's DECIMAL(38,0) accumulators
    // are untouched; only the entry's rendering changes
    "p18_mergeable_profile" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Profile.mergeProfileStates(
          graft.operators.Profile.numericProfileState(
            docs.filter(pmod(col("doc_id"), lit(2)) === 0), "n_chars", 0L, 640L, 16),
          graft.operators.Profile.numericProfileState(
            docs.filter(pmod(col("doc_id"), lit(2)) === 1), "n_chars", 0L, 640L, 16))
          .withColumn("sum_v", col("sum_v").cast("string"))
          .withColumn("sumsq_v", col("sumsq_v").cast("string"))
      },
      """WITH v AS (
           SELECT CASE WHEN n_chars IS NULL THEN -1
                  ELSE LEAST(15, GREATEST(0, (CAST(n_chars AS BIGINT) * 16) // 640)) END AS bucket,
             CAST(n_chars AS BIGINT) AS v
           FROM documents)
         SELECT bucket, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(v AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS VARCHAR) AS sum_v,
           CAST(CAST(SUM(CAST(v AS DECIMAL(18,0)) * CAST(v AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS VARCHAR) AS sumsq_v,
           MIN(v) AS min_v, MAX(v) AS max_v
         FROM v GROUP BY 1"""),

    // generation-aware profile-state compaction (round 15): shard B's
    // FIRST profile ran on a stale partial snapshot (only half its docs
    // had landed — doc_id ≡ 1 mod 4); the re-profile at gen 2 covers the
    // full shard. A naive mergeProfileStates over all three states would
    // double-count B; compactProfileStates supersedes B's gen 1 (the
    // d36 compactBandIndex idiom), so the merge equals the from-scratch
    // state of the EFFECTIVE corpus — which is exactly what the oracle
    // recomputes. Same [0, 640) × 16 config and VARCHAR Σ/Σ² boundary
    // as p18
    "p19_profile_compaction" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
        def st(pred: org.apache.spark.sql.Column) = graft.operators.Profile.numericProfileState(
          docs.filter(pred), "n_chars", 0L, 640L, 16)
        val stA = st(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("shard", lit("A")).withColumn("gen", lit(1))
        val stB1 = st(pmod(col("doc_id"), lit(4)) === 1)
          .withColumn("shard", lit("B")).withColumn("gen", lit(1))
        val stB2 = st(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("shard", lit("B")).withColumn("gen", lit(2))
        graft.operators.Profile.mergeProfileStates(
          graft.operators.Profile.compactProfileStates(
              stA.unionByName(stB1).unionByName(stB2))
            .drop("shard", "gen"))
          .withColumn("sum_v", col("sum_v").cast("string"))
          .withColumn("sumsq_v", col("sumsq_v").cast("string"))
      },
      """WITH v AS (
           SELECT CASE WHEN n_chars IS NULL THEN -1
                  ELSE LEAST(15, GREATEST(0, (CAST(n_chars AS BIGINT) * 16) // 640)) END AS bucket,
             CAST(n_chars AS BIGINT) AS v
           FROM documents)
         SELECT bucket, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(v AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS VARCHAR) AS sum_v,
           CAST(CAST(SUM(CAST(v AS DECIMAL(18,0)) * CAST(v AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS VARCHAR) AS sumsq_v,
           MIN(v) AS min_v, MAX(v) AS max_v
         FROM v GROUP BY 1"""),

    // mergeable Misra-Gries state (round 15): the p18 persisted-state
    // discipline applied to the heavy-hitters sketch. Each event-id-parity
    // shard of p15's skewed corpus is sketched ONCE into a ≤k-row
    // (item, cnt) state; the states merge via the Mergeable Summaries
    // sum-then-cut (never re-reading shard data), and one candidate-
    // filtered confirm pass makes the result exact. MG's merged one-sided
    // guarantee (no item above n/(k+1) can be missing from the merged
    // candidates, whatever the merge order) means the output EQUALS the
    // from-scratch p15 answer — so p15's plain exact SQL oracle
    // hash-matches it verbatim
    "p20_mg_state_merge" -> entry(
      (s, d) => {
        val base = t(s, d, "events").filter(col("user_id").isNotNull)
          .select(col("event_id"),
            pmod(col("user_id"), lit(40L)).cast("string").as("cohort"))
        val boost = base.filter(col("cohort").isin("7", "11"))
        val skewed = base.union(boost).union(boost).union(boost)
        // event-id parity, ORTHOGONAL to the cohort key: every heavy
        // cohort spans both shards, so the merge genuinely sums partial
        // counts rather than concatenating disjoint item sets
        val stA = graft.operators.Profile.misraGriesState(
          skewed.filter(pmod(col("event_id"), lit(2)) === 0), "cohort", 16)
        val stB = graft.operators.Profile.misraGriesState(
          skewed.filter(pmod(col("event_id"), lit(2)) === 1), "cohort", 16)
        graft.operators.Profile.frequentItemsFromStates(skewed, "cohort", 16, stA, stB)
      },
      """WITH base AS (
           SELECT CAST(user_id % 40 AS VARCHAR) AS cohort FROM events
           WHERE user_id IS NOT NULL),
         sk AS (
           SELECT cohort FROM base
           UNION ALL SELECT cohort FROM base WHERE cohort IN ('7', '11')
           UNION ALL SELECT cohort FROM base WHERE cohort IN ('7', '11')
           UNION ALL SELECT cohort FROM base WHERE cohort IN ('7', '11')),
         c AS (SELECT cohort, COUNT(*) AS cnt FROM sk GROUP BY 1),
         t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
         SELECT c.cohort, c.cnt, CAST(c.cnt AS DOUBLE) / t.n AS share
         FROM c, t WHERE c.cnt * 17 > t.n"""),

    // mergeable Bloom state (round 15): the membership member of the
    // persisted-state family (moments p18/p19, heavy hitters p20). The
    // eval side's two halves are sketched into per-shard (idx, word)
    // Bloom states; the OR-merge is BIT-EXACT (set bits are per-key
    // deterministic, OR is associative/commutative/idempotent), so the
    // rehydrated union filter — and therefore the Bloom-pruned,
    // exactly-confirmed decontamination it drives — is identical to the
    // from-scratch d24 pipeline, and the plain exact n-gram SQL oracle
    // replays it. n=5 / mod-5 split so the fixture differs from d14 (13,
    // mod 3) and d24 (6, mod 7)
    "p21_bloom_state_decontam" -> entry(
      (s, d) => {
        import graft.functions.BloomFilterOps
        val docs = t(s, d, "documents")
        val bits = 1L << 20
        def shard(m: Long) = Dedup.bloomGramState(
          docs.filter(pmod(col("doc_id"), lit(10)) === m), "doc_id", "text",
          n = 5, numBits = bits, numHashes = 7)
        val words = BloomFilterOps.wordsFromState(
          BloomFilterOps.mergeBloomStates(shard(0L), shard(5L)), bits)
        Dedup.bloomNgramContaminationWithFilter(
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          "doc_id", "text", n = 5, minShared = 1, words, numHashes = 7)
      },
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id, gram FROM (
             SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(w) <= 5 THEN [array_to_string(w, ' ')]
                    ELSE list_transform(range(1, len(w) - 3),
                           i -> array_to_string(list_slice(w, i, i + 4), ' '))
               END)) AS gram
             FROM toks)
           WHERE gram <> '')
         SELECT t.doc_id AS train_id, e.doc_id AS eval_id, COUNT(*) AS n_shared
         FROM g t JOIN g e ON t.gram = e.gram
         WHERE t.doc_id % 5 <> 0 AND e.doc_id % 5 = 0
         GROUP BY 1, 2"""),

    // mergeable quantile/histogram state (round 16): the last member of
    // the persisted-state family (moments p18/p19, heavy hitters p20,
    // membership p21). The same generation story as p19 — shard B's gen-1
    // profile ran on a stale partial, gen 2 re-profiled the full shard —
    // but the read-out is QUANTILES: compaction supersedes B gen 1, the
    // merged fixed-boundary bucket counts are exact, and each requested q
    // resolves to the smallest bucket whose cumulative count reaches rank
    // max(1, ceil(q*N)) with integer-exact `div` bounds. The oracle
    // replays bucket/cumulative/rank from the RAW table, so the driver
    // gate proves compact+merge+answer ≡ from-scratch at hash level.
    // [0, 640) x 32 buckets (deliberately different from p18/p19's 16);
    // qs cast to DOUBLE on both sides
    "p22_quantile_state" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
        def st(pred: org.apache.spark.sql.Column) = graft.operators.Profile.numericProfileState(
          docs.filter(pred), "n_chars", 0L, 640L, 32)
        val stA = st(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("shard", lit("A")).withColumn("gen", lit(1))
        val stB1 = st(pmod(col("doc_id"), lit(4)) === 1)
          .withColumn("shard", lit("B")).withColumn("gen", lit(1))
        val stB2 = st(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("shard", lit("B")).withColumn("gen", lit(2))
        graft.operators.Profile.quantilesFromState(
          graft.operators.Profile.mergeProfileStates(
            graft.operators.Profile.compactProfileStates(
                stA.unionByName(stB1).unionByName(stB2))
              .drop("shard", "gen")),
          Seq(0.25, 0.5, 0.75, 0.9, 0.99), 0L, 640L, 32)
      },
      """WITH v AS (
           SELECT LEAST(31, GREATEST(0, (CAST(n_chars AS BIGINT) * 32) // 640)) AS bucket
           FROM documents WHERE n_chars IS NOT NULL),
         c AS (SELECT bucket, COUNT(*) AS n FROM v GROUP BY 1),
         cum AS (SELECT bucket, CAST(SUM(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n FROM c),
         t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM v),
         q AS (SELECT UNNEST(CAST([0.25, 0.5, 0.75, 0.9, 0.99] AS DOUBLE[])) AS q)
         SELECT q.q, MIN(cum.bucket) AS bucket,
           (MIN(cum.bucket) * 640) // 32 AS lo_v,
           ((MIN(cum.bucket) + 1) * 640) // 32 AS hi_v,
           t.n_total
         FROM q, cum, t
         WHERE cum.cum_n >= GREATEST(1, CAST(CEIL(q.q * t.n_total - 1e-9) AS BIGINT))
         GROUP BY q.q, t.n_total"""),

    // bound-free mergeable quantile state (round 17): p22's fixed-boundary
    // buckets need a-priori [lo, hi) — a corpus with unknown range needs a
    // pre-scan. p23 is the log-bucketed (HdrHistogram/DDSketch-style)
    // sibling: integer-exact bucket function over the whole long domain,
    // exact count-addition merge, quantile read-out with a 2^-subBits
    // value-relative width guarantee. Three shard states built
    // independently, merged, answered — the oracle replays bucket
    // assignment, cumulative rank (shared EPS ceil idiom), and the
    // integer bucket bounds from the RAW table, so the driver gate proves
    // build+merge+answer ≡ from-scratch at hash level. subBits=6.
    "p23_logbucket_quantiles" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents")
        val st = (i: Int) => graft.operators.Profile.logBucketState(
          docs.filter(pmod(col("doc_id"), lit(3)) === i), "n_chars", 6)
        graft.operators.Profile.quantilesFromLogBucketState(
          graft.operators.Profile.mergeLogBucketStates(st(0), st(1), st(2)),
          Seq(0.25, 0.5, 0.75, 0.9, 0.99))
      },
      """WITH raw AS (
           SELECT CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars IS NOT NULL),
         b AS (SELECT v,
             CASE WHEN v > 0 THEN 1 WHEN v = 0 THEN 0 ELSE -1 END AS sign,
             CASE WHEN v = 0 THEN 0
                  ELSE GREATEST(LENGTH(bin(ABS(v))) - 7, 0) END AS shift,
             CASE WHEN v = 0 THEN CAST(0 AS BIGINT)
                  ELSE ABS(v) >> GREATEST(LENGTH(bin(ABS(v))) - 7, 0) END AS sub
           FROM raw),
         st AS (SELECT sign, shift, sub, COUNT(*) AS n FROM b GROUP BY 1, 2, 3),
         bounds AS (SELECT n,
             CASE WHEN sign > 0 THEN sub << shift WHEN sign = 0 THEN 0
                  ELSE 1 - ((sub + 1) << shift) END AS lo_v,
             CASE WHEN sign > 0 THEN (sub + 1) << shift WHEN sign = 0 THEN 1
                  ELSE 1 - (sub << shift) END AS hi_v
           FROM st),
         cum AS (SELECT lo_v, hi_v,
             CAST(SUM(n) OVER (ORDER BY lo_v) AS BIGINT) AS cum_n FROM bounds),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM st),
         q AS (SELECT UNNEST(CAST([0.25, 0.5, 0.75, 0.9, 0.99] AS DOUBLE[])) AS q)
         SELECT q.q, MIN(cum.lo_v) AS lo_v, MIN_BY(cum.hi_v, cum.lo_v) AS hi_v, t.n_total
         FROM q, cum, t
         WHERE cum.cum_n >= GREATEST(1, CAST(CEIL(q.q * t.n_total - 1e-9) AS BIGINT))
         GROUP BY q.q, t.n_total"""),

    // mergeable HyperLogLog distinct-count state (round 17): the
    // cardinality member of the persisted-sketch family — estimate unique
    // users from per-shard register states without re-reading shard data
    // (at 100 TB: size the dedup job from kilobytes of state). Three shard
    // states built independently, merged (register-wise max), answered.
    // The oracle replays hash, register assignment (bit-length rank), the
    // integer-exact scaled harmonic sum, and the estimator from the RAW
    // table, so the driver gate proves build+merge+answer ≡ from-scratch
    // at hash level. p=9 (512 registers, ~4.6% standard error); the only
    // library-float step (linear counting's ln) is rounded to 4 decimals
    // on both sides, with the exact rational inputs alongside.
    "p24_hll_distinct" -> entry(
      (s, d) => {
        val ev = t(s, d, "events")
        val st = (i: Int) => graft.operators.Profile.hllState(
          ev.filter(pmod(col("user_id"), lit(3)) === i), "user_id", 9)
        graft.operators.Profile.distinctFromHllState(
          graft.operators.Profile.mergeHllStates(st(0), st(1), st(2)), 9)
      },
      """WITH h AS (
           SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM events WHERE user_id IS NOT NULL),
         r AS (
           SELECT h % 512 AS idx,
             MAX(CASE WHEN h // 512 = 0 THEN 52
                      ELSE 52 - LENGTH(bin(h // 512)) END) AS reg
           FROM h GROUP BY 1),
         a AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS present,
             CAST(COALESCE(SUM(CAST(1 AS BIGINT) << (52 - reg)), 0) AS BIGINT) AS z_present
           FROM r),
         sc AS (
           SELECT CAST(512 AS BIGINT) AS m,
             CAST(512 - present AS BIGINT) AS n_zero,
             CAST(z_present + (512 - present) * (CAST(1 AS BIGINT) << 52) AS BIGINT) AS z_scaled
           FROM a),
         e AS (
           SELECT m, n_zero, z_scaled,
             ((0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0) * 4503599627370496.0
               / CAST(z_scaled AS DOUBLE) AS est_raw
           FROM sc)
         SELECT m, n_zero, z_scaled, est_raw,
           CASE WHEN est_raw <= 2.5 * CAST(m AS DOUBLE) AND n_zero > 0
                THEN 'linear' ELSE 'raw' END AS method,
           CASE WHEN est_raw <= 2.5 * CAST(m AS DOUBLE) AND n_zero > 0
                THEN ROUND(CAST(m AS DOUBLE) * LN(CAST(m AS DOUBLE) / CAST(n_zero AS DOUBLE)), 4)
                ELSE est_raw END AS est
         FROM e"""),

    // functional-dependency discovery (round 17): does every determinant
    // value map to at most one dependent value — key inference and
    // denormalization audit as a query, with the violation COUNT and the
    // worst key's fan-out rather than a bare boolean. o_orderkey→o_custkey
    // holds (orderkey is the key), o_custkey→o_orderstatus is violated,
    // and o_orderdate→month (a derived column) holds NON-trivially —
    // the classic function-of-the-determinant dependency
    // per-semantic-cluster curation profile (round 18): what is IN each
    // d42 k-means cell — doc count, exact text mass, source diversity,
    // dominant language with the (count DESC, lang ASC) tie rule. The
    // generated oracle replays the whole composition: full k-means
    // training CTEs + the doc↔assignment join + the t01 language CASE
    // chain + both aggregates and the mode rank.
    "p27_cluster_profile" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.operators.Profile.semanticClusterProfile(
          t(s, d, "documents"), "doc_id", "text", "source",
          Similarity.kmeansAssign(emb, "vec_id", "embedding",
            Similarity.kmeansDistributed(emb, "vec_id", "embedding",
              nCentroids = 8, iters = 4)))
      })((s, d) => clusterProfileOracleSql(s, d, k = 8, iters = 4)),

    "p26_functional_deps" -> entry(
      (s, d) => graft.operators.Profile.functionalDependencies(
        t(s, d, "orders")
          .withColumn("o_month", date_trunc("month", col("o_orderdate"))),
        Seq(
          ("o_orderkey", "o_custkey"),
          ("o_custkey", "o_orderstatus"),
          ("o_orderdate", "o_month"))),
      """WITH p1 AS (
           SELECT o_orderkey AS k, COUNT(DISTINCT o_custkey) AS nb
           FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
         p2 AS (
           SELECT o_custkey AS k, COUNT(DISTINCT o_orderstatus) AS nb
           FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
         p3 AS (
           SELECT o_orderdate AS k, COUNT(DISTINCT date_trunc('month', o_orderdate)) AS nb
           FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
         r1 AS (SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(COALESCE(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violating_keys,
             CAST(COALESCE(MAX(nb), 0) AS BIGINT) AS max_fanout
           FROM p1),
         r2 AS (SELECT 'o_custkey', 'o_orderstatus',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(COALESCE(MAX(nb), 0) AS BIGINT)
           FROM p2),
         r3 AS (SELECT 'o_orderdate', 'o_month',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(COALESCE(MAX(nb), 0) AS BIGINT)
           FROM p3),
         u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3)
         SELECT determinant, dependent, n_keys, n_violating_keys, max_fanout,
           n_violating_keys = 0 AS fd_holds
         FROM u"""),

    // mergeable KMV bottom-k sketch + cross-corpus overlap (round 17):
    // the set-operation member of the persisted-sketch family — HLL (p24)
    // unions but cannot intersect; KMV states hold concrete bottom-k hash
    // values, so two corpora's states estimate their Jaccard overlap and
    // intersection size with NO corpus rescan ("is cross-corpus dedup
    // even worth scheduling?"). Click-users vs purchase-users, each side
    // built as three shard states merged (bottom-k of union = from-scratch
    // bottom-k, the family's hash-exact merge), then kmvOverlap. The
    // oracle replays hash, per-side bottom-k, merged bottom-k, shared
    // membership, and the (k-1)*2^60/h_(k) estimator from the RAW table —
    // build+merge+estimate ≡ from-scratch at hash level. k=64; the only
    // float ops are one multiply-divide chain, bit-deterministic.
    "p25_kmv_overlap" -> entry(
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        // each side's state feeds THREE consumers in kmvOverlap (the
        // merged bottom-k union, the shared semi-join, the n_a/n_b
        // count) — checkpoint the <=k-row state eagerly (the d25 idiom)
        // so the shard-build corpus scan runs once, exactly as a real
        // pipeline reads a state PERSISTED next to the shard
        def st(tp: String) = {
          val side = ev.filter(col("event_type") === tp)
          val raw = graft.operators.Profile.mergeKmvStates(64,
            (0 until 3).map(i => graft.operators.Profile.kmvState(
              side.filter(pmod(col("user_id"), lit(3)) === i), "user_id", 64)): _*)
          GraftSession.eagerPin(raw)
        }
        graft.operators.Profile.kmvOverlap(st("click"), st("purchase"), 64)
      },
      """WITH ha AS (
           SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM events WHERE user_id IS NOT NULL AND event_type = 'click'),
         sa AS (SELECT h FROM ha ORDER BY h LIMIT 64),
         hb AS (
           SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'),
         sb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
         un AS (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)),
         mg AS (SELECT h FROM un ORDER BY h LIMIT 64),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_union_topk, MAX(h) AS kth FROM mg),
         sh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_shared FROM mg
                WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
         na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM sa),
         nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM sb),
         e AS (
           SELECT CAST(64 AS INT) AS k, na.n_a, nb.n_b, m.n_union_topk, sh.n_shared,
             CASE WHEN m.n_union_topk = 0 THEN 0.0
                  ELSE CAST(sh.n_shared AS DOUBLE) / CAST(m.n_union_topk AS DOUBLE)
             END AS jaccard_est,
             CASE WHEN m.n_union_topk < 64 THEN CAST(m.n_union_topk AS DOUBLE)
                  ELSE 63.0 * 1152921504606846976.0 / CAST(m.kth AS DOUBLE)
             END AS union_est,
             CASE WHEN m.n_union_topk < 64 THEN 'exact' ELSE 'estimate' END AS method
           FROM m, sh, na, nb)
         SELECT k, n_a, n_b, n_union_topk, n_shared, jaccard_est, union_est,
           jaccard_est * union_est AS inter_est, method
         FROM e"""),

    // per-source Gini concentration (round 12): the Lorenz-curve scalar
    // over each source's char-mass distribution — all-integer closed form
    // over the value histogram (DECIMAL(38,0) / HUGEINT), one final fp
    // division via the p07 VARCHAR-route cast
    "p14_gini" -> entry(
      (s, d) => graft.operators.Profile.giniConcentration(
        t(s, d, "documents").filter(col("source").isNotNull),
        Seq("source"), "n_chars"),
      """WITH dist AS (
           SELECT source, n_chars AS v, COUNT(*) AS cnt FROM documents
           WHERE n_chars IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
         w AS (SELECT source, v, cnt,
             CAST(COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS b
           FROM dist),
         t AS (SELECT source,
             CAST(SUM(cnt) AS HUGEINT) AS n,
             SUM(CAST(cnt AS HUGEINT) * v) AS s,
             SUM(CAST(v AS HUGEINT) * (CAST(cnt AS HUGEINT) * b
               + (CAST(cnt AS HUGEINT) * (cnt + 1)) // 2)) AS t
           FROM w GROUP BY 1)
         SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(s AS BIGINT) AS total_mass,
           CASE WHEN n * s = 0 THEN NULL
                ELSE CAST(CAST(2 * t - (n + 1) * s AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(n * s AS VARCHAR) AS DOUBLE) END AS gini
         FROM t"""),

    "p13_winsorized" -> entry(
      (s, d) => graft.operators.Profile.winsorizedStats(
        t(s, d, "documents"), Seq("source"), "n_chars", 0.05, 0.95),
      """WITH dist AS (
           SELECT source, n_chars AS v, COUNT(*) AS cnt
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
         w AS (
           SELECT source, v, cnt,
             SUM(cnt) OVER (PARTITION BY source ORDER BY v) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS n
           FROM dist),
         b AS (
           SELECT source,
             MAX(CASE WHEN cum >= GREATEST(1, CAST(ceil(0.05 * n) AS BIGINT))
                       AND cum - cnt < GREATEST(1, CAST(ceil(0.05 * n) AS BIGINT))
                      THEN v END) AS q_lo,
             MAX(CASE WHEN cum >= GREATEST(1, CAST(ceil(0.95 * n) AS BIGINT))
                       AND cum - cnt < GREATEST(1, CAST(ceil(0.95 * n) AS BIGINT))
                      THEN v END) AS q_hi
           FROM w GROUP BY 1)
         SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN d.n_chars < b.q_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
           CAST(SUM(CASE WHEN d.n_chars > b.q_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
           b.q_lo, b.q_hi,
           CAST(CAST(SUM(LEAST(GREATEST(d.n_chars, b.q_lo), b.q_hi)) AS BIGINT) AS DOUBLE)
             / COUNT(*) AS winsorized_mean
         FROM documents d JOIN b USING (source)
         WHERE d.n_chars IS NOT NULL
         GROUP BY d.source, b.q_lo, b.q_hi"""),

    "p12_ks_drift" -> entry(
      (s, d) => graft.operators.Profile.binnedKsDrift(
        t(s, d, "orders").withColumn("split",
          when(graft.operators.SampleOps.md5Bucket(col("o_orderkey")) < 60, "train")
            .otherwise("test")),
        "o_totalprice", "split", "train", "test", nBuckets = 64),
      """WITH s AS (
           SELECT CAST(o_totalprice AS DOUBLE) AS v,
             CASE WHEN CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 60
                  THEN 'train' ELSE 'test' END AS split
           FROM orders WHERE o_totalprice IS NOT NULL),
         st AS (SELECT MIN(v) AS vmin, MAX(v) AS vmax,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS tot_a,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS tot_b
           FROM s),
         b AS (
           SELECT CASE WHEN st.vmax > st.vmin
                       THEN LEAST(63, CAST(trunc((s.v - st.vmin) / (st.vmax - st.vmin) * 64) AS BIGINT))
                       ELSE 0 END AS bucket,
                  s.split, st.vmin, st.vmax, st.tot_a, st.tot_b
           FROM s, st),
         g AS (
           SELECT bucket,
             CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             MIN(vmin) AS vmin, MIN(vmax) AS vmax,
             MIN(tot_a) AS tot_a, MIN(tot_b) AS tot_b
           FROM b GROUP BY bucket),
         c AS (
           SELECT bucket, vmin + bucket * (vmax - vmin) / 64 AS lo, n_a, n_b,
             CAST(CAST(SUM(n_a) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
               / NULLIF(tot_a, 0) AS cum_share_a,
             CAST(CAST(SUM(n_b) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
               / NULLIF(tot_b, 0) AS cum_share_b
           FROM g)
         SELECT bucket, lo, n_a, n_b, cum_share_a, cum_share_b,
           ABS(cum_share_a - cum_share_b) AS ecdf_gap
         FROM c"""),

    // conversion-latency bands (round 11): first signup -> first
    // at-or-after purchase per user, integer-second latency, fixed CASE
    // bands; agg + key join + agg, no window
    "s13_conversion_latency" -> entry(
      (s, d) => graft.operators.EventOps.conversionLatency(
        t(s, d, "events"), "user_id", "event_type", "ts", "signup", "purchase"),
      """WITH f AS (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t0
           FROM events
           WHERE event_type = 'signup' AND ts IS NOT NULL AND user_id IS NOT NULL
           GROUP BY 1),
         cnv AS (SELECT e.user_id,
             date_diff('second', f.t0, MIN(CAST(e.ts AS TIMESTAMP))) AS lat
           FROM events e JOIN f ON e.user_id = f.user_id
           WHERE e.event_type = 'purchase' AND e.ts IS NOT NULL
             AND CAST(e.ts AS TIMESTAMP) >= f.t0
           GROUP BY e.user_id, f.t0)
         SELECT CASE WHEN lat < 3600 THEN '0_lt_1h'
                     WHEN lat < 86400 THEN '1_1h_24h'
                     WHEN lat < 604800 THEN '2_1d_7d'
                     ELSE '3_ge_7d' END AS band,
           COUNT(*) AS n_users
         FROM cnv GROUP BY 1"""),

    // generic hamming near-dup over caller-supplied signatures (round 11):
    // the corpus has no natural near-pairs, so the entry injects 2-bit-
    // flipped twin signatures (doc_id % 25, XOR 5 — the shape a perceptual
    // image hash emits for a re-encoded copy) on BOTH engines; pigeonhole
    // block join + exact bit_count verify, all-pairs only in the oracle
    "d21_hamming_neardup" -> entry(
      (s, d) => {
        val base = t(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            graft.operators.Dedup.md5Hash60(col("text"), 0).as("sig"))
        val twins = base.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            col("sig").bitwiseXOR(lit(5L)).as("sig"))
        graft.operators.Dedup.hammingNearDuplicates(
          base.unionAll(twins), "doc_id", "sig", maxHamming = 3, blockBits = 15)
      },
      """WITH s0 AS (SELECT doc_id,
             CAST(('0x' || substr(md5('0|' || text), 1, 15)) AS BIGINT) AS sig
           FROM documents WHERE text IS NOT NULL),
         s AS (SELECT doc_id, sig FROM s0
               UNION ALL
               SELECT doc_id + 100000, xor(sig, 5) FROM s0 WHERE doc_id % 25 = 0)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3"""),

    // categorical diversity profile (round 11): Gini–Simpson + effective
    // values — rational functions of exact integer counts (deliberately
    // NOT Shannon entropy: no libm at the boundary, see Profile.diversity)
    "p06_diversity" -> entry(
      (s, d) => graft.operators.Profile.diversity(
        t(s, d, "documents"), Seq("source"), "lang"),
      """WITH c AS (SELECT source, lang, COUNT(*) AS c
                    FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
         m AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_values,
                 CAST(SUM(c * c) AS BIGINT) AS ss
               FROM c GROUP BY 1)
         SELECT source, n, n_values,
           (CAST(n AS DOUBLE) * n - ss) / (CAST(n AS DOUBLE) * n) AS simpson,
           (CAST(n AS DOUBLE) * n) / ss AS effective_values
         FROM m"""),

    // inter-arrival distribution (round 11): whole-second gaps on a
    // (ts, event_id) total order, fixed integer CASE bands — no fp
    // anywhere; unix_timestamp floor ≡ DuckDB's second-boundary date_diff
    "s11_interarrival" -> entry(
      (s, d) => graft.operators.EventOps.interArrivalBuckets(
        t(s, d, "events"), "user_id", "ts", "event_id"),
      """WITH g AS (
           SELECT user_id,
             date_diff('second',
               lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id),
               CAST(ts AS TIMESTAMP)) AS gap
           FROM events WHERE ts IS NOT NULL),
         b AS (SELECT user_id,
                 CASE WHEN gap < 1 THEN '0_lt_1s' WHEN gap < 10 THEN '1_1s_10s'
                      WHEN gap < 60 THEN '2_10s_1m' WHEN gap < 600 THEN '3_1m_10m'
                      WHEN gap < 3600 THEN '4_10m_1h' ELSE '5_ge_1h' END AS bucket
               FROM g WHERE gap IS NOT NULL),
         p AS (SELECT bucket, user_id, COUNT(*) AS n FROM b GROUP BY 1, 2)
         SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_gaps, COUNT(*) AS n_users
         FROM p GROUP BY bucket"""),

    // leakage-safe grouped split (round 11): the bucket hashes the GROUP
    // key (source), so a whole domain lands in one split — the output
    // groups by (split, source) to make the zero-cross-split property the
    // thing the oracle hashes. md5 twin, as x02
    "x10_grouped_split" -> entry(
      (s, d) => graft.operators.SampleOps
        .groupedSplit(t(s, d, "documents"), "source", 60,
          bucket = graft.operators.SampleOps.md5Bucket)
        .groupBy(col("split"), col("source")).agg(count(lit(1)).as("n")),
      """SELECT CASE WHEN CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT) % 100 < 60
                     THEN 'train' ELSE 'test' END AS split,
              source, COUNT(*) AS n
         FROM documents GROUP BY 1, 2"""),

    "t12_tfidf_keywords" -> entry(
      (s, d) => graft.operators.TextOps.tfidfKeywords(
        t(s, d, "documents"), "doc_id", "text", k = 5),
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
           FROM documents),
         tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n FROM documents),
         s AS (SELECT tf.doc_id, tf.tok,
                 round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 9) AS score
               FROM tf JOIN dfq USING (tok), n),
         r AS (SELECT doc_id, tok, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rank
               FROM s)
         SELECT doc_id, CAST(rank AS INT) AS rank, tok AS keyword, score
         FROM r WHERE rank <= 5"""),

    // hourly spike detection (round 11): the fixture stream is ~3/hour
    // uniform, so the entry injects a deterministic 16x burst (one click
    // hour replicated 15 extra times, identical literals on both engines);
    // the z-gate itself is exact integer algebra — see EventOps.spikes
    // time-series gap-fill / resampling (round 11): dense per-user hourly
    // grid with forward-filled values — counts are integers, fills CARRY
    // parquet doubles (max-per-hour, no order-dependent summation), so
    // every output is hash-stable. Restricted to 30 users: the grid is
    // keys x span-hours (~21k rows), enough to exercise multi-gap fills
    "s07_gap_fill" -> entry(
      (s, d) => graft.operators.EventOps.gapFillHourly(
        t(s, d, "events").filter(col("user_id") < 30),
        "user_id", "ts", "value"),
      """WITH hourly AS (
           SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
                  COUNT(*) AS n, MAX(value) AS vh
           FROM events WHERE ts IS NOT NULL AND user_id < 30 GROUP BY 1, 2),
         spans AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM hourly GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM spans),
         j AS (SELECT g.user_id, g.hour, h.n, h.vh
               FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour)
         SELECT user_id, hour, COALESCE(n, 0) AS n_events,
                last_value(vh IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
         FROM j"""),

    // event-type transition matrix (round 11): per-user consecutive-pair
    // counts via one LAG window on a (ts, event_id) total order — the
    // unique tiebreaker makes simultaneous events deterministic on both
    // engines — then one (from, to) aggregation
    "s10_transition_matrix" -> entry(
      (s, d) => graft.operators.EventOps.transitionMatrix(
        t(s, d, "events"), "user_id", "event_type", "ts", "event_id"),
      """WITH o AS (
           SELECT user_id, event_type AS to_type,
             LAG(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type
           FROM events WHERE ts IS NOT NULL)
         SELECT from_type, to_type, COUNT(*) AS n
         FROM o WHERE from_type IS NOT NULL GROUP BY 1, 2"""),

    // sliding 7-day distinct active users (round 11): each distinct
    // (user, day) contributes itself to the windowDays days it keeps the
    // user active — bounded x7 explode + distinct, never an inequality
    // self-join; the event stream reduces to (user, day) before anything
    // fans out. Oracle is the definitional lateral-range replay
    "s09_sliding_wau" -> entry(
      (s, d) => graft.operators.EventOps.slidingActiveUsers(
        t(s, d, "events"), "user_id", "ts", windowDays = 7),
      """WITH ud AS (
           SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01',
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS d
           FROM events WHERE ts IS NOT NULL),
         b AS (SELECT MAX(d) AS dmax FROM ud),
         g AS (SELECT DISTINCT user_id, ud.d + t.i AS day
               FROM ud, range(7) t(i), b WHERE ud.d + t.i <= b.dmax)
         SELECT DATE '1970-01-01' + CAST(day AS INTEGER) AS day, COUNT(*) AS n_active
         FROM g GROUP BY 1"""),

    // DAU/MAU stickiness (round 11): the engagement-quality ratio —
    // s09's contribution-explode at both grains, joined on day; ratio is
    // one fp division of exact distinct counts
    "s16_stickiness" -> entry(
      (s, d) => graft.operators.EventOps.stickiness(
        t(s, d, "events"), "user_id", "ts", shortDays = 1, longDays = 30),
      """WITH ud AS (
           SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01',
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS d
           FROM events WHERE ts IS NOT NULL),
         b AS (SELECT MAX(d) AS dmax FROM ud),
         sh AS (SELECT d AS day, COUNT(*) AS n_short
                FROM (SELECT DISTINCT user_id, d FROM ud) GROUP BY 1),
         lg AS (SELECT day, COUNT(*) AS n_long FROM (
                  SELECT DISTINCT user_id, ud.d + t.i AS day
                  FROM ud, range(30) t(i), b WHERE ud.d + t.i <= b.dmax)
                GROUP BY 1)
         SELECT DATE '1970-01-01' + CAST(sh.day AS INTEGER) AS day,
           sh.n_short, lg.n_long,
           CAST(sh.n_short AS DOUBLE) / lg.n_long AS stickiness
         FROM sh JOIN lg ON sh.day = lg.day"""),

    // rolling 7-day volume (round 11): daily counts then a RANGE frame
    // over integer day numbers — calendar-correct under gaps (missing
    // days age out; a ROWS frame would stretch across them); the window
    // runs on the keys x days frame, never the event stream
    "s08_rolling_daily" -> entry(
      (s, d) => graft.operators.EventOps.rollingDaily(
        t(s, d, "events"), "event_type", "ts", windowDays = 7),
      """WITH daily AS (
           SELECT event_type AS key,
                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
                  COUNT(*) AS n
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         d AS (SELECT key, day, n,
                 date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS dn
               FROM daily)
         SELECT key, day, n,
           CAST(SUM(n) OVER (PARTITION BY key ORDER BY dn
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_window
         FROM d"""),

    "s06_event_spikes" -> entry(
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"), col("ts"))
        val burst = ev.filter(col("event_type") === "click" &&
            col("ts") >= lit("2024-01-15 12:00:00").cast("timestamp") &&
            col("ts") < lit("2024-01-15 13:00:00").cast("timestamp"))
          .withColumn("__r", explode(sequence(lit(1), lit(15))))
          .drop("__r")
        graft.operators.EventOps.spikes(ev.union(burst), "event_type", "ts")
      },
      """WITH base AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
         spiked AS (
           SELECT event_type, ts FROM base
           UNION ALL
           SELECT event_type, ts FROM base, range(15)
           WHERE event_type = 'click'
             AND ts >= TIMESTAMP '2024-01-15 12:00:00'
             AND ts < TIMESTAMP '2024-01-15 13:00:00'),
         h AS (SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
               FROM spiked GROUP BY 1, 2),
         w AS (SELECT event_type, hour, n, SUM(n) OVER tw AS s,
                 SUM(n * n) OVER tw AS ss, COUNT(n) OVER tw AS cnt
               FROM h WINDOW tw AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT event_type, hour, n FROM w
         WHERE cnt = 24 AND n * 24 - s > 0
           AND (n * 24 - s) * (n * 24 - s) > 9 * (ss * 24 - s * s)""",
    ),

    // CUSUM drift detection (round 12): the sustained-shift complement
    // of s06's per-bucket z-test, via the closed form S = P − min(0,
    // min P) — integer-exact (deviations scaled by n_days, no fp mean).
    // The last 9 days of clicks are doubled: a +100% sustained shift no
    // single day of which is a 3σ spike
    "s17_cusum_drift" -> entry(
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"), col("ts"))
          .filter(col("ts").isNotNull)
        val shift = ev.filter(col("event_type") === "click" &&
          col("ts") >= lit("2024-01-22 00:00:00").cast("timestamp"))
        graft.operators.EventOps.cusumDrift(ev.union(shift), "event_type", "ts", z = 3)
      },
      """WITH base AS (
           SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
           WHERE ts IS NOT NULL),
         spiked AS (
           SELECT event_type, ts FROM base
           UNION ALL
           SELECT event_type, ts FROM base
           WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-22'),
         daily AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  COUNT(*) AS n
           FROM spiked GROUP BY 1, 2),
         w AS (
           SELECT event_type, day, n,
             COUNT(*) OVER (PARTITION BY event_type) AS nd,
             CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
           FROM daily),
         p AS (
           SELECT event_type, day, n, tot,
             CAST(SUM(n * nd - tot) OVER (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pp
           FROM w),
         c AS (
           SELECT event_type, day, n, tot,
             pp - LEAST(0, CAST(MIN(pp) OVER (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT)) AS cusum
           FROM p)
         SELECT event_type, day, CAST(n AS BIGINT) AS n, cusum,
                cusum > 3 * tot AS drift
         FROM c"""),

    // cohort LTV curve (round 12): retention's sibling on the money axis
    // — cumulative purchase value per signup-week cohort and week of
    // age, over cohort size. Exact decimal accumulation through both
    // aggregates and the cumulative window; fp only at the output cast
    // and the per-user division
    "s22_cohort_ltv" -> entry(
      (s, d) => graft.operators.EventOps.cohortLtv(
        t(s, d, "events"), "user_id", "event_type", "ts", "value",
        cohortStep = "signup", revenueStep = "purchase"),
      """WITH c AS (
           SELECT user_id,
             CAST(date_trunc('week', MIN(CASE WHEN event_type = 'signup'
               THEN CAST(ts AS TIMESTAMP) END)) AS TIMESTAMP) AS cohort
           FROM events GROUP BY 1),
         c2 AS (SELECT user_id, cohort FROM c WHERE cohort IS NOT NULL),
         cs AS (SELECT cohort, COUNT(*) AS n_users FROM c2 GROUP BY 1),
         r AS (
           SELECT e.user_id,
             CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS TIMESTAMP) AS wk,
             CAST(e.value AS DECIMAL(12,2)) AS v
           FROM events e
           WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
             AND e.ts IS NOT NULL),
         j AS (
           SELECT c2.cohort,
             CAST(date_diff('day', c2.cohort, r.wk) // 7 AS INT) AS week_offset, r.v
           FROM r JOIN c2 ON c2.user_id = r.user_id
           WHERE date_diff('day', c2.cohort, r.wk) >= 0),
         w AS (SELECT cohort, week_offset, SUM(v) AS wr FROM j GROUP BY 1, 2),
         cum AS (
           SELECT cohort, week_offset,
             SUM(wr) OVER (PARTITION BY cohort ORDER BY week_offset
               ROWS UNBOUNDED PRECEDING) AS cr
           FROM w)
         SELECT CAST(cum.cohort AS DATE) AS cohort_week, cum.week_offset,
           cs.n_users,
           CAST(CAST(cr AS VARCHAR) AS DOUBLE) AS cum_revenue,
           CAST(CAST(cr AS VARCHAR) AS DOUBLE) / cs.n_users AS ltv
         FROM cum JOIN cs ON cs.cohort = cum.cohort"""),

    // Markov next-event prediction accuracy (round 12): the measured-
    // claims discipline applied to s10's transition model — per
    // from-type, the argmax successor and its in-sample hit rate; ties
    // break (count desc, type asc) identically on both engines
    "s21_markov_accuracy" -> entry(
      (s, d) => graft.operators.EventOps.transitionAccuracy(
        t(s, d, "events"), "user_id", "event_type", "ts", "event_id"),
      """WITH p AS (
           SELECT user_id, event_type AS to_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type
           FROM events WHERE ts IS NOT NULL),
         obs AS (SELECT from_type, to_type FROM p WHERE from_type IS NOT NULL),
         tr AS (SELECT from_type, to_type, COUNT(*) AS n FROM obs GROUP BY 1, 2),
         pr AS (SELECT from_type, to_type AS predicted FROM (
                  SELECT from_type, to_type,
                    ROW_NUMBER() OVER (PARTITION BY from_type
                      ORDER BY n DESC, to_type ASC) AS rn
                  FROM tr) WHERE rn = 1)
         SELECT o.from_type, pr.predicted, COUNT(*) AS n_obs,
           CAST(COUNT(*) FILTER (WHERE o.to_type = pr.predicted) AS BIGINT) AS n_correct,
           CAST(COUNT(*) FILTER (WHERE o.to_type = pr.predicted) AS DOUBLE)
             / COUNT(*) AS accuracy
         FROM obs o JOIN pr ON pr.from_type = o.from_type
         GROUP BY 1, 2"""),

    // dormancy/resurrection audit (round 13, filling the s19 registry
    // hole): per day, active users returning after >= 7 dormant days —
    // growth accounting's churn-vs-resurrection split. Gap is exact
    // integer division of midnight-truncated epochs; first-ever day is
    // acquisition, not resurrection (NULL lag counts 0)
    "s19_resurrection" -> entry(
      (s, d) => graft.operators.EventOps.resurrections(
        t(s, d, "events"), "user_id", "ts", dormantDays = 7),
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         lg AS (
           SELECT day,
             (epoch_us(day) - epoch_us(LAG(day) OVER (PARTITION BY user_id ORDER BY day)))
               // 86400000000 AS gap
           FROM ud)
         SELECT day, COUNT(*) AS n_active,
                CAST(SUM(CASE WHEN gap > 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
         FROM lg GROUP BY day"""),

    // bot/automation gate (round 12): rate + metronome-regularity flags
    // per user, integer-exact closed forms (see EventOps.botGate). The
    // fixture's humans are organic, so two bots are injected
    // deterministically: 9001 fires every 60 s exactly (metronome),
    // 9002 bursts 50 events in one minute (rate)
    "s20_bot_gate" -> entry(
      (s, d) => {
        val base = t(s, d, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("ts"))
        val metro = s.range(100).select(lit(9001L).as("user_id"),
          timestamp_micros(lit(1704067200000000L) + col("id") * 60000000L).as("ts"))
        val burst = s.range(50).select(lit(9002L).as("user_id"),
          timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"))
        graft.operators.EventOps.botGate(
          base.union(metro).union(burst), "user_id", "ts")
      },
      """WITH base AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         metro AS (SELECT CAST(9001 AS BIGINT) AS user_id,
             make_timestamp(1704067200000000 + i * 60000000) AS ts FROM range(100) t(i)),
         burst AS (SELECT CAST(9002 AS BIGINT) AS user_id,
             make_timestamp(1704067200000000 + i * 1000000) AS ts FROM range(50) t(i)),
         e AS (SELECT * FROM base UNION ALL SELECT * FROM metro
               UNION ALL SELECT * FROM burst),
         g AS (SELECT user_id, ts,
             epoch_us(ts) // 1000000
               - lag(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts) AS gap
           FROM e),
         a AS (SELECT user_id, COUNT(*) AS n_events,
             CAST(COUNT(DISTINCT date_trunc('minute', ts)) AS BIGINT) AS n_minutes,
             COUNT(gap) AS n_gaps,
             CAST(SUM(gap) AS HUGEINT) AS s,
             CAST(SUM(gap * gap) AS HUGEINT) AS ss
           FROM g GROUP BY 1)
         SELECT user_id, n_events, n_minutes, n_gaps,
           n_events > 10 * n_minutes AS rate_bot,
           n_gaps >= 20 AND (s = 0
             OR 10000 * (n_gaps * ss - s * s) < 100 * s * s) AS metronome,
           (n_events > 10 * n_minutes) OR (n_gaps >= 20 AND (s = 0
             OR 10000 * (n_gaps * ss - s * s) < 100 * s * s)) AS is_bot
         FROM a"""),

    // changepoint localization (round 12): s17's curve answered — per
    // type, the CUSUM-maximizing day (tie → earliest), peak statistic,
    // and whether drift fired; same injected shift as s17 so the click
    // changepoint is the known injection date
    "s23_changepoint" -> entry(
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"), col("ts"))
          .filter(col("ts").isNotNull)
        val shift = ev.filter(col("event_type") === "click" &&
          col("ts") >= lit("2024-01-22 00:00:00").cast("timestamp"))
        graft.operators.EventOps.changepoint(ev.union(shift), "event_type", "ts", z = 3)
      },
      """WITH base AS (
           SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
           WHERE ts IS NOT NULL),
         spiked AS (
           SELECT event_type, ts FROM base
           UNION ALL
           SELECT event_type, ts FROM base
           WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-22'),
         daily AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  COUNT(*) AS n
           FROM spiked GROUP BY 1, 2),
         w AS (
           SELECT event_type, day, n,
             COUNT(*) OVER (PARTITION BY event_type) AS nd,
             CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
           FROM daily),
         p AS (
           SELECT event_type, day, n, tot,
             CAST(SUM(n * nd - tot) OVER (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pp
           FROM w),
         c AS (
           SELECT event_type, day, tot,
             pp - LEAST(0, CAST(MIN(pp) OVER (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT)) AS cusum
           FROM p),
         r AS (
           SELECT event_type, day, cusum, tot,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY cusum DESC, day ASC) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_days,
             CAST(MAX(CASE WHEN cusum > 3 * tot THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type) AS INT) AS anyd
           FROM c)
         SELECT event_type, day AS changepoint_day, cusum AS peak_cusum,
           n_days, anyd = 1 AS drifted
         FROM r WHERE rn = 1"""),

    // hour-of-week seasonality anomaly: each (type, hour) bucket judged
    // against its own weekly slot's mean/σ in exact integer algebra (the
    // (k·n − tot)² > z²·(k·SS − tot²) clearing — see EventOps scaladoc);
    // slot id is pure epoch arithmetic so no DOW convention can diverge
    "s18_seasonal_anomaly" -> entry(
      (s, d) => graft.operators.EventOps.seasonalAnomaly(
        t(s, d, "events").select(col("event_type"), col("ts")), "event_type", "ts", z = 3),
      """WITH hourly AS (
           SELECT event_type,
                  CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
                  COUNT(*) AS n
           FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
         slot AS (
           SELECT event_type, hour, n,
                  (epoch_us(hour) // 3600000000) % 168 AS how,
                  COUNT(*) OVER (PARTITION BY event_type,
                    (epoch_us(hour) // 3600000000) % 168) AS k,
                  SUM(n) OVER (PARTITION BY event_type,
                    (epoch_us(hour) // 3600000000) % 168) AS tot,
                  SUM(n * n) OVER (PARTITION BY event_type,
                    (epoch_us(hour) // 3600000000) % 168) AS ss
           FROM hourly)
         SELECT event_type, hour, CAST(how AS INT) AS how, CAST(n AS BIGINT) AS n,
                (k * n - tot) * (k * n - tot) > 9 * (k * ss - tot * tot) AS anomaly
         FROM slot"""),

    // event-stream analytics: hourly tumbling aggregation (batch form of the
    // Structured Streaming window; see streaming spec)
    "s01_events_hourly" -> entry(
      (s, d) => t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(10, 2))).cast("double").as("total")),
      "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type, COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total FROM events GROUP BY 1, 2"),

    // skew-resistant salted join — oracle is the PLAIN join, proving the
    // salting rewrite is semantics-preserving
    // Z-order layout statistics (round 11): map each dimension onto the
    // full 16-bit space from its ANALYZE-style [min,max] domain (integer-
    // exact scale), Morton-interleave, bucket by the code's top 6 bits
    // (fixed-width Z-ranges — deterministic, no sampled boundaries, no
    // global sort), and report each bucket's per-dimension min/max — the
    // 2-D min/max file-skipping bound a ZORDER BY write gives a 100 TB
    // reader, as one hash aggregate of integer bit algebra. Domain
    // literals are the sf0.01 column stats; in production they come from
    // the catalog (a metadata lookup, not a data pass)
    "z01_zorder_stats" -> entry(
      (s, d) => LayoutOps.zorderStats(
        t(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey")),
        Seq("l_partkey", "l_suppkey"), bits = 16, bucketBits = 6,
        domains = Some(Seq((0L, 1999L), (0L, 99L)))),
      """WITH sc AS (
           SELECT l_partkey, l_suppkey,
             (GREATEST(LEAST(l_partkey, 1999), 0) * 65535) // 1999 AS sp,
             (GREATEST(LEAST(l_suppkey, 99), 0) * 65535) // 99 AS ss
           FROM lineitem),
         z AS (
           SELECT l_partkey, l_suppkey,
             CAST(list_sum(list_transform(range(0, 16), j ->
               (((sp >> j) & 1) << (2*j)) +
               (((ss >> j) & 1) << (2*j + 1)))) AS BIGINT) AS zc
           FROM sc)
         SELECT zc >> 26 AS zbucket, COUNT(*) AS n_rows,
                MIN(l_partkey) AS min_l_partkey, MAX(l_partkey) AS max_l_partkey,
                MIN(l_suppkey) AS min_l_suppkey, MAX(l_suppkey) AS max_l_suppkey
         FROM z GROUP BY zbucket"""),

    "x01_salted_join" -> entry(
      (s, d) => {
        val l = t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
        val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_name"))
        graft.operators.ScaleOps.saltedJoin(l, sup, "l_suppkey", "s_suppkey", 8)
          .select(col("l_orderkey"), col("l_linenumber"), col("s_name"))
      },
      "SELECT l_orderkey, l_linenumber, s_name FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"),

    // column profiling — the user-facing twin of the reference's stats
    // harvest (statistics_manager.cpp:9-142): one multi-aggregate pass,
    // then a driver-sized unpivot
    "p01_profile" -> entry(
      (s, d) => graft.operators.Profile.describe(
        t(s, d, "orders"), Seq("o_orderkey", "o_orderstatus", "o_orderdate")),
      """SELECT 'o_orderkey' AS col_name, COUNT(o_orderkey) AS n,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               COUNT(DISTINCT o_orderkey) AS n_distinct,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min_value, CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(o_orderstatus),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_orderstatus),
               CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', COUNT(o_orderdate),
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_orderdate),
               CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
        FROM orders"""),

    // exact rank-selected quantiles over the value DISTRIBUTION (one
    // groupBy shuffle + a DISTRIBUTED prefix sum over the distinct-value
    // histogram — sketch-derived block bounds, per-block windows, tiny
    // offset join — never a global data sort or a single-partition
    // window; approx_percentile stays the cheap-sketch path). Type-1
    // quantile = an actual data value → bit-exact replay; the rank
    // arithmetic ceil(p·n) is the same double expression on both engines
    "p02_quantiles" -> entry(
      (s, d) => graft.operators.Profile.quantiles(
        t(s, d, "lineitem"), "l_quantity", Seq(0.25, 0.5, 0.75, 0.95)),
      """WITH dist AS (
           SELECT l_quantity AS v, COUNT(*) AS cnt FROM lineitem
           WHERE l_quantity IS NOT NULL GROUP BY 1),
         cum AS (
           SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n
           FROM dist),
         p AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS p)
         SELECT p.p, cum.v AS quantile
         FROM cum, p
         WHERE cum.cum >= GREATEST(1, CAST(ceil(p.p * cum.n) AS BIGINT))
           AND cum.cum - cum.cnt < GREATEST(1, CAST(ceil(p.p * cum.n) AS BIGINT))"""),

    // equi-width histogram: min/max broadcast onto the scan, one
    // aggregation shuffle on the bucket id; bounds re-derived from the
    // same fp expression as the assignment. trunc() mirrors Spark floor's
    // toward-zero on the non-negative operand; all other math is the
    // identical double expression on both engines
    // per-group Pearson correlation (round 11): ONE map-side-partial
    // aggregation of exact decimal sufficient statistics (n, Σx, Σy, Σxy,
    // Σx², Σy²), then a fixed tree of correctly-rounded fp ops — bit-
    // deterministic where a double corr() fold is partition-order noise
    "p05_correlation" -> entry(
      (s, d) => graft.operators.Profile.correlation(
        t(s, d, "lineitem"), Seq("l_returnflag"), "l_quantity", "l_extendedprice"),
      """WITH s AS (
           SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(19,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(19,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2))) AS sxy,
             SUM(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(19,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2))) AS syy
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
           GROUP BY 1)
         -- decimal -> double via VARCHAR (the p07 idiom): DuckDB's direct
         -- cast double-rounds (int128 -> double, then / 10^scale) once
         -- the unscaled value exceeds 2^53 — sxy/sxx/syy do at sf >= 1 —
         -- while Spark's Decimal.toDouble is correctly rounded, as is
         -- strtod (caught by the round-13 sf1 oracle run: 1-ulp drift)
         SELECT l_returnflag, n,
           CASE WHEN CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE) > 0
                THEN (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                     / sqrt((CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                          * (CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
                END AS r
         FROM s"""),

    // per-group rank-exact quantiles (round 11): type-1 (value at
    // ceil(p·n) of the group's sort — an actual data value, so the result
    // hash-matches any engine); groups ride a partitioned window in
    // parallel, per-task unit is one group's HISTOGRAM, never its rows
    "p04_group_quantiles" -> entry(
      (s, d) => graft.operators.Profile.groupedQuantiles(
        t(s, d, "documents"), Seq("lang"), "n_chars", Seq(0.5, 0.9)),
      """WITH dist AS (
           SELECT lang, n_chars AS v, COUNT(*) AS cnt
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
         w AS (
           SELECT lang, v, cnt,
             SUM(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,
             SUM(cnt) OVER (PARTITION BY lang) AS n
           FROM dist),
         p AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS p)
         SELECT lang, p, v AS quantile FROM w, p
         WHERE cum >= GREATEST(1, CAST(ceil(p * n) AS BIGINT))
           AND cum - cnt < GREATEST(1, CAST(ceil(p * n) AS BIGINT))"""),

    "p03_histogram" -> entry(
      (s, d) => graft.operators.Profile.histogram(
        t(s, d, "orders"), "o_totalprice", 10),
      """WITH st AS (
           SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS vmin,
                  MAX(CAST(o_totalprice AS DOUBLE)) AS vmax
           FROM orders WHERE o_totalprice IS NOT NULL),
         b AS (
           SELECT CASE WHEN st.vmax > st.vmin
                       THEN LEAST(9, CAST(trunc((CAST(o_totalprice AS DOUBLE) - st.vmin)
                                                / (st.vmax - st.vmin) * 10) AS BIGINT))
                       ELSE 0 END AS bucket,
                  st.vmin AS vmin, st.vmax AS vmax
           FROM orders, st WHERE o_totalprice IS NOT NULL)
         SELECT bucket, vmin + bucket * (vmax - vmin) / 10 AS lo, COUNT(*) AS n
         FROM b GROUP BY bucket, vmin, vmax"""),

    // deterministic id-hash train/test split — reproducible, repartition-
    // stable, never rand(). Oracle via the md5Bucket twin (the xxhash64
    // production bucket has no DuckDB twin; SampleProfileSpec asserts
    // determinism, disjointness, fraction on both)
    "x02_split" -> entry(
      (s, d) => graft.operators.SampleOps
        .deterministicSplit(t(s, d, "documents"), "doc_id", 80,
          bucket = graft.operators.SampleOps.md5Bucket)
        .groupBy(col("split")).agg(count(lit(1)).as("n")),
      """SELECT split, COUNT(*) AS n FROM (
           SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80
                       THEN 'train' ELSE 'test' END AS split
           FROM documents) GROUP BY split"""),

    // split-leakage audit (round 12): how much of x02's random id-hash
    // split's test set duplicates training CONTENT — the measurement
    // that motivates x13's dedup-closed split; one fp-keyed aggregate,
    // no join
    "x18_split_leakage" -> entry(
      (s, d) => graft.operators.SampleOps.splitLeakage(
        t(s, d, "documents"), "doc_id", "text", trainPct = 80),
      """WITH r AS (
           SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 AS tr,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
           FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         f AS (
           SELECT fp,
             CAST(COUNT(*) FILTER (WHERE tr) AS BIGINT) AS ntr,
             CAST(COUNT(*) FILTER (WHERE NOT tr) AS BIGINT) AS nte
           FROM r GROUP BY 1)
         SELECT CAST(SUM(ntr) AS BIGINT) AS n_train, CAST(SUM(nte) AS BIGINT) AS n_test,
           CAST(COUNT(*) FILTER (WHERE ntr > 0 AND nte > 0) AS BIGINT) AS n_fps_both,
           CAST(SUM(CASE WHEN ntr > 0 THEN nte ELSE 0 END) AS BIGINT) AS n_test_leaked,
           CAST(CAST(SUM(CASE WHEN ntr > 0 THEN nte ELSE 0 END) AS BIGINT) AS DOUBLE)
             / CAST(SUM(nte) AS BIGINT) AS test_leak_rate
         FROM f"""),

    // deterministic hash sampling + stratified cap composed — the "keep
    // ~50%, then at most 5 per source" curation step. Oracle via the
    // md5 bucket/order-hash twins (the xxhash64 production pair has no
    // DuckDB twin; SampleProfileSpec asserts both families agree on
    // determinism and cap semantics)
    // domain-mixing resampler (round 11): largest without-replacement
    // subsample matching the target language mix — T = floor(min
    // available/weight), quota = floor(weight·T), id-hash-order pick.
    // Quotas live on the |targets|-row frame and broadcast back; es has
    // no target -> dropped. md5 order hash makes the pick replayable
    "x09_mix_resample" -> entry(
      (s, d) => graft.operators.SampleOps.resampleToMix(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id",
        Seq("en" -> 0.5, "de" -> 0.2, "zh" -> 0.2, "fr" -> 0.1),
        orderHash = graft.operators.SampleOps.md5OrderHash),
      """WITH t AS (
           SELECT * FROM (VALUES
             ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
             ('zh', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.1 AS DOUBLE))) AS t(lang, w)),
         c AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
         j AS (SELECT t.lang, t.w, COALESCE(c.c, 0) AS c FROM t LEFT JOIN c USING (lang)),
         tt AS (SELECT floor(MIN(c / w)) AS tot FROM j),
         q AS (SELECT lang, CAST(floor(w * tot) AS BIGINT) AS quota FROM j, tt),
         r AS (
           SELECT d.doc_id, d.lang,
             ROW_NUMBER() OVER (PARTITION BY d.lang
               ORDER BY CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
                        d.doc_id ASC) AS rn
           FROM documents d JOIN q USING (lang))
         SELECT doc_id, lang FROM r JOIN q USING (lang) WHERE rn <= quota"""),

    "x03_sample_cap" -> entry(
      (s, d) => {
        val samp = graft.operators.SampleOps.hashSample(
          t(s, d, "documents"), "doc_id", 50, bucket = graft.operators.SampleOps.md5Bucket)
        graft.operators.SampleOps.stratifiedCap(samp, "source", "doc_id", 5,
          orderHash = graft.operators.SampleOps.md5OrderHash)
          .select(col("source"), col("doc_id"))
      },
      """WITH samp AS (
           SELECT doc_id, source FROM documents
           WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 50),
         r AS (
           SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC, doc_id ASC) AS rn
           FROM samp)
         SELECT source, doc_id FROM r WHERE rn <= 5"""),

    // sequence packing (concat-and-chunk into fixed token budgets, the
    // step between dedup and the trainer): hash-sharded deterministic
    // layout, each doc assigned its starting (shard, seq_no, seq_offset).
    // Oracle replays the window arithmetic over the md5 order hash; all
    // integral math, so the replay is bit-exact
    "x04_pack_sequences" -> entry(
      (s, d) => graft.operators.PackOps.packSequences(
        t(s, d, "documents"), "doc_id", "text", tokenBudget = 512, shards = 8,
        orderHash = graft.operators.SampleOps.md5OrderHash),
      """WITH t AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS oh,
             COALESCE(len(list_filter(string_split(text, ' '), w -> w <> '')), 0) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, CAST(oh % 8 AS INT) AS shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY oh % 8 ORDER BY oh, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           FROM t)
         SELECT doc_id, shard, off // 512 AS seq_no, off % 512 AS seq_offset,
                CAST(n_tokens AS INT) AS n_tokens
         FROM o"""),

    // materialized packed sequences: the token payloads x04's layout
    // describes — docs cut at budget boundaries, pieces reassembled per
    // (shard, seq_no) by in-sequence offset. Oracle replays the window
    // arithmetic, DuckDB list-slices each doc's token array at the same
    // boundaries, and string_aggs pieces in offset order; all integral
    // math + exact strings, so the replay is bit-exact
    "x05_pack_materialize" -> entry(
      (s, d) => graft.operators.PackOps.materializeSequences(
        t(s, d, "documents"), "doc_id", "text", tokenBudget = 512, shards = 8,
        orderHash = graft.operators.SampleOps.md5OrderHash),
      """WITH t AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS oh,
             list_filter(string_split(text, ' '), w -> w <> '') AS toks
           FROM documents WHERE text IS NOT NULL),
         t2 AS (SELECT doc_id, oh, toks, CAST(len(toks) AS BIGINT) AS n
                FROM t WHERE len(toks) > 0),
         o AS (
           SELECT CAST(oh % 8 AS INT) AS shard, toks, n,
             CAST(COALESCE(SUM(n) OVER (PARTITION BY oh % 8 ORDER BY oh, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           FROM t2),
         p AS (
           SELECT shard, off, n, toks,
             unnest(range(off // 512, (off + n - 1) // 512 + 1)) AS seq_no
           FROM o),
         p2 AS (
           SELECT shard, seq_no,
             GREATEST(off - seq_no * 512, 0) AS seq_offset,
             list_slice(toks, GREATEST(seq_no * 512 - off, 0) + 1,
                        LEAST(n, (seq_no + 1) * 512 - off)) AS piece
           FROM p)
         SELECT shard, seq_no, COUNT(*) AS n_docs,
           CAST(SUM(len(piece)) AS BIGINT) AS seq_len,
           string_agg(array_to_string(piece, ' '), ' ' ORDER BY seq_offset) AS seq_text
         FROM p2 GROUP BY shard, seq_no"""),

    // AS-OF join (backward, inclusive): every purchase event picks the
    // user's LATEST click at or before it — the time-series join Spark
    // has no type for, realized as union + per-key running last() (one
    // shuffle + sort, no per-row probe). Right side pre-aggregated to
    // unique (user, ts) so tie resolution is engine-independent; oracle is
    // DuckDB's native ASOF LEFT JOIN
    "j01_asof" -> entry(
      (s, d) => asofEntry(s, d, direction = "backward"),
      """WITH p AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
           WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MIN(value) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.user_id, p.ts, p.value, c.ts AS click_ts, c.click_value
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"""),

    // the forward direction of j01: every purchase picks the user's
    // EARLIEST click at or after it — the same one-window merge over the
    // reversed timeline (shared prep: [[asofEntry]])
    "j03_asof_forward" -> entry(
      (s, d) => asofEntry(s, d, direction = "forward"),
      """WITH p AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
           WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MIN(value) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.user_id, p.ts, p.value, c.ts AS click_ts, c.click_value
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts"""),

    // as-of with freshness horizon (round 11): the j01 merge plus a
    // whole-second gap null-out — "last click, but only if within 30
    // minutes". Integer boundary decision; one extra projection, no
    // second join
    "j05_asof_tolerance" -> entry(
      (s, d) => {
        val ev = t(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(min(col("value")).as("click_value"))
        JoinOps.asofJoinTolerance(purchases, clicks, "user_id", "ts",
            toleranceSeconds = 1800)
          .select(col("user_id"), col("ts"), col("value"),
            col("asof_ts").as("click_ts"), col("asof_click_value").as("click_value"))
      },
      """WITH p AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
           WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MIN(value) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         a AS (
           SELECT p.user_id, p.ts, p.value, c.ts AS mts, c.click_value AS mval
           FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts)
         SELECT user_id, ts, value,
           CASE WHEN date_diff('second', mts, ts) <= 1800 THEN mts END AS click_ts,
           CASE WHEN date_diff('second', mts, ts) <= 1800 THEN mval END AS click_value
         FROM a"""),

    // nearest-event join (round 11): closest right row in EITHER
    // direction, ties prefer backward — two as-of window merges + an
    // integer-microsecond pick; the oracle composes DuckDB's native ASOF
    // both ways. Both sides pre-deduped on (user, ts) so the oracle's
    // backward x forward stitch join is key-safe
    "j06_nearest" -> entry(
      (s, d) => {
        val ev = t(s, d, "events")
        // NULL (user_id, ts) keys are dropped on BOTH sides up front: the
        // oracle's backward x forward stitch join (b JOIN fj ON user_id, ts)
        // silently loses NULL-key rows, while the window merge would keep
        // them — pin the intersection semantics fixture-independently.
        val purchases = ev.filter(col("event_type") === "purchase"
            && col("user_id").isNotNull && col("ts").isNotNull)
          .groupBy(col("user_id"), col("ts")).agg(min(col("value")).as("value"))
        val clicks = ev.filter(col("event_type") === "click"
            && col("user_id").isNotNull && col("ts").isNotNull)
          .groupBy(col("user_id"), col("ts")).agg(min(col("value")).as("click_value"))
        JoinOps.nearestJoin(purchases, clicks, "user_id", "ts")
          .select(col("user_id"), col("ts"), col("value"),
            col("near_ts").as("click_ts"), col("near_click_value").as("click_value"))
      },
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MIN(value) AS value
           FROM events WHERE event_type = 'purchase'
             AND user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
         c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MIN(value) AS click_value
           FROM events WHERE event_type = 'click'
             AND user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
         b AS (SELECT p.user_id, p.ts, p.value, c.ts AS bts, c.click_value AS bval
               FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
         fj AS (SELECT p.user_id, p.ts, c.ts AS fts, c.click_value AS fval
               FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts)
         SELECT b.user_id, b.ts, b.value,
           CASE WHEN fts IS NULL OR (bts IS NOT NULL
                     AND epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts))
                THEN bts ELSE fts END AS click_ts,
           CASE WHEN fts IS NULL OR (bts IS NOT NULL
                     AND epoch_us(b.ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(b.ts))
                THEN bval ELSE fval END AS click_value
         FROM b JOIN fj ON b.user_id = fj.user_id AND b.ts = fj.ts"""),

    // piecewise-linear interpolation join (round 12): the time-series
    // resample — view timestamps sampled against the purchase value
    // series, blended between bracketing points; clamp off the ends.
    // Cost = two as-of window merges; the oracle is DuckDB's native
    // backward+forward ASOF stitch with the identical fixed-order blend
    "j09_interpolate" -> entry(
      (s, d) => {
        val ev = t(s, d, "events")
        val views = ev.filter(col("event_type") === "view"
            && col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("ts")).distinct()
        val purchases = ev.filter(col("event_type") === "purchase"
            && col("user_id").isNotNull && col("ts").isNotNull)
          .groupBy(col("user_id"), col("ts")).agg(min(col("value")).as("value"))
        JoinOps.interpolateJoin(views, purchases, "user_id", "ts", "value")
      },
      """WITH v AS (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'view'
             AND user_id IS NOT NULL AND ts IS NOT NULL),
         p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MIN(value) AS value
           FROM events WHERE event_type = 'purchase'
             AND user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
         b AS (SELECT v.user_id, v.ts, p.ts AS bts, p.value AS bval
               FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts),
         fj AS (SELECT v.user_id, v.ts, p.ts AS fts, p.value AS fval
               FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts)
         SELECT b.user_id, b.ts, bts AS t_before, fts AS t_after,
           CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
                WHEN bts IS NULL THEN fval
                WHEN fts IS NULL THEN bval
                WHEN epoch_us(fts) = epoch_us(bts) THEN bval
                ELSE bval + (fval - bval)
                  * (CAST(epoch_us(b.ts) - epoch_us(bts) AS DOUBLE)
                     / (epoch_us(fts) - epoch_us(bts)))
           END AS interp_value
         FROM b JOIN fj ON b.user_id = fj.user_id AND b.ts = fj.ts"""),

    // temporal anti join (round 11): signups with NO purchase within 7
    // days after — the non-activation cohort. One forward as-of window
    // merge + null filter; the oracle is the definitional NOT EXISTS
    // range predicate (which Spark would nested-loop — the operator
    // exists precisely to avoid that)
    "j07_no_followup" -> entry(
      (s, d) => {
        val ev = t(s, d, "events")
        // NULL-ts rows are dropped on both sides to mirror the oracle's
        // explicit IS NOT NULL guards: a NULL-ts signup would otherwise
        // head the desc_nulls_first partition, get no match, and leak
        // through the anti filter the moment a fixture grows NULL ts.
        val signups = ev.filter(col("event_type") === "signup"
            && col("ts").isNotNull)
          .select(col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase"
            && col("ts").isNotNull)
          .select(col("user_id"), col("ts"))
        JoinOps.noFollowupWithin(signups, purchases, "user_id", "ts",
          horizonSeconds = 604800L)
      },
      """SELECT s.user_id, CAST(s.ts AS TIMESTAMP) AS ts
         FROM events s
         WHERE s.event_type = 'signup' AND s.ts IS NOT NULL
           AND NOT EXISTS (
             SELECT 1 FROM events p
             WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
               AND p.ts IS NOT NULL
               AND CAST(p.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
               AND date_diff('second', CAST(s.ts AS TIMESTAMP),
                     CAST(p.ts AS TIMESTAMP)) <= 604800)"""),

    // interval coalesce / gaps-and-islands (round 12): each event claims
    // [ts, ts + floor(value*60) s); overlapping-or-touching claims merge
    // into maximal per-user spans via running-max island detection — both
    // windows keyed by user, never a global sort. Duration through
    // FLOOR(value*60) so both engines hit the same exact double before
    // the integer cast (bare CAST truncates in Spark, rounds in DuckDB)
    "j08_interval_coalesce" -> entry(
      (s, d) => {
        val iv = t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
            (unix_micros(col("ts")) +
              floor(col("value") * 60).cast("long") * 1000000L).as("e_us"))
        JoinOps.coalesceIntervals(iv, "user_id", "s_us", "e_us")
          .select(col("user_id"), col("island"),
            timestamp_micros(col("span_start")).as("span_start"),
            timestamp_micros(col("span_end")).as("span_end"),
            col("n_intervals"))
      },
      """WITH iv AS (
           SELECT user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
                  epoch_us(CAST(ts AS TIMESTAMP))
                    + CAST(FLOOR(value * 60) AS BIGINT) * 1000000 AS e_us
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         w AS (
           SELECT user_id, s_us, e_us,
                  MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM iv),
         f AS (
           SELECT user_id, s_us, e_us,
                  CASE WHEN pmax IS NULL OR s_us > pmax THEN 1 ELSE 0 END AS op
           FROM w),
         i AS (
           SELECT user_id, s_us, e_us,
                  CAST(SUM(op) OVER (PARTITION BY user_id ORDER BY s_us, e_us
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
           FROM f)
         SELECT user_id, island,
                make_timestamp(MIN(s_us)) AS span_start,
                make_timestamp(MAX(e_us)) AS span_end,
                CAST(COUNT(*) AS BIGINT) AS n_intervals
         FROM i GROUP BY 1, 2"""),

    // point-in-interval range join, bucketized: intervals explode to the
    // fixed-width buckets they overlap, points land in one bucket, and
    // the match is an EQUI-join + exact BETWEEN — never the nested loop a
    // raw inequality join plans. Oracle is that raw inequality join
    "j02_range" -> entry(
      (s, d) => {
        val pts = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
        val iv = t(s, d, "supplier").select(col("s_suppkey"),
          (col("s_acctbal") - 10).as("lo"), (col("s_acctbal") + 10).as("hi"))
        JoinOps.rangeJoin(pts, iv, "c_acctbal", "lo", "hi", bucketWidth = 64)
          .select(col("c_custkey"), col("s_suppkey"))
      },
      """SELECT c_custkey, s_suppkey FROM customer JOIN supplier
         ON c_acctbal BETWEEN s_acctbal - 10 AND s_acctbal + 10"""),

    // interval-OVERLAP join (round 11): both sides bucketized, candidates
    // meet on bucket equality, exact predicate filters, first-overlap-
    // bucket ownership dedups in-plan — never the |A|·|B| inequality
    // nested loop the oracle spells out. Intervals derived from order
    // dates with key-dependent widths, identical literals on both engines
    "j04_interval_overlap" -> entry(
      (s, d) => {
        val o = t(s, d, "orders")
        val a = o.filter(col("o_custkey") < 60).select(
          col("o_orderkey").as("a_key"),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).as("a_lo"),
          (datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
            + col("o_orderkey") % 30).as("a_hi"))
        val b = o.filter(col("o_custkey") >= 60 && col("o_custkey") < 120).select(
          col("o_orderkey").as("b_key"),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).as("b_lo"),
          (datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
            + col("o_orderkey") % 20).as("b_hi"))
        JoinOps.intervalJoin(a, b, "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 32.0)
          .select(col("a_key"), col("b_key"))
      },
      """WITH a AS (
           SELECT o_orderkey AS a_key,
                  date_diff('day', DATE '1970-01-01', o_orderdate) AS a_lo,
                  date_diff('day', DATE '1970-01-01', o_orderdate) + o_orderkey % 30 AS a_hi
           FROM orders WHERE o_custkey < 60),
         b AS (
           SELECT o_orderkey AS b_key,
                  date_diff('day', DATE '1970-01-01', o_orderdate) AS b_lo,
                  date_diff('day', DATE '1970-01-01', o_orderdate) + o_orderkey % 20 AS b_hi
           FROM orders WHERE o_custkey >= 60 AND o_custkey < 120)
         SELECT a_key, b_key FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi"""),

    // the END-TO-END curation pipeline in one declarative plan: quality
    // gate (t08's exact rules) → exact-fingerprint dedup keeping each
    // cluster's min id → packed training-sequence layout. What a
    // production corpus build actually runs between ingestion and the
    // trainer — Catalyst sees the whole composition and plans it as 3
    // shuffles (fingerprint agg, survivor semi-join broadcast at this SF,
    // layout window)
    // embedding-space diversity sampling (round 11): axis-sign LSH cell
    // (signs of the 4 leading components -> 16 buckets) + hash-ordered
    // corpus snapshot diff (round 11): content-level added/removed/changed
    // between two releases — each side reduces to (id, fingerprint) before
    // ONE full-outer shuffle; the unchanged majority is never emitted. The
    // fixture derives snapshot B from A with identical literals on both
    // engines (deletes: %11, edits: %13 append, adds: %17 re-keyed)
    "x08_snapshot_diff" -> entry(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val edited = docs.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [v2]")))
              .otherwise(col("text")).as("text"))
        val added = docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("added "), col("doc_id").cast("string")).as("text"))
        graft.operators.VersionOps.snapshotDiff(docs, edited.union(added), "doc_id", "text")
      },
      """WITH a AS (SELECT doc_id, text FROM documents),
         b AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 13 = 0 THEN text || ' [v2]' ELSE text END AS text
           FROM documents WHERE doc_id % 11 <> 0
           UNION ALL
           SELECT doc_id + 1000000, 'added ' || CAST(doc_id AS VARCHAR)
           FROM documents WHERE doc_id % 17 = 0),
         af AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp FROM a),
         bf AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp FROM b),
         j AS (SELECT af.doc_id AS ida, bf.doc_id AS idb, af.fp AS fa, bf.fp AS fb
               FROM af FULL OUTER JOIN bf ON af.doc_id = bf.doc_id)
         SELECT doc_id, status FROM (
           SELECT COALESCE(ida, idb) AS doc_id,
             CASE WHEN ida IS NULL THEN 'added'
                  WHEN idb IS NULL THEN 'removed'
                  WHEN fa IS DISTINCT FROM fb THEN 'changed' END AS status
           FROM j) WHERE status IS NOT NULL"""),

    // SCD Type-2 history (round 17): per-key change stream -> versioned
    // validity intervals, the warehouse dimension-history shape — x08
    // answers "what changed between two snapshots", this answers "what
    // was X's value at time t" for EVERY t. Run-collapse (null-safe
    // value compare, so consecutive duplicates never mint versions) +
    // interval close (lead over the collapsed frame); (ts, event_id)
    // tiebreak makes equal-timestamp streams deterministic. Both windows
    // ride one user-keyed exchange; unix-micros intervals hash exactly
    // cluster-balanced split (round 18): d42's distributed k-means cells
    // as split strata — a plain id-hash split matches proportions only in
    // EXPECTATION, so small semantic clusters land lopsided and the val
    // set over-represents whole regions; the quota cut makes every
    // cluster's train fraction exact to floor(n*pct/100). Oracle replays
    // the ENTIRE composition: the full k-means training CTEs (d42's) plus
    // the md5-ranked quota cut and the (cell, split) counts.
    "x20_cluster_split" -> replay(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.operators.SampleOps.stratifiedQuotaSplit(
            Similarity.kmeansAssign(emb, "vec_id", "embedding",
              Similarity.kmeansDistributed(emb, "vec_id", "embedding",
                nCentroids = 8, iters = 4)),
            "vec_id", "cell", trainPct = 80)
          .groupBy(col("cell"), col("split")).agg(count(lit(1)).as("n"))
      })((s, d) => clusterSplitOracleSql(s, d, k = 8, iters = 4, trainPct = 80)),

    "x19_scd2_history" -> entry(
      (s, d) => graft.operators.VersionOps.scd2History(
        t(s, d, "events"), "user_id", "ts", "event_id", "event_type"),
      """WITH e AS (
           SELECT user_id AS key, epoch_us(ts) AS us, event_id AS tie,
             event_type AS value
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         o AS (
           SELECT key, us, tie, value,
             LAG(value) OVER w AS prev, ROW_NUMBER() OVER w AS rn
           FROM e WINDOW w AS (PARTITION BY key ORDER BY us, tie)),
         op AS (SELECT key, us, tie, value FROM o
                WHERE rn = 1 OR value IS DISTINCT FROM prev)
         SELECT key, value, us AS valid_from_us,
           LEAD(us) OVER w2 AS valid_to_us,
           LEAD(us) OVER w2 IS NULL AS is_current
         FROM op WINDOW w2 AS (PARTITION BY key ORDER BY us, tie)"""),

    // per-cell cap — over-dense regions downsampled, sparse ones kept
    // whole; md5 order hash makes the pick engine-replayable. One
    // window shuffle; the cluster-balanced subsample without k-means
    "x07_diversity_sample" -> entry(
      (s, d) => Similarity.diversitySample(
        t(s, d, "embeddings"), "vec_id", "embedding", bits = 4, perBucket = 10),
      """WITH b AS (
           SELECT vec_id,
             (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) +
             (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END) +
             (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) +
             (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings WHERE embedding IS NOT NULL),
         r AS (
           SELECT vec_id, bucket, row_number() OVER (PARTITION BY bucket
             ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) AS rn
           FROM b)
         SELECT vec_id, bucket FROM r WHERE rn <= 10"""),

    "x06_curate_pipeline" -> entry(
      (s, d) => {
        val kept = TextOps.qualityFilter(
            t(s, d, "documents").select(col("doc_id"), col("text")), "text",
            minTokens = 20, maxTokens = 90, minMeanTokLen = 2.0, maxMeanTokLen = 12.0,
            minStopwordRatio = 0.01, maxDupTokenFrac = 0.6)
          .filter(col("keep")).select(col("doc_id"), col("text"))
        val reps = Dedup.fingerprintClusters(kept, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        graft.operators.PackOps.packSequences(
          kept.join(reps, Seq("doc_id"), "left_semi"), "doc_id", "text",
          tokenBudget = 256, shards = 4,
          orderHash = graft.operators.SampleOps.md5OrderHash)
      },
      """WITH w AS (
           SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents),
         q AS (
           SELECT doc_id, text, w, len(w) AS nt,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
               / NULLIF(len(w), 0) AS mtl,
             CAST(len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS DOUBLE)
               / NULLIF(len(w), 0) AS sr,
             CASE WHEN w IS NULL THEN NULL WHEN len(w) > 0
                  THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
                  ELSE 0.0 END AS dtf
           FROM w),
         kept AS (
           SELECT doc_id, text, w FROM q
           WHERE CASE WHEN COALESCE(nt, 0) < 20 THEN 1 ELSE 0 END
             + CASE WHEN COALESCE(nt > 90, FALSE) THEN 2 ELSE 0 END
             + CASE WHEN COALESCE(mtl < 2.0 OR mtl > 12.0, FALSE) THEN 4 ELSE 0 END
             + CASE WHEN COALESCE(sr < 0.01, FALSE) THEN 8 ELSE 0 END
             + CASE WHEN COALESCE(dtf > 0.6, FALSE) THEN 16 ELSE 0 END = 0),
         cl AS (
           SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
                  MIN(doc_id) AS keep_id
           FROM kept GROUP BY 1),
         surv AS (SELECT k.doc_id, k.w FROM kept k JOIN cl ON cl.keep_id = k.doc_id),
         t AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS oh,
             CAST(len(w) AS BIGINT) AS n_tokens
           FROM surv),
         o AS (
           SELECT doc_id, CAST(oh % 4 AS INT) AS shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY oh % 4 ORDER BY oh, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           FROM t)
         SELECT doc_id, shard, off // 256 AS seq_no, off % 256 AS seq_offset,
                CAST(n_tokens AS INT) AS n_tokens
         FROM o"""),

    // semi-structured props: JSON field extraction + aggregation
    "s02_events_json" -> entry(
      (s, d) => t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("int")).as("k_sum"), count(lit(1)).as("n")),
      // CAST .. AS BIGINT: DuckDB SUM(INTEGER) yields HUGEINT, which the
      // driver's hash stringifies through float64 ("2266.0" vs "2266")
      "SELECT user_id, CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum, COUNT(*) AS n FROM events GROUP BY user_id"),

    // ordered-funnel progression: per-user depth through signup → click →
    // purchase, first occurrences required in strict time order. One
    // conditional-aggregation shuffle; oracle replays the same min-per-step
    // + chained CASE
    "s04_funnel" -> entry(
      (s, d) => graft.operators.EventOps.funnel(
        t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("signup", "click", "purchase")),
      """WITH m AS (
           SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END) AS t0,
             MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t1,
             MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t2
           FROM events GROUP BY user_id)
         SELECT user_id,
           CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t2 IS NOT NULL
                     AND t0 < t1 AND t1 < t2 THEN 3
                WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t0 < t1 THEN 2
                WHEN t0 IS NOT NULL THEN 1
                ELSE 0 END AS funnel_depth
         FROM m"""),

    // cohort retention matrix: users cohorted by first-signup week,
    // counted once per (cohort, week-offset) they show ANY activity in —
    // two user-key aggregation passes, integral day-div-7 offsets. Weeks
    // truncate Monday-start in both engines
    "s05_retention" -> entry(
      (s, d) => graft.operators.EventOps.retention(
        t(s, d, "events"), "user_id", "event_type", "ts", "signup"),
      """WITH c AS (
           SELECT user_id,
             date_trunc('week', MIN(CASE WHEN event_type = 'signup'
               THEN CAST(ts AS TIMESTAMP) END)) AS cohort
           FROM events GROUP BY user_id),
         c2 AS (SELECT user_id, cohort FROM c WHERE cohort IS NOT NULL),
         a AS (
           SELECT DISTINCT c2.cohort,
             CAST(date_diff('day', c2.cohort,
                    date_trunc('week', CAST(e.ts AS TIMESTAMP))) // 7 AS INT) AS week_offset,
             e.user_id
           FROM events e JOIN c2 ON e.user_id = c2.user_id
           WHERE date_trunc('week', CAST(e.ts AS TIMESTAMP)) >= c2.cohort)
         SELECT CAST(cohort AS DATE) AS cohort_week, week_offset, COUNT(*) AS n_users
         FROM a GROUP BY 1, 2"""),

    // gap-based sessionization (30-min inactivity) — window functions, the
    // batch twin of flatMapGroupsWithState
    "s03_events_sessionize" -> entry(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"))
        t(s, d, "events")
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1)
              .otherwise(0))
          .withColumn("session_id", sum(col("new_sess")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"), min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"))
      },
      // CAST(session_id AS BIGINT): DuckDB's windowed SUM(INTEGER) is
      // HUGEINT → float64 in the driver's hash ("1.0" vs "1")
      """WITH g AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) > 1800000000 OR lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) IS NULL THEN 1 ELSE 0 END AS new_sess FROM events), s AS (SELECT user_id, ts, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM g) SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events, MIN(ts) AS sess_start, MAX(ts) AS sess_end FROM s GROUP BY user_id, session_id"""),

    // per-group OLS regression (round 11): slope/intercept from the same
    // exact-sufficient-statistics recipe as p05 — decimal sums, one fixed
    // IEEE tree, staged so intercept consumes the rounded slope COLUMN
    // identically on both engines
    "p07_regression" -> entry(
      (s, d) => graft.operators.Profile.regression(
        t(s, d, "orders").withColumn("x_day",
          datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))),
        Seq("o_orderpriority"), "x_day", "o_totalprice"),
      """WITH b AS (
           SELECT o_orderpriority,
             date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
             o_totalprice AS y
           FROM orders),
         s AS (SELECT o_orderpriority, COUNT(*) AS n,
                 SUM(CAST(x AS DECIMAL(19,2))) AS sx, SUM(CAST(y AS DECIMAL(19,2))) AS sy,
                 SUM(CAST(x AS DECIMAL(19,2)) * CAST(y AS DECIMAL(19,2))) AS sxy,
                 SUM(CAST(x AS DECIMAL(19,2)) * CAST(x AS DECIMAL(19,2))) AS sxx
               FROM b WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1),
         -- decimal -> double via VARCHAR: DuckDB's direct cast double-
         -- rounds (int128 -> double, then / 10^scale) once the unscaled
         -- value exceeds 2^53 (sxy/sxx do at sf >= 0.1), while Spark's
         -- Decimal.toDouble is correctly rounded — as is strtod
         sl AS (SELECT o_orderpriority, n,
                  CASE WHEN CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE) > 0
                       THEN (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
                            / (CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                  END AS slope,
                  CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd, CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd, CAST(n AS DOUBLE) AS nd
                FROM s)
         SELECT o_orderpriority, n, slope,
           CASE WHEN slope IS NOT NULL THEN (syd - slope * sxd) / nd END AS intercept
         FROM sl"""),

    // encoding-health profile (round 11): the fixture corpus is clean
    // ASCII, so the entry injects deterministic artifacts (U+FFFD, a
    // Latin-1 mojibake pair, a BEL) on doc_id % 7 = 3 — identical
    // codepoints via Scala escapes / DuckDB chr(); all counts are
    // length-difference string algebra, the ratio one fp division
    "t20_encoding" -> entry(
      (s, d) => graft.operators.TextOps.encodingProfile(
        t(s, d, "documents").withColumn("text",
          concat(col("text"), when(col("doc_id") % 7 === 3,
            lit(" caf\uFFFD caf\u00C3\u00A9\u0007")).otherwise(lit("")))),
        "doc_id", "text"),
      """WITH d AS (
           SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 3
               THEN ' caf' || chr(65533) || ' caf' || chr(195) || chr(169) || chr(7)
               ELSE '' END AS text
           FROM documents),
         c AS (SELECT doc_id,
             CAST(len(text) AS INT) AS n_chars,
             CAST(len(text) - len(replace(text, chr(65533), '')) AS INT) AS n_replacement,
             CAST(len(text) - len(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS INT) AS n_ctrl,
             CAST(len(text) - len(replace(text, chr(195), '')) AS INT) AS n_moji_lead,
             CAST(len(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS INT) AS n_non_ascii
           FROM d WHERE text IS NOT NULL)
         SELECT doc_id, n_chars, n_replacement, n_ctrl, n_moji_lead, n_non_ascii,
           CAST(n_non_ascii AS DOUBLE) / NULLIF(n_chars, 0) AS non_ascii_ratio,
           (n_replacement + n_ctrl + n_moji_lead) > 0 AS is_suspect
         FROM c"""),

    // daily peak concurrency (round 11): sweep line partitioned BY DAY
    // (intervals clamp at midnight), ROWS frame + (t, delta) tie order
    // pinned on both engines — see EventOps.peakConcurrency
    "s12_peak_concurrency" -> entry(
      (s, d) => graft.operators.EventOps.peakConcurrency(
        t(s, d, "events"), "ts", ttlSec = 300),
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t0 FROM events WHERE ts IS NOT NULL),
         p AS (
           SELECT CAST(t0 AS DATE) AS day, t0 AS t, 1 AS delta FROM e
           UNION ALL
           SELECT CAST(t0 AS DATE) AS day,
             LEAST(t0 + INTERVAL 300 SECONDS, CAST(CAST(t0 AS DATE) + 1 AS TIMESTAMP)) AS t,
             -1 AS delta FROM e),
         r AS (SELECT day, SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
               FROM p)
         SELECT day, CAST(COUNT(*) // 2 AS BIGINT) AS n_events, CAST(MAX(c) AS BIGINT) AS peak
         FROM r GROUP BY day"""),

    // global token-budget curation cut (round 11): quality-ordered prefix
    // under an integer budget with NO global sort — two-level running sum
    // (level histogram through the distributed prefix sum, within-level
    // partitioned windows); the oracle is the definitional single window
    "x11_budget_select" -> entry(
      (s, d) => graft.operators.SampleOps.budgetSelect(
        t(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("n_chars"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_chars", "n_tokens", budget = 12000L),
      """WITH dd AS (SELECT doc_id, n_chars,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE text IS NOT NULL AND n_chars IS NOT NULL AND doc_id IS NOT NULL),
         c AS (SELECT doc_id, n_chars, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_weight
           FROM dd)
         SELECT doc_id, n_chars, n_tokens, cum_weight FROM c WHERE cum_weight <= 12000"""),

    // deterministic per-epoch training schedule (round 12): every
    // (shard, seq) unit once per epoch, order varying by epoch yet
    // reproducible — md5 order-hash of (epoch|shard|seq); composes x04's
    // packed layout
    "x17_epoch_schedule" -> entry(
      (s, d) => graft.operators.PackOps.epochSchedule(
        graft.operators.PackOps.packSequences(
          t(s, d, "documents"), "doc_id", "text", tokenBudget = 512, shards = 8,
          orderHash = graft.operators.SampleOps.md5OrderHash),
        "shard", "seq_no", epochs = 3),
      """WITH t AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS oh,
             COALESCE(len(list_filter(string_split(text, ' '), w -> w <> '')), 0) AS n_tokens
           FROM documents),
         o AS (
           SELECT doc_id, CAST(oh % 8 AS INT) AS shard,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY oh % 8 ORDER BY oh, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           FROM t),
         units AS (SELECT DISTINCT shard, off // 512 AS seq_no FROM o),
         e AS (SELECT u.shard, u.seq_no, CAST(ep.epoch AS INT) AS epoch
               FROM units u CROSS JOIN (SELECT unnest(range(0, 3)) AS epoch) ep),
         sq AS (
           SELECT epoch, shard, seq_no,
             CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY
               CAST(('0x' || substr(md5(concat_ws('|', epoch, shard, seq_no)), 1, 15)) AS BIGINT),
               seq_no) AS INT) AS seq_ord
           FROM e),
         so AS (
           SELECT epoch, shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY
               CAST(('0x' || substr(md5(concat_ws('|', epoch, shard)), 1, 15)) AS BIGINT),
               shard) AS INT) AS shard_ord
           FROM (SELECT DISTINCT epoch, shard FROM e))
         SELECT sq.epoch, sq.shard, so.shard_ord, sq.seq_no, sq.seq_ord
         FROM sq JOIN so ON so.epoch = sq.epoch AND so.shard = sq.shard"""),

    // per-source corpus report card (round 12): the one-frame deliverable
    // — volume, exact-dup rate, quality-gate pass rate (t08 thresholds),
    // dominant predicted language + share per source; every rate one fp
    // division of exact counts, dominant-lang ties broken (count desc,
    // lang asc) on both engines
    "x16_source_report" -> entry(
      (s, d) => TextOps.corpusReport(
        t(s, d, "documents"), "doc_id", "text", "source"),
      s"""WITH w AS (
           SELECT doc_id, source, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
           FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
         q AS (
           SELECT doc_id, source, text, len(w) AS nt, length(text) AS nc,
             CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
               / NULLIF(len(w), 0) AS mtl,
             CAST(len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS DOUBLE)
               / NULLIF(len(w), 0) AS sr,
             CASE WHEN len(w) > 0
                  THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
                  ELSE 0.0 END AS dtf
           FROM w),
         r AS (
           SELECT doc_id, source, nt, nc,
             (CASE WHEN COALESCE(nt, 0) < 20 THEN 1 ELSE 0 END
              + CASE WHEN COALESCE(nt > 90, FALSE) THEN 1 ELSE 0 END
              + CASE WHEN COALESCE(mtl < 2.0 OR mtl > 12.0, FALSE) THEN 1 ELSE 0 END
              + CASE WHEN COALESCE(sr < 0.01, FALSE) THEN 1 ELSE 0 END
              + CASE WHEN COALESCE(dtf > 0.6, FALSE) THEN 1 ELSE 0 END) = 0 AS keep,
             md5(text) AS fp,
             $langCaseSql AS lang
           FROM q),
         g AS (
           SELECT source, COUNT(*) AS n_docs, CAST(SUM(nc) AS BIGINT) AS n_chars,
             CAST(SUM(nt) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT fp) AS BIGINT) AS nfp,
             CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_quality_pass
           FROM r GROUP BY 1),
         lc AS (SELECT source, lang, COUNT(*) AS ln FROM r GROUP BY 1, 2),
         lt AS (SELECT source, lang AS top_lang, ln FROM (
                  SELECT source, lang, ln,
                    ROW_NUMBER() OVER (PARTITION BY source
                      ORDER BY ln DESC, lang ASC) AS rn
                  FROM lc) WHERE rn = 1)
         SELECT g.source, g.n_docs, g.n_chars, g.n_tokens,
           g.n_docs - g.nfp AS n_exact_dups,
           CAST(g.n_docs - g.nfp AS DOUBLE) / g.n_docs AS dup_rate,
           g.n_quality_pass,
           CAST(g.n_quality_pass AS DOUBLE) / g.n_docs AS quality_pass_rate,
           lt.top_lang,
           CAST(lt.ln AS DOUBLE) / g.n_docs AS top_lang_share
         FROM g JOIN lt ON lt.source = g.source"""),

    // curriculum packing (round 12): rank-exact difficulty quartiles over
    // the n_chars distribution (distributed prefix sum — no sampled
    // boundaries), hash-interleaved token shards within each stage; the
    // easy→hard schedule as a deterministic (stage, shard, seq_no)
    // manifest, all integer arithmetic
    "x15_curriculum_pack" -> entry(
      (s, d) => graft.operators.SampleOps.curriculumPack(
        t(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), col("n_chars"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_chars", "n_tokens", nStages = 4, subShards = 8,
        shardTokens = 500L),
      """WITH dd AS (
           SELECT doc_id, n_chars,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents
           WHERE text IS NOT NULL AND doc_id IS NOT NULL AND n_chars IS NOT NULL),
         hist AS (SELECT n_chars AS v, COUNT(*) AS cnt FROM dd GROUP BY 1),
         cumh AS (SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER () AS n
           FROM hist),
         st AS (SELECT v, LEAST(3, (4 * (cum - cnt)) // n) AS stage FROM cumh),
         j AS (SELECT dd.doc_id, dd.n_chars, dd.n_tokens, st.stage,
             CAST(('0x' || substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS oh
           FROM dd JOIN st ON st.v = dd.n_chars),
         sh AS (SELECT doc_id, n_chars, CAST(stage AS INT) AS stage,
             CAST(oh % 8 AS INT) AS shard, oh, n_tokens FROM j),
         o AS (SELECT doc_id, n_chars, stage, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY stage, shard
               ORDER BY oh, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
           FROM sh)
         SELECT doc_id, n_chars, stage, shard, off // 500 AS seq_no, n_tokens
         FROM o""")

    ,
    // ------------------------------------------------------------------
    // streaming twins, driver-visible (round 13): DuckDB cannot oracle a
    // stream, so each entry is a DISAGREEMENT CHECK (the t07 idiom): run
    // the streaming operator over the events parquet as a bounded file
    // stream (runToMemory = start + processAllAvailable + stop), run the
    // batch twin on the same table, and return the symmetric exceptAll —
    // rows where the two computations differ. Oracle = the same frame's
    // schema WHERE FALSE: the entry is green iff stream ≡ batch,
    // row-for-row, under the driver's full rows+schema+hash gate.
    // StreamingSpec remains the frame-level oracle (late data, watermark
    // off-by-one, cross-batch folds); these entries make the equivalence
    // driver-visible per round.
    // ------------------------------------------------------------------

    // twin guard (round 16): the y-family and t07 oracle as EMPTY-expected
    // disagreement checks, which pass vacuously if the input goes empty or
    // both twin sides break identically. This entry closes that window:
    // one row per twin carrying its BATCH side's row count, computed by
    // the same library functions the twins call and replayed INDEPENDENTLY
    // by the DuckDB oracle (plain SQL: tumbling windows, gaps-and-islands
    // sessions, interval-join counts incl. the watermark emission
    // horizons) — a count drift or an empty batch side is a loud red, and
    // the count-level replay re-verifies the interval-join algebra from
    // scratch. y04's batch output count is NOT SQL-replayable (production
    // xxhash64 minhash), so its guards are the two INPUT counts — the
    // input-regression half; its both-sides-broken half stays pinned by
    // DedupSpec/StreamingSpec. The assert_true filter makes an empty
    // batch side a loud runtime error even before the oracle compare.
    "y00_twin_guard" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        import org.apache.spark.storage.StorageLevel
        val tolUs = 3600L * 1000000L
        val gapUs = 1800L * 1000000L
        // round 17: the guard's cost must stay FLAT as y-entries grow —
        // persist the frames every branch re-derives (events-with-ts,
        // the click/purchase interval-join sides, the session input,
        // docs) once, compute the one-row-per-twin guard eagerly, release in
        // finally (the d05/d28 idiom). The collect is bounded by
        // construction: one row per twin, never data-sized.
        val evTs = t(s, d, "events").filter(col("ts").isNotNull)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val docs = t(s, d, "documents").persist(StorageLevel.MEMORY_AND_DISK)
        val pick = (tp: String) => evTs
          .filter(col("user_id").isNotNull && col("event_type") === tp)
          .select(col("user_id"), col("event_id"), col("ts"))
        val lb = pick("click").persist(StorageLevel.MEMORY_AND_DISK)
        val rb = pick("purchase").persist(StorageLevel.MEMORY_AND_DISK)
        val sess = evTs.filter(col("user_id").isNotNull)
          .select(col("user_id"), col("ts"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val wmUs = math.min(
            StreamingOps.finalWatermarkUs(lb), StreamingOps.finalWatermarkUs(rb))
          def cnt(name: String, df: DataFrame) =
            df.agg(count(lit(1)).as("batch_rows"))
              .select(lit(name).as("twin"), col("batch_rows"))
          // y07/y12/y13 share one byte-identical batch twin (the decided
          // session window — y12/y13 only vary the STREAMING side, which
          // the guard never touches): count it ONCE and fan the single
          // row out to all three labels (round-20 advisor find — the
          // per-label aggregates tripled the guard's most expensive
          // frame for nothing twin-specific)
          val decidedCnt = StreamingOps.sessionWindowBatchDecided(sess, gapUs,
              StreamingOps.finalWatermarkUs(sess))
            .agg(count(lit(1)).as("batch_rows"))
            .select(explode(array(lit("y07"), lit("y12"), lit("y13"))).as("twin"),
              col("batch_rows"))
          val guard = Seq(
            cnt("y01", StreamingOps.windowedCounts(evTs
              .withColumn("value", col("value").cast(DecimalType(18, 6))))),
            cnt("y02", evTs.filter(col("event_id").isNotNull)),
            cnt("y03", sess.select(col("user_id")).distinct()),
            cnt("y04_probe", docs.filter(pmod(col("doc_id"), lit(3)) === 0)),
            cnt("y04_corpus", docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)),
            cnt("y05", StreamingOps.intervalJoinStreams(lb, rb, tolUs)),
            cnt("y06", StreamingOps.intervalJoinBatchLeftOuter(lb, rb, tolUs, wmUs)),
            decidedCnt,
            cnt("y08", StreamingOps.intervalJoinBatchFullOuter(lb, rb, tolUs, wmUs)),
            cnt("y09", StreamingOps.intervalJoinBatchRightOuter(lb, rb, tolUs, wmUs)),
            cnt("y11", evTs.filter(col("user_id").isNotNull &&
              col("event_type").isNotNull).select(col("user_id")).distinct()),
            cnt("t07", docs))
            .reduce(_.unionByName(_))
            .filter(assert_true(col("batch_rows") > 0,
              concat(lit("twin guard: empty batch side for "), col("twin"))).isNull)
          import s.implicits._
          guard.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
            .toDF("twin", "batch_rows")
        } finally {
          Seq(evTs, docs, lb, rb, sess).foreach(_.unpersist(false))
        }
      },
      """WITH clicks AS (
           SELECT user_id, event_id, ts FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type = 'click'),
         purch AS (
           SELECT user_id, event_id, ts FROM events
           WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type = 'purchase'),
         wm AS (SELECT LEAST(
             GREATEST(0, COALESCE((SELECT (MAX(epoch_us(ts)) // 1000) * 1000 FROM clicks), 0)),
             GREATEST(0, COALESCE((SELECT (MAX(epoch_us(ts)) // 1000) * 1000 FROM purch), 0))) AS wm),
         sessin AS (
           SELECT user_id, epoch_us(ts) AS us FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         sesswm AS (
           SELECT GREATEST(0, COALESCE((MAX(us) // 1000) * 1000, 0)) AS wm FROM sessin),
         isl AS (
           SELECT user_id, us,
             CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
           FROM sessin WINDOW w AS (PARTITION BY user_id ORDER BY us)),
         isl2 AS (
           SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
               ROWS UNBOUNDED PRECEDING) AS island
           FROM isl),
         sess AS (SELECT user_id, island, MAX(us) AS last_us FROM isl2 GROUP BY 1, 2),
         npairs AS (
           SELECT COUNT(*) AS n FROM clicks c JOIN purch p ON c.user_id = p.user_id
             AND epoch_us(p.ts) >= epoch_us(c.ts)
             AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000),
         unmatched_l AS (
           SELECT COUNT(*) AS n FROM clicks c, wm
           WHERE NOT EXISTS (SELECT 1 FROM purch p WHERE p.user_id = c.user_id
               AND epoch_us(p.ts) >= epoch_us(c.ts)
               AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000)
             AND epoch_us(c.ts) + 3600000000 < wm.wm),
         unmatched_r AS (
           SELECT COUNT(*) AS n FROM purch p, wm
           WHERE NOT EXISTS (SELECT 1 FROM clicks c WHERE c.user_id = p.user_id
               AND epoch_us(p.ts) >= epoch_us(c.ts)
               AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000)
             AND epoch_us(p.ts) < wm.wm)
         SELECT 'y01' AS twin, (SELECT COUNT(*) FROM (
             SELECT 1 FROM events WHERE ts IS NOT NULL
             GROUP BY (epoch_us(ts) // 3600000000), event_type)) AS batch_rows
         UNION ALL SELECT 'y02', (SELECT COUNT(*) FROM events
           WHERE event_id IS NOT NULL AND ts IS NOT NULL)
         UNION ALL SELECT 'y03', (SELECT COUNT(DISTINCT user_id) FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL)
         UNION ALL SELECT 'y04_probe', (SELECT COUNT(*) FROM documents WHERE doc_id % 3 = 0)
         UNION ALL SELECT 'y04_corpus', (SELECT COUNT(*) FROM documents WHERE doc_id % 3 <> 0)
         UNION ALL SELECT 'y05', (SELECT n FROM npairs)
         UNION ALL SELECT 'y06', (SELECT npairs.n + unmatched_l.n FROM npairs, unmatched_l)
         UNION ALL SELECT 'y07', (SELECT COUNT(*) FROM sess, sesswm
           WHERE last_us + 1800000000 <= sesswm.wm)
         UNION ALL SELECT 'y08', (SELECT npairs.n + unmatched_l.n + unmatched_r.n
           FROM npairs, unmatched_l, unmatched_r)
         UNION ALL SELECT 'y09', (SELECT npairs.n + unmatched_r.n FROM npairs, unmatched_r)
         UNION ALL SELECT 'y11', (SELECT COUNT(DISTINCT user_id) FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL)
         UNION ALL SELECT 'y12', (SELECT COUNT(*) FROM sess, sesswm
           WHERE last_us + 1800000000 <= sesswm.wm)
         UNION ALL SELECT 'y13', (SELECT COUNT(*) FROM sess, sesswm
           WHERE last_us + 1800000000 <= sesswm.wm)
         UNION ALL SELECT 't07', (SELECT COUNT(*) FROM documents)"""),

    // windowed aggregation: tumbling 1h counts+sums per event type.
    // `value` is pre-cast to DECIMAL(18,6) on BOTH sides so the sums are
    // exact and order-independent — a raw double sum would bit-diverge
    // between the streaming partial-agg order and the batch one, making
    // exceptAll flaky by construction. Complete output mode: the bounded
    // smoke must emit every window, including those the final watermark
    // never passes (append mode would hold the tail windows back forever
    // on a finite input).
    "y01_stream_windowed" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val exact = (df: DataFrame) => df
          .filter(col("ts").isNotNull)
          .withColumn("value", col("value").cast(DecimalType(18, 6)))
        val streamed = StreamingOps.runToMemory(
          StreamingOps.windowedCounts(
            exact(StreamingOps.eventsStream(s, s"$d/events.parquet"))),
          "y01_windowed_mem", org.apache.spark.sql.streaming.OutputMode.Complete())
        val batch = StreamingOps.windowedCounts(exact(t(s, d, "events")))
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS TIMESTAMP) AS win_start, CAST(NULL AS VARCHAR) AS event_type,
                CAST(NULL AS BIGINT) AS n, CAST(NULL AS DECIMAL(28,6)) AS total
         WHERE FALSE"""),

    // watermark dedup: every event arrives TWICE (union of two file
    // streams over the same parquet), dropDuplicatesWithinWatermark on
    // event_id must reconstruct exactly the original table — the
    // at-least-once-delivery dedup every event pipeline runs. NULL keys /
    // NULL event times are excluded on both sides: streaming watermark
    // semantics drop null event-time rows and null keys all collapse
    // under dropDuplicates, neither of which the batch table does.
    "y02_stream_dedup" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val clean = (df: DataFrame) =>
          df.filter(col("event_id").isNotNull && col("ts").isNotNull)
        val twice = clean(StreamingOps.eventsStream(s, s"$d/events.parquet"))
          .unionByName(clean(StreamingOps.eventsStream(s, s"$d/events.parquet")))
        val streamed = StreamingOps.runToMemory(
          StreamingOps.dedupStream(twice, Seq("event_id")),
          "y02_dedup_mem", org.apache.spark.sql.streaming.OutputMode.Append())
        val batch = clean(t(s, d, "events"))
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS TIMESTAMP) AS ts,
                CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS VARCHAR) AS event_type,
                CAST(NULL AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS props
         WHERE FALSE"""),

    // streaming near-dup gate vs the batch cross-corpus recompute: docs
    // ≡ 0 mod 3 arrive as a file stream and are gated against the static
    // corpus (the rest) through the stream-static LSH band join; the
    // batch twin is crossCorpusContamination over the same split with
    // the same production signature family — identical banding
    // (bandHash is the single shared formula), identical verify, so the
    // pair sets must agree row-for-row including the est_jaccard doubles
    "y04_stream_neardup_gate" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val docs = t(s, d, "documents")
        val corpus = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        // applySubset: the raw file stream bypasses table(), and a subset
        // replay must thin BOTH twins or the disagreement check reports
        // the unfiltered probes as failures
        val stream = GraftSession.applySubset("documents",
            StreamingOps.tableStream(s, s"$d/documents.parquet"))
          .filter(pmod(col("doc_id"), lit(3)) === 0)
        val streamed = StreamingOps.runToMemory(
          StreamingOps.nearDupAgainstCorpus(stream, corpus, "doc_id", "text"),
          "y04_gate_mem", org.apache.spark.sql.streaming.OutputMode.Append())
        val batch = Dedup.crossCorpusContamination(
            corpus, docs.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text")
          .select(col("eval_id").as("doc_id"), col("train_id").as("corpus_id"),
            col("est_jaccard"))
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS corpus_id,
                CAST(NULL AS DOUBLE) AS est_jaccard
         WHERE FALSE"""),

    // stream-stream interval join (round 14): clicks and purchases arrive
    // as two independent file streams, joined per user within a 1-hour
    // event-time tolerance with both sides watermarked — the attribution
    // join whose state Spark bounds from the watermark + range condition.
    // Batch twin = the SAME intervalJoinStreams algebra over the events
    // table (user_id equi-join, range residual — never an inequality
    // nested loop); lag_us makes pair identity integer-exact.
    "y05_stream_interval_join" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val tolUs = 3600L * 1000000L
        val pick = (tp: String) => (df: DataFrame) => df
          .filter(col("ts").isNotNull && col("user_id").isNotNull &&
            col("event_type") === tp)
          .select(col("user_id"), col("event_id"), col("ts"))
        val streamed = StreamingOps.runToMemory(
          StreamingOps.intervalJoinStreams(
            pick("click")(StreamingOps.eventsStream(s, s"$d/events.parquet")),
            pick("purchase")(StreamingOps.eventsStream(s, s"$d/events.parquet")),
            tolUs),
          "y05_ivj_mem", org.apache.spark.sql.streaming.OutputMode.Append())
        val ev = t(s, d, "events")
        val batch = StreamingOps.intervalJoinStreams(
          pick("click")(ev), pick("purchase")(ev), tolUs)
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS BIGINT) AS left_id,
                CAST(NULL AS BIGINT) AS right_id, CAST(NULL AS BIGINT) AS lag_us
         WHERE FALSE"""),

    // stream-stream LEFT OUTER interval join (round 14): the watermark-
    // gated emission class — a click with no purchase inside the horizon
    // emits its null row only once the watermark PROVES no purchase can
    // arrive. The stream runs under Trigger.AvailableNow so the trailing
    // no-data batches flush exactly the state the final watermark
    // releases; the batch twin reproduces that contract explicitly
    // (intervalJoinBatchLeftOuter: matched pairs + unmatched lefts with
    // left_ts + tol strictly below the ms-floored min-policy watermark) —
    // so the entry pins the EXACT decision boundary, not just the pairs
    "y06_stream_interval_outer" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val tolUs = 3600L * 1000000L
        val pick = (tp: String) => (df: DataFrame) => df
          .filter(col("ts").isNotNull && col("user_id").isNotNull &&
            col("event_type") === tp)
          .select(col("user_id"), col("event_id"), col("ts"))
        val streamed = StreamingOps.runToMemory(
          StreamingOps.intervalJoinStreams(
            pick("click")(StreamingOps.eventsStream(s, s"$d/events.parquet")),
            pick("purchase")(StreamingOps.eventsStream(s, s"$d/events.parquet")),
            tolUs, joinType = "left_outer"),
          "y06_ivjo_mem", org.apache.spark.sql.streaming.OutputMode.Append(),
          availableNow = true)
        val ev = t(s, d, "events")
        val lb = pick("click")(ev)
        val rb = pick("purchase")(ev)
        // per-input final watermarks (0-clamped, ms-floored — the shared
        // helper) combined under the min policy
        val wmUs = math.min(
          StreamingOps.finalWatermarkUs(lb), StreamingOps.finalWatermarkUs(rb))
        val batch = StreamingOps.intervalJoinBatchLeftOuter(lb, rb, tolUs, wmUs)
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS BIGINT) AS left_id,
                CAST(NULL AS BIGINT) AS right_id, CAST(NULL AS BIGINT) AS lag_us
         WHERE FALSE"""),

    // native session_window aggregation (round 14): the engine-managed
    // sessionization operator — Spark merges overlapping [ts, ts+gap)
    // windows per user into sessions and, in append-mode streaming,
    // emits a session once the watermark passes its end (sess_end <=
    // final watermark, the StreamingSpec-pinned boundary). AvailableNow
    // flushes exactly the decided sessions; the batch twin
    // (sessionWindowBatchDecided) replicates the cutoff explicitly, so
    // the entry pins both the session algebra and the emission contract
    "y07_stream_session_window" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        // ONE gap constant feeds both twins — a default on one side and a
        // literal on the other would let them silently drift apart
        val gapUs = 1800L * 1000000L
        val clean = (df: DataFrame) => df
          .filter(col("ts").isNotNull && col("user_id").isNotNull)
          .select(col("user_id"), col("ts"))
        val streamed = StreamingOps.runToMemory(
          StreamingOps.sessionWindowCounts(
            clean(StreamingOps.eventsStream(s, s"$d/events.parquet")), gapUs),
          "y07_sessw_mem", org.apache.spark.sql.streaming.OutputMode.Append(),
          availableNow = true)
        val ev = clean(t(s, d, "events"))
        val batch = StreamingOps.sessionWindowBatchDecided(ev, gapUs,
          StreamingOps.finalWatermarkUs(ev))
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS TIMESTAMP) AS sess_start,
                CAST(NULL AS TIMESTAMP) AS sess_end, CAST(NULL AS BIGINT) AS n_events
         WHERE FALSE"""),

    // stream-stream FULL OUTER interval join (round 15): y06's emission-
    // contract machinery generalized to both sides — an unmatched click
    // emits its null row once the watermark passes click_ts + tolerance,
    // an unmatched purchase once the watermark passes its OWN ts (the
    // asymmetry falls out of the range condition: any click a purchase
    // could pair with is at-or-before it). AvailableNow flushes exactly
    // the state the final min-policy watermark releases; the batch twin
    // (intervalJoinBatchFullOuter) reproduces both strict boundaries
    "y08_stream_interval_full" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val tolUs = 3600L * 1000000L
        val pick = (tp: String) => (df: DataFrame) => df
          .filter(col("ts").isNotNull && col("user_id").isNotNull &&
            col("event_type") === tp)
          .select(col("user_id"), col("event_id"), col("ts"))
        val streamed = StreamingOps.runToMemory(
          StreamingOps.intervalJoinStreams(
            pick("click")(StreamingOps.eventsStream(s, s"$d/events.parquet")),
            pick("purchase")(StreamingOps.eventsStream(s, s"$d/events.parquet")),
            tolUs, joinType = "full_outer"),
          "y08_ivjf_mem", org.apache.spark.sql.streaming.OutputMode.Append(),
          availableNow = true)
        val ev = t(s, d, "events")
        val lb = pick("click")(ev)
        val rb = pick("purchase")(ev)
        val wmUs = math.min(
          StreamingOps.finalWatermarkUs(lb), StreamingOps.finalWatermarkUs(rb))
        val batch = StreamingOps.intervalJoinBatchFullOuter(lb, rb, tolUs, wmUs)
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS BIGINT) AS left_id,
                CAST(NULL AS BIGINT) AS right_id, CAST(NULL AS BIGINT) AS lag_us
         WHERE FALSE"""),

    // stream-stream RIGHT OUTER interval join (round 16): the last
    // Spark-supported interval-join type — matched pairs emit as found,
    // and an unmatched purchase emits its null row once the watermark
    // passes its OWN ts (the full-outer contract's right-side horizon:
    // any click it could pair with is at-or-before it, and later inputs
    // below the watermark drop as late). AvailableNow flushes exactly
    // the state the final min-policy watermark releases; the batch twin
    // (intervalJoinBatchRightOuter) reproduces the strict boundary
    "y09_stream_interval_right" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val tolUs = 3600L * 1000000L
        val pick = (tp: String) => (df: DataFrame) => df
          .filter(col("ts").isNotNull && col("user_id").isNotNull &&
            col("event_type") === tp)
          .select(col("user_id"), col("event_id"), col("ts"))
        val streamed = StreamingOps.runToMemory(
          StreamingOps.intervalJoinStreams(
            pick("click")(StreamingOps.eventsStream(s, s"$d/events.parquet")),
            pick("purchase")(StreamingOps.eventsStream(s, s"$d/events.parquet")),
            tolUs, joinType = "right_outer"),
          "y09_ivjr_mem", org.apache.spark.sql.streaming.OutputMode.Append(),
          availableNow = true)
        val ev = t(s, d, "events")
        val lb = pick("click")(ev)
        val rb = pick("purchase")(ev)
        val wmUs = math.min(
          StreamingOps.finalWatermarkUs(lb), StreamingOps.finalWatermarkUs(rb))
        val batch = StreamingOps.intervalJoinBatchRightOuter(lb, rb, tolUs, wmUs)
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS BIGINT) AS left_id,
                CAST(NULL AS BIGINT) AS right_id, CAST(NULL AS BIGINT) AS lag_us
         WHERE FALSE"""),

    // RocksDB state-store twin (round 17): every y-entry runs on the
    // default HDFS-backed (executor-heap) state store — the test rig, not
    // the 100 TB deployment, where state must live off-heap in RocksDB.
    // This entry re-runs y07's computation (engine-managed session
    // windows, append mode, AvailableNow flush — the heaviest state
    // contract: merging windows, watermark-gated emission) with the
    // provider swapped to RocksDBStateStoreProvider, against the same
    // batch twin: green iff the provider changes NOTHING about emitted
    // rows. Default-provider ≡ batch is y07's pin; RocksDB ≡ batch here
    // closes the provider-independence triangle. StreamingSpec pins that
    // RocksDB is actually ENGAGED (rocksdb* custom metrics reported),
    // so this can't pass by silently falling back to the default store.
    "y10_rocksdb_state_store" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val gapUs = 1800L * 1000000L
        val clean = (df: DataFrame) => df
          .filter(col("ts").isNotNull && col("user_id").isNotNull)
          .select(col("user_id"), col("ts"))
        val streamed = StreamingOps.withStateStoreProvider(
          s, StreamingOps.RocksDbStateStoreProvider) {
          StreamingOps.runToMemory(
            StreamingOps.sessionWindowCounts(
              clean(StreamingOps.eventsStream(s, s"$d/events.parquet")), gapUs),
            "y10_rocksdb_mem", org.apache.spark.sql.streaming.OutputMode.Append(),
            availableNow = true)
        }
        val ev = clean(t(s, d, "events"))
        val batch = StreamingOps.sessionWindowBatchDecided(ev, gapUs,
          StreamingOps.finalWatermarkUs(ev))
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS TIMESTAMP) AS sess_start,
                CAST(NULL AS TIMESTAMP) AS sess_end, CAST(NULL AS BIGINT) AS n_events
         WHERE FALSE"""),

    // transformWithState (round 17): Spark 4's arbitrary-state API — the
    // successor to mapGroupsWithState (y03) / flatMapGroupsWithState (t07's
    // operator), with NAMED typed state variables (ValueState running count
    // + MapState first-seen-ts per event type) instead of one opaque state
    // blob per key. Requires — and therefore also exercises — the RocksDB
    // provider (Spark rejects it on the default store). Update-mode rows
    // fold per user (max running counts; first_type from the final batch
    // via max_by) so the check is correct however the file source batches
    // the input; the batch twin is one aggregate with the same
    // lexicographic (ts, type) tie-break. StreamingSpec pins cross-batch
    // state accumulation and the engaged-provider metrics.
    "y11_transform_with_state" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val clean = (df: DataFrame) => df
          .filter(col("ts").isNotNull && col("user_id").isNotNull &&
            col("event_type").isNotNull)
        val streamed = StreamingOps.withStateStoreProvider(
          s, StreamingOps.RocksDbStateStoreProvider) {
          StreamingOps.runToMemory(
            StreamingOps.typeProfileStream(
              clean(StreamingOps.eventsStream(s, s"$d/events.parquet"))).toDF(),
            "y11_tws_mem", org.apache.spark.sql.streaming.OutputMode.Update(),
            availableNow = true)
        }
          .groupBy(col("user_id"))
          .agg(max(col("n_events")).as("n_events"),
            max(col("n_types")).as("n_types"),
            expr("max_by(first_type, n_events)").as("first_type"))
        val batch = clean(t(s, d, "events"))
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tsUs"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("event_type")).as("n_types"),
            min(struct(col("tsUs"), col("event_type")))
              .getField("event_type").as("first_type"))
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS BIGINT) AS n_events,
                CAST(NULL AS BIGINT) AS n_types, CAST(NULL AS STRING) AS first_type
         WHERE FALSE"""),

    // restart/recovery (round 18): the session-window aggregation run as
    // TWO query instances over one checkpoint and one fault-tolerant file
    // sink — instance 1 consumes the first (time-ordered) half and stops,
    // instance 2 cold-starts from the checkpoint (offsets + session state
    // + watermark) and appends only what the final watermark newly
    // decides. The committed two-run total must equal the single-pass
    // batch twin exactly: exactly-once THROUGH a restart, the contract
    // the single-run y-entries cannot see. StreamingSpec additionally
    // pins disjointness (instance 2 re-emits nothing) on a hand-built
    // fixture with a session SPANNING the kill point.
    "y12_restart_recovery" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val gapUs = 1800L * 1000000L
        val ev = t(s, d, "events")
          .filter(col("ts").isNotNull && col("user_id").isNotNull)
          .select(col("user_id"), col("ts"))
        val streamed = StreamingOps.restartRecoverySessions(ev, gapUs)
        val batch = StreamingOps.sessionWindowBatchDecided(ev, gapUs,
          StreamingOps.finalWatermarkUs(ev))
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS TIMESTAMP) AS sess_start,
                CAST(NULL AS TIMESTAMP) AS sess_end, CAST(NULL AS BIGINT) AS n_events
         WHERE FALSE"""),

    // mid-batch-kill recovery (round 19): the harder twin y12 stopped
    // short of — after instance 2's sink commit, the checkpoint's newest
    // commit-log entry is DELETED (byte-for-byte the crash window
    // between sink commit and commit-log write), so instance 3 must
    // re-execute that batch from offsets/N; the file sink's
    // _spark_metadata makes the replayed write a no-op (no duplicates)
    // and the third delivery lands on the recovered state (no loss).
    // Committed three-instance total ≡ single-pass batch twin, exactly.
    "y13_midbatch_kill_recovery" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        val gapUs = 1800L * 1000000L
        val ev = t(s, d, "events")
          .filter(col("ts").isNotNull && col("user_id").isNotNull)
          .select(col("user_id"), col("ts"))
        val streamed = StreamingOps.midBatchKillRecoverySessions(ev, gapUs)
        val batch = StreamingOps.sessionWindowBatchDecided(ev, gapUs,
          StreamingOps.finalWatermarkUs(ev))
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS TIMESTAMP) AS sess_start,
                CAST(NULL AS TIMESTAMP) AS sess_end, CAST(NULL AS BIGINT) AS n_events
         WHERE FALSE"""),

    // stateful sessionization (mapGroupsWithState): per-user 30-min-gap
    // session counts from the stream vs the batch lag-window derivation.
    // Update-mode rows are folded per user (max running session count,
    // sum of per-batch event counts) so the check is correct however the
    // file source batches the input.
    "y03_stream_sessions" -> entry(
      (s, d) => {
        import graft.streaming.StreamingOps
        import org.apache.spark.sql.expressions.Window
        val gapUs = 1800L * 1000000L
        val enc = org.apache.spark.sql.Encoders.product[StreamingOps.UserEvent]
        val src = StreamingOps.eventsStream(s, s"$d/events.parquet")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("tsUs"))
          .as(enc)
        val streamed = StreamingOps.runToMemory(
          StreamingOps.sessionCounts(src, gapUs).toDF(),
          "y03_sessions_mem", org.apache.spark.sql.streaming.OutputMode.Update())
          .groupBy(col("user_id"))
          .agg(max(col("n_sessions")).as("n_sessions"),
            sum(col("n_events")).as("n_events"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("__us"))
        val batch = t(s, d, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("__us"))
          .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
          .groupBy(col("user_id"))
          .agg(sum(when(col("__gap").isNull || col("__gap") > gapUs, lit(1L))
            .otherwise(lit(0L))).as("n_sessions"),
            count(lit(1)).as("n_events"))
        streamed.exceptAll(batch).unionByName(batch.exceptAll(streamed))
      },
      """SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS BIGINT) AS n_sessions,
                CAST(NULL AS BIGINT) AS n_events WHERE FALSE""")
  )

  // ------------------------------------------------------------------
  // driver contract
  // ------------------------------------------------------------------

  /** The registry: every entry once, in declaration order. A repeated name
    * fails here rather than one of the two silently shadowing the other in
    * [[queries]].
    */
  lazy val entries: Vector[Entry] = {
    val es = (relational ++ extensions).map { case (n, (build, oracle)) => Entry(n, build, oracle) }
    val dups = es.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => n }
    require(dups.isEmpty, s"duplicate entry names: ${dups.toSeq.sorted.mkString(", ")}")
    es
  }

  /** The entries whose names start with one of the comma-separated
    * `prefixes`, or every entry when there are none.
    */
  def select(prefixes: Option[String]): Vector[Entry] = prefixes.fold(entries) { p =>
    val ps = p.split(',').toSeq
    entries.filter(e => ps.exists(e.name.startsWith))
  }

  /** The entry called `name`; an unknown name fails loudly. */
  def named(name: String): Entry =
    entries.find(_.name == name).getOrElse(throw new NoSuchElementException(s"unknown entry $name"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q29_flagship")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.build).toMap

  /** The static oracle texts; the [[Replay]] entries are absent. */
  lazy val oracleSql: Map[String, String] =
    entries.collect { case Entry(n, _, Static(sql)) => n -> sql }.toMap

  /** Every oracle text of `of` over dump dir `dir`, and the error of each
    * [[Replay]] generator that failed, by entry name. A failure (unreadable
    * or empty embeddings) leaves its entry out of the texts rather than
    * taking down the whole dump; NonFatal, so an OOM mid-collect still
    * fails fast. Each replay reads the embeddings' dim with one Spark job,
    * so a dump calls this once.
    */
  def oracles(spark: SparkSession, dir: String, of: Seq[Entry] = entries)
      : (Map[String, String], Map[String, String]) = {
    val results = of.map { e =>
      e.oracle match {
        case Static(sql) => Right(e.name -> sql)
        case Replay(gen) =>
          try Right(e.name -> gen(spark, dir))
          catch { case scala.util.control.NonFatal(ex) =>
            System.err.println(s"[oracle] ${e.name} generator failed, entry stays rows-only: $ex")
            Left(e.name -> s"$ex")
          }
      }
    }
    (results.collect { case Right(kv) => kv }.toMap, results.collect { case Left(kv) => kv }.toMap)
  }
}
