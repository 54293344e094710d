package graft

import graft.similarity.{Ivf, IvfPq, PcaPower, Pq}
import graft.text.Bpe

/** Per-run capture of trained ANN models (IVF centroids, PQ codebooks) so
  * [[SparkEntry.oracleSql]] can hand the driver a DuckDB replay of the
  * SEARCH path of quantizer-backed queries. Training itself stays
  * spec-pinned (Lloyd's isn't SQL); but once a query has trained its
  * model, the model is just numbers — inlining them as SQL literals makes
  * the assignment/probe/ADC/rank chain fully hash-checkable, the same
  * recipe that flipped m09/m10 (seeded hyperplanes as literals).
  *
  * [[Verify]] dumps `oracle_sql.json` AFTER running every query and
  * `oracleSql` is a def, so each query deposits the exact model instance
  * its output was computed with; the replay can never race a retrain
  * (queries that train separately — m12 vs m41 vs m74 — capture under
  * their own key, because double summation order across partitions can
  * move centroids by ulps between `Ivf.train` calls).
  */
object OracleCapture {
  private val store = scala.collection.concurrent.TrieMap.empty[String, Any]
  def put(name: String, model: Any): Unit = store.put(name, model)
  def get[T](name: String): Option[T] = store.get(name).map(_.asInstanceOf[T])
}

/** DuckDB SQL builders that replay ANN search over an inlined model.
  *
  * Bitwise discipline (selection steps — argmin cell, PQ code assignment,
  * top-k ranks — only agree if the scores agree exactly):
  *  - dot products are `list_dot_product`, which sums left-to-right like
  *    the codegen'd graft_dot and the scoring closures' `while` loops;
  *  - IVF cell scores replay `Ivf.cellScores`'s exact form
  *    |c|² − 2·v·c with |c|² precomputed on the driver (same loop) and
  *    inlined, so the subtraction order matches;
  *  - PQ/IVF-PQ distances replay the closures' `((v−cent)−cb)²` with the
  *    same left association and j-ascending summation
  *    (`list_sum(list_transform(...))` folds in list order);
  *  - ADC totals sum the m per-subspace lookups in subspace order via
  *    `list_sum(list(d ORDER BY s))` — a bare SUM() would re-associate;
  *  - ties break exactly like the closures: strict `<` keeps the first
  *    (smallest) index → `row_number() ... ORDER BY d, c` rank 1.
  *
  * The literal model is bounded driver-side state by construction
  * (nlist×dim + m×ksub×dsub doubles — the same arrays the engine ships in
  * closures), so the generated SQL stays tens of KB, not plan-breaking.
  */
object OracleModelSql {

  /** Scala's shortest-round-trip Double printing; DuckDB parses back the
    * identical bits. */
  private def lit(x: Double): String = x.toString
  /** A SQL string literal's body: each quote doubled. */
  private def esc(s: String): String = s.replace("'", "''")
  private def arr(xs: Seq[Double]): String = xs.map(lit).mkString("[", ", ", "]")

  /** |c|² with the same left-to-right summation as Ivf.Model.flat. */
  private def sqNorm(c: Seq[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < c.length) { val x = c(j); s += x * x; j += 1 }
    s
  }

  private val vCte =
    "WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)"

  /** Score list literal replaying [[Ivf]]'s cellScores: element i is
    * |c_i|² − 2·v·c_i (the |v|²-dropped squared distance). */
  private def cellScoreList(m: Ivf.Model, vec: String): String =
    m.centroids.map(c => s"${lit(sqNorm(c))} - 2.0 * list_dot_product($vec, ${arr(c)})")
      .mkString("[", ", ", "]")

  /** Literal (cell, centroid) table for the IVF-PQ coarse quantizer. */
  private def cellsTable(m: Ivf.Model): String =
    "(VALUES " + m.centroids.zipWithIndex
      .map { case (c, i) => s"($i, ${arr(c)})" }.mkString(", ") + ") cells(cell, cv)"

  /** Literal (s, c, codebook-centroid) table for PQ codebooks. */
  private def cbTable(pq: Pq.Model, vecCol: String): String =
    "(VALUES " + (for (s <- 0 until pq.m; c <- 0 until pq.ksub)
      yield s"($s, $c, ${arr(pq.codebooks(s)(c))})").mkString(", ") +
      s") cb(s, c, $vecCol)"

  /** m12: Ivf.topK — argmin cell assignment, nprobe probe cells, cosine
    * top-k within probed cells. */
  def ivfTopK(m: Ivf.Model, k: Int, nprobe: Int): String = {
    val n = m.nlist
    vCte +
      s", cs AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm, ${cellScoreList(m, "vec")} AS sc FROM v)" +
      // strict-< argmin = first occurrence of the min → list_position
      ", b AS (SELECT id, vec, nrm, CAST(list_position(sc, list_aggregate(sc, 'min')) - 1 AS BIGINT) AS cell FROM cs)" +
      ", pr AS (SELECT id AS query_id, vec AS qvec, nrm AS qnrm, CAST(ci AS BIGINT) AS cell, " +
      "row_number() OVER (PARTITION BY id ORDER BY sc[ci + 1], ci) AS pk " +
      s"FROM cs CROSS JOIN range(0, $n) t(ci) WHERE id < 10)" +
      s", q AS (SELECT query_id, qvec, qnrm, cell FROM pr WHERE pk <= $nprobe)" +
      ", scored AS (SELECT query_id, c.id AS neighbor_id, " +
      "list_dot_product(qvec, c.vec) / (qnrm * c.nrm) AS sim " +
      "FROM b c JOIN q USING (cell) WHERE c.id <> query_id)" +
      ", r AS (SELECT query_id, neighbor_id, sim, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM scored) " +
      s"SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM r WHERE rank <= $k"
  }

  /** m41: Ivf cell assignment feeding QuotaSample's md5-ranked cap. */
  def ivfClusterQuota(m: Ivf.Model, cap: Int): String =
    vCte +
      s", cs AS (SELECT id, ${cellScoreList(m, "vec")} AS sc FROM v)" +
      ", b AS (SELECT id, list_position(sc, list_aggregate(sc, 'min')) - 1 AS cell FROM cs)" +
      ", r AS (SELECT id, CAST(cell AS VARCHAR) AS cell_s, " +
      "row_number() OVER (PARTITION BY cell ORDER BY md5(CAST(id AS VARCHAR)), id) AS rk FROM b) " +
      s"SELECT id, cell_s AS cell, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= $cap"

  /** m74: recall@k vs the exact top-k, one row per nprobe setting. */
  def ivfSweep(m: Ivf.Model, k: Int, nprobes: Seq[Int]): String = {
    val n = m.nlist
    val npList = nprobes.sorted.mkString("[", ", ", "]")
    vCte +
      s", cs AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm, ${cellScoreList(m, "vec")} AS sc FROM v)" +
      ", b AS (SELECT id, vec, nrm, CAST(list_position(sc, list_aggregate(sc, 'min')) - 1 AS BIGINT) AS cell FROM cs)" +
      ", qv AS (SELECT id AS query_id, vec AS qvec, nrm AS qnrm FROM cs WHERE id < 10)" +
      // exact baseline — Ann.bruteForceTopK's formula and tie-break
      ", ex AS (SELECT query_id, neighbor_id FROM (SELECT query_id, c.id AS neighbor_id, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY " +
      "list_dot_product(qvec, c.vec) / (qnrm * c.nrm) DESC, c.id) AS rk " +
      s"FROM cs c CROSS JOIN qv WHERE c.id <> query_id) WHERE rk <= $k)" +
      ", pr AS (SELECT id AS query_id, CAST(ci AS BIGINT) AS cell, " +
      "row_number() OVER (PARTITION BY id ORDER BY sc[ci + 1], ci) AS pk " +
      s"FROM cs CROSS JOIN range(0, $n) t(ci) WHERE id < 10)" +
      s", nps AS (SELECT unnest($npList) AS np)" +
      ", qq AS (SELECT np, query_id, cell FROM pr CROSS JOIN nps WHERE pk <= np)" +
      ", ap AS (SELECT np, query_id, neighbor_id FROM (SELECT qq.np, qq.query_id, c.id AS neighbor_id, " +
      "row_number() OVER (PARTITION BY qq.np, qq.query_id ORDER BY " +
      "list_dot_product(q.qvec, c.vec) / (q.qnrm * c.nrm) DESC, c.id) AS rk " +
      "FROM b c JOIN qq ON c.cell = qq.cell JOIN qv q ON q.query_id = qq.query_id " +
      s"WHERE c.id <> qq.query_id) WHERE rk <= $k)" +
      ", rec AS (SELECT nps.np AS np, e.query_id, " +
      "CAST(coalesce(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 END), 0) AS DOUBLE) / count(*) AS recall " +
      "FROM ex e CROSS JOIN nps LEFT JOIN ap a ON a.np = nps.np " +
      "AND a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id GROUP BY 1, 2) " +
      s"SELECT CAST(np AS BIGINT) AS nprobe, CAST($k AS BIGINT) AS k, " +
      "(SELECT count(*) FROM qv) AS n_queries, " +
      "sum(recall) / (SELECT count(*) FROM qv) AS mean_recall FROM rec GROUP BY 1"
  }

  /** m37: PQ code assignment + ADC top-k. The `sub` CTE is BOTH the
    * encoder's per-(vector, subspace, code) distance and the query-side
    * ADC lookup table — they are the same formula in the engine too. */
  def pqAdc(pq: Pq.Model, k: Int): String = {
    val dsub = pq.dsub
    vCte +
      s", sub AS (SELECT id, s, c, list_sum(list_transform(range(1, ${dsub + 1}), " +
      s"j -> (vec[s * $dsub + j] - cv[j]) * (vec[s * $dsub + j] - cv[j]))) AS d " +
      s"FROM v CROSS JOIN ${cbTable(pq, "cv")})" +
      ", codes AS (SELECT id, s, c AS code FROM (SELECT id, s, c, " +
      "row_number() OVER (PARTITION BY id, s ORDER BY d, c) AS rk FROM sub) WHERE rk = 1)" +
      ", pairs AS (SELECT q.id AS query_id, x.id AS neighbor_id, " +
      "list_sum(list(q.d ORDER BY q.s)) AS adist " +
      "FROM sub q JOIN codes x ON q.s = x.s AND q.c = x.code AND x.id <> q.id " +
      "WHERE q.id < 10 GROUP BY 1, 2)" +
      ", r AS (SELECT query_id, neighbor_id, adist, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank FROM pairs) " +
      s"SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adist FROM r WHERE rank <= $k"
  }

  /** m33: SemDeDup drop list — multi-probe cell membership (top
    * `nprobeAssign` cells per vector over the perturbed-dup corpus),
    * within-cell cosine ≥ threshold, min-id keeper / max sim per dropped
    * vector. Pairs sharing several cells are generated multiply and
    * absorbed by the aggregation, exactly like the engine.
    *
    * The perturbed-dup fixture is rebuilt from CAPTURED values — the id
    * offset the engine derived via `vecOff` travels with the model
    * (engine and replay can never disagree on it, whatever the corpus's
    * id range), and the perturbed position is the last dimension on both
    * sides (the engine perturbs `size(vec) − 1`; `dim` here comes from
    * the captured centroids, which were trained on that same corpus). */
  def semanticDedup(m: Ivf.Model, off: Long, threshold: Double,
                    nprobeAssign: Int): String = {
    val n = m.nlist
    val dim = m.centroids.head.length
    vCte +
      s", va AS (SELECT id, vec FROM v UNION ALL SELECT id + $off, " +
      s"list_transform(generate_series(1, $dim), i -> CASE WHEN i = $dim THEN vec[i] + 0.05 ELSE vec[i] END) " +
      "FROM v WHERE id < 20)" +
      s", cs AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm, ${cellScoreList(m, "vec")} AS sc FROM va)" +
      ", pc AS (SELECT id, vec, nrm, CAST(ci AS BIGINT) AS cell, " +
      "row_number() OVER (PARTITION BY id ORDER BY sc[ci + 1], ci) AS pk " +
      s"FROM cs CROSS JOIN range(0, $n) t(ci))" +
      s", wc AS (SELECT cell, id, vec, nrm FROM pc WHERE pk <= $nprobeAssign)" +
      ", pr AS (SELECT a.id AS id_a, b.id AS id_b, " +
      "list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) AS sim " +
      "FROM wc a JOIN wc b ON a.cell = b.cell AND a.id < b.id) " +
      "SELECT id_b AS vec_id, min(id_a) AS keeper_id, max(sim) AS sim " +
      s"FROM pr WHERE sim >= $threshold GROUP BY 1"
  }

  /** CTE chain ending in `pairs(query_id, neighbor_id, adist)` — the
    * IVF-PQ candidate generator shared by m38 (ranked directly), m47
    * (re-ranked by exact cosine) and m81 (whole-corpus probe set,
    * `probeWhere = TRUE`). Replays IvfPq.encode/topK: full-dim argmin
    * coarse cell, residual = vec − centroid, residual PQ codes,
    * per-(query, probed-cell) residual LUTs. */
  private def ivfPqPairsCtes(model: IvfPq.Model, nprobe: Int,
                             probeWhere: String = "id < 10"): String = {
    val dim = model.coarse.centroids.head.length
    val dsub = model.pq.dsub
    vCte +
      ", cd AS (SELECT id, vec, cell, cv, row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rk FROM " +
      s"(SELECT id, vec, cell, cv, list_sum(list_transform(range(1, ${dim + 1}), " +
      "j -> (vec[j] - cv[j]) * (vec[j] - cv[j]))) AS d " +
      s"FROM v CROSS JOIN ${cellsTable(model.coarse)}))" +
      s", rv AS (SELECT id, cell, list_transform(range(1, ${dim + 1}), j -> vec[j] - cv[j]) AS r FROM cd WHERE rk = 1)" +
      s", sub AS (SELECT id, cell, s, c, list_sum(list_transform(range(1, ${dsub + 1}), " +
      s"j -> (r[s * $dsub + j] - cv2[j]) * (r[s * $dsub + j] - cv2[j]))) AS d " +
      s"FROM rv CROSS JOIN ${cbTable(model.pq, "cv2")})" +
      ", codes AS (SELECT id, cell, s, c AS code FROM (SELECT id, cell, s, c, " +
      "row_number() OVER (PARTITION BY id, s ORDER BY d, c) AS rk FROM sub) WHERE rk = 1)" +
      s", qr AS (SELECT id AS query_id, cell, list_transform(range(1, ${dim + 1}), j -> vec[j] - cv[j]) AS r " +
      s"FROM cd WHERE ($probeWhere) AND rk <= $nprobe)" +
      s", qsub AS (SELECT query_id, cell, s, c, list_sum(list_transform(range(1, ${dsub + 1}), " +
      s"j -> (r[s * $dsub + j] - cv2[j]) * (r[s * $dsub + j] - cv2[j]))) AS d " +
      s"FROM qr CROSS JOIN ${cbTable(model.pq, "cv2")})" +
      ", pairs AS (SELECT query_id, x.id AS neighbor_id, list_sum(list(q.d ORDER BY q.s)) AS adist " +
      "FROM qsub q JOIN codes x ON q.cell = x.cell AND q.s = x.s AND q.c = x.code " +
      "AND x.id <> q.query_id GROUP BY 1, 2)"
  }

  /** m38 (serving probes) / m81 (`probeWhere = TRUE`, the batch path's
    * whole-corpus k-NN graph): IVF-PQ ADC top-k ranked by approximate
    * distance. One replay covers both engine paths because topK and
    * topKBatch are bit-identical in arithmetic by contract. */
  def ivfPqTopK(model: IvfPq.Model, k: Int, nprobe: Int,
                probeWhere: String = "id < 10"): String =
    ivfPqPairsCtes(model, nprobe, probeWhere) +
      ", r AS (SELECT query_id, neighbor_id, adist, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank FROM pairs) " +
      s"SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adist FROM r WHERE rank <= $k"

  /** m47: IVF-PQ nominates k·candMult candidates, exact cosine re-ranks. */
  def ivfPqRerank(model: IvfPq.Model, k: Int, nprobe: Int, candMult: Int): String =
    ivfPqPairsCtes(model, nprobe) +
      ", cand AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rk FROM pairs) " +
      s"WHERE rk <= ${k * candMult})" +
      ", nv AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM v)" +
      ", scored AS (SELECT c.query_id, c.neighbor_id, " +
      "list_dot_product(q.vec, x.vec) / (q.nrm * x.nrm) AS sim " +
      "FROM cand c JOIN nv x ON x.id = c.neighbor_id JOIN nv q ON q.id = c.query_id)" +
      ", r2 AS (SELECT query_id, neighbor_id, sim, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM scored) " +
      s"SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM r2 WHERE rank <= $k"

  /** m63: the FINAL power iteration replayed over the full corpus with
    * the captured driver state (μ, v₇) inlined — one pass of
    * center → project → per-dim sum → normalize → sign-fix → Rayleigh
    * eigenvalue, all plain arithmetic once the recursion's state is a
    * literal. The 7 training iterations stay spec-pinned (PcaPowerSpec);
    * this checks the corpus-wide pass that produces the reported rows.
    * Per-dim sums/norm/eigen re-associate across rows vs the engine's
    * partial aggs — absorbed by the gate's 6-dp rounding like every
    * other float-sum oracle.
    *
    * Degenerate corpus (all per-dim sums zero → norm = 0): the engine
    * keeps the previous iterate and sign-fixes IT, so the replay emits
    * the captured v with its sign precomputed here on the driver instead
    * of dividing by the zero norm. */
  def pcaTopComponent(st: PcaPower.IterState): String = {
    val d = st.v.length
    val mu = arr(st.mu)
    val vl = arr(st.v)
    // sign the engine's `lead` rule assigns to the kept iterate
    val sgn0 = st.v.find(math.abs(_) > 1e-12)
      .map(x => if (x < 0) -1.0 else 1.0).getOrElse(1.0)
    s"WITH x AS (SELECT CAST(embedding AS DOUBLE[]) AS vec FROM embeddings WHERE embedding IS NOT NULL)" +
      s", c AS (SELECT list_transform(range(1, ${d + 1}), j -> vec[j] - ($mu)[j]) AS xc FROM x)" +
      s", p AS (SELECT xc, list_dot_product(xc, $vl) AS dp FROM c)" +
      s", s AS (SELECT j, sum(xc[j] * dp) AS sd FROM p CROSS JOIN range(1, ${d + 1}) t(j) GROUP BY j)" +
      ", nrm AS (SELECT sqrt(sum(sd * sd)) AS norm FROM s)" +
      // Rayleigh quotient of the PREVIOUS unit iterate: λ = v·sums / n
      s", ev AS (SELECT sum(sd * ($vl)[j]) / (SELECT count(*) FROM x) AS eigen FROM s)" +
      // first |loading| > 1e-12 made positive; sign(sd) = sign(sd/norm)
      ", sg AS (SELECT coalesce((SELECT CASE WHEN sd < 0 THEN -1.0 ELSE 1.0 END " +
      "FROM s CROSS JOIN nrm WHERE abs(sd / norm) > 1e-12 ORDER BY j LIMIT 1), 1.0) AS sgn) " +
      "SELECT CAST(j - 1 AS BIGINT) AS dim, " +
      s"CASE WHEN norm = 0 THEN $sgn0 * ($vl)[j] ELSE sgn * sd / norm END AS loading, " +
      "eigen AS eigenvalue FROM s, nrm, ev, sg"
  }

  /** m53: greedy MMR certificate. The selection LOOP isn't SQL, but the
    * certificate of a finished run is: with the picked sequence inlined
    * as literals, DuckDB recomputes each pick's sim and mmr_score from
    * the corpus (pool = exact top-k·candMult by sim, the engine's stage-1
    * nomination) and asserts per step that the pick's score
    * λ·sim − (1−λ)·max-sim-to-prior-picks is the MAXIMUM over every
    * still-unpicked pool candidate at that step (`opt_ok`). A run that
    * picked any non-argmax candidate, mis-scored a pick, or left the
    * pool hash-mismatches: sim/mmr_score are recomputed independently
    * and the pool join drops foreign ids.
    *
    * Bitwise discipline as above: sims are list_dot_product (left-to-
    * right like graft_dot and Mmr.select's while-loop), the step score
    * inlines the engine's exact λ and (1−λ) doubles, and the max over
    * prior picks is order-independent. The perturbed-dup fixture is
    * rebuilt from the CAPTURED id offset, last-dimension +0.05, same as
    * [[semanticDedup]]. */
  def mmrCertificate(picks: Seq[(Long, Long, Long)], off: Long, k: Int,
                     lambda: Double, candMult: Int): String = {
    val nCand = k * candMult
    val lam = lit(lambda)
    val oneMinusLam = lit(1.0 - lambda) // engine computes (1.0 - lambda) once
    val pkValues = picks
      .map { case (q, r, n) => s"($q, $r, $n)" }.mkString(", ")
    vCte +
      // the engine's corpus: originals + perturbed twins of id < 20
      s", va AS (SELECT id, vec FROM v UNION ALL SELECT id + $off, " +
      "list_transform(range(1, len(vec) + 1), i -> CASE WHEN i = len(vec) THEN vec[i] + 0.05 ELSE vec[i] END) " +
      "FROM v WHERE id < 20)" +
      ", nv AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM va)" +
      ", qv AS (SELECT id AS query_id, vec AS qvec, nrm AS qnrm FROM nv WHERE id < 10)" +
      // stage-1 nomination: exact top-nCand by (sim DESC, id ASC) per query
      ", pool AS (SELECT query_id, neighbor_id, sim, vec, nrm FROM (" +
      "SELECT q.query_id, c.id AS neighbor_id, c.vec, c.nrm, " +
      "list_dot_product(q.qvec, c.vec) / (q.qnrm * c.nrm) AS sim, " +
      "row_number() OVER (PARTITION BY q.query_id ORDER BY " +
      "list_dot_product(q.qvec, c.vec) / (q.qnrm * c.nrm) DESC, c.id) AS rk " +
      s"FROM nv c CROSS JOIN qv q WHERE c.id <> q.query_id) WHERE rk <= $nCand)" +
      s", pk AS (SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank, " +
      s"CAST(neighbor_id AS BIGINT) AS neighbor_id FROM (VALUES $pkValues) t(query_id, rank, neighbor_id))" +
      // picked candidates with their pool vectors (a foreign id drops out)
      ", pkc AS (SELECT pk.query_id, pk.rank, pk.neighbor_id, p.sim, p.vec, p.nrm " +
      "FROM pk JOIN pool p ON p.query_id = pk.query_id AND p.neighbor_id = pk.neighbor_id)" +
      // every pool candidate's step score at every step 1..k
      s", ss AS (SELECT p.query_id, st.rank, p.neighbor_id, p.sim, " +
      s"$lam * p.sim - $oneMinusLam * coalesce((SELECT max(" +
      "list_dot_product(p.vec, x.vec) / (p.nrm * x.nrm)) FROM pkc x " +
      "WHERE x.query_id = p.query_id AND x.rank < st.rank), 0.0) AS score " +
      s"FROM pool p CROSS JOIN range(1, ${k + 1}) st(rank))" +
      // best achievable score per step over the still-unpicked pool
      ", best AS (SELECT s.query_id, s.rank, max(s.score) AS bscore FROM ss s " +
      "WHERE NOT EXISTS (SELECT 1 FROM pk x WHERE x.query_id = s.query_id " +
      "AND x.rank < s.rank AND x.neighbor_id = s.neighbor_id) GROUP BY 1, 2)" +
      ", ps AS (SELECT pk.query_id, pk.rank, pk.neighbor_id, s.sim, s.score " +
      "FROM pk JOIN ss s ON s.query_id = pk.query_id AND s.rank = pk.rank " +
      "AND s.neighbor_id = pk.neighbor_id) " +
      "SELECT p.query_id, CAST(p.rank AS BIGINT) AS rank, p.neighbor_id, " +
      "p.sim, p.score AS mmr_score, p.score >= b.bscore AS opt_ok " +
      "FROM ps p JOIN best b ON b.query_id = p.query_id AND b.rank = p.rank"
  }

  /** m40: full BPE-encode replay over the captured merge list. The
    * TRAINING loop stays spec-pinned (BpeSpec — textbook merge sequence,
    * round-trip), but a finished run's merge list is just ranked string
    * pairs, and greedy ENCODE is replayable: a recursive CTE holds each
    * word's symbol sequence as a string with every symbol wrapped in
    * chr(31) separators (boundaries are double-seps, so a merge pattern
    * `␟a␟␟b␟` can only match WHOLE adjacent symbols — a bare `a␟b` would
    * also match a symbol's suffix, e.g. symbol "xa" before "b"), and each
    * step applies the minimum-rank applicable merge to every left-to-right
    * occurrence — SQL `replace` scans left-to-right non-overlapping,
    * exactly [[graft.text.Bpe.encodeWord]]'s `j += 2` loop. Recursion ends
    * when no merge applies (the lateral min-rank probe returns NULL and
    * the join drops the row); the max-step row per word is the final
    * encoding. Sound because the corpus contract is separator-free text
    * (chr(31) never appears; TESTDATA is ASCII), and cheap because the
    * CTE iterates over DISTINCT words — the same Zipf amortization as the
    * engine's per-partition memo. */
  private def bpeEncodeCtes(merges: Seq[(String, String)]): String = {
    val mv = merges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '${esc(a)}', '${esc(b)}')" }.mkString(", ")
    val sep = "chr(31)"
    val pat = s"$sep || m.a || $sep || $sep || m.b || $sep"
    val probePat = s"$sep || x.a || $sep || $sep || x.b || $sep"
    "WITH RECURSIVE " +
      s"merges(rank, a, b) AS (VALUES $mv), " +
      "docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(trim(text)) AS t " +
      "FROM documents WHERE text IS NOT NULL), " +
      "wx AS (SELECT doc_id, w FROM (SELECT doc_id, " +
      "unnest(string_split_regex(t, ' +')) AS w FROM docs) x WHERE w <> ''), " +
      "words AS (SELECT DISTINCT w FROM wx), " +
      "enc(w, step, st) AS (" +
      s"SELECT w, 0, $sep || list_aggregate(string_split(w, ''), 'string_agg', $sep || $sep) " +
      s"|| $sep || $sep || '${Bpe.Eow}' || $sep FROM words " +
      "UNION ALL " +
      s"SELECT e.w, e.step + 1, replace(e.st, $pat, $sep || m.a || m.b || $sep) " +
      "FROM (SELECT w, step, st, (SELECT min(rank) FROM merges x " +
      s"WHERE contains(st, $probePat)) AS br FROM enc) e " +
      "JOIN merges m ON m.rank = e.br), " +
      "fin AS (SELECT w, st FROM (SELECT w, st, " +
      "row_number() OVER (PARTITION BY w ORDER BY step DESC) AS rn FROM enc) z WHERE rn = 1), " +
      s"tok AS (SELECT w, len(string_split(st, $sep || $sep)) AS n_tok FROM fin), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(n_tok) AS BIGINT) AS n_bpe FROM wx JOIN tok USING (w) GROUP BY 1), " +
      "perdoc AS (SELECT d.doc_id, coalesce(a.n_words, 0) AS n_words, " +
      "CAST(length(d.t) AS BIGINT) AS n_chars, coalesce(a.n_bpe, 0) AS n_bpe " +
      "FROM docs d LEFT JOIN agg a USING (doc_id)) "
  }

  /** m135: full unigram-Viterbi ENCODE replay over the captured
    * (piece, cost) table — the [[bpeEncodeCtes]] convention for the
    * OTHER tokenizer: per distinct word, a recursive CTE carries the DP
    * best-array forward one character per iteration (a LIST of
    * (cost, n_tokens) structs), each new entry the lexicographic
    * (cost, n_tokens, split-point) minimum over the ≤ maxPieceLen
    * in-vocabulary suffix pieces — the EXACT left-to-right additions and
    * tie-break [[graft.text.UnigramLm.viterbiTokens]] performs, over the
    * same captured double literals, so counts replay bit-for-bit. The
    * out-of-vocab single-char fallback (UnkCost) is unreachable on the
    * training corpus (required chars come from the uncapped word table)
    * but both engines carry it identically. EM TRAINING stays
    * spec-pinned, the m40 convention. */
  def unigramTokenStats(pieces: Seq[(String, Double)]): String =
    unigramEncodeCtes(pieces) +
      "SELECT doc_id, n_words, n_chars, n_uni AS n_uni_tokens, " +
      "CASE WHEN n_words = 0 THEN 0.0 " +
      "ELSE CAST(n_uni AS DOUBLE) / CAST(n_words AS DOUBLE) END AS uni_per_word " +
      "FROM perdoc"

  /** m136: the per-source fertility report under the unigram model —
    * the [[bpeFertility]] shape for the other tokenizer family, sharing
    * [[unigramEncodeCtes]]'s Viterbi replay. */
  def unigramFertility(pieces: Seq[(String, Double)]): String =
    unigramEncodeCtes(pieces) +
      "SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(p.n_words) AS BIGINT) AS total_words, " +
      "CAST(sum(p.n_uni) AS BIGINT) AS total_uni_tokens, " +
      "CASE WHEN sum(p.n_words) = 0 THEN 0.0 " +
      "ELSE CAST(sum(p.n_uni) AS DOUBLE) / CAST(sum(p.n_words) AS DOUBLE) END AS fertility, " +
      "CASE WHEN sum(p.n_uni) = 0 THEN 0.0 " +
      "ELSE CAST(sum(p.n_chars) AS DOUBLE) / CAST(sum(p.n_uni) AS DOUBLE) END AS chars_per_token " +
      "FROM perdoc p JOIN (SELECT CAST(doc_id AS BIGINT) AS doc_id, source " +
      "FROM documents) s USING (doc_id) GROUP BY 1"

  private def unigramEncodeCtes(pieces: Seq[(String, Double)]): String = {
    // ::DOUBLE on every cost: DuckDB would otherwise infer a DECIMAL
    // type from the first literal and fail or round the rest
    val pv = pieces.map { case (p, c) => s"('${esc(p)}', ${lit(c)}::DOUBLE)" }
      .mkString(", ")
    "WITH RECURSIVE " +
      s"pieces(p, c) AS (VALUES $pv), " +
      "docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(trim(text)) AS t " +
      "FROM documents WHERE text IS NOT NULL), " +
      "wx AS (SELECT doc_id, w FROM (SELECT doc_id, " +
      "unnest(string_split_regex(t, ' +')) AS w FROM docs) x WHERE w <> ''), " +
      "words AS (SELECT DISTINCT w FROM wx), " +
      "dp(w, i, best) AS (" +
      "SELECT w, 0, [{'c': 0.0::DOUBLE, 'nt': CAST(0 AS BIGINT)}] FROM words " +
      "UNION ALL " +
      "SELECT w, i + 1, list_append(best, " +
      // candidate pieces ending at char i+1: scan the (vocab-bounded)
      // piece table — piece p of length l starts at 0-based j = i+1-l,
      // i.e. 1-based list index i+2-l — UNIONed with the unk single-char
      // candidate so it COMPETES in the same (cost, n_tokens, j) min,
      // exactly like the Scala DP's candidate set (an earlier coalesce
      // form only fell back to unk when no piece matched, which diverges
      // on OOV-char inputs under a stored model — review r15). When the
      // char IS in vocab the unk row can never win (UnkCost dwarfs any
      // real piece cost at the same j), so on the training corpus the
      // sets are indistinguishable; ties on (cost, n_tokens, j asc).
      "(SELECT {'c': cc, 'nt': cn} FROM (" +
      "SELECT best[i + 2 - len(p.p)].c + p.c AS cc, " +
      "best[i + 2 - len(p.p)].nt + 1 AS cn, " +
      "i + 1 - len(p.p) AS cj " +
      "FROM pieces p " +
      "WHERE len(p.p) <= i + 1 AND p.p = substr(w, i + 2 - len(p.p), len(p.p)) " +
      "UNION ALL " +
      s"SELECT best[i + 1].c + ${lit(graft.text.UnigramLm.UnkCost)}::DOUBLE, " +
      "best[i + 1].nt + 1, i" +
      ") cands ORDER BY cc, cn, cj LIMIT 1)) " +
      "FROM dp WHERE i < len(w)), " +
      "tok AS (SELECT w, best[len(w) + 1].nt AS n_tok FROM dp WHERE i = len(w)), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(n_tok) AS BIGINT) AS n_uni FROM wx JOIN tok USING (w) GROUP BY 1), " +
      "perdoc AS (SELECT d.doc_id, coalesce(a.n_words, 0) AS n_words, " +
      "CAST(length(d.t) AS BIGINT) AS n_chars, coalesce(a.n_uni, 0) AS n_uni " +
      "FROM docs d LEFT JOIN agg a USING (doc_id)) "
  }

  /** m139: full WordPiece MaxMatch-encode replay over the captured piece
    * vocabulary — the [[bpeEncodeCtes]] convention for the THIRD
    * tokenizer family. Greedy longest-match is a simpler recursion than
    * m135's Viterbi: per distinct word, each step probes the captured
    * vocabulary for the LONGEST piece matching at the cursor (bare at
    * the word start, ##-stripped nets flagged `is_cont` elsewhere —
    * `max(netlen)` is the greedy choice, and an equal-length match is
    * the identical piece, so no tie exists), advances by that length,
    * or fails the WHOLE word to one [UNK] — exactly
    * [[graft.text.WordPiece.encodeWord]]'s loop. substr beyond the word
    * end returns a short string that can't equal a longer net, so the
    * probe self-bounds. TRAINING (likelihood-scored merges) stays
    * spec-pinned, the m40 convention. */
  def wordPieceStats(pieces: Seq[(Boolean, String)]): String =
    wordPieceEncodeCtes(pieces) +
      "SELECT doc_id, n_words, n_wp AS n_wp_tokens, n_unk AS n_unk_words, " +
      "CASE WHEN n_words = 0 THEN 0.0 " +
      "ELSE CAST(n_wp AS DOUBLE) / CAST(n_words AS DOUBLE) END AS wp_per_word " +
      "FROM perdoc"

  /** m143: the per-source fertility + UNK-rate report under the shared
    * WordPiece model — the m79/m136 report for the third tokenizer
    * family, sharing [[wordPieceEncodeCtes]]'s MaxMatch replay. */
  def wordPieceFertility(pieces: Seq[(Boolean, String)]): String =
    wordPieceEncodeCtes(pieces) +
      "SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(p.n_words) AS BIGINT) AS total_words, " +
      "CAST(sum(p.n_wp) AS BIGINT) AS total_wp_tokens, " +
      "CAST(sum(p.n_unk) AS BIGINT) AS total_unk_words, " +
      "CASE WHEN sum(p.n_words) = 0 THEN 0.0 " +
      "ELSE CAST(sum(p.n_wp) AS DOUBLE) / CAST(sum(p.n_words) AS DOUBLE) END AS fertility, " +
      "CASE WHEN sum(p.n_words) = 0 THEN 0.0 " +
      "ELSE CAST(sum(p.n_unk) AS DOUBLE) / CAST(sum(p.n_words) AS DOUBLE) END AS unk_rate " +
      "FROM perdoc p JOIN (SELECT CAST(doc_id AS BIGINT) AS doc_id, source " +
      "FROM documents) s USING (doc_id) GROUP BY 1"

  private def wordPieceEncodeCtes(pieces: Seq[(Boolean, String)]): String = {
    // pieces are STRUCTURALLY typed (isCont, net) — no string-prefix
    // classification, so '#'-bearing corpora can't alias a bare piece
    // with a continuation piece (review r16); net ≥ 1 char by the Model
    // construction, which is what guarantees the recursive cursor below
    // always advances — asserted here because a zero-length net would
    // turn the replay into a non-terminating query, not a wrong answer.
    require(pieces.forall(_._2.nonEmpty), "WordPiece net must be non-empty")
    val pv = pieces.map { case (cont, net) =>
      s"(${if (cont) "TRUE" else "FALSE"}, '${esc(net)}', ${net.length})"
    }.mkString(", ")
    "WITH RECURSIVE " +
      s"vocab(is_cont, net, netlen) AS (VALUES $pv), " +
      "docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lower(trim(text)) AS t " +
      "FROM documents WHERE text IS NOT NULL), " +
      "wx AS (SELECT doc_id, w FROM (SELECT doc_id, " +
      "unnest(string_split_regex(t, ' +')) AS w FROM docs) x WHERE w <> ''), " +
      "words AS (SELECT DISTINCT w FROM wx), " +
      "enc(w, pos, ntok, unk) AS (" +
      "SELECT w, 1, CAST(0 AS BIGINT), FALSE FROM words " +
      "UNION ALL " +
      "SELECT e.w, " +
      "CASE WHEN e.bl IS NULL THEN len(e.w) + 1 ELSE e.pos + e.bl END, " +
      "CASE WHEN e.bl IS NULL THEN CAST(1 AS BIGINT) ELSE e.ntok + 1 END, " +
      "e.bl IS NULL " +
      "FROM (SELECT w, pos, ntok, " +
      "(SELECT max(v.netlen) FROM vocab v WHERE v.is_cont = (pos > 1) " +
      "AND v.net = substr(w, pos, v.netlen)) AS bl " +
      "FROM enc WHERE pos <= len(w) AND NOT unk) e), " +
      "fin AS (SELECT w, ntok, CASE WHEN unk THEN 1 ELSE 0 END AS u " +
      "FROM enc WHERE pos > len(w)), " +
      "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(f.ntok) AS BIGINT) AS n_wp, CAST(sum(f.u) AS BIGINT) AS n_unk " +
      "FROM wx JOIN fin f USING (w) GROUP BY 1), " +
      "perdoc AS (SELECT d.doc_id, coalesce(a.n_words, 0) AS n_words, " +
      "coalesce(a.n_wp, 0) AS n_wp, coalesce(a.n_unk, 0) AS n_unk " +
      "FROM docs d LEFT JOIN agg a USING (doc_id)) "
  }

  /** m88: vocabulary-usage curve — encode replayed by the same recursive
    * CTE as m40, then the corpus token counts, ranks and cumulative
    * shares re-derived from the word-frequency table. */
  def bpeTokenCoverage(merges: Seq[(String, String)]): String = {
    val sep = "chr(31)"
    bpeEncodeCtes(merges) +
      ", wn AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM wx GROUP BY 1), " +
      s"tw AS (SELECT w, trim(e, $sep) AS token FROM (" +
      s"SELECT w, unnest(string_split(st, $sep || $sep)) AS e FROM fin) x), " +
      "tc AS (SELECT token, CAST(sum(n_w) AS BIGINT) AS n FROM tw JOIN wn USING (w) GROUP BY 1), " +
      "r AS (SELECT token, n, CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank, " +
      "sum(n) OVER (ORDER BY n DESC, token ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n, " +
      "sum(n) OVER () AS total FROM tc) " +
      "SELECT token, n, rank, CAST(n AS DOUBLE) / total AS share, " +
      "CAST(cum_n AS DOUBLE) / total AS cum_share FROM r"
  }

  def bpeTokenStats(merges: Seq[(String, String)]): String =
    bpeEncodeCtes(merges) +
      "SELECT doc_id, n_words, n_chars, n_bpe AS n_bpe_tokens, " +
      "CASE WHEN n_words = 0 THEN 0.0 " +
      "ELSE CAST(n_bpe AS DOUBLE) / CAST(n_words AS DOUBLE) END AS bpe_per_word " +
      "FROM perdoc"

  /** m79: the per-source fertility REPORT fully replayed — the recursive
    * encode above makes the BPE-dependent token totals themselves
    * recomputable, so the certificate form (exact companions +
    * `fertility_ok`) is superseded by hash-checking the raw numbers. */
  def bpeFertility(merges: Seq[(String, String)]): String =
    bpeEncodeCtes(merges) +
      "SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(p.n_words) AS BIGINT) AS total_words, " +
      "CAST(sum(p.n_bpe) AS BIGINT) AS total_bpe_tokens, " +
      "CASE WHEN sum(p.n_words) = 0 THEN 0.0 " +
      "ELSE CAST(sum(p.n_bpe) AS DOUBLE) / CAST(sum(p.n_words) AS DOUBLE) END AS fertility, " +
      "CASE WHEN sum(p.n_bpe) = 0 THEN 0.0 " +
      "ELSE CAST(sum(p.n_chars) AS DOUBLE) / CAST(sum(p.n_bpe) AS DOUBLE) END AS chars_per_token " +
      "FROM perdoc p JOIN (SELECT CAST(doc_id AS BIGINT) AS doc_id, source " +
      "FROM documents) s USING (doc_id) GROUP BY 1"

  /** Oracle entries for every model a query run has deposited — merged
    * into [[SparkEntry.oracleSql]]. Parameters (k, nprobe, cap, sweep
    * points, candMult) mirror the CorpusQueries call sites. */
  /** m83: replay the quality-classifier SCORING pass with the captured
    * weights inlined. Features come from the same text-stats base the
    * m01/m02 oracles use (SparkEntry's fragments — kept in lockstep with
    * TextOps.profile), the label replays the m02 gate, and the logit is
    * the left-associated w0 + w1·f1 + … exactly as the engine's literal
    * expression writes it. Training (the GD loop) is driver-state
    * recursion pinned by QualityClassifierSpec — but scoring, the only
    * pass that ever touches the corpus at scale, is recomputed here
    * end-to-end from the parquet. */
  def qualityClassifier(w: Seq[Double]): String = {
    val z = s"(${lit(w(0))} + ${lit(w(1))} * f1 + ${lit(w(2))} * f2 " +
      s"+ ${lit(w(3))} * f3 + ${lit(w(4))} * f4 + ${lit(w(5))} * f5)"
    "WITH " + SparkEntry.textStatsBaseOver("(SELECT * FROM documents WHERE text IS NOT NULL)") +
      ", f AS (SELECT doc_id, " +
      s"CASE WHEN ${SparkEntry.LangExpr} = 'en' AND ${SparkEntry.QualityExpr} >= 0.3 " +
      "THEN 1.0 ELSE 0.0 END AS y, " +
      "least(CAST(n_words AS DOUBLE) / 200.0, 1.0) AS f1, " +
      "least(CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) * 4.0, 1.0) AS f2, " +
      "least(CAST(n_digits AS DOUBLE) / greatest(CAST(n_chars_c AS DOUBLE), 1.0) * 10.0, 1.0) AS f3, " +
      "least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars_c AS DOUBLE), 1.0) * 10.0, 1.0) AS f4, " +
      "CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) AS f5 FROM base) " +
      s"SELECT doc_id, CAST(y AS BIGINT) AS label, $z AS logit, " +
      s"CAST($z >= 0.0 AS BIGINT) AS pred FROM f"
  }

  /** m86: the ROC / operating-characteristic replay — same captured-
    * weights feature chain as [[qualityClassifier]], fanned out over the
    * exactly-representable threshold grid and reduced to confusion
    * counts + ratios (greatest(·,1) guards the empty-cell divisions the
    * same way the engine does). */
  def classifierRoc(w: Seq[Double]): String = {
    val z = s"(${lit(w(0))} + ${lit(w(1))} * f1 + ${lit(w(2))} * f2 " +
      s"+ ${lit(w(3))} * f3 + ${lit(w(4))} * f4 + ${lit(w(5))} * f5)"
    val grid = graft.text.QualityClassifier.RocThresholds.map(lit).mkString("[", ", ", "]")
    "WITH " + SparkEntry.textStatsBaseOver("(SELECT * FROM documents WHERE text IS NOT NULL)") +
      ", f AS (SELECT doc_id, " +
      s"CASE WHEN ${SparkEntry.LangExpr} = 'en' AND ${SparkEntry.QualityExpr} >= 0.3 " +
      "THEN 1.0 ELSE 0.0 END AS y, " +
      "least(CAST(n_words AS DOUBLE) / 200.0, 1.0) AS f1, " +
      "least(CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) * 4.0, 1.0) AS f2, " +
      "least(CAST(n_digits AS DOUBLE) / greatest(CAST(n_chars_c AS DOUBLE), 1.0) * 10.0, 1.0) AS f3, " +
      "least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars_c AS DOUBLE), 1.0) * 10.0, 1.0) AS f4, " +
      "CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) AS f5 FROM base), " +
      s"s AS (SELECT y, $z AS logit FROM f), " +
      s"j AS (SELECT t.threshold, y, logit FROM s CROSS JOIN (SELECT unnest($grid) AS threshold) t), " +
      "c AS (SELECT threshold, " +
      "CAST(sum(CASE WHEN logit >= threshold AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
      "CAST(sum(CASE WHEN logit >= threshold AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
      "CAST(sum(CASE WHEN logit < threshold AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
      "CAST(sum(CASE WHEN logit < threshold AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn " +
      "FROM j GROUP BY threshold) " +
      "SELECT threshold, tp, fp, fn, tn, " +
      "CAST(tp AS DOUBLE) / greatest(tp + fn, 1) AS tpr, " +
      "CAST(fp AS DOUBLE) / greatest(fp + tn, 1) AS fpr, " +
      "CAST(tp AS DOUBLE) / greatest(tp + fp, 1) AS precision FROM c"
  }

  /** m98: the calibration replay — same captured-weights feature chain,
    * with p = σ(logit) quantized ONCE to q = floor(p·1e9) per doc; the
    * bin, the per-bin Σq and the count are integer arithmetic from
    * there, so partial aggregation and the cross-engine hash both see
    * exact integers (exp() shares the LM tier's ln() bit-identity
    * contract). */
  def calibration(w: Seq[Double]): String = {
    val z = s"(${lit(w(0))} + ${lit(w(1))} * f1 + ${lit(w(2))} * f2 " +
      s"+ ${lit(w(3))} * f3 + ${lit(w(4))} * f4 + ${lit(w(5))} * f5)"
    "WITH " + SparkEntry.textStatsBaseOver("(SELECT * FROM documents WHERE text IS NOT NULL)") +
      ", f AS (SELECT doc_id, " +
      s"CASE WHEN ${SparkEntry.LangExpr} = 'en' AND ${SparkEntry.QualityExpr} >= 0.3 " +
      "THEN 1.0 ELSE 0.0 END AS y, " +
      "least(CAST(n_words AS DOUBLE) / 200.0, 1.0) AS f1, " +
      "least(CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) * 4.0, 1.0) AS f2, " +
      "least(CAST(n_digits AS DOUBLE) / greatest(CAST(n_chars_c AS DOUBLE), 1.0) * 10.0, 1.0) AS f3, " +
      "least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars_c AS DOUBLE), 1.0) * 10.0, 1.0) AS f4, " +
      "CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) AS f5 FROM base), " +
      s"s AS (SELECT CAST(y AS BIGINT) AS label, " +
      s"CAST(floor(1e9 / (1.0 + exp(-$z))) AS BIGINT) AS q FROM f), " +
      "b AS (SELECT least(CAST(floor(q / 100000000) AS BIGINT), 9) AS bin, " +
      "CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS n_pos, " +
      "CAST(sum(q) AS BIGINT) AS sum_q FROM s GROUP BY 1), " +
      "t AS (SELECT sum(n) AS n_total FROM b) " +
      "SELECT bin, n, n_pos, sum_q, " +
      "CAST(sum_q AS DOUBLE) / 1e9 / n AS mean_p, " +
      "CAST(n_pos AS DOUBLE) / n AS frac_pos, " +
      "abs(CAST(sum_q AS DOUBLE) / 1e9 / n - CAST(n_pos AS DOUBLE) / n) AS gap, " +
      "abs(CAST(sum_q AS DOUBLE) / 1e9 / n - CAST(n_pos AS DOUBLE) / n) " +
      "* CAST(n AS DOUBLE) / n_total AS ece_term FROM b CROSS JOIN t"
  }

  /** m101: the gate-agreement replay — the captured-weights classifier
    * chain and the m89 LM tercile chain composed over one doc_id join,
    * reduced to a single marginal row and fanned to the three gate
    * pairs; κ recomputes p_o/p_e from the same integer marginals the
    * engine hashes. */
  /** The m101/m118 shared gate-vote chain: CTEs ending in
    * `votes(doc_id, g_rule, g_cls, g_ppl)` — one string, two consumers,
    * so the gate semantics cannot drift between the κ card and the
    * Dawid–Skene fuser. */
  private def gateVotesCtes(w: Seq[Double]): String = {
    val z = s"(${lit(w(0))} + ${lit(w(1))} * f1 + ${lit(w(2))} * f2 " +
      s"+ ${lit(w(3))} * f3 + ${lit(w(4))} * f4 + ${lit(w(5))} * f5)"
    SparkEntry.LmPerplexityCtes +
      ", " + SparkEntry.textStatsBaseOver("(SELECT * FROM documents WHERE text IS NOT NULL)") +
      ", f AS (SELECT doc_id, " +
      s"CASE WHEN ${SparkEntry.LangExpr} = 'en' AND ${SparkEntry.QualityExpr} >= 0.3 " +
      "THEN 1.0 ELSE 0.0 END AS y, " +
      "least(CAST(n_words AS DOUBLE) / 200.0, 1.0) AS f1, " +
      "least(CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) * 4.0, 1.0) AS f2, " +
      "least(CAST(n_digits AS DOUBLE) / greatest(CAST(n_chars_c AS DOUBLE), 1.0) * 10.0, 1.0) AS f3, " +
      "least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars_c AS DOUBLE), 1.0) * 10.0, 1.0) AS f4, " +
      "CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) AS f5 FROM base), " +
      s"cls AS (SELECT doc_id, CAST(y AS BIGINT) AS g_rule, " +
      s"CAST($z >= 0.0 AS BIGINT) AS g_cls FROM f), " +
      "sc AS (SELECT h.doc_id, d.source, exp(cross_entropy) AS perplexity " +
      "FROM h JOIN documents d USING (doc_id)), " +
      "cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY 1), " +
      "r AS (SELECT doc_id, source, " +
      "CAST(row_number() OVER (PARTITION BY source " +
      "ORDER BY CAST(floor(perplexity * 1000000) AS BIGINT), doc_id) - 1 AS BIGINT) AS rk FROM sc), " +
      "buck AS (SELECT r.doc_id, CAST(rk * 3 < n * 2 AS BIGINT) AS g_ppl " +
      "FROM r JOIN cnt USING (source)), " +
      "votes AS (SELECT cls.doc_id AS doc_id, cls.g_rule, cls.g_cls, buck.g_ppl " +
      "FROM cls JOIN buck USING (doc_id))"
  }

  def gateAgreement(w: Seq[Double]): String = {
    val pO = "CAST(n_agree AS DOUBLE) / n"
    val pE = "(CAST(pos_a AS DOUBLE) * pos_b + CAST(n - pos_a AS DOUBLE) * (n - pos_b)) " +
      "/ (CAST(n AS DOUBLE) * n)"
    gateVotesCtes(w) +
      ", j AS (SELECT g_rule, g_cls, g_ppl FROM votes), " +
      "a AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(g_rule) AS BIGINT) AS pos_rule, CAST(sum(g_cls) AS BIGINT) AS pos_cls, " +
      "CAST(sum(g_ppl) AS BIGINT) AS pos_ppl, " +
      "CAST(sum(CASE WHEN g_rule = g_cls THEN 1 ELSE 0 END) AS BIGINT) AS agree_rule_cls, " +
      "CAST(sum(CASE WHEN g_rule = g_ppl THEN 1 ELSE 0 END) AS BIGINT) AS agree_rule_ppl, " +
      "CAST(sum(CASE WHEN g_cls = g_ppl THEN 1 ELSE 0 END) AS BIGINT) AS agree_cls_ppl FROM j), " +
      "pr AS (SELECT 'rule_vs_cls' AS pair, n, pos_rule AS pos_a, pos_cls AS pos_b, agree_rule_cls AS n_agree FROM a WHERE n > 0 " +
      "UNION ALL SELECT 'rule_vs_ppl', n, pos_rule, pos_ppl, agree_rule_ppl FROM a WHERE n > 0 " +
      "UNION ALL SELECT 'cls_vs_ppl', n, pos_cls, pos_ppl, agree_cls_ppl FROM a WHERE n > 0) " +
      s"SELECT pair, n, pos_a, pos_b, n_agree, $pO AS p_o, $pE AS p_e, " +
      s"CASE WHEN $pE < 1.0 THEN ($pO - $pE) / (1.0 - $pE) END AS kappa FROM pr"
  }

  /** m118: Dawid–Skene one-EM-step fusion over the m101 gate votes —
    * majority init (ties to keep), Laplace-smoothed per-gate
    * sensitivity/specificity against the majority, posterior as a
    * fixed-order product (rule, cls, ppl — the engine's voteCols
    * order). Every statistic is an exact BIGINT count; the only doubles
    * are the final ratio chain in the engine's operand order. */
  def dawidSkene(w: Seq[Double]): String = {
    def sens(g: String) = s"(CAST(a_$g + 1 AS DOUBLE) / CAST(n1 + 2 AS DOUBLE))"
    def spec(g: String) = s"(CAST(b_$g + 1 AS DOUBLE) / CAST(n - n1 + 2 AS DOUBLE))"
    val gates = Seq("rule", "cls", "ppl")
    val l1 = gates.foldLeft("(CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))") {
      (acc, g) => s"$acc * (CASE WHEN g_$g = 1 THEN ${sens(g)} ELSE 1.0 - ${sens(g)} END)"
    }
    val l0 = gates.foldLeft("(CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE))") {
      (acc, g) => s"$acc * (CASE WHEN g_$g = 0 THEN ${spec(g)} ELSE 1.0 - ${spec(g)} END)"
    }
    gateVotesCtes(w) +
      ", mv AS (SELECT doc_id, g_rule, g_cls, g_ppl, " +
      "CAST((g_rule + g_cls + g_ppl) * 2 >= 3 AS BIGINT) AS maj_label FROM votes), " +
      "st AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(maj_label) AS BIGINT) AS n1, " +
      gates.map(g =>
        s"CAST(sum(CASE WHEN g_$g = 1 AND maj_label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_$g, " +
          s"CAST(sum(CASE WHEN g_$g = 0 AND maj_label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b_$g")
        .mkString(", ") + " FROM mv), " +
      s"post AS (SELECT doc_id, g_rule, g_cls, g_ppl, maj_label, $l1 AS l1, $l0 AS l0 " +
      "FROM mv CROSS JOIN st) " +
      "SELECT doc_id, g_rule, g_cls, g_ppl, maj_label, l1 / (l1 + l0) AS p_keep, " +
      "CAST(l1 / (l1 + l0) >= 0.5 AS BIGINT) AS ds_label FROM post"
  }

  /* m137/m67: replay the trained language-ID SCORING pass from the
    * captured quantized weights — grams via correlated
    * unnest(generate_series) + substr, buckets via the identical
    * md5-first-48-bits arithmetic (('0x' ∥ hex12)::BIGINT % D), per-doc
    * per-class z as EXACT integer sums against a D-row VALUES weight
    * table, argmax/margin by (z DESC, class ASC) ranking — bit-for-bit
    * the [[graft.text.LangId.score]] closure, including the planted
    * labeled block regenerated from the same (phrase, 1 + i % 3)
    * formula. Training stays spec-pinned (the m40/m83 convention). */

  /** CASE i % 5 → language code / raw phrase — shared by the planted
    * and the labeled corpus CTEs. */
  private def langCaseLang: String =
    graft.text.LangId.PlantedPhrases.zipWithIndex
      .map { case ((l, _), j) => s"WHEN $j THEN '${esc(l)}'" }
      .mkString(s"CASE i % ${graft.text.LangId.PlantedPhrases.size} ", " ", " END")
  private def langCasePhrase(trailingSpace: Boolean): String =
    graft.text.LangId.PlantedPhrases.zipWithIndex
      .map { case ((_, p), j) =>
        s"WHEN $j THEN '${esc(p)}${if (trailingSpace) " " else ""}'" }
      .mkString(s"CASE i % ${graft.text.LangId.PlantedPhrases.size} ", " ", " END")

  /** The m137 scoring corpus: every real doc plus the planted labeled
    * block regenerated from the (phrase, 1 + i % 3) formula. */
  private def plantedCorpusCtes(off: Long): String =
    s"planted AS (SELECT CAST($off + i AS BIGINT) AS doc_id, " +
      s"$langCaseLang AS lang, trim(repeat(${langCasePhrase(trailingSpace = true)}, 1 + i % 3)) AS text " +
      s"FROM range(${graft.text.LangId.PlantedCount}) t(i)), " +
      "corpus AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text " +
      "FROM documents WHERE text IS NOT NULL " +
      "UNION ALL SELECT doc_id, lang, text FROM planted)"

  /** The EXTERNAL labeled set (m146/m147): doc i = language i % 5,
    * text = the word list rotated by (i/5) mod 5 words and repeated
    * 1 + i % 2 times — the exact CorpusQueries.labeledLangRows formula
    * (list slicing replays the rotation; the rotation period equals
    * the block-split period so holdout = rotation 4, unseen in train;
    * `where` draws the train/holdout line on the same id arithmetic
    * both engines share). */
  private def labeledCorpusCtes(off: Long, where: String): String =
    s"lsrc AS (SELECT i, $langCaseLang AS lang, " +
      s"string_split(${langCasePhrase(trailingSpace = false)}, ' ') AS tw " +
      s"FROM range(${graft.queries.CorpusQueries.LabeledCount}) t(i)), " +
      "lrot AS (SELECT i, lang, tw, CAST((i // 5) % 5 AS INTEGER) AS k FROM lsrc), " +
      s"labeled AS (SELECT CAST($off + i AS BIGINT) AS doc_id, lang, " +
      "trim(repeat(array_to_string(tw[k+1:] || tw[1:k], ' ') || ' ', " +
      "CAST(1 + i % 2 AS INTEGER))) AS text FROM lrot), " +
      s"corpus AS (SELECT doc_id, lang, text FROM labeled WHERE $where)"

  /** The scoring chain over a `corpus(doc_id, lang, text)` CTE: hashed
    * 2–4-gram buckets, exact integer z sums against the VALUES weight
    * table, argmax/margin by (z DESC, class ASC) — bit-for-bit the
    * [[graft.text.LangId.score]] closure. */
  private def langIdChain(classes: Seq[String], wq: Seq[Seq[Long]],
                          corpusCtes: String): String = {
    val k = classes.size
    val d = graft.text.LangId.D
    val wcols = (0 until k).map(c => s"w$c").mkString(", ")
    val wrows = (0 until d).map { i =>
      (i.toString +: (0 until k).map(c => wq(c)(i).toString))
        .mkString("(", ", ", ")")
    }.mkString(", ")
    val sums = (0 until k).map(c => s"sum(w.w$c) AS s$c").mkString(", ")
    val zrows = classes.zipWithIndex.map { case (cls, c) =>
      s"SELECT doc_id, n_grams, $c AS c, '${esc(cls)}' AS cls, " +
        s"s$c AS z FROM zs"
    }.mkString(" UNION ALL ")
    s"WITH wt(idx, $wcols) AS (VALUES $wrows), " +
      corpusCtes + ", " +
      "docs AS (SELECT doc_id, lang, " +
      "regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS t FROM corpus), " +
      "pos AS (SELECT doc_id, n, t, " +
      "unnest(generate_series(1, len(t) - n + 1)) AS i " +
      "FROM docs, (VALUES (2), (3), (4)) ns(n)), " +
      "grams AS (SELECT doc_id, CAST(('0x' || " +
      "substr(md5(substr(t, CAST(i AS INTEGER), n)), 1, 12)) AS BIGINT) " +
      s"% $d AS idx FROM pos), " +
      "zs AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
      s"$sums FROM grams g JOIN wt w USING (idx) GROUP BY 1), " +
      s"zrows AS ($zrows), " +
      "rk AS (SELECT doc_id, n_grams, c, cls, z, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY z DESC, c ASC) AS r " +
      "FROM zrows), " +
      "pick AS (SELECT a.doc_id, a.n_grams, a.cls AS pred_lang, " +
      "coalesce((CAST(a.z - b.z AS DOUBLE) / 4294967296.0) / " +
      "CAST(a.n_grams AS DOUBLE), 0.0) AS margin " +
      "FROM rk a LEFT JOIN rk b ON b.doc_id = a.doc_id AND b.r = 2 " +
      "WHERE a.r = 1), " +
      "scored AS (SELECT d.doc_id, d.lang, " +
      "coalesce(p.pred_lang, 'unknown') AS pred_lang, " +
      "coalesce(p.margin, 0.0) AS margin, " +
      "coalesce(p.n_grams, CAST(0 AS BIGINT)) AS n_grams " +
      "FROM docs d LEFT JOIN pick p USING (doc_id)) "
  }

  private def langIdCtes(classes: Seq[String],
                         wq: Seq[Seq[Long]], off: Long): String =
    langIdChain(classes, wq, plantedCorpusCtes(off))

  def langIdScore(classes: Seq[String],
                  wq: Seq[Seq[Long]], off: Long): String =
    langIdCtes(classes, wq, off) +
      "SELECT doc_id, lang, pred_lang, margin, n_grams FROM scored"

  /** m67: confusion crosstab + per-predicted-class TRAIN SUPPORT from
    * the captured per-class counts ('unknown' is backed by none → 0). */
  def langIdConfusion(classes: Seq[String], wq: Seq[Seq[Long]], off: Long,
                      support: Seq[Long]): String = {
    val supRows = classes.zip(support)
      .map { case (c, n) => s"('${esc(c)}', $n)" }.mkString(", ")
    langIdCtes(classes, wq, off) +
      s", sup(cls, sup_n) AS (VALUES $supRows), " +
      "c AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs " +
      "FROM scored GROUP BY 1, 2), " +
      "tt AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total " +
      "FROM c GROUP BY 1) " +
      "SELECT c.lang, c.pred_lang, c.n_docs, tt.lang_total, " +
      "CAST(c.n_docs AS DOUBLE) / CAST(tt.lang_total AS DOUBLE) AS share, " +
      "CAST(coalesce(s.sup_n, 0) AS BIGINT) AS pred_train_support " +
      "FROM c JOIN tt USING (lang) LEFT JOIN sup s ON s.cls = c.pred_lang"
  }

  /** m146: the captured labeled-set model scoring its 20% HOLDOUT —
    * the labeled corpus regenerated by formula, split on the same id
    * arithmetic. */
  def langIdLabeledScore(classes: Seq[String],
                         wq: Seq[Seq[Long]], off: Long): String =
    langIdChain(classes, wq,
      labeledCorpusCtes(off, s"((doc_id - $off) // 5) % 5 >= 4")) +
      "SELECT doc_id, lang, pred_lang, margin, n_grams FROM scored"

  /** m147: per-class calibration over the FULL labeled set — the
    * softmax confidence of the predicted class rebuilt from the exact
    * integer z's (denominator folded in class-index order, left-assoc,
    * matching [[graft.text.LangId.scoreCalibrated]] op-for-op), then
    * the m98 integer-bin recipe per predicted class. */
  def langIdCalibration(classes: Seq[String],
                        wq: Seq[Seq[Long]], off: Long): String = {
    val k = classes.size
    val denom = (0 until k)
      .map(c => s"exp(CAST(z.s$c - p.zb AS DOUBLE) / 4294967296.0 / " +
        "CAST(p.n_grams AS DOUBLE))")
      .mkString(" + ")
    langIdChain(classes, wq, labeledCorpusCtes(off, "TRUE")) +
      ", pb AS (SELECT doc_id, n_grams, cls AS pred_lang, z AS zb " +
      "FROM rk WHERE r = 1), " +
      "cf AS (SELECT p.doc_id, d.lang, p.pred_lang, " +
      s"CAST(floor(1000000000.0 / ($denom)) AS BIGINT) AS conf_q " +
      "FROM pb p JOIN zs z USING (doc_id) JOIN docs d USING (doc_id)), " +
      "b AS (SELECT pred_lang, " +
      "least(CAST(floor(conf_q / 100000000.0) AS BIGINT), 9) AS bin, " +
      "CAST(count(*) AS BIGINT) AS n, " +
      "CAST(count(*) FILTER (WHERE pred_lang = lang) AS BIGINT) AS n_correct, " +
      "sum(conf_q) AS sum_q FROM cf GROUP BY 1, 2), " +
      "tt AS (SELECT pred_lang, CAST(sum(n) AS BIGINT) AS class_total " +
      "FROM b GROUP BY 1), " +
      "fin AS (SELECT b.pred_lang, b.bin, b.n, b.n_correct, " +
      "CAST(b.sum_q AS DOUBLE) / 1000000000.0 / b.n AS mean_conf, " +
      "CAST(b.n_correct AS DOUBLE) / b.n AS frac_correct, tt.class_total " +
      "FROM b JOIN tt USING (pred_lang)) " +
      "SELECT pred_lang, bin, n, n_correct, mean_conf, frac_correct, " +
      "abs(mean_conf - frac_correct) AS gap, " +
      "abs(mean_conf - frac_correct) * n / class_total AS ece_term FROM fin"
  }

  private type LangCap = (Seq[String], Seq[Seq[Long]], Long)
  private type LangCapSup = (Seq[String], Seq[Seq[Long]], Long, Seq[Long])

  def captured: Map[String, String] =
    OracleCapture.get[Ivf.Model]("m12_ann_ivf").map(m => "m12_ann_ivf" -> ivfTopK(m, 5, 4)).toMap ++
      OracleCapture.get[(Ivf.Model, Long)]("m33_semantic_dedup").map { case (m, off) =>
        "m33_semantic_dedup" -> semanticDedup(m, off, 0.99, 2) }.toMap ++
      OracleCapture.get[Ivf.Model]("m41_cluster_quota").map(m => "m41_cluster_quota" -> ivfClusterQuota(m, 10)).toMap ++
      OracleCapture.get[Ivf.Model]("m74_ann_tuning_sweep").map(m => "m74_ann_tuning_sweep" -> ivfSweep(m, 5, Seq(1, 2, 4, 16))).toMap ++
      OracleCapture.get[Pq.Model]("m37_ann_pq").map(m => "m37_ann_pq" -> pqAdc(m, 5)).toMap ++
      OracleCapture.get[IvfPq.Model]("m38_ann_ivfpq").map(m => "m38_ann_ivfpq" -> ivfPqTopK(m, 5, 4)).toMap ++
      OracleCapture.get[IvfPq.Model]("m84_ann_stored_probe").map(m => "m84_ann_stored_probe" -> ivfPqTopK(m, 5, 4)).toMap ++
      OracleCapture.get[IvfPq.Model]("m81_ann_ivfpq_batch").map(m =>
        "m81_ann_ivfpq_batch" -> ivfPqTopK(m, 3, 2, probeWhere = "TRUE")).toMap ++
      OracleCapture.get[IvfPq.Model]("m47_ann_rerank").map(m => "m47_ann_rerank" -> ivfPqRerank(m, 5, 4, 5)).toMap ++
      OracleCapture.get[(Seq[(Long, Long, Long)], Long)]("m53_mmr_rerank").map { case (picks, off) =>
        "m53_mmr_rerank" -> mmrCertificate(picks, off, k = 5, lambda = 0.7, candMult = 10) }.toMap ++
      OracleCapture.get[PcaPower.IterState]("m63_pca_top_component").map(st => "m63_pca_top_component" -> pcaTopComponent(st)).toMap ++
      OracleCapture.get[Seq[(String, String)]]("m40_bpe_tokens")
        .filter(_.nonEmpty).map(ms => "m40_bpe_tokens" -> bpeTokenStats(ms)).toMap ++
      OracleCapture.get[Seq[(String, String)]]("m79_tokenizer_fertility")
        .filter(_.nonEmpty).map(ms => "m79_tokenizer_fertility" -> bpeFertility(ms)).toMap ++
      OracleCapture.get[Seq[Double]]("m83_quality_classifier")
        .map(w => "m83_quality_classifier" -> qualityClassifier(w)).toMap ++
      OracleCapture.get[Seq[Double]]("m86_classifier_roc")
        .map(w => "m86_classifier_roc" -> classifierRoc(w)).toMap ++
      OracleCapture.get[Seq[Double]]("m98_calibration")
        .map(w => "m98_calibration" -> calibration(w)).toMap ++
      OracleCapture.get[Seq[Double]]("m101_gate_agreement")
        .map(w => "m101_gate_agreement" -> gateAgreement(w)).toMap ++
      OracleCapture.get[Seq[Double]]("m118_dawid_skene")
        .map(w => "m118_dawid_skene" -> dawidSkene(w)).toMap ++
      OracleCapture.get[Seq[(String, String)]]("m88_token_coverage")
        .filter(_.nonEmpty).map(ms => "m88_token_coverage" -> bpeTokenCoverage(ms)).toMap ++
      OracleCapture.get[Seq[(Boolean, String)]]("m139_wordpiece_tokens")
        .filter(_.nonEmpty).map(ps => "m139_wordpiece_tokens" -> wordPieceStats(ps)).toMap ++
      OracleCapture.get[Seq[(Boolean, String)]]("m143_wordpiece_fertility")
        .filter(_.nonEmpty).map(ps => "m143_wordpiece_fertility" -> wordPieceFertility(ps)).toMap ++
      OracleCapture.get[Seq[(String, Double)]]("m135_unigram_tokens")
        .filter(_.nonEmpty).map(ps => "m135_unigram_tokens" -> unigramTokenStats(ps)).toMap ++
      OracleCapture.get[Seq[(String, Double)]]("m136_unigram_fertility")
        .filter(_.nonEmpty).map(ps => "m136_unigram_fertility" -> unigramFertility(ps)).toMap ++
      OracleCapture.get[LangCap]("m137_langid_score")
        .filter(_._1.nonEmpty).map { case (cl, wq, off) =>
          "m137_langid_score" -> langIdScore(cl, wq, off) }.toMap ++
      OracleCapture.get[LangCapSup]("m67_lang_confusion")
        .filter(_._1.nonEmpty).map { case (cl, wq, off, sup) =>
          "m67_lang_confusion" -> langIdConfusion(cl, wq, off, sup) }.toMap ++
      OracleCapture.get[LangCap]("m146_langid_labeled")
        .filter(_._1.nonEmpty).map { case (cl, wq, off) =>
          "m146_langid_labeled" -> langIdLabeledScore(cl, wq, off) }.toMap ++
      OracleCapture.get[LangCap]("m147_langid_calibration")
        .filter(_._1.nonEmpty).map { case (cl, wq, off) =>
          "m147_langid_calibration" -> langIdCalibration(cl, wq, off) }.toMap
}
