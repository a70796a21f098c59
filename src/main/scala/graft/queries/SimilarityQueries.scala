package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Similarity

/** Training-data pipeline pack, part 2: similarity search over the
  * `embeddings` table (vec_id, embedding ARRAY<FLOAT>, label).
  *
  * Oracle determinism: the cosine kernel widens each float to double and
  * sums products sequentially; the DuckDB twin uses list_reduce (a left
  * fold) over the same index order, so the doubles are bitwise identical
  * and row_number ranking agrees exactly. */
object SimilarityQueries {
  /** queries = vec_id < 10 (10 query vectors), k = 5. */
  private val K = 5
  private val NQ = 10

  /** Banded sign-LSH parameters. p fixes buckets/band at 2^p — at 100 TB
    * grow p ~log₂ n so expected bucket size n/2^p stays bounded (these
    * are ARGUMENTS of the operators; the constants here just fit sf0.01's
    * 500 vectors at ~8/bucket) — and b buys recall back independently:
    * overall hit probability 1-(1-(1-θ/π)^p)^b. */
  private val NBands = 8
  private val PlanesPerBand = 6
  private val BucketCap = 64

  /** DuckDB sequential dot product of two list columns as doubles. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x + y)"

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / NULLIF(sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}), 0)"

  /** Sign-LSH key of band `band` for embedding column `v` (LCG plane
    * weights; global plane index g = band·p + j, mirroring
    * VecOps.signLshBandKeys exactly). */
  private def bandKeySql(v: String, band: String): String =
    s"""list_reduce(list_transform(range(0, $PlanesPerBand), j ->
       |    CASE WHEN list_reduce(list_transform(range(1, len($v)+1),
       |      i -> CAST((1103515245*(($band*$PlanesPerBand + j)*100003 + i) + 12345) % 1000003 - 500001 AS DOUBLE) * CAST($v[i] AS DOUBLE)),
       |      (x,y) -> x + y) > 0
       |    THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END), (x,y) -> x + y)""".stripMargin

  // ---- exact brute-force cosine top-k --------------------------------------
  def simBruteforceTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < NQ),
        "vec_id", "embedding", K)
      .orderBy(col("query_id"), col("rank"))
  }
  val simBruteforceTopkSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $NQ),
       |pairs AS (
       |  SELECT q.query_id, e.vec_id, ${cosSql("qe", "e.embedding")} AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
       |)
       |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM pairs) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---- contrastive hard-negative mining ------------------------------------
  def mineHardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.hardNegativesTopK(emb, emb.filter(col("vec_id") < NQ),
        "vec_id", "embedding", "label", K)
      .orderBy(col("query_id"), col("rank"))
  }
  val mineHardNegativesSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
       |           FROM embeddings WHERE vec_id < $NQ),
       |pairs AS (
       |  SELECT q.query_id, e.vec_id, ${cosSql("qe", "e.embedding")} AS cos
       |  FROM embeddings e, q WHERE e.label <> q.ql
       |)
       |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM pairs) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---- margin-based aligned-pair mining (bitext harvesting shape) ----------
  /** Even-id vectors mine their best aligned partners among odd-id
    * vectors — two disjoint "sides" standing in for the two languages of
    * a bitext corpus. Ratio margin (Artetxe & Schwenk 2019) normalizes
    * each pair's cosine by its forward/backward top-kAvg neighborhood
    * means, computed as integer sums of 1e-6-quantized cosines with the
    * denominators cleared — the margin is one double division of exact
    * integers, so both engines hold identical bits. */
  private val KAvg = 4

  def mineAlignedPairs(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.marginTopK(
        emb.filter(col("vec_id") % 2 === 1),
        emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 2 * NQ),
        "vec_id", "embedding", K, KAvg)
      .orderBy(col("query_id"), col("rank"))
  }
  val mineAlignedPairsSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |  WHERE vec_id % 2 = 0 AND vec_id < ${2 * NQ}
       |), tgt AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
       |), pairs AS (
       |  SELECT q.query_id, t.vec_id,
       |         CAST(floor((${cosSql("qe", "t.embedding")}) * 1.0e6) AS BIGINT) AS qc
       |  FROM tgt t, q
       |), fwd AS (
       |  SELECT query_id, CAST(SUM(qc) AS BIGINT) AS fsum, COUNT(*) AS fn FROM (
       |    SELECT query_id, qc,
       |      row_number() OVER (PARTITION BY query_id ORDER BY qc DESC) AS rn
       |    FROM pairs) t WHERE rn <= $KAvg GROUP BY query_id
       |), bwd AS (
       |  SELECT vec_id, CAST(SUM(qc) AS BIGINT) AS bsum, COUNT(*) AS bn FROM (
       |    SELECT vec_id, qc,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY qc DESC) AS rn
       |    FROM pairs) t WHERE rn <= $KAvg GROUP BY vec_id
       |), m AS (
       |  SELECT p.query_id, p.vec_id,
       |    CAST(2*p.qc*f.fn*b.bn AS DOUBLE) / CAST(f.fsum*b.bn + b.bsum*f.fn AS DOUBLE) AS margin
       |  FROM pairs p JOIN fwd f USING (query_id) JOIN bwd b USING (vec_id)
       |  WHERE f.fsum*b.bn + b.bsum*f.fn > 0
       |)
       |SELECT query_id, vec_id, margin, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, vec_id, margin,
       |    row_number() OVER (PARTITION BY query_id ORDER BY margin DESC, vec_id) AS rank
       |  FROM m) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---- banded-LSH ANN top-k ------------------------------------------------
  def simLshTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < NQ),
        "vec_id", "embedding", K, NBands, PlanesPerBand)
      .orderBy(col("query_id"), col("rank"))
  }
  val simLshTopkSql: String =
    s"""WITH bands AS (
       |  SELECT e.vec_id, t.band, ${bandKeySql("e.embedding", "t.band")} AS key
       |  FROM embeddings e, range(0, $NBands) t(band)
       |), q AS (
       |  SELECT vec_id AS query_id, band, key FROM bands WHERE vec_id < $NQ
       |), cand AS (
       |  SELECT DISTINCT q.query_id, e.vec_id
       |  FROM bands e JOIN q ON e.band = q.band AND e.key = q.key AND e.vec_id <> q.query_id
       |), scored AS (
       |  SELECT c.query_id, c.vec_id, ${cosSql("qv.embedding", "ev.embedding")} AS cos
       |  FROM cand c
       |  JOIN embeddings qv ON qv.vec_id = c.query_id
       |  JOIN embeddings ev ON ev.vec_id = c.vec_id
       |)
       |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---- IVF-flat ANN: parameterized cells + multi-probe ---------------------
  /** Cell count and nprobe are OPERATOR ARGUMENTS (Similarity.ivfTopK) —
    * cells must grow ~√n, nprobe buys recall; these constants fit sf0.01
    * (500 vectors → 8 cells ≈ 62/cell, probe 2). */
  private val NCent = 8
  private val NProbe = 2

  def simIvfTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < NQ),
        "vec_id", "embedding", K, NCent, NProbe)
      .orderBy(col("query_id"), col("rank"))
  }
  val simIvfTopkSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings ORDER BY vec_id LIMIT $NCent),
       |assign AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id, ${cosSql("e.embedding", "cent_vec")} AS ccos
       |  FROM embeddings e CROSS JOIN cents c
       |), cells AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT vec_id, embedding, cent_id, ccos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
       |    FROM assign) t WHERE rn = 1
       |), probes AS (
       |  SELECT query_id, qe, cell FROM (
       |    SELECT vec_id AS query_id, embedding AS qe, cent_id AS cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
       |    FROM assign WHERE vec_id < $NQ) t WHERE rn <= $NProbe
       |), pairs AS (
       |  SELECT p.query_id, e.vec_id, ${cosSql("qe", "e.embedding")} AS cos
       |  FROM cells e JOIN probes p ON e.cell = p.cell AND e.vec_id <> p.query_id
       |)
       |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM pairs) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** FILTERED vector search ([[Similarity.ivfTopKFiltered]]): the same
    * seeded quantizer and cell assignments as `sim_ivf_topk` — the
    * index is built from the full corpus, because filtering first would
    * move the centroids and give every tenant a different quantizer —
    * with candidates restricted to the allowed residue class after
    * cell pruning (post-filter ANN). Oracle DERIVED from the base IVF
    * SQL by adding the filter to the candidate join alone, so index
    * construction can never drift between the two. */
  def simIvfFiltered(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopKFiltered(emb, emb.filter(col("vec_id") < NQ),
        emb.filter(col("vec_id") % 3 =!= 1).select(col("vec_id")),
        "vec_id", "embedding", K, NCent, NProbe)
      .orderBy(col("query_id"), col("rank"))
  }
  val simIvfFilteredSql: String = simIvfTopkSql.replace(
    "FROM cells e JOIN probes p ON e.cell = p.cell AND e.vec_id <> p.query_id",
    "FROM cells e JOIN probes p ON e.cell = p.cell AND e.vec_id <> p.query_id AND e.vec_id % 3 <> 1")

  // ---- ANN recall@k self-evaluation -----------------------------------------
  /** The engine measuring ITSELF: recall@$K of the IVF index exactly as
    * `sim_ivf_topk` serves it (same seeded quantizer, $NCent cells,
    * $NProbe probes) against exact brute-force cosine ground truth —
    * THE standard ANN quality metric, and the number that tells an
    * operator whether to spend nprobe or re-train the quantizer.
    * Per-query rows (query_id, hits, recall_ppm): hits = |IVF top-k ∩
    * exact top-k| by (query_id, vec_id) equi-join, recall as integer
    * ppm by long floor division — both arms are already independently
    * hash-graded (`sim_bruteforce_topk`, `sim_ivf_topk`), so their sets
    * are bit-identical across engines and the intersection counts
    * follow. Left join keeps 0-hit queries visible. Scale: ground
    * truth is one corpus scan against the BROADCAST query sample
    * (never corpus×corpus); the eval join touches 2·NQ·K rows. */
  def evalAnnRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQ)
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", K)
      .select(col("query_id"), col("vec_id"))
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding", K, NCent, NProbe)
      .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1))
    bf.join(ivf, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("hits"))
      .withColumn("recall_ppm", expr(s"hits * 1000000L div ${K}L"))
      .orderBy(col("query_id"))
  }

  val evalAnnRecallSql: String =
    s"""WITH bf AS ($simBruteforceTopkSql),
       |ivf AS ($simIvfTopkSql)
       |SELECT b.query_id, COUNT(i.vec_id) AS hits,
       |       COUNT(i.vec_id) * 1000000 // $K AS recall_ppm
       |FROM bf b LEFT JOIN ivf i
       |  ON i.query_id = b.query_id AND i.vec_id = b.vec_id
       |GROUP BY b.query_id
       |ORDER BY b.query_id""".stripMargin

  // ---- k-means refinement step for the IVF coarse quantizer ----------------
  /** One Lloyd iteration over 1e-6-quantized coordinates — integer-exact
    * sums make the centroids independent of partitioning/summation order
    * (a plain double sum would differ between cluster layouts AND between
    * engines). 64-dim embeddings → 8×64 output rows. */
  /** Cluster-quality report: per seed cell, member count and exact
    * quantized cosine-cohesion stats (sum / min / floored mean ppm) —
    * see [[graft.operators.Similarity.clusterStats]] for the
    * negative-sum floor-division contract. */
  def simClusterStats(s: SparkSession, d: String): DataFrame =
    Similarity.clusterStats(Tables.embeddings(s, d), "vec_id",
        "embedding", NCent)
      .orderBy(col("cent_id"))

  val simClusterStatsSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings ORDER BY vec_id LIMIT $NCent),
       |assign AS (
       |  SELECT e.vec_id, c.cent_id, ${cosSql("e.embedding", "cent_vec")} AS ccos
       |  FROM embeddings e CROSS JOIN cents c
       |), best AS (
       |  SELECT vec_id, cent_id AS cell, ccos FROM (
       |    SELECT vec_id, cent_id, ccos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
       |    FROM assign) t WHERE rn = 1
       |), q AS (
       |  SELECT cell, CAST(floor(ccos * 1000000.0) AS BIGINT) AS qc FROM best
       |), g AS (
       |  SELECT cell, COUNT(*) AS n, CAST(SUM(qc) AS BIGINT) AS qcos_sum,
       |         min(qc) AS qcos_min
       |  FROM q GROUP BY cell
       |)
       |SELECT cell AS cent_id, n, qcos_sum, qcos_min,
       |       (qcos_sum - ((qcos_sum % n + n) % n)) // n AS mean_cos_ppm
       |FROM g ORDER BY cent_id""".stripMargin

  def simKmeansRefine(s: SparkSession, d: String): DataFrame =
    Similarity.kmeansRefine(Tables.embeddings(s, d), "vec_id", "embedding", NCent)
      .orderBy(col("cent_id"), col("dim"))
  val simKmeansRefineSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings ORDER BY vec_id LIMIT $NCent),
       |assign AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id, ${cosSql("e.embedding", "cent_vec")} AS ccos
       |  FROM embeddings e CROSS JOIN cents c
       |), cells AS (
       |  SELECT embedding, cent_id AS cell FROM (
       |    SELECT vec_id, embedding, cent_id, ccos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
       |    FROM assign) t WHERE rn = 1
       |), ex AS (
       |  SELECT cell, CAST(i AS INTEGER) AS dim,
       |         CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
       |  FROM cells, range(0, 64) r(i)
       |)
       |SELECT cell AS cent_id, dim,
       |       CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000.0) AS centroid
       |FROM ex GROUP BY cell, dim ORDER BY cent_id, dim""".stripMargin

  // ---- embedding-cosine near-dup pairs (banded-LSH blocked, capped) --------
  private val DupTau = 0.42

  def dedupEmbeddingPairs(s: SparkSession, d: String): DataFrame =
    Similarity.bandedNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        DupTau, NBands, PlanesPerBand, BucketCap)
      .orderBy(col("id_a"), col("id_b"))
  val dedupEmbeddingPairsSql: String =
    s"""WITH bands AS (
       |  SELECT e.vec_id, t.band, ${bandKeySql("e.embedding", "t.band")} AS key
       |  FROM embeddings e, range(0, $NBands) t(band)
       |), capped AS (
       |  SELECT vec_id, band, key FROM bands
       |  QUALIFY row_number() OVER (PARTITION BY band, key ORDER BY vec_id) <= $BucketCap
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
       |)
       |SELECT c.id_a, c.id_b, ${cosSql("va.embedding", "vb.embedding")} AS cos
       |FROM cand c
       |JOIN embeddings va ON va.vec_id = c.id_a
       |JOIN embeddings vb ON vb.vec_id = c.id_b
       |WHERE ${cosSql("va.embedding", "vb.embedding")} >= $DupTau
       |ORDER BY id_a, id_b""".stripMargin

  // ---- product-quantization codes (the PQ half of IVF-PQ) ------------------
  private val PqM = 4     // subspaces (64-dim → 16-dim subvectors)
  private val PqKsub = 8  // sub-centroids per subspace (seeded, lowest ids)

  def simPqCodes(s: SparkSession, d: String): DataFrame =
    Similarity.pqEncode(Tables.embeddings(s, d), "vec_id", "embedding", PqM, PqKsub)
      .orderBy(col("vec_id"), col("subspace"))
  val simPqCodesSql: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT $PqKsub
       |), sub AS (
       |  SELECT vec_id, CAST(j AS INTEGER) AS subspace,
       |    embedding[j*(len(embedding)//$PqM)+1 : (j+1)*(len(embedding)//$PqM)] AS sv
       |  FROM embeddings, range(0, $PqM) t(j)
       |), csub AS (
       |  SELECT cent_id, CAST(j AS INTEGER) AS subspace,
       |    cv[j*(len(cv)//$PqM)+1 : (j+1)*(len(cv)//$PqM)] AS csv
       |  FROM cents, range(0, $PqM) t(j)
       |), scored AS (
       |  SELECT s.vec_id, s.subspace, c.cent_id,
       |    COALESCE(${cosSql("s.sv", "c.csv")}, -2.0) AS scos
       |  FROM sub s JOIN csub c USING (subspace)
       |)
       |SELECT vec_id, subspace, cent_id AS code, scos FROM (
       |  SELECT vec_id, subspace, cent_id, scos,
       |    row_number() OVER (PARTITION BY vec_id, subspace ORDER BY scos DESC, cent_id) AS rn
       |  FROM scored) t
       |WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin

  // ---- ADC top-k over PQ codes ---------------------------------------------
  def simAdcTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.adcTopK(emb, emb.filter(col("vec_id") < NQ),
        "vec_id", "embedding", K, PqM, PqKsub)
      .orderBy(col("query_id"), col("rank"))
  }
  val simAdcTopkSql: String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT $PqKsub
       |), sub AS (
       |  SELECT vec_id, CAST(j AS INTEGER) AS subspace,
       |    embedding[j*(len(embedding)//$PqM)+1 : (j+1)*(len(embedding)//$PqM)] AS sv
       |  FROM embeddings, range(0, $PqM) t(j)
       |), csub AS (
       |  SELECT cent_id, CAST(j AS INTEGER) AS subspace,
       |    cv[j*(len(cv)//$PqM)+1 : (j+1)*(len(cv)//$PqM)] AS csv
       |  FROM cents, range(0, $PqM) t(j)
       |), codes AS (
       |  SELECT vec_id, subspace, cent_id AS code FROM (
       |    SELECT s.vec_id, s.subspace, c.cent_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.subspace
       |        ORDER BY COALESCE(${cosSql("s.sv", "c.csv")}, -2.0) DESC, c.cent_id) AS rn
       |    FROM sub s JOIN csub c USING (subspace)) t
       |  WHERE rn = 1
       |), qsub AS (
       |  SELECT vec_id AS query_id, CAST(j AS INTEGER) AS subspace,
       |    embedding[j*(len(embedding)//$PqM)+1 : (j+1)*(len(embedding)//$PqM)] AS qsv
       |  FROM embeddings, range(0, $PqM) t(j) WHERE vec_id < $NQ
       |), qtab AS (
       |  SELECT q.query_id, q.subspace, c.cent_id AS code,
       |    CAST(floor(COALESCE(${cosSql("q.qsv", "c.csv")}, -2.0) * 1000000.0) AS BIGINT) AS q_sub
       |  FROM qsub q JOIN csub c USING (subspace)
       |), agg AS (
       |  SELECT t.query_id, s.vec_id, CAST(SUM(t.q_sub) AS DOUBLE) / 1000000.0 AS approx
       |  FROM codes s JOIN qtab t ON s.subspace = t.subspace AND s.code = t.code
       |  WHERE s.vec_id <> t.query_id
       |  GROUP BY t.query_id, s.vec_id
       |)
       |SELECT query_id, vec_id, approx, CAST(rn AS INTEGER) AS rank FROM (
       |  SELECT query_id, vec_id, approx,
       |    row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, vec_id) AS rn
       |  FROM agg) x
       |WHERE rn <= $K ORDER BY query_id, rank""".stripMargin

  // ---- IVF over the TRAINED quantizer (one Lloyd round feeds the index) ----
  /** iters = 1 so the oracle replays one refine step (the same math
    * sim_kmeans_refine pins) and re-derives the index + probes from the
    * refined centroids. More rounds change only the centroid table, never
    * the plan shape. */
  def simIvfTrainedTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTrainedTopK(emb, emb.filter(col("vec_id") < NQ),
        "vec_id", "embedding", K, NCent, NProbe, iters = 1)
      .orderBy(col("query_id"), col("rank"))
  }
  val simIvfTrainedTopkSql: String =
    s"""WITH cents0 AS (SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings ORDER BY vec_id LIMIT $NCent),
       |assign0 AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id, ${cosSql("e.embedding", "cent_vec")} AS ccos
       |  FROM embeddings e CROSS JOIN cents0 c
       |), cells0 AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT vec_id, embedding, cent_id, ccos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
       |    FROM assign0) t WHERE rn = 1
       |), ex AS (
       |  SELECT cell, CAST(i AS INTEGER) AS dim,
       |         CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
       |  FROM cells0, range(0, 64) r(i)
       |), m AS (
       |  SELECT cell AS cent_id, dim, CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 1000000.0) AS c
       |  FROM ex GROUP BY cell, dim
       |), cents AS (
       |  SELECT cent_id, list(CAST(c AS REAL) ORDER BY dim) AS cent_vec FROM m GROUP BY cent_id
       |), assign AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id, ${cosSql("e.embedding", "c.cent_vec")} AS ccos
       |  FROM embeddings e CROSS JOIN cents c
       |), cells AS (
       |  SELECT vec_id, embedding, cent_id AS cell FROM (
       |    SELECT vec_id, embedding, cent_id, ccos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
       |    FROM assign) t WHERE rn = 1
       |), probes AS (
       |  SELECT query_id, qe, cell FROM (
       |    SELECT vec_id AS query_id, embedding AS qe, cent_id AS cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
       |    FROM assign WHERE vec_id < $NQ) t WHERE rn <= $NProbe
       |), pairs AS (
       |  SELECT p.query_id, e.vec_id, ${cosSql("qe", "e.embedding")} AS cos
       |  FROM cells e JOIN probes p ON e.cell = p.cell AND e.vec_id <> p.query_id
       |)
       |SELECT query_id, vec_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, vec_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM pairs) t
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // ---- SemDeDup: cluster-then-compare semantic dedup -----------------------
  /** tau below the near-dup bar on purpose: SemDeDup prunes SEMANTIC
    * redundancy, not just byte-near copies. Cap never binds at sf0.01
    * (500/8 ≈ 62 per cell) but is part of the contract, so the oracle
    * replays it. */
  private val SemTau = 0.30
  private val SemCap = 256

  def dedupSemantic(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        NCent, SemTau, SemCap)
      .orderBy(col("vec_id"))
  val dedupSemanticSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings ORDER BY vec_id LIMIT $NCent),
       |assign AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id, ${cosSql("e.embedding", "cent_vec")} AS ccos
       |  FROM embeddings e CROSS JOIN cents c
       |), cells AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ccos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
       |    FROM assign) t WHERE rn = 1
       |), capped AS (
       |  SELECT vec_id, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY vec_id) <= $SemCap
       |), scored AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("va.embedding", "vb.embedding")} AS cos
       |  FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN embeddings va ON va.vec_id = a.vec_id
       |  JOIN embeddings vb ON vb.vec_id = b.vec_id
       |  WHERE ${cosSql("va.embedding", "vb.embedding")} >= $SemTau
       |), dup AS (
       |  SELECT id_b AS vec_id, MIN(id_a) AS dup_of, arg_min(cos, id_a) AS dup_cos
       |  FROM scored GROUP BY id_b
       |)
       |SELECT c.vec_id, c.cell, d.dup_of IS NOT NULL AS is_dup, d.dup_of, d.dup_cos
       |FROM cells c LEFT JOIN dup d USING (vec_id) ORDER BY c.vec_id""".stripMargin

  // ---- incremental SemDeDup: incoming batch vs standing corpus -------------
  /** Incoming = vec_id ≡ 0 (mod 5), corpus = the rest (the same split as
    * dedup_incremental / dedup_bloom_incremental, so the three
    * incremental paths compose on one delivery). */
  def dedupSemanticIncremental(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.semanticDedupAgainst(
        emb.filter(col("vec_id") % 5 === 0),
        emb.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", NCent, SemTau, SemCap)
      .orderBy(col("vec_id"))
  }
  val dedupSemanticIncrementalSql: String =
    s"""WITH cents AS (SELECT vec_id AS cent_id, embedding AS cent_vec FROM embeddings WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT $NCent),
       |assign AS (
       |  SELECT e.vec_id, e.embedding, c.cent_id, ${cosSql("e.embedding", "cent_vec")} AS ccos
       |  FROM embeddings e CROSS JOIN cents c
       |), cells AS (
       |  SELECT vec_id, cent_id AS cell FROM (
       |    SELECT vec_id, cent_id, ccos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn
       |    FROM assign) t WHERE rn = 1
       |), an AS (
       |  SELECT vec_id, cell FROM cells WHERE vec_id % 5 = 0
       |  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY vec_id) <= $SemCap
       |), ac AS (
       |  SELECT vec_id, cell FROM cells WHERE vec_id % 5 <> 0
       |  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY vec_id) <= $SemCap
       |), scored AS (
       |  SELECT a.vec_id AS new_id, b.vec_id AS old_id, ${cosSql("va.embedding", "vb.embedding")} AS cos
       |  FROM an a JOIN ac b ON a.cell = b.cell
       |  JOIN embeddings va ON va.vec_id = a.vec_id
       |  JOIN embeddings vb ON vb.vec_id = b.vec_id
       |  WHERE ${cosSql("va.embedding", "vb.embedding")} >= $SemTau
       |), dup AS (
       |  SELECT new_id AS vec_id, MIN(old_id) AS dup_of, arg_min(cos, old_id) AS dup_cos
       |  FROM scored GROUP BY new_id
       |)
       |SELECT c.vec_id, c.cell, d.dup_of IS NOT NULL AS is_dup, d.dup_of, d.dup_cos
       |FROM (SELECT vec_id, cell FROM cells WHERE vec_id % 5 = 0) c
       |LEFT JOIN dup d USING (vec_id) ORDER BY c.vec_id""".stripMargin

  // ---- ANN serving after a takedown (tombstone delete) ---------------------
  /** The delete leg of the stored-IVF lifecycle, end-to-end: the index is
    * built over the FULL corpus, vec_id ≡ 3 (mod 20) is tombstone-deleted
    * ([[Similarity.deleteFromIvfIndex]] — O(delete set), atomic), and the
    * probe serves against the published generation. The oracle assigns
    * EVERY vector to its cell (assignments were fixed at build time —
    * deleting a vector must not re-home its neighbours) and drops the
    * deleted ids only at scoring, exactly the serving read's anti-join —
    * so a delete that leaked into candidates, or a stats/cell tear,
    * hash-mismatches. Build+delete memoized per corpus like the other
    * index queries: repeat calls measure the serving probe. */
  private val ivfDelCache =
    new graft.operators.BoundedMemo[String, String]("sim.ivfDelCache")
  private val DelMod = 20
  private val DelRes = 3

  def simIvfDeleted(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val path = ivfDelCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_ivf_del")
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", NCent, p)
      Similarity.deleteFromIvfIndex(s,
        emb.filter(col("vec_id") % DelMod === DelRes).select(col("vec_id")), p)
      p
    })
    Similarity.ivfIndexTopK(s, path, emb.filter(col("vec_id") < NQ),
        "vec_id", "embedding", K, NProbe)
      .orderBy(col("query_id"), col("rank"))
  }
  /** [[simIvfTopkSql]] with the deleted ids dropped at the candidate
    * join — derived from the base oracle so the two can never drift. */
  val simIvfDeletedSql: String = simIvfTopkSql.replace(
    "FROM cells e JOIN probes p ON e.cell = p.cell AND e.vec_id <> p.query_id",
    "FROM cells e JOIN probes p ON e.cell = p.cell AND e.vec_id <> p.query_id" +
      s" AND e.vec_id % $DelMod <> $DelRes")

  // -------------------------------------------------------------------------

  val queries: Seq[QueryDef] = Seq(
    QueryDef("sim_ivf_deleted", simIvfDeleted, simIvfDeletedSql),
    QueryDef("dedup_semantic_incremental", dedupSemanticIncremental, dedupSemanticIncrementalSql),
    QueryDef("sim_ivf_trained_topk", simIvfTrainedTopk, simIvfTrainedTopkSql),
    QueryDef("dedup_semantic", dedupSemantic, dedupSemanticSql),
    QueryDef("sim_pq_codes", simPqCodes, simPqCodesSql),
    QueryDef("sim_adc_topk", simAdcTopk, simAdcTopkSql),
    QueryDef("sim_bruteforce_topk", simBruteforceTopk, simBruteforceTopkSql),
    QueryDef("eval_ann_recall", evalAnnRecall, evalAnnRecallSql),
    QueryDef("mine_aligned_pairs", mineAlignedPairs, mineAlignedPairsSql),
    QueryDef("mine_hard_negatives", mineHardNegatives, mineHardNegativesSql),
    QueryDef("sim_lsh_topk", simLshTopk, simLshTopkSql),
    QueryDef("sim_ivf_topk", simIvfTopk, simIvfTopkSql),
    QueryDef("sim_ivf_filtered", simIvfFiltered, simIvfFilteredSql),
    QueryDef("sim_kmeans_refine", simKmeansRefine, simKmeansRefineSql),
    QueryDef("sim_cluster_stats", simClusterStats, simClusterStatsSql),
    QueryDef("dedup_embedding_pairs", dedupEmbeddingPairs, dedupEmbeddingPairsSql))
}
