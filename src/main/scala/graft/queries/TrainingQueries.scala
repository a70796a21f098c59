package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup

/** Training-data pipeline pack, part 1: deduplication over the `documents`
  * table (doc_id, text, lang, source, n_chars).
  *
  * All four variants (exact, MinHash+LSH, SimHash, blocked n-gram) use
  * deterministic integer math — the DuckDB oracles below re-implement the
  * identical fold/hash formulas, so value hashes match bit-for-bit.
  * Jaccard scores are a single double division of exact integers, which is
  * IEEE-identical in both engines, so no rounding fudge is needed.
  */
object TrainingQueries {
  private val P = Dedup.HashMod // 1e9+7

  private val polyHashLambda =
    s"s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % $P)"

  /** Shared oracle CTEs: token hashes → 3-gram shingle hashes (131-base
    * fold of token hashes — mirrors Dedup.shingleHashes exactly). */
  private val shingleCtes =
    s"""toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '), $polyHashLambda) AS th
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, CASE WHEN len(th) >= 3 THEN list_distinct(
       |    list_transform(range(0, len(th)-3+1),
       |      i -> ((th[i+1]*131 + th[i+2]) % $P * 131 + th[i+3]) % $P))
       |    ELSE [] END AS sh FROM toks
       |)""".stripMargin

  // ---- exact dedup: md5 grouping → representative --------------------------
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))
  val dedupExactSql: String =
    """SELECT doc_id, md5(text) AS content_hash,
      |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id,
      |  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup,
      |  COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- normalize-then-exact dedup ("fuzzy-exact" first pass) ---------------
  /** The fixture corpus is clean (every text IS its own normal form, and
    * no two docs share a text), so the re-crawl scenario is constructed:
    * every 5th doc gains a NOISY COPY under id+10000 — first char upcased,
    * trailing " !!", all inter-word spaces doubled. Normalization must
    * collapse each copy back onto its clean original (n_copies = 2, copy
    * flagged is_dup) while exact hashing would see 600 distinct texts —
    * exactly the near-dup class this pass exists to catch. Both engines
    * build the identical dirty corpus. */
  def dedupNormalized(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val noisyCopies = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(
          concat(upper(col("text").substr(lit(1), lit(1))),
            col("text").substr(lit(2), length(col("text")) - 1), lit(" !!")),
          " ", "  ").as("text"))
    Dedup.normalizedDedup(docs.unionByName(noisyCopies), "doc_id", "text")
      .orderBy(col("doc_id"))
  }
  val dedupNormalizedSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id,
      |    regexp_replace(upper(substring(text, 1, 1)) || substring(text, 2) || ' !!',
      |      ' ', '  ', 'g') AS text
      |  FROM documents WHERE doc_id % 5 = 0
      |), norm AS (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |      ' +', ' ', 'g')) AS n
      |  FROM corpus
      |)
      |SELECT doc_id, md5(n) AS norm_hash,
      |  MIN(doc_id) OVER (PARTITION BY md5(n)) AS rep_id,
      |  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(n)) AS is_dup,
      |  COUNT(*) OVER (PARTITION BY md5(n)) AS n_copies,
      |  n <> text AS changed
      |FROM norm ORDER BY doc_id""".stripMargin

  // ---- MinHash + banded LSH near-dup pairs ---------------------------------
  def dedupMinhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.5, k = 16, bands = 4, failOnCap = true)
      .orderBy(col("id_a"), col("id_b"))
  /** The banded-minhash candidate CTEs shared by the Jaccard and
    * containment pair oracles (identical to the engine's candidate
    * stage: 16-hash affine signatures, 4 bands, bucket self-join). */
  private val minhashCandCtes: String =
    s"""$shingleCtes, sig AS (
       |  SELECT doc_id, list_transform(range(0,16), j ->
       |    list_min(list_transform(sh, h -> ((2*j+1)*h + 7919*j + 12345) % $P))) AS sig
       |  FROM sh
       |), mh AS (
       |  SELECT doc_id, bk.band AS band, bk.key AS key FROM (
       |    SELECT doc_id, unnest(list_transform(range(0,4), b ->
       |      {'band': b, 'key': list_reduce(sig[b*4+1:b*4+4], (acc,x) -> (acc*1000003 + x) % $P)})) AS bk
       |    FROM sig)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM mh a JOIN mh b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |)""".stripMargin

  val dedupMinhashPairsSql: String =
    s"""WITH $minhashCandCtes
       |SELECT id_a, id_b,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) AS jaccard
       |FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // ---- asymmetric containment near-dup -------------------------------------
  /** Quote/subset/excerpt detection: containment of the smaller shingle
    * set in the larger, |A∩B| / |A| ≥ 0.6 as exact integer ppm.
    * Candidates by the LOSSLESS containment prefix filter
    * ([[Dedup.containmentPairs]] — minhash bands can't seed this, band
    * collisions track the Jaccard these pairs lack), so the oracle can
    * state the naive ALL-PAIRS form the filter must equal exactly.
    * `failOnCap` keeps that equality HONEST: if any shingle's df ever
    * exceeds the cap (a boilerplate-heavy testdata generation), the
    * query raises in-plan instead of silently hash-mismatching. */
  def dedupContainment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        thresholdPpm = 600000L, failOnCap = true)
      .orderBy(col("id_a"), col("id_b"))

  val dedupContainmentSql: String =
    s"""WITH $shingleCtes,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
       |         CAST(len(a.sh) AS BIGINT) AS n_a,
       |         CAST(len(b.sh) AS BIGINT) AS n_b
       |  FROM sh a JOIN sh b
       |    ON (len(a.sh) < len(b.sh)
       |        OR (len(a.sh) = len(b.sh) AND a.doc_id < b.doc_id))
       |  WHERE len(a.sh) > 0 AND len(list_intersect(a.sh, b.sh)) > 0)
       |SELECT id_a, id_b, inter, n_a, n_b,
       |       (inter * 1000000) // n_a AS cont_ppm
       |FROM pairs
       |WHERE (inter * 1000000) // n_a >= 600000
       |ORDER BY id_a, id_b""".stripMargin

  // ---- containment, PRODUCTION-capped sibling ------------------------------
  /** The capped form of [[dedupContainment]] — the call a 100 TB corpus
    * actually runs (r10 verdict task #6): `dfCap = 100` DROPS shingles
    * whose document frequency exceeds the cap from both the prefix
    * ranking and the posting side, bounding the candidate join's
    * fan-out per shingle at df² ≤ 10⁴ where the uncapped-for-parity
    * sibling squares unboundedly on boilerplate. The recall trade is
    * STATED, not silent: the oracle replays the identical cap (df ≤
    * 100 in its own ranking + posting CTEs), so a pair lost to the cap
    * is lost on BOTH engines and the row still hash-matches —
    * same grading pattern as `dedup_ngram_pairs`' capped PPJoin.
    * Containment arithmetic is unchanged (exact intersection over FULL
    * shingle sets; only candidate generation is capped). */
  def dedupContainmentCapped(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        thresholdPpm = 600000L, dfCap = ContainDfCap, failOnCap = false)
      .orderBy(col("id_a"), col("id_b"))

  private val ContainDfCap = 100

  val dedupContainmentCappedSql: String =
    s"""WITH $shingleCtes,
       |ex AS (
       |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n, unnest(sh) AS h FROM sh
       |), dfc AS (
       |  SELECT h, COUNT(*) AS df FROM ex GROUP BY h
       |  HAVING COUNT(*) <= $ContainDfCap
       |), posted AS (
       |  SELECT e.doc_id, e.n, e.h, d.df FROM ex e JOIN dfc d USING (h)
       |), ranked AS (
       |  SELECT doc_id, n, h, df,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY df, h) AS rn
       |  FROM posted
       |), pre AS (
       |  SELECT doc_id, n, h FROM ranked
       |  WHERE rn <= n - (600000 * n + 999999) // 1000000 + 1
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM pre a JOIN posted b
       |    ON a.h = b.h
       |   AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
       |), pairs AS (
       |  SELECT c.id_a, c.id_b,
       |         CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |         CAST(len(sa.sh) AS BIGINT) AS n_a,
       |         CAST(len(sb.sh) AS BIGINT) AS n_b
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b)
       |SELECT id_a, id_b, inter, n_a, n_b,
       |       (inter * 1000000) // n_a AS cont_ppm
       |FROM pairs
       |WHERE (inter * 1000000) // n_a >= 600000
       |ORDER BY id_a, id_b""".stripMargin

  // ---- LSH candidate-generation recall/precision eval ----------------------
  /** The engine measuring ITSELF ([[graft.operators.Dedup.lshRecallEval]]):
    * candidate-generation recall and raw-candidate precision of the
    * EXACT banded-MinHash configuration `dedup_minhash_pairs` ships
    * (k=16, bands=4, J ≥ 0.5), against exact-Jaccard ground truth
    * computed losslessly by a shingle posting join. Why it is gradeable
    * at all: the Spark truth arm's posting candidates provably contain
    * every J ≥ 0.5 pair (such a pair shares ≥ 1 shingle), so the ORACLE
    * states the naive all-pairs form — a truth-arm gap cannot
    * self-confirm, the same adversarial-oracle pattern as
    * `j14_entity_dual`. The banded arm reuses the graded
    * candidate CTEs verbatim. Counts are exact integers; ppm by long
    * floor division with GREATEST(·,1) denominators. */
  def evalNeardupPr(s: SparkSession, d: String): DataFrame =
    Dedup.lshRecallEval(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.5, k = 16, bands = 4, failOnCap = true)
      .orderBy(col("n_truth"))

  val evalNeardupPrSql: String =
    s"""WITH $minhashCandCtes,
       |truth AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.5
       |), agg AS (
       |  SELECT COUNT(*) AS n_truth, COUNT(c.id_a) AS tp
       |  FROM truth t LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
       |), cagg AS (SELECT COUNT(*) AS n_cand FROM cand)
       |SELECT n_truth, tp, n_truth - tp AS fn, n_cand,
       |       tp * 1000000 // GREATEST(n_truth, 1) AS recall_ppm,
       |       tp * 1000000 // GREATEST(n_cand, 1) AS precision_ppm
       |FROM agg, cagg
       |ORDER BY n_truth""".stripMargin

  // ---- LSH recall eval, SAMPLED-truth production arm -----------------------
  /** The 100 TB shape of [[evalNeardupPr]] graded as its own query (r13
    * verdict task #2): the full arm's Σ df² exact-truth join over the
    * whole corpus is an EVAL luxury — at warehouse scale the truth arm
    * runs over a deterministic document sample while candidate
    * generation stays the full production pass. Here the sample keeps
    * 2 of 5 multiplicative-hash residue classes
    * ([[graft.operators.Dedup.SampleHashA]] — engine-identical integer
    * math, zero RNG), truth is exact Jaccard over sampled docs only, and
    * the confusion counts are read off pairs with BOTH endpoints
    * in-sample — an unbiased estimate of full-corpus candidate recall at
    * ~16% of the truth cost (fraction²). The oracle replays the
    * identical residue gate; `DedupSpec` pins sampled ≈ full recall at
    * sf0.01. Same adversarial-oracle pattern as the full arm: the truth
    * side is stated naively (all sampled pairs), so a truth-arm gap
    * cannot self-confirm. */
  def evalNeardupPrSampled(s: SparkSession, d: String): DataFrame =
    Dedup.lshRecallEvalSampled(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.5, k = 16, bands = 4, sampleMod = 5, sampleKeep = 2,
        failOnCap = true)
      .orderBy(col("n_truth"))

  private val sampleGate =
    s"* ${Dedup.SampleHashA} % $P % 5 < 2"

  val evalNeardupPrSampledSql: String =
    s"""WITH $minhashCandCtes,
       |samp AS (
       |  SELECT doc_id, sh FROM sh WHERE doc_id $sampleGate
       |), truth AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM samp a JOIN samp b ON a.doc_id < b.doc_id
       |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |        (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.5
       |), cands AS (
       |  SELECT id_a, id_b FROM cand
       |  WHERE id_a $sampleGate AND id_b $sampleGate
       |), agg AS (
       |  SELECT COUNT(*) AS n_truth, COUNT(c.id_a) AS tp
       |  FROM truth t LEFT JOIN cands c ON c.id_a = t.id_a AND c.id_b = t.id_b
       |), cagg AS (SELECT COUNT(*) AS n_cand FROM cands)
       |SELECT n_truth, tp, n_truth - tp AS fn, n_cand,
       |       tp * 1000000 // GREATEST(n_truth, 1) AS recall_ppm,
       |       tp * 1000000 // GREATEST(n_cand, 1) AS precision_ppm
       |FROM agg, cagg
       |ORDER BY n_truth""".stripMargin

  // ---- near-dup probe against the STORED LSH index -------------------------
  /** The serving form of incremental near-dup: standing docs (ids ≢ 0
    * mod 10) are indexed ONCE — minhash signatures + bucketed band keys
    * under an atomic composite version — and the delta (ids ≡ 0 mod 10)
    * probes the ARTIFACT: candidates from stored band rows (bucket-
    * pruned), similarity from stored signatures (est_jaccard = agreeing
    * positions / k). Standing text is never re-read at probe time — what
    * the index buys over `dedup_incremental`'s derive-per-run shape. The
    * oracle rebuilds signatures from raw text and replays the same
    * banding + agreement arithmetic, so a stale or torn index read would
    * hash-mismatch. Index build memoized per corpus like the BM25/IVF
    * queries: repeat calls measure the probe, which is the serving cost. */
  private val lshIndexCache =
    new graft.operators.BoundedMemo[String, String]("training.lshIndexCache")

  def dedupLshIndexed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = lshIndexCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_lsh_idx")
      Dedup.writeLshIndex(docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", p)
      p
    })
    Dedup.probeLshIndex(s, path, docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", threshold = 0.5)
      .orderBy(col("new_id"), col("old_id"))
  }
  val dedupLshIndexedSql: String =
    s"""WITH $shingleCtes, sig AS (
       |  SELECT doc_id, list_transform(range(0,16), j ->
       |    list_min(list_transform(sh, h -> ((2*j+1)*h + 7919*j + 12345) % $P))) AS sig
       |  FROM sh WHERE len(sh) > 0
       |), mh AS (
       |  SELECT doc_id, bk.band AS band, bk.key AS key FROM (
       |    SELECT doc_id, unnest(list_transform(range(0,4), b ->
       |      {'band': b, 'key': list_reduce(sig[b*4+1:b*4+4], (acc,x) -> (acc*1000003 + x) % $P)})) AS bk
       |    FROM sig)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
       |  FROM mh a JOIN mh b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
       |), est AS (
       |  SELECT c.new_id, c.old_id,
       |    CAST(len(list_filter(range(0,16), j -> sa.sig[j+1] = sb.sig[j+1])) AS DOUBLE) / 16e0 AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.new_id
       |  JOIN sig sb ON sb.doc_id = c.old_id
       |)
       |SELECT new_id, old_id, est_jaccard FROM est WHERE est_jaccard >= 5e-1
       |ORDER BY new_id, old_id""".stripMargin

  // ---- SimHash fingerprint (pure projection) -------------------------------
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Dedup.simhash(col("text"), 30).as("fingerprint"))
      .orderBy(col("doc_id"))
  val dedupSimhashSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS tk FROM documents
       |), hashes AS (
       |  SELECT doc_id, list_transform(tk, $polyHashLambda) AS hs FROM toks
       |)
       |SELECT doc_id, CAST(list_sum(list_transform(range(0, 30), i ->
       |  CASE WHEN list_sum(list_transform(hs, h -> ((h >> i) & 1)*2 - 1)) > 0
       |       THEN CAST(1 AS BIGINT) << i ELSE 0 END)) AS BIGINT) AS fingerprint
       |FROM hashes ORDER BY doc_id""".stripMargin

  // ---- length-blocked exact n-gram Jaccard pairs (df-ordered prefix --------
  // ---- filter, DF-capped postings) -----------------------------------------
  /** Candidates must share ≥1 PREFIX shingle — first n-⌈t·n⌉+1 elements
    * under the global (document frequency, hash) order, the canonical
    * PPJoin ordering — with df ≤ DfCap; Jaccard is still exact over full
    * sets. */
  private val DfCap = 100

  def dedupNgramPairs(s: SparkSession, d: String): DataFrame =
    Dedup.blockedNgramPairs(Tables.documents(s, d), "doc_id", "text",
        "n_chars", threshold = 0.5, width = 50, dfCap = DfCap)
      .orderBy(col("id_a"), col("id_b"))
  val dedupNgramPairsSql: String =
    s"""WITH $shingleCtes, ex AS (
       |  SELECT doc_id, len(sh) AS n, unnest(sh) AS h FROM sh
       |), dfc AS (
       |  SELECT h, COUNT(*) AS df FROM ex GROUP BY h
       |), ranked AS (
       |  SELECT e.doc_id, e.n, e.h, d.df,
       |         row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.h) AS rn
       |  FROM ex e JOIN dfc d USING (h)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM (SELECT doc_id, h FROM ranked WHERE rn <= n - CAST(ceil(0.5*n) AS INTEGER) + 1 AND df <= $DfCap) a
       |  JOIN (SELECT doc_id, h FROM ranked WHERE rn <= n - CAST(ceil(0.5*n) AS INTEGER) + 1 AND df <= $DfCap) b
       |    ON a.h = b.h AND a.doc_id < b.doc_id
       |), blocked AS (
       |  SELECT c.id_a, c.id_b FROM cand c
       |  JOIN documents da ON da.doc_id = c.id_a
       |  JOIN documents db ON db.doc_id = c.id_b
       |  WHERE abs(da.n_chars // 50 - db.n_chars // 50) <= 1
       |)
       |SELECT id_a, id_b,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) AS jaccard
       |FROM blocked JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // ---- incremental near-dup: incoming batch vs standing corpus -------------
  /** Incoming = doc_id ≡ 0 (mod 5) (a stand-in for the nightly delivery);
    * corpus = the rest. Only new-vs-old pairs are produced — within-batch
    * and within-corpus dups are other jobs' concern. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.minhashPairsAgainst(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", threshold = 0.5)
      .orderBy(col("new_id"), col("old_id"))
  }
  val dedupIncrementalSql: String =
    s"""WITH $shingleCtes, sig AS (
       |  SELECT doc_id, list_transform(range(0,16), j ->
       |    list_min(list_transform(sh, h -> ((2*j+1)*h + 7919*j + 12345) % $P))) AS sig
       |  FROM sh
       |), mh AS (
       |  SELECT doc_id, bk.band AS band, bk.key AS key FROM (
       |    SELECT doc_id, unnest(list_transform(range(0,4), b ->
       |      {'band': b, 'key': list_reduce(sig[b*4+1:b*4+4], (acc,x) -> (acc*1000003 + x) % $P)})) AS bk
       |    FROM sig)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
       |  FROM mh a JOIN mh b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
       |)
       |SELECT new_id, old_id,
       |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) AS jaccard
       |FROM cand JOIN sh sa ON sa.doc_id = new_id JOIN sh sb ON sb.doc_id = old_id
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) >= 0.5
       |ORDER BY new_id, old_id""".stripMargin

  // ---- span-level exact-substring dedup (positional shingles) --------------
  /** WHERE the duplicated runs sit: maximal consecutive runs of 5-gram
    * start positions whose 5-gram occurs in ≥2 distinct documents — a run
    * of s positions covers s+4 removable tokens. The oracle replays the
    * positional (non-distinct) shingle sequence and the same
    * gaps-and-islands merge. */
  private val SpanN = 5

  def dedupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text", SpanN)
      .orderBy(col("doc_id"), col("span_start"))
  val dedupSpansSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '), $polyHashLambda) AS th
       |  FROM documents
       |), seq AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
       |    list_reduce(th[i+1:i+$SpanN], (a,b) -> (a*131 + b) % $P) AS h
       |  FROM (SELECT doc_id, th, unnest(range(0, greatest(len(th)-$SpanN+1, 0))) AS i FROM toks)
       |), dup AS (
       |  SELECT h FROM seq GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
       |), runs AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM seq JOIN dup USING (h)
       |)
       |SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
       |  CAST(MAX(pos) - MIN(pos) + $SpanN AS INTEGER) AS span_tokens,
       |  COUNT(*) AS n_shingles
       |FROM runs GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin

  // ---- incremental sequence-level dedup via Bloom semi-join reduction ------
  /** Delta docs (doc_id ≡ 0 mod 5) probed for 32-token chunks already in
    * the standing corpus — the incremental form of dedup_chunks. The
    * Bloom stage is pure plan reduction — no false negatives, FPs removed
    * by the exact join — so the oracle is the PLAIN chunk-hash join: the
    * sketch must not change a single output row. */
  private val BloomChunkW = 32

  /** Standing-corpus serving state per data dir: the chunked+keyed corpus
    * written ONCE to scratch parquet, plus its Bloom sketch — exactly
    * what a nightly pipeline holds between deliveries (the sketch as a
    * stored artifact, [[Dedup.bloomWriteSketch]]). The first call per dir
    * pays the corpus pass; repeat calls (bench steady runs) measure what
    * every night after the first measures: the delta probe + verify join.
    *
    * The value is a scratch PATH, not a live frame — the same
    * eviction-safe shape as every other per-dir index memo. An earlier
    * revision memoized a `localCheckpoint`ed DataFrame with an `onEvict`
    * that unpersisted it, but that turns LRU eviction into a
    * use-after-release hazard: a caller still holding the LAZY plan that
    * embeds the frame loses the checkpoint blocks (lineage is truncated,
    * so they cannot be recomputed) when 64 other dirs churn the memo. A
    * path has neither that problem nor the frame's session-liveness
    * coupling: the artifact outlives eviction (reclaimed by
    * [[graft.Scratch]]'s shutdown hook), and ANY session can read it, so
    * plain `computeIfAbsent` suffices — no staleness predicate at all. */
  private val bloomStanding =
    new graft.operators.BoundedMemo[String, (String, Array[Byte])]("training.bloomStanding")

  def dedupBloomIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    def chunks(df: DataFrame) =
      graft.operators.Sequence.chunkTokens(df, "doc_id", "text", BloomChunkW, BloomChunkW)
        .select(col("doc_id"), md5(col("chunk_text")).as("chunk_hash"))
    val (path, sketch) = bloomStanding.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("bloom_standing")
      chunks(docs.filter(col("doc_id") % 5 =!= 0))
        .write.parquet(s"$p/chunks.parquet")
      val written = graft.sources.PartitionedStore.readImmutable(s, s"$p/chunks.parquet")
      (p, Dedup.bloomBuild(written, "chunk_hash", expectedItems = 100000L))
    })
    val oldKeyed = graft.sources.PartitionedStore.readImmutable(s, s"$path/chunks.parquet")
    Dedup.bloomMembershipWith(
        chunks(docs.filter(col("doc_id") % 5 === 0)),
        oldKeyed, "doc_id", "chunk_hash", sketch)
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_shared_chunks"), min(col("first_old_id")).as("first_old_id"))
      .orderBy(col("new_id"))
  }
  val dedupBloomIncrementalSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
       |), n AS (
       |  SELECT doc_id, tk, len(tk) AS n,
       |         1 + CAST(ceil(greatest(len(tk) - $BloomChunkW, 0) / CAST($BloomChunkW AS DOUBLE)) AS INTEGER) AS n_chunks
       |  FROM toks
       |), ch AS (
       |  SELECT doc_id, md5(array_to_string(tk[k*$BloomChunkW + 1 : least((k+1)*$BloomChunkW, n)], ' ')) AS h
       |  FROM (SELECT doc_id, tk, n, unnest(range(0, n_chunks)) AS k FROM n) e
       |), hits AS (
       |  SELECT a.doc_id AS new_id, a.h, MIN(b.doc_id) AS first_old_id
       |  FROM ch a JOIN ch b ON a.h = b.h AND b.doc_id % 5 <> 0
       |  WHERE a.doc_id % 5 = 0
       |  GROUP BY a.doc_id, a.h
       |)
       |SELECT new_id, COUNT(*) AS n_shared_chunks, MIN(first_old_id) AS first_old_id
       |FROM hits GROUP BY new_id ORDER BY new_id""".stripMargin

  // ---- span-level rewrite: remove all-but-first duplicated occurrences -----
  /** The remediation step: tokens of non-owning duplicated 5-gram
    * instances dropped, first occurrence (global min instance) kept. The
    * oracle replays ownership, covered-index expansion, and the ordered
    * re-join of surviving tokens. */
  def dedupSpanRewrite(s: SparkSession, d: String): DataFrame =
    Dedup.removeDuplicateSpans(Tables.documents(s, d), "doc_id", "text", SpanN)
      .orderBy(col("doc_id"))
  val dedupSpanRewriteSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '), $polyHashLambda) AS th
       |  FROM documents
       |), seq AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS pos, doc_id * 1000000 + i AS inst,
       |    list_reduce(th[i+1:i+$SpanN], (a,b) -> (a*131 + b) % $P) AS h
       |  FROM (SELECT doc_id, th, unnest(range(0, greatest(len(th)-$SpanN+1, 0))) AS i FROM toks)
       |), own AS (
       |  SELECT h, MIN(inst) AS first_inst, COUNT(*) AS cnt FROM seq GROUP BY h
       |), rem AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT s.doc_id, unnest(range(s.pos, s.pos + $SpanN)) AS tok
       |    FROM seq s JOIN own o USING (h)
       |    WHERE o.cnt >= 2 AND s.inst <> o.first_inst)
       |), tk AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
       |), kept AS (
       |  SELECT x.doc_id, x.i AS tok, x.tk[x.i+1] AS t
       |  FROM (SELECT doc_id, tk, unnest(range(0, len(tk))) AS i FROM tk) x
       |  LEFT JOIN rem r ON r.doc_id = x.doc_id AND r.tok = x.i
       |  WHERE r.tok IS NULL
       |), rebuilt AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(t, ' ' ORDER BY tok) AS clean_text
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS n_tokens,
       |  CAST(len(d.tk) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(r.clean_text, '') AS clean_text
       |FROM tk d LEFT JOIN rebuilt r USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // -------------------------------------------------------------------------

  // ---- near-dup probe after a takedown (tombstone delete) ------------------
  /** The delete leg of the stored-LSH lifecycle, end-to-end: standing
    * docs (ids ≢ 0 mod 10) are indexed, doc_id ≡ 7 (mod 30) is
    * tombstone-deleted ([[Dedup.deleteFromLshIndex]] — O(delete set),
    * atomic), and the delta probes the published generation. The oracle
    * drops the deleted ids at the candidate join — exactly the probe's
    * anti-join — so a delete that leaked a tombstoned doc back into the
    * candidates hash-mismatches. Every id in the residue class is
    * standing (7 mod 30 is never 0 mod 10). Build+delete memoized per
    * corpus: repeat calls measure the probe. */
  private val lshDelCache =
    new graft.operators.BoundedMemo[String, String]("training.lshDelCache")
  private val LshDelMod = 30
  private val LshDelRes = 7

  def dedupLshDeleted(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = lshDelCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_lsh_del")
      Dedup.writeLshIndex(docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", p)
      Dedup.deleteFromLshIndex(s,
        docs.filter(col("doc_id") % LshDelMod === LshDelRes)
          .select(col("doc_id")), p)
      p
    })
    Dedup.probeLshIndex(s, path, docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", threshold = 0.5)
      .orderBy(col("new_id"), col("old_id"))
  }
  /** [[dedupLshIndexedSql]] with the deleted residue class dropped on the
    * standing side — derived from the base oracle so they can't drift. */
  val dedupLshDeletedSql: String = dedupLshIndexedSql.replace(
    "WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0",
    "WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0" +
      s" AND b.doc_id % $LshDelMod <> $LshDelRes")

  // ---- intra-document n-gram repetition (the Gopher repetition family) ----
  /** WITHIN-document repetition signals at the n-gram level (Rae et al.
    * 2021 "Scaling Language Models: ... Gopher" §A1.1's repetition
    * filters — looping generations, boilerplate chant, copy-paste spam):
    * `gopherTable`'s unigram rep/top fractions miss a doc that cycles a
    * PHRASE of distinct words ("buy now click here buy now click
    * here…"), which bigram/trigram occurrence counts catch immediately.
    * Per doc and n ∈ {2, 3}: total n-gram occurrences, the fraction of
    * occurrences whose n-gram occurs ≥2× (duplicate-occurrence mass),
    * and the top n-gram's occurrence share — integer ppm by long floor
    * division (GREATEST(·,1) denominators so short docs read 0, never a
    * divide error). POSITIONAL shingle hashes ([[Dedup.seqShingleHashes]],
    * the codegen kernel — one array per row, no HOF lambda in the row
    * path) make an occurrence a first-class row; both engines hash
    * n-grams with the same 131-base fold of polyHash tokens, so hash
    * collisions (if any) collapse identically on both sides. Scale: two
    * explode+groupBy passes keyed by (doc, hash) — per-doc local work,
    * shuffles bounded by token count, no cross-doc join anywhere. Docs
    * shorter than n tokens carry zero occurrences (COALESCE'd 0s). */
  def qualityRepNgrams(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    def metrics(n: Int) = {
      val occ = docs.select(col("doc_id"),
          explode(Dedup.seqShingleHashes(col("text"), n)).as("h"))
        .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("occ"))
      occ.groupBy(col("doc_id")).agg(
        sum(col("occ")).as(s"n$n"),
        expr("sum(CASE WHEN occ >= 2 THEN occ ELSE 0 END) * 1000000 " +
          "div greatest(sum(occ), 1)").as(s"rep${n}_ppm"),
        expr("max(occ) * 1000000 div greatest(sum(occ), 1)")
          .as(s"top${n}_ppm"))
    }
    docs.select(col("doc_id"))
      .join(metrics(2), Seq("doc_id"), "left")
      .join(metrics(3), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("rep2_ppm"), lit(0L)).as("rep2_ppm"),
        coalesce(col("top2_ppm"), lit(0L)).as("top2_ppm"),
        coalesce(col("n3"), lit(0L)).as("n3"),
        coalesce(col("rep3_ppm"), lit(0L)).as("rep3_ppm"),
        coalesce(col("top3_ppm"), lit(0L)).as("top3_ppm"))
      .orderBy(col("doc_id"))
  }
  val qualityRepNgramsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '), $polyHashLambda) AS th
       |  FROM documents
       |), g2 AS (
       |  SELECT doc_id, unnest(CASE WHEN len(th) >= 2 THEN
       |    list_transform(range(0, len(th)-1), i -> (th[i+1]*131 + th[i+2]) % $P)
       |    ELSE [] END) AS h FROM toks
       |), g3 AS (
       |  SELECT doc_id, unnest(CASE WHEN len(th) >= 3 THEN
       |    list_transform(range(0, len(th)-2),
       |      i -> ((th[i+1]*131 + th[i+2]) % $P * 131 + th[i+3]) % $P)
       |    ELSE [] END) AS h FROM toks
       |), o2 AS (SELECT doc_id, h, COUNT(*) AS occ FROM g2 GROUP BY doc_id, h),
       |o3 AS (SELECT doc_id, h, COUNT(*) AS occ FROM g3 GROUP BY doc_id, h),
       |m2 AS (
       |  SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n2,
       |    CAST(SUM(CASE WHEN occ >= 2 THEN occ ELSE 0 END) * 1000000
       |      // GREATEST(SUM(occ), 1) AS BIGINT) AS rep2_ppm,
       |    CAST(MAX(occ) * 1000000 // GREATEST(SUM(occ), 1) AS BIGINT) AS top2_ppm
       |  FROM o2 GROUP BY doc_id),
       |m3 AS (
       |  SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n3,
       |    CAST(SUM(CASE WHEN occ >= 2 THEN occ ELSE 0 END) * 1000000
       |      // GREATEST(SUM(occ), 1) AS BIGINT) AS rep3_ppm,
       |    CAST(MAX(occ) * 1000000 // GREATEST(SUM(occ), 1) AS BIGINT) AS top3_ppm
       |  FROM o3 GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(n2, 0) AS n2,
       |  COALESCE(rep2_ppm, 0) AS rep2_ppm, COALESCE(top2_ppm, 0) AS top2_ppm,
       |  COALESCE(n3, 0) AS n3,
       |  COALESCE(rep3_ppm, 0) AS rep3_ppm, COALESCE(top3_ppm, 0) AS top3_ppm
       |FROM documents d LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("quality_rep_ngrams", qualityRepNgrams, qualityRepNgramsSql),
    QueryDef("dedup_lsh_deleted", dedupLshDeleted, dedupLshDeletedSql),
    QueryDef("dedup_exact", dedupExact, dedupExactSql),
    QueryDef("dedup_normalized", dedupNormalized, dedupNormalizedSql),
    QueryDef("dedup_lsh_indexed", dedupLshIndexed, dedupLshIndexedSql),
    QueryDef("dedup_minhash_pairs", dedupMinhashPairs, dedupMinhashPairsSql),
    QueryDef("dedup_containment", dedupContainment, dedupContainmentSql),
    QueryDef("dedup_containment_capped", dedupContainmentCapped, dedupContainmentCappedSql),
    QueryDef("eval_neardup_pr", evalNeardupPr, evalNeardupPrSql),
    QueryDef("eval_neardup_pr_sampled", evalNeardupPrSampled, evalNeardupPrSampledSql),
    QueryDef("dedup_simhash", dedupSimhash, dedupSimhashSql),
    QueryDef("dedup_incremental", dedupIncremental, dedupIncrementalSql),
    QueryDef("dedup_spans", dedupSpans, dedupSpansSql),
    QueryDef("dedup_span_rewrite", dedupSpanRewrite, dedupSpanRewriteSql),
    QueryDef("dedup_bloom_incremental", dedupBloomIncremental, dedupBloomIncrementalSql),
    QueryDef("dedup_ngram_pairs", dedupNgramPairs, dedupNgramPairsSql))
}
