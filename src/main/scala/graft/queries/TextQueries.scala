package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Mix, Relational, TextAnalysis}

/** Training-data pipeline pack, part 3: text analysis over `documents` —
  * token/quality stats, corpus-learned language-ID, token counting, and
  * document fingerprinting. Integer counts + single double divisions →
  * bitwise oracle parity. */
object TextQueries {
  private val stopList = TextAnalysis.Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  // ---- per-doc stats + quality gate ----------------------------------------
  def textStats(s: SparkSession, d: String): DataFrame =
    TextAnalysis.textStats(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))
  val textStatsSql: String =
    s"""WITH toks AS (SELECT doc_id, text, string_split(trim(text), ' ') AS tk FROM documents)
       |SELECT doc_id,
       |  len(tk) AS n_tokens,
       |  len(list_distinct(tk)) AS n_distinct,
       |  CAST(list_sum(list_transform(tk, t -> CAST(length(t) AS BIGINT))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS avg_token_len,
       |  CAST(len(list_filter(tk, t -> list_contains($stopList, t))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS stopword_ratio,
       |  CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
       |  len(tk) >= 10 AND CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) >= 0.3 AS is_quality
       |FROM toks ORDER BY doc_id""".stripMargin

  // ---- corpus-learned language-ID ------------------------------------------
  def textLangid(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val profiles = TextAnalysis.langProfiles(docs, "lang", "text", 20)
    TextAnalysis.langId(docs, "doc_id", "text", profiles)
      .join(docs.select(col("doc_id"), col("lang").as("actual_lang")), "doc_id")
      .withColumn("correct", col("pred_lang") === col("actual_lang"))
      .orderBy(col("doc_id"))
  }
  val textLangidSql: String =
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(trim(text), ' ')) AS token FROM documents
      |), counts AS (
      |  SELECT lang, token, count(*) AS cnt FROM tok GROUP BY lang, token
      |), profiles AS (
      |  SELECT lang, token FROM (
      |    SELECT lang, token, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rn
      |    FROM counts) t WHERE rn <= 20
      |), doctok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS token FROM documents
      |), ovl AS (
      |  SELECT d.doc_id, p.lang, count(*) AS overlap
      |  FROM doctok d JOIN profiles p ON d.token = p.token
      |  GROUP BY d.doc_id, p.lang
      |), best AS (
      |  SELECT doc_id, lang AS pred_lang, overlap FROM (
      |    SELECT doc_id, lang, overlap,
      |           row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, lang ASC) AS rn
      |    FROM ovl) t WHERE rn = 1
      |)
      |SELECT b.doc_id, b.pred_lang, b.overlap, doc.lang AS actual_lang,
      |       b.pred_lang = doc.lang AS correct
      |FROM best b JOIN documents doc ON doc.doc_id = b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // ---- token counting (whitespace / regex / BPE estimate) ------------------
  def textTokenCounts(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCounts(Tables.documents(s, d), "doc_id", "text", "n_chars")
      .orderBy(col("doc_id"))
  val textTokenCountsSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_ws,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_re,
      |  (n_chars + 3) // 4 AS n_bpe_est
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- document fingerprint (rolling hash) ---------------------------------
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Dedup.polyHash(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
  val textFingerprintSql: String =
    s"""SELECT doc_id,
       |  list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |    (acc, x) -> (acc*31 + x) % ${Dedup.HashMod}) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- winnowed fingerprints (MOSS): robust local fingerprint set ----------
  def textWinnow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftExpr
    val fp = graftExpr.column(graft.functions.WinnowExpr(
      graftExpr.expression(col("text")), 3, 4))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(fp).as("fp"))
      .orderBy(col("doc_id"), col("fp"))
  }
  val textWinnowSql: String = {
    val P = graft.operators.Dedup.HashMod
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '),
       |    s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % $P)) AS th
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, list_transform(range(0, len(th)-3+1),
       |    i -> ((th[i+1]*131 + th[i+2]) % $P * 131 + th[i+3]) % $P) AS seq
       |  FROM toks WHERE len(th) >= 3
       |), wn AS (
       |  SELECT doc_id, CASE WHEN len(seq) <= 4 THEN [list_min(seq)]
       |    ELSE list_distinct(list_transform(range(0, len(seq)-4+1),
       |      i -> list_min(seq[i+1:i+4]))) END AS fps
       |  FROM sh
       |)
       |SELECT doc_id, unnest(fps) AS fp FROM wn ORDER BY doc_id, fp""".stripMargin
  }

  // ---- char-trigram language-ID (the n-gram heuristic, char level) ---------
  /** Same two-stage shape as textLangid but over character trigram hashes
    * (the classic n-gram language-ID signal): per-lang profiles = top-30
    * trigrams by frequency; classify by distinct-trigram overlap. Trigram
    * hashing runs in a native kernel (CharNgramHashesExpr). */
  def textLangidChargram(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftExpr
    def ngrams(distinct: Boolean) = graftExpr.column(
      graft.functions.CharNgramHashesExpr(graftExpr.expression(col("text")), 3, distinct))
    val docs = Tables.documents(s, d)
    val counts = docs.select(col("lang"), explode(ngrams(distinct = false)).as("h"))
      .groupBy("lang", "h").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cnt").desc, col("h").asc)
    val profiles = counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 30).select(col("lang"), col("h"))
    val docTri = docs.select(col("doc_id"), explode(ngrams(distinct = true)).as("h"))
    val ovl = docTri.join(broadcast(profiles), "h")
      .groupBy(col("doc_id"), col("lang")).agg(count(lit(1)).as("overlap"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("overlap").desc, col("lang").asc)
    ovl.withColumn("rn", row_number().over(w2)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"), col("overlap"))
      .orderBy(col("doc_id"))
  }
  val textLangidChargramSql: String = {
    val P = graft.operators.Dedup.HashMod
    val tri = s"list_transform(range(1, greatest(length(text)-1, 1)), i -> list_reduce(list_transform(string_split(substr(text, i, 3), ''), c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % $P))"
    s"""WITH tric AS (
       |  SELECT lang, unnest($tri) AS h FROM documents
       |), counts AS (SELECT lang, h, count(*) AS cnt FROM tric GROUP BY lang, h),
       |profiles AS (
       |  SELECT lang, h FROM (
       |    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, h ASC) AS rn
       |    FROM counts) t WHERE rn <= 30
       |), doctri AS (
       |  SELECT doc_id, unnest(list_distinct($tri)) AS h FROM documents
       |), ovl AS (
       |  SELECT d.doc_id, p.lang, count(*) AS overlap
       |  FROM doctri d JOIN profiles p ON d.h = p.h GROUP BY d.doc_id, p.lang
       |)
       |SELECT doc_id, lang AS pred_lang, overlap FROM (
       |  SELECT doc_id, lang, overlap,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, lang ASC) AS rn
       |  FROM ovl) t WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  // ---- deterministic stratified sampling -----------------------------------
  /** Reproducible sampling for training-data assembly: a row is kept iff
    * its content hash lands under the stratum's rate threshold — no RNG,
    * no seed plumbing, identical on any cluster size or engine, and
    * stable under reruns/backfills (the property `rand()` sampling lacks).
    * Rates: en 20%, others 50% (language rebalancing). */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val rate = when(col("lang") === "en", lit(20)).otherwise(lit(50))
    Tables.documents(s, d)
      .withColumn("h", Dedup.polyHash(col("text")) % 100)
      .filter(col("h") < rate)
      .select(col("doc_id"), col("lang"), col("h"))
      .orderBy(col("doc_id"))
  }
  val sampleStratifiedSql: String =
    s"""SELECT doc_id, lang, h FROM (
       |  SELECT doc_id, lang,
       |    list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % ${Dedup.HashMod}) % 100 AS h
       |  FROM documents) t
       |WHERE h < CASE WHEN lang = 'en' THEN 20 ELSE 50 END
       |ORDER BY doc_id""".stripMargin

  // ---- weighted systematic sample (PPS, deterministic) ---------------------
  private val SysStride = 1000L

  /** Every document whose token span crosses a multiple of the stride in
    * the id-ordered token layout — selection ∝ token weight, expected
    * size Σw/stride, zero randomness. The corpus-wide running token sum
    * uses the two-phase block decomposition
    * ([[graft.operators.Mix.sampleSystematicW]]); the oracle states the
    * naive single window the decomposition must equal. */
  def sampleSystematicW(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("w_tokens"))
    Mix.sampleSystematicW(docs, "doc_id", "w_tokens", SysStride)
      .orderBy(col("doc_id"))
  }
  val sampleSystematicWSql: String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS w_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, w_tokens,
       |             CAST(sum(w_tokens) OVER (ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |      FROM w)
       |SELECT doc_id, w_tokens AS w, cum,
       |       cum // $SysStride - (cum - w_tokens) // $SysStride AS picks
       |FROM c
       |WHERE cum // $SysStride - (cum - w_tokens) // $SysStride >= 1
       |ORDER BY doc_id""".stripMargin

  // ---- fixed-k deterministic per-source sample -----------------------------
  private val FixedK = 5

  def sampleFixedK(s: SparkSession, d: String): DataFrame =
    Mix.sampleFixedK(Tables.documents(s, d), "source", "doc_id", "text", FixedK)
      .orderBy(col("source"), col("rank"))
  val sampleFixedKSql: String =
    s"""WITH hashed AS (
       |  SELECT source, doc_id,
       |    (list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % ${Dedup.HashMod})
       |     * ${Mix.ScrambleM} % ${Dedup.HashMod}) * ${Mix.ScrambleM} % ${Dedup.HashMod} AS h
       |  FROM documents
       |)
       |SELECT source, doc_id, h, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT source, doc_id, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rank
       |  FROM hashed) t
       |WHERE rank <= $FixedK ORDER BY source, rank""".stripMargin

  // ---- deterministic WEIGHTED sampling by hash priority ---------------------
  /** Priority sampling ([[Mix.sampleWeightedPriority]]): per source, the
    * [[FixedK]] docs with the smallest scrambled-hash DIV n_chars
    * priority — longer docs proportionally likelier, zero RNG, stable
    * under reruns. The oracle replays hash, DIV and the per-group
    * window-rank definition verbatim. */
  def sampleWeightedPriority(s: SparkSession, d: String): DataFrame =
    Mix.sampleWeightedPriority(Tables.documents(s, d), "source", "doc_id",
        "text", "n_chars", FixedK)
      .orderBy(col("source"), col("rank"))
  val sampleWeightedPrioritySql: String =
    s"""WITH hashed AS (
       |  SELECT source, doc_id,
       |    (list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % ${Dedup.HashMod})
       |     * ${Mix.ScrambleM} % ${Dedup.HashMod}) * ${Mix.ScrambleM} % ${Dedup.HashMod}
       |      // CAST(n_chars AS BIGINT) AS pr
       |  FROM documents
       |)
       |SELECT source, doc_id, pr, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT source, doc_id, pr,
       |    row_number() OVER (PARTITION BY source ORDER BY pr, doc_id) AS rank
       |  FROM hashed) t
       |WHERE rank <= $FixedK ORDER BY source, rank""".stripMargin

  // ---- exact top-fraction quality gate (two-phase, no global sort) ---------
  private val TopFrac = 0.2

  def qualityTopFraction(s: SparkSession, d: String): DataFrame =
    Mix.topFraction(Tables.documents(s, d), "doc_id", "n_chars", TopFrac, 16L)
      .orderBy(col("score").desc, col("doc_id"))
  val qualityTopFractionSql: String =
    s"""SELECT doc_id, score FROM (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
       |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn,
       |    COUNT(*) OVER () AS n
       |  FROM documents) t
       |WHERE rn <= CAST(floor(n * $TopFrac) AS BIGINT)
       |ORDER BY score DESC, doc_id""".stripMargin

  // ---- per-domain exact top-fraction gate (plan-level cutoff search) -------
  /** "Best 20% of EVERY domain", not of the pooled corpus — the quality
    * gate that keeps rare domains from being crowded out by a dominant
    * one. Oracle is the per-group window-rank definition; the Spark plan
    * is the two-phase histogram shape with the cutoff search expressed as
    * a prefix-sum window over the tiny (group, bucket) table. */
  def qualityTopFractionByDomain(s: SparkSession, d: String): DataFrame =
    Mix.topFractionByGroup(Tables.documents(s, d), "source", "doc_id",
        "n_chars", TopFrac, 16L)
      .orderBy(col("source"), col("score").desc, col("doc_id"))
  val qualityTopFractionByDomainSql: String =
    // 2e-1 not 0.2: a bare decimal literal parses as DECIMAL in DuckDB;
    // e-notation forces the same IEEE double multiply Spark performs
    s"""SELECT source, doc_id, score FROM (
       |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS score,
       |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM documents) t
       |WHERE rn <= CAST(floor(n * 2e-1) AS BIGINT)
       |ORDER BY source, score DESC, doc_id""".stripMargin

  // ---- DSIR-shape hashed-bigram importance scoring -------------------------
  /** Target = the corpus's English slice (the "trusted reference" stand-
    * in), raw = everything; importance = cross-multiplied integer form of
    * the DSIR hashed-n-gram log ratio (see TextAnalysis.dsirScore). */
  private val DsirBuckets = 4096

  def qualityDsir(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.dsirScore(docs.filter(col("lang") === "en"), docs,
        "doc_id", "text", DsirBuckets)
      .orderBy(col("doc_id"))
  }
  val qualityDsirSql: String = {
    val P = graft.operators.Dedup.HashMod
    s"""WITH toks AS (
       |  SELECT doc_id, lang, list_transform(string_split(trim(text), ' '),
       |    s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P)) AS th
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, lang,
       |    unnest(CASE WHEN len(th) >= 2 THEN list_transform(range(0, len(th)-1),
       |      i -> list_reduce(th[i+1:i+2], (a,b) -> (a*131 + b) % $P) % $DsirBuckets)
       |      ELSE [] END) AS b
       |  FROM toks
       |), tc AS (
       |  SELECT b, COUNT(*) AS ct FROM f WHERE lang = 'en' GROUP BY b
       |), rc AS (
       |  SELECT b, COUNT(*) AS cr FROM f GROUP BY b
       |), tot AS (
       |  SELECT (SELECT COUNT(*) FROM f WHERE lang = 'en') AS nt,
       |         (SELECT COUNT(*) FROM f) AS nr
       |), w AS (
       |  SELECT rc.b, COALESCE(tc.ct, 0) * nr - rc.cr * nt AS w
       |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot
       |), per AS (
       |  SELECT f.doc_id, COUNT(*) AS n_feats,
       |    CAST(SUM(COALESCE(w.w, 0)) AS BIGINT) AS weight
       |  FROM f LEFT JOIN w USING (b) GROUP BY f.doc_id
       |)
       |SELECT d.doc_id, COALESCE(per.n_feats, 0) AS n_feats,
       |  COALESCE(per.weight, 0) AS weight,
       |  COALESCE(per.weight, 0) > 0 AS keep
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- count-min sketch heavy hitters --------------------------------------
  /** The relational CMS end to end: build the depth×width counter table
    * over all corpus tokens, point-query it for the true top-20 tokens,
    * and report estimate vs truth. The oracle replays every counter from
    * the same salted-scramble hashes, so est_cnt carries the REAL
    * collision inflation of this corpus at width 64 — and the CMS
    * guarantee est ≥ true shows up as overcount ≥ 0 on every row. */
  private val CmsD = 3
  private val CmsW = 64
  private val CmsTopK = 20

  def sketchCmsTopk(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(explode(split(trim(col("text")), " ")).as("token"))
    val truth = tok.groupBy(col("token")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("token").asc).limit(CmsTopK)
    val sketch = Relational.cmsBuild(tok, "token", CmsD, CmsW)
    Relational.cmsEstimate(sketch, truth.select("token"), "token", CmsD, CmsW)
      .join(truth, "token")
      .select(col("token"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"))
      .orderBy(col("true_cnt").desc, col("token").asc)
  }
  val sketchCmsTopkSql: String = {
    val P = graft.operators.Dedup.HashMod
    val M = graft.operators.Mix.ScrambleM
    val cell = (src: String) =>
      s"""(list_reduce(list_transform(string_split($src, ''), ch -> CAST(ascii(ch) AS BIGINT)),
         |      (acc, x) -> (acc*31 + x) % $P) + t.r) * $M % $P * $M % $P % $CmsW""".stripMargin
    s"""WITH tok AS (
       |  SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents
       |), tc AS (
       |  SELECT token, COUNT(*) AS true_cnt FROM tok GROUP BY token
       |), top AS (
       |  SELECT token, true_cnt FROM tc ORDER BY true_cnt DESC, token LIMIT $CmsTopK
       |), cells AS (
       |  SELECT t.r AS r, ${cell("token")} AS c
       |  FROM tok CROSS JOIN range(0, $CmsD) AS t(r)
       |), cms AS (
       |  SELECT r, c, COUNT(*) AS cnt FROM cells GROUP BY r, c
       |), qcells AS (
       |  SELECT token, t.r AS r, ${cell("token")} AS c
       |  FROM top CROSS JOIN range(0, $CmsD) AS t(r)
       |), est AS (
       |  SELECT q.token, MIN(COALESCE(cms.cnt, 0)) AS est_cnt
       |  FROM qcells q LEFT JOIN cms USING (r, c) GROUP BY q.token
       |)
       |SELECT top.token, top.true_cnt, est.est_cnt,
       |  est.est_cnt - top.true_cnt AS overcount
       |FROM top JOIN est USING (token)
       |ORDER BY true_cnt DESC, token""".stripMargin
  }

  // ---- stored daily CMS sketches: span frequencies without fact re-reads ---
  private val cmsStoreCache =
    new graft.operators.BoundedMemo[String, String]("text.cmsStoreCache")

  /** The STORED-sketch serving path of [[sketchCmsTopk]] and the
    * frequency leg of the persisted-sketch lifecycle (Bloom membership,
    * HLL distinct counts, CMS frequencies): per-day (day, r, c, cnt)
    * partials land in a versioned store — 29 standing days committed
    * once, the last day APPENDED as the nightly delta — and the serving
    * sketch is a re-aggregation of stored rows ([[Relational.cmsSpan]]),
    * never a fact-history re-read. Because the counters are associative
    * integer sums, merged-daily ≡ whole-corpus build BITWISE, so the
    * oracle replays the whole-corpus sketch directly — same twin
    * discipline as `rag_retrieve_indexed`. Estimates for the top-20
    * users carry the CMS guarantee est ≥ true (overcount ≥ 0). */
  private def cmsKeyedEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("ts"), col("user_id").cast("string").as("uid"))

  private def cmsStore(s: SparkSession, d: String): String =
    cmsStoreCache.computeIfAbsent(d, _ => {
      import graft.sources.PartitionedStore
      val p = graft.Scratch.dir("graft_cms_store")
      val daily = Relational.cmsDailySketches(
          cmsKeyedEvents(s, d), "ts", "uid", CmsD, CmsW)
        .localCheckpoint() // feeds both commits; released below
      try {
        // the newest day is the "tonight" delta: standing build once,
        // then one append — the cost shape a nightly job has. The max()
        // is a 1-row planning-boundary collect.
        val maxDay = daily.agg(max(col("day"))).collect()(0).getDate(0)
        val v1 = PartitionedStore.commitVersion(
          daily.filter(col("day") < lit(maxDay)), p)
        PartitionedStore.commitVersion(
          daily.filter(col("day") === lit(maxDay)), p,
          append = true, parent = Some(v1))
      } finally graft.operators.Checkpoints.release(daily)
      p
    })

  private def cmsServe(ev: DataFrame, sketch: DataFrame): DataFrame = {
    val truth = ev.groupBy(col("uid")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("uid").asc).limit(CmsTopK)
    Relational.cmsEstimate(sketch, truth.select("uid"), "uid", CmsD, CmsW)
      .join(truth, "uid")
      .select(col("uid"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"))
      .orderBy(col("true_cnt").desc, col("uid").asc)
  }

  def sketchCmsIncremental(s: SparkSession, d: String): DataFrame = {
    val path = cmsStore(s, d)
    cmsServe(cmsKeyedEvents(s, d), Relational.cmsSpan(
      graft.sources.PartitionedStore.readVersion(s, path)))
  }
  val sketchCmsIncrementalSql: String = {
    val P = graft.operators.Dedup.HashMod
    val M = graft.operators.Mix.ScrambleM
    val cell = (src: String) =>
      s"""(list_reduce(list_transform(string_split($src, ''), ch -> CAST(ascii(ch) AS BIGINT)),
         |      (acc, x) -> (acc*31 + x) % $P) + t.r) * $M % $P * $M % $P % $CmsW""".stripMargin
    s"""WITH ks AS (
       |  SELECT CAST(user_id AS VARCHAR) AS uid FROM events
       |), tc AS (
       |  SELECT uid, COUNT(*) AS true_cnt FROM ks GROUP BY uid
       |), top AS (
       |  SELECT uid, true_cnt FROM tc ORDER BY true_cnt DESC, uid LIMIT $CmsTopK
       |), cells AS (
       |  SELECT t.r AS r, ${cell("uid")} AS c
       |  FROM ks CROSS JOIN range(0, $CmsD) AS t(r)
       |), cms AS (
       |  SELECT r, c, COUNT(*) AS cnt FROM cells GROUP BY r, c
       |), qcells AS (
       |  SELECT uid, t.r AS r, ${cell("uid")} AS c
       |  FROM top CROSS JOIN range(0, $CmsD) AS t(r)
       |), est AS (
       |  SELECT q.uid, MIN(COALESCE(cms.cnt, 0)) AS est_cnt
       |  FROM qcells q LEFT JOIN cms USING (r, c) GROUP BY q.uid
       |)
       |SELECT top.uid, top.true_cnt, est.est_cnt,
       |  est.est_cnt - top.true_cnt AS overcount
       |FROM top JOIN est USING (uid)
       |ORDER BY true_cnt DESC, uid""".stripMargin
  }

  /** Join-size estimation from two CMS sketches ([[graft.operators
    * .Relational.cmsJoinSize]]) — the PLANNER read: how big is
    * clicks ⋈ purchases on user_id, answered from two KB-sized
    * sketches without scanning either stream (at 100 TB this is what
    * picks broadcast vs shuffle vs salt before any data moves, and the
    * sketches are the same mergeable rows the store already holds, so
    * any day span's join size is a stored-rows read). True value
    * alongside: Σᵤ clicks(u)·purchases(u); the estimator's guarantee
    * est ≥ true shows as overcount ≥ 0. */
  def sketchCmsJoinSize(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def side(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id").cast("string").as("uid"))
    val est = Relational.cmsJoinSize(
      Relational.cmsBuild(side("click"), "uid", CmsD, CmsW),
      Relational.cmsBuild(side("purchase"), "uid", CmsD, CmsW), CmsD)
    val truth = side("click").groupBy(col("uid")).agg(count(lit(1)).as("ca"))
      .join(side("purchase").groupBy(col("uid")).agg(count(lit(1)).as("cb")),
        "uid")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L))
        .as("true_join_size"))
    est.crossJoin(broadcast(truth))
      .withColumn("overcount",
        col("est_join_size") - col("true_join_size"))
  }
  val sketchCmsJoinSizeSql: String = {
    val P = graft.operators.Dedup.HashMod
    val M = graft.operators.Mix.ScrambleM
    val cell = (src: String) =>
      s"""(list_reduce(list_transform(string_split($src, ''), ch -> CAST(ascii(ch) AS BIGINT)),
         |      (acc, x) -> (acc*31 + x) % $P) + t.r) * $M % $P * $M % $P % $CmsW""".stripMargin
    s"""WITH ks AS (
       |  SELECT CAST(user_id AS VARCHAR) AS uid, event_type FROM events
       |), a AS (SELECT uid FROM ks WHERE event_type = 'click'
       |), b AS (SELECT uid FROM ks WHERE event_type = 'purchase'
       |), ca AS (
       |  SELECT t.r AS r, ${cell("uid")} AS c FROM a CROSS JOIN range(0, $CmsD) AS t(r)
       |), cmsa AS (SELECT r, c, COUNT(*) AS cnt FROM ca GROUP BY r, c
       |), cb AS (
       |  SELECT t.r AS r, ${cell("uid")} AS c FROM b CROSS JOIN range(0, $CmsD) AS t(r)
       |), cmsb AS (SELECT r, c, COUNT(*) AS cnt FROM cb GROUP BY r, c
       |), dots AS (
       |  SELECT ra.r AS r, CAST(SUM(ra.cnt * rb.cnt) AS BIGINT) AS dot
       |  FROM cmsa ra JOIN cmsb rb ON ra.r = rb.r AND ra.c = rb.c GROUP BY ra.r
       |), spine AS (SELECT t.r AS r FROM range(0, $CmsD) AS t(r)
       |), est AS (
       |  SELECT MIN(COALESCE(dots.dot, 0)) AS est_join_size
       |  FROM spine LEFT JOIN dots ON dots.r = spine.r
       |), tr AS (
       |  SELECT CAST(COALESCE(SUM(x.ca * y.cb), 0) AS BIGINT) AS true_join_size
       |  FROM (SELECT uid, COUNT(*) AS ca FROM a GROUP BY uid) x
       |  JOIN (SELECT uid, COUNT(*) AS cb FROM b GROUP BY uid) y ON x.uid = y.uid)
       |SELECT est.est_join_size, tr.true_join_size,
       |  est.est_join_size - tr.true_join_size AS overcount
       |FROM est, tr""".stripMargin
  }

  /** Day-SPAN frequency serving from the same stored daily partials: the
    * sketch for "every day before the newest" is a re-aggregation of the
    * stored rows in that range — the fact history for those days is
    * never re-read, which is the entire point of keeping per-day
    * partials. The span cutoff (max stored day) is one row of sketch
    * METADATA, a planning boundary; the oracle recomputes the same span
    * from raw events because span-of-dailies ≡ span build bitwise. */
  def sketchCmsSpan(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    val stored = PartitionedStore.readVersion(s, cmsStore(s, d))
    val maxDay = stored.agg(max(col("day"))).collect()(0).getDate(0)
    val sketch = Relational.cmsSpan(stored.filter(col("day") < lit(maxDay)))
    cmsServe(cmsKeyedEvents(s, d).filter(to_date(col("ts")) < lit(maxDay)),
      sketch)
  }
  val sketchCmsSpanSql: String = {
    val P = graft.operators.Dedup.HashMod
    val M = graft.operators.Mix.ScrambleM
    val cell = (src: String) =>
      s"""(list_reduce(list_transform(string_split($src, ''), ch -> CAST(ascii(ch) AS BIGINT)),
         |      (acc, x) -> (acc*31 + x) % $P) + t.r) * $M % $P * $M % $P % $CmsW""".stripMargin
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS VARCHAR) AS uid, CAST(ts AS DATE) AS day
       |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
       |), mx AS (
       |  SELECT MAX(day) AS max_day FROM ev
       |), ks AS (
       |  SELECT uid FROM ev, mx WHERE day < max_day
       |), tc AS (
       |  SELECT uid, COUNT(*) AS true_cnt FROM ks GROUP BY uid
       |), top AS (
       |  SELECT uid, true_cnt FROM tc ORDER BY true_cnt DESC, uid LIMIT $CmsTopK
       |), cells AS (
       |  SELECT t.r AS r, ${cell("uid")} AS c
       |  FROM ks CROSS JOIN range(0, $CmsD) AS t(r)
       |), cms AS (
       |  SELECT r, c, COUNT(*) AS cnt FROM cells GROUP BY r, c
       |), qcells AS (
       |  SELECT uid, t.r AS r, ${cell("uid")} AS c
       |  FROM top CROSS JOIN range(0, $CmsD) AS t(r)
       |), est AS (
       |  SELECT q.uid, MIN(COALESCE(cms.cnt, 0)) AS est_cnt
       |  FROM qcells q LEFT JOIN cms USING (r, c) GROUP BY q.uid
       |)
       |SELECT top.uid, top.true_cnt, est.est_cnt,
       |  est.est_cnt - top.true_cnt AS overcount
       |FROM top JOIN est USING (uid)
       |ORDER BY true_cnt DESC, uid""".stripMargin
  }

  // ---- KMV distinct sketches: oracle-exact mergeable cardinality -----------
  private val KmvK = 64

  /** Whole-corpus KMV distinct-token estimate vs exact truth — the
    * oracle-EXACT cardinality sketch (k plain integers, every one
    * replayed bitwise by DuckDB), completing the stored-sketch family:
    * Bloom membership, CMS frequencies, HLL (bound-contract) and now
    * KMV (value-contract) cardinalities. Estimator (k−1)·P DIV kth-min;
    * build is distinct + TakeOrdered — never a global sort. */
  def sketchKmvDistinct(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(explode(split(trim(col("text")), " ")).as("token"))
    val est = Relational.kmvEstimate(
      Relational.kmvBuild(tok, "token", KmvK), KmvK)
    val truth = tok.agg(countDistinct(col("token")).as("true_distinct"))
    est.crossJoin(broadcast(truth))
      .select(col("k_used"), col("kth_min"), col("est_distinct"),
        col("true_distinct"),
        abs(col("est_distinct") - col("true_distinct")).as("abs_err"))
  }
  val sketchKmvDistinctSql: String = {
    val P = graft.operators.Dedup.HashMod
    val M = graft.operators.Mix.ScrambleM
    s"""WITH tok AS (
       |  SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents
       |), h AS (
       |  SELECT DISTINCT
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(token, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (acc, x) -> (acc*31 + x) % $P) * $M % $P * $M % $P AS hv
       |  FROM tok
       |), mins AS (SELECT hv FROM h ORDER BY hv LIMIT $KmvK
       |), agg AS (SELECT COUNT(*) AS k_used, MAX(hv) AS kth_min FROM mins
       |), est AS (
       |  SELECT k_used, kth_min,
       |    CASE WHEN k_used < $KmvK THEN k_used
       |         ELSE (${KmvK - 1} * CAST($P AS BIGINT)) // kth_min END AS est_distinct
       |  FROM agg
       |), tr AS (SELECT COUNT(DISTINCT token) AS true_distinct FROM tok)
       |SELECT e.k_used, e.kth_min, e.est_distinct, t.true_distinct,
       |  abs(e.est_distinct - t.true_distinct) AS abs_err
       |FROM est e, tr t""".stripMargin
  }

  // ---- KMV sketch set algebra: cohort-overlap estimate ---------------------
  /** Audience overlap between the click and purchase user-day cohorts,
    * estimated ENTIRELY from two KMV sketches (theta-sketch set
    * algebra): union k-min set K, θ = max(K), n_common = |K ∩ A ∩ B|,
    * inter ≈ n_common·union_est DIV k — exact integers end to end, with
    * the exact truth columns alongside. At 100 TB neither cohort is
    * ever materialized for the estimate — two k-row sketches answer. */
  def sketchKmvJaccard(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def cohort(t: String) = ev.filter(col("event_type") === t)
      .select(concat(col("user_id").cast("string"), lit("@"),
        to_date(col("ts")).cast("string")).as("uk"))
    val a = cohort("click").distinct()
    val b = cohort("purchase").distinct()
    val est = Relational.kmvJaccard(
      Relational.kmvBuild(a, "uk", KmvK),
      Relational.kmvBuild(b, "uk", KmvK), KmvK)
    val tu = a.unionByName(b).distinct().agg(count(lit(1)).as("true_union"))
    val ti = a.join(b, Seq("uk"), "left_semi")
      .agg(count(lit(1)).as("true_inter"))
    est.crossJoin(broadcast(tu)).crossJoin(broadcast(ti))
  }
  val sketchKmvJaccardSql: String = {
    val P = graft.operators.Dedup.HashMod
    val M = graft.operators.Mix.ScrambleM
    val hash = (src: String) =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split($src, ''), ch -> CAST(ascii(ch) AS BIGINT))),
         |      (acc, x) -> (acc*31 + x) % $P) * $M % $P * $M % $P""".stripMargin
    s"""WITH ev AS (
       |  SELECT user_id, event_type, CAST(ts AS DATE) AS day
       |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
       |), a AS (
       |  SELECT DISTINCT CAST(user_id AS VARCHAR) || '@' || CAST(day AS VARCHAR) AS uk
       |  FROM ev WHERE event_type = 'click'
       |), b AS (
       |  SELECT DISTINCT CAST(user_id AS VARCHAR) || '@' || CAST(day AS VARCHAR) AS uk
       |  FROM ev WHERE event_type = 'purchase'
       |), ma AS (
       |  SELECT hv FROM (SELECT DISTINCT ${hash("uk")} AS hv FROM a)
       |  ORDER BY hv LIMIT $KmvK
       |), mb AS (
       |  SELECT hv FROM (SELECT DISTINCT ${hash("uk")} AS hv FROM b)
       |  ORDER BY hv LIMIT $KmvK
       |), mu AS (
       |  SELECT hv FROM (SELECT DISTINCT hv FROM
       |    (SELECT hv FROM ma UNION ALL SELECT hv FROM mb))
       |  ORDER BY hv LIMIT $KmvK
       |), fl AS (
       |  SELECT hv, hv IN (SELECT hv FROM ma) AS in_a,
       |         hv IN (SELECT hv FROM mb) AS in_b FROM mu
       |), agg AS (
       |  SELECT COUNT(*) AS k_used, MAX(hv) AS theta,
       |         CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_common
       |  FROM fl
       |), est AS (
       |  SELECT k_used, theta, n_common,
       |    CASE WHEN k_used < $KmvK THEN k_used
       |         ELSE (${KmvK - 1} * CAST($P AS BIGINT)) // theta END AS union_est
       |  FROM agg
       |), fin AS (
       |  SELECT k_used, theta, n_common, union_est,
       |    CASE WHEN k_used > 0 THEN (n_common * union_est) // k_used
       |         ELSE 0 END AS inter_est
       |  FROM est
       |), tu AS (
       |  SELECT COUNT(*) AS true_union FROM
       |    (SELECT uk FROM a UNION SELECT uk FROM b)
       |), ti AS (SELECT COUNT(*) AS true_inter FROM a JOIN b USING (uk))
       |SELECT f.k_used, f.theta, f.n_common, f.union_est, f.inter_est,
       |       tu.true_union, ti.true_inter
       |FROM fin f, tu, ti""".stripMargin
  }

  // ---- stored daily KMV sketches: span cardinality without fact re-reads ---
  private val kmvStoreCache =
    new graft.operators.BoundedMemo[String, String]("text.kmvStoreCache")

  /** Distinct active (user, event_type) combos served from STORED daily
    * KMV partials — the cardinality twin of [[sketchCmsIncremental]]:
    * 29 standing days committed once, the newest day APPENDED as the
    * nightly delta, and the serving sketch is a k·days-row
    * re-aggregation ([[Relational.kmvSpan]]), never a fact re-read.
    * Union-of-daily-k-mins contains the global k-min set by
    * construction, so merged-daily ≡ whole-corpus build EXACTLY and the
    * oracle replays the whole-corpus sketch directly. */
  private def kmvKeyedEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("ts"), concat(col("user_id").cast("string"), lit(":"),
        col("event_type")).as("uk"))

  private def kmvStore(s: SparkSession, d: String): String =
    kmvStoreCache.computeIfAbsent(d, _ => {
      import graft.sources.PartitionedStore
      val p = graft.Scratch.dir("graft_kmv_store")
      val daily = Relational.kmvDailySketches(
          kmvKeyedEvents(s, d), "ts", "uk", KmvK)
        .localCheckpoint() // feeds both commits; released below
      try {
        val maxDay = daily.agg(max(col("day"))).collect()(0).getDate(0)
        val v1 = PartitionedStore.commitVersion(
          daily.filter(col("day") < lit(maxDay)), p)
        PartitionedStore.commitVersion(
          daily.filter(col("day") === lit(maxDay)), p,
          append = true, parent = Some(v1))
      } finally graft.operators.Checkpoints.release(daily)
      p
    })

  private def kmvServe(keyed: DataFrame, sketch: DataFrame): DataFrame = {
    val est = Relational.kmvEstimate(sketch, KmvK)
    val truth = keyed.agg(countDistinct(col("uk")).as("true_distinct"))
    est.crossJoin(broadcast(truth))
      .select(col("k_used"), col("kth_min"), col("est_distinct"),
        col("true_distinct"),
        abs(col("est_distinct") - col("true_distinct")).as("abs_err"))
  }

  private def kmvSqlBody(evFilter: String): String = {
    val P = graft.operators.Dedup.HashMod
    val M = graft.operators.Mix.ScrambleM
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS uk,
       |         CAST(ts AS DATE) AS day
       |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
       |), mx AS (SELECT MAX(day) AS max_day FROM ev
       |), ks AS (SELECT uk FROM ev, mx WHERE $evFilter
       |), h AS (
       |  SELECT DISTINCT
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(uk, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (acc, x) -> (acc*31 + x) % $P) * $M % $P * $M % $P AS hv
       |  FROM ks
       |), mins AS (SELECT hv FROM h ORDER BY hv LIMIT $KmvK
       |), agg AS (SELECT COUNT(*) AS k_used, MAX(hv) AS kth_min FROM mins
       |), est AS (
       |  SELECT k_used, kth_min,
       |    CASE WHEN k_used < $KmvK THEN k_used
       |         ELSE (${KmvK - 1} * CAST($P AS BIGINT)) // kth_min END AS est_distinct
       |  FROM agg
       |), tr AS (SELECT COUNT(DISTINCT uk) AS true_distinct FROM ks)
       |SELECT e.k_used, e.kth_min, e.est_distinct, t.true_distinct,
       |  abs(e.est_distinct - t.true_distinct) AS abs_err
       |FROM est e, tr t""".stripMargin
  }

  def sketchKmvIncremental(s: SparkSession, d: String): DataFrame = {
    val path = kmvStore(s, d)
    kmvServe(kmvKeyedEvents(s, d), Relational.kmvSpan(
      graft.sources.PartitionedStore.readVersion(s, path), KmvK))
  }
  val sketchKmvIncrementalSql: String = kmvSqlBody("TRUE")

  /** Day-SPAN cardinality from the same stored partials: the sketch for
    * "every day before the newest" is a re-aggregation of stored rows
    * in that range — fact history for those days is never re-read. The
    * span cutoff (max stored day) is one row of sketch metadata, a
    * planning boundary; the oracle recomputes the same span from raw
    * events because span-of-dailies ≡ span build exactly. */
  // ---- rolling-window distinct from stored daily KMV sketches --------------
  private val kmvUserStoreCache =
    new graft.operators.BoundedMemo[String, String]("text.kmvUserStoreCache")

  /** Stored per-day KMV user sketches — the rolling read's serving
    * state. Built once per corpus ([[Relational.kmvDailySketches]] on
    * `user_id`), k rows per day. */
  private def kmvUserStore(s: SparkSession, d: String): String =
    kmvUserStoreCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_kmv_user_store")
      graft.sources.PartitionedStore.commitVersion(
        Relational.kmvDailySketches(
          Tables.events(s, d)
            .select(col("ts"), col("user_id").cast("string").as("uk")),
          "ts", "uk", KmvK), p)
      p
    })

  /** Rolling 7-day distinct active users served ENTIRELY from the
    * stored daily KMV sketches — the approximate sibling of the exact
    * `w11_rolling_wau`, and the one that survives 100 TB: the trailing
    * window's k-min set is contained in the union of its days' stored
    * k-min sets (any of the window's k smallest hashes is among the k
    * smallest of its own day — the same algebra that makes merged-daily
    * ≡ whole-span), so each day's estimate re-aggregates ≤ 7k stored
    * sketch rows and the fact table is NEVER re-read at serve (the plan
    * pin: every input file is the sketch store). Window membership is
    * an explode-to-serveable-days EQUI join against the tiny broadcast
    * spine (r17; was a nested-loop range join); the per-day
    * k-min selection is a window over sketch rows only (calendar × k,
    * never data rows). The ORACLE replays the whole computation from
    * raw events per window — an independent formulation, so the
    * daily-decomposition algebra cannot self-confirm. */
  def sketchKmvRolling(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = graft.operators.Dedup.HashMod
    val daily = graft.sources.PartitionedStore
      .readVersion(s, kmvUserStore(s, d))
    val spine = broadcast(daily.select(col("day").as("d")).distinct())
    // trailing-window membership restated as an EQUI join (r17): each
    // sketch row explodes to the ≤7 spine days it can serve (d ∈
    // [day, day+6]) and equi-joins the spine — O(rows·7) codegen'd
    // fan-out instead of the BroadcastNestedLoopJoin's O(rows·days)
    // predicate sweep; the matched (d, row) pair set is identical
    val wnd = daily
      .withColumn("d", explode(expr("sequence(day, date_add(day, 6))")))
      .join(spine, "d")
      .select(col("d"), col("hv")).distinct()
    val w = Window.partitionBy(col("d")).orderBy(col("hv"))
    wnd.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= KmvK)
      .groupBy(col("d").as("day"))
      .agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth_min"))
      .select(col("day"), col("k_used"), col("kth_min"),
        when(col("k_used") < KmvK, col("k_used"))
          .otherwise(expr(s"(${KmvK - 1} * ${p}L) div kth_min"))
          .as("est_active"))
      .orderBy(col("day"))
  }

  val sketchKmvRollingSql: String = {
    val P = graft.operators.Dedup.HashMod
    val M = graft.operators.Mix.ScrambleM
    s"""WITH ev AS (
       |  SELECT CAST(user_id AS VARCHAR) AS uk, CAST(ts AS DATE) AS day
       |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
       |), h AS (
       |  SELECT DISTINCT day,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(uk, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (acc, x) -> (acc*31 + x) % $P) * $M % $P * $M % $P AS hv
       |  FROM ev
       |), days AS (SELECT DISTINCT day AS d FROM h
       |), wnd AS (
       |  SELECT DISTINCT days.d, h.hv FROM days JOIN h
       |  ON h.day <= days.d AND h.day >= days.d - 6
       |), rk AS (
       |  SELECT d, hv, row_number() OVER (PARTITION BY d ORDER BY hv) AS rn
       |  FROM wnd
       |), agg AS (
       |  SELECT d AS day, COUNT(*) AS k_used, MAX(hv) AS kth_min
       |  FROM rk WHERE rn <= $KmvK GROUP BY d
       |)
       |SELECT day, k_used, kth_min,
       |  CASE WHEN k_used < $KmvK THEN k_used
       |       ELSE (${KmvK - 1} * CAST($P AS BIGINT)) // kth_min END AS est_active
       |FROM agg ORDER BY day""".stripMargin
  }

  def sketchKmvSpan(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    val stored = PartitionedStore.readVersion(s, kmvStore(s, d))
    val maxDay = stored.agg(max(col("day"))).collect()(0).getDate(0)
    val sketch = Relational.kmvSpan(
      stored.filter(col("day") < lit(maxDay)), KmvK)
    kmvServe(kmvKeyedEvents(s, d).filter(to_date(col("ts")) < lit(maxDay)),
      sketch)
  }
  val sketchKmvSpanSql: String = kmvSqlBody("day < max_day")

  // ---- stored daily quantile histograms: span percentiles, oracle-exact ----
  private val qhStoreCache =
    new graft.operators.BoundedMemo[String, String]("text.qhStoreCache")

  /** The QUANTILE leg of the persisted-sketch family — the read an
    * A9-style volatility dashboard actually serves ("p95 value per
    * event type over the last month") without re-reading fact history.
    * Per-day (day, key, qc, cnt) cents histograms land in the versioned
    * store (standing days committed once, the newest day a nightly
    * APPEND — the cost shape of a nightly job), and any span's
    * p50/p95/p99 is answered by re-aggregating stored bucket rows and
    * running the histogram-crossing selection ([[graft.operators
    * .Relational.quantileServe]]). Exact integer end to end, so the
    * oracle REPLAYS the answer bitwise from raw events (span-of-dailies
    * ≡ whole-span build) — a stronger contract than the ±ε envelope
    * `a18_approx_quantiles` can state for percentile_approx. */
  private val QhPs: Seq[(String, Long, Long)] =
    Seq(("p50_c", 50L, 100L), ("p95_c", 95L, 100L), ("p99_c", 99L, 100L))

  private def qhKeyedEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("ts"), col("event_type").as("key"), col("value"))

  private def qhStore(s: SparkSession, d: String): String =
    qhStoreCache.computeIfAbsent(d, _ => {
      import graft.sources.PartitionedStore
      val p = graft.Scratch.dir("graft_qh_store")
      val daily = Relational.quantileDailySketches(
          qhKeyedEvents(s, d), "ts", "key", "value")
        .localCheckpoint() // feeds both commits; released below
      try {
        val maxDay = daily.agg(max(col("day"))).collect()(0).getDate(0)
        val v1 = PartitionedStore.commitVersion(
          daily.filter(col("day") < lit(maxDay)), p)
        PartitionedStore.commitVersion(
          daily.filter(col("day") === lit(maxDay)), p,
          append = true, parent = Some(v1))
      } finally graft.operators.Checkpoints.release(daily)
      p
    })

  /** Day-SPAN percentiles from stored daily histograms: re-aggregate
    * the stored rows for every day before the newest, then the
    * crossing selection — fact history for those days is never re-read.
    * The span cutoff (max stored day) is one row of sketch metadata, a
    * planning boundary. */
  def sketchQuantileSpan(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    val stored = PartitionedStore.readVersion(s, qhStore(s, d))
    val maxDay = stored.agg(max(col("day"))).collect()(0).getDate(0)
    Relational.quantileServe(
        Relational.quantileSpan(stored.filter(col("day") < lit(maxDay))),
        QhPs)
      .orderBy(col("key"))
  }

  /** Whole-store serving (standing days + the appended night): the
    * nightly read after the delta lands — merged-daily ≡ whole-corpus
    * build, so the oracle states the corpus directly. */
  def sketchQuantileIncremental(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    Relational.quantileServe(
        Relational.quantileSpan(
          PartitionedStore.readVersion(s, qhStore(s, d))),
        QhPs)
      .orderBy(col("key"))
  }

  /** Equi-depth histogram STATISTICS from the stored sketch — what
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` persists for a
    * cost-based optimizer (Spark CBO's equi-height histograms,
    * selectivity estimation's workhorse): the ten decile boundaries of
    * the value distribution per key, each the exact crossing rank
    * ⌈n·k/10⌉ over the SAME stored daily bucket rows the quantile
    * reads serve from — statistics collection that never scans the
    * fact table (plan-pinned store-only inputFiles, like the drift
    * read). d10 is the exact maximum. One stored-rows scan, one
    * crossing window, ten selections in the same aggregate. */
  def statsEquidepth(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    Relational.quantileServe(
        Relational.quantileSpan(
          PartitionedStore.readVersion(s, qhStore(s, d))),
        (1 to 10).map(k => (f"d$k%02d_c", k.toLong, 10L)))
      .orderBy(col("key"))
  }
  val statsEquidepthSql: String = {
    val sel = (1 to 10).map(k =>
      f"  MIN(CASE WHEN cum * 10 >= n * $k THEN qc END) AS d$k%02d_c")
      .mkString(",\n")
    s"""WITH ev AS (
       |  SELECT event_type AS key, CAST(FLOOR(value * 1e2) AS BIGINT) AS qc
       |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
       |), h AS (SELECT key, qc, COUNT(*) AS cnt FROM ev GROUP BY key, qc
       |), c AS (
       |  SELECT key, qc,
       |    CAST(SUM(cnt) OVER (PARTITION BY key ORDER BY qc) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY key) AS BIGINT) AS n
       |  FROM h)
       |SELECT key, MAX(n) AS n,
       |$sel
       |FROM c GROUP BY key ORDER BY key""".stripMargin
  }

  // the Spark side raises in-plan on a negative value (the non-negative
  // bucket contract); the oracle must fail the SAME way, not silently
  // compute a negative bucket — error() mirrors the raise_error
  private def qhSqlBody(evFilter: String): String =
    s"""WITH ev0 AS (
       |  SELECT event_type AS key, CAST(FLOOR(value * 1e2) AS BIGINT) AS qc,
       |         CAST(ts AS DATE) AS day
       |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
       |), ev AS (
       |  SELECT key, CASE WHEN qc < 0
       |                   THEN CAST(error('quantile: negative value') AS BIGINT)
       |                   ELSE qc END AS qc, day
       |  FROM ev0
       |), mx AS (SELECT MAX(day) AS max_day FROM ev
       |), f AS (SELECT key, qc FROM ev, mx WHERE $evFilter
       |), h AS (SELECT key, qc, COUNT(*) AS cnt FROM f GROUP BY key, qc
       |), c AS (
       |  SELECT key, qc,
       |    CAST(SUM(cnt) OVER (PARTITION BY key ORDER BY qc) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY key) AS BIGINT) AS n
       |  FROM h)
       |SELECT key, MAX(n) AS n,
       |  MIN(CASE WHEN cum * 100 >= n * 50 THEN qc END) AS p50_c,
       |  MIN(CASE WHEN cum * 100 >= n * 95 THEN qc END) AS p95_c,
       |  MIN(CASE WHEN cum * 100 >= n * 99 THEN qc END) AS p99_c
       |FROM c GROUP BY key ORDER BY key""".stripMargin

  val sketchQuantileSpanSql: String = qhSqlBody("day < max_day")
  val sketchQuantileIncrementalSql: String = qhSqlBody("TRUE")

  /** Rolling trailing-7-day p50/p95 per event type, served ENTIRELY
    * from the stored daily histograms — the tail-latency dashboard's
    * sliding read ("p95 over the last week, every day"), the quantile
    * sibling of [[sketchKmvRolling]]: per (day, key) the window's
    * histogram is the integer SUM of its days' stored bucket rows
    * (exact — the same merge identity as the span reads), the crossing
    * selection runs over calendar × key × distinct-cents rows only,
    * and fact history is read ZERO times at serve (plan-pinned). The
    * oracle replays every window from raw events — span-of-dailies ≡
    * window build exactly, stated independently. */
  def sketchQuantileRolling(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    import org.apache.spark.sql.expressions.Window
    val stored = PartitionedStore.readVersion(s, qhStore(s, d))
    val spine = broadcast(stored.select(col("day").as("d")).distinct())
    // same equi-join restatement as sketchKmvRolling (r17): explode to
    // the ≤7 serveable spine days, equi-join — kills the
    // BroadcastNestedLoopJoin's rows×days predicate sweep
    val wnd = stored
      .withColumn("d", explode(expr("sequence(day, date_add(day, 6))")))
      .join(spine, "d")
      .groupBy(col("d"), col("key"), col("qc"))
      .agg(sum(col("cnt")).as("cnt"))
    val byQc = Window.partitionBy(col("d"), col("key")).orderBy(col("qc"))
    val whole = Window.partitionBy(col("d"), col("key"))
    wnd
      .withColumn("cum", sum(col("cnt")).over(byQc))
      .withColumn("n", sum(col("cnt")).over(whole))
      .groupBy(col("d").as("day"), col("key"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") * lit(100L) >= col("n") * lit(50L),
          col("qc"))).as("p50_c"),
        min(when(col("cum") * lit(100L) >= col("n") * lit(95L),
          col("qc"))).as("p95_c"))
      .orderBy(col("day"), col("key"))
  }

  val sketchQuantileRollingSql: String =
    s"""WITH ev0 AS (
       |  SELECT event_type AS key, CAST(FLOOR(value * 1e2) AS BIGINT) AS qc,
       |         CAST(ts AS DATE) AS day
       |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
       |), ev AS (
       |  SELECT key, CASE WHEN qc < 0
       |                   THEN CAST(error('quantile: negative value') AS BIGINT)
       |                   ELSE qc END AS qc, day
       |  FROM ev0
       |), days AS (SELECT DISTINCT day AS d FROM ev
       |), wnd AS (
       |  SELECT days.d, ev.key, ev.qc FROM days JOIN ev
       |  ON ev.day <= days.d AND ev.day >= days.d - 6
       |), h AS (SELECT d, key, qc, COUNT(*) AS cnt FROM wnd GROUP BY d, key, qc
       |), c AS (
       |  SELECT d, key, qc,
       |    CAST(SUM(cnt) OVER (PARTITION BY d, key ORDER BY qc) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY d, key) AS BIGINT) AS n
       |  FROM h)
       |SELECT d AS day, key, MAX(n) AS n,
       |  MIN(CASE WHEN cum * 100 >= n * 50 THEN qc END) AS p50_c,
       |  MIN(CASE WHEN cum * 100 >= n * 95 THEN qc END) AS p95_c
       |FROM c GROUP BY d, key ORDER BY day, key""".stripMargin

  /** Tail-latency DRIFT between two day spans, served ENTIRELY from the
    * stored daily histograms — the monitoring read the sketch store
    * exists for ("did p95 value shift this fortnight vs last?"): both
    * spans re-aggregate stored bucket rows (fact history read zero
    * times), each runs the same crossing selection, and the drift is a
    * pure integer subtraction — positive = the tail got heavier. The
    * span cutoff (min stored day + 15) is one row of sketch metadata, a
    * planning boundary; the oracle recomputes both spans from raw
    * events because span-of-dailies ≡ span build exactly. A key absent
    * from either span is dropped (inner join — drift needs both
    * sides). */
  def sketchQuantileDrift(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    val stored = PartitionedStore.readVersion(s, qhStore(s, d))
    val minDay = stored.agg(min(col("day"))).collect()(0).getDate(0)
    val cutoff = java.sql.Date.valueOf(minDay.toLocalDate.plusDays(15))
    def leg(f: Column, n: String, p: String) =
      Relational.quantileServe(
          Relational.quantileSpan(stored.filter(f)),
          Seq((p, 95L, 100L)))
        .select(col("key"), col("n").as(n), col(p))
    leg(col("day") < lit(cutoff), "n_a", "p95_a")
      .join(leg(col("day") >= lit(cutoff), "n_b", "p95_b"), "key")
      .withColumn("dp95", col("p95_b") - col("p95_a"))
      .orderBy(col("key"))
  }
  val sketchQuantileDriftSql: String =
    s"""WITH ev AS (
       |  SELECT event_type AS key, CAST(FLOOR(value * 1e2) AS BIGINT) AS qc,
       |         CAST(ts AS DATE) AS day
       |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
       |), mn AS (SELECT MIN(day) + INTERVAL 15 DAY AS cutoff FROM ev
       |), ha AS (
       |  SELECT key, qc, COUNT(*) AS cnt FROM ev, mn
       |  WHERE day < cutoff GROUP BY key, qc
       |), hb AS (
       |  SELECT key, qc, COUNT(*) AS cnt FROM ev, mn
       |  WHERE day >= cutoff GROUP BY key, qc
       |), ca AS (
       |  SELECT key, qc,
       |    CAST(SUM(cnt) OVER (PARTITION BY key ORDER BY qc) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY key) AS BIGINT) AS n
       |  FROM ha
       |), cb AS (
       |  SELECT key, qc,
       |    CAST(SUM(cnt) OVER (PARTITION BY key ORDER BY qc) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY key) AS BIGINT) AS n
       |  FROM hb
       |), sa AS (
       |  SELECT key, MAX(n) AS n_a,
       |    MIN(CASE WHEN cum * 100 >= n * 95 THEN qc END) AS p95_a
       |  FROM ca GROUP BY key
       |), sb AS (
       |  SELECT key, MAX(n) AS n_b,
       |    MIN(CASE WHEN cum * 100 >= n * 95 THEN qc END) AS p95_b
       |  FROM cb GROUP BY key)
       |SELECT sa.key AS key, sa.n_a, sa.p95_a, sb.n_b, sb.p95_b,
       |  sb.p95_b - sa.p95_a AS dp95
       |FROM sa JOIN sb ON sa.key = sb.key ORDER BY key""".stripMargin

  // ---- domain×domain n-gram overlap matrix ---------------------------------
  private val OverlapN = 3

  def overlapNgramMatrix(s: SparkSession, d: String): DataFrame =
    TextAnalysis.ngramOverlapMatrix(Tables.documents(s, d), "source", "text",
        OverlapN)
      .orderBy(col("src_a"), col("src_b"))
  val overlapNgramMatrixSql: String = {
    val P = graft.operators.Dedup.HashMod
    s"""WITH toks AS (
       |  SELECT source, list_transform(string_split(trim(text), ' '),
       |    s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P)) AS th
       |  FROM documents
       |), sh0 AS (
       |  SELECT source, CASE WHEN len(th) >= $OverlapN THEN list_distinct(
       |    list_transform(range(0, len(th)-$OverlapN+1),
       |      i -> list_reduce(th[i+1:i+$OverlapN], (a,b) -> (a*131 + b) % $P)))
       |    ELSE [] END AS sh FROM toks
       |), sh AS (
       |  SELECT DISTINCT source AS g, unnest(sh) AS h FROM sh0
       |), cnt AS (
       |  SELECT g, COUNT(*) AS n_grams FROM sh GROUP BY g
       |), pair AS (
       |  SELECT a.g AS src_a, b.g AS src_b, COUNT(*) AS n_shared
       |  FROM sh a JOIN sh b USING (h) WHERE a.g < b.g GROUP BY 1, 2
       |)
       |SELECT c1.g AS src_a, c2.g AS src_b,
       |  c1.n_grams AS n_grams_a, c2.n_grams AS n_grams_b,
       |  COALESCE(p.n_shared, 0) AS n_shared,
       |  CAST(COALESCE(p.n_shared, 0) AS DOUBLE) /
       |    CAST(c1.n_grams + c2.n_grams - COALESCE(p.n_shared, 0) AS DOUBLE) AS jaccard
       |FROM cnt c1 JOIN cnt c2 ON c1.g < c2.g
       |LEFT JOIN pair p ON p.src_a = c1.g AND p.src_b = c2.g
       |ORDER BY src_a, src_b""".stripMargin
  }

  // ---- PII detection + redaction -------------------------------------------
  /** The synthetic corpus carries no PII, so docs with doc_id ≡ 0 (mod 3)
    * are deterministically augmented with an email, an IPv4, and a phone
    * number derived from doc_id (both engines build the identical string);
    * the scrub must count and mask exactly those, and leave the other
    * docs byte-identical. */
  def textPiiScrub(s: SparkSession, d: String): DataFrame = {
    val aug = when(col("doc_id") % 3 === 0,
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example ip 10."),
        pmod(col("doc_id"), lit(256)), lit(".0."), pmod(col("doc_id") * 7, lit(256)),
        lit(" tel +1-555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .otherwise(col("text"))
    TextAnalysis.piiScrub(
        Tables.documents(s, d).withColumn("text", aug), "doc_id", "text")
      .orderBy(col("doc_id"))
  }
  private val Seq(emailPat, ipPat, phonePat) = TextAnalysis.PiiPatterns.map(_._2)
  val textPiiScrubSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN
       |    text || ' contact user' || doc_id || '@mail.example ip 10.' ||
       |    (doc_id % 256) || '.0.' || ((doc_id * 7) % 256) ||
       |    ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |  ELSE text END AS text FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$emailPat')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$ipPat')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(text, '$phonePat')) AS BIGINT) AS n_phone,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$emailPat', '<EMAIL>', 'g'), '$ipPat', '<IP>', 'g'),
       |    '$phonePat', '<PHONE>', 'g') AS redacted
       |FROM aug ORDER BY doc_id""".stripMargin

  // ---- α=0.5 temperature domain mixing -------------------------------------
  def mixTemperature(s: SparkSession, d: String): DataFrame =
    Mix.temperatureSample(Tables.documents(s, d), "doc_id", "source", "text", 0.3)
      .orderBy(col("source"))
  val mixTemperatureSql: String =
    s"""WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
       |w AS (SELECT source, n_s,
       |        CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1e6) AS BIGINT) AS w_q FROM c),
       |t AS (SELECT CAST(SUM(w_q) AS BIGINT) AS total_q,
       |             CAST(SUM(n_s) AS BIGINT) AS n_total FROM w),
       |r AS (SELECT source, n_s,
       |        CAST(floor(least(1.0,
       |          CAST(CAST(floor(CAST(n_total AS DOUBLE) * 0.3) AS BIGINT) AS DOUBLE)
       |            * (CAST(w_q AS DOUBLE) / CAST(total_q AS DOUBLE))
       |            / CAST(n_s AS DOUBLE)) * ${Dedup.HashMod}) AS BIGINT) AS thr
       |      FROM w CROSS JOIN t),
       |h AS (SELECT source,
       |        (list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |          (acc, x) -> (acc*31 + x) % ${Dedup.HashMod})
       |         * ${Mix.ScrambleM} % ${Dedup.HashMod}) * ${Mix.ScrambleM} % ${Dedup.HashMod} AS h
       |      FROM documents)
       |SELECT r.source, r.n_s AS n_in,
       |       CAST(SUM(CASE WHEN h.h < r.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(SUM(CASE WHEN h.h < r.thr THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(r.n_s AS DOUBLE) AS keep_frac
       |FROM h JOIN r USING (source)
       |GROUP BY r.source, r.n_s ORDER BY r.source""".stripMargin

  // ---- tokenize to ids (corpus vocab + hash-bucket OOV) --------------------
  private val VocabV = 30
  private val OovB = 10

  def tokenizeIds(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.tokenizeIds(docs, "doc_id", "text",
        TextAnalysis.vocabTable(docs, "text", VocabV), VocabV, OovB)
      .orderBy(col("doc_id"))
  }
  val tokenizeIdsSql: String =
    s"""WITH cnt AS (
       |  SELECT t, COUNT(*) AS cnt
       |  FROM (SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents) x GROUP BY t
       |), voc AS (
       |  SELECT t AS token, CAST(row_number() OVER (ORDER BY cnt DESC, t) - 1 AS BIGINT) AS id
       |  FROM cnt QUALIFY id < $VocabV
       |), tokx AS (
       |  SELECT doc_id, tk, unnest(range(0, len(tk))) AS k
       |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents) y
       |), tok AS (
       |  SELECT doc_id, CAST(k AS INTEGER) AS pos, tk[CAST(k AS INTEGER)+1] AS t FROM tokx
       |), joined AS (
       |  SELECT tok.doc_id, tok.pos,
       |    COALESCE(v.id, $VocabV + (list_reduce(list_transform(string_split(tok.t, ''),
       |      c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % ${Dedup.HashMod}) % $OovB)) AS tokid,
       |    v.id IS NULL AS oov
       |  FROM tok LEFT JOIN voc v ON tok.t = v.token
       |)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  string_agg(CAST(tokid AS VARCHAR), ',' ORDER BY pos) AS ids_csv
       |FROM joined GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Tokenizer-health read per domain: what fraction of each source's
    * token stream falls OUTSIDE the trained top-v vocabulary — the
    * OOV-rate dashboard that tells you a domain's text is drifting away
    * from the tokenizer (rising oov_ppm on one source = retrain or
    * re-mix signal). Same bounded top-v vocab selection as
    * `tokenize_ids` (no window over the full token table; the v-row
    * vocab BROADCASTS into the token join), one exploded scan, pure
    * integer ppm. Output: (source, n_tokens, n_oov, oov_ppm). */
  def vocabOovByDomain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val vocab = TextAnalysis.vocabTable(docs, "text", VocabV)
      .select(col("token"))
    val tok = docs.select(col("source"),
      explode(split(trim(col("text")), " ")).as("t"))
    tok.join(broadcast(vocab), tok("t") === vocab("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("token").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
      .orderBy(col("source"))
  }
  val vocabOovByDomainSql: String =
    s"""WITH cnt AS (
       |  SELECT t, COUNT(*) AS cnt
       |  FROM (SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents) x GROUP BY t
       |), voc AS (
       |  SELECT t AS token, CAST(row_number() OVER (ORDER BY cnt DESC, t) - 1 AS BIGINT) AS id
       |  FROM cnt QUALIFY id < $VocabV
       |), tok AS (
       |  SELECT source, unnest(string_split(trim(text), ' ')) AS t FROM documents
       |), j AS (
       |  SELECT source, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM tok LEFT JOIN voc v ON tok.t = v.token)
       |SELECT source, COUNT(*) AS n_tokens,
       |  CAST(SUM(oov) AS BIGINT) AS n_oov,
       |  CAST(SUM(oov) * 1000000 AS BIGINT) // COUNT(*) AS oov_ppm
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ---- commonness score: integer-only perplexity proxy ---------------------
  /** Per-doc mean corpus document-frequency of its distinct tokens — the
    * perplexity-style "how surprising is this doc" scorer WITHOUT
    * logarithms (ln is not bitwise-identical across libm implementations,
    * so an LM-style −Σlog p score cannot hash-match a second engine;
    * integer df sums can). Low mean_token_df = rare vocabulary. Shape:
    * explode distinct tokens, one groupBy for dfs, hash join back on the
    * token, one groupBy per doc — all map-side combinable. */
  def textCommonness(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d).select(col("doc_id"),
      explode(array_distinct(split(trim(col("text")), " "))).as("t"))
    val dfreq = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
    tok.join(dfreq, "t")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("df")).as("sum_df"))
      .withColumn("mean_token_df",
        col("sum_df").cast("double") / col("n_distinct").cast("double"))
      .orderBy(col("doc_id"))
  }
  val textCommonnessSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS t FROM documents
      |), dfreq AS (
      |  SELECT t, COUNT(*) AS df FROM tok GROUP BY t
      |)
      |SELECT doc_id, COUNT(*) AS n_distinct, CAST(SUM(df) AS BIGINT) AS sum_df,
      |  CAST(SUM(df) AS DOUBLE) / COUNT(*) AS mean_token_df
      |FROM tok JOIN dfreq USING (t) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- annealed mixture schedule -------------------------------------------
  def mixSchedule(s: SparkSession, d: String): DataFrame =
    Mix.annealSchedule(Tables.documents(s, d), "source", 0.3)
      .orderBy(col("epoch"), col("source"))
  val mixScheduleSql: String =
    """WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
      |t AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_total FROM c),
      |e AS (SELECT c.source, c.n_s, t.n_total, CAST(k AS INTEGER) AS epoch
      |      FROM c CROSS JOIN t CROSS JOIN (SELECT unnest(range(0, 3)) AS k) ep),
      |w AS (SELECT epoch, source, n_s, n_total,
      |  CAST(CASE epoch
      |    WHEN 0 THEN floor(sqrt(CAST(n_s AS DOUBLE)) * 1e6)
      |    WHEN 1 THEN floor(sqrt(CAST(n_s AS DOUBLE) * sqrt(CAST(n_s AS DOUBLE))) * 1e6)
      |    ELSE floor(CAST(n_s AS DOUBLE) * 1e6) END AS BIGINT) AS w_q
      |  FROM e)
      |SELECT epoch, source, n_s, w_q,
      |  CAST(w_q AS DOUBLE) / CAST(SUM(w_q) OVER (PARTITION BY epoch) AS DOUBLE) AS frac,
      |  CAST(floor((CAST(w_q AS DOUBLE) / CAST(SUM(w_q) OVER (PARTITION BY epoch) AS DOUBLE))
      |    * CAST(floor(CAST(n_total AS DOUBLE) * 0.3) AS DOUBLE)) AS BIGINT) AS expected_docs
      |FROM w ORDER BY epoch, source""".stripMargin

  // ---- quality-curriculum banding + epoch schedule -------------------------
  /** Easy-first curriculum: 3 difficulty bands by score-value cutoffs at
    * the integer ranks ⌈n·b/3⌉ of the descending score order (cutoffs
    * from a prefix-sum window over the DISTINCT-SCORE histogram, never a
    * per-row rank — ties are closed under banding), then epoch e admits
    * bands 1..e. The corpus is scanned once; the admission matrix is a
    * cross of two broadcast-tiny frames. Oracle states the same
    * cumulative-histogram cutoffs naively. */
  def mixCurriculum(s: SparkSession, d: String): DataFrame =
    Mix.curriculumSchedule(
        Mix.curriculumBands(Tables.documents(s, d), "doc_id", "n_chars", 3), 3)
      .orderBy(col("epoch"), col("band"))
  val mixCurriculumSql: String =
    """WITH r AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS score FROM documents),
      |hist AS (SELECT score, COUNT(*) AS cnt FROM r GROUP BY score),
      |cum AS (SELECT score, SUM(cnt) OVER (ORDER BY score DESC) AS cum,
      |               SUM(cnt) OVER () AS n FROM hist),
      |cuts AS (SELECT b.b AS b, max(score) AS cut
      |         FROM cum CROSS JOIN range(1, 3) AS b(b)
      |         WHERE cum >= (n * b.b + 2) // 3
      |         GROUP BY b.b),
      |banded AS (SELECT doc_id, score,
      |             CAST(COALESCE((SELECT min(b) FROM cuts WHERE score >= cut), 3)
      |               AS BIGINT) AS band
      |           FROM r),
      |per AS (SELECT band, COUNT(*) AS n_docs,
      |               CAST(SUM(score) AS BIGINT) AS sum_score
      |        FROM banded GROUP BY band)
      |SELECT e.e AS epoch, band, n_docs, sum_score
      |FROM per CROSS JOIN range(1, 4) AS e(e)
      |WHERE band <= e.e
      |ORDER BY epoch, band""".stripMargin

  // ---- BPE vocab induction: adjacent-pair counting kernel ------------------
  def vocabBpePairs(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpePairCounts(Tables.documents(s, d), "text", 50)
      .orderBy(col("cnt").desc, col("pair").asc)
  val vocabBpePairsSql: String =
    """WITH w AS (
      |  SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents
      |), pairs AS (
      |  SELECT substr(w, CAST(unnest(range(1, length(w))) AS INTEGER), 2) AS pair
      |  FROM w WHERE length(w) >= 2
      |)
      |SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair
      |ORDER BY cnt DESC, pair ASC LIMIT 50""".stripMargin

  // ---- composite curation pipeline: dedup + quality + langid → verdict -----
  /** The realistic end-to-end curation job: per document, combine
    * exact-dup status, quality stats, and predicted language into a
    * keep/drop decision with a reason. One pass over documents plus the
    * small profile/dup-rep aggregates — at 100 TB the joins are on doc_id
    * (co-partitioned) and the profile table broadcasts. */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dup = Dedup.exactDedup(docs, "doc_id", "text")
      .select(col("doc_id"), col("is_dup"))
    val stats = TextAnalysis.textStats(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("is_quality"))
    val lang = TextAnalysis.langId(docs, "doc_id", "text",
        TextAnalysis.langProfiles(docs, "lang", "text", 20))
      .select(col("doc_id"), col("pred_lang"))
    docs.select(col("doc_id"), col("lang"))
      .join(dup, "doc_id").join(stats, "doc_id").join(lang, "doc_id")
      .withColumn("keep", !col("is_dup") && col("is_quality"))
      .withColumn("reason",
        when(col("is_dup"), lit("duplicate"))
          .when(!col("is_quality"), lit("low_quality"))
          .otherwise(lit("kept")))
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        col("n_tokens"), col("keep"), col("reason"))
      .orderBy(col("doc_id"))
  }
  val curationPipelineSql: String =
    s"""WITH dup AS (
       |  SELECT doc_id, doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
       |  FROM documents
       |), toks2 AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
       |stats AS (
       |  SELECT doc_id, len(tk) AS n_tokens,
       |    len(tk) >= 10 AND CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) >= 0.3 AS is_quality
       |  FROM toks2
       |), tok AS (
       |  SELECT lang, unnest(string_split(trim(text), ' ')) AS token FROM documents
       |), counts AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY lang, token),
       |profiles AS (
       |  SELECT lang, token FROM (
       |    SELECT lang, token, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rn
       |    FROM counts) t WHERE rn <= 20
       |), doctok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS token FROM documents
       |), ovl AS (
       |  SELECT d.doc_id, p.lang, count(*) AS overlap
       |  FROM doctok d JOIN profiles p ON d.token = p.token GROUP BY d.doc_id, p.lang
       |), best AS (
       |  SELECT doc_id, lang AS pred_lang FROM (
       |    SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, lang ASC) AS rn
       |    FROM ovl) t WHERE rn = 1
       |)
       |SELECT doc.doc_id, doc.lang, best.pred_lang,
       |  CAST(stats.n_tokens AS BIGINT) AS n_tokens,
       |  NOT dup.is_dup AND stats.is_quality AS keep,
       |  CASE WHEN dup.is_dup THEN 'duplicate'
       |       WHEN NOT stats.is_quality THEN 'low_quality'
       |       ELSE 'kept' END AS reason
       |FROM documents doc
       |JOIN dup ON dup.doc_id = doc.doc_id
       |JOIN stats ON stats.doc_id = doc.doc_id
       |JOIN best ON best.doc_id = doc.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  // -------------------------------------------------------------------------

  // ---- tf-idf keyword extraction (log-free, top-k per doc) -----------------
  private val TfidfK = 5

  def textTfidfTopk(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidfTopK(Tables.documents(s, d), "doc_id", "text", TfidfK)
      .orderBy(col("doc_id"), col("rank"))
  val textTfidfTopkSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
       |), dfreq AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |), n AS (
       |  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
       |), scored AS (
       |  SELECT doc_id, term, tf, df,
       |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
       |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
       |)
       |SELECT doc_id, term, tf, df, score, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT doc_id, term, tf, df, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
       |  FROM scored) t
       |WHERE rank <= $TfidfK ORDER BY doc_id, rank""".stripMargin

  // ---- novelty / memorization-exposure score -------------------------------
  private val NoveltyN = 5

  def textNovelty(s: SparkSession, d: String): DataFrame =
    TextAnalysis.noveltyScore(Tables.documents(s, d), "doc_id", "text", NoveltyN)
      .orderBy(col("doc_id"))
  val textNoveltySql: String = {
    val P = graft.operators.Dedup.HashMod
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '),
       |    s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % $P)) AS th
       |  FROM documents
       |), seq AS (
       |  SELECT doc_id, list_reduce(th[i+1:i+$NoveltyN], (a,b) -> (a*131 + b) % $P) AS h
       |  FROM (SELECT doc_id, th, unnest(range(0, greatest(len(th)-$NoveltyN+1, 0))) AS i FROM toks)
       |), dup AS (
       |  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM seq GROUP BY h
       |), per AS (
       |  SELECT doc_id, COUNT(*) AS n_shingles,
       |    CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |  FROM seq JOIN dup USING (h) GROUP BY doc_id
       |)
       |SELECT d.doc_id, COALESCE(p.n_shingles, 0) AS n_shingles,
       |  COALESCE(p.n_shared, 0) AS n_shared,
       |  CASE WHEN COALESCE(p.n_shingles, 0) = 0 THEN NULL
       |       ELSE CAST(1 AS DOUBLE) - CAST(p.n_shared AS DOUBLE) / CAST(p.n_shingles AS DOUBLE)
       |  END AS novelty
       |FROM documents d LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  // ---- corpus data card: per-source report ----------------------------------
  /** The datasheet row per source a corpus release ships with: volume,
    * token mass, language share, exact-dup exposure — one pass over the
    * corpus plus one narrow fingerprint groupBy, all ratios single
    * divisions of exact counts. */
  def corpusReport(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("lang"), col("n_chars"), col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tokens"),
        Dedup.polyHash(col("text")).as("h"))
    val dupHashes = docs.groupBy(col("h"))
      .agg(count(lit(1)).as("nh")).filter(col("nh") >= 2)
    docs.join(dupHashes, Seq("h"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        sum(col("n_tokens")).as("n_tokens_total"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("nh").isNotNull, 1L).otherwise(0L)).as("n_dup_involved"))
      .select(col("source"), col("n_docs"), col("n_chars_total"),
        col("n_tokens_total"),
        (col("n_en").cast("double") / col("n_docs").cast("double")).as("en_share"),
        (col("n_dup_involved").cast("double") / col("n_docs").cast("double")).as("dup_rate"),
        (col("n_tokens_total").cast("double") / col("n_docs").cast("double")).as("avg_tokens"))
      .orderBy(col("source"))
  }
  val corpusReportSql: String = {
    val P = graft.operators.Dedup.HashMod
    s"""WITH d AS (
       |  SELECT source, lang, n_chars, doc_id,
       |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
       |    list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P) AS h
       |  FROM documents
       |), duph AS (SELECT h FROM d GROUP BY h HAVING COUNT(*) >= 2),
       |agg AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
       |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |    CAST(SUM(CASE WHEN duph.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM d LEFT JOIN duph ON d.h = duph.h
       |  GROUP BY source)
       |SELECT source, n_docs, n_chars_total, n_tokens_total,
       |  CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE) AS en_share,
       |  CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
       |  CAST(n_tokens_total AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_tokens
       |FROM agg ORDER BY source""".stripMargin
  }

  // ---- smoothed bigram-LM fluency score (perplexity-filter shape) ----------
  def textBigramLm(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramLmScore(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Top-20 collocations by exact integer lift
    * ([[TextAnalysis.collocations]]) — which adjacent token pairs
    * co-occur far beyond independence, the read that nominates
    * multi-word tokens before vocab/BPE training. minCount = 5 gates
    * the hapax-pair pathology; ranking is ONE integer DIV in ppm (no
    * doubles, no libm), so the oracle replays it bit for bit; ties
    * break on (prev, cur). The result frame is vocab²-bounded and the
    * top-k is a TakeOrdered over it, never a data-row sort. */
  def textCollocations(s: SparkSession, d: String): DataFrame =
    TextAnalysis.collocations(Tables.documents(s, d), "text",
      minCount = 5L, topK = 20)

  val textCollocationsSql: String =
    """WITH toks AS (SELECT string_split(trim(text), ' ') AS t FROM documents),
      |tok AS (SELECT unnest(t) AS w FROM toks),
      |big AS (
      |  SELECT t[i-1] AS prev, t[i] AS cur
      |  FROM (SELECT t, unnest(range(2, len(t)+1)) AS i FROM toks WHERE len(t) >= 2)
      |), c2 AS (
      |  SELECT prev, cur, COUNT(*) AS pair_n FROM big GROUP BY prev, cur
      |  HAVING COUNT(*) >= 5
      |), unig AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY w),
      |n AS (SELECT COUNT(*) AS n_pairs FROM big)
      |SELECT c.prev, c.cur, c.pair_n,
      |  (c.pair_n * n.n_pairs * 1000000) // (up.c1 * uc.c1) AS lift_ppm
      |FROM c2 c JOIN unig up ON up.w = c.prev JOIN unig uc ON uc.w = c.cur
      |CROSS JOIN n
      |ORDER BY lift_ppm DESC, prev, cur LIMIT 20""".stripMargin
  val textBigramLmSql: String =
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
      |big AS (
      |  SELECT doc_id, t[i-1] AS prev, t[i] AS cur
      |  FROM (SELECT doc_id, t, unnest(range(2, len(t)+1)) AS i FROM toks WHERE len(t) >= 2)
      |), c2 AS (SELECT prev, cur, COUNT(*) AS c2 FROM big GROUP BY prev, cur),
      |unig AS (SELECT w AS prev, COUNT(*) AS c1 FROM tok GROUP BY w),
      |v AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
      |scored AS (
      |  SELECT b.doc_id,
      |    CAST(floor((CAST(c.c2 + 1 AS DOUBLE) / CAST(u.c1 + v.v AS DOUBLE)) * 1.0e9) AS BIGINT) AS qp
      |  FROM big b JOIN c2 c USING (prev, cur) JOIN unig u USING (prev) CROSS JOIN v
      |), per AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(qp) AS BIGINT) AS qsum
      |  FROM scored GROUP BY doc_id
      |)
      |SELECT d.doc_id, COALESCE(p.n_bigrams, 0) AS n_bigrams,
      |  CASE WHEN p.n_bigrams IS NULL THEN NULL
      |       ELSE CAST(p.qsum AS DOUBLE) / CAST(p.n_bigrams * 1000000000 AS DOUBLE) END AS lm_score
      |FROM documents d LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ---- cross-corpus fluency vs a STORED reference LM -----------------------
  /** The CCNet deployment shape: the fluency model trains ONCE on the
    * reference half (even doc_ids — standing in for their Wikipedia),
    * is stored as count tables, and the candidate half (odd doc_ids)
    * scores against the artifact — model-unseen bigrams priced by the
    * add-one smoothing through LEFT joins, never dropped. Model build
    * memoized per corpus like the other index queries: steady runs
    * measure scoring against the stored model, the production cost. */
  private val lmModelCache =
    new graft.operators.BoundedMemo[String, String]("text.lmModelCache")

  def textLmCross(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val path = lmModelCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_lm")
      TextAnalysis.writeBigramLm(docs.filter(col("doc_id") % 2 === 0), "text", p)
      p
    })
    TextAnalysis.bigramLmScoreIndexed(s,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", path)
      .orderBy(col("doc_id"))
  }
  val textLmCrossSql: String =
    """WITH rtoks AS (
      |  SELECT string_split(trim(text), ' ') AS t FROM documents WHERE doc_id % 2 = 0
      |), rtok AS (SELECT unnest(t) AS w FROM rtoks),
      |rc2 AS (
      |  SELECT t[i-1] AS prev, t[i] AS cur, COUNT(*) AS c2
      |  FROM (SELECT t, unnest(range(2, len(t)+1)) AS i FROM rtoks WHERE len(t) >= 2)
      |  GROUP BY prev, cur
      |), rc1 AS (SELECT w AS prev, COUNT(*) AS c1 FROM rtok GROUP BY w),
      |rv AS (SELECT COUNT(DISTINCT w) AS v FROM rtok),
      |ctoks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents WHERE doc_id % 2 = 1
      |), big AS (
      |  SELECT doc_id, t[i-1] AS prev, t[i] AS cur
      |  FROM (SELECT doc_id, t, unnest(range(2, len(t)+1)) AS i FROM ctoks WHERE len(t) >= 2)
      |), scored AS (
      |  SELECT b.doc_id,
      |    CAST(floor((CAST(COALESCE(c.c2, 0) + 1 AS DOUBLE) /
      |                CAST(COALESCE(u.c1, 0) + v.v AS DOUBLE)) * 1.0e9) AS BIGINT) AS qp
      |  FROM big b LEFT JOIN rc2 c USING (prev, cur)
      |       LEFT JOIN rc1 u USING (prev) CROSS JOIN rv v
      |), per AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(qp) AS BIGINT) AS qsum
      |  FROM scored GROUP BY doc_id
      |)
      |SELECT d.doc_id, COALESCE(p.n_bigrams, 0) AS n_bigrams,
      |  CASE WHEN p.n_bigrams IS NULL THEN NULL
      |       ELSE CAST(p.qsum AS DOUBLE) / CAST(p.n_bigrams * 1000000000 AS DOUBLE) END AS lm_score
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
      |LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ---- feature-hashed text embedding (the hashing trick) -------------------
  private val EmbedD = 16

  def textHashEmbed(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.hashEmbed(col("text"), EmbedD).as("embedding"))
      // the driver's comparator sorts scalar columns; explode the vector to
      // (doc_id, dim, value) rows so the oracle can hash-compare it
      .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "value")))
      .orderBy(col("doc_id"), col("dim"))
  val textHashEmbedSql: String = {
    val P = graft.operators.Dedup.HashMod
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '),
       |    s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % $P)) AS th
       |  FROM documents
       |)
       |SELECT doc_id, CAST(i AS INTEGER) AS dim,
       |  CAST(COALESCE(list_sum(list_transform(th, h ->
       |    CASE WHEN h % $EmbedD = i
       |         THEN (CASE WHEN (h // $EmbedD) % 2 = 0 THEN 1 ELSE -1 END)
       |         ELSE 0 END)), 0) AS REAL) AS value
       |FROM toks CROSS JOIN (SELECT unnest(range(0, $EmbedD)) AS i) dims
       |ORDER BY doc_id, dim""".stripMargin
  }

  // ---- text similarity search over hash embeddings -------------------------
  /** The text→vector bridge as one query: documents hash-embed in-plan
    * (fused kernel, no model) and the standard ANN machinery runs on the
    * result — query docs (doc_id < 5) find their nearest corpus docs by
    * embedding cosine. Same bounded partial top-k final ranking as every
    * sim_* query. */
  private val TextTopK = 3
  private val TextNQ = 5

  def simTextTopk(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.hashEmbed(col("text"), EmbedD).as("embedding"))
    graft.operators.Similarity.bruteForceTopK(
        emb, emb.filter(col("doc_id") < TextNQ), "doc_id", "embedding", TextTopK)
      .orderBy(col("query_id"), col("rank"))
  }
  val simTextTopkSql: String = {
    val P = graft.operators.Dedup.HashMod
    def dot(a: String, b: String) =
      s"list_reduce(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x + y)"
    def cos(a: String, b: String) =
      s"${dot(a, b)} / NULLIF(sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}), 0)"
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '),
       |    s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % $P)) AS th
       |  FROM documents
       |), emb AS (
       |  SELECT doc_id, list_transform(range(0, $EmbedD), i ->
       |    CAST(COALESCE(list_sum(list_transform(th, h ->
       |      CASE WHEN h % $EmbedD = i
       |           THEN (CASE WHEN (h // $EmbedD) % 2 = 0 THEN 1 ELSE -1 END)
       |           ELSE 0 END)), 0) AS REAL)) AS e
       |  FROM toks
       |), q AS (SELECT doc_id AS query_id, e AS qe FROM emb WHERE doc_id < $TextNQ),
       |pairs AS (
       |  SELECT q.query_id, c.doc_id, ${cos("qe", "c.e")} AS cos
       |  FROM emb c, q WHERE c.doc_id <> q.query_id
       |)
       |SELECT query_id, doc_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, doc_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
       |  FROM pairs) t
       |WHERE rank <= $TextTopK ORDER BY query_id, rank""".stripMargin
  }

  // ---- hashed-feature linear quality classifier ----------------------------
  /** Even doc_ids train (label: lang = 'en'), every doc is scored — the
    * in-corpus replay of a fastText-style quality filter. All integer
    * math; the oracle re-derives weights and margins exactly. (The
    * synthetic corpus draws every lang's text from the same 31-token
    * vocabulary — text ⊥ lang — so accuracy here sits at the ~50% ceiling
    * by construction; TrainingOpsSpec proves separation on a corpus where
    * the classes actually differ.) */
  private val ClsBuckets = 4096

  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.hashedLinearClassifier(
        docs.filter(col("doc_id") % 2 === 0).withColumn("is_en", col("lang") === "en"),
        docs, "doc_id", "text", "is_en", ClsBuckets)
      .orderBy(col("doc_id"))
  }
  val qualityClassifierSql: String = {
    val P = graft.operators.Dedup.HashMod
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS t FROM documents
       |), hashed AS (
       |  SELECT doc_id, lang,
       |    list_reduce(list_transform(string_split(t,''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P) % $ClsBuckets AS b
       |  FROM tok
       |), cnt AS (
       |  SELECT b, CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
       |         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cn
       |  FROM hashed WHERE doc_id % 2 = 0 GROUP BY b
       |), tot AS (
       |  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM hashed WHERE doc_id % 2 = 0
       |), w AS (
       |  SELECT b, cp * nn - cn * np AS w FROM cnt CROSS JOIN tot
       |), inf AS (
       |  SELECT h.doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(COALESCE(w.w, 0)) AS BIGINT) AS margin
       |  FROM hashed h LEFT JOIN w USING (b) GROUP BY h.doc_id
       |)
       |SELECT doc_id, n_tokens, margin, margin > 0 AS pred
       |FROM inf ORDER BY doc_id""".stripMargin
  }

  // ---- Pareto-frontier document selection ----------------------------------
  /** Skyline selection for curation: the documents no other document
    * weakly dominates in (length, lexical richness) with one strict
    * improvement — the non-redundant "keep set" when both axes matter
    * and no scalarization is agreed. Spark side is the histogram-window
    * form ([[graft.operators.Relational.paretoFrontier2D]]): per-length
    * ymax aggregate + a running max over the distinct-length table +
    * one broadcast probe — no pairwise comparison anywhere. The oracle
    * states the textbook NOT EXISTS dominance predicate — a genuinely
    * independent O(n²) restatement. */
  def selectPareto(s: SparkSession, d: String): DataFrame = {
    val m = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
      size(array_distinct(split(trim(col("text")), " "))).cast("long")
        .as("n_distinct_tokens"))
    graft.operators.Relational.paretoFrontier2D(m, "n_chars",
        "n_distinct_tokens")
      .orderBy(col("doc_id"))
  }

  val selectParetoSql: String =
    """WITH m AS (
      |  SELECT doc_id, n_chars,
      |         CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT)
      |           AS n_distinct_tokens
      |  FROM documents)
      |SELECT a.doc_id, a.n_chars, a.n_distinct_tokens
      |FROM m a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM m b
      |  WHERE b.n_chars >= a.n_chars
      |    AND b.n_distinct_tokens >= a.n_distinct_tokens
      |    AND (b.n_chars > a.n_chars
      |         OR b.n_distinct_tokens > a.n_distinct_tokens))
      |ORDER BY doc_id""".stripMargin

  // ---- classifier calibration (margin deciles vs held-out labels) ----------
  /** "Can the quality filter's score be trusted as a probability?" —
    * the train-side answer: margin deciles over the HELD-OUT half (odd
    * doc_ids; the classifier trains on even), each with its observed
    * positive rate as an exact integer permille. A well-calibrated
    * score shows pos_permille rising with the decile; this corpus's
    * text ⊥ lang construction keeps it flat — which is itself the
    * honest reading. Decile cutoffs come from the distinct-margin
    * histogram ([[graft.operators.Mix.curriculumBands]] — the windows
    * run over the histogram, never data rows); band 1 = highest
    * margins. */
  def qualityCalibration(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scored = TextAnalysis.hashedLinearClassifier(
      docs.filter(col("doc_id") % 2 === 0)
        .withColumn("is_en", col("lang") === "en"),
      docs, "doc_id", "text", "is_en", ClsBuckets)
    val holdout = scored.filter(col("doc_id") % 2 === 1)
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("is_en")),
        "doc_id")
    val bands = Mix.curriculumBands(holdout, "doc_id", "margin", 10)
    bands.join(holdout.select(col("doc_id"), col("is_en")), "doc_id")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("n_pos"),
        min(col("score")).as("min_margin"),
        max(col("score")).as("max_margin"))
      .withColumn("pos_permille", expr("n_pos * 1000 DIV n"))
      .orderBy(col("band"))
  }

  val qualityCalibrationSql: String = {
    val P = graft.operators.Dedup.HashMod
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS t FROM documents
       |), hashed AS (
       |  SELECT doc_id, lang,
       |    list_reduce(list_transform(string_split(t,''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P) % $ClsBuckets AS b
       |  FROM tok
       |), cnt AS (
       |  SELECT b, CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
       |         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cn
       |  FROM hashed WHERE doc_id % 2 = 0 GROUP BY b
       |), tot AS (
       |  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM hashed WHERE doc_id % 2 = 0
       |), w AS (
       |  SELECT b, cp * nn - cn * np AS w FROM cnt CROSS JOIN tot
       |), inf AS (
       |  SELECT h.doc_id, CAST(SUM(COALESCE(w.w, 0)) AS BIGINT) AS margin
       |  FROM hashed h LEFT JOIN w USING (b) GROUP BY h.doc_id
       |), r AS (
       |  SELECT i.doc_id, i.margin AS score, (d.lang = 'en') AS is_en
       |  FROM inf i JOIN documents d USING (doc_id) WHERE i.doc_id % 2 = 1
       |), hist AS (SELECT score, COUNT(*) AS cnt FROM r GROUP BY score
       |), cum AS (SELECT score, SUM(cnt) OVER (ORDER BY score DESC) AS cum,
       |                  SUM(cnt) OVER () AS n FROM hist
       |), cuts AS (SELECT b.b AS b, max(score) AS cut
       |            FROM cum CROSS JOIN range(1, 10) AS b(b)
       |            WHERE cum >= (n * b.b + 9) // 10
       |            GROUP BY b.b
       |), banded AS (
       |  SELECT doc_id, score, is_en,
       |    CAST(COALESCE((SELECT min(b) FROM cuts WHERE score >= cut), 10)
       |      AS BIGINT) AS band
       |  FROM r)
       |SELECT band, COUNT(*) AS n,
       |       CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |       min(score) AS min_margin, max(score) AS max_margin,
       |       CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) * 1000
       |         // COUNT(*) AS pos_permille
       |FROM banded GROUP BY band ORDER BY band""".stripMargin
  }

  // ---- vocabulary coverage curve -------------------------------------------
  /** Types needed to cover 50/90/95/99% of corpus tokens — the
    * tokenizer-sizing read. Spark side solves the crossing on the
    * DISTINCT-FREQUENCY histogram (windows never touch the vocab, let
    * alone tokens — the same bounded-table discipline as `vocabTable`'s
    * top-v fix); the oracle is the independent vocab-level statement:
    * min row_number over (freq desc, token) whose running token sum
    * reaches the target. Equal because equal-frequency types contribute
    * equally — the intra-class tie order cannot move the crossing. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabCoverage(Tables.documents(s, d), "text",
        Seq(50, 90, 95, 99))
      .orderBy(col("pct"))

  val vocabCoverageSql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents
      |), vocab AS (SELECT w, count(*) AS f FROM tok GROUP BY w
      |), r AS (
      |  SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rn,
      |         SUM(f) OVER (ORDER BY f DESC, w ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM vocab
      |), tot AS (SELECT CAST(SUM(f) AS BIGINT) AS total FROM vocab
      |), t AS (
      |  SELECT CAST(p.pct AS BIGINT) AS pct,
      |         (tot.total * p.pct + 99) // 100 AS target_tokens
      |  FROM (VALUES (50), (90), (95), (99)) p(pct) CROSS JOIN tot
      |)
      |SELECT t.pct, t.target_tokens,
      |       CAST(min(r.rn) AS BIGINT) AS rank_needed
      |FROM t JOIN r ON r.cum >= t.target_tokens
      |GROUP BY t.pct, t.target_tokens
      |ORDER BY pct""".stripMargin

  // ---- RRF ensemble of quality signals --------------------------------------
  /** "Which docs do ALL the quality filters like?" — reciprocal-rank
    * fusion of the three rankable signals this pack already grades
    * individually: classifier margin (`quality_classifier`), DSIR weight
    * (`quality_dsir`), and lexical richness (distinct/total tokens,
    * integer permille). Each signal contributes its global top-100 via
    * the bounded CollectTopK aggregation (never a full-width window —
    * see [[graft.operators.TextAnalysis.rrfFuse]]); fusion is integer
    * micro-RRF (Σ 10⁶ DIV (60+rank)), so parity is bitwise. The oracle
    * restates all three rankings as naive row_number windows. */
  private val RrfPoolK = 100
  private val RrfC = 60
  private val RrfOutK = 50

  def qualityEnsembleRrf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val margin = TextAnalysis.hashedLinearClassifier(
        docs.filter(col("doc_id") % 2 === 0)
          .withColumn("is_en", col("lang") === "en"),
        docs, "doc_id", "text", "is_en", ClsBuckets)
      .select(col("doc_id"), col("margin").as("score"))
    val dsir = TextAnalysis.dsirScore(docs.filter(col("lang") === "en"), docs,
        "doc_id", "text", DsirBuckets)
      .select(col("doc_id"), col("weight").as("score"))
    val rich = docs.select(col("doc_id"),
      expr("cast(size(array_distinct(split(trim(text), ' '))) as bigint) * 1000" +
        " DIV cast(size(split(trim(text), ' ')) as bigint)").as("score"))
    TextAnalysis.rrfFuse(
        Seq("margin" -> margin, "dsir" -> dsir, "rich" -> rich),
        "doc_id", "score", RrfPoolK, RrfC)
      .select(col("doc_id"), col("rank_margin"), col("rank_dsir"),
        col("rank_rich"), col("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(RrfOutK)
  }
  val qualityEnsembleRrfSql: String = {
    val P = graft.operators.Dedup.HashMod
    s"""WITH ktok AS (
       |  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS t FROM documents
       |), khash AS (
       |  SELECT doc_id, lang,
       |    list_reduce(list_transform(string_split(t,''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P) % $ClsBuckets AS b
       |  FROM ktok
       |), kcnt AS (
       |  SELECT b, CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
       |         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cn
       |  FROM khash WHERE doc_id % 2 = 0 GROUP BY b
       |), ktot AS (
       |  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |         CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM khash WHERE doc_id % 2 = 0
       |), kw AS (SELECT b, cp * nn - cn * np AS w FROM kcnt CROSS JOIN ktot
       |), kinf AS (
       |  SELECT h.doc_id, CAST(SUM(COALESCE(kw.w, 0)) AS BIGINT) AS margin
       |  FROM khash h LEFT JOIN kw USING (b) GROUP BY h.doc_id
       |), dtoks AS (
       |  SELECT doc_id, lang, list_transform(string_split(trim(text), ' '),
       |    s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P)) AS th
       |  FROM documents
       |), df0 AS (
       |  SELECT doc_id, lang,
       |    unnest(CASE WHEN len(th) >= 2 THEN list_transform(range(0, len(th)-1),
       |      i -> list_reduce(th[i+1:i+2], (a,b) -> (a*131 + b) % $P) % $DsirBuckets)
       |      ELSE [] END) AS b
       |  FROM dtoks
       |), dtc AS (SELECT b, COUNT(*) AS ct FROM df0 WHERE lang = 'en' GROUP BY b
       |), drc AS (SELECT b, COUNT(*) AS cr FROM df0 GROUP BY b
       |), dtot AS (
       |  SELECT (SELECT COUNT(*) FROM df0 WHERE lang = 'en') AS nt,
       |         (SELECT COUNT(*) FROM df0) AS nr
       |), dw AS (
       |  SELECT drc.b, COALESCE(dtc.ct, 0) * nr - drc.cr * nt AS w
       |  FROM drc LEFT JOIN dtc USING (b) CROSS JOIN dtot
       |), dper AS (
       |  SELECT df0.doc_id, CAST(SUM(COALESCE(dw.w, 0)) AS BIGINT) AS weight
       |  FROM df0 LEFT JOIN dw USING (b) GROUP BY df0.doc_id
       |), dscore AS (
       |  SELECT d.doc_id, COALESCE(dper.weight, 0) AS weight
       |  FROM documents d LEFT JOIN dper ON dper.doc_id = d.doc_id
       |), rich AS (
       |  SELECT doc_id, CAST(len(list_distinct(string_split(trim(text), ' '))) * 1000
       |    // len(string_split(trim(text), ' ')) AS BIGINT) AS score
       |  FROM documents
       |), u AS (
       |  SELECT 0 AS sig, doc_id, rnk FROM (
       |    SELECT doc_id, CAST(row_number() OVER (ORDER BY margin DESC, doc_id) AS INTEGER) AS rnk
       |    FROM kinf) t WHERE rnk <= $RrfPoolK
       |  UNION ALL
       |  SELECT 1 AS sig, doc_id, rnk FROM (
       |    SELECT doc_id, CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INTEGER) AS rnk
       |    FROM dscore) t WHERE rnk <= $RrfPoolK
       |  UNION ALL
       |  SELECT 2 AS sig, doc_id, rnk FROM (
       |    SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
       |    FROM rich) t WHERE rnk <= $RrfPoolK
       |)
       |SELECT doc_id,
       |  CAST(COALESCE(MAX(CASE WHEN sig = 0 THEN rnk END), 0) AS INTEGER) AS rank_margin,
       |  CAST(COALESCE(MAX(CASE WHEN sig = 1 THEN rnk END), 0) AS INTEGER) AS rank_dsir,
       |  CAST(COALESCE(MAX(CASE WHEN sig = 2 THEN rnk END), 0) AS INTEGER) AS rank_rich,
       |  CAST(SUM(1000000 // ($RrfC + rnk)) AS BIGINT) AS rrf_micro
       |FROM u GROUP BY doc_id
       |ORDER BY rrf_micro DESC, doc_id LIMIT $RrfOutK""".stripMargin
  }

  // ---- langid agreement: word-profile vs char-trigram confusion matrix -----
  /** The two language-ID implementations graded head-to-head: one
    * confusion cell per (word-level prediction, char-level prediction)
    * pair, with each side's true-positive count against the actual
    * label. The disagreement cells are where a production pipeline would
    * route docs to a slower third opinion. Both predictors are the
    * EXACT graded pipelines (`text_langid`, `text_langid_chargram`);
    * the oracle restates both end to end. */
  def evalLangidConfusion(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val word = TextAnalysis.langId(docs, "doc_id", "text",
        TextAnalysis.langProfiles(docs, "lang", "text", 20))
      .select(col("doc_id"), col("pred_lang").as("pred_word"))
    val char = textLangidChargram(s, d)
      .select(col("doc_id"), col("pred_lang").as("pred_char"))
    word.join(char, "doc_id")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("pred_word"), col("pred_char"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("lang") === col("pred_word"), 1L).otherwise(0L))
          .as("n_word_correct"),
        sum(when(col("lang") === col("pred_char"), 1L).otherwise(0L))
          .as("n_char_correct"))
      .withColumn("agree", col("pred_word") === col("pred_char"))
      .orderBy(col("pred_word"), col("pred_char"))
  }
  val evalLangidConfusionSql: String = {
    val P = graft.operators.Dedup.HashMod
    val tri = s"list_transform(range(1, greatest(length(text)-1, 1)), i -> list_reduce(list_transform(string_split(substr(text, i, 3), ''), c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % $P))"
    s"""WITH tok AS (
       |  SELECT lang, unnest(string_split(trim(text), ' ')) AS token FROM documents
       |), counts AS (
       |  SELECT lang, token, count(*) AS cnt FROM tok GROUP BY lang, token
       |), profiles AS (
       |  SELECT lang, token FROM (
       |    SELECT lang, token, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rn
       |    FROM counts) t WHERE rn <= 20
       |), doctok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS token FROM documents
       |), ovl AS (
       |  SELECT d.doc_id, p.lang, count(*) AS overlap
       |  FROM doctok d JOIN profiles p ON d.token = p.token
       |  GROUP BY d.doc_id, p.lang
       |), best AS (
       |  SELECT doc_id, lang AS pred_lang FROM (
       |    SELECT doc_id, lang,
       |           row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, lang ASC) AS rn
       |    FROM ovl) t WHERE rn = 1
       |), tric AS (
       |  SELECT lang, unnest($tri) AS h FROM documents
       |), ccnt AS (SELECT lang, h, count(*) AS cnt FROM tric GROUP BY lang, h
       |), cprof AS (
       |  SELECT lang, h FROM (
       |    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, h ASC) AS rn
       |    FROM ccnt) t WHERE rn <= 30
       |), doctri AS (
       |  SELECT doc_id, unnest(list_distinct($tri)) AS h FROM documents
       |), covl AS (
       |  SELECT d.doc_id, p.lang, count(*) AS overlap
       |  FROM doctri d JOIN cprof p ON d.h = p.h GROUP BY d.doc_id, p.lang
       |), cbest AS (
       |  SELECT doc_id, lang AS pred_lang FROM (
       |    SELECT doc_id, lang,
       |           row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, lang ASC) AS rn
       |    FROM covl) t WHERE rn = 1
       |)
       |SELECT pred_word, pred_char, n, n_word_correct, n_char_correct,
       |       pred_word = pred_char AS agree
       |FROM (
       |  SELECT w.pred_lang AS pred_word, c.pred_lang AS pred_char,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN doc.lang = w.pred_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_word_correct,
       |    CAST(SUM(CASE WHEN doc.lang = c.pred_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_char_correct
       |  FROM best w JOIN cbest c ON c.doc_id = w.doc_id
       |  JOIN documents doc ON doc.doc_id = w.doc_id
       |  GROUP BY w.pred_lang, c.pred_lang) t
       |ORDER BY pred_word, pred_char""".stripMargin
  }

  // ---- filter agreement: Cohen's kappa between two quality gates -----------
  /** Do the Gopher rules and the DSIR importance gate agree beyond
    * chance? Cohen's kappa over their boolean keep decisions, carried
    * entirely in exact integers: po/pe as permille (truncating DIV),
    * kappa reported as (κ+1)·1000 permille so the numerator stays
    * non-negative (truncating integer division is floor-vs-zero
    * ambiguous across engines only for negative operands — the offset
    * removes the case rather than trusting either engine; the quantized
    * value can exceed the exact κ+1 ceiling of 2000 slightly when po is
    * high and pe truncates down — it is a deterministic quantization,
    * not a probability). pe's
    * marginal products reach n²·1000, so the plan raises loudly past
    * n = 9·10⁷ rather than wrapping (same envelope style as
    * collocations). */
  def evalQualityKappa(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val g = SequenceQueries.gopherTable(docs)
      .select(col("doc_id"), col("keep_gopher").as("keep_g"))
    val ds = TextAnalysis.dsirScore(docs.filter(col("lang") === "en"), docs,
        "doc_id", "text", DsirBuckets)
      .select(col("doc_id"), col("keep").as("keep_d"))
    val c = g.join(ds, "doc_id").agg(
      count(lit(1)).as("n"),
      sum(when(col("keep_g") && col("keep_d"), 1L).otherwise(0L)).as("n11"),
      sum(when(col("keep_g") && !col("keep_d"), 1L).otherwise(0L)).as("n10"),
      sum(when(!col("keep_g") && col("keep_d"), 1L).otherwise(0L)).as("n01"),
      sum(when(!col("keep_g") && !col("keep_d"), 1L).otherwise(0L)).as("n00"))
    c.withColumn("n",
        when(col("n") > lit(90000000L),
          raise_error(concat(
            lit("eval_quality_kappa: n^2 * 1000 overflows 64 bits (n="),
            col("n").cast("string"), lit(")"))))
          .otherwise(col("n")))
      .withColumn("po_permille", expr("(n11+n00)*1000 DIV n"))
      .withColumn("pe_permille",
        expr("((n11+n10)*(n11+n01) + (n00+n01)*(n00+n10))*1000 DIV (n*n)"))
      .withColumn("kappa_plus1_permille",
        expr("CASE WHEN pe_permille = 1000 THEN 2000L" +
          " ELSE (po_permille - pe_permille + 1000)*1000 DIV (1000 - pe_permille) END"))
  }
  val evalQualityKappaSql: String = {
    val P = graft.operators.Dedup.HashMod
    s"""WITH gcnt AS (
       |  SELECT doc_id, t, COUNT(*) AS cnt
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents) x
       |  GROUP BY doc_id, t
       |), g AS (
       |  SELECT doc_id,
       |    (SUM(cnt) BETWEEN 10 AND 100000)
       |      AND (CAST(SUM(length(t)*cnt) AS DOUBLE) / SUM(cnt) BETWEEN 2.0 AND 10.0)
       |      AND CAST(SUM(CASE WHEN regexp_matches(t, '[a-z]') THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) >= 0.8
       |      AND CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) <= 0.2
       |      AND CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) <= 0.6
       |      AS keep_g
       |  FROM gcnt GROUP BY doc_id
       |), dtoks AS (
       |  SELECT doc_id, lang, list_transform(string_split(trim(text), ' '),
       |    s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P)) AS th
       |  FROM documents
       |), df0 AS (
       |  SELECT doc_id, lang,
       |    unnest(CASE WHEN len(th) >= 2 THEN list_transform(range(0, len(th)-1),
       |      i -> list_reduce(th[i+1:i+2], (a,b) -> (a*131 + b) % $P) % $DsirBuckets)
       |      ELSE [] END) AS b
       |  FROM dtoks
       |), dtc AS (SELECT b, COUNT(*) AS ct FROM df0 WHERE lang = 'en' GROUP BY b
       |), drc AS (SELECT b, COUNT(*) AS cr FROM df0 GROUP BY b
       |), dtot AS (
       |  SELECT (SELECT COUNT(*) FROM df0 WHERE lang = 'en') AS nt,
       |         (SELECT COUNT(*) FROM df0) AS nr
       |), dw AS (
       |  SELECT drc.b, COALESCE(dtc.ct, 0) * nr - drc.cr * nt AS w
       |  FROM drc LEFT JOIN dtc USING (b) CROSS JOIN dtot
       |), dper AS (
       |  SELECT df0.doc_id, CAST(SUM(COALESCE(dw.w, 0)) AS BIGINT) AS weight
       |  FROM df0 LEFT JOIN dw USING (b) GROUP BY df0.doc_id
       |), ds AS (
       |  SELECT d.doc_id, COALESCE(dper.weight, 0) > 0 AS keep_d
       |  FROM documents d LEFT JOIN dper ON dper.doc_id = d.doc_id
       |), c AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN keep_g AND keep_d THEN 1 ELSE 0 END) AS BIGINT) AS n11,
       |    CAST(SUM(CASE WHEN keep_g AND NOT keep_d THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       |    CAST(SUM(CASE WHEN NOT keep_g AND keep_d THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       |    CAST(SUM(CASE WHEN NOT keep_g AND NOT keep_d THEN 1 ELSE 0 END) AS BIGINT) AS n00
       |  FROM g JOIN ds USING (doc_id)
       |), p AS (
       |  SELECT n, n11, n10, n01, n00,
       |    (n11+n00)*1000 // n AS po_permille,
       |    ((n11+n10)*(n11+n01) + (n00+n01)*(n00+n10))*1000 // (n*n) AS pe_permille
       |  FROM c
       |)
       |SELECT n, n11, n10, n01, n00, po_permille, pe_permille,
       |  CASE WHEN pe_permille = 1000 THEN 2000
       |       ELSE (po_permille - pe_permille + 1000)*1000 // (1000 - pe_permille) END
       |    AS kappa_plus1_permille
       |FROM p""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("quality_ensemble_rrf", qualityEnsembleRrf, qualityEnsembleRrfSql),
    QueryDef("eval_langid_confusion", evalLangidConfusion, evalLangidConfusionSql),
    QueryDef("eval_quality_kappa", evalQualityKappa, evalQualityKappaSql),
    QueryDef("vocab_coverage", vocabCoverage, vocabCoverageSql),
    QueryDef("quality_calibration", qualityCalibration, qualityCalibrationSql),
    QueryDef("select_pareto", selectPareto, selectParetoSql),
    QueryDef("sim_text_topk", simTextTopk, simTextTopkSql),
    QueryDef("quality_top_fraction", qualityTopFraction, qualityTopFractionSql),
    QueryDef("quality_top_fraction_by_domain",
      qualityTopFractionByDomain, qualityTopFractionByDomainSql),
    QueryDef("quality_dsir", qualityDsir, qualityDsirSql),
    QueryDef("overlap_ngram_matrix", overlapNgramMatrix, overlapNgramMatrixSql),
    QueryDef("sketch_cms_topk", sketchCmsTopk, sketchCmsTopkSql),
    QueryDef("sketch_cms_incremental", sketchCmsIncremental, sketchCmsIncrementalSql),
    QueryDef("sketch_cms_span", sketchCmsSpan, sketchCmsSpanSql),
    QueryDef("sketch_kmv_distinct", sketchKmvDistinct, sketchKmvDistinctSql),
    QueryDef("sketch_kmv_jaccard", sketchKmvJaccard, sketchKmvJaccardSql),
    QueryDef("sketch_kmv_incremental", sketchKmvIncremental, sketchKmvIncrementalSql),
    QueryDef("sketch_kmv_span", sketchKmvSpan, sketchKmvSpanSql),
    QueryDef("sketch_kmv_rolling", sketchKmvRolling, sketchKmvRollingSql),
    QueryDef("sketch_quantile_span", sketchQuantileSpan, sketchQuantileSpanSql),
    QueryDef("sketch_quantile_rolling", sketchQuantileRolling, sketchQuantileRollingSql),
    QueryDef("sketch_quantile_incremental",
      sketchQuantileIncremental, sketchQuantileIncrementalSql),
    QueryDef("sketch_quantile_drift", sketchQuantileDrift, sketchQuantileDriftSql),
    QueryDef("sketch_cms_join_size", sketchCmsJoinSize, sketchCmsJoinSizeSql),
    QueryDef("stats_equidepth", statsEquidepth, statsEquidepthSql),
    QueryDef("vocab_oov_by_domain", vocabOovByDomain, vocabOovByDomainSql),
    QueryDef("sample_fixed_k", sampleFixedK, sampleFixedKSql),
    QueryDef("sample_weighted_priority", sampleWeightedPriority, sampleWeightedPrioritySql),
    QueryDef("sample_systematic_w", sampleSystematicW, sampleSystematicWSql),
    QueryDef("text_hash_embed", textHashEmbed, textHashEmbedSql),
    QueryDef("quality_classifier", qualityClassifier, qualityClassifierSql),
    QueryDef("text_tfidf_topk", textTfidfTopk, textTfidfTopkSql),
    QueryDef("text_novelty", textNovelty, textNoveltySql),
    QueryDef("text_winnow", textWinnow, textWinnowSql),
    QueryDef("text_pii_scrub", textPiiScrub, textPiiScrubSql),
    QueryDef("mix_temperature", mixTemperature, mixTemperatureSql),
    QueryDef("vocab_bpe_pairs", vocabBpePairs, vocabBpePairsSql),
    QueryDef("mix_schedule", mixSchedule, mixScheduleSql),
    QueryDef("mix_curriculum", mixCurriculum, mixCurriculumSql),
    QueryDef("text_commonness", textCommonness, textCommonnessSql),
    QueryDef("text_bigram_lm", textBigramLm, textBigramLmSql),
    QueryDef("text_collocations", textCollocations, textCollocationsSql),
    QueryDef("text_lm_cross", textLmCross, textLmCrossSql),
    QueryDef("corpus_report", corpusReport, corpusReportSql),
    QueryDef("tokenize_ids", tokenizeIds, tokenizeIdsSql),
    QueryDef("sample_stratified", sampleStratified, sampleStratifiedSql),
    QueryDef("text_langid_chargram", textLangidChargram, textLangidChargramSql),
    QueryDef("curation_pipeline", curationPipeline, curationPipelineSql),
    QueryDef("text_stats", textStats, textStatsSql),
    QueryDef("text_langid", textLangid, textLangidSql),
    QueryDef("text_token_counts", textTokenCounts, textTokenCountsSql),
    QueryDef("text_fingerprint", textFingerprint, textFingerprintSql))
}
