package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Mix, Sequence, TextAnalysis}

/** Training-data pipeline pack, part 5: sequence preparation (chunking,
  * packing), repetition quality signals, and near-dup clustering — the
  * steps between "deduped corpus" and "training batches".
  *
  * All deterministic integer math; the DuckDB oracles replay the same
  * formulas (list slicing, window cumsum, recursive closure). */
object SequenceQueries {
  private val P = Dedup.HashMod // 1e9+7
  private val polyHashLambda =
    s"s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % $P)"

  // ---- fixed-window token chunking -----------------------------------------
  private val ChunkW = 32
  private val ChunkS = 24 // stride < window: 8-token overlap

  def chunkWindows(s: SparkSession, d: String): DataFrame =
    Sequence.chunkTokens(Tables.documents(s, d), "doc_id", "text", ChunkW, ChunkS)
      .orderBy(col("doc_id"), col("chunk_id"))
  val chunkWindowsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
       |), n AS (
       |  SELECT doc_id, tk, len(tk) AS n,
       |         1 + CAST(ceil(greatest(len(tk) - $ChunkW, 0) / CAST($ChunkS AS DOUBLE)) AS INTEGER) AS n_chunks
       |  FROM toks
       |), ex AS (
       |  SELECT doc_id, tk, n, unnest(range(0, n_chunks)) AS k FROM n
       |)
       |SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
       |       CAST(k * $ChunkS + 1 AS INTEGER) AS start_token,
       |       CAST(len(tk[k*$ChunkS + 1 : least(k*$ChunkS + $ChunkW, n)]) AS BIGINT) AS n_chunk_tokens,
       |       array_to_string(tk[k*$ChunkS + 1 : least(k*$ChunkS + $ChunkW, n)], ' ') AS chunk_text
       |FROM ex ORDER BY doc_id, chunk_id""".stripMargin

  // ---- concat-and-cut sequence packing -------------------------------------
  private val Capacity = 256
  private val NShards = 8

  def packSequences(s: SparkSession, d: String): DataFrame =
    Sequence.packSequences(Tables.documents(s, d), "doc_id", "text",
        Capacity, NShards)
      .orderBy(col("doc_id"))
  val packSequencesSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, CAST(doc_id % $NShards AS INTEGER) AS shard,
       |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, shard, n_tokens,
       |         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_offset
       |  FROM n
       |)
       |SELECT doc_id, shard, n_tokens,
       |       CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
       |       CAST(end_offset AS BIGINT) AS end_offset,
       |       CAST(floor((end_offset - n_tokens) / $Capacity) AS BIGINT) AS bin_first,
       |       CAST(floor((end_offset - 1) / $Capacity) AS BIGINT) AS bin_last
       |FROM c ORDER BY doc_id""".stripMargin

  def packStats(s: SparkSession, d: String): DataFrame =
    Sequence.packingStats(
        Sequence.packSequences(Tables.documents(s, d), "doc_id", "text",
          Capacity, NShards), Capacity)
      .orderBy(col("shard"))
  val packStatsSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, CAST(doc_id % $NShards AS INTEGER) AS shard,
       |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT shard, n_tokens,
       |         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_offset
       |  FROM n
       |)
       |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |       CAST(MAX(floor((end_offset - 1) / $Capacity)) + 1 AS BIGINT) AS n_bins,
       |       CAST(SUM(n_tokens) AS DOUBLE) /
       |         ((MAX(floor((end_offset - 1) / $Capacity)) + 1) * $Capacity) AS fill_ratio
       |FROM c GROUP BY shard ORDER BY shard""".stripMargin

  // ---- repetition quality signals (Gopher-style) ---------------------------
  /** Per doc: most-frequent-token share and the fraction of tokens whose
    * token occurs ≥ 2× — the cheap repetition gates a quality filter
    * applies before anything model-based. One explode + two-level agg:
    * the (doc, token) groupBy is map-side-combinable, token strings never
    * cross a second shuffle. */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_token_cnt"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("rep_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("top_token_cnt"),
        (col("top_token_cnt").cast("double") / col("n_tokens")).as("top_token_frac"),
        (col("rep_tokens").cast("double") / col("n_tokens")).as("rep_token_frac"))
      .orderBy(col("doc_id"))
  val textRepetitionSql: String =
    """WITH cnt AS (
      |  SELECT doc_id, t, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents) x
      |  GROUP BY doc_id, t
      |)
      |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |       COUNT(*) AS n_distinct,
      |       CAST(MAX(cnt) AS BIGINT) AS top_token_cnt,
      |       CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_token_frac,
      |       CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) AS rep_token_frac
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- sequence-level dedup (Lee et al. 2022) ------------------------------
  /** Dedup at training-CHUNK granularity: non-overlapping token windows
    * (stride = window, so chunk instances don't overlap within a doc) are
    * exact-hash-grouped across the corpus; a chunk is a dup if an earlier
    * (doc_id, chunk_id) instance has identical text. Catches the
    * cross-document boilerplate that whole-doc dedup misses — the
    * "Deduplicating Training Data Makes Language Models Better" setting.
    * Per doc: chunk count, duplicated-chunk count, dup fraction. One
    * chunk-generate projection + one hash groupBy — map-side combinable,
    * chunk text never shuffles (md5 only). */
  private val SeqDedupW = 32

  def dedupChunks(s: SparkSession, d: String): DataFrame = {
    val chunks = Sequence.chunkTokens(Tables.documents(s, d), "doc_id", "text",
        SeqDedupW, SeqDedupW)
      .select(col("doc_id"), col("chunk_id"), md5(col("chunk_text")).as("h"),
        // scalar instance key (chunk_id < 1e6 by construction) — a single
        // MIN any engine computes identically, vs engine-specific struct MIN
        (col("doc_id") * 1000000L + col("chunk_id")).as("inst"))
    val firstOwner = chunks.groupBy(col("h")).agg(min(col("inst")).as("first_inst"))
    chunks.join(firstOwner, "h")
      .select(col("doc_id"), (col("first_inst") =!= col("inst")).as("is_dup"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
      .orderBy(col("doc_id"))
  }
  val dedupChunksSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
       |), n AS (
       |  SELECT doc_id, tk, len(tk) AS n,
       |         1 + CAST(ceil(greatest(len(tk) - $SeqDedupW, 0) / CAST($SeqDedupW AS DOUBLE)) AS INTEGER) AS n_chunks
       |  FROM toks
       |), ch AS (
       |  SELECT doc_id, doc_id * 1000000 + CAST(k AS INTEGER) AS inst,
       |         md5(array_to_string(tk[k*$SeqDedupW + 1 : least((k+1)*$SeqDedupW, n)], ' ')) AS h
       |  FROM (SELECT doc_id, tk, n, unnest(range(0, n_chunks)) AS k FROM n) e
       |), fo AS (
       |  SELECT h, MIN(inst) AS first_inst FROM ch GROUP BY h
       |), flagged AS (
       |  SELECT c.doc_id, f.first_inst <> c.inst AS is_dup
       |  FROM ch c JOIN fo f USING (h)
       |)
       |SELECT doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
       |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- Gopher-style quality gate -------------------------------------------
  /** The published rule family (Rae et al. 2021, §A1.1) adapted to the
    * synthetic corpus: token-count bounds, mean-word-length band,
    * alpha-word fraction, top-token share, repeated-token share. One
    * explode + two-level agg (map-side combinable); every ratio is a
    * single division of exact integers. */
  def qualityGopher(s: SparkSession, d: String): DataFrame =
    gopherTable(Tables.documents(s, d)).orderBy(col("doc_id"))

  /** The gate over an arbitrary doc frame — so incremental ingest can run
    * it on the DELTA alone instead of rescoring the corpus. */
  def gopherTable(docs: DataFrame): DataFrame = {
    val cnt = docs
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
    cnt.groupBy(col("doc_id")).agg(
        sum(col("cnt")).as("n_tokens"),
        (sum(length(col("t")) * col("cnt")).cast("double") / sum(col("cnt")))
          .as("mean_word_len"),
        (sum(when(col("t").rlike("[a-z]"), col("cnt")).otherwise(0L)).cast("double")
          / sum(col("cnt"))).as("alpha_frac"),
        (max(col("cnt")).cast("double") / sum(col("cnt"))).as("top_frac"),
        (sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).cast("double")
          / sum(col("cnt"))).as("rep_frac"))
      .withColumn("keep_gopher",
        col("n_tokens").between(10, 100000) &&
          col("mean_word_len").between(2.0, 10.0) &&
          col("alpha_frac") >= 0.8 && col("top_frac") <= 0.2 &&
          col("rep_frac") <= 0.6)
  }
  val qualityGopherSql: String =
    """WITH cnt AS (
      |  SELECT doc_id, t, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents) x
      |  GROUP BY doc_id, t
      |)
      |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |  CAST(SUM(length(t)*cnt) AS DOUBLE) / SUM(cnt) AS mean_word_len,
      |  CAST(SUM(CASE WHEN regexp_matches(t, '[a-z]') THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) AS alpha_frac,
      |  CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_frac,
      |  CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) AS rep_frac,
      |  (SUM(cnt) BETWEEN 10 AND 100000)
      |    AND (CAST(SUM(length(t)*cnt) AS DOUBLE) / SUM(cnt) BETWEEN 2.0 AND 10.0)
      |    AND CAST(SUM(CASE WHEN regexp_matches(t, '[a-z]') THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) >= 0.8
      |    AND CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) <= 0.2
      |    AND CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) <= 0.6
      |    AS keep_gopher
      |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- benchmark decontamination -------------------------------------------
  /** Train/eval split by doc_id % 10 (eval = 0 mod 10 — a stand-in for a
    * benchmark table); a training doc is contaminated if it shares ≥1
    * distinct 5-gram with ANY eval doc. */
  private val ContamN = 5

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    TextAnalysis.contamination(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", ContamN)
      .orderBy(col("doc_id"))
  }
  val decontaminateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '), $polyHashLambda) AS th
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, CASE WHEN len(th) >= $ContamN THEN list_distinct(
       |    list_transform(range(0, len(th)-$ContamN+1),
       |      i -> list_reduce(th[i+1:i+$ContamN], (a,b) -> (a*131 + b) % $P)))
       |    ELSE [] END AS sh FROM toks
       |), ev AS (
       |  SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id % 10 = 0
       |)
       |SELECT t.doc_id, COUNT(*) AS n_hits
       |FROM (SELECT doc_id, unnest(sh) AS h FROM sh WHERE doc_id % 10 <> 0) t
       |JOIN ev USING (h)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---- deterministic global shuffle → shards -------------------------------
  /** Per-shard summary of the hash-shuffled training order: doc count,
    * char volume, and a position-weighted order fingerprint
    * Σ(pos·h mod P) mod P — any reordering of any shard changes it, so
    * the oracle pins the exact global order, not just membership. */
  private val ShuffleShards = 16

  def shuffleShards(s: SparkSession, d: String): DataFrame =
    Sequence.shuffleShards(Tables.documents(s, d), "doc_id", "text", ShuffleShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        (sum(pmod(col("pos") * col("h"), lit(P))) % P).as("order_fp"))
      .orderBy(col("shard"))
  val shuffleShardsSql: String =
    s"""WITH hashed AS (
       |  SELECT doc_id, n_chars,
       |    (list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P)
       |     * ${graft.operators.Mix.ScrambleM} % $P) * ${graft.operators.Mix.ScrambleM} % $P AS h
       |  FROM documents
       |), sharded AS (
       |  SELECT doc_id, n_chars, h, CAST(h % $ShuffleShards AS INTEGER) AS shard,
       |    row_number() OVER (PARTITION BY h % $ShuffleShards ORDER BY h, doc_id) AS pos
       |  FROM hashed)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
       |  CAST(SUM((pos * h) % $P) % $P AS BIGINT) AS order_fp
       |FROM sharded GROUP BY shard ORDER BY shard""".stripMargin

  // ---- multi-epoch reshuffle plan -------------------------------------------
  /** Per-(epoch, shard) summary of the epoch-salted training order: the
    * same order fingerprint as shuffle_shards, pinned for EVERY epoch —
    * matching fingerprints prove each epoch's full coverage AND its
    * distinct permutation. */
  private val Epochs = 3

  def mixEpochs(s: SparkSession, d: String): DataFrame =
    graft.operators.Mix.epochShuffle(
        Tables.documents(s, d), "doc_id", "text", Epochs, ShuffleShards)
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(pmod(col("pos") * col("h"), lit(P))) % P).as("order_fp"))
      .orderBy(col("epoch"), col("shard"))
  val mixEpochsSql: String = {
    val M = graft.operators.Mix.ScrambleM
    s"""WITH hashed AS (
       |  SELECT doc_id,
       |    list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P) AS h0
       |  FROM documents
       |), eh AS (
       |  SELECT doc_id, CAST(epoch AS INTEGER) AS epoch,
       |    (h0 + epoch) * $M % $P * $M % $P AS h
       |  FROM hashed, range(0, $Epochs) t(epoch)
       |), sharded AS (
       |  SELECT epoch, CAST(h % $ShuffleShards AS INTEGER) AS shard, h,
       |    row_number() OVER (PARTITION BY epoch, h % $ShuffleShards ORDER BY h, doc_id) AS pos
       |  FROM eh)
       |SELECT epoch, shard, COUNT(*) AS n_docs,
       |  CAST(SUM((pos * h) % $P) % $P AS BIGINT) AS order_fp
       |FROM sharded GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin
  }

  // ---- dense global id assignment (no global sort) -------------------------
  /** Ids 0..N−1 in scrambled-hash order via shard-rank + broadcast shard
    * offsets; the oracle takes the single-sort shortcut the operator
    * exists to avoid — same total order, different plan. */
  def assignDenseIds(s: SparkSession, d: String): DataFrame =
    Sequence.denseIds(Tables.documents(s, d), "doc_id", "text", ShuffleShards)
      .orderBy(col("dense_id"))
  val assignDenseIdsSql: String =
    s"""WITH hashed AS (
       |  SELECT doc_id,
       |    (list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |      (acc, x) -> (acc*31 + x) % $P)
       |     * ${graft.operators.Mix.ScrambleM} % $P) * ${graft.operators.Mix.ScrambleM} % $P AS h
       |  FROM documents
       |)
       |SELECT doc_id, CAST(h % $ShuffleShards AS INTEGER) AS shard,
       |  row_number() OVER (ORDER BY h % $ShuffleShards, h, doc_id) - 1 AS dense_id
       |FROM hashed ORDER BY dense_id""".stripMargin

  // ---- greedy token-budget selection per source ----------------------------
  /** Best docs (by distinct-token count) under a 2000-token budget per
    * source — the "assemble the best N tokens per domain" step. */
  private val TokenBudget = 500L

  def budgetSelect(s: SparkSession, d: String): DataFrame = {
    val t = split(trim(col("text")), " ")
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      size(array_distinct(t)).cast("long").as("score"),
      size(t).cast("long").as("n_tokens"))
    Mix.budgetSelect(docs, "doc_id", "source", "score", "n_tokens", TokenBudget)
      .orderBy(col("doc_id"))
  }
  val budgetSelectSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS score,
       |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, source, score, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT * FROM c WHERE cum_tokens <= $TokenBudget ORDER BY doc_id""".stripMargin

  /** Token-budget selection under SOFT dedup — the two operators
    * composed into the read a curator actually runs: a document's
    * budget cost is its weighted tokens n_tokens·weight_ppm (a member
    * of a 4-doc cluster costs a quarter of its length — the cluster as
    * a whole costs one copy), so against the same quality order the
    * admitted set stretches exactly where the corpus repeats itself,
    * without dropping any doc outright. Same two-phase group-cumsum
    * plan as `budget_select` ([[graft.operators.Mix.budgetSelect]] —
    * no full-corpus sort); the weight join is the broadcast-size
    * cluster table. Budget stated in ppm-tokens (budget·10⁶) so the
    * arithmetic stays integer end to end. */
  def budgetSelectWeighted(s: SparkSession, d: String): DataFrame = {
    val t = split(trim(col("text")), " ")
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      size(array_distinct(t)).cast("long").as("score"),
      size(t).cast("long").as("n_tokens"))
    val weights = dedupSoftWeights(s, d)
      .select(col("doc_id"), col("weight_ppm"))
    val wd = docs.join(weights, "doc_id")
      .withColumn("w_tokens", col("n_tokens") * col("weight_ppm"))
    Mix.budgetSelect(wd, "doc_id", "source", "score", "w_tokens",
        TokenBudget * 1000000L)
      .select(col("doc_id"), col("source"), col("score"), col("n_tokens"),
        col("weight_ppm"), col("cum_tokens").as("cum_w_tokens"))
      .orderBy(col("doc_id"))
  }
  // lazy: dupGraphCtes/reachCte are declared further down the object —
  // an eager val here would interpolate their still-null references
  lazy val budgetSelectWeightedSql: String =
    s"""WITH RECURSIVE $dupGraphCtes, $reachCte,
       |lbl AS (SELECT id, MIN(lbl) AS rep FROM reach GROUP BY id),
       |sz AS (SELECT rep, COUNT(*) AS cluster_size FROM lbl GROUP BY rep),
       |wt AS (
       |  SELECT l.id AS doc_id,
       |    CAST(1000000 // sz.cluster_size AS BIGINT) AS weight_ppm
       |  FROM lbl l JOIN sz ON sz.rep = l.rep),
       |t AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS score,
       |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT t.doc_id, source, score, n_tokens, wt.weight_ppm,
       |    CAST(SUM(n_tokens * wt.weight_ppm) OVER (
       |      PARTITION BY source ORDER BY score DESC, t.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_w_tokens
       |  FROM t JOIN wt ON wt.doc_id = t.doc_id)
       |SELECT * FROM c WHERE cum_w_tokens <= ${TokenBudget * 1000000L}
       |ORDER BY doc_id""".stripMargin

  // ---- near-dup clusters: pairs → components → canonical doc ---------------
  /** Edges = exact-dup pairs (md5) ∪ MinHash-verified near-dup pairs
    * (jaccard ≥ 0.5); components by min-label propagation; canonical =
    * min doc_id. The step that turns pairwise dedup output into the
    * actual keep/drop partition of the corpus. */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // the memoized symmetrized declared-partitioning checkpoint (r17 —
    // one build for the whole cluster pack, not one per query)
    val comps = Dedup.connectedComponentsSym(
      docs.select(col("doc_id").as("id")), DupEdges.symSrc(s, d))
    comps.select(col("id").as("doc_id"), col("rep").as("cluster_rep"),
        (col("id") === col("rep")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }
  /** The same clusters through the INCREMENTAL path: docs with
    * doc_id % 10 == 0 arrive as the delta. Standing labels come from the
    * old-only edges; the delta merges in via compressed star edges + the
    * new-involving edges. The oracle is dedup_clusters' full recompute —
    * hash-matching it IS the proof that nightly label maintenance agrees
    * with a from-scratch clustering. */
  def dedupClustersIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isNewId = (c: org.apache.spark.sql.Column) => c % 10 === 0
    // the LSH pair derivation is the expensive half; both the standing
    // (old-only) and delta (new-involving) filters read the per-session
    // [[DupEdges]] checkpoint — one mining pass for the whole suite
    val all = DupEdges.of(s, d)
    val hasNew = isNewId(col("id_a")) || isNewId(col("id_b"))
    val standing = Dedup.connectedComponents(
      docs.filter(!isNewId(col("doc_id"))).select(col("doc_id").as("id")),
      all.filter(!hasNew))
    Dedup.connectedComponentsDelta(standing,
        docs.filter(isNewId(col("doc_id"))).select(col("doc_id").as("id")),
        all.filter(hasNew))
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"),
        (col("id") === col("rep")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTEs `toks → sym`: the symmetrized exact ∪ near-dup
    * edge list every duplicate-graph oracle starts from (same shingle/
    * minhash CTEs as dedup_minhash_pairs in TrainingQueries). Reused by
    * dedup_clusters, split_leakage_safe, and GraphQueries' centrality
    * oracles so the edge derivation can never drift between them. */
  private[queries] val dupGraphCtes: String = {
    val threshold = "0.5"
    val p = Dedup.HashMod
    s"""toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '),
       |    s -> list_reduce(list_transform(string_split(s,''), c -> CAST(ascii(c) AS BIGINT)), (acc, x) -> (acc*31 + x) % $p)) AS th
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, CASE WHEN len(th) >= 3 THEN list_distinct(
       |    list_transform(range(0, len(th)-3+1),
       |      i -> ((th[i+1]*131 + th[i+2]) % $p * 131 + th[i+3]) % $p))
       |    ELSE [] END AS sh FROM toks
       |), sig AS (
       |  SELECT doc_id, list_transform(range(0,16), j ->
       |    list_min(list_transform(sh, h -> ((2*j+1)*h + 7919*j + 12345) % $p))) AS sig
       |  FROM sh
       |), mh AS (
       |  SELECT doc_id, bk.band AS band, bk.key AS key FROM (
       |    SELECT doc_id, unnest(list_transform(range(0,4), b ->
       |      {'band': b, 'key': list_reduce(sig[b*4+1:b*4+4], (acc,x) -> (acc*1000003 + x) % $p)})) AS bk
       |    FROM sig)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM mh a JOIN mh b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), near AS (
       |  SELECT id_a, id_b FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) >= $threshold
       |), exact AS (
       |  SELECT MIN(doc_id) OVER (PARTITION BY md5(text)) AS id_a, doc_id AS id_b
       |  FROM documents QUALIFY doc_id <> id_a
       |), sym AS (
       |  -- DISTINCT over UNION ALL, not chained UNION: under WITH RECURSIVE
       |  -- DuckDB 1.0.0's union-dedup path can leak a duplicate edge when a
       |  -- pair arrives via both the near and exact branches (seen at sf0.1:
       |  -- one doubled edge inflated an out-degree and skewed the oracle's
       |  -- PageRank against the correct engine answer); the explicit
       |  -- DISTINCT cannot depend on that path
       |  SELECT DISTINCT s, d FROM (
       |    SELECT id_a AS s, id_b AS d FROM near UNION ALL SELECT id_b, id_a FROM near
       |    UNION ALL SELECT id_a, id_b FROM exact UNION ALL SELECT id_b, id_a FROM exact)
       |)""".stripMargin
  }

  /** The min-label closure over [[dupGraphCtes]]' edge set (recursive —
    * callers must open with WITH RECURSIVE). */
  private[queries] val reachCte: String =
    """reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.d, r.lbl FROM reach r JOIN sym e ON e.s = r.id
      |)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $dupGraphCtes, $reachCte
       |SELECT id AS doc_id, MIN(lbl) AS cluster_rep, MIN(lbl) = id AS is_canonical
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** SOFT dedup — downweight duplicates instead of dropping them (the
    * alternative every large-scale corpus debate lands on: exact/near
    * copies carry frequency signal, so instead of keeping one canonical
    * doc per cluster, keep ALL members at weight 1/cluster_size — the
    * cluster contributes one document's worth of probability mass in
    * expectation, stated as the integer `10⁶ DIV cluster_size` ppm so a
    * sampler can consume it without float weights). Same edge set and
    * CC closure as `dedup_clusters` (the [[DupEdges]] memo — no second
    * mining pass); the weight is one broadcast-size join on the cluster
    * size table. Singletons weigh exactly 10⁶ ppm. */
  def dedupSoftWeights(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val comps = Dedup.connectedComponentsSym(
      docs.select(col("doc_id").as("id")), DupEdges.symSrc(s, d))
    val sizes = comps.groupBy(col("rep"))
      .agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, "rep")
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"),
        col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_ppm"))
      .orderBy(col("doc_id"))
  }
  val dedupSoftWeightsSql: String =
    s"""WITH RECURSIVE $dupGraphCtes, $reachCte,
       |lbl AS (SELECT id, MIN(lbl) AS rep FROM reach GROUP BY id),
       |sz AS (SELECT rep, COUNT(*) AS cluster_size FROM lbl GROUP BY rep)
       |SELECT l.id AS doc_id, l.rep AS cluster_rep, sz.cluster_size,
       |  CAST(1000000 // sz.cluster_size AS BIGINT) AS weight_ppm
       |FROM lbl l JOIN sz ON sz.rep = l.rep
       |ORDER BY doc_id""".stripMargin

  // ---- leakage-safe train/val/test split ------------------------------------
  /** Split assignment at near-dup-CLUSTER granularity: a cluster's rep
    * hashes to a bucket (8/1/1 train/val/test) and every member inherits
    * it, so no exact or near duplicate ever straddles splits — the
    * eval-leakage guard a benchmark-honest corpus needs (splitting
    * per-document leaks every near-dup pair across the boundary). Cost =
    * dedup_clusters + a projection. */
  def splitLeakageSafe(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val comps = Dedup.connectedComponentsSym(
      docs.select(col("doc_id").as("id")), DupEdges.symSrc(s, d))
    val m = Mix.ScrambleM
    val bucket = (col("rep") + 1) * m % P * m % P % 10
    comps.select(col("id").as("doc_id"), col("rep").as("cluster_rep"),
        when(bucket < 8, "train").when(bucket === 8, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }
  val splitLeakageSafeSql: String = {
    val m = Mix.ScrambleM
    val sql = dedupClustersSql.replace(
      """SELECT id AS doc_id, MIN(lbl) AS cluster_rep, MIN(lbl) = id AS is_canonical
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
      s"""SELECT id AS doc_id, MIN(lbl) AS cluster_rep,
         |  CASE WHEN (MIN(lbl) + 1) * $m % $P * $m % $P % 10 < 8 THEN 'train'
         |       WHEN (MIN(lbl) + 1) * $m % $P * $m % $P % 10 = 8 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)
    // a drifted dedupClustersSql tail would make the replace a no-op and
    // this oracle silently wrong-shaped — fail at class init instead
    require(sql != dedupClustersSql,
      "split_leakage_safe oracle: final-SELECT replacement did not apply")
    sql
  }

  // ---- leakage-safe k-fold cross-validation assignment ---------------------
  /** 5-fold CV folds that respect near-dup cluster boundaries — the
    * k-fold generalization of [[splitLeakageSafe]]: a cluster's
    * REPRESENTATIVE hash picks the fold, so no near-dup pair ever
    * straddles a fold boundary (evaluating on fold f while training on
    * the rest can never see a training document's near-copy). Output is
    * the per-fold balance summary (doc count, cluster count, and the
    * complementary training-set size) — 5 rows proving the assignment
    * is usable; the structural no-leakage guarantee is by construction,
    * the same rep-hash bucketing the train/val/test split pins. */
  def splitCvFolds(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val comps = Dedup.connectedComponentsSym(
      docs.select(col("doc_id").as("id")), DupEdges.symSrc(s, d))
    val m = Mix.ScrambleM
    val fold = (col("rep") + 1) * m % P * m % P % 5
    val perFold = comps.select(col("id"), col("rep"), fold.as("fold"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"))
    perFold
      .crossJoin(broadcast(perFold.agg(sum(col("n_docs")).as("n_total"))))
      .select(col("fold"), col("n_docs"), col("n_clusters"),
        (col("n_total") - col("n_docs")).as("n_train_docs"))
      .orderBy(col("fold"))
  }
  val splitCvFoldsSql: String = {
    val m = Mix.ScrambleM
    val sql = dedupClustersSql.replace(
      """SELECT id AS doc_id, MIN(lbl) AS cluster_rep, MIN(lbl) = id AS is_canonical
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
      s"""SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
         |  CAST(SUM(COUNT(*)) OVER () - COUNT(*) AS BIGINT) AS n_train_docs
         |FROM (SELECT id, MIN(lbl) AS rep,
         |             (MIN(lbl) + 1) * $m % $P * $m % $P % 5 AS fold
         |      FROM reach GROUP BY id)
         |GROUP BY fold ORDER BY fold""".stripMargin)
    require(sql != dedupClustersSql,
      "split_cv_folds oracle: final-SELECT replacement did not apply")
    sql
  }

  // ---- end-to-end corpus build ---------------------------------------------
  /** The whole training-corpus assembly composed as one job, per-doc
    * stage flags: near-dup clustering (exact ∪ minhash edges → CC rep),
    * Gopher quality gate, benchmark decontamination (eval = doc_id ≡ 0
    * mod 10), α=0.5 temperature sampling, then greedy 500-token budget
    * selection per source among the surviving candidates. A user of the
    * reference-plus-training-pipeline runs this INSTEAD of six jobs. The
    * clustering stage iterates internally (checkpointed CC rounds) over
    * the per-session [[DupEdges]] symmetrized memo (r17 — the edge
    * derivation here was character-identical to DupEdges' and re-ran the
    * expensive minhash mining every execution; the bench's mining leg
    * already prices `DupEdges.of` as its own row, and this leg's stated
    * semantics — "every DupEdges consumer measures fixpoint + serve cost
    * over the session-memoized edge set" — now actually includes this
    * consumer); every
    * other stage is one declarative subtree, the doc_id-keyed joins
    * co-partition, and the documents scans are pruned re-reads — cheap by
    * design (the shingle kernels recompute rather than cache, see
    * [[graft.operators.Dedup]]). Output: (doc_id, source, is_train,
    * is_cluster_dup, keep_quality, contaminated, sampled, selected). */
  def corpusBuild(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isTrain = col("doc_id") % 10 =!= 0
    val comps = Dedup.connectedComponentsSym(
        docs.select(col("doc_id").as("id")), DupEdges.symSrc(s, d))
      .select(col("id").as("doc_id"), (col("id") =!= col("rep")).as("is_cluster_dup"))
    val qual = qualityGopher(s, d)
      .select(col("doc_id"), col("keep_gopher").as("keep_quality"))
    val contam = TextAnalysis.contamination(
        docs.filter(isTrain), docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", ContamN)
      .select(col("doc_id"), (col("n_hits") >= 1).as("contaminated"))
    val rates = Mix.temperatureThresholds(docs, "source", 0.3)
    val sampled = docs
      .select(col("doc_id"), col("source"), Mix.sampleHash(col("text")).as("h"))
      .join(broadcast(rates.select(col("source"), col("thr"))), "source")
      .select(col("doc_id"), (col("h") < col("thr")).as("sampled"))
    val t = split(trim(col("text")), " ")
    val flags = docs.select(col("doc_id"), col("source"),
        size(array_distinct(t)).cast("long").as("score"),
        size(t).cast("long").as("n_tokens"), isTrain.as("is_train"))
      .join(comps, "doc_id").join(qual, "doc_id")
      .join(contam, Seq("doc_id"), "left")
      .join(sampled, "doc_id")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .withColumn("candidate", col("is_train") && !col("is_cluster_dup") &&
        col("keep_quality") && !col("contaminated") && col("sampled"))
      // three consumers (budget histogram, boundary selection, final
      // join) each re-derive the quality/contamination/sampling passes
      // without this — one materialization, narrow flag rows only
      .localCheckpoint()
    val sel = Mix.budgetSelect(flags.filter(col("candidate")),
        "doc_id", "source", "score", "n_tokens", TokenBudget)
      .select(col("doc_id"), lit(true).as("selected"))
    flags.join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("is_train"),
        col("is_cluster_dup"), col("keep_quality"), col("contaminated"),
        col("sampled"), coalesce(col("selected"), lit(false)).as("selected"))
      .orderBy(col("doc_id"))
  }
  val corpusBuildSql: String = {
    val p = P
    val m = graft.operators.Mix.ScrambleM
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '), $polyHashLambda) AS th
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, CASE WHEN len(th) >= 3 THEN list_distinct(
       |    list_transform(range(0, len(th)-3+1),
       |      i -> ((th[i+1]*131 + th[i+2]) % $p * 131 + th[i+3]) % $p))
       |    ELSE [] END AS sh FROM toks
       |), sig AS (
       |  SELECT doc_id, list_transform(range(0,16), j ->
       |    list_min(list_transform(sh, h -> ((2*j+1)*h + 7919*j + 12345) % $p))) AS sig
       |  FROM sh
       |), mh AS (
       |  SELECT doc_id, bk.band AS band, bk.key AS key FROM (
       |    SELECT doc_id, unnest(list_transform(range(0,4), b ->
       |      {'band': b, 'key': list_reduce(sig[b*4+1:b*4+4], (acc,x) -> (acc*1000003 + x) % $p)})) AS bk
       |    FROM sig)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM mh a JOIN mh b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), near AS (
       |  SELECT id_a, id_b FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) >= 0.5
       |), exact AS (
       |  SELECT MIN(doc_id) OVER (PARTITION BY md5(text)) AS id_a, doc_id AS id_b
       |  FROM documents QUALIFY doc_id <> id_a
       |), sym AS (
       |  SELECT id_a AS s, id_b AS d FROM near UNION SELECT id_b, id_a FROM near
       |  UNION SELECT id_a, id_b FROM exact UNION SELECT id_b, id_a FROM exact
       |), reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.d, r.lbl FROM reach r JOIN sym e ON e.s = r.id
       |), comp AS (
       |  SELECT id AS doc_id, MIN(lbl) <> id AS is_cluster_dup FROM reach GROUP BY id
       |), wcnt AS (
       |  SELECT doc_id, t, COUNT(*) AS cnt
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents) x
       |  GROUP BY doc_id, t
       |), qual AS (
       |  SELECT doc_id,
       |    (SUM(cnt) BETWEEN 10 AND 100000)
       |      AND (CAST(SUM(length(t)*cnt) AS DOUBLE) / SUM(cnt) BETWEEN 2.0 AND 10.0)
       |      AND CAST(SUM(CASE WHEN regexp_matches(t, '[a-z]') THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) >= 0.8
       |      AND CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) <= 0.2
       |      AND CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) <= 0.6
       |      AS keep_quality
       |  FROM wcnt GROUP BY doc_id
       |), sh5 AS (
       |  SELECT doc_id, CASE WHEN len(th) >= $ContamN THEN list_distinct(
       |    list_transform(range(0, len(th)-$ContamN+1),
       |      i -> list_reduce(th[i+1:i+$ContamN], (a,b) -> (a*131 + b) % $p)))
       |    ELSE [] END AS sh FROM toks
       |), ev AS (
       |  SELECT DISTINCT unnest(sh) AS h FROM sh5 WHERE doc_id % 10 = 0
       |), contam AS (
       |  SELECT t.doc_id, COUNT(*) >= 1 AS contaminated
       |  FROM (SELECT doc_id, unnest(sh) AS h FROM sh5 WHERE doc_id % 10 <> 0) t
       |  JOIN ev USING (h) GROUP BY t.doc_id
       |), srccnt AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
       |srcw AS (SELECT source, n_s,
       |        CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1e6) AS BIGINT) AS w_q FROM srccnt),
       |srct AS (SELECT CAST(SUM(w_q) AS BIGINT) AS total_q,
       |             CAST(SUM(n_s) AS BIGINT) AS n_total FROM srcw),
       |srcr AS (SELECT source,
       |        CAST(floor(least(1.0,
       |          CAST(CAST(floor(CAST(n_total AS DOUBLE) * 0.3) AS BIGINT) AS DOUBLE)
       |            * (CAST(w_q AS DOUBLE) / CAST(total_q AS DOUBLE))
       |            / CAST(n_s AS DOUBLE)) * $p) AS BIGINT) AS thr
       |      FROM srcw CROSS JOIN srct),
       |samp AS (
       |  SELECT d.doc_id,
       |    (list_reduce(list_transform(string_split(d.text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |       (acc, x) -> (acc*31 + x) % $p) * $m % $p) * $m % $p < r.thr AS sampled
       |  FROM documents d JOIN srcr r USING (source)
       |), flags AS (
       |  SELECT d.doc_id, d.source,
       |    CAST(len(list_distinct(string_split(trim(d.text), ' '))) AS BIGINT) AS score,
       |    CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) AS n_tokens,
       |    d.doc_id % 10 <> 0 AS is_train,
       |    c.is_cluster_dup, q.keep_quality,
       |    COALESCE(ct.contaminated, FALSE) AS contaminated, sa.sampled,
       |    (d.doc_id % 10 <> 0) AND NOT c.is_cluster_dup AND q.keep_quality
       |      AND NOT COALESCE(ct.contaminated, FALSE) AND sa.sampled AS candidate
       |  FROM documents d
       |  JOIN comp c USING (doc_id) JOIN qual q USING (doc_id)
       |  LEFT JOIN contam ct USING (doc_id) JOIN samp sa USING (doc_id)
       |), sel AS (
       |  SELECT doc_id, TRUE AS selected FROM (
       |    SELECT doc_id, SUM(n_tokens) OVER (PARTITION BY source
       |      ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM flags WHERE candidate) t WHERE cum <= $TokenBudget
       |)
       |SELECT f.doc_id, f.source, f.is_train, f.is_cluster_dup, f.keep_quality,
       |  f.contaminated, f.sampled, COALESCE(s.selected, FALSE) AS selected
       |FROM flags f LEFT JOIN sel s USING (doc_id) ORDER BY f.doc_id""".stripMargin
  }

  // ---- incremental corpus ingest (the nightly-delta production shape) ------
  /** [[corpusBuild]] is the batch rebuild; THIS is what actually runs
    * every night at 100 TB: only the DELTA (doc_id ≡ 0 mod 5) is scored,
    * and every probe against the standing corpus is shaped so its cost
    * tracks the delta — chunk membership via a Bloom sketch of corpus
    * chunk hashes (semi-join reduction, no false negatives), near-dup via
    * the banded-minhash delta-vs-corpus join, quality on delta rows only,
    * decontamination against the broadcast eval shingle set (eval =
    * doc_id ≡ 3 mod 10, disjoint from the delta), and temperature
    * sampling with thresholds computed from the CORPUS mix (a delta doc
    * of an unseen source is maximally rare → kept). Output per delta
    * doc: (doc_id, source, chunk_dup, near_dup, keep_quality,
    * contaminated, sampled, admitted). */
  def corpusIngest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    def chunks(df: DataFrame) =
      Sequence.chunkTokens(df, "doc_id", "text", SeqDedupW, SeqDedupW)
        .select(col("doc_id"), md5(col("chunk_text")).as("chunk_hash"))
    val chunkDup = Dedup.bloomMembership(chunks(delta), chunks(corpus),
        "doc_id", "chunk_hash", expectedItems = 100000L)
      .select(col("new_id").as("doc_id")).distinct()
      .withColumn("chunk_dup", lit(true))
    val nearDup = Dedup.minhashPairsAgainst(delta, corpus, "doc_id", "text",
        threshold = 0.5)
      .select(col("new_id").as("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    val qual = gopherTable(delta)
      .select(col("doc_id"), col("keep_gopher").as("keep_quality"))
    val contam = TextAnalysis.contamination(delta,
        docs.filter(col("doc_id") % 10 === 3), "doc_id", "text", ContamN)
      .select(col("doc_id"), (col("n_hits") >= 1).as("contaminated"))
    val rates = Mix.temperatureThresholds(corpus, "source", 0.3)
    val sampled = delta
      .select(col("doc_id"), col("source"), Mix.sampleHash(col("text")).as("h"))
      .join(broadcast(rates.select(col("source"), col("thr"))), Seq("source"), "left")
      .select(col("doc_id"),
        (col("h") < coalesce(col("thr"), lit(Dedup.HashMod))).as("sampled"))
    delta.select(col("doc_id"), col("source"))
      .join(chunkDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .join(qual, "doc_id")
      .join(contam, Seq("doc_id"), "left")
      .join(sampled, "doc_id")
      .select(col("doc_id"), col("source"),
        coalesce(col("chunk_dup"), lit(false)).as("chunk_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        col("keep_quality"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"),
        col("sampled"))
      .withColumn("admitted", !col("chunk_dup") && !col("near_dup") &&
        col("keep_quality") && !col("contaminated") && col("sampled"))
      .orderBy(col("doc_id"))
  }
  val corpusIngestSql: String = {
    val p = P
    val m = graft.operators.Mix.ScrambleM
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
       |), nck AS (
       |  SELECT doc_id, tk, len(tk) AS n,
       |         1 + CAST(ceil(greatest(len(tk) - $SeqDedupW, 0) / CAST($SeqDedupW AS DOUBLE)) AS INTEGER) AS n_chunks
       |  FROM tk
       |), ch AS (
       |  SELECT doc_id, md5(array_to_string(tk[k*$SeqDedupW + 1 : least((k+1)*$SeqDedupW, n)], ' ')) AS h
       |  FROM (SELECT doc_id, tk, n, unnest(range(0, n_chunks)) AS k FROM nck) e
       |), cd AS (
       |  SELECT DISTINCT a.doc_id FROM ch a JOIN ch b ON a.h = b.h AND b.doc_id % 5 <> 0
       |  WHERE a.doc_id % 5 = 0
       |), toks AS (
       |  SELECT doc_id, list_transform(string_split(trim(text), ' '), $polyHashLambda) AS th
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, CASE WHEN len(th) >= 3 THEN list_distinct(
       |    list_transform(range(0, len(th)-3+1),
       |      i -> ((th[i+1]*131 + th[i+2]) % $p * 131 + th[i+3]) % $p))
       |    ELSE [] END AS sh FROM toks
       |), sig AS (
       |  SELECT doc_id, list_transform(range(0,16), j ->
       |    list_min(list_transform(sh, h -> ((2*j+1)*h + 7919*j + 12345) % $p))) AS sig
       |  FROM sh
       |), mh AS (
       |  SELECT doc_id, bk.band AS band, bk.key AS key FROM (
       |    SELECT doc_id, unnest(list_transform(range(0,4), b ->
       |      {'band': b, 'key': list_reduce(sig[b*4+1:b*4+4], (acc,x) -> (acc*1000003 + x) % $p)})) AS bk
       |    FROM sig)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
       |  FROM mh a JOIN mh b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
       |), nd AS (
       |  SELECT DISTINCT new_id AS doc_id
       |  FROM cand JOIN sh sa ON sa.doc_id = new_id JOIN sh sb ON sb.doc_id = old_id
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |    (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)) >= 0.5
       |), wcnt AS (
       |  SELECT doc_id, t, COUNT(*) AS cnt
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
       |        FROM documents WHERE doc_id % 5 = 0) x
       |  GROUP BY doc_id, t
       |), qual AS (
       |  SELECT doc_id,
       |    (SUM(cnt) BETWEEN 10 AND 100000)
       |      AND (CAST(SUM(length(t)*cnt) AS DOUBLE) / SUM(cnt) BETWEEN 2.0 AND 10.0)
       |      AND CAST(SUM(CASE WHEN regexp_matches(t, '[a-z]') THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) >= 0.8
       |      AND CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) <= 0.2
       |      AND CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) <= 0.6
       |      AS keep_quality
       |  FROM wcnt GROUP BY doc_id
       |), sh5 AS (
       |  SELECT doc_id, CASE WHEN len(th) >= $ContamN THEN list_distinct(
       |    list_transform(range(0, len(th)-$ContamN+1),
       |      i -> list_reduce(th[i+1:i+$ContamN], (a,b) -> (a*131 + b) % $p)))
       |    ELSE [] END AS sh FROM toks
       |), ev AS (
       |  SELECT DISTINCT unnest(sh) AS h FROM sh5 WHERE doc_id % 10 = 3
       |), ct AS (
       |  SELECT t.doc_id, COUNT(*) >= 1 AS contaminated
       |  FROM (SELECT doc_id, unnest(sh) AS h FROM sh5 WHERE doc_id % 5 = 0) t
       |  JOIN ev USING (h) GROUP BY t.doc_id
       |), srccnt AS (SELECT source, COUNT(*) AS n_s FROM documents WHERE doc_id % 5 <> 0 GROUP BY source),
       |srcw AS (SELECT source, n_s,
       |        CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1e6) AS BIGINT) AS w_q FROM srccnt),
       |srct AS (SELECT CAST(SUM(w_q) AS BIGINT) AS total_q,
       |             CAST(SUM(n_s) AS BIGINT) AS n_total FROM srcw),
       |srcr AS (SELECT source,
       |        CAST(floor(least(1.0,
       |          CAST(CAST(floor(CAST(n_total AS DOUBLE) * 0.3) AS BIGINT) AS DOUBLE)
       |            * (CAST(w_q AS DOUBLE) / CAST(total_q AS DOUBLE))
       |            / CAST(n_s AS DOUBLE)) * $p) AS BIGINT) AS thr
       |      FROM srcw CROSS JOIN srct),
       |samp AS (
       |  SELECT d.doc_id,
       |    (list_reduce(list_transform(string_split(d.text, ''), c -> CAST(ascii(c) AS BIGINT)),
       |       (acc, x) -> (acc*31 + x) % $p) * $m % $p) * $m % $p
       |      < COALESCE(r.thr, $p) AS sampled
       |  FROM documents d LEFT JOIN srcr r USING (source) WHERE d.doc_id % 5 = 0
       |)
       |SELECT d.doc_id, d.source,
       |  cd.doc_id IS NOT NULL AS chunk_dup,
       |  nd.doc_id IS NOT NULL AS near_dup,
       |  q.keep_quality,
       |  COALESCE(ct.contaminated, FALSE) AS contaminated,
       |  sa.sampled,
       |  cd.doc_id IS NULL AND nd.doc_id IS NULL AND q.keep_quality
       |    AND NOT COALESCE(ct.contaminated, FALSE) AND sa.sampled AS admitted
       |FROM documents d
       |LEFT JOIN cd ON cd.doc_id = d.doc_id
       |LEFT JOIN nd ON nd.doc_id = d.doc_id
       |JOIN qual q ON q.doc_id = d.doc_id
       |LEFT JOIN ct ON ct.doc_id = d.doc_id
       |JOIN samp sa ON sa.doc_id = d.doc_id
       |WHERE d.doc_id % 5 = 0 ORDER BY d.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------------

  // ---- rendezvous shard→worker placement -----------------------------------
  private val RvShards = 16
  private val RvWorkers = 5

  /** Shard→worker placement by rendezvous hashing
    * ([[graft.operators.Sequence.rendezvousAssign]]) with the balance
    * report an operator actually reads: docs bucket into 16 shards
    * (doc_id mod — the stable unit of placement), each shard goes to
    * its highest-random-weight worker among 5, and the output is the
    * per-worker (n_shards, n_docs) load. The assignment is a pure
    * integer function of (shard, worker) — engine-replayed bitwise —
    * and worker-set-size-independent, which is the whole point:
    * draining one worker moves ONLY its shards (spec-pinned in
    * `SequenceSpec`), where a mod-placement would reshuffle the
    * cluster. The 16-row assignment broadcasts back onto the doc
    * table; docs are scanned once. */
  def assignRendezvous(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % RvShards).as("shard"))
    val asg = Sequence.rendezvousAssign(
      docs.select(col("shard")).distinct(), "shard", RvWorkers)
    docs.join(broadcast(asg), "shard")
      .groupBy(col("worker"))
      .agg(countDistinct(col("shard")).as("n_shards"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("worker"))
  }
  val assignRendezvousSql: String = {
    val p = Dedup.HashMod
    val m = Mix.ScrambleM
    s"""WITH sh AS (SELECT DISTINCT doc_id % $RvShards AS shard FROM documents),
       |sc AS (
       |  SELECT shard, w.worker AS worker,
       |    ((shard + 1) * $m % $p + w.worker + 1) * $m % $p * $m % $p AS score
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, $RvWorkers)) AS worker) w
       |), asg AS (
       |  SELECT shard, MAX(score * $RvWorkers + worker) % $RvWorkers AS worker
       |  FROM sc GROUP BY shard)
       |SELECT a.worker AS worker, COUNT(DISTINCT d.doc_id % $RvShards) AS n_shards,
       |  COUNT(*) AS n_docs
       |FROM documents d JOIN asg a ON a.shard = d.doc_id % $RvShards
       |GROUP BY a.worker ORDER BY worker""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("assign_rendezvous", assignRendezvous, assignRendezvousSql),
    QueryDef("assign_dense_ids", assignDenseIds, assignDenseIdsSql),
    QueryDef("corpus_ingest", corpusIngest, corpusIngestSql),
    QueryDef("corpus_build", corpusBuild, corpusBuildSql),
    QueryDef("chunk_windows", chunkWindows, chunkWindowsSql),
    QueryDef("pack_sequences", packSequences, packSequencesSql),
    QueryDef("pack_stats", packStats, packStatsSql),
    QueryDef("text_repetition", textRepetition, textRepetitionSql),
    QueryDef("quality_gopher", qualityGopher, qualityGopherSql),
    QueryDef("dedup_chunks", dedupChunks, dedupChunksSql),
    QueryDef("decontaminate", decontaminate, decontaminateSql),
    QueryDef("shuffle_shards", shuffleShards, shuffleShardsSql),
    QueryDef("mix_epochs", mixEpochs, mixEpochsSql),
    QueryDef("budget_select", budgetSelect, budgetSelectSql),
    QueryDef("budget_select_weighted", budgetSelectWeighted, budgetSelectWeightedSql),
    QueryDef("dedup_clusters", dedupClusters, dedupClustersSql),
    QueryDef("dedup_soft_weights", dedupSoftWeights, dedupSoftWeightsSql),
    QueryDef("dedup_clusters_incremental", dedupClustersIncremental, dedupClustersSql),
    QueryDef("split_leakage_safe", splitLeakageSafe, splitLeakageSafeSql),
    QueryDef("split_cv_folds", splitCvFolds, splitCvFoldsSql))
}
