package graft.operators

import org.apache.spark.sql.{graftExpr, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate, CollectTopK}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import graft.functions.{BandKeysExpr, MinHashSigExpr, PolyHashExpr, SeqShingleHashesExpr, ShingleHashesExpr, SimHashExpr}
import graft.sources.StoredIndex

/** Deduplication operators for large-scale text corpora: exact (hash),
  * MinHash+LSH banding (Broder 1997), SimHash (Charikar, STOC 2002), and
  * blocked n-gram Jaccard with PPJoin-style prefix filtering (Xiao, Wang,
  * Lin, Yu — WWW 2008).
  *
  * Everything is built from built-in expressions (no UDFs) and
  * deterministic integer arithmetic, so results are reproducible across
  * engines (the DuckDB oracle re-implements the same math) and across
  * cluster sizes.
  *
  * Scale shapes (the part that matters at 100 TB):
  *  - exact: one shuffle on the content hash, map-side partial agg first.
  *  - text is hashed ONCE per token by a fused native kernel (HashOps,
  *    codegen'd — the same math as interpreted higher-order lambdas was
  *    ~3000× slower); shingles are composed arithmetically from token
  *    hashes and carried as longs — no n-gram strings are materialized.
  *  - minhash: banding shuffles on (band, key) — only docs sharing a band
  *    key ever meet, the all-pairs product never materializes. Candidate
  *    pairs are deduplicated BEFORE shingle sets are re-joined, so wide
  *    arrays cross the shuffle once per doc, not once per band.
  *  - simhash: pure projection — zero shuffles.
  *  - ngram blocked pairs: equi-join on a length-bucket blocking key, so
  *    the cross product is bounded per bucket instead of global.
  */
object Dedup {

  val HashMod = 1000000007L

  /** Deterministic polynomial rolling hash of a string column (31-base,
    * mod 1e9+7) — matches `(acc*31 + code(c)) % p` left fold exactly in
    * any engine. Native codegen'd kernel (HashOps.polyHash). */
  def polyHash(c: Column): Column =
    graftExpr.column(PolyHashExpr(graftExpr.expression(c)))

  /** Distinct word n-gram shingle HASHES of a text column (default
    * 3-grams): tokens are polyHash'd once, an n-gram hash is the 131-base
    * fold of its token hashes. Empty for texts shorter than n tokens.
    * Native codegen'd kernel (HashOps.shingleHashes). */
  def shingleHashes(text: Column, n: Int = 3): Column =
    graftExpr.column(ShingleHashesExpr(graftExpr.expression(text), n))

  /** ORDERED positional n-gram shingle hashes: one hash per n-gram START
    * POSITION (array index = position, non-distinct) — the positional
    * variant of [[shingleHashes]] for span-level work, where WHERE a
    * duplicated n-gram sits matters, not just that it occurs. Native
    * codegen'd kernel (HashOps.seqShingleHashes). */
  def seqShingleHashes(text: Column, n: Int = 5): Column =
    graftExpr.column(SeqShingleHashesExpr(graftExpr.expression(text), n))

  /** Span-level exact-substring dedup (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" exact-substring setting):
    * find WHERE duplicated ≥n-token runs sit in each document, not just
    * which documents overlap. A position is duplicated iff its n-gram
    * occurs in ≥2 distinct documents; maximal runs of consecutive
    * duplicated positions merge into spans (gaps-and-islands: pos −
    * row_number over pos is constant exactly on a consecutive run). A
    * span of s consecutive duplicated n-gram positions covers s+n−1
    * tokens — the removable substring.
    *
    * Scale shape: the positional explode is a projection (narrow
    * (id, pos, h) rows — no n-gram strings ever materialize); the
    * duplicated-hash set is one groupBy(h) with map-side partial
    * distinct-count; the position semi-join shuffles on h; the run-length
    * merge windows per DOCUMENT, so each window partition is bounded by
    * document length regardless of corpus size — no global sort anywhere.
    * Output: (idCol, span_start, span_tokens, n_shingles), span_start =
    * 0-based token index. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 5): DataFrame = {
    // the positional explode feeds BOTH the duplicated-hash aggregation
    // and the position semi-join — one materialization of the narrow
    // (id, pos, h) rows instead of hashing the corpus twice
    val seq = df.select(col(idCol).as("id"),
      posexplode(seqShingleHashes(col(textCol), n)).as(Seq("pos", "h")))
      .localCheckpoint()
    val dup = seq.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val hits = seq.join(dup, "h").select(col("id"), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    hits.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + n).as("span_tokens"),
        count(lit(1)).as("n_shingles"))
      .select(col("id").as(idCol), col("span_start"),
        col("span_tokens"), col("n_shingles"))
  }

  /** The remediation half of span-level dedup (Lee et al. 2022: remove
    * every duplicated substring occurrence EXCEPT the first): rewrite
    * each document with the tokens of non-owning duplicated n-gram
    * instances dropped. Ownership is global and deterministic — for each
    * n-gram hash the owner is the minimum (doc, position) instance key —
    * so within-doc repeats and cross-doc boilerplate both collapse to one
    * surviving copy, on any cluster layout.
    *
    * Scale shape: narrow (id, pos, h) posting rows; one groupBy(h) for
    * owner + occurrence count (map-side combinable); removable positions
    * expand to covered token indices with a generator (no shuffle); one
    * left-anti equi-join drops covered tokens; reassembly is a per-doc
    * collect_list bounded by document length. NO windows anywhere.
    * Output: (idCol, n_tokens, n_removed, clean_text). */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 5): DataFrame = {
    val seq = df.select(col(idCol).as("id"),
      posexplode(seqShingleHashes(col(textCol), n)).as(Seq("pos", "h")))
      // scalar instance key (pos < 1e6 by construction, as dedup_chunks)
      .withColumn("inst", col("id") * 1000000L + col("pos"))
      // ownership aggregation + removable-position join both read this —
      // materialize the narrow posting rows once
      .localCheckpoint()
    val own = seq.groupBy(col("h"))
      .agg(min(col("inst")).as("first_inst"), count(lit(1)).as("cnt"))
    val removable = seq.join(own, "h")
      .filter(col("cnt") >= 2 && col("inst") =!= col("first_inst"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("tok"))
      .distinct()
    val toks = df.select(col(idCol).as("id"),
      posexplode(split(trim(col(textCol)), " ")).as(Seq("tok", "t")))
    val rebuilt = toks.join(removable, Seq("id", "tok"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("tok"), col("t")))).as("arr"))
      .select(col("id"), col("n_kept"),
        concat_ws(" ", col("arr.t")).as("clean_text"))
    df.select(col(idCol).as("id"),
        size(split(trim(col(textCol)), " ")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** k-element MinHash signature from hashed shingles, using the affine
    * family h_j(x) = ((2j+1)x + 7919j + 12345) mod p; NULL for an empty
    * shingle set (mirrors array_min(empty)). */
  def minhashSignature(hashes: Column, k: Int = 16): Column =
    graftExpr.column(MinHashSigExpr(graftExpr.expression(hashes), k))

  /** Collapse `rows` signature values per band into one join key (banded
    * LSH). A fold combine keeps the key numeric (collisions only ever add
    * candidates, which the verify step filters). */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    graftExpr.column(BandKeysExpr(graftExpr.expression(sig), bands, rows))

  /** Exact-duplicate canonical mapping: md5 content hash → representative
    * (min id). Returns (idCol, content_hash, rep_id, is_dup, n_copies). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(col(idCol), md5(col(textCol)).as("content_hash"))
    val reps = hashed.groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))
    hashed.join(reps, "content_hash")
      .select(col(idCol), col("content_hash"), col("rep_id"),
        (col(idCol) =!= col("rep_id")).as("is_dup"), col("n_copies"))
  }

  /** Normalize-then-exact dedup — the "fuzzy-exact" first pass of
    * production curation stacks (Dolma/CCNet run it before any LSH):
    * lowercase, punctuation → space, whitespace runs collapsed, THEN the
    * same content-hash grouping as [[exactDedup]]. Catches the dominant
    * real-world near-dup class (same text re-crawled with different
    * casing/punctuation/spacing) at exact-dedup cost — one codegen'd
    * normalization projection and one hash groupBy; no pair generation,
    * no shingles. Output: [[exactDedup]]'s contract keyed on the
    * NORMALIZED hash, plus `changed` (doc differed from its normal form —
    * the knob distinguishing "caught only because of normalization"). */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "), " +", " "))
    val hashed = df.select(col(idCol), md5(norm).as("norm_hash"),
      (norm =!= col(textCol)).as("changed"))
    val reps = hashed.groupBy(col("norm_hash"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))
    hashed.join(reps, "norm_hash")
      .select(col(idCol), col("norm_hash"), col("rep_id"),
        (col(idCol) =!= col("rep_id")).as("is_dup"), col("n_copies"),
        col("changed"))
  }

  /** Per-doc shingle-hash-set table (id, sh ARRAY<BIGINT>). Cheap enough
    * (fused native kernel) to recompute per use — no cache barrier, which
    * keeps the whole pipeline inside one codegen'd stage per branch. */
  private def shingleTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), shingleHashes(col(textCol)).as("sh"))

  /** LSH candidate pairs verified by exact shingle Jaccard ≥ threshold.
    * Output: (id_a, id_b, jaccard). Only candidates sharing ≥1 band key
    * are ever compared; pairs are dedup'd before shingles are re-joined.
    *
    * `bucketCap` bounds the band-key self-join's worst case: inside one
    * bucket the candidate product is quadratic, and a boilerplate-heavy
    * corpus (thousands of near-identical docs all sharing band keys)
    * degenerates a hot bucket into a task-killing cross product. Each
    * bucket keeps its `bucketCap` LOWEST ids via a bounded CollectTopK
    * aggregation (map-side partial, ≤ cap ids per bucket per partition
    * ever shuffle — never a per-bucket window sort, which would hand the
    * whole hot bucket to one task), so per-bucket candidates are ≤
    * cap²/2 regardless of skew — the same defuse as
    * [[Similarity.bandedNearDupPairs]] and [[blockedNgramPairs]]' dfCap.
    * Recall trade, explicit: an id outside the cap contributes no pairs
    * from that bucket — a pair is missed only if in EVERY band the two
    * docs share, at least one of them is capped out. Min-id determinism
    * means the kept set is stable (the cluster's lowest ids — exactly
    * the representatives downstream clustering elects), not sampled. At
    * the default cap a bucket must exceed 1024 near-identical docs
    * before anything is dropped, and the min-id core that survives
    * still witnesses the cluster — the same contract as the banded
    * embedding variant.
    *
    * `failOnCap` is the oracle-parity guard: the DuckDB twins of the
    * graded queries model NO cap, so a bucket that actually overflows
    * would silently hash-mismatch. With failOnCap the aggregation
    * collects cap+1 ids (one sentinel slot — free for every bucket under
    * the cap) and a bucket that fills it raises in-plan, turning a
    * silent divergence into a loud failure at the exact corpus that
    * needs the cap raised or the capped (ungraded) production call. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, k: Int = 16, bands: Int = 4,
                   bucketCap: Int = 1024, failOnCap: Boolean = false): DataFrame = {
    val (cand, sh) = minhashCandidates(df, idCol, textCol, k, bands,
      bucketCap, failOnCap)
    jaccardVerify(cand, sh, threshold)
  }

  /** SELF-EVALUATION of the banded-MinHash candidate generator — the
    * "measure, don't guess" answer to "what recall does this band/row
    * configuration actually buy on MY corpus?". Ground truth is the
    * EXACT Jaccard-≥-threshold pair set, computed losslessly via a
    * shingle posting join (a pair with J ≥ t > 0 shares ≥ 1 shingle, so
    * posting candidates ⊇ truth — the same lossless-candidates-then-
    * verify shape as [[containmentPairs]], which is why the oracle can
    * state the naive all-pairs form). Against it, the banded candidate
    * set (BEFORE Jaccard verification — the verify step makes final
    * precision 1 by construction, so the interesting numbers are
    * candidate-generation recall, which verification cannot recover,
    * and raw-candidate precision, which prices the verification work).
    * One row: (n_truth, tp, fn, n_cand, recall_ppm, precision_ppm),
    * integer ppm with GREATEST(·,1) denominators so an empty corpus
    * reads 0, never a divide error. Scale contract: the truth arm is
    * Σ df² posting work — at 100 TB this runs over an eval SAMPLE
    * (recall estimates concentrate fast), never the full corpus; the
    * banded arm is the production shape either way. */
  def lshRecallEval(df: DataFrame, idCol: String, textCol: String,
                    threshold: Double, k: Int = 16, bands: Int = 4,
                    bucketCap: Int = 1024,
                    failOnCap: Boolean = false): DataFrame = {
    val (cand, sh) = minhashCandidates(df, idCol, textCol, k, bands,
      bucketCap, failOnCap)
    recallConfusion(exactTruthPairs(sh, threshold), cand)
  }

  /** Multiplicative-hash document sample gate shared by the sampled eval
    * and its oracle twin: Knuth's 2654435761 residue mod [[HashMod]],
    * keep `sampleKeep` of `sampleMod` residue classes. Pure integer
    * arithmetic on positive operands — engine-identical, zero RNG — and
    * decorrelated from id ASSIGNMENT order (consecutive ids land in
    * different classes), unlike a bare `id % mod`. */
  val SampleHashA = 2654435761L
  private def inDocSample(id: Column, sampleMod: Int, sampleKeep: Int): Column =
    (id * lit(SampleHashA)) % lit(HashMod) % lit(sampleMod.toLong) <
      lit(sampleKeep.toLong)

  /** SAMPLED-TRUTH form of [[lshRecallEval]] — the shape a 100 TB corpus
    * actually runs (the full arm's scale contract made concrete). The
    * banded candidate generator still runs over the FULL corpus — that
    * is the production mining pass being measured — but exact-Jaccard
    * ground truth is computed only over a deterministic hash-sample of
    * documents ([[inDocSample]]: keep 2 of 5 residue classes by
    * default), and recall/precision are read off the sampled PAIR set
    * (both endpoints in-sample). Every sampled truth pair is equally a
    * full-corpus truth pair and its candidate status is unchanged by
    * sampling (band keys are per-doc), so sampled recall is an unbiased
    * estimate of full-corpus candidate recall, at truth cost
    * fraction² ≈ 16% of the full arm's Σ df² posting work — the knob a
    * warehouse turns all the way down to a fixed eval-sample size.
    * Output schema identical to the full arm; graded against a DuckDB
    * twin that replays the identical residue gate. */
  def lshRecallEvalSampled(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, k: Int = 16, bands: Int = 4,
                           sampleMod: Int = 5, sampleKeep: Int = 2,
                           bucketCap: Int = 1024,
                           failOnCap: Boolean = false): DataFrame = {
    val (cand, sh) = minhashCandidates(df, idCol, textCol, k, bands,
      bucketCap, failOnCap)
    val shS = sh.filter(inDocSample(col("id"), sampleMod, sampleKeep))
    val candS = cand.filter(
      inDocSample(col("id_a"), sampleMod, sampleKeep) &&
        inDocSample(col("id_b"), sampleMod, sampleKeep))
    recallConfusion(exactTruthPairs(shS, threshold), candS)
  }

  /** Exact Jaccard-≥-threshold ground truth over a shingle table, via
    * the lossless posting join (a pair with J ≥ t > 0 shares ≥ 1
    * shingle, so posting candidates ⊇ truth). */
  private def exactTruthPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val posted = sh.select(col("id"), explode(col("sh")).as("h"))
    val truthCand = posted.as("a").join(posted.as("b"), "h")
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    jaccardVerify(truthCand, sh, threshold).select(col("id_a"), col("id_b"))
  }

  /** One confusion row (n_truth, tp, fn, n_cand, recall_ppm,
    * precision_ppm) from a truth pair set and a candidate pair set —
    * integer ppm with GREATEST(·,1) denominators so an empty corpus
    * reads 0, never a divide error. */
  private def recallConfusion(truth: DataFrame, cand: DataFrame): DataFrame = {
    val flagged = truth.join(cand.withColumn("in_cand", lit(1)),
      Seq("id_a", "id_b"), "left")
    val truthAgg = flagged.agg(
      count(lit(1)).as("n_truth"), count(col("in_cand")).as("tp"))
    val candAgg = cand.agg(count(lit(1)).as("n_cand"))
    truthAgg.crossJoin(broadcast(candAgg))
      .select(col("n_truth"), col("tp"),
        (col("n_truth") - col("tp")).as("fn"), col("n_cand"),
        expr("tp * 1000000L div greatest(n_truth, 1L)").as("recall_ppm"),
        expr("tp * 1000000L div greatest(n_cand, 1L)").as("precision_ppm"))
  }

  /** The LSH candidate block shared by [[minhashPairs]] and
    * [[containmentPairs]]: banded-signature bucket join with the
    * bounded-CollectTopK hot-bucket cap. Returns (candidate pairs,
    * shingle table). */
  private def minhashCandidates(df: DataFrame, idCol: String,
                                textCol: String, k: Int, bands: Int,
                                bucketCap: Int,
                                failOnCap: Boolean): (DataFrame, DataFrame) = {
    val rows = k / bands
    val sh = shingleTable(df, idCol, textCol)
    val mh = sh
      .select(col("id"), minhashSignature(col("sh"), k).as("sig"))
      .select(col("id"), posexplode(bandKeys(col("sig"), bands, rows)).as(Seq("band", "key")))
    val collectN = if (failOnCap) bucketCap + 1 else bucketCap
    val capIds = graftExpr.column(
      new CollectTopK(graftExpr.expression(col("id")), collectN, true)
        .toAggregateExpression())
    val agged = mh.groupBy(col("band"), col("key")).agg(capIds.as("ids"))
    val guarded =
      if (failOnCap) agged.withColumn("ids",
        when(size(col("ids")) > lit(bucketCap), raise_error(concat(
          lit(s"minhashPairs: band bucket exceeded bucketCap=$bucketCap (band="),
          col("band"), lit(", key="), col("key"),
          lit(") — oracle parity would silently break; raise the cap or use the capped call"))))
          .otherwise(col("ids")))
      else agged
    val capped = guarded
      .select(col("band"), col("key"), explode(col("ids")).as("id"))
    val cand = capped.as("a").join(capped.as("b"), Seq("band", "key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    (cand, sh)
  }

  /** ASYMMETRIC near-dup: shingle CONTAINMENT of the smaller set in the
    * larger — |A∩B| / |A| with A the smaller side — so a short document
    * quoted or embedded whole inside a long one scores 10⁶ ppm where
    * Jaccard, diluted by the long side's size, misses it entirely (the
    * quote/subset/excerpt case every crawl dedup hits). Minhash bands
    * CANNOT seed this op: band collision probability tracks Jaccard,
    * which is exactly what containment pairs lack. Candidates instead
    * come from a containment-bound prefix filter (PPJoin's theorem
    * restated for this denominator): containment ≥ t needs overlap
    * ≥ ⌈t·n_A⌉, so B must share at least one of A's first
    * n_A − ⌈t·n_A⌉ + 1 shingles in the global rarest-first (df, h)
    * order — LOSSLESS while every shingle's df stays ≤ `dfCap`. The join
    * is small-side prefix rows against full posting rows, both df-capped
    * (`dfCap` bounds the posting lists that square on boilerplate
    * shingles). The cap is a RECALL trade: a shingle whose df exceeds it
    * drops out of both the prefix ranking and the posting side while n
    * stays the full set size, so a pair whose only shared shingles are
    * high-df boilerplate is silently lost. `failOnCap` is the
    * oracle-parity guard (the same contract as [[minhashPairs]]'): the
    * DuckDB twin models NO cap, so the graded call raises IN-PLAN the
    * moment any shingle's df actually exceeds the cap — the raise is
    * wired through the live `df` ordering column, so pruning cannot drop
    * it — turning silent quadratic-or-lossy behavior into a loud failure
    * at exactly the corpus that needs the cap raised or the capped
    * (ungraded) production call. Direction is canonical:
    * (n, id)-lexicographic, id_a the smaller set. cont_ppm =
    * ⌊inter·10⁶ / n_a⌋ — long floor division, operands non-negative,
    * hash-identical across engines.
    * Output: (id_a, id_b, inter, n_a, n_b, cont_ppm ≥ thresholdPpm). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       thresholdPpm: Long, dfCap: Int = 100000,
                       failOnCap: Boolean = false): DataFrame = {
    val sh = shingleTable(df, idCol, textCol)
    val ex = sh.select(col("id"), size(col("sh")).cast("long").as("n"),
      explode(col("sh")).as("h"))
    val dfAll = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val dfc =
      if (failOnCap) dfAll.withColumn("df",
        when(col("df") > lit(dfCap.toLong), raise_error(concat(
          lit(s"containmentPairs: shingle df exceeded dfCap=$dfCap (h="),
          col("h"), lit(", df="), col("df"),
          lit(") — the prefix filter would silently lose pairs; raise the cap or use the capped call"))))
          .otherwise(col("df")))
      else dfAll.filter(col("df") <= dfCap)
    val posted = ex.join(dfc, "h")
    val ranked = posted.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("df"), col("h"))))
    // prefix length n − ⌈t·n⌉ + 1, the integer ceiling in ppm arithmetic
    val pre = ranked.filter(col("rn") <=
      col("n") - expr(s"($thresholdPpm * n + 999999) DIV 1000000") + 1L)
    val cand = pre.as("a").join(posted.as("b"),
        col("a.h") === col("b.h") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.id") < col("b.id"))))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .withColumn("cont_ppm", expr("(inter * 1000000) DIV n_a"))
      .filter(col("cont_ppm") >= thresholdPpm)
  }

  /** Symmetric LOW-OVERLAP candidate mining: pairs sharing at least
    * `minShared` distinct shingles whose document frequency lies in
    * [dfMin, dfMax] — the "weak tie" graph that jaccard-thresholded
    * near-dup mining structurally cannot produce (on a corpus whose
    * duplicates are clique-forming copies, every jaccard graph closes
    * all its wedges; the count-threshold graph keeps chains A–B–C with
    * A,C unlinked, which is what link prediction ranks). Plain inverted
    * index: explode shingles, df-window, self-join on the shingle, count
    * per pair. The df WINDOW is the scale contract — df ≤ dfMax bounds
    * pair generation at Σ_h C(df_h,2) ≤ postings·dfMax/2, LINEAR in
    * corpus size for a constant cap (boilerplate shingles that would
    * square are excluded by construction, and df < dfMin ones cannot
    * pair at all); unlike [[containmentPairs]]' lossless-prefix claim
    * this op's df window IS its stated semantics, so the oracle models
    * the same window and no failOnCap arm is needed.
    * Output: (id_a < id_b, shared ≥ minShared). */
  def overlapPairs(df: DataFrame, idCol: String, textCol: String,
                   minShared: Int, dfMin: Int = 2, dfMax: Int = 20): DataFrame = {
    require(minShared >= 1 && dfMin >= 2 && dfMax >= dfMin,
      s"bad overlap window: minShared=$minShared df=[$dfMin,$dfMax]")
    val post = shingleTable(df, idCol, textCol)
      .select(col("id"), explode(col("sh")).as("h"))
    val window = post.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= lit(dfMin.toLong) && col("df") <= lit(dfMax.toLong))
      .select(col("h"))
    val kept = post.join(window, "h")
    kept.as("a").join(kept.as("b"), Seq("h"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Incremental near-dup check: ONLY the incoming batch against the
    * standing corpus (plus nothing within either side) — the production
    * shape of corpus maintenance, where re-deduping 100 TB on every
    * nightly delivery is the thing you must never do. Band keys are
    * computed for both sides, but the incoming side is a vanishing
    * fraction of the corpus, so its banded table is tiny and the join
    * cost tracks the DELTA, not the corpus. At steady state the corpus
    * band table is a materialized incremental view (append-only — new
    * docs only add band rows), so the nightly cost is
    * O(delta + matches). Output: (new_id, old_id, jaccard ≥ threshold).
    */
  def minhashPairsAgainst(newDf: DataFrame, oldDf: DataFrame, idCol: String,
                          textCol: String, threshold: Double,
                          k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    def banded(df: DataFrame) = shingleTable(df, idCol, textCol)
      .select(col("id"), minhashSignature(col("sh"), k).as("sig"))
      .select(col("id"), posexplode(bandKeys(col("sig"), bands, rows)).as(Seq("band", "key")))
    val cand = banded(newDf).as("a").join(banded(oldDf).as("b"), Seq("band", "key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    jaccardVerify2(cand, shingleTable(newDf, idCol, textCol),
        shingleTable(oldDf, idCol, textCol), threshold)
      .select(col("id_a").as("new_id"), col("id_b").as("old_id"), col("jaccard"))
  }

  // ---- materialized near-dup LSH index -------------------------------------
  // The near-dup member of the stored-index families: BM25, phrase and
  // trigram (lexical, Search), IVF (vector, Similarity.writeIvfIndex) and
  // this one share graft.sources.StoredIndex's composite lifecycle —
  // write / probe-pruned read / delta append / tombstone delete /
  // compaction, loser-errors publish.

  /** Per-doc minhash signatures (idCol, sig) of the docs with at least
    * one shingle. */
  private def lshSignatures(docs: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame =
    shingleTable(docs, idCol, textCol)
      .filter(size(col("sh")) > 0)
      .select(col("id").as(idCol), minhashSignature(col("sh"), k).as("sig"))

  /** The stats row of a [[writeLshIndex]] layout: corpus size and the
    * band layout every probe and append must hash into. */
  private final case class LshStats(nDocs: Long, k: Int, bands: Int,
                                    nBuckets: Int) {
    def rows: Int = k / bands

    /** Band rows of `sig`, bucketed by key hash (a partition column). */
    def bandRows(sig: DataFrame, idCol: String): DataFrame =
      sig.select(col(idCol),
          posexplode(bandKeys(col("sig"), bands, rows)).as(Seq("band", "key")))
        .withColumn("bucket", pmod(col("key"), lit(nBuckets.toLong)))
        .repartition(col("bucket"))
        .sortWithinPartitions(col("band"), col("key"), col(idCol))

    /** Commit as the 1-row stats component; the id column is recorded so
      * deletes and compaction resolve it from stats. */
    def commit(spark: org.apache.spark.sql.SparkSession, path: String,
               idCol: String): Long =
      StoredIndex.commit(spark.range(1).select(lit(nDocs).as("n_docs"),
        lit(k).as("k"), lit(bands).as("bands"), lit(nBuckets).as("n_buckets"),
        lit(idCol).as("id_col")), path, "stats")
  }

  private def lshStats(s: StoredIndex.Served): LshStats = {
    val r = s.read("stats").collect()(0)
    LshStats(r.getAs[Long]("n_docs"), r.getAs[Int]("k"), r.getAs[Int]("bands"),
      r.getAs[Int]("n_buckets"))
  }

  /** The id column of a [[writeLshIndex]] layout: recorded in stats;
    * a layout whose stats lack it resolves it from the band columns. */
  private def lshIdCol(s: StoredIndex.Served): String = {
    val stats = s.read("stats")
    if (stats.columns.contains("id_col"))
      stats.select(col("id_col")).collect()(0).getString(0)
    else StoredIndex.idColumn(s.read("bands"), Set("band", "key", "bucket"), "bands")
  }

  /** Materialize the near-dup LSH index: per-doc minhash SIGNATURES and
    * their banded KEYS as stored tables, so nightly deltas probe the
    * artifact instead of re-shingling the standing corpus
    * ([[minhashPairsAgainst]] is the derive-per-run form — it re-reads
    * old text every night; this is the serving form). Band rows are
    * bucketed by key hash so a probe's candidate lookup reads only the
    * buckets its own keys land in (static partition pruning — the same
    * I/O discipline as the BM25 term buckets and IVF cells). Docs with no
    * shingles (shorter than the shingle width) are excluded: they can
    * never band-collide, and excluding them keeps stored signatures
    * well-formed. Components pinned by one composite manifest: `sig/`,
    * `bands/`, `stats/`, `bloom/` — a torn write can never serve mixed
    * generations. */
  def writeLshIndex(docs: DataFrame, idCol: String, textCol: String,
                    path: String, k: Int = 16, bands: Int = 4,
                    nBuckets: Int = 32, bloomCap: Long = 1L << 22): Unit = {
    val sig = lshSignatures(docs, idCol, textCol, k).localCheckpoint()
    try {
      val sv = StoredIndex.commit(sig, path, "sig")
      val stats = LshStats(sig.count(), k, bands, nBuckets)
      val bv = StoredIndex.commit(stats.bandRows(sig, idCol), path, "bands",
        Seq("bucket"))
      val stv = stats.commit(docs.sparkSession, path, idCol)
      // id-membership Bloom sketch: what makes nightly appends O(delta) —
      // [[appendLshIndex]] gates its re-delivery check through this sketch
      // instead of anti-joining every standing signature id. `bloomCap`
      // (sketch capacity) is stored alongside the bytes because OR-merge
      // requires identical layouts; size it for the corpus's LIFETIME id
      // count (~0.9 bytes/id at 3% fpp — 4M default ≈ 3.6 MB resident).
      val blv = commitLshBloom(sig, idCol, bloomCap, path)
      StoredIndex.create(path,
        Map("sig" -> sv, "bands" -> bv, "stats" -> stv, "bloom" -> blv))
    } finally Checkpoints.release(sig)
  }

  /** Commits the 1-row (sketch, cap) `bloom/` component over `keyed`'s
    * ids. The sketch aggregates and is written on the executors, so its
    * bytes never ride a task (a 4M-id sketch is ~3.7 MB). */
  private def commitLshBloom(keyed: DataFrame, idCol: String, cap: Long,
                             path: String): Long =
    withBloomCaps(keyed.sparkSession, cap) {
      StoredIndex.commit(
        keyed.select(bloomAgg(idCol, cap).as("sketch"), lit(cap).as("cap")),
        path, "bloom")
    }

  /** Probe a [[writeLshIndex]] artifact with a delta: candidates from the
    * stored band table (bucket-pruned by the delta's own key set — the
    * justified planning-time collect, |delta bands| hashes), similarity
    * from stored SIGNATURES — est_jaccard = agreeing positions / k, the
    * unbiased minhash estimate. The standing corpus TEXT is never
    * touched: this is what "index" buys over [[minhashPairsAgainst]],
    * whose exact-Jaccard verify must re-shingle old docs. The signature
    * zip runs only on candidate pairs (post-LSH, a vanishing fraction),
    * so its lambda never touches the corpus path. Output:
    * (new_id, old_id, est_jaccard ≥ threshold). */
  def probeLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    delta: DataFrame, idCol: String, textCol: String,
                    threshold: Double): DataFrame = {
    val s = StoredIndex.served(spark, path)
    val st = lshStats(s)
    // NOT localCheckpoint'd: the returned frame would pin the blocks with
    // no release point (a steady serving loop would accumulate storage —
    // the Checkpoints.release lesson). The delta re-signs once for the
    // bucket collect below — delta-sized, deterministic, cheap.
    val dsig = lshSignatures(delta, idCol, textCol, st.k)
      .select(col(idCol).as("new_id"), col("sig").as("nsig"))
    val dbands = dsig.select(col("new_id"), col("nsig"),
      posexplode(bandKeys(col("nsig"), st.bands, st.rows)).as(Seq("band", "key")))
    val buckets = dbands
      .select(pmod(col("key"), lit(st.nBuckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    // tombstoned docs never become candidates — a probe after a delete
    // is bit-identical to one against an index rebuilt without them
    val stored = s.live(s.read("bands").filter(col("bucket").isin(buckets: _*)), idCol)
    val cand = dbands.join(stored,
        dbands("band") === stored("band") && dbands("key") === stored("key"))
      .select(col("new_id"), col("nsig"), stored(idCol).as("old_id"))
      .dropDuplicates("new_id", "old_id")
    val osig = s.read("sig").select(col(idCol).as("old_id"), col("sig").as("osig"))
    cand.join(osig, "old_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("nsig"), col("osig"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / lit(st.k.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("old_id"), col("est_jaccard"))
  }

  /** Delta append into a [[writeLshIndex]] layout — nightly cost tracks
    * the DELTA (shingle/sign only new docs, append their band rows into
    * the existing buckets); the crash/idempotency/delete contract is
    * [[graft.sources.StoredIndex]]'s: components pin the SERVED parent,
    * the publish keeps the tombstone set, tombstoned ids raise,
    * re-delivered ids are filtered away, fully-duplicate deltas no-op,
    * and readers only ever see a published generation.
    *
    * The re-delivery check is Bloom-GATED so the append never scans the
    * standing corpus on a clean night: delta ids probe the stored `bloom/`
    * sketch LOCALLY (a plan literal — zero standing-table I/O, zero
    * shuffle). False negatives are impossible, so Bloom-negative ids are
    * provably fresh; ONLY the flagged ids (true re-deliveries + the ~3%
    * fpp) fall back to the exact semi-join against the standing signature
    * id column — and that scan is skipped entirely when nothing flags.
    * The delta's own id sketch then OR-merges into the standing sketch
    * (byte-identical to a from-scratch rebuild — the [[bloomMergeSketches]]
    * contract), keeping night N+1's gate exact-equivalent too. The band
    * append only ever CREATES files under the bucket values present in
    * the delta's band keys (`partitionBy` writes dirs for values that
    * exist); standing bucket dirs are never rewritten — small appended
    * files are [[compactLshIndex]]'s job, not the nightly's. */
  def appendLshIndex(spark: org.apache.spark.sql.SparkSession,
                     delta: DataFrame, idCol: String, textCol: String,
                     path: String): Unit = {
    val s = StoredIndex.served(spark, path)
    val st = lshStats(s)
    s.refuseResurrection(delta, idCol)
    // a layout without a `bloom/` component keeps the exact anti-join
    val bloomRow = if (s.has("bloom")) Some(s.read("bloom").collect()(0)) else None
    // `flagged` is checkpointed because it is consumed twice (the isEmpty
    // gate and the exact-fallback join); released only after `sig` below
    // has materialized — the downstream lineage reads its blocks
    var flagged: DataFrame = null
    val fresh = bloomRow match {
      case Some(br) =>
        val sketch = br.getAs[Array[Byte]]("sketch")
        flagged = bloomProbe(delta.select(col(idCol)), idCol, sketch)
          .localCheckpoint()
        if (flagged.isEmpty) delta // clean night: zero standing-table reads
        else {
          // exact fallback on ONLY the flagged ids: confirm against the
          // standing id column (the one standing scan, paid only when
          // re-delivery actually happened or fpp fired), then drop the
          // confirmed re-deliveries from the delta — `flagged` is tiny
          // (re-deliveries + fpp), so both joins broadcast it
          val confirmed = broadcast(flagged).join(
            s.read("sig").select(col(idCol)), Seq(idCol), "left_semi")
          delta.join(broadcast(confirmed), Seq(idCol), "left_anti")
        }
      case None =>
        delta.join(s.read("sig").select(col(idCol)), Seq(idCol), "left_anti")
    }
    val sig = lshSignatures(fresh, idCol, textCol, st.k).localCheckpoint()
    if (flagged != null) Checkpoints.release(flagged)
    try {
      if (sig.isEmpty) return // fully re-delivered delta: no-op
      val sv = s.append(sig, "sig")
      val bv = s.append(st.bandRows(sig, idCol), "bands", Seq("bucket"))
      val stv = st.copy(nDocs = st.nDocs + sig.count()).commit(spark, path, idCol)
      val blMap = bloomRow.map { br =>
        val cap = br.getAs[Long]("cap")
        val merged = bloomMergeSketches(br.getAs[Array[Byte]]("sketch"),
          bloomBuild(sig, idCol, cap))
        // the driver-merged sketch reaches the one writing task through
        // a broadcast, never inside the task itself
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(merged)
        "bloom" -> (try StoredIndex.commit(
            spark.range(0, 1, 1, 1).map(_ => (Option(bc.value), cap)).toDF("sketch", "cap"),
            path, "bloom")
          finally bc.destroy())
      }
      s.publish(Map("sig" -> sv, "bands" -> bv, "stats" -> stv) ++ blMap)
    } finally Checkpoints.release(sig)
  }

  /** Tombstone DELETE from a [[writeLshIndex]] layout — the near-dup
    * sibling of [[Search.deleteFromBm25Index]], same contract
    * ([[graft.sources.StoredIndex]]): O(delete set) cost (n_docs shrinks
    * by the count actually present), serving probes ([[probeLshIndex]])
    * anti-join the tombstones out of the stored band rows, appends raise
    * on resurrection attempts, and [[compactLshIndex]] physically
    * reclaims. The id-membership Bloom sketch deliberately keeps the
    * deleted ids until compaction — a Bloom cannot unlearn — which errs
    * on the side of flagging them at append time (exact fallback → the
    * loud resurrection raise), never on silently re-serving deleted
    * content. */
  def deleteFromLshIndex(spark: org.apache.spark.sql.SparkSession,
                         ids: DataFrame, path: String): Unit = {
    val s = StoredIndex.served(spark, path)
    val idCol = lshIdCol(s)
    s.delete(ids, idCol, s.read("sig").select(col(idCol))) { gone =>
      val st = lshStats(s)
      Map("stats" -> st.copy(nDocs = st.nDocs - gone.count()).commit(spark, path, idCol))
    }
  }

  /** Compact a [[writeLshIndex]] layout after a run of nightly appends
    * and deletes — the near-dup sibling of [[Search.compactBm25Index]]:
    * bands collapse back to one bucket-clustered rewrite, signatures
    * coalesce, tombstoned rows leave both, the composite republishes
    * without the tombstone set. Probe results are bit-identical; the old
    * generation time-travels until vacuumed. */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    val s = StoredIndex.served(spark, path)
    val idCol = lshIdCol(s)
    s.compact(idCol,
      StoredIndex.Rewrite("bands", Seq("bucket"), Seq("band", "key", idCol)),
      StoredIndex.Rewrite("sig")) { next =>
      // a Bloom cannot unlearn, so reclaim is the one moment the
      // membership sketch must REBUILD — from the compacted signature
      // ids, at the same capacity — or the re-add embargo would outlive
      // the tombstones
      if (s.tombstoned && s.has("bloom"))
        Map("bloom" -> commitLshBloom(next.read("sig"), idCol,
          s.read("bloom").collect()(0).getAs[Long]("cap"), path))
      else Map.empty
    }
  }

  /** Incremental EXACT dedup with Bloom semi-join reduction — the
    * standing-corpus membership probe at its cheapest: a Bloom filter
    * over the corpus content-hash set is aggregated once (bounded sketch
    * buffers, map-side partial merge — the same machinery Spark's runtime
    * row-group filtering uses), shipped to the delta scan as a literal,
    * and every delta row is pre-filtered LOCALLY before anything joins.
    * False positives are removed by the exact hash join that follows;
    * false negatives are impossible, so the OUTPUT is exactly the plain
    * join's — the Bloom stage is pure plan reduction, invisible to the
    * oracle.
    *
    * Scale shape: without the filter, every delta row shuffles into the
    * corpus join; with it, only the ~dup fraction (+fpp) does. The
    * corpus side joins as pruned (key, id) rows. The key is ANY
    * precomputed membership key — full-content hash, 32-token chunk
    * hash, eval-set shingle — which makes this the one primitive behind
    * incremental exact dedup, incremental sequence-level dedup, and
    * streaming decontamination alike. `expectedItems` sizes the sketch
    * (7.3 bits ≈ 0.9 bytes/item at the 3% fpp the aggregate targets): at
    * 1e9 corpus keys that is a ~0.9 GB resident filter — amortized over
    * every nightly delta probe, the trade the pattern exists for.
    *
    * This convenience form builds the sketch in-run (checkpointing the
    * corpus frame so sketch build + verify join share ONE materialization);
    * the steady-state pipeline instead builds the sketch once
    * ([[bloomBuild]]), stores it ([[bloomWriteSketch]]), OR-merges nightly
    * delta sketches into it ([[bloomMergeSketches]]) and probes via
    * [[bloomMembershipWith]] — corpus touched once, ever.
    * Output: (new_id, keyCol, first_old_id). */
  def bloomMembership(newKeyed: DataFrame, oldKeyed: DataFrame, idCol: String,
                      keyCol: String, expectedItems: Long): DataFrame = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    // ONE materialization of the corpus-side frame: the sketch aggregation
    // and the exact verify join both read the checkpointed rows — without
    // this the (possibly expensive: chunking, hashing) corpus lineage is
    // recomputed once per consumer, which at scale doubles the very corpus
    // pass the sketch exists to avoid
    val corpus = oldKeyed.localCheckpoint()
    bloomMembershipWith(newKeyed, corpus, idCol, keyCol,
      bloomBuild(corpus, keyCol, expectedItems))
  }

  /** Build the corpus-membership Bloom sketch ONCE as a portable artifact:
    * serialized filter bytes (`spark.util.sketch.BloomFilter` wire format)
    * that can be stored ([[bloomWriteSketch]]), OR-merged with a delta's
    * sketch ([[bloomMergeSketches]]) and probed ([[bloomProbe]]) — so the
    * nightly-delta pipeline builds the corpus sketch exactly once and
    * thereafter pays only delta-sized builds + a driver-side merge,
    * never a standing-corpus aggregation per run.
    *
    * The aggregation is the same bounded-buffer, map-side-merging
    * machinery Spark's runtime row-group filtering uses. Spark SILENTLY
    * clamps the sketch to the runtime-bloom-filter conf caps (4M items /
    * 8 MB bits by default), which at 1e9 keys would degrade the fpp toward
    * 1 and quietly stop reducing anything — so the caps are raised to fit
    * `expectedItems` for the duration of the build and RESTORED after
    * (try/finally): one build's sizing never leaks into the session.
    * Returns null for an empty corpus (no rows → no sketch). */
  def bloomBuild(keyed: DataFrame, keyCol: String, expectedItems: Long): Array[Byte] =
    withBloomCaps(keyed.sparkSession, expectedItems) {
      keyed.select(bloomAgg(keyCol, expectedItems)).collect()(0).getAs[Array[Byte]](0)
    }

  /** The [[bloomBuild]] aggregate: one serialized sketch of `keyCol`'s
    * xxhash64, null over no rows. Run it inside [[withBloomCaps]]. */
  private def bloomAgg(keyCol: String, expectedItems: Long): Column =
    graftExpr.column(
      new BloomFilterAggregate(
        graftExpr.expression(xxhash64(col(keyCol))), expectedItems)
        .toAggregateExpression())

  /** Runs `body` (which must run every job that evaluates a
    * [[bloomAgg]]) with the session's runtime-bloom-filter caps raised to
    * admit `expectedItems`, restoring them after. */
  private def withBloomCaps[T](spark: org.apache.spark.sql.SparkSession,
                               expectedItems: Long)(body: => T): T = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    val conf = spark.conf
    // optimal m for p = 0.03: −n·ln p / ln²2 ≈ 7.3 n (the aggregate's own
    // sizing formula) — the caps must admit it or the clamp is silent
    val neededBits = math.ceil(
      -expectedItems * math.log(0.03) / (math.log(2) * math.log(2))).toLong
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (items0, bits0) = (conf.get(itemsKey), conf.get(bitsKey))
    try {
      if (items0.toLong < expectedItems) conf.set(itemsKey, expectedItems.toString)
      if (bits0.toLong < neededBits) conf.set(bitsKey, neededBits.toString)
      body
    } finally { conf.set(itemsKey, items0); conf.set(bitsKey, bits0) }
  }

  /** OR-merge two sketches into one whose member set is the union — the
    * incremental-maintenance step: nightly sketch = merge(standing sketch,
    * bloomBuild(delta)). Both sides must be [[bloomBuild]]s with the SAME
    * `expectedItems` (identical bit-array size and hash count — merging is
    * a bitwise OR, so incompatible layouts are rejected loudly by the
    * sketch library). Because insertion only SETS bits, merge(build(A),
    * build(B)) is byte-identical to build(A ∪ B) — rebuild and
    * merge-delta are indistinguishable, which the spec pins. Null (empty
    * corpus) merges as the identity. */
  def bloomMergeSketches(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    if (a == null) b
    else if (b == null) a
    else {
      val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
      fa.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
      val bos = new java.io.ByteArrayOutputStream()
      fa.writeTo(bos)
      bos.toByteArray
    }
  }

  /** Persist a sketch as a 1-row parquet artifact next to the corpus it
    * summarizes (the same store-don't-rederive contract as
    * [[graft.operators.Similarity.writeIvfIndex]]). Null (empty corpus)
    * round-trips. */
  def bloomWriteSketch(spark: org.apache.spark.sql.SparkSession, path: String,
                       sketch: Array[Byte]): Unit = {
    import spark.implicits._
    Seq(Tuple1(Option(sketch))).toDF("sketch")
      .repartition(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Read a [[bloomWriteSketch]] artifact back. */
  def bloomReadSketch(spark: org.apache.spark.sql.SparkSession,
                      path: String): Array[Byte] =
    spark.read.parquet(path).collect()(0).getAs[Array[Byte]](0)

  /** The Bloom pre-filter stage alone: the delta rows whose key MIGHT be
    * in the sketch's member set, filtered LOCALLY at the scan (the sketch
    * ships as a plan literal — no shuffle, no corpus access). False
    * negatives are impossible; the false-positive rate is the sketch's fpp
    * (what the calibration spec measures). A null sketch (empty corpus)
    * admits nothing. */
  def bloomProbe(newKeyed: DataFrame, keyCol: String,
                 sketch: Array[Byte]): DataFrame =
    if (sketch == null) newKeyed.filter(lit(false))
    else newKeyed.filter(graftExpr.column(BloomFilterMightContain(
      Literal(sketch, BinaryType), graftExpr.expression(xxhash64(col(keyCol))))))

  /** [[bloomMembership]] against a PREBUILT sketch — the steady-state
    * entry point once the sketch is a stored artifact: probe the delta
    * against the sketch literal, then remove false positives with the
    * exact key join. Output: (new_id, keyCol, first_old_id) — identical
    * to the plain join's, the sketch is pure plan reduction. */
  def bloomMembershipWith(newKeyed: DataFrame, oldKeyed: DataFrame,
                          idCol: String, keyCol: String,
                          sketch: Array[Byte]): DataFrame =
    bloomProbe(newKeyed, keyCol, sketch)
      .select(col(idCol).as("new_id"), col(keyCol))
      .join(oldKeyed.select(col(keyCol), col(idCol).as("old_id")), keyCol)
      .groupBy(col("new_id"), col(keyCol))
      .agg(min(col("old_id")).as("first_old_id"))

  /** Build-then-probe in one call — the calibration spec's entry point. */
  private[graft] def bloomCandidates(newKeyed: DataFrame, oldKeyed: DataFrame,
                                     keyCol: String, expectedItems: Long): DataFrame =
    bloomProbe(newKeyed, keyCol, bloomBuild(oldKeyed, keyCol, expectedItems))

  /** Full-document exact variant of [[bloomMembership]]: key = content
    * hash. Output: (new_id, content_hash, first_old_id). */
  def exactDupsAgainstBloom(newDf: DataFrame, oldDf: DataFrame, idCol: String,
                            textCol: String, expectedItems: Long): DataFrame = {
    def keyed(df: DataFrame) =
      df.select(col(idCol), md5(col(textCol)).as("content_hash"))
    bloomMembership(keyed(newDf), keyed(oldDf), idCol, "content_hash", expectedItems)
  }

  /** Join shingle sets onto candidate (id_a, id_b) pairs and keep those
    * with exact Jaccard ≥ threshold. Integer sizes → one double division:
    * bitwise-reproducible across engines. */
  private def jaccardVerify(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    jaccardVerify2(cand, sh, sh, threshold)

  /** Incremental connected components — the nightly form of
    * [[connectedComponents]]: instead of re-running over EVERY edge ever
    * observed, the standing (id, rep) label table is COMPRESSED into its
    * star edges (each vertex → its rep; connectivity-equivalent to the
    * whole historical edge set, but exactly |vertices| narrow rows) and
    * unioned with the delta's new edges. Reps stay the true component
    * minimum: old reps carry the old minimum, and min-label propagation
    * takes the min across merged components. Cost tracks |standing
    * labels| + |delta edges|, never the historical edge count. */
  def connectedComponentsDelta(standing: DataFrame, newVertices: DataFrame,
                               newEdges: DataFrame,
                               maxIter: Int = 25): DataFrame = {
    val starEdges = standing.filter(col("id") =!= col("rep"))
      .select(col("id").as("id_a"), col("rep").as("id_b"))
    val verts = standing.select(col("id"))
      .union(newVertices.select(col("id"))).distinct()
    connectedComponents(verts,
      starEdges.union(newEdges.select(col("id_a"), col("id_b"))), maxIter)
  }

  /** As jaccardVerify but with distinct shingle tables for the two pair
    * sides (asymmetric joins, e.g. incremental new-vs-old dedup). */
  private def jaccardVerify2(cand: DataFrame, shA: DataFrame, shB: DataFrame,
                             threshold: Double): DataFrame = {
    val withSets = cand
      .join(shA.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shB.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
    withSets.withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over near-dup pair edges — the step that turns
    * pairwise dedup output into CLUSTERS with one canonical doc each
    * (min id). Iterated min-label propagation to fixpoint: each round,
    * every vertex takes the min label among itself and its neighbors,
    * then follows its label one hop through the label table (pointer
    * jumping), so convergence takes ~log₂(diameter) rounds; labels are
    * (long, long) pairs and are locally checkpointed so the plan doesn't
    * grow with rounds. [[connectedComponentsStar]] is the alternative
    * implementation with a different per-round shape (edge-set
    * contraction instead of a label table) — kept as the parity check
    * and for graphs where shrinking the EDGE set beats shrinking the
    * round count.
    *
    * SHUFFLE shape (reworked r16 — the volume twins caught the old form
    * re-exchanging the full symmetric edge set EVERY round, Θ(E·rounds)
    * bytes, j17's dominant volume term at x10, and executing the EDGE
    * PLAN twice through the symmetrizing union):
    *  - symmetrization is one explode over the edge rows (single
    *    execution of the possibly-expensive upstream pair plan), then
    *    hash-partitioned by src ONCE and locally checkpointed;
    *    LogicalRDD preserves the partitioning, so the per-round join
    *    probes it in place instead of re-shuffling it;
    *  - propagation is FRONTIER-based: only vertices whose label
    *    IMPROVED last round re-broadcast to their neighbors (a vertex
    *    with an unchanged label has nothing new to tell them — the
    *    min-label fixpoint is reached exactly when no label improves);
    *  - each round ends with a POINTER-JUMPING shortcut (rep ←
    *    labels(rep).rep, a label-table self-join — V-sized, tiny next
    *    to E): propagation distance doubles per round, so convergence
    *    takes ~log(diameter) rounds instead of diameter. On giant
    *    components (the j17 linkage graph: 30k-node components) this is
    *    the difference between 11 and ~5 E-sized propagation rounds —
    *    the dominant volume term, since the frontier does NOT shrink
    *    while ever-smaller minima keep arriving.
    * Same fixpoint as the all-vertices form: labels are monotone
    * non-increasing (a shortcut target labels(rep) is always in the
    * same component and ≤ rep), every improvement re-propagates, so the
    * converged labels are the component minima (parity vs the unblocked
    * oracle is graded on every cluster query; DedupSpec pins star-CC
    * parity).
    *
    * Output: (id, rep) for EVERY vertex, rep = min id of its component. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 25): DataFrame = {
    val conf = edges.sparkSession.sessionState.conf.numShufflePartitions
    val (wide, n) = org.apache.spark.sql.graftRdd.localCheckpointPartitionedN(
      edges
        .select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        // explicit partition COUNT (REPARTITION_BY_NUM): exempt from AQE
        // coalescing, so the declared partitioning below matches every
        // round's 32-partition join requirement exactly
        .repartition(conf, col("src")),
      // partitioning-DECLARING checkpoint: a plain localCheckpoint under
      // AQE reports UnknownPartitioning, and every round then silently
      // re-exchanges the full edge set — the Θ(E·rounds) volume term
      // (measured: a constant edge-sized shuffle per round at 10× sf0.1)
      Seq("src"))
    // Edge count is unknowable before the build (the upstream pair plan
    // is arbitrary, and Catalyst estimates of it are exactly what the
    // j17 broadcast lesson bans) — but the eager checkpoint MEASURES it
    // for free. When the graph turns out tiny (r17: sf0.1's dup graphs
    // are a few hundred edges), one extra narrow exchange over the
    // materialized blocks re-checkpoints it at the width the data
    // warrants, and every fixpoint round below then schedules 1–4-task
    // stages instead of full conf width — the dominant cost of
    // iterating on a tiny graph. Only fires when the width drops ≥8×;
    // big graphs keep the wide checkpoint untouched.
    val parts = Graph.partitionsForRows(edges.sparkSession, n)
    val sym = if (parts <= math.max(1, conf / 8) && parts < conf) {
      val narrow = org.apache.spark.sql.graftRdd.localCheckpointPartitioned(
        wide.repartition(parts, col("src")), Seq("src"))
      Checkpoints.release(wide)
      narrow
    } else wide
    // the fixpoint loop materializes every frame it keeps (labels are
    // checkpoints), so the sym blocks release here instead of pinning
    // executor storage until ContextCleaner notices (r17)
    try connectedComponentsSym(vertices, sym, maxIter)
    finally Checkpoints.release(sym)
  }

  /** [[connectedComponents]] over a CALLER-OWNED symmetrized edge
    * checkpoint: the exact frame [[Graph.symEdges]] (partKey "src")
    * returns — symmetrized, src-hash-partitioned with the partitioning
    * DECLARED, locally checkpointed. Built once per (session, dir) by
    * the [[graft.queries.DupEdges]] sym memo and shared across the five
    * cluster-consuming queries instead of rebuilt per query (r17: the
    * rebuild was a fixed eager exchange+materialize per consumer — the
    * r16 steady regression on `dedup_canonical`). Duplicate edge rows
    * and declared-key self-loops are both tolerated (min-label is
    * idempotent over both); this op never releases `sym`. */
  def connectedComponentsSym(vertices: DataFrame, sym: DataFrame,
                             maxIter: Int = 25): DataFrame = {
    // iterate ONLY over vertices that touch an edge — the dup subgraph is
    // a vanishing fraction of the corpus, so the rounds run on it alone;
    // isolated vertices are trivially their own rep and join back below.
    // distinct() over the src column keeps labels co-partitioned with sym.
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("rep")).localCheckpoint()
    // the frame whose plan ROOT is the live checkpoint — what
    // Checkpoints.release takes (labels/frontier are projections of it)
    var ck = labels
    // round 0: every touched vertex is its own candidate min — the whole
    // label set is the frontier (each edge fires exactly once here; later
    // rounds only re-fire edges whose src improved)
    var frontier = labels
    var converged = frontier.limit(1).isEmpty // empty graph: no rounds
    var iter = 0
    while (!converged && iter < maxIter) {
      val prop = sym
        .join(frontier.select(col("id").as("src"), col("rep")), "src")
        .groupBy(col("dst").as("id")).agg(min(col("rep")).as("cand"))
      // merge: prop is hash-partitioned by id from its groupBy; labels
      // come from a PLAIN localCheckpoint, which reports
      // UnknownPartitioning under AQE, so the V-sized label table IS
      // re-exchanged here (and again in the jump join) each round. That
      // is the accepted trade (r16 ADVICE): V is tiny next to E — the
      // declared-checkpoint discipline eliminates the E-sized sym
      // re-exchange, the dominant term; declaring labels too would buy
      // one V-exchange per round at the cost of an extra explicit
      // repartition exchange in every round's checkpoint build
      val merged = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("rep"), coalesce(col("cand"), col("rep"))).as("rep0"),
          coalesce(col("cand") < col("rep"), lit(false)).as("ch0"))
      // pointer jump: follow rep0 one hop through the PREVIOUS label
      // table (rep0 is always a touched vertex id, so the lookup is
      // total; labels(x).rep ≤ x keeps monotonicity). Jumping through
      // the CHECKPOINTED labels — not through `merged` itself — matters:
      // a merged self-join would execute the prop join twice (exchange
      // reuse is not reliable here — measured as every round's prop
      // exchange written twice), where the checkpoint is materialized
      // and free to probe. One round of staleness costs a constant
      // factor in rounds, not the log law. Both the edge hop and this
      // label hop mark the frontier — a vertex improved either way has
      // news for its neighbors next round. ROUND 0 SKIPS the jump: the
      // previous table is the identity labeling, so the hop is a
      // provable no-op — and round 0 is the full-frontier (most
      // expensive) round, so the skipped join is the priciest one.
      val next = (if (iter == 0) merged
        .select(col("id"), col("rep0").as("rep"), col("ch0").as("changed"))
      else merged.join(
          labels.select(col("id").as("jid"), col("rep").as("jrep")),
          col("rep0") === col("jid"), "left")
        .select(col("id"),
          least(col("rep0"), coalesce(col("jrep"), col("rep0"))).as("rep"),
          (col("ch0") ||
            coalesce(col("jrep") < col("rep0"), lit(false))).as("changed")))
        .localCheckpoint()
      frontier = next.filter(col("changed")).select(col("id"), col("rep"))
      converged = frontier.limit(1).isEmpty
      Checkpoints.release(ck) // next is materialized; don't pin every round's copy
      ck = next
      labels = next.select(col("id"), col("rep"))
      iter += 1
    }
    // a silent partial result would be WRONG labels (and diverge from the
    // oracle's exact closure) — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds; " +
        s"raise maxIter for graphs of diameter > $maxIter")
    lastCcRounds = iter
    vertices.join(labels.select(col("id"), col("rep")), Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
  }

  /** Round-count TELEMETRY for the bench scaling rows: how many
    * propagation rounds the most recent [[connectedComponents]] fixpoint
    * on this JVM took to converge (including the final no-change round).
    * The scaling claim for iterative ops is that round count tracks
    * component DIAMETER, not corpus size — the bench logs this per scale
    * factor to demonstrate it. Read immediately after a single-threaded
    * timed run; concurrent CC runs racing the write is benign for that
    * use and tolerated (telemetry, never a correctness input). */
  @volatile var lastCcRounds: Int = 0

  /** Large-star/small-star connected components (Kiveris, Lattanzi,
    * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
    * MapReduce and Beyond", SoCC 2014): the edge-contraction
    * alternative to [[connectedComponents]]' min-label propagation.
    * (Since the r16 pointer-jumping shortcut, min-label also converges
    * in O(log d) rounds on deep chains — the two now differ in per-round
    * SHAPE, label-table hops vs edge-set contraction, not in whether
    * deep graphs converge; the parity spec pins they agree.) Alternating
    * large-star (attach each node's LARGER neighbors to its neighborhood
    * minimum) and small-star (attach its smaller-or-equal neighbors
    * likewise) converges to min-rooted stars in O(log²n) rounds
    * regardless of diameter — each round is two aggregate+join passes
    * over narrow (long, long) edge rows, locally checkpointed.
    *
    * Same contract as [[connectedComponents]]: (id, rep) for every
    * vertex, rep = component minimum; fails loudly if not converged
    * (the parity spec pins label equality on random graphs, and
    * convergence on chains where min-label's default round cap throws). */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame,
                              maxIter: Int = 40): DataFrame = {
    def canon(e: DataFrame) = e
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
    def sym(e: DataFrame) = e.union(
      e.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    var e = canon(edges.filter(col("id_a") =!= col("id_b"))).localCheckpoint()
    var converged = e.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: per node u, every STRICTLY LARGER neighbor re-attaches
      // to m(u) = min(N(u) ∪ {u}); relational (agg + join), never a
      // collected neighborhood — hot nodes have unbounded degree
      val s1 = sym(e).localCheckpoint()
      val m1 = s1.groupBy(col("id_a").as("u"))
        .agg(min(least(col("id_b"), col("id_a"))).as("m")) // min(N(u) ∪ {u})
      val ls = s1.join(m1, s1("id_a") === m1("u"))
        .filter(col("id_b") > col("u"))
        .select(col("id_b").as("id_a"), col("m").as("id_b"))
        .filter(col("id_a") =!= col("id_b")).distinct()
        .localCheckpoint()
      // SMALL-STAR: key each edge by its LARGER endpoint; its smaller
      // neighbors (and itself) re-attach to the minimum
      val dir = ls.select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      val m2 = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = dir.join(m2, "u")
        .select(col("v").as("id_a"), col("m").as("id_b"))
        .union(m2.select(col("u").as("id_a"), col("m").as("id_b")))
        .filter(col("id_a") =!= col("id_b")).distinct()
        .localCheckpoint()
      val next = canon(ss).localCheckpoint()
      converged = next.exceptAll(e).limit(1).isEmpty &&
        e.exceptAll(next).limit(1).isEmpty
      Seq(e, s1, ls, ss).foreach(Checkpoints.release)
      e = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixed point = stars centered at each component's minimum: every
    // canonical edge is (root, child)
    val labels = e.groupBy(col("id_b").as("id")).agg(min(col("id_a")).as("rep"))
    vertices.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
  }

  /** SimHash fingerprint over distinct whitespace tokens: per-bit majority
    * vote (+1/-1) over token hashes, packed little-endian. nBits ≤ 62
    * stays in long range; pure projection — no shuffle. */
  def simhash(text: Column, nBits: Int = 30): Column =
    graftExpr.column(SimHashExpr(graftExpr.expression(text), nBits))

  /** Length-blocked exact n-gram Jaccard pairs. Semantics: pairs whose
    * length buckets (floor(len/width)) differ by ≤ 1 AND that share at
    * least one PREFIX shingle of document frequency ≤ dfCap, with exact
    * shingle Jaccard ≥ threshold over the FULL sets.
    *
    * Three candidate-pruning devices, all aimed at the posting-join blowup
    * that kills an inverted-index self-join at 100 TB:
    *
    *  1. PREFIX FILTER in INCREASING-DF ORDER (exact; canonical PPJoin):
    *     index only the first n − ⌈t·n⌉ + 1 elements of each shingle set
    *     under the global (document-frequency, hash) total order. If A and
    *     B share nothing in A's prefix, |A∩B| ≤ ⌈t|A|⌉ − 1 < t|A| ≤
    *     t|A∪B|, so jaccard < t — lossless for ANY shared total order;
    *     rarest-first is the order that collides least: common shingles
    *     sort last and fall out of every prefix, so candidate volume
    *     tracks Σ C(df_rare, 2) ≈ the true pair count instead of squaring
    *     on mid-frequency shingles.
    *  2. DOCUMENT-FREQUENCY CAP (recall knob): prefix postings with
    *     df > dfCap are dropped — their posting lists are exactly the
    *     keys that square. Under rarest-first order they are already last
    *     in line, so the cap only fires on documents made of boilerplate.
    *  3. POSITIONAL FILTER (exact; completes PPJoin): evaluated inside the
    *     join condition — a shared prefix shingle at ranks (i, j) can only
    *     be the FIRST shared shingle of a qualifying pair if
    *     1 + min(|A|−i, |B|−j) ≥ ⌈t(|A|+|B|)/(1+t)⌉ (the minimum overlap
    *     Jaccard ≥ t requires). Measured at sf0.1: cuts candidate pairs
    *     2.5× (310k → 125k) with identical output.
    *
    * Cost shape: the df join + per-doc rank are LINEAR posting passes
    * (hash shuffle on h, then a window sort on id — narrow
    * (long, long, int) rows, no arrays); what they buy is a candidate
    * join whose output no longer squares. The self-join carries a
    * size-ratio prune (jaccard ≤ min(n)/max(n), so sub-ratio pairs can
    * never pass) inside the codegen'd join condition; candidate pairs are
    * deduplicated before the full shingle sets are re-joined for the
    * exact verify, so wide arrays cross a shuffle once per doc, not once
    * per shared shingle. */
  def blockedNgramPairs(df: DataFrame, idCol: String, textCol: String,
                        lenCol: String, threshold: Double,
                        width: Int = 50, dfCap: Int = 1000): DataFrame = {
    val sh = shingleTable(df, idCol, textCol)
    val meta = df.select(col(idCol).as("id"),
      floor(col(lenCol) / width).cast("long").as("b0"))
    val ex = sh.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("h"))
    val dfc = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val ranked = ex.join(dfc, "h")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("df"), col("h"))))
    val prefixLen = col("n") - ceil(lit(threshold) * col("n")).cast("int") + 1
    val pre = ranked
      .filter(col("rn") <= prefixLen && col("df") <= dfCap)
      .select(col("id"), col("n"), col("rn"), col("h"))
    // positional filter (canonical PPJoin): both prefixes are ranked by the
    // SAME global (df, h) order, so for the FIRST shingle a pair shares no
    // earlier shared shingle exists and total overlap ≤ 1 + min(|A|−i, |B|−j).
    // Jaccard ≥ t needs overlap ≥ t·(|A|+|B|)/(1+t); rows below that bound
    // can't be a first match of a qualifying pair — dropping them is
    // lossless (the 1e-9 slack keeps FP rounding on the keep side).
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("a.n") + col("b.n")) - 1e-9)
    val cand = pre.as("a").join(pre.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          col("a.n") * threshold <= col("b.n") &&
          col("b.n") * threshold <= col("a.n") &&
          lit(1) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val blocked = cand
      .join(meta.select(col("id").as("id_a"), col("b0").as("b_a")), "id_a")
      .join(meta.select(col("id").as("id_b"), col("b0").as("b_b")), "id_b")
      .filter(abs(col("b_a") - col("b_b")) <= 1)
      .select(col("id_a"), col("id_b"))
    jaccardVerify(blocked, sh, threshold)
  }
}
