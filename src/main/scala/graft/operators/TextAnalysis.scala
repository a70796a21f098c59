package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token statistics /
  * quality scoring, corpus-learned language identification, and token
  * counting. All math is integer counts + single double divisions, so the
  * DuckDB oracle agrees bitwise.
  *
  * Scale shapes: stats and token counts are pure projections. Language-ID
  * is two aggregations: profile learning is a groupBy over (lang, token)
  * with map-side partial aggregation, and classification joins the
  * (small, top-N per lang) profile table — broadcast — against exploded
  * doc tokens, then one groupBy per (doc, lang). No all-pairs work. */
object TextAnalysis {

  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "data")

  /** Per-doc token statistics + quality heuristics.
    *
    * Deliberately no higher-order functions: `aggregate`/`filter` lambdas
    * are CodegenFallback, and ONE of them drops this whole projection out
    * of whole-stage codegen (~interpreted-speed for every expression in
    * it). Instead:
    *  - Σ token length ≡ length(trim) − (nToks − 1): splitting on a
    *    single space always yields exactly nToks − 1 separator chars.
    *  - stopword hits via a bounded-lookaround regex — (?<=^| )w(?=$| )
    *    matches exactly the tokens t == w (token-equality, not substring),
    *    and lookarounds don't consume, so adjacent stopwords all count. */
  def textStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val trimmed = trim(col(textCol))
    val toks = split(trimmed, " ")
    val nToks = size(toks)
    val sumLen = (length(trimmed) - (nToks - lit(1))).cast("long")
    val stopAlt = Stopwords.sortBy(-_.length).mkString("|")
    val nStop = regexp_count(trimmed, lit(s"(?<=^| )(?:$stopAlt)(?=$$| )"))
    df.select(
      col(idCol),
      nToks.cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      (sumLen.cast("double") / nToks.cast("double")).as("avg_token_len"),
      (nStop.cast("double") / nToks.cast("double")).as("stopword_ratio"),
      (regexp_count(col(textCol), lit("[^a-z0-9 ]")).cast("double") /
        greatest(length(col(textCol)), lit(1)).cast("double")).as("punct_ratio"),
      (nToks >= 10 && size(array_distinct(toks)).cast("double") / nToks.cast("double") >= 0.3)
        .as("is_quality"))
  }

  /** Corpus-learned language profiles: top `n` tokens per lang by
    * (count desc, token asc). Output: (lang, token). */
  def langProfiles(df: DataFrame, langCol: String, textCol: String, n: Int): DataFrame = {
    val tok = df.select(col(langCol).as("lang"),
      explode(split(trim(col(textCol)), " ")).as("token"))
    val counts = tok.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("token").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("lang"), col("token"))
  }

  /** Classify each doc by profile-token overlap (distinct doc tokens ∩
    * profile set), argmax by (overlap desc, lang asc). Output:
    * (idCol, pred_lang, overlap). */
  def langId(df: DataFrame, idCol: String, textCol: String,
             profiles: DataFrame): DataFrame = {
    val docTok = df.select(col(idCol),
      explode(array_distinct(split(trim(col(textCol)), " "))).as("token"))
    val overlaps = docTok.join(broadcast(profiles), "token")
      .groupBy(col(idCol), col("lang"))
      .agg(count(lit(1)).as("overlap"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("overlap").desc, col("lang").asc)
    overlaps.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("lang").as("pred_lang"), col("overlap"))
  }

  /** Benchmark decontamination: training docs sharing ≥1 word n-gram with
    * the eval set (the GPT-3-style 13-gram overlap check, n scaled to the
    * corpus). Output: (idCol, n_hits) — n_hits = how many of the doc's
    * distinct n-gram shingles appear anywhere in the eval set.
    *
    * Scale shape: the eval side is small by construction (benchmarks are
    * KBs, corpora are TBs) — its distinct shingle-hash set BROADCASTS, so
    * the 100 TB training side streams through one codegen'd
    * shingle-explode + broadcast hash join + partial-agg count, with no
    * shuffle of the corpus and no materialized n-gram strings (long
    * hashes only, same fused kernel as the dedup family). */
  def contamination(train: DataFrame, evalDf: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val evalSh = broadcast(evalDf
      .select(explode(Dedup.shingleHashes(col(textCol), n)).as("h"))
      .distinct())
    train
      .select(col(idCol), explode(Dedup.shingleHashes(col(textCol), n)).as("h"))
      .join(evalSh, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** PII patterns in scrub order (type, regex, replacement token). Email
    * runs first so its digit runs are masked before the phone pattern can
    * see them; the phone pattern requires a leading '+' so it never fires
    * inside an IP. Patterns stay in the RE2-compatible subset (no
    * backreferences, bounded classes) so the Java-regex engine and the
    * oracle's RE2 agree match-for-match. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+\\d[\\d-]{6,}\\d", "<PHONE>"))

  /** PII detection + redaction: per-doc counts of each PII type (on the
    * original text) and the text with all occurrences replaced by type
    * tokens, applied in [[PiiPatterns]] order. Output: (idCol, n_email,
    * n_ip, n_phone, redacted).
    *
    * Pure projection — regexp_count/regexp_replace are codegen'd builtins,
    * no shuffle, no UDF — so at 100 TB this runs at scan speed with
    * predicate pushdown intact. */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat, _) =>
      regexp_count(col(textCol), lit(pat)).cast("long").as(s"n_$name")
    }
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, repl)) => regexp_replace(c, pat, repl)
    }
    df.select(col(idCol) +: counts :+ redacted.as("redacted"): _*)
  }

  /** Adjacent-symbol pair counts over all corpus words — the distributed
    * kernel of BPE vocab induction. One merge round = take the top pair,
    * rewrite, recount; the loop is driver-orchestrated (merge tables are
    * KBs), but each round's count — the part that touches the corpus — is
    * this: explode words → generate in-word adjacent pairs → one
    * map-side-combinable groupBy. No arrays materialized per word; the
    * generator emits (pos, 2-char substring) pairs straight into the
    * partial aggregation. Output: (pair, cnt), the top `k` by
    * (cnt desc, pair asc) — a total order, so the top-k SET is
    * deterministic. */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(trim(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)

  /** Full BPE merge-rule training (Sennrich, Haddow & Birch, ACL 2016 —
    * "Neural Machine Translation of Rare Words with Subword Units"),
    * completing the tokenizer story [[bpePairCounts]] opens: `nMerges`
    * rounds of (count adjacent symbol pairs → take the most frequent →
    * merge it everywhere). The classic implementation detail — words as
    * SPACE-JOINED symbol strings, merges applied by regex over them —
    * turns each round's rewrite into one codegen regexp_replace
    * projection; `(?<=^| )a b(?= |$)` anchors whole symbols, and Java's
    * left-to-right non-overlapping replace IS BPE's greedy merge order.
    *
    * Scale shape: training runs on the DISTINCT-WORD table (vocab-sized —
    * millions of rows at 100 TB, not the corpus) built by one
    * map-side-combinable groupBy; each round is one generator + one
    * groupBy over that small table plus a 1-row collect (the argmax —
    * the same justified planning boundary as kmeansIterate's round loop),
    * with localCheckpoint cutting the per-round lineage. Ties break on
    * the pair's binary string order — total, engine-independent, so the
    * learned merge table is deterministic.
    *
    * @return (rank, left, right, count) merge rules, rank 0.. in
    *         application order (may stop early if no pair repeats).
    *
    * This is the BATCHED trainer ([[bpeTrainBatched]] with the default
    * batch width): identical merge table to the one-merge-per-round loop,
    * ~R× fewer distributed rounds. */
  def bpeTrain(df: DataFrame, textCol: String,
               nMerges: Int): Seq[(Int, String, String, Long)] =
    bpeTrainBatched(df, textCol, nMerges).merges

  /** The sequential one-merge-per-round loop — the literal Sennrich
    * procedure, kept as the parity reference for [[bpeTrainBatched]]
    * (whose spec proves batch ≡ sequential on seeded corpora). At a real
    * 30k-merge vocabulary this shape is 30k driver round-trips — use the
    * batched trainer. */
  private[graft] def bpeTrainSequential(df: DataFrame, textCol: String,
                                        nMerges: Int): Seq[(Int, String, String, Long)] = {
    var words = symbolTable(df, textCol)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val top = pairCounts(words)
        .select(concat_ws(" ", col("l"), col("r")).as("pair"), col("pcnt"))
        .orderBy(col("pcnt").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(1) < 2) exhausted = true
      else {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        merges += ((r, a, b, top(0).getLong(1)))
        val next = words
          .withColumn("sym", regexp_replace(col("sym"),
            lit(mergePattern(a, b)), lit(mergeReplacement(a, b))))
          .localCheckpoint()
        Checkpoints.release(words) // next is materialized; don't pin every round
        words = next
        r += 1
      }
    }
    merges.toSeq
  }

  /** (merges, rounds) of a batched training run — rounds is the number of
    * distributed count→rewrite cycles actually paid. */
  case class BpeTraining(merges: Seq[(Int, String, String, Long)], rounds: Int)

  /** distinct-word symbol table (sym = space-joined chars, cnt) */
  private def symbolTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(col(textCol)), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("sym"), col("cnt"))
      .localCheckpoint()

  /** (l, r, pcnt) adjacent-pair counts of a symbol table — one generator
    * + one map-side-combinable groupBy, checkpointed because one round
    * reads it three times (candidates + the two per-symbol maxes). */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"), split(col("sym"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("cnt"), col("t"),
        explode(sequence(lit(2), size(col("t")))).as("i"))
      .select(element_at(col("t"), col("i") - 1).as("l"),
        element_at(col("t"), col("i")).as("r"), col("cnt"))
      .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pcnt"))
      .localCheckpoint()

  /** Batched BPE training: per distributed round, accept a PREFIX of the
    * (count desc, pair asc)-ordered candidate list and apply every
    * accepted merge in one rewrite — EXACTLY the sequential merge table,
    * ~batch× fewer rounds. A candidate is accepted while three
    * conditions guarantee the sequential trainer would have picked it
    * next anyway:
    *
    *  1. SYMBOL-DISJOINT from every earlier accepted pair INCLUDING its
    *     created symbol a+b — an earlier merge touching a shared symbol
    *     changes this pair's count; counts of disjoint pairs are untouched
    *     (a merge only rewrites "a b" adjacencies; it cannot create or
    *     destroy an (x,y) adjacency with x,y ∉ {a,b, ab}). The created
    *     symbol matters because concatenation has no separator: "ab" can
    *     equal a symbol already in the table, and merging (a,b) then
    *     INCREASES counts of existing pairs containing it.
    *  2. count STRICTLY ABOVE the new-pair bound: a merge (a,b) creates
    *     only pairs containing the merged symbol ab, and every such
    *     occurrence "x (ab)" / "(ab) y" requires a CURRENT "x a" / "b y"
    *     adjacency — so new-pair counts are ≤ max(max pcnt of pairs
    *     ending in a, max pcnt of pairs starting with b), both known from
    *     the current table. While the next candidate's count exceeds the
    *     running bound over all accepted merges, no created pair can
    *     outrank it (strict: an equal-count new pair could win the
    *     pair-string tie-break, which is unknowable before the rewrite).
    *  3. Scanning STOPS at the first violation (never skips): the pairs
    *     after a rejected candidate rank below it, so accepting any would
    *     reorder the sequential table.
    *
    * The first candidate is always accepted — every round makes progress;
    * batches self-size between 1 and `batchCand` per round (natural-text
    * count decay makes wide batches the common case). */
  def bpeTrainBatched(df: DataFrame, textCol: String, nMerges: Int,
                      batchCand: Int = 64): BpeTraining = {
    var words = symbolTable(df, textCol)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rounds = 0
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val pairs = pairCounts(words)
      val endMax = pairs.groupBy(col("r").as("s")).agg(max(col("pcnt")).as("end_max"))
      val startMax = pairs.groupBy(col("l").as("s")).agg(max(col("pcnt")).as("start_max"))
      val cands = pairs
        .join(endMax, pairs("l") === endMax("s"), "left").drop("s")
        .join(startMax, pairs("r") === startMax("s"), "left").drop("s")
        .orderBy(col("pcnt").desc, concat_ws(" ", col("l"), col("r")).asc)
        .limit(batchCand)
        .select(col("l"), col("r"), col("pcnt"), col("end_max"), col("start_max"))
        .collect()
      if (cands.isEmpty || cands(0).getLong(2) < 2) {
        exhausted = true; Checkpoints.release(pairs)
      } else {
        val accepted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        val used = scala.collection.mutable.Set.empty[String]
        var bound = Long.MinValue
        var scan = true
        var i = 0
        while (scan && i < cands.length && merges.size + accepted.size < nMerges) {
          val c = cands(i)
          val (a, b, cnt) = (c.getString(0), c.getString(1), c.getLong(2))
          if (cnt < 2) scan = false
          else if (accepted.nonEmpty && cnt <= bound) scan = false
          else if (used.contains(a) || used.contains(b)) scan = false
          else {
            accepted += ((a, b, cnt))
            // a+b too: the created symbol concatenates WITHOUT a separator,
            // so its string can collide with a symbol already in the table
            // (e.g. "ab" from an earlier round). A later candidate touching
            // that symbol would be judged against a count the merge just
            // changed — stop the scan there, like any other shared symbol.
            used += a; used += b; used += (a + b)
            bound = math.max(bound, math.max(
              if (c.isNullAt(3)) Long.MinValue else c.getLong(3),
              if (c.isNullAt(4)) Long.MinValue else c.getLong(4)))
          }
          i += 1
        }
        // one rewrite applies the whole batch (rank order; symbol-disjoint
        // merges commute, so the chained replace IS the sequential result)
        val rewritten = accepted.foldLeft(col("sym")) { case (cc, (a, b, _)) =>
          regexp_replace(cc, lit(mergePattern(a, b)), lit(mergeReplacement(a, b)))
        }
        accepted.foreach { case (a, b, cnt) =>
          merges += ((merges.size, a, b, cnt))
        }
        val next = words.withColumn("sym", rewritten).localCheckpoint()
        // at a 30k-merge vocabulary there are hundreds of rounds — release
        // the previous round's pinned blocks or storage grows with rounds
        Checkpoints.release(words); Checkpoints.release(pairs)
        words = next
        rounds += 1
      }
    }
    BpeTraining(merges.toSeq, rounds)
  }

  private def mergePattern(a: String, b: String): String =
    "(?<=^| )" + java.util.regex.Pattern.quote(a) + " " +
      java.util.regex.Pattern.quote(b) + "(?= |$)"
  private def mergeReplacement(a: String, b: String): String =
    java.util.regex.Matcher.quoteReplacement(a + b)

  /** Apply learned [[bpeTrain]] rules to a WORD column: space-join its
    * chars, replay every merge in rank order (the fold builds one chain
    * of codegen regexp_replace projections — inference is a pure
    * projection, zero shuffles), yielding the word's space-joined subword
    * segmentation. */
  def bpeApply(word: Column,
               merges: Seq[(Int, String, String, Long)]): Column =
    merges.sortBy(_._1).foldLeft(trim(regexp_replace(word, "(.)", "$1 "))) {
      case (c, (_, a, b, _)) =>
        regexp_replace(c, lit(mergePattern(a, b)), lit(mergeReplacement(a, b)))
    }

  /** Corpus-learned token→id vocabulary: the top `v` tokens by
    * (count desc, token asc), id = dense rank 0..v−1. Output:
    * (token, id). Small by construction — broadcasts.
    *
    * Shape: the top-v selection is a bounded `orderBy().limit(v)` —
    * Catalyst plans it as TakeOrderedAndProject (per-partition top-v
    * heaps, driver merge of ≤ v rows per partition), so the FULL
    * distinct-token table (10⁸-10⁹ rows at corpus scale) never funnels
    * through one task. Only the v-row result is then ranked by a
    * window, which is bounded by construction. */
  /** Vocabulary coverage curve — "how many types does a tokenizer need
    * to cover p% of corpus tokens": for each requested percentage, the
    * minimal rank r such that the r most frequent types (ties broken
    * arbitrarily WITHIN a frequency class — the answer is tie-order
    * invariant because equal-frequency types contribute equally) cover
    * ⌈total·p/100⌉ token occurrences.
    *
    * Scale shape: the token scan aggregates to the vocab once, the
    * vocab aggregates to the DISTINCT-FREQUENCY histogram (O(√corpus)
    * rows by Heaps/Zipf, bounded regardless of vocab size), and the
    * running sums + crossing solve run over that histogram — never
    * over the vocab, never over tokens. Inside the crossing class the
    * exact rank is types_before + ⌈(target − cum_before)/f⌉, all
    * non-negative integer arithmetic. Output: (pct, target_tokens,
    * rank_needed). */
  def vocabCoverage(df: DataFrame, textCol: String,
                    pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percentages must be in [1,100]: $pcts")
    val vocab = df
      .select(explode(split(trim(col(textCol)), " ")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("f"))
    val hist = vocab.groupBy(col("f"))
      .agg(count(lit(1)).as("n_types"))
    val wDesc = Window.orderBy(col("f").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("cum_before",
        coalesce(sum(col("f") * col("n_types")).over(wDesc), lit(0L)))
      .withColumn("types_before",
        coalesce(sum(col("n_types")).over(wDesc), lit(0L)))
      .withColumn("total",
        sum(col("f") * col("n_types")).over(Window.partitionBy()))
    val targets = pcts.map(p =>
      s"SELECT $p AS pct").mkString(" UNION ALL ")
    val pctDf = broadcast(df.sparkSession.sql(targets))
    cum.crossJoin(pctDf)
      .withColumn("target", expr("(total * pct + 99) DIV 100"))
      .filter(col("cum_before") < col("target") &&
        col("target") <= col("cum_before") + col("f") * col("n_types"))
      .select(col("pct").cast("long").as("pct"),
        col("target").as("target_tokens"),
        (col("types_before") +
          expr("(target - cum_before + f - 1) DIV f")).as("rank_needed"))
  }

  def vocabTable(df: DataFrame, textCol: String, v: Int): DataFrame = {
    val topV = df
      .select(explode(split(trim(col(textCol)), " ")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t").asc)
      .limit(v)
    val w = Window.orderBy(col("cnt").desc, col("t").asc)
    topV.withColumn("id", row_number().over(w) - 1)
      .select(col("t").as("token"), col("id").cast("long").as("id"))
  }

  /** Tokenize documents to id sequences against a vocab table:
    * in-vocab tokens take their vocab id, OOV tokens hash into `oovBuckets`
    * buckets above the vocab (id = v + polyHash(token) mod buckets) — the
    * standard hash-bucket OOV scheme, so the id space is closed and
    * deterministic. Output: (idCol, n_tokens, n_oov, ids_csv) with ids in
    * ORIGINAL token order (the property tokenization must keep; emitted
    * as CSV so a second engine can hash-compare the sequence).
    *
    * Shape: posexplode keeps the position, the vocab join BROADCASTS, and
    * the per-doc reassembly is one groupBy with a sorted-struct collect —
    * docs shuffle once as narrow (id, pos, tokid) rows, never as text. */
  def tokenizeIds(df: DataFrame, idCol: String, textCol: String,
                  vocab: DataFrame, v: Int, oovBuckets: Int): DataFrame = {
    val tok = df.select(col(idCol),
      posexplode(split(trim(col(textCol)), " ")).as(Seq("pos", "t")))
    val joined = tok.join(broadcast(vocab), tok("t") === vocab("token"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("id"),
          lit(v) + pmod(Dedup.polyHash(col("t")), lit(oovBuckets))).as("tokid"),
        col("id").isNull.as("oov"))
    joined.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        array_sort(collect_list(struct(col("pos"), col("tokid")))).as("seq"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        concat_ws(",", col("seq.tokid").cast("array<string>")).as("ids_csv"))
  }

  /** Whitespace, regex-word, and BPE-estimate token counts. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String,
                  lenCol: String): DataFrame =
    df.select(
      col(idCol),
      size(split(trim(col(textCol)), " ")).cast("long").as("n_ws"),
      regexp_count(col(textCol), lit("[a-z0-9]+")).cast("long").as("n_re"),
      expr(s"($lenCol + 3) div 4").as("n_bpe_est"))

  /** Per-doc top-k characteristic terms by LOG-FREE tf-idf:
    * score = tf · (N / df) — one correctly-rounded IEEE division followed
    * by one multiplication, so a second engine replays it bitwise (ln is
    * libm-dependent, so the classic tf·ln(N/df) cannot hash-match; the
    * reciprocal-df weight ranks identically for fixed tf). Ties break on
    * the term's binary string order — total, engine-independent.
    *
    * Shape: tf is one (doc, term) groupBy (map-side combinable), df is
    * one groupBy over the tf rows, N is a broadcast 1-row aggregate, and
    * the ranking window partitions by DOCUMENT — its partition size is
    * bounded by the doc's distinct-term count (≤ doc length), NOT the
    * corpus, so no reducer ever sorts more than one document's terms. */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val tok = df.select(col(idCol),
      explode(split(trim(col(textCol)), " ")).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = broadcast(df.select(countDistinct(col(idCol)).as("n_docs")))
    val scored = tf.join(dfreq, "term").crossJoin(nDocs)
      .withColumn("score", col("tf").cast("double") *
        (col("n_docs").cast("double") / col("df").cast("double")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Feature-hashed dense embedding of `text` (dimension d) — the bridge
    * from raw text to the vector stack: its output column feeds
    * [[Similarity.semanticDedup]], [[Similarity.bruteForceTopK]] and the
    * rest unchanged. Fused codegen kernel, zero shuffle. */
  def hashEmbed(text: Column, d: Int): Column =
    org.apache.spark.sql.graftExpr.column(
      graft.functions.HashEmbedExpr(
        org.apache.spark.sql.graftExpr.expression(text), d))

  /** One-pass hashed-feature linear text classifier — the fastText /
    * DCLM-filter INFERENCE shape, with integer-only math so a second
    * engine replays verdicts bitwise. TRAIN: tokens of labeled docs hash
    * into `buckets` feature slots; a slot's weight is the CLASS-BALANCED
    * count margin cnt_pos·N_neg − cnt_neg·N_pos (N_c = total train tokens
    * of class c) — positive exactly when p̂(slot|pos) > p̂(slot|neg), i.e.
    * the sign of the naive-Bayes log-odds with the prior divided out, as
    * cross-multiplied integers instead of cross-libm ln. INFER: a doc's
    * margin is the integer sum of its tokens' slot weights; predict
    * positive iff margin > 0.
    *
    * Scale shape: training is ONE groupBy over hashed train tokens
    * (map-side combinable, ≤ `buckets` result rows); the weight table is
    * bounded by `buckets` — BROADCAST — so inference is a projection +
    * broadcast join + per-doc sum. The corpus never shuffles wide rows
    * and never self-joins; unseen buckets score 0. */
  def hashedLinearClassifier(train: DataFrame, docs: DataFrame,
                             idCol: String, textCol: String,
                             labelCol: String, buckets: Int): DataFrame = {
    def tok(df: DataFrame, extra: Column*) =
      df.select((col(idCol) +: extra :+
        explode(split(trim(col(textCol)), " ")).as("t")).toIndexedSeq: _*)
        .withColumn("b", Dedup.polyHash(col("t")) % buckets)
    val trainTok = tok(train, col(labelCol))
    val counts = trainTok.groupBy(col("b"))
      .agg(sum(when(col(labelCol), lit(1L)).otherwise(lit(0L))).as("cp"),
        sum(when(col(labelCol), lit(0L)).otherwise(lit(1L))).as("cn"))
    val totals = broadcast(trainTok.agg(
      sum(when(col(labelCol), lit(1L)).otherwise(lit(0L))).as("np"),
      sum(when(col(labelCol), lit(0L)).otherwise(lit(1L))).as("nn")))
    val weights = broadcast(counts.crossJoin(totals)
      .select(col("b"),
        (col("cp") * col("nn") - col("cn") * col("np")).as("w")))
    tok(docs)
      .join(weights, Seq("b"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("w"), lit(0L))).as("margin"))
      .select(col(idCol), col("n_tokens"), col("margin"),
        (col("margin") > 0).as("pred"))
  }

  /** Smoothed bigram-LM fluency score — the CCNet / KenLM "perplexity
    * filter" shape with the corpus as its own training set: a doc's score
    * is the mean add-one-smoothed conditional probability of its token
    * bigrams, p(cur|prev) = (c(prev,cur)+1)/(c(prev)+V). Predictable,
    * well-formed text scores high; scrambled or boilerplate-free-noise
    * text scores near the smoothing floor. log-free (ln is libm-dependent)
    * and mean-of-p rather than geometric mean — ranking-equivalent inputs
    * to a threshold gate, and bitwise-replayable: each probability is one
    * fixed-shape division of exact integers, quantized to floor(p·10⁹)
    * integer nano-points, and the per-doc mean divides the integer sum
    * back ONCE.
    *
    * Shape: bigrams come from an explode(sequence)+element_at generator —
    * no window, no per-doc shuffle, the doc never materializes pair
    * arrays. Counting c2/c1 is two map-side-combinable groupBys bounded
    * by (observed-bigram, vocab) cardinality; V is a broadcast 1-row
    * aggregate; scoring joins narrow count tables back on (prev,cur) /
    * prev keys. Docs with <2 tokens score NULL. */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), split(trim(col(textCol)), " ").as("t"))
    val tok = toks.select(col(idCol), explode(col("t")).as("w"))
    val big = toks.filter(size(col("t")) >= 2)
      .select(col(idCol), col("t"),
        explode(sequence(lit(2), size(col("t")))).as("i"))
      .select(col(idCol),
        element_at(col("t"), col("i") - 1).as("prev"),
        element_at(col("t"), col("i")).as("cur"))
    val c2 = big.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
    val unig = tok.groupBy(col("w").as("prev")).agg(count(lit(1)).as("c1"))
    val vocab = broadcast(tok.agg(countDistinct(col("w")).as("v")))
    val scored = big
      .join(c2, Seq("prev", "cur"))
      .join(unig, "prev")
      .crossJoin(vocab)
      .select(col(idCol),
        floor((col("c2") + lit(1L)).cast("double") /
          (col("c1") + col("v")).cast("double") * lit(1e9)).cast("long").as("qp"))
    val perDoc = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("qp")).as("qsum"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNull, lit(null).cast("double"))
          .otherwise(col("qsum").cast("double") /
            (col("n_bigrams") * lit(1000000000L)).cast("double")).as("lm_score"))
  }

  /** Train the add-one-smoothed bigram LM ONCE on a reference corpus and
    * store its count tables — the CCNet shape proper: the fluency model
    * is trained on a trusted REFERENCE corpus (their Wikipedia) and
    * candidate corpora are scored against the STORED model run after
    * run, never re-deriving it ([[bigramLmScore]] is the self-scored
    * special case). Artifact layout: `c2/` bigram counts, `c1/` unigram
    * counts, `vocab/` the 1-row vocabulary size. */
  def writeBigramLm(ref: DataFrame, textCol: String, path: String): Unit = {
    // one tokenize (checkpointed token arrays) feeds the bigram counts,
    // the unigram counts, and the vocab count — three consumers, one
    // corpus scan
    val toks = ref.select(split(trim(col(textCol)), " ").as("t"))
      .localCheckpoint()
    val tok = toks.select(explode(col("t")).as("w"))
    toks.filter(size(col("t")) >= 2)
      .select(col("t"), explode(sequence(lit(2), size(col("t")))).as("i"))
      .select(element_at(col("t"), col("i") - 1).as("prev"),
        element_at(col("t"), col("i")).as("cur"))
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$path/c2")
    tok.groupBy(col("w").as("prev")).agg(count(lit(1)).as("c1"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$path/c1")
    tok.agg(countDistinct(col("w")).as("v"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$path/vocab")
    Checkpoints.release(toks)
  }

  /** Score candidates against a STORED [[writeBigramLm]] model: the same
    * quantized add-one-smoothed expression, counts joined from the model
    * tables. Cross-corpus is where smoothing earns its keep — bigrams or
    * contexts the model never saw take c2 = 0 / c1 = 0 through the LEFT
    * joins (priced as 1/(0+V), not dropped), a case the self-scored
    * variant never encounters. Output: (idCol, n_bigrams, lm_score) —
    * identical contract to [[bigramLmScore]]. The model's tables are read
    * as immutable ([[graft.sources.PartitionedStore.readImmutable]]):
    * write a retrained model to a new path. */
  def bigramLmScoreIndexed(spark: org.apache.spark.sql.SparkSession,
                           df: DataFrame, idCol: String, textCol: String,
                           path: String): DataFrame = {
    def model(t: String) = graft.sources.PartitionedStore.readImmutable(spark, s"$path/$t")
    val c2 = model("c2")
    val c1 = model("c1")
    val vocab = broadcast(model("vocab"))
    val toks = df.select(col(idCol), split(trim(col(textCol)), " ").as("t"))
    val big = toks.filter(size(col("t")) >= 2)
      .select(col(idCol), col("t"),
        explode(sequence(lit(2), size(col("t")))).as("i"))
      .select(col(idCol),
        element_at(col("t"), col("i") - 1).as("prev"),
        element_at(col("t"), col("i")).as("cur"))
    val scored = big
      .join(c2, Seq("prev", "cur"), "left")
      .join(c1, Seq("prev"), "left")
      .crossJoin(vocab)
      .select(col(idCol),
        floor((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double") * lit(1e9))
          .cast("long").as("qp"))
    val perDoc = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("qp")).as("qsum"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNull, lit(null).cast("double"))
          .otherwise(col("qsum").cast("double") /
            (col("n_bigrams") * lit(1000000000L)).cast("double")).as("lm_score"))
  }

  /** Global top-k COLLOCATIONS by exact integer lift — Manning &
    * Schütze's collocation extraction (Ch. 5), the vocabulary-curation
    * read that decides which adjacent pairs deserve to become single
    * tokens (multi-word entities, idioms) before BPE/vocab training:
    * rank observed bigrams by how much more often they co-occur than
    * independence predicts, lift = P(prev,cur)/(P(prev)·P(cur)) =
    * c(prev,cur)·N / (c(prev)·c(cur)), kept as ONE integer DIV in
    * parts-per-million — no doubles, no logs, bitwise-replayable (a
    * PMI log would add libm divergence for zero ranking benefit: log is
    * monotone). `minCount` gates the classic rare-pair pathology (a
    * hapax pair of two hapax words scores lift ≈ N). Shape: the bigram
    * generator is [[bigramLmScore]]'s explode(sequence)+element_at (no
    * window, no per-doc shuffle); both count tables are map-side
    * combinable groupBys bounded by vocabulary, the scored frame is
    * c2-sized (vocab², data-independent), N joins as a broadcast 1-row
    * aggregate, and the global top-k is orderBy+limit = TakeOrdered
    * over the tiny scored frame — never a full sort of data rows.
    * Envelope: pair_n·N·10⁶ must fit a signed 64-bit long (holds to
    * ~3·10⁶ occurrences of the hottest pair at N = 10⁹ bigrams, or any
    * pair at N ≤ 3·10⁶), and so must the denominator c_prev·c_cur
    * (holds while both unigram counts stay under ~3·10⁹); either
    * breached raises IN-PLAN rather than overflowing silently. Output: (prev, cur, pair_n, lift_ppm),
    * lift-desc with (prev, cur) tie-break. */
  def collocations(df: DataFrame, textCol: String,
                   minCount: Long = 5L, topK: Int = 20): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad bounds: $minCount, $topK")
    val toks = df.select(split(trim(col(textCol)), " ").as("t"))
    val tok = toks.select(explode(col("t")).as("w"))
    val big = toks.filter(size(col("t")) >= 2)
      .select(col("t"), explode(sequence(lit(2), size(col("t")))).as("i"))
      .select(element_at(col("t"), col("i") - 1).as("prev"),
        element_at(col("t"), col("i")).as("cur"))
    val c2 = big.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minCount)
    val unig = tok.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val n = broadcast(big.agg(count(lit(1)).as("n_pairs")))
    c2.join(unig.select(col("w").as("prev"), col("c1").as("c_prev")), "prev")
      .join(unig.select(col("w").as("cur"), col("c1").as("c_cur")), "cur")
      .crossJoin(n)
      .withColumn("pair_n",
        when(col("pair_n") > lit(Long.MaxValue) / lit(1000000L) / col("n_pairs"),
          raise_error(concat(
            lit("collocations: pair_n*N*1e6 overflows 64 bits (pair_n="),
            col("pair_n").cast("string"), lit(", N="),
            col("n_pairs").cast("string"), lit(")"))))
          .otherwise(col("pair_n")))
      // the denominator rides the same envelope: c_prev·c_cur wraps
      // negative above ~3e9·3e9 and would deflate lift_ppm silently
      .withColumn("c_prev",
        when(col("c_prev") > lit(Long.MaxValue) / col("c_cur"),
          raise_error(concat(
            lit("collocations: c_prev*c_cur overflows 64 bits (c_prev="),
            col("c_prev").cast("string"), lit(", c_cur="),
            col("c_cur").cast("string"), lit(")"))))
          .otherwise(col("c_prev")))
      .select(col("prev"), col("cur"), col("pair_n"),
        expr("pair_n * n_pairs * 1000000L div (c_prev * c_cur)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("prev"), col("cur"))
      .limit(topK)
  }

  /** Per-doc novelty: the fraction of its positional n-gram shingles that
    * appear in NO other document (1 − shared/total) — the memorization /
    * boilerplate exposure score span-level dedup acts on, as a per-doc
    * signal. Two bounded shuffles: a shingle-hash groupBy for cross-doc
    * counts (map-side combinable, narrow (hash, count) rows) and a per-doc
    * re-aggregation; docs shorter than n get novelty NULL, not a silent
    * 0-row drop. */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 5): DataFrame = {
    val seq = df.select(col(idCol).as("id"),
      explode(Dedup.seqShingleHashes(col(textCol), n)).as("h"))
    val dup = seq.groupBy(col("h")).agg(countDistinct(col("id")).as("nd"))
    val perDoc = seq.join(dup, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("nd") >= 2, lit(1L)).otherwise(lit(0L))).as("n_shared"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(lit(1.0) - col("n_shared").cast("double") /
            col("n_shingles").cast("double")).as("novelty"))
  }

  /** DSIR-shape importance scoring (Xie et al., NeurIPS 2023 — "Data
    * Selection for Language Models via Importance Resampling"): documents
    * are featurized as HASHED N-GRAMS (their §3.1 — here word bigrams,
    * [[Dedup.seqShingleHashes]] mod `buckets`), a target corpus and the
    * raw corpus each induce a bucket distribution, and a raw doc's
    * importance is how much its features look drawn from the target
    * rather than the raw distribution. DSIR's per-feature log ratio
    * log(p_t(b)/p_r(b)) is libm-bound, so the stored per-bucket weight is
    * the cross-multiplied integer form w_b = ct_b·Nr − cr_b·Nt — exactly
    * sign(log ratio) with the magnitude in exact long arithmetic
    * (|w_b| < 2^62 for corpora under 2^31 features) — and a doc's score
    * is the integer SUM of its features' weights: addition-order-
    * independent, bitwise-replayable by a second engine. Buckets absent
    * from the target score negative (ct = 0 ⇒ w_b = −cr_b·Nt), absent
    * from both contribute 0 through the LEFT join.
    *
    * Scale shape: both count passes are map-side-combinable groupBys
    * bounded by `buckets` result rows; the weight table (≤ buckets rows)
    * BROADCASTS, so scoring is explode + broadcast join + per-doc sum —
    * the raw corpus never self-joins and never shuffles text. Output:
    * (idCol, n_feats, weight, keep = weight > 0) for every raw doc; docs
    * shorter than a bigram get n_feats 0, weight 0. */
  def dsirScore(target: DataFrame, raw: DataFrame, idCol: String,
                textCol: String, buckets: Int): DataFrame = {
    def feats(df: DataFrame): DataFrame =
      df.select(col(idCol),
          explode(Dedup.seqShingleHashes(col(textCol), 2)).as("h"))
        .withColumn("b", pmod(col("h"), lit(buckets.toLong)))
    val tF = feats(target)
    val rF = feats(raw)
    val tCnt = tF.groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val rCnt = rF.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val totals = broadcast(
      tF.agg(count(lit(1)).as("nt")).crossJoin(rF.agg(count(lit(1)).as("nr"))))
    val weights = broadcast(
      rCnt.join(tCnt, Seq("b"), "full_outer").crossJoin(totals)
        .select(col("b"),
          (coalesce(col("ct"), lit(0L)) * col("nr") -
            coalesce(col("cr"), lit(0L)) * col("nt")).as("w")))
    val perDoc = rF.join(weights, Seq("b"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("w"), lit(0L))).as("weight"))
    raw.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("weight"), lit(0L)).as("weight"),
        (coalesce(col("weight"), lit(0L)) > 0).as("keep"))
  }

  /** Domain×domain n-gram overlap matrix — the decontamination /
    * near-dup DIAGNOSTIC view: for every unordered pair of groups, how
    * many distinct word n-gram shingles they share and the Jaccard of
    * their shingle sets. This is the corpus-level companion to
    * [[contamination]] (which gates documents): run it first to see WHICH
    * domain pairs leak into each other, then point the document-level
    * gates at the hot pairs.
    *
    * Scale shape: the base table is DISTINCT (group, shingle-hash) —
    * narrow long rows, one map-side-combinable distinct. The self-join
    * keys on the HASH, and a hash appears in at most |groups| rows, so
    * per-hash fan-out is bounded by |groups|² (domains are tens-to-
    * hundreds, never corpus-sized) — no doc×doc or shingle×shingle blowup
    * at any corpus size. Per-group totals are |groups| rows (broadcast);
    * the full matrix comes from their broadcast cross, so zero-overlap
    * pairs are reported as 0, not silently dropped. Output: (src_a,
    * src_b, n_grams_a, n_grams_b, n_shared, jaccard), src_a < src_b. */
  def ngramOverlapMatrix(df: DataFrame, grpCol: String, textCol: String,
                         n: Int = 3): DataFrame = {
    // referenced THREE times below (per-group counts + both sides of the
    // self-join). Deliberately NOT checkpointed: the distinct is one
    // exchange whose shuffle files all three consumers reuse (Spark
    // ReusedExchange — recompute cost is a shuffle-file read, not a
    // rescan), while a localCheckpoint here would pin corpus-scale
    // shingle rows in executor storage with no release point on the
    // returned frame. At any realistic |groups| the exchange reuse wins.
    val sh = df.select(col(grpCol).as("g"),
        explode(Dedup.shingleHashes(col(textCol), n)).as("h"))
      .distinct()
    val counts = sh.groupBy(col("g")).agg(count(lit(1)).as("n_grams"))
    val shared = sh.select(col("g").as("ga"), col("h"))
      .join(sh.select(col("g").as("gb"), col("h")), "h")
      .filter(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("n_shared"))
    counts.select(col("g").as("ga"), col("n_grams").as("n_grams_a"))
      .crossJoin(broadcast(
        counts.select(col("g").as("gb"), col("n_grams").as("n_grams_b"))))
      .filter(col("ga") < col("gb"))
      .join(shared, Seq("ga", "gb"), "left")
      .select(col("ga").as("src_a"), col("gb").as("src_b"),
        col("n_grams_a"), col("n_grams_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") /
          (col("n_grams_a") + col("n_grams_b") -
            coalesce(col("n_shared"), lit(0L))).cast("double")).as("jaccard"))
  }

  /** Reciprocal-rank fusion of several (id, score) signals — the quality
    * sibling of [[Search.hybridRrf]]: each signal is first reduced to its
    * global top-`poolK` through the bounded CollectTopK aggregation
    * ([[Similarity.topKPerQuery]] with the signal ordinal as the query
    * key — map-side partial top-k, so only |partitions|·|signals|·poolK
    * narrow rows shuffle and NO full-width window ranks the corpus), then
    * fused as rrf_micro = Σ 1_000_000 DIV (c + rank) over the signals
    * that ranked the doc (standard top-k-list RRF: absence contributes
    * 0). Integer DIV keeps both engines bit-identical. Output: one row
    * per doc in ≥1 pool, with rank_<name> per signal (0 = not in that
    * signal's pool) and rrf_micro. */
  def rrfFuse(signals: Seq[(String, DataFrame)], idCol: String,
              scoreCol: String, poolK: Int, c: Int): DataFrame = {
    require(signals.nonEmpty && poolK >= 1 && c >= 1,
      s"rrfFuse: need signals, poolK>=1, c>=1 (got ${signals.size}, $poolK, $c)")
    val ranked = signals.zipWithIndex.map { case ((_, df), i) =>
      Similarity.topKPerQuery(
        df.select(lit(i).as("query_id"), col(idCol), col(scoreCol)),
        idCol, scoreCol, poolK)
    }.reduce(_ unionByName _)
    val perSignal = signals.zipWithIndex.map { case ((name, _), i) =>
      coalesce(max(when(col("query_id") === i, col("rank"))), lit(0))
        .as(s"rank_$name")
    }
    val aggs = sum(expr(s"1000000 DIV ($c + rank)")).as("rrf_micro") +: perSignal
    ranked.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }
}
