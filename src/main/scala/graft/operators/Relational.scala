package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operators backing the reference's query surface
  * (SURVEY.md §2.2-§2.6, §2.8). All are single-pass DataFrame expressions —
  * no collect(), no driver-side loops (the one exception: explicitly
  * documented PLANNING reads like [[planDualSplit]], which collect O(1)
  * aggregate rows at a control boundary) — and each notes its shuffle
  * shape so the 100 TB story is explicit.
  */
object Relational {

  /** W1 — latest row per key (reference api/main.py:248-320 "ORDER BY ts
    * DESC LIMIT 1", generalized cross-key as in DOCUMENTATION.md:277-287).
    *
    * Implemented as a single hash aggregation `max(struct(orderCols ++
    * payload))` rather than a window sort: one shuffle on the grouping keys,
    * map-side partial aggregation, no per-partition sort, no skew from a
    * global window. At 100 TB this is the difference between a partial-agg
    * pipeline and a full sort of the fact table.
    *
    * `tiebreak` must make the struct ordering total (the reference's LIMIT 1
    * is insert-order nondeterministic; we pin it — SURVEY §7.4.6).
    *
    * @param orderCols descending-significance ordering columns, e.g.
    *                  (ts, event_id); the MAX struct wins.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String],
                   ordered: Seq[(String, Column)]): DataFrame = {
    val packed = struct(ordered.map { case (n, c) => c.as(n) }: _*)
    df.groupBy(keys.map(col): _*)
      .agg(max(packed).as("_latest"))
      .select(keys.map(col) ++ ordered.map { case (n, _) =>
        col(s"_latest.$n").as(n) }: _*)
  }

  /** W1 as a window (row_number = 1) — kept for cases needing the whole row
    * with arbitrary tie-break; costs a shuffle + sort per partition. */
  def latestPerKeyWindow(df: DataFrame, keys: Seq[Column],
                         order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** W2 — global top-N with deterministic tie-break. Spark plans this as
    * TakeOrderedAndProject: per-partition top-N then a single-driver merge —
    * no full sort, no full shuffle. */
  def topN(df: DataFrame, order: Seq[Column], n: Int): DataFrame =
    df.orderBy(order: _*).limit(n)

  /** Total order of a result bounded by a schema fact (one item's series,
    * bounded by retention): one single-partition exchange, then a sort
    * within it. `orderBy` range-partitions instead, which costs a sampling
    * job to pick the bounds and a range shuffle, for rows one task sorts.
    * Never `orderBy(...).limit(bound)`: a wrong bound would drop rows. */
  def orderSmall(df: DataFrame, order: Seq[Column]): DataFrame =
    df.repartition(1).sortWithinPartitions(order: _*)

  /** J2 — reconcile diff (reference src/snoozerScheduler.py:85-127):
    * full-outer join old vs new keyed sets, classifying survivors / added /
    * removed. Both sides shuffle on the key; for control-plane-sized inputs
    * Catalyst broadcasts instead. */
  def reconcile(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    val o = oldDf.select(keys.map(col): _*).withColumn("_in_old", lit(1))
    val n = newDf.select(keys.map(col): _*).withColumn("_in_new", lit(1))
    o.join(n, keys, "full_outer")
      .withColumn("status",
        when(col("_in_old").isNotNull && col("_in_new").isNotNull, lit("survivor"))
          .when(col("_in_new").isNotNull, lit("added"))
          .otherwise(lit("removed")))
      .drop("_in_old", "_in_new")
  }

  /** T1 — watermarked delta append (reference src/SQLinserts.py:515-587).
    * Late points (≤ stored per-key max) are DROPPED, not merged.
    *
    * existing: the stored table; incoming: the fetched batch.
    * Returns the rows that WOULD be inserted (the delta).
    *
    * Within-batch (key, ts) duplicates are the CALLER's responsibility —
    * `dropDuplicates` here would keep an arbitrary row, silently
    * pre-empting any deterministic rule the caller applies afterwards
    * (e.g. min-event-id via `latestPerKey`, as t1_delta_append does).
    * ON CONFLICT DO NOTHING's pick is insert-order-dependent in the
    * reference too; we make the caller pin it.
    *
    * Scale shape: one aggregation over existing restricted to incoming's
    * keys (semi-join pushes the key filter down), then a broadcast-or-shuffle
    * join of the (small) watermark map against incoming.
    */
  def deltaAppend(existing: DataFrame, incoming: DataFrame,
                  keys: Seq[String], tsCol: String): DataFrame = {
    val wm = existing
      .join(incoming.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .groupBy(keys.map(col): _*).agg(max(col(tsCol)).as("_wm"))
    incoming
      .join(wm, keys, "left")
      .filter(col("_wm").isNull || col(tsCol) > col("_wm"))
      .drop("_wm")
  }

  /** T2 — staleness gate (reference collect_price_history.py:33-155): keep
    * items whose newest point is missing or older than the cutoff. */
  def stalenessGate(items: DataFrame, facts: DataFrame, keys: Seq[String],
                    tsCol: String, cutoff: Column): DataFrame = {
    val wm = facts.groupBy(keys.map(col): _*).agg(max(col(tsCol)).as("_wm"))
    items.join(wm, keys, "left")
      .filter(col("_wm").isNull || col("_wm") < cutoff)
      .drop("_wm")
  }

  /** As-of join: for every left row, the latest right row with the same
    * key and right.ts ≤ left.ts. Spark has no native ASOF JOIN; a naive
    * formulation is a range join (quadratic). This is the scalable shape:
    * UNION both sides tagged, ONE shuffle + sort per key, and a running
    * `last(payload, ignoreNulls)` window carries the most recent right
    * payload forward into each left row. Ties at equal ts resolve
    * right-before-left (≤ semantics), then by `rightOrd` for determinism.
    *
    * At 100 TB: one hash shuffle on the key (both inputs), per-partition
    * sort — same cost class as a sort-merge join, with no range-explosion.
    *
    * @param rightPayload columns of `right` to carry (null when no match)
    * @param rightOrd     unique ordering column of `right` for tie-break
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, rightPayload: Seq[String],
               rightOrd: String): DataFrame = {
    val lTagged = left
      .withColumn("_side", lit(1))
      .withColumn("_pay", lit(null).cast(
        right.select(struct((rightPayload :+ rightOrd).map(col): _*)).schema.head.dataType))
    val rTagged = right.select(
      keys.map(col) ++ Seq(col(tsCol), lit(0).as("_side"),
        struct((rightPayload :+ rightOrd).map(col): _*).as("_pay")): _*)
    val unioned = lTagged.select(
      (keys.map(col) ++ Seq(col(tsCol), col("_side"), col("_pay")) ++
        left.columns.filterNot(c => keys.contains(c) || c == tsCol).map(c => col(c))): _*)
      .unionByName(rTagged, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").asc, col(s"_pay.$rightOrd").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("_match", last(col("_pay"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_side", "_pay")
  }

  /** Nearest as-of join (pandas merge_asof direction='nearest'): for every
    * left row, the temporally CLOSEST right row with the same key within
    * `tolerance` of a numeric ts column — backward wins distance ties.
    * Same union+window shape as [[asofJoin]] (one shuffle + sort per key,
    * no range-explosion): a running `last` carries the latest right ≤ ts
    * backward, a running `first` over the mirrored frame carries the
    * earliest right > ts forward, and a projection picks the nearer valid
    * candidate. Right rows at the exact left ts are backward candidates
    * at distance 0, so they always win. tsCol must be numeric (use raw
    * epoch nanos/micros — exact integer distances, engine-agnostic).
    * Output: left rows + `_match` struct (_rts + payload + ord; null when
    * nothing within tolerance). */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                      tsCol: String, rightPayload: Seq[String],
                      rightOrd: String, tolerance: Long): DataFrame = {
    val payCols = col(tsCol).as("_rts") +: (rightPayload :+ rightOrd).map(col)
    val payType = right.select(struct(payCols: _*)).schema.head.dataType
    val lTagged = left
      .withColumn("_side", lit(1))
      .withColumn("_pay", lit(null).cast(payType))
    val rTagged = right.select(
      keys.map(col) ++ Seq(col(tsCol), lit(0).as("_side"),
        struct(payCols: _*).as("_pay")): _*)
    val unioned = lTagged.select(
      (keys.map(col) ++ Seq(col(tsCol), col("_side"), col("_pay")) ++
        left.columns.filterNot(c => keys.contains(c) || c == tsCol).map(c => col(c))): _*)
      .unionByName(rTagged, allowMissingColumns = true)
    val base = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").asc, col(s"_pay.$rightOrd").asc_nulls_first)
    val back = last(col("_pay"), ignoreNulls = true)
      .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val fwd = first(col("_pay"), ignoreNulls = true)
      .over(base.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val withCands = unioned
      .withColumn("_back", back).withColumn("_fwd", fwd)
      .filter(col("_side") === 1)
    val bd = col(tsCol) - col("_back._rts")
    val fd = col("_fwd._rts") - col(tsCol)
    val validB = col("_back").isNotNull && bd <= tolerance
    val validF = col("_fwd").isNotNull && fd <= tolerance
    withCands
      .withColumn("_match",
        when(validB && validF, when(fd < bd, col("_fwd")).otherwise(col("_back")))
          .when(validB, col("_back"))
          .when(validF, col("_fwd")))
      .drop("_side", "_pay", "_back", "_fwd")
  }

  /** A19 — robust per-group outlier detection by median absolute
    * deviation (the MAD rule: flag x with |x − median| > k·MAD; Hampel's
    * robust alternative to z-scores — mean/stddev are themselves dragged
    * by the outliers they're meant to find).
    *
    * EXACT medians at scale without a per-row sort: the input is already
    * quantized to integer cents, so the value histogram is SMALL (≤
    * distinct cents values). One map-side-combinable groupBy builds the
    * per-group histogram, a prefix-sum window runs over THAT tiny table
    * (never over data rows — same trick as quality_top_fraction_by_domain),
    * and the median is the bucket where the cumulative count first
    * reaches ⌈n/2⌉ (lower median). MAD repeats the same crossing on the
    * |x − median| histogram. The two selected one-row-per-group frames
    * broadcast back; the final outlier filter is one scan + broadcast
    * joins. All arithmetic integer — oracle-hash-exact.
    *
    * When more than half a group shares one value, MAD = 0 and every
    * deviating row is flagged — the documented textbook behavior (a
    * near-constant metric should alarm on ANY deviation).
    *
    * Output: (id, g, qc, med_c, mad_c, dev_c) for rows with
    * dev_c > k·mad_c. */
  def madOutliers(df: DataFrame, grpCol: String, idCol: String,
                  quantCol: Column, k: Long = 5L): DataFrame = {
    val q = df.select(col(grpCol).as("g"), col(idCol).as("id"),
      quantCol.as("qc"))
    // lower median of a grouped integer column via histogram crossing:
    // first bucket whose cumulative count reaches ⌈n/2⌉ = (n+1) DIV 2.
    // n rides a whole-partition window over the SAME per-group
    // partitioning as the prefix sum (r18): the previous separate
    // groupBy(g) aggregate + join cost one more aggregation job and a
    // broadcast build per crossing — at the measured ~0.1 s/job floor
    // that was most of this operator's exec time; both windows share
    // one exchange of the tiny histogram, and n is byte-identical.
    def crossing(vals: DataFrame, valCol: String, outCol: String): DataFrame = {
      val hist = vals.groupBy(col("g"), col(valCol)).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("g")).orderBy(col(valCol))
      val wAll = Window.partitionBy(col("g"))
      hist.withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .filter(col("cum") >= expr("(n + 1) DIV 2") &&
          col("cum") - col("cnt") < expr("(n + 1) DIV 2"))
        .select(col("g"), col(valCol).as(outCol))
    }
    val med = crossing(q.select(col("g"), col("qc")), "qc", "med_c")
    val ad = q.join(broadcast(med), "g")
      .withColumn("dev_c", abs(col("qc") - col("med_c")))
    val mad = crossing(ad.select(col("g"), col("dev_c")), "dev_c", "mad_c")
    ad.join(broadcast(mad), "g")
      .filter(col("dev_c") > lit(k) * col("mad_c"))
      .select(col("id"), col("g"), col("qc"), col("med_c"), col("mad_c"),
        col("dev_c"))
  }

  /** Per-group winsorization at EXACT integer percentiles — clip each
    * value into [p, 1−p] of its group's distribution — with the same
    * histogram-crossing selection as [[madOutliers]]: the cutoff at
    * rank r is the smallest quantized value whose cumulative histogram
    * count reaches r, found by a prefix-sum window over the tiny
    * per-group value histogram, never a per-row sort. Ranks are pure
    * integers: lo_rank = ⌈n·pNum/pDen⌉, hi_rank = n − lo_rank + 1
    * (require 0 < pNum/pDen < 1/2). Cutoffs broadcast back; the final
    * pass is one scan. Output: (id, g, qc, lo_c, hi_c, clipped,
    * was_clipped) — every input row, clipped into [lo_c, hi_c]. */
  def winsorize(df: DataFrame, grpCol: String, idCol: String,
                quantCol: Column, pNum: Long, pDen: Long): DataFrame = {
    require(pNum > 0 && pNum * 2 < pDen,
      s"p must be in (0, 1/2): $pNum/$pDen")
    val q = df.select(col(grpCol).as("g"), col(idCol).as("id"),
      quantCol.as("qc"))
    val hist = q.groupBy(col("g"), col("qc")).agg(count(lit(1)).as("cnt"))
    // n via a whole-partition window on the same per-group exchange as
    // the prefix sum (r18, the madOutliers crossing rationale): drops
    // the separate groupBy(g) aggregate + join — one fewer aggregation
    // job and broadcast build; n is byte-identical.
    val w = Window.partitionBy(col("g")).orderBy(col("qc"))
    val wAll = Window.partitionBy(col("g"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("lo_rank", expr(s"(n * $pNum + $pDen - 1) DIV $pDen"))
      .withColumn("hi_rank", col("n") - col("lo_rank") + 1L)
    def cutoff(rank: Column, out: String): DataFrame = cum
      .filter(col("cum") >= rank && col("cum") - col("cnt") < rank)
      .select(col("g"), col("qc").as(out))
    val lo = cutoff(col("lo_rank"), "lo_c")
    val hi = cutoff(col("hi_rank"), "hi_c")
    q.join(broadcast(lo), "g").join(broadcast(hi), "g")
      .select(col("id"), col("g"), col("qc"), col("lo_c"), col("hi_c"),
        least(greatest(col("qc"), col("lo_c")), col("hi_c")).as("clipped"),
        (col("qc") < col("lo_c") || col("qc") > col("hi_c"))
          .as("was_clipped"))
  }

  /** J11 — binned interval join: points-in-intervals with NO equi key.
    * The naive plan ("t BETWEEN lo AND hi" with nothing to hash on) is a
    * nested-loop cartesian — dead at scale. The standard fix (bucketed
    * range join; what Databricks' range-join hint and postgres GiST do
    * under the hood) maps every interval to the fixed-width BINS it
    * overlaps and every point to the ONE bin that contains it, equi-joins
    * on the bin, then applies the exact `lo <= t < hi` filter. A point
    * lives in exactly one bin, so a (point, interval) pair can match at
    * most once — no dedup step needed.
    *
    * `binWidth` is the scale knob: candidate volume per bin is
    * |points∩bin| × |intervals∩bin|. Pick it near the typical interval
    * length — each interval then lands in ≤ 2 bins and the bin join is
    * linear in both inputs. A hot bin (burst of intervals AND points in
    * the same window) is AQE-skew-join territory, same as any hot key.
    *
    * `points` carries `tCol`, `intervals` carries `loCol`/`hiCol` (longs,
    * half-open [lo, hi)); output = all point columns + all interval
    * columns (caller avoids name collisions). Empty intervals (hi <= lo)
    * drop out. */
  def intervalJoin(points: DataFrame, tCol: String,
                   intervals: DataFrame, loCol: String, hiCol: String,
                   binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive: $binWidth")
    val ibins = intervals.filter(col(hiCol) > col(loCol))
      .withColumn("_bin", explode(sequence(
        expr(s"$loCol DIV $binWidth"),
        expr(s"($hiCol - 1) DIV $binWidth"))))
    val pbins = points.withColumn("_bin", expr(s"$tCol DIV $binWidth"))
    pbins.join(ibins, Seq("_bin"))
      .filter(col(tCol) >= col(loCol) && col(tCol) < col(hiCol))
      .drop("_bin")
  }

  /** J10 — blocked fuzzy record linkage: candidate duplicate records by
    * edit distance, made join-shaped. The naive formulation ("all pairs
    * with levenshtein ≤ d") is a cartesian product — dead at any scale.
    * The standard fix (Fellegi-Sunter blocking; same shape as the MinHash
    * band join in [[Dedup.minhashPairs]]) compares only within BLOCKS: a
    * deterministic key (phonetic code, prefix, length band, …) that any
    * true match must share. One shuffle on the block key, pairs generated
    * per block with `id_a < id_b`, then the codegen'd native
    * `levenshtein` filter — never a CartesianProduct node.
    *
    * Cost is Σ|block|², so block-size is the scale contract — same as the
    * LSH band buckets. `failOnCap` mirrors [[Dedup.minhashPairs]]: the
    * graded oracle models NO cap, so instead of silently truncating a hot
    * block the plan raises when one's PAIR COUNT bn·(bn−1)/2 exceeds
    * `maxPairs` (a count per block is one cheap map-side-combinable
    * aggregation on the already-shuffled key; recall is never traded
    * silently). The budget bounds COMPUTE directly — levenshtein
    * evaluations, the actual cost — not rows: a row cap of 4096 admits
    * ~8.4M evals per block, so that is the default budget, but callers
    * state the envelope in the unit it is spent in.
    *
    * Output: (id_a, id_b, name_a, name_b, dist), one row per linked pair.
    * Blocking recall is the caller's modelling decision: a pair in
    * different blocks is NOT compared (document the block key's false-
    * negative story next to the call). */
  /** Default pair budget: C(4096, 2) — the compute envelope the historic
    * 4096-row cap implied, now stated in the unit it is spent in. */
  val MaxPairsDefault: Long = 4096L * 4095L / 2L

  def fuzzyLink(df: DataFrame, idCol: String, nameCol: String,
                blockKey: Column, maxDist: Int,
                maxPairs: Long = MaxPairsDefault,
                failOnCap: Boolean = false): DataFrame = {
    val side = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      blockKey.as("bk"))
    // Per-block count via a whole-partition WINDOW (r18, the
    // fuzzyLinkSymDel rationale): the groupBy + join guard cost an
    // extra aggregation and join per self-join side; the window's
    // bk exchange is the same one the self-join needs, so both sides
    // share it (ReusedExchange) and bn is byte-identical. The guard
    // still gates the LIVE name column, so column pruning can never
    // eliminate the raise_error. bn counts only non-null keys: the
    // equi-join never pairs the null-bk partition, so its size must
    // not trip the budget.
    val guarded =
      if (failOnCap) {
        side
          .withColumn("bn",
            count(col("bk")).over(Window.partitionBy(col("bk"))))
          .withColumn("name",
            when(col("bn") * (col("bn") - 1L) / 2L > lit(maxPairs),
              raise_error(concat(
                lit(s"fuzzyLink: block pair count exceeded maxPairs=$maxPairs (bk="),
                col("bk").cast("string"), lit(", rows="),
                col("bn").cast("string"),
                lit(") — pick a finer block key or use the capped call"))))
              .otherwise(col("name")))
          .drop("bn")
      } else side
    // thresholded levenshtein (r17): the banded early-exit form computes
    // O(len·maxDist) cells instead of the full len² DP and returns −1
    // above the threshold — for kept pairs the value equals the plain
    // distance, so filter(>= 0) keeps the exact pair set and dist column
    guarded.as("a").join(guarded.as("b"), Seq("bk"))
      .filter(col("a.id") < col("b.id"))
      .withColumn("dist", levenshtein(col("a.name"), col("b.name"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"), col("dist"))
  }

  /** COMPLETE-recall fuzzy linkage at edit distance 1 via DUAL blocking
    * — the "second pass keyed on a DIFFERENT blocking key" that
    * [[fuzzyLink]]-style single-block linkage needs to close its stated
    * miss class, made a theorem instead of a heuristic: a pair is
    * generated when the names share `segCol` and EITHER their first
    * `prefixLen` chars or their right-anchored last `suffixLen` chars
    * coincide. A single edit (substitution, insertion, or deletion) at
    * position p leaves the prefix key intact when it lies strictly after
    * the prefix, and leaves the RIGHT-anchored suffix key intact when it
    * lies strictly before the last `suffixLen` chars of both strings
    * (length-changing edits shift positions, but the trailing character
    * sequence survives any edit left of it) — so an edit breaks BOTH
    * keys only at a position p with `length − suffixLen < p ≤ prefixLen`,
    * a region that is EMPTY exactly when `length(name) >=
    * prefixLen + suffixLen`: LONG names are the safe case. (For two
    * equal-length names SHORTER than the split sum, an edit in that
    * overlap region — e.g. 17-char names under a 14/4 split differing at
    * char 14, which sits in both the first 14 and the last 4 — changes
    * both keys and the pair is silently never compared, while the naive
    * oracle links it.) So whenever every name satisfies `length >=
    * prefixLen + suffixLen`, every distance-1 same-segment pair lands in
    * at least one block: blocked recall ≡ naive-O(n²) recall, which is
    * exactly what the graded oracle states. The precondition is enforced
    * IN-PLAN (raise_error on a SHORT name — r10 shipped this guard
    * inverted, raising on the provably-covered long case and admitting
    * the unsafe short one; flipped in r11 with the short-name miss now
    * spec-pinned), so data drift voids the claim loudly, never silently.
    * Cost: two [[fuzzyLink]] passes (each pair-budget-guarded) + a
    * pair-level dedup — at 100 TB this is the standard multi-pass
    * blocking shape; pick the split so both keys discriminate (a
    * constant shared prefix, like TPC-H's "Customer#", must sit INSIDE
    * prefixLen with room to spare), or derive it from data with
    * [[planDualSplit]]. */
  def fuzzyLinkDual(df: DataFrame, idCol: String, nameCol: String,
                    segCol: Column, prefixLen: Int, suffixLen: Int,
                    maxPairs: Long = MaxPairsDefault,
                    failOnCap: Boolean = false): DataFrame = {
    require(prefixLen >= 1 && suffixLen >= 1,
      s"both block halves must be non-empty: $prefixLen, $suffixLen")
    val guarded = df.withColumn(nameCol,
      when(length(col(nameCol)) < lit(prefixLen + suffixLen),
        raise_error(concat(
          lit(s"fuzzyLinkDual: name shorter than prefixLen+suffixLen=" +
            s"${prefixLen + suffixLen} voids the distance-1 completeness " +
            "theorem (an edit in the prefix/suffix overlap region breaks " +
            "both keys) — got "), col(nameCol))))
        .otherwise(col(nameCol)))
    val byPrefix = fuzzyLink(guarded, idCol, nameCol,
      concat_ws("|", segCol, substring(col(nameCol), 1, prefixLen)),
      maxDist = 1, maxPairs, failOnCap)
    val bySuffix = fuzzyLink(guarded, idCol, nameCol,
      concat_ws("|", segCol, substring(col(nameCol), -suffixLen, suffixLen)),
      maxDist = 1, maxPairs, failOnCap)
    byPrefix.unionByName(bySuffix).dropDuplicates("id_a", "id_b")
  }

  /** PLANNING read deriving [[fuzzyLinkDual]]'s split from the data
    * instead of a compile-time constant (the 14/4-vs-16/2 lesson: a
    * mistuned split is 6× the query). Two tiny driver-side aggregates —
    * a control boundary, like the IVF probe-cell and histogram-cutoff
    * reads: (1) min name length fixes the admissible split sum (the
    * completeness theorem needs every `length >= prefixLen + suffixLen`,
    * so the most discriminating admissible sum is the MIN length);
    * (2) ONE aggregate row holds, per candidate suffix length S, the
    * exact distinct-key counts of both halves of the (minLen−S, S)
    * split. Expected pair cost under balanced blocks is
    * Σ_pass n²/d_pass, so the planner picks the S minimizing
    * n/d_prefix + n/d_suffix — against dense sequential decimal ids
    * this lands on the shortest suffix whose block is still
    * sub-quadratic (16/2 on TPC-H names at every tested SF, the split
    * r10 hand-tuned). Deterministic: exact countDistinct, no sampling.
    * The runtime guard stack stays live regardless — a drifted corpus
    * raises in-plan (short name / pair budget), never degrades
    * silently. */
  def planDualSplit(df: DataFrame, nameCol: String,
                    candidateSuffixes: Seq[Int] = Seq(2, 3, 4)): (Int, Int) = {
    val minLen = df.agg(min(length(col(nameCol))).as("m"))
      .collect()(0).getInt(0)
    val cands = candidateSuffixes.filter(s => minLen - s >= 1)
    require(cands.nonEmpty, s"no admissible split for minLen=$minLen")
    val aggs = cands.flatMap { s =>
      Seq(countDistinct(substring(col(nameCol), 1, minLen - s))
            .as(s"dp_$s"),
          countDistinct(substring(col(nameCol), -s, s)).as(s"ds_$s"))
    } :+ count(lit(1)).as("n")
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getAs[Long]("n").toDouble
    val best = cands.minBy { s =>
      n / row.getAs[Long](s"dp_$s") + n / row.getAs[Long](s"ds_$s")
    }
    (minLen - best, best)
  }

  /** COMPLETE-recall fuzzy linkage at edit distance 1 via DELETION-
    * ALGEBRA blocking — the SymSpell idea (Garbe 2012), lifted from term
    * lookup ([[graft.operators.Search.writeSymDelIndex]]) to record
    * linkage: two strings are within edit distance 1 IFF their deletion
    * neighborhoods intersect, where the neighborhood of s is {s} ∪
    * {s with one char deleted}. Proof by case: equal names share the
    * identity variant; a substitution at position i makes both names'
    * deletion-at-i variants coincide; an insertion/deletion pair makes
    * the longer name's deletion at the inserted position equal the
    * shorter name's identity. So blocking on (segment, variant) and
    * confirming with levenshtein is LOSSLESS at distance 1 — the same
    * theorem-grade completeness as [[fuzzyLinkDual]], with a different
    * cost SHAPE: ~(len+1) variant rows per name, and a variant's block
    * holds only the names one edit away from a fixed string — against
    * decimal payloads that is ≤ ~10·len names per block (alphabet-
    * bounded) REGARDLESS of corpus size, where the dual block's suffix
    * half holds ~n/(|segments|·10^suffixLen) and fills as n grows (the
    * r11 scaling curve's one superlinear row). Total pair work is
    * therefore linear in n on dense-key corpora. The per-variant pair
    * budget still raises loudly under `failOnCap` (a corpus of one
    * repeated name puts all n rows in the identity variant's block — no
    * blocking scheme saves a degenerate key, and this one says so
    * in-plan).
    *
    * SHUFFLE shape (reworked r16 — the r15 volume twins caught this
    * operator's bytes growing 26.7× for 10× data while its time looked
    * near-linear, i.e. parallel reducers were absorbing a superlinear
    * exchange that would dominate at 100 TB; three fixes):
    *  - The block key through every exchange is `(seg,
    *    xxhash64(variant))` — 8 bytes of hash instead of the variant
    *    string payload. LOSSLESS both ways: a true distance-≤1 pair
    *    shares an actual (seg, variant) value and therefore its hashed
    *    key; a 64-bit collision can only ADD a within-segment candidate,
    *    which the exact levenshtein confirm kills.
    *  - The variant table is exchanged by the block key ONCE and
    *    checkpointed with its partitioning declared
    *    ([[org.apache.spark.sql.graftRdd.localCheckpointPartitioned]]) —
    *    see the in-body comment for the two plans this kills (a
    *    mis-estimated huge broadcast, and double execution of the
    *    explode pipeline).
    *  - The exact confirm (levenshtein ≤ 1) runs BEFORE the pair-dedup
    *    exchange — the session-overlap discipline: candidate pairs are
    *    join OUTPUT (never shuffled), and only TRUE pairs (linear in n
    *    on dense-key corpora) pay the dedup exchange. The cost traded
    *    for it is duplicate scoring — a pair sharing k variants is
    *    confirmed k times, bounded by the neighborhood size (≤ len+1,
    *    and only distance-0 pairs approach it) — a per-row codegen'd
    *    string op, cheap precisely where the removed exchange was
    *    superlinear bytes.
    * EAGER AT CONSTRUCTION (r16 ADVICE, stated rather than hidden):
    * the declared-partitioning variant checkpoint is built by a Spark
    * job when this method is CALLED, not when the returned frame first
    * executes — callers that only want the plan (explain, fingerprint,
    * audit sweeps) still pay the full variant build, and each
    * invocation pins ~(len+1)·n slim variant rows of executor storage
    * until Spark's ContextCleaner collects the dropped plan. That is
    * the same lifecycle as `Dataset.localCheckpoint` and acceptable at
    * this operator's call frequency (a handful of constructions per
    * suite run, each superseding the last); a caller constructing in a
    * tight loop should hold and reuse one returned frame per input —
    * the memoized-index discipline — rather than re-invoking.
    *
    * Output matches [[fuzzyLink]]: (id_a, id_b, name_a, name_b, dist). */
  def fuzzyLinkSymDel(df: DataFrame, idCol: String, nameCol: String,
                      segCol: Column,
                      maxPairs: Long = MaxPairsDefault,
                      failOnCap: Boolean = false): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      segCol.as("seg"))
    // i = 0 → identity variant; i in 1..len → deletion at position i.
    // The block key is the TWO-column pair (seg, xxhash64(variant)):
    // keeping seg its own column makes cross-segment aliasing impossible
    // STRUCTURALLY (the delimiter-collision class of a string concat —
    // seg="A", variant="B|C" vs seg="A|B", variant="C" — is pinned in
    // DataQualitySpec), while hashing the variant string to 8 bytes
    // keeps the exchanged rows slim; a residual 64-bit collision can
    // only merge two blocks WITHIN a segment, adding candidates the
    // exact levenshtein confirm kills — never a pair the unblocked
    // oracle excludes.
    // The variant table is EXCHANGED BY THE (seg, h) BLOCK KEY ONCE and
    // checkpointed with its partitioning declared (r16). Three reasons,
    // all measured at 10× sf0.1: (1) Catalyst's size estimate for
    // explode output is the PRE-explode parquet stats — ~(len+1)× too
    // small — so the static planner BROADCAST the entire
    // multi-million-row variant side (a ~170 MB hashed relation built
    // from a sub-10 MB estimate; no AQE correction, because the join
    // inputs aren't shuffle stages), a shape that OOMs at real scale;
    // (2) exchange reuse did not fire for the self-join's two identical
    // subtrees, so the whole explode+hash+guard pipeline EXECUTED TWICE;
    // (3) with the declared (seg, h) partitioning, the count window and
    // both self-join sides are all satisfied in place — the block-key
    // exchange is paid exactly once. Skew on the
    // key is alphabet-bounded by construction. The checkpoint blocks are
    // released by Spark's ContextCleaner when the returned plan is
    // dropped (same lifecycle as Dataset.localCheckpoint); ~(len+1)
    // rows/name of executor storage is the standing SymSpell trade the
    // scaladoc states.
    val variants = org.apache.spark.sql.graftRdd.localCheckpointPartitioned(
      base
        .select(col("id"), col("name"), col("seg"),
          explode(sequence(lit(0), length(col("name")))).as("i"))
        .select(col("id"), col("name"), col("seg"),
          xxhash64(
            when(col("i") === 0, col("name"))
              .otherwise(expr(
                "concat(substring(name, 1, i - 1), substring(name, i + 1, length(name)))")))
            .as("h"))
        .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
          col("seg"), col("h")),
      Seq("seg", "h"))
    // The per-block count rides a whole-partition WINDOW over the
    // checkpoint's declared (seg, h) partitioning (r18) — the previous
    // groupBy + merge-join guard re-aggregated and re-joined the
    // variant table once per self-join side; the window is one sorted
    // pass per side with zero new exchanges (the declared partitioning
    // satisfies its distribution), and bn is byte-identical. bn counts
    // only rows whose (seg, h) key is fully non-null, the rows the
    // equi-join can pair.
    val guarded =
      if (failOnCap) {
        variants
          .withColumn("bn", count(when(col("seg").isNotNull, col("h"))).over(
            Window.partitionBy(col("seg"), col("h"))))
          .withColumn("name",
            when(col("bn") * (col("bn") - 1L) / 2L > lit(maxPairs),
              raise_error(concat(
                lit(s"fuzzyLinkSymDel: variant pair count exceeded maxPairs=$maxPairs (block="),
                col("h").cast("string"), lit(", rows="),
                col("bn").cast("string"),
                lit(") — a degenerate repeated key; dedup names first"))))
              .otherwise(col("name")))
          .drop("bn")
      } else variants
    // confirm BEFORE the dedup exchange: candidates are join output
    // (never shuffled); only true pairs pay dropDuplicates. dist is a
    // pure function of the names, identical on every duplicate, so
    // dedup-after-confirm keeps the exact pair set.
    guarded.as("a").join(guarded.as("b").hint("merge"), Seq("seg", "h"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 1))
      .filter(col("dist") >= 0) // thresholded: −1 encodes dist > 1 (r17)
      .dropDuplicates("id_a", "id_b")
  }

  /** Interval×interval overlap self-join over sessions, binned lossless
    * (each interval explodes to the `binUs` buckets it covers; two
    * overlapping intervals both contain the overlap instant, which lies
    * in a bucket both cover), with the repo's hot-bucket discipline the
    * r12 verdict flagged as this operator's missing insurance: per-bin
    * candidate fan-out is bn·(bn−1)/2 — the TRUE answer size on healthy
    * data, but ONE viral bin at 100 TB (10⁵ concurrent sessions → 10¹⁰
    * candidate pairs in one bucket) goes quadratic with no signal. Under
    * `failOnCap` a bin whose pair bound exceeds `maxPairsPerBin` raises
    * IN-PLAN (raise_error gating the LIVE start-time column, so pruning
    * can never eliminate the guard) — the [[fuzzyLink]]/
    * [[graft.operators.Dedup.minhashPairs]] failOnCap pattern. The
    * mitigation at scale is a finer bin (minutes, not hours) or a
    * concurrency pre-cap; the guard makes the choice loud instead of a
    * silent quadratic stage.
    *
    * Input `sess`: (user_id, session_no, s_us, e_us) with micros
    * endpoints, s_us ≤ e_us. Output: cross-USER candidate pairs
    * (user_a, session_a, user_b, session_b, overlap_us ≥ 0), deduped
    * across shared bins; un-ordered — callers rank/limit. The exact
    * overlap confirm runs BEFORE the pair dedup exchange: same-bucket
    * pairs that don't actually overlap are the bulk of the binned
    * candidates, and overlap_us is identical on every duplicate of a
    * pair, so filtering first shrinks the dropDuplicates shuffle
    * without touching the answer. */
  def sessionOverlapPairs(sess: DataFrame, binUs: Long,
                          maxPairsPerBin: Long = MaxPairsDefault,
                          failOnCap: Boolean = false): DataFrame = {
    // The binned table feeds THREE consumers (the per-bin count window
    // and both self-join sides) and its lineage embeds the caller's
    // whole session derivation — at j18 that is the full events scan +
    // two sessionization windows, so an unpersisted sub-plan re-ran the
    // chain once per consumer (only the bottom exchange was sharable via
    // ReusedExchange). One declared (bin)-partitioned checkpoint (r17,
    // the fuzzyLinkSymDel discipline: EAGER at construction, blocks
    // released by ContextCleaner when the returned plan is dropped)
    // computes the chain once and satisfies the count window and the
    // self-join in place — the bin-key exchange is paid exactly once.
    val binned = org.apache.spark.sql.graftRdd.localCheckpointPartitioned(
      sess.select(col("user_id"), col("session_no"),
          col("s_us"), col("e_us"))
        .withColumn("bin",
          explode(sequence(expr(s"s_us div $binUs"), expr(s"e_us div $binUs"))))
        .repartition(sess.sparkSession.sessionState.conf.numShufflePartitions,
          col("bin")),
      Seq("bin"))
    // Per-bin count via a whole-partition WINDOW on the checkpoint's
    // declared bin partitioning (r18, the fuzzyLinkSymDel rationale):
    // the groupBy + join guard re-aggregated and re-joined the binned
    // table once per self-join side; the window is one sorted pass per
    // side, zero new exchanges, bn byte-identical.
    val guarded =
      if (failOnCap) {
        binned
          .withColumn("bn",
            count(col("bin")).over(Window.partitionBy(col("bin"))))
          .withColumn("s_us",
            when(col("bn") * (col("bn") - 1L) / 2L > lit(maxPairsPerBin),
              raise_error(concat(
                lit(s"sessionOverlapPairs: bin pair bound exceeded maxPairsPerBin=$maxPairsPerBin (bin="),
                col("bin").cast("string"), lit(", sessions="),
                col("bn").cast("string"),
                lit(") — use a finer bin or pre-cap concurrency"))))
              .otherwise(col("s_us")))
          .drop("bn")
      } else binned
    val a = guarded.select(col("user_id").as("user_a"),
      col("session_no").as("session_a"), col("s_us").as("sa"),
      col("e_us").as("ea"), col("bin"))
    val b = guarded.select(col("user_id").as("user_b"),
      col("session_no").as("session_b"), col("s_us").as("sb"),
      col("e_us").as("eb"), col("bin"))
    a.join(b, Seq("bin")).filter(col("user_a") < col("user_b"))
      .withColumn("overlap_us",
        least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
      .filter(col("overlap_us") >= 0L)
      .drop("bin")
      .dropDuplicates("user_a", "session_a", "user_b", "session_b")
      .select(col("user_a"), col("session_a"), col("user_b"),
        col("session_b"), col("overlap_us"))
  }

  /** Sorted-neighborhood record linkage (Hernández & Stolfo, "The
    * Merge/Purge Problem for Large Databases", SIGMOD 1995) — the THIRD
    * classic blocking scheme next to [[fuzzyLink]]'s equality blocks and
    * [[fuzzyLinkDual]]'s dual pass: sort the records by the match key,
    * slide a window of `window` ranks, compare only records whose ranks
    * are within the window. Cost is exactly `window · n` candidate
    * pairs — LINEAR in n where equality blocks are quadratic within each
    * block — at the price of the stated miss class (a true pair sorted
    * more than `window` ranks apart; multi-pass with rotated keys is the
    * classic recall fix, same trick as dual blocking).
    *
    * Scale shapes, both the classic scale traps of this method avoided:
    *  - the GLOBAL RANK never runs as a single-task window — it is the
    *    two-phase decomposition [[Sequence.denseIds]] uses (rank within a
    *    range partition + an exclusive prefix sum over the nRanges
    *    partition COUNTS, broadcast back), except range-partitioned on
    *    the sort key so rank order IS sort order. The range exchange is
    *    checkpointed: rank and offset reads must see the SAME sampled
    *    boundaries (the output is boundary-invariant, but only if both
    *    phases agree on them);
    *  - the window pairing is an EQUI-join, not a range join: each row
    *    explodes to its `window` successor ranks and joins on rank
    *    equality — shuffle on a dense integer key, no cartesian, no
    *    sort-merge range scan.
    * Output: (id_a, id_b, name_a, name_b, dist) with id_a the LOWER-RANK
    * side, pairs unique by construction (ranks are unique).
    *
    * `sortKey` (an expression over the caller's columns, default the
    * name itself) is the Hernández–Stolfo seam: each multi-pass run
    * re-sorts by a ROTATED key so a true pair far apart under one key
    * gets a second chance under another — see
    * [[sortedNeighborhoodMulti]].
    *
    * `idGate` (r17): optional id-level predicate applied to BOTH pair
    * endpoints AFTER ranking but BEFORE the window equi-join and the
    * levenshtein confirm. Ranks are computed over the FULL input (window
    * membership depends on the global sort, so gating must not re-rank),
    * and a pair survives the gate exactly when both endpoints pass —
    * identical to filtering the returned pairs on
    * `gate(id_a) && gate(id_b)`, but the join and the per-pair distance
    * work run on the gated fraction only (guide §2.3: filter before the
    * exchange). The sampled recall evals keep ~2/5 of ids, so their SNM
    * candidate pass drops to fraction² ≈ 16% of the pair work without
    * changing one output row. */
  def sortedNeighborhood(df: DataFrame, idCol: String, nameCol: String,
                         window: Int, maxDist: Int,
                         nRanges: Int = 32,
                         sortKey: Option[Column] = None,
                         idGate: Option[Column => Column] = None): DataFrame = {
    require(window >= 1, s"window must be positive: $window")
    val parts = df.select(col(idCol).as("id"), col(nameCol).as("name"),
        sortKey.getOrElse(col(nameCol)).as("_sk"))
      .repartitionByRange(nRanges, col("_sk"), col("id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // rank + offsets must see the same boundaries
    try {
      val w = Window.partitionBy(col("pid")).orderBy(col("_sk"), col("id"))
      val wo = Window.orderBy(col("pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = broadcast(parts.groupBy(col("pid"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("offset", coalesce(sum(col("cnt")).over(wo), lit(0L)))
        .select(col("pid"), col("offset")))
      val rankedAll = parts
        .withColumn("rk", row_number().over(w).cast("long"))
        .join(offsets, "pid")
        .select(col("id"), col("name"), (col("offset") + col("rk")).as("rk"))
      // gate AFTER ranking (global ranks unchanged), BEFORE pair fan-out
      val ranked = idGate.map(g => rankedAll.filter(g(col("id"))))
        .getOrElse(rankedAll)
      val probes = ranked
        .withColumn("rk_b", explode(sequence(col("rk") + 1, col("rk") + window)))
        .select(col("id").as("id_a"), col("name").as("name_a"), col("rk_b"))
      val targets = ranked.select(col("id").as("id_b"),
        col("name").as("name_b"), col("rk").as("rk_b"))
      probes.join(targets, "rk_b")
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
        .filter(col("dist") >= 0) // thresholded: −1 encodes dist > maxDist
        .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
          col("dist"))
        .localCheckpoint() // small pair result outlives parts' release
    } finally Checkpoints.release(parts)
  }

  /** MULTI-PASS sorted neighborhood — the classic Hernández–Stolfo
    * recall fix for [[sortedNeighborhood]]'s stated miss class (a true
    * pair sorted more than `window` ranks apart under ONE key): run the
    * single-pass scan once per sort key and union the pair sets. Each
    * key induces a different neighborhood — e.g. the name itself groups
    * shared PREFIXES while `reverse(name)` groups shared SUFFIXES, so a
    * distance-1 pair differing in an early character (far apart by
    * name) sits adjacent by reversed name. Cost is exactly
    * `passes · window · n` candidate pairs — still linear in n, the
    * measured recall lift per pass is `eval_snm_recall`'s job. Pairs
    * are normalized to id_a = min(id) (a pair's lower-RANK side can
    * flip between keys) and deduped, so each linked pair appears once
    * regardless of how many passes caught it. */
  def sortedNeighborhoodMulti(df: DataFrame, idCol: String, nameCol: String,
                              window: Int, maxDist: Int,
                              sortKeys: Seq[Column],
                              nRanges: Int = 32): DataFrame = {
    require(sortKeys.nonEmpty, "at least one sort key")
    sortKeys
      .map(k => sortedNeighborhood(df, idCol, nameCol, window, maxDist,
        nRanges, Some(k)))
      .map(p => p.select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        when(col("id_a") < col("id_b"), col("name_a"))
          .otherwise(col("name_b")).as("name_a"),
        when(col("id_a") < col("id_b"), col("name_b"))
          .otherwise(col("name_a")).as("name_b"),
        col("dist")))
      .reduce(_ unionByName _)
      .dropDuplicates("id_a", "id_b")
  }

  /** Skew-safe aggregation: two-phase groupBy with a random-ish salt on the
    * first phase. For a decomposable aggregate (sum/count/min/max), phase 1
    * shuffles on (key, salt) — a hot key spreads over `saltBuckets`
    * reducers — and phase 2 combines the per-salt partials with a second,
    * tiny shuffle on the key alone. Use when one key holds a large share of
    * the rows (AQE skew-join handles joins; this handles aggregations).
    * The salt is derived from stable row content via hash(), so results
    * are deterministic.
    *
    * aggs: (inputCol, "sum"|"count"|"min"|"max", outName). */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltCols: Seq[String],
                saltBuckets: Int,
                aggs: Seq[(String, String, String)]): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(hash(saltCols.map(col): _*), lit(saltBuckets)))
    val phase1 = salted.groupBy((keys :+ "_salt").map(col): _*)
      .agg(aggs.head match { case (c, f, o) => partialAgg(c, f, o) },
        aggs.tail.map { case (c, f, o) => partialAgg(c, f, o) }: _*)
    phase1.groupBy(keys.map(col): _*)
      .agg(aggs.head match { case (c, f, o) => combineAgg(f, o) },
        aggs.tail.map { case (c, f, o) => combineAgg(f, o) }: _*)
  }

  private def partialAgg(c: String, f: String, out: String): Column = f match {
    case "sum" => sum(col(c)).as(out)
    case "count" => count(col(c)).as(out)
    case "min" => min(col(c)).as(out)
    case "max" => max(col(c)).as(out)
  }

  /** combine of partials: count re-combines with sum; others idempotent. */
  private def combineAgg(f: String, out: String): Column = f match {
    case "sum" | "count" => sum(col(out)).as(out)
    case "min" => min(col(out)).as(out)
    case "max" => max(col(out)).as(out)
  }

  /** A6 — feasibility sum (reference utility/feasibility_utility.py:15-28):
    * Σ floor(window / interval) over the enabled live set vs a budget. */
  def feasibility(items: DataFrame, intervalCol: Column, windowSeconds: Long,
                  budget: Long): DataFrame =
    items.agg(
      sum(floor(lit(windowSeconds) / intervalCol)).cast("long").as("required"),
      lit(budget).as("budget"))
      .withColumn("feasible", col("required") <= col("budget"))
      .withColumn("utilization_pct",
        round(col("required") / col("budget") * 100.0, 6))

  /** Skew-salted equi-join — the join-side companion of [[saltedAgg]] for
    * when the probe side has hot keys AND the build side is too large to
    * broadcast (AQE's skew-join split handles sort-merge joins after the
    * fact; salting fixes the partitioning itself and also covers
    * aggregations stacked on the join output). The probe side takes a
    * deterministic content-hash salt in [0, buckets); the build side
    * replicates each row `buckets` times via a sequence-explode generator
    * (cost: |build| × buckets narrow rows — choose buckets ≈ the skew
    * factor, not 100). The join key becomes (keys, _salt), so one hot
    * key's rows spread over `buckets` reducers instead of one. */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 saltCols: Seq[String], buckets: Int,
                 joinType: String = "inner"): DataFrame = {
    val salted = probe.withColumn("_salt",
      pmod(hash(saltCols.map(col): _*), lit(buckets)))
    val replicated = build.withColumn("_salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, keys :+ "_salt", joinType).drop("_salt")
  }

  /** SCD Type-2 interval build: collapse a change log into validity
    * intervals per key — the warehouse-dimension view of the reference's
    * append-only history (its hypertables keep every observed row and
    * serve latest-point reads, api/main.py:369-388; SCD2 materializes
    * WHEN each state changed, for all of history, so "state as of t" is
    * an interval lookup instead of a scan-back). A row opens an interval
    * when its state differs from the
    * key's previous state; the interval closes at the NEXT change's
    * timestamp (NULL = still current).
    *
    * Shape: one hash exchange on the keys; both window passes (the lag
    * that marks changes, the lead that closes intervals) and the
    * change-filter between them reuse that partitioning, and each
    * partition sort is bounded by one key's history — never the table.
    * `tieCol` makes the within-key order total (equal-timestamp changes
    * are real in append logs). */
  def scd2(df: DataFrame, keys: Seq[String], stateCol: String,
           tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    df.withColumn("_prev", lag(col(stateCol), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col(stateCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(keys.map(col) :+ col(stateCol).as("state") :+
        col(tsCol).as("valid_from") :+ col("valid_to") :+
        col(tieCol).as("change_id") :+
        col("valid_to").isNull.as("is_current"): _*)
  }

  /** Partial daily rollup — the mergeable half of incremental
    * materialized-view maintenance. Counts and EXACT decimal sums (a
    * double sum is addition-order-dependent, so merged partials could
    * never hash-match a recompute); cast to double only when serving. */
  def rollupPartial(ev: DataFrame, tsCol: String, typeCol: String,
                    valCol: String): DataFrame =
    ev.groupBy(to_date(col(tsCol)).as("day"), col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valCol).cast("decimal(12,2)")).as("sum_dec"))

  /** Per-day mergeable distinct-count sketches (DataSketches HLL) — the
    * cardinality twin of the Bloom-sketch lifecycle and the third leg of
    * incremental view maintenance: COUNT/SUM merge via [[rollupMerge]]'s
    * exact decimals, set MEMBERSHIP via the Bloom artifact, and DISTINCT
    * COUNTS via these. Each day's sketch is built once from that day's
    * rows (map-side combinable aggregation), stored as bytes, and any
    * span's distinct count is answered by UNIONING stored sketches —
    * never by re-reading fact history. HLL register merge is a per-
    * register max, so union(daily sketches) holds the SAME registers as
    * one build over the whole span — the estimates are equal exactly,
    * not approximately (the spec pins equality; only the estimate-vs-
    * TRUTH gap is approximate). Output: (day, sketch BINARY). */
  def hllDailySketches(ev: DataFrame, tsCol: String, keyCol: String): DataFrame =
    ev.groupBy(to_date(col(tsCol)).as("day"))
      .agg(hll_sketch_agg(col(keyCol)).as("sketch"))

  /** Union stored sketches into one span estimate: (n_days, distinct_est). */
  def hllSpanEstimate(sketches: DataFrame): DataFrame =
    sketches.agg(count(lit(1)).as("n_days"),
      hll_sketch_estimate(hll_union_agg(col("sketch"))).as("distinct_est"))

  /** Mergeable count-min sketch (Cormode & Muthukrishnan 2005) in
    * RELATIONAL form — the frequency twin of the HLL cardinality sketch:
    * a depth×width counter matrix stored as (r, c, cnt) ROWS rather than
    * opaque bytes, so merging partials is plain re-aggregation (integer
    * sums are associative — merge-of-partials ≡ whole-corpus build
    * EXACTLY, the property the spec pins) and a second engine can replay
    * every counter bitwise. Row-r hash is the epoch-salted scramble
    * already used by [[Mix.epochShuffle]] — (polyHash(k)+r)·M mod P ·M
    * mod P mod width — exact long arithmetic, no libm, r-indexed rows
    * decorrelated by the avalanche.
    *
    * Scale shape: the build is ONE map-side-combinable groupBy bounded by
    * depth·width result rows regardless of corpus size; the sketch table
    * (KBs) BROADCASTS for estimation, so querying frequencies never
    * touches the fact history — the point of keeping per-day/per-source
    * partials. Output: (r, c, cnt). */
  /** The (r, c) cell of every input key — shared by the whole-corpus
    * build, the daily partials, and the estimate probe, so all three
    * address the same counters by construction. */
  private def cmsCells(df: DataFrame, keyCol: String, depth: Int,
                       width: Int): DataFrame = {
    val p = graft.operators.Dedup.HashMod
    val m = graft.operators.Mix.ScrambleM
    df.withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("c", pmod(
        (graft.operators.Dedup.polyHash(col(keyCol)) + col("r")) * m % p * m % p,
        lit(width.toLong)))
  }

  def cmsBuild(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame =
    cmsCells(df.select(col(keyCol)), keyCol, depth, width)
      .groupBy(col("r"), col("c")).agg(count(lit(1)).as("cnt"))

  /** Merge CMS partials: per-cell integer sum — exactly the whole-corpus
    * build over the union of their inputs (spec-pinned). */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("r"), col("c")).agg(sum(col("cnt")).as("cnt"))

  /** Per-day CMS partials — the frequency leg of the stored-sketch
    * lifecycle, completing the trio: COUNT/SUM partials ([[rollupPartial]]),
    * distinct counts ([[hllDailySketches]]), and now frequencies. Each
    * day's (day, r, c, cnt) rows are built once from that day's facts
    * (map-side combinable, ≤ depth·width rows per day) and stored via
    * `PartitionedStore.commitVersion` — nightly appends add only the new
    * day's rows. Because the counters are associative integer sums,
    * [[cmsSpan]] over ANY stored day range is bitwise the whole-corpus
    * build over those days' facts — span frequency queries never re-read
    * fact history. */
  def cmsDailySketches(ev: DataFrame, tsCol: String, keyCol: String,
                       depth: Int, width: Int): DataFrame =
    cmsCells(ev.select(to_date(col(tsCol)).as("day"), col(keyCol)),
        keyCol, depth, width)
      .groupBy(col("day"), col("r"), col("c")).agg(count(lit(1)).as("cnt"))

  /** Collapse stored daily partials (any day span) into one serving
    * sketch: per-cell integer sum, ≡ the whole-span build exactly. */
  def cmsSpan(daily: DataFrame): DataFrame =
    daily.groupBy(col("r"), col("c")).agg(sum(col("cnt")).as("cnt"))

  /** Point-query the sketch: a key's estimate is the MIN over its depth
    * cells (absent cell = 0). Never under-counts; collisions only inflate
    * — est ≥ true always, the CMS guarantee the spec asserts. The sketch
    * side broadcasts; the key side never shuffles. Output: (keyCol,
    * est_cnt). */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                  depth: Int, width: Int): DataFrame = {
    val p = graft.operators.Dedup.HashMod
    val m = graft.operators.Mix.ScrambleM
    keys.select(col(keyCol))
      .select(col(keyCol), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("c", pmod(
        (graft.operators.Dedup.polyHash(col(keyCol)) + col("r")) * m % p * m % p,
        lit(width.toLong)))
      .join(broadcast(sketch), Seq("r", "c"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  /** A/B experiment lift report with DETERMINISTIC variant assignment
    * and division-free comparison — the online-experimentation read
    * over an event stream: each user lands in arm A or B by the parity
    * of their avalanched id hash (the stable bucketing every
    * experimentation platform uses — assignment is a pure function of
    * the id, reproducible across engines and re-runs, no RNG), the
    * conversion metric is the quantized value sum over `conv` rows, and
    * the verdict "B beats A on per-user value" is the cross-multiplied
    * integer comparison qsum_b·n_users_a > qsum_a·n_users_b — exact
    * long arithmetic, no mean ever divided.
    *
    * Scale shape: ONE scan with conditional aggregation (the per-arm
    * sums and distinct-user counts partial-aggregate map-side); output
    * is a single row. Output: (n_users_a, n_users_b, conv_a, conv_b,
    * qsum_a, qsum_b, cross_a, cross_b, b_beats_a). */
  def abLift(df: DataFrame, userCol: String, conv: Column,
             valCol: String): DataFrame = {
    val variant = pmod(
      Mix.sampleHash(col(userCol).cast("string")), lit(2L))
    val qv = floor(col(valCol) * lit(1e6)).cast("long")
    df.withColumn("_v", variant)
      .agg(
        countDistinct(when(col("_v") === 0L, col(userCol))).as("n_users_a"),
        countDistinct(when(col("_v") === 1L, col(userCol))).as("n_users_b"),
        sum(when(col("_v") === 0L && conv, 1L).otherwise(0L)).as("conv_a"),
        sum(when(col("_v") === 1L && conv, 1L).otherwise(0L)).as("conv_b"),
        sum(when(col("_v") === 0L && conv, qv).otherwise(0L)).as("qsum_a"),
        sum(when(col("_v") === 1L && conv, qv).otherwise(0L)).as("qsum_b"))
      .select(col("n_users_a"), col("n_users_b"), col("conv_a"),
        col("conv_b"), col("qsum_a"), col("qsum_b"),
        (col("qsum_a") * col("n_users_b")).as("cross_a"),
        (col("qsum_b") * col("n_users_a")).as("cross_b"),
        (col("qsum_b") * col("n_users_a") >
          col("qsum_a") * col("n_users_b")).as("b_beats_a"))
  }

  /** Equi-join CARDINALITY estimate from two CMS sketches (the
    * AMS/CMS inner-product estimator, Alon-Matias-Szegedy via
    * Cormode-Muthukrishnan): |A ⋈ B| on key k is exactly
    * Σₖ f_A(k)·f_B(k), and each sketch row's cell-wise dot product
    * Σ_c a[r,c]·b[r,c] equals that sum PLUS non-negative collision
    * cross-terms — so min over the depth rows never under-estimates
    * (est ≥ true, the join-size twin of the CMS point guarantee,
    * spec-pinned). This is the PLANNER read at 100 TB: choose
    * broadcast vs shuffle vs salt for a join from two KB-sized stored
    * sketches without scanning either input — and because the sketches
    * are the same mergeable (r, c, cnt) rows [[cmsDailySketches]]
    * stores, any day span's join size is answerable from the store.
    * Pure integer products of longs (counts up to ~3·10⁹ per cell stay
    * inside 2⁶³ when squared and summed over a 64-wide row; beyond
    * that widen cnt to DECIMAL(38,0) — one cast). A depth row whose
    * two sketches share NO cell has dot 0 — the explicit row spine
    * keeps that zero in the min instead of letting the inner join
    * silently drop the row (est would otherwise overstate an empty
    * join). Output: one row (est_join_size). */
  def cmsJoinSize(sa: DataFrame, sb: DataFrame, depth: Int): DataFrame = {
    val dots = sa.join(sb.withColumnRenamed("cnt", "cnt_b"), Seq("r", "c"))
      .groupBy(col("r"))
      .agg(sum(col("cnt") * col("cnt_b")).as("dot"))
    sa.sparkSession.range(depth).select(col("id").cast("int").as("r"))
      .join(dots, Seq("r"), "left")
      .na.fill(0L, Seq("dot"))
      .agg(min(col("dot")).as("est_join_size"))
  }

  /** K-minimum-values distinct sketch (Bar-Yossef et al. 2002) — the
    * ORACLE-EXACT cardinality leg of the stored-sketch trio. The HLL
    * sketches ([[hllDailySketches]]) answer the same question with
    * tighter memory, but their register bytes are engine-specific, so
    * their oracle contract is only an error BOUND; a KMV sketch is k
    * plain integers — the k smallest distinct avalanched hashes — and
    * every one of them, the merge of any partials, and the final
    * estimate are exact long arithmetic a second engine replays bit for
    * bit. Estimator: with U₍ₖ₎ = kth-min / P the fraction of hash space
    * below the kth value, distinct ≈ (k−1)/U₍ₖ₎ = (k−1)·P DIV kth-min —
    * integer division on non-negative longs (truncate ≡ floor). Under k
    * distinct values the sketch IS the exact distinct set.
    *
    * Scale shape: the build is distinct-then-TakeOrdered — map-side
    * partial distinct, then a bounded k-row top-k that never sorts
    * globally (TakeOrderedAndProject); per-day partials bound state at
    * k rows/day, and merging any day span re-aggregates k·days rows,
    * never fact history. Merge-of-partials ≡ whole-span build EXACTLY:
    * each of the span's k global minima is among its own day's k
    * minima, so the union of daily sketches always contains the global
    * answer (the spec pins this). */
  def kmvBuild(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    requireKmvK(k)
    df.select(Mix.sampleHash(col(keyCol)).as("hv")).distinct()
      .orderBy(col("hv")).limit(k)
  }

  /** The estimator divides by kth-min, which can be 0 only when hash 0
    * (e.g. the empty-string key) IS the kth value — possible only at
    * k=1. Spark's integer `div 0` yields null SILENTLY, so a k=1 misuse
    * would corrupt est_distinct instead of failing; refuse it loudly at
    * build/serve time (k≥2 makes kth_min ≥ 1 structurally). */
  private def requireKmvK(k: Int): Unit =
    require(k >= 2, s"KMV sketches need k >= 2 (got $k): at k=1 a " +
      "kth_min of 0 (hash of an empty key) makes the (k-1)*P DIV " +
      "kth_min estimator divide by zero, which Spark nulls silently")

  /** Per-day KMV partials: (day, hv) — each day's k smallest distinct
    * key hashes, via the bounded CollectTopK aggregation on the negated
    * hash (top-k largest of −hv = k smallest of hv; never a per-group
    * sort or window over data rows). */
  def kmvDailySketches(ev: DataFrame, tsCol: String, keyCol: String,
                       k: Int): DataFrame = {
    import org.apache.spark.sql.graftExpr
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
    val topk = graftExpr.column(
      new CollectTopK(graftExpr.expression(-col("hv")), k, false)
        .toAggregateExpression())
    ev.select(to_date(col(tsCol)).as("day"),
        Mix.sampleHash(col(keyCol)).as("hv"))
      .distinct()
      .groupBy(col("day")).agg(topk.as("negs"))
      .select(col("day"), explode(col("negs")).as("neg"))
      .select(col("day"), (-col("neg")).as("hv"))
  }

  /** Collapse stored daily partials (any day span) into one serving
    * sketch: distinct-then-TakeOrdered over k·days rows ≡ the
    * whole-span build exactly. */
  def kmvSpan(daily: DataFrame, k: Int): DataFrame =
    daily.select(col("hv")).distinct().orderBy(col("hv")).limit(k)

  /** Estimate from a serving sketch: one row (k_used, kth_min,
    * est_distinct). k_used < k ⇒ the sketch saw every distinct value
    * and the estimate is exact; otherwise (k−1)·P DIV kth-min. */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame = {
    requireKmvK(k)
    val p = graft.operators.Dedup.HashMod
    sketch.agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth_min"))
      .select(col("k_used"), col("kth_min"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(s"(${k - 1} * ${p}L) div kth_min"))
          .as("est_distinct"))
  }

  /** KMV set-INTERSECTION estimate from two sketches (the theta-sketch
    * set-algebra read: audience overlap between two 100 TB cohorts
    * without ever materializing either set): take the union's k-min set
    * K with threshold θ = max(K), count the members of K present in
    * BOTH input sketches, and scale — inter ≈ (n_common/k)·union_est,
    * emitted as the integer n_common·union_est DIV k_used. Every value
    * is exact long arithmetic from the two k-row sketches (broadcast
    * joins against K; no raw data touched), so a second engine replays
    * the estimate bitwise. Under-k unions are exact. Output: (k_used,
    * theta, n_common, union_est, inter_est). */
  def kmvJaccard(sa: DataFrame, sb: DataFrame, k: Int): DataFrame = {
    requireKmvK(k)
    val p = graft.operators.Dedup.HashMod
    val u = kmvSpan(sa.unionByName(sb), k)
    u.join(broadcast(sa.withColumn("in_a", lit(1L))), Seq("hv"), "left")
      .join(broadcast(sb.withColumn("in_b", lit(1L))), Seq("hv"), "left")
      .agg(count(lit(1)).as("k_used"), max(col("hv")).as("theta"),
        sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L)
          .otherwise(0L)).as("n_common"))
      .select(col("k_used"), col("theta"), col("n_common"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(s"(${k - 1} * ${p}L) div theta"))
          .as("union_est"))
      .withColumn("inter_est",
        when(col("k_used") > 0L,
          expr("(n_common * union_est) div k_used")).otherwise(lit(0L)))
  }

  /** Quantize a value column to integer CENTS with the cross-engine
    * precondition enforced in-plan: the quantile selections below
    * compare `cum·den ≥ n·num` — pure integer products — but the
    * BUCKET itself comes from FLOOR(value·100), which DuckDB and Spark
    * agree on only for non-negative inputs once downstream integer
    * ratios get involved; more importantly a negative bucket would
    * break the non-negative-operands contract every stored-sketch
    * consumer in this file assumes. First offending row raises. */
  private def qcents(c: Column): Column =
    when(c < 0, raise_error(concat(
      lit("quantile sketch: negative value breaks the non-negative "),
      lit("bucket contract — got "), c.cast("string"))))
      .otherwise(floor(c * lit(1e2)).cast("long"))

  /** Per-day quantized-value HISTOGRAMS — the quantile leg that
    * completes the persisted-sketch family (Bloom membership, HLL+KMV
    * cardinality, CMS frequency, and now rank selection). Unlike
    * KLL/t-digest — whose compaction state is engine-specific — an
    * exact histogram over integer cents IS a quantile sketch whenever
    * the value domain is bounded (prices, latencies, scores): per (key,
    * day) at most `distinct cents` rows, merge = integer cnt sum, and
    * every quantile read is the histogram-crossing selection
    * ([[madOutliers]]' machinery) — exact long arithmetic end to end,
    * so a second engine replays span p50/p95/p99 BITWISE (the oracle
    * does), which neither the ±ε `a18_approx_quantiles` contract nor a
    * float t-digest could promise.
    *
    * Scale shape: one shuffle on (day, key, qc), map-side combinable;
    * daily partials are bounded by |keys|·|distinct cents| rows/day —
    * independent of fact-row volume. Nightly appends add only the new
    * day's rows; [[quantileSpan]] over ANY stored day range re-reads
    * sketch rows, never fact history. Output: (day, key, qc, cnt). */
  def quantileDailySketches(ev: DataFrame, tsCol: String, keyCol: String,
                            valCol: String): DataFrame =
    ev.select(to_date(col(tsCol)).as("day"), col(keyCol).as("key"),
        qcents(col(valCol)).as("qc"))
      .groupBy(col("day"), col("key"), col("qc"))
      .agg(count(lit(1)).as("cnt"))

  /** Collapse stored daily histograms (any day span) into one serving
    * histogram: per-(key, bucket) integer sum ≡ the whole-span build
    * exactly (spec-pinned, same merge identity as [[cmsSpan]]). */
  def quantileSpan(daily: DataFrame): DataFrame =
    daily.groupBy(col("key"), col("qc")).agg(sum(col("cnt")).as("cnt"))

  /** Serve exact percentiles from a (key, qc, cnt) histogram: for each
    * requested (name, num, den) the answer is the smallest bucket whose
    * cumulative count reaches rank ⌈n·num/den⌉ — stated division-free
    * as `cum·den ≥ n·num` (all operands non-negative longs, engine-
    * identical). The prefix-sum window runs over the HISTOGRAM (bounded
    * by |keys|·|distinct cents| — never data rows), then ONE aggregate
    * picks every percentile in the same pass: min(qc | cum·den ≥
    * n·num). Output: (key, n, <name per percentile>), one row per key.
    */
  def quantileServe(hist: DataFrame,
                    ps: Seq[(String, Long, Long)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, num, den) =>
      num > 0 && num <= den }, s"percentiles must be in (0, 1]: $ps")
    val cum = hist
      .withColumn("cum", sum(col("cnt"))
        .over(Window.partitionBy(col("key")).orderBy(col("qc"))))
      .withColumn("n", sum(col("cnt"))
        .over(Window.partitionBy(col("key"))))
    val aggs = ps.map { case (nm, num, den) =>
      min(when(col("cum") * lit(den) >= col("n") * lit(num), col("qc")))
        .as(nm) }
    cum.groupBy(col("key"))
      .agg(max(col("n")).as("n"), aggs: _*)
  }

  /** 2-D Pareto frontier (skyline), both dimensions maximized: keep the
    * rows no other row weakly dominates in (x, y) with at least one
    * strict improvement; ties on BOTH coordinates all survive.
    *
    * Shape: the textbook NOT-EXISTS statement is O(n²); this is the
    * sort-free two-window form over the DISTINCT-X HISTOGRAM —
    * aggregate ymax per x (one map-combinable shuffle over data rows),
    * take the running max of ymax over strictly-greater x (a window
    * over the distinct-x table, bounded by value cardinality, never by
    * row count), keep x-groups whose ymax strictly beats it, then one
    * broadcast semi-join back to data rows with y = ymax(x). At 100 TB
    * the only data-volume cost is the per-x aggregate + the broadcast
    * probe; the frontier itself (and the window) live on the histogram.
    * Output: the surviving rows of `df` (original columns). */
  def paretoFrontier2D(df: DataFrame, xCol: String,
                       yCol: String): DataFrame = {
    val perX = df.groupBy(col(xCol).as("px")).agg(max(col(yCol)).as("ymax"))
    // strictly-larger-x running max: window over the distinct-x histogram
    val wGt = Window.orderBy(col("px").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perX
      .withColumn("runmax", max(col("ymax")).over(wGt))
      .filter(col("runmax").isNull || col("ymax") > col("runmax"))
      .select(col("px"), col("ymax"))
    df.join(broadcast(frontier),
      col(xCol) === col("px") && col(yCol) === col("ymax"))
      .drop("px", "ymax")
  }

  /** Incremental maintenance of a materialized INNER-JOIN view under
    * insert-only deltas — the join sibling of [[rollupMerge]]'s
    * aggregate IVM (Blakeley et al., "Efficiently updating materialized
    * views", SIGMOD 1986): with standing sides A, B and inserted deltas
    * dA, dB,
    * `(A∪dA) ⋈ (B∪dB) = (A⋈B) ∪ (dA⋈B) ∪ (A⋈dB) ∪ (dA⋈dB)`
    * — so the stored view (A⋈B) stays untouched and the nightly
    * increment is the three delta terms this returns. Scale shape: each
    * term joins a DELTA against a standing side (or the other delta),
    * and the delta side is broadcast — the standing tables are only ever
    * PROBED, never shuffled against each other; at 100 TB the increment
    * costs three broadcast probes of delta size, while a view rebuild
    * would re-shuffle both full tables. Exactness needs no arithmetic:
    * the identity is set algebra, and duplicate-free inputs (keys
    * inserted once) keep the union duplicate-free. Output columns follow
    * unionByName, so all three terms project identically. */
  def joinViewIncrement(aOld: DataFrame, dA: DataFrame, bOld: DataFrame,
                        dB: DataFrame, keys: Seq[String]): DataFrame = {
    val t1 = bOld.join(broadcast(dA), keys)
    val t2 = aOld.join(broadcast(dB), keys)
    val t3 = dA.join(broadcast(dB), keys)
    t1.unionByName(t2).unionByName(t3)
  }

  /** Merge a standing rollup with a delta partial: re-aggregate the
    * UNION of partials. Exact decimal internals make
    * merge(partial(old), partial(delta)) ≡ partial(old ∪ delta) bitwise.
    * Scale shape: the standing agg table is |days|·|types| rows and the
    * delta partial is delta-sized — the merge shuffles agg-table-sized
    * rows, never the fact history. This is how a 100 TB events table
    * keeps a serving rollup fresh nightly without a full recompute. */
  def rollupMerge(a: DataFrame, b: DataFrame): DataFrame = {
    // the grouping type column BY NAME — both partials carry exactly
    // (day, <type>, n_events, sum_dec), but unionByName is column-order
    // tolerant, so a positional columns(1) could silently group a
    // reordered caller's partial by the wrong column
    val typeCol = a.columns.filterNot(
      Set("day", "n_events", "sum_dec")) match {
      case Array(only) => only
      case other => throw new IllegalArgumentException(
        s"rollupMerge expects (day, <type>, n_events, sum_dec) partials; " +
          s"ambiguous type column among ${other.mkString(", ")}")
    }
    a.unionByName(b)
      .groupBy(col("day"), col(typeCol))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_dec")).as("sum_dec"))
  }
}
