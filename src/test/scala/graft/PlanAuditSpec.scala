package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The plan audit as regression tests: the physical-plan properties the
  * engine's scale story rests on — pushdown reaching the scan, dims
  * broadcasting, single-exchange aggregations, projection-only pipelines
  * staying exchange-free — asserted on the headline queries so a refactor
  * that silently degrades a plan fails CI, not a cluster. Shapes are
  * SF-independent; sf0.001 keeps planning instant. */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = LocalSession(2)
    // don't let the FileScan metadata line truncate away PushedFilters
    s.conf.set("spark.sql.maxMetadataStringLength", "2000")
    s
  }

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  private def countOf(p: String, needle: String): Int =
    p.sliding(needle.length).count(_ == needle)

  test("o2_range_scan: ts_ns range predicates reach the parquet scan as PushedFilters") {
    val p = plan("o2_range_scan")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    // the DF renames the physical column ts → ts_raw (micros encoding) or
    // ts → ts_ns (nanos); either way the scan's PushedFilters speak the
    // FILE's column name — a timestamp bound or a ≥13-digit nanos bound
    assert(pushed.matches(""".*PushedFilters: \[[^\]]*GreaterThanOrEqual\(ts,(\d{13,}|\d{4}-\d{2}-\d{2}[T ]).*"""),
      s"range predicate on the file's ts column must appear in PushedFilters, got: $pushed")
  }

  test("j1_lookup_join: both dimension sides broadcast, fact side never shuffles") {
    val p = plan("j1_lookup_join")
    assert(countOf(p, "BroadcastExchange") >= 2, p)
    assert(countOf(p, "Exchange hashpartitioning") == 0,
      s"lookup join must not hash-shuffle the fact side:\n$p")
  }

  test("w1_latest_event_per_user: single-shuffle max(struct) aggregation, no global sort of events") {
    val p = plan("w1_latest_event_per_user")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"latest-per-key must be one hash exchange:\n$p")
    assert(!p.contains("Window "), s"no window sort expected:\n$p")
  }

  test("text_pii_scrub: projection-only — zero hash exchanges") {
    val p = plan("text_pii_scrub")
    assert(countOf(p, "Exchange hashpartitioning") == 0, p)
  }

  test("decontaminate: eval shingle set broadcasts; corpus side joins without shuffling text") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    // corpus-side agg + eval-side distinct only — text/doc rows shuffle once, post-join
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
  }

  test("mix_temperature: per-source thresholds broadcast back; corpus scanned once, no corpus shuffle") {
    val p = plan("mix_temperature")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only hash exchanges are the tiny source-count aggs + final group — none carry text
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text")), p)
  }

  test("sim_bruteforce_topk: query set broadcasts; corpus streams through one scoring projection") {
    val p = plan("sim_bruteforce_topk")
    assert(countOf(p, "BroadcastExchange") >= 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"only the per-query top-k agg may shuffle:\n$p")
    // final ranking must be the bounded partial top-k aggregation, not a
    // full-width window: EVERY scored row shuffling into |queries| reducer
    // partitions for a corpus-sized sort is the plan that dies at 100×
    assert(!p.contains("Window "),
      s"per-query ranking must not plan a window sort:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"expected bounded-buffer CollectTopK aggregation:\n$p")
  }

  test("sim_lsh/ivf/adc_topk: no window anywhere in the ANN stack") {
    // cell assignment AND per-query ranking are both bounded aggregations
    // (max_by / CollectTopK) since r5 — a Window node in any ANN plan
    // means a per-partition sort crept back in
    Seq("sim_lsh_topk", "sim_ivf_topk", "sim_ivf_trained_topk",
        "sim_adc_topk", "mine_aligned_pairs").foreach { name =>
      val p = plan(name)
      assert(p.contains("ObjectHashAggregate"),
        s"$name: expected bounded-buffer CollectTopK aggregation:\n$p")
      assert(!p.contains("Window "),
        s"$name: the ANN stack must not plan a window sort:\n$p")
      assert(!p.contains("WindowGroupLimit"),
        s"$name: cell assignment must be max_by/CollectTopK, not a " +
          s"window group-limit sort:\n$p")
    }
  }

  test("budget_select / corpus_build: no per-source full-corpus cumsum sort") {
    // the scale-killer shape is a window partitioned by source alone and
    // ordered (score desc, id) over the raw candidate rows — with few
    // sources that is a single-task sort of the whole corpus. Two-phase
    // selection replaces it: windows are either over the tiny
    // (source, score) aggregate or partitioned by (source, score).
    val bad = """windowspecdefinition\(source#\d+L?, score#\d+L? DESC NULLS LAST, doc_id#\d+L? ASC""".r
    Seq("budget_select", "corpus_build").foreach { name =>
      val p = plan(name)
      assert(bad.findFirstIn(p).isEmpty,
        s"$name plans a per-source full sort of candidate rows:\n$p")
    }
    // and the within-group cumsum is really keyed by BOTH source and score
    val good = """windowspecdefinition\(source#\d+L?, score#\d+L?, doc_id#\d+L? ASC""".r
    assert(good.findFirstIn(plan("budget_select")).isDefined,
      plan("budget_select"))
  }

  test("shuffle_shards: exactly one hash exchange (the shard partitioning)") {
    val p = plan("shuffle_shards")
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
  }

  test("history over a PartitionedStore table prunes date partitions") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_hist_prune").toString
    val rows = Seq(
      ("itemA", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0, 1),
      ("itemA", java.sql.Timestamp.valueOf("2024-02-20 10:00:00"), 2.0, 2))
      .toDF("market_hash_name", "time", "price", "volume")
    graft.sources.PartitionedStore.append(rows, tmp, "time", "market_hash_name")
    val stored = graft.sources.PartitionedStore.read(s, tmp)
    val q = graft.api.ReadApi.history(stored, "itemA", "week",
      org.apache.spark.sql.functions.lit("2024-02-21 00:00:00").cast("timestamp"))
    val pf = q.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PartitionFilters")).mkString
    // the range bound must reach the scan as a DATE-partition filter —
    // an empty PartitionFilters means every date directory is read
    assert(pf.contains("p_date") && !pf.contains("PartitionFilters: []"),
      s"expected non-empty PartitionFilters on p_date, got: $pf")
    assert(q.collect().map(_.getDouble(1)).toSeq == Seq(2.0))
  }

  test("history sorts one item's series in one partition: no range " +
    "partitioning, so no sampling job") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_hist_sort").toString
    val rows = Seq(
      ("itemA", java.sql.Timestamp.valueOf("2024-02-20 10:00:00"), 2.0, 2),
      ("itemA", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0, 1),
      ("itemB", java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 3.0, 3))
      .toDF("market_hash_name", "time", "price", "volume")
    graft.sources.PartitionedStore.append(rows, tmp, "time", "market_hash_name")
    val stored = graft.sources.PartitionedStore.read(s, tmp)
    val q = graft.api.ReadApi.history(stored, "itemA", "all",
      org.apache.spark.sql.functions.lit("2024-02-21 00:00:00").cast("timestamp"))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("rangepartitioning"), p)
    assert(p.contains("SinglePartition"), p)
    assert(q.collect().map(_.getDouble(1)).toSeq == Seq(1.0, 2.0))
  }

  test("text_hash_embed: fused-kernel projection — zero hash exchanges") {
    val p = plan("text_hash_embed")
    assert(countOf(p, "Exchange hashpartitioning") == 0, p)
    assert(p.contains("graft_hash_embed"), p)
  }

  test("quality_classifier: weight table broadcasts; corpus never sort-merge-joins") {
    val p = plan("quality_classifier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"inference must join weights by broadcast, not SMJ:\n$p")
  }

  test("scd2_intervals: one hash exchange — both window passes reuse the key partitioning") {
    val p = plan("scd2_intervals")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"lag-mark, change-filter, and lead-close must share one shuffle:\n$p")
  }

  test("graph centrality: windowless plans — canonical pick is max(struct), ranks carry no sort") {
    // the iterative rounds run eagerly behind localCheckpoints; the plans
    // audited here are the serving tails, which must stay bounded-agg
    // shaped (a Window in either means a per-cluster or global sort of
    // data rows crept in)
    Seq("graph_pagerank", "dedup_canonical").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Window "), s"$name: no window sort expected:\n$p")
    }
  }

  test("text_bigram_lm: generator-built bigrams — no window anywhere") {
    val p = plan("text_bigram_lm")
    assert(!p.contains("Window "),
      s"bigram extraction must be explode(sequence)+element_at, not a window:\n$p")
    assert(p.contains("Generate"), p)
  }

  test("mine_hard_negatives: queries broadcast; ranking is the bounded CollectTopK agg") {
    val p = plan("mine_hard_negatives")
    assert(countOf(p, "BroadcastExchange") >= 1, p)
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"only the per-query top-k agg may shuffle:\n$p")
    assert(!p.contains("Window "), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("retrieval stack: corpus text tokenized/embedded ONCE — every parquet text scan is query-side pruned") {
    // the shared sub-plans (BM25 postings, hash embeddings) are
    // checkpointed, so the only documents(text) file scans left in any
    // retrieval plan are the tiny query-side reads with doc_id < 5 pushed
    // down; an unpruned text scan means a corpus pass leaked back in
    Seq("search_bm25", "search_bm25_prf", "search_hybrid_rrf",
        "rag_retrieve").foreach { name =>
      val p = plan(name)
      assert(p.contains("ExistingRDD"),
        s"$name: expected the checkpointed shared sub-plan:\n$p")
      val unpruned = p.linesIterator.filter(l =>
        l.contains("FileScan") && l.contains("text#") && !l.contains("< 5)"))
      assert(unpruned.isEmpty,
        s"$name re-scans corpus text from parquet:\n${unpruned.mkString("\n")}")
    }
    // the serving twin goes further: corpus state comes from stored
    // artifacts, so the ONLY text reads are the queries' own (pruned)
    val ps = plan("rag_retrieve_indexed")
    val unprunedServing = ps.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("text#") && !l.contains("< 5)"))
    assert(unprunedServing.isEmpty,
      s"rag_retrieve_indexed must not touch corpus text:\n${unprunedServing.mkString("\n")}")
  }

  test("skew_join_salted: the salt reaches the join exchange; the plain twin keeps the skewed shape") {
    val p = plan("skew_join_salted")
    // the merge hint must hold — a broadcast would optimize the salt away
    assert(p.contains("SortMergeJoin"), s"expected a shuffle join:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("_salt")),
      s"join exchange must partition by (k, _salt) so the hot key spreads:\n$p")
    val pp = plan("skew_join_plain")
    assert(pp.contains("SortMergeJoin") && !pp.contains("_salt"),
      s"plain twin must keep the unsalted skewed exchange:\n$pp")
  }

  test("quality_top_fraction_by_domain: cutoffs broadcast; no per-domain sort of data rows") {
    val p = plan("quality_top_fraction_by_domain")
    // the scale-killer twin is row_number() partitioned by source over the
    // raw rows — a single-task sort per domain; the two-phase plan's only
    // windows run over the tiny (source, bucket) histogram and never
    // order by (score, id)
    val bad = """windowspecdefinition\(source#\d+, score#\d+L? DESC""".r
    assert(bad.findFirstIn(p).isEmpty,
      s"per-domain window sort of data rows crept back in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-group cutoffs must broadcast back to the scan:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"boundary remainder must be the bounded CollectTopK agg:\n$p")
  }

  test("quality_dsir: weight table broadcasts; corpus text never hash-shuffles") {
    val p = plan("quality_dsir")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text")),
      s"doc text must not cross an exchange — only narrow (id, bucket) rows:\n$p")
  }

  test("mm_frame_dedup: payload bytes never cross an exchange") {
    val p = plan("mm_frame_dedup")
    // the decode seam's whole point: only (media_id, fingerprint) rows
    // shuffle; a payload column in any exchange means video bytes move
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("payload")),
      s"payload column found in an exchange:\n$p")
  }

  test("mm_frame_sample: frame table is the only relational input — payload never crosses an exchange") {
    val p = plan("mm_frame_sample")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("payload")),
      s"payload column found in an exchange:\n$p")
  }

  test("sketch_cms_incremental: the served sketch broadcasts; the key side never shuffles wide rows") {
    val p = plan("sketch_cms_incremental")
    // cmsEstimate joins the (r, c, cnt) sketch — KBs at any corpus size —
    // as the broadcast side; a sort-merge join here would shuffle the
    // sketch pointlessly and, worse, re-partition the probe side
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ts_ohlc: one aggregation shuffle, no window over data rows") {
    val p = plan("ts_ohlc")
    // bar edges come from min/max(struct(ts,id,value)) inside the groupBy
    // — a row_number window here would sort every (key, day) partition.
    // struct min/max buffers force SortAggregate (not HashAggregate);
    // the scale property is the map-side partial pass, so pin THAT
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min(struct"), p)
  }

  test("ts_resample_ffill: raw rows aggregate once; windows and the grid join stay post-agg") {
    val p = plan("ts_resample_ffill")
    // the dense grid is sequence() × broadcast keys (tiny × tiny); the
    // fill windows run over that (key × hour) table only — raw events
    // must meet exactly one aggregation exchange on the data path.
    // BNLJ-at-100TB rationale (r17 verdict item 7): this nested loop is
    // a pure CROSS product with no predicate — its output IS the dense
    // grid the query serves, and both build sides are dimension tables
    // (calendar steps × distinct keys), neither of which grows with
    // data volume — so the r17 explode+equi-join restatement (which
    // removes wasted range-predicate evaluations) has nothing to remove
    // here. Bounded by construction, not by luck.
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(countOf(p, "Window") == 2, p)
  }

  test("tokenize_ids: vocab build is bounded top-v — no window over the full token table") {
    val p = plan("tokenize_ids")
    // the top-v selection must plan as TakeOrderedAndProject (per-partition
    // bounded heaps, driver merge of ≤ v rows) — a row_number window fed by
    // the FULL distinct-token table is the single-task sort that dies at
    // 10⁸ distinct tokens. The ranking Window may only consume the v-row
    // TakeOrdered result (the consumer prints ABOVE its input subtree).
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-v must be a bounded TakeOrderedAndProject:\n$p")
    val win = p.indexOf("Window")
    if (win >= 0)
      assert(win < p.indexOf("TakeOrderedAndProject"),
        s"the only Window must rank the bounded top-v result, not the full token table:\n$p")
  }

  test("sketch_kmv_distinct: k-min selection is a bounded TakeOrdered — " +
    "no global sort, no windows") {
    val p = plan("sketch_kmv_distinct")
    // the k smallest hashes must come from per-partition bounded heaps
    // (TakeOrderedAndProject), never a full Sort of the distinct-hash
    // table — at 10⁹ distinct keys that sort is the scale-killer
    assert(p.contains("TakeOrderedAndProject"),
      s"kmv build must plan as TakeOrderedAndProject:\n$p")
    assert(!p.contains("Window"), s"kmv plan must be window-free:\n$p")
  }

  test("mix_curriculum: windows rank the distinct-score histogram only; " +
    "cutoffs broadcast back") {
    val p = plan("mix_curriculum")
    // every Window must consume the histogram Aggregate below it — a
    // window directly over document rows is the per-row rank the
    // operator exists to avoid
    p.linesIterator.zipWithIndex.filter(_._1.contains("Window")).foreach {
      case (_, i) =>
        val below = p.linesIterator.drop(i + 1).mkString("\n")
        assert(below.contains("Aggregate"),
          s"window without a histogram aggregate beneath it:\n$p")
    }
    // BNLJ-at-100TB rationale (r17 verdict item 7): the broadcast side
    // is the band-cutoff row set — at most (bands − 1) rows, a CONSTANT
    // of the curriculum config, never data-derived rows — so the
    // nested-loop predicate work is rows × O(bands), the same count an
    // explode+equi-join restatement would pay.
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"band cutoffs must broadcast to the corpus scan:\n$p")
  }

  test("ts_cusum: fold-over-series plan — window-free, at most two " +
    "hash shuffles (daily agg + per-key series)") {
    val p = plan("ts_cusum")
    assert(!p.contains("Window"), s"cusum must fold arrays, not window:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") <= 2, p)
  }

  test("a21_cube: every slice from ONE Expand + single-shuffle aggregate") {
    val p = plan("a21_cube")
    assert(p.contains("Expand"), s"CUBE must plan as Expand:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"cube lattice must aggregate in one shuffle:\n$p")
  }

  test("ab_lift: one conditional-aggregation scan — no join, no window") {
    val p = plan("ab_lift")
    assert(!p.contains("Join"), s"ab_lift must not join:\n$p")
    assert(!p.contains("Window"), p)
    assert(countOf(p, "FileScan") == 1,
      s"both arms must come from ONE events scan:\n$p")
  }

  test("mm_phash_dedup: payload bytes never shuffle — only narrow hash " +
    "rows cross an exchange") {
    val p = plan("mm_phash_dedup")
    p.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("payload"),
        s"payload column crossing an exchange:\n$l\n$p")
    }
  }

  test("ts_holt / ts_deseasonalize: fold/profile plans stay window-free " +
    "over data rows") {
    val ph = plan("ts_holt")
    assert(!ph.contains("Window"), s"holt must fold arrays, not window:\n$ph")
    val pd = plan("ts_deseasonalize")
    assert(!pd.contains("Window"), pd)
    assert(pd.contains("BroadcastHashJoin"),
      s"dow means must broadcast back to the daily table:\n$pd")
  }

  test("dq_benford: ONE digit-groupBy scan of events; the only window " +
    "runs over the ≤9-row digit histogram") {
    val p = plan("dq_benford")
    assert(countOf(p, "FileScan") == 1, s"one scan of events:\n$p")
    p.linesIterator.zipWithIndex.filter(_._1.contains("Window")).foreach {
      case (_, i) =>
        val below = p.linesIterator.drop(i + 1).mkString("\n")
        assert(below.contains("Aggregate"),
          s"window must consume the digit histogram, not data rows:\n$p")
    }
  }

  test("ts_acf: lag expansion is a broadcast nested-loop against the " +
    "7-row lag frame; window-free") {
    val p = plan("ts_acf")
    // BNLJ-at-100TB rationale (r17 verdict item 7): this nested loop is
    // the crossJoin fan-out against spark.range(1, maxLag+1) — a
    // CONSTANT 7-row frame independent of data scale, with no join
    // predicate to waste (the lag pairing itself is the equi-join on
    // (key, x+lag) right after it). Exploding to 7 rows and equi-
    // joining — the r17 restatement — is exactly what this plan already
    // does; the BNLJ is only the fan-out mechanism.
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"lags must broadcast over the daily table:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("graph_lpa: vote rounds are join + max(struct) aggregations — " +
    "never a per-node window") {
    val p = plan("graph_lpa")
    assert(!p.contains("Window"), s"lpa must argmax by max(struct):\n$p")
  }

  test("sketch_quantile_span/drift: serve reads ONLY stored histogram " +
    "rows — the fact table never re-enters the plan; crossing windows " +
    "are key-partitioned") {
    for (q <- Seq("sketch_quantile_span", "sketch_quantile_drift",
                  "stats_equidepth")) {
      val df = SparkEntry.queries(q)(spark, d)
      val p = df.queryExecution.executedPlan.toString
      // the whole point of the stored sketch: span percentiles answer
      // from (day, key, qc, cnt) bucket rows; an events.parquet scan
      // here would mean the serve path re-reads fact history
      assert(df.inputFiles.nonEmpty &&
        df.inputFiles.forall(_.contains("graft_qh_store")),
        s"$q must read only the quantile store: ${df.inputFiles.take(3).toSeq}")
      assert(!p.contains("events.parquet"), s"$q re-reads facts")
      // prefix-sum windows run over the bounded histogram, keyed —
      // an empty partition spec would funnel everything to one task
      assert(p.contains("Window"), p)
      assert(!p.contains("Window [") ||
        !p.contains(", [], ["), s"$q has an unpartitioned window")
    }
  }

  test("w14_attribution: one window pass, ZERO joins — the last-touch " +
    "pick is a running conditional argmax, not a touch-table join") {
    val p = plan("w14_attribution")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), s"attribution must not join:\n$p")
    assert(!p.contains(", [], ["), "window must be keyed by user")
  }

  test("ts_theil_sen: pair ranking windows are key-partitioned (the " +
    "pair table is calendar-bounded), no cartesian anywhere") {
    val p = plan("ts_theil_sen")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains(", [], ["),
      s"theil-sen windows must partition by key:\n$p")
  }

  test("select_pareto: frontier join back to data rows is BROADCAST; " +
    "the only window runs over the per-length aggregate, not data rows") {
    val p = plan("select_pareto")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"pareto probe must broadcast the tiny frontier:\n$p")
    // exactly one window (the strictly-larger-x running max), fed by
    // the HashAggregate over distinct lengths
    assert(countOf(p, "Window [") == 1, p)
  }

  test("snapshot_delete_audit: manifest-pruned diff — only the two dirs " +
    "the delete touched are scanned, the stable bulk contributes zero " +
    "bytes") {
    val df = SparkEntry.queries("snapshot_delete_audit")(spark, d)
    val dirs = df.inputFiles.toSeq
      .map(f => f.substring(0, f.lastIndexOf('/')))
      .distinct
    assert(dirs.size == 2 && dirs.forall(_.contains("graft_snapdelete")),
      s"audit must read exactly churn + survivors dirs: $dirs")
  }

  test("cohort_ltv_decayed: shift-decay folds in the aggregate — " +
    "window-free, the cohort table never sorts") {
    val p = plan("cohort_ltv_decayed")
    assert(!p.contains("Window"), p)
  }

  test("o9_zorder_scan: the Morton cell IN-list is a static PARTITION " +
    "filter — the rectangle reads its cells, never the stripe") {
    val df = SparkEntry.queries("o9_zorder_scan")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("zb"), s"zb IN-list must prune partitions:\n$pf")
    // and the residual range predicates still reach the scan
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString)
  }

  test("search_bm25_filtered_indexed: the metadata filter composes with " +
    "bucket pruning — postings partitions still prune to the query's " +
    "term buckets") {
    val df = SparkEntry.queries("search_bm25_filtered_indexed")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket"),
      s"term-bucket IN-list must survive the filter as a partition filter:\n$pf")
  }

  test("search_boolean: the AND verb serves from the STORED index — " +
    "postings prune to the query's term buckets, the corpus text is " +
    "never re-tokenized") {
    val df = SparkEntry.queries("search_boolean")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket"),
      s"term-bucket IN-list must reach the postings scan:\n$pf")
    // corpus touchpoints: the stored index + the 5-row query-doc read;
    // a documents re-tokenization would add a full-corpus Generate over
    // documents.parquet, which the bucket-pruned postings path replaces
    assert(df.inputFiles.exists(_.contains("graft_bm25_idx")),
      "boolean AND must serve from the stored index")
  }

  test("search_phrase_indexed: the phrase serves from the STORED " +
    "positional index — postings prune to the phrase terms' buckets, " +
    "raw text is never re-scanned") {
    val df = SparkEntry.queries("search_phrase_indexed")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket"),
      s"phrase-term bucket IN-list must reach the postings scan:\n$pf")
    // store-scope pin: every input file is an index component — the
    // documents.parquet substring scan of search_phrase never appears
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("graft_phrase_idx")),
      s"must read only the phrase index: ${df.inputFiles.take(3).toSeq}")
  }

  test("search_proximity_indexed: NEAR/k serves from the SAME stored " +
    "positional index as the phrase verb — postings prune to the two " +
    "terms' buckets, raw text is never re-scanned") {
    val df = SparkEntry.queries("search_proximity_indexed")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket"),
      s"proximity-term bucket IN-list must reach the postings scan:\n$pf")
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("graft_phrase_idx")),
      s"must read only the shared phrase index: ${df.inputFiles.take(3).toSeq}")
  }

  test("j16_bloom_reduce: the Bloom probe runs AT the fact scan — " +
    "might_contain appears as a plan-literal filter, so only the " +
    "qualifying fraction of lineitem ever enters the semi-join shuffle") {
    val p = plan("j16_bloom_reduce")
    assert(p.contains("might_contain"),
      s"Bloom might_contain filter must be in the fact-side plan:\n${p.take(2000)}")
    assert(p.contains("LeftSemi"),
      "the exact semi join must follow the probe (false positives removed)")
  }

  test("search_substring_indexed: the needle serves from the STORED " +
    "trigram index — postings prune to the needle trigrams' buckets, the " +
    "raw corpus is never scanned (the confirm reads the stored-field " +
    "text in meta)") {
    val df = SparkEntry.queries("search_substring_indexed")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket"),
      s"needle-trigram bucket IN-list must reach the postings scan:\n$pf")
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("graft_trgm_idx")),
      s"must read only the trigram index: ${df.inputFiles.take(3).toSeq}")
  }

  test("search_fuzzy_term: the correction serves from the STORED " +
    "symmetric-delete index — variants prune to the query's buckets, " +
    "the vocabulary is never scanned") {
    val df = SparkEntry.queries("search_fuzzy_term")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("bucket"),
      s"variant bucket IN-list must reach the variants scan:\n$pf")
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("graft_symdel_idx")),
      s"must read only the symdel index: ${df.inputFiles.take(3).toSeq}")
  }

  test("sketch_kmv_rolling: every rolling estimate serves from the " +
    "STORED daily sketches — the fact table is never re-read") {
    val df = SparkEntry.queries("sketch_kmv_rolling")(spark, d)
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("graft_kmv_user_store")),
      s"must read only the KMV store: ${df.inputFiles.take(3).toSeq}")
    // the per-day k-min window runs over sketch rows (calendar × k),
    // never data rows: the only scans in the plan are the store's
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("events.parquet"),
      "rolling serve must not scan the fact table")
  }

  test("sketch_quantile_rolling: every window percentile serves from " +
    "the STORED daily histograms — fact history read zero times") {
    val df = SparkEntry.queries("sketch_quantile_rolling")(spark, d)
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("graft_qh_store")),
      s"must read only the quantile store: ${df.inputFiles.take(3).toSeq}")
    assert(!df.queryExecution.executedPlan.toString.contains("events.parquet"),
      "rolling serve must not scan the fact table")
  }

  test("q3_shipping_priority: customer dim broadcasts, both date filters " +
    "push to the parquet scans, top-10 is TakeOrdered not a global sort") {
    val p = plan("q3_shipping_priority")
    assert(countOf(p, "BroadcastHashJoin") >= 1, p)
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as TakeOrderedAndProject:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("LessThan(o_orderdate") &&
      pushed.contains("GreaterThan(l_shipdate"),
      s"date predicates must reach the scans, got: $pushed")
  }

  test("q5_local_supplier: every dim side broadcasts (the only shuffle " +
    "join is fact-side), the order-date filter reaches the scan") {
    val p = plan("q5_local_supplier")
    assert(countOf(p, "BroadcastHashJoin") >= 3,
      s"region/nation/supplier/customer must broadcast:\n$p")
    assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") <= 1,
      s"at most the orders-lineitem join may shuffle:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate") &&
      pushed.contains("LessThan(o_orderdate"),
      s"date range must reach the orders scan, got: $pushed")
  }

  test("q18_large_volume: customer broadcasts, top-100 is TakeOrdered, " +
    "ONE lineitem aggregation feeds both the HAVING set and the sum") {
    val p = plan("q18_large_volume")
    assert(countOf(p, "BroadcastHashJoin") >= 1, p)
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as TakeOrderedAndProject:\n$p")
    // the single-aggregation shape: exactly one scan of lineitem — the
    // classic doubled HAVING-subquery scan is the plan this query exists
    // to avoid
    assert(countOf(p, "lineitem.parquet") == 1,
      s"lineitem must be scanned exactly once:\n$p")
  }

  test("q7_volume_shipping: the symmetric-OR nation-pair predicate rides " +
    "two broadcast dim arms — the OR never degrades a join (no nested " +
    "loop), the only shuffle join is fact-side, ship-date range pushed") {
    val p = plan("q7_volume_shipping")
    assert(countOf(p, "BroadcastHashJoin") >= 2,
      s"both the supplier and customer nation arms must broadcast:\n$p")
    assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") <= 1,
      s"at most the orders-lineitem join may shuffle:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the OR predicate must not degrade any join:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"),
      s"ship-date range must reach the lineitem scan, got: $pushed")
  }

  test("q10_returned_items: both fact filters push to their scans, " +
    "customer+nation broadcast, top-20 is TakeOrdered not a global sort") {
    val p = plan("q10_returned_items")
    assert(countOf(p, "BroadcastHashJoin") >= 2,
      s"customer and nation must broadcast:\n$p")
    assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") <= 1,
      s"at most the orders-lineitem join may shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as TakeOrderedAndProject:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(l_returnflag,R)") &&
      pushed.contains("GreaterThanOrEqual(o_orderdate") &&
      pushed.contains("LessThan(o_orderdate"),
      s"returnflag + order-date filters must reach the scans, got: $pushed")
  }

  test("q4_order_priority: the EXISTS decorrelates to a LEFT SEMI join " +
    "with the cross-table date comparison as residual; the quarter AND " +
    "the implied lineitem ship-date bound both reach their scans") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the residual date predicate must not degrade the join:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate") &&
      pushed.contains("LessThan(o_orderdate"),
      s"the quarter must reach the orders scan, got: $pushed")
    // the hand-derived single-table consequence of the two-table
    // predicate (l_shipdate > quarter_lo + 90d) — Catalyst cannot infer
    // it, so its presence pins OUR projection, not the optimizer's
    assert(pushed.contains("GreaterThan(l_shipdate"),
      s"the implied ship-date bound must reach the lineitem scan, got: $pushed")
  }

  test("q21_suppliers_waiting: both correlated quantifiers decorrelate " +
    "into per-order flags over ONE lineitem scan (the classic form scans " +
    "it three times); supplier broadcasts; top-100 is TakeOrdered") {
    val p = plan("q21_suppliers_waiting")
    assert(countOf(p, "lineitem.parquet") == 1,
      s"lineitem must be scanned exactly once:\n$p")
    assert(countOf(p, "BroadcastHashJoin") >= 1, p)
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as TakeOrderedAndProject:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(o_orderstatus,F)"),
      s"the status filter must reach the orders scan, got: $pushed")
  }

  test("q14_promo_share: part broadcasts, the ship-month range reaches " +
    "the lineitem scan, no shuffle join anywhere (fact x broadcast dim)") {
    val p = plan("q14_promo_share")
    assert(countOf(p, "BroadcastHashJoin") >= 1, p)
    assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") == 0,
      s"lineitem x broadcast part needs no shuffle join:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"),
      s"ship-date range must reach the lineitem scan, got: $pushed")
  }

  test("q22_dormant_balance: the scalar threshold rides a broadcast " +
    "1-row frame (no cartesian), the anti join's date filter reaches " +
    "the orders scan, nation broadcasts") {
    val p = plan("q22_dormant_balance")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as anti join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the scalar crossJoin must broadcast:\n$p")
    assert(countOf(p, "BroadcastHashJoin") >= 1, p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate"),
      s"the dormancy year must reach the orders scan, got: $pushed")
  }

  test("q6_forecast_revenue: the ladder floor — every predicate reaches " +
    "the scan, zero joins, one scan-aggregate pipeline") {
    val p = plan("q6_forecast_revenue")
    assert(!p.contains("Join"), s"Q6 must not join anything:\n$p")
    assert(countOf(p, "lineitem.parquet") == 1, p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate") &&
      pushed.contains("GreaterThanOrEqual(l_discount") &&
      pushed.contains("LessThanOrEqual(l_discount") &&
      pushed.contains("LessThan(l_quantity"),
      s"all five predicates must reach the scan, got: $pushed")
  }

  test("q12_priority_classes: both lineitem predicates push; the " +
    "fact-fact join never degrades (no nested loop / cartesian)") {
    val p = plan("q12_priority_classes")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("In(l_returnflag"),
      s"ship-date range + returnflag set must reach the scan, got: $pushed")
  }

  test("q13_custdist: the count pushes BELOW the outer join — orders " +
    "aggregates to per-custkey counts before meeting customer, and the " +
    "priority exclusion reaches the orders scan") {
    val p = plan("q13_custdist")
    assert(countOf(p, "orders.parquet") == 1 &&
      countOf(p, "customer.parquet") == 1, p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("Not(EqualTo(o_orderpriority"),
      s"the priority exclusion must reach the orders scan, got: $pushed")
    // agg-below-join: the LEFT OUTER join consumes an aggregate, so the
    // plan carries ≥2 hash aggregates BEFORE any join-side sort/exchange
    // of raw orders rows — pinned via the exchange count: per-custkey
    // agg + outer join + per-count agg is ≤3 hash exchanges total
    assert(countOf(p, "Exchange hashpartitioning") <= 3,
      s"agg-below-join shape must hold:\n$p")
  }

  test("q15_top_supplier: the scalar max rides a broadcast 1-row frame " +
    "(no cartesian), the quarter pushes to the scan, supplier broadcasts") {
    val p = plan("q15_top_supplier")
    assert(!p.contains("CartesianProduct"), p)
    assert(countOf(p, "BroadcastHashJoin") >= 1, p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"),
      s"the quarter must reach the lineitem scan, got: $pushed")
  }

  test("q19_discounted_parts: the disjunctive arms stay a residual over " +
    "ONE broadcast equi join (no nested loop), and the hand-derived " +
    "quantity superset bound reaches the lineitem scan") {
    val p = plan("q19_discounted_parts")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the OR must not degrade the join:\n$p")
    assert(countOf(p, "BroadcastHashJoin") >= 1, p)
    assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") == 0,
      s"lineitem x broadcast part needs no shuffle join:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_quantity") &&
      pushed.contains("LessThanOrEqual(l_quantity"),
      s"the quantity superset bound must reach the scan, got: $pushed")
  }

  test("q17_small_qty_revenue: the collected part keys reach BOTH " +
    "lineitem passes as pushed In-filters; the per-part stats broadcast") {
    // sf0.001's part table has NO Brand#23 small-size rows, so the key
    // list folds to an empty In and the scans prune away entirely —
    // plan against sf0.01 (10 keys; the planning-time part read is tiny)
    val p = SparkEntry.queries("q17_small_qty_revenue")(
      spark, "/root/testdata/sf0.01").queryExecution.executedPlan.toString
    val pushedIn = p.linesIterator
      .filter(l => l.contains("PushedFilters") && l.contains("In(l_partkey"))
      .size
    assert(pushedIn == 2,
      s"both lineitem scans must carry the pushed key list:\n$p")
    assert(countOf(p, "BroadcastHashJoin") >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q17_small_qty_revenue: past the key cap the part filter falls " +
    "back to a broadcast semi join — identical answer, no giant In list") {
    val dir = "/root/testdata/sf0.01"
    val viaPushdown =
      SparkEntry.queries("q17_small_qty_revenue")(spark, dir).collect()
    // cap passed explicitly — no sys-prop mutation, so this test cannot
    // cross-contaminate a concurrently running suite in the same JVM
    val q = graft.queries.CoreQueries.q17SmallQtyRevenue(spark, dir, maxKeys = 1)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("In(l_partkey"),
      s"over the cap no key list may push:\n$p")
    assert(p.contains("LeftSemi"),
      s"over the cap the part filter must be a semi join:\n$p")
    assert(q.collect().toSeq == viaPushdown.toSeq,
      "fallback arm must return the identical row")
  }

  test("q2_min_cost_supplier: ONE aggregation takes the argmin (no " +
    "rejoin of the aggregate), part + the region arm broadcast, the " +
    "distinct pair dedup is the only wide exchange before the top-k") {
    val p = plan("q2_min_cost_supplier")
    assert(countOf(p, "BroadcastHashJoin") >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(countOf(p, "lineitem.parquet") == 1,
      s"the derived pair relation must scan lineitem once:\n$p")
  }

  test("q16_supplier_counts: the exclusion set applies as a broadcast " +
    "LEFT ANTI (never a nested-loop NOT IN), the size set pushes to the " +
    "part scan") {
    val p = plan("q16_supplier_counts")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("In(p_size"),
      s"the size set must reach the part scan, got: $pushed")
  }

  test("q11_important_parts: the global (n, total) gate rides a " +
    "broadcast 1-row frame — no cartesian anywhere") {
    val p = plan("q11_important_parts")
    assert(!p.contains("CartesianProduct"), p)
    assert(countOf(p, "BroadcastNestedLoopJoin") <= 1,
      s"only the broadcast scalar frame may nested-loop:\n$p")
  }

  test("q8_market_share: part, the region-filtered customer arm and the " +
    "supplier arm all broadcast; at most one shuffle join (the fact " +
    "chain); the date range reaches the orders scan") {
    val p = plan("q8_market_share")
    assert(countOf(p, "BroadcastHashJoin") >= 3, p)
    assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") <= 1,
      s"at most the orders-lineitem join may shuffle:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate") &&
      pushed.contains("LessThan(o_orderdate"),
      s"the date range must reach the orders scan, got: $pushed")
  }

  test("q9_product_profit: the name-class LIKE pushes to the part scan " +
    "as a contains filter; dims broadcast; at most one shuffle join") {
    val p = plan("q9_product_profit")
    assert(countOf(p, "BroadcastHashJoin") >= 2, p)
    assert(countOf(p, "SortMergeJoin") + countOf(p, "ShuffledHashJoin") <= 1,
      s"at most the orders-lineitem join may shuffle:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("StringContains(p_name,gear)"),
      s"the LIKE class filter must reach the part scan, got: $pushed")
  }

  test("q20_dominant_suppliers: the part totals re-aggregate the pair " +
    "frame (lineitem scanned once per pass, never three times as in the " +
    "classic nested-IN form); the name-class filter is a broadcast semi " +
    "join; the ship year pushes to the scan") {
    val p = plan("q20_dominant_suppliers")
    assert(p.contains("LeftSemi"),
      s"the name-class filter must be a semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // pairs feeds both the gate side and the per-part totals: two scans
    // of lineitem (the classic HAVING-subquery double pass), never three
    assert(countOf(p, "lineitem.parquet") <= 2,
      s"the nested aggregation must not triple-scan lineitem:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_shipdate"),
      s"the ship year must reach the lineitem scan, got: $pushed")
  }

  test("j18_session_overlap: the interval overlap pairs by an EQUI join " +
    "on the hour bucket — no nested-loop θ-join anywhere") {
    val p = plan("j18_session_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the binned overlap join must stay an equi join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("j19_pit_features: both point-in-time matches are asof windows " +
    "(one key shuffle + bounded per-key sort each), never a range join " +
    "that explodes, and the label/view/click filters push to the scans") {
    val p = plan("j19_pit_features")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"PIT matching must not degrade to a range nested loop:\n$p")
    assert(countOf(p, "Window") >= 2,
      s"both asof matches ride per-key running windows:\n$p")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("EqualTo(event_type,purchase)") &&
      pushed.contains("EqualTo(event_type,view)") &&
      pushed.contains("EqualTo(event_type,click)"),
      s"all three type filters must reach the scans, got: $pushed")
  }

  test("fuzzyLinkSymDel: the variant table never broadcasts and is " +
    "exchanged by the block key exactly once (r16 — Catalyst estimates " +
    "explode output from PRE-explode stats, ~(len+1)x too small, and " +
    "would broadcast the multi-million-row variant side: an OOM shape " +
    "at real scale; the merge hints + declared-partitioning checkpoint " +
    "pin the scale-safe shape)") {
    import org.apache.spark.sql.functions.col
    val cust = Tables.customer(spark, d).withColumnRenamed("c_custkey", "cid")
    val pairs = graft.operators.Relational.fuzzyLinkSymDel(
      cust, "cid", "c_name", col("c_mktsegment"), failOnCap = true)
      .select(col("id_a"), col("id_b"))
    val p = pairs.queryExecution.executedPlan.toString
    assert(countOf(p, "BroadcastExchange") == 0,
      s"no side of the symdel joins may broadcast (estimator-unsafe):\n$p")
    // the checkpointed variant table is the join input everywhere; the
    // only hash exchange left in the pairs plan is the pair dedup
    assert(countOf(p, "Exchange hashpartitioning") <= 1,
      s"variant exchanges must be paid once inside the checkpoint, " +
        s"leaving only the pair dedup:\n$p")
  }

  test("global sweep: no query plans an unbroadcast cartesian product") {
    // crossJoin against a broadcast side plans as BroadcastNestedLoopJoin
    // (fine — one side is tiny by construction); a CartesianProduct node
    // means two big sides met without keys, the plan that dies at scale
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      plan(name).contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("global sweep: no query PINS a broadcast of explode output by " +
    "hint (the r16 j17 estimator lesson generalized)") {
    // Catalyst prices a Generate (explode) node's output from its
    // PRE-explode child stats — measured ~(len+1)× too small on j17's
    // deletion-variant table, where the static planner then broadcast a
    // multi-million-row side off a sub-10 MB estimate: an OOM shape at
    // real scale that AQE does NOT correct (the join inputs are not
    // shuffle stages). Two halves to the audit:
    //  - AUTO broadcasts are a SIZE decision at the audit SF, not a
    //    plan shape: at sf0.001 the whole corpus sits under the 10 MB
    //    threshold, so ~56 queries legitimately broadcast exploded
    //    corpus sides here and stop doing so as the scan stats grow —
    //    unauditable at a fixed tiny SF (the per-query steady_shuf_mb
    //    volume twins are the instrument that catches a real one, as
    //    they caught j17's). Not swept.
    //  - HINTED broadcasts are OUR standing assertion that a side is
    //    tiny at EVERY scale — a hint on explode output would pin the
    //    j17 OOM shape permanently, immune to growing stats. This
    //    sweep re-plans every query with auto-broadcast DISABLED
    //    (threshold −1, a derived session), so every broadcast left is
    //    hint-pinned (or strategy-forced BNLJ), and flags any whose
    //    build side contains a Generate. Allowlist: generators tiny BY
    //    CONSTRUCTION (a bounded literal sequence over a 1-row or
    //    dimension-sized frame), named and justified — currently none.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.functions._
    // Named, justified allowlist — the broadcast-hinted Generate in each
    // is over the bounded ANN QUERY BATCH (literal `vec_id < NQ` id
    // filter, NQ a constant), exploded ×nBands / ×subvectors: its
    // cardinality is NQ·b regardless of corpus size — the query-batch
    // contract Similarity's scaladoc states ("queries are small by
    // construction → broadcast"). The corpus side of those joins streams;
    // only the batch explodes. A literal filter is NOT treated as a
    // bounding node by the detector (filters generally scale with their
    // input), so these two carry the justification here instead.
    val allow = Map(
      "sim_lsh_topk" -> ("broadcasts the query batch's band keys: " +
        "NQ-bounded id filter × nBands, corpus-independent"),
      "sim_adc_topk" -> ("broadcasts the ADC lookup table: NQ-bounded " +
        "query batch × LIMIT-seeded centroids × m subspaces, " +
        "corpus-independent"))
    // A broadcast explode is only the j17 shape when the exploded rows
    // reach the broadcast UNREDUCED from a corpus scan: an explode over
    // a 1-row/limit/aggregate-bounded frame (a query's terms, a derived
    // threshold), or an explode whose output is aggregated/limited
    // before broadcasting, is tiny at every scale no matter how wrong
    // the estimator is. So both walks — broadcast root down to the
    // Generate, and the Generate's input down to a scan — stop at
    // cardinality-BOUNDING nodes (aggregates, limits, top-k), and only
    // a fully unreduced scan→explode→broadcast path flags.
    def bounding(p: SparkPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec |
           _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec |
           _: org.apache.spark.sql.execution.aggregate.SortAggregateExec |
           _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec |
           _: org.apache.spark.sql.execution.GlobalLimitExec |
           _: org.apache.spark.sql.execution.LocalLimitExec |
           _: org.apache.spark.sql.execution.CollectLimitExec => true
      case _ => false
    }
    def unboundedScan(p: SparkPlan): Boolean =
      if (bounding(p)) false
      else p match {
        case _: org.apache.spark.sql.execution.FileSourceScanExec => true
        case other => other.children.exists(unboundedScan)
      }
    def generates(p: SparkPlan): Boolean =
      if (bounding(p)) false
      else p match {
        case g: org.apache.spark.sql.execution.GenerateExec =>
          g.children.exists(unboundedScan)
        case other => other.children.exists(generates)
      }
    def broadcastOfExplode(root: SparkPlan): Boolean = {
      // AdaptiveSparkPlanExec.inputPlan is pre-EnsureRequirements (no
      // Exchange nodes yet), so the match keys on the broadcast JOINS'
      // build side — present in every preparation stage — rather than
      // on the BroadcastExchange node itself
      import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
      val inner = root match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      inner.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          b.buildSide match {
            case BuildLeft => b.left
            case BuildRight => b.right
          }
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
          b.buildSide match {
            case BuildLeft => b.left
            case BuildRight => b.right
          }
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.child
      }.exists(generates)
    }
    // a derived session sharing the context but with auto-broadcast off:
    // only HINTED broadcasts (and strategy-forced BNLJ) survive planning
    val noAuto = spark.newSession()
    noAuto.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // detector self-check: a deliberately HINTED broadcast of an explode
    // over an UNREDUCED corpus scan MUST trip it (guards the sweep
    // against going vacuous if a Spark upgrade renames the physical
    // nodes this match is written against), and the same explode behind
    // a cardinality bound must NOT
    val exploded = noAuto.read.parquet(s"$d/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .select(xxhash64(col("w")).as("id"))
    val probe = noAuto.range(4).join(broadcast(exploded), "id")
    assert(broadcastOfExplode(probe.queryExecution.executedPlan),
      "detector self-check failed: a broadcast corpus explode was not flagged")
    val probeBounded = noAuto.range(4).join(
      broadcast(exploded.limit(10)), "id")
    assert(!broadcastOfExplode(probeBounded.queryExecution.executedPlan),
      "detector self-check failed: a LIMIT-bounded broadcast explode was flagged")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow.contains).filter { name =>
        broadcastOfExplode(
          SparkEntry.queries(name)(noAuto, d).queryExecution.executedPlan)
      }
    assert(offenders.isEmpty,
      s"broadcast-of-explode (estimator under-prices Generate output " +
        s"~(len+1)×; OOM shape at scale) in: $offenders")
  }
}
