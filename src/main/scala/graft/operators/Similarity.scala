package graft.operators

import org.apache.spark.sql.{graftExpr, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.functions._
import graft.functions.{CosineSimExpr, SignLshBandKeysExpr, SignLshBucketExpr}
import graft.sources.StoredIndex

/** Approximate-nearest-neighbor search and embedding near-dup detection
  * over an embedding column. Sign-LSH follows Charikar's random-hyperplane
  * family (STOC 2002); IVF / PQ / ADC follow Jégou, Douze, Schmid —
  * "Product Quantization for Nearest Neighbor Search" (TPAMI 2011).
  *
  * Scale shapes:
  *  - brute-force: the query set is small by construction → broadcast it;
  *    the corpus streams through one codegen'd projection (cosine kernel)
  *    and a per-query top-k. No corpus shuffle beyond the final top-k agg,
  *    which is bounded by |queries| × k.
  *  - LSH: BANDED sign-LSH (b independent plane-sets of p planes each,
  *    exactly the banding MinHash-LSH uses). Candidate generation is an
  *    equi-join on (band, key): p fixes the bucket count per band at 2^p —
  *    grow p ~log₂ n so expected bucket size n/2^p stays bounded — and b
  *    buys recall back (overall hit prob 1-(1-(1-θ/π)^p)^b). A single
  *    fat-bucket family (small 2^p, b=1) is a quadratic pocket at scale;
  *    banding is what removes it. Near-dup self-join additionally caps
  *    candidates per (band, key) bucket, bounding worst-case pair count at
  *    b · 2^p · C(cap, 2) regardless of adversarial key skew.
  */
object Similarity {

  def cosine(a: Column, b: Column): Column =
    graftExpr.column(CosineSimExpr(graftExpr.expression(a), graftExpr.expression(b)))

  def lshBucket(v: Column, nPlanes: Int = 4): Column =
    graftExpr.column(SignLshBucketExpr(graftExpr.expression(v), nPlanes))

  /** ARRAY<BIGINT> of per-band sign-LSH keys (band t = planes
    * t·p .. t·p+p-1 of the shared LCG plane family). */
  def lshBandKeys(v: Column, nBands: Int, planesPerBand: Int): Column =
    graftExpr.column(SignLshBandKeysExpr(graftExpr.expression(v), nBands, planesPerBand))

  /** Per-query top-k final ranking WITHOUT a full-width window: a
    * bounded-buffer top-k aggregation (CollectTopK, a
    * TypedImperativeAggregate), so the map side reduces each partition to
    * ≤ k candidates per query BEFORE the exchange — only
    * |partitions|·|queries|·k narrow rows ever shuffle, and no reducer
    * sorts more than |partitions|·k rows per query. The window-ranking
    * alternative (row_number over partitionBy(query_id)) shuffles EVERY
    * scored row into |queries| reducer partitions and sorts a
    * corpus-sized run per query — a single-task sort at 100× the corpus.
    * Total order (score desc, id asc) via the max-struct trick
    * (score, −id); rank 1..k from the sorted-array position. Shared by
    * all four ANN variants so their ranking semantics can't drift.
    * (Shared with [[Search]] — keyword retrieval ranks through the same
    * bounded aggregation, so lexical and vector top-k can't drift either.) */
  private[operators] def topKPerQuery(scored: DataFrame, idCol: String, scoreCol: String,
                                      k: Int): DataFrame = {
    // the (score, −id) max-struct trick negates the id: under non-ANSI mode
    // a non-numeric id would negate to null and silently null every output
    // id, so fail loudly instead (the signature is generic but the
    // implementation is not)
    require(scored.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"topKPerQuery needs a numeric id column for its (score, -id) " +
        s"tie-break; '$idCol' is ${scored.schema(idCol).dataType.simpleString}")
    val key = struct(col(scoreCol), (-col(idCol)).as("nid"))
    val topk = graftExpr.column(
      new CollectTopK(graftExpr.expression(key), k, false).toAggregateExpression())
    scored.groupBy(col("query_id"))
      .agg(topk.as("tops"))
      .select(col("query_id"), posexplode(col("tops")).as(Seq("r0", "t")))
      .select(col("query_id"), (-col("t.nid")).as(idCol),
        col(s"t.$scoreCol").as(scoreCol), (col("r0") + 1).as("rank"))
  }

  /** Exact top-k cosine neighbors for each query vector (self excluded).
    * Output: (query_id, vec_id, cos, rank), rank 1..k by (cos desc, id). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol), col(vecCol))
      .crossJoin(q)
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        cosine(col("q_vec"), col(vecCol)).as("cos"))
    topKPerQuery(scored, idCol, "cos", k)
  }

  /** Contrastive hard-negative mining (the DPR / in-batch-negatives
    * augmentation shape): for each query vector, the k corpus vectors
    * MOST similar to it that carry a DIFFERENT label — near the decision
    * boundary by construction, which is exactly what makes a negative
    * "hard". Same broadcast-queries / corpus-streams-once / bounded
    * CollectTopK shape as [[bruteForceTopK]]; the label inequality also
    * excludes self. Output: (query_id, idCol, cos, rank). */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), col(labelCol).as("q_label")))
    val scored = corpus.select(col(idCol), col(vecCol), col(labelCol))
      .crossJoin(q)
      .filter(col(labelCol) =!= col("q_label"))
      .select(col("query_id"), col(idCol),
        cosine(col("q_vec"), col(vecCol)).as("cos"))
    topKPerQuery(scored, idCol, "cos", k)
  }

  /** Margin-based aligned-pair mining (Artetxe & Schwenk, ACL 2019 —
    * "Margin-based Parallel Corpus Mining", ratio margin):
    * score(x,y) = cos(x,y) / ((avgF(x) + avgB(y)) / 2), where avgF(x) is
    * the mean cosine of x's kAvg nearest corpus vectors and avgB(y) of
    * y's kAvg nearest QUERY vectors — the normalization that suppresses
    * hubs (vectors moderately close to EVERYTHING), which plain cosine
    * thresholds mis-mine. The harvesting shape behind bitext / aligned-
    * pair mining for embedding and translation training data.
    *
    * Scale shape: queries broadcast (a mining batch is bounded by
    * construction); the corpus streams once through the scoring
    * projection; the scored frame (|queries|·|corpus| narrow rows, no
    * vectors) is checkpointed for its three consumers; both neighborhood
    * averages are bounded CollectTopK aggregations (forward per query,
    * backward per corpus id over |queries| values); the final ranking is
    * [[topKPerQuery]]. No window anywhere.
    *
    * Determinism: the averages are sums of 1e-6-QUANTIZED cosines —
    * integer sums, order-independent, and tie-choice-independent (a tie
    * at the kAvg boundary is between EQUAL quantized values, so the sum
    * is the same whichever survives). The margin clears denominators:
    * 2·qc·nf·nb / (fsum·nb + bsum·nf) — ONE double division of exact
    * integers, bit-replayable anywhere. Pairs whose combined neighborhood
    * sum is ≤ 0 are dropped (a margin against a non-positive neighborhood
    * is meaningless; the oracle mirrors the filter).
    * Output: (query_id, idCol, margin, rank), rank 1..k by
    * (margin desc, id asc). */
  def marginTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, kAvg: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol), col(vecCol))
      .crossJoin(q)
      .select(col("query_id"), col(idCol),
        floor(cosine(col("q_vec"), col(vecCol)) * lit(1.0e6)).cast("long").as("qc"))
      .localCheckpoint()
    def topQcSum(keyCol: String, sumName: String, nName: String): DataFrame = {
      val topk = graftExpr.column(
        new CollectTopK(graftExpr.expression(col("qc")), kAvg, false)
          .toAggregateExpression())
      scored.groupBy(col(keyCol)).agg(topk.as("tops"))
        .select(col(keyCol), explode(col("tops")).as("v"))
        .groupBy(col(keyCol))
        .agg(sum(col("v")).as(sumName), count(lit(1)).as(nName))
    }
    val fwd = broadcast(topQcSum("query_id", "fsum", "fn"))
    val bwd = topQcSum(idCol, "bsum", "bn")
    val denom = col("fsum") * col("bn") + col("bsum") * col("fn")
    val withMargin = scored
      .join(fwd, "query_id")
      .join(bwd, idCol)
      .filter(denom > 0)
      .select(col("query_id"), col(idCol),
        ((col("qc") * 2 * col("fn") * col("bn")).cast("double") /
          denom.cast("double")).as("margin"))
    topKPerQuery(withMargin, idCol, "margin", k)
  }

  /** Banded-LSH top-k: candidates share ≥1 (band, key) with the query;
    * exact cosine re-rank over the deduplicated candidate set. Same output
    * shape as bruteForceTopK; recall < 1 by design, tuned by (b, p).
    *
    * The corpus explodes to b rows per vector but the join stays broadcast
    * (query side is small), duplicate band-hits collapse in the
    * (query_id, id) aggregation — cos is identical across bands, so
    * first() is value-deterministic — and only (id, cos) pairs reach the
    * shuffle, never the vectors. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nBands: Int = 8,
              planesPerBand: Int = 6): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol),
      posexplode(lshBandKeys(col(vecCol), nBands, planesPerBand)).as(Seq("band", "key")))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      posexplode(lshBandKeys(col(vecCol), nBands, planesPerBand)).as(Seq("band", "key"))))
    val scored = c.join(q, Seq("band", "key"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        cosine(col("q_vec"), col(vecCol)).as("cos"))
      .groupBy(col("query_id"), col(idCol))
      .agg(first(col("cos")).as("cos"))
    topKPerQuery(scored, idCol, "cos", k)
  }

  /** Seed centroids (the nCentroids lowest-id vectors) — the single
    * definition both the IVF index and its k-means refinement share, so
    * seeding can never desynchronize between them. */
  private def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                            nCentroids: Int): DataFrame =
    broadcast(corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec")))

  /** Rank each row's centroids by (cosine desc, cent_id asc) and keep the
    * top `keep` — keep = 1 is the cell assignment, keep = nProbe the probe
    * set. Shared by ivfTopK and kmeansRefine (same tie-break, always).
    *
    * Ranking is a bounded aggregation, not a window: keep = 1 is a
    * max_by(payload, (ccos, −cent_id)) and keep > 1 a CollectTopK — the
    * same machinery as [[topKPerQuery]]. Both partial-aggregate map-side,
    * so each map partition reduces its corpus×nCentroids candidate rows to
    * ≤ keep per vector BEFORE the exchange with NO per-partition sort
    * (the former row_number window compiled to WindowGroupLimit, which
    * bounds the same shuffle but sorts every map partition first). */
  private def nearestCells(df: DataFrame, cents: DataFrame, keyCol: String,
                           v: String, keep: Int): DataFrame = {
    val payload = df.columns.filter(_ != keyCol)
    val scored = df.crossJoin(cents)
      .select((df.columns.map(col) :+ col("cent_id") :+
        cosine(col(v), col("cent_vec")).as("ccos")).toIndexedSeq: _*)
    // (ccos, −cent_id): max = best cosine, lowest cent_id on ties —
    // cent_id is a corpus id, numeric by seedCentroids' construction
    val rank = struct(col("ccos"), (-col("cent_id")).as("nc"))
    val out = (c: String => Column) =>
      (df.columns.map(n => if (n == keyCol) col(keyCol) else c(n)) :+
        c("cell")).toIndexedSeq
    if (keep == 1)
      scored.groupBy(col(keyCol))
        .agg(max_by(struct((payload.map(col) :+ col("cent_id").as("cell"))
          .toIndexedSeq: _*), rank).as("b"))
        .select(out(n => col(s"b.$n")): _*)
    else {
      // ordered by the leading (ccos, nc) pair — unique per centroid, so
      // the trailing payload fields never participate in the comparison
      val item = struct(rank.as("r"),
        struct(payload.map(col).toIndexedSeq: _*).as("p"),
        col("cent_id").as("cell"))
      val topk = graftExpr.column(
        new CollectTopK(graftExpr.expression(item), keep, false)
          .toAggregateExpression())
      scored.groupBy(col(keyCol)).agg(topk.as("tops"))
        .select(col(keyCol), explode(col("tops")).as("t"))
        .select(out(n => if (n == "cell") col("t.cell") else col(s"t.p.$n")): _*)
    }
  }

  /** IVF-flat ANN: coarse-quantize the corpus into `nCentroids` cells
    * (centroids = the `nCentroids` lowest-id corpus vectors — seeded,
    * replayable; a k-means refinement would slot in here without changing
    * the query shape), then each query probes its `nProbe` nearest cells
    * and re-ranks exactly within them.
    *
    * Scale tuning, explicit because it changes with n: cell count must
    * grow ~√n (classic IVF balance: probe cost ≈ nProbe·n/cells +
    * cells), and nProbe > 1 is what buys recall once cells are small.
    * Fixed constants here would leave each probe scanning n/cells vectors
    * — a linear scan in disguise at 100× the data. At cluster scale the
    * corpus is written bucketed by cell id, so a probe reads nProbe
    * buckets and nothing else.
    *
    * Output: (query_id, vec_id, cos, rank), rank 1..k by (cos desc, id). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int,
              nProbe: Int): DataFrame =
    ivfServe(corpus, queries, idCol, vecCol, k, nCentroids, nProbe, None)

  /** [[ivfTopK]] under a METADATA filter — filtered vector search, the
    * ANN twin of `Search.bm25IndexTopKFiltered`: the INDEX (seeded
    * centroids + cell assignments) is built from the FULL corpus —
    * filtering before indexing would move the centroids and give every
    * tenant a different, unshareable quantizer — and the allowed-id
    * frame semi-joins the CELL table, so candidates restrict after cell
    * pruning and before scoring (post-filter ANN, the one-index-serves-
    * every-filter deployment). Probe cost is unchanged; candidate cost
    * shrinks with the filter's selectivity. */
  def ivfTopKFiltered(corpus: DataFrame, queries: DataFrame,
                      allowed: DataFrame, idCol: String, vecCol: String,
                      k: Int, nCentroids: Int, nProbe: Int): DataFrame =
    ivfServe(corpus, queries, idCol, vecCol, k, nCentroids, nProbe,
      Some(allowed))

  private def ivfServe(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
                       allowed: Option[DataFrame]): DataFrame = {
    val cents = seedCentroids(corpus, idCol, vecCol, nCentroids)
    val cells0 = nearestCells(corpus.select(col(idCol), col(vecCol)),
      cents, idCol, vecCol, keep = 1)
    val cells = allowed.fold(cells0)(a =>
      cells0.join(a.select(col(idCol)), Seq(idCol), "left_semi"))
    val probes = nearestCells(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")), cents, "query_id", "q_vec", keep = nProbe)
    val scored = cells.join(broadcast(probes), "cell")
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        cosine(col("q_vec"), col(vecCol)).as("cos"))
    topKPerQuery(scored, idCol, "cos", k)
  }

  /** Materialize the IVF index as a CELL-PARTITIONED table: the corpus is
    * written under cell=<id> directories (vectors clustered by id within
    * each) with the centroid table alongside — the layout where a query's
    * nProbe cells are nProbe directory reads and every other byte of the
    * corpus is never opened. This is the persisted form the
    * [[ivfTopK]] scaladoc promises at cluster scale; [[ivfIndexTopK]] is
    * its query path. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, path: String): Unit =
    writeIvfIndexFrom(corpus,
      seedCentroids(corpus, idCol, vecCol, nCentroids), idCol, vecCol, path)

  /** Build + atomically publish an IVF generation from an EXPLICIT
    * centroid table — the shared tail of [[writeIvfIndex]] (seeded
    * quantizer) and [[retrainIvfIndex]] (Lloyd-refreshed quantizer).
    * Components (centroids, cells) commit as unreferenced versions of
    * their stores first; readers flip at the composite publish, so a
    * crashed build/retrain never serves cells assigned under one
    * quantizer with another generation's centroid table. A (re)build is
    * a fresh generation of exactly these components. */
  def writeIvfIndexFrom(corpus: DataFrame, cents: DataFrame, idCol: String,
                        vecCol: String, path: String): Unit = {
    val assigned = nearestCells(corpus.select(col(idCol), col(vecCol)),
        broadcast(cents), idCol, vecCol, keep = 1)
      .localCheckpoint() // feeds the cells commit AND the quality aggregate
    try {
      val cv = StoredIndex.commit(cents, path, "centroids")
      val lv = StoredIndex.commit(
        assigned.repartition(col("cell")).sortWithinPartitions(col(idCol)),
        path, "cells", Seq("cell"))
      val (n, qsum) = assignQuality(assigned, cents, vecCol)
      // train-time quality doubles as the drift BASELINE (base_*): the
      // running pair advances with every append, the baseline only at a
      // (re)train — their gap is the drift metric, maintained by integer
      // arithmetic alone (never a standing-index scan; see [[ivfDrift]])
      val sv = StoredIndex.commit(
        corpus.sparkSession.range(1).select(
          lit(n).as("n_vecs"), lit(qsum).as("qcos_sum"),
          lit(n).as("base_n"), lit(qsum).as("base_qcos_sum")),
        path, "stats")
      StoredIndex.create(path, Map("centroids" -> cv, "cells" -> lv, "stats" -> sv))
    } finally Checkpoints.release(assigned) // build-loop hygiene: no leak per (re)train
  }

  /** (count, Σ floor(cos(vec, its centroid)·10⁶)) of an assigned frame —
    * integer-exact, order-independent; the building block of the drift
    * account. */
  private def assignQuality(assigned: DataFrame, cents: DataFrame,
                            vecCol: String): (Long, Long) = {
    val r = assigned.join(broadcast(cents), assigned("cell") === cents("cent_id"))
      .select(floor(cosine(col(vecCol), col("cent_vec")) * lit(1.0e6))
        .cast("long").as("q"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("qsum")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Commit the drift account with its running pair moved by (dn, dq);
    * the train-time baseline is untouched. */
  private def commitDrift(s: StoredIndex.Served, dn: Long, dq: Long): Long = {
    val s0 = s.read("stats").collect()(0)
    StoredIndex.commit(s.spark.range(1).select(
        lit(s0.getAs[Long]("n_vecs") + dn).as("n_vecs"),
        lit(s0.getAs[Long]("qcos_sum") + dq).as("qcos_sum"),
        lit(s0.getAs[Long]("base_n")).as("base_n"),
        lit(s0.getAs[Long]("base_qcos_sum")).as("base_qcos_sum")),
      s.path, "stats")
  }

  /** The (id, vector) columns of a [[writeIvfIndex]] cells table: the
    * vector is its array column, the id the one column left beside it
    * and `cell`. */
  private def ivfColumns(cells: DataFrame): (String, String) = {
    val vecCol = cells.schema.fields.collectFirst {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
        f.name
    }.getOrElse(throw new IllegalArgumentException(
      s"no vector column among ${cells.columns.mkString(", ")}"))
    (StoredIndex.idColumn(cells, Set(vecCol, "cell"), "cells"), vecCol)
  }

  /** Incremental maintenance of a [[writeIvfIndex]] layout: assign ONLY
    * the delta vectors against the index's EXISTING centroid table (the
    * coarse quantizer stays fixed — the standard IVF maintenance contract;
    * re-training is a deliberate rebuild — [[retrainIvfIndex]]) and
    * append them into their cell directories. Cost tracks the delta:
    * |delta| assignment rows, appends touch only the delta's cells, and
    * queries see old+new at the atomic composite publish, which keeps the
    * tombstone set ([[graft.sources.StoredIndex]]; a crashed append
    * leaves readers on the old generation, a tombstoned id in the delta
    * raises, re-delivered ids are anti-joined away against the served
    * cells, so delivery is idempotent). Small appended files are
    * [[compactIvfIndex]]'s job, not this one's. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     delta: DataFrame, idCol: String, vecCol: String,
                     path: String): Unit = {
    val s = StoredIndex.served(spark, path)
    s.refuseResurrection(delta, idCol)
    val cents = broadcast(s.read("centroids"))
    val assigned = nearestCells(
        delta.join(s.read("cells").select(col(idCol)), Seq(idCol), "left_anti")
          .select(col(idCol), col(vecCol)),
        cents, idCol, vecCol, keep = 1)
      .localCheckpoint()
    // release on every exit — nightly-append hygiene, same as the BM25 twin
    try {
      if (assigned.isEmpty) return // fully re-delivered delta: no-op
      val lv = s.append(
        assigned.repartition(col("cell")).sortWithinPartitions(col(idCol)),
        "cells", Seq("cell"))
      // the drift account advances by the DELTA's own quality — exact
      // integer folds, the standing index is never re-scanned
      val (dn, dq) = assignQuality(assigned, cents, vecCol)
      s.publish(Map("cells" -> lv, "stats" -> commitDrift(s, dn, dq)))
    } finally Checkpoints.release(assigned)
  }

  /** Tombstone DELETE from a [[writeIvfIndex]] layout — the vector
    * sibling of [[Search.deleteFromBm25Index]], same contract
    * ([[graft.sources.StoredIndex]]): [[ivfIndexTopK]] anti-joins the
    * deleted ids out of the probed cells, [[appendIvfIndex]] raises on
    * resurrection attempts, and [[compactIvfIndex]] physically reclaims.
    * The drift account stays exact: the deleted vectors' own assignment
    * quality (one narrow cells read, semi-joined to the delete set) is
    * SUBTRACTED from the running (n_vecs, qcos_sum) by integer
    * arithmetic — the train-time baseline is untouched, so post-delete
    * drift still measures corpus movement against the same frozen
    * quantizer. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         ids: DataFrame, path: String): Unit = {
    val s = StoredIndex.served(spark, path)
    val cells = s.read("cells")
    val (idCol, vecCol) = ivfColumns(cells)
    s.delete(ids, idCol, cells) { gone =>
      val (dn, dq) = assignQuality(gone, broadcast(s.read("centroids")), vecCol)
      Map("stats" -> commitDrift(s, -dn, -dq))
    }
  }

  /** Physically reclaim tombstoned vectors from a [[writeIvfIndex]]
    * layout: one cell-clustered rewrite of the cells component minus the
    * tombstone set (which also collapses nightly-append small files),
    * then a republish WITHOUT the tombstones — results unchanged,
    * bytes and the re-add embargo gone. Centroids and stats are already
    * exact (adjusted at delete time) and pass through untouched. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    val s = StoredIndex.served(spark, path)
    val idCol = ivfColumns(s.read("cells"))._1
    s.compact(idCol, StoredIndex.Rewrite("cells", Seq("cell"), Seq(idCol)))()
  }

  /** The frozen-quantizer drift account, 1 row: mean assignment cosine
    * at train time (`base_mean_micro`, micro-cos units) vs the running
    * mean over everything indexed since (`mean_micro`), and their gap
    * (`drift_micro` ≥ 0 means the corpus has moved away from the
    * centroids). Pure arithmetic on the stats component — reading it
    * costs one row at any index size, because both sums are maintained
    * incrementally at write/append time. A maintenance job thresholds
    * `drift_micro` and calls [[retrainIvfIndex]]. */
  def ivfDrift(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    StoredIndex.served(spark, path).read("stats")
      .select(col("n_vecs"),
        (col("base_qcos_sum") / col("base_n")).as("base_mean_micro"),
        (col("qcos_sum") / col("n_vecs")).as("mean_micro"),
        (col("base_qcos_sum") / col("base_n") -
          col("qcos_sum") / col("n_vecs")).as("drift_micro"))

  /** Deliberate rebuild for a drifted index: re-train the coarse
    * quantizer with the Lloyd loop ([[kmeansIterate]]) over the CURRENT
    * corpus, re-assign every vector, and publish as a new generation of
    * the same composite — queries flip atomically, the drift baseline
    * resets to the fresh quantizer's quality, and old generations stay
    * time-travelable until vacuumed. */
  def retrainIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int, iters: Int, path: String): Unit =
    writeIvfIndexFrom(corpus,
      kmeansIterate(corpus, idCol, vecCol, nCentroids, iters)
        .select(col("cent_id"), col("cent_vec")),
      idCol, vecCol, path)

  /** ANN top-k against a materialized [[writeIvfIndex]] layout. Probe
    * cells are resolved driver-side (|queries|·nProbe ids — KBs, the one
    * place a collect is the right call: the list must exist at PLANNING
    * time for the scan to prune partitions statically) and pushed into
    * the read as a partition filter, so only the probed cell directories
    * are listed, opened, or scanned. Same ranking semantics as
    * [[ivfTopK]] — identical results, different I/O shape. */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, idCol: String, vecCol: String,
                   k: Int, nProbe: Int): DataFrame = {
    // one composite resolution: probes against THIS generation's
    // centroids only ever read THIS generation's cells
    val s = StoredIndex.served(spark, path)
    val cents = broadcast(s.read("centroids"))
    val probes = nearestCells(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")), cents, "query_id", "q_vec", keep = nProbe)
    val probeCells = probes.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // tombstoned vectors never reach scoring — a query after a delete is
    // bit-identical to one against an index rebuilt without them
    val cells = s.live(s.read("cells").filter(col("cell").isin(probeCells: _*)), idCol)
    val scored = cells.join(broadcast(probes), cells("cell") === probes("cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        cosine(col("q_vec"), col(vecCol)).as("cos"))
    topKPerQuery(scored, idCol, "cos", k)
  }

  /** Cluster-quality report over the seed assignment: per cell, the
    * member count and exact cohesion statistics of the member→centroid
    * cosine — the evaluation read beside [[kmeansRefine]]'s training
    * step ("are these cells tight, and which is the loosest member?").
    *
    * Determinism: each ccos is a sequential-fold double, identical on
    * both engines; cross-member arithmetic happens ONLY on the
    * per-member quantized floor(ccos·10⁶) longs (order-independent
    * integer sums; min is a pick). The mean is mathematical-FLOOR
    * division via the pmod construction — qcos_sum can be negative
    * (anti-aligned vectors), where raw DIV truncates but `//` floors.
    * One broadcast fan-out (corpus × nCentroids) + two aggregations;
    * nothing downstream grows with corpus size beyond the cell table.
    * Output: (cent_id, n, qcos_sum, qcos_min, mean_cos_ppm). */
  def clusterStats(corpus: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int): DataFrame = {
    val cents = seedCentroids(corpus, idCol, vecCol, nCentroids)
    val scored = corpus.select(col(idCol), col(vecCol)).crossJoin(cents)
      .select(col(idCol), col("cent_id"),
        cosine(col(vecCol), col("cent_vec")).as("ccos"))
    val best = scored.groupBy(col(idCol))
      .agg(max(struct(col("ccos"), (-col("cent_id")).as("nc"))).as("b"))
      .select((-col("b.nc")).as("cell"),
        floor(col("b.ccos") * lit(1e6)).cast("long").as("qc"))
    best.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(col("qc")).as("qcos_sum"),
        min(col("qc")).as("qcos_min"))
      .select(col("cell").as("cent_id"), col("n"), col("qcos_sum"),
        col("qcos_min"),
        expr("(qcos_sum - pmod(qcos_sum, n)) DIV n").as("mean_cos_ppm"))
  }

  /** One distributed Lloyd (k-means) refinement step for the IVF coarse
    * quantizer: assign every vector to its max-cosine centroid, then
    * recompute each centroid as the per-dimension mean of its cell.
    * Output: (cent_id, dim, centroid) — long form, ready to re-assemble
    * or feed the next iteration.
    *
    * The mean is computed over 1e-6-QUANTIZED coordinates: each value
    * becomes floor(v·10⁶) — an exact long — so the per-cell sums are
    * integer math, which makes the result independent of partitioning and
    * summation order. A plain double sum varies with the shuffle layout
    * (floating-point addition isn't associative), i.e. the same data on a
    * different cluster would give different centroids; quantized sums are
    * bit-stable everywhere, at a 10⁻⁶ precision cost no quantizer cares
    * about. Shuffle shape: one groupBy on (cell, dim) with map-side
    * partial sums — nCentroids·dim result rows. */
  def kmeansRefine(corpus: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int): DataFrame = {
    val cents = seedCentroids(corpus, idCol, vecCol, nCentroids)
    val cells = nearestCells(corpus.select(col(idCol), col(vecCol)),
      cents, idCol, vecCol, keep = 1)
    cells.select(col("cell"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(floor(col("v").cast("double") * 1e6).cast("long")).as("qsum"),
        count(lit(1)).as("n"))
      .select(col("cell").as("cent_id"), col("dim"),
        (col("qsum").cast("double") / (col("n").cast("double") * 1e6))
          .as("centroid"))
  }

  /** Lloyd iteration to a round budget: run [[kmeansRefine]]'s
    * assign+recompute step `iters` times, feeding each round's centroids
    * back as the next round's quantizer. The loop is driver-orchestrated
    * (centroid tables are KBs — k·dim rows — and broadcast each round;
    * the corpus is scanned once per round, never cached), with
    * localCheckpoint cutting the lineage so the plan doesn't grow with
    * rounds — same discipline as [[Dedup.connectedComponents]].
    *
    * Output: (cent_id, cent_vec ARRAY<FLOAT>, n) after the last round —
    * cent_id keeps the seed's id, n = final cell population. A cluster
    * that loses every member mid-run is DROPPED (standard empty-cluster
    * handling), so the result can have fewer than nCentroids rows.
    * Determinism:
    * each round's means use the same 1e-6-quantized integer sums as
    * kmeansRefine, so the trajectory is identical on any cluster layout. */
  def kmeansIterate(corpus: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, iters: Int): DataFrame = {
    val vecs = corpus.select(col(idCol), col(vecCol))
    var cents = seedCentroids(corpus, idCol, vecCol, nCentroids)
    for (_ <- 1 to iters) {
      val cells = nearestCells(vecs, cents, idCol, vecCol, keep = 1)
      val refined = cells
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(floor(col("v").cast("double") * 1e6).cast("long")).as("qsum"),
          count(lit(1)).as("n"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"),
            (col("qsum").cast("double") / (col("n").cast("double") * 1e6)).as("m"))))
          .as("dims"), first(col("n")).as("n"))
        .select(col("cell").as("cent_id"),
          col("dims.m").cast("array<float>").as("cent_vec"), col("n"))
        .localCheckpoint()
      cents = broadcast(refined.select(col("cent_id"), col("cent_vec")))
    }
    val cells = nearestCells(vecs, cents, idCol, vecCol, keep = 1)
    cents.join(cells.groupBy(col("cell")).agg(count(lit(1)).as("n")),
        cents("cent_id") === col("cell"), "left")
      .select(col("cent_id"), col("cent_vec"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** IVF-flat ANN over a TRAINED coarse quantizer: run the Lloyd loop
    * ([[kmeansIterate]]) for `iters` rounds, then index and probe against
    * the refined centroids — the production IVF shape, where the
    * quantizer is trained once and the index is built from it. Identical
    * query path to [[ivfTopK]] (same [[nearestCells]] tie-break, same
    * bounded [[topKPerQuery]] final ranking); only the centroid table
    * differs, so recall improves with no change in plan shape. Clusters
    * that lose every member during training drop out (standard
    * empty-cluster handling) — cells just re-balance over the rest. */
  def ivfTrainedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
                     iters: Int): DataFrame = {
    val cents = broadcast(
      kmeansIterate(corpus, idCol, vecCol, nCentroids, iters)
        .select(col("cent_id"), col("cent_vec")))
    val cells = nearestCells(corpus.select(col(idCol), col(vecCol)),
      cents, idCol, vecCol, keep = 1)
    val probes = nearestCells(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec")), cents, "query_id", "q_vec", keep = nProbe)
    val scored = cells.join(broadcast(probes), "cell")
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        cosine(col("q_vec"), col(vecCol)).as("cos"))
    topKPerQuery(scored, idCol, "cos", k)
  }

  /** Product-quantization encoding — the compression half of IVF-PQ, the
    * layout that makes billion-vector ANN fit in memory: each vector is
    * cut into `m` contiguous subvectors and every subvector is replaced by
    * the id of its nearest (max-cosine, the metric this whole family
    * ranks by) sub-centroid. Sub-centroids here are the subvectors of the
    * `ksub` lowest-id corpus vectors — the same seeding rule as the IVF
    * coarse quantizer, so the two stay replayable together ([[kmeansRefine]]
    * refines either without changing the query shape).
    *
    * Plan shape: centroids BROADCAST (ksub rows); the corpus streams
    * through a generate (m subspaces) × ksub scoring projection, and the
    * per-(vector, subspace) argmax is a single-shuffle max(struct)
    * aggregation — partial agg before the exchange, no window sort, and
    * only (id, subspace, code, score) rows ever shuffle, never vectors.
    * Output: (idCol, subspace, code, scos); zero-norm subvectors score
    * −2.0 (below any cosine) so they still code deterministically.
    * Subvector length is ⌊dim/m⌋ — when m ∤ dim the trailing dim mod m
    * coordinates are not coded (pad the embedding or pick m | dim). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               m: Int, ksub: Int): DataFrame = {
    val cents = seedCentroids(corpus, idCol, vecCol, ksub)
    val subLen = (size(col(vecCol)) / m).cast("int")
    val start = col("subspace") * subLen + 1
    val scored = corpus.select(col(idCol), col(vecCol))
      .crossJoin(cents)
      .select(col(idCol), col(vecCol), col("cent_id"), col("cent_vec"),
        explode(sequence(lit(0), lit(m - 1))).as("subspace"))
      .select(col(idCol), col("subspace"), col("cent_id"),
        coalesce(cosine(slice(col(vecCol), start, subLen),
          slice(col("cent_vec"), start, subLen)), lit(-2.0)).as("scos"))
    scored.groupBy(col(idCol), col("subspace"))
      .agg(max(struct(col("scos"), (-col("cent_id")).as("nc"))).as("b"))
      .select(col(idCol), col("subspace"), (-col("b.nc")).as("code"),
        col("b.scos").as("scos"))
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes — the
    * query path PQ exists for: the corpus is scanned as narrow
    * (id, subspace, code) rows, never as vectors. Each query builds its
    * m×ksub sub-centroid score table (tiny — BROADCAST), every coded
    * subvector scores by table lookup (broadcast hash join on
    * (subspace, code)), and a vector's approximate affinity is the sum of
    * its m sub-scores.
    *
    * Sub-scores are 1e-6-quantized to longs before the per-vector sum, so
    * the total is exact integer math — independent of partition/summation
    * order (same device as [[kmeansRefine]]); a plain double sum would
    * vary with shuffle layout. Output: (query_id, idCol, approx, rank),
    * rank 1..k by (approx desc, id) — approximate by construction; recall
    * is bought back by re-ranking the top-k' with exact vectors, which is
    * [[bruteForceTopK]] over the surviving candidate set. */
  def adcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, m: Int, ksub: Int): DataFrame = {
    val codes = pqEncode(corpus, idCol, vecCol, m, ksub)
    val cents = seedCentroids(corpus, idCol, vecCol, ksub)
    val subLen = (size(col("q_vec")) / m).cast("int")
    val start = col("subspace") * subLen + 1
    val qtab = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .crossJoin(cents)
      .select(col("query_id"), col("q_vec"), col("cent_id").as("code"), col("cent_vec"),
        explode(sequence(lit(0), lit(m - 1))).as("subspace"))
      .select(col("query_id"), col("subspace"), col("code"),
        floor(coalesce(cosine(slice(col("q_vec"), start, subLen),
          slice(col("cent_vec"), start, subLen)), lit(-2.0)) * 1e6)
          .cast("long").as("q_sub")))
    val scored = codes.join(qtab, Seq("subspace", "code"))
      .filter(col(idCol) =!= col("query_id"))
      .groupBy(col("query_id"), col(idCol))
      .agg((sum(col("q_sub")).cast("double") / 1e6).as("approx"))
    topKPerQuery(scored, idCol, "approx", k)
  }

  /** SemDeDup — semantic deduplication via cluster-then-compare (Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): cluster the corpus with
    * the seeded k-means quantizer, compare cosines only WITHIN a cluster,
    * and mark every item that has a lower-id same-cell neighbor with
    * cos ≥ tau as a semantic duplicate (min-id-wins, the same
    * representative rule as exact dedup, so verdicts are replayable).
    *
    * Scale shape: the corpus never self-joins globally — pairing is
    * per-cell, nCentroids grows ~√n so expected cell size stays bounded,
    * and `cellCap` (deterministic: the lowest `cellCap` ids of a cell
    * participate in pairing) bounds the worst case when a degenerate
    * centroid captures a large corpus fraction: ≤ nCentroids·C(cap,2)
    * candidate pairs regardless of skew. Ids pair up BEFORE vectors
    * re-join (narrow candidate rows cross the shuffle, vectors once per
    * verified side) — the same discipline as [[bandedNearDupPairs]].
    * Output: one row per corpus item — (idCol, cell, is_dup,
    * dup_of = lowest qualifying lower id | null, dup_cos = cosine to
    * dup_of | null). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, tau: Double,
                    cellCap: Int = 4096): DataFrame = {
    val cents = seedCentroids(emb, idCol, vecCol, nCentroids)
    val cells = nearestCells(emb.select(col(idCol), col(vecCol)),
      cents, idCol, vecCol, keep = 1)
    val capIds = graftExpr.column(
      new CollectTopK(graftExpr.expression(col(idCol)), cellCap, true)
        .toAggregateExpression())
    val capped = cells.groupBy(col("cell"))
      .agg(capIds.as("ids"))
      .select(col("cell"), explode(col("ids")).as("id"))
    val cand = capped.as("a").join(capped.as("b"), Seq("cell"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val dup = cand
      .join(emb.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
      .join(emb.select(col(idCol).as("id_b"), col(vecCol).as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("id_b"))
      .agg(min(struct(col("id_a"), col("cos"))).as("m"))
      .select(col("id_b").as(idCol), col("m.id_a").as("dup_of"),
        col("m.cos").as("dup_cos"))
    cells.select(col(idCol), col("cell"))
      .join(dup, Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("dup_cos"))
  }

  /** Incremental SemDeDup — the nightly-delta shape of [[semanticDedup]]:
    * an incoming batch is checked against the STANDING corpus only (never
    * against itself — within-batch and within-corpus dups are other jobs'
    * concern, mirroring [[graft.operators.Dedup.minhashPairsAgainst]]).
    * Cells come from the corpus-seeded quantizer, both sides assign to
    * them, and a new item is a duplicate iff some same-cell corpus item
    * scores cos ≥ tau (verdict = lowest such corpus id). Cost tracks the
    * DELTA: the corpus contributes one assignment projection plus its
    * per-cell capped participant lists; no corpus self-join exists in the
    * plan. Output: one row per NEW item — (idCol, cell, is_dup, dup_of,
    * dup_cos). */
  def semanticDedupAgainst(newEmb: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String, nCentroids: Int,
                           tau: Double, cellCap: Int = 4096): DataFrame = {
    val cents = seedCentroids(corpus, idCol, vecCol, nCentroids)
    def capped(df: DataFrame) = {
      val cells = nearestCells(df.select(col(idCol), col(vecCol)),
        cents, idCol, vecCol, keep = 1)
      val capIds = graftExpr.column(
        new CollectTopK(graftExpr.expression(col(idCol)), cellCap, true)
          .toAggregateExpression())
      cells.groupBy(col("cell")).agg(capIds.as("ids"))
        .select(col("cell"), explode(col("ids")).as("id"))
    }
    val newCells = nearestCells(newEmb.select(col(idCol), col(vecCol)),
      cents, idCol, vecCol, keep = 1)
    val dup = capped(newEmb).as("a")
      .join(capped(corpus).as("b"), Seq("cell"))
      .select(col("a.id").as("new_id"), col("b.id").as("old_id"))
      .join(newEmb.select(col(idCol).as("new_id"), col(vecCol).as("va")), "new_id")
      .join(corpus.select(col(idCol).as("old_id"), col(vecCol).as("vb")), "old_id")
      .select(col("new_id"), col("old_id"),
        cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("new_id"))
      .agg(min(struct(col("old_id"), col("cos"))).as("m"))
      .select(col("new_id").as(idCol), col("m.old_id").as("dup_of"),
        col("m.cos").as("dup_cos"))
    newCells.select(col(idCol), col("cell"))
      .join(dup, Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("dup_cos"))
  }

  /** Embedding near-dup pairs: banded sign-LSH blocking + capped buckets +
    * exact cosine verify. Output: (id_a, id_b, cos) with cos ≥ tau.
    *
    * Candidate pairs are deduplicated BEFORE vectors are re-joined, so
    * embeddings cross a shuffle once per verified pair side, not once per
    * band hit; the per-bucket cap (deterministic: lowest `cap` ids win)
    * bounds the self-join even when a degenerate key captures a large
    * fraction of the corpus. */
  def bandedNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         tau: Double, nBands: Int = 8, planesPerBand: Int = 6,
                         bucketCap: Int = 64): DataFrame = {
    val keys = emb.select(col(idCol).as("id"),
      posexplode(lshBandKeys(col(vecCol), nBands, planesPerBand)).as(Seq("band", "key")))
    // deterministic cap (lowest `cap` ids win) as a BOUNDED top-k
    // aggregation, not a per-bucket window sort: under adversarial skew a
    // degenerate key captures a large corpus fraction, and the window
    // shape hands that whole bucket to one task for a full sort — exactly
    // the case the cap exists to defuse. CollectTopK's buffer is capped,
    // partial-aggregates map-side, and only ≤ cap ids per bucket per
    // partition ever shuffle. reverse=true keeps the k SMALLEST ids.
    val capIds = graftExpr.column(
      new CollectTopK(graftExpr.expression(col("id")), bucketCap, true)
        .toAggregateExpression())
    val capped = keys.groupBy(col("band"), col("key"))
      .agg(capIds.as("ids"))
      .select(col("band"), col("key"), explode(col("ids")).as("id"))
    val cand = capped.as("a").join(capped.as("b"), Seq("band", "key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(emb.select(col(idCol).as("id_a"), col(vecCol).as("va")), "id_a")
      .join(emb.select(col(idCol).as("id_b"), col(vecCol).as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= tau)
  }
}
