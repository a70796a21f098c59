package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Search

/** BM25 retrieval and reciprocal-rank-fusion semantics on planted
  * fixtures. */
class SearchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  /** Corpus planted so term rarity decides: "zebra" appears in exactly one
    * non-query doc, "the" in every doc. A BM25 search for "zebra the" must
    * rank the zebra doc first — a plain tf ranking would prefer doc 3's
    * three "the"s. */
  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "zebra the query doc"),
      (1L, "zebra runs far"),
      (2L, "the cat sat"),
      (3L, "the the the dog"),
      (4L, "fish swim deep")
    ).toDF("doc_id", "text")
  }

  private def queries = {
    val s = spark
    import s.implicits._
    Seq((0L, "zebra the")).toDF("query_id", "qtext")
  }

  private def bm25 = Search.bm25TopK(
    corpus, queries, "doc_id", "text", "query_id", "qtext", 10)

  test("bm25TopK: rare term dominates; self excluded; non-matching doc absent") {
    val rows = bm25.orderBy("rank").collect()
    val ranked = rows.map(_.getLong(1)).toSeq
    assert(ranked.head == 1L, s"zebra doc must rank first, got $ranked")
    assert(!ranked.contains(0L), "the query doc itself must be excluded")
    assert(!ranked.contains(4L), "a doc sharing no query term must not appear")
    assert(ranked.toSet == Set(1L, 2L, 3L))
    // scores strictly ordered with rank, rank contiguous from 1
    assert(rows.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
    val scores = rows.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("bm25TopK: longer documents are penalized at equal tf") {
    val s = spark
    import s.implicits._
    // same single match of "needle", one doc padded with off-vocabulary filler
    val c = Seq(
      (1L, "needle a b"),
      (2L, "needle a b c d e f g h i j k l m n o p")
    ).toDF("doc_id", "text")
    val q = Seq((99L, "needle")).toDF("query_id", "qtext")
    val out = Search.bm25TopK(c, q, "doc_id", "text", "query_id", "qtext", 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L),
      "the shorter doc must outrank the longer one at equal tf")
    assert(out(0).getDouble(2) > out(1).getDouble(2))
  }

  test("bm25TopK: deterministic across reruns (quantized integer sums)") {
    val a = bm25.collect().map(_.toSeq).toSeq
    val b = bm25.collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("rrfFuse: doc ranked by both systems beats single-system rank-1 docs") {
    val s = spark
    import s.implicits._
    val sys1 = Seq((0L, 10L, 1), (0L, 20L, 2))
      .toDF("query_id", "doc_id", "rank")
    val sys2 = Seq((0L, 30L, 1), (0L, 20L, 2))
      .toDF("query_id", "doc_id", "rank")
    val out = Search.rrfFuse(Seq(sys1, sys2), "doc_id", 10)
      .orderBy("rank").collect()
    // doc 20: 1/62 + 1/62 ≈ 0.0323 beats doc 10/30: 1/61 ≈ 0.0164
    assert(out.map(_.getLong(1)).toSeq == Seq(20L, 10L, 30L),
      out.mkString(", "))
    val expected20 = 1.0 / 62.0 + 1.0 / 62.0
    assert(out(0).getDouble(2) == expected20)
    // 10 and 30 tie at 1/61 — id ascending breaks it
    assert(out(1).getDouble(2) == out(2).getDouble(2))
  }

  test("rrfFuse: missing-from-one-list contributes zero, not null") {
    val s = spark
    import s.implicits._
    val sys1 = Seq((0L, 10L, 1)).toDF("query_id", "doc_id", "rank")
    val sys2 = spark.emptyDataFrame
      .sparkSession.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        sys1.schema)
    val out = Search.rrfFuse(Seq(sys1, sys2), "doc_id", 10).collect()
    assert(out.length == 1)
    assert(out(0).getDouble(2) == 1.0 / 61.0)
  }

  test("bm25PrfTopK: expansion reaches a doc sharing no literal query term") {
    val s = spark
    import s.implicits._
    // query matches docs 1-2; both carry feedback term "signal", which is
    // the ONLY route to doc 3 — plain BM25 can never return it
    val c = Seq(
      (1L, "zebra signal one"),
      (2L, "zebra signal two"),
      (3L, "signal signal alone"),
      (4L, "unrelated words here")
    ).toDF("doc_id", "text")
    val q = Seq((0L, "zebra")).toDF("query_id", "qtext")
    val plain = Search.bm25TopK(c, q, "doc_id", "text", "query_id", "qtext", 10)
      .collect().map(_.getLong(1)).toSet
    assert(plain == Set(1L, 2L), s"plain BM25 cannot see doc 3: $plain")
    val prf = Search.bm25PrfTopK(c, q, "doc_id", "text", "query_id", "qtext",
        10, fbDocs = 2, fbTerms = 2)
      .collect().map(_.getLong(1)).toSet
    assert(prf.contains(3L), s"feedback term must surface doc 3: $prf")
    assert(!prf.contains(4L), "expansion must not leak unrelated docs")
  }

  test("bm25TopK equals an in-memory reference BM25 on seeded random corpora") {
    val s = spark
    import s.implicits._
    val vocabList = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 40).map { i =>
        val n = 3 + rnd.nextInt(12)
        (i.toLong, Seq.fill(n)(vocabList(rnd.nextInt(vocabList.length))).mkString(" "))
      }
      val corpus = docs.toDF("doc_id", "text")
      val queries = docs.take(3)
        .map { case (id, t) => (id, t.split(" ").take(4).mkString(" ")) }
        .toDF("query_id", "qtext")

      // in-memory reference: same odds-idf, same quantization, same tie-break
      val tf = docs.flatMap { case (id, t) =>
        t.split(" ").groupBy(identity).map { case (w, o) => (id, w, o.length.toLong) } }
      val dl = docs.map { case (id, t) => id -> t.split(" ").length.toLong }.toMap
      val nDocs = docs.length.toDouble
      val avgdl = dl.values.sum.toDouble / nDocs
      val dfreq = tf.groupBy(_._2).map { case (w, rs) => w -> rs.map(_._1).distinct.length.toDouble }
      val expected = docs.take(3).flatMap { case (qid, qt) =>
        val qterms = qt.split(" ").take(4).toSet
        val scores = docs.filter(_._1 != qid).flatMap { case (did, _) =>
          val qcs = tf.filter(r => r._1 == did && qterms(r._2)).map { case (_, w, f) =>
            val idf = (nDocs - dfreq(w) + 0.5) / (dfreq(w) + 0.5)
            val c = idf * ((f.toDouble * (1.2 + 1.0)) /
              (f.toDouble + 1.2 * ((1.0 - 0.75) + 0.75 * (dl(did).toDouble / avgdl))))
            math.floor(c * 1e6).toLong
          }
          if (qcs.isEmpty) None else Some((did, qcs.sum.toDouble / 1e6))
        }
        scores.sortBy { case (id, sc) => (-sc, id) }.take(5)
          .zipWithIndex.map { case ((did, sc), r) => (qid, did, sc, r + 1) }
      }.toSet

      val got = Search.bm25TopK(corpus, queries, "doc_id", "text",
          "query_id", "qtext", 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(got == expected, s"seed $seed: engine $got\nreference $expected")
    }
  }

  test("bm25IndexTopK: identical rows to bm25TopK; postings scan prunes to the query's term buckets") {
    val s = spark
    import s.implicits._
    // a larger seeded corpus so bucket pruning has something to prune
    val rnd = new scala.util.Random(11)
    val vocab = Array.tabulate(80)(i => s"w$i")
    val docs = (0L until 120L).map { id =>
      (id, Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_idx").toString
    Search.writeBm25Index(docs, "doc_id", "text", path, nBuckets = 64)
    val direct = Search.bm25TopK(docs, qs, "doc_id", "text", "query_id", "qtext", 10)
    val indexed = Search.bm25IndexTopK(s, path, qs, "doc_id", "query_id", "qtext", 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(rows(indexed) == rows(direct)) // bit-identical scores included
    // the scan must prune: bucket partition filter present, and fewer
    // bucket directories read than the layout holds
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"),
      s"postings read must prune term buckets:\n$plan")
    val comp = graft.sources.PartitionedStore.readComposite(path)
    val allBuckets = graft.sources.PartitionedStore
      .versionDirs(s"$path/postings", comp("postings"))
      .flatMap(d => new java.io.File(s"$path/postings/data/$d").listFiles().toSeq)
      .count(_.getName.startsWith("bucket="))
    val queryTerms = qs.select(explode(split(trim(col("qtext")), " "))).distinct().count()
    assert(queryTerms < allBuckets,
      s"fixture broken: $queryTerms query terms vs $allBuckets buckets leaves nothing to prune")
  }

  test("appendBm25Index: index after a delta append answers bit-identically to a full rebuild") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Array.tabulate(60)(i => s"t$i")
    def mkDocs(ids: Range) = ids.map { id =>
      (id.toLong, Seq.fill(5 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val standing = mkDocs(0 until 80)
    val delta = mkDocs(80 until 110)
    val qs = standing.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_inc").toString
    Search.writeBm25Index(standing, "doc_id", "text", path, nBuckets = 32)
    Search.appendBm25Index(s, delta, "doc_id", "text", path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // df, dl, and stats all reflect old+new: scores must match the
    // derive-in-run path over the UNION exactly — including appended docs
    // being findable
    val direct = Search.bm25TopK(standing.union(delta), qs,
      "doc_id", "text", "query_id", "qtext", 10)
    val viaIndex = Search.bm25IndexTopK(s, path, qs, "doc_id", "query_id", "qtext", 10)
    assert(rows(viaIndex) == rows(direct))
    assert(rows(viaIndex).exists(_._2 >= 80L),
      "appended docs must be reachable through the index")
    // compaction: the accumulated append dirs collapse to one rewrite,
    // answers stay bit-identical, and the pre-compaction generation still
    // time-travels to the original dirs
    import graft.sources.PartitionedStore
    val servedBefore = PartitionedStore.readComposite(path)
    val filesBefore = PartitionedStore.readVersion(
      s, s"$path/postings", Some(servedBefore("postings"))).inputFiles.length
    Search.compactBm25Index(s, path)
    val servedAfter = PartitionedStore.readComposite(path)
    val filesAfter = PartitionedStore.readVersion(
      s, s"$path/postings", Some(servedAfter("postings"))).inputFiles.length
    assert(filesAfter < filesBefore,
      s"compaction must shrink postings file count: $filesBefore -> $filesAfter")
    assert(rows(Search.bm25IndexTopK(s, path, qs, "doc_id", "query_id", "qtext", 10))
      == rows(direct), "compaction must not change any answer")
    // old generation unharmed: its postings rows are all still readable
    assert(PartitionedStore.readVersion(
      s, s"$path/postings", Some(servedBefore("postings"))).count() ==
      PartitionedStore.readVersion(
        s, s"$path/postings", Some(servedAfter("postings"))).count())
    // retention closes the lifecycle on a REAL index: explicit cutoff at
    // the post-compaction generation truncates the pre-compaction one
    // (its uncompacted dirs reclaimed), and the serving path answers
    // bit-identically through it all
    val latestGen = PartitionedStore.compositeVersions(path).last
    val reclaimed = PartitionedStore.vacuumComposite(path, keepFrom = latestGen)
    assert(reclaimed.values.flatten.nonEmpty,
      "vacuum after compaction must reclaim the superseded append dirs")
    assert(!PartitionedStore.versions(s"$path/postings")
      .contains(servedBefore("postings")))
    assert(rows(Search.bm25IndexTopK(s, path, qs, "doc_id", "query_id", "qtext", 10))
      == rows(direct), "retention must not change any answer")
  }

  test("bm25IndexTopKFiltered: one index serves a metadata filter with " +
    "post-filter statistics — bit-identical to BM25 over the filtered " +
    "corpus, and provably NOT score-then-filter") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(77)
    val vocab = Array.tabulate(30)(i => s"t$i")
    val docs = (0L until 80L).map { id =>
      (id, Seq.fill(6 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" "), if (id % 3 == 0) "keep" else "drop")
    }.toDF("doc_id", "text", "src")
    val qs = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val allowed = docs.filter(col("src") === "keep" || col("doc_id") < 2)
      .select(col("doc_id"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_bm25_filt").toString
    Search.writeBm25Index(docs, "doc_id", "text", path, nBuckets = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSeq
    val served = rows(Search.bm25IndexTopKFiltered(s, path, qs, allowed,
      "doc_id", "query_id", "qtext", 5))
    val reference = rows(Search.bm25TopK(
      docs.join(allowed, Seq("doc_id"), "left_semi"), qs,
      "doc_id", "text", "query_id", "qtext", 5))
    assert(served == reference,
      "filtered serve must equal BM25 over the pre-filtered corpus")
    // and the idf hazard is REAL on this fixture: scoring the full
    // corpus then filtering yields a different panel (different scores
    // at minimum — stats saw 80 docs instead of the filtered subset)
    val wrongWay = rows(Search.bm25IndexTopK(s, path, qs,
        "doc_id", "query_id", "qtext", 80)
      .join(allowed, Seq("doc_id"), "left_semi")
      .filter(col("rank") <= 5))
    assert(wrongWay.map(t => (t._1, t._2, t._3)) !=
      served.map(t => (t._1, t._2, t._3)),
      "score-then-filter must be observably different (wrong idf)")
  }

  test("bm25 index: a torn append never serves; re-delivered ids are idempotent") {
    val s = spark
    import s.implicits._
    import graft.sources.PartitionedStore
    val rnd = new scala.util.Random(31)
    val vocab = Array.tabulate(40)(i => s"t$i")
    def mkDocs(ids: Range) = ids.map { id =>
      (id.toLong, Seq.fill(5 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val standing = mkDocs(0 until 60)
    val qs = standing.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_torn").toString
    Search.writeBm25Index(standing, "doc_id", "text", path, nBuckets = 32)
    def rows() = Search.bm25IndexTopK(s, path, qs, "doc_id", "query_id", "qtext", 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val before = rows()
    // simulate a crash MID-APPEND: dl and stats component commits landed,
    // postings and the composite publish never did — the served index
    // must be bit-identical to before (stale idf/avgdl can never leak)
    val served = PartitionedStore.readComposite(path)
    PartitionedStore.commitVersion(
      s.range(7).select(($"id" + 1000L).as("doc_id"), lit(99L).as("dl")),
      s"$path/dl", append = true, parent = Some(served("dl")))
    PartitionedStore.commitVersion(
      s.range(1).select(lit(9999L).as("n_docs"), lit(9999L).as("total_tokens"),
        lit(32).as("n_buckets")), s"$path/stats")
    assert(rows() == before,
      "unpublished component commits must be invisible to readers")
    // idempotent re-delivery: the same delta appended twice changes
    // nothing the second time (anti-join drops the duplicate ids)
    val delta = mkDocs(60 until 80)
    Search.appendBm25Index(s, delta, "doc_id", "text", path)
    val once = rows()
    Search.appendBm25Index(s, delta, "doc_id", "text", path)
    assert(rows() == once, "re-delivered doc ids must not double-count")
    // and the doubly-appended index still matches a clean rebuild
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_bm25_rb").toString
    Search.writeBm25Index(standing.union(delta), "doc_id", "text", rebuilt, nBuckets = 32)
    val viaRebuild = Search.bm25IndexTopK(s, rebuilt, qs, "doc_id", "query_id", "qtext", 10)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(rows() == viaRebuild)
  }

  test("bm25 plan: query vocabulary broadcasts; final ranking is CollectTopK, no Window") {
    val p = bm25.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("ObjectHashAggregate"),
      s"expected bounded-buffer CollectTopK aggregation:\n$p")
    assert(!p.contains("Window "), s"no window ranking expected:\n$p")
  }

  test("deleteFromBm25Index: tombstone delete serves rebuild-without answers; " +
    "appends refuse resurrection; compaction reclaims") {
    val s = spark
    import s.implicits._
    import graft.sources.PartitionedStore
    val rnd = new scala.util.Random(31)
    val vocab = Array.tabulate(60)(i => s"d$i")
    val docs = (0L until 100L).map { id =>
      (id, Seq.fill(5 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val delIds = Seq(7L, 23L, 55L)
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_del").toString
    Search.writeBm25Index(docs, "doc_id", "text", path, nBuckets = 32)
    Search.deleteFromBm25Index(s, delIds.toDF("doc_id"), path)
    // bit-identical to BM25 over the corpus WITHOUT the deleted docs —
    // n_docs, avgdl and per-term df must all reflect the delete
    val direct = Search.bm25TopK(docs.filter(!col("doc_id").isin(delIds: _*)),
      qs, "doc_id", "text", "query_id", "qtext", 10)
    val served = rows(Search.bm25IndexTopK(s, path, qs, "doc_id", "query_id", "qtext", 10))
    assert(served == rows(direct))
    assert(!served.exists(r => delIds.contains(r._2)),
      "tombstoned docs must be unreachable")
    // re-deleting + deleting a never-indexed id publishes NO generation
    val nv = PartitionedStore.compositeVersions(path).size
    Search.deleteFromBm25Index(s, Seq(7L, 9999L).toDF("doc_id"), path)
    assert(PartitionedStore.compositeVersions(path).size == nv,
      "already-deleted and never-indexed ids must no-op")
    // a delta carrying a tombstoned id is a resurrection attempt: raise
    val ex = intercept[IllegalStateException] {
      Search.appendBm25Index(s, Seq((7L, "x y z")).toDF("doc_id", "text"), "doc_id", "text", path)
    }
    assert(ex.getMessage.contains("resurrect"), ex.getMessage)
    // an append of a fresh id while tombstones stand keeps them: the
    // deleted docs stay unreachable and answers equal BM25 over the
    // corpus without them plus the fresh doc (a copy of query doc 0's
    // text, so it ranks)
    val fresh = docs.filter(col("doc_id") === 0L).select(lit(100L).as("doc_id"), col("text"))
    Search.appendBm25Index(s, fresh, "doc_id", "text", path)
    assert(PartitionedStore.readComposite(path).contains("tombstones"),
      "an append must keep the tombstone set")
    val directFresh = Search.bm25TopK(
      docs.filter(!col("doc_id").isin(delIds: _*)).union(fresh),
      qs, "doc_id", "text", "query_id", "qtext", 10)
    val servedFresh = rows(Search.bm25IndexTopK(s, path, qs, "doc_id", "query_id", "qtext", 10))
    assert(servedFresh == rows(directFresh))
    assert(!servedFresh.exists(r => delIds.contains(r._2)),
      "tombstoned docs must stay unreachable after an append")
    assert(servedFresh.exists(_._2 == 100L), "the appended doc must be reachable")
    // compaction physically reclaims: fewer postings rows, tombstone
    // component gone, answers unchanged
    val before = PartitionedStore.readComposite(path)
    assert(before.contains("tombstones"))
    val rowsBefore = PartitionedStore.readVersion(
      s, s"$path/postings", Some(before("postings"))).count()
    Search.compactBm25Index(s, path)
    val after = PartitionedStore.readComposite(path)
    assert(!after.contains("tombstones"), "compaction must clear the tombstone set")
    assert(PartitionedStore.readVersion(
      s, s"$path/postings", Some(after("postings"))).count() < rowsBefore,
      "compaction must physically drop tombstoned postings")
    assert(rows(Search.bm25IndexTopK(s, path, qs, "doc_id", "query_id", "qtext", 10))
      == rows(directFresh), "reclaim must not change any answer")
    // after reclaim the id is free again: the same id appends cleanly
    Search.appendBm25Index(s, Seq((7L, "x y z")).toDF("doc_id", "text"), "doc_id", "text", path)
    val comp2 = PartitionedStore.readComposite(path)
    val dlIds = PartitionedStore.readVersion(s, s"$path/dl", Some(comp2("dl")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dlIds.contains(7L), "post-compaction append of a reclaimed id must land")
  }

  test("phrase search: shingle-hash containment matches exactly the " +
    "consecutive-run docs — scattered or reordered tokens never match") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "alpha stream table hash beta"),   // consecutive → match
      (2L, "stream beta table gamma hash"),   // scattered → no
      (3L, "hash table stream alpha beta"),   // reordered → no
      (4L, "stream table hash"),              // exact doc → match
      (5L, "x stream table hashx y")          // token-boundary trap → no
    ).toDF("doc_id", "text")
    val hit = docs
      .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("sh"))
      .filter(arrays_overlap(col("sh"),
        Dedup.shingleHashes(lit("stream table hash"), 3)))
      .collect().map(_.getLong(0)).toSet
    assert(hit == Set(1L, 4L), s"got $hit")
  }

  test("phrase index: anchor join reproduces substring semantics — " +
    "consecutive runs match, scattered/reordered/boundary traps don't, " +
    "repeated-word phrases and 1-term phrases work, double spaces break " +
    "adjacency on BOTH formulations") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha stream table hash beta", "a"),  // consecutive → match
      (2L, "stream beta table gamma hash", "b"),  // scattered → no
      (3L, "hash table stream alpha beta", "c"),  // reordered → no
      (4L, "stream table hash", "d"),             // exact doc → match
      (5L, "x stream table hashx y", "e"),        // boundary trap → no
      (6L, "stream  table hash", "f"),            // double space → no
      (7L, "go stop go end", "g"),                // repeated-word target
      (8L, "go go stop go", "h")                  // prefix repeat
    ).toDF("doc_id", "text", "source")
    val p = graft.Scratch.dir("graft_phrase_spec")
    Search.writePhraseIndex(docs, "doc_id", "text", Seq("source"), p,
      nBuckets = 8)
    def ids(phrase: String): Set[Long] =
      Search.phraseIndexMatch(s, p, phrase, "doc_id")
        .collect().map(_.getLong(0)).toSet
    // the independent substring formulation, replayed in-memory
    def oracle(phrase: String): Set[Long] = docs.collect()
      .filter(r => s" ${r.getString(1).trim} ".contains(s" $phrase "))
      .map(_.getLong(0)).toSet
    for (ph <- Seq("stream table hash", "go stop go", "go go", "stream",
        "table hash", "absent words here"))
      assert(ids(ph) == oracle(ph), s"phrase '$ph'")
    assert(ids("stream table hash") == Set(1L, 4L))
    assert(ids("go stop go") == Set(7L, 8L)) // 8 matches at positions 1-3
    assert(ids("go go") == Set(8L))
    // meta columns ride from the store, not from raw text
    val row = Search.phraseIndexMatch(s, p, "stream table hash", "doc_id")
      .orderBy("doc_id").collect()
    assert(row.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (4L, "d")))
  }

  test("proximity NEAR/k through the positional index: window edges " +
    "inclusive, either order, multi-occurrence rescue, tombstones honored, " +
    "and the verb is strictly sharper than boolean AND") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta", "a"),   // alpha..gamma dist 2 → k=2 hit
      (2L, "alpha x y gamma", "b"),          // dist 3 → k=2 miss, k=3 hit
      (3L, "gamma z alpha", "c"),            // reverse order, dist 2 → hit
      (4L, "alpha only here", "d"),          // one term → never
      (5L, "alpha q q q q gamma q alpha", "e"), // far pair misses, the
                                          // trailing alpha (dist 2) rescues
      (6L, "gamma alpha", "f")               // adjacent, dist 1 → hit
    ).toDF("doc_id", "text", "source")
    val p = graft.Scratch.dir("graft_prox_spec")
    Search.writePhraseIndex(docs, "doc_id", "text", Seq("source"), p,
      nBuckets = 8)
    def ids(k: Int): Set[Long] =
      Search.proximityMatch(s, p, "alpha", "gamma", k, "doc_id")
        .collect().map(_.getLong(0)).toSet
    // the independent formulation, replayed in-memory over raw text
    def oracle(k: Int): Set[Long] = docs.collect().filter { r =>
      val toks = r.getString(1).trim.split(" ")
      val pa = toks.indices.filter(toks(_) == "alpha")
      val pb = toks.indices.filter(toks(_) == "gamma")
      pa.exists(x => pb.exists(y => math.abs(x - y) <= k))
    }.map(_.getLong(0)).toSet
    for (k <- 1 to 4) assert(ids(k) == oracle(k), s"k=$k")
    assert(ids(2) == Set(1L, 3L, 5L, 6L)) // doc 5 rescued by 2nd alpha
    assert(ids(3) == Set(1L, 2L, 3L, 5L, 6L))
    // sharper than AND: docs containing both = {1,2,3,5,6}, k=1 keeps 6
    // and 5 is out only at k=1 (its closest pair sits at distance 2)
    assert(ids(1) == Set(6L))
    // tombstone: post-delete serve ≡ rebuild-without (doc 3 leaves)
    Search.deleteFromPhraseIndex(s, Seq(3L).toDF("doc_id"), p)
    assert(ids(2) == Set(1L, 5L, 6L))
    // distinct terms required — self-proximity carries no semantics here
    intercept[IllegalArgumentException] {
      Search.proximityMatch(s, p, "alpha", "alpha", 2, "doc_id")
    }
  }

  test("symDel fuzzy lookup: every edit-distance-1 class found " +
    "(deletion, insertion, substitution), identity included, " +
    "transposition candidates are surfaced-then-killed by the exact " +
    "check, df counts documents") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "stream strem streams steam scream"), // all 4 neighbor classes
      (2L, "stream stream setram"),              // df(doc)=1 despite tf=2
      (3L, "wholly unrelated words")
    ).toDF("doc_id", "text")
    val p = graft.Scratch.dir("graft_symdel_spec")
    Search.writeSymDelIndex(docs, "doc_id", "text", p, nBuckets = 8)
    val got = Search.symDelLookup(s, p, "stream")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2)))
      .toMap
    // identity (dist 0, df counts DOCS: 2 not 3), deletion "strem",
    // insertion "streams", substitution "scream"; "steam" is deletion too
    assert(got == Map(
      "stream" -> (2L, 0), "strem" -> (1L, 1), "streams" -> (1L, 1),
      "steam" -> (1L, 1), "scream" -> (1L, 1)), got.toString)
    // "setram" (transposition, lev 2) shares deletion variants with
    // "stream" — the candidate pass surfaces it, the exact check kills it
    assert(!got.contains("setram"))
    // a term sharing nothing is never a candidate
    assert(!got.contains("wholly"))
  }

  test("phrase index lifecycle: append equals rebuild bitwise; tombstone " +
    "delete serves rebuild-without; appends refuse resurrection; " +
    "compaction reclaims and re-opens the id") {
    val s = spark
    import s.implicits._
    def docs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "source")
    val all = docs(
      (1L, "alpha stream table hash beta", "a"),
      (2L, "stream table hash gamma", "b"),
      (3L, "unrelated words entirely", "c"),
      (4L, "delta stream table hash", "d"))
    def serve(p: String): Seq[(Long, String)] =
      Search.phraseIndexMatch(s, p, "stream table hash", "doc_id")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    // --- append == rebuild
    val inc = graft.Scratch.dir("graft_phrase_inc")
    Search.writePhraseIndex(all.filter($"doc_id" <= 2), "doc_id", "text",
      Seq("source"), inc, nBuckets = 8)
    Search.appendPhraseIndex(s, all.filter($"doc_id" > 2), "doc_id",
      "text", Seq("source"), inc)
    val full = graft.Scratch.dir("graft_phrase_full")
    Search.writePhraseIndex(all, "doc_id", "text", Seq("source"), full,
      nBuckets = 8)
    assert(serve(inc) == serve(full))
    assert(serve(inc) == Seq((1L, "a"), (2L, "b"), (4L, "d")))
    // re-delivered delta is a no-op (idempotent delivery) and publishes
    // no generation
    def gens = graft.sources.PartitionedStore.compositeVersions(inc).size
    val nAppended = gens
    Search.appendPhraseIndex(s, all.filter($"doc_id" > 2), "doc_id",
      "text", Seq("source"), inc)
    assert(serve(inc) == serve(full))
    assert(gens == nAppended, "a fully re-delivered append must not publish")
    // --- tombstone delete == rebuild-without
    Search.deleteFromPhraseIndex(s, Seq(2L).toDF("doc_id"), inc)
    val without = graft.Scratch.dir("graft_phrase_wo")
    Search.writePhraseIndex(all.filter($"doc_id" =!= 2), "doc_id", "text",
      Seq("source"), without, nBuckets = 8)
    assert(serve(inc) == serve(without))
    assert(serve(inc) == Seq((1L, "a"), (4L, "d")))
    // already-deleted plus never-indexed ids: no-op, no generation
    val nDeleted = gens
    Search.deleteFromPhraseIndex(s, Seq(2L, 9999L).toDF("doc_id"), inc)
    assert(gens == nDeleted, "already-deleted and never-indexed ids must no-op")
    // resurrection refused while the tombstone stands
    val boom = intercept[IllegalStateException] {
      Search.appendPhraseIndex(s,
        docs((2L, "stream table hash again", "b2")), "doc_id", "text",
        Seq("source"), inc)
    }
    assert(boom.getMessage.contains("resurrect"))
    // --- compaction physically reclaims; answers unchanged; id re-opens
    Search.compactPhraseIndex(s, inc)
    assert(serve(inc) == Seq((1L, "a"), (4L, "d")))
    Search.appendPhraseIndex(s,
      docs((2L, "stream table hash again", "b2")), "doc_id", "text",
      Seq("source"), inc)
    assert(serve(inc) == Seq((1L, "a"), (2L, "b2"), (4L, "d")))
  }

  test("trigram index lifecycle: append equals rebuild; tombstone delete " +
    "serves rebuild-without; appends refuse resurrection; compaction " +
    "reclaims and re-opens the id") {
    val s = spark
    import s.implicits._
    def docs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "source")
    val all = docs(
      (1L, "data stream big", "a"),
      (2L, "delta strong wind", "b"),
      (3L, "unrelated words entirely", "c"),
      (4L, "ta strta str", "d"))
    def serve(p: String): Seq[(Long, String)] =
      Search.substringIndexLookup(s, p, "ta str", "doc_id", "text")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    // --- append == rebuild
    val inc = graft.Scratch.dir("graft_trgm_inc")
    Search.writeTrigramIndex(all.filter($"doc_id" <= 2), "doc_id", "text",
      Seq("source"), inc, nBuckets = 8)
    Search.appendTrigramIndex(s, all.filter($"doc_id" > 2), "doc_id",
      "text", Seq("source"), inc)
    val full = graft.Scratch.dir("graft_trgm_full")
    Search.writeTrigramIndex(all, "doc_id", "text", Seq("source"), full,
      nBuckets = 8)
    assert(serve(inc) == serve(full))
    assert(serve(inc) == Seq((1L, "a"), (2L, "b"), (4L, "d")))
    // re-delivered delta is a no-op (idempotent delivery) and publishes
    // no generation
    def gens = graft.sources.PartitionedStore.compositeVersions(inc).size
    val nAppended = gens
    Search.appendTrigramIndex(s, all.filter($"doc_id" > 2), "doc_id",
      "text", Seq("source"), inc)
    assert(serve(inc) == serve(full))
    assert(gens == nAppended, "a fully re-delivered append must not publish")
    // --- tombstone delete == rebuild-without (layout-generic verb)
    Search.deleteFromPhraseIndex(s, Seq(2L).toDF("doc_id"), inc)
    val without = graft.Scratch.dir("graft_trgm_wo")
    Search.writeTrigramIndex(all.filter($"doc_id" =!= 2), "doc_id", "text",
      Seq("source"), without, nBuckets = 8)
    assert(serve(inc) == serve(without))
    assert(serve(inc) == Seq((1L, "a"), (4L, "d")))
    // already-deleted plus never-indexed ids: no-op, no generation
    val nDeleted = gens
    Search.deleteFromPhraseIndex(s, Seq(2L, 9999L).toDF("doc_id"), inc)
    assert(gens == nDeleted, "already-deleted and never-indexed ids must no-op")
    // resurrection refused while the tombstone stands
    val boom = intercept[IllegalStateException] {
      Search.appendTrigramIndex(s,
        docs((2L, "delta stream again", "b2")), "doc_id", "text",
        Seq("source"), inc)
    }
    assert(boom.getMessage.contains("resurrect"))
    // --- compaction physically reclaims; answers unchanged; id re-opens
    Search.compactTrigramIndex(s, inc)
    assert(serve(inc) == Seq((1L, "a"), (4L, "d")))
    Search.appendTrigramIndex(s,
      docs((2L, "delta stream again", "b2")), "doc_id", "text",
      Seq("source"), inc)
    assert(serve(inc) == Seq((1L, "a"), (2L, "b2"), (4L, "d")))
  }

  test("trigram index intra-batch duplicate ids (r11 ADVICE): verbatim " +
    "re-delivered rows collapse — doubled (id,h) postings would make the " +
    "exact-count candidate test silently UNFINDABLE — and conflicting " +
    "payloads for one id raise in-plan") {
    val s = spark
    import s.implicits._
    def docs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "source")
    def serve(p: String): Set[Long] =
      Search.substringIndexLookup(s, p, "ta str", "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // write path: doc 1 delivered twice verbatim IN ONE batch — before
    // the guard its postings wrote twice and n_hit = 2× the needle gram
    // count failed the exact-count match (a false negative)
    val p = graft.Scratch.dir("graft_trgm_dupw")
    Search.writeTrigramIndex(docs(
      (1L, "data stream big", "a"),
      (1L, "data stream big", "a"),
      (2L, "other words entirely", "b")),
      "doc_id", "text", Seq("source"), p, nBuckets = 8)
    assert(serve(p) == Set(1L))
    // append path: same intra-batch collapse (the cross-batch anti-join
    // cannot see duplicates arriving together)
    Search.appendTrigramIndex(s, docs(
      (3L, "meta strip zone", "c"),
      (3L, "meta strip zone", "c")),
      "doc_id", "text", Seq("source"), p)
    assert(serve(p) == Set(1L, 3L))
    // conflicting payloads for one id: ambiguous input fails loudly
    val ex = intercept[Exception] {
      Search.writeTrigramIndex(docs(
        (7L, "abc def ghi", "a"),
        (7L, "zzz yyy xxx", "a")),
        "doc_id", "text", Seq("source"),
        graft.Scratch.dir("graft_trgm_dupc"), nBuckets = 8)
    }
    assert(ex.getMessage.contains("conflicting"), ex.getMessage)
  }

  test("trigram substring index: candidate-then-confirm reproduces " +
    "contains() exactly — boundary-crossing needles match, all-trigrams-" +
    "present-but-not-adjacent does not, tombstones honored, short needle " +
    "raises") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "data stream big", "a"),   // "ta str" crosses the token gap
      (2L, "stream data big", "b"),   // same tokens, no "ta str"
      (3L, "delta strong", "c"),      // also holds "ta str" — lta/str
      (4L, "ta strta str", "d"),      // needle twice, no space tokens
      // holds every trigram of "ta str" ("ta ", "a s", " st", "str")
      // scattered but never adjacent: candidate that must FAIL confirm
      (5L, "bta sa sq strq", "e"),
      (6L, "nothing here", "f"),
      // long text: needles with > maxProbeTrigrams trigrams exercise
      // the capped-probe path (subset candidates + exact confirm)
      (7L, "the quick brown fox jumps over the lazy dog tonight", "g")
    ).toDF("doc_id", "text", "source")
    val p = graft.Scratch.dir("graft_trgm_spec")
    Search.writeTrigramIndex(docs, "doc_id", "text", Seq("source"), p,
      nBuckets = 8)
    def ids(needle: String): Set[Long] =
      Search.substringIndexLookup(s, p, needle, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
    def oracle(needle: String): Set[Long] = docs.collect()
      .filter(_.getString(1).contains(needle)).map(_.getLong(0)).toSet
    for (n <- Seq("ta str", "data", "str", "a stream b", "absent", "xyz",
        // 24+ trigrams: the capped probe (16 smallest hashes) must still
        // match exactly, and a same-prefix wrong-tail long needle must
        // die at the confirm even if every probed trigram is present
        "quick brown fox jumps over the lazy",
        "quick brown fox jumps over the hazy"))
      assert(ids(n) == oracle(n), s"needle '$n'")
    assert(ids("ta str") == Set(1L, 3L, 4L))
    // doc 5 holds all 4 trigrams of "ta str" — the confirm must drop it
    assert(!ids("ta str").contains(5L))
    intercept[IllegalArgumentException](ids("ab"))
    // meta columns ride from the store, not from raw text
    val rows = Search.substringIndexLookup(s, p, "ta str", "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (3L, "c"), (4L, "d")))
    // the layout-generic takedown verb: delete doc 3, serve again
    Search.deleteFromPhraseIndex(s, Seq(3L).toDF("doc_id"), p)
    assert(ids("ta str") == Set(1L, 4L))
  }
}
