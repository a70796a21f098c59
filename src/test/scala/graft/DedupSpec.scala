package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Dedup operator semantics on planted fixtures: exact-hash canonical
  * mapping, MinHash/LSH recall of a planted near-dup, SimHash stability,
  * and blocked n-gram pair discovery. */
class DedupSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  private def docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog today", 49),
      (1L, "the quick brown fox jumps over the lazy dog today", 49),   // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy cat today", 49),   // near dup of 0
      (3L, "completely different tokens about spark query engines here", 58),
      (4L, "tiny doc", 8)                                              // < 3 tokens
    ).toDF("doc_id", "text", "n_chars")
  }

  test("lshRecallEval: tp equals the verified LSH pair count by " +
    "construction (cand ∩ truth is exactly what jaccardVerify grades), " +
    "counts obey the confusion-matrix identities, planted pairs counted") {
    val eval = Dedup.lshRecallEval(docs, "doc_id", "text", threshold = 0.5)
      .collect()(0)
    val nTruth = eval.getLong(0); val tp = eval.getLong(1)
    val fn = eval.getLong(2); val nCand = eval.getLong(3)
    val verified = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5).count()
    assert(tp == verified, s"tp=$tp verified=$verified")
    assert(fn == nTruth - tp && tp <= nCand)
    // the exact-dup pair (0,1) has J=1: in truth AND in cand (identical
    // signatures share every band key), so both corners are non-trivial
    assert(nTruth >= 1L && tp >= 1L)
    assert(eval.getLong(4) == tp * 1000000L / math.max(nTruth, 1L))
    assert(eval.getLong(5) == tp * 1000000L / math.max(nCand, 1L))
  }

  test("lshRecallEvalSampled ≈ lshRecallEval at sf0.01: the sampled-truth " +
    "production arm (truth over a 2-of-5 hash-sample, candidates the full " +
    "corpus pass) estimates full-corpus candidate recall within one-pair " +
    "granularity of the sampled estimate") {
    val d = "/root/testdata/sf0.01"
    val corpus = graft.Tables.documents(spark, d)
    val full = Dedup.lshRecallEval(corpus, "doc_id", "text",
      threshold = 0.5).collect()(0)
    val samp = Dedup.lshRecallEvalSampled(corpus, "doc_id", "text",
      threshold = 0.5).collect()(0)
    // non-degenerate: the sample must keep real truth pairs, else the
    // estimate is vacuous (observed 5 of 25 full truth pairs at sf0.01)
    assert(samp.getLong(0) >= 1L, s"sampled n_truth=${samp.getLong(0)}")
    assert(samp.getLong(2) == samp.getLong(0) - samp.getLong(1))
    // sampled candidate pairs are a strict subset of the full pass's
    assert(samp.getLong(3) <= full.getLong(3))
    // STATED tolerance: the sampled estimate is quantized at
    // 10^6 / n_truth_sampled ppm — one truth pair flipping in or out of
    // the candidate set moves it by exactly that much, so agreement
    // within one pair is the strongest claim the sample size supports
    // (observed: full 960000 ppm vs sampled 1000000 ppm, Δ = 40000)
    val tol = 1000000L / samp.getLong(0)
    val delta = math.abs(samp.getLong(4) - full.getLong(4))
    assert(delta <= tol,
      s"sampled recall ${samp.getLong(4)} vs full ${full.getLong(4)} " +
        s"ppm: |Δ|=$delta exceeds one-pair granularity $tol")
  }

  test("exactDedup: canonical rep = min id, dup flagged") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 5)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(0L).getLong(2) == 0L && !byId(0L).getBoolean(3))
    assert(byId(1L).getLong(2) == 0L && byId(1L).getBoolean(3))
    assert(byId(1L).getLong(4) == 2L) // n_copies
    assert(!byId(2L).getBoolean(3))   // near-dup is NOT an exact dup
  }

  test("shingleHashes: guarded for short docs, distinct 3-gram hashes") {
    val out = docs.select(col("doc_id"), Dedup.shingleHashes(col("text")).as("sh"))
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[Long](1).length == 8) // 10 tokens → 8 3-grams, all distinct
    assert(out(0).getSeq[Long](1) == out(1).getSeq[Long](1)) // identical text
    assert(out(4).getSeq[Long](1).isEmpty)     // 2 tokens → empty, no ANSI error
  }

  test("minhashPairs: planted near-dup found, unrelated doc not paired") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 0-1 identical (jaccard 1.0); 0-2 and 1-2 share 6 of 10 distinct shingles
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    assert(pairs.forall(p => p._2 != 3L && p._1 != 3L))
  }

  test("containmentPairs: embedded quote scores full containment where Jaccard dilutes") {
    val s = spark
    import s.implicits._
    // doc 11 is doc 10's text embedded whole in a much longer document:
    // containment(10, 11) = 1.0 but Jaccard ≈ |A|/|B| is diluted
    val quote = "the quick brown fox jumps over the lazy dog today"
    val long = quote + " " + (1 to 30).map(i => s"filler$i token$i").mkString(" ")
    val df = Seq(
      (10L, quote, quote.length),
      (11L, long, long.length),
      (12L, "completely unrelated content about spark engines here now", 58)
    ).toDF("doc_id", "text", "n_chars")
    val out = Dedup.containmentPairs(df, "doc_id", "text",
        thresholdPpm = 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.exists { case (a, b, inter, na, _, cont) =>
      a == 10L && b == 11L && cont == 1000000L && inter == na },
      out.mkString(", "))
    assert(out.forall(p => p._1 != 12L && p._2 != 12L))
    // the same pair fails a Jaccard 0.5 gate — the asymmetry the op exists for
    val jac = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!jac.contains((10L, 11L)))
  }

  test("minhashPairs: hot-bucket cap bounds a boilerplate corpus; no-skew results unchanged") {
    val s = spark
    import s.implicits._
    // 200 byte-identical boilerplate docs + the planted near-dup trio:
    // uncapped, the boilerplate bucket alone yields C(200,2) = 19 900
    // candidate pairs per band — the quadratic blow-up the cap defuses
    val boiler = (100L until 300L).map(i =>
      (i, "terms of service apply to all users of this site always", 56))
    val all = docs.union(boiler.toDF("doc_id", "text", "n_chars"))
    val capped = Dedup.minhashPairs(all, "doc_id", "text", threshold = 0.5,
        bucketCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the boilerplate cluster survives as its min-id core: exactly the 8
    // lowest ids pair (28 pairs), nothing above the cap contributes
    val boilerPairs = capped.filter(_._1 >= 100L)
    assert(boilerPairs == (for {
      a <- 100L until 108L; b <- (a + 1) until 108L } yield (a, b)).toSet,
      s"expected the capped min-id core, got ${boilerPairs.size} pairs")
    // the planted dup elsewhere in the corpus is untouched by the hot
    // bucket's cap (its bucket is small)
    assert(capped.contains((0L, 1L)))
    // no skew ⇒ the cap is invisible: default-cap results == huge-cap results
    val def_ = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val huge = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5,
        bucketCap = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(def_ == huge)
  }

  test("minhashPairs: failOnCap raises on an overflowing bucket, silent under the cap") {
    val s = spark
    import s.implicits._
    val boiler = (100L until 300L).map(i =>
      (i, "terms of service apply to all users of this site always", 56))
    val all = docs.union(boiler.toDF("doc_id", "text", "n_chars"))
    // oracle-parity guard: the graded queries' DuckDB twins model no cap,
    // so an overflowing bucket must FAIL the query, never silently drop
    val e = intercept[Exception] {
      Dedup.minhashPairs(all, "doc_id", "text", threshold = 0.5,
        bucketCap = 8, failOnCap = true).collect()
    }
    assert(e.getMessage.contains("bucketCap") ||
      Option(e.getCause).exists(_.getMessage.contains("bucketCap")))
    // under the cap the guard is invisible: same pairs as the unguarded call
    val guarded = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5,
        failOnCap = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == plain)
  }

  test("containmentPairs: failOnCap raises when a shingle's df exceeds the cap, silent under it") {
    val s = spark
    import s.implicits._
    // 20 docs all sharing one boilerplate sentence → its shingles' df = 20;
    // dfCap = 8 actually filters shingles, which silently breaks the
    // prefix filter's losslessness — the guard must turn that loud
    val boiler = (100L until 120L).map(i =>
      (i, s"terms of service apply to all users here unique$i tail$i extra$i",
        60))
    val df = boiler.toDF("doc_id", "text", "n_chars")
    val e = intercept[Exception] {
      Dedup.containmentPairs(df, "doc_id", "text", thresholdPpm = 600000L,
        dfCap = 8, failOnCap = true).collect()
    }
    assert(e.getMessage.contains("dfCap") ||
      Option(e.getCause).exists(_.getMessage.contains("dfCap")), e.getMessage)
    // under the cap the guard is invisible: same pairs as the unguarded call
    val guarded = Dedup.containmentPairs(docs, "doc_id", "text",
        thresholdPpm = 600000L, failOnCap = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = Dedup.containmentPairs(docs, "doc_id", "text",
        thresholdPpm = 600000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == plain)
  }

  test("simhash: identical text → identical fingerprint; disjoint text differs") {
    val fp = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(0L) != fp(3L))
    assert(fp.values.forall(v => v >= 0 && v < (1L << 30)))
  }

  test("blockedNgramPairs: same-bucket near-dups found with exact jaccard") {
    val pairs = Dedup.blockedNgramPairs(docs, "doc_id", "text", "n_chars",
        threshold = 0.3, width = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    // 0 vs 2: 8 shingles each, only the two containing dog/cat differ → 6/10
    val near = pairs.find(p => p._1 == 0L && p._2 == 2L)
    assert(near.isDefined && math.abs(near.get._3 - 0.6) < 1e-12)
  }

  test("blockedNgramPairs: DF cap drops stop-shingle-only candidates, keeps jaccard exact") {
    // The 6 shingles shared by docs 0/1/2 have DF 3; the two dog-shingles
    // (docs 0,1) have DF 2. With dfCap = 2 only the dog-shingles post, so:
    val pairs = Dedup.blockedNgramPairs(docs, "doc_id", "text", "n_chars",
        threshold = 0.3, width = 50, dfCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 0-1 still pairs via the rare dog-shingles, and jaccard is computed
    // over the FULL sets (1.0), not just the surviving postings
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 1.0))
    // 0-2 shares only DF-3 stop-shingles — capped out, no candidate (the
    // documented recall tradeoff)
    assert(!pairs.exists(p => p._1 == 0L && p._2 == 2L))
  }

  test("duplicatedSpans: planted shared run found at the right position, merged") {
    val s = spark
    import s.implicits._
    val shared = "one two three four five six seven" // 7 tokens → 3 shared 5-grams
    val spanDocs = Seq(
      (0L, s"aa bb $shared cc dd"),       // shared run starts at token 2
      (1L, s"$shared xx yy zz"),          // shared run starts at token 0
      (2L, "totally unrelated words that never repeat anywhere at all")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(spanDocs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // one maximal span per doc: 3 consecutive 5-gram positions = 7 tokens
    assert(out.toSeq == Seq((0L, 2, 7, 3L), (1L, 0, 7, 3L)))
  }

  test("duplicatedSpans: within-doc repetition alone is not a span (cross-doc only)") {
    val s = spark
    import s.implicits._
    val spanDocs = Seq(
      (0L, "p q r s t p q r s t"), // 5-gram 'p q r s t' occurs twice, same doc
      (1L, "entirely different vocabulary in this document here now")
    ).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(spanDocs, "doc_id", "text", n = 5).isEmpty)
  }

  test("removeDuplicateSpans: first occurrence survives, later copies stripped") {
    val s = spark
    import s.implicits._
    val shared = "one two three four five" // exactly one 5-gram
    val spanDocs = Seq(
      (0L, s"$shared tail words here"),   // owns the 5-gram (min instance)
      (1L, s"lead in $shared and more"),  // loses its copy
      (2L, "nothing shared with anybody else at all")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(spanDocs, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((0L, 8L, 0L, s"$shared tail words here"))) // owner untouched
    assert(out(1) == ((1L, 9L, 5L, "lead in and more")))         // span excised
    assert(out(2)._3 == 0L && out(2)._4 == "nothing shared with anybody else at all")
  }

  test("removeDuplicateSpans: within-doc repetition collapses to one copy") {
    val s = spark
    import s.implicits._
    val spanDocs = Seq(
      (7L, "p q r s t p q r s t"), // the 5-gram repeats inside one doc
      (8L, "entirely different vocabulary in this document here now")
    ).toDF("doc_id", "text")
    val r = Dedup.removeDuplicateSpans(spanDocs, "doc_id", "text", n = 5)
      .filter(col("doc_id") === 7L).collect()(0)
    assert(r.getLong(2) == 5L && r.getString(3) == "p q r s t")
  }

  test("exactDupsAgainstBloom: identical to the plain join — the sketch is invisible") {
    val s = spark
    import s.implicits._
    val oldDocs = Seq((0L, "alpha beta gamma"), (1L, "delta eps zeta"),
      (2L, "alpha beta gamma")).toDF("doc_id", "text")
    val newDocs = Seq((10L, "alpha beta gamma"), // dup of old 0 (min) and 2
      (11L, "brand new content"), (12L, "delta eps zeta")).toDF("doc_id", "text")
    val out = Dedup.exactDupsAgainstBloom(newDocs, oldDocs, "doc_id", "text", 100L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted
    assert(out.toSeq == Seq((10L, 0L), (12L, 1L)))
    // empty corpus → no dups, not a crash
    assert(Dedup.exactDupsAgainstBloom(newDocs, oldDocs.limit(0), "doc_id", "text", 100L).isEmpty)
  }

  test("bloomMembership: conf caps restored after the build (no session leak)") {
    val s = spark
    import s.implicits._
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (items0, bits0) = (s.conf.get(itemsKey), s.conf.get(bitsKey))
    try {
      s.conf.set(itemsKey, "4000000"); s.conf.set(bitsKey, "67108864")
      val oldK = Seq((0L, "a"), (1L, "b")).toDF("doc_id", "key")
      val newK = Seq((10L, "a"), (11L, "z")).toDF("doc_id", "key")
      // 20M expected items needs ~146M optimal bits — over both caps as set;
      // the build raises them for its own job, then MUST put them back
      val out = Dedup.bloomMembership(newK, oldK, "doc_id", "key", 20000000L)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sorted
      assert(out.toSeq == Seq((10L, 0L))) // semantics unchanged
      assert(s.conf.get(itemsKey) == "4000000", "items cap leaked")
      assert(s.conf.get(bitsKey) == "67108864", "bits cap leaked")
    } finally { s.conf.set(itemsKey, items0); s.conf.set(bitsKey, bits0) }
  }

  test("bloom sketch lifecycle: build-once + merge-delta == rebuild, byte-identical; store round-trips") {
    val s = spark
    import s.implicits._
    val corpus = s.range(1000).select(col("id").as("doc_id"),
      concat(lit("k_"), col("id")).as("key"))
    val delta = s.range(1000, 1200).select(col("id").as("doc_id"),
      concat(lit("k_"), col("id")).as("key"))
    val n = 5000L // shared sizing — merge requires identical layout
    val merged = Dedup.bloomMergeSketches(
      Dedup.bloomBuild(corpus, "key", n), Dedup.bloomBuild(delta, "key", n))
    val rebuilt = Dedup.bloomBuild(corpus.union(delta), "key", n)
    // insertion only SETS bits → union of builds is bitwise the build of
    // the union; nightly merge-delta loses nothing vs a full rebuild
    assert(java.util.Arrays.equals(merged, rebuilt))
    // the stored artifact probes identically to the in-run build
    val dir = java.nio.file.Files.createTempDirectory("bloom_sketch").toString
    Dedup.bloomWriteSketch(s, dir, merged)
    val probes = s.range(1150, 1300).select(col("id").as("doc_id"),
      concat(lit("k_"), col("id")).as("key")) // 50 members, 100 absents
    val viaStore = Dedup.bloomMembershipWith(probes, corpus.union(delta),
        "doc_id", "key", Dedup.bloomReadSketch(s, dir))
      .collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(viaStore == (1150L until 1200L).map(i => (i, i)))
    // null (empty-corpus) sketch: identity under merge, admits nothing
    assert(Dedup.bloomMergeSketches(null, merged).sameElements(merged))
    assert(Dedup.bloomMembershipWith(probes, corpus, "doc_id", "key", null).isEmpty)
  }

  test("bloomCandidates: fpp stays <= 5% at the sized load") {
    val s = spark
    import s.implicits._
    val n = 200000
    val members = s.range(n).select(col("id").as("doc_id"),
      concat(lit("member_"), col("id")).as("key"))
    val probes = s.range(50000).select((col("id") + 1000000L).as("doc_id"),
      concat(lit("absent_"), col("id")).as("key"))
    val fp = Dedup.bloomCandidates(probes, members, "key", n.toLong).count()
    // the aggregate targets 3% fpp at its sized load; 5% bounds the noise
    assert(fp <= 2500, s"false-positive rate ${fp / 50000.0} exceeds 5%")
  }

  test("Checkpoints.release frees checkpoint blocks that Dataset.unpersist cannot touch") {
    val s = spark
    import s.implicits._
    // Track THIS checkpoint's RDD id, not global counts: earlier tests'
    // index builds release their checkpoints NON-blocking, so unrelated
    // entries can disappear from getPersistentRDDs between snapshots
    // (seen once as a full-suite flake at 451 tests).
    val beforeIds = s.sparkContext.getPersistentRDDs.keySet
    val df = s.range(1000).toDF("id").localCheckpoint()
    val newIds = s.sparkContext.getPersistentRDDs.keySet -- beforeIds
    assert(newIds.size == 1, s"exactly one new persisted RDD: $newIds")
    df.unpersist() // CacheManager no-op: checkpoint blocks are not cache entries
    assert((s.sparkContext.getPersistentRDDs.keySet & newIds) == newIds,
      "unpersist() must not (and does not) release checkpoint storage")
    graft.operators.Checkpoints.release(df)
    assert((s.sparkContext.getPersistentRDDs.keySet & newIds).isEmpty,
      "release must drop the LogicalRDD's persisted blocks")
  }

  test("localCheckpointPartitioned: declares the hash partitioning a " +
    "plain localCheckpoint loses under AQE, keyed reads plan ZERO " +
    "exchanges, rows round-trip exactly, misuse throws, release works") {
    val s = spark
    val base = s.range(0, 5000)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
    // CONTROL: the plain checkpoint reports UnknownPartitioning — the
    // exact behavior the helper exists to fix (if a Spark upgrade ever
    // starts preserving it, this assert says the helper can retire)
    val plain = base.repartition(2, col("k")).localCheckpoint()
    assert(plain.queryExecution.executedPlan.outputPartitioning.toString
      .contains("UnknownPartitioning"),
      plain.queryExecution.executedPlan.outputPartitioning.toString)
    graft.operators.Checkpoints.release(plain)
    val ck = org.apache.spark.sql.graftRdd.localCheckpointPartitioned(
      base.repartition(2, col("k")), Seq("k"))
    assert(ck.queryExecution.executedPlan.outputPartitioning.toString
      .startsWith("hashpartitioning(k"),
      ck.queryExecution.executedPlan.outputPartitioning.toString)
    // a keyed aggregate over the checkpoint needs no exchange at all
    val agg = ck.groupBy("k").count()
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      agg.queryExecution.executedPlan.toString)
    // rows survive the copy+checkpoint byte-exactly
    assert(ck.count() == 5000)
    assert(ck.filter(col("v") =!= col("k") * 3).isEmpty,
      "payload must round-trip the internal-row copy")
    // misuse guards: the declaring repartition must be the plan ROOT
    // with exactly the declared keys (a dedup/join after it would leave
    // rows physically keyed differently than declared)
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graftRdd.localCheckpointPartitioned(
        base.repartition(2, col("k")).dropDuplicates("k"), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graftRdd.localCheckpointPartitioned(
        base.repartition(2, col("v")), Seq("k"))
    }
    // root is a LogicalRDD: Checkpoints.release accepts it
    graft.operators.Checkpoints.release(ck)
  }

  test("connectedComponents: a 200-hop chain collapses to rep 0 in O(log d) rounds") {
    val s = spark
    import s.implicits._
    // pre-r16 min-label needed one round per hop and threw at its default
    // 25-round cap; the r16 pointer-jumping shortcut doubles propagation
    // distance per round — pin the log-law (≤ 12 rounds for diameter 200,
    // vs 200 without jumping), the volume claim the scaling rows make for
    // giant components
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val verts = s.range(201).select(col("id"))
    val ml = Dedup.connectedComponents(verts, chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ml.forall(_._2 == 0L), "min-label: whole chain must collapse to rep 0")
    assert(Dedup.lastCcRounds <= 12,
      s"pointer jumping must converge diameter-200 in O(log d) rounds, " +
        s"got ${Dedup.lastCcRounds}")
  }

  test("minhashPairsAgainst: new-vs-old pairs only, no within-side pairs") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val oldDocs = Seq((0L, base),
      (1L, "completely different text about spark plans and shuffles here")).toDF("doc_id", "text")
    val newDocs = Seq((10L, base), // exact copy of old 0
      (11L, base), // within-batch dup of 10 — must NOT pair with it
      (12L, "unrelated fresh content with brand new words only")).toDF("doc_id", "text")
    val out = Dedup.minhashPairsAgainst(newDocs, oldDocs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(out.toSeq == Seq((10L, 0L, 1.0), (11L, 0L, 1.0)))
  }

  test("LSH index lifecycle: planted probe hits, append ≡ rebuild bit-identically, re-delivery no-ops") {
    val s = spark
    import s.implicits._
    def tmp() = java.nio.file.Files.createTempDirectory("graft_lsh_spec").toString
    val standing = docs.filter(col("doc_id").isin(0L, 3L))
    val delta1 = docs.filter(col("doc_id") === 2L)     // near dup of 0
    val delta2 = docs.filter(col("doc_id") === 1L)     // exact dup of 0
    // planted probe: the exact dup of doc 0 must hit it with est 1.0
    val pathA = tmp()
    Dedup.writeLshIndex(standing, "doc_id", "text", pathA)
    val hit = Dedup.probeLshIndex(s, pathA, delta2, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hit.contains((1L, 0L, 1.0)), s"exact dup must probe at est 1.0: ${hit.toSeq}")
    assert(!hit.exists(_._2 == 3L), "unrelated standing doc must not pair")
    // append ≡ rebuild: probing after an append matches probing a fresh
    // index over the unioned corpus, bit for bit. The probe doc is an
    // exact COPY of the appended doc under a new id — its bands collide
    // with doc 2 by construction, so it can only be found if the append
    // really landed
    Dedup.appendLshIndex(s, delta1, "doc_id", "text", pathA)
    val probeDoc = delta1.select((col("doc_id") + 100).as("doc_id"),
      col("text"), col("n_chars"))
    val probeAppended = Dedup.probeLshIndex(s, pathA, probeDoc, "doc_id", "text", 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pathB = tmp()
    Dedup.writeLshIndex(standing.unionByName(delta1), "doc_id", "text", pathB)
    val probeRebuilt = Dedup.probeLshIndex(s, pathB, probeDoc, "doc_id", "text", 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probeAppended == probeRebuilt)
    assert(probeAppended.contains((102L, 2L, 1.0)), "appended doc must be probeable")
    // re-delivered delta: anti-joined away, stats untouched, publish skipped
    val statsBefore = graft.sources.PartitionedStore
      .readComposite(pathA)
    Dedup.appendLshIndex(s, delta1, "doc_id", "text", pathA)
    assert(graft.sources.PartitionedStore.readComposite(pathA) == statsBefore,
      "a fully re-delivered delta must not publish a new generation")
    // compaction: append dirs collapse, probes answer identically
    import graft.sources.PartitionedStore
    val filesBefore = PartitionedStore.readVersion(
      s, s"$pathA/bands", Some(statsBefore("bands"))).inputFiles.length
    Dedup.compactLshIndex(s, pathA)
    val servedAfter = PartitionedStore.readComposite(pathA)
    assert(PartitionedStore.readVersion(
        s, s"$pathA/bands", Some(servedAfter("bands"))).inputFiles.length
      < filesBefore, "compaction must shrink the band file count")
    val probeCompacted = Dedup.probeLshIndex(s, pathA, probeDoc, "doc_id", "text", 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probeCompacted == probeAppended,
      "compaction must not change any probe answer")
    // the Bloom re-delivery gate: every generation (write, append,
    // compact) serves a `bloom/` component, and the append-maintained
    // sketch is BYTE-identical to a from-scratch build over the unioned
    // id set (the merge==rebuild contract on which the O(delta) claim
    // rests — a drifted sketch would silently re-admit standing ids)
    assert(servedAfter.contains("bloom"),
      s"composite must carry the id-membership sketch: $servedAfter")
    val bloomRowA = PartitionedStore.readVersion(
      s, s"$pathA/bloom", Some(servedAfter("bloom"))).collect()(0)
    val servedB = PartitionedStore.readComposite(pathB)
    val bloomRowB = PartitionedStore.readVersion(
      s, s"$pathB/bloom", Some(servedB("bloom"))).collect()(0)
    assert(java.util.Arrays.equals(bloomRowA.getAs[Array[Byte]]("sketch"),
        bloomRowB.getAs[Array[Byte]]("sketch")),
      "append-merged sketch must be byte-identical to the rebuild's")
  }

  test("LSH lifecycle recall pin (r13 verdict task #8): after a chained " +
    "append→delete→compact on a real corpus, planted-probe recall is 100% " +
    "of a fresh rebuild's — every surviving doc still found, every " +
    "reclaimed doc gone, answers equal the rebuild's bit for bit") {
    val s = spark
    import s.implicits._
    def tmp() = java.nio.file.Files.createTempDirectory("graft_lsh_cycle").toString
    val corpus = graft.Tables.documents(s, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 3) // shingle-able docs only
    val standing = corpus.filter(col("doc_id") % 10 < 7)
    val delta = corpus.filter(col("doc_id") % 10 === 7)
    val dead = standing.filter(col("doc_id") % 10 === 1)
    val path = tmp()
    Dedup.writeLshIndex(standing, "doc_id", "text", path)
    Dedup.appendLshIndex(s, delta, "doc_id", "text", path)
    Dedup.deleteFromLshIndex(s, dead.select(col("doc_id")), path)
    Dedup.compactLshIndex(s, path)
    val surviving = standing.unionByName(delta)
      .filter(col("doc_id") % 10 =!= 1)
    val rebuilt = tmp()
    Dedup.writeLshIndex(surviving, "doc_id", "text", rebuilt)
    // planted truth: exact copies of every 3rd surviving doc (standing
    // AND appended generations) under fresh ids must each find their
    // source at est 1.0 (an exact copy shares every band key); copies
    // of reclaimed docs must find nothing at all
    val probes = surviving.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val deadProbes = dead
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    def hits(p: String, d: org.apache.spark.sql.DataFrame) =
      Dedup.probeLshIndex(s, p, d, "doc_id", "text", 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cycled = hits(path, probes)
    assert(cycled == hits(rebuilt, probes),
      "lifecycle index must answer exactly like the rebuild")
    val wanted = probes.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val found = cycled.filter(h => h._1 == h._2 + 1000000L && h._3 == 1.0)
      .map(_._1)
    assert(found == wanted,
      s"planted recall must be 100%: missing ${(wanted -- found).take(5)}")
    assert(hits(path, deadProbes).forall(h => h._1 != h._2 + 2000000L),
      "no reclaimed doc may still be findable after the cycle")
    assert(wanted.nonEmpty && dead.count() > 0, "fixture non-degenerate")
  }

  test("normalizedDedup: casing/punctuation/whitespace variants collapse; distinct texts stay apart") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, "hello world example"),
      (1L, "Hello,  world —  EXAMPLE!!"), // re-crawl noise of 0
      (2L, "hello world example."),       // trailing punct only
      (3L, "a different document")
    ).toDF("doc_id", "text")
    val out = Dedup.normalizedDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getBoolean(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(0L) == ((0L, false, 3L, false))) // rep, unchanged by normalization
    assert(out(1L) == ((0L, true, 3L, true)))   // caught ONLY via normalization
    assert(out(2L) == ((0L, true, 3L, true)))
    assert(out(3L) == ((3L, false, 1L, false)))
  }

  test("deleteFromLshIndex: tombstoned docs stop pairing; appends refuse " +
    "resurrection; compaction reclaims and unlearns the Bloom") {
    val s = spark
    import s.implicits._
    import graft.sources.PartitionedStore
    def tmp() = java.nio.file.Files.createTempDirectory("graft_lsh_del").toString
    val standing = docs.filter(col("doc_id").isin(0L, 2L, 3L)) // 0≈2 near dups
    val probe = docs.filter(col("doc_id") === 1L)              // exact dup of 0
    def hits(path: String) =
      Dedup.probeLshIndex(s, path, probe, "doc_id", "text", 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val path = tmp()
    Dedup.writeLshIndex(standing, "doc_id", "text", path)
    assert(hits(path).exists(_._2 == 0L), "fixture: probe must hit doc 0 pre-delete")
    Dedup.deleteFromLshIndex(s, Seq(0L).toDF("doc_id"), path)
    // identical to a probe against an index rebuilt without the doc
    val rebuilt = tmp()
    Dedup.writeLshIndex(standing.filter(col("doc_id") =!= 0L),
      "doc_id", "text", rebuilt)
    assert(hits(path) == hits(rebuilt),
      "post-delete probe must equal rebuild-without, bit for bit")
    assert(!hits(path).exists(_._2 == 0L), "tombstoned doc must stop pairing")
    // re-deleting and deleting a never-indexed id publish no generation
    val nv = PartitionedStore.compositeVersions(path).size
    Dedup.deleteFromLshIndex(s, Seq(0L, 9999L).toDF("doc_id"), path)
    assert(PartitionedStore.compositeVersions(path).size == nv)
    // resurrection attempt raises (the Bloom still remembers the id,
    // but the tombstone guard fires first and loudly)
    val ex = intercept[IllegalStateException] {
      Dedup.appendLshIndex(s, docs.filter(col("doc_id") === 0L),
        "doc_id", "text", path)
    }
    assert(ex.getMessage.contains("resurrect"), ex.getMessage)
    // an append of a fresh id while tombstones stand keeps them: the
    // deleted doc stays unpaired, and probes equal a rebuild without it
    // plus the fresh doc (a near dup of the probe, so it pairs)
    val fresh = Seq((5L, "the quick brown fox jumps over the lazy dog tonight", 51))
      .toDF("doc_id", "text", "n_chars")
    Dedup.appendLshIndex(s, fresh, "doc_id", "text", path)
    assert(PartitionedStore.readComposite(path).contains("tombstones"),
      "an append must keep the tombstone set")
    assert(!hits(path).exists(_._2 == 0L),
      "tombstoned doc must stay unpaired after an append")
    val rebuiltFresh = tmp()
    Dedup.writeLshIndex(standing.filter(col("doc_id") =!= 0L).unionByName(fresh),
      "doc_id", "text", rebuiltFresh)
    assert(hits(path) == hits(rebuiltFresh))
    assert(hits(path).exists(_._2 == 5L), "the appended doc must pair")
    // compaction reclaims rows AND rebuilds the membership sketch from
    // the survivors — the deleted id must probe Bloom-negative after
    val before = PartitionedStore.readComposite(path)
    val sigBefore = PartitionedStore.readVersion(
      s, s"$path/sig", Some(before("sig"))).count()
    Dedup.compactLshIndex(s, path)
    val after = PartitionedStore.readComposite(path)
    assert(!after.contains("tombstones"))
    assert(PartitionedStore.readVersion(
      s, s"$path/sig", Some(after("sig"))).count() < sigBefore,
      "compaction must physically drop tombstoned signatures")
    assert(hits(path) == hits(rebuiltFresh), "reclaim must not change any answer")
    val bloomRow = PartitionedStore.readVersion(
      s, s"$path/bloom", Some(after("bloom"))).collect()(0)
    assert(Dedup.bloomProbe(Seq(0L).toDF("doc_id"), "doc_id",
        bloomRow.getAs[Array[Byte]]("sketch")).isEmpty,
      "compaction must rebuild the Bloom without the reclaimed id")
    // the id is free again: the append lands and the doc pairs once more
    Dedup.appendLshIndex(s, docs.filter(col("doc_id") === 0L),
      "doc_id", "text", path)
    assert(hits(path).exists(_._2 == 0L),
      "post-compaction append of a reclaimed id must be probeable")
  }
}
