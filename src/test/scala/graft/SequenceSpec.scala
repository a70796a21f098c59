package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Sequence}

/** Sequence-prep (chunking, packing) and near-dup clustering semantics on
  * planted fixtures. */
class SequenceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  test("chunkTokens: stride windows cover every token; short docs yield one clipped chunk") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (1L, "a b")).toDF("doc_id", "text")
    val out = Sequence.chunkTokens(docs, "doc_id", "text", window = 4, stride = 3)
      .orderBy("doc_id", "chunk_id").collect()
    val d0 = out.filter(_.getLong(0) == 0L)
    // 10 tokens, W=4, S=3 -> 3 chunks starting at tokens 1, 4, 7
    assert(d0.map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).toSeq ==
      Seq((0, 1, 4L), (1, 4, 4L), (2, 7, 4L)))
    assert(d0(1).getString(4) == "t4 t5 t6 t7") // overlap of 1 token
    // every token appears in at least one chunk
    val covered = d0.flatMap(_.getString(4).split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
    // 2-token doc: a single clipped chunk
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.length == 1 && d1(0).getLong(3) == 2L && d1(0).getString(4) == "a b")
  }

  test("packSequences: per-shard concat offsets and window spans") {
    val s = spark
    import s.implicits._
    // one shard (nShards=1): docs of 6, 3, 5 tokens, capacity 8
    val docs = Seq(
      (0L, "a a a a a a"), (1L, "b b b"), (2L, "c c c c c"))
      .toDF("doc_id", "text")
    val out = Sequence.packSequences(docs, "doc_id", "text", capacity = 8, nShards = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out(0) == (0L, 0L, 6L, 0L, 0L))   // [0,6) fits window 0
    assert(out(1) == (1L, 6L, 9L, 0L, 1L))   // [6,9) straddles the 8-token cut
    assert(out(2) == (2L, 9L, 14L, 1L, 1L))  // [9,14) inside window 1
    val stats = Sequence.packingStats(
      Sequence.packSequences(docs, "doc_id", "text", 8, 1), 8).collect()(0)
    assert(stats.getLong(1) == 3 && stats.getLong(2) == 14 && stats.getLong(3) == 2)
    assert(stats.getDouble(4) == 14.0 / 16)
  }

  test("chunk/pack invariants hold on a seeded random corpus") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0L until 40L).map(i =>
      (i, (0 until (1 + rnd.nextInt(90))).map(k => s"w${rnd.nextInt(50)}").mkString(" ")))
      .toDF("doc_id", "text")
    val nToks = docs.collect().map(r => r.getLong(0) -> r.getString(1).split(" ").length).toMap

    val (w, st) = (16, 11)
    val chunks = Sequence.chunkTokens(docs, "doc_id", "text", w, st)
      .collect().groupBy(_.getLong(0))
    chunks.foreach { case (id, cs) =>
      val n = nToks(id)
      // chunk count formula; starts form the stride grid; sizes clipped at doc end
      assert(cs.length == 1 + math.ceil(math.max(n - w, 0) / st.toDouble).toInt)
      cs.sortBy(_.getInt(1)).zipWithIndex.foreach { case (c, k) =>
        assert(c.getInt(2) == k * st + 1)
        assert(c.getLong(3) == math.min(w, n - k * st).toLong)
      }
      // stride < window: every token index covered by some chunk
      val covered = cs.flatMap(c => c.getInt(2) until (c.getInt(2) + c.getLong(3).toInt)).toSet
      assert(covered == (1 to n).toSet)
    }

    val cap = 64
    val packed = Sequence.packSequences(docs, "doc_id", "text", cap, 4).collect()
    packed.groupBy(_.getInt(1)).foreach { case (_, rows) =>
      // per shard: offsets tile the concatenated stream contiguously in id order
      val sorted = rows.sortBy(_.getLong(0))
      sorted.foldLeft(0L) { (expect, r) =>
        assert(r.getLong(3) == expect) // start_offset
        assert(r.getLong(4) == expect + r.getLong(2)) // end = start + n_tokens
        assert(r.getLong(5) == r.getLong(3) / cap) // bin_first
        assert(r.getLong(6) == (r.getLong(4) - 1) / cap) // bin_last
        r.getLong(4)
      }
    }
  }

  test("connectedComponents: chains collapse to min label, isolated stay self") {
    val s = spark
    import s.implicits._
    val vertices = (0L to 6L).toDF("id")
    // chain 0-1-2-3 (needs multiple propagation rounds) + pair 4-5 + isolated 6
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 4L, 5L -> 4L, 6L -> 6L))
    // non-convergence must FAIL, not return partial labels silently
    intercept[IllegalStateException] {
      Dedup.connectedComponents(vertices, edges, maxIter = 1).collect()
    }
  }

  test("blockedNgramPairs == brute-force exact Jaccard on seeded random corpora " +
      "(prefix + positional filters are lossless)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(99)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "theta", "iota", "kappa", "lam")
    for (trial <- 1 to 3) {
      // clusters of mutated copies → plenty of pairs straddling the threshold
      val bases = (0 until 6).map(_ =>
        (0 until (8 + rnd.nextInt(20))).map(_ => vocab(rnd.nextInt(vocab.size))))
      val docs = (0 until 40).map { i =>
        val m = bases(rnd.nextInt(bases.size)).toArray
        (0 until rnd.nextInt(4)).foreach(_ => m(rnd.nextInt(m.length)) = vocab(rnd.nextInt(vocab.size)))
        (i.toLong, m.mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")))
      // huge width + dfCap → only the prefix/positional machinery can lose pairs
      val got = Dedup.blockedNgramPairs(df, "doc_id", "text", "n_chars",
          threshold = 0.5, width = 100000, dfCap = 100000)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute force over all C(40,2) pairs
      def sh(t: String): Set[Long] = {
        val th = t.trim.split(" ", -1).map(w =>
          w.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % Dedup.HashMod))
        if (th.length < 3) Set.empty
        else th.sliding(3).map(_.reduce((a, b) => (a * 131 + b) % Dedup.HashMod)).toSet
      }
      val sets = docs.map { case (id, t) => id -> sh(t) }.toMap
      val want = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        sa = sets(a); sb = sets(b)
        inter = (sa & sb).size.toDouble
        uni = sa.size + sb.size - inter
        if uni > 0 && inter / uni >= 0.5
      } yield (a, b)).toSet
      assert(got == want, s"trial $trial: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("denseIds: gapless permutation 0..N-1, matches the single-sort reference order") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0 until 97).map(i =>
      (i.toLong, (0 until 5).map(_ => s"w${rnd.nextInt(30)}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Sequence.denseIds(docs, "doc_id", "text", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // dense: every id 0..N-1 exactly once
    assert(out.map(_._3).sorted.toSeq == (0L until 97L))
    // equals the order a global row_number() OVER (ORDER BY shard, h, id)
    // would assign — computed driver-side from the same hash
    val ref = docs.select(col("doc_id"),
        graft.operators.Mix.sampleHash(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .map { case (id, h) => (id, (h % 8).toInt, h) }
      .sortBy { case (id, sh, h) => (sh, h, id) }
      .zipWithIndex.map { case ((id, sh, _), i) => id -> ((sh, i.toLong)) }.toMap
    out.foreach { case (id, sh, dense) =>
      assert(ref(id) == ((sh, dense)), s"doc $id")
    }
  }

  test("shuffleShards: every doc placed once, positions contiguous per shard, rerun-stable") {
    val s = spark
    import s.implicits._
    val docs = (0 until 200).map(i => (i.toLong, s"doc body number $i with words")).toDF("doc_id", "text")
    val out = Sequence.shuffleShards(docs, "doc_id", "text", 8).collect()
    assert(out.length == 200)
    assert(out.forall(r => { val sh = r.getAs[Int]("shard"); sh >= 0 && sh < 8 }))
    // positions are 1..n within each shard, no gaps or dups
    out.groupBy(_.getAs[Int]("shard")).foreach { case (_, rows) =>
      val pos = rows.map(_.getAs[Long]("pos")).sorted
      assert(pos.toSeq == (1L to rows.length).toSeq)
    }
    // deterministic: a second run yields the identical placement
    val again = Sequence.shuffleShards(docs, "doc_id", "text", 8).collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"), r.getAs[Long]("pos"))).toSet ==
      again.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"), r.getAs[Long]("pos"))).toSet)
  }

  test("leakage-safe split: near-dup cluster members always share a split") {
    val s = spark
    import s.implicits._
    import graft.operators.{Dedup, Mix}
    // a planted cluster {1,2,3} (chained near-dups) and singles {4,5}
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (2L, base + " x"), (3L, base + " y"),
      (4L, "completely different content one two three four five six seven"),
      (5L, "another unrelated document with its own words entirely here now")
    ).toDF("doc_id", "text")
    val edges = Dedup.minhashPairs(docs, "doc_id", "text", 0.5, 16, 4)
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.connectedComponents(docs.select(col("doc_id").as("id")), edges)
    val p = Dedup.HashMod
    val bucket = (col("rep") + 1) * Mix.ScrambleM % p * Mix.ScrambleM % p % 10
    val split = comps.select(col("id"), col("rep"),
      when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test").as("split"))
    val byDoc = split.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(byDoc(1L)._1 == byDoc(2L)._1 && byDoc(2L)._1 == byDoc(3L)._1,
      s"planted near-dups must cluster: $byDoc")
    assert(byDoc(1L)._2 == byDoc(2L)._2 && byDoc(2L)._2 == byDoc(3L)._2,
      "cluster members must share the split — the leakage invariant")
    // split is a pure function of the rep: any two docs with equal reps agree
    assert(byDoc.values.groupBy(_._1).forall(_._2.map(_._2).toSet.size == 1))
  }

  test("k-fold CV assignment: fold is a pure function of the cluster " +
    "rep — no near-dup pair straddles a fold") {
    val s = spark
    import s.implicits._
    import graft.operators.{Dedup, Mix}
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (2L, base + " x"), (3L, base + " y"),
      (4L, "completely different content one two three four five six seven"),
      (5L, "another unrelated document with its own words entirely here now")
    ).toDF("doc_id", "text")
    val edges = Dedup.minhashPairs(docs, "doc_id", "text", 0.5, 16, 4)
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.connectedComponents(
      docs.select(col("doc_id").as("id")), edges)
    val p = Dedup.HashMod
    val fold = (col("rep") + 1) * Mix.ScrambleM % p * Mix.ScrambleM % p % 5
    val byDoc = comps.select(col("id"), col("rep"), fold.as("fold"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byDoc(1L)._2 == byDoc(2L)._2 && byDoc(2L)._2 == byDoc(3L)._2,
      "cluster members must share the fold — the CV leakage invariant")
    assert(byDoc.values.groupBy(_._1).forall(_._2.map(_._2).toSet.size == 1))
    // and the per-fold summary partitions the corpus: n_docs sums to N,
    // each row's train complement is N − n_docs
    val perFold = comps.select(col("id"), col("rep"), fold.as("fold"))
      .groupBy(col("fold")).agg(count(lit(1)).as("n_docs"))
      .collect().map(r => r.getLong(1))
    assert(perFold.sum == 5L)
  }

  test("connectedComponentsDelta: delta edges merge standing components; reps stay global minima") {
    val s = spark
    import s.implicits._
    import graft.operators.Dedup
    // standing: {1,2} labeled 1, {3} alone, {5} alone
    val standing = Seq((1L, 1L), (2L, 1L), (3L, 3L), (5L, 5L)).toDF("id", "rep")
    // delta: new doc 4 links 3 to 2 (merging components 1 and 3), 9 arrives isolated
    val newVerts = Seq(4L, 9L).toDF("id")
    val newEdges = Seq((3L, 4L), (4L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponentsDelta(standing, newVerts, newEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 9L -> 9L),
      s"merged component must take the global min rep: $out")
  }

  test("epochShuffle: every epoch covers every doc once; epochs permute differently; rerun-stable") {
    val s = spark
    import s.implicits._
    val docs = (0 until 200).map(i => (i.toLong, s"doc body number $i with words")).toDF("doc_id", "text")
    val out = graft.operators.Mix.epochShuffle(docs, "doc_id", "text", 3, 8).collect()
    assert(out.length == 600, "3 epochs × 200 docs")
    // full coverage per epoch
    out.groupBy(_.getAs[Int]("epoch")).foreach { case (e, rows) =>
      assert(rows.map(_.getAs[Long]("doc_id")).toSet == (0L until 200L).toSet, s"epoch $e")
      // positions contiguous within each (epoch, shard)
      rows.groupBy(_.getAs[Int]("shard")).foreach { case (_, rr) =>
        assert(rr.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to rr.length).toSeq)
      }
    }
    // epochs are DIFFERENT permutations: per-doc (shard, pos) differs somewhere
    val byEpoch = out.groupBy(_.getAs[Int]("epoch")).map { case (e, rows) =>
      e -> rows.map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("shard"), r.getAs[Long]("pos"))).toMap
    }
    assert(byEpoch(0) != byEpoch(1) && byEpoch(1) != byEpoch(2))
    // deterministic across reruns
    val again = graft.operators.Mix.epochShuffle(docs, "doc_id", "text", 3, 8).collect()
    assert(out.map(r => r.toSeq).toSet == again.map(r => r.toSeq).toSet)
  }

  test("rendezvousAssign: draining a worker moves ONLY its shards — " +
    "every other assignment is unchanged (the property mod-placement lacks)") {
    val s = spark
    import s.implicits._
    import graft.operators.Sequence
    val shards = (0L until 32L).toDF("shard")
    def asg(w: Int): Map[Long, Long] =
      Sequence.rendezvousAssign(shards, "shard", w)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a5 = asg(5)
    val a4 = asg(4) // worker 4 drained from the candidate set
    assert(a5.values.toSet.subsetOf((0L until 5L).toSet))
    assert(a5.values.exists(_ == 4L),
      "fixture must actually exercise the drained worker")
    a5.foreach { case (sh, w) =>
      if (w < 4L) assert(a4(sh) == w,
        s"shard $sh moved $w -> ${a4(sh)} though its worker survived")
      else assert(a4(sh) < 4L, s"orphaned shard $sh must land on a survivor")
    }
    // deterministic across reruns
    assert(asg(5) == a5)
  }
}
