package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DataQuality
import graft.operators.DataQuality._

/** DataQuality semantics: metric values on a hand-computed frame, pass/fail
  * classification including NULL and orphan handling, and the single-pass
  * plan contract (N checks ≠ N scans — one table scan per suite). */
class DataQualitySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  // 4 rows: one NULL name, duplicate kind, price 7.5 .. 99.99
  private def frame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Some("a"), "x", 7.5),
      (2L, Some("b"), "x", 20.0),
      (3L, None, "y", 99.99),
      (4L, Some("d"), "zz", 12.25)
    ).toDF("id", "name", "kind", "price")
  }

  test("suite computes ppm/quantized metrics and classifies pass/fail") {
    val out = DataQuality.suite("t", frame, Seq(
      Completeness("name"),                        // 3/4 = 750000 ppm -> fail
      Uniqueness("id"),                            // 4/4 -> pass
      Uniqueness("kind"),                          // 3 distinct / 4 -> fail
      InSet("kind", Seq("x", "y")),                // 3/4 -> fail
      MinBound("price", 500L),                     // min 750 >= 500 -> pass
      MaxBound("price", 5000L)                     // max 9998 (floor 99.99*100) > 5000 -> fail
    )).collect().map(r => (r.getString(1), r.getString(2)) ->
      (r.getLong(3), r.getBoolean(6))).toMap

    assert(out(("completeness", "name")) == (750000L, false))
    assert(out(("uniqueness", "id")) == (1000000L, true))
    assert(out(("uniqueness", "kind")) == (750000L, false))
    assert(out(("in_set", "kind")) == (750000L, false))
    assert(out(("min_bound", "price")) == (750L, true))
    // IEEE: 99.99*100 rounds up to 9999.000000000002, floor -> 9999
    assert(out(("max_bound", "price")) == (9999L, false))
  }

  test("referential counts orphans (NULL child key is an orphan)") {
    val s = spark
    import s.implicits._
    val child = Seq((Some(1L), "a"), (Some(9L), "b"), (None, "c"))
      .toDF("fk", "payload")
    val parent = Seq(1L, 2L).toDF("pk")
    val r = DataQuality.referential("child", child, "fk", parent, "pk")
      .collect().head
    assert(r.getLong(3) == 2L) // fk=9 and fk=NULL
    assert(!r.getBoolean(6))
    val clean = DataQuality.referential("child",
      Seq(1L, 2L, 1L).toDF("fk"), "fk", parent, "pk").collect().head
    assert(clean.getLong(3) == 0L && clean.getBoolean(6))
  }

  test("a suite without uniqueness checks is ONE scan, ONE aggregate pass") {
    val plan = DataQuality.suite("t", frame, Seq(
      Completeness("name"), InSet("kind", Seq("x")),
      MinBound("price", 0L), MaxBound("price", 10000L)))
      .queryExecution.executedPlan.toString()
    assert("(?i)scan".r.findAllIn(plan).size == 1, plan)
    // no Expand (the multi-distinct shape) in the distinct-free suite
    assert(!plan.contains("Expand"), plan)
  }

  test("uniqueness adds the Expand multi-distinct shape but still one scan") {
    val plan = DataQuality.suite("t", frame, Seq(
      Completeness("name"), Uniqueness("id"), Uniqueness("kind")))
      .queryExecution.executedPlan.toString()
    assert("(?i)scan".r.findAllIn(plan).size == 1, plan)
  }

  test("fuzzyLink pairs within blocks only, by edit distance") {
    val s = spark
    import s.implicits._
    import graft.operators.Relational
    import org.apache.spark.sql.functions.{col, substring}
    val recs = Seq(
      (1L, "smith"), (2L, "smyth"),   // dist 1, same block 's'
      (3L, "smithe"),                 // dist 1 from smith, same block
      (4L, "adams"), (5L, "adamz"),   // dist 1, block 'a'
      (6L, "aquinn")                  // block 'a', far from both
    ).toDF("id", "nm")
    val out = Relational.fuzzyLink(recs, "id", "nm",
      substring(col("nm"), 1, 1), maxDist = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // smyth-smithe is dist 2: excluded; cross-block never compared
    assert(out == Set((1L, 2L), (1L, 3L), (4L, 5L)))
  }

  test("fuzzyLink failOnCap raises at the PAIR budget — a 10-row block " +
    "passes the historic 4096-row bound but its 45 pairs exceed maxPairs=6; " +
    "plan has no cartesian") {
    val s = spark
    import s.implicits._
    import graft.operators.Relational
    import org.apache.spark.sql.functions.{col, lit}
    val hot = (1L to 10L).map(i => (i, s"n$i")).toDF("id", "nm")
    val guarded = Relational.fuzzyLink(hot, "id", "nm", lit("b"),
      maxDist = 99, maxPairs = 6L, failOnCap = true)
    val e = intercept[Exception] { guarded.collect() }
    assert(e.getMessage.contains("maxPairs"), e.getMessage)
    // at the default budget the same block is fine: C(10,2)=45 pairs
    assert(Relational.fuzzyLink(hot, "id", "nm", lit("b"),
      maxDist = 99, failOnCap = true).count() == 45L)
    val plan = Relational.fuzzyLink(hot, "id", "nm", col("nm"), maxDist = 1)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("idGaps: intra-block, bridge, and empty-block-spanning gaps; dups collapse") {
    val s = spark
    import s.implicits._
    // blockSize 10: blocks [0..9], [10..19], [20..29], [30..39]
    // present: 1,2,5 | 9,12 | (block 2 EMPTY) | 31, dup 31
    val ids = Seq(1L, 2L, 5L, 9L, 12L, 31L, 31L, 2L).toDF("x")
    val got = graft.operators.DataQuality.idGaps(ids, "x", blockSize = 10L)
      .orderBy("gap_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // naive lead-over-all on {1,2,5,9,12,31}:
    assert(got == Seq(
      (3L, 4L, 2L),     // 2 -> 5 intra-block
      (6L, 8L, 3L),     // 5 -> 9 intra-block
      (10L, 11L, 2L),   // 9 -> 12 bridge
      (13L, 30L, 18L))) // 12 -> 31 bridge spanning the empty block 2
  }

  test("idGaps: dense sequence yields no rows; the only global window is over blocks") {
    val s = spark
    import s.implicits._
    val dense = (0L to 99L).toDF("x")
    assert(graft.operators.DataQuality.idGaps(dense, "x", 16L).count() == 0)
    // the bridge window (global, unpartitioned) must consume the block
    // summary aggregate — never raw id rows
    val plan = graft.operators.DataQuality.idGaps(dense, "x", 16L)
      .queryExecution.optimizedPlan.toString()
    plan.linesIterator.zipWithIndex
      .filter(t => t._1.contains("Window") && !t._1.contains("partitionBy"))
      .foreach { case (line, i) =>
        if (!line.contains(" b#") && line.contains("ORDER BY b"))
          assert(plan.linesIterator.drop(i + 1).mkString("\n").contains("Aggregate"),
            s"global window without block summary below it:\n$plan")
      }
  }

  test("report is ordered and total on (table, check, column)") {
    val rep = DataQuality.report(Seq(
      DataQuality.suite("t", frame, Seq(Completeness("name"), Uniqueness("id"))),
      DataQuality.referential("t", frame, "id", frame.select("id"), "id")))
      .collect()
    val keys = rep.map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(keys.toSeq == keys.toSeq.sorted)
    assert(keys.distinct.length == keys.length)
  }

  test("entity resolution: typo chains close transitively — A~B~C one " +
    "entity though dist(A,C) exceeds the link threshold") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, count}
    import graft.operators.{Dedup, Relational}
    // A~B dist 1, B~C dist 1, but A~C dist 2 — no direct link
    val cust = Seq((1L, "abcdef"), (2L, "abcdXf"), (3L, "abYdXf"),
      (4L, "zzzzzz")).toDF("cid", "c_name")
    val pairs = Relational.fuzzyLink(cust, "cid", "c_name", lit("blk"),
        maxDist = 1)
      .select(col("id_a"), col("id_b"))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 3L)), s"pairwise links: $got")
    val comps = Dedup.connectedComponents(
      cust.select(col("cid").as("id")), pairs)
    val m = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == 1L && m(2L) == 1L && m(3L) == 1L,
      s"chain must resolve to ONE entity: $m")
    assert(m(4L) == 4L, "singleton keeps its own entity")
  }

  test("entity-resolution blocking RECALL contract: a first-17-chars typo " +
    "or a segment mismatch is intentionally NOT linked; suffix typos are") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws, substring}
    import graft.operators.Relational
    // the j12 blocking key: (mktsegment, first 17 chars of the name).
    // TPC-H names are 18 chars ("Customer#000000NNN"), so char 18 is
    // inside the block and chars 1-17 are the block key itself.
    val cust = Seq(
      (1L, "Customer#000000001", "SEG1"), // linked pair: typo at char 18
      (2L, "Customer#000000009", "SEG1"), //   (block keys equal, dist 1)
      (3L, "Customer#000000102", "SEG1"), // miss class (a): typo INSIDE
      (4L, "Custxmer#000000102", "SEG1"), //   the 17-char prefix, dist 1
      (5L, "Customer#000000203", "SEG1"), // miss class (b): identical
      (6L, "Customer#000000203", "SEG2")  //   name, different segment
    ).toDF("cid", "c_name", "seg")
    val pairs = Relational.fuzzyLink(cust, "cid", "c_name",
        concat_ws("|", col("seg"), substring(col("c_name"), 1, 17)),
        maxDist = 1, failOnCap = true)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"recall contract: only the in-block suffix typo links — got $pairs")
  }

  test("dual-block linkage is COMPLETE at distance 1: every single-edit " +
    "class in every position region links, blocked == naive exhaustive, " +
    "and a name violating prefix+suffix >= length raises") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    import graft.operators.Relational
    // names of length 17-19, dual block = first 13 ∪ last 4 (split sum
    // 17 = the MIN length, the completeness precondition): edits
    // planted in the prefix region (j12's documented miss class), the
    // suffix region, the uncovered-by-neither char 14, and as
    // insert/delete (length 17 — right-anchored suffix must still
    // match); a 19-char pair pins that LONG names are the safe case
    // (r10's inverted guard raised on them); distractors differ by 2+.
    val cust = Seq(
      (1L, "Customer#000000001", "SEG1"), // base
      (2L, "Customer#000000009", "SEG1"), // sub at char 18 (suffix region)
      (3L, "Custxmer#000000001", "SEG1"), // sub at char 5 (prefix region)
      (4L, "Customer#000100001", "SEG1"), // sub at char 13 (last prefix ch)
      (5L, "Customer#000010001", "SEG1"), // sub at char 14 (neither key —
                                          //   both passes still link it)
      (6L, "Customer#000001001", "SEG1"), // sub at char 15 (first suffix ch)
      (7L, "Customer#00000001",  "SEG1"), // deletion (len 17)
      (8L, "ustomer#000000001",  "SEG1"), // deletion at char 1 (len 17)
      (9L, "Customer#000000001", "SEG2"), // same name, other segment: no
      (10L, "Cxstxmxr#000000001", "SEG1"), // dist >= 2 from every row: the
                                          // shared "0001" suffix makes it a
                                          // CANDIDATE the exact check kills
      (11L, "XCustomer#00000001A", "SEG1"), // 19-char base (longer than the
      (12L, "XCustomer#00000001B", "SEG1")  //   split sum: provably covered)
    ).toDF("cid", "c_name", "seg")
    val got = Relational.fuzzyLinkDual(cust, "cid", "c_name", col("seg"),
        prefixLen = 13, suffixLen = 4, failOnCap = true)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the naive exhaustive pair set, replayed through Spark's own
    // levenshtein so the comparison shares edit-distance semantics
    val naive = cust.as("a").join(cust.as("b"),
        col("a.seg") === col("b.seg") && col("a.cid") < col("b.cid") &&
          levenshtein(col("a.c_name"), col("b.c_name")) <= 1)
      .select(col("a.cid"), col("b.cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive, s"blocked must equal exhaustive:\n got  $got\n want $naive")
    // the j12 miss classes now link; cross-segment and dist-2 still don't
    assert(got.contains((1L, 3L)) && got.contains((1L, 4L)) &&
      got.contains((1L, 7L)) && got.contains((1L, 8L)))
    assert(got.contains((11L, 12L)), "long names are the SAFE case")
    assert(!got.exists(p => p._1 == 9L || p._2 == 9L))
    assert(!got.exists(p => p._1 == 10L || p._2 == 10L))
    // completeness precondition enforced in-plan: a name SHORTER than
    // prefixLen+suffixLen raises (the unsafe case r10's inverted guard
    // silently admitted)
    val short = Seq((90L, "Customer#0000001", "SEG1")) // 16 chars < 17
      .toDF("cid", "c_name", "seg")
    val ex = intercept[Exception] {
      Relational.fuzzyLinkDual(short.union(cust), "cid", "c_name",
        col("seg"), prefixLen = 13, suffixLen = 4).count()
    }
    assert(ex.getMessage.contains("completeness"), ex.getMessage)
  }

  test("fuzzyLinkSymDel: deletion-neighborhood blocking equals the naive " +
    "exhaustive distance-1 pair set — with no length precondition at all") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    import graft.operators.Relational
    // the dual-block fixture PLUS the short name the dual block must
    // reject (length < split sum) — deletion algebra has no such class:
    // completeness holds at any length, which is exactly the advantage
    val cust = Seq(
      (1L, "Customer#000000001", "SEG1"),  // base
      (2L, "Customer#000000009", "SEG1"),  // substitution, last char
      (3L, "Custxmer#000000001", "SEG1"),  // substitution, char 5
      (5L, "Customer#000010001", "SEG1"),  // substitution, char 14
      (7L, "Customer#00000001",  "SEG1"),  // deletion (len 17)
      (8L, "ustomer#000000001",  "SEG1"),  // deletion at char 1
      (9L, "Customer#000000001", "SEG2"),  // same name, other segment: no
      (10L, "Cxstxmxr#000000001", "SEG1"), // dist >= 2: candidate via
                                           //   shared deletions? no — every
                                           //   variant differs; never paired
      (90L, "Customer#0000001", "SEG1"),   // 16 chars: dual-block-UNSAFE
      (91L, "Customer#0000011", "SEG1")    //   length, dist 1 from 90
    ).toDF("cid", "c_name", "seg")
    val got = Relational.fuzzyLinkSymDel(cust, "cid", "c_name", col("seg"),
        failOnCap = true)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = cust.as("a").join(cust.as("b"),
        col("a.seg") === col("b.seg") && col("a.cid") < col("b.cid") &&
          levenshtein(col("a.c_name"), col("b.c_name")) <= 1)
      .select(col("a.cid"), col("b.cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive, s"blocked must equal exhaustive:\n got  $got\n want $naive")
    assert(got.contains((90L, 91L)),
      "the short-name pair the dual block must REJECT links fine here")
    assert(got.contains((1L, 7L)) && got.contains((1L, 8L)), "indel pairs")
    assert(!got.exists(p => p._1 == 9L || p._2 == 9L), "segment respected")
    assert(!got.exists(p => p._1 == 10L || p._2 == 10L), "dist-2 killed")
    // degenerate repeated key: all rows in the identity variant's block —
    // the pair budget raises in-plan instead of going quadratic silently
    val hot = (1L to 10L).map(i => (i, "SameName#0001", "SEG1"))
      .toDF("cid", "c_name", "seg")
    val ex = intercept[Exception] {
      Relational.fuzzyLinkSymDel(hot, "cid", "c_name", col("seg"),
        maxPairs = 10L, failOnCap = true).count()
    }
    assert(ex.getMessage.contains("maxPairs"), ex.getMessage)
  }

  test("failOnCap counts only non-null block keys: an oversized null-key " +
    "block (never paired by the equi-join) does not raise, whether or " +
    "not Catalyst prunes it first; the real blocks still link") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Relational
    // 10 null-key rows = 45 would-be pairs, over maxPairs; each real
    // block holds one distance-1 pair, under it
    val rows = (1L to 10L).map(i => (i, "SameName#0001", Option.empty[String])) ++
      Seq((101L, "abc", Some("S1")), (102L, "abd", Some("S1")),
        (201L, "xyz", Some("S2")), (202L, "xyzq", Some("S2")))
    val df = rows.toDF("cid", "c_name", "seg")
    def pairs(out: org.apache.spark.sql.DataFrame) =
      out.select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((101L, 102L), (201L, 202L))
    // the join's inferred isnotnull(key) filter is pushed below the
    // count window by default; the guard must not depend on that rule
    val rules = "spark.sql.optimizer.excludedRules"
    for (excluded <- Seq("",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints"))
      try {
        s.conf.set(rules, excluded)
        assert(pairs(Relational.fuzzyLink(df, "cid", "c_name", col("seg"),
          maxDist = 1, maxPairs = 6L, failOnCap = true)) == want)
        assert(pairs(Relational.fuzzyLinkSymDel(df, "cid", "c_name",
          col("seg"), maxPairs = 6L, failOnCap = true)) == want)
      } finally s.conf.unset(rules)
  }

  test("fuzzyLinkSymDel: delimiter-bearing segments/names cannot collide " +
    "across segments (r11 ADVICE: a '|'-concat block key would link " +
    "seg=S,name=x|q to seg=S|x,name=|q — distance 1, different segments)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Relational
    // under a concat_ws("|", seg, variant) key, row 1's identity variant
    // and row 2's delete-'|' variant both render "S|x|q", and
    // lev("x|q","|q")=1 passes the confirm — emitting a cross-segment
    // pair the unblocked same-segment oracle excludes. The two-COLUMN
    // (seg, variant) join key cannot collide by construction.
    val tricky = Seq(
      (1L, "x|q", "S"),
      (2L, "|q", "S|x"),
      (3L, "x|r", "S") // same-seg control: lev("x|q","x|r")=1 must link
    ).toDF("cid", "c_name", "seg")
    val got = Relational.fuzzyLinkSymDel(tricky, "cid", "c_name",
        col("seg"), failOnCap = true)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 3L)), got.toString)
  }

  test("dual-block UNSAFE short-name class raises instead of silently " +
    "missing: equal-length names below the split sum differing at the " +
    "prefix/suffix overlap position break BOTH keys") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, substring, concat_ws}
    import graft.operators.Relational
    // 17-char names under a 14/4 split (sum 18 > 17): char 14 sits in
    // the first 14 AND the last 4 — a substitution there changes both
    // block keys, so without the guard this dist-1 pair is NEVER
    // compared while the naive oracle links it (the r10 inversion's
    // exact silent-miss shape, reconstructed here via raw fuzzyLink
    // with the dual keys and NO length guard).
    val cust = Seq(
      (1L, "Customer#0000A001", "SEG1"),
      (2L, "Customer#0000B001", "SEG1")
    ).toDF("cid", "c_name", "seg")
    val byPrefix = Relational.fuzzyLink(cust, "cid", "c_name",
      concat_ws("|", col("seg"), substring(col("c_name"), 1, 14)), 1)
    val bySuffix = Relational.fuzzyLink(cust, "cid", "c_name",
      concat_ws("|", col("seg"), substring(col("c_name"), -4, 4)), 1)
    assert(byPrefix.count() + bySuffix.count() == 0L,
      "unguarded dual keys at 14/4 must MISS the char-14 pair (that is " +
        "the hazard under test)")
    // the guarded call turns that silent miss into an in-plan raise
    val ex = intercept[Exception] {
      Relational.fuzzyLinkDual(cust, "cid", "c_name", col("seg"),
        prefixLen = 14, suffixLen = 4).count()
    }
    assert(ex.getMessage.contains("completeness"), ex.getMessage)
    // and the planner refuses nothing: the derived split sums to the min
    // length (15/2 here), restoring completeness for the same pair
    val (pre, suf) = Relational.planDualSplit(cust, "c_name")
    assert(pre + suf == 17, s"derived split must sum to min length: $pre/$suf")
    val linked = Relational.fuzzyLinkDual(cust, "cid", "c_name", col("seg"),
        prefixLen = pre, suffixLen = suf, failOnCap = true)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(linked == Set((1L, 2L)), s"derived split links the pair: $linked")
  }

  test("planDualSplit derives 16/2 on the suite corpus — the pinned " +
    "split that retired the per-round bench occupancy sweep (r17)") {
    // The bench's linkage_blocks leg re-derived this split per scale
    // every round and shipped a byte-identical series three rounds
    // running (r14–r16: suffix 2 at x1/x4, 3 at x10; max block rows
    // 44/141/44). The derivation is deterministic from the name
    // distribution, so the pin replaces the measurement: against dense
    // sequential decimal ids the prefix block frees 2 trailing digits
    // (≤100 ids/block) and the 2-char suffix splits each segment ~100
    // ways — the planner's cheapest admissible split. A drifted
    // derivation (new name format, changed planner) fails HERE instead
    // of silently re-pricing two scaling rows every bench run.
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val cust = spark.read.parquet(s"/root/testdata/$sf/customer.parquet")
      val (pre, suf) =
        graft.operators.Relational.planDualSplit(cust, "c_name")
      assert((pre, suf) == (16, 2),
        s"$sf: derived split drifted from the pinned 16/2: $pre/$suf")
    }
  }

  test("survivorship: rep supplies name+nation, balance is cluster max, " +
    "segment mode breaks count ties by larger segment; singletons pass through") {
    val s = spark
    import s.implicits._
    // cluster rep=1: members 1,2,3 — segments A,B,B → mode B;
    //   balance max on a non-rep row; name/nation from rep row 1.
    // cluster rep=5: members 5,6 — segments A,C (1-1 tie) → C (larger).
    // cluster rep=9: singleton.
    val m = Seq(
      (1L, 1L, "alice", 10, 5.0, "A"),
      (1L, 2L, "alicia", 20, 9.5, "B"),
      (1L, 3L, "alyce", 30, 1.0, "B"),
      (5L, 5L, "bob", 40, 2.0, "A"),
      (5L, 6L, "rob", 50, 2.0, "C"),
      (9L, 9L, "carol", 60, 7.0, "A")
    ).toDF("rep", "cid", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
    val out = DataQuality.survivorship(m)
      .orderBy("entity_rep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3),
        r.getDouble(4), r.getString(5))).toSeq
    assert(out == Seq(
      (1L, 3L, "alice", 10, 9.5, "B"),
      (5L, 2L, "bob", 40, 2.0, "C"),
      (9L, 1L, "carol", 60, 7.0, "A")))
  }

  test("benfordReport: digit shares from the integer string, absent " +
    "digits zero-filled, pure-integer deviation flags") {
    val s = spark
    import s.implicits._
    // cents: digits [1, 1, 2, 3, 9] over N=5 — digit 1 at 400000 ppm
    // (dev +98971, flagged), digit 2 at 200000 (dev +23909, calm),
    // absent digit 4 at 0 (dev −96910, flagged)
    val df = Seq(1L, 19L, 23L, 345L, 9000L).toDF("c")
    val out = graft.operators.DataQuality
      .benfordReport(df, org.apache.spark.sql.functions.col("c"), 30000L)
      .orderBy("digit").collect()
    assert(out.length == 9)
    val byDigit = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(4), r.getBoolean(5))).toMap
    assert(byDigit(1L) == ((2L, 400000L, 400000L - 301029L, true)))
    assert(byDigit(2L) == ((1L, 200000L, 200000L - 176091L, false)))
    assert(byDigit(4L) == ((0L, 0L, -96910L, true)))
    assert(byDigit(9L)._1 == 1L)
  }

  test("partitionSkew: buckets replay polyHash, hot verdict is the " +
    "cross-multiplied 2x fair share, n_keys separates hot-key from " +
    "collision skew") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.HashOps
    import org.apache.spark.unsafe.types.UTF8String
    // one hot key (60 rows of key 7) + 40 singleton keys
    val rows = Seq.fill(60)(7L) ++ (100L until 140L)
    val out = graft.operators.DataQuality
      .partitionSkew(rows.toDF("k"), col("k"), nBuckets = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    def bucketOf(k: Long): Long =
      ((HashOps.polyHash(UTF8String.fromString(k.toString)) % 8) + 8) % 8
    val hotBucket = bucketOf(7L)
    // the hot key's bucket carries its 60 rows (plus whatever singletons
    // land there) and must flag: 60·8 > 2·100
    assert(out(hotBucket)._1 >= 60L && out(hotBucket)._4)
    // every OTHER bucket holds only singleton keys: n_rows == n_keys, calm
    out.collect { case (b, (n, k, _, hot)) if b != hotBucket =>
      assert(n == k && !hot, s"bucket $b") }
    // shares sum to <= 1e6 (floor division) and rows total 100
    assert(out.values.map(_._1).sum == 100L)
    assert(out.values.map(_._3).sum <= 1000000L)
    // driver replay: every singleton key sits exactly where polyHash says
    (100L until 140L).foreach { k =>
      assert(out.contains(bucketOf(k)))
    }
  }

  test("independenceReport: dependent and independent dims, ppm " +
    "arithmetic exact, flag polarity") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // dim2 == dim1 (perfect dependence) on skewed counts: A×3, B×1
    val dep = Seq(("A", "A"), ("A", "A"), ("A", "A"), ("B", "B"))
      .toDF("x", "y")
    val rep = graft.operators.DataQuality
      .independenceReport(dep, col("x"), col("y"), thresholdPpm = 100000L)
      .collect().map(r => (r.getString(1), r.getString(0)) ->
        (r.getLong(2), r.getLong(5), r.getLong(6), r.getLong(7),
          r.getBoolean(8))).toMap
    // cell (A,A): within 3/3 = 1e6, global 3/4 = 750000, dev +250000
    assert(rep(("A", "A")) == ((3L, 1000000L, 750000L, 250000L, true)))
    // cell (B,B): within 1e6, global 250000, dev +750000
    assert(rep(("B", "B")) == ((1L, 1000000L, 250000L, 750000L, true)))
    // independent dims: every within share equals its global share
    val ind = Seq(("A", "u"), ("A", "v"), ("B", "u"), ("B", "v"))
      .toDF("x", "y")
    val calm = graft.operators.DataQuality
      .independenceReport(ind, col("x"), col("y"), thresholdPpm = 0L)
      .collect()
    assert(calm.length == 4)
    calm.foreach { r =>
      assert(r.getLong(7) == 0L && !r.getBoolean(8), r.toString) }
  }

  test("sortedNeighborhood: two-phase rank equals the naive global rank " +
    "— window pairs exact, id_a is the lower-rank side, the out-of-window " +
    "miss class is missed, multi-range partitioning invariant") {
    val s = spark
    import s.implicits._
    import graft.operators.Relational
    // sorted by name: aaa(1) aab(2) aac(4) aaz(5) zzz(3)
    val df = Seq((1L, "aaa"), (2L, "aab"), (3L, "zzz"), (4L, "aac"),
      (5L, "aaz")).toDF("cid", "c_name")
    def run(nRanges: Int) = Relational
      .sortedNeighborhood(df, "cid", "c_name", window = 2, maxDist = 1,
        nRanges = nRanges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    val expect = Set(
      (1L, 2L, 1), // aaa~aab, ranks 1-2
      (1L, 4L, 1), // aaa~aac, ranks 1-3
      (2L, 4L, 1), // aab~aac, ranks 2-3
      (2L, 5L, 1), // aab~aaz, ranks 2-4
      (4L, 5L, 1)) // aac~aaz, ranks 3-4
    assert(run(1) == expect)
    // the stated miss class: aaa~aaz is distance 1 but 3 ranks apart —
    // never compared (the window IS the recall contract)
    assert(!run(1).contains((1L, 5L, 1)))
    // offsets path: ranks must agree across range-partition counts
    assert(run(3) == expect)
    assert(run(4) == expect)
  }

  test("sortedNeighborhoodMulti: the rotated reverse-name pass catches a " +
    "first-character edit the name pass sorts out of window; pairs caught " +
    "by BOTH passes dedup to one row; ids normalize to id_a < id_b with " +
    "names swapped alongside") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, reverse}
    import graft.operators.Relational
    // name order: abc(1) abd(6) mmm(3) nnn(4) ooo(5) zbc(0) — the
    // distance-1 pair (abc, zbc) sits 5 ranks apart (first-char edit =
    // the single-pass miss class); reversed order: cba(1) cbz(0) dba(6)
    // mmm nnn ooo puts it adjacent. (abc, abd) is window-close under
    // BOTH keys — the dedup case. zbc carries id 0 so the reversed
    // pass's lower-RANK side (cba, id 1) is the HIGHER id: the union
    // must normalize ids AND names together.
    val df = Seq((1L, "abc"), (0L, "zbc"), (3L, "mmm"), (4L, "nnn"),
      (5L, "ooo"), (6L, "abd")).toDF("cid", "c_name")
    def pairs(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    val single = pairs(Relational.sortedNeighborhood(
      df, "cid", "c_name", window = 2, maxDist = 1))
    val multi = pairs(Relational.sortedNeighborhoodMulti(
      df, "cid", "c_name", window = 2, maxDist = 1,
      sortKeys = Seq(col("c_name"), reverse(col("c_name")))))
    assert(single == Set((1L, 6L, "abc", "abd")), single.toString)
    assert(multi == Set(
      (1L, 6L, "abc", "abd"),       // caught by both passes, one row
      (0L, 1L, "zbc", "abc")),      // reverse-pass catch, ids+names flipped
      multi.toString)
  }

  test("evalSnmRecallSampled ≈ evalSnmRecall at sf0.01 (the 100 TB " +
    "sampled-truth arm): per scheme, the 2-of-5-sample recall estimate " +
    "sits within its own binomial 2σ of the full-corpus recall, and the " +
    "candidate pass stays the full-corpus ranking") {
    val d = "/root/testdata/sf0.01"
    def byScheme(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
    val full = byScheme(graft.queries.DataQualityQueries.evalSnmRecall(spark, d))
    val samp = byScheme(
      graft.queries.DataQualityQueries.evalSnmRecallSampled(spark, d))
    for (scheme <- Seq("single", "multi")) {
      val (nF, _, _, rF) = full(scheme)
      val (nS, tpS, nCandS, rS) = samp(scheme)
      // non-degenerate and internally consistent
      assert(nS >= 30L, s"$scheme: sample must keep real truth pairs ($nS)")
      assert(nS < nF, s"$scheme: sampled truth must be a strict subsample")
      assert(tpS <= nCandS)
      // STATED tolerance: the sampled recall is a binomial estimate over
      // n_truth_sampled trials at the full-arm rate, so 2σ =
      // 2·sqrt(r(1−r)/n)·10⁶ ppm bounds it (observed at sf0.01:
      // single 243,103 vs 267,288 — Δ 24,185 ≈ 1.3σ at n=580;
      // multi 432,758 vs 455,322 — Δ 22,564 ≈ 1.1σ)
      val p = rF.toDouble / 1e6
      val tol = (2e6 * math.sqrt(p * (1 - p) / nS)).ceil.toLong
      val delta = math.abs(rS - rF)
      assert(delta <= tol,
        s"$scheme: sampled $rS vs full $rF ppm — |Δ|=$delta > 2σ=$tol at n=$nS")
    }
  }

  test("thresholded levenshtein (r17 confirm-path form): equals the plain " +
    "distance whenever the plain distance is within the threshold, and " +
    "returns −1 above it — so filter(thresholded >= 0) keeps exactly the " +
    "filter(plain <= maxDist) pair set with identical dist values") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein}
    // adversarial shapes around the band edges: equal, 1-sub, 1-del,
    // 1-ins, 2-edits, length gaps beyond the threshold, empty strings,
    // and the TPC-H-like shared-prefix names the linkage ops see
    val pairs = Seq(
      ("abc", "abc"), ("abc", "abd"), ("abc", "ab"), ("abc", "abcd"),
      ("abc", "add"), ("abc", "xyz"), ("", ""), ("", "a"), ("", "ab"),
      ("Customer#000000001", "Customer#000000002"),
      ("Customer#000000001", "Customer#000000011"),
      ("Customer#000000001", "Customer#100000002"),
      ("aaaaaaaaaa", "aaaaabaaaa"), ("aaaaaaaaaa", "bbbbbbbbbb"),
      ("short", "muchlongerstring")).toDF("a", "b")
    for (th <- Seq(1, 2)) {
      val got = pairs.select(col("a"), col("b"),
          levenshtein(col("a"), col("b")).as("plain"),
          levenshtein(col("a"), col("b"), th).as("thr"))
        .collect()
      got.foreach { r =>
        val (plain, thr) = (r.getInt(2), r.getInt(3))
        if (plain <= th) assert(thr == plain,
          s"${r.getString(0)}|${r.getString(1)} th=$th: $thr != $plain")
        else assert(thr == -1,
          s"${r.getString(0)}|${r.getString(1)} th=$th: expected -1, got $thr")
      }
    }
  }

  test("sortedNeighborhood idGate: gated pass == ungated pass filtered on " +
    "both endpoints (ranks computed over the FULL input), across range " +
    "partition counts") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Relational
    // sorted: aaa(1) aab(2) aac(4) aaz(5) zzz(3); gate keeps even ids.
    // Pair (2,4) is the only all-even window pair — and note rank
    // adjacency depends on ODD rows staying in the ranking: a gate that
    // (wrongly) filtered before ranking would bring aab..aaz within
    // window 1 of each other and change nothing here, so use window=1
    // where ungated ranks matter: under window=1 (2,4) are adjacent
    // ranks 2,3 — kept; (4, something even) has no even neighbor.
    val df = Seq((1L, "aaa"), (2L, "aab"), (3L, "zzz"), (4L, "aac"),
      (5L, "aaz")).toDF("cid", "c_name")
    val gate: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => c % 2 === 0
    for (nR <- Seq(1, 3)) {
      val ungated = Relational
        .sortedNeighborhood(df, "cid", "c_name", window = 2, maxDist = 1,
          nRanges = nR)
        .filter(col("id_a") % 2 === 0 && col("id_b") % 2 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
      val gated = Relational
        .sortedNeighborhood(df, "cid", "c_name", window = 2, maxDist = 1,
          nRanges = nR, idGate = Some(gate))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
      assert(gated == ungated, s"nRanges=$nR: $gated != $ungated")
      assert(gated == Set((2L, 4L, 1)), gated.toString)
    }
    // r17 ADVICE: the fixture above cannot catch a gate wrongly applied
    // BEFORE ranking (its two even ids are rank-adjacent in the full
    // ranking too). Here they are 2 full ranks apart with an odd row
    // between: full ranking aaa(2) aab(1) aac(4) zzz(3); under window=1
    // the correct gate-after-ranking yields NO pair, while gating
    // before ranking would collapse the evens to adjacent ranks and
    // wrongly emit (2, 4) — dist(aaa, aac) = 1 passes the confirm, so
    // only the rank distance keeps it out.
    val df1 = Seq((2L, "aaa"), (1L, "aab"), (4L, "aac"), (3L, "zzz"))
      .toDF("cid", "c_name")
    for (nR <- Seq(1, 3)) {
      val ungated1 = Relational
        .sortedNeighborhood(df1, "cid", "c_name", window = 1, maxDist = 1,
          nRanges = nR)
        .filter(col("id_a") % 2 === 0 && col("id_b") % 2 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
      val gated1 = Relational
        .sortedNeighborhood(df1, "cid", "c_name", window = 1, maxDist = 1,
          nRanges = nR, idGate = Some(gate))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
      assert(gated1 == ungated1, s"nRanges=$nR: $gated1 != $ungated1")
      assert(gated1.isEmpty,
        s"nRanges=$nR: pre-rank gating would emit (2,4); got $gated1")
    }
  }
}
