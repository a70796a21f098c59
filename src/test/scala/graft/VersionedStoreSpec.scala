package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.PartitionedStore
import JobCount.jobsIn

/** Versioned-snapshot semantics: atomic manifest publish, time travel,
  * append commits, orphan invisibility, vacuum. */
class VersionedStoreSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  private def df(ids: Range) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, s"row-$i")).toDF("id", "payload")
  }

  test("snapshot commits: each version is a full table; time travel reads any of them") {
    val path = Files.createTempDirectory("vstore").toString
    val v1 = PartitionedStore.commitVersion(df(0 until 3), path)
    val v2 = PartitionedStore.commitVersion(df(0 until 5), path)
    assert(v1 == 1L && v2 == 2L)
    assert(PartitionedStore.versions(path) == Seq(1L, 2L))
    assert(PartitionedStore.readVersion(spark, path, Some(1L)).count() == 3)
    assert(PartitionedStore.readVersion(spark, path, Some(2L)).count() == 5)
    assert(PartitionedStore.readVersion(spark, path).count() == 5, "latest wins by default")
  }

  test("append commits: write cost is the delta; old versions stay intact") {
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 3), path)
    val v2 = PartitionedStore.commitVersion(df(100 until 102), path, append = true)
    assert(PartitionedStore.readVersion(spark, path, Some(v2)).count() == 5)
    assert(PartitionedStore.readVersion(spark, path, Some(1L)).count() == 3,
      "time travel to the pre-append version")
    // the append's own data dir holds only the delta rows
    val dataDirs = Files.list(Paths.get(path, "data")).iterator()
    var n = 0
    dataDirs.forEachRemaining(_ => n += 1)
    assert(n == 2, "append adds one directory, not a rewrite")
  }

  test("restoreVersion: metadata-only rollback — restored head reads as " +
    "the old version, history stays readable, vacuum keeps restored dirs") {
    val path = Files.createTempDirectory("vstore").toString
    val v1 = PartitionedStore.commitVersion(df(0 until 3), path)
    val v2 = PartitionedStore.commitVersion(df(100 until 110), path,
      append = true)
    val v3 = PartitionedStore.restoreVersion(path, v1)
    assert(v3 == 3L)
    // head now reads as v1 did
    val head = PartitionedStore.readVersion(spark, path)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(head == (0L until 3L))
    // the rolled-back-over version is still time-travelable
    assert(PartitionedStore.readVersion(spark, path, Some(v2)).count() == 13)
    // v2's dirs are still referenced by its own manifest → vacuum keeps all
    assert(PartitionedStore.vacuum(path).isEmpty)
    // restore is an ordinary commit: appends continue on the restored head
    val v4 = PartitionedStore.commitVersion(df(200 until 201), path,
      append = true)
    assert(PartitionedStore.readVersion(spark, path, Some(v4))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 200L))
  }

  test("deleteRows: copy-on-write rewrite of ONLY the dirty dirs; clean " +
    "dirs survive by reference; time travel keeps pre-delete rows; " +
    "no-match is a no-op; NULL predicate rows are kept") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val path = Files.createTempDirectory("vstore").toString
    // v1 = stable bulk (ids 0-99), v2 appends churn (ids 100-109)
    PartitionedStore.commitVersion(df(0 until 100), path)
    PartitionedStore.commitVersion(df(100 until 110), path, append = true)
    val bulkDir = PartitionedStore.versionDirs(path, 1L)
    val churnDir = (PartitionedStore.versionDirs(path, 2L).toSet --
      bulkDir.toSet).toSeq
    // predicate matches only churn rows → only the churn dir rewrites
    val (v3, rewritten) = PartitionedStore.deleteRows(
      spark, path, col("id") >= 100L && col("id") % 2 === 0)
    assert(v3 == 3L && rewritten == churnDir,
      s"rewrite scope must be exactly the churn dir: $rewritten")
    val head = PartitionedStore.readVersion(spark, path)
    assert(head.count() == 105)
    assert(head.filter(col("id") >= 100L && col("id") % 2 === 0).isEmpty)
    // the stable bulk survives BY REFERENCE: same dir name in the new
    // manifest → its files were never rewritten, and the survivors dir
    // is the only new one
    val v3dirs = PartitionedStore.versionDirs(path, 3L)
    assert(bulkDir.forall(v3dirs.contains))
    assert((v3dirs.toSet -- bulkDir.toSet -- churnDir.toSet).size == 1)
    assert(!v3dirs.exists(churnDir.contains), "dirty dir left the manifest")
    // the rewrite plan read only the dirty dir: the head read's files
    // under the new dir hold exactly the churn survivors
    val newDir = (v3dirs.toSet -- bulkDir.toSet).head
    val newRows = spark.read.parquet(
      Paths.get(path, "data", newDir).toString)
    assert(newRows.count() == 5 &&
      newRows.filter(col("id") < 100L).isEmpty,
      "survivors dir must hold only the dirty dir's remaining rows")
    // pre-delete history still time-travels
    assert(PartitionedStore.readVersion(spark, path, Some(2L)).count() == 110)
    // no-match delete: no commit published, served version unchanged
    val (v4, none) = PartitionedStore.deleteRows(spark, path, col("id") > 9999L)
    assert(v4 == 3L && none.isEmpty &&
      PartitionedStore.versions(path) == Seq(1L, 2L, 3L))
    // NULL predicate rows are KEPT (DELETE WHERE three-valued logic):
    // a predicate that is NULL for even ids must delete only the odd matches
    val (v5, _) = PartitionedStore.deleteRows(spark, path,
      when(col("id") % 2 === 0, lit(null).cast("boolean"))
        .otherwise(col("id") === 101L))
    assert(v5 == 4L)
    val afterNull = PartitionedStore.readVersion(spark, path)
    assert(afterNull.count() == 104 &&
      afterNull.filter(col("id") === 101L).isEmpty &&
      !afterNull.filter(col("id") === 42L).isEmpty)
  }

  test("upsertRows: matched keys replaced wholesale, new keys inserted, " +
    "only dirty dirs rewrite; insert-only rewrites NOTHING; empty delta " +
    "is a no-op; time travel keeps pre-merge rows") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 100), path)
    PartitionedStore.commitVersion(df(100 until 110), path, append = true)
    val bulkDir = PartitionedStore.versionDirs(path, 1L)
    val churnDir = (PartitionedStore.versionDirs(path, 2L).toSet --
      bulkDir.toSet).toSeq
    // delta: update two churn keys, insert two fresh keys — dirty = churn only
    val delta = Seq((100L, "UPD-100"), (102L, "UPD-102"),
      (500L, "NEW-500"), (501L, "NEW-501")).toDF("id", "payload")
    val (v3, rewritten) = PartitionedStore.upsertRows(s, path, delta, "id")
    assert(v3 == 3L && rewritten == churnDir,
      s"merge scope must be exactly the churn dir: $rewritten")
    val head = PartitionedStore.readVersion(s, path)
    assert(head.count() == 112)
    assert(head.filter(col("id") === 100L).collect()(0)
      .getString(1) == "UPD-100", "matched key must serve the update row")
    assert(head.filter(col("id") === 500L).count() == 1)
    assert(head.filter(col("id") === 101L).collect()(0)
      .getString(1) == "row-101", "unmatched dirty-dir row must survive")
    val v3dirs = PartitionedStore.versionDirs(path, 3L)
    assert(bulkDir.forall(v3dirs.contains) &&
      !v3dirs.exists(churnDir.contains))
    // insert-only delta: no key matches → zero rewrites, pure delta append
    val (v4, noneRewritten) = PartitionedStore.upsertRows(s, path,
      Seq((600L, "NEW-600")).toDF("id", "payload"), "id")
    assert(v4 == 4L && noneRewritten.isEmpty)
    assert(v3dirs.forall(
      PartitionedStore.versionDirs(path, 4L).contains),
      "insert-only upsert must keep every standing dir by reference")
    // empty delta: no commit at all
    val (v5, n2) = PartitionedStore.upsertRows(s, path,
      df(0 until 0), "id")
    assert(v5 == 4L && n2.isEmpty &&
      PartitionedStore.versions(path) == Seq(1L, 2L, 3L, 4L))
    // pre-merge history still serves the original churn rows
    val old = PartitionedStore.readVersion(s, path, Some(2L))
    assert(old.count() == 110 && old.filter(col("id") === 100L)
      .collect()(0).getString(1) == "row-100")
  }

  test("a crash before manifest publish leaves the data invisible; vacuum reclaims it") {
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 3), path)
    // simulate a crashed commit: data directory with no manifest
    val orphan = Paths.get(path, "data", "v9-deadbeef")
    df(0 until 2).write.parquet(orphan.toString)
    assert(PartitionedStore.versions(path) == Seq(1L),
      "unpublished data must not surface as a version")
    assert(PartitionedStore.readVersion(spark, path).count() == 3)
    val removed = PartitionedStore.vacuum(path)
    assert(removed == Seq("v9-deadbeef"))
    assert(!Files.exists(orphan))
    assert(PartitionedStore.readVersion(spark, path).count() == 3, "live data untouched")
  }

  test("a concurrent committer that computed the same version FAILS instead of clobbering") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 3), path)
    // two writers race for v2: both read versions() before either
    // publishes (the data write in between is the wide window), so both
    // compute v=2 — exactly one may win; the loser must ERROR, not
    // silently replace the winner's manifest
    val attempts = Seq(df(0 until 400), df(400 until 800)).map(d =>
      Future(scala.util.Try(PartitionedStore.commitVersion(d, path))))
    val results = attempts.map(Await.result(_, 60.seconds))
    val (won, lost) = results.partition(_.isSuccess)
    if (lost.nonEmpty) { // the race materialized (overwhelmingly likely)
      assert(won.size == 1 && won.head.get == 2L)
      assert(lost.forall(_.failed.get.isInstanceOf[IllegalStateException]))
      assert(PartitionedStore.versions(path) == Seq(1L, 2L))
      // the winner's snapshot is intact — 400 rows, not the loser's
      assert(PartitionedStore.readVersion(spark, path).count() == 400)
      // the loser left only an invisible data dir; vacuum reclaims it
      assert(PartitionedStore.vacuum(path).length == 1)
      assert(PartitionedStore.readVersion(spark, path).count() == 400)
    } else { // threads serialized: both landed, as distinct versions
      assert(results.map(_.get).sorted == Seq(2L, 3L))
    }
  }

  test("rewrite commit (dropDirs) supersedes a parent dir; time travel still sees it") {
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 10), path)            // v1: bulk
    PartitionedStore.commitVersion(df(10 until 13), path, append = true) // v2: + churn
    val churnDir = (PartitionedStore.versionDirs(path, 2L).toSet --
      PartitionedStore.versionDirs(path, 1L).toSet).toSeq
    assert(churnDir.size == 1)
    val s = spark; import s.implicits._
    val rewritten = (10 until 13).map(i => (i.toLong, s"row-$i-edited")).toDF("id", "payload")
    val v3 = PartitionedStore.commitVersion(rewritten, path, append = true, dropDirs = churnDir)
    assert(v3 == 3L)
    val got = PartitionedStore.readVersion(spark, path, Some(3L))
    assert(got.count() == 13, "bulk + rewritten churn, no duplicates")
    assert(got.filter($"payload".endsWith("-edited")).count() == 3)
    assert(PartitionedStore.readVersion(spark, path, Some(2L))
      .filter($"payload".endsWith("-edited")).count() == 0,
      "the pre-rewrite version still reads the original churn dir")
    // dropping a dir the parent doesn't have fails loudly
    intercept[IllegalArgumentException] {
      PartitionedStore.commitVersion(df(0 until 1), path, append = true,
        dropDirs = Seq("no-such-dir"))
    }
    intercept[IllegalArgumentException] { // and so does dropDirs on a full snapshot
      PartitionedStore.commitVersion(df(0 until 1), path, dropDirs = churnDir)
    }
  }

  test("diffVersions reads ONLY manifest-delta dirs and classifies added/removed/changed") {
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 100), path)            // v1: bulk (shared)
    PartitionedStore.commitVersion(df(100 until 110), path, append = true) // v2: + churn
    val churnDir = (PartitionedStore.versionDirs(path, 2L).toSet --
      PartitionedStore.versionDirs(path, 1L).toSet).toSeq
    val s = spark; import s.implicits._
    // rewrite: ids 100-104 edited, 105-109 dropped, 200-201 added
    val delta = ((100 until 105).map(i => (i.toLong, s"row-$i-edited")) ++
      (200 until 202).map(i => (i.toLong, s"row-$i"))).toDF("id", "payload")
    PartitionedStore.commitVersion(delta, path, append = true, dropDirs = churnDir)
    val diff = PartitionedStore.diffVersions(spark, path, 2L, 3L, "id",
      org.apache.spark.sql.functions.md5(col("payload")))
    // THE scale pin: the diff's scans touch only the churn dir and the
    // delta dir — not one file of the 100-row bulk dir
    val bulkDir = PartitionedStore.versionDirs(path, 1L).head
    val scanned = diff.inputFiles.toSeq
    assert(scanned.nonEmpty && !scanned.exists(_.contains(bulkDir)),
      s"diff must never scan the shared bulk dir; scanned: $scanned")
    val expectedFiles = (churnDir ++ (PartitionedStore.versionDirs(path, 3L).toSet --
      PartitionedStore.versionDirs(path, 2L).toSet)).toSet
    assert(scanned.forall(f => expectedFiles.exists(f.contains)),
      "every scanned file lives in a manifest-delta dir")
    val got = diff.select($"id", $"op").as[(Long, String)].collect().toMap
    assert((100L until 105L).forall(got.get(_).contains("changed")))
    assert((105L until 110L).forall(got.get(_).contains("removed")))
    assert((200L until 202L).forall(got.get(_).contains("added")))
    assert(got.size == 12, "rows in the shared dir never surface")
    // degenerate cases: identical manifests → empty without reading data;
    // pure append → all added
    assert(PartitionedStore.diffVersions(spark, path, 3L, 3L, "id",
      org.apache.spark.sql.functions.md5(col("payload"))).count() == 0)
    PartitionedStore.commitVersion(df(300 until 303), path, append = true)
    val appendDiff = PartitionedStore.diffVersions(spark, path, 3L, 4L, "id",
      org.apache.spark.sql.functions.md5(col("payload")))
    assert(appendDiff.select($"op").distinct().as[String].collect().toSeq == Seq("added"))
    assert(appendDiff.count() == 3)
    // declared evolution: v5 adds a column, so v3 → v5 unions a dir
    // without `score` and one with it; the side that lacks it null-fills
    PartitionedStore.commitVersion(Seq((400L, "row-400", 7)).toDF("id", "payload", "score"),
      path, append = true, allowSchemaEvolution = true)
    val evolvedDiff = PartitionedStore.diffVersions(spark, path, 3L, 5L, "id",
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.concat_ws("|", col("payload"), col("score"))))
    assert(evolvedDiff.select($"id", $"op").as[(Long, String)].collect().toMap ==
      Map(300L -> "added", 301L -> "added", 302L -> "added", 400L -> "added"))
  }

  test("schemaDiff: added/removed/retyped/nullability columns between versions, metadata-only") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val path = java.nio.file.Files.createTempDirectory("vstore_sdiff").toString
    val v1 = PartitionedStore.commitVersion(
      Seq((1L, "a", 10)).toDF("id", "payload", "score"), path)
    val v2 = PartitionedStore.commitVersion(
      Seq((2L, "b", 1.5, true)).toDF("id", "payload", "score", "flag")
        .select(col("id"), col("payload"), col("score"), col("flag")), path)
    val diff = PartitionedStore.schemaDiff(spark, path, v1, v2)
    assert(diff.contains(("flag", "added", "", "boolean")))
    assert(diff.exists { case (c, ch, o, n) =>
      c == "score" && ch == "retyped" && o == "int" && n == "double" })
    assert(!diff.exists(_._1 == "payload")) // unchanged column not reported
    // dropping a column reports removed
    val v3 = PartitionedStore.commitVersion(
      Seq((3L, "c")).toDF("id", "payload"), path)
    val d23 = PartitionedStore.schemaDiff(spark, path, v2, v3)
    assert(d23.map(r => (r._1, r._2)).toSet ==
      Set(("flag", "removed"), ("score", "removed")))
    // identical versions: empty diff
    assert(PartitionedStore.schemaDiff(spark, path, v3, v3).isEmpty)
    // ---- the r12 schema gate: drift appends fail BEFORE publishing ----
    // (previously this very test CONSTRUCTED a poisoned version through
    // the public API — an appended drifting schema committed fine and
    // then crashed every readVersion; the gate makes that unreachable)
    val e1 = intercept[IllegalArgumentException] {
      PartitionedStore.commitVersion(
        Seq((4L, 7)).toDF("id", "score"), path, append = true)
    }
    assert(e1.getMessage.contains("drifts") &&
      e1.getMessage.contains("allowSchemaEvolution"), e1.getMessage)
    assert(PartitionedStore.versions(path).last == v3,
      "a refused append must publish nothing")
    // explicit evolution: commit succeeds, reads serve the union schema
    // with nulls for the side lacking the column
    val v4 = PartitionedStore.commitVersion(
      Seq((4L, 7)).toDF("id", "score"), path, append = true,
      allowSchemaEvolution = true)
    val served = PartitionedStore.readVersion(s, path, Some(v4))
    assert(served.columns.toSet == Set("id", "payload", "score"))
    assert(served.count() == 2) // v3's row + the evolved append's row
    assert(served.filter(col("id") === 3L)
      .select(col("score")).collect()(0).isNullAt(0),
      "pre-evolution rows null-fill the added column")
    assert(PartitionedStore.schemaDiff(spark, path, v3, v4)
      .exists(r => r._1 == "score" && r._2 == "added"))
    // a RETYPE refuses even under explicit evolution — no union can
    // serve two types under one name
    val e2 = intercept[IllegalArgumentException] {
      PartitionedStore.commitVersion(
        Seq((5L, 2.5)).toDF("id", "score"), path, append = true,
        parent = Some(v4), allowSchemaEvolution = true)
    }
    assert(e2.getMessage.contains("retypes"), e2.getMessage)
    // a version whose dirs DISAGREE on a column's type must still throw
    // loudly from schemaDiff (naming the column): unreachable through
    // commitVersion since the gate, but a legacy/hand-built manifest can
    // carry it, and an arbitrary fs.head pick would mask the retype
    Seq((9L, 2.5)).toDF("id", "score")
      .write.parquet(s"$path/data/vman-poison")
    val vNext = PartitionedStore.versions(path).last + 1
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_manifests", s"v$vNext.list"),
      (PartitionedStore.versionDirs(path, v4) :+ "vman-poison")
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e3 = intercept[IllegalArgumentException] {
      PartitionedStore.schemaDiff(spark, path, v3, vNext)
    }
    assert(e3.getMessage.contains("score") &&
      e3.getMessage.contains("conflicting types"), e3.getMessage)
  }

  test("headerless legacy parent (r12 ADVICE): the gate derives the served " +
    "schema from parent-dir footers instead of silently skipping — a " +
    "drifting append fails loudly, a clean append records the header") {
    val s = spark; import s.implicits._
    val path = Files.createTempDirectory("vstore").toString
    // hand-built pre-header store: data dir + manifest with NO #schema line
    Seq((1L, "a")).toDF("id", "payload")
      .write.parquet(s"$path/data/legacy-dir")
    Files.createDirectories(Paths.get(path, "_manifests"))
    Files.write(Paths.get(path, "_manifests", "v1.list"),
      "legacy-dir".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(PartitionedStore.manifestSchema(path, 1L).isEmpty)
    // r12 behavior: this published silently and read null-filled; now loud
    val e = intercept[IllegalArgumentException] {
      PartitionedStore.commitVersion(
        Seq((2L, 5)).toDF("id", "score"), path, append = true)
    }
    assert(e.getMessage.contains("drifts"), e.getMessage)
    assert(PartitionedStore.versions(path) == Seq(1L),
      "the refused append must publish nothing")
    // retype against the footer-derived schema is equally fatal
    val e2 = intercept[IllegalArgumentException] {
      PartitionedStore.commitVersion(
        Seq((2L, 7)).toDF("id", "payload"), path, append = true)
    }
    assert(e2.getMessage.contains("retypes"), e2.getMessage)
    // a clean append passes and RECORDS the derived header — the footer
    // pass is paid once, never again
    val v2 = PartitionedStore.commitVersion(
      Seq((2L, "b")).toDF("id", "payload"), path, append = true)
    assert(PartitionedStore.manifestSchema(path, v2).exists(
      _.map(_.name).toSet == Set("id", "payload")))
    assert(PartitionedStore.readVersion(s, path, Some(v2)).count() == 2)
  }

  test("removal evolution settles (r12 ADVICE): the narrower delta shape " +
    "is declared once; later narrow appends pass WITHOUT the flag, " +
    "served reads keep the removed column, rewrites of the full served " +
    "shape also pass, a third shape still trips the gate") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(
      Seq((1L, "a", 10)).toDF("id", "payload", "score"), path)
    // removal evolution: drop `score` going forward
    val v2 = PartitionedStore.commitVersion(
      Seq((2L, "b")).toDF("id", "payload"), path, append = true,
      allowSchemaEvolution = true)
    // served header keeps the removed column (old dir carries values);
    // the settled line records the narrow forward shape
    assert(PartitionedStore.manifestSchema(path, v2).exists(
      _.map(_.name).toSet == Set("id", "payload", "score")))
    assert(PartitionedStore.manifestSchema(path, v2, "append_schema").exists(
      _.map(_.name).toSet == Set("id", "payload")))
    // r12 behavior: this next narrow append re-tripped the gate forever
    val v3 = PartitionedStore.commitVersion(
      Seq((3L, "c")).toDF("id", "payload"), path, append = true)
    val served = PartitionedStore.readVersion(s, path, Some(v3))
    assert(served.columns.toSet == Set("id", "payload", "score"))
    assert(served.filter(col("id") === 1L)
      .select(col("score")).collect()(0).getInt(0) == 10,
      "old rows keep their removed-column values")
    assert(served.filter(col("id") === 3L)
      .select(col("score")).collect()(0).isNullAt(0))
    // the settled line carries forward across plain appends
    assert(PartitionedStore.manifestSchema(path, v3, "append_schema").isDefined)
    // a rewrite producing the full SERVED shape (compaction) passes too
    val v4 = PartitionedStore.compactVersion(s, path)
    assert(PartitionedStore.readVersion(s, path, Some(v4)).count() == 3)
    assert(PartitionedStore.manifestSchema(path, v4, "append_schema").exists(
      _.map(_.name).toSet == Set("id", "payload")),
      "compaction must not un-settle the declared delta shape")
    // ...so a narrow append STILL passes after compaction
    val v5 = PartitionedStore.commitVersion(
      Seq((4L, "d")).toDF("id", "payload"), path, append = true)
    assert(PartitionedStore.readVersion(s, path, Some(v5)).count() == 4)
    // a THIRD shape is genuine drift and still trips the gate
    intercept[IllegalArgumentException] {
      PartitionedStore.commitVersion(
        Seq((5L, "x")).toDF("id", "other"), path, append = true)
    }
  }

  test("schema header survives every rewrite verb (r12 verdict #6): " +
    "upsert/delete/compact republishes carry #schema=, and a " +
    "pre-evolution reader still unions post-compaction") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 6), path)
    // addition evolution, then exercise all three rewrite verbs
    val v2 = PartitionedStore.commitVersion(
      Seq((100L, "n", 1)).toDF("id", "payload", "score"), path,
      append = true, allowSchemaEvolution = true)
    val (v3, _) = PartitionedStore.upsertRows(s, path,
      Seq((0L, "edited", 2)).toDF("id", "payload", "score"), "id")
    val (v4, _) = PartitionedStore.deleteRows(s, path, col("id") === 1L)
    val v5 = PartitionedStore.compactVersion(s, path)
    Seq(v2, v3, v4, v5).foreach { v =>
      assert(PartitionedStore.manifestSchema(path, v).isDefined,
        s"version $v lost the #schema header through a rewrite")
    }
    assert(PartitionedStore.manifestSchema(path, v5).exists(
      _.map(_.name).toSet == Set("id", "payload", "score")))
    // evolution × compaction: a reader pinned to the PRE-evolution
    // version still reads the original schema after every rewrite...
    val pre = PartitionedStore.readVersion(s, path, Some(1L))
    assert(pre.columns.toSet == Set("id", "payload") && pre.count() == 6)
    // ...and the compacted head serves the evolved union with the
    // upsert applied and the delete gone
    val head = PartitionedStore.readVersion(s, path, Some(v5))
    assert(head.count() == 6) // 6 - deleted(1) + appended(1)
    assert(head.filter(col("id") === 0L)
      .select(col("payload")).collect()(0).getString(0) == "edited")
    assert(head.filter(col("id") === 1L).isEmpty)
    // an upsert delta matching NEITHER declared shape fails loudly
    // before any union can null-fill it into the store
    val eUp = intercept[IllegalArgumentException] {
      PartitionedStore.upsertRows(s, path,
        Seq((2L, "zzz")).toDF("id", "other"), "id")
    }
    assert(eUp.getMessage.contains("neither the served"), eUp.getMessage)
  }

  test("truncating history then vacuuming reclaims unreferenced snapshot dirs") {
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 3), path)
    PartitionedStore.commitVersion(df(0 until 5), path) // full snapshot: v1's dir now unshared
    Files.delete(Paths.get(path, "_manifests", "v1.list"))
    val removed = PartitionedStore.vacuum(path)
    assert(removed.length == 1 && removed.head.startsWith("v1-"))
    assert(PartitionedStore.readVersion(spark, path).count() == 5)
  }

  test("vacuumComposite: a reader pinned pre-compaction survives vacuum; only explicit truncation drops it") {
    val base = Files.createTempDirectory("vstore_comp").toString
    val comp = s"$base/t"
    // generation 1: v1 snapshot; generation 2: v2 = v1 + append (shares
    // v1's dir); generation 3: v3 = compaction of v2 (fresh dir only)
    val v1 = PartitionedStore.commitVersion(df(0 until 3), comp)
    val c1 = PartitionedStore.publishComposite(base, Map("t" -> v1))
    val v2 = PartitionedStore.commitVersion(df(3 until 5), comp,
      append = true, parent = Some(v1))
    val c2 = PartitionedStore.publishComposite(base, Map("t" -> v2))
    val v3 = PartitionedStore.compactVersion(spark, comp, version = Some(v2))
    val c3 = PartitionedStore.publishComposite(base, Map("t" -> v3))
    // the reader's pin is its generation: resolve c2 BEFORE any retention
    val pinned = PartitionedStore.readComposite(base, Some(c2))
    // retention up to the pinned generation: c1 truncates, c2/c3 stay.
    // v1 is pinned ONLY by dropped c1 — its manifest goes — but its DIR
    // must survive: kept v2's manifest still references it (copy-on-write)
    PartitionedStore.vacuumComposite(base, keepFrom = c2)
    assert(PartitionedStore.compositeVersions(base) == Seq(c2, c3))
    assert(!PartitionedStore.versions(comp).contains(v1)) // manifest truncated
    assert(PartitionedStore
      .readVersion(spark, comp, Some(pinned("t"))).count() == 5) // reader intact
    // compact + vacuum NEVER broke the pre-compaction reader; only the
    // explicit cutoff at c3 truncates it — and reclaims v2's two dirs
    val removed = PartitionedStore.vacuumComposite(base, keepFrom = c3)
    assert(removed("t").length == 2) // v1's shared dir + v2's append dir
    assert(intercept[IllegalArgumentException] {
      PartitionedStore.readVersion(spark, comp, Some(pinned("t")))
    }.getMessage.contains("version"))
    assert(PartitionedStore.readVersion(spark, comp, Some(v3)).count() == 5)
    // refuse-guard: a version pinned by both a dropped AND a kept
    // generation keeps its manifest and dirs
    val c4 = PartitionedStore.publishComposite(base, Map("t" -> v3)) // re-pins v3
    PartitionedStore.vacuumComposite(base, keepFrom = c4)            // drops c3
    assert(PartitionedStore.versions(comp).contains(v3))
    assert(PartitionedStore.readVersion(spark, comp, Some(v3)).count() == 5)
  }

  private def ids(frame: org.apache.spark.sql.DataFrame): Seq[Long] =
    frame.collect().map(_.getLong(0)).toSeq.sorted

  test("readVersion resolves each data dir once: a repeat read launches no " +
    "job, and a read after one more append launches exactly one") {
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 3), path)
    (1 to 3).foreach(r =>
      PartitionedStore.commitVersion(df(r * 10 until r * 10 + 2), path, append = true))
    assert(PartitionedStore.versionDirs(path, 4L).size == 4)
    PartitionedStore.readVersion(spark, path, Some(4L))
    val (again, repeatJobs) = jobsIn(spark)(PartitionedStore.readVersion(spark, path, Some(4L)))
    assert(repeatJobs == 0, "all four dirs are already resolved")
    assert(again.count() == 9)
    PartitionedStore.commitVersion(df(40 until 42), path, append = true)
    val (next, appendJobs) = jobsIn(spark)(PartitionedStore.readVersion(spark, path))
    assert(appendJobs == 1, "only the appended dir is new")
    assert(ids(next) == ids(again) ++ Seq(40L, 41L))
  }

  test("readVersion: a table deleted and rebuilt at the same path serves " +
    "only the new rows") {
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 3), path)
    assert(ids(PartitionedStore.readVersion(spark, path)) == Seq(0L, 1L, 2L))
    Files.walk(Paths.get(path)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    assert(PartitionedStore.commitVersion(df(10 until 12), path) == 1L,
      "the rebuilt table restarts at version 1")
    assert(ids(PartitionedStore.readVersion(spark, path)) == Seq(10L, 11L))
  }

  test("readVersion: a join of two reads of one version, or of a version " +
    "and the next, on using-columns equals the same join over unmemoized reads") {
    val path = Files.createTempDirectory("vstore").toString
    PartitionedStore.commitVersion(df(0 until 6), path)
    val v = PartitionedStore.commitVersion(df(3 until 9), path, append = true)
    val next = PartitionedStore.commitVersion(df(6 until 9), path, append = true)
    def raw(version: Long) = PartitionedStore.versionDirs(path, version)
      .map(d => spark.read.parquet(Paths.get(path, "data", d).toString))
      .reduce(_.unionByName(_))
    def read(version: Long) = PartitionedStore.readVersion(spark, path, Some(version))
    def rows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.filter(org.apache.spark.sql.functions.col("id") % 2 === 0)
        .join(b, Seq("id")).collect().map(_.toString).toSeq.sorted
    val same = rows(read(v), read(v))
    assert(same == rows(raw(v), raw(v)))
    assert(same.size == 8, "ids 3, 4 and 5 sit in both dirs: 0, 2, 6, 8 once and 4 four times")
    val pair = rows(read(v), read(next))
    assert(pair == rows(raw(v), raw(next)))
    assert(pair.size == 10, "the next version holds 6 and 8 twice")
  }

  test("zorderScan reads through the store memo: a repeat scan launches no " +
    "job, and a zorderWrite rewrite of the same path is seen by the next scan") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("zorder").toString + "/store"
    def write(n: Int): Unit = PartitionedStore.zorderWrite(
      (0 until n).map(i => (i.toLong, (i % 10).toDouble, (i / 10).toDouble)).toDF("id", "x", "y"),
      dir, "x", "y", 0.0, 10.0, 0.0, 10.0, bits = 4, prefixBits = 2)
    def scan = PartitionedStore.zorderScan(spark, dir, "x", "y",
      0.0, 10.0, 0.0, 10.0, 0.0, 9.0, 0.0, 9.0, bits = 4, prefixBits = 2)
    write(50)
    assert(scan.count() == 50)
    val (again, jobs) = jobsIn(spark)(scan)
    assert(jobs == 0, "the layout is unchanged since the last scan")
    assert(again.count() == 50)
    write(100)
    assert(scan.count() == 100)
  }
}
