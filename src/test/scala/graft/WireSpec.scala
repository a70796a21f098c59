package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LocalFs, PartitionedStore, Wire}
import JobCount.jobsIn

/** Wire bronze→silver golden semantics (FIXTURES.md §1) + partitioned
  * store with retention (S12/T12). */
class WireSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = LocalSession(2)

  test("silverPriceOverview: golden EUR row parses (0.03, 0.01, 435, EUR)") {
    val s = spark
    import s.implicits._
    val raw = Seq((1, """{"success":true,"lowest_price":"0,03€","median_price":"0,01€","volume":"435"}"""))
      .toDF("id", "payload")
    val r = Wire.silverPriceOverview(Wire.bronze(raw, Wire.priceOverviewWire)).collect()(0)
    assert(r.getBoolean(1))
    assert(r.getDouble(2) == 0.03 && r.getDouble(3) == 0.01)
    assert(r.getInt(4) == 435 && r.getString(5) == "EUR")
  }

  test("silverOrdersHistogram: minor-units trap — scalar bid '3' is 0.03, not 3.0") {
    val s = spark
    import s.implicits._
    val raw = Seq((1,
      """{"success":1,"buy_order_count":"1","buy_order_table":[{"price":"0,03€","quantity":"2"}],""" +
      """"highest_buy_order":"3","price_suffix":"€"}""")).toDF("id", "payload")
    val r = Wire.silverOrdersHistogram(Wire.bronze(raw, Wire.ordersHistogramWire)).collect()(0)
    assert(r.getDouble(r.fieldIndex("highest_buy_order")) == 0.03)
    // the order-TABLE price stays a raw locale string (F1 territory, not F2)
    assert(r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("buy_order_table"))
      .head.getString(0) == "0,03€")
    assert(r.getString(r.fieldIndex("currency")) == "EUR")
  }

  test("activityEvents: count invariant + response-level timestamp stamping") {
    val s = spark
    import s.implicits._
    val html = "<span class=\"market_activity_cell market_activity_price \">0,85€</span>" +
      "<span class=\"market_activity_action\">Purchased</span>"
    val raw = Seq((1, s"""{"success":1,"activity":[${"\"" + html.replace("\"", "\\\"") + "\""},"<div>junk</div>"],"timestamp":1765687694}"""))
      .toDF("id", "payload")
    val silver = Wire.silverOrdersActivity(Wire.bronze(raw, Wire.ordersActivityWire))
    val sr = silver.collect()(0)
    assert(sr.getInt(sr.fieldIndex("activity_count")) == 2)
    val evs = Wire.activityEvents(silver).orderBy("ord").collect()
    assert(evs.length == 2)
    assert(evs(0).getDouble(2) == 0.85 && evs(0).getString(3) == "EUR")
    assert(evs(0).getString(4) == "Purchased")
    assert(evs(0).getTimestamp(5).getTime == 1765687694000L)
    assert(evs(1).isNullAt(2)) // junk line: kept, price null
  }

  test("partitioned store: append clustered, prune on read, retention drops old partitions") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    val rows = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      ("b", java.sql.Timestamp.valueOf("2024-01-15 10:00:00"), 2.0),
      ("a", java.sql.Timestamp.valueOf("2024-02-01 10:00:00"), 3.0)
    ).toDF("name", "time", "price")
    PartitionedStore.append(rows, dir, "time", "name")
    // partition pruning: physical plan carries a PartitionFilters entry
    val pruned = PartitionedStore.read(s, dir).filter(col(PartitionedStore.DateCol) === "2024-01-01")
    assert(pruned.count() == 1)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // retention: keep 30 days from 2024-02-10 → drops 2024-01-01 only
    val dropped = PartitionedStore.dropExpired(dir, 30, java.time.LocalDate.parse("2024-02-10"))
    assert(dropped == Seq("p_date=2024-01-01"))
    assert(PartitionedStore.read(s, dir).count() == 2)
  }


  test("clustering pays: a per-key scan row-group-skips most of a sorted file") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rg").toString + "/t"
    // one 100k-row file, sorted by key, tiny row groups → many groups,
    // each covering a narrow key range (the segmentby-compression analog)
    val n = 100000
    (0 until n).map(i => (f"k${i / 1000}%03d", i.toLong))
      .toDF("name", "v")
      .coalesce(1).sortWithinPartitions("name")
      .write.option("parquet.block.size", 64 * 1024).parquet(dir)
    val q = s.read.parquet(dir).filter(col("name") === "k042")
    assert(q.count() == 1000)
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    val emitted = scan.metrics("numOutputRows").value
    assert(emitted < n / 5,
      s"min/max row-group stats must skip most groups: scan emitted $emitted of $n")
  }

  test("overwritePartitions: reprocessing a day replaces it without touching others") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dyn").toString
    val day1 = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
      .toDF("name", "time", "price")
    val day2 = Seq(("a", java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2.0))
      .toDF("name", "time", "price")
    PartitionedStore.append(day1, dir, "time", "name")
    PartitionedStore.append(day2, dir, "time", "name")
    // reprocess day 2 with corrected data — day 1 must survive, day 2 replaced
    val day2fix = Seq(("a", java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2.5))
      .toDF("name", "time", "price")
    PartitionedStore.overwritePartitions(day2fix, dir, "time", "name")
    val out = PartitionedStore.read(s, dir).orderBy("time").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("price") == 1.0)
    assert(out(1).getAs[Double]("price") == 2.5)
  }

  test("compact: many-file partition rewritten to few files, quiet partition untouched, rows identical") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // 12 tiny appends land 12 files in day 1; day 2 gets one quiet append
    (1 to 12).foreach { i =>
      PartitionedStore.append(
        Seq((s"k${i % 3}", java.sql.Timestamp.valueOf(f"2024-01-01 10:$i%02d:00"), i.toDouble))
          .toDF("name", "time", "price"), dir, "time", "name")
    }
    PartitionedStore.append(
      Seq(("a", java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 99.0))
        .toDF("name", "time", "price"), dir, "time", "name")
    def files(day: String) = new java.io.File(s"$dir/p_date=$day")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val day2Before = new java.io.File(s"$dir/p_date=2024-01-02")
      .listFiles().map(_.getName).toSet
    assert(files("2024-01-01") == 12)
    val before = PartitionedStore.read(s, dir).collect().toSet
    val done = PartitionedStore.compact(s, dir, "name", "time",
      maxFiles = 8, targetRowsPerFile = 1000000L)
    assert(done == Seq("p_date=2024-01-01"))
    assert(files("2024-01-01") == 1) // 12 rows « target → one file
    // quiet partition byte-untouched (same file names)
    assert(new java.io.File(s"$dir/p_date=2024-01-02")
      .listFiles().map(_.getName).toSet == day2Before)
    assert(PartitionedStore.read(s, dir).collect().toSet == before)
    // idempotent: a second pass finds nothing over the threshold
    assert(PartitionedStore.compact(s, dir, "name", "time", 8).isEmpty)
  }

  test("compact: crash-recovery — stale .compact ignored, orphaned .trash restored") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_crash").toString
    (1 to 10).foreach { i =>
      PartitionedStore.append(
        Seq((s"k${i % 3}", java.sql.Timestamp.valueOf(f"2024-03-01 10:$i%02d:00"), i.toDouble))
          .toDF("name", "time", "price"), dir, "time", "name")
    }
    val before = PartitionedStore.read(s, dir).collect().toSet
    val root = java.nio.file.Paths.get(dir)
    val part = root.resolve("p_date=2024-03-01")
    // crash A: rewrite finished but swap never started → stale .compact
    val staleCompact = root.resolve(".p_date=2024-03-01.compact")
    java.nio.file.Files.createDirectory(staleCompact)
    java.nio.file.Files.writeString(staleCompact.resolve("junk.txt"), "stale")
    // crash B: original moved to .trash, rewrite never moved in → dir gone
    val trash = root.resolve(".p_date=2024-03-01.trash")
    java.nio.file.Files.move(part, trash)
    assert(!java.nio.file.Files.exists(part)) // the reader-visible gap
    val done = PartitionedStore.compact(s, dir, "name", "time",
      maxFiles = 8, targetRowsPerFile = 1000000L)
    assert(done == Seq("p_date=2024-03-01")) // restored, then compacted
    assert(PartitionedStore.read(s, dir).collect().toSet == before) // no rows lost
    // hidden siblings all reclaimed
    assert(!java.nio.file.Files.exists(staleCompact))
    assert(!java.nio.file.Files.exists(trash))
  }

  private def storeRows(day: String, prices: Double*) = {
    val s = spark
    import s.implicits._
    prices.zipWithIndex.map { case (p, i) =>
      ("a", java.sql.Timestamp.valueOf(f"$day 10:$i%02d:00"), p)
    }.toDF("name", "time", "price")
  }

  private def storePrices(dir: String): Seq[Double] =
    PartitionedStore.read(spark, dir).orderBy("time", "price").collect()
      .map(_.getAs[Double]("price")).toSeq

  private def logFiles(dir: String): Int =
    Option(new java.io.File(s"$dir/_store_log").list()).fold(0)(_.length)

  test("store read: a second read of an unchanged store is the memoized " +
    "frame and launches no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_memo").toString
    PartitionedStore.append(storeRows("2024-01-01", 1.0, 2.0), dir, "time", "name")
    val (first, coldJobs) = jobsIn(spark)(PartitionedStore.read(spark, dir))
    assert(coldJobs >= 1, "a fresh resolve infers the schema with a job")
    val (second, jobs) = jobsIn(spark)(PartitionedStore.read(spark, dir))
    assert(second eq first)
    assert(jobs == 0)
    assert(second.count() == 2)
  }

  test("store read: every store writer publishes a version the next read " +
    "sees (append, overwritePartitions, dropExpired, compact and its " +
    ".trash recovery); a no-op drop or compact publishes nothing; a store " +
    "rebuilt at the same path is read afresh") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_ver").toString
    PartitionedStore.append(storeRows("2024-01-01", 1.0), dir, "time", "name")
    assert(storePrices(dir) == Seq(1.0))
    PartitionedStore.append(storeRows("2024-01-02", 2.0), dir, "time", "name")
    assert(storePrices(dir) == Seq(1.0, 2.0))
    PartitionedStore.overwritePartitions(storeRows("2024-01-02", 2.5), dir, "time", "name")
    assert(storePrices(dir) == Seq(1.0, 2.5))
    (1 to 3).foreach(i =>
      PartitionedStore.append(storeRows("2024-01-03", 3.0 + i), dir, "time", "name"))
    assert(storePrices(dir) == Seq(1.0, 2.5, 4.0, 5.0, 6.0))
    // the rewrite deletes the files the memoized frame lists: a read
    // that missed the new version would fail on a missing file
    assert(PartitionedStore.compact(spark, dir, "name", "time", maxFiles = 2) ==
      Seq("p_date=2024-01-03"))
    assert(storePrices(dir) == Seq(1.0, 2.5, 4.0, 5.0, 6.0))
    val v = PartitionedStore.storeVersion(dir)
    assert(PartitionedStore.compact(spark, dir, "name", "time", maxFiles = 2).isEmpty)
    assert(PartitionedStore.dropExpired(dir, 30, java.time.LocalDate.parse("2024-01-03")).isEmpty)
    assert(PartitionedStore.storeVersion(dir) == v, "a no-op must not publish")
    // a partition left in .trash by a crashed swap is restored: restore
    // alone (nothing over maxFiles) publishes
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.move(root.resolve("p_date=2024-01-02"),
      root.resolve(".p_date=2024-01-02.trash"))
    PartitionedStore.append(storeRows("2024-01-04", 7.0), dir, "time", "name")
    assert(storePrices(dir) == Seq(1.0, 4.0, 5.0, 6.0, 7.0))
    assert(PartitionedStore.compact(spark, dir, "name", "time", maxFiles = 8).isEmpty)
    assert(PartitionedStore.storeVersion(dir).exists(_ > v.get + 1))
    assert(storePrices(dir) == Seq(1.0, 2.5, 4.0, 5.0, 6.0, 7.0))
    assert(PartitionedStore.dropExpired(dir, 1, java.time.LocalDate.parse("2024-01-03")) ==
      Seq("p_date=2024-01-01"))
    assert(storePrices(dir) == Seq(2.5, 4.0, 5.0, 6.0, 7.0))
    // a store deleted and rebuilt at the same path is a new store
    val tree = java.nio.file.Files.walk(root)
    try tree.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.delete(p))
    finally tree.close()
    PartitionedStore.append(storeRows("2024-01-05", 8.0), dir, "time", "name")
    assert(storePrices(dir) == Seq(8.0))
  }

  test("store read: a path without a marker is keyed by its file listing: " +
    "an unchanged path reads the same frame with no job, and a plain " +
    "spark.write append into it shows on the next read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_plain").toString + "/t"
    storeRows("2024-01-01", 1.0).write.parquet(dir)
    assert(storePrices(dir) == Seq(1.0))
    val first = PartitionedStore.read(spark, dir)
    val (second, jobs) = jobsIn(spark)(PartitionedStore.read(spark, dir))
    assert(second eq first)
    assert(jobs == 0)
    storeRows("2024-01-02", 2.0).write.mode("append").parquet(dir)
    assert(storePrices(dir) == Seq(1.0, 2.0))
    assert(PartitionedStore.storeVersion(dir).isEmpty, "a read never publishes")
    intercept[org.apache.spark.sql.AnalysisException](PartitionedStore.read(spark, s"$dir-missing"))
  }

  test("store log: two threads appending concurrently land every row, " +
    "racing publishers never share a version, and the log holds at most " +
    "2 markers after 50 appends") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_race").toString
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def racing(n: Int)(body: Int => Unit) = {
      val ts = Seq(0, 1).map(t => new Thread(() =>
        try (0 until n).foreach(_ => body(t)) catch { case e: Throwable => errors.add(e) }))
      ts.foreach(_.start()); ts.foreach(_.join(120000))
      assert(errors.isEmpty, String.valueOf(errors.peek()))
    }
    val next = Array(0, 0)
    racing(25) { t =>
      PartitionedStore.append(storeRows("2024-01-01", t * 100.0 + next(t)), dir, "time", "name")
      next(t) += 1
    }
    assert(storePrices(dir).sorted ==
      ((0 until 25).map(_.toDouble) ++ (0 until 25).map(100.0 + _)))
    assert(logFiles(dir) <= 2, s"${logFiles(dir)} markers")
    // publishers racing on one log: every published version is distinct
    val log = java.nio.file.Files.createTempDirectory("graft_store_pub").toString
    val claimed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    racing(100)(_ => claimed.add(PartitionedStore.publish(log)))
    val vs = claimed.toArray.toSeq.map(_.asInstanceOf[Long])
    assert(vs.size == 200 && vs.distinct.size == 200)
    assert(PartitionedStore.storeVersion(log) == Some(vs.max))
    assert(logFiles(log) <= 2)
  }

  test("store listings close their streams: 200 reads and 200 versions() " +
    "calls leave the open-descriptor count unchanged") {
    val fds = java.nio.file.Paths.get("/proc/self/fd")
    assume(java.nio.file.Files.isDirectory(fds), "needs /proc/self/fd")
    def open(): Long = { val st = java.nio.file.Files.list(fds); try st.count() finally st.close() }
    val dir = java.nio.file.Files.createTempDirectory("graft_store_fd").toString
    PartitionedStore.append(storeRows("2024-01-01", 1.0), dir, "time", "name")
    val table = java.nio.file.Files.createTempDirectory("graft_store_fdv").toString + "/t"
    PartitionedStore.commitVersion(storeRows("2024-01-01", 1.0), table)
    PartitionedStore.read(spark, dir); PartitionedStore.versions(table)
    val before = open()
    (1 to 200).foreach { _ =>
      PartitionedStore.read(spark, dir)
      PartitionedStore.versions(table)
    }
    // an unclosed listing holds two descriptors, so a leak would add 800
    assert(open() == before)
  }

  // ---- LocalFs: Hadoop's local file system without a fork per file ----

  private val fileUri = java.net.URI.create("file:///")

  private def initialized[F <: org.apache.hadoop.fs.FileSystem](fs: F): F = {
    fs.initialize(fileUri, new org.apache.hadoop.conf.Configuration()); fs
  }

  private def fileContext(afs: Option[String]): org.apache.hadoop.fs.FileContext = {
    val conf = new org.apache.hadoop.conf.Configuration()
    afs.foreach(conf.set(LocalFs.contextKey._1, _))
    org.apache.hadoop.fs.FileContext.getFileContext(fileUri, conf)
  }

  private def mode(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      java.nio.file.Files.getPosixFilePermissions(p))

  /** Bytes and mode of every file and directory under `root`, by
    * relative path. */
  private def tree(root: java.nio.file.Path): Map[String, (Seq[Byte], String)] = {
    val st = java.nio.file.Files.walk(root)
    try st.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> (
        if (java.nio.file.Files.isDirectory(p)) Seq.empty[Byte]
        else java.nio.file.Files.readAllBytes(p).toSeq, mode(p))
    }.toMap finally st.close()
  }

  test("LocalFs: files and directories written through it have the bytes, " +
    ".crc side files and mode bits (0644 / 0755 under umask 022) of " +
    "Hadoop's default local FileSystem and FileContext") {
    import org.apache.hadoop.fs.{CreateFlag, LocalFileSystem, Options, Path}
    // 3000 bytes span several 512-byte checksum chunks
    val bytes = Array.tabulate[Byte](3000)(i => (i * 31 + 7).toByte)
    def viaFs(fs: org.apache.hadoop.fs.FileSystem, root: java.nio.file.Path): Unit = {
      val out = fs.create(new Path(s"$root/a/b/part-0.bin"))
      try out.write(bytes) finally out.close()
    }
    def viaContext(fc: org.apache.hadoop.fs.FileContext, root: java.nio.file.Path): Unit = {
      fc.mkdir(new Path(s"$root/offsets"),
        org.apache.hadoop.fs.permission.FsPermission.getDirDefault, true)
      val out = fc.create(new Path(s"$root/offsets/0"),
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
      try out.write(bytes) finally out.close()
    }
    def written(write: java.nio.file.Path => Unit) = {
      val root = java.nio.file.Files.createTempDirectory("graft_localfs")
      write(root); tree(root)
    }
    val stockFs = written(viaFs(initialized(new LocalFileSystem()), _))
    val ours = written(viaFs(initialized(new LocalFs.Checksummed), _))
    assert(stockFs.keySet == Set("a", "a/b", "a/b/part-0.bin", "a/b/.part-0.bin.crc"))
    assert(ours == stockFs)
    assert(ours("a/b/part-0.bin")._1 == bytes.toSeq)
    assert(ours("a/b/part-0.bin")._2 == "rw-r--r--" && ours("a/b")._2 == "rwxr-xr-x")
    val stockFc = written(viaContext(fileContext(None), _))
    val oursFc = written(viaContext(fileContext(Some(LocalFs.contextKey._2)), _))
    assert(stockFc.keySet == Set("offsets", "offsets/0", "offsets/.0.crc"))
    assert(oursFc == stockFc)
    assert(oursFc("offsets/0")._2 == "rw-r--r--" && oursFc("offsets")._2 == "rwxr-xr-x")
  }

  test("LocalFs: a FileContext rename with OVERWRITE replaces an existing " +
    "file, a symlink's status still comes from Hadoop's own code, and a " +
    "missing path throws FileNotFoundException") {
    import org.apache.hadoop.fs.{Options, Path, RawLocalFileSystem}
    val fc = fileContext(Some(LocalFs.contextKey._2))
    assert(fc.getDefaultFileSystem.getClass == classOf[LocalFs.Context])
    val root = java.nio.file.Files.createTempDirectory("graft_localfs_rn")
    def put(name: String, text: String): Path = {
      val p = new Path(s"$root/$name")
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try out.write(text.getBytes("UTF-8")) finally out.close()
      p
    }
    val (tmp, dst) = (put(".1.tmp", "new"), put("1", "old"))
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    assert(tree(root).keySet == Set("1", ".1.crc"))
    assert(new String(java.nio.file.Files.readAllBytes(root.resolve("1")), "UTF-8") == "new")

    val target = root.resolve("1")
    val link = java.nio.file.Files.createSymbolicLink(root.resolve("link"), target)
    val stock = initialized(new RawLocalFileSystem())
    val raw = initialized(new LocalFs.Raw)
    def status(fs: RawLocalFileSystem, p: java.nio.file.Path) = {
      val st = fs.getFileLinkStatus(new Path(p.toString))
      (st.getPath, st.isSymlink, if (st.isSymlink) st.getSymlink else null, st.getLen)
    }
    assert(status(raw, link) == status(stock, link))
    assert(status(raw, link)._2, "the link reads as a link")
    assert(status(raw, target) == status(stock, target))
    val missing = new Path(s"$root/missing")
    intercept[java.io.FileNotFoundException](raw.getFileLinkStatus(missing))
    intercept[java.io.FileNotFoundException](raw.getFileStatus(missing))
    intercept[java.io.FileNotFoundException](fc.getFileLinkStatus(missing))
  }

  test("LocalFs: on a session whose conf carries none of its keys, a store " +
    "append writes with graft's FileSystem and a started stream leaves the " +
    "session resolving FileContext paths to graft's AbstractFileSystem") {
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val s2 = spark.newSession()
    import s2.implicits._
    assert(s2.conf.getOption(LocalFs.contextKey._1).isEmpty)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.options }
          .foreach(writes.add)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    s2.listenerManager.register(l)
    val dir = java.nio.file.Files.createTempDirectory("graft_localfs_store").toString
    try {
      val rows = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
        .toDF("name", "time", "price")
      PartitionedStore.append(rows, dir, "time", "name")
      val deadline = System.nanoTime() + 30000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally s2.listenerManager.unregister(l)
    val opts = writes.peek()
    assert(opts != null, "the listener never saw the store write")
    assert(LocalFs.writerOptions.toSet.subsetOf(opts.toSet))
    val writeConf = s2.sessionState.newHadoopConfWithOptions(opts)
    assert(new org.apache.hadoop.fs.Path(dir).getFileSystem(writeConf).getClass ==
      classOf[LocalFs.Checksummed])

    implicit val ctx = s2.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, java.sql.Timestamp)]
    val q = graft.streaming.Streams.cdcLatestPush(in.toDF().toDF("name", "time"), "name", "time",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0), _ => ())
    try {
      in.addData(("a", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    assert(s2.conf.getOption(LocalFs.contextKey._1).contains(LocalFs.contextKey._2))
    assert(org.apache.hadoop.fs.AbstractFileSystem.get(fileUri, s2.sessionState.newHadoopConf())
      .getClass == classOf[LocalFs.Context])
  }

  test("T1 deltaAppend: idempotent — replaying the same payload inserts nothing") {
    val s = spark
    import s.implicits._
    import graft.operators.Relational
    def pt(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val existing = Seq(("x", pt(1), 1.0), ("x", pt(2), 2.0), ("x", pt(3), 3.0))
      .toDF("name", "time", "price")
    val payload = (1 to 5).map(h => ("x", pt(h), h.toDouble)).toDF("name", "time", "price")
    val delta = Relational.deltaAppend(existing, payload, Seq("name"), "time")
    // exactly {h4, h5}: points <= stored max are DROPPED (late-data policy)
    assert(delta.select("time").collect().map(_.getTimestamp(0)).toSet == Set(pt(4), pt(5)))
    // replay after applying the delta -> empty (ON CONFLICT DO NOTHING)
    val applied = existing.unionByName(delta)
    assert(Relational.deltaAppend(applied, payload, Seq("name"), "time").count() == 0)
  }

  test("corrupt payloads degrade to null fields, never crash the batch") {
    val s = spark
    import s.implicits._
    val raw = Seq(
      (1, """{"success":true,"lowest_price":"0,03€","median_price":"0,01€","volume":"435"}"""),
      (2, """not json at all"""),
      (3, """{"success":"maybe","lowest_price":42}"""),
      (4, null.asInstanceOf[String])).toDF("id", "payload")
    val out = Wire.silverPriceOverview(Wire.bronze(raw, Wire.priceOverviewWire))
      .orderBy("id").collect()
    assert(out.length == 4)
    assert(out(0).getDouble(2) == 0.03)           // good row parses
    assert(out(1).isNullAt(1) || !out(1).getBoolean(1)) // garbage -> nulls
    assert(out(1).isNullAt(2) && out(3).isNullAt(2))
    assert(out.forall(_.getString(5) != null))    // currency always defaults
  }
}
