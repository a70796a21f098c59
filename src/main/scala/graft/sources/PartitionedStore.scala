package graft.sources

import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Time-partitioned parquet store with retention — the Spark shape of the
  * reference's hypertable + compression + retention policies
  * (src/SQLinserts.py:246-357):
  *
  *  - hypertable partitioning on time  → `partitionBy(date)` directories;
  *    range predicates prune partitions at the source level.
  *  - `segmentby market_hash_name` compression → `sortWithinPartitions`
  *    on the series key: parquet gets long same-key runs (RLE/dict), and
  *    per-item scans touch few row groups via min/max stats — the same
  *    locality the covering index provided.
  *  - drop_chunks retention (90 d / 30 d)  → partition-directory drop; a
  *    metadata-only operation, no data rewrite, exactly like chunk drops.
  *
  * At cluster scale the same code targets an object store; retention
  * stays O(partitions-dropped).
  *
  * Resolution: every stored frame this object serves — a date store, a
  * z-order layout, any other path [[read]] serves, each data dir of a
  * versioned table, a dir read through [[readImmutable]] (every
  * [[graft.Tables]] input among them) — is resolved (file listing plus
  * parquet schema inference, no data) once per session and state
  * through one memo, `resolved`, so a read of unchanged data pays no
  * inference job.
  *  - A dir written once and never modified (a versioned table's
  *    `v<N>-<uuid>` data dir, a testdata table, a scratch artifact) is
  *    keyed by its path alone; a table deleted and rebuilt at the same
  *    path gets new dir names and can never hit a stale frame.
  *  - A path [[read]] serves is keyed by its exact file listing: the
  *    relative path, size and mtime of every regular file under it.
  *    Every store writer ([[append]], [[overwritePartitions]],
  *    [[zorderWrite]], and [[dropExpired]] / [[compact]] when they
  *    change the store) changes that listing, and so does any foreign
  *    write (a plain `spark.write`, a file moved by hand), so the next
  *    read sees every write. A rewrite that keeps one file's name, size
  *    and mtime is not a case: Spark's writers name every file by a
  *    fresh UUID.
  *  - The trade: each read walks its path once, O(files) — in a warm
  *    JVM on 4 vCPUs, 0.55 ms on a 62-file store and 0.03–0.07 ms on a
  *    few files, against a history request's 50–180 ms — and
  *    [[compact]] bounds the file count per partition.
  * Every state of a path therefore reads as one frame instance, which
  * per-frame snapshots ([[graft.api.ReadApi]]) key on.
  * Paths are local. */
object PartitionedStore {

  val DateCol = "p_date"

  /** The bound of `resolved`. An LRU smaller than a cyclic working set
    * never hits, so it sits a third above the largest session counted:
    * a whole `graft.Bench` run at sf0.1 (query suite, incremental and
    * scaling legs) resolved 124 distinct keys, each exactly once — 95
    * versioned data dirs, 23 testdata tables (10 of the sf0.1 dir, the
    * flagship query's sf0.001 `events`, 12 of the amplified scaling
    * dirs), 5 stored artifacts and one store state. The suite builds each stored table once per corpus, so the
    * count does not grow with repeat runs. */
  private[graft] val MaxResolved = 166

  /** The resolved frame per (session, normalized absolute path, file
    * listing); an immutable dir has an empty listing. The session is in
    * the key because a frame is unusable once its session stops. Only
    * the frame is memoized, never its rows; a new listing is a new key,
    * and superseded ones age out by LRU. */
  private val resolved =
    new graft.operators.BoundedMemo[(SparkSession, String, Listing), DataFrame](
      "store.resolved", MaxResolved)

  private type Listing = Seq[(String, Long, FileTime)]

  private def resolve(spark: SparkSession, path: String, listing: Listing): DataFrame =
    resolved.computeIfAbsent(
      (spark, Paths.get(path).toAbsolutePath.normalize.toString, listing),
      _ => spark.read.parquet(path))

  /** A parquet directory written once and never modified afterwards (a
    * testdata table, a scratch artifact, a versioned table's data dir),
    * resolved once per session and keyed by its path alone. New data
    * goes to a new path. */
  def readImmutable(spark: SparkSession, path: String): DataFrame =
    resolve(spark, path, Nil)

  /** Store writers in one JVM take turns. Spark's file committer stages
    * every write job under the output path's shared `_temporary`
    * directory, and the first of two concurrent jobs to commit deletes
    * the other's staged files; a compaction racing an append would also
    * swap out the appended files. */
  private val writing = new Object

  /** Append rows partitioned by the date of `tsCol`, clustered by
    * `keyCol` within each partition. */
  def append(df: DataFrame, path: String, tsCol: String, keyCol: String): Unit =
    write(df, path, tsCol, keyCol, SaveMode.Append)

  /** Reprocess: replace ONLY the partitions present in `df` (dynamic
    * partition overwrite), leaving all other days untouched — the
    * idempotent backfill path (re-running a day's job converges instead
    * of duplicating). */
  def overwritePartitions(df: DataFrame, path: String, tsCol: String, keyCol: String): Unit =
    write(df, path, tsCol, keyCol, SaveMode.Overwrite, "partitionOverwriteMode" -> "dynamic")

  /** The store's one data writer: date-partitioned, `(key, ts)`-clustered
    * zstd parquet (the columnar-compression analog of the reference's
    * Timescale policies), written through [[LocalFs]]. The write's new
    * files are the new listing the next [[read]] keys on. */
  private def write(df: DataFrame, path: String, tsCol: String, keyCol: String,
                    mode: SaveMode, options: (String, String)*): Unit = writing.synchronized {
    df.withColumn(DateCol, to_date(col(tsCol)))
      .repartition(col(DateCol))
      .sortWithinPartitions(col(keyCol), col(tsCol))
      .write.mode(mode)
      .options(LocalFs.writerOptions ++ options)
      .option("compression", "zstd")
      .partitionBy(DateCol)
      .parquet(path)
  }

  /** Read back with partition pruning available on DateCol: the frame
    * resolved for the path's current file listing, so any write into it,
    * a store writer's or a foreign one, shows on the next read. A missing
    * path fails with Spark's own error. */
  def read(spark: SparkSession, path: String): DataFrame =
    listing(Paths.get(path)).fold(spark.read.parquet(path))(resolve(spark, path, _))

  /** (relative path, size, mtime) of every regular file under `root`,
    * sorted by path; None when `root` is missing. */
  private def listing(root: Path): Option[Listing] =
    try Some(paths(Files.walk(root)).flatMap { p =>
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      if (a.isRegularFile) Some((root.relativize(p).toString, a.size, a.lastModifiedTime)) else None
    }.sortBy(_._1))
    catch { case _: NoSuchFileException => None }

  /** The entries of a directory stream, with the stream closed: an
    * unclosed `Files.list` / `Files.walk` holds its descriptors until
    * the JVM exits. */
  private def paths(stream: java.util.stream.Stream[Path]): List[Path] =
    try stream.iterator().asScala.toList finally stream.close()

  /** Retention: drop partition directories strictly older than
    * `keepDays` before `asOf`. Returns dropped partition names. */
  def dropExpired(path: String, keepDays: Int,
                  asOf: java.time.LocalDate): Seq[String] = writing.synchronized {
    val cutoff = asOf.minusDays(keepDays)
    val root = Paths.get(path)
    if (!Files.exists(root)) return Nil
    val dropped = paths(Files.list(root))
      .filter(p => p.getFileName.toString.startsWith(s"$DateCol="))
      .filter { p =>
        val d = p.getFileName.toString.stripPrefix(s"$DateCol=")
        scala.util.Try(java.time.LocalDate.parse(d)).toOption.exists(_.isBefore(cutoff))
      }
    dropped.foreach(deleteRecursive)
    dropped.map(_.getFileName.toString)
  }

  /** Small-file compaction — the nightly companion of retention. Each
    * streaming micro-batch (or per-poll append, the reference's 5-minute
    * cadence) lands its own file per partition, so a day accumulates
    * hundreds of tiny files: scan tasks, open() round-trips, and footer
    * reads all grow with file count, not data size. Partitions whose file
    * count exceeds `maxFiles` are rewritten into
    * ⌈rows / targetRowsPerFile⌉ files with the (key, ts) clustering
    * restored (small appends interleave keys; the rewrite re-sorts, so
    * RLE/dict compression and min/max row-group skipping recover too).
    *
    * Quiet partitions are untouched — the loop runs over OFFENDING
    * partitions only (nightly ≈ yesterday's), each rewritten to a hidden
    * sibling then swapped in via two renames (original → trash sibling,
    * rewrite → original, delete trash): at every instant the partition
    * path holds a complete copy, so a crash at any point loses no data —
    * the worst case leaves a hidden `.trash`/`.compact` sibling for the
    * next run to reclaim (stale ones are cleaned up front). Returns the
    * compacted partition names. */
  def compact(spark: SparkSession, path: String, keyCol: String,
              tsCol: String, maxFiles: Int = 8,
              targetRowsPerFile: Long = 4000000L,
              partCol: String = DateCol): Seq[String] = writing.synchronized {
    val root = Paths.get(path)
    if (!Files.exists(root)) return Nil
    // recover from any prior crash: a partition sitting in `.trash` with no
    // original means the crash hit between the two swap renames — restore
    // the original (always complete); orphaned trash/rewrite dirs whose
    // original exists are just stale garbage
    paths(Files.list(root))
      .filter(p => p.getFileName.toString.startsWith(".") &&
        p.getFileName.toString.endsWith(".trash"))
      .foreach { trash =>
        val orig = trash.resolveSibling(
          trash.getFileName.toString.stripPrefix(".").stripSuffix(".trash"))
        if (Files.exists(orig)) deleteRecursive(trash) else Files.move(trash, orig)
      }
    val offending = paths(Files.list(root))
      .filter(p => p.getFileName.toString.startsWith(s"$partCol=") &&
        Files.isDirectory(p))
      .filter { p =>
        paths(Files.list(p))
          .count(_.getFileName.toString.endsWith(".parquet")) > maxFiles
      }
    offending.foreach { dir =>
      val name = dir.getFileName.toString
      val tmp = dir.resolveSibling(s".$name.compact")
      val trash = dir.resolveSibling(s".$name.trash")
      deleteRecursive(tmp) // a stale rewrite is never authoritative
      val part = spark.read.parquet(dir.toString)
      val nFiles = math.max(1L,
        (part.count() + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      part.repartition(nFiles)
        .sortWithinPartitions(col(keyCol), col(tsCol))
        .write.mode(SaveMode.Overwrite)
        .options(LocalFs.writerOptions)
        .option("compression", "zstd")
        .parquet(tmp.toString)
      Files.move(dir, trash) // original stays whole until the rewrite is live
      Files.move(tmp, dir)
      deleteRecursive(trash)
    }
    offending.map(_.getFileName.toString)
  }

  // ---- Z-order (Morton) layout: multi-column pruning ------------------------

  /** Partition column holding the Morton bucket. */
  val ZCol = "zb"

  /** Interleave the low `bits` bits of two bucket indices into a Morton
    * code — built as a static fold of shift/mask columns, so it runs
    * inside whole-stage codegen (no UDF). */
  private[sources] def morton(xb: org.apache.spark.sql.Column,
                              yb: org.apache.spark.sql.Column,
                              bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(xb, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(yb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Scale a value into [0, 2^bits) over [lo, hi], clamping outliers into
    * the edge buckets (the residual predicate keeps scans exact). */
  private def bucketize(c: org.apache.spark.sql.Column, lo: Double, hi: Double,
                        bits: Int): org.apache.spark.sql.Column = {
    val n = 1 << bits
    least(greatest(
      floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(n)).cast("long"),
      lit(0L)), lit((n - 1).toLong))
  }

  /** Z-ORDER write: the two-column locality layout (Delta/Iceberg ZORDER
    * BY, re-expressed as plain partitioned parquet). Rows are bucketed on
    * the Morton interleave of (xCol, yCol): the PARTITION directory takes
    * the top `prefixBits` bits per dimension (4^prefixBits dirs), and
    * rows inside each file sort by the full `bits`-deep code, so parquet
    * row-group min/max stats stay rectangle-local too. A 2-D range query
    * then touches only the partition directories whose cells intersect
    * its rectangle — static pruning on BOTH columns at once, where a
    * single-column layout prunes one dimension and scans the other.
    * At 100 TB this is the difference between reading a rectangle and
    * reading a stripe. [lo, hi) domain bounds are caller-supplied
    * (control-plane knowledge); out-of-domain rows clamp into edge cells
    * and stay findable. */
  def zorderWrite(df: DataFrame, path: String,
                  xCol: String, yCol: String,
                  xLo: Double, xHi: Double, yLo: Double, yHi: Double,
                  bits: Int = 8, prefixBits: Int = 3): Unit = writing.synchronized {
    require(bits <= 30 && prefixBits <= bits,
      s"need prefixBits <= bits <= 30, got bits=$bits prefixBits=$prefixBits")
    val xb = bucketize(col(xCol), xLo, xHi, bits)
    val yb = bucketize(col(yCol), yLo, yHi, bits)
    df.withColumn(ZCol, morton(shiftright(xb, bits - prefixBits),
        shiftright(yb, bits - prefixBits), prefixBits))
      .withColumn("_z", morton(xb, yb, bits))
      .repartition(col(ZCol))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite)
      .options(LocalFs.writerOptions)
      .option("compression", "zstd")
      .partitionBy(ZCol)
      .parquet(path)
  }

  /** Rectangle scan over a [[zorderWrite]] layout: enumerate the Morton
    * cells intersecting the query rectangle (a driver-side loop over at
    * most 4^prefixBits cell ids — planning work, not data work), push
    * them as a partition-column IN-filter (static pruning: non-matching
    * directories are never listed), and keep the exact residual range
    * predicates. Must be called with the same domain/bits parameters the
    * layout was written with. */
  def zorderScan(spark: SparkSession, path: String,
                 xCol: String, yCol: String,
                 xLo: Double, xHi: Double, yLo: Double, yHi: Double,
                 qxLo: Double, qxHi: Double, qyLo: Double, qyHi: Double,
                 bits: Int = 8, prefixBits: Int = 3): DataFrame = {
    val n = 1 << bits
    def cell(v: Double, lo: Double, hi: Double): Long = {
      val b = math.floor((v - lo) / (hi - lo) * n).toLong
      math.min(math.max(b, 0L), (n - 1).toLong) >> (bits - prefixBits)
    }
    def mortonL(x: Long, y: Long): Long =
      (0 until prefixBits).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    val cells = for {
      xp <- cell(qxLo, xLo, xHi) to cell(qxHi, xLo, xHi)
      yp <- cell(qyLo, yLo, yHi) to cell(qyHi, yLo, yHi)
    } yield mortonL(xp, yp)
    read(spark, path)
      .filter(col(ZCol).isin(cells: _*))
      .filter(col(xCol) >= qxLo && col(xCol) <= qxHi &&
        col(yCol) >= qyLo && col(yCol) <= qyHi)
      .drop(ZCol)
  }

  // ---- versioned snapshots: atomic commits + time travel --------------------

  /** Commit `df` as a new version of the table at `path`. Data lands
    * fully under an anonymous `data/` directory FIRST; the version only
    * exists once its manifest — the list of data directories it
    * comprises — is published into `_manifests/` by an atomic rename, so
    * readers never observe a partial commit and a crash before publish
    * leaves only invisible orphan files (reclaimed by [[vacuum]]).
    * `append = false` commits a full snapshot (the manifest lists only
    * the new directory); `append = true` commits the parent's directory
    * list PLUS the new one — an incremental commit whose write cost is
    * the delta, exactly the Iceberg/Delta snapshot model reduced to a
    * manifest of directories. `dropDirs` (append mode only) names parent
    * directories the new version REPLACES — the copy-on-write rewrite
    * commit (Delta/Iceberg "replace files"): the manifest keeps the
    * parent's dirs minus `dropDirs` plus the new one; the dropped dirs'
    * bytes stay on disk for older versions' time travel and are
    * reclaimed by [[vacuum]] once no manifest references them.
    * `partitionCols` writes the data dir `partitionBy` those columns, so
    * a versioned table keeps directory-level partition pruning (the
    * bucketed-postings / cell-partitioned index layouts). `parent` pins
    * WHICH committed version an append builds on (default: latest) — an
    * index appender must pass the version its readers serve, never the
    * raw latest, or a retry after a crashed-but-committed append would
    * silently stack on the orphan. Returns the new version number.
    *
    * SCHEMA GATE (the Delta transaction-log discipline reduced to a
    * manifest header): each manifest carries its version's non-partition
    * schema as a `#schema=` JSON line, and an APPEND whose DataFrame
    * schema drifts from the served version fails HERE — before a byte of
    * data is written — instead of publishing a poisoned version that
    * crashes every later [[readVersion]] union. Retyped columns are
    * never allowed (no union can serve two types under one name);
    * added/removed columns only under explicit `allowSchemaEvolution =
    * true`, in which case reads serve the union schema with nulls for
    * the side that lacks the column, and the new manifest records the
    * EVOLVED schema so the next append compares against it. Partition
    * columns stay out of the comparison (partition directory values
    * re-infer with narrower types on read — a false retype). The header
    * costs one tiny manifest-line read per append, never a
    * parquet-footer pass over parent dirs — except the one-time
    * headerless-parent case below.
    *
    *  - HEADERLESS PARENT: a manifest with no `#schema=` line (published
    *    before the header existed) still gates: the served schema is
    *    derived ONCE from the parent dirs' parquet footers (planning cost
    *    bounded by the manifest length, paid only on the first append
    *    onto such a parent) and recorded on the new manifest so it is
    *    never repaid. Skipping the comparison there would let a drifting
    *    append publish and read silently null-filled.
    *  - SETTLED SHAPE after a removal evolution: the served header keeps
    *    removed columns forever (old dirs still carry their values;
    *    reads null-fill the new side), so the manifest also records the
    *    declared forward shape as a second `#append_schema=` line
    *    (written only when it differs from the served schema). An append
    *    matching EITHER the served schema (rewrites — compaction, upserts
    *    touching wide dirs) or the settled shape (the normal delta)
    *    passes without the flag, so appends of the settled narrower
    *    schema never re-trip the gate; anything else still requires
    *    explicit evolution, which re-declares the settled shape as the
    *    new delta's schema. */
  def commitVersion(df: DataFrame, path: String,
                    append: Boolean = false,
                    dropDirs: Seq[String] = Nil,
                    partitionCols: Seq[String] = Nil,
                    parent: Option[Long] = None,
                    allowSchemaEvolution: Boolean = false): Long = {
    val root = Paths.get(path)
    Files.createDirectories(root.resolve("_manifests"))
    Files.createDirectories(root.resolve("data"))
    val vs = versions(path)
    parent.foreach(p => require(vs.contains(p), s"parent version $p not in $vs"))
    val base = if (append) parent.orElse(vs.lastOption) else None
    val cur = org.apache.spark.sql.types.StructType(
      df.schema.filterNot(f => partitionCols.contains(f.name)))
    // schema-drift gate: fail fast, BEFORE writing data (no orphan dir).
    // Types compare with NULLABILITY widened recursively: parquet
    // round-trips and per-batch inference flip containsNull inside
    // array/map/struct types freely (an in-memory array<float> delta vs
    // the written array<float,containsNull=true> header), and a
    // nullability flip is not a retype — unions serve it fine.
    // the parent's served schema: the #schema header, or — headerless
    // legacy parent — derived once from the parent dirs' footers via the
    // same union readVersion would serve (schema-only: no job runs)
    val servedOfParent: Option[org.apache.spark.sql.types.StructType] =
      base.map { pv =>
        manifestSchema(path, pv).getOrElse(
          org.apache.spark.sql.types.StructType(
            readVersion(df.sparkSession, path, Some(pv)).schema
              .filterNot(f => partitionCols.contains(f.name))))
      }
    val (header, appendHeader) = servedOfParent match {
      case Some(ps) =>
        val psM = ps.map(f => f.name -> widenNulls(f.dataType)).toMap
        val curM = cur.map(f => f.name -> widenNulls(f.dataType)).toMap
        val retyped = (psM.keySet & curM.keySet)
          .filter(n => psM(n) != curM(n))
        require(retyped.isEmpty,
          s"append retypes column(s) ${retyped.mkString(", ")} vs the served " +
            s"version at $path — a union cannot serve two types under one " +
            "name; write a fresh snapshot (append = false) instead")
        val settled = base.flatMap(pv => manifestSchema(path, pv, "append_schema"))
          .getOrElse(ps)
        val settledNames = settled.map(_.name).toSet
        val matches =
          curM.keySet == psM.keySet || curM.keySet == settledNames
        if (!matches) {
          val added = curM.keySet -- settledNames
          val removed = settledNames -- curM.keySet
          require(allowSchemaEvolution,
            s"append schema drifts from the served version at $path (added: " +
              s"${added.mkString(", ")}; removed: ${removed.mkString(", ")}) — " +
              "published as-is this version would crash every readVersion " +
              "union; pass allowSchemaEvolution = true to evolve deliberately " +
              "(reads then null-fill the missing side) or align the delta")
        }
        // served header: parent fields in parent order, new fields
        // appended (removed fields STAY — old dirs carry their values);
        // settled shape: an explicit evolution declares cur as the new
        // delta schema, otherwise the declared shape carries forward
        (org.apache.spark.sql.types.StructType(
          ps ++ cur.filterNot(f => psM.contains(f.name))),
          if (!matches) Some(cur) else Some(settled))
      case None => (cur, None)
    }
    val v = vs.lastOption.getOrElse(0L) + 1
    val dirName = s"v$v-${java.util.UUID.randomUUID().toString.take(8)}"
    val w = df.write.mode(SaveMode.ErrorIfExists).option("compression", "zstd")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(root.resolve("data").resolve(dirName).toString)
    require(dropDirs.isEmpty || append,
      "dropDirs is a rewrite of the parent manifest — meaningless on a full-snapshot commit")
    val parentAll = base.toSeq.flatMap(pv => manifestDirs(path, pv))
    val unknown = dropDirs.filterNot(parentAll.contains)
    require(unknown.isEmpty,
      s"dropDirs not in parent manifest: ${unknown.mkString(", ")}")
    val parentDirs = parentAll.filterNot(dropDirs.contains)
    // the settled line is written only when it actually differs from the
    // served schema — a healthy store's manifests stay one-header
    val settledLine = appendHeader
      .filter(_.map(_.name).toSet != header.map(_.name).toSet)
      .map(a => s"#append_schema=${a.json}").toSeq
    publishManifest(root, s"v$v.list",
      ((s"#schema=${header.json}" +: settledLine) ++ (parentDirs :+ dirName))
        .mkString("\n"),
      s"concurrent commit lost the race: version $v already published at $path")
    v
  }

  /** Atomic CREATE-NEW publish of a manifest file (hard link from a
    * fully-written temp file): readers never see a partial manifest, and
    * a concurrent publisher of the same name FAILS instead of silently
    * replacing the winner's manifest and orphaning its data (the
    * Delta/Iceberg loser-errors contract; a POSIX rename would clobber).
    * The loser's data dirs stay unreferenced — invisible, reclaimed by
    * [[vacuum]]. */
  private def publishManifest(root: Path, name: String, content: String,
                              loserMsg: String): Unit = {
    Files.createDirectories(root.resolve("_manifests"))
    val tmp = root.resolve("_manifests")
      .resolve(s".$name-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val dest = root.resolve("_manifests").resolve(name)
    try Files.createLink(dest, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(loserMsg)
      // hard links aren't universal (object-store FUSE mounts, some
      // network/FAT volumes). Fall back to an atomic rename: still an
      // all-or-nothing publish, but POSIX rename CLOBBERS, so the
      // loser-errors guarantee weakens to last-writer-wins on exactly
      // these filesystems — documented trade, not silent.
      case _: UnsupportedOperationException =>
        Files.move(tmp, dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** All committed versions, ascending. Unpublished data (a crash before
    * the manifest rename) is invisible here by construction. */
  def versions(path: String): Seq[Long] = manifestNumbers(path, "v", ".list")

  /** The numbers of the `<prefix>N<suffix>` manifests at `path`, ascending. */
  private def manifestNumbers(path: String, prefix: String, suffix: String): Seq[Long] = {
    val m = Paths.get(path, "_manifests")
    if (!Files.exists(m)) return Nil
    paths(Files.list(m))
      .map(_.getFileName.toString)
      .filter(n => n.startsWith(prefix) && n.endsWith(suffix))
      .map(_.stripPrefix(prefix).stripSuffix(suffix).toLong)
      .sorted
  }

  /** Recursive nullability widening for the schema-gate comparison —
    * nested containsNull/valueContainsNull/nullable flags are transport
    * noise, not type identity. */
  private def widenNulls(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.map(f =>
        f.copy(dataType = widenNulls(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(widenNulls(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(widenNulls(m.keyType), widenNulls(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** The manifest file `name` (`vN.list` or `cN.index`) as written. */
  private def manifestContent(path: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(path, "_manifests", name)),
      java.nio.charset.StandardCharsets.UTF_8)

  private def manifestDirs(path: String, v: Long): Seq[String] =
    manifestContent(path, s"v$v.list").split("\n").toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  /** A schema header of a committed version's manifest: `schema`, the
    * non-partition schema the version was published with (None for
    * manifests published before the header existed), or `append_schema`,
    * the SETTLED delta schema, present only after a removal evolution,
    * where the served superset and the expected delta shape diverge. */
  private[graft] def manifestSchema(path: String, v: Long, header: String = "schema")
      : Option[org.apache.spark.sql.types.StructType] =
    manifestContent(path, s"v$v.list").split("\n").find(_.startsWith(s"#$header="))
      .map(l => org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix(s"#$header="))
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Time-travel read: the table as of `version` (latest when None),
    * the union of its manifest's data dirs. Each dir is resolved once
    * per session and memoized by its path alone (dirs are immutable; see
    * the object doc), so a repeat read costs one manifest read and no
    * Spark job, and a read after an append resolves only the new dir.
    * A union takes its columns from its first child, so any two reads
    * of one table whose manifests start with the same dir — two reads
    * of one version, or of a version and a later append — carry the
    * same column identities: join them on using-columns (`Seq(key)`),
    * or alias each side, never on `r1(key) === r2(key)`. Each dir is
    * scanned as its own root — a multi-root read would make Spark's
    * partition discovery reject the vN-prefixed dir names as conflicting
    * structures; per-root scans keep `partitionBy` column discovery, so
    * a partition filter pushes through the Union into every child scan. */
  def readVersion(spark: SparkSession, path: String,
                  version: Option[Long] = None): DataFrame = {
    val vs = versions(path)
    require(vs.nonEmpty, s"no committed versions at $path")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    dirsFrame(spark, path, manifestDirs(path, v))
  }

  /** The memoized frame of one data dir of the versioned table at `path`. */
  private def dirFrame(spark: SparkSession, path: String, dir: String): DataFrame =
    readImmutable(spark, Paths.get(path, "data", dir).toString)

  /** The union by name of data dirs. Under declared schema evolution (see
    * the [[commitVersion]] gate) dirs may differ by added or removed
    * columns; the union serves the superset with nulls for the side that
    * lacks a column. Undeclared drift never reaches here: the gate
    * rejects it. */
  private def dirsFrame(spark: SparkSession, path: String, dirs: Seq[String]): DataFrame =
    dirs.map(dirFrame(spark, path, _)).reduce(_.unionByName(_, allowMissingColumns = true))

  /** The data directories a committed version comprises — the manifest
    * contents, public so callers can diff versions at the METADATA level
    * before touching any data (see [[diffVersions]]). */
  def versionDirs(path: String, v: Long): Seq[String] = {
    require(versions(path).contains(v), s"version $v not committed at $path")
    manifestDirs(path, v)
  }

  /** Manifest-pruned snapshot diff: classify every row that differs
    * between two committed versions as added / removed / changed WITHOUT
    * scanning either version in full. Commits are copy-on-write — a data
    * directory shared by both manifests is byte-identical in both
    * versions — so the diff first intersects the two manifests and then
    * reads ONLY directories in the symmetric difference: rows living in
    * shared dirs cannot have been added, removed, or changed (the store
    * layout keeps each id in exactly one dir per version), so at 100 TB
    * a diff of adjacent versions costs the delta, not two full scans.
    * The reference's CDC chain pushes the same thin deltas by design
    * (utility/marketDataNotify_utility.py:27-88).
    *
    * Output: (idCol, op ∈ added|removed|changed, old_hash, new_hash)
    * where hash = `hashOf` evaluated on each side's rows; rows rewritten
    * byte-identically (compaction) come back op = same and are kept out
    * of the result. Contract: each id appears in at most one dir per
    * version — true for every commit this store can produce (full
    * snapshots, pure appends of new ids, dropDirs rewrites). */
  def diffVersions(spark: SparkSession, path: String, vOld: Long,
                   vNew: Long, idCol: String,
                   hashOf: org.apache.spark.sql.Column): DataFrame = {
    val oldDirs = versionDirs(path, vOld)
    val newDirs = versionDirs(path, vNew)
    val shared = oldDirs.toSet.intersect(newDirs.toSet)
    def readOnly(dirs: Seq[String], hcol: String): Option[DataFrame] = {
      val d = dirs.filterNot(shared)
      if (d.isEmpty) None
      else Some(dirsFrame(spark, path, d).select(col(idCol), hashOf.as(hcol)))
    }
    (readOnly(oldDirs, "old_hash"), readOnly(newDirs, "new_hash")) match {
      case (None, None) => // identical manifests: zero rows, zero DATA read
        // borrow idCol's real type from one manifest dir's parquet footer
        // (metadata-only) so the empty frame unions with every other
        // branch — a hardcoded long would break tables with string ids
        oldDirs.headOption match {
          case Some(d0) => dirFrame(spark, path, d0).limit(0)
            .select(col(idCol), lit("").as("op"),
              lit(null).cast("string").as("old_hash"),
              lit(null).cast("string").as("new_hash"))
          case None => // both versions genuinely empty: no schema to borrow
            spark.emptyDataFrame
              .select(lit(null).cast("long").as(idCol), lit("").as("op"),
                lit(null).cast("string").as("old_hash"),
                lit(null).cast("string").as("new_hash"))
              .limit(0)
        }
      case (Some(o), None) =>
        o.select(col(idCol), lit("removed").as("op"),
          col("old_hash"), lit(null).cast("string").as("new_hash"))
      case (None, Some(n)) =>
        n.select(col(idCol), lit("added").as("op"),
          lit(null).cast("string").as("old_hash"), col("new_hash"))
      case (Some(o), Some(n)) =>
        o.join(n, Seq(idCol), "full_outer")
          .select(col(idCol),
            when(col("old_hash").isNull, lit("added"))
              .when(col("new_hash").isNull, lit("removed"))
              .when(col("old_hash") =!= col("new_hash"), lit("changed"))
              .otherwise(lit("same")).as("op"),
            col("old_hash"), col("new_hash"))
          .filter(col("op") =!= "same")
    }
  }

  /** Schema drift between two committed versions, metadata-only: the
    * union-of-footers schema each version's read would produce (every
    * manifest dir contributes its parquet footer — no data rows ever
    * read, so the diff costs KBs at any table size), compared
    * field-by-field. A column can drift by appearing (`added`),
    * vanishing (`removed`), changing type (`retyped`), or changing
    * nullability (`relaxed`/`tightened`). This is the admission check a
    * reader runs BEFORE `readVersion` on an evolved table — unionByName
    * inside readVersion throws on incompatible dirs, but only this diff
    * says what changed between published generations. A column whose
    * dataType DISAGREES between dirs of one version throws here too
    * (loudly, naming the version, column and types) rather than picking
    * an arbitrary dir's type — a silently-arbitrary pick could report no
    * retype, or the wrong old/new pair, for exactly the version whose
    * readVersion would fail.
    * Output: (col_name, change, type_old, type_new), stable col order. */
  def schemaDiff(spark: SparkSession, path: String,
                 vOld: Long, vNew: Long): Seq[(String, String, String, String)] = {
    def schemaOf(v: Long): Map[String, org.apache.spark.sql.types.StructField] =
      versionDirs(path, v)
        .map(dirFrame(spark, path, _).schema)
        .flatMap(_.fields)
        .groupBy(_.name)
        // a field nullable in ANY contributing dir is nullable in the
        // union read — mirror unionByName's widening. dataType conflicts
        // WITHIN the version cannot be mirrored (the union read throws),
        // so surface them instead of letting dir order pick a winner
        .map { case (n, fs) =>
          val types = fs.map(_.dataType).distinct
          require(types.length == 1,
            s"schemaDiff: column '$n' has conflicting types within version $v " +
              s"of $path: ${types.map(_.simpleString).mkString(", ")} — " +
              "this version cannot be read as one table; repair it before diffing")
          n -> fs.head.copy(nullable = fs.exists(_.nullable)) }
    val o = schemaOf(vOld); val n = schemaOf(vNew)
    val names = (o.keySet ++ n.keySet).toSeq.sorted
    names.flatMap { c =>
      (o.get(c), n.get(c)) match {
        case (None, Some(f)) =>
          Some((c, "added", "", f.dataType.simpleString))
        case (Some(f), None) =>
          Some((c, "removed", f.dataType.simpleString, ""))
        case (Some(a), Some(b)) if a.dataType != b.dataType =>
          Some((c, "retyped", a.dataType.simpleString, b.dataType.simpleString))
        case (Some(a), Some(b)) if !a.nullable && b.nullable =>
          Some((c, "relaxed", a.dataType.simpleString, b.dataType.simpleString))
        case (Some(a), Some(b)) if a.nullable && !b.nullable =>
          Some((c, "tightened", a.dataType.simpleString, b.dataType.simpleString))
        case _ => None
      }
    }
  }

  /** Major compaction of a versioned table: rewrite a version's rows as
    * ONE fresh data directory (re-clustered by `partitionCols` /
    * `sortCols`) and commit it as a rewrite dropping every parent dir —
    * the accumulated small append files collapse, content is unchanged,
    * and older versions still time-travel to the original dirs until
    * vacuumed. `version` defaults to latest; a composite-index caller
    * passes its SERVED component version instead — compacting raw-latest
    * there could resurrect a crashed append's orphan commit. Returns the
    * new version number.
    *
    * Unpartitioned tables are rewritten as `numFiles` partitions —
    * defaulting to ceil(version bytes / 128 MB), sized from the manifest
    * dirs' on-disk footprint (metadata walk, no data read). Never a
    * coalesce(1): funneling a corpus-sized table (BM25 dl, LSH sig)
    * through one task is the single-task-over-data-rows shape this repo
    * bans — compaction must collapse FILE COUNT, not parallelism.
    *
    * `minus` is the physical-reclaim half of a tombstone delete
    * lifecycle (the deletion-vector model): rows matching the given
    * frame on the given key columns are DROPPED from the rewrite — a
    * broadcast anti-join, so reclaim costs one corpus rewrite plus
    * nothing. Content changes deliberately; the caller's serving reads
    * were already filtering those rows, so query results are identical
    * before and after. */
  def compactVersion(spark: SparkSession, path: String,
                     partitionCols: Seq[String] = Nil,
                     sortCols: Seq[String] = Nil,
                     version: Option[Long] = None,
                     numFiles: Option[Int] = None,
                     minus: Option[(DataFrame, Seq[String])] = None): Long = {
    val v = version.getOrElse(versions(path).last)
    val df0 = minus match {
      case Some((tomb, keys)) =>
        readVersion(spark, path, Some(v)).join(
          org.apache.spark.sql.functions.broadcast(tomb), keys, "left_anti")
      case None => readVersion(spark, path, Some(v))
    }
    def sizedFiles: Int = {
      val bytes = manifestDirs(path, v).map { d =>
        paths(Files.walk(Paths.get(path, "data", d)))
          .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      }.sum
      math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20)).toInt
    }
    val df1 = if (partitionCols.nonEmpty)
      df0.repartition(partitionCols.map(col): _*)
    else df0.repartition(numFiles.getOrElse(sizedFiles))
    val df = if (sortCols.nonEmpty)
      df1.sortWithinPartitions(sortCols.map(col): _*) else df1
    commitVersion(df, path, append = true, dropDirs = manifestDirs(path, v),
      partitionCols = partitionCols, parent = Some(v))
  }

  // ---- composite indexes: one atomic pointer over several versioned tables --
  // The stored-index families reach these through StoredIndex, which owns
  // their served-generation lifecycle (append, tombstone delete, compaction).

  /** Atomically publish a new version of a COMPOSITE index: a manifest
    * pinning each component table (itself a versioned store under
    * `$path/<component>`) to one of ITS committed versions. The pointer
    * is the unit of atomicity for multi-table serving state (BM25's
    * postings + dl + stats, IVF's centroids + cells): component commits
    * land first — invisible until referenced — and readers resolve the
    * composite manifest once, then time-travel every component to the
    * pinned version, so no reader can ever observe postings from one
    * generation with stats from another. A crash after some component
    * commits but before this publish leaves the served index EXACTLY as
    * it was (orphan component versions reclaimed via each component's
    * [[vacuum]]); racing publishers hit the same loser-errors CREATE_NEW
    * as [[commitVersion]]. Returns the composite version. */
  def publishComposite(path: String, components: Map[String, Long]): Long = {
    require(components.nonEmpty, "a composite index needs at least one component")
    components.foreach { case (n, cv) =>
      require(versions(s"$path/$n").contains(cv),
        s"component '$n' has no committed version $cv at $path/$n")
    }
    val v = compositeVersions(path).lastOption.getOrElse(0L) + 1
    publishManifest(Paths.get(path), s"c$v.index",
      components.toSeq.sortBy(_._1).map { case (n, cv) => s"$n=$cv" }.mkString("\n"),
      s"concurrent index publish lost the race: composite version $v already published at $path")
    v
  }

  /** All published composite versions at `path`, ascending. */
  def compositeVersions(path: String): Seq[Long] = manifestNumbers(path, "c", ".index")

  /** Resolve a composite version (latest when None) to its pinned
    * component→version map. */
  def readComposite(path: String, version: Option[Long] = None): Map[String, Long] = {
    val vs = compositeVersions(path)
    require(vs.nonEmpty, s"no published composite versions at $path")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"composite version $v not in $vs")
    manifestContent(path, s"c$v.index").split("\n").toSeq.filter(_.nonEmpty)
      .map { line =>
        val Array(n, cv) = line.split("=", 2)
        n -> cv.toLong
      }.toMap
  }

  /** Composite-aware retention — the reader-safety contract for a
    * maintenance job running behind compaction: a reader's pin is its
    * composite GENERATION number, and this is the only sanctioned way to
    * reclaim a composite's history. Truncates every generation OLDER
    * than `keepFrom`, then per component drops exactly the component
    * versions pinned ONLY by truncated generations and vacuums the dirs
    * nothing live references. The guard is structural and double-checked:
    * a component version pinned by ANY retained generation (>= keepFrom)
    * is never dropped — copy-on-write dir sharing then keeps every dir a
    * retained generation can reach — so a reader holding a composite
    * pointer >= the cutoff stays fully readable across compact + vacuum,
    * and a pre-cutoff generation disappears only at this EXPLICIT
    * truncation, never as a side effect of compaction itself.
    *
    * Component versions referenced by NO generation are left alone: they
    * are either crash orphans or an in-flight append's commits racing
    * toward publishComposite — reclaiming those safely needs quiescence,
    * not a cutoff (see [[vacuum]]'s component-level contract).
    * Returns per-component removed data directories. */
  def vacuumComposite(path: String, keepFrom: Long): Map[String, Seq[String]] = {
    val gens = compositeVersions(path)
    require(gens.contains(keepFrom),
      s"retention cutoff $keepFrom is not a published generation in $gens")
    val (dropGens, keepGens) = gens.partition(_ < keepFrom)
    def pins(gs: Seq[Long]): Map[String, Set[Long]] = gs
      .flatMap(g => readComposite(path, Some(g)).toSeq)
      .groupBy(_._1).map { case (c, vs) => c -> vs.map(_._2).toSet }
    val kept = pins(keepGens)
    val dropped = pins(dropGens)
    val removed = dropped.map { case (comp, vs) =>
      // the refuse-guard: a version pinned by BOTH a dropped and a kept
      // generation is filtered out here and keeps its manifest — vacuum
      // below can then never touch a dir any retained generation reaches
      val dropVs = vs -- kept.getOrElse(comp, Set.empty)
      dropVs.foreach(v =>
        Files.deleteIfExists(Paths.get(s"$path/$comp", "_manifests", s"v$v.list")))
      comp -> vacuum(s"$path/$comp")
    }
    dropGens.foreach(g =>
      Files.deleteIfExists(Paths.get(path, "_manifests", s"c$g.index")))
    removed
  }

  /** RESTORE: publish a NEW version whose manifest is a byte-copy of an
    * older version's — the Delta-Lake `RESTORE TABLE ... TO VERSION`
    * semantics, completing the snapshot verb set (commit / append /
    * time-travel / compact / vacuum / restore). Metadata-only: no data
    * file moves or rewrites at ANY table size, the rolled-back-over
    * versions stay readable (history is append-only — a restore is an
    * ordinary commit whose content happens to be old), and because the
    * restored manifest re-references its dirs, [[vacuum]]'s
    * live-from-any-manifest rule keeps them safe. Returns the new
    * version id. */
  def restoreVersion(path: String, version: Long): Long = {
    val vs = versions(path)
    require(vs.contains(version), s"version $version not in $vs")
    val v = vs.last + 1
    // byte-copy of the WHOLE manifest (incl. the #schema header), so the
    // restored version keeps its schema lineage for later append gates
    publishManifest(Paths.get(path), s"v$v.list",
      manifestContent(path, s"v$version.list"),
      s"concurrent commit lost the race: version $v already published at $path")
    v
  }

  /** Row-level DELETE on a versioned FACT table — the takedown verb the
    * stored-index legs already have (`deleteFromBm25Index` et al.),
    * now for the facts themselves, and the granularity the reference's
    * retention cannot express (it drops whole chunks,
    * src/SQLinserts.py:279-297; partition-drop lives in
    * [[dropExpired]]). Semantics are Delta's `DELETE WHERE`: rows where
    * `predicate` is TRUE are removed; rows where it is NULL are KEPT
    * (a three-valued-logic footgun made explicit — both the match probe
    * and the survivor filter coalesce NULL to false).
    *
    * Copy-on-write at data-directory granularity: a dir-level match
    * probe (predicate pushed into each dir's parquet scan, so footer
    * min/max stats skip row groups; the driver loop is bounded by the
    * MANIFEST length — planning work, not data work) finds the dirty
    * dirs, and the rewrite reads ONLY those — the stable bulk's files
    * never enter the rewrite plan (spec-pinned via the returned dir
    * list + manifest sharing). The new version's manifest keeps every
    * clean dir by reference, drops the dirty ones, and adds one
    * survivors dir (`commitVersion(dropDirs)`); older versions still
    * time-travel to the pre-delete rows until [[vacuum]] reclaims them
    * after history truncation. A predicate matching nothing is a
    * NO-OP: no commit is published and the served version is returned
    * unchanged (same contract as the index tombstone legs).
    *
    * At 100 TB: cost is proportional to the dirty dirs' bytes, not the
    * table — a targeted delete (one user, one day) touches the few
    * dirs whose stats admit the predicate. Returns (new version —
    * or the probed version when no-op — and the rewritten dirs). */
  def deleteRows(spark: SparkSession, path: String,
                 predicate: org.apache.spark.sql.Column,
                 partitionCols: Seq[String] = Nil,
                 version: Option[Long] = None): (Long, Seq[String]) = {
    val v = version.getOrElse(versions(path).last)
    val matches = coalesce(predicate, lit(false))
    val dirty = manifestDirs(path, v)
      .filter(d => !dirFrame(spark, path, d).filter(matches).isEmpty)
    if (dirty.isEmpty) return (v, Nil)
    val survivors = dirsFrame(spark, path, dirty).filter(!matches)
    val nv = commitVersion(survivors, path, append = true,
      dropDirs = dirty, partitionCols = partitionCols, parent = Some(v))
    (nv, dirty)
  }

  /** Row-level MERGE (upsert) on the versioned store — the update verb
    * completing the CRUD set beside append (C), time-travel reads (R)
    * and [[deleteRows]] (D). `updates` rows REPLACE same-key rows
    * wholesale; keys present in no dir are inserted.
    *
    * Same copy-on-write discipline as [[deleteRows]]: a dir-level
    * key probe (broadcast semi-join of the delta-sized key set into
    * each dir's scan; the driver loop is manifest-length planning
    * work) finds the dirty dirs; the rewrite reads ONLY those, strips
    * the matched keys (broadcast anti-join), and commits survivors +
    * ALL update rows as one new dir while clean dirs carry by
    * reference. Older versions still serve the pre-upsert rows. An
    * insert-only upsert (no key matches anywhere) rewrites NOTHING —
    * it is exactly a delta append; an empty `updates` frame is a
    * no-op (no commit, served version returned).
    *
    * At 100 TB: cost ∝ dirty-dir bytes + delta bytes, never the
    * table. Returns (new version — or the probed version when no-op —
    * and the rewritten dirs). */
  def upsertRows(spark: SparkSession, path: String, updates: DataFrame,
                 keyCol: String, partitionCols: Seq[String] = Nil,
                 version: Option[Long] = None): (Long, Seq[String]) = {
    import org.apache.spark.sql.functions.broadcast
    val v = version.getOrElse(versions(path).last)
    if (updates.isEmpty) return (v, Nil)
    val keys = broadcast(updates.select(col(keyCol)).distinct())
    val dirty = manifestDirs(path, v).filter(d =>
      !dirFrame(spark, path, d).join(keys, Seq(keyCol), "left_semi").isEmpty)
    // a drifting updates frame must fail loudly HERE, not null-fill its
    // way into the store: the delta's shape must match one of the
    // store's DECLARED shapes (served superset or settled delta schema)
    // before any tolerant union runs. Headerless legacy stores have no
    // declaration — there the merged result still passes through the
    // commit gate's footer-derived comparison.
    val declared = Seq(manifestSchema(path, v), manifestSchema(path, v, "append_schema"))
      .flatten.map(_.map(_.name).toSet)
    val upN = updates.schema.map(_.name).filterNot(partitionCols.contains).toSet
    require(declared.isEmpty || declared.contains(upN),
      s"upsert delta columns ${upN.mkString(", ")} match neither the served " +
        s"nor the settled schema at $path — align the delta, or evolve " +
        "deliberately via commitVersion(allowSchemaEvolution = true)")
    val merged =
      if (dirty.isEmpty) updates
      else dirsFrame(spark, path, dirty).join(keys, Seq(keyCol), "left_anti")
        .unionByName(updates, allowMissingColumns = true)
    val nv = commitVersion(merged, path, append = true,
      dropDirs = dirty, partitionCols = partitionCols, parent = Some(v))
    (nv, dirty)
  }

  /** Reclaim data directories no LIVE manifest references (crash orphans,
    * or history truncated by deleting old manifest files). Returns the
    * removed directory names. */
  def vacuum(path: String): Seq[String] = {
    val live = versions(path).flatMap(manifestDirs(path, _)).toSet
    val dataDir = Paths.get(path, "data")
    if (!Files.exists(dataDir)) return Nil
    val orphans = paths(Files.list(dataDir))
      .filter(p => !live.contains(p.getFileName.toString))
    orphans.foreach(deleteRecursive)
    orphans.map(_.getFileName.toString)
  }

  private def deleteRecursive(p: Path): Unit = {
    if (Files.isDirectory(p))
      paths(Files.list(p)).foreach(deleteRecursive)
    Files.deleteIfExists(p)
  }
}
