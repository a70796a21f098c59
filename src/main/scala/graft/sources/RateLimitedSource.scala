package graft.sources

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** S1/T6 in-engine: a rate-limited custom `MicroBatchStream` — the DSv2
  * source shape of the reference's shared sliding-window-log rate limiter
  * (src/RateLimiter.py:5-49, shared instance cerebro.py:227-230). The
  * reference gates every HTTP poll behind "fewer than MAX grants in the
  * trailing WINDOW seconds, else wait until the oldest grant exits"; here
  * the same log gates how far `latestOffset` may advance per micro-batch,
  * so ingestion NEVER exceeds the API budget no matter how fast triggers
  * fire.
  *
  * The payload table (parquet rows with a monotonically increasing id
  * column — the staged API responses) is read per batch with an
  * id-range predicate. Offset advancement is driver-side and budget-
  * bounded BY CONSTRUCTION (≤ rowsPerWindow rows per window — 15/60 s in
  * the reference's config), so the per-trigger planning reads are KBs;
  * this source is for the CONTROL-PLANE poll feed, not the corpus path
  * (which is bulk parquet + Streams.* operators).
  *
  * Options: `path` (payload parquet dir), `idCol` (default "id", BIGINT,
  * ≥ 0, monotone), `rowsPerWindow`, `windowSeconds`, `clockKey` (tests:
  * drive a manual clock registered in [[GraftClocks]]).
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.sources.RateLimitedPayloadProvider")
  *   .option("path", dir).option("idCol", "poll_id")
  *   .option("rowsPerWindow", "15").option("windowSeconds", "60").load()
  * }}} */
class RateLimitedPayloadProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SparkSession.active.read.parquet(options.get("path")).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new RateLimitedPayloadTable(schema, properties.get("path"))
}

/** Sliding Window Log (RateLimiter.py semantics): grants are timestamps;
  * the log is pruned to the trailing window; capacity = max − |log|. A
  * caller that finds no capacity can ask when the oldest grant exits the
  * window (the reference sleeps exactly that long). Driver-side,
  * single-threaded by the micro-batch planner — no lock needed (the
  * reference needs its asyncio lock because pollers race; the planner is
  * the only caller here). */
final class SlidingWindowLog(val maxGrants: Int, val windowMillis: Long) {
  private val grants = mutable.Queue.empty[Long]
  private def prune(nowMillis: Long): Unit =
    while (grants.nonEmpty && grants.head <= nowMillis - windowMillis) grants.dequeue()
  /** Free capacity in the window ending at `nowMillis`. */
  def free(nowMillis: Long): Int = { prune(nowMillis); maxGrants - grants.size }
  /** Record `n` grants at `nowMillis` (caller checked capacity). */
  def grant(nowMillis: Long, n: Int): Unit = (1 to n).foreach(_ => grants.enqueue(nowMillis))
  /** Earliest instant any capacity exists: now if free, else the moment
    * the oldest grant leaves the window (RateLimiter.py's sleep target). */
  def availableAt(nowMillis: Long): Long = {
    prune(nowMillis)
    if (grants.size < maxGrants) nowMillis else grants.head + windowMillis
  }
}

/** Test seam: named manual clocks (millis) the source reads instead of
  * the wall clock — deterministic rate-limit tests, no sleeps. */
object GraftClocks {
  // Bounded like every process-lifetime cache (CacheRegistry): a clock
  // evicted past 256 distinct test keys just restarts at 0 on next use —
  // a determinism seam, not correctness state. ALIASING caveat: a holder
  // of a previously returned AtomicLong keeps ticking the evicted
  // instance while a later manual(key) call mints a fresh one at 0 — two
  // live clocks for one key. The source side is immune (its now() calls
  // manual(key) on EVERY read, never caching the AtomicLong); test
  // drivers touching >256 clock keys in one JVM must do the same.
  private val clocks =
    new graft.operators.BoundedMemo[String, AtomicLong]("sources.graftClocks", 256)
  def manual(key: String): AtomicLong =
    clocks.computeIfAbsent(key, _ => new AtomicLong(0L))
}

private[sources] case class GraftLongOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private[sources] class RateLimitedPayloadTable(tableSchema: StructType, path: String)
    extends Table with SupportsRead {
  override def name(): String = s"rate_limited($path)"
  // columns() derives from this via the interface default
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new RateLimitedMicroBatchStream(tableSchema, path, options)
      }
    }
}

private[sources] class RateLimitedMicroBatchStream(
    schema: StructType, path: String, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val idCol = options.getOrDefault("idCol", "id")
  private val rowsPerWindow = options.getInt("rowsPerWindow", 15)
  private val windowSeconds = options.getLong("windowSeconds", 60L)
  private val clockKey = Option(options.get("clockKey"))
  private val log = new SlidingWindowLog(rowsPerWindow, windowSeconds * 1000L)
  private var planned = -1L // highest id already granted to an offset
  private def advanceTo(v: Long): Unit = if (v > planned) planned = v

  private def now(): Long =
    clockKey.fold(System.currentTimeMillis())(GraftClocks.manual(_).get())

  override def initialOffset(): Offset = GraftLongOffset(-1L)
  /** Restart seam: on recovery the execution engine deserializes the
    * checkpointed offsets BEFORE planning anything, so seeding `planned`
    * here (monotone max over start and end of every restored batch)
    * guarantees latestOffset never returns an offset below the
    * checkpoint — without it a clean restart (all batches committed,
    * planInputPartitions never replayed) would restart `planned` at −1
    * and re-emit already-processed ids. */
  override def deserializeOffset(json: String): Offset = {
    val v = json.toLong
    advanceTo(v)
    GraftLongOffset(v)
  }

  /** Advance by at most the window's free capacity — the poll loop's
    * token acquire, fused into offset planning. Restart-safe THROUGH THE
    * ADMISSION-CONTROL API: the engine hands this overload the restored
    * `start` offset (the checkpointed end of the last batch), so the very
    * first post-restart planning call ratchets `planned` past everything
    * already processed BEFORE spending any window budget — the no-arg
    * `latestOffset()` can't do that (it runs before any deserialized
    * offset reaches the source, so a clean restart would burn the window
    * re-planning ids 0..checkpoint and stall, or re-emit). The log still
    * starts empty on restart (a restart can re-burst, exactly like the
    * reference's process restart). */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    advanceTo(start.asInstanceOf[GraftLongOffset].v)
    val t = now()
    val free = log.free(t)
    if (free <= 0) return GraftLongOffset(planned)
    val nextIds = SparkSession.active.read.parquet(path)
      .filter(col(idCol) > planned)
      .select(col(idCol).cast("long")).orderBy(col(idCol)).limit(free)
      .collect().map(_.getLong(0))
    if (nextIds.nonEmpty) {
      log.grant(t, nextIds.length)
      planned = nextIds.max
    }
    GraftLongOffset(planned)
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: the engine must call latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[GraftLongOffset].v, end.asInstanceOf[GraftLongOffset].v)
    if (e <= s) return Array.empty
    // restart replay: a batch may be re-planned past `planned`'s reset
    advanceTo(e)
    val rows = SparkSession.active.read.parquet(path)
      .filter(col(idCol) > s && col(idCol) <= e)
      .orderBy(col(idCol)).collect()
    Array(PayloadPartition(rows.map(_.toSeq.toArray)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PayloadReaderFactory(schema)

  override def commit(end: Offset): Unit =
    advanceTo(end.asInstanceOf[GraftLongOffset].v)
  override def stop(): Unit = ()
}

/** Budget-bounded batch: ≤ rowsPerWindow rows, carried as plain values
  * (the converter back to Catalyst runs executor-side). */
private[sources] case class PayloadPartition(rows: Array[Array[Any]]) extends InputPartition

private[sources] class PayloadReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[PayloadPartition].rows
    val converter = CatalystTypeConverters.createToCatalystConverter(schema)
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        converter(org.apache.spark.sql.Row.fromSeq(rows(i).toIndexedSeq))
          .asInstanceOf[InternalRow]
      override def close(): Unit = ()
    }
  }
}
