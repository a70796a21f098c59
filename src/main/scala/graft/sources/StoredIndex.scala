package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The served-generation lifecycle every stored index shares — BM25,
  * phrase, trigram and symmetric-delete in [[graft.operators.Search]],
  * IVF in [[graft.operators.Similarity]], LSH in
  * [[graft.operators.Dedup]]. An index is a composite over versioned
  * component stores (`$path/<component>`, see
  * [[PartitionedStore.publishComposite]]); each family keeps its own
  * layout logic and does every lifecycle step through this module:
  *
  *  - a reader or writer resolves the served generation ONCE
  *    ([[served]]) and reads every component at the version it pins, so
  *    no read mixes two generations;
  *  - an append commits each component pinned to its SERVED parent,
  *    never the raw latest, so a retry after a crashed-but-committed
  *    append cannot stack on the orphan;
  *  - a publish is always the served pins plus the updates: components
  *    an update does not name carry over, `tombstones` included;
  *  - deletes follow the deletion-vector model: deleted ids append into
  *    a `tombstones` component, serving reads anti-join it, appends
  *    refuse its ids, and only [[Served.compact]] removes it — after
  *    rewriting the named components without those rows.
  *
  * Component commits land as unreferenced versions of their stores; the
  * index flips to a new generation only at the composite publish, so a
  * crash anywhere before it leaves readers on the old generation, and
  * racing publishers fail (loser-errors) instead of corrupting it. */
object StoredIndex {

  private val Tombstones = "tombstones"

  /** Commit `df` as a full snapshot of one component: a build's
    * components, or a 1-row stats / sketch replacement. The new version
    * serves only once a publish pins it. */
  def commit(df: DataFrame, path: String, component: String,
             partitionCols: Seq[String] = Nil): Long =
    PartitionedStore.commitVersion(df, s"$path/$component",
      partitionCols = partitionCols)

  /** Publish a built (or rebuilt) index: a generation of exactly
    * `components`, with no tombstones — a full build reflects its own
    * corpus. Returns the generation. */
  def create(path: String, components: Map[String, Long]): Long =
    PartitionedStore.publishComposite(path, components)

  /** The index generation served at `path` now. */
  def served(spark: SparkSession, path: String): Served =
    Served(spark, path, PartitionedStore.readComposite(path))

  /** The one column of `df` that `fixed` does not name — how a layout
    * that stores ids under the writer's column name finds it again. */
  def idColumn(df: DataFrame, fixed: String => Boolean,
               component: String): String =
    df.columns.filterNot(fixed) match {
      case Array(only) => only
      case other => throw new IllegalArgumentException(
        s"ambiguous $component id column among ${other.mkString(", ")}")
    }

  /** A component [[Served.compact]] rewrites, with its layout. */
  final case class Rewrite(component: String, partitionCols: Seq[String] = Nil,
                           sortCols: Seq[String] = Nil)

  /** One resolved generation: `pins` maps each component to the version
    * this generation serves. */
  final case class Served(spark: SparkSession, path: String,
                          pins: Map[String, Long]) {

    def has(component: String): Boolean = pins.contains(component)

    /** Whether this generation carries deleted ids not yet reclaimed. */
    def tombstoned: Boolean = has(Tombstones)

    /** `component` at the version this generation pins. */
    def read(component: String): DataFrame =
      PartitionedStore.readVersion(spark, s"$path/$component",
        Some(pins(component)))

    /** Append `df` to `component`, on the version this generation pins.
      * Returns the new, unpublished component version. */
    def append(df: DataFrame, component: String,
               partitionCols: Seq[String] = Nil): Long =
      PartitionedStore.commitVersion(df, s"$path/$component", append = true,
        parent = Some(pins(component)), partitionCols = partitionCols)

    /** Publish the next generation: these pins with `updates` applied. */
    def publish(updates: Map[String, Long]): Long =
      PartitionedStore.publishComposite(path, pins ++ updates)

    /** `df` without its tombstoned ids — the serve-time filter, applied
      * before any statistic is counted over `df`, so a query after a
      * delete answers exactly like an index rebuilt without those ids.
      * The tombstone set is small and broadcasts. */
    def live(df: DataFrame, idCol: String): DataFrame =
      if (!tombstoned) df
      else df.join(broadcast(read(Tombstones)), Seq(idCol), "left_anti")

    /** Raise when `delta` carries a tombstoned id: that id is deleted
      * content, not a re-delivery, and an append must never silently
      * serve it again. Compaction reclaims the id for re-use. */
    def refuseResurrection(delta: DataFrame, idCol: String): Unit =
      if (tombstoned) {
        val clash = delta.join(broadcast(read(Tombstones)), Seq(idCol), "left_semi")
          .select(col(idCol)).limit(3).collect()
        if (clash.nonEmpty) throw new IllegalStateException(
          s"append would resurrect tombstoned ids (e.g. ${clash.mkString(", ")})" +
            s" at $path; compact the index to reclaim them first")
      }

    /** Tombstone delete of the first column of `ids`: the requested ids
      * that are in `indexed` (rows keyed by `idCol`) and not already
      * tombstoned append into `tombstones`, and the next generation
      * publishes with `adjust`'s component updates — `adjust` receives
      * exactly those `indexed` rows, so a family can shrink its stats by
      * them. Cost tracks the delete set; no other component is read. When
      * no requested id is indexed and live the delete is a no-op and
      * publishes nothing. */
    def delete(ids: DataFrame, idCol: String, indexed: DataFrame)
              (adjust: DataFrame => Map[String, Long]): Unit = {
      val requested = ids.select(col(ids.columns.head).as(idCol)).distinct()
      // consumed by the no-op gate, `adjust` and the tombstone commit
      val gone = indexed
        .join(broadcast(live(requested, idCol)), Seq(idCol), "left_semi")
        .localCheckpoint()
      try {
        if (!gone.isEmpty) {
          val tv = PartitionedStore.commitVersion(gone.select(col(idCol)),
            s"$path/$Tombstones", append = tombstoned,
            parent = pins.get(Tombstones))
          publish(adjust(gone) + (Tombstones -> tv))
        }
      } finally graft.operators.Checkpoints.release(gone)
    }

    /** Compaction: each rewrite collapses its component's append dirs
      * into one clustered rewrite without the tombstoned rows
      * ([[PartitionedStore.compactVersion]] on the pinned version), and
      * the next generation publishes without `tombstones` — answers are
      * unchanged, the bytes and the re-append embargo are gone. `rebuild`
      * sees that next generation before it publishes and returns any
      * further component updates. The previous generation still time
      * travels to the uncompacted dirs until
      * [[PartitionedStore.vacuumComposite]]. Returns the generation. */
    def compact(idCol: String, rewrites: Rewrite*)
               (rebuild: Served => Map[String, Long] = _ => Map.empty): Long = {
      val minus = if (tombstoned) Some((read(Tombstones), Seq(idCol))) else None
      val next = copy(pins = pins - Tombstones ++ rewrites.map(r =>
        r.component -> PartitionedStore.compactVersion(spark,
          s"$path/${r.component}", r.partitionCols, r.sortCols,
          Some(pins(r.component)), minus = minus)))
      next.publish(rebuild(next))
    }
  }
}
