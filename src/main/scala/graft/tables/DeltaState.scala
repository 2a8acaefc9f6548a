package graft.tables

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, lit, row_number}

/**
 * Incremental keyed-table state: an immutable materialized `base`, a
 * replace-by-key `overlay` (keys always of already-present rows), and
 * per-round disjoint `insert` deltas:
 *
 *   view = ((base ∪ inserts…) ⟕anti broadcast(overlay.keys)) ∪ overlay
 *
 * The anti-join is a broadcast-hash LeftAnti — a NARROW map over the
 * cached base, no shuffle — so reading the view never re-shuffles or
 * re-materializes the big table. Per-round maintenance materializes only
 * O(overlay + new rows), never O(table); the round-1 design (whole-table
 * localCheckpoint per round) rewrote the full frontier every round, which
 * at the 10^10-row target (SURVEY §6) is TBs of churn per round.
 *
 * Compaction folds everything into a fresh base when the overlay outgrows
 * its broadcast budget or the insert union gets wide — LSM-style
 * amortization, mirroring in memory the COW-bucket discipline
 * SnapshotStore applies on disk. The reference's equivalent is the DB's
 * row-level UPDATE/INSERT against indexed tables (db.c:944-1294): O(row)
 * per change, periodic page compaction handled by InnoDB.
 */
final class DeltaState[T](spark: SparkSession, keyCol: String)
                         (implicit enc: Encoder[T]) {

  var base: Dataset[T]            = spark.emptyDataset[T](enc)
  var overlay: Dataset[T]         = spark.emptyDataset[T](enc)
  var inserts: Vector[Dataset[T]] = Vector.empty
  var baseRows    = 0L
  var overlayRows = 0L
  var insertRows  = 0L

  /** Total distinct keys (the overlay only replaces existing rows). */
  def rows: Long = baseRows + insertRows

  private def allBaseAndInserts: Dataset[T] =
    StateLeaf.union(if (baseRows == 0 && inserts.nonEmpty) inserts
                    else base +: inserts)

  def view: Dataset[T] = {
    val all = allBaseAndInserts
    if (overlayRows == 0) all
    else all
      .join(broadcast(overlay.select(keyCol)), Seq(keyCol), "left_anti")
      .as[T](enc)
      .unionByName(overlay)
  }

  /** The key column across base+inserts — the full key set (the overlay
    * introduces no new keys). Columnar select: no row deserialization. */
  def keys: Dataset[String] = {
    import spark.implicits._
    allBaseAndInserts.select(col(keyCol).cast("string")).as[String]
  }

  /** The next overlay plan folding in a round's update delta. The caller
    * persists + materializes it, then swaps it in via swapOverlay. */
  def composeOverlay(updates: Dataset[T]): Dataset[T] =
    if (overlayRows == 0) updates
    else overlay
      .join(broadcast(updates.select(keyCol)), Seq(keyCol), "left_anti")
      .as[T](enc)
      .unionByName(updates)

  /** Swap in a materialized overlay. Overlays are plan-truncated state
    * leaves (StateLeaf: batched slabs or local checkpoint), and
    * Dataset.unpersist is a no-op for both forms (the blocks are RDD-level,
    * never CacheManager entries) — the old overlay's storage is reclaimed
    * by the ContextCleaner once the new overlay (which references it only
    * through already-computed data, not lineage) drops the last
    * reference. */
  def swapOverlay(newOverlay: Dataset[T], n: Long): Unit = {
    overlay = newOverlay
    overlayRows = n
  }

  /** Record a materialized insert delta (keys disjoint from all existing
    * rows — guaranteed by the URL-seen filter / anti-joins upstream). */
  def addInserts(delta: Dataset[T], n: Long): Unit =
    if (n > 0) { inserts :+= delta; insertRows += n }

  /** Replace everything with a materialized base (seed bulk-load, resume,
    * compaction). */
  def setBase(b: Dataset[T], n: Long): Unit = {
    overlay.unpersist()
    inserts.foreach(_.unpersist())
    base = b
    baseRows = n
    overlay = spark.emptyDataset[T](enc)
    inserts = Vector.empty
    overlayRows = 0L
    insertRows = 0L
  }

  /** Compact when the overlay outgrows its broadcast budget (1M keys /
    * quarter of the base) or the insert union gets wide. */
  def needsCompaction: Boolean =
    inserts.size > 24 || overlayRows > math.max(1L << 20, baseRows / 4)

  /** Fold overlay+inserts into a fresh materialized base (O(table), paid
    * rarely — the LSM amortization). The coalesce re-bounds the partition
    * count the accumulated unions would otherwise carry forward. */
  def compact(): Unit = {
    val total = rows
    val par = spark.sparkContext.defaultParallelism
    val p = math.max(par.toLong,
      math.min(total / 200000L + 1L, par * 8L)).toInt
    val b = StateLeaf.eagerLeaf(view.coalesce(p))
    setBase(b, total)
  }
}

/**
 * Insert-mostly keyed table (extracted text, stored payloads): per-round
 * delta parts with last-writer-wins resolution on read (a FORCE refetch
 * re-extracts a url). Reads are rare — tests, `locate`, snapshot commits —
 * so the window shuffle never sits in the round's hot path; the round
 * itself only appends.
 */
final class AppendState[T](spark: SparkSession, keyCol: String)
                          (implicit enc: Encoder[T]) {

  var base: Dataset[T]          = spark.emptyDataset[T](enc)
  var parts: Vector[Dataset[T]] = Vector.empty

  def view: Dataset[T] =
    if (parts.isEmpty) base
    else {
      val all = (base.toDF.withColumn("_pi", lit(0)) +:
        parts.zipWithIndex.map { case (p, i) =>
          p.toDF.withColumn("_pi", lit(i + 1))
        }).reduce(_ unionByName _)
      val w = Window.partitionBy(col(keyCol)).orderBy(col("_pi").desc)
      all.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_pi", "_rn")
        .as[T](enc)
    }

  def append(delta: Dataset[T]): Unit = parts :+= delta

  def setBase(b: Dataset[T]): Unit = {
    parts.foreach(_.unpersist())
    base = b
    parts = Vector.empty
  }

  def needsCompaction: Boolean = parts.size > 24

  def compact(): Unit = {
    val par = spark.sparkContext.defaultParallelism
    setBase(StateLeaf.eagerLeaf(view.coalesce(par * 2)))
  }
}
