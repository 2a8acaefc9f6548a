package graft.tables

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.BatchedLeaf
import org.apache.spark.storage.StorageLevel

/**
 * The one place that decides HOW a round-state plan becomes a logical
 * leaf. Two strategies, switchable per-JVM (sysprop `graft.stateLeaf` /
 * env `SPARK_GRAFT_STATE_LEAF`, values `batched` | `checkpoint`):
 *
 *  - `batched` (default): [[org.apache.spark.sql.graft.BatchedLeaf]] —
 *    rows stored as ≤1024-row / ~128 KiB byte slabs, reads are zero-copy UnsafeRow
 *    wraps, ContextCleaner lifecycle. Chosen after a JFR allocation
 *    profile showed the checkpoint blocks' per-row Java
 *    (de)serialization as the largest single allocation source in a
 *    4M-URL local[32] sweep (~20% of 1.4 TB sampled churn) — GC share is
 *    the fixed cost that caps 8v32 scaling.
 *  - `checkpoint`: the pre-r5 `Dataset.localCheckpoint` flow, kept for
 *    A/B measurement and as an escape hatch.
 *
 * Both are LAZY (plan truncates immediately, data materializes in the
 * round's single counting job) with an eager variant for compaction /
 * resume bulk loads.
 */
object StateLeaf {

  def batched: Boolean =
    sys.props.get("graft.stateLeaf")
      .orElse(sys.env.get("SPARK_GRAFT_STATE_LEAF"))
      .map(_.trim) match {
      case None | Some("") | Some("batched") => true
      case Some("checkpoint")                => false
      case Some(other) => sys.error(
        s"graft.stateLeaf: unknown value '$other' (use batched|checkpoint)" +
          " — a typo here would silently invalidate an A/B")
    }

  /** Where state blocks live: off-heap when the session has a pool (the
    * bench does — retained round state off the GC old generation),
    * on-heap MEMORY_AND_DISK otherwise (tests, default sessions). */
  def levelFor(spark: SparkSession): StorageLevel =
    if (spark.conf.getOption("spark.memory.offHeap.enabled")
        .contains("true")) StorageLevel.OFF_HEAP
    else StorageLevel.MEMORY_AND_DISK

  /** Lazy plan-truncating leaf (the per-round hot path). */
  def lazyLeaf[T](ds: Dataset[T], level: StorageLevel): Dataset[T] =
    if (batched) BatchedLeaf(ds, level)
    else BatchedLeaf.capStats(
      ds.localCheckpoint(eager = false, storageLevel = level))

  def lazyLeaf[T](ds: Dataset[T]): Dataset[T] =
    lazyLeaf(ds, levelFor(ds.sparkSession))

  /** Eager leaf (compaction, resume bulk loads, trace bases): data is
    * materialized before this returns. */
  def eagerLeaf[T](ds: Dataset[T], level: StorageLevel): Dataset[T] =
    if (batched) {
      val l = BatchedLeaf(ds, level)
      l.count(): Unit
      l
    } else BatchedLeaf.capStats(
      ds.localCheckpoint(eager = true, storageLevel = level))

  def eagerLeaf[T](ds: Dataset[T]): Dataset[T] =
    eagerLeaf(ds, levelFor(ds.sparkSession))

  /** Union of same-schema parts: one leaf scan when every part is a leaf
    * (see BatchedLeaf.concat), a SQL union otherwise. */
  def union[T](parts: Seq[Dataset[T]]): Dataset[T] =
    if (parts.size == 1) parts.head
    else if (parts.forall(BatchedLeaf.isLeaf)) BatchedLeaf.concat(parts)
    else parts.reduce(_ unionByName _)

  /** Materialize leaves and count each one's rows in ONE job over their
    * row RDDs. Counting a leaf through SQL instead would compile a scan
    * class per leaf schema; this job runs no generated code. */
  def countRows(leaves: Seq[Dataset[_]]): Seq[Long] =
    if (leaves.isEmpty) Nil
    else {
      val perPartition = leaves.head.sparkSession.sparkContext.union(
        leaves.map(BatchedLeaf.rowsOf).zipWithIndex.map { case (rows, i) =>
          rows.mapPartitions { it =>
            var n = 0L
            while (it.hasNext) { it.next(); n += 1 }
            Iterator.single((i, n))
          }
        }).collect()
      leaves.indices.map(i =>
        perPartition.iterator.filter(_._1 == i).map(_._2).sum)
    }

  /** Drop a leaf's stored rows now rather than when the ContextCleaner
    * gets to them. The leaf must not be read again. */
  def release(leaf: Dataset[_]): Unit = {
    val rows = BatchedLeaf.rowsOf(leaf)
    BatchedLeaf.slabsOf(rows)
      .getOrElse(rows).unpersist(blocking = false)
  }
}
