package graft.tables

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.BatchedLeaf
import org.apache.spark.storage.StorageLevel

/**
 * The one place that decides HOW a round-state plan becomes a logical
 * leaf: a [[org.apache.spark.sql.graft.BatchedLeaf]] — rows stored as
 * ≤1024-row / ~128 KiB byte slabs, reads are zero-copy UnsafeRow wraps,
 * ContextCleaner lifecycle. Chosen over `Dataset.localCheckpoint` after a
 * JFR allocation profile showed the checkpoint blocks' per-row Java
 * (de)serialization as the largest single allocation source of a crawl
 * sweep (~20% of sampled churn).
 *
 * Leaves are LAZY (plan truncates immediately, data materializes in the
 * round's single counting job), with an eager variant for compaction /
 * resume bulk loads.
 */
object StateLeaf {

  /** Where state blocks live: off-heap when the session has a pool
    * (retained round state off the GC old generation),
    * on-heap MEMORY_AND_DISK otherwise (tests, default sessions). */
  def levelFor(spark: SparkSession): StorageLevel =
    if (spark.conf.getOption("spark.memory.offHeap.enabled")
        .contains("true")) StorageLevel.OFF_HEAP
    else StorageLevel.MEMORY_AND_DISK

  /** Lazy plan-truncating leaf (the per-round hot path). */
  def lazyLeaf[T](ds: Dataset[T], level: StorageLevel): Dataset[T] =
    BatchedLeaf(ds, level)

  def lazyLeaf[T](ds: Dataset[T]): Dataset[T] =
    lazyLeaf(ds, levelFor(ds.sparkSession))

  /** Eager leaf (compaction, resume bulk loads, trace bases): data is
    * materialized before this returns. */
  def eagerLeaf[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    val l = BatchedLeaf(ds, level)
    l.count(): Unit
    l
  }

  def eagerLeaf[T](ds: Dataset[T]): Dataset[T] =
    eagerLeaf(ds, levelFor(ds.sparkSession))

  /** A change's leaf: lazy, and coalesced to the session parallelism
    * BEFORE it is stored — an overlay is re-composed (old ∪ delta) on
    * every change and a union concatenates partitions, so it would grow
    * without bound; and each delta's 64-128 shuffle partitions would put
    * thousands of ms-sized tasks into the counting job, whose per-task
    * scheduling runs serially on the driver. */
  def deltaLeaf[T](ds: Dataset[T]): Dataset[T] =
    lazyLeaf(ds.coalesce(ds.sparkSession.sparkContext.defaultParallelism))

  /** A counted leaf in as many partitions as its rows need (one per 200k,
    * at most the session parallelism): a narrow zero-copy view that stays
    * a leaf, so a 2k-row delta does not cost 64 tasks on every later scan
    * of the parts it joins. */
  def sized[T](leaf: Dataset[T], rows: Long): Dataset[T] = {
    val par = leaf.sparkSession.sparkContext.defaultParallelism.toLong
    BatchedLeaf.coalesce(leaf,
      math.max(1L, math.min(par, rows / 200000L + 1L)).toInt)
  }

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
