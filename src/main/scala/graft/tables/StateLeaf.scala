package graft.tables

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.BatchedLeaf
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter

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
 *
 * A leaf the driver has counted carries that count as its statistics
 * ([[counted]]: the row count and rows × the schema's default row width),
 * so Catalyst plans a broadcast-hash join on a small counted side and a
 * shuffle on a large one. A leaf not yet counted keeps the capped
 * estimate of `BatchedLeaf.capStats`, so estimates never compound.
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
    * materialized, and counted, before this returns. */
  def eagerLeaf[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    val l = BatchedLeaf(ds, level)
    counted(l, countRows(Seq(l)).head)
  }

  def eagerLeaf[T](ds: Dataset[T]): Dataset[T] =
    eagerLeaf(ds, levelFor(ds.sparkSession))

  /** The leaf carrying `rows` counted rows as its statistics. */
  def counted[T](leaf: Dataset[T], rows: Long): Dataset[T] =
    BatchedLeaf.withCount(leaf, rows)

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
    * of the parts it joins. It carries the count. */
  def sized[T](leaf: Dataset[T], rows: Long): Dataset[T] = {
    val par = leaf.sparkSession.sparkContext.defaultParallelism.toLong
    counted(BatchedLeaf.coalesce(leaf,
      math.max(1L, math.min(par, rows / 200000L + 1L)).toInt), rows)
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
    count(leaves.map(_ -> None))._1.map(_._1)

  /** [[countRows]] that also yields, for each leaf given a bucket column,
    * the set of buckets its rows fall in (read through a projection of
    * that column), and folds the `url_hash` values of `bloom`'s leaf (one
    * of `leaves`) into one filter per partition from `bloom`'s factory;
    * the partitions' filters are merged here. Still ONE job. */
  def count(leaves: Seq[(Dataset[_], Option[Column])],
            bloom: Option[(Dataset[_], () => BloomFilter)] = None)
      : (Seq[(Long, Set[Int])], Option[BloomFilter]) =
    if (leaves.isEmpty) (Nil, None)
    else {
      require(bloom.forall(b => leaves.exists(_._1 eq b._1)),
        "the bloom leaf is not among the counted leaves")
      val perPartition = leaves.head._1.sparkSession.sparkContext.union(
        leaves.zipWithIndex.map { case ((leaf, bucket), i) =>
          val newBloom = bloom.collect { case (l, f) if l eq leaf => f }
          val (rows, bucketAt, hashAt) = bucket match {
            case Some(b) =>
              val cols = b.as("bucket") +: newBloom.map(_ => col("url_hash")).toSeq
              (leaf.toDF().select(cols: _*).queryExecution.toRdd, 0, 1)
            case None =>
              (BatchedLeaf.rowsOf(leaf), -1,
                newBloom.fold(-1)(_ => leaf.schema.fieldIndex("url_hash")))
          }
          val mkBloom = newBloom.orNull
          rows.mapPartitions { it =>
            var n = 0L
            val buckets = scala.collection.mutable.HashSet.empty[Int]
            val bf = if (mkBloom == null) null else mkBloom()
            while (it.hasNext) {
              val r = it.next()
              n += 1
              if (bucketAt >= 0 && !r.isNullAt(bucketAt))
                buckets += r.getInt(bucketAt)
              if (bf != null && !r.isNullAt(hashAt))
                bf.putBinary(r.getUTF8String(hashAt).getBytes)
            }
            Iterator.single((i, n, buckets.toSet, Option(bf).filter(_ => n > 0)))
          }
        }).collect()
      val counts = leaves.indices.map { i =>
        val own = perPartition.filter(_._1 == i)
        (own.map(_._2).sum, own.flatMap(_._3).toSet)
      }
      val merged = bloom.map { case (_, newBloom) =>
        perPartition.flatMap(_._4).reduceOption(_ mergeInPlace _)
          .getOrElse(newBloom())
      }
      (counts, merged)
    }

  /** Drop a leaf's stored rows now rather than when the ContextCleaner
    * gets to them. The leaf must not be read again. */
  def release(leaf: Dataset[_]): Unit = {
    val rows = BatchedLeaf.rowsOf(leaf)
    BatchedLeaf.slabsOf(rows)
      .getOrElse(rows).unpersist(blocking = false)
  }
}
