package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{Dataset => CDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.CallSite

/**
 * Plan-truncating BATCHED state leaf — the successor to the engine's lazy
 * `localCheckpoint(false, level)` round-state discipline.
 *
 * Both forms solve the same problem: a crawl round's output must become a
 * LOGICAL LEAF immediately (re-composing overlay views over plain
 * persist()ed parts nests every prior round's plan and Catalyst analysis
 * goes exponential — observed 900+ s of driver CPU in TreeNode.transform
 * by round ~15), while the data itself materializes later inside the
 * round's ONE counting job. `Dataset.localCheckpoint` achieves that by
 * storing the plan's rows as PER-ROW Java-serialized RDD blocks: a JFR
 * allocation profile of a 4M-URL local[32] sweep showed those blocks'
 * readObject path as the single largest allocation source in the engine
 * (~245 GB of byte[] churn at `JavaDeserializationStream.readObject` plus
 * ~38 GB at `UnsafeRow.readExternal`, of ~1.4 TB total sampled) — every
 * scan of every state leaf pays ObjectInputStream framing and two
 * allocations PER ROW, and at 32 threads that allocation rate is GC share
 * that caps 8v32 scaling (25-50% of big-sweep wall).
 *
 * This leaf stores the same rows as ROW BATCHES instead: each ≤1024-row /
 * ~128 KiB slab (`MaxRowsPerBatch`/`TargetBatchBytes` — NOT multi-MiB:
 * slabs ≥4 MiB survive young GCs and their promotion cost A/B'd WORSE
 * than per-row blocks) is one byte[] of concatenated UnsafeRow bytes plus one
 * offsets array (the UnsafeRow format is self-contained and relocatable —
 * the same property the shuffle's UnsafeRowSerializer relies on), so
 *
 *  - a block READ costs ~3 allocations per BATCH, and each row is a
 *    zero-copy `UnsafeRow.pointTo` wrap into the shared slab (immutable,
 *    so downstream retain-without-copy is safe — worst case it pins the
 *    slab, never corrupts);
 *  - a block WRITE is one memcpy per row into the slab;
 *  - the logical plan truncates to the same [[LogicalRDD]] leaf that
 *    `Dataset.localCheckpoint` produces, and the batch RDD is
 *    `localCheckpoint()`ed so RDD lineage truncates at materialization
 *    exactly like before (same ContextCleaner storage lifecycle, same
 *    lost-block = recompute-from-nothing semantics).
 *
 * An earlier r5 attempt used a manually-built InMemoryRelation for this;
 * it was abandoned because IMR retains its child PHYSICAL plan as
 * `innerChildren`, so leafs nest across rounds and every execution
 * event's plan-description render walks an exponentially growing tree
 * (observed: minutes of driver CPU in `TreeNode.generateTreeString`).
 *
 * Construction forces `queryExecution.toRdd` on the CALLING thread: with
 * AQE on that runs the plan's driver-side finalization (and any
 * intermediate stages) NOW, preserving the contract the concurrent
 * leaf-finalization pool depends on; the batch-materialization itself
 * stays lazy and runs inside the round's counting job.
 */
object BatchedLeaf {

  // Batch sizing: SMALL on purpose. A slab stays strongly referenced for
  // as long as a scan task is inside it, so at a 32-thread allocation rate
  // (young GCs every ~100 ms) a 4 MiB slab reliably SURVIVES collections
  // and gets promoted — and promotion/survivor copying, not garbage
  // volume, is what young GC actually costs (first cut used 4 MiB slabs
  // and A/B'd WORSE than per-row checkpoints: GC 54-70 s vs 35 s at
  // 4M/local[32]). At 128 KiB, the live slab set is ~32 × 128 KiB at any
  // instant while Java-serialization overhead is still amortized over
  // hundreds of rows per batch.
  private[graft] val MaxRowsPerBatch  = 1024
  private[graft] val TargetBatchBytes = 128 << 10

  /** One slab of concatenated UnsafeRow bytes. `offsets` has `rows + 1`
    * entries; row i spans [offsets(i), offsets(i+1)). Custom
    * serialization writes only the USED prefix of `bytes` (the encode
    * loop never tight-copies the slab — the copy would double write-side
    * churn; slack past `offsets(rows)` simply isn't shipped). */
  final class RowBatch(var bytes: Array[Byte], var offsets: Array[Int],
                       var rows: Int) extends java.io.Externalizable {
    def this() = this(null, null, 0) // Externalizable contract

    override def writeExternal(out: java.io.ObjectOutput): Unit = {
      out.writeInt(rows)
      var i = 0
      while (i <= rows) { out.writeInt(offsets(i)); i += 1 }
      out.write(bytes, 0, offsets(rows))
    }

    override def readExternal(in: java.io.ObjectInput): Unit = {
      rows = in.readInt()
      offsets = new Array[Int](rows + 1)
      var i = 0
      while (i <= rows) { offsets(i) = in.readInt(); i += 1 }
      bytes = new Array[Byte](offsets(rows))
      in.readFully(bytes)
    }
  }

  private def encodePartition(it: Iterator[InternalRow], schema: StructType)
      : Iterator[RowBatch] = new Iterator[RowBatch] {
    private lazy val proj = UnsafeProjection.create(schema)
    override def hasNext: Boolean = it.hasNext
    override def next(): RowBatch = {
      var buf = new Array[Byte](TargetBatchBytes + (8 << 10))
      val offsets = new Array[Int](MaxRowsPerBatch + 1)
      var pos = 0
      var n = 0
      while (it.hasNext && n < MaxRowsPerBatch && pos < TargetBatchBytes) {
        val u = it.next() match {
          case u: UnsafeRow => u
          case r            => proj(r)
        }
        val sz = u.getSizeInBytes
        if (pos + sz > buf.length) {
          val grown = new Array[Byte](
            math.max(buf.length * 2L, pos + sz.toLong).min(Int.MaxValue).toInt)
          System.arraycopy(buf, 0, grown, 0, pos)
          buf = grown
        }
        Platform.copyMemory(u.getBaseObject, u.getBaseOffset,
          buf, Platform.BYTE_ARRAY_OFFSET + pos, sz)
        offsets(n) = pos
        pos += sz
        n += 1
      }
      offsets(n) = pos
      new RowBatch(buf, offsets, n)
    }
  }

  private def decodeBatch(b: RowBatch, nFields: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var i = 0
      override def hasNext: Boolean = i < b.rows
      override def next(): InternalRow = {
        val r = new UnsafeRow(nFields)
        r.pointTo(b.bytes, Platform.BYTE_ARRAY_OFFSET + b.offsets(i),
          b.offsets(i + 1) - b.offsets(i))
        i += 1
        r
      }
    }

  private val RowsName = "graft.BatchedLeaf.rows"

  /** The stored slab RDD behind a batched leaf's row RDD, if it is one. */
  def slabsOf(rows: RDD[InternalRow]): Option[RDD[_]] =
    if (rows.name == RowsName) Some(rows.firstParent[RowBatch]) else None

  private def leafOf(ds: Dataset[_]): LogicalRDD =
    ds.asInstanceOf[CDataset[_]].queryExecution.analyzed match {
      case l: LogicalRDD => l
      case other => throw new IllegalArgumentException(
        s"not a state leaf: ${other.nodeName}")
    }

  /** The row RDD a leaf scans. */
  def rowsOf(ds: Dataset[_]): RDD[InternalRow] = leafOf(ds).rdd

  /** Is `ds` a plan-truncated leaf? */
  def isLeaf(ds: Dataset[_]): Boolean =
    ds.asInstanceOf[CDataset[_]].queryExecution.analyzed
      .isInstanceOf[LogicalRDD]

  private def capped(conf: org.apache.spark.sql.internal.SQLConf,
                     size: BigInt): Statistics =
    Statistics(size.min(BigInt(conf.defaultSizeInBytes)))

  /** A leaf over `rows` with the parts' output: counted when every part
    * is, with their summed count, else with their capped summed size. */
  private def withRows[T](like: Dataset[T], plans: Seq[LogicalRDD],
                          rows: RDD[InternalRow]): Dataset[T] = {
    val cds = like.asInstanceOf[CDataset[T]]
    val stats = plans.map(_.stats)
    val size = stats.map(_.sizeInBytes).sum
    val carried =
      if (stats.forall(_.rowCount.isDefined))
        Statistics(size, Some(stats.flatMap(_.rowCount).sum))
      else capped(plans.head.conf, size)
    val leaf = LogicalRDD(plans.head.output.map(_.newInstance()), rows)(
      cds.sparkSession, Some(carried), None)
    new CDataset[T](cds.sparkSession, leaf, cds.exprEnc)
  }

  /** The same leaf with other statistics. */
  private def withStats[T](ds: Dataset[T], stats: Statistics): Dataset[T] = {
    val cds = ds.asInstanceOf[CDataset[T]]
    val fresh = leafOf(ds).newInstance()
    new CDataset[T](cds.sparkSession,
      fresh.copy()(cds.sparkSession, Some(stats), None), cds.exprEnc)
  }

  /** The leaf with the statistics of `rows` counted rows: the row count
    * and a size of `rows` × the schema's default row width, so the planner
    * broadcasts a counted leaf below `spark.sql.autoBroadcastJoinThreshold`
    * instead of shuffling both sides of its join. A row count on a leaf
    * always comes from here: an uncounted leaf carries none. */
  def withCount[T](ds: Dataset[T], rows: Long): Dataset[T] =
    withStats(ds, Statistics(
      EstimationUtils.getSizePerRow(leafOf(ds).output) * rows,
      Some(BigInt(rows))))

  /** One leaf over the rows of same-schema leaves. A SQL union of leaves
    * compiles a scan stage per distinct part plan into every query that
    * reads it; this leaf is one scan of the concatenated partitions. Its
    * row count is the parts' sum when every part is counted. */
  def concat[T](parts: Seq[Dataset[T]]): Dataset[T] = {
    val plans = parts.map(leafOf)
    withRows(parts.head, plans,
      parts.head.sparkSession.sparkContext.union(plans.map(_.rdd)))
  }

  /** The leaf's rows in at most `n` partitions, still a leaf (a narrow
    * RDD coalesce — zero-copy once the rows are stored) with the same
    * statistics. */
  def coalesce[T](ds: Dataset[T], n: Int): Dataset[T] = {
    val plan = leafOf(ds)
    withRows(ds, Seq(plan), plan.rdd.coalesce(n))
  }

  /** Truncate `ds`'s logical plan to a batch-stored leaf at `level`.
    * Lazy: batches materialize on the first action that scans the leaf
    * (the round's counting job), after which the batch RDD's lineage is
    * truncated by its local checkpoint. */
  def apply[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    val cds = ds.asInstanceOf[CDataset[T]]
    val qe = cds.queryExecution
    // Forces AQE plan finalization on this thread (see scaladoc). AQE
    // submits the plan's shuffle-stage jobs from Spark's exchange pool,
    // whose threads carry this thread's local properties but none of its
    // frames; the caller's call site, set as a property for the duration,
    // names the code those jobs (and their stages) run for.
    val sc = cds.sparkSession.sparkContext
    val prevShort = sc.getLocalProperty(CallSite.SHORT_FORM)
    val prevLong = sc.getLocalProperty(CallSite.LONG_FORM)
    sc.setCallSite(sc.getCallSite())
    val rowRdd = try qe.toRdd finally {
      sc.setLocalProperty(CallSite.SHORT_FORM, prevShort)
      sc.setLocalProperty(CallSite.LONG_FORM, prevLong)
    }
    val schema = qe.executedPlan.schema
    val nFields = schema.length
    val batches: RDD[RowBatch] = rowRdd
      .mapPartitions(encodePartition(_, schema), preservesPartitioning = true)
    // RDD.localCheckpoint() rewrites the storage level through
    // LocalRDDCheckpointData.transformStorageLevel, whose 4-arg
    // StorageLevel(useDisk, useMemory, deserialized, replication) DROPS
    // the off-heap flag — so every `localCheckpoint(_, OFF_HEAP)` this
    // engine ever issued silently stored its blocks ON-HEAP (verified by
    // decompiling spark-core 4.1.2), and the round state sat in the GC
    // old generation after all. Replicate localCheckpoint() here without
    // the rewrite: persist at the caller's level (disk added — all local
    // checkpointing actually requires of the level) and attach the
    // checkpoint data directly (this object lives under org.apache.spark,
    // so the private[spark] LocalRDDCheckpointData is accessible).
    val withDisk =
      StorageLevel(useDisk = true, level.useMemory, level.useOffHeap,
        level.deserialized, level.replication)
    batches.persist(withDisk)
    // Guards RDD.localCheckpoint() would have run and that this direct
    // attachment intentionally drops: reliable-checkpoint conflict (this
    // engine never calls rdd.checkpoint()) and the dynamic-allocation
    // data-loss warning (local mode has no executor decommission). The
    // require keeps the first assumption checkable.
    require(batches.checkpointData.isEmpty,
      "batches already has checkpoint data — reliable checkpoint conflict")
    batches.checkpointData =
      Some(new org.apache.spark.rdd.LocalRDDCheckpointData(batches))
    val out: RDD[InternalRow] = batches
      .mapPartitions(_.flatMap(decodeBatch(_, nFields)),
        preservesPartitioning = true)
      .setName(RowsName)
    capStats(new CDataset[T](cds.sparkSession,
      LogicalRDD.fromDataset(out, cds, isStreaming = false), cds.exprEnc))
  }

  /** The leaf with its size estimate capped at the session's default
    * size (`spark.sql.defaultSizeInBytes`, the estimate of a relation of
    * unknown size) and no row count. A leaf inherits the estimate of the
    * plan it stores, and join estimates multiply (row counts too), so
    * without a cap every round's leaves would square the estimate of the
    * last: after ~20 rounds the planner spends minutes in BigInteger
    * multiplication. The cap holds until the leaf is counted
    * ([[withCount]]); a counted leaf's estimate comes from its rows, never
    * from the plan it stored. */
  private def capStats[T](ds: Dataset[T]): Dataset[T] = {
    val plan = leafOf(ds)
    val st = plan.stats
    if (st.rowCount.isEmpty && st.sizeInBytes <= plan.conf.defaultSizeInBytes) ds
    else withStats(ds, capped(plan.conf, st.sizeInBytes))
  }
}
