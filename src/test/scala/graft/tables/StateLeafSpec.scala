package graft.tables

import graft.SparkTestBase
import org.apache.spark.sql.graft.SparkInternals
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/**
 * BatchedLeaf / StateLeaf contract:
 *  1. round-trip fidelity for every column shape the crawl state uses
 *     (strings incl. empty/unicode, nullable fields, binary payloads,
 *     arrays, nested structs, longs) — leaf ≡ raw;
 *  2. the leaf's logical plan is a genuine LEAF (LogicalRDD — the
 *     anti-exponential-analysis property the round loop depends on);
 *  3. multi-scan stability: repeated actions over one leaf see identical
 *     data (zero-copy UnsafeRow wraps share slabs — rows must be
 *     independent and immutable across scans and within joins);
 *  4. wide rows exercise the slab-growth path (row > initial 64 KiB buf);
 *  5. eager variant materializes without changing results;
 *  6. jobs a leaf starts while it is built name the calling code.
 */
case class StateLeafNested(a: Long, b: String)
case class StateLeafWide(id: Long, s: String, maybe: Option[String],
                         bin: Array[Byte], xs: Seq[Long],
                         n: StateLeafNested)

class StateLeafSpec extends SparkTestBase {

  import org.apache.spark.sql.functions._

  type Nested = StateLeafNested
  type Wide = StateLeafWide
  private def Nested(a: Long, b: String) = StateLeafNested(a, b)
  private def Wide(id: Long, s: String, maybe: Option[String],
                   bin: Array[Byte], xs: Seq[Long], n: StateLeafNested) =
    StateLeafWide(id, s, maybe, bin, xs, n)

  private def mkData(n: Int) = {
    (0 until n).map { i =>
      Wide(i.toLong,
        if (i % 7 == 0) "" else s"row-$i-é中",
        if (i % 3 == 0) None else Some(s"opt$i"),
        Array.tabulate(i % 50)(j => (i + j).toByte),
        (0L until (i % 5).toLong).toVector,
        Nested(i * 2L, s"n$i"))
    }
  }

  private def canon(ds: org.apache.spark.sql.Dataset[Wide]): Seq[String] =
    ds.collect().toSeq.map(w =>
      s"${w.id}|${w.s}|${w.maybe}|${w.bin.toSeq}|${w.xs}|${w.n}").sorted

  test("batched leaf round-trips every state column shape") {
    val s = spark
    import s.implicits._
    val data = mkData(500)
    val ds = data.toDS().repartition(5)
    val leaf = StateLeaf.lazyLeaf(ds, StorageLevel.MEMORY_AND_DISK)
    assert(canon(leaf) === canon(ds))
  }

  test("batched leaf logical plan is a LogicalRDD leaf") {
    val s = spark
    import s.implicits._
    val ds = mkData(10).toDS()
    val leaf = StateLeaf.lazyLeaf(ds, StorageLevel.MEMORY_AND_DISK)
    val plan = leaf.queryExecution.logical
    assert(plan.isInstanceOf[LogicalRDD], s"got ${plan.getClass}")
    assert(plan.children.isEmpty)
  }

  test("multi-scan stability incl. self-join over one leaf") {
    val s = spark
    import s.implicits._
    val ds = mkData(300).toDS().repartition(3)
    val leaf = StateLeaf.lazyLeaf(ds, StorageLevel.MEMORY_AND_DISK)
    val c1 = canon(leaf); val c2 = canon(leaf)
    assert(c1 === c2)
    // group+join forces buffering of leaf rows (slab-shared UnsafeRows
    // must survive being retained by aggregation hash maps)
    val j = leaf.toDF().alias("l")
      .join(leaf.toDF().select(col("id")).alias("r"), Seq("id"))
    assert(j.count() === 300)
    val agg = leaf.toDF().groupBy("n.b").count().count()
    assert(agg === 300)
  }

  test("rows larger than the initial slab buffer survive") {
    val s = spark
    import s.implicits._
    val big = (0 until 8).map(i =>
      Wide(i.toLong, "x" * (200 << 10), Some("y" * 1000),
        Array.fill(128 << 10)(i.toByte), Seq(i.toLong), Nested(i, "z")))
    val leaf = StateLeaf.lazyLeaf(big.toDS().repartition(2),
      StorageLevel.MEMORY_AND_DISK)
    assert(canon(leaf) === canon(big.toDS()))
  }

  test("eager leaf materializes and agrees") {
    val s = spark
    import s.implicits._
    val ds = mkData(100).toDS()
    val leaf = StateLeaf.eagerLeaf(ds, StorageLevel.MEMORY_AND_DISK)
    assert(canon(leaf) === canon(ds))
  }

  test("OFF_HEAP leafs keep the off-heap flag on the batch RDD") {
    // RDD.localCheckpoint() rewrites the level via transformStorageLevel,
    // which DROPS useOffHeap — the engine's pre-r5 checkpoints silently
    // stored round state on-heap. BatchedLeaf restores the caller's
    // off-heap intent with the private persist override; pin it here so a
    // Spark upgrade that changes the override path fails loudly. (This
    // session has no off-heap pool, so blocks fall through to the disk
    // half of the level — the LEVEL is what's under test, and the data
    // must still round-trip.)
    val s = spark
    import s.implicits._
    val ds = mkData(200).toDS().repartition(2)
    val leaf = StateLeaf.lazyLeaf(ds, StorageLevel.OFF_HEAP)
    assert(canon(leaf) === canon(ds))
    val rdd = leaf.queryExecution.logical
      .asInstanceOf[LogicalRDD].rdd          // decode mapPartitions
    val batches = rdd.dependencies.head.rdd  // the persisted batch RDD
    val lvl = batches.getStorageLevel
    assert(lvl.useOffHeap, s"batch RDD level was $lvl")
    assert(lvl.useDisk)
  }

  test("empty dataset leafs cleanly") {
    val s = spark
    import s.implicits._
    val leaf = StateLeaf.lazyLeaf(s.emptyDataset[Wide],
      StorageLevel.MEMORY_AND_DISK)
    assert(leaf.count() === 0)
  }

  test("jobs started while a leaf is built carry the caller's frames") {
    // With AQE on, building a leaf runs the plan's shuffle stages, and
    // AQE submits their jobs from Spark's exchange pool: without a call
    // site set by the leaf, those jobs show only pool-thread frames and
    // no listener can tell which program code they ran for.
    val s = spark
    import s.implicits._
    val aqe = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    val details = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        js.stageInfos.foreach(st => details.add(st.details))
    }
    val ds = mkData(200).toDS().groupBy($"id" % 7).count()
    SparkInternals.drainListeners(s)
    s.sparkContext.addSparkListener(listener)
    try {
      StateLeaf.lazyLeaf(ds, StorageLevel.MEMORY_AND_DISK)
      SparkInternals.drainListeners(s)
    } finally {
      s.sparkContext.removeSparkListener(listener)
      s.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    assert(!details.isEmpty, "building the leaf started no job")
    // a frame of a graft.* class (a class-loader prefix ends in '/')
    val programFrame = "(^|/)graft\\.".r
    details.forEach(d => assert(
      d.linesIterator.exists(programFrame.findFirstIn(_).isDefined),
      s"job stage without a program frame:\n$d"))
  }
}
