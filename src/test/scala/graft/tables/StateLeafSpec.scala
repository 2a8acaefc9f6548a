package graft.tables

import graft.SparkTestBase
import graft.operators.SeenFilter
import org.apache.spark.sql.graft.{BatchedLeaf, SparkInternals}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
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
 *  6. jobs a leaf starts while it is built name the calling code;
 *  7. a counted leaf's statistics are its count, an uncounted leaf's are
 *     capped, and the planner broadcasts a small counted leaf;
 *  8. the counting job's bloom batch is the one `buildBloom` builds.
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

  private def stats(ds: org.apache.spark.sql.Dataset[_]) =
    ds.queryExecution.optimizedPlan.stats

  /** Run `f` with the given SQL confs set, restoring them after. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** A leaf whose plan Catalyst estimates far above any threshold (a
    * cross join of two 10^5-row ranges, never executed). */
  private def uncounted() = StateLeaf.lazyLeaf(spark.range(100000)
    .crossJoin(spark.range(100000).toDF("j")).toDF("k", "j"))

  test("a counted leaf carries its count; an uncounted one keeps the cap") {
    withConf("spark.sql.adaptive.enabled" -> "false",
             "spark.sql.defaultSizeInBytes" -> "4096") {
      val leaf = uncounted()
      assert(stats(leaf).rowCount.isEmpty)
      assert(stats(leaf).sizeInBytes == 4096)
      val c = StateLeaf.counted(leaf, 1000000L)
      assert(stats(c).rowCount.contains(BigInt(1000000)))
      assert(stats(c).sizeInBytes > 4096) // the count, not the cap
      // a view over the counted leaf still reads the same rows
      assert(BatchedLeaf.rowsOf(c) eq BatchedLeaf.rowsOf(leaf))
    }
    val s = spark
    import s.implicits._
    val eager = StateLeaf.eagerLeaf(mkData(40).toDS().repartition(3))
    assert(stats(eager).rowCount.contains(BigInt(40)))
    assert(stats(StateLeaf.sized(eager, 40)).rowCount.contains(BigInt(40)))
  }

  test("concat sums its counted parts and caps when a part is uncounted") {
    val s = spark
    import s.implicits._
    val a = StateLeaf.counted(StateLeaf.lazyLeaf(mkData(3).toDS()), 3)
    val b = StateLeaf.counted(StateLeaf.lazyLeaf(mkData(5).toDS()), 5)
    val ab = StateLeaf.union(Seq(a, b))
    assert(stats(ab).rowCount.contains(BigInt(8)))
    assert(stats(ab).sizeInBytes == stats(a).sizeInBytes + stats(b).sizeInBytes)
    assert(ab.count() == 8)
    val c = StateLeaf.lazyLeaf(mkData(2).toDS().filter(col("id") >= 0))
    val abc = StateLeaf.union(Seq(a, b, c))
    assert(stats(abc).rowCount.isEmpty)
    assert(abc.count() == 10)
  }

  test("a small counted leaf is broadcast into its join with an uncounted " +
       "plan; a counted leaf above the broadcast threshold is not") {
    def plan(small: Long): SparkPlan = {
      val big = uncounted()
      val side = StateLeaf.counted(
        StateLeaf.lazyLeaf(spark.range(1000).toDF("k")), small)
      big.join(side, "k").queryExecution.executedPlan
    }
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val p = plan(1000)
      assert(p.collect { case j: BroadcastHashJoinExec => j }.size == 1, p)
      val bhj = p.collect { case j: BroadcastHashJoinExec => j }.head
      val bigSide = bhj.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => bhj.left
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft  => bhj.right
      }
      assert(bigSide.collect { case e: Exchange => e }.isEmpty, p)
      // 10^8 counted rows are far above the 10 MB threshold
      val q = plan(100000000L)
      assert(q.collect { case j: BroadcastHashJoinExec => j }.isEmpty, q)
    }
  }

  test("the counting job's bloom batch equals buildBloom over its keys") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val family = new SeenFilter.SeenBloom(epochCapacity = 1 << 16)
    val keys = (0 until 3000).map(i => f"${i * 7919}%032x")
    val leaf = StateLeaf.lazyLeaf(keys.map(k => (k, k.length)).toDS()
      .toDF("url_hash", "n").repartition(3))
    val other = StateLeaf.lazyLeaf(mkData(20).toDS())
    val expected = SeenFilter.buildBloom(keys.toDS(), family)
    // over the row RDDs (a store-less driver) and through a bucket
    // projection (a driver with a store)
    for (bucket <- Seq(None, Some(lit(0)))) {
      val (counts, batch) = StateLeaf.count(
        Seq(other -> None, leaf -> bucket), Some(leaf -> family.batchFactory))
      assert(counts.map(_._1) == Seq(20L, 3000L))
      assert(counts(1)._2 == bucket.fold(Set.empty[Int])(_ => Set(0)))
      assert(batch.contains(expected))
    }
    // a bloom leaf with no rows gives an empty batch
    val empty = StateLeaf.lazyLeaf(leaf.filter(col("n") < 0))
    val (_, none) = StateLeaf.count(Seq(empty -> None),
      Some(empty -> family.batchFactory))
    assert(none.contains(family.emptyBatch()))
  }
}
