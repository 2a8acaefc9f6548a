package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit, udf}
import org.apache.spark.util.sketch.BloomFilter

/**
 * U1/J2 — the URL-seen membership test (reference: probe-then-insert under
 * a PK-on-hash, libspider/queues/db.c:1202-1294), re-expressed per the
 * north_rule as a three-level filter so the vast majority of rediscovered
 * URLs never shuffle:
 *
 *   1. driver-held broadcast **Bloom filter** over every seen `url_hash`
 *      (merged incrementally per round; Spark's
 *      org.apache.spark.util.sketch.BloomFilter) — a candidate the bloom
 *      has never seen is *definitely new* and skips the join entirely;
 *   2. per-partition **cuckoo-filter** refinement inside a typed cogroup on
 *      the hash bucket: seen hashes of the bucket are folded into a compact
 *      16-bit-fingerprint cuckoo table (~2.3 bytes/key vs 32-byte strings),
 *      candidates missing from it are also definitely new;
 *   3. the authoritative **exact probe** for the (small) residue the
 *      cuckoo might-contains, inside the same cogroup: a binary search of
 *      the bucket's seen hashes, which the task has buffered anyway.
 *
 * All three levels are conservative (no false "new"): correctness never
 * depends on the sketches. Levels 2 and 3 share one co-partitioned task,
 * so the seen set is shuffled once per call. At 10^10 frontier
 * scale the bloom is epoch-partitioned (one filter per insert epoch,
 * bounded bits each) — `SeenBloom` below keeps that family.
 */
object SeenFilter {

  /**
   * Cuckoo filter with 16-bit fingerprints, 4 slots/bucket (public design:
   * Fan et al., "Cuckoo Filter: Practically Better Than Bloom", CoNLL'14).
   * Insert-only (the seen set never shrinks mid-round); ~0.01% fpp at 95%
   * load. Not thread-safe — one instance per partition/bucket.
   */
  final class CuckooFilter(expected: Int) {
    private val SlotsPerBucket = 4
    private val nBuckets: Int = {
      val needed = math.max(1, expected / SlotsPerBucket + 1)
      Integer.highestOneBit(math.max(1, needed - 1)) * 2 // next pow2
    }
    private val table = new Array[Short](nBuckets * SlotsPerBucket)
    private val mask  = nBuckets - 1
    // Homeless fingerprints after a failed eviction chain, stored with both
    // their candidate buckets — the evicted entry may belong to a *different*
    // key than the one being inserted, so we must spill (fp, bucket), never
    // the argument key. Conservative: preserves "no false new".
    private var overflow: scala.collection.mutable.Set[(Short, Int)] = null

    private def fingerprint(h: Long): Short = {
      val f = ((h >>> 32) & 0xffff).toInt
      (if (f == 0) 1 else f).toShort // 0 = empty slot
    }
    private def hash64(key: String): Long = {
      // FNV-1a 64-bit — deterministic, allocation-free
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < key.length) { h ^= key.charAt(i); h *= 0x100000001b3L; i += 1 }
      h
    }
    private def altIndex(i: Int, fp: Short): Int =
      (i ^ (fp * 0x5bd1e995)) & mask

    def insert(key: String): Unit = {
      val h  = hash64(key)
      val fp = fingerprint(h)
      var i  = (h & 0x7fffffffL).toInt & mask
      var f  = fp
      var kicks = 0
      while (kicks < 500) {
        val base = i * SlotsPerBucket
        var s = 0
        while (s < SlotsPerBucket) {
          if (table(base + s) == 0) { table(base + s) = f; return }
          s += 1
        }
        // evict a pseudo-random slot (deterministic: derived from kicks)
        val victim = base + (kicks & (SlotsPerBucket - 1))
        val old = table(victim)
        table(victim) = f
        f = old
        i = altIndex(i, f)
        kicks += 1
      }
      // table effectively full — spill the homeless fingerprint under both
      // of its buckets (keeps "no false new")
      if (overflow == null) overflow = scala.collection.mutable.Set.empty
      overflow += ((f, i))
      overflow += ((f, altIndex(i, f)))
    }

    def mightContain(key: String): Boolean = {
      val h  = hash64(key)
      val fp = fingerprint(h)
      val i1 = (h & 0x7fffffffL).toInt & mask
      val i2 = altIndex(i1, fp)
      var s = 0
      while (s < SlotsPerBucket) {
        if (table(i1 * SlotsPerBucket + s) == fp ||
            table(i2 * SlotsPerBucket + s) == fp) return true
        s += 1
      }
      overflow != null &&
        (overflow.contains((fp, i1)) || overflow.contains((fp, i2)))
    }
  }

  /**
   * Epoch-partitioned bloom family over seen url_hash values. One filter
   * per epoch of ≤ `epochCapacity` inserts keeps each filter's bit array
   * bounded (≈1.2 GB at 1% fpp per 10^9 keys — SURVEY §7.4), so the
   * broadcast stays shippable at 10^10-frontier scale.
   */
  final class SeenBloom(val epochCapacity: Long = 1L << 20,
                        val fpp: Double = 0.01) extends Serializable {
    // Scale knob: tests run at the 1M default (~1.2 MB/filter); a
    // 10^10-frontier deployment sets epochCapacity ≈ 10^8 (~120 MB/filter,
    // still broadcastable) and accumulates ~100 epoch filters per 10^10
    // inserts — SURVEY §7.4's epoch-partitioned bloom family.
    private var filters: List[BloomFilter] = Nil
    private var currentCount = 0L

    def emptyBatch(): BloomFilter = batchFactory()

    /** Makes empty batches with this family's parameters; it captures only
      * those, so a task closure that builds batches does not ship the
      * family's filters. */
    def batchFactory: () => BloomFilter = {
      val (n, p) = (epochCapacity, fpp)
      () => BloomFilter.create(n, p)
    }

    /** Merge a batch filter — must be built via `emptyBatch()`/`buildBloom`
      * with THIS family's parameters (equal bit size). */
    def mergeBatch(batch: BloomFilter, count: Long): Unit = {
      if (filters.isEmpty || currentCount + count > epochCapacity) {
        filters = emptyBatch() :: filters
        currentCount = 0L
      }
      require(filters.head.isCompatible(batch),
        s"bloom batch incompatible with epoch filter (bits ${batch.bitSize}" +
          s" vs ${filters.head.bitSize}) — was the batch built by " +
          "buildBloom with this family?")
      filters.head.mergeInPlace(batch)
      currentCount += count
    }

    def mightContain(urlHash: String): Boolean =
      filters.exists(_.mightContainString(urlHash))

    /** Immutable copy for broadcasting: clones the mutable head epoch,
      * shares the sealed (never-again-mutated) tail epochs. Broadcasting
      * the live object instead is a recompute hazard — in local mode the
      * broadcast value IS the driver's object, so a post-round mergeBatch
      * would leak into any later recomputation of this round's lineage
      * (cache eviction) and re-route rows non-deterministically. */
    def snapshot(): SeenBloom = {
      val s = new SeenBloom(epochCapacity, fpp)
      s.filters = filters match {
        case Nil => Nil
        case head :: tail =>
          val h = emptyBatch(); h.mergeInPlace(head); h :: tail
      }
      s.currentCount = currentCount
      s
    }
  }

  /** Build a batch bloom over a hash column on the executors via the
    * built-in DataFrameStatFunctions aggregate (no RDD escape, no collect
    * of keys to the driver), sized with the target family's parameters so
    * the filters merge cleanly (equal bit arrays).
    *
    * stat.bloomFilter routes through bloom_filter_agg, which SILENTLY
    * clamps the requested size to spark.sql.optimizer.runtime.bloomFilter
    * .{maxNumItems,maxNumBits} (defaults 4M items / 64 Mbit) — a family
    * with epochCapacity above the clamp (the 10^8 large-deployment setting)
    * would get back a smaller, incompatible filter and mergeBatch would
    * throw. Raise both confs to this family's needs before building. */
  def buildBloom(hashes: Dataset[String], family: SeenBloom): BloomFilter = {
    val conf = hashes.sparkSession.conf
    val needBits = family.emptyBatch().bitSize
    def raise(key: String, need: Long): Unit =
      if (conf.getOption(key).forall(_.toLong < need))
        conf.set(key, need.toString)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      family.epochCapacity)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", needBits)
    // the not-null filter changes no bit (the aggregate skips nulls) but
    // gives the key scan the plan of the round's other key scans, so it
    // runs their generated class
    val bf = hashes.toDF("url_hash").filter(col("url_hash").isNotNull)
      .stat.bloomFilter("url_hash", family.epochCapacity, family.fpp)
    require(bf.bitSize == needBits,
      s"bloom_filter_agg returned ${bf.bitSize} bits, family needs " +
        s"$needBits — runtime bloom-filter confs still clamping?")
    bf
  }

  /** Candidate with its url_hash (already canonicalized). */
  final case class Candidate(url_hash: String, url: String)

  /**
   * The full seen-filter pipeline: returns candidates NOT present in
   * `seenHashes` (duplicates kept). `bloom` may be null (skip level 1).
   * Levels 2 and 3 run in one cogroup on `shorthash % buckets`, so each
   * cuckoo table covers one co-partitioned slice of the seen set.
   *
   * Columnar around the one typed cogroup: level 1 probes the bloom
   * through a UDF and the cogroup's seen flag drops rows with a column
   * filter, so the plan decodes no `Candidate` objects outside it.
   */
  def filterNew(
      spark: SparkSession,
      candidates: Dataset[Candidate],
      seenHashes: Dataset[String],
      bloom: SeenBloom,
      buckets: Int = 32): Dataset[Candidate] = {
    import spark.implicits._
    val cands = candidates.toDF()

    // Level 1: bloom prefilter. definitelyNew skips all shuffles. The
    // broadcast is an immutable per-round snapshot so recomputation of
    // this round's lineage is deterministic.
    val (definitelyNew, possiblySeen) =
      if (bloom == null) (spark.emptyDataset[Candidate].toDF(), cands)
      else {
        val b = spark.sparkContext.broadcast(bloom.snapshot())
        // nondeterministic only to keep the optimizer from pushing the
        // probe below the caller's dedup, which would split the shared
        // candidate exchange into two pipelines
        val maybeSeen = udf((h: String) => b.value.mightContain(h))
          .asNondeterministic()
        (cands.filter(!maybeSeen(col("url_hash"))),
         cands.filter(maybeSeen(col("url_hash"))))
      }

    // Levels 2 and 3: new unless the exact probe finds it
    val unseen = probe(spark, possiblySeen, seenHashes, buckets)
      .filter(!col("_3"))
      .select(col("_1.url_hash").as("url_hash"), col("_1.url").as("url"))

    definitelyNew.unionByName(unseen).as[Candidate]
  }

  /** Level 2 alone: each candidate with whether the cuckoo table of its
    * bucket might contain it — [[probe]]'s first flag. */
  def cuckooRefine(
      spark: SparkSession,
      candidates: Dataset[Candidate],
      seenHashes: Dataset[String],
      buckets: Int): Dataset[(Candidate, Boolean)] = {
    import spark.implicits._
    probe(spark, candidates.toDF(), seenHashes, buckets)
      .select(col("_1"), col("_2")).as[(Candidate, Boolean)]
  }

  /**
   * Levels 2 and 3 per hash bucket, in one typed cogroup (both sides
   * shuffle on the bucket). Each candidate comes out with two flags: the
   * bucket's cuckoo table might contain it (level 2), and the bucket's
   * seen hashes do contain it (level 3, an exact probe run only when level
   * 2 says "might"). The bucket's seen hashes are buffered so the cuckoo
   * table is sized from the ACTUAL count (a fixed-capacity table
   * saturates on big buckets, spilling every further key to the overflow
   * set and degrading to a slow hash-set), and the exact probe searches
   * the same buffer, sorted once the first candidate needs it; the buffer
   * is one bucket's keys, bounded by choosing `buckets` so a slice fits
   * task memory.
   */
  private def probe(
      spark: SparkSession,
      candidates: DataFrame,
      seenHashes: Dataset[String],
      buckets: Int): Dataset[(Candidate, Boolean, Boolean)] = {
    import spark.implicits._
    // bucket = shorthash % buckets, keyed by column so no row decodes
    // before the cogroup itself. The seen side rides as Candidate rows
    // (url null) so both sides share one row layout, and the key is the
    // bucket's decimal string: the cogroup then reuses the generated
    // partitioning, sort and key classes of the round's per-host pick
    // (a string key in the same position).
    def byBucket(df: DataFrame): KeyValueGroupedDataset[String, Candidate] =
      df.groupBy((graft.driver.CrawlDriver.shorthashCol("url_hash") %
        buckets).cast("string").as("bucket")).as[String, Candidate]
    val seen = seenHashes.toDF("url_hash")
      .withColumn("url", lit(null).cast("string"))
    byBucket(candidates).cogroup(byBucket(seen)) { (_, cands, seen) =>
      val arr: Array[AnyRef] = seen.map(_.url_hash).toArray
      if (arr.isEmpty) cands.map(c => (c, false, false))
      else {
        val cf = new CuckooFilter(arr.length)
        arr.foreach(h => cf.insert(h.asInstanceOf[String]))
        lazy val sorted = { java.util.Arrays.sort(arr); arr }
        cands.map { c =>
          val maybe = cf.mightContain(c.url_hash)
          (c, maybe,
            maybe && java.util.Arrays.binarySearch(sorted, c.url_hash) >= 0)
        }
      }
    }
  }
}
