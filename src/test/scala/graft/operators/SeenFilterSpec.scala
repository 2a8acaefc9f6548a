package graft.operators

import graft.SparkTestBase
import graft.operators.SeenFilter.{Candidate, CuckooFilter, SeenBloom}

class SeenFilterSpec extends SparkTestBase {

  test("cuckoo filter: no false negatives, low false positives") {
    val cf = new CuckooFilter(4096)
    val keys = (0 until 4000).map(i => s"key-$i")
    keys.foreach(cf.insert)
    keys.foreach(k => assert(cf.mightContain(k), s"false negative for $k"))
    val fps = (0 until 10000).count(i => cf.mightContain(s"other-$i"))
    assert(fps < 50, s"too many false positives: $fps") // ~0.05% expected
  }

  test("cuckoo filter: overflow spill stays exact (no false negatives)") {
    val cf = new CuckooFilter(16) // tiny → forces evictions + spill
    val keys = (0 until 500).map(i => s"k$i")
    keys.foreach(cf.insert)
    keys.foreach(k => assert(cf.mightContain(k)))
  }

  test("level-2 residue on a 100k-seen bucket stays under bloom-fpp × candidates") {
    // The cuckoo must be sized from the bucket's actual seen count: a
    // fixed 4096-slot table saturates at ~15k keys and every further key
    // spills to the overflow set, exploding the level-3 residue. With
    // count-based sizing the residue is only cuckoo false-positives
    // (~0.01%), far below the 1% bloom-fpp budget the level exists to beat.
    import spark.implicits._
    val seen  = (0 until 100000).map(i => f"$i%032x").toDS()
    val cands = (200000 until 210000).map(i =>
      Candidate(f"$i%032x", s"http://x/$i")).toDS() // all genuinely new
    val refined = SeenFilter.cuckooRefine(spark, cands, seen, buckets = 1)
    val residue = refined.filter(_._2).count()
    assert(residue <= (0.01 * 10000).toLong,
      s"residue $residue exceeds bloom-fpp budget")
    // and no false "new": a truly-seen candidate must stay in the residue
    val seenCands = (0 until 1000).map(i =>
      Candidate(f"$i%032x", s"http://x/$i")).toDS()
    val kept = SeenFilter.cuckooRefine(spark, seenCands, seen, buckets = 1)
      .filter(_._2).count()
    assert(kept == 1000L)
  }

  test("bloom+cuckoo+anti-join pipeline ≡ plain anti-join (U1 property)") {
    import spark.implicits._
    val seen = (0 until 2000).map(i => f"$i%032x")
    val cands = (1500 until 3000).map(i =>
      Candidate(f"$i%032x", s"http://x/$i"))
    val expected = cands.filterNot(c => seen.contains(c.url_hash))
      .map(_.url_hash).toSet

    val seenDs = seen.toDS()
    val candDs = cands.toDS()

    val bloom = new SeenBloom(epochCapacity = 1000) // forces multi-epoch
    bloom.mergeBatch(SeenFilter.buildBloom(seen.take(1000).toDS(), bloom), 1000)
    bloom.mergeBatch(SeenFilter.buildBloom(seen.drop(1000).toDS(), bloom), 1000)

    val got = SeenFilter.filterNew(spark, candDs, seenDs, bloom, buckets = 8)
      .collect().map(_.url_hash).toSet
    assert(got == expected)

    // null bloom path (level 1 skipped) must agree too
    val got2 = SeenFilter.filterNew(spark, candDs, seenDs, null, buckets = 8)
      .collect().map(_.url_hash).toSet
    assert(got2 == expected)
  }

  test("buildBloom above the runtime-bloom-filter clamp stays mergeable " +
       "(large-deployment epochCapacity > 4M default maxNumItems)") {
    // bloom_filter_agg silently clamps to spark.sql.optimizer.runtime
    // .bloomFilter.{maxNumItems,maxNumBits}; an 8M-capacity family used to
    // get back a 4M-sized filter and mergeBatch threw
    // IncompatibleMergeException. buildBloom must raise the confs itself.
    import spark.implicits._
    val family = new SeenBloom(epochCapacity = 8L << 20)
    val keys = (0 until 5000).map(i => f"$i%032x").toDS()
    val batch = SeenFilter.buildBloom(keys, family)
    assert(batch.bitSize == family.emptyBatch().bitSize)
    family.mergeBatch(batch, 5000) // must not throw
    assert(family.mightContain(f"${42}%032x"))
    assert(!(0 until 1000).forall(i => family.mightContain(f"${i + 10000}%032x")))
  }

  test("levels 2 and 3 in one cogroup ≡ the exact set difference, " +
       "duplicates kept, cuckoo false positives included") {
    import spark.implicits._
    // one bucket holding every seen hash, and new candidates that a cuckoo
    // table over the same hashes might contain, so the exact probe decides
    val seen = (0 until 50000).map(i => f"$i%032x")
    val local = new CuckooFilter(seen.size)
    seen.foreach(local.insert)
    val lookalikes = Iterator.from(1000000).map(i => f"$i%032x")
      .filter(local.mightContain).take(40).toSeq
    val fresh = (50000 until 50100).map(i => f"$i%032x")
    val hashes = lookalikes ++ fresh ++ seen.take(300)
    // some hashes repeated, as q15's batch documents can share a hash
    val cands = (hashes ++ hashes.take(150)).zipWithIndex.map { case (h, i) =>
      Candidate(h, s"doc$i") }
    val seenSet = seen.toSet
    val expected = cands.filterNot(c => seenSet(c.url_hash)).sortBy(_.url)

    val seenDs = seen.toDS()
    val candDs = cands.toDS()
    val passedNew = SeenFilter.cuckooRefine(spark, candDs, seenDs, buckets = 1)
      .collect().count { case (c, maybe) => maybe && !seenSet(c.url_hash) }
    assert(passedNew > 0, "no new candidate reached the exact probe")

    val got = SeenFilter.filterNew(spark, candDs, seenDs, null, buckets = 1)
      .collect().toSeq.sortBy(_.url)
    assert(got == expected)
  }
}
