package graft.tables

import org.apache.spark.sql.functions.lit
import graft.SparkTestBase

/** The incremental-state algebra the whole driver rests on: the view must
  * equal "apply all updates/inserts in order" under every composition —
  * including the subtle case of an UPDATE to a key that entered via an
  * INSERT part (the overlay must shadow base AND inserts), and across
  * compaction. */
final case class KV(k: String, v: Int)

class DeltaStateSpec extends SparkTestBase {
  import spark.implicits._
  type Row = KV
  private def Row(k: String, v: Int) = KV(k, v)

  private def state() =
    new DeltaState[Row](spark, "kv", "k", lit(0), "kv_rows", track = false)

  private def viewMap(s: DeltaState[Row]): Map[String, Int] =
    s.view.collect().map(r => r.k -> r.v).toMap

  test("view = base ∪ inserts, overlay shadows BOTH base and inserted keys") {
    val s = state()
    s.setBase(Seq(Row("a", 1), Row("b", 2)).toDS().localCheckpoint(true), 2)
    s.addInserts(Seq(Row("c", 3)).toDS().localCheckpoint(true), 1)
    assert(viewMap(s) == Map("a" -> 1, "b" -> 2, "c" -> 3))
    assert(s.rows == 3)

    // update a base key AND an inserted key in one round
    val upd1 = Seq(Row("a", 10), Row("c", 30)).toDS()
    val o1 = s.composeOverlay(upd1).localCheckpoint(true)
    s.swapOverlay(o1, o1.count())
    assert(viewMap(s) == Map("a" -> 10, "b" -> 2, "c" -> 30))
    assert(s.rows == 3) // overlay replaces, never adds keys

    // next round: update a previously-updated key + another insert
    val o2 = s.composeOverlay(Seq(Row("a", 100)).toDS()).localCheckpoint(true)
    s.swapOverlay(o2, o2.count())
    s.addInserts(Seq(Row("d", 4)).toDS().localCheckpoint(true), 1)
    assert(viewMap(s) == Map("a" -> 100, "b" -> 2, "c" -> 30, "d" -> 4))
    assert(s.keys.collect().toSet == Set("a", "b", "c", "d"))

    // compaction folds everything and preserves the view exactly
    val before = viewMap(s)
    s.compact()
    assert(viewMap(s) == before)
    assert(s.overlayRows == 0 && s.inserts.isEmpty && s.baseRows == 4)

    // post-compaction rounds keep working
    val o3 = s.composeOverlay(Seq(Row("d", 40)).toDS()).localCheckpoint(true)
    s.swapOverlay(o3, o3.count())
    assert(viewMap(s)("d") == 40)
  }

  test("compaction thresholds: wide insert unions and big overlays trigger") {
    val s = state()
    assert(!s.needsCompaction)
    (1 to 25).foreach(i =>
      s.addInserts(Seq(Row(s"k$i", i)).toDS().localCheckpoint(true), 1))
    assert(s.needsCompaction) // inserts.size > 24
    s.compact()
    assert(!s.needsCompaction)
    assert(viewMap(s).size == 25)
  }

  test("AppendState: last-writer-wins across parts, stable over compaction") {
    val a = new AppendState[Row](spark, "kv", "k", lit(0), track = false)
    a.setBase(Seq(Row("x", 1), Row("y", 1)).toDS().localCheckpoint(true))
    a.append(Seq(Row("x", 2), Row("z", 2)).toDS().localCheckpoint(true))
    a.append(Seq(Row("x", 3)).toDS().localCheckpoint(true))
    def m = a.view.collect().map(r => r.k -> r.v).toMap
    assert(m == Map("x" -> 3, "y" -> 1, "z" -> 2))
    val before = m
    a.compact()
    assert(m == before)
    assert(a.parts.isEmpty)
    a.append(Seq(Row("y", 9)).toDS().localCheckpoint(true))
    assert(m == Map("x" -> 3, "y" -> 9, "z" -> 2))
  }
}
