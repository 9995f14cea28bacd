package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ShadowModelSpec extends AnyFunSuite {
  private def row(cents: Long, status: String = "O", day: Int = 11000) =
    OrderRow(1L, status, cents, day, "5-LOW")

  private def seeded = new ShadowModel((0L until 10L).map(k => k -> row(100 * k)))

  test("writes change exactly the keys they name") {
    val m = seeded
    m.insert(Seq(10L -> row(5), 11L -> row(6)))
    m.delete(2, 4)
    m.update(8, 20, 7, "U")
    m.upsert(Seq(0L -> row(1), 30L -> row(2)))
    assert(m.rows.keySet == Set(0L, 1L, 5L, 6L, 7L, 8L, 9L, 10L, 11L, 30L))
    assert(m.rows(8L) == row(807, "U"))
    assert(m.rows(11L) == row(13, "U"))
    assert(m.rows(0L) == row(1))
    assert(m.rows(7L) == row(700))
  }

  test("inserting a live key is a model error, not a silent overwrite") {
    intercept[IllegalArgumentException](seeded.insert(Seq(3L -> row(1))))
  }

  test("aggregates per snapshot survive later writes and retention") {
    val m = seeded
    m.commit(100)
    m.delete(0, 4)
    m.commit(101)
    m.update(5, 5, 50, "U")
    m.commit(102)
    assert(m.history.map(h => (h._1, h._2, h._3)) ==
      Seq((100L, 10L, 4500L), (101L, 5L, 3500L), (102L, 5L, 3550L)))
    m.retain(Set(101L, 102L))
    assert(m.history.map(_._1) == Seq(101L, 102L))
    assert(m.aggregate { case (k, _) => k >= 6 } == (4L, 3000L))
  }

  test("diff reports missing, extra, changed and duplicated rows") {
    val m = seeded
    val table = m.rows.toSeq.filterNot(_._1 == 3L).map {
      case (5L, r) => 5L -> r.copy(status = "X")
      case kv => kv
    } ++ Seq(42L -> row(1), 1L -> m.rows(1L))
    val d = m.diff(table, limit = 10)
    assert(d.exists(_.contains("key 3 is live in the model")))
    assert(d.exists(_.contains("key 42 is live in the table")))
    assert(d.exists(_.startsWith("key 5: table")))
    assert(d.exists(_.contains("key 1 appears twice")))
    assert(m.diff(m.rows.toSeq).isEmpty)
  }

  test("the planner is a pure function of the seed and aims at recent keys") {
    def plan(seed: Long) = {
      val p = new OpPlanner(seed, 1000, Seq(1995, 2001))
      val r = p.rng(1)
      (p.freshBatch(r, 5), (0 until 200).map(_ => p.recentKey(r, 40)))
    }
    assert(plan(7) == plan(7))
    assert(plan(7) != plan(8))
    val (batch, keys) = plan(7)
    assert(batch.map(_._1) == (1000L until 1005L))
    assert(batch.forall(_._2.year == 2001))
    assert(keys.forall(k => k >= 0 && k < 1005))
    assert(Stats.median(keys.map(_.toDouble)) > 1005 - 100)
  }
}
