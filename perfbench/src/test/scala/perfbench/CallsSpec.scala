package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.cube.CubeCatalog

class CallsSpec extends AnyFunSuite {
  private val members: Map[(String, String), Seq[String]] = Map(
    ("trade", "Year") -> (1995 to 2001).map(_.toString),
    ("trade", "Region") -> Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
    ("trade", "Mkt Segment") -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE"),
    ("trade", "Order Priority") -> Seq("1-URGENT", "2-HIGH", "5-LOW"),
    ("trade", "Part Type") -> Seq("ECONOMY", "LARGE"),
    ("events", "Event Type") -> Seq("click", "error", "view"),
    ("documents", "Lang") -> Seq("de", "en", "zh"))

  test("one seed always yields the same cube-call list") {
    assert(CubeCalls.generate(7, 5, members) == CubeCalls.generate(7, 5, members))
  }

  test("two seeds yield different cube-call lists") {
    assert(CubeCalls.generate(7, 5, members) != CubeCalls.generate(8, 5, members))
  }

  test("every block fills each slot from the slot's pools") {
    val calls = CubeCalls.generate(3, 6, members)
    calls.grouped(CubeCalls.Block.size).foreach { block =>
      block.zip(CubeCalls.Block).foreach { case (c, slot) =>
        assert((c.api, c.cube) == (slot.api, slot.cube))
        val dds = if (slot.multi) c.sets.head else if (c.level.nonEmpty) Seq(c.level) else c.drilldowns
        assert(dds.size == slot.levels.size)
        dds.zip(slot.levels).foreach { case (l, pool) => assert(pool.contains(l)) }
        if (slot.api != "oec.getMembers") {
          assert(c.measures.size == slot.nMeasures)
          assert(slot.fixed.forall(c.measures.contains))
          assert(c.cuts.keys.forall(slot.cut.contains))
          assert(c.range.isDefined == slot.range)
        }
      }
    }
  }

  test("generated levels and measures exist in the engine's cubes and have oracle SQL") {
    CubeCalls.generate(11, 20, members).foreach { c =>
      val cube = CubeCatalog(c.cube)
      (c.drilldowns ++ c.sets.flatten ++ c.cuts.keys ++ c.range.map(_._1) ++
        Option(c.level).filter(_.nonEmpty)).foreach(cube.level)
      c.measures.foreach(cube.measure)
      assert(CubeSpace.sql(c).startsWith("SELECT"))
    }
  }

  test("query order is fixed by the seed") {
    val names = Seq("q1_a", "q2_b", "q3_c", "q4_d", "q5_e", "q6_f")
    assert(QueryLists.order(names, 1, 0) == QueryLists.order(names, 1, 0))
    assert((0 until 5).map(QueryLists.order(names, 1, _)) !=
      (0 until 5).map(QueryLists.order(names, 2, _)))
    assert(QueryLists.order(names, 5, 3).sorted == names.sorted)
  }

  test("rounded measures carry a one-unit tolerance, other columns none") {
    val c = CubeCall("x", "oec.getData", "trade", Seq("Year"),
      Seq("Trade Value", "Avg Quantity", "Line Count"))
    assert(CubeSpace.tolerance(c, "trade_value") == 0.01)
    assert(math.abs(CubeSpace.tolerance(c, "avg_quantity") - 1e-4) < 1e-15)
    assert(CubeSpace.tolerance(c, "line_count") == 0.0)
    assert(CubeSpace.tolerance(c, "year") == 0.0)
  }
}
