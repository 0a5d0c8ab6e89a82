package perfbench

import scala.util.Random

/** One generated cube call, as the client issues it.
  *
  * @param api   `oec.getData`, `oec.getMembers`, `engine.getData` or
  *              `engine.getDataMulti`
  * @param level the member level of a `getMembers` call
  * @param sets  the drilldown sets of a `getDataMulti` call
  * @param range an inclusive range cut on one level
  */
final case class CubeCall(
    id: String,
    api: String,
    cube: String,
    drilldowns: Seq[String] = Nil,
    measures: Seq[String] = Nil,
    cuts: Map[String, Seq[String]] = Map.empty,
    range: Option[(String, (String, String))] = None,
    sets: Seq[Seq[String]] = Nil,
    level: String = "")

/** SQL of one level or measure, in the DuckDB dialect of the oracle. */
final case class SqlCol(sql: String, tables: Seq[String])

/** The subset of the engine's cubes the generator draws from, mirrored as
  * DuckDB SQL so that every generated call carries its own oracle query.
  * Table aliases: `l` lineitem, `o` orders, `c` customer, `n` nation,
  * `r` region, `p` part.
  */
object CubeSpace {
  private val joinSql = Map(
    "o" -> "JOIN orders o ON l.l_orderkey = o.o_orderkey",
    "c" -> "JOIN customer c ON o.o_custkey = c.c_custkey",
    "n" -> "JOIN nation n ON c.c_nationkey = n.n_nationkey",
    "r" -> "JOIN region r ON n.n_regionkey = r.r_regionkey",
    "p" -> "JOIN part p ON l.l_partkey = p.p_partkey")
  private val joinOrder = Seq("o", "c", "n", "r", "p")
  private val parents = Map("c" -> "o", "n" -> "c", "r" -> "n")

  val fact: Map[String, String] = Map(
    "trade" -> "lineitem l", "events" -> "events", "documents" -> "documents")

  val levels: Map[String, Map[String, SqlCol]] = Map(
    "trade" -> Map(
      "Year" -> SqlCol("CAST(year(o.o_orderdate) AS INTEGER)", Seq("o")),
      "Month" -> SqlCol("CAST(month(o.o_orderdate) AS INTEGER)", Seq("o")),
      "Ship Year" -> SqlCol("CAST(year(l.l_shipdate) AS INTEGER)", Nil),
      "Order Status" -> SqlCol("o.o_orderstatus", Seq("o")),
      "Order Priority" -> SqlCol("o.o_orderpriority", Seq("o")),
      "Nation" -> SqlCol("n.n_name", Seq("n")),
      "Region" -> SqlCol("r.r_name", Seq("r")),
      "Brand" -> SqlCol("p.p_brand", Seq("p")),
      "Part Type" -> SqlCol("p.p_type", Seq("p")),
      "Part Size" -> SqlCol("p.p_size", Seq("p")),
      "Return Flag" -> SqlCol("l.l_returnflag", Nil),
      "Line Status" -> SqlCol("l.l_linestatus", Nil)),
    "events" -> Map(
      "Event Type" -> SqlCol("event_type", Nil),
      "Event Day" -> SqlCol("CAST(date_trunc('day', ts) AS TIMESTAMP)", Nil),
      "Event Hour" -> SqlCol("CAST(date_trunc('hour', ts) AS TIMESTAMP)", Nil),
      "Prop K" -> SqlCol("CAST(json_extract_string(props, '$.k') AS INTEGER)", Nil)),
    "documents" -> Map(
      "Lang" -> SqlCol("lang", Nil),
      "Source" -> SqlCol("source", Nil)))

  /** Measure SQL and the number of decimals the engine rounds it to. */
  val measures: Map[String, Map[String, (String, Option[Int])]] = Map(
    "trade" -> Map(
      "Trade Value" -> ("round(sum(l.l_extendedprice), 2)", Some(2)),
      "Quantity" -> ("sum(l.l_quantity)", None),
      "Discounted Value" -> ("round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2)", Some(2)),
      "Line Count" -> ("count(*)", None),
      "Order Count" -> ("count(DISTINCT l.l_orderkey)", None),
      "Avg Quantity" -> ("round(avg(l.l_quantity), 4)", Some(4)),
      "Max Price" -> ("max(l.l_extendedprice)", None),
      "Min Price" -> ("min(l.l_extendedprice)", None)),
    "events" -> Map(
      "Event Count" -> ("count(*)", None),
      "Total Value" -> ("round(sum(value), 2)", Some(2)),
      "Avg Value" -> ("round(avg(value), 4)", Some(4)),
      "Max Value" -> ("max(value)", None),
      "User Count" -> ("count(DISTINCT user_id)", None)),
    "documents" -> Map(
      "Doc Count" -> ("count(*)", None),
      "Total Chars" -> ("CAST(sum(n_chars) AS BIGINT)", None),
      "Avg Chars" -> ("round(avg(n_chars), 4)", Some(4))))

  /** Largest difference between engine and oracle that still counts as
    * equal, per result column. A measure rounded to d decimals may differ
    * by one unit in its last place: both engines sum doubles in their own
    * order, and a sum that lands within an ulp of a rounding midpoint
    * rounds either way. Every other column must match exactly.
    */
  def tolerance(c: CubeCall, column: String): Double =
    c.measures.find(m => norm(m) == column)
      .flatMap(m => measures(c.cube)(m)._2).map(d => math.pow(10, -d)).getOrElse(0.0)

  /** `getMembers` levels: (cube, level) -> (table, id SQL, label SQL). */
  val memberLevels: Map[(String, String), (String, String, Option[String])] = Map(
    ("trade", "Year") -> ("orders", "CAST(year(o_orderdate) AS INTEGER)", None),
    ("trade", "Nation ID") -> ("nation", "n_nationkey", Some("n_name")),
    ("trade", "Region ID") -> ("region", "r_regionkey", Some("r_name")),
    ("trade", "Region") -> ("region", "r_name", None),
    ("trade", "Mkt Segment") -> ("customer", "c_mktsegment", None),
    ("trade", "Order Priority") -> ("orders", "o_orderpriority", None),
    ("trade", "Part Type") -> ("part", "p_type", None),
    ("trade", "Brand") -> ("part", "p_brand", None),
    ("trade", "Supplier ID") -> ("supplier", "s_suppkey", Some("s_name")))

  private val numeric = Set("Year", "Month", "Ship Year", "Part Size", "Prop K")

  private def lit(level: String, v: String): String =
    if (numeric(level)) v
    else if (level.startsWith("Event ") && v.contains(':')) s"TIMESTAMP '$v'"
    else "'" + v.replace("'", "''") + "'"

  def norm(name: String): String = name.replace(" ", "_").toLowerCase

  private def from(cube: String, cols: Seq[SqlCol]): String = {
    val need0 = cols.flatMap(_.tables).toSet
    def close(s: Set[String]): Set[String] = {
      val more = s ++ s.flatMap(parents.get)
      if (more == s) s else close(more)
    }
    val need = close(need0)
    (Seq(s"FROM ${fact(cube)}") ++ joinOrder.filter(need).map(joinSql)).mkString(" ")
  }

  /** The oracle query of a call: same groups, measures, cuts and column
    * names as the engine's answer (row order is not compared).
    */
  def sql(c: CubeCall): String = c.api match {
    case "oec.getMembers" =>
      val (table, id, label) = memberLevels((c.cube, c.level))
      val cols = (Seq(s"$id AS id") ++ label.map(l => s"$l AS label")).mkString(", ")
      s"SELECT DISTINCT $cols FROM $table"
    case _ =>
      val lv = levels(c.cube)
      val names = if (c.api == "engine.getDataMulti") c.sets.flatten.distinct else c.drilldowns
      val keys = names.map(n => s"${lv(n).sql} AS ${norm(n)}")
      val aggs = c.measures.map(m => s"${measures(c.cube)(m)._1} AS ${norm(m)}")
      val cutCols = c.cuts.keys.toSeq.map(lv) ++ c.range.map(r => lv(r._1)).toSeq
      val where = (c.cuts.toSeq.sortBy(_._1).map { case (l, vs) =>
        s"${lv(l).sql} IN (${vs.map(lit(l, _)).mkString(", ")})"
      } ++ c.range.toSeq.map { case (l, (lo, hi)) =>
        s"${lv(l).sql} BETWEEN ${lit(l, lo)} AND ${lit(l, hi)}"
      })
      val whereSql = if (where.isEmpty) "" else where.mkString(" WHERE ", " AND ", "")
      val fromSql = from(c.cube, names.map(lv) ++ cutCols)
      if (c.api == "engine.getDataMulti") {
        val normed = names.map(norm)
        val gsets = c.sets.map(s => s.map(norm).mkString("(", ", ", ")")).mkString(", ")
        val gid = if (normed.isEmpty) "0" else s"GROUPING(${normed.mkString(", ")})"
        s"SELECT ${(keys ++ aggs :+ s"CAST($gid AS INTEGER) AS gid").mkString(", ")} " +
          s"$fromSql$whereSql GROUP BY GROUPING SETS ($gsets)"
      } else {
        val group = if (keys.isEmpty) "" else
          (1 to keys.size).mkString(" GROUP BY ", ", ", "")
        s"SELECT ${(keys ++ aggs).mkString(", ")} $fromSql$whereSql$group"
      }
  }
}

/** One slot of a call block: the API and cube are fixed, and the seed
  * draws each drilldown level from its pool, the measures and the cut.
  * Pools group levels that cost the same joins, so a slot's cost stays
  * steady from seed to seed while its calls differ.
  *
  * @param levels    one pool per drilldown level
  * @param fixed     measures every call of the slot carries
  * @param measures  pool the remaining measures are drawn from
  * @param nMeasures measures per call, fixed ones included
  * @param cut       pool of levels the member cut is drawn from
  * @param range     draw an `Event Day` range cut
  * @param multi     run the drilldowns as grouping sets (all, first, none)
  */
final case class Slot(
    api: String,
    cube: String,
    levels: Seq[Seq[String]] = Nil,
    fixed: Seq[String] = Nil,
    measures: Seq[String] = Nil,
    nMeasures: Int = 0,
    cut: Seq[String] = Nil,
    range: Boolean = false,
    multi: Boolean = false)

/** Seeded generator of the `oec_calls` stream: blocks of [[Block]], one
  * call per slot.
  */
object CubeCalls {
  private val orders = Seq("Year", "Month", "Order Status", "Order Priority")
  private val custChain = Seq("Nation", "Region")
  private val part = Seq("Brand", "Part Type", "Part Size")
  private val fact = Seq("Ship Year", "Return Flag", "Line Status")
  private val simple = Seq("Trade Value", "Quantity", "Discounted Value", "Line Count",
    "Avg Quantity", "Max Price", "Min Price")
  private val evSimple = Seq("Event Count", "Total Value", "Avg Value", "Max Value")

  val Block: Seq[Slot] = Seq(
    Slot("oec.getData", "trade", Seq(orders), measures = simple, nMeasures = 2,
      cut = Seq("Year", "Order Priority")),
    Slot("oec.getData", "trade", Seq(custChain, orders), measures = simple, nMeasures = 2),
    Slot("oec.getData", "trade", Seq(part, fact), fixed = Seq("Order Count"),
      measures = simple, nMeasures = 2, cut = Seq("Year")),
    Slot("engine.getDataMulti", "trade", Seq(orders, part), measures = simple, nMeasures = 2,
      multi = true),
    Slot("oec.getData", "events", Seq(Seq("Event Type", "Event Day", "Prop K")),
      measures = evSimple, nMeasures = 2, cut = Seq("Event Type")),
    Slot("engine.getData", "events", Seq(Seq("Event Hour"), Seq("Event Type", "Prop K")),
      fixed = Seq("User Count"), measures = evSimple, nMeasures = 2, range = true),
    Slot("oec.getData", "documents", Seq(Seq("Source")),
      measures = Seq("Doc Count", "Total Chars", "Avg Chars"), nMeasures = 2, cut = Seq("Lang")),
    Slot("oec.getMembers", "trade", Seq(CubeSpace.memberLevels.keys.map(_._2).toSeq.sorted)))

  private val dayLo = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)

  /** `blocks` blocks of calls for a seed. `members` maps (cube, level) to
    * that level's member ids, as `getMembers` returned them.
    */
  def generate(seed: Long, blocks: Int, members: Map[(String, String), Seq[String]]): Seq[CubeCall] = {
    val rnd = new Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    (0 until blocks).flatMap { b =>
      Block.zipWithIndex.map { case (slot, i) =>
        val id = f"c$b%03d_$i%02d"
        if (slot.api == "oec.getMembers") CubeCall(id, slot.api, slot.cube, level = pick(slot.levels.head))
        else {
          val dds = slot.levels.map(pick)
          val ms = slot.fixed ++ rnd.shuffle(slot.measures).take(slot.nMeasures - slot.fixed.size)
          val cuts = slot.cut.filterNot(dds.contains) match {
            case Nil => Map.empty[String, Seq[String]]
            case lv =>
              val l = pick(lv)
              val ms0 = members.getOrElse((slot.cube, l), Nil)
              if (ms0.isEmpty) Map.empty[String, Seq[String]]
              else Map(l -> rnd.shuffle(ms0).take(1 + rnd.nextInt(math.min(3, ms0.size))).sorted)
          }
          val range = if (!slot.range) None else {
            val d0 = rnd.nextInt(20)
            val fmt = (d: Int) => dayLo.plusDays(d).toString.replace('T', ' ') + ":00"
            Some("Event Day" -> (fmt(d0), fmt(d0 + 1 + rnd.nextInt(9))))
          }
          if (slot.multi) CubeCall(id, slot.api, slot.cube, Nil, ms, cuts, range,
            sets = Seq(dds, dds.take(1), Nil))
          else CubeCall(id, slot.api, slot.cube, dds, ms, cuts, range)
        }
      }
    }
  }
}

/** Registered-query workloads: a fixed list, run in an order drawn from
  * the seed.
  */
object QueryLists {
  /** LLM-data curation (langId, scrub, MinHash near-duplicate pairs)
    * beside events ETL (a streaming drain, a sink write with read-back).
    */
  val curationEtl: Seq[String] = Seq("q24_", "q63_", "q26_", "q32_", "q91_")

  /** Resolves `qNN_` prefixes against the registered names. */
  def resolve(prefixes: Seq[String], names: Iterable[String]): Seq[String] =
    prefixes.map { p =>
      names.find(_.startsWith(p)).getOrElse(
        throw new IllegalArgumentException(s"no registered query starts with $p"))
    }

  /** One pass in seeded order. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(names)
}
