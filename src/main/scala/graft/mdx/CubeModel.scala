package graft.mdx

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cube metadata: the SSAS dimensional model (SURVEY.md §1) mapped onto the
  * TESTDATA star schema. A cube = fact loader + hierarchies (with levels) +
  * measures with SUM/COUNT aggregators (ref MEASURE_AGGREGATOR,
  * `backend/olap_service.py:110`).
  *
  * Scale design: the fact table is never widened eagerly. Each hierarchy
  * declares the join units it needs; the lowerer attaches only the units a
  * query references, each exactly once (shared units dedup'd — e.g.
  * Customer-Geo and Time-OrderDate both ride the `orders` join). Tiny dims
  * (region/nation) carry explicit broadcast hints; customer/part are left
  * to AQE so a 1000-executor plan can still pick sort-merge when they
  * outgrow the broadcast threshold.
  */
final case class LevelDef(
    name: String,        // MDX level segment, e.g. "Nation"
    number: Int,         // LEVEL_NUMBER, 1-based (0 = All, never materialized; ref P4)
    outName: String,     // output column alias
    keyCols: Seq[String],// ancestor-path key columns == `.&[k]` parts, in order
    captionCol: String)  // member caption column

final case class JoinUnit(
    name: String,
    requires: Seq[String],
    apply: (SparkSession, String, DataFrame) => DataFrame)

final case class HierarchyDef(
    dim: String,   // "[Customer]"
    hier: String,  // "[Customer].[Geo]"
    levels: Seq[LevelDef],
    units: Seq[String],                          // join units to attach to the fact
    members: (SparkSession, String) => DataFrame // dim-side rows holding every level column
) {
  def level(name: String): Option[LevelDef] =
    levels.find(_.name.equalsIgnoreCase(name))
  def levelAt(n: Int): Option[LevelDef] = levels.find(_.number == n)
  def leaf: LevelDef = levels.maxBy(_.number)
}

final case class MeasureDef(name: String, aggregator: String, agg: Column)

/** Aggregate-navigator definition: a pre-aggregated table of the fact at
  * `grainCols` (level keys + captions of the covered hierarchies), built
  * once per session and rolled up by every query whose referenced columns
  * fit the grain — the SSAS aggregation-design trick (ref aggregation
  * usage `backend/olap_service.py:346-430` pivots always re-query; a cube
  * engine pre-aggregates). At 100 TB this is THE scan-elimination lever:
  * the fact is touched once per session per aggregate build, every pivot
  * reads a dimension-bounded table, invariant to fact growth. SUM/COUNT
  * measures re-aggregate exactly (decimal sums of sums; counts sum).
  *
  * A cube carries a LIST of aggregates (like an SSAS aggregation design):
  * one wide base grain cannot cover every hierarchy cheaply — folding a
  * second geography into the base grain would multiply its cardinality
  * toward the fact's, destroying the invariance that makes navigation
  * worth it. Instead each aggregate stays dimension-bounded and the
  * lowerer picks the narrowest one that covers the query; a pivot over
  * both geographies reads the customer × supplier nation grain, and
  * queries no aggregate covers (part leaf — leaf grain would approach
  * fact cardinality) fall back to the raw-fact path automatically. It is
  * keyed by what it holds ([[MdxLowerer.preAggKey]]), never the cube, so
  * cubes over the same fact share one stored artifact per grain. */
final case class PreAggDef(name: String, units: Seq[String], grainCols: Seq[String])

final case class CubeDef(
    name: String,
    fact: (SparkSession, String) => DataFrame,
    joinUnits: Seq[JoinUnit],
    hierarchies: Seq[HierarchyDef],
    measures: Seq[MeasureDef],
    preAggs: Seq[PreAggDef]) {
  def hierarchy(dim: String, hier: String): Option[HierarchyDef] =
    hierarchies.find(h =>
      h.dim.equalsIgnoreCase(dim) && h.hier.equalsIgnoreCase(hier))
  def measure(name: String): Option[MeasureDef] =
    measures.find(_.name.equalsIgnoreCase(name))
  def unit(name: String): JoinUnit = joinUnits.find(_.name == name).get
}

/** The flagship cube over the TPC-H-ish TESTDATA tables. */
object SalesCube {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  val cube: CubeDef = CubeDef(
    name = "Sales",
    fact = (s, d) => Tables.lineitem(s, d),
    joinUnits = Seq(
      JoinUnit("orders", Nil, (s, d, f) =>
        f.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))),
      JoinUnit("custgeo", Seq("orders"), (s, d, f) =>
        f.join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))),
      JoinUnit("part", Nil, (s, d, f) =>
        f.join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))),
      JoinUnit("suppgeo", Nil, (s, d, f) => {
        val sn = Tables.nation(s, d).select(
          col("n_nationkey").as("sn_nationkey"), col("n_name").as("sn_name"))
        f.join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(sn), col("s_nationkey") === col("sn_nationkey"))
      }),
      JoinUnit("orderdate", Seq("orders"), (s, d, f) =>
        f.withColumn("order_year", year(col("o_orderdate")))
          .withColumn("order_month", month(col("o_orderdate"))))
    ),
    hierarchies = Seq(
      HierarchyDef("[Customer]", "[Customer].[Geo]",
        levels = Seq(
          LevelDef("Region", 1, "region", Seq("r_regionkey"), "r_name"),
          LevelDef("Nation", 2, "nation", Seq("r_regionkey", "n_nationkey"), "n_name")),
        units = Seq("orders", "custgeo"),
        members = (s, d) =>
          Tables.nation(s, d).join(broadcast(Tables.region(s, d)),
            col("n_regionkey") === col("r_regionkey"))),
      HierarchyDef("[Part]", "[Part].[ByBrand]",
        levels = Seq(
          LevelDef("Brand", 1, "brand", Seq("p_brand"), "p_brand"),
          LevelDef("Part", 2, "part_name", Seq("p_brand", "p_partkey"), "p_name")),
        units = Seq("part"),
        members = (s, d) => Tables.part(s, d)),
      HierarchyDef("[Time]", "[Time].[OrderDate]",
        levels = Seq(
          LevelDef("Year", 1, "order_year", Seq("order_year"), "order_year"),
          LevelDef("Month", 2, "order_month", Seq("order_year", "order_month"), "order_month")),
        units = Seq("orders", "orderdate"),
        members = (s, d) =>
          Tables.orders(s, d).select(
            year(col("o_orderdate")).as("order_year"),
            month(col("o_orderdate")).as("order_month"))),
      HierarchyDef("[Supplier]", "[Supplier].[Geo]",
        levels = Seq(
          LevelDef("Nation", 1, "supp_nation", Seq("sn_nationkey"), "sn_name")),
        units = Seq("suppgeo"),
        members = (s, d) =>
          Tables.supplier(s, d).join(Tables.nation(s, d),
            col("s_nationkey") === col("n_nationkey"))
            .select(col("n_nationkey").as("sn_nationkey"),
              col("n_name").as("sn_name")))
    ),
    measures = Seq(
      MeasureDef("sum_qty", "SUM", sum(dec(col("l_quantity")))),
      MeasureDef("sum_base_price", "SUM", sum(dec(col("l_extendedprice")))),
      MeasureDef("sum_disc_price", "SUM",
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))),
      MeasureDef("count_order", "COUNT", count(lit(1)))
    ),
    // Base grain: customer-geo × part-brand × order year/month (and their
    // captions), ~52 k rows. Part LEAF (p_partkey) is deliberately
    // excluded — leaf grain would approach fact cardinality; leaf queries
    // fall back. Supplier geo lives in aggregates of its own below:
    // folding it here would multiply the base grain ×25 toward fact
    // cardinality. `base` stays first: q126 and the maintenance specs
    // take `preAggs.head`.
    preAggs = Seq(
      PreAggDef("base",
        units = Seq("orders", "custgeo", "part", "orderdate"),
        grainCols = Seq("r_regionkey", "r_name", "n_nationkey", "n_name",
          "p_brand", "order_year", "order_month")),
      // Supplier-geo × time grain (|supp nations| × |months| ≈ 2 k rows):
      // covers the supplier pivots (q37) that previously fell back to a
      // raw-fact scan, keeping every covered pivot fact-growth-invariant.
      PreAggDef("suppgeo",
        units = Seq("suppgeo", "orders", "orderdate"),
        grainCols = Seq("sn_nationkey", "sn_name",
          "order_year", "order_month")),
      // Customer-geo × supplier-geo × time grain (25 × 25 nations × 84
      // months ≤ 52.5 k rows, base's bound): a pivot over both
      // geographies rolls it up instead of scanning the fact through six
      // joins. It is the widest grain, so it serves only such pivots.
      PreAggDef("custsupp",
        units = Seq("orders", "custgeo", "suppgeo", "orderdate"),
        grainCols = Seq("r_regionkey", "r_name", "n_nationkey", "n_name",
          "sn_nationkey", "sn_name", "order_year", "order_month")))
  )

  /** Old-generation cube: the same fact but addressed through a
    * no-level-segment hierarchy with synthesized `"Nivel N"` names (the
    * X1 fallback taxonomy; ref `scanner/DGIS_SCAN_2_stable.py:722-743`).
    * Member literals resolve by key depth, levels by `Levels(n)`. It
    * keeps the cube's pre-aggregates, and since an aggregate is keyed by
    * what it holds, its pivots roll up the same session artifacts. */
  val oldCube: CubeDef = cube.copy(
    name = "SalesOld",
    hierarchies = Seq(
      cube.hierarchies.head.copy(
        hier = "[Customer].[GeoOld]",
        levels = cube.hierarchies.head.levels.map(l => l.copy(name = s"Nivel ${l.number}"))),
      cube.hierarchies(2)) // keep [Time].[OrderDate] for slicers
  )

  /** Cube registry (catalog -> cube; ref cube-name lookup
    * `scanner/DGIS_SCAN_2_stable.py:1366-1376`). */
  val registry: Map[String, CubeDef] = Map("Sales" -> cube, "SalesOld" -> oldCube)
}
