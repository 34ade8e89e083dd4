package graft

import graft.mdx._
import org.scalatest.funsuite.AnyFunSuite

class MdxParserSpec extends AnyFunSuite {

  test("parses the reference's flagship query shape") {
    val q = MdxParser.parse(
      """SELECT {[Measures].[sum_qty], [Measures].[count_order]} ON COLUMNS,
        | NON EMPTY CROSSJOIN([Customer].[Geo].[Nation].MEMBERS,
        |   {[Part].[ByBrand].[Brand].&[Brand#1]}) ON ROWS
        |FROM [Sales]
        |WHERE ([Time].[OrderDate].[Year].&[1996])""".stripMargin)
    assert(q.nonEmpty)
    assert(q.cube == "Sales")
    assert(q.slicer == Seq(MemberPath(Seq("Time", "OrderDate", "Year"), Seq("1996"))))
    q.columns match {
      case SetLiteral(ms) => assert(ms.map(_.names.last) == Seq("sum_qty", "count_order"))
      case other => fail(s"bad columns: $other")
    }
    q.rows.get match {
      case CrossJoinSet(PathMembers(p), SetLiteral(Seq(b))) =>
        assert(p.names == Seq("Customer", "Geo", "Nation"))
        assert(b.keys == Seq("Brand#1"))
      case other => fail(s"bad rows: $other")
    }
  }

  test("parses Levels(n), AllMembers, DIMENSION PROPERTIES, AND-slicer") {
    val q = MdxParser.parse(
      """SELECT [Measures].AllMembers ON COLUMNS,
        | [Customer].[Geo].Levels(2).MEMBERS
        |   DIMENSION PROPERTIES [Customer].[Geo].[Region] ON ROWS
        |FROM [Sales]
        |WHERE ([Customer].[Geo].[Region].&[2] AND [Time].[OrderDate].[Year].&[1997])""".stripMargin)
    assert(!q.nonEmpty)
    assert(q.columns == AllMeasuresSet)
    assert(q.rows.contains(LevelsMembers(MemberPath(Seq("Customer", "Geo"), Nil), 2)))
    assert(q.properties == Seq(MemberPath(Seq("Customer", "Geo", "Region"), Nil)))
    assert(q.slicer.size == 2)
  }

  test("parses the empty-set connectivity probe") {
    val q = MdxParser.parse("SELECT {} ON COLUMNS FROM [Sales]")
    assert(q.columns == SetLiteral(Nil) && q.rows.isEmpty)
  }

  test("keys may contain spaces, dots and brackets-free specials") {
    val q = MdxParser.parse(
      "SELECT {[Measures].[sum_qty]} ON COLUMNS, {[Customer].[Geo].[Nation].&[1].&[9]} ON ROWS FROM [Sales]")
    q.rows.get match {
      case SetLiteral(Seq(m)) => assert(m.keys == Seq("1", "9"))
      case other => fail(s"$other")
    }
  }

  test("rejects malformed input") {
    assertThrows[MdxParseException](MdxParser.parse("SELECT ON COLUMNS FROM [X]"))
    assertThrows[MdxParseException](MdxParser.parse("SELECT {[Measures].[m]} ON COLUMNS FROM"))
    assertThrows[MdxParseException](MdxParser.parse("SELECT {[Measures].[m] ON COLUMNS FROM [X]"))
  }
}

class MdxLowererSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("duplicate hierarchy on ROWS is rejected (ref :1231-1243)") {
    val ex = intercept[MdxAnalysisException](MdxLowerer.run(spark, sf,
      """SELECT {[Measures].[sum_qty]} ON COLUMNS,
        | CROSSJOIN([Customer].[Geo].[Region].MEMBERS,
        |           [Customer].[Geo].[Nation].MEMBERS) ON ROWS
        |FROM [Sales]""".stripMargin))
    assert(ex.msg.contains("twice"))
  }

  test("unknown cube / measure / level errors") {
    assertThrows[MdxAnalysisException](MdxLowerer.run(spark, sf,
      "SELECT {[Measures].[sum_qty]} ON COLUMNS FROM [Nope]"))
    assertThrows[MdxAnalysisException](MdxLowerer.run(spark, sf,
      "SELECT {[Measures].[nope]} ON COLUMNS FROM [Sales]"))
    assertThrows[MdxAnalysisException](MdxLowerer.run(spark, sf,
      "SELECT {[Measures].[sum_qty]} ON COLUMNS, [Customer].[Geo].[Nope].MEMBERS ON ROWS FROM [Sales]"))
    assertThrows[MdxAnalysisException](MdxLowerer.run(spark, sf,
      "SELECT {[Measures].[sum_qty]} ON COLUMNS, [Customer].[Geo].Levels(0).MEMBERS ON ROWS FROM [Sales]"))
  }

  test("empty-set probe returns schema-only scan") {
    val df = MdxLowerer.run(spark, sf, "SELECT {} ON COLUMNS FROM [Sales]")
    assert(df.count() == 0 && df.columns.contains("l_orderkey"))
  }

  test("measures-only query yields one totals row") {
    val rows = MdxLowerer.run(spark, sf,
      "SELECT {[Measures].[count_order], [Measures].[sum_qty]} ON COLUMNS FROM [Sales]").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("count_order") > 0)
  }

  test("dimension alias map rewrites names (ref mdxBuilder.ts:20-31)") {
    val df = MdxLowerer.run(spark, sf,
      """SELECT {[Measures].[count_order]} ON COLUMNS,
        | NON EMPTY [Cliente].[Geo].[Nation].MEMBERS ON ROWS FROM [Sales]""".stripMargin,
      aliasMap = Map("Cliente" -> "Customer"))
    assert(df.columns.toSeq == Seq("nation", "count_order"))
    assert(df.count() > 0)
  }

  test("slicer on a hierarchy also on ROWS folds into its filter (J6)") {
    val df = MdxLowerer.run(spark, sf,
      """SELECT {[Measures].[count_order]} ON COLUMNS,
        | NON EMPTY [Customer].[Geo].[Region].MEMBERS ON ROWS
        |FROM [Sales] WHERE ([Customer].[Geo].[Region].&[2])""".stripMargin).collect()
    assert(df.length == 1 && df(0).getAs[String]("region") == "ASIA")
  }

  test("NON EMPTY off keeps empty member combos as nulls") {
    val rows = SparkEntry.queries("q33_mdx_nonempty_off")(spark, sf).collect()
    // 25 nations x the selected brands that exist at this sf (Brand#29 is
    // absent at sf0.001) — every surviving member combo appears even when
    // the fact has no matching rows.
    assert(rows.length == 50)
    assert(rows.exists(_.isNullAt(2)), "expected at least one empty cell at sf0.001")
  }
  test("pre-aggregate merge == recompute, bit-identical") {
    import org.apache.spark.sql.functions.col
    val cube = SalesCube.cube
    val pa = cube.preAggs.head
    val fact = cube.fact(spark, sf)
    val full = MdxLowerer.preAggregateSlice(spark, sf, cube, pa, fact)
    val merged = MdxLowerer.mergePreAggs(cube, pa, Seq(
      MdxLowerer.preAggregateSlice(spark, sf, cube, pa,
        fact.where(col("l_orderkey") % 3 === 0)),
      MdxLowerer.preAggregateSlice(spark, sf, cube, pa,
        fact.where(col("l_orderkey") % 3 === 1)),
      MdxLowerer.preAggregateSlice(spark, sf, cube, pa,
        fact.where(col("l_orderkey") % 3 === 2))))
    val key = pa.grainCols
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(key.map(col): _*).collect().map(_.toSeq).toSeq
    // SUM partials are decimal, COUNT partials are long: summation is
    // exact, so the three-way merge must be BIT-identical to the
    // from-scratch build — not approximately equal.
    assert(rows(merged) == rows(full))
  }

  /** The fact sources `df`'s executed plan scans: a session
    * pre-aggregate (by name, told apart by its columns) or the lineitem
    * file. The walk stops at cached leaves, so an artifact's own build
    * scan does not count; dimension-file scans are not fact sources. */
  private def factSources(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val cube = SalesCube.cube
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: InMemoryTableScanExec =>
        val cols = s.relation.output.map(_.name)
        cube.preAggs.filter(pa => cols == pa.grainCols ++ cube.measures.map(_.name))
          .map(_.name)
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "lineitem.parquet") =>
        Seq("lineitem")
      case _ => p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).toSet
  }

  /** Customer nation × Supplier nation within a year: the shape of the
    * job path's MDX exports, which only the widest grain covers. */
  private val custSuppMdx =
    """SELECT {[Measures].[sum_qty], [Measures].[sum_disc_price], [Measures].[count_order]} ON COLUMNS,
      | NON EMPTY CROSSJOIN([Customer].[Geo].[Nation].MEMBERS,
      |   [Supplier].[Geo].[Nation].MEMBERS) ON ROWS
      |FROM [Sales]
      |WHERE ([Time].[OrderDate].[Year].&[1996])""".stripMargin

  /** The leaves of `df`'s executed plan, through AQE stages. */
  private def leaves(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("the navigator serves each pivot from the narrowest covering pre-aggregate") {
    val partLeaf = MdxLowerer.run(spark, sf,
      """SELECT {[Measures].[sum_qty]} ON COLUMNS,
        | NON EMPTY [Part].[ByBrand].[Part].MEMBERS ON ROWS FROM [Sales]""".stripMargin)
    def q(name: String) = SparkEntry.queries(name)(spark, sf)
    // (pivot, the columns it references, the source the navigator picks)
    val geo = Seq("r_regionkey", "n_nationkey", "n_name")
    val cases = Seq(
      ("q30", q("q30_mdx_nation_revenue"), geo, "base"),
      ("q31", q("q31_mdx_crossjoin_slicer"),
        Seq("r_regionkey", "r_name", "p_brand", "order_year"), "base"),
      ("q32", q("q32_mdx_levels_allmeasures"), Seq("r_regionkey", "r_name"), "base"),
      ("q33", q("q33_mdx_nonempty_off"), geo :+ "p_brand", "base"),
      ("q34", q("q34_mdx_properties"), geo :+ "r_name", "base"),
      ("q35", q("q35_mdx_slicer_tuple"),
        Seq("p_brand", "r_regionkey", "order_year"), "base"),
      // Time alone fits both grains: the narrower suppgeo wins.
      ("q36", q("q36_mdx_month_drill"), Seq("order_year", "order_month"), "suppgeo"),
      ("q37", q("q37_mdx_supplier_nation"), Seq("sn_nationkey", "sn_name"), "suppgeo"),
      // SalesOld rolls up the same base artifact; the part leaf fits no grain.
      ("q38", q("q38_mdx_oldcube"), geo, "base"),
      ("part leaf", partLeaf, Seq("p_brand", "p_partkey", "p_name"), "lineitem"),
      // Both geographies fit only the customer × supplier grain.
      ("cust x supp", MdxLowerer.run(spark, sf, custSuppMdx),
        Seq("r_regionkey", "n_nationkey", "n_name", "sn_nationkey", "sn_name", "order_year"),
        "custsupp"))
    cases.foreach { case (label, df, cols, want) =>
      assert(factSources(df) == Set(want), s"$label scans ${factSources(df)}")
      val cube = if (label == "q38") SalesCube.oldCube else SalesCube.cube
      val covering = MdxLowerer.coveringAggregate(spark, sf, cube, cols)
      assert(covering.map(factSources).getOrElse(Set("lineitem")) == Set(want),
        s"$label: coveringAggregate disagrees with lower")
    }
  }

  test("a repeated NON EMPTY-off pivot reads only cached relations") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def q33() = SparkEntry.queries("q33_mdx_nonempty_off")(spark, sf)
    q33().collect()
    val again = q33()
    again.collect()
    val ls = leaves(again)
    assert(ls.nonEmpty && ls.forall(_.isInstanceOf[InMemoryTableScanExec]),
      s"q33 reads more than session artifacts: ${ls.map(_.nodeName)}\n${again.queryExecution.executedPlan}")
  }

  test("a repeated Customer x Supplier pivot reads only cached relations") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    MdxLowerer.run(spark, sf, custSuppMdx).collect()
    val again = MdxLowerer.run(spark, sf, custSuppMdx)
    again.collect()
    val ls = leaves(again)
    assert(ls.nonEmpty && ls.forall(_.isInstanceOf[InMemoryTableScanExec]),
      s"the pivot reads more than session artifacts: ${ls.map(_.nodeName)}\n${again.queryExecution.executedPlan}")
  }

  test("a Customer x Supplier pivot rolled up from custsupp equals the raw-fact answer") {
    val cube = SalesCube.cube
    val raw = cube.copy(preAggs = cube.preAggs.filterNot(_.name == "custsupp"))
    val served = MdxLowerer.run(spark, sf, custSuppMdx)
    val scanned = MdxLowerer.run(spark, sf, custSuppMdx, registry = Map("Sales" -> raw))
    assert(factSources(served) == Set("custsupp") && factSources(scanned) == Set("lineitem"))
    val rows = served.collect().toSeq
    assert(rows.nonEmpty)
    // SUM partials re-aggregate decimal-exact and COUNT partials sum, so
    // the roll-up equals the fact scan value for value, in the same order.
    assert(rows == scanned.collect().toSeq)
  }

  test("both cubes share one base pre-aggregate") {
    val s = SparkTestSession.spark.newSession()
    Seq("q30_mdx_nation_revenue", "q38_mdx_oldcube").foreach(SparkEntry.queries(_)(s, sf).collect())
    val base = SalesCube.cube.preAggs.find(_.name == "base").get
    val grain = base.grainCols.mkString(",")
    val keys = graft.ops.SessionCache.stored(s).keySet.filter(_.contains(grain))
    assert(keys == Set(s"preagg:${MdxLowerer.preAggKey(SalesCube.cube, base)}:$sf"), s"base entries: $keys")
    graft.ops.SessionCache.clear(s)
  }
}
