package graft.mdx

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class MdxAnalysisException(msg: String) extends Exception(msg)

/** Analyzer + lowerer: MdxSelect -> DataFrame plan (SURVEY.md §3.4).
  *
  * The lowering recipe (ref semantics, not ref code):
  *  - axis member sets / WHERE slicer  -> `where` predicates on dim keys
  *    (ref set literals `scanner/DGIS_SCAN_2_stable.py:1378-1390`, slicer
  *    `backend/actions_runner.py:235-247`);
  *  - NON EMPTY  -> inner fact⋈dim join + groupBy (only combos present in
  *    the fact survive; ref `:1417-1420`);
  *  - NON EMPTY absent -> the full member cross product LEFT JOINs the
  *    aggregated fact, nulls kept (SURVEY §7.4);
  *  - CROSSJOIN  -> additional grouping keys (ref `:1392-1397`);
  *  - measures   -> aggregate expressions per MEASURE_AGGREGATOR;
  *  - DIMENSION PROPERTIES -> ancestor-level caption columns carried
  *    through the groupBy (functionally dependent on the axis keys;
  *    ref `:1399-1408`);
  *  - result ordering follows member ordinals = hierarchical key order
  *    (ref `backend/debug_csv.py:16-27`).
  *
  * Analyzer rules: unknown cube/hierarchy/level/measure errors; the
  * reference's duplicate-hierarchy-in-CROSSJOIN rejection
  * (ref `scanner/DGIS_SCAN_2_stable.py:1231-1243`); dimension-name alias
  * rewrite (ref `frontend/src/utils/mdxBuilder.ts:20-31`).
  */
object MdxLowerer {

  private final case class AxisDim(h: HierarchyDef, level: LevelDef, filter: Option[Column])
  private final case class PropRef(h: HierarchyDef, level: LevelDef)

  def run(spark: SparkSession, sfDir: String, mdx: String,
          registry: Map[String, CubeDef] = SalesCube.registry,
          aliasMap: Map[String, String] = Map.empty): DataFrame =
    // Measures aggregate decimal-exact internally; the final projection goes
    // out as double (graft.queries.Parity conventions — driver-hash parity).
    graft.queries.Parity.outputDoubles(
      lower(spark, sfDir, MdxParser.parse(mdx), registry, aliasMap))

  def lower(spark: SparkSession, sfDir: String, sel0: MdxSelect,
            registry: Map[String, CubeDef], aliasMap: Map[String, String]): DataFrame = {
    val sel = applyAliases(sel0, aliasMap)
    val cube = registry.getOrElse(sel.cube,
      throw MdxAnalysisException(s"unknown cube [${sel.cube}]"))

    val measures = resolveMeasures(cube, sel.columns)
    val axisDims = sel.rows.map(resolveAxis(cube, _)).getOrElse(Nil)

    // Reference rule: the same hierarchy may not appear twice on ROWS.
    val dupHier = axisDims.groupBy(_.h.hier).collect { case (h, as) if as.size > 1 => h }
    if (dupHier.nonEmpty)
      throw MdxAnalysisException(s"hierarchy appears twice on ROWS: ${dupHier.mkString(", ")}")

    val slicer = sel.slicer.map(resolveMember(cube, _))
    val props = sel.properties.map(resolveProperty(cube, axisDims, _))

    // Empty-set probe `SELECT {} ON COLUMNS FROM [c]` -> schema-only scan
    // (ref README.md:17; validity check).
    if (measures.isEmpty && axisDims.isEmpty)
      return cube.fact(spark, sfDir).limit(0)

    // Attach exactly the join units the referenced hierarchies need.
    val wantedUnits = (axisDims.map(_.h) ++ slicer.map(_._1) ++ props.map(_.h))
      .flatMap(_.units).distinct

    // Aggregate navigation ([[navigate]]): serve the query by rolling up
    // the narrowest covering session-materialized pre-agg instead of
    // re-scanning the fact — the pivot cost becomes dimension-bounded,
    // invariant to fact size.
    val referencedCols = (
      axisDims.flatMap(ad => ad.level.keyCols :+ ad.level.captionCol) ++
        slicer.toSeq.flatMap(_._2.keyCols) ++
        props.flatMap(p => p.level.keyCols :+ p.level.captionCol)).distinct
    val navigated = navigate(cube, wantedUnits, referencedCols, measures)
    val fact0 = navigated match {
      case Some(pa) => preAggTable(spark, sfDir, cube, pa)
      case None     => attachUnits(spark, sfDir, cube, wantedUnits, cube.fact(spark, sfDir))
    }
    // Measure expressions over the chosen source: raw-fact aggregators,
    // or exact partial re-aggregation over the pre-agg's measure columns.
    val mAgg: MeasureDef => Column = if (navigated.isDefined) reAggregate else _.agg

    // Slicer + axis member-set predicates (filter before join/agg — Catalyst
    // pushes these to the scan where possible).
    val preds = slicer.map { case (h, lvl, keys) => keyPredicate(lvl, keys) } ++
      axisDims.flatMap(_.filter)
    val fact = preds.foldLeft(fact0)(_.where(_))

    if (axisDims.isEmpty) // measures-only: single global totals row
      return aggregate(fact, Nil, measures, mAgg)

    val propsFor: Map[String, Seq[PropRef]] =
      props.groupBy(_.h.hier).view.mapValues(_.sortBy(_.level.number)).toMap.withDefaultValue(Nil)

    val keyCols = axisDims.flatMap(_.level.keyCols).distinct
    val captionCols = axisDims.flatMap(ad =>
      propsFor(ad.h.hier).map(_.level.captionCol) :+ ad.level.captionCol).distinct
    val groupCols = (keyCols ++ captionCols).distinct

    val outCols: Seq[Column] = axisDims.flatMap { ad =>
      propsFor(ad.h.hier).map(p => col(p.level.captionCol).as(p.level.outName)) :+
        col(ad.level.captionCol).as(ad.level.outName)
    } ++ measures.map(m => col(m.name))

    if (sel.nonEmpty || sel.rows.isEmpty) {
      aggregate(fact, groupCols, measures, mAgg)
        .orderBy(keyCols.map(col): _*).select(outCols: _*)
    } else {
      // NON EMPTY off: full member cross product, LEFT JOIN aggregated fact.
      // Each side is a served member set keyed by the columns it holds, so
      // a level of [Customer].[Geo] and of [Customer].[GeoOld] share one.
      val memberSides = axisDims.map { ad =>
        val pcols = (ad.level.keyCols ++
          propsFor(ad.h.hier).map(_.level.captionCol) :+ ad.level.captionCol).distinct
        val m = graft.ops.SessionCache.serve(spark, s"memberset:${pcols.mkString(",")}:$sfDir")(
          ad.h.members(spark, sfDir).select(pcols.map(col): _*).distinct())
        ad.filter.map(m.where).getOrElse(m)
      }
      val cross = memberSides.reduce(_.crossJoin(_))
      // A hash join on the keys, not a broadcast of the aggregate: over
      // one-partition served sides it runs in the final stage, no job added.
      cross.join(aggregate(fact, keyCols, measures, mAgg).hint("shuffle_hash"), keyCols, "left")
        .orderBy(keyCols.map(col): _*)
        .select(outCols: _*)
    }
  }

  /** Dimension-name rewrite on the first path segment
    * (ref `frontend/src/utils/mdxBuilder.ts:20-31`). */
  private def applyAliases(sel: MdxSelect, aliasMap: Map[String, String]): MdxSelect = {
    if (aliasMap.isEmpty) return sel
    def fixPath(p: MemberPath): MemberPath =
      p.copy(names = p.names match {
        case head +: rest => aliasMap.getOrElse(head, head) +: rest
        case other => other
      })
    def fixSet(s: MdxSet): MdxSet = s match {
      case SetLiteral(ms) => SetLiteral(ms.map(fixPath))
      case PathMembers(p) => PathMembers(fixPath(p))
      case LevelsMembers(p, n) => LevelsMembers(fixPath(p), n)
      case CrossJoinSet(l, r) => CrossJoinSet(fixSet(l), fixSet(r))
      case AllMeasuresSet => AllMeasuresSet
    }
    sel.copy(columns = fixSet(sel.columns), rows = sel.rows.map(fixSet),
      properties = sel.properties.map(fixPath), slicer = sel.slicer.map(fixPath))
  }

  private def resolveMeasures(cube: CubeDef, set: MdxSet): Seq[MeasureDef] = set match {
    case AllMeasuresSet => cube.measures
    case SetLiteral(ms) => ms.map { p =>
      p.names.map(_.toUpperCase) match {
        case Seq("MEASURES", m) => cube.measure(m).getOrElse(
          throw MdxAnalysisException(s"unknown measure [$m]"))
        case _ => throw MdxAnalysisException(
          s"COLUMNS axis supports only [Measures].[m] sets, got ${p.render}")
      }
    }
    case other => throw MdxAnalysisException(s"unsupported COLUMNS set: $other")
  }

  private def hierOf(cube: CubeDef, p: MemberPath): HierarchyDef = {
    if (p.names.size < 2)
      throw MdxAnalysisException(s"path too short: ${p.render}")
    val dim = s"[${p.names(0)}]"
    val hier = s"[${p.names(0)}].[${p.names(1)}]"
    cube.hierarchy(dim, hier).getOrElse(
      throw MdxAnalysisException(s"unknown hierarchy $hier in cube [${cube.name}]"))
  }

  private def resolveAxis(cube: CubeDef, set: MdxSet): Seq[AxisDim] = set match {
    case CrossJoinSet(l, r) => resolveAxis(cube, l) ++ resolveAxis(cube, r)
    case PathMembers(p) =>
      val h = hierOf(cube, p)
      val lvl = p.names.size match {
        case 2 => h.leaf // Hier.MEMBERS: leaf enumeration (ref `:1280`)
        case 3 => h.level(p.names(2)).getOrElse(
          throw MdxAnalysisException(s"unknown level [${p.names(2)}] of ${h.hier}"))
        case n => throw MdxAnalysisException(s"bad path ${p.render}")
      }
      Seq(AxisDim(h, lvl, None))
    case LevelsMembers(p, n) =>
      val h = hierOf(cube, p)
      // 1-based positional; Levels(0) is the All level, which the reference
      // always filters out (P4) — we reject it (ref `:1269-1276`).
      if (n == 0) throw MdxAnalysisException("Levels(0) (All) is not materialized")
      val lvl = h.levelAt(n).getOrElse(
        throw MdxAnalysisException(s"${h.hier} has no level $n"))
      Seq(AxisDim(h, lvl, None))
    case SetLiteral(ms) if ms.nonEmpty =>
      val resolved = ms.map(resolveMember(cube, _))
      val (h, lvl, _) = resolved.head
      if (!resolved.forall(r => r._1 == h && r._2 == lvl))
        throw MdxAnalysisException("a set literal must contain members of one level")
      val pred = resolved.map { case (_, l, keys) => keyPredicate(l, keys) }.reduce(_ || _)
      Seq(AxisDim(h, lvl, Some(pred)))
    case SetLiteral(_) => Nil // empty set -> no axis dims
    case AllMeasuresSet =>
      throw MdxAnalysisException("[Measures].AllMembers is only valid on COLUMNS")
  }

  /** Member literal -> (hierarchy, level, key path). Level comes from the
    * explicit 3rd segment when present ("new cube") or from the key depth
    * ("old cube"; ref `scanner/DGIS_SCAN_2_stable.py:739-743`). */
  private def resolveMember(cube: CubeDef, p: MemberPath): (HierarchyDef, LevelDef, Seq[String]) = {
    val h = hierOf(cube, p)
    val lvl = p.names.size match {
      case 2 => h.levelAt(p.keys.size).getOrElse(
        throw MdxAnalysisException(s"${h.hier} has no level at depth ${p.keys.size}"))
      case 3 => h.level(p.names(2)).getOrElse(
        throw MdxAnalysisException(s"unknown level [${p.names(2)}] of ${h.hier}"))
      case _ => throw MdxAnalysisException(s"bad member ${p.render}")
    }
    if (p.keys.size != lvl.keyCols.size)
      throw MdxAnalysisException(
        s"member ${p.render}: expected ${lvl.keyCols.size} keys at level [${lvl.name}]")
    (h, lvl, p.keys)
  }

  private def keyPredicate(lvl: LevelDef, keys: Seq[String]): Column =
    lvl.keyCols.zip(keys)
      .map { case (c, k) => col(c).cast("string") === lit(k) }
      .reduce(_ && _)

  private def resolveProperty(cube: CubeDef, axis: Seq[AxisDim], p: MemberPath): PropRef = {
    val h = hierOf(cube, p)
    if (p.names.size != 3)
      throw MdxAnalysisException(s"DIMENSION PROPERTIES expects [Dim].[Hier].[Level], got ${p.render}")
    val lvl = h.level(p.names(2)).getOrElse(
      throw MdxAnalysisException(s"unknown level [${p.names(2)}] of ${h.hier}"))
    val ax = axis.find(_.h.hier == h.hier).getOrElse(
      throw MdxAnalysisException(s"property ${p.render}: hierarchy not on ROWS"))
    if (lvl.number >= ax.level.number)
      throw MdxAnalysisException(s"property ${p.render} must be an ancestor level")
    PropRef(h, lvl)
  }

  /** The SSAS navigator rule, written once: among the cube's
    * pre-aggregates whose join units include `units` and whose grain
    * holds every column in `cols` — and only when every measure
    * re-aggregates (SUM / COUNT partials sum exactly) — the NARROWEST
    * grain wins (fewest grain columns ⇒ fewest rows to roll up). */
  private def navigate(cube: CubeDef, units: Seq[String], cols: Seq[String],
                       measures: Seq[MeasureDef]): Option[PreAggDef] =
    cube.preAggs.filter { pa =>
      units.forall(pa.units.contains) &&
        cols.forall(pa.grainCols.contains) &&
        measures.forall(m => m.aggregator == "SUM" || m.aggregator == "COUNT")
    }.sortBy(_.grainCols.size).headOption

  /** Materialized-aggregate rewrite for RELATIONAL queries — the
    * [[navigate]] rule [[lower]] applies to MDX pivots, exposed for
    * SQL-shaped callers: when every column a query filters or groups on
    * sits in a declared grain, serve it from the narrowest covering
    * session-materialized pre-aggregate (the caller re-aggregates with
    * `sum` over the partial columns — exact for SUM/COUNT partials).
    * Returns None when no aggregate covers, and the caller scans the
    * fact as usual. This is what keeps a covered query's cost
    * dimension-bounded — invariant to fact growth. */
  def coveringAggregate(spark: SparkSession, sfDir: String, cube: CubeDef,
                        referencedCols: Seq[String]): Option[DataFrame] =
    navigate(cube, Nil, referencedCols, Nil).map(preAggTable(spark, sfDir, cube, _))

  /** Session-materialized pre-aggregate of the cube's fact at one of its
    * declared grains (one fact scan per session per aggregate; every
    * navigated pivot rolls up a dimension-bounded table). Keyed by
    * [[preAggKey]], so every cube over the same fact shares it. A
    * serving read: a small aggregate is one partition, so the roll-up is
    * one Spark job with no Exchange. */
  private def preAggTable(spark: SparkSession, sfDir: String,
                          cube: CubeDef, pa: PreAggDef): DataFrame =
    graft.ops.SessionCache.serve(spark, s"preagg:${preAggKey(cube, pa)}:$sfDir") {
      preAggregateSlice(spark, sfDir, cube, pa, cube.fact(spark, sfDir))
    }

  /** What a pre-aggregate holds: the join units attached to the fact,
    * the grain and the measure columns. The cube's name is not part of
    * it, so the old-generation cube reads the artifacts of `Sales`. */
  private[graft] def preAggKey(cube: CubeDef, pa: PreAggDef): String =
    s"${pa.units.mkString("+")}:${(pa.grainCols ++ cube.measures.map(_.name)).mkString(",")}"

  /** Pre-aggregate an arbitrary fact SLICE at `pa`'s grain — the partial
    * form shared by session materialization and incremental maintenance:
    * at 100 TB the aggregate is maintained per arriving fact partition
    * (a day, a load batch) and [[mergePreAggs]]-folded, never rebuilt by
    * re-scanning the whole fact. */
  def preAggregateSlice(spark: SparkSession, sfDir: String, cube: CubeDef,
                        pa: PreAggDef, fact: DataFrame): DataFrame =
    aggregate(
      attachUnits(spark, sfDir, cube, pa.units,
        // r12: fan the fact out before the star join + aggregate (guide
        // §2.5 — the single-row-group fact scan otherwise runs the whole
        // build in one task; ~3.5 s serial, paid per MDX query in the
        // cold pass). Key = the fact's leading column (the high-card
        // order key in this schema); no-op once the fact is a real
        // partitioned table. Build path only — direct pivots keep their
        // broadcast-join-on-scan shape.
        graft.ops.Fanout.byKey(fact, col(fact.columns.head))),
      pa.grainCols, cube.measures, _.agg)

  /** Merge partial pre-aggregates (SSAS incremental processing): every
    * navigable measure re-aggregates by SUMMATION (decimal sums of sums,
    * counts sum), so merge ≡ recompute EXACTLY — bit-identical, not
    * approximately (MdxLowererSpec pins it; q126 oracle-gates it). This
    * is what makes the aggregate maintainable: a fact delta folds in at
    * the cost of the delta, and the navigator's own roll-up
    * ([[reAggregate]] over measure columns) is this same merge, so a
    * query can even read the un-compacted union directly. */
  def mergePreAggs(cube: CubeDef, pa: PreAggDef, parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "mergePreAggs needs at least one partial")
    aggregate(parts.reduce(_.unionByName(_)), pa.grainCols, cube.measures, reAggregate)
  }

  /** A measure's partial column re-aggregated: the navigator's roll-up
    * and the pre-aggregate merge. */
  private val reAggregate: MeasureDef => Column = m => sum(col(m.name))

  /** Every measure aggregation: `measures` over `df` grouped by `keys`
    * (no keys = one totals row; no measures = the distinct keys), each
    * output column named after its measure. */
  private def aggregate(df: DataFrame, keys: Seq[String], measures: Seq[MeasureDef],
                        agg: MeasureDef => Column): DataFrame =
    if (measures.isEmpty) df.select(keys.map(col): _*).distinct()
    else df.groupBy(keys.map(col): _*)
      .agg(agg(measures.head).as(measures.head.name),
        measures.tail.map(m => agg(m).as(m.name)): _*)

  /** Attach join units to `fact` once each, honoring `requires` ordering. */
  private def attachUnits(spark: SparkSession, sfDir: String, cube: CubeDef,
                          wanted: Seq[String], fact: DataFrame): DataFrame = {
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    def add(name: String): Unit = if (!done.contains(name)) {
      cube.unit(name).requires.foreach(add)
      done += name
    }
    wanted.foreach(add)
    done.foldLeft(fact) { (f, u) =>
      cube.unit(u).apply(spark, sfDir, f)
    }
  }
}
