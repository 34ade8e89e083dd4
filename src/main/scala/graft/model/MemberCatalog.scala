package graft.model

import graft.Tables
import graft.meta.UniqueNames._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesized SSAS-style member catalog over the TESTDATA star schema.
  *
  * Reproduces the reference's central cache-CSV shape (FIXTURES.md §1;
  * ref `scanner/DGIS_SCAN_2_stable.py:491-497`,
  * `database/migrate_csv_to_db.py:58-61`):
  * `CATALOGO, DIMENSION, JERARQUIA, NIVEL_NOMBRE, NIVEL_NUMERO,
  *  MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME, PARENT_UNIQUE_NAME,
  *  CHILDREN_CARDINALITY, MIEMBRO_ORDINAL`
  *
  * Two hierarchy variants are generated, matching the reference's two cube
  * generations (ref `scanner/DGIS_SCAN_2_stable.py:722-743`):
  *  - "new cube" `[Customer].[Geo]` / `[DIM VARIABLES].[Apartado y Variable]`
  *    — explicit level segment + `PARENT_UNIQUE_NAME`;
  *  - "old cube" `[Customer].[GeoOld]` — no level segment, no parent column
  *    content; parentage is unique-name prefix (J2).
  *
  * Scale note: the member catalog is dimension-sized (≈1.7 M rows in the
  * reference). All derivations below are narrow projections + a
  * broadcastable aggregate; at 100 TB fact scale this table stays tiny and
  * is always the broadcast side of joins.
  */
object MemberCatalog {

  private val cols = Seq("CATALOGO", "DIMENSION", "JERARQUIA", "NIVEL_NOMBRE",
    "NIVEL_NUMERO", "MIEMBRO_CAPTION", "MIEMBRO_UNIQUE_NAME",
    "PARENT_UNIQUE_NAME", "CHILDREN_CARDINALITY", "MIEMBRO_ORDINAL")

  /** Session-lifetime cache of the member catalog — the Spark analogue of
    * the reference's member-cache CSV (§4 "member-catalog disk cache";
    * ref `scanner/DGIS_SCAN_2_stable.py:681-714`). Dimension-sized by
    * contract (~1.7 M rows in the reference), so MEMORY_AND_DISK persist
    * is safe and every downstream query skips the 6-branch derivation.
    * A serving read: a small catalog is one partition, so a browse page
    * or a DMV rowset over it is one Spark job. */
  def members(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.SessionCache.serve(spark, s"members:$sfDir")(
      build(spark, sfDir))

  /** Full synthesized member catalog (all hierarchies, both variants). */
  def build(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables.region(spark, sfDir)
    val nation = Tables.nation(spark, sfDir)
    val part   = Tables.part(spark, sfDir)

    val nationsPerRegion = nation.groupBy("n_regionkey")
      .agg(count(lit(1)).cast("int").as("n_children"))

    // -- new cube: [Customer].[Geo] Region(1) -> Nation(2) ----------------
    val geoRegion = region.join(nationsPerRegion,
        region("r_regionkey") === nationsPerRegion("n_regionkey"), "left")
      .select(
        lit("SALES").as("CATALOGO"),
        lit("[Customer]").as("DIMENSION"),
        lit("[Customer].[Geo]").as("JERARQUIA"),
        lit("Region").as("NIVEL_NOMBRE"),
        lit(1).as("NIVEL_NUMERO"),
        col("r_name").as("MIEMBRO_CAPTION"),
        concat(lit("[Customer].[Geo].[Region].&["),
          col("r_regionkey").cast("string"), lit("]")).as("MIEMBRO_UNIQUE_NAME"),
        lit(null).cast("string").as("PARENT_UNIQUE_NAME"),
        coalesce(col("n_children"), lit(0)).as("CHILDREN_CARDINALITY"),
        col("r_regionkey").cast("int").as("MIEMBRO_ORDINAL"))

    val geoNation = nation.select(
      lit("SALES").as("CATALOGO"),
      lit("[Customer]").as("DIMENSION"),
      lit("[Customer].[Geo]").as("JERARQUIA"),
      lit("Nation").as("NIVEL_NOMBRE"),
      lit(2).as("NIVEL_NUMERO"),
      col("n_name").as("MIEMBRO_CAPTION"),
      concat(lit("[Customer].[Geo].[Nation].&["),
        col("n_regionkey").cast("string"), lit("].&["),
        col("n_nationkey").cast("string"), lit("]")).as("MIEMBRO_UNIQUE_NAME"),
      concat(lit("[Customer].[Geo].[Region].&["),
        col("n_regionkey").cast("string"), lit("]")).as("PARENT_UNIQUE_NAME"),
      lit(0).as("CHILDREN_CARDINALITY"),
      col("n_nationkey").cast("int").as("MIEMBRO_ORDINAL"))

    // -- old cube: [Customer].[GeoOld], no level segment, no parent -------
    val geoOldRegion = region.select(
      lit("SALES_OLD").as("CATALOGO"),
      lit("[Customer]").as("DIMENSION"),
      lit("[Customer].[GeoOld]").as("JERARQUIA"),
      lit(null).cast("string").as("NIVEL_NOMBRE"),
      lit(1).as("NIVEL_NUMERO"),
      col("r_name").as("MIEMBRO_CAPTION"),
      concat(lit("[Customer].[GeoOld].&["),
        col("r_regionkey").cast("string"), lit("]")).as("MIEMBRO_UNIQUE_NAME"),
      lit(null).cast("string").as("PARENT_UNIQUE_NAME"),
      lit(0).as("CHILDREN_CARDINALITY"),
      col("r_regionkey").cast("int").as("MIEMBRO_ORDINAL"))

    val geoOldNation = nation.select(
      lit("SALES_OLD").as("CATALOGO"),
      lit("[Customer]").as("DIMENSION"),
      lit("[Customer].[GeoOld]").as("JERARQUIA"),
      lit(null).cast("string").as("NIVEL_NOMBRE"),
      lit(2).as("NIVEL_NUMERO"),
      col("n_name").as("MIEMBRO_CAPTION"),
      concat(lit("[Customer].[GeoOld].&["),
        col("n_regionkey").cast("string"), lit("].&["),
        col("n_nationkey").cast("string"), lit("]")).as("MIEMBRO_UNIQUE_NAME"),
      lit(null).cast("string").as("PARENT_UNIQUE_NAME"),
      lit(0).as("CHILDREN_CARDINALITY"),
      col("n_nationkey").cast("int").as("MIEMBRO_ORDINAL"))

    // -- Variables dimension: Apartado(1) = brand -> Variable(2) = part ---
    // (ref taxonomy `scanner/DGIS_SCAN_2_stable.py:952-984`)
    val partsPerBrand = part.groupBy("p_brand")
      .agg(count(lit(1)).cast("int").as("n_children"))

    val apartados = partsPerBrand.select(
      lit("SALES").as("CATALOGO"),
      lit("[DIM VARIABLES]").as("DIMENSION"),
      lit("[DIM VARIABLES].[Apartado y Variable]").as("JERARQUIA"),
      lit("Apartado").as("NIVEL_NOMBRE"),
      lit(1).as("NIVEL_NUMERO"),
      col("p_brand").as("MIEMBRO_CAPTION"),
      concat(lit("[DIM VARIABLES].[Apartado y Variable].[Apartado].&["),
        col("p_brand"), lit("]")).as("MIEMBRO_UNIQUE_NAME"),
      lit(null).cast("string").as("PARENT_UNIQUE_NAME"),
      col("n_children").as("CHILDREN_CARDINALITY"),
      regexp_extract(col("p_brand"), "(\\d+)", 1).cast("int").as("MIEMBRO_ORDINAL"))

    val variables = part.select(
      lit("SALES").as("CATALOGO"),
      lit("[DIM VARIABLES]").as("DIMENSION"),
      lit("[DIM VARIABLES].[Apartado y Variable]").as("JERARQUIA"),
      lit("Variable").as("NIVEL_NOMBRE"),
      lit(2).as("NIVEL_NUMERO"),
      col("p_name").as("MIEMBRO_CAPTION"),
      concat(lit("[DIM VARIABLES].[Apartado y Variable].[Variable].&["),
        col("p_brand"), lit("].&["),
        col("p_partkey").cast("string"), lit("]")).as("MIEMBRO_UNIQUE_NAME"),
      concat(lit("[DIM VARIABLES].[Apartado y Variable].[Apartado].&["),
        col("p_brand"), lit("]")).as("PARENT_UNIQUE_NAME"),
      lit(0).as("CHILDREN_CARDINALITY"),
      col("p_partkey").cast("int").as("MIEMBRO_ORDINAL"))

    Seq(geoRegion, geoNation, geoOldRegion, geoOldNation, apartados, variables)
      .map(_.select(cols.map(col): _*))
      .reduce(_.unionByName(_))
  }

  /** S5: member-cache CSV source (FIXTURES.md §1; ref
    * `scanner/DGIS_SCAN_2_stable.py:707-714`, `backend/mock_service.py:23-35`).
    * Column-presence tolerant like every reference consumer: optional
    * columns absent from old-cube fixtures come back as typed nulls. */
  def fromCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("header", "true").csv(path)
    val typed = Seq(
      "NIVEL_NUMERO" -> "int", "CHILDREN_CARDINALITY" -> "int",
      "MIEMBRO_ORDINAL" -> "int")
    val withAll = cols.foldLeft(raw) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast("string"))
    }
    typed.foldLeft(withAll) { case (df, (c, t)) =>
      df.withColumn(c, col(c).cast(t))
    }.select(cols.map(col): _*)
  }

  /** DuckDB SQL producing the identical catalog from the same parquet
    * tables — the shared CTE prefix for every member-catalog oracle. */
  val oracleCte: String =
    """WITH members AS (
      |  SELECT 'SALES' AS CATALOGO, '[Customer]' AS DIMENSION,
      |    '[Customer].[Geo]' AS JERARQUIA, 'Region' AS NIVEL_NOMBRE,
      |    1 AS NIVEL_NUMERO, r_name AS MIEMBRO_CAPTION,
      |    '[Customer].[Geo].[Region].&[' || r_regionkey || ']' AS MIEMBRO_UNIQUE_NAME,
      |    CAST(NULL AS VARCHAR) AS PARENT_UNIQUE_NAME,
      |    COALESCE((SELECT CAST(count(*) AS INT) FROM nation n WHERE n.n_regionkey = r.r_regionkey), 0) AS CHILDREN_CARDINALITY,
      |    CAST(r_regionkey AS INT) AS MIEMBRO_ORDINAL
      |  FROM region r
      |  UNION ALL
      |  SELECT 'SALES', '[Customer]', '[Customer].[Geo]', 'Nation', 2, n_name,
      |    '[Customer].[Geo].[Nation].&[' || n_regionkey || '].&[' || n_nationkey || ']',
      |    '[Customer].[Geo].[Region].&[' || n_regionkey || ']',
      |    0, CAST(n_nationkey AS INT)
      |  FROM nation
      |  UNION ALL
      |  SELECT 'SALES_OLD', '[Customer]', '[Customer].[GeoOld]', NULL, 1, r_name,
      |    '[Customer].[GeoOld].&[' || r_regionkey || ']', NULL, 0, CAST(r_regionkey AS INT)
      |  FROM region
      |  UNION ALL
      |  SELECT 'SALES_OLD', '[Customer]', '[Customer].[GeoOld]', NULL, 2, n_name,
      |    '[Customer].[GeoOld].&[' || n_regionkey || '].&[' || n_nationkey || ']',
      |    NULL, 0, CAST(n_nationkey AS INT)
      |  FROM nation
      |  UNION ALL
      |  SELECT 'SALES', '[DIM VARIABLES]', '[DIM VARIABLES].[Apartado y Variable]',
      |    'Apartado', 1, p_brand,
      |    '[DIM VARIABLES].[Apartado y Variable].[Apartado].&[' || p_brand || ']',
      |    NULL, CAST(count(*) AS INT),
      |    CAST(regexp_extract(p_brand, '(\d+)', 1) AS INT)
      |  FROM part GROUP BY p_brand
      |  UNION ALL
      |  SELECT 'SALES', '[DIM VARIABLES]', '[DIM VARIABLES].[Apartado y Variable]',
      |    'Variable', 2, p_name,
      |    '[DIM VARIABLES].[Apartado y Variable].[Variable].&[' || p_brand || '].&[' || p_partkey || ']',
      |    '[DIM VARIABLES].[Apartado y Variable].[Apartado].&[' || p_brand || ']',
      |    0, CAST(p_partkey AS INT)
      |  FROM part
      |)
      |""".stripMargin
}
