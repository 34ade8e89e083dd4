package graft.service

import graft.ops.MemberOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `get_apartados` browse surface and its golden response envelope
  * (ref `backend/olap_service.py:153-194`, golden sample
  * `docs/apartados_sis2025.json`: `{request_id, action, status,
  * data:{dimension, apartados:[{MEMBER_UNIQUE_NAME, MEMBER_CAPTION}…]}}`). */
object ApartadosService {

  /** Apartado rows with the 1-based display index (W1) and child counts. */
  def apartadoRows(members: DataFrame): DataFrame = {
    val w = Window.orderBy(col("MIEMBRO_CAPTION"), col("MIEMBRO_UNIQUE_NAME"))
    MemberOps.apartados(members)
      .select(col("MIEMBRO_CAPTION"), col("MIEMBRO_UNIQUE_NAME"),
        col("CHILDREN_CARDINALITY"))
      .withColumn("id", row_number().over(w))
      .select(col("id"), col("MIEMBRO_CAPTION").as("caption"),
        col("MIEMBRO_UNIQUE_NAME").as("unique_name"),
        col("CHILDREN_CARDINALITY").as("variables_count"))
  }

  /** `/variables?apartados=1,3,5-10` (ref `backend/api_server.py:189-215`):
    * parse the range selection (X3), resolve the selected apartados by
    * display index, and return their variables via the parent-child join
    * (J1), accumulated like the reference's concat loop (U1). */
  def variablesFor(members: DataFrame, apartadoRanges: String): DataFrame = {
    val ids = graft.meta.UniqueNames.parseRanges(apartadoRanges)
    val selected = apartadoRows(members).where(col("id").isin(ids: _*))
      .select(col("unique_name").as("parent_unique"), col("caption").as("apartado"))
    MemberOps.variables(members)
      .join(broadcast(selected),
        col("PARENT_UNIQUE_NAME") === col("parent_unique"))
      .select(col("apartado"), col("MIEMBRO_CAPTION").as("variable"),
        col("MIEMBRO_UNIQUE_NAME").as("unique_name"))
      .orderBy(col("apartado"), col("unique_name"))
  }

  /** The JSON action envelope, reproduced from the member table. */
  def envelope(members: DataFrame, requestId: String, dimension: String): String = {
    val rows = apartadoRows(members).orderBy(col("id")).collect().map { r =>
      s"""{"MEMBER_UNIQUE_NAME": ${q(r.getAs[String]("unique_name"))}, """ +
        s""""MEMBER_CAPTION": ${q(r.getAs[String]("caption"))}}"""
    }
    s"""{"request_id": ${q(requestId)}, "action": "get_apartados", """ +
      s""""status": "success", "data": {"dimension": ${q(dimension)}, """ +
      s""""apartados": [${rows.mkString(", ")}]}}"""
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
