package graft.ops

/** P13 driver-side input validation (ref `scanner/validators.py:10-71`):
  * reject query text carrying SQL-injection markers; sanitize identifiers
  * to word characters while keeping Spanish accented letters. Not plan
  * operators — these guard the service entry points. */
object Validators {

  private val forbiddenMarkers =
    Seq(";", "--", "/*", "*/", "xp_", "sp_")
  private val forbiddenWords =
    Seq("EXEC", "EXECUTE", "DROP", "DELETE", "INSERT", "UPDATE", "ALTER",
      "CREATE", "TRUNCATE")

  /** Either an error message or the validated text. */
  def validateQueryText(s: String): Either[String, String] = {
    val upper = s.toUpperCase
    forbiddenMarkers.find(s.contains) match {
      case Some(m) => Left(s"forbidden sequence '$m'")
      case None =>
        // (?s): '.' must cross newlines or "ok\nDROP ..." bypasses the guard
        forbiddenWords.find(w => upper.matches(s"(?s).*\\b$w\\b.*")) match {
          case Some(w) => Left(s"forbidden keyword '$w'")
          case None => Right(s)
        }
    }
  }

  /** Strip everything but word chars, spaces and áéíóúüñ (both cases)
    * (ref `scanner/validators.py:47-71`). */
  def sanitizeIdentifier(s: String): String =
    s.replaceAll("[^\\w áéíóúüñÁÉÍÓÚÜÑ]", "")
}
