package graft.meta

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Algebra over SSAS-style member unique names.
  *
  * Grammar (reference `scanner/DGIS_SCAN_2_stable.py:742,784` and
  * FIXTURES.md §1):
  * {{{
  * member  := '[' dim ']' '.' '[' hier ']' ('.' '[' level ']')? keyPart+
  * keyPart := '.&[' key ']'
  * depth(member) = count('.&[')
  * }}}
  * All functions are pure column expressions (codegen'd) — no UDFs.
  */
object UniqueNames {

  /** Member depth = number of `.&[` key parts
    * (ref `scanner/DGIS_SCAN_2_stable.py:739-743`). */
  def depth(u: Column): Column =
    (size(split(u, "\\.&\\[")) - 1).cast("int")

  /** Parent unique name by dropping the last `.&[k]` key part; null at
    * depth <= 1 (ref prefix-parentage `scanner/DGIS_SCAN_2_stable.py:1044-1049`). */
  def parentByPrefix(u: Column): Column =
    when(depth(u) > 1, regexp_replace(u, "\\.&\\[[^\\]]*\\]$", ""))

  /** Last key of the unique name: `...&[k]` -> `k`. */
  def lastKey(u: Column): Column =
    regexp_extract(u, "\\.&\\[([^\\]]*)\\]$", 1)

  /** Explicit level-name segment if present (3rd bracketed segment before
    * the first key part), else null — the "new cube" branch of X1
    * (ref `scanner/DGIS_SCAN_2_stable.py:789-800`). */
  def levelNameSegment(u: Column): Column = {
    val seg = regexp_extract(u, "^\\[[^\\]]*\\]\\.\\[[^\\]]*\\]\\.\\[([^\\]]*)\\]\\.&\\[", 1)
    when(seg =!= "", seg)
  }

  /** Build a member unique name `[dim].[hier].&[k1](.&[k2]...)` from key
    * columns ("old cube" style, no level segment). */
  def oldCube(dim: String, hier: String, keys: Column*): Column =
    concat((lit(s"[$dim].[$hier]") +: keys.flatMap(k =>
      Seq(lit(".&["), k.cast("string"), lit("]")))): _*)

  /** parse_ranges("1,3,5-10") -> sorted distinct ints
    * (ref `backend/utils.py:10-68`, `scanner/validators.py:10-44`).
    * Driver-side helper, not a plan operator. */
  def parseRanges(s: String): Seq[Int] =
    s.split(",").iterator.map(_.trim).filter(_.nonEmpty).flatMap { tok =>
      tok.split("-", 2) match {
        case Array(a, b) if tok.contains("-") =>
          (a.trim.toInt to b.trim.toInt)
        case _ => Seq(tok.toInt)
      }
    }.toSeq.distinct.sorted
}
