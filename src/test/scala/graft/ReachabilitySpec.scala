package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Every capability has one implementation, and it is the one a product
  * path runs. A name scan over `src/main` finds each uniquely named
  * public, non-override `def`; it passes if its name appears in code
  * (comments do not count) outside its own definition in `src/main`,
  * `perfbench/src` or `tools`, if it belongs to a `graft.streaming` object (the streaming
  * twins, which specs pin to their batch queries by design), or if
  * COVERAGE.md names it for a reference capability. Callers in specs do
  * not count: a def only specs reach is a second implementation of
  * something, or dead code. */
class ReachabilitySpec extends AnyFunSuite {

  private lazy val root: File =
    Iterator.iterate(new File(".").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .find(d => new File(d, "COVERAGE.md").isFile && new File(d, "src/main").isDirectory)
      .getOrElse(fail("project root (COVERAGE.md + src/main) not found"))

  private def sources(dir: String, ext: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) {
        if (f.getName == "target") Nil
        else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      } else if (f.getName.endsWith(ext)) Seq(f)
      else Nil
    walk(new File(root, dir))
  }

  private def lines(f: File): IndexedSeq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toIndexedSeq finally src.close()
  }

  /** Line `l` without its comment text: a line of a block comment (it
    * starts with a slash-star or a star) is all comment, and `//` (Scala)
    * or `#` (Python) starts one. */
  private def code(l: String, python: Boolean): String = {
    val t = l.trim
    if (!python && (t.startsWith("/*") || t.startsWith("*"))) ""
    else {
      val at = l.indexOf(if (python) "#" else "//")
      if (at < 0) l else l.substring(0, at)
    }
  }

  private val defLine =
    """^(\s*)((?:[a-z]+(?:\[[\w.]+\])?\s+|@\w+\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  private def indent(l: String): Int = l.length - l.dropWhile(_ == ' ').length

  /** Line span [from, until) of the def at line `i`: its doc comment
    * above, then every line until the next one at or left of the def's
    * indent (a closing brace at that indent still belongs to it). */
  private def span(text: IndexedSeq[String], i: Int, ind: Int): (Int, Int) = {
    var from = i
    while (from > 0 && Seq("/*", "*", "//").exists(text(from - 1).trim.startsWith)) from -= 1
    var until = i + 1
    while (until < text.length && {
      val l = text(until)
      l.trim.isEmpty || indent(l) > ind ||
        (indent(l) == ind && (l.trim.startsWith("}") || l.trim.startsWith(")")))
    }) until += 1
    (from, until)
  }

  test("every public def in src/main has a non-spec caller or a COVERAGE row") {
    val main = sources("src/main", ".scala").map(f => f -> lines(f))
    val others = (sources("perfbench/src", ".scala") ++ sources("tools", ".py"))
      .map(f => f -> lines(f))
    assert(main.size > 50, s"scan found only ${main.size} main sources under $root")
    val coverage = lines(new File(root, "COVERAGE.md")).mkString("\n")

    case class Def(file: File, text: IndexedSeq[String], line: Int, ind: Int,
                   mods: String, name: String)
    val defs = for {
      (f, text) <- main
      (l, i) <- text.zipWithIndex
      m <- defLine.findFirstMatchIn(l)
    } yield Def(f, text, i, m.group(1).length, m.group(2), m.group(3))

    val codeOf = (main ++ others).map { case (f, text) =>
      f -> text.map(code(_, f.getName.endsWith(".py")))
    }
    def word(name: String) = ("\\b" + name + "\\b").r
    val offenders = defs.groupBy(_.name).values.collect { case Seq(d) => d }
      .filterNot(d => Seq("private", "protected", "override").exists(d.mods.contains))
      .filterNot(_.text.exists(_.trim.startsWith("package graft.streaming")))
      .filterNot(d => word(d.name).findFirstIn(coverage).isDefined)
      .filterNot { d =>
        val w = word(d.name)
        val (from, until) = span(d.text, d.line, d.ind)
        codeOf.exists { case (f, text) =>
          text.indices.exists(k =>
            !(f == d.file && k >= from && k < until) && w.findFirstIn(text(k)).isDefined)
        }
      }
      .map(d => s"${root.toPath.relativize(d.file.toPath)}:${d.line + 1} ${d.name}")
      .toSeq.sorted
    assert(offenders.isEmpty,
      s"public defs that only specs (or nothing) reach:\n${offenders.mkString("\n")}")
  }
}
