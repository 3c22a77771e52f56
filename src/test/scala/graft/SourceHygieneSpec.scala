package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source checks that need no Spark session. */
class SourceHygieneSpec extends AnyFunSuite {

  private val mainRoot = new java.io.File("src/main/scala")

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** `file:line` of every scaladoc whose next non-blank line opens another
    * scaladoc: such a doc is attached to nothing, and its text is lost to
    * the reader of the definition it was written for.
    */
  private def orphanedDocs(f: java.io.File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    def opensDoc(i: Int) = lines(i).trim.startsWith("/**")
    def nextNonBlank(i: Int) = (i until lines.size).find(lines(_).trim.nonEmpty)
    var found = Vector.empty[String]
    var i = 0
    while (i < lines.size) {
      if (opensDoc(i)) {
        val start = i
        while (i < lines.size && !lines(i).contains("*/")) i += 1
        if (nextNonBlank(i + 1).exists(opensDoc))
          found :+= s"${f.getPath}:${start + 1}"
      }
      i += 1
    }
    found
  }

  test("no scaladoc in src/main is directly followed by another scaladoc") {
    val files = scalaFiles(mainRoot)
    assert(files.nonEmpty, s"no sources under ${mainRoot.getAbsolutePath}")
    val orphans = files.flatMap(orphanedDocs)
    assert(orphans.isEmpty,
      s"scaladocs attached to nothing (move each onto its definition): " +
      orphans.mkString(", "))
  }
}
