package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source checks on the doc comments of src/main. */
class SourceDocSpec extends AnyFunSuite {

  /** 1-based lines of every doc comment that directly follows another
    * one, with only blanks and comments between: Scaladoc attaches just
    * the second block to the definition, so the first one is lost.
    */
  private def stackedDocs(text: String): Seq[Int] = {
    val n = text.length
    val out = Seq.newBuilder[Int]
    var i = 0
    var afterDoc = false
    def skipQuoted(from: Int): Int = {
      var j = from + 1
      while (j < n && text(j) != '"' && text(j) != '\n')
        j += (if (text(j) == '\\') 2 else 1)
      j + 1
    }
    while (i < n) {
      if (text.startsWith("\"\"\"", i)) {
        val j = text.indexOf("\"\"\"", i + 3)
        i = if (j < 0) n else j + 3
        while (i < n && text(i) == '"') i += 1
        afterDoc = false
      } else if (text(i) == '"') {
        i = skipQuoted(i)
        afterDoc = false
      } else if (text.startsWith("//", i)) {
        val j = text.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (text.startsWith("/*", i)) {
        val doc = text.startsWith("/**", i) && !text.startsWith("/**/", i)
        if (doc && afterDoc) out += text.take(i).count(_ == '\n') + 1
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        if (doc) afterDoc = true
        i = j
      } else {
        if (!text(i).isWhitespace) afterDoc = false
        i += 1
      }
    }
    out.result()
  }

  test("no doc block in src/main is followed by another before any code") {
    assert(stackedDocs("/** a */\n  // note\n  /** b */\n  def f = 1\n") == Seq(3))
    assert(stackedDocs("/** a */\n  def f = \"/** not a doc */\"\n  /** b */\n").isEmpty)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .toArray.toSeq.map(_.toString).filter(_.endsWith(".scala"))
    assert(files.exists(_.endsWith("/Queries.scala")))
    val offenders = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      stackedDocs(text).map(l => s"$f:$l")
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
