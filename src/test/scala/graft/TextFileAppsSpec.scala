package graft

import graft.operators.{VertexDegree, WordCount}
import java.nio.file.{Files, Path}

/** The text-file entry points the CLI runs (`wc`, `vertex-degree`) on small
  * temporary files, against reports computed by hand: multi-file input,
  * mixed case, digit/underscore/punctuation delimiters, blank and
  * tab-separated edge lines, self-loops and duplicate edges.
  */
class TextFileAppsSpec extends SparkSpec {

  private def files(contents: String*): Seq[String] = {
    val dir = Files.createTempDirectory("graft-apps")
    contents.zipWithIndex.map { case (text, i) =>
      Files.writeString(dir.resolve(s"part$i.txt"), text).toString
    }
  }

  test("wc over two text files equals the hand-counted report") {
    val paths = files("Hello, hello world!\nfoo_bar 42 World\n", "bar BAR baz\n")
    assert(WordCount.report(WordCount.overTextFiles(spark, paths)) ==
      "1\tbaz\n1\tfoo\n2\thello\n2\tworld\n3\tbar\n")
  }

  test("vertex-degree over two edge files equals the hand-counted report") {
    val paths = files("1 2\n2 3\n", "3 3\n  \n1\t2\n-4 1\n")
    assert(VertexDegree.report(VertexDegree.overTextFiles(spark, paths)) ==
      "-4\t1\n1\t3\n2\t3\n3\t3\n")
  }
}
