package graft

import java.io.File
import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Queries read base tables through [[Tables]], which resolves each
  * table's parquet schema once per file, and stored operator state through
  * its operator's reader: a query that calls `spark.read` itself brings
  * back a schema-inference Spark job on every run. */
class QueryReadsSourceSpec extends AnyFunSuite {
  private val dir = new File("src/main/scala/graft/queries")
  // `spark.read`, or any session's `.read.<format>` chain, across lines too
  private val forbidden = """\bspark\s*\.\s*read\b|\.\s*read\s*\.""".r

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("query code reads tables only through Tables") {
    val files = scalaFiles(dir)
    assert(files.nonEmpty, s"no query sources under ${dir.getAbsolutePath}")
    val hits = for {
      f <- files
      text = {
        val src = Source.fromFile(f, "UTF-8")
        try src.mkString finally src.close()
      }
      m <- forbidden.findAllMatchIn(text)
    } yield {
      val line = text.take(m.start).count(_ == '\n')
      s"${f.getName}:${line + 1}: ${text.linesIterator.drop(line).next().trim}"
    }
    assert(hits.isEmpty, "read through Tables.load or an operator:\n" +
      hits.mkString("\n"))
  }
}
