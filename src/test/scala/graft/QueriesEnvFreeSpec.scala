package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** A query's result must not depend on an environment variable (ROADMAP
  * aim 3): no file under `src/main/scala/graft/queries/` may read
  * `sys.env`. Scans the source tree from the build's base directory,
  * which is the forked test JVM's working directory. */
class QueriesEnvFreeSpec extends AnyFunSuite {
  test("no query source reads sys.env") {
    val dir = new File("src/main/scala/graft/queries")
    assert(dir.isDirectory, s"query sources not found at ${dir.getAbsolutePath}")
    val files = Option(dir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no .scala files under ${dir.getAbsolutePath}")
    val hits = files.sortBy(_.getName).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains("sys.env") => s"${f.getName}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
    assert(hits.isEmpty, hits.mkString("sys.env read in query code:\n", "\n", ""))
  }
}
