package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** A query's result must not depend on an environment variable (ROADMAP
  * aim 3): no file under `src/main/scala/graft/queries/` may read
  * `sys.env`. The measurement main `Bench.scala` may read only its three
  * documented variables. Scans the source tree from the build's base
  * directory, which is the forked test JVM's working directory. */
class QueriesEnvFreeSpec extends AnyFunSuite {

  /** "file:line: text" of every line of `files` that reads `sys.env`. */
  private def envReads(files: Seq[File]): Seq[String] =
    files.sortBy(_.getName).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains("sys.env") => s"${f.getName}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }

  test("no query source reads sys.env") {
    val dir = new File("src/main/scala/graft/queries")
    assert(dir.isDirectory, s"query sources not found at ${dir.getAbsolutePath}")
    val files = Option(dir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no .scala files under ${dir.getAbsolutePath}")
    val hits = envReads(files)
    assert(hits.isEmpty, hits.mkString("sys.env read in query code:\n", "\n", ""))
  }

  test("Bench reads only SF_DIR, CPUS and BENCH_JSON from the environment") {
    val f = new File("src/main/scala/graft/Bench.scala")
    assert(f.isFile, s"Bench source not found at ${f.getAbsolutePath}")
    val allowed = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_JSON")
    val hits = envReads(Seq(f))
    // the variable a read names: the first string literal after sys.env
    val named = hits.flatMap(h =>
      "sys\\.env[.\\w]*\\(\\s*\"([^\"]*)\"".r.findAllMatchIn(h).map(_.group(1)))
    assert(hits.size <= 3, hits.mkString("more than 3 sys.env reads in Bench:\n", "\n", ""))
    assert(named.size == hits.size && named.forall(allowed),
      hits.mkString(s"Bench may read only ${allowed.mkString(", ")}:\n", "\n", ""))
  }
}
