package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Spark hands a Scala UDF's `Seq` argument over as a `List`, so `v(j)`
  * and `v.length` inside a kernel loop are O(d) each and a per-vector loop
  * becomes O(d²). Vector math belongs in the native kernels of
  * `graft.expressions.VectorKernelExprs`; no `udf` under
  * `src/main/scala/graft/ops/` may take a `Seq[Float]`, `Seq[Double]` or
  * `Seq[Seq[Double]]` parameter. Scans the source tree from the build's
  * base directory, which is the forked test JVM's working directory. */
class UdfSeqArgsSpec extends AnyFunSuite {

  /** The parameter list of every `udf` lambda: the text between `udf(` or
    * `udf {` and the lambda's `=>`. */
  private val udfParams = "\\budf\\s*[({]\\s*([^=]*?)=>".r
  private val vectorSeq = "Seq\\[\\s*(Float|Double|Seq\\[\\s*Double\\s*\\])\\s*\\]".r

  test("no udf under ops/ takes a vector as a Seq") {
    val dir = new File("src/main/scala/graft/ops")
    assert(dir.isDirectory, s"ops sources not found at ${dir.getAbsolutePath}")
    val files = Option(dir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(files.nonEmpty, s"no .scala files under ${dir.getAbsolutePath}")
    val hits = files.sortBy(_.getName).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      udfParams.findAllMatchIn(text).collect {
        case m if vectorSeq.findFirstIn(m.group(1)).isDefined =>
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          s"${f.getName}:$line: udf ${m.group(1).trim.replaceAll("\\s+", " ")}"
      }
    }
    assert(hits.isEmpty, hits.mkString("udf with a Seq vector parameter:\n", "\n", ""))
  }

  test("the scan sees a udf's parameters in both lambda forms") {
    val params = Seq(
      "udf { (v: Seq[Float]) => v.sum }",
      "udf((lut: Seq[Seq[Double]], codes: Seq[Int]) =>\n  0.0)",
      "udf { xs: Seq[ Double ] => xs.size }")
      .map(s => udfParams.findFirstMatchIn(s).map(_.group(1)))
    assert(params.forall(p => p.exists(vectorSeq.findFirstIn(_).isDefined)), params)
    assert(udfParams.findFirstMatchIn("udf { grams: Seq[Long] => true }")
      .forall(m => vectorSeq.findFirstIn(m.group(1)).isEmpty))
  }
}
