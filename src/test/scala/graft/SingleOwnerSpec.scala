package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: the function table and the session factory each have
  * ONE owner in `src/main/scala`, so a second copy cannot drift away
  * from the first unnoticed.
  *
  *  - graft SQL functions are registered only by
  *    [[graft.functions.GraftExtensions]]; the one exception is the
  *    `geo_mean_growth` typed Aggregator, which has no expression
  *    builder to inject and so registers through `udf.register` in
  *    `Aggregators`;
  *  - sessions are built only by [[graft.GraftSession]].
  */
class SingleOwnerSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, Seq[String])] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
    finally walk.close()
  }

  /** `file:line: text` for every line matching `pattern` outside the
    * files named in `owners`.
    */
  private def strays(pattern: String, owners: Set[String]): Seq[String] = {
    val re = pattern.r
    for {
      (p, lines) <- sources if !owners.contains(p.getFileName.toString)
      (l, i) <- lines.zipWithIndex if re.findFirstIn(l).isDefined
    } yield s"${root.relativize(p)}:${i + 1}: ${l.trim}"
  }

  test("the scan sees the main sources") {
    assert(sources.exists(_._1.getFileName.toString == "GraftExtensions.scala"))
    assert(sources.exists(_._1.getFileName.toString == "GraftSession.scala"))
  }

  test("function registry writes appear only in GraftExtensions") {
    val out = strays("createOrReplaceTempFunction|registerFunction",
      Set("GraftExtensions.scala"))
    assert(out.isEmpty, out.mkString("\n", "\n", ""))
  }

  test("udf.register appears only in the Aggregators exception") {
    val out = strays("""\budf\s*\.\s*register""", Set("Aggregators.scala"))
    assert(out.isEmpty, out.mkString("\n", "\n", ""))
  }

  test("SparkSession.builder appears only in GraftSession") {
    val out = strays("""SparkSession\s*\.\s*builder|new\s+SparkSession\s*\.\s*Builder""",
      Set("GraftSession.scala"))
    assert(out.isEmpty, out.mkString("\n", "\n", ""))
  }
}
