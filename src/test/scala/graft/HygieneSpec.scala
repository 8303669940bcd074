package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level guards: operators take their settings as arguments, never
  * from the environment, no operator adds a member/digest-first twin
  * builder, and every local session comes from [[graft.Session]].
  */
class HygieneSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")

  private def scalaFiles(dir: Path, recursive: Boolean): Seq[Path] = {
    val walk = if (recursive) Files.walk(dir) else Files.list(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally walk.close()
  }

  /** `file:line` of every line in `files` containing one of `needles`. */
  private def hits(files: Seq[Path], needles: String*): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if needles.exists(line.contains)
    } yield s"$f:${i + 1}"

  test("no operator reads the environment") {
    val operators = scalaFiles(main.resolve("graft/operators"), recursive = false)
    assert(operators.nonEmpty)
    val found = hits(operators, "sys.env", "System.getenv")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no operator grows a new member/digest-first twin builder") {
    // twins not yet folded into one family-weighted builder; the list only
    // shrinks
    val allowed = Set(
      "minhashDedupDigestFirst",
      "minhashCalibrationMembers", "minhashCalibrationDigestFirst",
      "pairSimilaritiesMembers", "pairSimilaritiesDigestFirst",
      "componentsMembers",
      "pairSummaryMembers", "pairSummaryDigestFirst",
      "nearDuplicatePairsBlockedMembers", "nearDuplicatePairsBlockedDigestFirst",
      "semanticDedupMembers", "semanticDedupDigestFirst",
      "qMinhashDedupDigestFirst") // the x45c registry entry, not a twin
    val twin = raw"def (\w+(?:Members|DigestFirst))\b".r
    val found = for {
      f <- scalaFiles(main.resolve("graft/operators"), recursive = true)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- twin.findAllMatchIn(line)
      if !allowed(m.group(1))
    } yield s"$f:${i + 1}: ${m.group(1)}"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("only graft.Session builds a SparkSession") {
    val files = scalaFiles(main, recursive = true)
      .filterNot(_.endsWith(Paths.get("graft/Session.scala")))
    // split, so that Session.scala holds the only such literal under src/
    val found = hits(files, "SparkSession" + ".builder")
    assert(found.isEmpty, found.mkString("\n"))
  }
}
