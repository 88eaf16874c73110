package graft.sources

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: the commit protocol's pieces that [[VersionLog]] owns must
  * not grow a second copy elsewhere in the engine.
  */
class OneVersionLogSpec extends AnyFunSuite {

  private val core = "VersionLog.scala"

  /** (what, pattern) pairs that may only appear in the core file. */
  private val owned = Seq(
    "the create-if-absent claim" -> "Files.createLink",
    "a v{N}.json listing" -> """stripPrefix("v")""",
    "a hand-rolled retry loop" -> "while (attempt <= maxRetries)")

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("the claim, the version listing and the retry loop exist only in " +
      "VersionLog") {
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the project root (cwd ${new File(".")
      .getAbsolutePath})")
    val files = sources(main)
    assert(files.exists(_.getName == core))
    val hits = for {
      f <- files if f.getName != core
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .zipWithIndex.toSeq
      (what, pat) <- owned if line.contains(pat)
    } yield s"$what at ${f.getPath}:${i + 1}"
    assert(hits.isEmpty, hits.mkString("\n"))
    val inCore = scala.io.Source.fromFile(
      files.find(_.getName == core).get, "UTF-8").mkString
    owned.foreach { case (what, pat) =>
      assert(inCore.contains(pat), s"$what is missing from the core")
    }
  }
}
