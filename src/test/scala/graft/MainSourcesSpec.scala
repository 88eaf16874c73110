package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main`: the only entry points are the three
  * harness mains, none of them hard-codes a core count, JSON string
  * escaping has one home, [[graft.sources.JsonEscape]], and every
  * non-compiled `sem_*` judgment goes through the oracle's batch methods
  * on `InternalRow`s, with no `Row` round trip. Merge and TxLog read the
  * files their manifests name through [[graft.sources.ManifestScan]], no
  * `spark.range(1)` job evaluates driver-side expressions, and cube reuse
  * keys ([[graft.cube.PredicateAtoms]]) are built only in `graft/cube`.
  * No partition count is a literal in the cube, exec, oracle, agent or
  * sources layers: counts come from [[graft.exec.PinSet.partitionsFor]]
  * or from the data (bucket counts, say).
  */
class MainSourcesSpec extends AnyFunSuite {

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private lazy val main: Seq[(File, IndexedSeq[String])] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".")
      .getAbsolutePath})")
    sources(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f -> src.getLines().toIndexedSeq finally src.close()
    }
  }

  test("no main source hard-codes local[32]") {
    val hits = main.collect {
      case (f, lines) if lines.exists(_.contains("local[32]")) => f.getPath
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the only objects defining main are Verify, Bench and Smoke") {
    val objectDecl = """^\s*(?:private\S*\s+|final\s+)*object\s+(\w+)""".r
    val mains = for {
      (f, lines) <- main
      (line, i) <- lines.zipWithIndex
      if line.contains("def main(") || line.contains("extends App")
    } yield lines.take(i + 1).reverseIterator
      .flatMap(objectDecl.findFirstMatchIn(_)).nextOption()
      .fold("?")(_.group(1)) -> s"${f.getPath}:${i + 1}"
    assert(mains.map(_._1).sorted ==
      Seq("Bench", "Smoke", "Verify"), mains.mkString("\n"))
  }

  test("a JSON string-escape match exists only in JsonEscape") {
    val home = "JsonEscape.scala"
    val quote = "case '\"'"
    val backslash = "case '\\\\'"
    def escapes(lines: IndexedSeq[String]): Seq[Int] =
      lines.indices.filter { i =>
        lines(i).contains(quote) &&
          lines.slice(i - 2, i + 3).exists(_.contains(backslash))
      }
    val hits = for {
      (f, lines) <- main if f.getName != home
      i <- escapes(lines)
    } yield s"${f.getPath}:${i + 1}"
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(main.exists { case (f, lines) =>
      f.getName == home && escapes(lines).nonEmpty },
      s"the escape match is missing from $home")
  }

  /** Path prefixes of the paper-algebra layers. */
  private val semantic = Seq("ops", "exec", "oracle", "cube", "agent")
    .map(p => new File(s"src/main/scala/graft/$p").getPath + File.separator)

  test("no per-row UDF in the semantic layers and no BatchedOracle type test") {
    val udf = """\budf\s*[({]""".r
    val typeTest =
      """(?::\s*|InstanceOf\[)(?:graft\.oracle\.)?BatchedOracle\b""".r
    val hits = for {
      (f, lines) <- main
      (line, i) <- lines.zipWithIndex
      if typeTest.findFirstIn(line).isDefined ||
        (semantic.exists(f.getPath.startsWith) && udf.findFirstIn(line).isDefined)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no RowEncoder and no Dataset.mapPartitions in the semantic layers") {
    // GroupTopK's local top-k prune keeps a bounded per-group buffer over
    // a whole partition and calls no oracle: its one Row kernel is known
    // and stays until it is ported, any other one is a regression
    val known = new File("src/main/scala/graft/ops/GroupTopK.scala").getPath
    val rowKernel = """\bRowEncoder\b|\.mapPartitions\b""".r
    val hits = for {
      (f, lines) <- main if semantic.exists(f.getPath.startsWith)
      (line, i) <- lines.zipWithIndex
      if rowKernel.findFirstIn(line).isDefined && f.getPath != known
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("Merge and TxLog read manifest-named files only through ManifestScan") {
    // a `.parquet(` call is a write when the nearest `.write`/`.read`
    // at or above it is a `.write`; of the reads, only the schema-less
    // fallback (`case None =>`) and the directory read of a table with no
    // log (`path`) may bypass the helper
    val logs = Seq("Merge.scala", "TxLog.scala")
      .map(n => new File(s"src/main/scala/graft/sources/$n").getPath)
    def isWrite(lines: IndexedSeq[String], i: Int): Boolean =
      (i to math.max(0, i - 5) by -1).map(lines)
        .find(l => l.contains(".write") || l.contains(".read"))
        .exists(_.contains(".write"))
    val hits = for {
      (f, lines) <- main if logs.contains(f.getPath)
      (line, i) <- lines.zipWithIndex
      if line.contains(".parquet(") && !isWrite(lines, i) &&
        !line.contains("case None =>") && !line.contains(".parquet(path)")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(main.exists { case (f, lines) =>
      f.getName == "ManifestScan.scala" &&
        lines.exists(_.contains("new InMemoryFileIndex(")) },
      "ManifestScan no longer builds its own file index")
  }

  test("reuse keys stay in the cube module: no PredicateAtoms outside it") {
    val cube = new File("src/main/scala/graft/cube").getPath + File.separator
    val hits = for {
      (f, lines) <- main if !f.getPath.startsWith(cube)
      (line, i) <- lines.zipWithIndex if line.contains("PredicateAtoms")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no spark.range(1) job evaluates expressions on the driver") {
    val one = """\brange\(1\)""".r
    val hits = for {
      (f, lines) <- main
      (line, i) <- lines.zipWithIndex if one.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no coalesce or repartition to a literal count in the engine layers") {
    val layers = Seq("cube", "exec", "oracle", "agent", "sources")
      .map(p => new File(s"src/main/scala/graft/$p").getPath + File.separator)
    val literal = """\.(?:coalesce|repartition)\(\s*\d""".r
    val hits = for {
      (f, lines) <- main if layers.exists(f.getPath.startsWith)
      (line, i) <- lines.zipWithIndex if literal.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
