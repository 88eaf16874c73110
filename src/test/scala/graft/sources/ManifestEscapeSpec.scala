package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** Every string a hand-written manifest persists must read back exactly:
  * C0 control characters, lone surrogates and U+FFFF included.
  */
class ManifestEscapeSpec extends SparkSpec {
  import spark.implicits._

  private val hostile = (0 until 0x20).map(_.toChar).mkString +
    "\ud800 lone high, lone low \udc00, pair \ud83d\ude00, \uffff \"q\" \\"

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_escape_$tag").toFile.getAbsolutePath

  test("escaping leaves strings without control characters or lone " +
      "surrogates as the old writers did") {
    val plain = "a \"quoted\" \\ path\nwith \u00e9 and \ud83d\ude00"
    assert(JsonEscape(plain) ==
      "a \\\"quoted\\\" \\\\ path\\nwith \u00e9 and \ud83d\ude00")
    assert(JsonEscape("\t\r\u0001\ud800\uffff") ==
      "\\t\\r\\u0001\\ud800\\uffff")
  }

  test("Merge: a tab in an inline stats value keeps the commit") {
    val path = freshDir("merge") + "/tbl"
    Merge.writeKeyed(Seq((1L, "\tfirst"), (2L, hostile.filterNot(
      Character.isSurrogate)), (3L, "plain")).toDF("id", "name"),
      path, "id", nBuckets = 2, statsCols = Seq("name"))
    assert(Merge.currentVersion(spark, path) == 0L)
    Merge.upsert(spark, path, Seq((4L, "next")).toDF("id", "name"), "id", 2)
    assert(Merge.currentVersion(spark, path) == 1L)
    assert(Merge.readKeyed(spark, path).count() == 4L)
  }

  test("TxLog: a state with every C0 character, lone surrogates and " +
      "U+FFFF round-trips exactly") {
    val root = freshDir("txlog")
    val s = TxLog.State(0L, -1L, Map(hostile -> Seq(hostile + "/f")))
    TxLog.commit(spark, root, s)
    assert(TxLog.stateAt(spark, root, 0L) == Some(s))
  }

  test("TableCatalog: a state with every C0 character, lone surrogates " +
      "and U+FFFF round-trips exactly") {
    val dir = freshDir("catalog")
    val member = dir + "/member"
    Merge.writeKeyed(Seq((1L, 1.0)).toDF("id", "v"), member, "id", nBuckets = 1)
    val created = TableCatalog.create(spark, dir + "/cat", Map(hostile -> member))
    assert(TableCatalog.state(spark, dir + "/cat") == created)
  }
}
