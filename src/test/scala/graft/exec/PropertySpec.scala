package graft.exec

import graft.SparkSpec
import graft.oracle.DeterministicOracle
import graft.plan.{LogicTree, LogicalOp, NumCondition, PlanJson}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.4): logic-tree normalization
  * soundness and cascade-reordering invariance over generated trees.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic sampling in place of the scalatest-scalacheck bridge
    * (not on the offline classpath): N samples from fixed seeds.
    */
  private def forAll[T](gen: Gen[T], n: Int = 60)(f: T => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }
  import spark.implicits._
  private val oracle = DeterministicOracle.default

  // ---- generators ----------------------------------------------------

  private val genLeaf: Gen[LogicTree] = Gen.choose(0, 4).map(LogicTree.Leaf)

  private def genTree(depth: Int): Gen[LogicTree] =
    if (depth == 0) genLeaf
    else Gen.frequency(
      2 -> genLeaf,
      3 -> (for {
        op <- Gen.oneOf("AND", "OR")
        n <- Gen.choose(1, 3)
        cs <- Gen.listOfN(n, genTree(depth - 1))
      } yield LogicTree.Node(op, cs)))

  /** Reference truth evaluation of a logic tree over leaf booleans. */
  private def evalTree(t: LogicTree, leaves: Int => Boolean): Boolean =
    t match {
      case LogicTree.Leaf(i) => leaves(i)
      case LogicTree.Node("AND", cs) => cs.forall(evalTree(_, leaves))
      case LogicTree.Node("OR", cs) => cs.exists(evalTree(_, leaves))
      case LogicTree.Node(op, _) => sys.error(s"bad op $op")
    }

  test("normalize preserves truth value for all leaf assignments") {
    forAll(genTree(3)) { t =>
      val n = LogicTree.normalize(t)
      (0 until 32).foreach { mask =>
        val leaves = (i: Int) => ((mask >> i) & 1) == 1
        assert(evalTree(t, leaves) == evalTree(n, leaves),
          s"mismatch for tree $t mask $mask")
      }
    }
  }

  test("normalize is idempotent") {
    forAll(genTree(3)) { t =>
      val once = LogicTree.normalize(t)
      assert(LogicTree.normalize(once) == once)
    }
  }

  test("logic tree JSON round-trips") {
    forAll(genTree(3)) { t =>
      val n = LogicTree.normalize(t)
      assert(LogicTree.normalize(PlanJson.decodeLogic(PlanJson.encodeLogic(n))) == n)
    }
  }

  // ---- cascade invariance over a concrete frame ----------------------

  private lazy val df = (1 to 60).map { i =>
    (i.toLong, s"doc ${if (i % 2 == 0) "spark" else "flink"} ${
      if (i % 3 == 0) "join" else "scan"} n$i", i.toDouble)
  }.toDF("id", "txt", "v")

  private val leaves: Map[Int, LogicalOp] = Map(
    0 -> LogicalOp.KeywordFilter(Seq("txt"), Seq("spark"), "and", "contains"),
    1 -> LogicalOp.KeywordFilter(Seq("txt"), Seq("join"), "and", "contains"),
    2 -> LogicalOp.NumFilter(Seq(NumCondition("v", 30, ">")), "and"),
    3 -> LogicalOp.SemFilter(Seq("txt"), "flink"),
    4 -> LogicalOp.NumFilter(Seq(NumCondition("v", 50, "<=")), "and"))

  test("catalog reuse equals from-scratch execution for random predicate chains") {
    import graft.cube.CubeCatalog
    val pool = leaves.values.toVector
    val genChain: Gen[Seq[Int]] = for {
      n <- Gen.choose(1, 4)
      xs <- Gen.listOfN(n, Gen.choose(0, pool.size - 1))
    } yield xs.distinct
    forAll(genChain, n = 25) { idxs =>
      val preds = idxs.map(pool)
      // progressive catalog: register each prefix, final query reuses
      val cat = new CubeCatalog(df, oracle)
      preds.indices.foreach(i => cat.filterQuery(s"q$i", preds.take(i + 1)))
      val reused = cat.filterQuery("final", preds)
        .df.select("id").as[Long].collect().sorted.toSeq
      val scratch = Cascade.filter(df,
        preds.zipWithIndex.map(_.swap), None, oracle)
        .select("id").as[Long].collect().sorted.toSeq
      assert(reused == scratch, s"chain $idxs")
    }
  }

  test("implication reuse equals from-scratch for random threshold refinement chains") {
    import graft.cube.CubeCatalog
    // chains of progressively tighter thresholds on one column: every step
    // after the first must reuse via implication, never via atom equality
    val genThresholds: Gen[Seq[Double]] = for {
      n <- Gen.choose(2, 4)
      xs <- Gen.listOfN(n, Gen.choose(0, 55).map(_.toDouble))
    } yield xs.distinct.sorted
    val genOp: Gen[String] = Gen.oneOf(">", ">=")
    forAll(Gen.zip(genThresholds, genOp), n = 20) { case (ths, cmp) =>
      if (ths.size >= 2) {
        val cat = new CubeCatalog(df, oracle)
        ths.foreach { th =>
          cat.filterQuery(s"v $cmp $th",
            Seq(LogicalOp.NumFilter(Seq(NumCondition("v", th, cmp)), "and")))
        }
        val strictest = LogicalOp.NumFilter(
          Seq(NumCondition("v", ths.last, cmp)), "and")
        val reused = cat.filterQuery("final", Seq(strictest))
          .df.select("id").as[Long].collect().sorted.toSeq
        val scratch = Cascade.filter(df, Seq(0 -> strictest), None, oracle)
          .select("id").as[Long].collect().sorted.toSeq
        assert(reused == scratch, s"thresholds $ths op $cmp")
      }
    }
  }

  test("cascade result equals truth-table evaluation for random trees") {
    // per-row leaf truth computed independently, as ground truth
    val rows = df.collect().map { r =>
      val txt = r.getString(1); val v = r.getDouble(2)
      (r.getLong(0), Array(
        txt.contains("spark"), txt.contains("join"), v > 30,
        txt.contains("flink"), v <= 50))
    }
    forAll(genTree(2)) { t =>
      val expected = rows.filter { case (_, lv) => evalTree(t, lv) }
        .map(_._1).toSeq.sorted
      val got = Cascade.filter(df, leaves.toSeq, Some(t), oracle)
        .select("id").as[Long].collect().sorted.toSeq
      assert(got == expected, s"tree $t")
    }
  }

  test("staged batched cascade equals the one-pass path for random AND/OR trees") {
    // a batched, non-compilable oracle routes every tree through the staged
    // path (batched judgments per sem leaf, three-valued routing); with
    // leaf 1 as a second sem leaf, semantics must equal the compiled
    // one-pass predicate, and no (row, sem leaf) pair is judged twice
    import graft.oracle.CountingOracle
    val batched = new CountingOracle
    val withTwoSem = leaves + (1 -> LogicalOp.SemFilter(Seq("txt"), "join"))
    val ops = withTwoSem.toSeq.sortBy(_._1)
    forAll(genTree(2), n = 25) { t =>
      CountingOracle.pairs.clear()
      val staged = Cascade.filter(df, ops, Some(t), batched)
        .select("id").as[Long].collect().sorted.toSeq
      val onePass = Cascade.filter(df, ops, Some(t), oracle)
        .select("id").as[Long].collect().sorted.toSeq
      assert(staged == onePass, s"tree $t")
      CountingOracle.pairs.forEach((k, v) =>
        assert(v.get == 1, s"tree $t judged $k ${v.get} times"))
    }
  }
}
