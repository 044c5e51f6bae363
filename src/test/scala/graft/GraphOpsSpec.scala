package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ActionJobs
import graft.graph.{CycleException, FixpointCapException, GraphOps}

/** Ports of the reference's four unit tests
  * (`concepts/src/test_concept_csv_export.py:33-103`), which pin the
  * graph/order semantics: topological reorder invariants, BFS closure
  * membership, cycle witness message, and the mini end-to-end pipeline.
  * Fixtures mirror FIXTURES.md §1 — concepts as (key, answers, members)
  * with `;`-joined referent lists, re-expressed as edge DataFrames.
  */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Edge list (src = referrer, dst = referent) from (key, answers, members). */
  private def conceptEdges(rows: Seq[(String, String, String)]): DataFrame =
    rows.toDF("key", "answers", "members")
      .select(col("key").as("src"),
        explode(filter(
          concat(split(col("answers"), ";"), split(col("members"), ";")),
          r => length(r) > 0)).as("dst"))

  private val reorderFixture = Seq(
    ("a", "", "b;c"),
    ("b", "", "d;e"),
    ("c", "d;e", ""),
    ("d", "", ""),
    ("e", "", ""))

  test("move_referring_concepts_down: every referrer sorts after all referents") {
    val edges = conceptEdges(reorderFixture)
    val concepts = reorderFixture.map(_._1).toDF("key")
    val ordered = GraphOps.topoOrder(concepts, "key", edges)
      .orderBy(col("__ord"), col("key"))
      .select("key").as[String].collect().toSeq
    def idx(k: String) = ordered.indexOf(k)
    assert(idx("a") > idx("b")); assert(idx("a") > idx("c"))
    assert(idx("b") > idx("d")); assert(idx("b") > idx("e"))
    assert(idx("c") > idx("d")); assert(idx("c") > idx("e"))
  }

  test("get_all_concepts_in_tree: BFS closure membership for roots a, b, d") {
    val edges = conceptEdges(reorderFixture)
    def tree(root: String): Set[String] =
      GraphOps.bfsClosure(edges, Seq(root).toDF("node"))
        .as[String].collect().toSet
    assert(tree("a") == Set("a", "b", "c", "d", "e"))
    assert(tree("b") == Set("b", "d", "e"))
    assert(tree("d") == Set("d"))
  }

  test("detect_cycles: raises with the c --> d --> f --> c witness") {
    val edges = conceptEdges(Seq(
      ("a", "", "b;c"),
      ("b", "", ""),
      ("c", "d;e", ""),
      ("d", "e;f", ""),
      ("e", "", ""),
      ("f", "c;e", "")))
    val e = intercept[CycleException] { GraphOps.detectCycles(edges) }
    assert(e.getMessage.contains("c --> d --> f --> c"))
    // only one cycle reported (reference counts one "\n\t" separator)
    assert(e.getMessage.split("-->").length == 4)
  }

  test("detect_cycles: acyclic graph passes silently") {
    GraphOps.detectCycles(conceptEdges(reorderFixture))
  }

  test("integration: tree-filter, cycle-check, reorder, exclude => [c, a]") {
    val fixture = Seq(
      ("a", "", "b"),
      ("b", "c", ""),
      ("c", "", ""),
      ("d", "", ""))
    val edges = conceptEdges(fixture)
    val inTree = GraphOps.bfsClosure(edges, Seq("a").toDF("node"))
    val treeEdges = edges
      .join(inTree.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
    GraphOps.detectCycles(treeEdges)
    val ordered = GraphOps.topoOrder(inTree, "node", treeEdges)
    val excluded = ordered
      .join(Seq("b").toDF("node"), Seq("node"), "left_anti")
    val res = excluded.orderBy(col("__ord"), col("node"))
      .select("node").as[String].collect().toSeq
    assert(res == Seq("c", "a"))
  }

  test("kCorePeel: clique survives, tail peels away transitively, peeling reaches fixpoint") {
    // 6-clique (degree 5 each) + a chain 10-11-12 hanging off node 0:
    // chain nodes have degree <= 2 < 4 and peel off over two rounds;
    // node 0 then still has degree 5 inside the clique
    val clique = for (a <- 0L to 5L; b <- 0L to 5L if a != b) yield (a, b)
    val chain = Seq((0L, 10L), (10L, 0L), (10L, 11L), (11L, 10L),
      (11L, 12L), (12L, 11L))
    val edges = (clique ++ chain).toDF("src", "dst")
    val got = GraphOps.kCorePeel(edges, k = 4, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 5L).map(_ -> 5L).toMap,
      s"only the 6-clique survives a 4-core peel, got $got")
    // fixpoint: an extra round changes nothing
    val more = GraphOps.kCorePeel(edges, k = 4, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(more == got, "peeling must be at fixpoint")
    // k above the clique degree empties the graph
    assert(GraphOps.kCorePeel(edges, k = 6, iters = 3).count() == 0L)
  }

  test("connectedComponentsStar: path graph, stars, and union-find parity") {
    // a 12-node path: diameter 11, the case label propagation pays 11
    // rounds for and star contraction collapses in O(log)
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = GraphOps.connectedComponentsStar(path)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 11L).map(_ -> 0L).toMap, s"one path component, got $got")
    // multiple components + reversed/duplicated/self-loop edges
    val messy = Seq((5L, 3L), (3L, 5L), (3L, 4L), (9L, 9L),
      (20L, 21L), (22L, 21L), (40L, 41L)).toDF("src", "dst")
    val gotMessy = GraphOps.connectedComponentsStar(messy)
      .as[(Long, Long)].collect().toMap
    assert(gotMessy == Map(3L -> 3L, 4L -> 3L, 5L -> 3L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 40L -> 40L, 41L -> 40L))
    // parity with the driver-side union-find on a mixed graph
    val mixed = (0L until 30L).map(i => (i, i + 1)) ++
      Seq((50L, 60L), (60L, 70L), (80L, 81L))
    val star = GraphOps.connectedComponentsStar(mixed.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(star == UnionFind.components(mixed),
      "star contraction must agree with union-find")
  }

  test("fixpoint driver: one action job per round, observed convergence, named cap error") {
    val sc = spark.sparkContext
    // depth-k chain n_k -> ... -> n_0 (src references dst)
    val k = 4
    val chain = (1 to k).map(i => (s"n$i", s"n${i - 1}")).toDF("src", "dst")
    // topoDepth: the edge set, the initial frame, then rounds 1..k
    // raise depths and round k + 1 changes nothing and converges
    val topoJobs = ActionJobs.count(sc) { GraphOps.topoDepth(chain) }
    assert(topoJobs == k + 3, s"topoDepth ran $topoJobs action jobs")
    // detectCycles: the edge set, the initial frame, then rounds 1..k
    // peel one node each; round k + 1 peels the last node and round
    // k + 2 finds the set unchanged, and both write the EMPTY set (a
    // job over zero partitions, not an action job). The set's size is
    // the last round's observed count, not a job of its own
    val cycleJobs = ActionJobs.count(sc) { GraphOps.detectCycles(chain) }
    assert(cycleJobs == k + 2, s"detectCycles ran $cycleJobs action jobs")
    // planted pairs and small stars are already a star forest: the
    // initial frame plus one round that finds the same signature — no
    // signature job
    val pairs = (1L to 20L).map(i => (i, i + 1000L)) ++
      (2000L to 2005L).map(i => (1999L, i))
    val ccJobs = ActionJobs.count(sc) {
      GraphOps.connectedComponentsStar(pairs.toDF("a", "b"))
    }
    assert(ccJobs == 2, s"connectedComponentsStar ran $ccJobs action jobs")
    // an empty graph: every convergence metric is observed on the
    // empty frame (count 0), so the loops end instead of waiting
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(GraphOps.topoDepth(empty).count() == 0L)
    GraphOps.detectCycles(empty)
    assert(GraphOps.bfsClosure(empty, Seq("a").toDF("node"))
      .as[String].collect().toSeq == Seq("a"))
    assert(GraphOps.connectedComponentsStar(
      Seq.empty[(Long, Long)].toDF("a", "b")).count() == 0L)
    // a cyclic graph never converges: the driver's named cap error
    val cyclic = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val e = intercept[FixpointCapException] {
      GraphOps.topoDepth(cyclic, maxIter = 3)
    }
    assert(e.loop == "topoDepth" && e.rounds == 3)
    assert(e.getMessage.contains("topoDepth") && e.getMessage.contains("3 rounds"),
      e.getMessage)
  }

  test("hits: iters = 0 is rejected up front, not an NPE at union time") {
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      GraphOps.hits(edges, iters = 0)
    }
    assert(e.getMessage.contains("iters >= 1"))
  }

  test("basketPairs: pair multiset equals the self-join formulation") {
    val items = Seq((10L, 3L), (10L, 1L), (10L, 2L), (20L, 5L), (20L, 4L),
      (30L, 7L)).toDF("basket", "item")
    val got = GraphOps.basketPairs(items, "basket", "item")
      .as[(Long, Long)].collect().sorted.toSeq
    // independent replay: join-based a<b pairs per basket
    val l = items.select(col("basket"), col("item").as("a"))
    val r = items.select(col("basket"), col("item").as("b"))
    val want = l.join(r, Seq("basket")).filter(col("a") < col("b"))
      .select("a", "b").as[(Long, Long)].collect().sorted.toSeq
    assert(got == want && got == Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    // duplicate baskets with a repeated pair keep MULTISET semantics
    val dup = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L))
      .toDF("basket", "item")
    assert(GraphOps.basketPairs(dup, "basket", "item")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 2L), (1L, 2L)))
    // duplicate items WITHIN a basket never make a self-pair — parity
    // with the a<b join formulation this helper replaced: [1,1,2]
    // yields (1,2) twice (each dup 1 crosses the 2) and NO (1,1)
    val dupIn = Seq((30L, 1L), (30L, 1L), (30L, 2L)).toDF("basket", "item")
    val gotDup = GraphOps.basketPairs(dupIn, "basket", "item")
      .as[(Long, Long)].collect().sorted.toSeq
    val li = dupIn.select(col("basket"), col("item").as("a"))
    val ri = dupIn.select(col("basket"), col("item").as("b"))
    val wantDup = li.join(ri, Seq("basket")).filter(col("a") < col("b"))
      .select("a", "b").as[(Long, Long)].collect().sorted.toSeq
    assert(gotDup == wantDup && gotDup == Seq((1L, 2L), (1L, 2L)))
  }

  test("basketPairs: a hot basket fails fast at the cap, not as a straggler") {
    val hot = (1L to 50L).map(i => (99L, i)).toDF("basket", "item")
    val e = intercept[Exception] {
      GraphOps.basketPairs(hot, "basket", "item", maxBasket = 10).count()
    }
    assert(e.getMessage.contains("hot") || e.getMessage.contains("cap"),
      s"unexpected message: ${e.getMessage}")
    // at the cap the basket still pairs: 50 items => C(50,2) pairs
    assert(GraphOps.basketPairs(hot, "basket", "item", maxBasket = 50)
      .count() == 50L * 49 / 2)
  }
}
