package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.GraphOps

/** Property-style tests (SURVEY §5.4) over seeded random graphs:
  * random DAGs produce a valid topological order; planting a back-edge
  * makes the cycle detector fire. Deterministic seed — each case is a
  * handful of Spark jobs, so the case count stays small. */
class GraphPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** DAG by construction: edges only from higher to lower node index. */
  private def randomDag(rng: scala.util.Random): List[(String, String)] = {
    val n = 3 + rng.nextInt(8)
    List.fill(n * 2) {
      val a = 1 + rng.nextInt(n)
      val b = rng.nextInt(a)
      (s"n$a", s"n$b")
    }.distinct
  }

  test("random DAGs: topoDepth yields a valid topological order") {
    val rng = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val edges = randomDag(rng)
      val depth = GraphOps.topoDepth(edges.toDF("src", "dst"))
        .as[(String, Int)].collect().toMap
      edges.foreach { case (src, dst) =>
        assert(depth(src) > depth(dst),
          s"$src (depth ${depth(src)}) must be deeper than $dst (${depth(dst)}) in $edges")
      }
    }
  }

  test("random DAG plus a planted back-edge: cycle detector fires") {
    val rng = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val edges = randomDag(rng)
      val (a, b) = edges.head
      val cyclic = ((b, a) :: edges).toDF("src", "dst")
      assert(GraphOps.findCycleNodes(cyclic).count() > 0,
        s"planted cycle ($b,$a) in $edges not detected")
    }
  }

  test("connectedComponentsStar: random graphs match union-find") {
    val rng = new scala.util.Random(23)
    (1 to 3).foreach { _ =>
      // ids drawn from a shuffled range, so paths and trees are not
      // laid out in id order
      val ids = rng.shuffle((1L to 400L).toVector).iterator
      // a long path, a random tree, and a sparse random block (itself
      // possibly several components)
      val path = Vector.fill(40 + rng.nextInt(40))(ids.next())
      val tree = Vector.fill(30)(ids.next())
      val block = Vector.fill(40)(ids.next())
      val base = path.zip(path.tail) ++
        tree.indices.tail.map(i => (tree(rng.nextInt(i)), tree(i))) ++
        Vector.fill(30)((block(rng.nextInt(40)), block(rng.nextInt(40))))
      // duplicate and reversed copies, and a self-loop
      val edges = base ++ base.take(10) ++ base.takeRight(10).map(_.swap) :+
        (path.head, path.head)
      val got = GraphOps.connectedComponentsStar(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == UnionFind.components(edges), s"edges: $edges")
    }
  }

  test("pageRank: dangling mass leaks by default, is conserved with redistribution, and the flag is a no-op without dangling nodes") {
    import org.apache.spark.sql.functions.{col, sum}
    // node 4 has no out-edge: it receives rank but contributes nothing
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val leaky = GraphOps.pageRank(edges, iters = 5)
      .agg(sum("pr")).as[Double].head()
    assert(leaky < 0.9, s"default variant should lose dangling mass, total $leaky")
    val conserved = GraphOps.pageRank(edges, iters = 5,
        redistributeDangling = true)
      .agg(sum("pr")).as[Double].head()
    assert(math.abs(conserved - 1.0) < 1e-4,
      s"redistribution should conserve total rank, got $conserved")
    // on a graph with full out-degree coverage the dangling term is an
    // exact 0.0 — the flag must not change a single rank
    val sym = edges.union(edges.select(col("dst"), col("src")))
    val base = GraphOps.pageRank(sym, iters = 3)
      .as[(Long, Double)].collect().toSet
    val flagged = GraphOps.pageRank(sym, iters = 3, redistributeDangling = true)
      .as[(Long, Double)].collect().toSet
    assert(base == flagged)
  }

  test("labelPropagation: cliques converge to their min label; out-edge-free nodes keep theirs") {
    val clique = (base: Long) => for {
      a <- base until base + 3; b <- base until base + 3 if a != b
    } yield (a, b) // both directions
    val edges = (clique(1L) ++ clique(10L) :+ ((21L, 20L))).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(got(_) == 1L),
      s"clique 1-3 must converge to label 1, got $got")
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(got(20L) == 20L, "no out-edges: label kept")
    assert(got(21L) == 20L, "sole neighbor's label adopted")
  }

  test("triangleCounts: K4 gives 3 per node, a chordless square gives none; direction/duplication-insensitive") {
    import org.apache.spark.sql.functions.col
    // K4 on 1..4 (each node in C(3,2)=3 triangles) + square 10-11-12-13
    // with no diagonal (no triangles) — edges fed with mixed direction
    // and a duplicate
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val square = Seq((10L, 11L), (12L, 11L), (12L, 13L), (13L, 10L), (10L, 13L))
    val got = GraphOps.triangleCounts((k4 ++ square).toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"square nodes must report no triangles, got $got")
  }

  test("triangleCounts equals the brute-force triple count on a random graph") {
    val rng = new scala.util.Random(43)
    val edges = Seq.fill(120)((1L + rng.nextInt(15), 1L + rng.nextInt(15)))
      .filter(e => e._1 != e._2).distinct
    val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val want = (for {
      x <- nodes; y <- nodes if x < y; z <- nodes if y < z
      if canon((x, y)) && canon((y, z)) && canon((x, z))
    } yield Seq(x, y, z)).flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = GraphOps.triangleCounts(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"got $got, want $want")
  }

  test("random DAG alone: cycle detector stays silent") {
    val rng = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val edges = randomDag(rng)
      assert(GraphOps.findCycleNodes(edges.toDF("src", "dst")).count() == 0,
        s"false cycle in DAG $edges")
    }
  }
}
