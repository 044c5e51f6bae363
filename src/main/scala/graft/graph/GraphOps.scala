package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Distributed graph algorithms over edge DataFrames — the Spark-first
  * re-expression of the reference's in-memory Python graph stage
  * (`concepts/src/concept_csv_export.py:407-530`): BFS descendant
  * closure (G1), cycle detection (G2), topological reordering (O4).
  *
  * Design (SURVEY §2.6): edges live in a `DataFrame(src, dst)`; every
  * iterative algorithm is a driver-orchestrated loop of DataFrame jobs,
  * and every loop runs through ONE driver, [[fixpoint]], which owns:
  *   - the eager checkpoint: each round's frame is
  *     `localCheckpoint(eager = true)`ed (SURVEY §7.4.4) — lineage is
  *     cut, so the plan does not double per round, and a round is ONE
  *     action job;
  *   - convergence: the loop's metric (changed, remaining or frontier
  *     count, or an edge-set signature) is a `Dataset.observe`
  *     aggregate riding that same checkpoint job — the observation is
  *     delivered when the eager checkpoint returns, no job of its own;
  *   - freeing: a superseded frame (the previous round; at exit, the
  *     static inputs the rounds read) is freed only after its
  *     successor is materialized;
  *   - the round cap: a convergent loop that reaches its cap raises
  *     [[FixpointCapException]] with the loop's name and round count;
  *     a fixed-iteration loop runs exactly its rounds.
  * No GraphX/GraphFrames dependency. At cluster scale the per-round
  * shuffle is hash-partitioned on the join key, and the round count is
  * bounded by graph diameter (O(log² n) for star-contraction CC), not
  * node count.
  */
object GraphOps {

  // r16 experiment, REJECTED by measurement: folding the eager
  // materialization into the convergence count via a LAZY
  // localCheckpoint (one job/iteration instead of two) read 0.1 s/iter
  // faster in an isolated A/B probe but regressed the real fixpoint
  // queries 2–3.6× (q20 2.79 → 10.04 s, q21 2.04× normalized): under
  // AQE the lazy checkpoint's blocks do not reliably persist when the
  // materializing action runs through shuffle-stage jobs, so every
  // subsequent iteration recomputed the full lineage — O(iters²) work.
  // The A/B probe freed the frame immediately and never re-read it,
  // which is why it missed this. EAGER localCheckpoint is load-bearing
  // (the observed convergence metric gets the one job per round while
  // keeping it).
  //
  // r17 experiment, REJECTED by measurement: scoping AQE OFF to the
  // iteration loops (the r16 verdict's hypothesis for the ~0.4 s/iter
  // constant). A single-iteration probe read 0.45 → 0.27 s/iter in
  // favor of AQE-off — but the real fixpoint queries regressed 1.2–7×
  // (isolated A/B at sf0.1: q410_hits 5.9 → 30.4 s, q432_cc_star
  // 3.7 → 26.8 s, q417 4.4×, q436 4.1×): without AQE's partition
  // coalescing every tiny node-sized shuffle stage runs at the full
  // session parallelism (32 tasks/stage × several stages × 2 jobs ×
  // O(rounds)), and task-launch overhead swamps the saved stage
  // barriers. A second variant — AQE ON with
  // coalescePartitions.parallelismFirst=false (coalesce to advisory
  // size ⇒ 1-partition stages) — was also net worse (q260_hyperanf
  // 2.2× — its per-round HLL register aggregation has REAL parallel
  // work that a 1-task stage serializes; q410/q417 1.1–1.2×, q436
  // 0.9×). Conclusion: the per-iteration constant is the 2-jobs ×
  // job-submission product, not AQE re-planning; AQE's default
  // coalescing (parallelismFirst=true) is load-bearing for the tiny
  // frames AND full parallelism is load-bearing for compute-heavy
  // rounds — the default is the right trade on both ends, and at
  // cluster scale per-round WORK dominates these driver-side
  // constants anyway. Leave the loops under default AQE.

  /** Round cap of the convergent loops that take no cap argument
    * ([[bfsClosure]], [[findCycleNodes]]); [[topoDepth]]'s default. */
  private val MaxRounds = 100

  /** An eagerly checkpointed frame and the metrics observed on the job
    * that wrote it (an empty row when none were asked for). */
  private final case class Materialized(df: DataFrame, metrics: Row)

  /** The eager checkpoint, with `metrics` (named aggregate columns)
    * observed on the checkpoint job itself. */
  private def materialize(df: DataFrame, metrics: Column*): Materialized =
    if (metrics.isEmpty) Materialized(df.localCheckpoint(eager = true), Row.empty)
    else {
      val obs = Observation()
      val cp = df.observe(obs, metrics.head, metrics.tail: _*)
        .localCheckpoint(eager = true)
      Materialized(cp, scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration.Inf))
    }

  /** Deterministically release a SUPERSEDED checkpoint's blocks (via
    * [[org.apache.spark.sql.GraftPlanBridge.freeLocalCheckpoint]]).
    * Without this, dead rounds pin BlockManager storage until a full
    * GC fires the ContextCleaner's weak references — measured round
    * 10: one 4 s pagerank left enough pinned debt to tax the next five
    * bench queries 2–8 s each until the next scheduled `System.gc()`.
    * Only [[fixpoint]] calls it, and only once the successor is eagerly
    * materialized, so nothing can recompute through the freed frame.
    * At cluster scale this is the difference between a k-round loop
    * holding 1 frame of executor storage and holding k. */
  private def free(df: DataFrame): Unit =
    org.apache.spark.sql.GraftPlanBridge.freeLocalCheckpoint(df)

  /** The fixpoint driver (contract in the object doc): materializes
    * `init`, then `step`s round by round. With `converged`, the loop
    * stops once `converged(previous, next)` holds on the observed
    * `metrics`, and raises [[FixpointCapException]] if `maxRounds`
    * rounds pass first; without it, the loop runs exactly `maxRounds`
    * rounds. `inputs` are checkpointed frames the rounds read, freed
    * once the last round is materialized. Returns the last round. */
  private def fixpoint(loop: String, init: DataFrame, maxRounds: Int,
      metrics: Seq[Column] = Nil,
      converged: Option[(Row, Row) => Boolean] = None,
      inputs: Seq[DataFrame] = Nil)(
      step: DataFrame => DataFrame): Materialized = {
    var cur = materialize(init, metrics: _*)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val next = materialize(step(cur.df), metrics: _*)
      free(cur.df)
      done = converged.exists(_(cur.metrics, next.metrics))
      cur = next
      rounds += 1
    }
    inputs.foreach(free)
    if (converged.isDefined && !done) {
      free(cur.df)
      throw new FixpointCapException(loop, rounds)
    }
    cur
  }

  /** Convergence when the observed count (metric 0) reaches zero. */
  private val countIsZero: Option[(Row, Row) => Boolean] =
    Some((_, next) => next.getLong(0) == 0L)

  /** Co-occurrence edge extraction from (basket, item) rows: all
    * unordered item pairs `(a < b)` sharing a basket — the q92/q238/
    * q324/q342/q417 graph-construction stage — with a FAIL-FAST hot-
    * basket guard (the `lshCandidatePairs` `maxBucket` discipline).
    *
    * Shape: ONE groupBy shuffle collects each basket's (distinct,
    * caller-guaranteed) items into a sorted in-row array, pairs are
    * generated by a codegen'd nested `transform` over that array, and
    * the guard rides the same pass as a `raise_error` branch — no
    * second scan, no self-join (the previous formulation shuffled the
    * basket frame through a join and generated k² rows to keep k²/2).
    *
    * Pair volume is inherently Σk², fine while baskets are bounded
    * (TPC-H orders top out at 7 items) — but ONE hot basket at 100×
    * scale is a quadratic skew bomb, so `maxBasket` turns the implicit
    * contract into an error naming the offending basket instead of a
    * mystery straggler task. Callers with legitimately hot baskets
    * should sample or salt upstream.
    */
  def basketPairs(items: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Int = 10000): DataFrame = {
    val guarded = when(size(col("__it")) > maxBasket,
      raise_error(concat(
        lit("graft basketPairs: basket "), col(basketCol).cast("string"),
        lit(" has "), size(col("__it")).cast("string"),
        lit(s" items, above the $maxBasket-item cap — a single hot " +
          "basket makes pair volume quadratic; sample or salt it " +
          "upstream, or raise maxBasket deliberately")))
        .cast("array<long>"))
      .otherwise(col("__it"))
    items
      .groupBy(col(basketCol))
      .agg(sort_array(collect_list(col(itemCol).cast("long"))).as("__it"))
      .select(guarded.as("__it")) // consumed by the explode — unprunable
      .select(explode(expr(
        "flatten(transform(__it, (x, i) -> " +
          "transform(slice(__it, i + 2, size(__it) - i - 1), y -> " +
          "struct(x AS a, y AS b))))")).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      // duplicate items WITHIN a basket pair positionally (x at i vs
      // the equal x at i+1), which the a<b join formulation this
      // replaces structurally excluded — keep the strict inequality
      // so a non-distinct caller gets cross-pairs only, never a
      // self-loop edge into triangle/truss counting
      .filter(col("a") < col("b"))
  }

  /** Distinct endpoints of a `(src, dst)` edge frame as `node`. */
  private def endpoints(e: DataFrame): DataFrame =
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()

  /** Longest-path depth layering ("topological rank").
    *
    * Given edges `(src, dst)` meaning "src references dst" (dst must
    * come first — reference semantics `concept_csv_export.py:499-530`),
    * returns `(node, depth)` where depth(leaf/referent-free) = 0 and
    * depth(n) = 1 + max(depth(referenced nodes)). Sorting by depth
    * yields an order where every referenced node precedes its referrer.
    *
    * Precondition: acyclic (guard with [[findCycleNodes]]); maxIter
    * bounds runaway iteration on unexpected cycles.
    */
  def topoDepth(edges: DataFrame, maxIter: Int = MaxRounds): DataFrame = {
    val e = materialize(edges.toDF("src", "dst")).df
    // the change flag rides in each round's frame; its count is the
    // round's observed metric
    val depth = fixpoint("topoDepth",
        endpoints(e).select(col("node"), lit(0).as("depth"),
          lit(true).as("__chg")), maxIter,
        metrics = Seq(count_if(col("__chg")).as("changed")),
        converged = countIsZero, inputs = Seq(e)) { depth =>
      // candidate depth for each src = 1 + max depth of its dsts
      val cand = e.join(depth, e("dst") === depth("node"))
        .groupBy(col("src").as("node2"))
        .agg((max(col("depth")) + 1).as("cand"))
      depth.join(cand, depth("node") === cand("node2"), "left")
        .select(col("node"),
          greatest(col("depth"), coalesce(col("cand"), lit(0))).as("depth"),
          (coalesce(col("cand"), lit(0)) > col("depth")).as("__chg"))
    }
    depth.df.select("node", "depth")
  }

  /** BFS reachability closure (G1, `concept_csv_export.py:407-438`):
    * all nodes reachable from `roots` following `src -> dst` edges,
    * roots included. Each round's frame is the visited set with the
    * nodes it newly reached flagged `__f` (the frontier): the frontier
    * expands along the edges, and one full-outer join against the
    * visited set flags what is new. Rounds = eccentricity of the root
    * set, plus one.
    */
  def bfsClosure(edges: DataFrame, roots: DataFrame): DataFrame = {
    val e = materialize(edges.toDF("src", "dst")).df
    val visited = fixpoint("bfsClosure",
        roots.toDF("node").distinct().withColumn("__f", lit(true)), MaxRounds,
        metrics = Seq(count_if(col("__f")).as("frontier")),
        converged = countIsZero, inputs = Seq(e)) { visited =>
      val reached = e.join(visited.filter(col("__f")), e("src") === col("node"))
        .select(col("dst").as("node")).distinct()
      visited.select(col("node"), lit(true).as("__v"))
        .join(reached, Seq("node"), "full_outer")
        .select(col("node"), col("__v").isNull.as("__f"))
    }
    visited.df.select("node")
  }

  /** Cycle reachability set (G2 core, `concept_csv_export.py:457-496`):
    * iteratively peel nodes whose every outgoing edge points outside
    * the remaining set; what remains is the set of nodes that can
    * reach a cycle (a superset of cycle members; every remaining node
    * has an out-edge within the set). Empty result ⇔ acyclic.
    */
  def findCycleNodes(edges: DataFrame): DataFrame = peelToCycles(edges).df

  /** [[findCycleNodes]] with its size: the last round's observed
    * remaining count. */
  private def peelToCycles(edges: DataFrame): Materialized = {
    val e = materialize(edges.toDF("src", "dst")).df
    fixpoint("findCycleNodes", endpoints(e), MaxRounds,
        metrics = Seq(count(lit(1)).as("remaining")),
        converged = Some((prev, next) => next.getLong(0) == prev.getLong(0)),
        inputs = Seq(e)) { remaining =>
      // keep nodes that still have an edge into the remaining set
      val hasLiveOut = e.join(remaining.withColumnRenamed("node", "dst2"),
          e("dst") === col("dst2"))
        .select(col("src").as("node")).distinct()
      remaining.join(hasLiveOut, Seq("node"), "left_semi")
    }
  }

  /** Cycle guard with a human-readable witness (V2): raises
    * `CycleException` whose message contains an `a --> b --> a` path,
    * mirroring the reference's error contract
    * (`concept_csv_export.py:490-496`). The witness reconstruction
    * collects only the cyclic subgraph (already peeled down — small by
    * construction), never the full graph.
    */
  def detectCycles(edges: DataFrame, witnessLimit: Int = 100000): Unit = {
    val peeled = peelToCycles(edges)
    val cyc = peeled.df
    val n = peeled.metrics.getLong(0)
    if (n == 0) return
    if (n > witnessLimit)
      throw new CycleException(s"graph contains cycles over $n nodes (witness suppressed)")
    // restrict edges to the cyclic subgraph via joins (never an IN-list
    // expression over a collected set), THEN collect the small remainder
    val sub = edges.toDF("src", "dst")
      .join(cyc.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(cyc.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst") // using-column joins reorder: key column first
      .collect().map(r => r.get(0) -> r.get(1))
    val adj = sub.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    // walk from the smallest node until a repeat — deterministic witness;
    // O(1) membership via a set alongside the ordered path
    val startKey = sub.map(_._1).minBy(_.toString)
    val path = scala.collection.mutable.ArrayBuffer[Any](startKey)
    val seen = scala.collection.mutable.HashSet[Any](startKey)
    var cur = startKey
    var done = false
    while (!done) {
      val nxt = adj(cur).minBy(_.toString)
      if (seen(nxt)) {
        path += nxt
        done = true
      } else { path += nxt; seen += nxt; cur = nxt }
    }
    val cycleStart = path.indexOf(path.last)
    val witness = path.drop(cycleStart).mkString(" --> ")
    throw new CycleException(s"Cycle detected: $witness")
  }

  /** Connected components over an UNDIRECTED edge set by alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Label propagation
    * needs O(diameter) rounds, which on path-shaped similarity chains
    * (dedup graphs routinely contain them) means thousands of shuffles;
    * star contraction converges in O(log² n) rounds REGARDLESS of
    * diameter, each round two groupBy-shuffles on node id:
    *
    *   - large-star(u): every neighbor v > u re-attaches to
    *     m = min(N(u) ∪ u) — long tails fold onto their local minimum;
    *   - small-star(u): edges oriented child>parent, every parent
    *     (plus u) re-attaches to the minimum parent — stars flatten.
    *
    * Fixpoint when the edge set stops changing (signature = count +
    * order-free checksum of canonical edges, observed on each round's
    * checkpoint). Returns `(node, comp)` with comp = the component's
    * minimum node id — the dedup use case: near-dup PAIRS → duplicate
    * GROUPS with a canonical representative (keep min, drop the rest).
    * Nodes that appear in `edges` only; callers union isolated nodes
    * themselves. Self-loops are dropped; the input need not be
    * symmetrized. */
  def connectedComponentsStar(edges: DataFrame, maxRounds: Int = 40): DataFrame = {
    val e0 = edges.toDF("u", "v").filter(col("u") =!= col("v"))
    // canonical undirected form (min, max): one row per edge
    val canon = e0.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val stars = fixpoint("connectedComponentsStar", canon, maxRounds,
        // order-free, overflow-free checksum: XOR of per-edge hashes
        // (edges are distinct, so no cancellation pairs exist)
        metrics = Seq(count(lit(1)).as("n"),
          bit_xor(xxhash64(col("u"), col("v"))).as("x")),
        converged = Some(_ == _)) { e =>
      // large-star: group the SYMMETRIZED adjacency by u; neighbors
      // larger than u re-attach to min(N(u) ∪ u)
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val large = sym.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"),
          collect_list(when(col("v") > col("u"), col("v"))).as("bigs"))
        .select(explode(col("bigs")).as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
      // small-star: orient child = max endpoint; child and all its
      // parents re-attach to the minimum parent
      large
        .select(col("v").as("child"), col("u").as("parent"))
        .groupBy("child")
        .agg(min(col("parent")).as("m"),
          collect_list(col("parent")).as("parents"))
        .select(col("m"),
          explode(array_union(col("parents"), array(col("child")))).as("n"))
        .filter(col("n") =!= col("m"))
        .select(col("m").as("u"), col("n").as("v"))
        .distinct()
    }.df
    // at the fixpoint the edge set is a star forest: (root, child)
    stars.select(col("v").as("node"), col("u").as("comp"))
      .union(stars.select(col("u").as("node"), col("u").as("comp")))
      .distinct()
  }

  private def round6(c: Column): Column =
    graft.functions.MysqlFunctions.oracleRound(c, 6)

  /** Static per-edge out-degree: `(src, dst, __od)` materialized once,
    * HASH-PARTITIONED ON src — the rank propagation's join key — so
    * each round shuffles only the node-sized rank frame to meet it,
    * never the edge set (localCheckpoint preserves the partitioning).
    * NB: rounds sum `pr / __od` (integer divisor) — NOT a precomputed
    * 1/od weight — so every division is the exact operation the SQL
    * oracle performs (a premultiplied reciprocal differs by ulps,
    * which 6-dp re-pinning need not absorb at a rounding boundary). */
  private def outDegreeEdges(e: DataFrame): DataFrame =
    materialize(
      e.join(e.groupBy("src").agg(count(lit(1)).as("__od")), "src")
        .repartition(col("src"))).df

  /** Fixed-iteration PageRank over a DIRECTED edge set — the classic
    * link-quality signal of web-corpus curation (host/URL ranking as a
    * keep/drop feature). `pr' = (1-d)/N + d·Σ_in pr/outdeg`, iterated a
    * fixed `iters` times from the uniform vector; ranks are ROUNDED to
    * 6 decimals after every iteration (the q53-centroid trick:
    * the per-node contribution sum is the one unordered float
    * reduction, and rounding re-pins it each step, which is what lets a
    * fixed-iteration run unroll into an exact SQL oracle). Dangling
    * mass is NOT redistributed by default — feed a graph where every
    * node has an out-edge (symmetrize if needed), or pass
    * `redistributeDangling = true` for the standard correction: the
    * rank held by out-edge-free nodes is returned to every node
    * uniformly each step (`+ d·m_dangling/N`), keeping total mass at 1.
    *
    * Scale shape: out-degree is static, so it is folded into the edge
    * set ONCE up front ([[outDegreeEdges]]). Each
    * iteration is then one (edges ⋈ ranks) hash join + a
    * map-side-combined per-dst sum + a left join back to the node set.
    * The dangling correction, when on, adds a 1-row aggregate broadcast
    * back per step. N is the one driver-side scalar, observed on the
    * node set's checkpoint.
    */
  def pageRank(edges: DataFrame, iters: Int,
      damping: Double = 0.85,
      redistributeDangling: Boolean = false,
      assumeDistinct: Boolean = false): DataFrame = {
    // `assumeDistinct` skips the edge dedup shuffle — pass it when the
    // edge set is distinct by construction (e.g. a symmetrized union of
    // a distinct pair set); duplicate edges would double-count
    // contributions, so only assert what the construction guarantees
    val e0 = edges.toDF("src", "dst")
    val e = (if (assumeDistinct) e0 else e0.distinct()).cache()
    val counted = materialize(endpoints(e), count(lit(1)).as("n"))
    val nodes = counted.df
    val n = counted.metrics.getLong(0)
    val ew = outDegreeEdges(e)
    val srcNodes =
      if (redistributeDangling)
        Some(materialize(e.select(col("src").as("node")).distinct()).df)
      else None
    e.unpersist()
    fixpoint("pageRank", nodes.withColumn("pr", round6(lit(1.0) / n)), iters,
        inputs = Seq(nodes, ew) ++ srcNodes) { pr =>
      val contrib = ew.join(pr, ew("src") === pr("node"))
        .groupBy(col("dst").as("__node"))
        .agg(sum(col("pr") / col("__od")).as("__m"))
      val joined = nodes.join(contrib, nodes("node") === col("__node"), "left")
      srcNodes match {
        case Some(srcs) =>
          // mass parked on out-edge-free nodes this step: one anti-join
          // + 1-row aggregate, broadcast onto every node row
          val dangling = pr.join(srcs, Seq("node"), "left_anti")
            .agg(coalesce(sum("pr"), lit(0.0)).as("__dm"))
          joined.crossJoin(broadcast(dangling))
            .select(col("node"),
              round6(lit((1.0 - damping) / n) + lit(damping) *
                (coalesce(col("__m"), lit(0.0)) + col("__dm") / n)).as("pr"))
        case None =>
          joined.select(col("node"),
            round6(lit((1.0 - damping) / n) +
              lit(damping) * coalesce(col("__m"), lit(0.0))).as("pr"))
      }
    }.df
  }

  /** PERSONALIZED PageRank (random walk with restart): like
    * [[pageRank]] but all restart mass returns to a SEED set — the
    * relevance-to-these-nodes ranking of seed-expansion curation
    * (grow a trusted-domain set, find documents "near" a labeled
    * cluster). Per round: pr(v) ← round6(teleport(v) + d·Σ incoming),
    * with teleport(v) = `restart`/|seeds| on seeds and 0 elsewhere;
    * init = the teleport distribution itself (pr₀ = 1/|seeds| on
    * seeds). `restart` is taken as an explicit literal — NOT derived
    * as 1−damping — so the oracle can use the same decimal literal
    * (1−0.85 in binary doubles is not the double 0.15; the 6-dp
    * re-pin would usually absorb that, but not at a rounding
    * boundary). Same shuffle shape and rounding contract as
    * [[pageRank]]; unlike it, mass NOT reachable from the seeds stays
    * exactly 0. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int, damping: Double = 0.85, restart: Double = 0.15,
      assumeDistinct: Boolean = false): DataFrame = {
    val e0 = edges.toDF("src", "dst")
    val e = (if (assumeDistinct) e0 else e0.distinct()).cache()
    val nodes = materialize(endpoints(e)).df
    val ew = outDegreeEdges(e)
    e.unpersist()
    val counted = materialize(seeds.toDF("node").distinct(), count(lit(1)).as("n"))
    val sd = counted.df
    val nS = counted.metrics.getLong(0)
    require(nS > 0, "personalizedPageRank needs a non-empty seed set")
    // joined from the node set's checkpoint, not its plan: the rounds'
    // join on the seeded frame measured ~0.4 s/round slower otherwise
    // (q418 at sf0.1, 4 cores)
    val seeded = materialize(
      nodes.join(sd.withColumn("__s", lit(true)), Seq("node"), "left")
        .select(col("node"), coalesce(col("__s"), lit(false)).as("__seed"))).df
    val init = seeded.select(col("node"),
      round6(when(col("__seed"), lit(1.0) / nS).otherwise(lit(0.0))).as("pr"))
    fixpoint("personalizedPageRank", init, iters,
        inputs = Seq(nodes, ew, sd, seeded)) { pr =>
      val contrib = ew.join(pr, ew("src") === pr("node"))
        .groupBy(col("dst").as("__node"))
        .agg(sum(col("pr") / col("__od")).as("__m"))
      seeded.join(contrib, seeded("node") === col("__node"), "left")
        .select(seeded("node"),
          round6(when(col("__seed"), lit(restart) / nS)
            .otherwise(lit(0.0)) +
            lit(damping) * coalesce(col("__m"), lit(0.0))).as("pr"))
    }.df
  }

  /** Synchronous label propagation (fixed iterations) — the cheap
    * community-detection signal of graph-based corpus curation
    * (mirror/spam clusters, host communities; Raghavan et al. 2007,
    * public arXiv 0709.2938). Every node starts labeled with itself;
    * each round it adopts the most frequent label among its
    * OUT-neighbors, ties broken by smallest label — all-integer
    * arithmetic, so unlike PageRank the unrolled SQL oracle needs no
    * rounding re-pin at all. Synchronous update with a fixed `iters`
    * (the deterministic variant — asynchronous/random-order LPA is not
    * reproducible); a node with no out-edges keeps its label. Feed a
    * symmetrized edge set for undirected semantics.
    *
    * Scale shape per iteration: one (edges ⋈ labels) hash join, a
    * map-side-combined (node, label) count, one per-node top-1 window,
    * and a node-sized left join back. */
  def labelPropagation(edges: DataFrame, iters: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    val e0 = edges.toDF("src", "dst")
    val e = materialize(if (assumeDistinct) e0 else e0.distinct()).df
    fixpoint("labelPropagation", endpoints(e).withColumn("label", col("node")),
        iters, inputs = Seq(e)) { labels =>
      val counts = e.join(labels, e("dst") === labels("node"))
        .groupBy(e("src").as("n"), col("label"))
        .agg(count(lit(1)).as("c"))
      val top = counts
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("n")
            .orderBy(col("c").desc, col("label"))))
        .filter(col("__rn") === 1)
        .select(col("n"), col("label").as("__new"))
      labels.join(top, labels("node") === col("n"), "left")
        .select(col("node"),
          coalesce(col("__new"), col("label")).as("label"))
    }.df
  }

  /** Canonical undirected form of an `(a, b)` edge frame: self-loops
    * dropped, one `(a < b)` row per edge. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.toDF("a", "b").filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct()

  /** Degree-orient a CANONICAL (a < b, distinct) undirected edge set:
    * `(u, v)` for each edge, from its lower-(degree, id) endpoint to
    * the higher one — exactly one direction per edge. */
  private def oriented(canon: DataFrame): DataFrame = {
    val und = canon.union(canon.select(col("b"), col("a")))
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    und
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
      .filter(col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v"))
  }

  /** All triangles of a CANONICAL (a < b, distinct) undirected edge
    * set, each exactly once, as `(u, v1, v2)` triples — the
    * degree-ordered wedge enumeration [[triangleCounts]] documents
    * (u is the triangle's lowest-(deg, id) corner; v1 < v2). The
    * orientation is planned inline: over a checkpointed `canon` it is
    * cheaper than a checkpoint of its own (one job fewer). */
  private def triangleTriples(canon: DataFrame): DataFrame = {
    val orient = oriented(canon)
    val wedges = orient.select(col("u"), col("v").as("v1"))
      .join(orient.select(col("u"), col("v").as("v2")), Seq("u"))
      .filter(col("v1") < col("v2"))
    // v1 < v2 already, so (v1, v2) IS the canonical form — plain
    // equi-join keys, no least/greatest re-derivation
    wedges.join(canon,
      col("v1") === col("a") && col("v2") === col("b"), "left_semi")
  }

  /** Per-node triangle counts over an UNDIRECTED edge set — the local
    * clustering signal (dense co-occurrence neighborhoods vs link
    * farms) of web-graph curation. Uses the degree-ordered wedge
    * algorithm (the MapReduce-standard formulation, Suri & Vassilvitskii
    * WWW'11): orient every edge from its lower-(degree, id) endpoint to
    * the higher one, build wedges only at each node's oriented
    * out-neighbors — Σ_v C(outdeg⁺(v), 2), where outdeg⁺ is bounded by
    * O(√|E|) on any graph, vs the unordered Σ C(deg, 2) that explodes
    * on hubs — and close each wedge with one hash semi-join against the
    * canonical edge set. Every triangle is found exactly once (at its
    * lowest-ordered vertex), then credited to all three corners.
    * Returns (node, n_triangles), nodes with ≥ 1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleTriples(materialize(canonical(edges)).df)
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))

  /** k-TRUSS peel (Cohen 2008): repeatedly drop edges supported by
    * fewer than k−2 triangles — the EDGE-grain densification beside
    * the node-grain [[kCorePeel]] (every k-truss edge is in a
    * (k−1)-core, but not vice versa; trusses isolate the
    * triangle-reinforced community scaffold web-graph curation keeps).
    * A fixed `iters` is the engine's fixpoint convention (q73/q93):
    * the result is "the graph after N peels" — deterministic and
    * all-integer, so the peel unrolls into chained oracle CTEs;
    * convergence is spec-checked. Returns the surviving canonical
    * edges with their POST-peel support (coalesced 0 — a reported
    * support below k−2 means exactly "one more peel would drop it").
    *
    * Scale shape per round: one degree-ordered triangle enumeration
    * (out-wedge fanout bounded by O(√|E|)) + an explode-to-3 edge
    * credit + one keyed count — all hash-partitioned on the edge key. */
  def kTrussPeel(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    def support(canon: DataFrame): DataFrame =
      triangleTriples(canon)
        .select(explode(array(
          struct(col("u").as("x"), col("v1").as("y")),
          struct(col("u").as("x"), col("v2").as("y")),
          struct(col("v1").as("x"), col("v2").as("y")))).as("e"))
        .select(least(col("e.x"), col("e.y")).as("a"),
          greatest(col("e.x"), col("e.y")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("sup"))
    val canon = fixpoint("kTrussPeel", canonical(edges), iters) { c =>
      c.join(support(c).filter(col("sup") >= k - 2), Seq("a", "b"), "left_semi")
    }.df
    canon.join(support(canon), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("sup"), lit(0L)).as("support"))
  }

  /** Topological reorder (O4, `concept_csv_export.py:499-530`): order
    * rows so that every referenced node precedes its referrers, stable
    * by `tieBreak` within a depth layer. Returns the input plus an
    * `__ord` rank column; callers sort by it. Matches the reference's
    * contract (referrer strictly after all referents —
    * `test_concept_csv_export.py:33-51`).
    */
  def topoOrder(df: DataFrame, keyCol: String, edges: DataFrame): DataFrame = {
    val depth = topoDepth(edges).withColumnRenamed("node", "__node")
    df.join(depth, df(keyCol) === col("__node"), "left")
      .drop("__node")
      .withColumn("__ord", coalesce(col("depth"), lit(0)))
      .drop("depth")
  }

  /** k-core peel, `iters` rounds over a SYMMETRIZED edge set: each
    * round drops every node whose current degree is < k, then the
    * edges touching it (Seidman's k-core, Network s 5(3) 1983 — the
    * standard "dense part of the graph" extraction of web-graph and
    * co-occurrence curation). Returns the nodes still alive after
    * `iters` peels with their degree in the surviving subgraph. A
    * fixed `iters` is the engine's fixpoint convention (q73/q93): the
    * result is "the graph after N peels" — deterministic, all-integer,
    * so the whole peel unrolls into chained CTEs; peeling converges
    * once no round removes a node (fixpoint spec-checked).
    *
    * Scale shape per round: one map-side-combined degree count + two
    * semi joins (src-alive, dst-alive). */
  def kCorePeel(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = fixpoint("kCorePeel", edges.toDF("src", "dst"), iters) { e =>
      val alive = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("__n"))
      e.join(alive.withColumnRenamed("__n", "src"), Seq("src"), "left_semi")
        .join(alive.withColumnRenamed("__n", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
    }.df
    e.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a DIRECTED
    * edge set, MAX-normalized: per round
    *   auth(j) = Σ_{i→j} hub(i);  auth ← round6(auth / max_j auth)
    *   hub(i)  = Σ_{i→j} auth(j); hub  ← round6(hub / max_i hub)
    * Max normalization (not the textbook L2) keeps the normalizer
    * reduction-ORDER-FREE — a float sum over all nodes would depend on
    * partition order, while the max of per-node sums is invariant up
    * to the per-node ulps the 6-dp re-pin absorbs (the q73 pagerank
    * rounding convention, so the whole fixpoint unrolls into the SQL
    * oracle's chained CTEs). Returns `(node, kind, score)` with kind ∈
    * {hub, auth}: hubs are the nodes with out-edges, authorities the
    * nodes with in-edges (every such node gets a score — sums over a
    * total bipartite-style edge frame produce no nulls).
    *
    * Scale shape: the edge set is checkpointed hash-partitioned once;
    * each round's frame holds both score sets in the output shape, and
    * a round shuffles only the node-sized scores to meet the edges
    * (max is a 1-row broadcast). */
  def hits(edges: DataFrame, iters: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    // authorities only exist after a first hub→auth pass; iters == 0
    // would return hubs alone, unlike the other fixpoints here which
    // degrade to their init frame
    require(iters >= 1, s"hits needs iters >= 1, got $iters")
    val e0 = edges.toDF("src", "dst")
    val e = materialize(
      (if (assumeDistinct) e0 else e0.distinct()).repartition(col("src"))).df
    // one max-normalized propagation of `scores` from the `from` end of
    // each edge to its `to` end
    def spread(scores: DataFrame, from: String, to: String,
        kind: String): DataFrame = {
      val raw = e.join(scores, e(from) === scores("node"))
        .groupBy(col(to).as("__n")).agg(sum(col("score")).as("m"))
      raw.crossJoin(broadcast(raw.agg(max(col("m")).as("mx"))))
        .select(col("__n").as("node"), lit(kind).as("kind"),
          round6(col("m") / col("mx")).as("score"))
    }
    val hubs = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit("hub").as("kind"), lit(1.0).as("score"))
    fixpoint("hits", hubs, iters, inputs = Seq(e)) { s =>
      val auth = spread(s.filter(col("kind") === "hub"), "src", "dst", "auth")
      spread(auth, "dst", "src", "hub").unionAll(auth)
    }.df
  }
}

class CycleException(msg: String) extends RuntimeException(msg)

/** A convergent [[GraphOps]] loop reached its round cap before
  * converging (on a cyclic graph, say, for `topoDepth`). */
class FixpointCapException(val loop: String, val rounds: Int)
  extends IllegalStateException(s"$loop did not converge in $rounds rounds")
