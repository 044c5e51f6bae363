package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[StageMemo]] contract: build-once under concurrency, no
  * entry left by a failed build, collision-free dir slugs, a registry
  * whose order lets each bench `stage:` row bill only its own build, and
  * a `clear()` after which every stage rebuilds to the same rows. */
class StageMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("build-once: 8 concurrent callers of one key run the builder once") {
    val memo = new StageMemo
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            memo.getOrBuild(spark, "/build-once", "stage") {
              builds.incrementAndGet()
              Thread.sleep(200) // every caller arrives while the build runs
              new Object
            }
          }
        })
      }
      start.countDown()
      val values = results.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a build that throws leaves no entry; the next call rebuilds") {
    val memo = new StageMemo
    val builds = new AtomicInteger(0)
    def get(): String = memo.getOrBuild(spark, "/throws", "stage") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first")
      "second"
    }
    assert(intercept[IllegalStateException](get()).getMessage == "first")
    assert(memo.names(spark, "/throws").isEmpty)
    assert(get() == "second")
    assert(get() == "second")
    assert(builds.get == 2)
  }

  test("clear() drops every entry and releases the built ones") {
    val memo = new StageMemo
    val released = new AtomicInteger(0)
    val release = (_: String) => { released.incrementAndGet(); () }
    assert(memo.entry(spark, "/clear", "built", release)("v") == "v")
    intercept[IllegalStateException] {
      memo.entry[String](spark, "/clear", "failed", release) {
        throw new IllegalStateException("no value")
      }
    }
    memo.getOrBuild(spark, "/clear", "plain")(1)
    assert(memo.names(spark, "/clear") == Set("built", "plain"))
    memo.clear()
    assert(memo.names(spark, "/clear").isEmpty)
    assert(released.get == 1)
  }

  test("dirSlug: dirs with equal String.hashCode get different slugs") {
    val (a, b) = ("/data/sf/Aa", "/data/sf/BB")
    assert(a.hashCode == b.hashCode)
    assert(StageMemo.dirSlug(a) != StageMemo.dirSlug(b))
    assert(StageMemo.dirSlug(a) == StageMemo.dirSlug(a))
  }

  /** The 28 `stage:` rows the bench reported before the registry. */
  private val benchStages = Seq(
    "norm_emb", "coarse_fit", "pq_fit", "persisted_fits", "planted_emb",
    "dedup_sigs", "neardup_pairs", "dup_components", "jaccard_pairs",
    "token_arrays", "lower_toks", "window_pairs", "ref_corpus", "ref_fps",
    "hll_regs", "persisted_lm", "lr_model", "ada_model", "bpe_fit",
    "tar_shards", "zip_shards", "warc_shards", "jsonl_dir", "orc_dir",
    "xml_dir", "part_dir", "omrs_jdbc", "sessions")

  test("registry order: each stage's force builds itself, for the first time, and no other stage") {
    assert(Bench.stageOwners.nonEmpty) // every owner has registered
    val stages = StageMemo.stages
    val named = stages.map(_.name).toSet
    assert(benchStages.filterNot(named) == Nil)
    StageMemo.clear()
    stages.foreach { st =>
      val before = StageMemo.names(spark, dir)
      assert(!before(st.name), s"${st.name} was built before its own row")
      st.force(spark, dir)
      val built = (StageMemo.names(spark, dir) -- before).intersect(named)
      assert(built == Set(st.name), s"forcing ${st.name} built $built")
    }
  }

  test("clear() then rebuild: q397, q470 and q193 return the same rows") {
    // q470's row carries its own export wall time; every other column
    // (dictionary size, CSV rows, bytes and md5) must match
    def rows(q: String): Seq[String] = {
      val df = SparkEntry.queries(q)(spark, dir)
      df.drop("jdbc_export_sec").collect().map(_.toString).toSeq.sorted
    }
    val qs = Seq("q397_jdbc_join_agg", "q470_concepts_export_jdbc",
      "q193_bucketed_join")
    val first = qs.map(rows)
    assert(first.forall(_.nonEmpty))
    StageMemo.clear()
    assert(qs.map(rows) == first)
  }
}
