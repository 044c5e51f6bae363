package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.StageMemo
import graft.sources.Tables
import graft.functions.{TextFunctions => T}
import graft.functions.{MysqlFunctions => M}

/** Training-data pipeline queries (dedup / similarity / text analysis)
  * over the `documents` and `embeddings` tables — the extension surface
  * mandated by BASELINE.json's north star.
  */
object PipelineQueries {

  /** Shared MinHash-family stages per (session, sf dir): ONE plan for
    * the shingle sets and 64-hash signature matrix, reused by
    * q29/q30/q32/q49/q55 and the estimator audits. DELIBERATELY LIVE
    * (not checkpointed): shingle sets are corpus-scale, and pinning
    * them in executor storage is the wrong at-scale trade — the
    * persisted-parquet twins (q104/q111 family) are the steady-state
    * index shape. Measured r17 (isolated A/B at sf0.1, the r16 verdict
    * #8 ask): localCheckpointing both frames here made the stage rows
    * SLOWER (stage:dedup_sigs 1.61 → 1.87 s, stage:jaccard_pairs
    * 2.48 → 2.93 s — the materialization cost) while every consumer
    * stayed flat (q29 0.11 → 0.20, q30 0.14 → 0.11, q103 2.52 → 2.43):
    * post-warm re-derivation of the live plan is already cheap, so
    * there is no double-compute worth buying with corpus-scale storage.
    * Every stage memo follows the [[graft.StageMemo]] contract. */
  private val stages = StageMemo.stageWith[(DataFrame, DataFrame)]("dedup_sigs",
      touch = _._2.count()) { (s, dir) =>
    val sets = Dedup.shingleSets(Tables.documents(s, dir), "doc_id", "text", 3)
    val sigs = Dedup.minHashSigsFromSets(sets, "doc_id", 64)
    (sets, sigs)
  }

  /** Shared verified near-dup pair set (banded MinHash-LSH, 16 bands,
    * J >= 0.7) per (session, sf dir) — the third shared stage: q30
    * reports it, q49 collapses it into components, q55 drops its
    * component losers. One banding join + exact-Jaccard verification
    * feeds all three (the pair set is tiny — near-dups — so the
    * checkpoint pins KBs). */
  private val nearDupPairs = StageMemo.stage("neardup_pairs") { (s, dir) =>
    val (sets, sigs) = stages(s, dir)
    Dedup.minHashNearDupFromStages(sets, sigs, "doc_id",
        bands = 16, threshold = 0.7)
      .localCheckpoint()
  }

  /** Shared connected components over [[nearDupPairs]] — q49 reports
    * them, q55 drops the non-canonical members; the star-contraction
    * fixpoint (an iterative multi-job computation) runs once per
    * (session, dir). */
  private val dupComponents = StageMemo.stage("dup_components") { (s, dir) =>
    graft.graph.GraphOps.connectedComponentsStar(
        nearDupPairs(s, dir).select("id_a", "id_b"))
      .localCheckpoint()
  }

  /** Fixed-size md5-ranked sample: the `n` rows with the smallest
    * (md5(salt:id), id), keeping `keep` columns — the ONE place the
    * corpus-size-independent query-panel idiom lives (the r14
    * second-decade contract: a modulus sample grows with the corpus
    * and turns every sample × corpus stage quadratic — q304 measured
    * slope 213× that way). Any eval operator pairing a sample against
    * the corpus draws its panel here; the DuckDB twin is
    * `CAST(('0x' || substr(md5('salt:' || id), 1, 8)) AS BIGINT)`
    * ordered with the id tiebreak and the same LIMIT. Cost: one
    * TakeOrdered over the scan — no shuffle, no window. */
  private def md5Panel(df: DataFrame, idCol: String, salt: String,
      n: Int, keep: Seq[String]): DataFrame =
    df.withColumn("__h", T.md5Int(
        concat(lit(s"$salt:"), col(idCol).cast("string")), 8))
      .orderBy(col("__h"), col(idCol)).limit(n)
      .select(keep.map(col): _*)

  /** Shared L2-normalized embedding corpus per (session, sf dir) —
    * the similarity family's analogue of [[stages]]: q28/q33/q34/q51/
    * q53 consume one materialized normalization (bit-identical to the
    * inline computation each op would otherwise repeat). */
  private val normEmb = StageMemo.stage("norm_emb") { (s, dir) =>
    Similarity.normalizeCorpus(Tables.embeddings(s, dir), "vec_id", "embedding")
  }

  /** Driver-side fit memos over [[normEmb]]: the q53-parameter coarse
    * centroids and the q116-parameter PQ codebooks, each a few KB of
    * deterministic doubles. q53/q116/q117 share one Lloyd build each
    * instead of refitting per query — the "fit once, assign many"
    * contract the operators already document for 100 TB. */
  private val coarseCenters = StageMemo.stage("coarse_fit") { (s, dir) =>
    Similarity.fitQuantizer(normEmb(s, dir), "vec_id", "embedding",
      nlist = 16, dim = 64, seed = 42L, iters = 3)
  }
  private val pqBooks = StageMemo.stage("pq_fit") { (s, dir) =>
    Similarity.fitCodebooks(normEmb(s, dir), "vec_id", "embedding",
      m = 8, ksub = 16, dsub = 8, seed = 4242L, iters = 3)
  }

  /** IVF self-kNN top-5 frame — the index-backed candidate leg q467
    * (mutual-kNN twin) and q468 (kNN-eval twin) both consume:
    * [[Similarity.ivfSelfTopK]] over [[normEmb]], k=5, default
    * (nprobe=4, seed=42, iters=3). DELIBERATELY NOT memoized (unlike
    * [[normEmb]]): these two queries exist to PROVE the leg's
    * end-to-end linearity, so the slope gate's timed runs must pay the
    * whole build — fit, probe pass, cell join — every time; a
    * checkpoint memo here would make the sf0.1→sf1 row measure a
    * cache read plus the downstream join (the r15 first attempt
    * measured slope 2.28 exactly that way). The fit is likewise run
    * inside (no [[coarseCenters]] pass-through) so both decades time
    * the same work: at gate scale (n ≤ 2000 ⇒ nlist = 16, fit sample
    * = whole corpus) it is parameter-identical to coarseCenters and
    * the oracle holds verbatim; above, nlist ∝ n over the fixed
    * md5-ranked sample. Suite cost: the leg builds twice (q467, q468)
    * — the price of honest attribution. */
  private def ivfSelfTop5(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfSelfTopK(normEmb(s, dir), "vec_id", "embedding", k = 5,
      preNormalized = true)

  /** PERSISTED fit stages per (session, sf dir): the q53 coarse
    * centers and q116 codebooks written to parquet once via
    * [[Similarity.writeFitStages]] and read back via
    * [[Similarity.fitStagesFromParquet]] — the cross-session index
    * contract (fit once, reuse for months) made real: q137/q138/q139
    * consume ONLY the read-back tensors, so a fresh session with the
    * stage parquet on hand never refits from the corpus. Round-trip is
    * bit-exact (roundCoord6 doubles through parquet), so the twins
    * share q53/q116/q117's oracles verbatim. */
  private val persistedFits = StageMemo.stage("persisted_fits") { (s, dir) =>
    val base = StageMemo.tempDir("graft_annfit_").toString
    Similarity.writeFitStages(s, base,
      Some(coarseCenters(s, dir)), Some(pqBooks(s, dir)))
    val (c, b) = Similarity.fitStagesFromParquet(s, base)
    (c.get, b.get)
  }

  /** Shared lowercased token-ARRAY stage per (session, sf dir) — THE
    * one tokenize pass over the corpus text. Two shapes derive from
    * it: [[lowerToks]] (the exploded `(doc_id, term)` stream the
    * tfidf/bm25/vocab/fluency legs consume) and the positional arrays
    * the bigram-PMI leg needs — so q56/q57/q62/q77/q98/q101 share ONE
    * regex tokenization of the corpus instead of q98 re-tokenizing
    * (r6 verdict's "second full tokenize pass at 100 TB" note). */
  private val tokenArrays = StageMemo.stage("token_arrays") { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        T.tokens(lower(col("text"))).as("a"))
      .localCheckpoint()
  }

  /** Shared exploded token stream, derived from [[tokenArrays]] —
    * checkpointed itself because its consumers read it from several
    * plan positions and the explode is the corpus-sized step. */
  private val lowerToks = StageMemo.stage("lower_toks") { (s, dir) =>
    tokenArrays(s, dir)
      .select(col("doc_id"), explode(col("a")).as("term"))
      .localCheckpoint()
  }

  /** Drop every shared-stage memo entry: forwards to [[StageMemo.clear]]. */
  def clearSharedStages(): Unit = StageMemo.clear()

  /** Planted near-dup corpus for the sign-LSH gate (q51): the raw
    * embeddings plus, for each `vec_id < 40`, a copy at `vec_id +
    * 100000` whose components are scaled by `(1 + s·eps)` with
    * md5-derived per-component noise `eps ∈ [-0.5, 0.5)` and a per-id
    * amplitude `s = 0.5 + (vec_id % 8)·0.3` — original↔copy cosines
    * land ≈ 0.99 down to ≈ 0.82, straddling the 0.85 near-dup gate.
    * The testdata embeddings have NO high-cosine pairs (max ≈ 0.51),
    * so exercising `cosineNearDupLsh` in its design regime (threshold
    * ≥ ~0.85, where banded sign-LSH actually prunes) would be vacuous
    * without planting; the noise is md5-derived, so the DuckDB oracle
    * reproduces the planted corpus — and therefore the whole pipeline —
    * bit-for-bit, exactly like the hyperplanes themselves. */
  private val plantedNormEmb = StageMemo.stage("planted_emb") { (s, dir) =>
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // eps(id, i) — the LshPlanes formula over a 'plant:' key space:
    // CAST('0x'||substr(md5('plant:'||id||':'||i),1,8) AS BIGINT)
    //   / 4294967296.0 - 0.5 in the oracle, bit-identical here
    val eps = (i: Column) =>
      T.md5Int(concat(lit("plant:"), col("vec_id").cast("string"),
        lit(":"), i.cast("string")), 8) / lit(4294967296.0) - lit(0.5)
    val amp = lit(0.5) + (col("vec_id") % 8).cast("double") * lit(0.3)
    val copies = base.filter(col("vec_id") < 40)
      .select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => x * (lit(1.0) + amp * eps(i))).as("embedding"))
      .select((col("vec_id") + lit(100000L)).as("vec_id"), col("embedding"))
    Similarity.normalizeCorpus(base.unionAll(copies), "vec_id", "embedding")
  }

  // exact dedup — hash-groupBy on normalized fingerprint
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("fp")

  // token counting: whitespace + BPE-ish subword-regex
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.bpeishTokenCount(col("text")).cast("int").as("n_bpe_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  // quality scoring — repetition / token-shape / stopword signals
  def quality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        T.uniqueTokenRatio(col("text")).as("uniq_ratio"),
        T.meanTokenLength(col("text")).as("mean_tok_len"),
        T.punctRatio(col("text")).as("punct_ratio"),
        T.stopwordRatio(col("text")).as("stopword_ratio"),
        T.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  // language-ID heuristic (stopword-profile argmax)
  def langId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), T.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  // document fingerprinting — md5 (normalized) + sha256 (raw)
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        T.fingerprint(col("text")).as("fp"),
        sha2(col("text"), 256).as("sha"))
      .orderBy("doc_id")

  // q249: compression-ratio quality signal — deflate(text)/bytes per
  // document, bucketed into deciles. Template spam and boilerplate
  // compress far below natural prose; mojibake/binary junk sits near
  // 1.0 — a one-scan corpus-quality histogram used by published
  // curation pipelines. The native graft_deflate_len expression
  // streams zlib over the UTF8 bytes inside whole-stage codegen and
  // returns only the LENGTH (no compressed buffer ever materializes),
  // so at 100 TB this is a map-only pass + one tiny keyed aggregate.
  def compressRatio(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        octet_length(col("text")).as("raw_bytes"),
        call_function("graft_deflate_len", col("text")).as("zl_bytes"))
      .filter(col("raw_bytes") > 0)
      .withColumn("ratio", col("zl_bytes").cast("double") / col("raw_bytes"))
      .groupBy(least(floor(col("ratio") * 10).cast("int"), lit(9))
        .as("ratio_decile"))
      .agg(count(lit(1)).as("n_docs"),
        M.oracleRound(avg(col("ratio")), 4).as("mean_ratio"),
        M.oracleRound(avg(col("raw_bytes")), 2).as("mean_bytes"))
      .orderBy("ratio_decile")

  // q249 (gate): oracle-checkable compressibility PROXY — distinct
  // character-trigram ratio per document, bucketed into deciles.
  // Deflate output length is implementation-defined across engines,
  // so the oracle-GATED metric is shingle novelty: repeated trigrams
  // are exactly what LZ77's window elides, so boilerplate/template
  // spam sits in the low deciles and natural prose near 1.0 — the
  // same curation signal as [[compressRatio]], but SQL-statable on
  // both sides (the deflate expression stays spec-validated engine
  // surface; StatsWaveSpec recomputes it against java.util.zip).
  // Scale shape: map-only per-row shingle set (docs are bounded-
  // length) + one tiny keyed aggregate — no shuffle beyond 10 rows.
  def compressibility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        octet_length(col("text")).as("raw_bytes"),
        expr("transform(sequence(1, length(text) - 2)," +
          " i -> substring(text, i, 3))").as("sh"))
      .select(col("doc_id"), col("raw_bytes"),
        (size(array_distinct(col("sh"))).cast("double") /
          size(col("sh")).cast("double")).as("ratio"))
      .groupBy(least(floor(col("ratio") * 10).cast("int"), lit(9))
        .as("ratio_decile"))
      .agg(count(lit(1)).as("n_docs"),
        M.oracleRound(avg(col("ratio")), 4).as("mean_ratio"),
        M.oracleRound(avg(col("raw_bytes")), 2).as("mean_bytes"))
      .orderBy("ratio_decile")

  // q250: blocked Jaro–Winkler record linkage over part names —
  // blocks on (p_brand, p_size) so the O(la·lb) scorer only ever runs
  // inside a block, then ranks the surviving pairs within each brand
  // (row_number over the small post-threshold pair frame) and keeps
  // the top 5 — the dedupe-candidate shortlist an ER pipeline hands
  // to review. Scorer is the native graft_jaro_winkler expression
  // (codegen'd; semantics pinned to the oracle engine's function in
  // StatsWaveSpec), 4-dp pinned BEFORE both the threshold and the
  // rank so the two engines order identically.
  def recordLinkage(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_brand")
      .orderBy(col("jw").desc, col("name_a"), col("name_b"))
    CorpusOps.linkagePairs(Tables.part(s, dir), "p_name",
        Seq("p_brand", "p_size"), minSim = 0.8)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("p_brand").as("brand"), col("name_a"), col("name_b"),
        col("jw"), col("rnk"))
      .orderBy("brand", "rnk")
  }

  // rolling-hash fingerprint (order-sensitive; rows-only check)
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), T.rollingHash(col("text")).as("rhash"))
      .orderBy("doc_id")

  // MinHash signature rows (doc_id, hash index, min-hash value). The
  // md5-prefix hash family makes every value SQL-reproducible, so the
  // full signature matrix is DuckDB-oracled.
  def minhashSig(s: SparkSession, dir: String): DataFrame =
    stages(s, dir)._2
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("i", "mh")))
      .orderBy("doc_id", "i")

  // MinHash-LSH near-dup, threshold 0.7: candidate pairs from 16-band
  // LSH, then exact-Jaccard verification. The testdata's planted
  // near-dups sit at J >= 0.9 (next pairs below 0.3), where a 16-band /
  // 4-row signature collides with probability 1-(1-0.9^4)^16 ~ 1-4e-8 —
  // so the LSH output equals the exact J >= 0.7 pair set and the DuckDB
  // brute-force oracle hash-matches.
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    nearDupPairs(s, dir)
      .orderBy("id_a", "id_b")

  // SimHash fingerprints (rows-only)
  def simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Shared VERIFIED Jaccard pair stage: the exact rounded-J ≥ 0.3
    * scored pair set over the shared shingle stage (maxDf 50),
    * localCheckpointed once per (session, dir). The candidate
    * generation in [[Dedup.ngramJaccardPairsFromSets]] is
    * threshold-INDEPENDENT (every pair sharing a sub-maxDf shingle is
    * scored exactly; the threshold only filters the verified scores),
    * so any τ ≥ 0.3 consumer — q32's τ=0.5 pair set, q127's leakage
    * audit, q296's attrition grid — is a FILTER over this one frame,
    * bit-identical to recomputing at its own τ. The frame is near-dup
    * pairs only (KBs); without it each consumer re-runs the candidate
    * join (VERDICT r10: q127 at 19.8 s rebuilding what q32 computes). */
  private val jaccardPairs03 = StageMemo.stage("jaccard_pairs") { (s, dir) =>
    Dedup.ngramJaccardPairsFromSets(stages(s, dir)._1, "doc_id",
        threshold = 0.3, maxDf = 50)
      .localCheckpoint()
  }

  // n-gram Jaccard pairs via prefix-filtered inverted index, threshold
  // 0.5. Near-dup pairs share many doc-specific (df=2) shingles, so the
  // stop-shingle cap cannot drop a qualifying pair's only candidate
  // shingle, and the prefix bound admits every rounded-J >= 0.5 pair —
  // the output equals the exact J >= 0.5 pair set (DuckDB-oracled).
  // Rides [[jaccardPairs03]]: same verified scores, filtered at τ.
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs03(s, dir).filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")

  // Sorted-neighborhood near-dup pairs over the normalized-prefix key
  // (window 5, edit distance ≤ 4): the O(n·w) blocking alternative to
  // LSH for prefix-similar variants. Key = first 40 chars of the q23
  // fingerprint normalization (lower + trim + collapsed whitespace).
  def sortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    Dedup.sortedNeighborhoodPairs(Tables.documents(s, dir), "doc_id",
        substring(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 1, 40),
        window = 5, maxDist = 4)
      .orderBy("id_a", "id_b")

  // q147: containment near-dups over a planted fragment corpus — every
  // 7th document contributes a prefix fragment (first ⌈n/2⌉ tokens,
  // id + 200000) whose shingles are a strict subset of its original's:
  // containment(frag→orig) = 1.0 while Jaccard sits near |frag|/|orig|
  // ≈ 0.5, i.e. exactly the sub-document duplication a resemblance
  // threshold never catches (the corpus itself has no natural
  // containment-only pairs — measured: every natural max-containment
  // ≥ 0.5 pair is also Jaccard ≥ 0.7). The jaccard column on each
  // emitted pair shows what the resemblance pipeline would have said.
  def containmentFragments(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val frags = d.filter(col("doc_id") % 7 === 0)
      .withColumn("__t", T.tokens(col("text")))
      .select((col("doc_id") + lit(200000L)).as("doc_id"),
        concat_ws(" ", slice(col("__t"), lit(1),
          floor((size(col("__t")) + lit(1)) / lit(2)).cast("int"))).as("text"))
    Dedup.containmentPairs(d.unionByName(frags), "doc_id", "text",
        shingleSize = 3, threshold = 0.8, maxDf = 100)
      .orderBy("id_a", "id_b")
  }

  // duplicate GROUPS: near-dup pairs (MinHash-LSH, J >= 0.7) collapsed
  // into connected components; group id = the canonical keeper (min
  // doc_id). The final step of corpus near-dedup: everything with
  // doc_id != group_id gets dropped.
  def dupGroups(s: SparkSession, dir: String): DataFrame =
    dupComponents(s, dir)
      .select(col("node").as("doc_id"), col("comp").as("group_id"))
      .orderBy("doc_id")

  // the end-to-end corpus-cleaning pipeline — what the engine exists
  // for at 100 TB: keep each exact-duplicate class's canonical doc
  // (min doc_id per normalized fingerprint), drop non-canonical members
  // of near-dup groups (MinHash-LSH pairs → connected components,
  // J >= 0.7), and enforce a quality floor. One semi-join + one
  // anti-join + a codegen'd filter over the shared MinHash stages;
  // every constituent is independently oracled (q23/q25/q49), and the
  // composite is exactly DuckDB-oracled too.
  /** q23's canonical keepers (min doc_id per normalized fingerprint)
    * as a one-column id frame — the exact-dedup gate shared by q55 and
    * the q115 funnel (one definition, so the gates cannot drift). */
  private def exactKeepers(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
      .select(col("keep_id").as("doc_id"))

  /** q49's near-dup-component losers (non-minimum members) as a
    * one-column id frame — shared by q55 and the q115 funnel. */
  private def nearDupLosers(s: SparkSession, dir: String): DataFrame =
    dupComponents(s, dir)
      .filter(col("node") =!= col("comp"))
      .select(col("node").as("doc_id"))

  def cleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val exactKeep = exactKeepers(s, dir)
    val nearDupLosers0 = nearDupLosers(s, dir)
    // score once, materialized: FilterExec and ProjectExec each
    // evaluate their own trees (pushdown re-substitutes the full
    // expression), so filtering on qualityScore(text) directly would
    // re-tokenize every surviving doc several times — the checkpoint
    // holds the narrow (id, n_tokens, quality) projection and the
    // filter reads computed values
    val scored = docs.select(col("doc_id"),
        T.tokenCount(col("text")).as("n_tokens"),
        T.qualityScore(col("text")).as("quality"))
      .localCheckpoint()
    scored
      .filter(col("quality") >= 0.5)
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(nearDupLosers0, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  // The WHOLE curation recipe as one declarative plan: per-stage
  // survivor stats (docs + tokens) through lang filter → quality floor
  // → exact-dedup canonical → near-dup canonical → decontamination →
  // train/val/test split. Every predicate is the corresponding gate
  // query's (q26/q25+q55/q23/q49/q61/q59), computed GLOBALLY and
  // intersected as AND-prefixes (the q55 convention), so the oracle
  // recomposes their CTEs verbatim. Scale shape: the predicates are
  // per-row projections plus three id-keyed flag joins riding the
  // shared shingle/component stages; the funnel itself is ONE
  // conditional aggregation over the corpus (map-side combined to a
  // single row) unpivoted to 9 rows — at 100 TB this adds one scan
  // over what the constituent stages already pay.
  /** The funnel's per-doc flag frame (id, domain, tokens, predicate
    * inputs, split bucket) — shared by q115 (stage totals) and q443
    * (per-domain shipped-vs-target mixture), so the two reports are
    * definitionally over the SAME funnel and ride the same
    * exact-dedup / near-dup / decontamination stages. */
  private def funnelFlags(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sets = stages(s, dir)._1
    val exactKeep = exactKeepers(s, dir).withColumn("__keep", lit(1))
    val losers = nearDupLosers(s, dir).withColumn("__loser", lit(1))
    val contam = CorpusOps.decontaminateFromSets(
        sets.filter(col("doc_id") >= 20), sets.filter(col("doc_id") < 20),
        "doc_id")
      .select(col("doc_id"), lit(1).as("__contam"))
    docs.filter(col("doc_id") >= 20)
      .select(col("doc_id"), col("source").as("domain"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"),
        T.langId(col("text")).as("__lang"),
        T.qualityScore(col("text")).as("__q"))
      .join(exactKeep, Seq("doc_id"), "left")
      .join(losers, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("__b", CorpusOps.hashBucket(col("doc_id"), "split", 100))
  }

  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    val flags = funnelFlags(s, dir)
    val c1 = col("__lang") === "en"
    val c2 = c1 && col("__q") >= 0.5
    val c3 = c2 && col("__keep").isNotNull
    val c4 = c3 && col("__loser").isNull
    val c5 = c4 && col("__contam").isNull
    val stageDefs: Seq[(Int, String, Column)] = Seq(
      (0, "corpus", lit(true)),
      (1, "lang_en", c1),
      (2, "quality", c2),
      (3, "exact_canonical", c3),
      (4, "near_dup_canonical", c4),
      (5, "decontaminated", c5),
      (6, "train", c5 && col("__b") < 80),
      (7, "val", c5 && col("__b") >= 80 && col("__b") < 90),
      (8, "test", c5 && col("__b") >= 90))
    val aggCols = stageDefs.flatMap { case (i, _, c) => Seq(
      sum(when(c, 1L).otherwise(0L)).as(s"d$i"),
      sum(when(c, col("n_tokens")).otherwise(0L)).as(s"t$i")) }
    val rows = stageDefs.map { case (i, name, _) =>
      struct(lit(i).as("stage_id"), lit(name).as("stage"),
        col(s"d$i").as("n_docs"), col(s"t$i").as("n_tokens")) }
    flags.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(rows: _*)).as("r"))
      .select("r.stage_id", "r.stage", "r.n_docs", "r.n_tokens")
      .orderBy("stage_id")
  }

  // The curation run's closing report: per-domain, what mixture did
  // the funnel ACTUALLY ship to training vs the q83 target plan —
  // corpus tokens in, train-split tokens out, shipped share of the
  // train corpus, the md5-derived target share, and the signed gap.
  // This is the one table a training run reads first: a domain whose
  // delta_pct is large lost disproportionate mass to dedup/quality/
  // decon and the mixture weights need rebalancing before sampling.
  // Rides funnelFlags (one conditional aggregation per domain over
  // the shared q115 flag frame) — at 100 TB this is a map-side
  // combined groupBy on a low-cardinality key plus two broadcast
  // 1-row/dim joins; no new heavy stage.
  def shippedMixture(s: SparkSession, dir: String): DataFrame = {
    val flags = funnelFlags(s, dir)
    val ship = col("__lang") === "en" && col("__q") >= 0.5 &&
      col("__keep").isNotNull && col("__loser").isNull &&
      col("__contam").isNull && col("__b") < 80
    val perDomain = flags.groupBy("domain").agg(
      count(lit(1)).as("corpus_docs"),
      sum("n_tokens").as("corpus_tokens"),
      sum(when(ship, 1L).otherwise(0L)).as("shipped_docs"),
      sum(when(ship, col("n_tokens")).otherwise(0L)).as("shipped_tokens"))
    // q83's target derivation verbatim (md5-derived % in [1, 9]) so the
    // two reports can never disagree about the plan
    val target = Tables.documents(s, dir)
      .select(col("source").as("domain")).distinct()
      .withColumn("target_pct",
        (pmod(T.md5Int(concat(lit("mix:"), col("domain")), 8), lit(9L)) + 1)
          .cast("int"))
    val tot = perDomain.agg(
      sum("shipped_tokens").cast("double").as("__tot"))
    perDomain.join(target, Seq("domain"))
      .crossJoin(broadcast(tot))
      .withColumn("shipped_pct",
        M.oracleRound(
          lit(100.0) * col("shipped_tokens").cast("double") / col("__tot"), 4))
      .select(col("domain"), col("corpus_docs"), col("corpus_tokens"),
        col("shipped_docs"), col("shipped_tokens"), col("shipped_pct"),
        col("target_pct"),
        M.oracleRound(
          col("shipped_pct") - col("target_pct").cast("double"), 4)
          .as("delta_pct"))
      .orderBy("domain")
  }

  // corpus-level TF-IDF: top-5 terms per document (smoothed idf,
  // deterministic rounded-score ranking — exactly DuckDB-oracled)
  def tfidfTop(s: SparkSession, dir: String): DataFrame =
    TextCorpus.tfidfFromToks(Tables.documents(s, dir), lowerToks(s, dir),
        "doc_id", k = 5)
      .orderBy("doc_id", "rnk")

  // BM25 retrieval ranking against a fixed term query (top-20 docs) —
  // the rounded-score ranking makes it exactly DuckDB-oracled
  def bm25(s: SparkSession, dir: String): DataFrame =
    TextCorpus.bm25FromToks(Tables.documents(s, dir), lowerToks(s, dir),
        "doc_id", queryTerms = Seq("join", "hash", "scan", "filter"), k = 20)
      .orderBy("rnk")

  // multimodal metadata extraction: text bytes stand in for an opaque
  // media payload; schema/chunking/stub-decode plumbing per Multimodal
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaMeta(
      Tables.documents(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("media")),
      "doc_id", "media")
      .orderBy("doc_id")

  // REAL multimodal decode: deterministic 16-bit PCM WAV bytes are
  // BUILT per doc (rate/channels/length are pure functions of doc_id),
  // then the engine recovers every parameter by PARSING the RIFF
  // header bytes — the decode is real byte arithmetic (and is
  // independently validated against javax.sound-written files in the
  // spec); only the payload content is synthetic silence. The oracle
  // restates the generation parameters, so any header-layout or
  // endianness bug in the parser goes red.
  def wavDecode(s: SparkSession, dir: String): DataFrame = {
    val rate = element_at(
      array(lit(8000), lit(16000), lit(22050), lit(44100)),
      (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
    val channels = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
    val n = (pmod(col("doc_id"), lit(997)) + 1).cast("int")
    // staged selects, NOT one flat projection: the struct is a
    // non-cheap alias referenced six times, so CollapseProject keeps
    // the project boundaries and the bytes/parse evaluate ONCE per row
    // (the flat form inlined the whole build+parse tree per output
    // field — measured 8.6 s -> ~1 s at sf0.1)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Multimodal.wavBytes(rate, channels, n).as("__wav"))
      .select(col("doc_id"), Multimodal.wavMeta(col("__wav")).as("__m"))
      .select(col("doc_id"),
        col("__m.channels").as("channels"),
        col("__m.sample_rate").as("sample_rate"),
        col("__m.bits").as("bits"),
        col("__m.n_samples").as("n_samples"),
        col("__m.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  // REAL image decode: deterministic PPM (P6) bytes are BUILT per doc
  // (dims pure functions of doc_id, pixel bytes md5-derived), then the
  // engine recovers dims/maxval by PARSING the variable-width ASCII
  // header digit-by-digit AND computes per-channel means straight
  // from the payload bytes. The oracle restates the generator's
  // closed form — a parse-offset or channel-interleave bug goes red
  // on the means, not just the header fields.
  // REAL compressed-image decode: a spec-complete PNG (zlib IDAT split
  // across chunks, per-row filter cycling through all five types, CRC
  // everywhere) is BUILT per doc, then fully DECODED — chunk walk, CRC
  // verify, inflate, un-filter — into per-channel means. The oracle
  // restates the generator's md5 closed form; any encode/filter/
  // inflate/offset bug goes red on the means. n_idat is real but
  // deflate-length-dependent, so the gate projects it out.
  def pngDecode(s: SparkSession, dir: String): DataFrame = {
    val w = (pmod(col("doc_id"), lit(12)) + 4).cast("int")
    val h = (pmod(col("doc_id"), lit(9)) + 5).cast("int")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        call_function("graft_png_bytes", w, h, col("doc_id")).as("__png"))
      .select(col("doc_id"),
        call_function("graft_png_decode", col("__png")).as("__m"))
      .select(col("doc_id"),
        col("__m.width").as("width"),
        col("__m.height").as("height"),
        col("__m.bit_depth").as("bit_depth"),
        col("__m.color_type").as("color_type"),
        col("__m.n_pixels").as("n_pixels"),
        col("__m.mean_r").as("mean_r"),
        col("__m.mean_g").as("mean_g"),
        col("__m.mean_b").as("mean_b"))
      .orderBy("doc_id")
  }

  // q258: perceptual difference-hash per image — the image-dedup
  // primitive. Bytes are REAL PNGs (built per doc), and the hash runs
  // a REAL decode (chunk walk + CRC + inflate + un-filter) before the
  // 9×8 nearest-neighbor grid and the 64 gradient bits; the oracle
  // restates the generator's md5 closed form, so a decode bug OR a
  // grid/bit-order bug goes red. Map-only at any scale; the four
  // 16-bit bands are the LSH buckets q259 joins on.
  def imageDhash(s: SparkSession, dir: String): DataFrame = {
    val w = (pmod(col("doc_id"), lit(12)) + 4).cast("int")
    val h = (pmod(col("doc_id"), lit(9)) + 5).cast("int")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        call_function("graft_png_bytes", w, h, col("doc_id")).as("__png"))
      .select(col("doc_id"),
        call_function("graft_png_dhash", col("__png")).as("__d"))
      .select(col("doc_id"), col("__d.b0").as("b0"), col("__d.b1").as("b1"),
        col("__d.b2").as("b2"), col("__d.b3").as("b3"))
      .orderBy("doc_id")
  }

  // q259: image near-dup detection over PLANTED photometric variants —
  // every 17th doc gets a +8-brightness copy (clamped per channel:
  // same content, different bytes, so sha-style exact dedup misses it
  // entirely). Pipeline: dHash every image (map-only), explode the
  // four 16-bit bands as LSH buckets, self-join on (band, value) —
  // candidates only, NEVER all pairs — then exact Hamming ≤ 10 on the
  // banded candidates. dHash's gradient bits survive the brightness
  // shift except where clamping bends the gradient, so planted pairs
  // land at small distances while unrelated images (random 64-bit
  // hashes) stay ~32 apart. The hashed frame is localCheckpointed:
  // 5 ints per image, reused by the explode and both hash-lookup
  // joins without re-encoding any PNG.
  def imageNeardup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val orig = docs.select((col("doc_id") * 2).as("img_id"),
      col("doc_id"), lit(0).as("delta"))
    val copies = docs.filter(pmod(col("doc_id"), lit(17)) === 0)
      .select((col("doc_id") * 2 + 1).as("img_id"),
        col("doc_id"), lit(8).as("delta"))
    val w = (pmod(col("doc_id"), lit(12)) + 4).cast("int")
    val h = (pmod(col("doc_id"), lit(9)) + 5).cast("int")
    val hashed = orig.unionByName(copies)
      .select(col("img_id"),
        call_function("graft_png_dhash",
          call_function("graft_png_bytes", w, h, col("doc_id"),
            col("delta"))).as("__d"))
      .select(col("img_id"), col("__d.b0").as("b0"), col("__d.b1").as("b1"),
        col("__d.b2").as("b2"), col("__d.b3").as("b3"))
      .localCheckpoint()
    val bands = hashed.select(col("img_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band", "v")))
    // candidate rule: >= 2 of the 4 bands collide. Tiny upsampled
    // images carry FORCED-ZERO gradient bits (NN grid repeats source
    // columns), so single-band collisions between unrelated images
    // are common; requiring a second independent band kills those
    // (measured at sf0.01: 123 unrelated single-band candidates ->
    // ~0, all 30 planted pairs keep >= 3 identical bands)
    val cand = bands.toDF("id_a", "band", "v")
      .join(bands.toDF("id_b", "band", "v"), Seq("band", "v"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= 2)
    val ha = hashed.toDF("id_a", "a0", "a1", "a2", "a3")
    val hb = hashed.toDF("id_b", "c0", "c1", "c2", "c3")
    cand.join(ha, "id_a").join(hb, "id_b")
      .withColumn("hamming",
        (bit_count(col("a0").bitwiseXOR(col("c0"))) +
          bit_count(col("a1").bitwiseXOR(col("c1"))) +
          bit_count(col("a2").bitwiseXOR(col("c2"))) +
          bit_count(col("a3").bitwiseXOR(col("c3")))).cast("int"))
      .filter(col("hamming") <= 10)
      .select(col("id_a"), col("id_b"), col("n_bands").cast("int")
        .as("n_bands"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  // q182: real GIF87a round-trip — generator carries a from-scratch
  // LZW compressor (the first non-JDK compression in the family),
  // decoder walks the structure strictly and LZW-decodes; the oracle
  // restates the md5 index closed form including the full index-stream
  // digest, so a single mis-decoded pixel anywhere goes red. Dims up
  // to 16x14 exercise multiple code-width growths; both expressions
  // native (the q140 lesson: per-byte builtin compositions blow up).
  def gifDecode(s: SparkSession, dir: String): DataFrame = {
    val w = (pmod(col("doc_id"), lit(13)) + 4).cast("int")
    val h = (pmod(col("doc_id"), lit(11)) + 4).cast("int")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        call_function("graft_gif_bytes", w, h, col("doc_id")).as("__gif"))
      .select(col("doc_id"),
        call_function("graft_gif_decode", col("__gif")).as("__m"))
      .select(col("doc_id"),
        col("__m.width").as("width"),
        col("__m.height").as("height"),
        col("__m.gct_size").as("gct_size"),
        col("__m.n_pixels").as("n_pixels"),
        col("__m.c0").as("c0"), col("__m.c1").as("c1"),
        col("__m.c2").as("c2"), col("__m.c3").as("c3"),
        col("__m.idx_md5").as("idx_md5"))
      .orderBy("doc_id")
  }

  // q190: image pipeline stage — decode + nearest-neighbor HALVE of
  // the q182 GIFs (resize to (w div 2)+1 x (h div 2)+1); the resized
  // raster's index digest has the source's md5 closed form under the
  // integer NN remap, so the whole decode->resample path is
  // hash-verified, not just its means
  def gifResize(s: SparkSession, dir: String): DataFrame = {
    val w = (pmod(col("doc_id"), lit(13)) + 4).cast("int")
    val h = (pmod(col("doc_id"), lit(11)) + 4).cast("int")
    val w2 = (pmod(col("doc_id"), lit(13)).cast("int") + 4) / 2 + 1
    val h2 = (pmod(col("doc_id"), lit(11)).cast("int") + 4) / 2 + 1
    Tables.documents(s, dir)
      .select(col("doc_id"),
        call_function("graft_gif_bytes", w, h, col("doc_id")).as("__gif"),
        w2.cast("int").as("__w2"), h2.cast("int").as("__h2"))
      .select(col("doc_id"),
        call_function("graft_gif_resize", col("__gif"), col("__w2"),
          col("__h2")).as("__m"))
      .select(col("doc_id"),
        col("__m.width").as("width"),
        col("__m.height").as("height"),
        col("__m.n_pixels").as("n_pixels"),
        col("__m.c0").as("c0"), col("__m.c1").as("c1"),
        col("__m.c2").as("c2"), col("__m.c3").as("c3"),
        col("__m.idx_md5").as("idx_md5"))
      .orderBy("doc_id")
  }

  def ppmDecode(s: SparkSession, dir: String): DataFrame = {
    val w = (pmod(col("doc_id"), lit(5)) + 2).cast("int")
    val h = (pmod(col("doc_id"), lit(3)) + 2).cast("int")
    val withMeta = Multimodal.withPpmMeta(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Multimodal.ppmBytes(w, h, col("doc_id")).as("__ppm")),
      "__ppm", "__m")
    withMeta.select(col("doc_id"),
        col("__m.width").as("width"),
        col("__m.height").as("height"),
        col("__m.maxval").as("maxval"),
        col("__m.n_pixels").as("n_pixels"),
        col("__m.mean_r").as("mean_r"),
        col("__m.mean_g").as("mean_g"),
        col("__m.mean_b").as("mean_b"))
      .orderBy("doc_id")
  }

  // REAL audio signal stats: md5-derived (non-silent) 16-bit PCM is
  // BUILT per doc, then peak/RMS are computed by DECODING every
  // little-endian two's-complement sample from the payload bytes —
  // the q130 content-verification move for audio. Oracle restates the
  // generator's closed form; a sign-fold or endianness bug goes red.
  def wavSignal(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Multimodal.wavBytesPcm(lit(16000), lit(1),
        (pmod(col("doc_id"), lit(97)) + 4).cast("int"), col("doc_id"))
        .as("__wav"))
      .select(col("doc_id"), Multimodal.wavSignalStats(col("__wav")).as("__s"))
      .select(col("doc_id"),
        col("__s.n_samples").as("n_samples"),
        col("__s.peak").as("peak"),
        col("__s.rms").as("rms"))
      .orderBy("doc_id")

  // q262: audio envelope fingerprint + container-invariant dedup —
  // every 13th doc gets a COPY re-wrapped at a different declared
  // sample rate (identical PCM payload, different container bytes:
  // the re-encoded-upload class exact byte hashing misses). Each
  // clip's 30-bit fingerprint (15 energy-envelope gradient bits + 15
  // zero-crossing gradient bits over 16×32 frames — exact integers,
  // so the md5 closed form gives an exact oracle) is ONE codegen'd
  // native call over the container bytes (Multimodal.audioEnvelopeFp
  // → graft_audio_fp), so the whole decode+frame+gradient stage is
  // map-only: no per-sample explode, no windows, no corpus-sized
  // shuffle (the r9 plan re-embedded the WAV generator across a
  // 512-row explode + two per-sample windows and paid 12.7 s). The
  // tiny (audio_id, fp) frame is localCheckpointed so the dup-pair
  // self-join's two sides share one generator+fingerprint pass.
  // Equal fingerprints join into dup pairs — at 100 TB: one map
  // pass, one equi-join on the 30-bit key.
  def audioFingerprint(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val orig = docs.select((col("doc_id") * 2).as("audio_id"),
      col("doc_id"), lit(16000).as("rate"))
    val copies = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      .select((col("doc_id") * 2 + 1).as("audio_id"),
        col("doc_id"), lit(44100).as("rate"))
    val fp = orig.unionByName(copies)
      .select(col("audio_id"),
        Multimodal.wavBytesPcm(col("rate"), lit(1), lit(512),
          col("doc_id")).as("__wav"))
      .select(col("audio_id"),
        Multimodal.audioEnvelopeFp(col("__wav"), 32).as("fp"))
      .localCheckpoint()
    fp.toDF("id_a", "fp")
      .join(fp.toDF("id_b", "fp"), "fp")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "fp")
      .orderBy("id_a", "id_b")
  }

  // q263: simplified (centroid-based) silhouette of the embedding
  // space per label — the cluster-quality panel a curation pipeline
  // reads before trusting labels for stratification: a = distance to
  // own centroid, b = distance to the nearest OTHER centroid,
  // silhouette = mean (b−a)/max(a,b). One posexplode pass; centroids
  // are a (labels × dims) micro-frame; the distance join fans each
  // point-dim row out by |labels| only — never point × point.
  def embeddingSilhouette(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
      .localCheckpoint() // reused by the centroid fit and the join
    val c = p.groupBy(col("label").as("lab"), col("dim"))
      .agg(avg(col("v")).as("cv"))
    val d = p.join(c, "dim")
      .groupBy(col("vec_id"), col("label"), col("lab"))
      .agg(sum(pow(col("v") - col("cv"), 2)).as("sq"))
    val ab = d.groupBy("vec_id", "label")
      .agg(sqrt(max(when(col("lab") === col("label"), col("sq")))).as("a"),
        sqrt(min(when(col("lab") =!= col("label"), col("sq")))).as("b"))
    ab.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        M.oracleRound(avg(col("a")), 4).as("avg_a"),
        M.oracleRound(avg(col("b")), 4).as("avg_b"),
        M.oracleRound(avg((col("b") - col("a")) /
          greatest(col("a"), col("b"))), 4).as("silhouette"))
      .orderBy("label")
  }

  // q264: scale-robustness audit of the perceptual hash — every 11th
  // image is REALLY resized 2× (graft_png_resize: decode → NN
  // resample → re-encode through the shared filter/deflate/CRC
  // back-half) and re-hashed; the output is the per-image Hamming
  // distance between the original's and the thumbnail's dHash. NN
  // grid sampling composes floors (grid→resized→original), which the
  // oracle restates exactly, so this also pins that the resize
  // expression samples precisely the pixels it claims. At scale:
  // map-only (decode+resize+hash per row, no joins at all).
  def imageScaleInvariance(s: SparkSession, dir: String): DataFrame = {
    val w = (pmod(col("doc_id"), lit(12)) + 4).cast("int")
    val h = (pmod(col("doc_id"), lit(9)) + 5).cast("int")
    Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(11)) === 0)
      .select(col("doc_id"),
        call_function("graft_png_bytes", w, h, col("doc_id")).as("__png"),
        (w * 2).as("__w2"), (h * 2).as("__h2"))
      .select(col("doc_id"),
        call_function("graft_png_dhash", col("__png")).as("__d1"),
        call_function("graft_png_dhash",
          call_function("graft_png_resize", col("__png"),
            col("__w2"), col("__h2"))).as("__d2"))
      .select(col("doc_id"),
        (bit_count(col("__d1.b0").bitwiseXOR(col("__d2.b0"))) +
          bit_count(col("__d1.b1").bitwiseXOR(col("__d2.b1"))) +
          bit_count(col("__d1.b2").bitwiseXOR(col("__d2.b2"))) +
          bit_count(col("__d1.b3").bitwiseXOR(col("__d2.b3"))))
          .cast("int").as("hamming"))
      .orderBy("doc_id")
  }

  // q265: two-NN intrinsic-dimension estimate (Facco et al.) — the
  // embedding-space health number curation reads before trusting
  // nearest-neighbor structure: for each sampled point the ratio
  // μ = d2/d1 of its two nearest Euclidean distances, and the MLE
  // id ≈ n / Σ ln μ. Distances via the native graft_dot (squared
  // form, no sqrt until the ratio); the pair stage is SAMPLE × corpus
  // with a FIXED-SIZE md5 sample (the r14 second-decade lesson: a
  // modulus sample grows with the corpus and turns sample × corpus
  // quadratic — q304 read slope 213× at sf0.1→sf1 with exactly this
  // shape; 32 hash-ranked probes estimate id just as well and keep
  // the stage linear in corpus rows).
  def twoNnDimension(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("e"))
    val sample = md5Panel(emb, "vec_id", "idq", 32, Seq("vec_id", "e"))
      .toDF("qid", "qe")
    val sq = sample.crossJoin(emb.toDF("cid", "ce"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"),
        col("cid"),
        (call_function("graft_dot", col("qe"), col("qe"))
          + call_function("graft_dot", col("ce"), col("ce"))
          - lit(2.0) * call_function("graft_dot", col("qe"), col("ce")))
          .as("sq"))
      .withColumn("rn", row_number().over(
        w.partitionBy("qid").orderBy(col("sq"), col("cid"))))
      .filter(col("rn") <= 2)
    val mu = sq.groupBy("qid")
      .agg(max(when(col("rn") === 1, col("sq"))).as("sq1"),
        max(when(col("rn") === 2, col("sq"))).as("sq2"))
      // duplicate embeddings make sq1 = 0 → Inf/NaN mu would poison
      // id_hat and the quantiles; drop degenerate sample points (the
      // oracle applies the same guard)
      .filter(col("sq1") > 0)
      .select(col("qid"), sqrt(col("sq2") / col("sq1")).as("mu"))
    mu.agg(
      count(lit(1)).as("n_sample"),
      M.oracleRound(count(lit(1)).cast("double")
        / sum(log(col("mu"))), 4).as("id_hat"),
      M.oracleRound(expr("percentile(mu, 0.5D)"), 4).as("mu_p50"),
      M.oracleRound(expr("percentile(mu, 0.9D)"), 4).as("mu_p90"))
  }

  // q266: centroid label-noise audit — confident-learning-lite over
  // the q263 machinery: a point whose NEAREST label centroid is not
  // its own label is a mislabel suspect; per label, the suspect count
  // and rate. Same scale shape as q263 (fan-out by |labels| only).
  def labelNoiseAudit(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val p = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
      .localCheckpoint()
    val c = p.groupBy(col("label").as("lab"), col("dim"))
      .agg(avg(col("v")).as("cv"))
    val d = p.join(c, "dim")
      .groupBy(col("vec_id"), col("label"), col("lab"))
      .agg(sum(pow(col("v") - col("cv"), 2)).as("sq"))
    val nearest = d
      .withColumn("rn", row_number().over(
        w.partitionBy("vec_id").orderBy(col("sq"), col("lab"))))
      .filter(col("rn") === 1)
    nearest.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("lab") =!= col("label"), 1L).otherwise(0L))
          .as("n_suspect"))
      .withColumn("noise_rate", M.oracleRound(
        col("n_suspect").cast("double") / col("n_vecs"), 4))
      .orderBy("label")
  }

  // q359: nearest-centroid classifier EVAL — the held-out accuracy
  // loop q266's noise audit lacks: md5 hash split (bucket % 5 == 0 is
  // the test fold), per-(label, dim) centroids fit on TRAIN only
  // (pinned 6 dp — the engine/oracle contract point), cosine
  // assignment with (score desc, label) tie-break, per-label accuracy.
  // Same scale shape as q263/q266: the corpus-sized work is one
  // posexplode + one (label, dim) aggregate; the scoring join fans
  // out test × |labels| only.
  def centroidEval(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val p = Tables.embeddings(s, dir)
      .withColumn("is_test",
        T.md5Int(concat(lit("ceval:"), col("vec_id").cast("string")), 8)
          % 5 === 0)
      .select(col("vec_id"), col("label"), col("is_test"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
      .localCheckpoint()
    val c = p.filter(!col("is_test"))
      .groupBy(col("label").as("lab"), col("dim"))
      .agg(M.oracleRound(avg(col("v")), 6).as("cv"))
    val best = p.filter(col("is_test")).join(c, "dim")
      .groupBy(col("vec_id"), col("label"), col("lab"))
      .agg(sum(col("v") * col("cv")).as("dot"),
        sum(col("v") * col("v")).as("vv"),
        sum(col("cv") * col("cv")).as("cc"))
      .withColumn("cos", M.oracleRound(
        col("dot") / sqrt(col("vv") * col("cc")), 6))
      .withColumn("rn", row_number().over(
        w.partitionBy("vec_id").orderBy(col("cos").desc, col("lab"))))
      .filter(col("rn") === 1)
    best.groupBy("label")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("lab") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc", M.oracleRound(
        col("n_correct").cast("double") / col("n_test"), 4))
      .orderBy("label")
  }

  // q368: sign-binarization fidelity — does the 64× cheaper 1-bit
  // embedding (sign per dim, Hamming distance) preserve the cosine
  // ordering? Over all 1/97 md5-sampled pairs of a FIXED-SIZE
  // 512-vector md5-ranked sample, bucket pairs by Hamming distance
  // (8 buckets of 8 bits) and report the mean 6-dp-pinned cosine per
  // bucket — a monotone-decreasing table means sign-LSH prefilters
  // are safe, a flat one means they are not. The fixed vector sample
  // is the r14 second-decade fix: the previous design hash-pruned
  // pairs AFTER a corpus × corpus cross join, so pair GENERATION was
  // still quadratic (measured slope 39.8× at sf0.1→sf1); fidelity is
  // a statistical property, and a constant 512-vector panel answers
  // it at any corpus size with a constant-cost pair stage.
  // Per-pair arithmetic stays in-row (zip_with/aggregate folds, no
  // dim explode).
  def signEmbedFidelity(s: SparkSession, dir: String): DataFrame = {
    val e = md5Panel(Tables.embeddings(s, dir), "vec_id", "sbq", 512,
      Seq("vec_id", "embedding"))
    val a = e.select(col("vec_id").as("ia"),
      col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"),
      col("embedding").as("vb"))
    val pairs = a.crossJoin(b)
      .filter(col("ia") < col("ib"))
      .filter(T.md5Int(concat(lit("sb:"), col("ia").cast("string"),
        lit(":"), col("ib").cast("string")), 8) % 97 === 0)
      .withColumn("da", transform(col("va"), x => x.cast("double")))
      .withColumn("db", transform(col("vb"), x => x.cast("double")))
    val dot = aggregate(zip_with(col("da"), col("db"), (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t)
    val na = aggregate(transform(col("da"), x => x * x),
      lit(0.0), (acc, t) => acc + t)
    val nb = aggregate(transform(col("db"), x => x * x),
      lit(0.0), (acc, t) => acc + t)
    val ham = aggregate(zip_with(col("da"), col("db"),
      (x, y) => when((x >= 0) =!= (y >= 0), 1L).otherwise(0L)),
      lit(0L), (acc, t) => acc + t)
    pairs
      .withColumn("cos", M.oracleRound(dot / sqrt(na * nb), 6))
      .withColumn("__ham", ham)
      .withColumn("bucket", (col("__ham") / 8).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        M.oracleRound(avg("cos"), 4).as("mean_cos"),
        min(col("__ham")).as("min_hamming"),
        max(col("__ham")).as("max_hamming"))
      .orderBy("bucket")
  }

  // q380: Zipf vs log-logistic on the token frequency spectrum —
  // which law actually fits decides sampling and vocab-truncation
  // policy (q166 FITS Zipf; this asks whether it SHOULD). Both are
  // OLS fits on the (rank, freq) points — Zipf in ln f ~ ln r,
  // log-logistic via ln f ~ logit((r−½)/V), the SQL-statable quantile
  // regressor — compared by R². Per-point ln terms quantize to 1e-4
  // BIGINTs (the q355/q362 fixed-point trick): OLS sums are exact
  // integer sums, order-free, within BIGINT up to ~10⁸ vocab (scale
  // cancels out of R² entirely).
  def zipfVsLoglogistic(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(s, dir)
      .select(explode(T.tokens(lower(col("text")))).as("wd"))
      .groupBy("wd").agg(count(lit(1)).as("f"))
      .withColumn("r", row_number().over(
        w.orderBy(col("f").desc, col("wd"))).cast("long"))
    val n = freq.agg(count(lit(1)).as("v"))
    // fixed-point regressors: y = ln f, x1 = ln r,
    // x2 = logit((r-0.5)/V) — the log-logistic quantile position
    val terms = freq.crossJoin(broadcast(n))
      .withColumn("y", M.oracleRound(
        log(col("f").cast("double")) * 1e4, 0).cast("long"))
      .withColumn("x1", M.oracleRound(
        log(col("r").cast("double")) * 1e4, 0).cast("long"))
      .withColumn("p", (col("r").cast("double") - 0.5) /
        col("v").cast("double"))
      .withColumn("x2", M.oracleRound(
        log(col("p") / (lit(1.0) - col("p"))) * 1e4, 0).cast("long"))
    def r2Of(x: String): Column = {
      val k = col("k").cast("double")
      val sx = col(s"s$x").cast("double"); val sy = col("sy").cast("double")
      val sxy = col(s"s${x}y").cast("double")
      val sxx = col(s"s$x$x").cast("double")
      val syy = col("syy").cast("double")
      val num = k * sxy - sx * sy
      (num * num) / ((k * sxx - sx * sx) * (k * syy - sy * sy))
    }
    terms.agg(count(lit(1)).as("k"),
        sum("y").as("sy"), sum(col("y") * col("y")).as("syy"),
        sum("x1").as("sx1"), sum(col("x1") * col("x1")).as("sx1x1"),
        sum(col("x1") * col("y")).as("sx1y"),
        sum("x2").as("sx2"), sum(col("x2") * col("x2")).as("sx2x2"),
        sum(col("x2") * col("y")).as("sx2y"))
      .select(col("k").as("vocab"),
        M.oracleRound(r2Of("x1"), 4).as("zipf_r2"),
        M.oracleRound(r2Of("x2"), 4).as("loglogistic_r2"),
        when(M.oracleRound(r2Of("x1"), 4) >=
          M.oracleRound(r2Of("x2"), 4), "zipf").otherwise("loglogistic")
          .as("better_model"))
  }

  // q388: Adjusted Rand Index between the q26 predicted-language
  // partition and the true lang labels — the CLUSTERING-level
  // agreement score (q322's kappa grades rows; ARI grades the
  // partition structure, chance-corrected): all pair-counting terms
  // C(n,2) are exact integers off one 5×5-ish contingency aggregate,
  // the index itself one closed-form double.
  def adjustedRand(s: SparkSession, dir: String): DataFrame = {
    val pred = Tables.documents(s, dir)
      .select(col("lang"), T.langId(col("text")).as("pred"))
    val cells = pred.groupBy("lang", "pred").agg(count(lit(1)).as("nij"))
    def c2(x: Column): Column = (x * (x - 1) / 2).cast("long")
    val byA = cells.groupBy("lang").agg(sum("nij").as("ai"))
      .agg(sum(c2(col("ai"))).as("sum_a2"))
    val byB = cells.groupBy("pred").agg(sum("nij").as("bj"))
      .agg(sum(c2(col("bj"))).as("sum_b2"))
    val tot = cells.agg(sum(c2(col("nij"))).as("sum_cells2"),
      sum("nij").as("n"))
    tot.crossJoin(byA).crossJoin(byB)
      .withColumn("cn2", c2(col("n")))
      .withColumn("expected",
        col("sum_a2").cast("double") * col("sum_b2") / col("cn2"))
      .withColumn("max_index",
        (col("sum_a2") + col("sum_b2")).cast("double") / 2)
      .select(col("n").as("n_docs"), col("sum_cells2"),
        col("sum_a2"), col("sum_b2"),
        M.oracleRound(col("expected"), 4).as("expected_index"),
        M.oracleRound((col("sum_cells2").cast("double") - col("expected"))
          / (col("max_index") - col("expected")), 4).as("ari"))
  }

  // q389: temperature-scaling grid for the q221 score — the standard
  // post-hoc calibration knob evaluated by held-nothing NLL over
  // T ∈ {0.5, 1, 2}: p_T = p^(1/T) / (p^(1/T) + (1−p)^(1/T)). Each
  // row's NLL term quantizes to a 1e-6 BIGINT (the fixed-point sum
  // discipline), so the per-T totals are exact integer sums and the
  // argmin is stable; scores clamp to [1e-6, 1−1e-6] before the log.
  def temperatureScaling(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.embeddings(s, dir).select(
      greatest(lit(1e-6), least(lit(1.0 - 1e-6),
        T.md5Int(concat(lit("cal:"), col("vec_id")), 4).cast("double") /
          lit(65536.0))).as("p"),
      when(col("label") < 5, 1.0).otherwise(0.0).as("y"))
    val grid = Seq(0.5, 1.0, 2.0).map { t =>
      val a = pow(col("p"), lit(1.0 / t))
      val b = pow(lit(1.0) - col("p"), lit(1.0 / t))
      val pt = a / (a + b)
      val term = -(col("y") * log(pt) +
        (lit(1.0) - col("y")) * log(lit(1.0) - pt))
      scored.select(M.oracleRound(term * 1e6, 0).cast("long").as("ti"))
        .agg(count(lit(1)).as("n"), sum("ti").as("s"))
        .select(lit(t).as("temperature"), col("n"),
          M.oracleRound(col("s").cast("double") / 1e6 / col("n"), 4)
            .as("mean_nll"), col("s").as("nll_fp"))
    }
    val all = grid.reduce(_ unionAll _)
    val best = all.agg(min("nll_fp").as("best_fp"))
    all.crossJoin(broadcast(best))
      .select(col("temperature"), col("n"), col("mean_nll"),
        when(col("nll_fp") === col("best_fp"), 1).otherwise(0)
          .as("is_best"))
      .orderBy("temperature")
  }

  // q378: skyline (Pareto frontier) of documents on (quality, length)
  // — the multi-objective PREFERENCE operator the engine lacked: keep
  // every doc no other doc dominates (≥ on both axes, > on one).
  // Distributed shape: collapse to the per-quality max-length
  // histogram (corpus-sized groupBy), run the exclusive running max
  // over the DISTINCT-QUALITY frame (≤ 10⁴ rows by the 4-dp pin —
  // a bounded window by construction), then one join back. A doc is
  // on the frontier iff it carries its quality's max length AND beats
  // every strictly-higher quality's max.
  def skylineDocs(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), T.qualityScore(col("text")).as("quality"),
        col("n_chars"))
    val perQ = docs.groupBy("quality").agg(max("n_chars").as("q_max"))
      .withColumn("hi_max", max(col("q_max")).over(
        w.orderBy(col("quality").desc)
          .rowsBetween(w.unboundedPreceding, -1)))
    docs.join(perQ, Seq("quality"))
      .filter(col("n_chars") === col("q_max") &&
        (col("hi_max").isNull || col("n_chars") > col("hi_max")))
      .select(col("doc_id"), col("quality"), col("n_chars"))
      .orderBy(col("quality").desc, col("doc_id"))
  }

  // q377: split-half language-ID stability — the mixed-language /
  // boilerplate detector the whole-doc classifier (q26) cannot be:
  // run the SAME profile argmax on each half of the token stream and
  // flag docs whose halves disagree. Per actual language: doc count,
  // unstable count, rate. One corpus-sized projection (the scoring is
  // a codegen'd expression, no shuffle until the tiny groupBy).
  def langidStability(s: SparkSession, dir: String): DataFrame = {
    def pick(ts: Column): Column = {
      val scored = T.langProfiles.toSeq.sortBy(_._1).map {
        case (lang, words) =>
          struct((-size(filter(ts, t => t.isin(words: _*))))
            .as("negScore"), lit(lang).as("lang"))
      }
      sort_array(array(scored: _*)).getItem(0).getField("lang")
    }
    val base = Tables.documents(s, dir)
      .withColumn("ts", T.tokens(lower(col("text"))))
      .withColumn("n", size(col("ts")))
      .filter(col("n") >= 4)
      .withColumn("h", (col("n") / 2).cast("int"))
    val preds = base
      .withColumn("p1", pick(slice(col("ts"), lit(1), col("h"))))
      .withColumn("p2", pick(slice(col("ts"), col("h") + 1,
        col("n") - col("h"))))
    preds.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("p1") =!= col("p2"), 1L).otherwise(0L))
          .as("n_unstable"))
      .withColumn("unstable_rate", M.oracleRound(
        col("n_unstable").cast("double") / col("n_docs"), 4))
      .orderBy("lang")
  }

  // q369: near-dup TRANSITIVITY audit — the quality gate on treating
  // near-dup clusters as connected components (q49/q97/q103 all do):
  // if a~b and b~c rarely implies a~c, component-canonical keepers
  // over-merge. Global clustering coefficient of the exact J ≥ 0.7
  // pair graph: 3·triangles / wedges, all integer until the final
  // ratio. The pair set reuses the q32 shingle machinery; the
  // triangle pass is two narrow self-joins on the (small) pair set.
  def neardupTransitivity(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        "doc_id", "text", shingleSize = 3, threshold = 0.7, maxDf = 100)
      .select(col("id_a").as("a"), col("id_b").as("b"))
      .localCheckpoint()
    val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
    val wedges = pairs.select(col("a").as("v"))
      .unionAll(pairs.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_nodes"),
        sum((col("d") * (col("d") - 1) / 2).cast("long")).as("n_wedges"))
    val tri = pairs.as("e1")
      .join(pairs.as("e2"), col("e1.b") === col("e2.a"))
      .join(pairs.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    nPairs.crossJoin(wedges).crossJoin(tri)
      .select(col("n_pairs"), col("n_nodes"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0)).otherwise(
          M.oracleRound(lit(3.0) * col("n_triangles") / col("n_wedges"),
            4)).as("transitivity"))
  }

  // q365: embedding-space anisotropy audit — the representation-
  // health check behind "all my cosines are 0.9": mean-vector energy
  // |μ|² vs mean squared norm E|x|² (their ratio ≈ the expected
  // cosine between two RANDOM vectors — ~0 for an isotropic space),
  // plus the top dimension's share of total variance (a few rogue
  // dims carrying the space is the usual failure). One posexplode +
  // one (dim) aggregate; everything from Σv/Σv² sums, means pinned
  // 6 dp before squaring.
  def embedAnisotropy(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
    val dims = p.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        sum(col("v") * col("v")).as("ssv"))
      .withColumn("mu", M.oracleRound(col("sv") / col("n"), 6))
      .withColumn("vard", M.oracleRound(
        col("ssv") / col("n") - col("mu") * col("mu"), 6))
    dims.agg(
        max(col("n")).as("n_vecs"),
        count(lit(1)).as("n_dims"),
        sum(col("mu") * col("mu")).as("mu2"),
        (sum("ssv") / max(col("n"))).as("en2"),
        max(col("vard")).as("vmax"),
        sum(col("vard")).as("vtot"))
      .select(col("n_vecs"), col("n_dims"),
        M.oracleRound(col("mu2"), 4).as("mu_norm2"),
        M.oracleRound(col("en2"), 4).as("mean_norm2"),
        M.oracleRound(col("mu2") / col("en2"), 4).as("anisotropy"),
        M.oracleRound(col("vmax") / col("vtot"), 4).as("top_var_share"))
  }

  // q360: Flesch reading-ease panel over the English corpus slice —
  // the classic readability quality screen. Syllables = [aeiouy]+
  // vowel runs over the lowercased text (the standard regex
  // heuristic, RE2-safe so the oracle states the same class),
  // sentences = [.!?]+ runs floored at 1, words = whitespace tokens
  // floored at 1. Per-doc score pinned 4 dp before the per-source
  // aggregation; one corpus-sized projection, one tiny groupBy.
  def fleschPanel(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("lang") === "en")
      .withColumn("words",
        greatest(T.tokenCount(col("text")), lit(1)).cast("double"))
      .withColumn("sents",
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
          .cast("double"))
      .withColumn("sylls",
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("double"))
      .withColumn("flesch", M.oracleRound(lit(206.835)
        - lit(1.015) * col("words") / col("sents")
        - lit(84.6) * col("sylls") / col("words"), 4))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        M.oracleRound(avg(col("flesch")), 4).as("mean_flesch"),
        M.oracleRound(avg(col("words") / col("sents")), 4)
          .as("words_per_sentence"),
        M.oracleRound(avg(col("sylls") / col("words")), 4)
          .as("syllables_per_word"),
        M.oracleRound(sum(when(col("flesch") < 30, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4).as("hard_rate"))
      .orderBy("source")
  }

  // q361: Yule's K lexical-richness characteristic per language — the
  // REPETITION-sensitive vocabulary statistic (Chao1/Good-Turing in
  // q327 estimate unseen mass; K measures how concentrated the SEEN
  // mass is): K = 10⁴·(Σ m²·V_m − N)/N², integer arithmetic until the
  // final division. One corpus-sized token explode → (lang, word)
  // counts (map-side combined), then a langs-sized fold.
  def yuleK(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), explode(T.tokens(lower(col("text")))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("m"))
      .groupBy("lang")
      .agg(sum("m").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("m") * col("m")).as("sm2"))
      .select(col("lang"), col("n_tokens"), col("vocab"),
        M.oracleRound(lit(1e4) *
          (col("sm2") - col("n_tokens")).cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double"), 4)
          .as("yule_k"))
      .orderBy("lang")

  // q362: multinomial naive-Bayes language classifier over char
  // trigrams — the LEARNED companion to q26's stopword heuristic and
  // q317's confusion audit: md5 %5 held-out fold, Laplace-smoothed
  // per-(lang, trigram) log-likelihoods, per-doc argmax. Determinism
  // by FIXED-POINT log-probs (the q355 trick): every log term is
  // quantized to a 1e-6 BIGINT once per (lang, trigram) — per-doc
  // scores are then exact integer sums, order-free, and the argmax
  // tie-breaks by language. Scale shape: trigram explode is
  // corpus-sized; model fit is one (lang, tri) groupBy; scoring joins
  // the test trigram multiset against the model on the trigram key.
  def nbLangid(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .withColumn("norm", regexp_replace(lower(col("text")), "\\s+", " "))
      .filter(length(col("norm")) >= 3)
      .withColumn("is_test",
        T.md5Int(concat(lit("nb:"), col("doc_id").cast("string")), 8)
          % 5 === 0)
      .select("doc_id", "lang", "norm", "is_test")
      .localCheckpoint()
    // ONE explode+substring pass: the train branch (model counts) and
    // the test branch (per-doc counts) previously each re-executed the
    // full position-explode off the docs checkpoint — the single most
    // expensive stage of this query, paid twice. Aggregating to per-doc
    // trigram counts first (a pure refactor: count over instances =
    // sum of per-doc counts) and checkpointing THAT (≪ the instance
    // frame — distinct trigrams per doc) halves the explode work.
    val triCounts = docs
      .select(col("doc_id"), col("lang"), col("is_test"),
        explode(expr("sequence(1, length(norm) - 2)")).as("i"),
        col("norm"))
      .select(col("doc_id"), col("lang"), col("is_test"),
        expr("substring(norm, i, 3)").as("tri"))
      .groupBy("doc_id", "lang", "is_test", "tri")
      .agg(count(lit(1)).as("ct"))
      .localCheckpoint()
    val counts = triCounts.filter(!col("is_test"))
      .groupBy("lang", "tri").agg(sum(col("ct")).as("c"))
    val nl = counts.groupBy("lang").agg(sum("c").as("n_l"))
    val voc = counts.agg(countDistinct("tri").as("v"))
    // fixed-point model: li = round(1e6·ln((c+1)/(n_l+V))), the
    // unseen-trigram default li0 = round(1e6·ln(1/(n_l+V)))
    val model = counts.join(nl, "lang").crossJoin(broadcast(voc))
      .select(col("lang"), col("tri"),
        M.oracleRound(log((col("c") + 1).cast("double") /
          (col("n_l") + col("v")).cast("double")) * 1e6, 0)
          .cast("long").as("li"))
    val trainDocs = docs.filter(!col("is_test"))
      .groupBy("lang").agg(count(lit(1)).as("d_l"))
    val priors = trainDocs
      .withColumn("d_tot", sum("d_l").over(w.partitionBy()))
      .join(nl, "lang").crossJoin(broadcast(voc))
      .select(col("lang"),
        M.oracleRound(log(col("d_l").cast("double") /
          col("d_tot").cast("double")) * 1e6, 0).cast("long")
          .as("prior"),
        M.oracleRound(log(lit(1.0) /
          (col("n_l") + col("v")).cast("double")) * 1e6, 0).cast("long")
          .as("li0"))
    val dt = triCounts.filter(col("is_test"))
      .select(col("doc_id"), col("lang").as("actual"), col("tri"),
        col("ct"))
    val perDoc = dt.groupBy("doc_id", "actual")
      .agg(sum("ct").as("n_t"))
    val matched = dt.join(model, "tri")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("ct") * col("li")).as("mli"),
        sum(col("ct")).as("mct"))
    val scored = perDoc.crossJoin(broadcast(priors))
      .join(matched, Seq("doc_id", "lang"), "left")
      .withColumn("score",
        coalesce(col("mli"), lit(0L)) +
          (col("n_t") - coalesce(col("mct"), lit(0L))) * col("li0") +
          col("prior"))
      .withColumn("rn", row_number().over(
        w.partitionBy("doc_id").orderBy(col("score").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("actual"), col("lang").as("pred"))
    scored.groupBy(col("actual").as("lang"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("pred") === col("actual"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc", M.oracleRound(
        col("n_correct").cast("double") / col("n_test"), 4))
      .orderBy("lang")
  }

  // q200: Goertzel tone powers over the first 16 samples of the q134
  // clips (docs long enough only) — 4 fixed-point bins, coefficients
  // as literals (round(2cos(2πk/16)·2¹⁴)), dominant bin by the same
  // tie-break CASE both engines state; the recursive-CTE oracle
  // replays every integer recurrence step
  def goertzelTones(s: SparkSession, dir: String): DataFrame = {
    val coeffs = Seq(1 -> 30274L, 2 -> 23170L, 3 -> 12540L, 4 -> 0L)
    Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(97)) >= 12)
      .select(col("doc_id"), Multimodal.wavBytesPcm(lit(16000), lit(1),
        (pmod(col("doc_id"), lit(97)) + 4).cast("int"), col("doc_id"))
        .as("__wav"))
      .select(col("doc_id"),
        Multimodal.wavGoertzel(col("__wav"), 16, coeffs).as("__g"))
      .select(col("doc_id"),
        col("__g.p1").as("p1"), col("__g.p2").as("p2"),
        col("__g.p3").as("p3"), col("__g.p4").as("p4"))
      .withColumn("dominant_bin",
        when(col("p1") >= col("p2") && col("p1") >= col("p3")
          && col("p1") >= col("p4"), 1)
          .when(col("p2") >= col("p3") && col("p2") >= col("p4"), 2)
          .when(col("p3") >= col("p4"), 3)
          .otherwise(4))
      .orderBy("doc_id")
  }

  // q191: audio decimation — keep every 4th PCM sample of the q134
  // clips and re-featurize; the strided md5 closed form restates in
  // SQL verbatim (the q190 resize, audio modality)
  def wavDecimate(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Multimodal.wavBytesPcm(lit(16000), lit(1),
        (pmod(col("doc_id"), lit(97)) + 4).cast("int"), col("doc_id"))
        .as("__wav"))
      .select(col("doc_id"),
        (pmod(col("doc_id"), lit(97)) + 4).as("n_in"),
        Multimodal.wavDecimatedStats(col("__wav"), factor = 4).as("__s"))
      .select(col("doc_id"), col("n_in"),
        col("__s.n_out").as("n_out"),
        col("__s.peak").as("peak"),
        col("__s.rms").as("rms"))
      .orderBy("doc_id")

  // REAL video-container decode: minimal canonical AVI bytes built
  // per doc, every avih field recovered by parsing the RIFF/LIST
  // grammar — the modality triangle's third leg (frame DATA stays
  // synthetic: no codec here, the documented boundary)
  def aviDecode(s: SparkSession, dir: String): DataFrame = {
    val w = ((pmod(col("doc_id"), lit(16)) * 8) + 160).cast("int")
    val h = ((pmod(col("doc_id"), lit(9)) * 8) + 120).cast("int")
    val frames = (pmod(col("doc_id"), lit(240)) + 1).cast("int")
    val usPer = element_at(
      array(lit(33333), lit(40000), lit(16667)),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Multimodal.aviBytes(w, h, frames, usPer).as("__avi"))
      .select(col("doc_id"), Multimodal.aviMeta(col("__avi")).as("__m"))
      .select(col("doc_id"),
        col("__m.width").as("width"), col("__m.height").as("height"),
        col("__m.n_frames").as("n_frames"),
        col("__m.streams").as("streams"),
        col("__m.fps").as("fps"),
        col("__m.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  // REAL video frame content: AVI with uncompressed-DIB '00db' frames
  // is BUILT per doc (dims/frame-count pure functions of doc_id, pixel
  // bytes md5-derived), then the engine parses the full stream grammar
  // (strh/strf govern the layout) and decodes every frame's
  // DWORD-padded BGR raster into per-channel means. Widths 2..5 make
  // row padding live (strides 8/12/12/16). The oracle restates the
  // generator's closed form — a stride, channel-order, or chunk-offset
  // bug goes red on the means. fakeDecodeMeta is no longer the only
  // pixel path for video.
  def aviFrames(s: SparkSession, dir: String): DataFrame = {
    val w = (pmod(col("doc_id"), lit(4)) + 2).cast("int")
    val h = (pmod(col("doc_id"), lit(3)) + 2).cast("int")
    val frames = (pmod(col("doc_id"), lit(3)) + 1).cast("int")
    val usPer = element_at(
      array(lit(33333), lit(40000), lit(16667)),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    val dec = Multimodal.withAviFrameMeans(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Multimodal.aviBytesDib(w, h, frames, usPer, col("doc_id"))
            .as("__avi")),
      "__avi", "__m")
    dec.select(col("doc_id"),
        col("__m.width").as("width"), col("__m.height").as("height"),
        col("__m.n_frames").as("n_frames"), col("__m.fps").as("fps"),
        explode(col("__m.frames")).as("__f"))
      .select(col("doc_id"), col("width"), col("height"),
        col("n_frames"), col("fps"),
        col("__f.frame").as("frame"),
        col("__f.mean_b").as("mean_b"),
        col("__f.mean_g").as("mean_g"),
        col("__f.mean_r").as("mean_r"))
      .orderBy("doc_id", "frame")
  }

  // q288: COMPRESSED video frames — AVI with MS-RLE8 palettized
  // frames is BUILT per doc (4 equal md5-valued runs per row, planted
  // closed form), then the engine demuxes the variable-size '00dc'
  // chunk walk and runs a REAL RLE8 decode state machine (runs +
  // EOL/EOB/delta/absolute escapes) through the 256-entry palette
  // into per-frame channel means — closing the "frame decode is
  // uncompressed DIB only" boundary with an actual in-spec codec. The
  // emitted ratio column (encoded bytes / raw 8-bit raster bytes)
  // doubles as the compression evidence: every admissible geometry
  // compresses. Oracle restates the run closed form + palette map —
  // a state-machine, palette-order, or chunk-walk bug goes red. At
  // 100 TB: map-only (one codegen'd generate + one codegen'd decode
  // per row, plan size O(1) — the AviDibBytes lesson).
  def aviRle8Frames(s: SparkSession, dir: String): DataFrame = {
    val w = ((pmod(col("doc_id"), lit(3)) + 1) * 20).cast("int")
    val h = (pmod(col("doc_id"), lit(3)) + 2).cast("int")
    val frames = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
    val dec = Multimodal.withAviRle8FrameMeans(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Multimodal.aviBytesRle8(w, h, frames, lit(40000), col("doc_id"))
            .as("__avi")),
      "__avi", "__m")
    dec.select(col("doc_id"),
        col("__m.width").as("width"), col("__m.height").as("height"),
        col("__m.n_frames").as("n_frames"), col("__m.fps").as("fps"),
        explode(col("__m.frames")).as("__f"))
      .select(col("doc_id"), col("width"), col("height"),
        col("n_frames"), col("fps"),
        col("__f.frame").as("frame"),
        col("__f.enc_bytes").as("enc_bytes"),
        M.oracleRound(col("__f.enc_bytes").cast("double") /
          (col("width") * col("height")).cast("double"), 4).as("ratio"),
        col("__f.mean_b").as("mean_b"),
        col("__f.mean_g").as("mean_g"),
        col("__f.mean_r").as("mean_r"))
      .orderBy("doc_id", "frame")
  }

  // INTERLEAVED two-stream AVI: the capture-file grammar — avih
  // declares TWO streams, hdrl carries a video strl (DIB 24-bit
  // BI_RGB) AND an audio strl ('auds' + 16-byte PCMWAVEFORMAT:
  // PCM/mono/16-bit), movi alternates '00db' frame rasters with
  // '01wb' PCM chunks (the chunk fourcc's stream number is the demux
  // key). One native walk decodes BOTH signals per frame interval:
  // pixel channel means (q140's closed form verbatim) and audio
  // rms/peak (q134's int16 convention keyed per frame). The oracle
  // restates both closed forms and joins them per (doc, frame) — a
  // demux bug (chunk misalignment, stream swap, stride error) goes
  // red on either signal.
  def aviInterleaved(s: SparkSession, dir: String): DataFrame = {
    val w = (pmod(col("doc_id"), lit(4)) + 2).cast("int")
    val h = (pmod(col("doc_id"), lit(3)) + 2).cast("int")
    val frames = (pmod(col("doc_id"), lit(3)) + 1).cast("int")
    val usPer = element_at(
      array(lit(33333), lit(40000), lit(16667)),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    val rate = element_at(
      array(lit(8000), lit(16000), lit(22050), lit(44100)),
      (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
    val spf = (pmod(col("doc_id"), lit(5)) + 2).cast("int")
    val dec = Multimodal.withAviAvDecode(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          Multimodal.aviBytesInterleaved(w, h, frames, usPer, rate, spf,
            col("doc_id")).as("__avi")),
      "__avi", "__m")
    dec.select(col("doc_id"),
        col("__m.width").as("width"), col("__m.height").as("height"),
        col("__m.n_frames").as("n_frames"), col("__m.fps").as("fps"),
        col("__m.sample_rate").as("sample_rate"),
        explode(col("__m.frames")).as("__f"))
      .select(col("doc_id"), col("width"), col("height"),
        col("n_frames"), col("fps"), col("sample_rate"),
        col("__f.frame").as("frame"),
        col("__f.mean_b").as("mean_b"),
        col("__f.mean_g").as("mean_g"),
        col("__f.mean_r").as("mean_r"),
        col("__f.n_samples").as("n_samples"),
        col("__f.rms").as("rms"),
        col("__f.peak").as("peak"))
      .orderBy("doc_id", "frame")
  }

  // WebDataset-style tar shards: 50-doc shards built as REAL USTAR
  // archives (the training-data lake's standard multimodal container —
  // tar members consumed sequentially, object-store-friendly), then
  // walked back by the checksum-verifying native decoder. The round
  // trip pins the whole contract: shard length has a closed form
  // (Σ 512·(1+⌈size/512⌉) + 1024), member names/sizes/order are pure
  // functions of the docs, and payload md5 equals md5(text) — so the
  // oracle checks CONTENT straight off the documents table. Shard
  // state = collect_list of its ≤50 members (the documented
  // bounded-by-shard-size case); shards scale out, members don't.
  def tarShards(s: SparkSession, dir: String): DataFrame = {
    val shards = Tables.documents(s, dir)
      .select((col("doc_id") / 50).cast("long").as("shard"),
        struct(col("doc_id"), col("text")).as("m"))
      .groupBy("shard")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .select(col("shard"), Multimodal.tarBytes(col("members")).as("__tar"))
    shards
      .select(col("shard"), Multimodal.tarEntries(col("__tar")).as("__t"))
      .select(col("shard"),
        col("__t.n_entries").as("n_entries"),
        col("__t.tar_len").as("tar_len"),
        explode(col("__t.entries")).as("__e"))
      .select(col("shard"), col("n_entries"), col("tar_len"),
        col("__e.idx").as("idx"), col("__e.name").as("name"),
        col("__e.size").as("size"),
        col("__e.payload_md5").as("payload_md5"))
      .orderBy("shard", "idx")
  }

  // q414: the q157 shard round trip through the RANDOM-ACCESS
  // container — STORED-method PKZIP with a central directory (two
  // ranged reads fetch one member from an object store, vs the tar's
  // sequential walk). Same 50-doc sharding; the walker cross-validates
  // every local header against the CD copy and recomputes member
  // CRC-32s, so crc_ok is an engine-verified fact the oracle pins
  // true, and zip_len has the closed form
  // Σ(30 + |name| + size) + Σ(46 + |name|) + 22.
  def zipShards(s: SparkSession, dir: String): DataFrame = {
    val shards = Tables.documents(s, dir)
      .select((col("doc_id") / 50).cast("long").as("shard"),
        struct(col("doc_id"), col("text")).as("m"))
      .groupBy("shard")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .select(col("shard"), Multimodal.zipBytes(col("members")).as("__zip"))
    shards
      .select(col("shard"), Multimodal.zipEntries(col("__zip")).as("__z"))
      .select(col("shard"),
        col("__z.n_entries").as("n_entries"),
        col("__z.zip_len").as("zip_len"),
        explode(col("__z.entries")).as("__e"))
      .select(col("shard"), col("n_entries"), col("zip_len"),
        col("__e.idx").as("idx"), col("__e.name").as("name"),
        col("__e.size").as("size"), col("__e.crc_ok").as("crc_ok"),
        col("__e.payload_md5").as("payload_md5"))
      .orderBy("shard", "idx")
  }

  /** q384's shard-file stage, written once per (session, sf dir):
    * the q157 shard bytes land as REAL `.tar` files on disk (written
    * from executors — the driver never holds a payload), so the
    * DataSourceV2 reader exercises the actual file path.
    *
    * SHARED-FILESYSTEM CONTRACT: the stage dir is a driver-local temp
    * path, and the `foreachPartition` writers run on executors — the
    * two only see the same directory when executors share the
    * driver's filesystem (local mode, where this gate runs, or a
    * cluster with the stage dir on a shared mount). A real
    * object-store deployment would write the shards through the
    * Hadoop FileSystem API to a `hdfs://`/`s3a://` base instead;
    * the reader side ([[graft.sources.TarShardSource]]) is the
    * component under test here, not the stage writer. */
  private val tarShardDir = StageMemo.stage("tar_shards") { (s, dir) =>
    // capture a plain String — a java.nio Path is not serializable
    val base = StageMemo.tempDir("graft_tarv2_").toString
    Tables.documents(s, dir)
      .select((col("doc_id") / 50).cast("long").as("shard"),
        struct(col("doc_id"), col("text")).as("m"))
      .groupBy("shard")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .select(col("shard"), Multimodal.tarBytes(col("members")).as("t"))
      .foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(base,
                f"shard-${r.getLong(0)}%05d.tar"),
              r.getAs[Array[Byte]](1))
          }
      }
    base
  }

  // q384: the q157 shard manifest read back THROUGH the DataSourceV2
  // table ([[graft.sources.TarShardSource]]) — tar archives as a
  // first-class scan with live column pruning and file/member filter
  // pushdown, not a binary-column round trip. The gate projects the
  // manifest columns (md5 computed in the reader), and the oracle is
  // q157's closed form straight off the documents table — so a reader
  // framing bug, a lost member, or a wrong payload digest all go red.
  def dsv2TarManifest(s: SparkSession, dir: String): DataFrame = {
    val stage = tarShardDir(s, dir)
    s.read.format("graft-tar").load(stage)
      .select(
        regexp_extract(col("shard_file"), "shard-(\\d+)\\.tar", 1)
          .cast("long").as("shard"),
        col("idx"), col("name"), col("size"), col("payload_md5"))
      .orderBy("shard", "idx")
  }

  /** q428's shard-file stage — the [[tarShardDir]] contract (written
    * once per (session, sf dir), executor-side writers, SAME
    * shared-filesystem caveat) for `.zip` shards. */
  private val zipShardDir = StageMemo.stage("zip_shards") { (s, dir) =>
    val base = StageMemo.tempDir("graft_zipv2_").toString
    Tables.documents(s, dir)
      .select((col("doc_id") / 50).cast("long").as("shard"),
        struct(col("doc_id"), col("text")).as("m"))
      .groupBy("shard")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .select(col("shard"), Multimodal.zipBytes(col("members")).as("z"))
      .foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(base,
                f"shard-${r.getLong(0)}%05d.zip"),
              r.getAs[Array[Byte]](1))
          }
      }
    base
  }

  // q428: the q414 shard manifest read back THROUGH the RANDOM-ACCESS
  // DataSourceV2 table ([[graft.sources.ZipShardSource]]) — the
  // central-directory scan path: this projection includes payload_md5,
  // so the reader seeks each member's local range, but the catalog
  // itself comes from two ranged reads per shard (EOCD + CD), never a
  // full-archive walk; ZipDsv2Spec asserts the manifest-only scan
  // reads catalog-sized byte volume. Oracle = q157's closed form off
  // the documents table (names/sizes/md5s), plus the CD-carried CRC
  // surfaced as a column the engine verified at build time (q414).
  def dsv2ZipManifest(s: SparkSession, dir: String): DataFrame = {
    val stage = zipShardDir(s, dir)
    s.read.format("graft-zip").load(stage)
      .select(
        regexp_extract(col("shard_file"), "shard-(\\d+)\\.zip", 1)
          .cast("long").as("shard"),
        col("idx"), col("name"), col("size"), col("payload_md5"))
      .orderBy("shard", "idx")
  }

  // q157's compressed twin: GZIP members (the WebDataset `.gz`
  // convention). Compressed member bytes have NO SQL closed form
  // (deflate output is implementation-defined), so the gate emits only
  // the CONTENT view: the walker inflates each member (GZIP CRC
  // verified) and digests the decompressed bytes — content_md5 =
  // md5(text) and content_size = strlen(text) again check straight
  // off the documents table; a compression, inflation, or CRC bug
  // goes red. Same shard shape as q157.
  def tarGzShards(s: SparkSession, dir: String): DataFrame = {
    val shards = Tables.documents(s, dir)
      .select((col("doc_id") / 50).cast("long").as("shard"),
        struct(col("doc_id"), col("text")).as("m"))
      .groupBy("shard")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .select(col("shard"), Multimodal.tarBytesGz(col("members")).as("__tar"))
    shards
      .select(col("shard"), Multimodal.tarEntries(col("__tar")).as("__t"))
      .select(col("shard"), col("__t.n_entries").as("n_entries"),
        explode(col("__t.entries")).as("__e"))
      .select(col("shard"), col("n_entries"),
        col("__e.idx").as("idx"), col("__e.name").as("name"),
        col("__e.content_size").as("content_size"),
        col("__e.content_md5").as("content_md5"))
      .orderBy("shard", "idx")
  }

  // NON-canonical WAV decode: the writer splices a JUNK padding chunk
  // (doc-varying length, odd half the time — the pad-to-even rule is
  // live) before `fmt ` or between `fmt ` and `data`. Still conformant
  // RIFF, but the canonical fixed-offset q105 parser REJECTS it
  // (canonical_rejects pins that for every row) while the chunk WALK
  // recovers every parameter. Same staged-select shape as q105: the
  // built bytes and the walk each evaluate once per row.
  def wavDecodeChunked(s: SparkSession, dir: String): DataFrame = {
    val rate = element_at(
      array(lit(8000), lit(16000), lit(22050), lit(44100)),
      (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
    val channels = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
    val n = (pmod(col("doc_id"), lit(997)) + 1).cast("int")
    val junkLen = pmod(col("doc_id"), lit(37L)) + 1
    val junkFirst = pmod(col("doc_id"), lit(3)) === 0
    val built = Tables.documents(s, dir)
      .select(col("doc_id"),
        Multimodal.wavBytesChunked(rate, channels, n, junkLen, junkFirst)
          .as("__wav"))
    Multimodal.withWavMetaChunked(built, "__wav", "__m")
      .select(col("doc_id"),
        when(junkFirst, lit("junk_first")).otherwise(lit("junk_mid"))
          .as("layout"),
        junkLen.as("junk_len"),
        Multimodal.wavMeta(col("__wav")).isNull.as("canonical_rejects"),
        col("__m.channels").as("channels"),
        col("__m.sample_rate").as("sample_rate"),
        col("__m.bits").as("bits"),
        col("__m.n_samples").as("n_samples"),
        col("__m.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  /** Shared retrieval-LEG memo: each standard top-5 leg (exact /
    * sign-LSH / IVF over the vec_id<8 queries, plus their
    * planted-corpus twins) is a k·|queries| frame — 40 or 200 rows —
    * localCheckpointed once per (session, dir, leg). The retrieval-
    * eval gates (q106 recall, q110 planted recall, q125 RRF fusion,
    * q154 matryoshka, q170 NDCG, q208 RBO) all RECOMPOSE these same
    * legs; without the memo each gate re-runs up to three full corpus
    * scans that q28/q33/q53 already gate individually (VERDICT r10:
    * ~20 s of self-imposed pipeline-recomposition cost across
    * q106/q110/q125). Results are identical to inline recomputation
    * (deterministic pipelines). */
  private def legMemo(s: SparkSession, dir: String, leg: String)
      (build: => DataFrame): DataFrame =
    StageMemo.getOrBuild(s, dir, s"leg:$leg")(build.localCheckpoint())

  // brute-force cosine top-k (exact baseline; DuckDB-oracled on rank)
  def cosineTopK(s: SparkSession, dir: String): DataFrame =
    legMemo(s, dir, "exact") {
      val emb = normEmb(s, dir)
      Similarity.cosineTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 8), k = 5, preNormalized = true)
        .orderBy("query_id", "rnk")
    }

  // LSH-bucketed ANN (scale path; rows-only) — shared-leg memo, see
  // [[legMemo]]
  def annTopK(s: SparkSession, dir: String): DataFrame =
    legMemo(s, dir, "ann") {
      val emb = normEmb(s, dir)
      Similarity.annTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 8), k = 5, preNormalized = true)
        .orderBy("query_id", "rnk")
    }

  // ANN retrieval-QUALITY gate: recall@5 of the sign-LSH (q33) and IVF
  // (q53) paths against the exact q28 top-5 on the same corpus and
  // queries — proves the indexes RETRIEVE the right neighbors, not
  // merely that their pipelines reproduce deterministically. READING
  // THE NUMBERS: the testdata embeddings are near-uniform (bulk cosine
  // ~0.4, nearest neighbors ~0.5 — almost no gap), the published
  // worst case for similarity indexes, so recall here is the HONEST
  // floor, not the design point. At sf0.01: sign-LSH 8/40 vs a
  // coverage-matched random baseline of ~4.4 (7 hamming<=1 probes of
  // 64 buckets ≈ 11 % of the corpus), IVF 22/40 vs ~10 (nprobe 4/16
  // ≈ 25 %) — both ~2× their baselines even with no gap to exploit.
  // The design-regime quality (genuinely-similar planted pairs, cos
  // 0.82-0.99) is gated by q51/q75 and recall-pinned on planted
  // clusters in DedupSimilaritySpec. All three legs ride the shared
  // normalized-embedding stage; the joins move 40-pair frames
  // (k × |queries|), so the gate costs nothing beyond the legs.
  def annRecall(s: SparkSession, dir: String): DataFrame =
    recallRow(cosineTopK(s, dir), annTopK(s, dir), ivfTopK(s, dir), k = 5)

  // Matryoshka-representation truncation gate (Kusupati et al.
  // NeurIPS'22, arXiv 2205.13147): rank by PREFIX cosine at d'=16 and
  // d'=32 dims against the full 64-dim exact top-5 — the "how many
  // dims can retrieval drop" design table. Cosine is scale-invariant,
  // so prefix cosine = cosine of the re-normalized truncation (the MRL
  // serving trick: store 64, scan 16, re-rank survivors at 64 — a 4×
  // scan-bandwidth cut BEFORE the q109/q112 byte tricks, and
  // composable with them). Shares the exact leg's machinery; the
  // truncated corpora are map-only slices of the embeddings scan. On
  // NEAR-UNIFORM testdata (the q106 caveat) this is the honest floor:
  // prefix dims carry ~d'/64 of the signal, so recall@5 sits near the
  // coverage baseline — the gate's value is pinning the HONEST number
  // next to the same-machinery q106/q110 so drift in either shows.
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    def trunc(d: Int) = {
      val sliced = Tables.embeddings(s, dir).select(col("vec_id"),
        slice(col("embedding"), 1, d).as("embedding"))
      Similarity.cosineTopK(sliced, "vec_id", "embedding",
        sliced.filter(col("vec_id") < 8), k = 5, dim = d)
    }
    def pairs(df: DataFrame) = df.select(col("query_id"), col("neighbor_id"))
    val joined = cosineTopK(s, dir)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(pairs(trunc(16)).withColumn("__m16", lit(1))),
        Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(pairs(trunc(32)).withColumn("__m32", lit(1))),
        Seq("query_id", "neighbor_id"), "left")
    joined.agg(
        lit(5).as("k"),
        count(lit(1)).as("n_exact"),
        count(col("__m16")).as("m16_hits"),
        count(col("__m32")).as("m32_hits"))
      .withColumn("m16_recall", M.oracleRound(
        col("m16_hits").cast("double") / col("n_exact").cast("double"), 4))
      .withColumn("m32_recall", M.oracleRound(
        col("m32_hits").cast("double") / col("n_exact").cast("double"), 4))
  }

  /** recall@k overlap row from three (query_id, neighbor_id, …) top-k
    * frames — the shared tail of q106/q110. With `withTop1`, adds
    * recall@1 (the rank-1 exact neighbor found anywhere in the
    * approximate top-k — on the planted corpus that neighbor is
    * always the planted copy, so this IS the find-the-duplicate
    * rate). */
  private def recallRow(exactDf: DataFrame, annDf: DataFrame,
      ivfDf: DataFrame, k: Int, withTop1: Boolean = false): DataFrame = {
    def pairs(df: DataFrame) = df.select(col("query_id"), col("neighbor_id"))
    // every leg is a k·|queries| frame — broadcast so the overlap
    // joins never sort-merge (the rrfFuse rationale)
    val joined = exactDf.select(col("query_id"), col("neighbor_id"), col("rnk"))
      .join(broadcast(pairs(annDf).withColumn("__a", lit(1))),
        Seq("query_id", "neighbor_id"), "left")
      .join(broadcast(pairs(ivfDf).withColumn("__i", lit(1))),
        Seq("query_id", "neighbor_id"), "left")
    val base = Seq(count(lit(1)).as("n_exact"),
      count(col("__a")).as("ann_hits"), count(col("__i")).as("ivf_hits"))
    val top1 = Seq(
      countDistinct(col("query_id")).as("n_queries"),
      count(when(col("rnk") === 1, col("__a"))).as("ann_hits1"),
      count(when(col("rnk") === 1, col("__i"))).as("ivf_hits1"))
    val agged = joined.agg((base ++ (if (withTop1) top1 else Nil)).head,
      (base ++ (if (withTop1) top1 else Nil)).tail: _*)
    def rate(h: String, n: String) = graft.functions.MysqlFunctions.oracleRound(
      col(h).cast("double") / col(n).cast("double"), 4)
    val cols = Seq(lit(k).as("k"), col("n_exact"), col("ann_hits"),
      col("ivf_hits"), rate("ann_hits", "n_exact").as("ann_recall"),
      rate("ivf_hits", "n_exact").as("ivf_recall")) ++
      (if (withTop1) Seq(col("n_queries"), col("ann_hits1"), col("ivf_hits1"),
        rate("ann_hits1", "n_queries").as("ann_recall_top1"),
        rate("ivf_hits1", "n_queries").as("ivf_recall_top1")) else Nil)
    agged.select(cols: _*)
  }

  // The DESIGN-REGIME complement to q106: recall over the q51 planted
  // near-dup corpus with the 40 planted ORIGINALS as queries — each
  // query's exact rank-1 neighbor is always its md5-derived copy (cos
  // 0.82-0.99 vs bulk <= ~0.51), so recall@1 IS the find-the-duplicate
  // rate the indexes exist for. At sf0.01: IVF 39/40 (0.975), sign-LSH
  // 31/40 (0.775 — the amplitude-8 high-noise copies flip hyperplane
  // signs; raising planes/probes trades candidate volume for the
  // tail). The recall@5 columns are lower by construction: ranks 2-5
  // are near-uniform bulk neighbors (q106's floor regime). Oracle
  // recomposes the planted corpus + all three pipelines (the q51/q53
  // CTE machinery) — no pinned literals.
  def annRecallPlanted(s: SparkSession, dir: String): DataFrame = {
    def emb = plantedNormEmb(s, dir)
    def queries = emb.filter(col("vec_id") < 40)
    recallRow(
      legMemo(s, dir, "exact_planted")(
        Similarity.cosineTopK(emb, "vec_id", "embedding", queries, k = 5,
          preNormalized = true)),
      legMemo(s, dir, "ann_planted")(
        Similarity.annTopK(emb, "vec_id", "embedding", queries, k = 5,
          preNormalized = true)),
      legMemo(s, dir, "ivf_planted")(
        Similarity.ivfTopK(emb, "vec_id", "embedding", queries, k = 5,
          preNormalized = true)),
      k = 5, withTop1 = true)
  }

  // int8 embedding quantization gate: per-vector scale +
  // reconstruction-error stats. Codes are literal floor(+0.5) — no
  // round() builtin, whose negative-half semantics differ between
  // engines — and the error fold runs in index order on both sides,
  // so every row hash-oracles. Map-only (the operator is the 4x
  // storage cut an ANN corpus takes before indexing at 100 TB).
  def quantizeEmb(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    Similarity.int8Quantize(emb, "vec_id", "v", keepVec = true)
      .withColumn("__err", zip_with(col("v"), col("codes"),
        (x, c) => abs(x - c * col("scale"))))
      .select(col("vec_id"),
        graft.functions.MysqlFunctions.oracleRound(col("scale"), 6).as("scale"),
        graft.functions.MysqlFunctions.oracleRound(
          array_max(col("__err")), 8).as("max_abs_err"),
        graft.functions.MysqlFunctions.oracleRound(
          aggregate(col("__err"), lit(0.0), (a, e) => a + e * e)
            / size(col("v")), 8).as("mse"))
      .orderBy("vec_id")
  }

  // quantized-scan top-k gate: the q33/q53 alternative whose stage-1
  // cut is INTEGER arithmetic (exactly engine-reproducible — no float
  // fold-order dependence in the candidate set), float re-rank on the
  // survivors. Same corpus/queries as q28, so recall is directly
  // comparable (refine=20 recovers the exact top-5 here).
  def quantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    Similarity.quantizedTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), k = 5, preNormalized = true)
      .orderBy("query_id", "rnk")
  }

  // PQ/ADC two-stage top-k (8 sub-codebooks × 16 centroids → 64×
  // compression in stage 1; exact re-rank of k·refine survivors). The
  // oracle recomposes the whole pipeline — shared-init Lloyd per
  // subspace, codes, LUT scan, re-rank — in SQL, q53-style.
  def pqTopKQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    Similarity.pqTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), k = 5, preNormalized = true,
        fittedBooks = Some(pqBooks(s, dir)))
      .orderBy("query_id", "rnk")
  }

  // IVF-PQ: the composed cluster-scale ANN (coarse cells cut the scan
  // to nprobe/nlist of the corpus, ADC over m-byte codes cuts the
  // per-candidate bytes 64×, exact re-rank of the survivors). Shares
  // the q53 coarse fit and the q116 codebooks via the driver-side fit
  // memos; the oracle chains BOTH Lloyd builds' CTEs plus probe, ADC
  // and re-rank.
  def ivfPqTopKQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), k = 5, preNormalized = true,
        fittedCenters = Some(coarseCenters(s, dir)),
        fittedBooks = Some(pqBooks(s, dir)))
      .orderBy("query_id", "rnk")
  }

  // q137/q138/q139: persisted-fit twins of q53/q116/q117 — identical
  // output (and identical oracles), but the Lloyd centers / PQ
  // codebooks come off STAGE PARQUET via fitStagesFromParquet, never
  // from an in-session fit: the steady-state shape of an ANN index at
  // 100 TB, where the index is fit once and every later session
  // assigns/queries against the persisted tensors. PlanSpec asserts a
  // plan built this way cannot reach the corpus for fitting.
  def ivfTopKPersist(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    Similarity.ivfTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), k = 5, preNormalized = true,
        fittedCenters = Some(persistedFits(s, dir)._1))
      .orderBy("query_id", "rnk")
  }
  def pqTopKPersist(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    Similarity.pqTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), k = 5, preNormalized = true,
        fittedBooks = Some(persistedFits(s, dir)._2))
      .orderBy("query_id", "rnk")
  }
  def ivfPqTopKPersist(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    val (ctrs, books) = persistedFits(s, dir)
    Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), k = 5, preNormalized = true,
        fittedCenters = Some(ctrs), fittedBooks = Some(books))
      .orderBy("query_id", "rnk")
  }

  // q146: index-staleness audit over the PERSISTED coarse fit — the
  // other half of the q137-q139 contract: once an index is fit-once/
  // reuse-for-months, something must measure when the corpus has
  // drifted away from it. "New arrivals" = the label ≥ 5 slice (the
  // labels cluster the synthetic embeddings, so the slice's cell
  // occupancy genuinely shifts — a class-mix change, the real drift
  // mode); the audit compares per-cell occupancy shares and the new
  // slice's quantization distortion, and verdicts refit via the
  // total-variation distance. One corpus scan, map-only assignment
  // against the persisted centroid literal.
  def indexStaleness(s: SparkSession, dir: String): DataFrame = {
    val lab = Tables.embeddings(s, dir)
      .select(col("vec_id"), (col("label") >= 5).as("is_new"))
    val c = normEmb(s, dir).join(lab, Seq("vec_id"))
    Similarity.indexStalenessAudit(c, "vec_id", "embedding", "is_new",
      centers = persistedFits(s, dir)._1, tvdThreshold = 0.05,
      preNormalized = true)
  }

  // Distribution-shift audit between the train and val splits: add-½-
  // smoothed unigram distributions, KL both directions + Jensen-
  // Shannon — the "did my split (or my new crawl) change the language"
  // check run before/after every corpus refresh. Exact integer counts
  // in, 4-dp divergences out; rides the shared token stage and the
  // q59 split formula. Vocabulary-keyed aggregate + broadcast 1-row
  // totals — nothing vocabulary² anywhere.
  def distributionShift(s: SparkSession, dir: String): DataFrame = {
    val split = CorpusOps.hashSplit(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"), col("split"))
    val counts = lowerToks(s, dir).join(split, Seq("doc_id"))
      .groupBy("term").agg(
        count(when(col("split") === "train", 1)).as("ct"),
        count(when(col("split") === "val", 1)).as("cv"))
    val tot = counts.agg(sum("ct").cast("double").as("__nt"),
      sum("cv").cast("double").as("__nv"),
      count(lit(1)).cast("double").as("__vs"))
    val terms = counts.crossJoin(broadcast(tot))
      .withColumn("p", (col("ct") + 0.5) / (col("__nt") + col("__vs") * 0.5))
      .withColumn("q", (col("cv") + 0.5) / (col("__nv") + col("__vs") * 0.5))
      .withColumn("m", (col("p") + col("q")) * 0.5)
    terms.agg(
      count(lit(1)).as("n_terms"),
      M.oracleRound(sum(col("p") * log(col("p") / col("q"))), 4).as("kl_pq"),
      M.oracleRound(sum(col("q") * log(col("q") / col("p"))), 4).as("kl_qp"),
      M.oracleRound(
        sum(col("p") * log(col("p") / col("m"))) * 0.5 +
        sum(col("q") * log(col("q") / col("m"))) * 0.5, 4).as("js"))
  }

  // Split-hygiene audit: near-dup pairs (the exact J≥0.5 n-gram set,
  // q32's operator) classified against the q59 train/val/test hash
  // split — a random split leaks near-duplicates across train/eval,
  // and this is the query that proves (and counts) it before anyone
  // trains. Rides the shared shingle stage; the pair set is the
  // audit's cost, the classification is a tiny join.
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    // rides the shared verified-pair stage (q32's exact scores,
    // filtered at this audit's τ) instead of rebuilding the candidate
    // join — the r10 punch-list fix for the 19.8 s bench row
    val pairs = jaccardPairs03(s, dir).filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b")
    val split = CorpusOps.hashSplit(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"), col("split"))
    pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("__sa")),
        Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"), col("split").as("__sb")),
        Seq("id_b"))
      .withColumn("pair_class",
        when(col("__sa") === col("__sb"), concat(lit("within_"), col("__sa")))
          .otherwise(lit("cross_split")))
      .groupBy("pair_class").agg(count(lit(1)).as("n_pairs"))
      .orderBy("pair_class")
  }

  // Count-min-sketch heavy hitters, gated q52-style: the sketch's
  // published guarantees (est ≥ exact always; est ≤ exact + ⌈ε·N⌉
  // w.p. ≥ confidence) emitted as booleans next to the EXACT top-31
  // term counts — sketch internals stay engine-specific, the FACTS
  // are deterministic. Only the (width·depth) sketch array and the
  // 31-term head reach the driver; the sketch build is one pass,
  // map-side merged (the Cormode & Muthukrishnan 2005 structure via
  // Spark's stat.countMinSketch).
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = lowerToks(s, dir)
    val sketch = toks.stat.countMinSketch(col("term"),
      eps = 0.001, confidence = 0.99, seed = 42)
    val bound = math.ceil(0.001 * sketch.totalCount()).toLong
    val head = TextCorpus.vocabTopFromToks(toks, 31)
      .select("term", "n", "rnk").as[(String, Long, Int)].collect()
    head.toSeq.map { case (t, exact, rnk) =>
      val est = sketch.estimateCount(t)
      (t, exact, rnk, est >= exact, est <= exact + bound)
    }.toDF("term", "n", "rnk", "est_ge_exact", "est_within_eps")
      .orderBy("rnk")
  }

  // Misra-Gries heavy hitters — q126's DETERMINISTIC companion: same
  // exact top-31 facts, but the guarantees proven are worst-case
  // certainties (est ≤ exact always; est ≥ exact − ⌊N/(k+1)⌋ always;
  // every term with n > ⌊N/(k+1)⌋ necessarily IN the k-counter
  // summary; summary never exceeds k entries), not a confidence bound.
  // Per-partition bounded-state fold + mergeable-summaries merge; the
  // emitted booleans are invariant to stream and merge order, so the
  // row is exactly oracle-able like q52/q126.
  def mgHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = lowerToks(s, dir)
    val k = 64
    val summary = TextCorpus.misraGries(toks, "term", k)
    val n = toks.count()
    val bound = n / (k + 1)
    val head = TextCorpus.vocabTopFromToks(toks, 31)
      .select("term", "n", "rnk").as[(String, Long, Int)].collect()
    head.toSeq.map { case (t, exact, rnk) =>
      val est = summary.getOrElse(t, 0L)
      (t, exact, rnk,
        exact <= bound || summary.contains(t),
        est <= exact,
        est >= exact - bound,
        summary.size <= k)
    }.toDF("term", "n", "rnk", "captured_if_frequent", "est_le_exact",
        "est_ge_lower", "summary_le_k")
      .orderBy("rnk")
  }

  // reciprocal-rank fusion of the exact/sign-LSH/IVF top-5 rankings —
  // hybrid retrieval's standard rank-only merge; all three legs ride
  // the shared normalized-embedding stage and fit memos
  def rrfFusion(s: SparkSession, dir: String): DataFrame =
    Similarity.rrfFuse(
        Seq(cosineTopK(s, dir), annTopK(s, dir), ivfTopK(s, dir)), k = 5)
      .orderBy("query_id", "rnk")

  // q411: Borda-count fusion of the SAME three legs as q125 — the
  // integer-point rank merge (k − rnk + 1 points per leg, absent = 0):
  // zero float arithmetic in the fusion, so the fused score is an
  // exact BIGINT. Rides the same per-(session, dir) leg memos; the
  // fusion itself joins three 40-row broadcast frames.
  def bordaFusion(s: SparkSession, dir: String): DataFrame =
    Similarity.bordaFuse(
        Seq(cosineTopK(s, dir), annTopK(s, dir), ivfTopK(s, dir)),
        k = 5, take = 3)
      .orderBy("query_id", "rnk")

  // diversity-capped sampling: at most 20 vectors per coarse cell by
  // md5 rank — cluster-balanced subsampling over the shared coarse fit
  def clusterCap(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    Similarity.clusterCapSample(emb, "vec_id", "embedding", cap = 20,
        preNormalized = true, fittedCenters = Some(coarseCenters(s, dir)))
      .orderBy("vec_id")
  }

  // JL distortion audit: 64→16 sign projection, squared-distance
  // ratios over the 496 pairs of vec_id < 32 — proves the projection
  // preserves geometry before any re-index (ratios concentrate ~1)
  def jlDistortion(s: SparkSession, dir: String): DataFrame =
    Similarity.jlDistortionAudit(normEmb(s, dir), "vec_id", "embedding",
      outDim = 16, sampleMax = 32L, preNormalized = true)

  // embedding cosine similarity join, threshold 0.45 (exact, oracled).
  // The testdata embeddings have NO high-cosine pairs (max pairwise cos
  // ~ 0.51), so an LSH-pruned near-dup here would be either vacuous or
  // unable to hold recall; the verifiable semantics is the exact
  // τ-join. The scale path (Similarity.cosineNearDupLsh) is gated
  // separately as q51 with a pipeline-reproducing oracle.
  def cosineNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineSimJoin(normEmb(s, dir), "vec_id", "embedding",
        threshold = 0.45, preNormalized = true)
      .orderBy("id_a", "id_b")

  // IVF (inverted-file) ANN — the k-means coarse-quantizer scale path,
  // hash-oracled end-to-end like the sign-LSH pipelines: the Lloyd
  // build uses md5-derived init and a FIXED iteration count, so the
  // whole index build unrolls into the DuckDB oracle's chained CTEs
  // (centroids quantized to 6 decimals per round on both sides — see
  // Similarity.roundCoord6 — so the one unordered float reduction, the
  // per-cell mean, cannot drift the engines apart). DedupSimilaritySpec
  // additionally pins recall on planted clusters.
  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    legMemo(s, dir, "ivf") {
      val emb = normEmb(s, dir)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 8), k = 5, preNormalized = true,
          fittedCenters = Some(coarseCenters(s, dir)))
        .orderBy("query_id", "rnk")
    }

  // the 100 TB cosine near-dup plan, oracle-gated IN ITS DESIGN REGIME:
  // banded sign-LSH candidates (16 bands × 8 md5-derived hyperplanes —
  // OR-of-bands collision) then exact-cosine verification at τ=0.85
  // over [[plantedNormEmb]]'s planted near-dup corpus. r4 ran this gate
  // at τ=0.45 against the operator's own ≥ ~0.85 contract, where
  // per-band collisions approach the full pair set (the 10 s bench
  // entry); at τ=0.85 / 8 planes the candidate rate is ~16/2⁸ ≈ 6 % of
  // pairs — the pruning the operator exists to demonstrate. Because
  // hyperplanes AND the planted noise are md5-derived, the DuckDB
  // oracle reproduces the ENTIRE pipeline — planted corpus, band
  // buckets, candidate pairs, verified cosines — bit-for-bit (like
  // q33), so the bucket-join plan itself is hash-verified, not just a
  // lucky-recall subset of the exact τ-join (which remains q34).
  def cosineNearDupLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupLsh(plantedNormEmb(s, dir), "vec_id", "embedding",
        threshold = 0.85, bands = 16, planesPerBand = 8, preNormalized = true)
      .orderBy("id_a", "id_b")

  // SemDeDup-style semantic dedup pairs: coarse-quantizer (Lloyd) cell
  // blocking + exact-cosine verification within cells, over the q51
  // planted near-dup corpus. Fit init/means are md5-derived and
  // 6dp-quantized (q53's trick), so the DuckDB oracle reproduces the
  // quantizer, the cell assignment, and every verified pair exactly.
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticNearDupPairs(plantedNormEmb(s, dir), "vec_id",
        "embedding", threshold = 0.8, nlist = 16, iters = 3,
        preNormalized = true)
      .orderBy("id_a", "id_b")

  // q469: the AT-SCALE SemDeDup configuration — corpus-keyed nlist +
  // fixed md5-ranked fit sample ([[Similarity.semanticNearDupPairsScaled]])
  // over the same planted corpus. At gate scale it resolves to exactly
  // q75's parameters (nlist floor 16, full-corpus fit), so q75's oracle
  // construction gates THIS code path too; at sf1 it is the variant
  // whose slope row gates linear-ok where fixed-nlist q75 is excluded
  // as asymptotically quadratic.
  def semanticDedupScaled(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticNearDupPairsScaled(plantedNormEmb(s, dir), "vec_id",
        "embedding", threshold = 0.8, iters = 3, preNormalized = true)
      .orderBy("id_a", "id_b")

  // Embedding-space decontamination: max cosine from each corpus
  // vector (incl. planted copies) to the bench set (originals < 20) —
  // the paraphrase-catching analogue of q61's n-gram overlap scan.
  // Map-only: the bench ships as one nested-array literal, the corpus
  // never shuffles.
  def semanticDecon(s: SparkSession, dir: String): DataFrame = {
    val emb = plantedNormEmb(s, dir)
    Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", threshold = 0.8, preNormalized = true)
      .orderBy("vec_id")
  }

  // q465: UNIFIED decontamination verdict — the single table a
  // training run reads before shipping a corpus, joining the n-gram
  // leg (q61; row-identical to the q114 Bloom-prefiltered scan by the
  // no-false-negatives argument, so the Bloom path needs no separate
  // column) with the semantic leg (q82, embedding ids aligned to doc
  // ids — the synthetic corpus convention) into one flagged-docs frame
  // with method attribution. Only CONTAMINATED docs appear (absence =
  // clean): the output stays bench-overlap-sized at any corpus scale,
  // and the corpus-sized work all lives in the two legs' existing
  // shared/checkpointed stages — this join is flagged × flagged on
  // doc_id. Attribution: 'ngram', 'semantic', or 'ngram+semantic';
  // semantic-only rows carry n_overlap = 0, ngram-only rows carry
  // NULL bench_id/best_cos.
  def deconVerdict(s: SparkSession, dir: String): DataFrame = {
    val ng = decontaminate(s, dir)
    val sem = semanticDecon(s, dir).withColumnRenamed("vec_id", "doc_id")
    ng.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        col("bench_id"), col("best_cos"),
        col("n_overlap").isNotNull.as("ngram_hit"),
        col("best_cos").isNotNull.as("semantic_hit"),
        when(col("n_overlap").isNotNull && col("best_cos").isNotNull,
          "ngram+semantic")
          .when(col("n_overlap").isNotNull, "ngram")
          .otherwise("semantic").as("method"))
      .orderBy("doc_id")
  }

  // q466: per-label centroid table over the embedding corpus via the
  // native elementwise vector-sum aggregate — the class-prototype
  // frame a curation pipeline ships to its nearest-centroid stages
  // (q359 eval, q266 noise audit) as ONE artifact. The corpus pass is
  // a single groupBy(label) with a graft_vec_sum buffer per label (no
  // posexplode row expansion — the r13-verdict covariance-constant
  // fix, applied as a first-class operator); the per-dim unpack
  // explodes only the |labels|-row AGGREGATED frame. Coordinates
  // quantize to 1e4 longs first, so the sums are BIGINT-exact and the
  // mean is a ratio of exact integers — hash-deterministic on both
  // engines with no float-order pin needed anywhere.
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir).select(col("label"), expr(
      "transform(embedding, x -> " +
        "CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5D) AS BIGINT))").as("qa"))
    q.groupBy("label")
      .agg(call_function("graft_vec_sum", col("qa")).as("s"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), col("n_vecs"),
        posexplode(col("s")).as(Seq("dim", "qsum")))
      .select(col("label"), col("dim"), col("n_vecs"), col("qsum"),
        M.oracleRound(col("qsum").cast("double") / col("n_vecs") / 10000.0,
          6).as("mean"))
      .orderBy("label", "dim")
  }

  // deterministic train/val/test split (80/10/10) by md5 hash bucket —
  // split membership is a pure function of doc_id (stable across runs,
  // partitionings, and engines; exactly oracled)
  def hashSplit(s: SparkSession, dir: String): DataFrame =
    CorpusOps.hashSplit(Tables.documents(s, dir), "doc_id")
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")

  // q149: n-gram novelty of the val/test docs against the train
  // slice's shingle vocabulary — the data-valuation score of a
  // selection pipeline, riding the SHARED shingle stage (no second
  // tokenize) and the q59 split derivation. One shingle-keyed left
  // join; the reference vocabulary never leaves the executors.
  def noveltyScore(s: SparkSession, dir: String): DataFrame = {
    val split = CorpusOps.hashSplit(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"), (col("split") === "train").as("is_ref"))
    Dedup.noveltyFromSets(stages(s, dir)._1.join(split, Seq("doc_id")),
        "doc_id", "is_ref")
      .orderBy("doc_id")
  }

  // q148: two epochs of deterministic training order over 8 shards —
  // every (doc, epoch) lands at a reproducible (shard, pos) with no
  // stored RNG state, shard sizes within 1, per-epoch orders
  // independent. The permutation rank is the two-level bucket-offset
  // rank (no single-partition window).
  def epochShards(s: SparkSession, dir: String): DataFrame =
    CorpusOps.epochShards(Tables.documents(s, dir), "doc_id",
        epochs = 2, shards = 8)
      .orderBy("epoch", "doc_id")

  // per-source quota cap: keep the 10 best docs per source by (rounded
  // quality desc, doc_id) — the source-balancing step of corpus curation
  def domainCap(s: SparkSession, dir: String): DataFrame =
    CorpusOps.domainCap(
      Tables.documents(s, dir)
        .withColumn("quality", T.qualityScore(col("text"))),
      "doc_id", "source", col("quality"), cap = 10)
      .select(col("doc_id"), col("source"), col("score").as("quality"), col("rk"))
      .orderBy("source", "rk")

  // benchmark decontamination: docs 0..19 stand in for an eval set;
  // count each remaining corpus doc's 3-token-shingle overlap with it.
  // Reuses the shared materialized shingle stage (same arrays the
  // MinHash family reads) instead of re-tokenizing the corpus.
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sets = stages(s, dir)._1
    CorpusOps.decontaminateFromSets(
        sets.filter(col("doc_id") >= 20),
        sets.filter(col("doc_id") < 20), "doc_id")
      .orderBy("doc_id")
  }

  // q61's scan at the 100 TB shape: bench shingles folded into a Bloom
  // filter probed in-scan, exact verify join only for candidate docs.
  // No false negatives + FPs die in the inner join => row-identical to
  // q61, and the oracle IS q61's (the q103/q104 twin convention).
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val sets = stages(s, dir)._1
    CorpusOps.bloomDecontaminateFromSets(
        sets.filter(col("doc_id") >= 20),
        sets.filter(col("doc_id") < 20), "doc_id",
        expectedItems = 100000L)
      .orderBy("doc_id")
  }

  // Gopher-style repetition signals: most-frequent-token fraction +
  // duplicated-3-gram fraction per doc (the boilerplate/loop filters)
  def repetition(s: SparkSession, dir: String): DataFrame =
    TextCorpus.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  // CCNet-style fluency proxy: per-doc mean unigram log10-probability
  // under the corpus's own unigram model (null for empty docs)
  def fluency(s: SparkSession, dir: String): DataFrame =
    TextCorpus.fluencyFromToks(Tables.documents(s, dir), lowerToks(s, dir),
        "doc_id")
      .orderBy("doc_id")

  // quality-proportional deterministic downsample: keep doc with
  // probability min(1, n_tokens/100) on an md5 coin — importance
  // sampling whose membership is a pure function of doc_id
  def weightedSampleDocs(s: SparkSession, dir: String): DataFrame =
    CorpusOps.weightedSample(
        Tables.documents(s, dir).withColumn("__w",
          least(lit(1.0), T.tokenCount(col("text")).cast("double") / lit(100.0))),
        "doc_id", col("__w"))
      .select(col("doc_id"), col("weight"))
      .orderBy("doc_id")

  // Domain-mixture plan: per-source token shares + the downsampling
  // keep-rates that realize an md5-derived target mixture (deterministic
  // stand-in for a curated source-weighting table)
  def mixturePlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val target = docs.select(col("source").as("domain")).distinct()
      .withColumn("target_pct",
        (pmod(T.md5Int(concat(lit("mix:"), col("domain")), 8), lit(9L)) + 1)
          .cast("int"))
    CorpusOps.mixtureRates(docs, "source", T.tokenCount(col("text")), target)
      .orderBy("domain")
  }

  /** Shared winnowing pair stage per (session, sf dir) — q85 reports
    * it, q102 collapses it to canonical keepers. The pair set is tiny
    * (near-dups), so the checkpoint pins KBs while saving the suite's
    * most expensive pipeline from running twice. */
  private val winPairs = StageMemo.stage("window_pairs") { (s, dir) =>
    Dedup.winnowedDupPairs(Tables.documents(s, dir), "doc_id", "text")
      .localCheckpoint()
  }

  // Exact shared-substring dup pairs via winnowing fingerprints
  // (50-char windows, winnow window 10): every reported pair provably
  // shares an exact 50-char run; any shared run >= 59 chars is
  // guaranteed caught. The character-level complement of the
  // token-level MinHash/Jaccard family.
  def substringDups(s: SparkSession, dir: String): DataFrame =
    winPairs(s, dir).orderBy("id_a", "id_b")

  // Canonical keeper per substring-dup component: the LONGEST copy
  // wins (ties by id) — for exact-substring duplication the longer
  // document is the superstring candidate, so dropping the others
  // loses no text (contrast q97's quality rule for token-level
  // near-dups). Rides the shared winnowing pair stage.
  def substringKeep(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(col("keep_chars").desc, col("keep_id"))
    graft.graph.GraphOps.connectedComponentsStar(
        winPairs(s, dir).select("id_a", "id_b"))
      .select(col("node").as("keep_id"), col("comp").as("group_id"))
      .join(Tables.documents(s, dir)
        .select(col("doc_id").as("keep_id"),
          length(col("text")).as("keep_chars")), Seq("keep_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("group_id", "keep_id", "keep_chars")
      .orderBy("group_id")
  }

  // Quality-canonical representative per near-dup group: instead of
  // q49/q55's keep-min-id rule, keep each component's HIGHEST-quality
  // member (ties by id) — the curation best practice (the kept
  // duplicate should be the best copy, not the oldest). Rides the
  // shared components stage; quality scores are pre-rounded 4 dp so
  // the argmax is engine-exact.
  def canonicalKeep(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id").orderBy(col("quality").desc, col("keep_id"))
    dupComponents(s, dir)
      .select(col("node").as("keep_id"), col("comp").as("group_id"))
      .join(Tables.documents(s, dir)
        .select(col("doc_id").as("keep_id"),
          T.qualityScore(col("text")).as("quality")), Seq("keep_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("group_id", "keep_id", "quality")
      .orderBy("group_id")
  }

  // corpus vocabulary head: top-100 tokens by frequency (Zipf table)
  def vocabTop(s: SparkSession, dir: String): DataFrame =
    TextCorpus.vocabTopFromToks(lowerToks(s, dir), k = 100)
      .orderBy("rnk")

  // deterministic 20% stratified sample per language — exact per-
  // stratum quota, membership a pure function of (doc_id, stratum size)
  def stratifiedByLang(s: SparkSession, dir: String): DataFrame =
    CorpusOps.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
        pct = 20)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  // GPT-style sequence packing: concat docs in id order, chunk the
  // token stream into 512-token blocks (two-level prefix sum — no
  // global single-partition window). q70 keeps the original offset
  // schema; q74 gates the full block-span metadata (end_off/n_blocks).
  def seqPack(s: SparkSession, dir: String): DataFrame =
    CorpusOps.packSequences(Tables.documents(s, dir), "doc_id",
        T.tokenCount(col("text")), blockTokens = 512L)
      .select("doc_id", "n_tokens", "start_off", "block")
      .orderBy("doc_id")

  // the block-SPAN view of the same packing: exclusive end offset and
  // the number of 512-token blocks each doc straddles — what a training
  // dataloader needs to slice a doc out of the packed stream without
  // recomputing any prefix sum
  def seqPackSpans(s: SparkSession, dir: String): DataFrame =
    CorpusOps.packSequences(Tables.documents(s, dir), "doc_id",
        T.tokenCount(col("text")), blockTokens = 512L)
      .orderBy("doc_id")

  // entity-resolution shape: distinct part names, blocked on the last
  // token, verified by edit distance <= 3 — near-key variants that
  // exact dedup misses
  def fuzzyParts(s: SparkSession, dir: String): DataFrame =
    CorpusOps.fuzzyPairs(Tables.part(s, dir), "p_name",
        n => element_at(split(n, " "), -1), maxDist = 3)
      .orderBy("name_a", "name_b")

  // top-30 bigram collocations by 4-dp-rounded PMI with a count-5
  // floor — the phrase-vocabulary design table; consumes the shared
  // token-array stage (one tokenize pass family-wide)
  def bigramPmiTop(s: SparkSession, dir: String): DataFrame =
    TextCorpus.bigramPmiFromArrs(tokenArrays(s, dir),
        minCount = 5L, k = 30)
      .orderBy("rnk")

  // q420: Dunning G² collocations beside the q98 PMI leg — the
  // significance-corrected ranking (PMI over-rewards rare pairs; G²
  // demands evidence). Rides the same shared token-array stage.
  def bigramG2Top(s: SparkSession, dir: String): DataFrame =
    TextCorpus.bigramG2FromArrs(tokenArrays(s, dir),
        minCount = 5L, k = 20)
      .orderBy("rnk")

  // add-0.5-smoothed bigram LM per-doc score — the conditional-
  // probability upgrade of q77's unigram fluency (word order now
  // matters); rides the shared token-array stage
  def bigramLm(s: SparkSession, dir: String): DataFrame =
    TextCorpus.bigramLogProbFromArrs(Tables.documents(s, dir),
        tokenArrays(s, dir), "doc_id", addK = 0.5)
      .orderBy("doc_id")

  /** Persisted bigram-LM stage per (session, sf dir): counts written
    * to parquet once via [[TextCorpus.writeLmStages]], read back via
    * [[TextCorpus.lmStagesFromParquet]] — the q137–q139 fit-once/
    * reuse-for-months contract extended to the TEXT family. Unlike the
    * ANN tensors the LM count tables are vocabulary-sized, so they
    * stay DataFrames end-to-end: the contract here is "the scoring
    * plan joins parquet-backed counts and re-aggregates NOTHING from
    * the reference corpus" (PlanSpec pins exactly one Aggregate — the
    * per-doc scorer). */
  private val persistedLm = StageMemo.stageWith[(DataFrame, DataFrame, Double)](
      "persisted_lm", touch = _._1.count()) { (s, dir) =>
    val base = StageMemo.tempDir("graft_lmfit_").toString
    TextCorpus.writeLmStages(s, base, tokenArrays(s, dir), "doc_id")
    TextCorpus.lmStagesFromParquet(s, base)
  }

  // q118's persisted twin: scores the corpus against the READ-BACK
  // count tables — integer counts round-trip exactly, so q118's
  // oracle holds verbatim; a fresh session holding the LM parquet
  // never re-aggregates the reference corpus
  def bigramLmPersist(s: SparkSession, dir: String): DataFrame = {
    val (uni, cab, v) = persistedLm(s, dir)
    TextCorpus.bigramLogProbFromModel(Tables.documents(s, dir),
        tokenArrays(s, dir), "doc_id", addK = 0.5, uni, cab, v)
      .orderBy("doc_id")
  }

  // q445: interpolated Kneser-Ney bigram LM per-doc score — the
  // smoothing the production perplexity filters actually run
  // (KenLM/CCNet) beside q118's add-k: discounted bigram mass backs
  // off to CONTINUATION counts, so frequent-but-context-bound words
  // stop inflating word-salad scores. Rides the shared token-array
  // stage; every model quantity is an integer count.
  def knLm(s: SparkSession, dir: String): DataFrame =
    TextCorpus.knLogProbFromArrs(Tables.documents(s, dir),
        tokenArrays(s, dir), "doc_id", discount = 0.75)
      .orderBy("doc_id")

  /** Trained logistic quality filter, memoized per (session, dir):
    * 3 full-batch GD rounds over 32 hashed-bucket presence features,
    * label = (lang = 'en') — the fastText-style router trained
    * IN-ENGINE (q53's Lloyd collect-and-rebroadcast pattern: the
    * B+1-weight model is driver-sized; the corpus only feeds keyed
    * aggregates). q446 scores ride the same trained weights as the
    * q447 weights table — one training pass for both gates. */
  private val lrModel = StageMemo.stage("lr_model") { (s, dir) =>
    val labels = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .localCheckpoint()
    val feats = TrainedFilter.hashedFeatures(tokenArrays(s, dir), 32)
      .localCheckpoint()
    val (wu, bu) = TrainedFilter.trainLogistic(labels, feats,
      buckets = 32, iters = 3, lr = 0.5, nDocs = labels.count())
    (labels, feats, wu, bu)
  }

  // q446: per-doc scores under the in-engine trained logistic filter
  def lrFilterScores(s: SparkSession, dir: String): DataFrame = {
    val (labels, feats, wu, bu) = lrModel(s, dir)
    TrainedFilter.scoreLogistic(labels, feats, wu, bu).orderBy("doc_id")
  }

  // q447: the trained model itself — 32 bucket weights + bias (j=-1)
  def lrFilterWeights(s: SparkSession, dir: String): DataFrame = {
    val (_, _, wu, bu) = lrModel(s, dir)
    TrainedFilter.weightsTable(s, wu, bu).orderBy("j")
  }

  // q462: 2-fold CROSS-VALIDATION of the q446 trained logistic filter
  // — the overfitting audit every in-engine trained model owes its
  // users: train on each md5-split half (the q59 deterministic split
  // convention), score EVERYTHING, and report train vs held-out
  // accuracy per fold with the generalization gap. Rides the shared
  // token-array + hashed-feature stages; each fold is one
  // TrainedFilter GD run (3 rounds) over its half, so the whole audit
  // unrolls into oracle SQL via the prefix-parameterized round CTEs.
  def lrCrossVal(s: SparkSession, dir: String): DataFrame = {
    def rnd4(x: Double): Double =
      if (x < 0) -math.floor(-x * 1e4 + 0.5) / 1e4
      else math.floor(x * 1e4 + 0.5) / 1e4
    val labels = Tables.documents(s, dir)
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        (CorpusOps.hashBucket(col("doc_id"), "split", 100) < 50).as("ina"))
      .localCheckpoint()
    val feats = TrainedFilter.hashedFeatures(tokenArrays(s, dir), 32)
      .localCheckpoint()
    val rows = Seq(("a", true), ("b", false)).map { case (fold, flagA) =>
      val trainLab = labels.filter(col("ina") === flagA).select("doc_id", "y")
      val trainFeats = feats
        .join(trainLab.select("doc_id"), Seq("doc_id"), "leftsemi")
      val nTrain = trainLab.count()
      val (wu, bu) = TrainedFilter.trainLogistic(trainLab, trainFeats,
        buckets = 32, iters = 3, lr = 0.5, nDocs = nTrain)
      val m = TrainedFilter
        .scoreLogistic(labels.select("doc_id", "y"), feats, wu, bu)
        .join(labels.select("doc_id", "ina"), Seq("doc_id"))
        .agg(
          sum(when(col("ina") === flagA, 1L).otherwise(0L)).as("ntr"),
          sum(when(col("ina") === flagA &&
            col("pred").cast("long") === col("label"), 1L).otherwise(0L))
            .as("ctr"),
          sum(when(col("ina") =!= flagA, 1L).otherwise(0L)).as("nte"),
          sum(when(col("ina") =!= flagA &&
            col("pred").cast("long") === col("label"), 1L).otherwise(0L))
            .as("cte"))
        .head()
      val (ntr, ctr, nte, cte) =
        (m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3))
      val accTr = rnd4(ctr.toDouble / ntr)
      val accTe = rnd4(cte.toDouble / nte)
      (fold, ntr, nte, accTr, accTe, rnd4(accTr - accTe))
    }
    import s.implicits._
    rows.toDF("fold", "n_train", "n_test", "acc_train", "acc_test", "gap")
      .orderBy("fold")
  }

  // q448: the CCNet head/middle/tail FILTER DECISION table — the step
  // the q445 KN-LM score exists for: per LANGUAGE, docs are bucketed by
  // 4-dp-pinned exact avg-logp quartiles (head = most fluent quartile,
  // tail = least; per-language because perplexity scales are not
  // comparable across languages — the CCNet design point), and the
  // report is the per-(lang, bucket) doc/token mass a curation run
  // keeps (head+middle) or drops (tail). Docs the LM cannot score
  // (< 2 tokens) land in an explicit 'unscored' bucket. Scale shape:
  // bucketing is a broadcast of per-lang cut points + a map-only
  // comparison — NO per-lang global sort/ntile; the only shuffles are
  // the q445 count tables and two small keyed aggregates.
  def perplexityFilter(s: SparkSession, dir: String): DataFrame = {
    val scored = knLm(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        T.tokenCount(col("text")).cast("long").as("__toks")), Seq("doc_id"))
    val bounds = scored.filter(col("avg_logp").isNotNull)
      .groupBy("lang")
      .agg(M.oracleRound(expr("percentile(avg_logp, 0.25)"), 4).as("__b1"),
        M.oracleRound(expr("percentile(avg_logp, 0.75)"), 4).as("__b2"))
    scored.join(broadcast(bounds), Seq("lang"), "left")
      .withColumn("bucket",
        when(col("avg_logp").isNull, lit("unscored"))
          .when(col("avg_logp") <= col("__b1"), lit("tail"))
          .when(col("avg_logp") <= col("__b2"), lit("middle"))
          .otherwise(lit("head")))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_tokens"),
        M.oracleRound(
          sum(col("avg_logp").cast("decimal(20,4)")).cast("double") /
            count(col("avg_logp")), 4).as("mean_logp"))
      .withColumn("kept", col("bucket").isin("head", "middle"))
      .orderBy("lang", "bucket")
  }

  // q449: SoftDeDup-style down-WEIGHTING instead of dropping — every
  // member of a near-dup component (the shared q49 components over
  // J >= 0.7 pairs) gets sampling weight 1/|component| so the
  // component contributes ONE document's worth of expected tokens to
  // an epoch; unduplicated docs keep weight 1. The report is the
  // per-source raw vs EFFECTIVE token mass — what the mixture planner
  // should budget with when dedup is soft (repeated text down-sampled,
  // not discarded). Per-doc token·weight terms are 6-dp-pinned and
  // DECIMAL-summed (order-free), one rounded division at the end.
  def softDedup(s: SparkSession, dir: String): DataFrame = {
    val comps = dupComponents(s, dir)
    val csz = comps.groupBy("comp").agg(count(lit(1)).as("__csz"))
    val member = comps.select(col("node").as("doc_id"), col("comp"))
      .join(csz, Seq("comp"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        T.tokenCount(col("text")).cast("long").as("__toks"))
      .join(member, Seq("doc_id"), "left")
      .withColumn("__w", when(col("__csz").isNull, lit(1.0))
        .otherwise(lit(1.0) / col("__csz").cast("double")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__csz").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("__toks")).as("raw_tokens"),
        M.oracleRound(
          sum(M.oracleRound(col("__toks").cast("double") * col("__w"), 6)
            .cast("decimal(24,6)")).cast("double"), 4).as("effective_tokens"))
      .orderBy("source")
  }

  // q450: Simple Good-Turing smoothing design table (Gale & Sampson
  // '95) over word-TRIGRAM counts (trigrams, not unigrams — the q153
  // rationale: the gate corpus' ~31-term unigram vocabulary has no
  // count-1 tail, while the ~30k-trigram universe has the full N_1-
  // heavy frequency-of-frequencies an LM smoother actually faces).
  // Emits, for r <= 10: N_r, the Church-Gale neighbor-smoothed Z_r,
  // the raw Turing estimate r* = (r+1)N_{r+1}/N_r (NULL where the
  // next count class is empty — the gap SGT exists to fix), and the
  // log-log-fit estimate r*_LGT = r(1+1/r)^{b+1}; the fitted slope b
  // and the unseen mass p0 = N_1/N ride as constant columns (the q221
  // convention). Scale shape: counts and N_r are two keyed aggregates
  // over the shared token-array stage; the window runs on the N_r
  // table, whose row count is bounded by the number of DISTINCT
  // frequencies <= sqrt(2N) — driver-tiny at any corpus size. The fit
  // is 6/8-dp-pinned DECIMAL-summed regression (order-free).
  def goodTuring(s: SparkSession, dir: String): DataFrame = {
    val tri = tokenArrays(s, dir)
      .filter(size(col("a")) >= 3)
      .select(explode(transform(sequence(lit(1), size(col("a")) - 2), i =>
        concat_ws(" ", element_at(col("a"), i),
          element_at(col("a"), i + 1), element_at(col("a"), i + 2))))
        .as("w"))
    val nr = tri.groupBy("w").agg(count(lit(1)).as("r"))
      .groupBy("r").agg(count(lit(1)).as("n_r"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("r")
    val zr = nr
      .withColumn("__q", lag(col("r"), 1, 0).over(w))
      .withColumn("__t", coalesce(lead(col("r"), 1).over(w),
        lit(2) * col("r") - col("__q")))
      .withColumn("z_r", M.oracleRound(
        lit(2.0) * col("n_r").cast("double") /
          (col("__t") - col("__q")).cast("double"), 6))
      .withColumn("__x", M.oracleRound(log10(col("r").cast("double")), 6))
      .withColumn("__y", M.oracleRound(log10(col("z_r")), 6))
    val fit = zr.agg(
      count(lit(1)).cast("double").as("__n"),
      sum(col("__x").cast("decimal(20,6)")).cast("double").as("__sx"),
      sum(col("__y").cast("decimal(20,6)")).cast("double").as("__sy"),
      sum(M.oracleRound(col("__x") * col("__x"), 8).cast("decimal(24,8)"))
        .cast("double").as("__sxx"),
      sum(M.oracleRound(col("__x") * col("__y"), 8).cast("decimal(24,8)"))
        .cast("double").as("__sxy"),
      sum(col("r") * col("n_r")).cast("double").as("__nn"),
      sum(when(col("r") === 1, col("n_r")).otherwise(0L))
        .cast("double").as("__n1"))
      .select(
        M.oracleRound((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("__n") * col("__sxx") - col("__sx") * col("__sx")), 6).as("b"),
        M.oracleRound(col("__n1") / col("__nn"), 6).as("p0"))
    val nextNr = nr.select((col("r") - 1).as("r"), col("n_r").as("__n_next"))
    zr.join(nextNr, Seq("r"), "left")
      .crossJoin(broadcast(fit))
      .filter(col("r") <= 10)
      .select(col("r"), col("n_r"), col("z_r"),
        M.oracleRound((col("r") + 1).cast("double") *
          col("__n_next").cast("double") / col("n_r").cast("double"), 4)
          .as("r_turing"),
        M.oracleRound(col("r").cast("double") *
          pow((col("r") + 1).cast("double") / col("r").cast("double"),
            col("b") + lit(1.0)), 4).as("r_lgt"),
        col("b"), col("p0"))
      .orderBy("r")
  }

  /** Trained AdaBoost stump ensemble, memoized per (session, dir):
    * 3 boosting rounds over three cheap numeric signals (token count,
    * char count, distinct-token count), label = (lang = 'en') as
    * ±1 — the q446 logistic filter's label learned by a different
    * model family (additive stumps vs linear-in-buckets), the
    * "do two learners agree?" audit pair. See [[Boosting]] for the
    * determinism contract. q452 gates the model, q453 the scores —
    * one training pass for both. */
  private val adaModel = StageMemo.stage("ada_model") { (s, dir) =>
    val wide = Tables.documents(s, dir).select(col("doc_id"),
        when(col("lang") === "en", 1).otherwise(-1).as("y"),
        T.tokenCount(col("text")).cast("double").as("f1"),
        col("n_chars").cast("double").as("f2"),
        size(array_distinct(T.tokens(lower(col("text")))))
          .cast("double").as("f3"))
      .localCheckpoint()
    val fv = wide.selectExpr("doc_id", "y",
      "stack(3, 1, f1, 2, f2, 3, f3) as (feat, fv)").localCheckpoint()
    (wide, Boosting.train(s, fv, iters = 3))
  }

  // q452: the boosted-stump model table — per round the chosen stump
  // (feat, thr, pol), its weighted error, and α
  def adaStumps(s: SparkSession, dir: String): DataFrame =
    Boosting.modelTable(s, adaModel(s, dir)._2).orderBy("t")

  // q453: per-doc additive scores + sign predictions under the trained
  // ensemble (map-only: the stumps are literals)
  def adaScores(s: SparkSession, dir: String): DataFrame = {
    val (wide, stumps) = adaModel(s, dir)
    Boosting.scores(wide, stumps).orderBy("doc_id")
  }

  // q458: WARC shard round trip — the q157 tar discipline applied to
  // the crawl-native container (Common Crawl's WARC is the upstream of
  // most pretraining text): 50-doc shards built as conforming WARC/1.0
  // files (warcinfo + one response record per doc) by the native
  // encoder, then walked back by the STRICT native parser; the oracle
  // restates record offsets/lengths arithmetically off the documents
  // table, so the measured parse proves the byte layout. Shard state =
  // collect_list of its ≤50 members (bounded by shard size); shards
  // scale out, members don't.
  def warcShards(s: SparkSession, dir: String): DataFrame = {
    val shards = Tables.documents(s, dir)
      .select((col("doc_id") / 50).cast("long").as("shard"),
        struct(col("doc_id"), col("text")).as("m"))
      .groupBy("shard")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .select(col("shard"), Multimodal.warcBytes(col("members")).as("__w"))
    shards
      .select(col("shard"), Multimodal.warcEntries(col("__w")).as("__r"))
      .select(col("shard"),
        col("__r.n_records").as("n_records"),
        col("__r.warc_len").as("warc_len"),
        explode(col("__r.records")).as("__e"))
      .select(col("shard"), col("n_records"), col("warc_len"),
        col("__e.idx").as("idx"), col("__e.rec_type").as("rec_type"),
        col("__e.uri").as("uri"), col("__e.off").as("off"),
        col("__e.content_length").as("content_length"),
        col("__e.payload_md5").as("payload_md5"))
      .orderBy("shard", "idx")
  }

  // q461: leave-one-out k-NN CLASSIFIER eval over the labeled
  // embedding corpus — the zero-training "are these embeddings even
  // separable?" probe an embedding pipeline runs before paying for a
  // classifier (and the direct quality read on the embedding space the
  // silhouette q263 measures geometrically). Every vector is
  // classified by the majority label of its exact top-5 cosine
  // neighbors (ties → count DESC, label ASC), scored against its own
  // label, reported per class + overall (-1). Brute-force exact by
  // CONTRACT (the cosineSimJoin verification rule): this is the eval
  // operator; at 100 TB the top-k leg swaps for the index leg and the
  // vote/report shape is unchanged — gated as q468 ([[knnEvalIvf]],
  // the identical [[knnVoteReport]] tail over Similarity.ivfSelfTopK).
  def knnEval(s: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val emb = normEmb(s, dir)
    val topk = Similarity.cosineTopK(emb, "vec_id", "embedding", emb,
      k = 5, preNormalized = true)
    knnVoteReport(labels, topk)
  }

  /** The kNN-eval vote/report tail, leg-agnostic by design (the q206/
    * q461 contract: "the downstream joins are unchanged when the
    * brute-force leg swaps for an index leg"): majority label of the
    * top-k neighbors (ties → count DESC, label ASC) scored against the
    * query's own label, reported per class + overall. q461 feeds it the
    * exact leg; q468 feeds it [[ivfSelfTop5]] — gating that this tail
    * genuinely is leg-agnostic rather than asserting it in a comment. */
  private def knnVoteReport(labels: DataFrame, topk: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__c").desc, col("__nl"))
    val pred = topk
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("__nl")), Seq("neighbor_id"))
      .groupBy("query_id", "__nl").agg(count(lit(1)).as("__c"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__nl").as("__pred"))
    val ev = pred
      .join(labels.select(col("vec_id").as("query_id"), col("label")),
        Seq("query_id"))
      .withColumn("__ok", when(col("__pred") === col("label"), 1L)
        .otherwise(0L))
      .localCheckpoint() // per-class and overall rows both read it
    val acc = M.oracleRound(
      col("n_correct").cast("double") / col("n"), 4).as("acc")
    // the overall row carries is_overall=true + NULL label rather than
    // a -1 label sentinel: a corpus with a legitimate -1 class (the ±1
    // convention the AdaBoost queries use) must stay distinguishable
    ev.groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("__ok")).as("n_correct"))
      .select(col("label"), lit(false).as("is_overall"),
        col("n"), col("n_correct"), acc)
      .unionByName(ev
        .agg(count(lit(1)).as("n"), sum(col("__ok")).as("n_correct"))
        .select(lit(null).cast("int").as("label"),
          lit(true).as("is_overall"), col("n"), col("n_correct"), acc))
      .orderBy("is_overall", "label")
  }

  /** q459's shard-file stage — the [[tarShardDir]] contract for
    * `.warc` shards (written once per (session, sf dir), executor-side
    * writers, same shared-filesystem caveat). */
  private val warcShardDir = StageMemo.stage("warc_shards") { (s, dir) =>
    val base = StageMemo.tempDir("graft_warcv2_").toString
    Tables.documents(s, dir)
      .select((col("doc_id") / 50).cast("long").as("shard"),
        struct(col("doc_id"), col("text")).as("m"))
      .groupBy("shard")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .select(col("shard"), Multimodal.warcBytes(col("members")).as("w"))
      .foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(base,
                f"shard-${r.getLong(0)}%05d.warc"),
              r.getAs[Array[Byte]](1))
          }
      }
    base
  }

  // q459: the q458 record manifest read back THROUGH the DataSourceV2
  // table ([[graft.sources.WarcShardSource]]) with the WARC idiom's
  // filter pushed down — `rec_type = 'response'` skips framing records
  // inside the reader, and this projection computes md5 in the reader
  // only because payload_md5 is selected. The oracle is q458's
  // closed-form response branch off the documents table, so a reader
  // framing bug, a lost record, a wrong measured offset, or a wrong
  // digest all go red.
  def dsv2WarcManifest(s: SparkSession, dir: String): DataFrame = {
    val stage = warcShardDir(s, dir)
    s.read.format("graft-warc").load(stage)
      .filter(col("rec_type") === "response")
      .select(
        regexp_extract(col("shard_file"), "shard-(\\d+)\\.warc", 1)
          .cast("long").as("shard"),
        col("idx"), col("rec_type"), col("uri"), col("off"),
        col("content_length"), col("payload_md5"))
      .orderBy("shard", "idx")
  }

  // q457: near-dup THRESHOLD SWEEP — the "pick your dedup τ" design
  // table: the exact-Jaccard pair set at J ≥ 0.5 (the q32-proven
  // complete frame, riding the shared verified-pair stage) bucketed
  // into 0.1-wide bins, with per-bin pair/doc counts and the
  // cumulative pairs a dedup run at each τ would act on. Binning is a
  // CASE ladder on the 4-dp score (no float×10 arithmetic — bin edges
  // compare, never multiply). The windows run on the 5-row bin frame.
  def jaccardSweep(s: SparkSession, dir: String): DataFrame = {
    val pr = jaccardPairs03(s, dir).filter(col("jaccard") >= 0.5)
      .withColumn("bin_lo",
        when(col("jaccard") < 0.6, lit(0.5))
          .when(col("jaccard") < 0.7, lit(0.6))
          .when(col("jaccard") < 0.8, lit(0.7))
          .when(col("jaccard") < 0.9, lit(0.8))
          .otherwise(lit(0.9)))
    val g = pr.groupBy("bin_lo").agg(count(lit(1)).as("n_pairs"))
    val d = pr.select(col("bin_lo"),
        explode(array(col("id_a"), col("id_b"))).as("dd"))
      .groupBy("bin_lo").agg(count_distinct(col("dd")).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin_lo").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    g.join(d, Seq("bin_lo"))
      .withColumn("cum_pairs", sum(col("n_pairs")).over(w))
      .orderBy("bin_lo")
  }

  // q455: residual-quantization distortion design table — level-1 =
  // the SHARED q53 coarse fit (fit once, reuse), level-2 = a Lloyd fit
  // on the residuals (seed 777); per coarse cell the MSE with and
  // without the residual stage. See Similarity.residualQuantDistortion.
  def rqDistortion(s: SparkSession, dir: String): DataFrame =
    Similarity.residualQuantDistortion(normEmb(s, dir), "vec_id",
      "embedding", coarseCenters(s, dir), nlist2 = 16, dim = 64,
      seed2 = 777L, iters = 3)

  // q456: quality-SIGNAL AGREEMENT audit — pairwise Pearson between
  // the three independent doc-level quality signals (q445 KN-LM logp,
  // q25 composite quality, q451 normalized LZ76): the "which filters
  // agree, which measure something different" table a curation stack
  // reads before stacking filters (high |r| ⇒ redundant gate, r ≈ 0 ⇒
  // complementary). Each pair correlates over the docs where BOTH
  // signals exist; moments are 4/8-dp-pinned DECIMAL sums (order-free)
  // with one fixed-shape double chain at the end — the q442 discipline.
  def signalAgreement(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), T.qualityScore(col("text")).as("q"))
      .join(knLm(s, dir).select(col("doc_id"), col("avg_logp").as("lm")),
        Seq("doc_id"), "left")
      .join(lzComplexity(s, dir).select(col("doc_id"), col("c_norm")
        .as("lz")), Seq("doc_id"), "left")
      .localCheckpoint() // three aggregates read it
    def corrRow(name: String, xc: String, yc: String): DataFrame = {
      val x = col(xc)
      val y = col(yc)
      base.filter(x.isNotNull && y.isNotNull)
        .agg(count(lit(1)).as("__n"),
          sum(x.cast("decimal(20,4)")).cast("double").as("__sx"),
          sum(y.cast("decimal(20,4)")).cast("double").as("__sy"),
          sum(M.oracleRound(x * x, 8).cast("decimal(24,8)")).cast("double")
            .as("__sxx"),
          sum(M.oracleRound(y * y, 8).cast("decimal(24,8)")).cast("double")
            .as("__syy"),
          sum(M.oracleRound(x * y, 8).cast("decimal(24,8)")).cast("double")
            .as("__sxy"))
        .select(lit(name).as("pair"), col("__n").as("n"),
          M.oracleRound(
            (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
              (sqrt(col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
                sqrt(col("__n") * col("__syy") - col("__sy") * col("__sy"))),
            4).as("r"))
    }
    corrRow("lm_vs_lz", "lm", "lz")
      .unionByName(corrRow("lm_vs_quality", "lm", "q"))
      .unionByName(corrRow("quality_vs_lz", "q", "lz"))
      .orderBy("pair")
  }

  // q464: DOMAIN-FIT audit — every doc scored under its OWN source's
  // add-k bigram LM vs the global q118 LM, with the delta: a positive
  // delta says the doc is better explained by its own domain (in-
  // domain text), delta ≈ 0 says the source label adds nothing, and a
  // strongly negative delta flags docs that fit the corpus better
  // than their own source — the mislabeled-source / incoherent-domain
  // detector a mixture planner runs before trusting source tags.
  // Scale shape: both models are map-side-combined keyed aggregates
  // over the shared token-array stage (the per-source tables just add
  // `source` to the keys); scoring joins on (source, w1, w2) then
  // (source, w1); the per-source |V| frame broadcasts.
  def domainLmDelta(s: SparkSession, dir: String): DataFrame = {
    val arrs = tokenArrays(s, dir)
    val docs = Tables.documents(s, dir)
    val global = TextCorpus.bigramLogProbFromArrs(
        docs.select("doc_id"), arrs, "doc_id", addK = 0.5)
      .select(col("doc_id"), col("avg_logp").as("lp_global"))
    val bg = arrs.filter(size(col("a")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), size(col("a")) - 1), i =>
          struct(element_at(col("a"), i).as("w1"),
            element_at(col("a"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("source"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    val toksS = arrs.select(col("source"), explode(col("a")).as("w"))
    val uniS = toksS.groupBy("source", "w").agg(count(lit(1)).as("__c1"))
    val vS = toksS.groupBy("source")
      .agg(count_distinct(col("w")).cast("double").as("__vs"))
    val cabS = bg.groupBy("source", "w1", "w2")
      .agg(count(lit(1)).as("__cab"))
    val own = bg
      .join(cabS, Seq("source", "w1", "w2"))
      .join(uniS.select(col("source"), col("w").as("w1"), col("__c1")),
        Seq("source", "w1"))
      .join(broadcast(vS), Seq("source"))
      .withColumn("__l", log10((col("__cab") + lit(0.5)) /
        (col("__c1") + lit(0.5) * col("__vs"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        M.oracleRound(avg(col("__l")), 4).as("lp_own"))
    docs.select(col("doc_id"), col("source"))
      .join(own, Seq("doc_id"), "left")
      .join(global, Seq("doc_id"), "left")
      .withColumn("delta",
        M.oracleRound(col("lp_own") - col("lp_global"), 4))
      .orderBy("doc_id")
  }

  // q451: LZ76 phrase complexity of each doc's first 120 chars — the
  // classic parametric-free "structured text vs word salad vs noise"
  // quality signal (Lempel & Ziv '76) beside q249's trigram
  // compressibility and q337's entropy rate. The parse is inherently
  // sequential per doc, so it runs as ONE native codegen'd expression
  // on the scan ([[graft.expressions.LzComplexity]]) — map-only at any
  // corpus size; the normalization C·log2(n)/n (≈1 for random text,
  // →0 for repetitive) makes scores comparable across lengths.
  def lzComplexity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(substring(col("text"), 1, 120)).as("n_used"),
        call_function("graft_lz76", col("text"), lit(120)).as("lz_c"))
      .withColumn("c_norm", when(col("n_used") > 0, M.oracleRound(
        col("lz_c").cast("double") * log2(col("n_used").cast("double")) /
          col("n_used").cast("double"), 4)))
      .orderBy("doc_id")

  // KMV sketch split-overlap: the two md5-split halves of the corpus
  // (bucket < 50 vs >= 50 of the q59 convention) compared on distinct
  // word TRIGRAMS — per-side estimates, union, Jaccard and
  // intersection from three 256-row sketches, with the exact counts
  // pinned in the same row. Trigrams, not unigrams: the gate corpus'
  // unigram vocabulary (~31 terms) is smaller than k, which would
  // leave every sketch degenerate-exact; the ~30k-trigram universe
  // exercises the (k−1)/x_k estimator and a genuinely fractional
  // Jaccard. Rides the shared token-array stage.
  def kmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenArrays(s, dir)
      .filter(size(col("a")) >= 3)
      .select((CorpusOps.hashBucket(col("doc_id"), "split", 100) < 50)
          .as("side_a"),
        explode(transform(sequence(lit(1), size(col("a")) - 2), i =>
          concat_ws(" ", element_at(col("a"), i),
            element_at(col("a"), i + 1), element_at(col("a"), i + 2))))
          .as("term"))
    TextCorpus.kmvSplitOverlap(toks, "side_a", "term", k = 256)
  }

  // Efraimidis-Spirakis fixed-size weighted sample: exactly 100 docs,
  // token-count-proportional, without replacement — the q81 Bernoulli
  // sampler cannot hit a target count; this one is the mixture
  // builder's "exactly n" primitive. Weight = token count (integral,
  // no float-weight hazard); rides the shared token-array stage.
  def weightedReservoir(s: SparkSession, dir: String): DataFrame = {
    val base = tokenArrays(s, dir)
      .select(col("doc_id"), size(col("a")).as("__w"))
    CorpusOps.weightedReservoir(base, "doc_id", col("__w"), n = 100)
      .select(col("doc_id"), col("w"), col("es_key"), col("rnk"))
      .orderBy("rnk")
  }

  // Content-defined chunk dedup audit: each doc cut at content-local
  // boundaries (8-char window, mask 64 → ~64-char expected chunks),
  // then chunk digests matched ACROSS docs — the chunk-level dup
  // profile that survives prepended-header re-uploads where fixed
  // blocking would not. Scale shape: chunking is a map-only native
  // expression on the scan; the only shuffle is the groupBy(digest)
  // multiplicity count, joined back to the k·|docs| chunk stream.
  def cdcChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val ch = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(call_function("graft_cdc_chunks", col("text"),
          lit(8), lit(64))).as("__c"))
      .select(col("doc_id"), col("__c.len").as("__len"),
        col("__c.chunk_md5").as("__md5"))
    val multiplicity = ch.groupBy("__md5")
      .agg(countDistinct("doc_id").as("__docs"))
    val perDoc = ch.join(multiplicity, Seq("__md5"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__docs") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("__docs") > 1, col("__len").cast("long"))
          .otherwise(0L)).as("dup_chars"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .orderBy("doc_id")
  }

  // Heaps'-law vocabulary-growth audit over the shared token-array
  // stage: 50-doc buckets (10 buckets at sf0.01, 100 at sf0.1 — the
  // bucket count scales with the corpus, the per-bucket table stays
  // tiny), running vocab/token totals + the local Heaps exponent
  def vocabGrowth(s: SparkSession, dir: String): DataFrame =
    TextCorpus.vocabGrowth(tokenArrays(s, dir), "doc_id", bucketSize = 50)
      .orderBy("bkt")

  /** Shared 6-round BPE fit per (session, sf dir) — the fit is 12
    * corpus scans (pair election + post-rewrite length per round), by
    * far the heaviest stage in the tokenizer family; q160 and q164
    * consume ONE fit instead of re-training (r9 bench: the two queries
    * were 24 s of the 176 s suite, fit duplication being half of it).
    * The memo holds only the bounded merge table + the rewrite Column
    * (driver-side values, no pinned executor blocks). */
  private val bpeFit6 = StageMemo.stage("bpe_fit") { (s, dir) =>
    TextCorpus.bpeFit(Tables.documents(s, dir), "text", rounds = 6)
  }

  // q160: char-level BPE vocabulary learning — 6 merge rounds over the
  // raw documents text, the tokenizer-training op of the pipeline
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    TextCorpus.bpeMergesFromFit(s, bpeFit6(s, dir))

  // q164: tokenizer apply — encode with the learned merges, report
  // per-doc compression and fertility
  def bpeEncode(s: SparkSession, dir: String): DataFrame =
    TextCorpus.bpeEncodeFromFit(Tables.documents(s, dir), "doc_id", "text",
        bpeFit6(s, dir))
      .orderBy("doc_id")

  // q269: tokenizer fertility per language — the multilingual-equity
  // audit (SentencePiece/XLM-R papers' headline metric): micro-average
  // tokens-per-word and chars-per-token per lang, over the SHARED BPE
  // fit (one vocabulary for all languages, which is exactly why
  // fertility diverges by lang). Rides q164's encode stage; one extra
  // broadcast join + keyed aggregate.
  def bpeFertility(s: SparkSession, dir: String): DataFrame =
    TextCorpus.bpeEncodeFromFit(Tables.documents(s, dir), "doc_id", "text",
        bpeFit6(s, dir))
      .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        M.oracleRound(sum(col("n_tokens")).cast("double")
          / sum(col("n_words")).cast("double"), 4).as("fertility"),
        M.oracleRound(sum(col("n_chars")).cast("double")
          / sum(col("n_tokens")).cast("double"), 4).as("compression"))
      .orderBy("lang")

  // q271: retrieval MRR + recall@5 with label relevance — the eval
  // harness metric alongside q170's NDCG and q208's RBO: queries are
  // a FIXED-SIZE md5 sample (24 probes — a modulus sample grows with
  // the corpus and makes sample × corpus quadratic, the r14
  // second-decade lesson), candidates ranked by exact cosine (the q28
  // convention: descending similarity, vec_id tiebreak), a hit is a
  // same-label neighbor; MRR averages 1/rank-of-first-hit (0 when no
  // same-label doc exists among candidates — stated contract).
  def retrievalMrr(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("e"))
    val q = md5Panel(emb, "vec_id", "mrrq", 24, Seq("vec_id", "label", "e"))
      .toDF("qid", "qlabel", "qe")
    val scored = q.crossJoin(emb.toDF("cid", "clabel", "ce"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
        (call_function("graft_dot", col("qe"), col("ce")) /
          (sqrt(call_function("graft_dot", col("qe"), col("qe"))) *
            sqrt(call_function("graft_dot", col("ce"), col("ce")))))
          .as("cos"))
      .withColumn("rnk", row_number().over(
        w.partitionBy("qid").orderBy(col("cos").desc, col("cid"))))
    val perQuery = scored
      .groupBy("qid")
      .agg(
        min(when(col("clabel") === col("qlabel"), col("rnk")))
          .as("first_hit"),
        sum(when(col("clabel") === col("qlabel") && col("rnk") <= 5, 1L)
          .otherwise(0L)).as("hits_at_5"))
    perQuery.agg(
      count(lit(1)).as("n_queries"),
      M.oracleRound(avg(when(col("first_hit").isNotNull,
        lit(1.0) / col("first_hit")).otherwise(lit(0.0))), 4).as("mrr"),
      M.oracleRound(avg(when(col("hits_at_5") > 0, 1.0).otherwise(0.0)), 4)
        .as("recall_at_5"))
  }

  // q272: the dataset card — the one-table corpus summary a release
  // ships with (docs, languages, sources, exact-dup rate, length and
  // token profile, language share), every metric from ONE scan of
  // documents (a single multi-aggregate; the three count-distincts
  // are the only expansion and each is a keyed dedup at scale).
  // Long (metric, value) shape so downstream diffing of two cards is
  // a join, not a schema migration.
  def datasetCard(s: SparkSession, dir: String): DataFrame =
    cardAgg(Tables.documents(s, dir))

  // q313: dataset-card DIFF — the release-to-release comparison q272's
  // long shape exists for ("diffing two cards is a join"): card A is
  // the full corpus, card B the next release candidate (drops source
  // src0 and sub-100-char docs — the curation action under review),
  // joined on metric with absolute and relative deltas. Both cards are
  // single multi-aggregate scans; the diff is a 9-row join.
  def cardDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val a = cardAgg(docs).toDF("metric", "value_a")
    val b = cardAgg(docs.filter(col("source") =!= "src0" &&
      col("n_chars") >= 100)).toDF("metric", "value_b")
    a.join(b, "metric")
      .select(col("metric"), col("value_a"), col("value_b"),
        M.oracleRound(col("value_b") - col("value_a"), 4).as("delta"),
        when(col("value_a") =!= 0.0, M.oracleRound(
          (col("value_b") - col("value_a")) / col("value_a"), 4))
          .as("pct_change"))
      .orderBy("metric")
  }

  private def cardAgg(d0: DataFrame): DataFrame = {
    val d = d0
      .withColumn("nw", size(split(trim(col("text")), "\\s+")).cast("long"))
    val agg = d.agg(
      count(lit(1)).cast("double").as("n_docs"),
      countDistinct(col("lang")).cast("double").as("n_langs"),
      countDistinct(col("source")).cast("double").as("n_sources"),
      M.oracleRound(lit(1.0) -
        countDistinct(col("text")).cast("double") / count(lit(1)), 4)
        .as("exact_dup_rate"),
      M.oracleRound(avg(col("n_chars")), 4).as("mean_chars"),
      expr("percentile(n_chars, 0.5D)").as("p50_chars"),
      sum(col("nw")).cast("double").as("tokens_total"),
      M.oracleRound(sum(col("nw")).cast("double") / count(lit(1)), 4)
        .as("mean_tokens"),
      M.oracleRound(avg(when(col("lang") === "en", 1.0).otherwise(0.0)), 4)
        .as("pct_en"))
    agg.selectExpr(
      """stack(9,
        | 'n_docs', n_docs,
        | 'n_langs', n_langs,
        | 'n_sources', n_sources,
        | 'exact_dup_rate', exact_dup_rate,
        | 'mean_chars', mean_chars,
        | 'p50_chars', p50_chars,
        | 'tokens_total', tokens_total,
        | 'mean_tokens', mean_tokens,
        | 'pct_en', pct_en) AS (metric, value)""".stripMargin)
      .orderBy("metric")
  }

  // q179: banded-LSH collision S-curve vs theory on planted
  // variable-J pairs — the dedup-design audit (q51's design-regime
  // discipline applied to the MinHash family)
  def lshCollisionAudit(s: SparkSession, dir: String): DataFrame =
    Dedup.lshCollisionAudit(Tables.documents(s, dir), "doc_id", "text",
        bands = 16, rowsPerBand = 4)
      .orderBy("id_a")

  // q178: Gini of token mass across sources off the shared tokenize
  // stage — the mixture-inequality audit
  def sourceGini(s: SparkSession, dir: String): DataFrame =
    TextCorpus.sourceGini(tokenArrays(s, dir), "source", "a")

  // q184: waterfilling cap solve at budget = half the corpus —
  // q178's diagnostic turned into the mixture PLANNER
  def waterfillCaps(s: SparkSession, dir: String): DataFrame =
    CorpusOps.waterfillCaps(tokenArrays(s, dir), "source", "a",
      budgetNum = 1, budgetDen = 2)

  // q185: group-aware 5-fold split audit keyed by source — the
  // leakage-proof-by-construction split next to q59/q127
  def groupKFold(s: SparkSession, dir: String): DataFrame =
    CorpusOps.groupKFoldAudit(tokenArrays(s, dir), "source", "a", k = 5)

  // q186: LSH banding design table at tau = 0.80 over 64 hashes —
  // q179's measured S-curve turned into the designer
  def lshDesign(s: SparkSession, dir: String): DataFrame =
    Dedup.lshDesignTable(totalHashes = 64, tauGrid = 80)

  // q176: tokenizer round-trip audit on the SHARED fit — per-doc
  // decode(encode(x)) == x booleans; 2*rounds chained replaces, no
  // shuffle beyond the output sort
  def bpeRoundtrip(s: SparkSession, dir: String): DataFrame =
    TextCorpus.bpeRoundtrip(Tables.documents(s, dir), "doc_id", "text",
        bpeFit6(s, dir))
      .orderBy("doc_id")

  // q165: consecutive-bigram phrase probe at the corpus' top bigram
  def phraseSearch(s: SparkSession, dir: String): DataFrame =
    TextCorpus.phraseSearchFromArrs(
      tokenArrays(s, dir).select(col("doc_id"), col("a")), "doc_id")
      .orderBy("doc_id")

  // q166: Zipf rank-frequency slope over the top-100 vocabulary head
  def zipfFit(s: SparkSession, dir: String): DataFrame =
    TextCorpus.zipfFit(lowerToks(s, dir), topK = 100)

  /** Word-bigram stream off the shared tokenize stage — map-only HOF
    * pair generation, consumed by the HLL (q167) and prefix-filter
    * (q171) legs. Not checkpointed: regenerating from the cached token
    * arrays is a pure projection. */
  private def bigramStream(s: SparkSession, dir: String): DataFrame =
    tokenArrays(s, dir).filter(size(col("a")) >= 2)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(transform(sequence(lit(1), size(col("a")) - 1),
          i => concat(element_at(col("a"), i), lit(" "),
            element_at(col("a"), i + 1)))).as("bg"))

  // q167: per-language HyperLogLog distinct-BIGRAM estimate (p=6 so the
  // ~1.6k-bigram space exercises the raw-estimate regime, not just
  // linear counting); bigrams from the ONE shared tokenize stage
  def hllBigrams(s: SparkSession, dir: String): DataFrame =
    TextCorpus.hllDistinct(bigramStream(s, dir).select("lang", "bg"),
      "lang", "bg", p = 6)

  /** q170: NDCG@5 of the IVF leg against the exact cosine top-5 — the
    * GRADED retrieval-quality gate next to q106's binary recall:
    * recall@k treats rank-1 and rank-5 hits alike, NDCG charges the
    * approximate index for returning the right neighbors in the wrong
    * ORDER (rel = 6 − exact_rank, position discount 1/log2(p+1)).
    * Every DCG term is fixed-point quantized (`floor(·10⁶+.5)` longs)
    * so the per-query sums are exact integers both sides — including
    * the IDCG normalizer, computed from a 5-row range through the SAME
    * column expression rather than a driver-side constant (any
    * engine/oracle ln() divergence then shows up as a hash mismatch
    * instead of hiding in a baked literal). Scale: both legs are the
    * shared pipelines; the join moves k·|queries| rows.
    */
  def ndcgEval(s: SparkSession, dir: String): DataFrame =
    Similarity.ndcgAtK(s,
        cosineTopK(s, dir).select("query_id", "neighbor_id", "rnk"),
        ivfTopK(s, dir).select("query_id", "neighbor_id", "rnk"), k = 5)
      .orderBy("query_id")

  /** Persisted per-SHARD HLL register tables (shard = `source`) — the
    * nightly-sketch contract: each shard's `(source, bucket, rho)`
    * rows are written to parquet ONCE; any later distinct-count union
    * merges register tables by pointwise max without re-reading a
    * byte of corpus text. 64 rows per shard regardless of shard size
    * — the sketch-persistence economics that make cross-shard
    * cardinality questions free at 100 TB. */
  private val persistedHllRegs = StageMemo.stage("hll_regs") { (s, dir) =>
    val p = StageMemo.tempDir("graft_hllreg_").resolve("regs").toString
    TextCorpus.hllRegisters(bigramStream(s, dir).select("source", "bg"),
        "source", "bg", p = 6)
      .write.mode("overwrite").parquet(p)
    s.read.parquet(p)
  }

  // q174: cross-shard distinct-count union FROM PERSISTED REGISTERS
  // ONLY — per-shard estimates plus the '__all__' merged row, the
  // merge a pointwise bucket max (mergeability is the theorem; the
  // oracle recomputing every number from raw text is the proof). The
  // documents table appears NOWHERE in this plan (PlanSpec-pinned).
  def hllShardUnion(s: SparkSession, dir: String): DataFrame = {
    val regs = persistedHllRegs(s, dir)
    val perShard = TextCorpus.hllEstimate(regs, "source", p = 6)
    val merged = TextCorpus.hllEstimate(
      regs.groupBy("bucket").agg(max("rho").as("rho"))
        .withColumn("source", lit("__all__")),
      "source", p = 6)
    perShard.unionByName(merged)
      .select("source", "v_zero", "z_scaled", "est")
      .orderBy("source")
  }

  // q194: Poisson-bootstrap 95% CI for mean tokens/doc, B = 200
  // replicates in ONE corpus pass
  def bootstrapCI(s: SparkSession, dir: String): DataFrame =
    Quality.poissonBootstrapCI(Tables.documents(s, dir), "doc_id",
      T.tokenCount(col("text")), reps = 200)

  /** Documents exported to JSONL once per (session, sf dir) — the raw
    * interchange drop the q196 gate re-ingests. */
  private val persistedJsonl = StageMemo.stage("jsonl_dir") { (s, dir) =>
    val p = StageMemo.tempDir("graft_jsonl_").resolve("docs").toString
    graft.sources.FileFormats.writeJsonl(Tables.documents(s, dir), p,
      maxPartitions = 8)
    p
  }

  /** Documents exported to ORC once per (session, sf dir) — the
    * warehouse-interop drop the q197 gate re-ingests. */
  private val persistedOrc = StageMemo.stage("orc_dir") { (s, dir) =>
    val p = StageMemo.tempDir("graft_orc_").resolve("docs").toString
    graft.sources.FileFormats.writeOrc(Tables.documents(s, dir), p,
      maxPartitions = 8)
    p
  }

  // q197: ORC round-trip — q196's columnar twin, gating what ORC adds
  // over JSONL: the read is SELECTIVE (n_chars >= 120) and the
  // predicate must reach the ORC scan as a pushed filter
  // (PlanSpec-pinned), so at 100 TB the format skips whole stripes by
  // min/max stats instead of deserializing every row the way a JSONL
  // re-ingest must. Same order-independent content digest as q196:
  // equality against the parquet truth proves export + re-ingest +
  // pushdown returned exactly the rows the predicate names.
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.FileFormats.readOrc(s, persistedOrc(s, dir))
      .where(col("n_chars") >= 120)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(T.md5Int(col("text"), 8)).as("content_sum"))
      .orderBy("lang")

  // q198: Unicode NFC normalization audit — a crawl mixes precomposed
  // ("é") and decomposed ("e"+U+0301) encodings of the same text, and
  // every downstream equality (exact dedup, shingles, join keys)
  // silently splits on the difference. The gate plants deterministic
  // decomposed suffixes (doc_id-selected combining pairs é/Å/ñ on 3 of
  // every 4 docs), runs the native graft_nfc / graft_is_nfc
  // expressions, and emits per lang: how many docs the quick-check
  // flags, the code-point shrink from composition, and a content
  // digest of the NORMALIZED text — which only matches DuckDB's
  // utf8proc-based nfc_normalize if both engines compose identically.
  // One zero-shuffle projection + one aggregate; at 100 TB this is the
  // ingestion scan guard, not a separate job.
  def nfcAudit(s: SparkSession, dir: String): DataFrame = {
    // decomposed base+combining pairs; NFC composes each to ONE
    // code point (\u00e9 \u00c5 \u00f1)
    val marks = Seq(" e\u0301", " A\u030A", " n\u0303")
    val suffix = when(col("doc_id") % 4 === 0, lit(""))
      .otherwise(element_at(array(marks.map(lit): _*),
        (col("doc_id") % 3 + 1).cast("int")))
    Tables.documents(s, dir)
      .select(col("lang"), concat(col("text"), suffix).as("raw"))
      .select(col("lang"), col("raw"), T.nfc(col("raw")).as("norm"),
        T.isNfc(col("raw")).as("was_nfc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("was_nfc"), 0L).otherwise(1L)).as("n_denorm"),
        sum(length(col("raw"))).as("sum_len_raw"),
        sum(length(col("norm"))).as("sum_len_nfc"),
        sum(T.md5Int(col("norm"), 8)).as("content_sum"))
      .orderBy("lang")
  }

  // q199: q-digest quantile sketch — the quantile member of the sketch
  // family ([[graft.functions.QDigestAgg]]), gated q52-style: the
  // sketch's internals are merge-order-dependent, so the gate emits
  // the EXACT per-lang token-count quantiles (percentile ≡ DuckDB
  // quantile_cont — q50-proven parity) plus booleans proving each
  // sketch answer's TRUE rank (computed exactly in-plan against the
  // token frame) sits within the published ±log2(U)/σ·n bound, and
  // that the digest stayed ≤ 6σ entries. All-integer rank arithmetic
  // (ceil-division targets, ceil-division bound) — no float compare.
  // Three tiny frames (sketch row, exact row, rank row per lang)
  // broadcast-joined; the token scan is the only corpus pass.
  def qdigestQuantiles(s: SparkSession, dir: String): DataFrame = {
    val sigma = 1600
    val logU = 16 // ε = logU/σ = 1% rank error
    val sk = udaf(new graft.functions.QDigestAgg(sigma, logU,
      Seq(0.5, 0.9, 0.99)), org.apache.spark.sql.Encoders.scalaLong)
    val tok = Tables.documents(s, dir)
      .select(col("lang"), T.tokenCount(col("text")).cast("long").as("v"))
    val agg = tok.groupBy("lang")
      .agg(sk(col("v")).as("d"), count(lit(1)).as("n_docs"))
      .select(col("lang"), col("n_docs"),
        col("d")(0).as("e50"), col("d")(1).as("e90"), col("d")(2).as("e99"),
        col("d")(4).as("sk_size"))
    val exact = tok.groupBy("lang").agg(
      M.oracleRound(expr("percentile(v, 0.5D)"), 4).as("p50_exact"),
      M.oracleRound(expr("percentile(v, 0.9D)"), 4).as("p90_exact"),
      M.oracleRound(expr("percentile(v, 0.99D)"), 4).as("p99_exact"))
    // exact rank bracket of each estimate: values <= est occupy sorted
    // 1-based ranks (lo, hi]
    val ranks = tok
      .join(broadcast(agg.select("lang", "e50", "e90", "e99")), Seq("lang"))
      .groupBy("lang").agg(
        sum(when(col("v") < col("e50"), 1L).otherwise(0L)).as("lo50"),
        sum(when(col("v") <= col("e50"), 1L).otherwise(0L)).as("hi50"),
        sum(when(col("v") < col("e90"), 1L).otherwise(0L)).as("lo90"),
        sum(when(col("v") <= col("e90"), 1L).otherwise(0L)).as("hi90"),
        sum(when(col("v") < col("e99"), 1L).otherwise(0L)).as("lo99"),
        sum(when(col("v") <= col("e99"), 1L).otherwise(0L)).as("hi99"))
    // positive-only ceil division; the double divide is exact far past
    // any corpus size (products < 2^53) and the cast truncates = floor
    def ceilDiv(num: Column, den: Long): Column =
      ((num + den - 1L) / den).cast("long")
    val bnd = ceilDiv(col("n_docs") * logU, sigma.toLong)
    def inBound(pNum: Long, pDen: Long, lo: String, hi: String): Column = {
      val target = ceilDiv(col("n_docs") * pNum, pDen)
      (col(lo) <= target - 1L + bnd) && (col(hi) >= target - bnd)
    }
    agg.join(broadcast(exact), Seq("lang"))
      .join(broadcast(ranks), Seq("lang"))
      .select(col("lang"), col("n_docs"),
        col("p50_exact"), col("p90_exact"), col("p99_exact"),
        inBound(1, 2, "lo50", "hi50").as("p50_in_bound"),
        inBound(9, 10, "lo90", "hi90").as("p90_in_bound"),
        inBound(99, 100, "lo99", "hi99").as("p99_in_bound"),
        (col("sk_size") <= 6L * sigma).as("size_bounded"))
      .orderBy("lang")
  }

  // q201: greedy k-center coreset over the embedding corpus — see
  // [[Similarity.kcenterCoreset]]; rank-only output, chained-CTE oracle
  def kcenterGate(s: SparkSession, dir: String): DataFrame =
    Similarity.kcenterCoreset(Tables.embeddings(s, dir),
      "vec_id", "embedding", k = 8)

  /** q202's pattern table — chosen to exercise the automaton's hard
    * cases: patterns that are substrings of other patterns (a/an/scan,
    * in/join, ta/data), a self-overlapping multi-word ("batch batch"
    * matches TWICE in "batch batch batch" — dictionary-suffix
    * counting, where non-overlapping replace-based counts get 1), and
    * a cross-word fragment (rde in "order"). */
  private val acPatterns =
    Seq("a", "an", "scan", "in", "join", "ta", "data", "batch batch", "rde")

  // q202: Aho-Corasick multi-pattern scan — ONE pass over the corpus
  // counting every pattern simultaneously, overlaps included; the
  // 100 TB blocklist shape (10k terms ≠ 10k regexp passes). Output is
  // the sparse (doc, pattern, n_occ) frame; the oracle recounts by
  // brute-force position scan per pattern.
  def multiMatchScan(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(T.multiMatchCounts(col("text"), acPatterns))
          .as(Seq("pidx", "n_occ")))
      .filter(col("n_occ") > 0)
      .select(col("doc_id"),
        element_at(array(acPatterns.map(lit): _*), col("pidx") + 1)
          .as("pattern"),
        col("n_occ"))
      .orderBy("doc_id", "pattern")

  // q196: JSONL round-trip — export the corpus to JSONL, re-ingest
  // with the PINNED schema (single-pass, FAILFAST), and prove content
  // identity against the parquet truth: per-lang counts, exact char
  // sums, and an order-independent content digest (sum of per-doc
  // md5Int(text) — any flipped byte anywhere moves it). This puts the
  // JSONL ingress on the oracle-gated surface, not just in specs.
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val schema = Tables.documents(s, dir).schema
    graft.sources.FileFormats
      .readJsonl(s, persistedJsonl(s, dir), schema)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(T.md5Int(col("text"), 8)).as("content_sum"))
      .orderBy("lang")
  }

  /** q192: FILTERED vector search — the metadata-predicate regime
    * every vector store faces (WHERE label < 5 AND nearest-neighbor):
    * the exact leg PRE-filters the corpus and scans the survivors;
    * the IVF leg cannot pre-filter (cells are built label-blind), so
    * it oversamples its probes (k·5 candidates) and POST-filters —
    * and the gate emits per query how many of the k slots the
    * post-filter actually filled plus recall vs the exact filtered
    * truth. The table IS the design lesson: post-filter recall decays
    * with predicate selectivity, which is why production filtered-ANN
    * either over-provisions nprobe/k or builds label-partitioned
    * indexes. Both legs ride the shared normalized-embedding stage
    * and the q53 persisted coarse fit. */
  def filteredAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    val labels = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val queries = emb.filter(col("vec_id") < 8)
    val corpusF = emb.join(labels.where(col("label") < 5), Seq("vec_id"))
      .select("vec_id", "embedding")
    val exact = Similarity.cosineTopK(corpusF, "vec_id", "embedding",
      queries, k = 5, preNormalized = true)
    val ivf25 = Similarity.ivfTopK(emb, "vec_id", "embedding", queries,
      k = 25, preNormalized = true,
      fittedCenters = Some(coarseCenters(s, dir)))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy("rnk")
    val ivfF = ivf25
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .where(col("label") < 5)
      .withColumn("new_rnk", row_number().over(wq))
      .where(col("new_rnk") <= 5)
      .select("query_id", "neighbor_id")
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(ivfF, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(ivfF.groupBy("query_id").agg(count(lit(1)).as("n_ivf")),
        Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_ivf", "n_hits"))
      .select(col("query_id"), col("n_exact"), col("n_ivf"), col("n_hits"),
        M.oracleRound(col("n_hits").cast("double")
          / col("n_exact").cast("double"), 4).as("recall"))
      .orderBy("query_id")
  }

  /** q189: dedup attrition curve — the threshold DESIGN TABLE for the
    * near-dup family: for each τ on a 0.50…0.95 grid, how many pairs
    * qualify and how many distinct documents they touch. ONE pair
    * computation at the 0.30 floor (the shared shingle stage + the
    * q32 inverted-index join), then ten grid aggregates over the
    * bounded pair frame — never ten pair joins. The threshold compare
    * runs on `floor(J·10⁴+.5)` longs against integer grid points, so
    * a 4-dp-rounded Jaccard can never straddle a grid line
    * differently between engines. On THIS corpus the curve is flat
    * until 0.90 — the bimodality (planted dups ≥ 0.9, background
    * < 0.3) read directly off the table. */
  def dedupAttrition(s: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairs03(s, dir)
      .select(col("id_a"), col("id_b"),
        floor(col("jaccard") * lit(1e4) + lit(0.5)).cast("long").as("jq"))
    val grid = s.range(10, 20).select((col("id") * 5).cast("int").as("tau_pct"))
    val nPairs = grid.join(pairs, pairs("jq") >= grid("tau_pct") * 100, "left")
      .groupBy("tau_pct").agg(count(col("jq")).as("n_pairs"))
    val nDocs = grid.join(pairs, pairs("jq") >= grid("tau_pct") * 100)
      .select(col("tau_pct"),
        explode(array(col("id_a"), col("id_b"))).as("d"))
      .groupBy("tau_pct").agg(countDistinct(col("d")).as("n_docs"))
    nPairs.join(nDocs, Seq("tau_pct"), "left")
      .na.fill(0L, Seq("n_docs"))
      .orderBy("tau_pct")
  }

  /** q188: pairwise cross-source distinct-bigram overlap estimated
    * FROM PERSISTED REGISTERS ONLY — HLL set algebra over the q174
    * stage: |A∪B| by pointwise register max, |A∩B| by
    * inclusion–exclusion on the rounded estimates. "Which crawls
    * duplicate each other" answered for every source pair with zero
    * corpus bytes read on the estimate path (two equi-joins of the
    * 64-row-per-source register table); the exact counts ride along
    * purely as the gate's recall check (q167 pattern — at scale you
    * drop them, and the sketches are the only state you keep). */
  def hllPairOverlap(s: SparkSession, dir: String): DataFrame = {
    val regs = persistedHllRegs(s, dir)
    val srcs = regs.select("source").distinct()
    val pairs = srcs.as("x").join(srcs.as("y"),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("sa"), col("y.source").as("sb"))
    val uniRegs = pairs.join(regs, col("source") === col("sa"))
      .select(col("sa"), col("sb"), col("bucket"), col("rho"))
      .unionByName(pairs.join(regs, col("source") === col("sb"))
        .select(col("sa"), col("sb"), col("bucket"), col("rho")))
      .groupBy("sa", "sb", "bucket").agg(max("rho").as("rho"))
    val estU = TextCorpus.hllEstimateKeys(uniRegs, Seq("sa", "sb"), p = 6)
      .select(col("sa"), col("sb"), col("est").as("est_union"))
    val perSrc = TextCorpus.hllEstimate(regs, "source", p = 6)
      .select(col("source"), col("est"))
    // exact legs (gate-only): distinct bigram sets per source
    val ex = bigramStream(s, dir).select("source", "bg").distinct()
    val exN = ex.groupBy("source").agg(count(lit(1)).as("n"))
    val exInter = ex.as("a").join(ex.as("b"),
        col("a.bg") === col("b.bg") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("n_inter"))
    estU
      .join(perSrc.select(col("source").as("sa"), col("est").as("est_a")),
        Seq("sa"))
      .join(perSrc.select(col("source").as("sb"), col("est").as("est_b")),
        Seq("sb"))
      .join(exInter, Seq("sa", "sb"))
      .join(exN.select(col("source").as("sa"), col("n").as("n_a")), Seq("sa"))
      .join(exN.select(col("source").as("sb"), col("n").as("n_b")), Seq("sb"))
      .withColumn("est_inter", M.oracleRound(
        col("est_a") + col("est_b") - col("est_union"), 4))
      .select(col("sa"), col("sb"), col("est_a"), col("est_b"),
        col("est_union"), col("est_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        col("n_inter"),
        M.oracleRound((col("est_inter") - col("n_inter").cast("double"))
          / col("n_inter").cast("double"), 6).as("rel_err"))
      .orderBy("sa", "sb")
  }

  // q171: EXACT Jaccard >= 0.8 set-similarity join over the SHARED
  // 3-gram shingle sets by rarest-first prefix filtering + size
  // filter — the deterministic complement to the MinHash-LSH
  // probabilistic pair finder, riding the same stage q29/q30 use.
  // On the trigram space the prefixes are genuinely rare: ~0.35 % of
  // the sf0.1 pair space survives candidates (bigram sets over this
  // corpus' 40-word vocabulary were df-dense — candidates ~35 % and a
  // 67 s bench entry; term-space sparsity is WHERE this algorithm's
  // pruning comes from, so feed it the sparse shingle space)
  def prefixFilterPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterJoin(
        stages(s, dir)._1.select(col("doc_id"),
          explode(col("__sh")).as("term")),
        "doc_id", tauNum = 8, tauDen = 10)
      .orderBy("id_a", "id_b")

  // q168: tiered blocklist scan — corpus-derived top-8 df terms of
  // length >= 4; broadcast list join, hit-only shuffle
  def blocklistScan(s: SparkSession, dir: String): DataFrame =
    TextCorpus.blocklistScan(Tables.documents(s, dir), lowerToks(s, dir),
      "doc_id", k = 8, minLen = 4)

  // q169: map-only character-entropy quality signal
  def charEntropy(s: SparkSession, dir: String): DataFrame =
    TextCorpus.charEntropy(Tables.documents(s, dir), "doc_id", "text")

  // q172: Gopher/MassiveText composite quality rules, zero-shuffle
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    TextCorpus.gopherRules(Tables.documents(s, dir), "doc_id", "text",
      minWords = 20, maxWords = 400)

  // q162: top principal component of the embedding cloud — integer
  // power iteration on the exact fixed-point covariance
  def pcaTop(s: SparkSession, dir: String): DataFrame =
    Spectral.pcaTopComponent(Tables.embeddings(s, dir), "embedding",
      dims = 64, iters = 8)

  // q163: HTML wrap + link-density boilerplate removal — the web-corpus
  // text-extraction stage; the extractor sees ONLY the html column
  def htmlExtract(s: SparkSession, dir: String): DataFrame =
    Html.extractMain(
        Html.htmlFromDocs(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id")
      .orderBy("doc_id")

  // context-window chunk plan: 32-token chunks, 8-token overlap (sized
  // so the gate corpus — 10..99-token docs — genuinely multi-chunks;
  // the production default is 128/16) — one row per training chunk
  def chunkPlanDocs(s: SparkSession, dir: String): DataFrame =
    CorpusOps.chunkPlan(Tables.documents(s, dir), "doc_id", "text",
        maxTokens = 32, overlap = 8)
      .orderBy("doc_id", "chunk_id")

  /** The q100/q103/q104 batch-vs-reference split: an md5-derived
    * quarter of the corpus plays the incoming batch, the rest the
    * accumulated reference — a pure function of doc_id, so the oracle
    * reproduces it exactly. */
  private def incMask: Column =
    pmod(T.md5Int(concat(lit("inc:"),
      col("doc_id").cast("string")), 8), lit(4L)) === 0

  // incremental dedup: each incoming doc classified dup_of_ref /
  // dup_in_batch / new against the accumulated reference.
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    Dedup.dedupAgainstReference(
        d.filter(incMask), d.filter(!incMask), "doc_id", "text")
      .orderBy("doc_id")
  }

  // incremental NEAR-dup: the q100 md5 split, but verified J >= 0.7
  // MinHash near-dups across the batch/reference boundary — LSH
  // banding generates only cross-side candidates (no intra-side
  // pairs). The incoming batch is shingled fresh (it IS new data);
  // the accumulated-reference side rides the session [[stages]] memo
  // (shingle sets + signatures are pure functions of doc_id/text, so
  // filtering the memoized full-corpus stages by ¬incMask is
  // bit-identical to re-shingling the reference — the r9 version
  // re-shingled it from raw text per run and paid 20.5 s for the
  // exact cost the staged-pipeline contract exists to avoid).
  def incrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val (sets, sigs) = stages(s, dir)
    val inc = Tables.documents(s, dir).filter(incMask)
    val incSets = Dedup.shingleSets(inc, "doc_id", "text", 3)
    val incSigs = Dedup.minHashSigsFromSets(incSets, "doc_id", 64)
    Dedup.nearDupAgainstReferenceFromStages(
        incSets, incSigs,
        sets.filter(!incMask), sigs.filter(!incMask), "doc_id")
      .orderBy("inc_id", "ref_id")
  }

  /** Persisted reference stages for the incremental near-dup family:
    * the reference side of the [[incMask]] split has its shingle sets
    * and MinHash signatures written to parquet ONCE per (session, sf
    * dir) and read back — the persisted-stage contract of
    * [[Dedup.nearDupAgainstReferenceFromStages]]. The read-back
    * DataFrames scan only the stage parquet: the reference TEXT is
    * unreachable from a plan built on them (asserted in PlanSpec). */
  private val persistedRefStages = StageMemo.stageWith[(DataFrame, DataFrame)](
      "ref_corpus", touch = _._2.count()) { (s, dir) =>
    val ref = Tables.documents(s, dir).filter(!incMask)
    val sets = Dedup.shingleSets(ref, "doc_id", "text", 3)
    val base = StageMemo.tempDir("graft_refstage_")
    val setsP = base.resolve("sets").toString
    val sigsP = base.resolve("sigs").toString
    sets.write.mode("overwrite").parquet(setsP)
    // derive sigs from the READ-BACK sets parquet, not the live
    // shingle plan — the sigs write otherwise re-tokenizes and
    // re-shingles the whole reference corpus a second time (r16:
    // the two writes each executed the full shingle pass; same
    // rows, the signature hash is a pure function of the set)
    val setsR = s.read.parquet(setsP)
    Dedup.minHashSigsFromSets(setsR, "doc_id", 64)
      .write.mode("overwrite").parquet(sigsP)
    (setsR, s.read.parquet(sigsP))
  }

  /** Persisted reference FINGERPRINT table (the exact-dedup leg's
    * stage): one md5 per reference doc, written to parquet once per
    * (session, sf dir) and read back — [[persistedRefStages]]'s tiny
    * sibling. */
  private val persistedRefFps = StageMemo.stage("ref_fps") { (s, dir) =>
    val p = StageMemo.tempDir("graft_reffp_").resolve("fps").toString
    Tables.documents(s, dir).filter(!incMask)
      .select(T.fingerprint(col("text")).as("fp")).distinct()
      .write.mode("overwrite").parquet(p)
    s.read.parquet(p)
  }

  // incremental exact dedup, persisted-fingerprint form: identical
  // output to q100, but the reference side consumes the persisted fp
  // parquet — the accumulated corpus's text is never re-read per
  // batch (q104's pattern on the exact leg).
  def incrementalDedupFps(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupAgainstReferenceFps(
        Tables.documents(s, dir).filter(incMask), "doc_id", "text",
        persistedRefFps(s, dir))
      .orderBy("doc_id")

  // incremental near-dup, persisted-stage form: identical output to
  // q103, but the reference side consumes persisted (sets, sigs)
  // parquet — the accumulated corpus is never re-shingled per batch,
  // the steady-state shape of daily ingestion at 100 TB.
  def incrementalNearDupStages(s: SparkSession, dir: String): DataFrame = {
    val (refSets, refSigs) = persistedRefStages(s, dir)
    val inc = Tables.documents(s, dir).filter(incMask)
    val incSets = Dedup.shingleSets(inc, "doc_id", "text", 3)
    val incSigs = Dedup.minHashSigsFromSets(incSets, "doc_id", 64)
    Dedup.nearDupAgainstReferenceFromStages(
        incSets, incSigs, refSets, refSigs, "doc_id")
      .orderBy("inc_id", "ref_id")
  }

  // PII scrub gate: every doc gets a deterministic doc_id-derived email
  // + phone APPENDED (the raw testdata has none — planting makes the
  // redaction non-vacuous, exactly the q51 planted-corpus convention),
  // then the engine counts and redacts them. The oracle rebuilds the
  // same augmented text and applies the same RE2-compatible patterns,
  // so a pattern-semantics divergence between engines goes red. Scale
  // shape: pure per-row regexp projection — map-only, no shuffle.
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com or +1555"),
      col("doc_id").cast("string"), lit("00 now"))
    Tables.documents(s, dir)
      .select(col("doc_id"), aug.as("__t"))
      .select(col("doc_id"),
        T.emailCount(col("__t")).as("n_emails"),
        T.phoneCount(col("__t")).as("n_phones"),
        T.redactPii(col("__t")).as("red_text"))
      .orderBy("doc_id")
  }

  // Out-of-vocabulary rate against the corpus vocabulary head: the
  // tokenizer-coverage diagnostic (what fraction of each doc's token
  // occurrences fall outside the global top-31 terms). Rides the shared
  // exploded token stage; the vocabulary head is 31 rows by
  // construction, so the broadcast is correct at ANY corpus scale —
  // the per-doc aggregate is the only shuffle. Empty docs keep a row
  // with NULL rate (no tokens to cover).
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val toks = lowerToks(s, dir)
    val vocab = TextCorpus.vocabTopFromToks(toks, 31)
      .select(col("term"), lit(1).as("__v"))
    val perDoc = toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), count(col("__v")).as("n_in_vocab"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_in_vocab"), lit(0L)).as("n_in_vocab"),
        graft.functions.MysqlFunctions.oracleRound(
          lit(1.0) - col("n_in_vocab").cast("double") /
            col("n_toks").cast("double"), 4).as("oov_rate"))
      .orderBy("doc_id")
  }

  // CCNet-style corpus partition by fluency quartiles: head (top
  // quarter), middle, tail (bottom quarter), empty docs bucketed apart.
  // Bounds are 4-dp-pinned exact percentiles (the q84 rounded-bounds
  // convention), computed over the shared token stage's fluency scores;
  // at corpus scale swap the buffering percentile for the q58
  // bounded-memory histogram interpolation — same rounded values.
  def fluencyBuckets(s: SparkSession, dir: String): DataFrame = {
    val f = TextCorpus.fluencyFromToks(Tables.documents(s, dir),
      lowerToks(s, dir), "doc_id")
    val bounds = f.filter(col("fluency").isNotNull)
      .agg(graft.functions.MysqlFunctions.oracleRound(
          expr("percentile(fluency, 0.25)"), 4).as("__b1"),
        graft.functions.MysqlFunctions.oracleRound(
          expr("percentile(fluency, 0.75)"), 4).as("__b2"))
    f.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("fluency"),
        when(col("fluency").isNull, lit("empty"))
          .when(col("fluency") <= col("__b1"), lit("tail"))
          .when(col("fluency") <= col("__b2"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
      .orderBy("doc_id")
  }

  /** q203's planted encoding damage, keyed by doc_id % 5: the classic
    * UTF-8-read-as-Latin-1 digraph (é → "Ã©"), the UTF-8-read-as-
    * cp1252 right-quote ("’" → "â€™"), and a bare U+FFFD replacement
    * char (a decoder already gave up upstream). */
  private[operators] val mojibakeSuffixes: Seq[String] = Seq(
    " caf\u00c3\u00a9", " don\u00e2\u20ac\u2122t", " data\ufffd")
  private[operators] val mojibakeMarkers: Seq[String] =
    Seq("\u00c3\u00a9", "\u00e2\u20ac\u2122", "\ufffd")

  // q203: mojibake / encoding-damage audit — the ftfy-class ingestion
  // check every crawl pipeline runs before tokenization (double-encoded
  // UTF-8 and decoder replacement chars poison vocabularies and dedup
  // keys). Plants damage deterministically (the q198 planting pattern),
  // counts each damage class by literal replace-arithmetic (no regex,
  // fully codegen'd, SQL-mirrorable), strips it, and digests the
  // REPAIRED text so the oracle proves the cleanse byte-identical.
  // One zero-shuffle projection + one aggregate — at 100 TB this rides
  // the ingestion scan like the NFC guard.
  def mojibakeAudit(s: SparkSession, dir: String): DataFrame = {
    val suffix = when(pmod(col("doc_id"), lit(5)) === 1, lit(mojibakeSuffixes(0)))
      .when(pmod(col("doc_id"), lit(5)) === 2, lit(mojibakeSuffixes(1)))
      .when(pmod(col("doc_id"), lit(5)) === 3, lit(mojibakeSuffixes(2)))
      .otherwise(lit(""))
    val Seq(latin1, smart, repl) = mojibakeMarkers
    val cleaned = mojibakeMarkers.foldLeft(col("raw")) {
      (c, m) => replace(c, lit(m))
    }
    Tables.documents(s, dir)
      .select(col("lang"), concat(col("text"), suffix).as("raw"))
      .select(col("lang"),
        T.occurrences(col("raw"), latin1).as("n_lat"),
        T.occurrences(col("raw"), smart).as("n_sm"),
        T.occurrences(col("raw"), repl).as("n_re"),
        cleaned.as("clean"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_lat") + col("n_sm") + col("n_re") > 0, 1L)
          .otherwise(0L)).as("n_flagged"),
        sum(col("n_lat")).as("n_latin1"),
        sum(col("n_sm")).as("n_smartquote"),
        sum(col("n_re")).as("n_replacement"),
        sum(T.md5Int(col("clean"), 8)).as("content_sum_clean"))
      .orderBy("lang")
  }

  /** Documents exported to XML once per (session, sf dir) — the
    * markup-interchange drop the q204 gate re-ingests. */
  private val persistedXml = StageMemo.stage("xml_dir") { (s, dir) =>
    val p = StageMemo.tempDir("graft_xml_").resolve("docs").toString
    graft.sources.FileFormats.writeXml(Tables.documents(s, dir), p,
      rowTag = "doc", rootTag = "docs", maxPartitions = 8)
    p
  }

  // q204: XML round-trip — the third interchange gate beside JSONL
  // (q196) and ORC (q197), covering what XML adds: entity escaping
  // (&amp;/&lt; must survive the round trip — the content digest
  // proves it) and row-tag record splitting (the reader scans for
  // <doc> boundaries, which is the only reason XML parallelizes at
  // all). Pinned schema, FAILFAST, per-lang counts + exact char sums
  // + order-independent content digest against the parquet truth.
  def xmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val schema = Tables.documents(s, dir).schema
    graft.sources.FileFormats
      .readXml(s, persistedXml(s, dir), schema, rowTag = "doc")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(T.md5Int(col("text"), 8)).as("content_sum"))
      .orderBy("lang")
  }

  // q207: hashing-trick (feature-hashing) collision audit — the
  // fixed-width vectorizer every streaming/OOV-safe featurizer uses
  // (Weinberger et al. ICML'09): token → md5-derived bucket in
  // [0, 4096). The gate emits the 20 most collided buckets (distinct
  // tokens sharing the bucket, total occurrences) — the table that
  // tells you whether the hash width is eating your features. Shape:
  // one shuffle by token (the tf aggregate), then a 4096-row bucket
  // aggregate with map-side partials and a top-k — at 100 TB the
  // token aggregate is the only corpus-sized stage and it partial-
  // aggregates before the shuffle.
  def featureHashing(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(explode(T.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occ"))
    tf.groupBy(T.md5Int(col("token"), 3).as("bucket"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_occ")).as("n_occ"))
      .orderBy(col("n_tokens").desc, col("bucket"))
      .limit(20)
  }

  // q206: mutual-kNN near-dup pairs over the embedding corpus — the
  // reciprocal-rank filter ([[Similarity.mutualTopK]]) on a full
  // self-kNN frame (k=5). Corpus-as-queries is the honest regime for
  // the filter (every id has its own top-k list to vote with); the
  // brute-force leg is the EXACT-verifier form, quadratic by contract
  // (capped). The at-scale composition — the same mutual join over
  // [[Similarity.ivfSelfTopK]] candidates — is gated as q467.
  def mutualKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    Similarity.mutualTopK(
        Similarity.cosineTopK(emb, "vec_id", "embedding", emb,
          k = 5, preNormalized = true))
      .orderBy("id_a", "id_b")
  }

  // q467: q206's mutual-kNN filter over the INDEX-BACKED candidate leg
  // ([[Similarity.ivfSelfTopK]]) instead of the brute-force one — the
  // at-scale composition q206 documents, gated in its own right. The
  // reciprocal join is byte-identical to q206's; only the k-NN frame
  // feeding it changes. Pair volume is bounded by construction
  // (nlist ∝ n keeps candidates/query constant), so this composition
  // runs where q206's cap refuses — the 100 TB route, proven.
  def mutualKnnIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.mutualTopK(ivfSelfTop5(s, dir)).orderBy("id_a", "id_b")

  // q468: q461's leave-one-out kNN-classifier eval over the same
  // index-backed leg, plus the honesty column the swap demands:
  // recall@5 of the IVF leg against the EXACT top-5 on a fixed
  // 64-query md5 panel (the md5Panel contract — a corpus-fraction
  // panel would turn the exact leg quadratic), attached to the
  // overall row only. Accuracy says "the index leg classifies as
  // well"; recall says "because it finds the same neighbors".
  def knnEvalIvf(s: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val emb = normEmb(s, dir)
    val ivf = ivfSelfTop5(s, dir)
    val panel = md5Panel(emb, "vec_id", "panel461", 64,
      Seq("vec_id", "embedding"))
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", panel,
      k = 5, preNormalized = true)
    val recall = exact.agg(count(lit(1)).as("__ne"))
      .crossJoin(exact.join(ivf, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("__nh")))
      .select(M.oracleRound(
        col("__nh").cast("double") / col("__ne"), 4).as("__rec"))
    knnVoteReport(labels, ivf)
      .crossJoin(recall) // 1-row scalar attach
      .withColumn("ivf_recall_at5",
        when(col("is_overall"), col("__rec")))
      .drop("__rec")
      .orderBy("is_overall", "label")
  }

  /** q208's rank-weight table: RBO@k (Webber et al. TOIS'10) in exact
    * integer nano-units. A pair shared at ranks (ra, rb) contributes
    * w(max(ra,rb)) where w(m) = (1-p)·Σ_{d=m..k} p^(d-1)/d; summing
    * longs instead of doubles makes the gate independent of FP
    * summation order on both engines. */
  private[graft] val rboK = 20
  private[graft] val rboNanoWeights: Seq[Long] = {
    val p = 0.9
    val terms = (1 to rboK).map(d => math.pow(p, d - 1) / d)
    (1 to rboK).map(m =>
      math.round((1 - p) * terms.drop(m - 1).sum * 1e9))
  }

  /** q209's planted boilerplate: a per-source header on 2/3 of docs
    * (df well over the 1/2 threshold) and a per-source footer on 1/4
    * (under it — must NOT be flagged); base text segments are unique
    * (df 1). ' | ' never occurs in the synthetic text, so it is a safe
    * segment separator. */
  private def plantedSegments(s: SparkSession, dir: String): DataFrame = {
    val header = concat(lit("always read "), col("source"), lit(" daily"))
    val footer = concat(lit("copyright "), col("source"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        concat(
          when(pmod(col("doc_id"), lit(3)) =!= 0,
            concat(header, lit(" | "))).otherwise(lit("")),
          col("text"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit(" | "), footer)).otherwise(lit(""))).as("text"))
  }

  // q209: cross-document boilerplate strip — CCNet/RefinedWeb's
  // paragraph-dedup step ([[CorpusOps.segmentBoilerplate]]): segments
  // whose within-source document frequency clears 1/2 are boilerplate;
  // the gate proves detection hits EXACTLY the planted header (the
  // 1/4-df footer and unique body segments survive) and digests the
  // kept segments so the cleanse is content-verified. Integer
  // cross-multiplied threshold — exact at the boundary on both engines.
  def boilerplateStrip(s: SparkSession, dir: String): DataFrame =
    CorpusOps.segmentBoilerplate(plantedSegments(s, dir),
        "doc_id", "source", "text")
      .groupBy("source")
      .agg(max(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_segments"),
        countDistinct(when(col("is_boiler"), col("segment"))).as("n_boiler"),
        sum(when(!col("is_boiler"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("is_boiler"), T.md5Int(col("segment"), 8)))
          .as("kept_content_sum"))
      .orderBy("source")

  // q210: rendezvous (HRW) vs mod-N reshard movement — the sharding
  // design table: adding a 9th shard moves ~1/9 of keys under HRW
  // ([[CorpusOps.rendezvousShard]], map-only argmax of per-shard
  // hashes) but ~8/9 under mod-N. Both assignments are md5-derived, so
  // the oracle replays them bit-exactly; the gate emits the measured
  // movement next to each scheme. At 100 TB this is the difference
  // between rebalancing one shard's worth of state and rebalancing
  // the whole fleet.
  def rendezvousShards(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(s, dir).select("doc_id")
    val hrw = ids.select(
        CorpusOps.rendezvousShard(col("doc_id"), 8).as("s8"),
        CorpusOps.rendezvousShard(col("doc_id"), 9).as("s9"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).as("n_moved"))
      .select(lit("rendezvous").as("scheme"), col("n_total"), col("n_moved"))
    val modn = ids.select(pmod(col("doc_id"), lit(8)).as("s8"),
        pmod(col("doc_id"), lit(9)).as("s9"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).as("n_moved"))
      .select(lit("mod").as("scheme"), col("n_total"), col("n_moved"))
    hrw.unionByName(modn)
      .select(col("scheme"), col("n_total"), col("n_moved"),
        M.oracleRound(col("n_moved").cast("double") /
          col("n_total").cast("double"), 4).as("moved_pct"))
      .orderBy("scheme")
  }

  /** Documents written once per (session, sf dir) PARTITIONED BY lang —
    * the hive-layout drop the q211 gate prunes against. */
  private val persistedPartitioned = StageMemo.stage("part_dir") { (s, dir) =>
    val p = StageMemo.tempDir("graft_part_").resolve("docs").toString
    Tables.documents(s, dir).write.mode("overwrite")
      .partitionBy("lang").parquet(p)
    p
  }

  // q211: partition-pruning gate — the 100 TB table-layout contract:
  // a lang-partitioned write, then a lang-filtered read whose filter
  // must become a PARTITION filter (directory pruning — the scan never
  // opens the other langs' files; PlanSpec pins partitionFilters
  // non-empty) while n_chars pushes down as a data filter. The oracle
  // recomputes from the unpartitioned truth — proving the hive layout
  // round-trips content exactly (partition values leave the data file
  // and come back from directory names).
  def partitionPrune(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(persistedPartitioned(s, dir))
      .filter(col("lang") === "en" && col("n_chars") >= 100)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(T.md5Int(col("text"), 8)).as("content_sum"))
      .orderBy("source")

  /** Documents written once per (session, sf dir, codec); returns
    * (path, total bytes from a driver-side metadata listing). */
  private def persistedCodec(s: SparkSession, dir: String,
      codec: String): (String, Long) =
    StageMemo.getOrBuild(s, dir, s"codec:$codec") {
      val p = StageMemo.tempDir(s"graft_codec_${codec}_").resolve("docs").toString
      Tables.documents(s, dir).coalesce(1).write.mode("overwrite")
        .option("compression", codec).parquet(p)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        s.sparkContext.hadoopConfiguration)
      val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
      (p, bytes)
    }

  // q212: parquet codec audit — at 100 TB the compression codec IS a
  // capacity decision (storage + scan bandwidth both scale with it).
  // Write the same corpus uncompressed / snappy / zstd, prove every
  // variant round-trips bit-identical content (per-codec digest vs the
  // parquet truth), and assert each compressed drop is actually
  // smaller than the uncompressed one (driver-side METADATA listing —
  // no data moves through the driver). zstd-vs-snappy order is data-
  // dependent, so it is reported via the boolean against 'none' only.
  def parquetCodec(s: SparkSession, dir: String): DataFrame = {
    val (_, noneBytes) = persistedCodec(s, dir, "none")
    val perCodec = Seq("none", "snappy", "zstd").map { c =>
      val (p, bytes) = persistedCodec(s, dir, c)
      s.read.parquet(p)
        .agg(count(lit(1)).as("n_docs"),
          sum(T.md5Int(col("text"), 8)).as("content_sum"))
        .select(lit(c).as("codec"), col("n_docs"), col("content_sum"),
          lit(c == "none" || bytes < noneBytes).as("smaller_than_none"))
    }
    perCodec.reduce(_ unionByName _).orderBy("codec")
  }

  // q215: hard-negative mining — for each query, the top-k most
  // cosine-similar vectors with a DIFFERENT label: the negatives that
  // actually move a contrastive loss (random negatives are trivially
  // separable; the hard ones sit at the decision boundary). Same
  // broadcast-queries × corpus scan shape as q28 with the label
  // predicate fused into the scan; at 100 TB the exact leg swaps for
  // the IVF candidates leg with label post-filter (q192's oversampling
  // lesson applies).
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    val labels = Tables.embeddings(s, dir).select("vec_id", "label")
    val corpus = emb.join(labels, "vec_id")
    val queries = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cvec"), col("label"))
      .crossJoin(broadcast(queries))
      .filter(col("label") =!= col("qlabel"))
      .withColumn("sim", Similarity.pairDot(emb, col("qvec"), col("cvec"), 64))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "neighbor_id", "rnk")
      .orderBy("query_id", "rnk")
  }

  /** Two schema-evolution drops under one root, written once per
    * (session, sf dir): v1 = even doc_ids without `n_chars` or
    * `version`; v2 = odd doc_ids with both added. */
  private val persistedEvolved = StageMemo.stage("evolved_dir") { (s, dir) =>
    val root = StageMemo.tempDir("graft_evo_").resolve("docs").toString
    val docs = Tables.documents(s, dir)
    docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$root/drop=v1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_chars"), lit(2).as("version"))
      .write.mode("overwrite").parquet(s"$root/drop=v2")
    root
  }

  // q216: schema-merge gate — the lakehouse schema-evolution contract:
  // an old drop without `n_chars`/`version` and a new drop with both,
  // read under ONE schema via mergeSchema (a FOOTER-only union of the
  // drops' schemas — no data pass); old rows surface the added columns
  // as NULL, and the aggregate proves both content identity and the
  // null-fill semantics. At 100 TB this is how a year of drops with
  // three schema versions reads as one table without a rewrite.
  def schemaMerge(s: SparkSession, dir: String): DataFrame =
    s.read.option("mergeSchema", "true")
      .parquet(persistedEvolved(s, dir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("version").isNotNull, 1L).otherwise(0L)).as("n_v2"),
        sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars_v2"),
        sum(T.md5Int(col("text"), 8)).as("content_sum"))
      .orderBy("lang")

  // q217: sharded second-moment merge (Chan et al. '79 pairwise
  // update, the parallel-variance algebra inside every distributed
  // var_pop) — per-source moment shards (n, mean, M2) merged into the
  // global variance WITHOUT touching the rows again: M2_tot = Σ M2_i
  // + Σ n_i·mean_i² − n·mean²; the oracle computes the merged row's
  // variance DIRECTLY from the raw values, so the gate proves the
  // merge algebra exact (to the 4-dp pin). This is the q174 persisted-
  // registers story for plain statistics: shard once, merge forever.
  def momentShards(s: SparkSession, dir: String): DataFrame = {
    val shards = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        avg(col("n_chars")).as("mean_raw"),
        (var_pop(col("n_chars")) * count(lit(1))).as("m2_raw"))
    val merged = shards.agg(
        sum(col("n")).as("n"),
        (sum(col("n") * col("mean_raw")) / sum(col("n"))).as("mean_m"),
        sum(col("m2_raw")).as("m2_sum"),
        sum(col("n") * col("mean_raw") * col("mean_raw")).as("nm2"))
      .select(lit("__merged").as("source"), col("n"),
        M.oracleRound(col("mean_m"), 4).as("mean"),
        M.oracleRound(
          (col("m2_sum") + col("nm2") -
            col("n") * col("mean_m") * col("mean_m")) / col("n"), 4)
          .as("var"))
    shards.select(col("source"), col("n"),
        M.oracleRound(col("mean_raw"), 4).as("mean"),
        M.oracleRound(col("m2_raw") / col("n"), 4).as("var"))
      .unionByName(merged)
      .orderBy("source")
  }

  /** q218's planted URLs — every canonicalization hazard in one
    * string: uppercase host, explicit default port, utm_* tracking
    * params, unsorted surviving params, and a fragment. The path
    * folds doc_id to %50 so canonical dedup actually collapses
    * something (the utm_ref param is what keeps the RAW urls
    * distinct). */
  private def plantedUrls(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      concat(lit("https://WWW."), upper(col("source")),
        lit(".Example.COM:443/"), col("lang"), lit("/doc/"),
        pmod(col("doc_id"), lit(50)),
        lit("?utm_source=feed&utm_ref="), pmod(col("doc_id"), lit(7)),
        lit("&b=2&a=1#frag")).as("url"))

  // q218: URL canonicalization + dedup — the crawl-frontier primitive
  // (two fetches of the same resource differ only in tracking params /
  // host case / default port / fragment): lowercase the authority,
  // strip the https default port and the fragment, drop utm_* params,
  // SORT the survivors. All codegen'd string/array built-ins, map-only
  // until the per-lang distinct counts — at 100 TB this runs inside
  // the fetch-log scan, and the n_raw vs n_canon gap is the fraction
  // of refetches the frontier would have wasted.
  def urlCanonical(s: SparkSession, dir: String): DataFrame = {
    val base = substring_index(col("url"), "#", 1)      // drop fragment
    val pre = substring_index(base, "?", 1)             // scheme://authority/path
    val q = substring_index(base, "?", -1)              // raw query string
    val rest = pre.substr(lit(9), length(pre))          // authority/path
    val hostport = substring_index(rest, "/", 1)
    val path = rest.substr(length(hostport) + 1, length(rest))
    val canonHost = regexp_replace(lower(hostport), ":443$", "")
    val keptParams = array_join(
      sort_array(filter(split(q, "&"), p => !p.startsWith("utm_"))), "&")
    plantedUrls(s, dir)
      .select(col("lang"), col("url"),
        concat(lit("https://"), canonHost, path, lit("?"), keptParams)
          .as("canon"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("url")).as("n_raw_distinct"),
        countDistinct(col("canon")).as("n_canon_distinct"),
        sum(T.md5Int(col("canon"), 8)).as("canon_sum"))
      .orderBy("lang")
  }

  // q221: calibration-bin audit (reliability diagram + Brier + ECE) —
  // the eval table every scored-filter pipeline ships: a deterministic
  // md5-derived score in [0,1) against the label<5 positive class,
  // 10 equal-width bins, per-bin confidence vs accuracy, and the
  // global Brier/ECE repeated on each row (one result shape). One
  // keyed aggregate over a map-only projection.
  def calibrationBins(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.embeddings(s, dir).select(
      (T.md5Int(concat(lit("cal:"), col("vec_id")), 4).cast("double") /
        lit(65536.0)).as("score"),
      when(col("label") < 5, 1.0).otherwise(0.0).as("pos"))
    val binned = scored
      .groupBy(floor(col("score") * 10).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
        avg(col("score")).as("conf_raw"),
        avg(col("pos")).as("acc_raw"),
        sum((col("score") - col("pos")) * (col("score") - col("pos")))
          .as("sqerr"))
    val globals = binned.agg(
      M.oracleRound(sum(col("sqerr")) / sum(col("n")), 4).as("brier"),
      M.oracleRound(
        sum(col("n") * abs(col("acc_raw") - col("conf_raw"))) /
          sum(col("n")), 4).as("ece"))
    binned.crossJoin(broadcast(globals))
      .select(col("bin"), col("n"),
        M.oracleRound(col("conf_raw"), 4).as("mean_score"),
        M.oracleRound(col("acc_raw"), 4).as("frac_pos"),
        col("brier"), col("ece"))
      .orderBy("bin")
  }

  // q421: exact PRECISION/RECALL/F1 threshold sweep over the q221
  // score/label frame — the threshold-PICKING operator beside the
  // threshold-free AP (q400) and the fixed-bin calibration view
  // (q221): at every distinct score t, predict positive iff
  // score ≥ t; TP and prediction counts come from one descending
  // cumulative window over the score-grouped frame, so precision =
  // TP/N_pred, recall = TP/P, F1 = 2·TP/(N_pred + P) are divisions of
  // exact integers (identical doubles on both engines — the ranking
  // compares them unrounded, ties to the lower threshold). The sweep
  // frame is score-cardinality-sized (≤ |embeddings| rows), so the
  // single-partition window is a tiny-frame window by construction.
  def f1Sweep(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.embeddings(s, dir).select(
      (T.md5Int(concat(lit("cal:"), col("vec_id")), 4).cast("double") /
        lit(65536.0)).as("score"),
      when(col("label") < 5, 1L).otherwise(0L).as("pos"))
    val grouped = scored.groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("npos"))
      .coalesce(1)
    val Window = org.apache.spark.sql.expressions.Window
    val Wd = Window.orderBy(col("score").desc)
    val Wall = Window.partitionBy()
    val swept = grouped
      .withColumn("n_pred_pos", sum(col("n")).over(Wd))
      .withColumn("tp", sum(col("npos")).over(Wd))
      .withColumn("p_all", sum(col("npos")).over(Wall))
      .withColumn("__f1raw",
        lit(2.0) * col("tp") / (col("n_pred_pos") + col("p_all")))
    val Wbest = Window.orderBy(col("__f1raw").desc, col("score"))
    swept
      .withColumn("is_best", row_number().over(Wbest) === 1)
      .select(col("score").as("threshold"), col("n_pred_pos"), col("tp"),
        M.oracleRound(col("tp").cast("double") / col("n_pred_pos"), 4)
          .as("precision"),
        M.oracleRound(col("tp").cast("double") / col("p_all"), 4)
          .as("recall"),
        M.oracleRound(col("__f1raw"), 4).as("f1"),
        col("is_best"))
      .orderBy("threshold")
  }

  // q424: RANK-BIASED PRECISION (Moffat & Zobel, TOIS 2008) of the
  // IVF leg against the exact-cosine truth — the impatient-user
  // retrieval metric beside recall (q106), AP (q400), NDCG (q170) and
  // RBO (q208): RBP = (1−p)·Σ_k p^(k−1)·rel(k), p = 0.8. The five
  // rank weights are Scala-computed ×1e8 INTEGER literals shared with
  // the oracle (the q412 no-cross-engine-math convention), so the
  // per-query score is an order-free BIGINT sum divided once at the
  // end. Rides the shared leg memos; joins two 40-row frames.
  val RbpWeightsMicro: Seq[Long] =
    (1 to 5).map(k => math.round((1 - 0.8) * math.pow(0.8, k - 1) * 1e8))
  def rbpIvf(s: SparkSession, dir: String): DataFrame = {
    val truth = cosineTopK(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__rel"))
    val wCase = (1 to 5).foldRight(lit(0L): Column)((k, acc) =>
      when(col("rnk") === k, lit(RbpWeightsMicro(k - 1))).otherwise(acc))
    ivfTopK(s, dir)
      .join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .withColumn("__wm",
        when(col("__rel").isNotNull, wCase).otherwise(lit(0L)))
      .groupBy(col("query_id"))
      .agg(count(when(col("__rel").isNotNull, 1)).cast("long").as("n_hits"),
        sum(col("__wm")).as("__s"))
      .select(col("query_id"), col("n_hits"),
        M.oracleRound(col("__s").cast("double") / 1e8, 4).as("rbp"))
      .orderBy("query_id")
  }

  // q370: Murphy decomposition of the q221 Brier score — WHY is the
  // score what it is: reliability (calibration gap, want 0),
  // resolution (discrimination, want large), uncertainty (the
  // no-skill floor ō(1−ō)), over the SAME md5 score / label<5 /
  // 10-bin convention as q221, plus the within-bin-variance residual
  // that closes brier = REL − RES + UNC + resid. Per-bin sums are
  // exact rationals (md5 scores have denominator 2^16); one keyed
  // aggregate, bins-sized tail.
  def brierDecomposition(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.embeddings(s, dir).select(
      (T.md5Int(concat(lit("cal:"), col("vec_id")), 4).cast("double") /
        lit(65536.0)).as("score"),
      when(col("label") < 5, 1.0).otherwise(0.0).as("pos"))
    val binned = scored
      .groupBy(floor(col("score") * 10).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"), sum("score").as("sf"),
        sum("pos").as("sp"),
        sum((col("score") - col("pos")) * (col("score") - col("pos")))
          .as("sqerr"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    binned
      .withColumn("nn", sum("n").over(w))
      .withColumn("pp", sum("sp").over(w))
      .withColumn("obar", col("pp") / col("nn"))
      .withColumn("fk", col("sf") / col("n"))
      .withColumn("ok", col("sp") / col("n"))
      .agg(
        max(col("nn")).as("n"),
        (sum(col("sqerr")) / max(col("nn"))).as("brier_raw"),
        (sum(col("n") * (col("fk") - col("ok")) * (col("fk") - col("ok")))
          / max(col("nn"))).as("rel_raw"),
        (sum(col("n") * (col("ok") - col("obar")) * (col("ok") - col("obar")))
          / max(col("nn"))).as("res_raw"),
        max(col("obar") * (lit(1.0) - col("obar"))).as("unc_raw"))
      .select(col("n"),
        M.oracleRound(col("brier_raw"), 4).as("brier"),
        M.oracleRound(col("rel_raw"), 4).as("reliability"),
        M.oracleRound(col("res_raw"), 4).as("resolution"),
        M.oracleRound(col("unc_raw"), 4).as("uncertainty"),
        M.oracleRound(col("brier_raw") -
          (col("rel_raw") - col("res_raw") + col("unc_raw")), 4)
          .as("residual"))
  }

  /** q228's persisted daily rollup, written once per (session, sf
    * dir): the (day, event_type) counts/sums EXCLUDING the planted
    * late-arrival slice (event_id % 97 == 0) — the state of the
    * materialized view before the stragglers show up. */
  private val persistedRollup = StageMemo.stage("rollup_dir") { (s, dir) =>
    val p = StageMemo.tempDir("graft_rollup_").resolve("daily").toString
    Tables.events(s, dir)
      .filter(pmod(col("event_id"), lit(97)) =!= 0)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .write.mode("overwrite").parquet(p)
    s.read.parquet(p)
    p
  }

  // q228: incremental rollup maintenance — the materialized-view
  // pattern: a PERSISTED daily rollup plus the late-arrival delta
  // (aggregated to the same grain) merged by summing per key; the
  // oracle recomputes the rollup from scratch, so the gate proves
  // merged-incremental == full-recompute. The additive-merge algebra
  // is why count/sum (and the q174 HLL registers, q217 moments)
  // maintain incrementally while median cannot. At 100 TB the nightly
  // job reads yesterday's rollup + the delta — never the history.
  def rollupMerge(s: SparkSession, dir: String): DataFrame = {
    val base = s.read.parquet(persistedRollup(s, dir))
    val delta = Tables.events(s, dir)
      .filter(pmod(col("event_id"), lit(97)) === 0)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    base.unionByName(delta)
      .groupBy("day", "event_type")
      .agg(sum(col("n")).as("n"),
        M.oracleRound(sum(col("sum_value")), 4).as("sum_value"))
      .orderBy("day", "event_type")
  }

  // q230: Bloom-filter sizing design table (q186's genre, for the
  // decon/join prefilters the engine ships at q114/q181): for each
  // bits-per-key budget, the integer-optimal hash count
  // k = round(ln2·m/n) and the resulting FPP (1 − e^(−kn/m))^k —
  // computed IN-PLAN with the engine's exp/ln so the oracle
  // cross-checks the engine's math functions, not a driver constant.
  // The table says what q114's 1%-FPP filter costs per key (~9.6
  // bits) — the number that decides whether the filter fits in
  // executor memory at 10¹¹ keys.
  def bloomDesign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(4, 8, 10, 12, 16, 20).toDF("bits_per_key")
      .withColumn("k",
        round(log(lit(2.0)) * col("bits_per_key")).cast("int"))
      .withColumn("fpp", M.oracleRound(
        pow(lit(1.0) - exp(-col("k") / col("bits_per_key").cast("double")),
          col("k")), 6))
      .withColumn("bytes_per_1e9_keys",
        col("bits_per_key").cast("long") * 125000000L)
      .orderBy("bits_per_key")
  }

  // q237: Pearson chi-square independence test of (lang × source) +
  // Cramér's V — "is the language mix independent of the source"
  // (a dependence here means per-source language filters are load-
  // bearing). Expected counts from the marginals over the FULL R×C
  // cell grid (zero-observed cells still contribute their expectation
  // — the classic chi2 bug is dropping them); dof = (R−1)(C−1). Two
  // keyed aggregates + a 100-cell grid join — nothing corpus-sized
  // after the first groupBy.
  def chi2Independence(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rows = obs.groupBy("lang").agg(sum(col("o")).as("rt"))
    val cols = obs.groupBy("source").agg(sum(col("o")).as("ct"))
    val n = obs.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("r"),
      countDistinct(col("source")).as("c"))
    val cells = rows.crossJoin(cols)
      .join(obs, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("e",
        col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double"))
      .withColumn("term", (col("o") - col("e")) * (col("o") - col("e")) /
        col("e"))
    cells.agg(max(col("n")).as("n"), max(col("r")).as("r"),
        max(col("c")).as("c"),
        M.oracleRound(sum(col("term")), 4).as("chi2"))
      .select(col("n"), col("r"), col("c"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        col("chi2"),
        M.oracleRound(sqrt(col("chi2") /
          (col("n") * least(col("r") - 1, col("c") - 1)).cast("double")), 4)
          .as("cramers_v"))
  }

  // q236: embedding-separation AUC — exact Mann–Whitney over the
  // bounded pair sample (vec_id < 50): score = 4-dp cosine, positive =
  // same-label pair; AUC from average ranks per tied score group
  // ((min+max)/2 — exact rational on integer ranks), so the statistic
  // is deterministic to the last digit. THE one-number answer to "do
  // same-label vectors actually sit closer", run before trusting any
  // label-blocked ANN design (q192). Pair frame is (50·49/2) rows —
  // the sample bound is the scale policy, as everywhere in the eval
  // family.
  def aucSeparation(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir).join(
      Tables.embeddings(s, dir).select("vec_id", "label"), "vec_id")
      .filter(col("vec_id") < 50)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"),
      col("label").as("la"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"),
      col("label").as("lb"))
    val pairs = a.crossJoin(broadcast(b)).filter(col("ia") < col("ib"))
      .select(M.oracleRound(
          Similarity.pairDot(emb, col("va"), col("vb"), 64), 4).as("score"),
        (col("la") === col("lb")).as("pos"))
    // average rank per tied score group from the cumulative counts:
    // ranks occupied by a group of size n ending at cumulative c are
    // (c-n+1)..c, so avg = (2c - n + 1) / 2
    val grouped = pairs.groupBy("score")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("score")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ranked = grouped.coalesce(1)
      .withColumn("c", sum("n").over(w))
      .withColumn("avg_rank",
        (col("c") * 2 - col("n") + 1).cast("double") / 2.0)
    ranked.agg(
        sum(col("n_pos")).as("np"),
        (sum(col("n")) - sum(col("n_pos"))).as("nn"),
        sum(col("avg_rank") * col("n_pos")).as("rank_sum"))
      .select(col("np").as("n_pos"), col("nn").as("n_neg"),
        M.oracleRound((col("rank_sum") - col("np") * (col("np") + 1) / 2.0) /
          (col("np") * col("nn")).cast("double"), 6).as("auc"))
  }

  // q231: watermark-delay design table — the number that sets every
  // streaming operator's state bound: plant a deterministic heavy-tail
  // arrival delay (cubed md5 residue, all-integer — no FP in the
  // plant), then for each candidate watermark report how many events
  // a late-filter at that delay would drop, next to the delay
  // distribution's exact percentiles. The 0.1%-drop row IS the
  // watermark the q54/q66 streaming twins should run with. One scan +
  // a 4-row design table; the percentile swaps for the q58 histogram
  // at corpus scale.
  def watermarkDesign(s: SparkSession, dir: String): DataFrame = {
    val delayUs = (pmod(T.md5Int(concat(lit("lag:"), col("event_id")), 8),
      lit(4096L)) * pmod(T.md5Int(concat(lit("lag:"), col("event_id")), 8),
      lit(4096L)) * pmod(T.md5Int(concat(lit("lag:"), col("event_id")), 8),
      lit(4096L)) / lit(64L)).cast("long")
    val delays = Tables.events(s, dir)
      .select(delayUs.as("delay_us"))
    val stats = delays.agg(count(lit(1)).as("n_events"),
      M.oracleRound(expr("percentile(delay_us, 0.5D)"), 4).as("p50_us"),
      M.oracleRound(expr("percentile(delay_us, 0.99D)"), 4).as("p99_us"),
      max(col("delay_us")).as("max_us"))
    import s.implicits._
    val candidates = Seq(30L, 120L, 600L, 1200L)
      .toDF("watermark_s")
    candidates.crossJoin(broadcast(stats))
      .join(
        delays.crossJoin(broadcast(candidates))
          .groupBy("watermark_s")
          .agg(sum(when(col("delay_us") > col("watermark_s") * 1000000L, 1L)
            .otherwise(0L)).as("n_dropped")),
        Seq("watermark_s"))
      .select(col("watermark_s"), col("n_events"), col("n_dropped"),
        M.oracleRound(col("n_dropped").cast("double") * 1e6 /
          col("n_events").cast("double"), 2).as("drop_ppm"),
        col("p50_us"), col("p99_us"), col("max_us"))
      .orderBy("watermark_s")
  }

  // q232: Neyman optimal sampling allocation across sources (Neyman
  // '34 — the survey-sampling design every stratified curation budget
  // should use instead of proportional): n_h ∝ N_h·σ_h, next to the
  // proportional allocation and the standard-error ratio the optimal
  // design buys. Per-stratum moments are one keyed aggregate; σ is
  // 4-dp-pinned before the shares so both engines allocate from
  // identical constants. Degenerate σ=0 strata get the proportional
  // share (documented; Neyman assigns them zero and a real survey
  // still wants a floor).
  def neymanAlloc(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000.0
    val strata = Tables.documents(s, dir)
      .select(col("source"), T.tokenCount(col("text")).cast("double").as("v"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_h"),
        M.oracleRound(stddev_samp(col("v")), 4).as("sigma"))
    val tot = strata.agg(sum(col("n_h")).as("n_total"),
      sum(col("n_h") * col("sigma")).as("mass"),
      sum(col("n_h") * col("sigma") * col("sigma")).as("m2"))
    strata.crossJoin(broadcast(tot))
      .select(col("source"), col("n_h"), col("sigma"),
        M.oracleRound(lit(budget) * col("n_h") * col("sigma") / col("mass"), 2)
          .as("alloc_neyman"),
        M.oracleRound(lit(budget) * col("n_h") / col("n_total"), 2)
          .as("alloc_prop"),
        // Var_neyman/Var_prop = (Σ Wh σh)² / Σ Wh σh² (same n cancels)
        M.oracleRound((col("mass") / col("n_total")) *
          (col("mass") / col("n_total")) / (col("m2") / col("n_total")), 4)
          .as("var_ratio"))
      .orderBy("source")
  }

  // q233: PSI drift between the q59 train and val splits over decile
  // bins of n_chars — THE industry drift gate (scorecard monitoring):
  // bin edges from the TRAIN side's exact percentiles (4-dp-pinned),
  // both splits binned against those edges, PSI = Σ (pv−pt)·ln(pv/pt)
  // with add-0.5 smoothing. Complements q133 (token KL) and q222
  // (binless KS) on the numeric-feature axis. Two aggregates over one
  // scan + a 10-row table.
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val withSplit = Tables.documents(s, dir)
      .withColumn("bucket", CorpusOps.hashBucket(col("doc_id"), "split", 100))
      .withColumn("split", when(col("bucket") < 80, "train")
        .when(col("bucket") < 90, "val").otherwise("test"))
      .filter(col("split").isin("train", "val"))
    val edgeCols = (1 to 9).map(d =>
      M.oracleRound(expr(s"percentile(n_chars, 0.${d}D)"), 4).as(s"e$d"))
    val edges = withSplit.filter(col("split") === "train")
      .agg(edgeCols.head, edgeCols.tail: _*)
    val binned = withSplit.crossJoin(broadcast(edges))
      .withColumn("bin",
        (1 to 9).foldLeft(lit(0)) { (acc, d) =>
          acc + when(col("n_chars") > col(s"e$d"), 1).otherwise(0)
        })
      .groupBy("bin")
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_t"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_v"))
    val tots = binned.agg(sum(col("n_t")).as("tt"), sum(col("n_v")).as("tv"))
    val rated = binned.crossJoin(broadcast(tots))
      .withColumn("pt", (col("n_t") + 0.5) / (col("tt") + 5.0))
      .withColumn("pv", (col("n_v") + 0.5) / (col("tv") + 5.0))
      .withColumn("term", M.oracleRound(
        (col("pv") - col("pt")) * log(col("pv") / col("pt")), 6))
    val psi = rated.agg(M.oracleRound(sum(col("term")), 6).as("psi"))
    rated.crossJoin(broadcast(psi))
      .select(col("bin"), col("n_t"), col("n_v"), col("term"), col("psi"))
      .orderBy("bin")
  }

  // q226: WOE / Information Value feature-binning audit (the credit-
  // scoring table, equally standard for "is this feature worth
  // keeping" in any binary-label pipeline): equi-depth deciles of
  // n_chars via ntile over the PINNED (n_chars, doc_id) order, label
  // = lang='en', add-0.5 smoothed per-bin WOE and the global IV
  // repeated per row. The ntile window runs single-partition BY
  // CONTRACT (rank over the whole frame is the operator); at corpus
  // scale the deciles come from the q58 histogram bounds and the bin
  // assignment becomes a map-only range lookup — same table.
  def woeIv(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("n_chars", "doc_id")
    val binned = Tables.documents(s, dir)
      .select(col("n_chars"), col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .coalesce(1)
      .withColumn("bin", ntile(10).over(w))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        (count(lit(1)) - sum(col("pos"))).as("n_neg"))
    val tot = binned.agg(sum(col("n_pos")).as("tp"), sum(col("n_neg")).as("tn"))
    val rated = binned.crossJoin(broadcast(tot))
      .withColumn("p", (col("n_pos") + 0.5) / (col("tp") + 5.0))
      .withColumn("q", (col("n_neg") + 0.5) / (col("tn") + 5.0))
      .withColumn("woe", M.oracleRound(log(col("p") / col("q")), 4))
    val iv = rated.agg(M.oracleRound(
      sum((col("p") - col("q")) * col("woe")), 4).as("iv"))
    rated.crossJoin(broadcast(iv))
      .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
        col("woe"), col("iv"))
      .orderBy("bin")
  }

  // q222: exact two-sample Kolmogorov–Smirnov distance between the
  // en and fr n_chars distributions — the distribution-compare member
  // beside q133's KL/JS (KS needs no binning or smoothing and has the
  // DKW bound). Integer-exact: D = max |cumA·nB − cumB·nA| / (nA·nB),
  // computed over the DISTINCT value grid (ties collapse first), so
  // the max is over a few hundred rows and the one ordered window runs
  // on a value-collapsed frame, not the corpus.
  def ksStat(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables.documents(s, dir)
      .filter(col("lang").isin("en", "fr"))
      .groupBy("n_chars")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
        sum(when(col("lang") === "fr", 1L).otherwise(0L)).as("cb"))
    val tot = vals.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("n_chars")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // the ordered window runs on the value-collapsed frame (hundreds
    // of rows) — single partition is the CONTRACT, not an accident
    vals.coalesce(1)
      .withColumn("cuma", sum("ca").over(w))
      .withColumn("cumb", sum("cb").over(w))
      .crossJoin(broadcast(tot))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(abs(col("cuma") * col("n_b") - col("cumb") * col("n_a")))
          .as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        M.oracleRound(col("d_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 4).as("ks"))
  }

  // q208: rank-biased overlap between the full-precision cosine
  // ranking and the 32-dim Matryoshka-prefix ranking (same machinery
  // as q154) — the top-weighted rank-agreement metric for comparing a
  // cheap index's ordering against the exact one, complementing q170's
  // relevance-based nDCG (RBO needs no judgments, only the two lists).
  // The two k-NN legs dominate; the RBO join moves k·|queries| rows.
  def rboEval(s: SparkSession, dir: String): DataFrame = {
    val emb = normEmb(s, dir)
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding",
      queries, k = rboK, preNormalized = true)
    val sliced = Tables.embeddings(s, dir).select(col("vec_id"),
      slice(col("embedding"), 1, 32).as("embedding"))
    val prefix = Similarity.cosineTopK(sliced, "vec_id", "embedding",
      sliced.filter(col("vec_id") < 8), k = rboK, dim = 32)
    val w = array(rboNanoWeights.map(lit): _*)
    exact.withColumnRenamed("rnk", "rnk_full")
      .join(prefix.withColumnRenamed("rnk", "rnk_prefix"),
        Seq("query_id", "neighbor_id"))
      .select(col("query_id"),
        element_at(w, greatest(col("rnk_full"), col("rnk_prefix")))
          .as("w_nano"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_shared"),
        sum(col("w_nano")).as("rbo_nanos"))
      .orderBy("query_id")
  }

  // DSIR importance-resampling weights (Xie et al., NeurIPS'23 "Data
  // Selection for Language Models via Importance Resampling"): score
  // every raw document by how target-like its HASHED unigram profile
  // is — log p_target(features) − log p_raw(features) under two
  // bag-of-buckets unigram models — then keep the top slice. Target =
  // the English slice, raw = the whole corpus; 128 hash buckets with
  // add-1 smoothing (the hashed-feature trick is what makes the method
  // vocabulary-free at web scale). Rides the shared token-array stage;
  // both bucket models come from ONE conditional aggregate over the
  // hashed token stream (128 rows, broadcast back), the per-doc score
  // is a keyed (doc,bucket) aggregate joined against it, and the
  // top-50 is takeOrdered on the 4-dp-pinned per-token score — no
  // global window, nothing vocabulary-sized on the driver.
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val buckets = 128
    val tok = tokenArrays(s, dir)
      .select(col("doc_id"), col("lang"), explode(col("a")).as("term"))
      .withColumn("b", pmod(
        T.md5Int(concat(lit("dsir:"), col("term")), 8),
        lit(buckets.toLong)).cast("int"))
    val bk = tok.groupBy("b").agg(
      count(lit(1)).cast("double").as("c_raw"),
      sum(when(col("lang") === "en", 1L).otherwise(0L))
        .cast("double").as("c_tgt"))
    val tot = bk.agg(sum(col("c_raw")).as("n_raw"),
      sum(col("c_tgt")).as("n_tgt"))
    val lr = bk.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("c_tgt") + 1) / (col("n_tgt") + buckets)) -
          log((col("c_raw") + 1) / (col("n_raw") + buckets))).as("lr"))
    val perDoc = tok.groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("c"))
      .join(broadcast(lr), Seq("b"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("c")).as("n_toks"),
        sum(col("c") * col("lr")).as("lw"))
      .withColumn("avg_lw", M.oracleRound(col("lw") / col("n_toks"), 4))
    val top = perDoc
      .orderBy(col("avg_lw").desc, col("doc_id")).limit(50).coalesce(1)
    top.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("avg_lw").desc, col("doc_id"))))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        col("avg_lw"), col("rnk"))
      .orderBy("rnk")
  }

  // interpolated Kneser-Ney bigram LM per-doc score — continuation-
  // count smoothing, the q118 add-k model's production-grade upgrade;
  // rides the shared token-array stage (one tokenize pass family-wide)
  def knBigram(s: SparkSession, dir: String): DataFrame =
    TextCorpus.knBigramLogProb(Tables.documents(s, dir),
        tokenArrays(s, dir), "doc_id", discount = 0.75)
      .orderBy("doc_id")

  // Class-balanced reweighting design table: per language class, the
  // inverse-frequency weight N/(K·n_c) and the effective-number-of-
  // samples weight (Cui et al., CVPR'19: E_n = (1−β^n)/(1−β), β=0.999;
  // weights normalized to sum to K) — what a loss-reweighting or
  // sampling stage consumes when the label distribution is skewed.
  // One keyed aggregate; the normalizers are window sums over the
  // K-row class frame.
  def classWeights(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val beta = 0.999
    val g = Tables.documents(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .coalesce(1)
    val w = W.partitionBy()
    g.withColumn("n", sum(col("n_docs")).over(w).cast("double"))
      .withColumn("k", count(lit(1)).over(w).cast("double"))
      .withColumn("inv_raw", col("n") / (col("k") * col("n_docs")))
      .withColumn("eff_n",
        (lit(1.0) - pow(lit(beta), col("n_docs").cast("double"))) /
          (1.0 - beta))
      .withColumn("eff_raw", lit(1.0) / col("eff_n"))
      .withColumn("eff_sum", sum(col("eff_raw")).over(w))
      .select(col("lang"), col("n_docs"),
        M.oracleRound(col("inv_raw"), 6).as("w_invfreq"),
        M.oracleRound(col("eff_raw") * col("k") / col("eff_sum"), 6)
          .as("w_effnum"))
      .orderBy("lang")
  }

  // Length-bucketed batching design table: assign each doc's token
  // count to the smallest power-of-two cap in {16..4096} and report
  // per bucket how many padded tokens a fixed-length batcher would
  // burn — the padding-waste audit that decides bucket boundaries for
  // a packing-free dataloader. Bucket caps come from a CASE ladder
  // (no float log2 — exact at the power-of-two boundaries by
  // construction). One scan over the shared token arrays, one keyed
  // aggregate.
  def padWaste(s: SparkSession, dir: String): DataFrame = {
    val caps = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
    val n = size(col("a")).cast("long")
    val cap = caps.reverse.tail.foldLeft(lit(caps.last)) { (acc, c) =>
      when(n <= c, lit(c)).otherwise(acc)
    }
    tokenArrays(s, dir)
      .select(n.as("n_tok"), cap.as("cap"))
      .groupBy("cap")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("real_tokens"),
        (max(col("cap")) * count(lit(1))).as("padded_tokens"))
      .withColumn("waste", M.oracleRound(
        lit(1.0) - col("real_tokens").cast("double") / col("padded_tokens"), 4))
      .select("cap", "n_docs", "real_tokens", "padded_tokens", "waste")
      .orderBy("cap")
  }

  // c-TF-IDF distinctive keywords per source (Grootendorst'22, the
  // BERTopic class-TF-IDF): treat each source as ONE class document,
  // weight W(t,c) = tf(t,c) · ln(1 + A/f(t)) with A = average class
  // token mass and f(t) = the term's corpus frequency — the "what
  // makes this slice different" table a corpus card shows per source.
  // Rides the shared exploded token stream; two keyed aggregates plus
  // a per-class top-10 window on the (class, term) frame; ranking
  // compares the 4-dp-ROUNDED weight so ln() ulps can't flip ranks.
  def ctfidfKeywords(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val toks = lowerToks(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
    val tfc = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val ft = tfc.groupBy("term").agg(sum(col("tf")).as("f_t"))
    val classMass = tfc.groupBy("source").agg(sum(col("tf")).as("mass"))
    val aMean = classMass.agg(avg(col("mass").cast("double")).as("a_mean"))
    val scored = tfc.join(ft, Seq("term"))
      .crossJoin(broadcast(aMean))
      .withColumn("w", M.oracleRound(
        col("tf") * log(lit(1.0) + col("a_mean") / col("f_t")), 4))
    scored.withColumn("rnk", row_number().over(
        W.partitionBy("source").orderBy(col("w").desc, col("term"))))
      .filter(col("rnk") <= 10)
      .select(col("source"), col("rnk"), col("term"), col("tf"), col("w"))
      .orderBy("source", "rnk")
  }

  // Term burstiness (Church & Gale'95 dispersion): for the 30 highest-
  // mass terms, the variance-to-mean ratio of per-doc counts — a
  // Poisson term has D ≈ 1, a topical/bursty term clumps (D ≫ 1);
  // the signal a stopword-vs-content-word split or a quality filter
  // reads. Zero-count docs enter the moments analytically (they add
  // nothing to Σc or Σc², only to N), so the per-term cost is one
  // (term) aggregate over the shared token stream, never a dense
  // doc×term frame.
  def termBurstiness(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val nDocs = Tables.documents(s, dir).count().toDouble
    val perDoc = lowerToks(s, dir)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val terms = perDoc.groupBy("term")
      .agg(sum(col("c")).as("total"), count(lit(1)).as("df"),
        sum(col("c") * col("c")).cast("double").as("ss"))
      .orderBy(col("total").desc, col("term")).limit(30).coalesce(1)
    terms
      .withColumn("mean", col("total").cast("double") / nDocs)
      .withColumn("dispersion", M.oracleRound(
        ((col("ss") - col("total") * col("total") / nDocs) / (nDocs - 1)) /
          (col("total") / nDocs), 4))
      .withColumn("rnk", row_number().over(
        W.orderBy(col("total").desc, col("term"))))
      .select(col("rnk"), col("term"), col("total"), col("df"),
        M.oracleRound(col("mean"), 6).as("mean"),
        col("dispersion"),
        (col("dispersion") > 1.5).as("bursty"))
      .orderBy("rnk")
  }

  // Diagonal Fréchet distance between the even- and odd-label
  // embedding cohorts — the FID construction (Heusel et al.'17)
  // restricted to diagonal covariances, which keeps it exactly
  // per-dimension decomposable: Σ_d (μa−μb)² + (σa²+σb²−2σaσb).
  // The full-covariance matrix-sqrt needs a driver-side eigensolve;
  // the diagonal form is ONE posexplode + one (cohort, dim) keyed
  // aggregate at any scale, and is the standard cheap first read on
  // "did this slice's embedding distribution move".
  def diagFrechet(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(s, dir)
      .select((col("label") % 2).cast("int").as("g"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("g"), col("d"), col("x").cast("double").as("x"))
      .groupBy("g", "d")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("mu", col("sx") / col("n"))
      // population variance — the FID convention
      .withColumn("v", col("sxx") / col("n") - col("mu") * col("mu"))
    val ab = dims.filter(col("g") === 0)
      .select(col("d"), col("n").as("n_a"), col("mu").as("mu_a"), col("v").as("v_a"))
      .join(dims.filter(col("g") === 1)
        .select(col("d"), col("n").as("n_b"), col("mu").as("mu_b"), col("v").as("v_b")),
        Seq("d"))
    ab.agg(
        first(col("n_a")).cast("long").as("n_even"),
        first(col("n_b")).cast("long").as("n_odd"),
        count(lit(1)).as("dim"),
        M.oracleRound(sum(pow(col("mu_a") - col("mu_b"), 2)), 6)
          .as("mean_term"),
        M.oracleRound(sum(col("v_a") + col("v_b") -
          lit(2.0) * sqrt(col("v_a")) * sqrt(col("v_b"))), 6).as("var_term"),
        M.oracleRound(sum(pow(col("mu_a") - col("mu_b"), 2)) +
          sum(col("v_a") + col("v_b") -
            lit(2.0) * sqrt(col("v_a")) * sqrt(col("v_b"))), 6).as("fid_diag"))
  }

  // Curriculum interleave: emit the corpus easy-first (difficulty =
  // n_chars, the cheap proxy) while round-robining across sources so
  // no training window is single-source — the deterministic curriculum
  // + mixing pass a dataloader wants ahead of q70's packing. The scale
  // story is the POSITION FORMULA: rank within source is a per-source
  // window (parallel across sources), the source index comes from a
  // |sources|-row broadcast, and the global position is pure arithmetic
  // pos = (rank−1)·|sources| + src_idx — a total order with NO global
  // window, no global sort until the caller asks for one.
  def curriculumInterleave(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select("doc_id", "source", "n_chars")
    val srcIdx = docs.select("source").distinct().coalesce(1)
      .withColumn("src_idx",
        (row_number().over(W.orderBy("source")) - 1).cast("long"))
      .withColumn("n_src", count(lit(1)).over(W.partitionBy()))
    docs.join(broadcast(srcIdx), Seq("source"))
      .withColumn("src_rank", row_number().over(
        W.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))))
      .select(col("doc_id"), col("source"), col("src_rank"),
        ((col("src_rank") - 1).cast("long") * col("n_src") + col("src_idx"))
          .as("pos"))
      .orderBy("pos")
  }

  // q293: vocabulary coverage curve — what fraction of TOKEN
  // OCCURRENCES a top-V vocabulary covers, for the V sweep a
  // tokenizer-budget decision reads (the Heaps-law companion: q166
  // fits the type curve, this prices the token curve). Rides the
  // shared token stage; terms are ranked by (count desc, term) —
  // fully deterministic, no ntile — and the rank runs on the
  // post-aggregation vocabulary frame (types, not tokens: ~√corpus by
  // Heaps, a coalesced micro-frame at gate scale; at 100 TB the same
  // rank rides the q180 two-level top-K since only ranks ≤ max(V)
  // matter). Coverage ratios are exact-integer / exact-integer.
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val vocab = lowerToks(s, dir).groupBy("term")
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1)
      .withColumn("rnk", row_number().over(
        W.orderBy(col("cnt").desc, col("term"))))
      .withColumn("total", sum("cnt").over(W.partitionBy()))
    val sizes = Seq(100, 500, 1000, 2000)
    vocab
      .select(col("cnt"), col("rnk"), col("total"),
        explode(array(sizes.map(lit): _*)).as("vocab_size"))
      .groupBy("vocab_size")
      .agg(max(col("total")).as("n_tokens"),
        sum(when(col("rnk") <= col("vocab_size"), col("cnt"))
          .otherwise(0L)).as("covered"))
      .select(col("vocab_size"), col("n_tokens"), col("covered"),
        M.oracleRound(col("covered").cast("double") / col("n_tokens"), 4)
          .as("coverage"))
      .orderBy("vocab_size")
  }

  // q294: n-gram novelty decay across ingestion batches — the
  // "is new data still new?" curve a continual-crawl pipeline
  // monitors: batch b's novelty = the fraction of its (doc, 4-gram)
  // shingle occurrences whose FIRST corpus appearance (min batch over
  // all docs) is b itself. Mature crawls decay toward boilerplate;
  // a novelty cliff flags a source change. One shingle-keyed
  // aggregate (map-side combined min) + one shingle-keyed join back —
  // nothing is ever collected, and the join key is the shingle hash,
  // not the document.
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleSets(Tables.documents(s, dir),
        "doc_id", "text", 4)
      .select(col("doc_id"), (col("doc_id") % 5).as("batch"),
        explode(col("__sh")).as("sh"))
    val first = sh.groupBy("sh").agg(min("batch").as("first_batch"))
    sh.join(first, "sh")
      .groupBy("batch")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_batch") === col("batch"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("batch"), col("n_shingles"), col("n_novel"),
        M.oracleRound(col("n_novel").cast("double") / col("n_shingles"), 4)
          .as("novelty"))
      .orderBy("batch")
  }

  // q295: template-spam screen — per-document MAX character-trigram
  // multiplicity ratio (how much of the doc is one repeated shingle):
  // the complement of q249's novelty ratio that catches the "one
  // phrase pasted 50 times" page q249's distinct-ratio can miss when
  // padding varies. Per-source spam rate + mean ratio — the
  // source-scorecard shape. Shuffle is (doc, trigram)-keyed with
  // map-side combine; nothing text-sized crosses the wire twice.
  def templateSpam(s: SparkSession, dir: String): DataFrame = {
    val tri = Tables.documents(s, dir)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("source"),
        explode(expr("transform(sequence(1, length(text) - 2)," +
          " i -> substring(text, i, 3))")).as("tri"))
    val perDoc = tri.groupBy("doc_id", "source", "tri")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "source")
      .agg(max("c").as("max_mult"), sum("c").as("n_tri"))
      .withColumn("ratio",
        col("max_mult").cast("double") / col("n_tri"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ratio") > 0.05, 1L).otherwise(0L)).as("n_spam"),
        M.oracleRound(avg(col("ratio")), 4).as("mean_ratio"))
      .select(col("source"), col("n_docs"), col("n_spam"),
        M.oracleRound(col("n_spam").cast("double") / col("n_docs"), 4)
          .as("spam_rate"), col("mean_ratio"))
      .orderBy("source")
  }

  // q296: per-label embedding centroid drift vs the global centroid —
  // the class-imbalance/collapse audit next to q263's silhouette:
  // cosine(centroid_l, centroid_global) near 1 for every label means
  // the labels share one mode (embedding collapse); a lone low cosine
  // flags a genuinely separated (or mislabeled) class. Centroid sums
  // are per-(label, dim) keyed aggregates over one posexplode pass;
  // the global centroid derives from the label centroids' weighted
  // sums (no second corpus scan), and the cosine runs on the
  // labels×dims micro-frame.
  def labelCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
    val lc = p.groupBy("label", "dim")
      .agg(sum("v").as("sv"), count(lit(1)).as("nv"))
      .withColumn("c", col("sv") / col("nv"))
    val gc = lc.groupBy("dim")
      .agg((sum(col("sv")) / sum(col("nv"))).as("gcv"))
    lc.join(gc, "dim")
      .groupBy("label")
      .agg(max(col("nv")).as("n_vecs"),
        sum(col("c") * col("gcv")).as("dot"),
        sum(col("c") * col("c")).as("ss_l"),
        sum(col("gcv") * col("gcv")).as("ss_g"),
        sum((col("c") - col("gcv")) * (col("c") - col("gcv"))).as("ss_d"))
      .select(col("label"), col("n_vecs"),
        M.oracleRound(col("dot") / (sqrt(col("ss_l")) * sqrt(col("ss_g"))),
          4).as("cos_global"),
        M.oracleRound(sqrt(col("ss_d")), 4).as("l2_drift"))
      .orderBy("label")
  }
  // q297: block-level exact dedup with document reassembly accounting —
  // the CCNet/Dolma paragraph-dedup step expressed on this corpus's
  // delimiter-free text as fixed 10-token blocks: a block occurrence
  // survives iff it is the corpus-wide FIRST occurrence of that block
  // (lexicographic (doc_id, pos) min), every later copy is dropped, and
  // the per-source scorecard reports occurrence and TOKEN retention —
  // the number a curation run actually budgets with. Scale shape: one
  // block-hash-keyed aggregate for the first-occurrence table (the
  // min(struct) combines map-side) + one block-keyed join back —
  // the whole-doc q23 dedup never sees shared boilerplate inside
  // otherwise-distinct documents; this does. Rides the shared
  // [[tokenArrays]] stage; nothing is collected.
  def blockDedup(s: SparkSession, dir: String): DataFrame = {
    val blocks = tokenArrays(s, dir)
      .filter(size(col("a")) > 0)
      .select(col("doc_id"), col("source"), size(col("a")).as("nt"),
        posexplode(expr(
          "transform(sequence(0, cast(ceil(size(a)/10.0) as int) - 1)," +
            " i -> array_join(slice(a, i*10+1, 10), ' '))"))
          .as(Seq("pos", "blk")))
      .withColumn("btoks", least(lit(10), col("nt") - col("pos") * 10))
    val first = blocks.groupBy("blk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("blk"), col("f.doc_id").as("f_doc"),
        col("f.pos").as("f_pos"))
    blocks.join(first, "blk")
      .withColumn("dup",
        col("doc_id") =!= col("f_doc") || col("pos") =!= col("f_pos"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(col("btoks").cast("long")).as("toks_total"),
        sum(when(col("dup"), col("btoks").cast("long")).otherwise(0L))
          .as("toks_dropped"),
        count_distinct(when(col("dup"), col("doc_id"))).as("n_docs_hit"))
      .select(col("source"), col("n_blocks"), col("n_dup"),
        M.oracleRound(col("n_dup").cast("double") / col("n_blocks"), 4)
          .as("dup_rate"),
        col("toks_total"), col("toks_dropped"),
        M.oracleRound(lit(1.0) -
          col("toks_dropped").cast("double") / col("toks_total"), 4)
          .as("keep_rate"),
        col("n_docs_hit"))
      .orderBy("source")
  }
  // q302: shot-boundary detection over scene-structured AVI video —
  // the temporal-video-analysis member of the multimodal family
  // (q140/q150/q288 verify frame CONTENT; this verifies a decision
  // built ON the decoded frames): consecutive-frame L1 distance over
  // the per-channel means, cut declared when the 4-dp-pinned distance
  // exceeds 30.0, then per-doc precision/recall against the PLANTED
  // cuts (shots of 4 + doc_id % 3 frames — the generator's closed
  // form, so the oracle re-derives pixels, means, detections AND truth
  // in ANSI SQL). The detector only sees [[Multimodal.aviBytesScene]]
  // output through the real [[graft_avi_frames]] demux — generator and
  // detector share no state. Scale shape: generate+decode is one
  // codegen'd map pass; the exploded per-frame frame is
  // localCheckpointed (the q140/q262 staging lesson — the window must
  // never re-embed the generator), and the lag window partitions by
  // doc_id, so no single-partition sort at any corpus size.
  def shotBoundary(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = (pmod(col("doc_id"), lit(5)) + 4).cast("int")
    val h = (pmod(col("doc_id"), lit(4)) + 4).cast("int")
    val nf = (pmod(col("doc_id"), lit(9)) + 12).cast("int")
    // documents.parquet is one split — without the round-robin spread
    // the whole generate+decode md5 volume runs in ONE task (the q250
    // block-join lesson); a 32-way shuffle of (doc_id) rows is free
    val dec = Multimodal.withAviFrameMeans(
        Tables.documents(s, dir).select(col("doc_id")).repartition(32)
          .select(col("doc_id"),
            Multimodal.aviBytesScene(w, h, nf, lit(33333).cast("int"),
              col("doc_id")).as("__avi")),
        "__avi", "__m")
      // checkpoint BEFORE the explode: downstream reads __m.frames and
      // __m.n_frames as separate expressions, and without the stage
      // each re-embeds the full generate+decode per reference (the
      // q262 hazard); the decoded struct is 4 doubles × ~16 frames
      .select(col("doc_id"), col("__m")).localCheckpoint()
      .select(col("doc_id"),
        (pmod(col("doc_id"), lit(3)) + 4).cast("int").as("shot_len"),
        col("__m.n_frames").as("n_frames"),
        explode(col("__m.frames")).as("__f"))
      .select(col("doc_id"), col("shot_len"), col("n_frames"),
        col("__f.frame").as("frame"), col("__f.mean_b").as("mb"),
        col("__f.mean_g").as("mg"), col("__f.mean_r").as("mr"))
    val wnd = W.partitionBy(col("doc_id")).orderBy(col("frame"))
    val scored = dec
      .withColumn("dist", M.oracleRound(
        abs(col("mb") - lag(col("mb"), 1).over(wnd)) +
          abs(col("mg") - lag(col("mg"), 1).over(wnd)) +
          abs(col("mr") - lag(col("mr"), 1).over(wnd)), 4))
      .withColumn("det", col("dist") > 30.0)
      .withColumn("truth",
        col("frame") > 0 && pmod(col("frame"), col("shot_len")) === 0)
    scored.groupBy("doc_id")
      .agg(max(col("n_frames")).as("n_frames"),
        max(col("shot_len")).as("shot_len"),
        sum(when(col("truth"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("det"), 1L).otherwise(0L)).as("n_det"),
        sum(when(col("det") && col("truth"), 1L).otherwise(0L))
          .as("n_hit"))
      .select(col("doc_id"), col("n_frames"), col("shot_len"),
        col("n_true"), col("n_det"), col("n_hit"),
        when(col("n_det") > 0, M.oracleRound(
          col("n_hit").cast("double") / col("n_det"), 4)).as("prec"),
        M.oracleRound(col("n_hit").cast("double") / col("n_true"), 4)
          .as("recall"))
      .orderBy("doc_id")
  }
  // q303: audio onset detection over loudness-segment WAV — the AUDIO
  // twin of q302's video shot-boundary gate (temporal analysis on a
  // decoded signal, not just content verification): samples come from
  // [[Multimodal]]'s new graft_wav_seg_bytes generator (1024-sample
  // segments, md5 amplitudes in [8,64], noise × amp — every value an
  // exact integer with an ANSI-SQL closed form), decode is the real
  // graft_pcm_samples LE16 walk, frame loudness is the INTEGER
  // Σ|sample| over 256-sample frames, and an onset fires on the
  // division-free jump test 2·e_f > 3·e_prev (energy up ≥1.5×).
  // Truth = the same test on the planted segment amplitudes at
  // segment-start frames; per-doc precision/recall close the loop.
  // Staging per the q302 lesson: repartition(32) spreads the one-split
  // scan's md5 volume, and the per-frame energies localCheckpoint
  // BEFORE the explode so no reference re-embeds generate+decode.
  def audioOnset(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ns = ((pmod(col("doc_id"), lit(5)) + 4) * 1024).cast("int")
    val frames = Tables.documents(s, dir).select(col("doc_id"))
      .repartition(32)
      .select(col("doc_id"),
        call_function("graft_pcm_samples",
          call_function("graft_wav_seg_bytes", lit(8000), lit(1), ns,
            col("doc_id"))).as("sm"))
      .select(col("doc_id"),
        expr("transform(sequence(0, size(sm) div 256 - 1)," +
          " f -> aggregate(slice(sm, f*256+1, 256), 0L," +
          " (a, x) -> a + abs(x)))").as("en"))
      .localCheckpoint()
    val wnd = W.partitionBy("doc_id").orderBy("frame")
    def amp(seg: Column): Column =
      pmod(T.md5Int(concat(lit("amp:"), col("doc_id").cast("string"),
        lit(":"), seg.cast("string")), 8), lit(57)) + 8
    val scored = frames
      .select(col("doc_id"), posexplode(col("en")).as(Seq("frame", "e")))
      .withColumn("e_prev", lag(col("e"), 1).over(wnd))
      .withColumn("det",
        when(col("e_prev").isNull, lit(false))
          .otherwise(col("e") * 2 > col("e_prev") * 3))
      .withColumn("truth",
        col("frame") > 0 && pmod(col("frame"), lit(4)) === 0 &&
          amp(expr("frame div 4")) * 2 > amp(expr("frame div 4 - 1")) * 3)
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("truth"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("det"), 1L).otherwise(0L)).as("n_det"),
        sum(when(col("det") && col("truth"), 1L).otherwise(0L))
          .as("n_hit"))
      .select(col("doc_id"), col("n_frames"), col("n_true"),
        col("n_det"), col("n_hit"),
        when(col("n_det") > 0, M.oracleRound(
          col("n_hit").cast("double") / col("n_det"), 4)).as("prec"),
        when(col("n_true") > 0, M.oracleRound(
          col("n_hit").cast("double") / col("n_true"), 4)).as("recall"))
      .orderBy("doc_id")
  }
  // q304: MMR (maximal-marginal-relevance) diversified top-5 retrieval
  // — the result-diversification step a RAG serving stack runs between
  // ANN and the prompt (Carbonell–Goldstein '98): greedily pick the
  // candidate maximizing rel − max-sim-to-already-picked (λ = 0.5, for
  // which the argmax is exactly argmax(rel − maxsim)). Determinism
  // contract: rel and pairwise sims are 4-dp-pinned cosines, so every
  // round's score is an exact multiple of 1e-4 and ties break on
  // vec_id — no float fold can flip a pick on either engine. Scale
  // shape: ONE sample × corpus scan builds the pinned top-12 candidate
  // frame (q28's ranking convention), localCheckpointed so the four
  // unrolled selection rounds and the pairwise-sim join replay a
  // queries×12 micro-frame, never the corpus; pairwise sims are 12×11
  // per query — bounded by the candidate cap. The query set is a
  // FIXED-SIZE md5 sample (24 — serving-batch semantics): the r14
  // sf0.1→sf1 slope gate measured 213× on the previous modulus
  // sample, whose size grew WITH the corpus and made the candidate
  // scan quadratic; with a constant query count the scan is linear in
  // corpus rows.
  def mmrSelect(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"),
        _.cast("double")).as("e"))
    def cosine(a: Column, b: Column): Column = M.oracleRound(
      call_function("graft_dot", a, b) /
        (sqrt(call_function("graft_dot", a, a)) *
          sqrt(call_function("graft_dot", b, b))), 4)
    val q = md5Panel(emb, "vec_id", "mmrq", 24, Seq("vec_id", "e"))
      .toDF("qid", "qe")
    val cand = q.crossJoin(emb.toDF("cid", "ce"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), col("ce"),
        cosine(col("qe"), col("ce")).as("rel"))
      .withColumn("rnk", row_number().over(
        w.partitionBy("qid").orderBy(col("rel").desc, col("cid"))))
      .filter(col("rnk") <= 12)
      .localCheckpoint()
    val sims = cand.select(col("qid"), col("cid").as("a"), col("ce").as("ea"))
      .join(cand.select(col("qid"), col("cid").as("b"), col("ce").as("eb")),
        "qid")
      .filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        cosine(col("ea"), col("eb")).as("sim"))
      // one queries×12×11 micro-frame, read by all four rounds
      .localCheckpoint()
    val rel = cand.select(col("qid"), col("cid"), col("rel"))
    var sel = cand.filter(col("rnk") === 1)
      .select(col("qid"), col("cid"), lit(1).as("pick"),
        col("rel").as("gain"))
    for (k <- 2 to 5) {
      // each round references the running selection twice (max-sim
      // probe + anti-join) and the next round references THIS round's
      // output again — without the per-round stage the lineage replays
      // exponentially (measured 3.7 s at sf0.01 for ~200 rows)
      sel = sel.localCheckpoint()
      val picked = sel.select(col("qid"), col("cid"))
      val ms = sims
        .join(picked.toDF("qid", "b"), Seq("qid", "b"))
        .groupBy(col("qid"), col("a").as("cid"))
        .agg(max(col("sim")).as("maxsim"))
        .join(picked, Seq("qid", "cid"), "left_anti")
        .join(rel, Seq("qid", "cid"))
        .withColumn("rn", row_number().over(w.partitionBy("qid")
          .orderBy((col("rel") - col("maxsim")).desc, col("cid"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("cid"), lit(k).as("pick"),
          (col("rel") - col("maxsim")).as("gain"))
      sel = sel.unionByName(ms)
    }
    sel.join(rel, Seq("qid", "cid"))
      .select(col("qid"), col("pick"), col("cid"),
        col("rel"), M.oracleRound(col("gain"), 4).as("gain"))
      .orderBy("qid", "pick")
  }
  // q307: kNN hubness audit — the high-dimensional pathology check an
  // ANN deployment runs before trusting recall numbers (Radovanović
  // et al. JMLR'10): a few "hub" points appear in everyone's top-k and
  // poison retrieval diversity. In-degree of each corpus point over
  // the top-5 lists of a modulus query sample (q28's exact-cosine
  // ranking convention, vec_id tiebreak), zero-in-degree points
  // INCLUDED via the corpus left join (dropping them fakes the skew
  // down); moment skewness from the three exact-integer power sums,
  // top-10 hub mass over the exact k·|queries| total. Sample × corpus
  // with a FIXED-SIZE md5 sample (64 probes — the r14 second-decade
  // lesson: a modulus sample grows with the corpus and turns this
  // stage quadratic); the top-10 is a global TakeOrdered, never a
  // full sort.
  def hubnessAudit(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"),
        _.cast("double")).as("e"))
    val q = md5Panel(emb, "vec_id", "hubq", 64, Seq("vec_id", "e"))
      .toDF("qid", "qe")
    val top5 = q.crossJoin(emb.toDF("cid", "ce"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        (call_function("graft_dot", col("qe"), col("ce")) /
          (sqrt(call_function("graft_dot", col("qe"), col("qe"))) *
            sqrt(call_function("graft_dot", col("ce"), col("ce")))))
          .as("cos"))
      .withColumn("rnk", row_number().over(
        w.partitionBy("qid").orderBy(col("cos").desc, col("cid"))))
      .filter(col("rnk") <= 5)
    val indeg = emb.select(col("vec_id"))
      .join(top5.groupBy(col("cid").as("vec_id"))
        .agg(count(lit(1)).as("d")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("d"), lit(0L)).as("d"))
    val nq = q.agg(count(lit(1)).as("n_queries"))
    val top10 = indeg.orderBy(col("d").desc, col("vec_id")).limit(10)
      .agg(sum(col("d")).as("top10"))
    val mom = indeg.agg(count(lit(1)).as("n"), sum(col("d")).as("s1"),
      sum(col("d") * col("d")).as("s2"),
      sum(col("d") * col("d") * col("d")).as("s3"),
      max(col("d")).as("max_indeg"),
      sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_reached"))
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mu * mu
    val m3 = col("s3").cast("double") / nD -
      lit(3.0) * mu * col("s2").cast("double") / nD + lit(2.0) * mu * mu * mu
    mom.crossJoin(broadcast(nq)).crossJoin(broadcast(top10))
      .select(col("n_queries"), col("n").as("n_points"),
        col("n_reached"), col("max_indeg"),
        M.oracleRound(m3 / (m2 * sqrt(m2)), 4).as("skew"),
        M.oracleRound(col("top10").cast("double") /
          (col("n_queries") * 5), 4).as("top10_share"))
  }
  // q316: WITHIN-document block dedup — the intra-doc half of the
  // CCNet discipline q297 applies corpus-wide (Gopher's "remove
  // duplicated passages inside the page"; a page that repeats its own
  // boilerplate dedups here even when no other document shares it).
  // Same 10-token blocks off the shared [[tokenArrays]] stage; first
  // occurrence is per-(doc, block) — a doc-local keyed aggregate, so
  // unlike q297 NOTHING joins across documents and the whole operator
  // is map-side-combinable on the doc key. Per-source occurrence and
  // token retention.
  def intradocDedup(s: SparkSession, dir: String): DataFrame =
    intradocDedupOf(tokenArrays(s, dir))

  /** q316 core over any `(doc_id, source, a)` token-array frame — the
    * gate rides the shared stage; the spec feeds planted repetition
    * (the corpus's honest intra-doc dup rate is ~0, so the DETECTOR
    * is proven on a constructed frame, the established planted-frame
    * pattern). */
  private[graft] def intradocDedupOf(arrs: DataFrame): DataFrame = {
    val blocks = arrs
      .filter(size(col("a")) > 0)
      .select(col("doc_id"), col("source"), size(col("a")).as("nt"),
        posexplode(expr(
          "transform(sequence(0, cast(ceil(size(a)/10.0) as int) - 1)," +
            " i -> array_join(slice(a, i*10+1, 10), ' '))"))
          .as(Seq("pos", "blk")))
      .withColumn("btoks", least(lit(10), col("nt") - col("pos") * 10))
    val first = blocks.groupBy("doc_id", "blk")
      .agg(min(col("pos")).as("f_pos"))
    blocks.join(first, Seq("doc_id", "blk"))
      .withColumn("dup", col("pos") =!= col("f_pos"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(col("btoks").cast("long")).as("toks_total"),
        sum(when(col("dup"), col("btoks").cast("long")).otherwise(0L))
          .as("toks_dropped"),
        count_distinct(when(col("dup"), col("doc_id"))).as("n_docs_hit"))
      .select(col("source"), col("n_blocks"), col("n_dup"),
        M.oracleRound(col("n_dup").cast("double") / col("n_blocks"), 4)
          .as("dup_rate"),
        col("toks_total"), col("toks_dropped"),
        M.oracleRound(lit(1.0) -
          col("toks_dropped").cast("double") / col("toks_total"), 4)
          .as("keep_rate"),
        col("n_docs_hit"))
      .orderBy("source")
  }

  // q317: language-ID confusion matrix — the classifier-eval harness
  // for q26's n-gram heuristic against the labeled lang column (the
  // audit a pipeline runs before TRUSTING a cheap classifier to route
  // documents): per (label, prediction) cell counts with the label's
  // total and share. One map-only classify pass + one keyed
  // aggregate; the matrix is |langs|² rows.
  def langidConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = Tables.documents(s, dir)
      .select(col("lang"), T.langId(col("text")).as("lang_pred"))
    val cells = pred.groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("lang").agg(sum(col("n")).as("label_total"))
    cells.join(totals, "lang")
      .select(col("lang"), col("lang_pred"), col("n"), col("label_total"),
        M.oracleRound(col("n").cast("double") / col("label_total"), 4)
          .as("share"),
        (col("lang") === col("lang_pred")).as("is_correct"))
      .orderBy("lang", "lang_pred")
  }
  // q318: SRT subtitle round trip + timeline audit — the TIMED-TEXT
  // modality (video datasets ship captions as SRT): per doc a real
  // SubRip payload is BUILT from an md5 closed form (3–7 cues, jittered
  // starts, durations long enough to overlap the next cue sometimes),
  // then PARSED BACK with generic block/regexp machinery that never
  // sees the generator (cue index, HH:MM:SS,mmm --> range, text), and
  // the timeline is audited: total caption time, overlapping-cue
  // count, >2 s gap count, and a parse_ok flag (count + index
  // monotonicity). The oracle restates the closed form directly — a
  // build-side bug or a parse-side bug each break the gate. Map-only
  // build+parse; the per-cue explode carries only the tiny cue frame.
  def srtRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val nCues = (pmod(col("doc_id"), lit(5)) + 3).cast("int")
    // build: one concat over the cue sequence (the lambda computes
    // start/end from the closed form and formats both timestamps)
    val built = Tables.documents(s, dir).select(col("doc_id"), nCues.as("nc"))
      .withColumn("srt", expr("""
        array_join(transform(sequence(0, nc - 1), i ->
          concat(
            CAST(i + 1 AS STRING), '\n',
            concat_ws(':',
              lpad(CAST((i * 4000 + pmod(graft_md5_long(
                concat('srt:', doc_id, ':', i), 8), 1000))
                div 3600000 AS STRING), 2, '0'),
              lpad(CAST((i * 4000 + pmod(graft_md5_long(
                concat('srt:', doc_id, ':', i), 8), 1000))
                div 60000 % 60 AS STRING), 2, '0'),
              concat(lpad(CAST((i * 4000 + pmod(graft_md5_long(
                concat('srt:', doc_id, ':', i), 8), 1000))
                div 1000 % 60 AS STRING), 2, '0'), ',',
                lpad(CAST((i * 4000 + pmod(graft_md5_long(
                  concat('srt:', doc_id, ':', i), 8), 1000))
                  % 1000 AS STRING), 3, '0'))),
            ' --> ',
            concat_ws(':',
              lpad(CAST((i * 4000 + pmod(graft_md5_long(
                concat('srt:', doc_id, ':', i), 8), 1000)
                + 1200 + pmod(graft_md5_long(
                  concat('srtd:', doc_id, ':', i), 8), 2500))
                div 3600000 AS STRING), 2, '0'),
              lpad(CAST((i * 4000 + pmod(graft_md5_long(
                concat('srt:', doc_id, ':', i), 8), 1000)
                + 1200 + pmod(graft_md5_long(
                  concat('srtd:', doc_id, ':', i), 8), 2500))
                div 60000 % 60 AS STRING), 2, '0'),
              concat(lpad(CAST((i * 4000 + pmod(graft_md5_long(
                concat('srt:', doc_id, ':', i), 8), 1000)
                + 1200 + pmod(graft_md5_long(
                  concat('srtd:', doc_id, ':', i), 8), 2500))
                div 1000 % 60 AS STRING), 2, '0'), ',',
                lpad(CAST((i * 4000 + pmod(graft_md5_long(
                  concat('srt:', doc_id, ':', i), 8), 1000)
                  + 1200 + pmod(graft_md5_long(
                    concat('srtd:', doc_id, ':', i), 8), 2500))
                  % 1000 AS STRING), 3, '0'))),
            '\n', 'line ', CAST(pmod(graft_md5_long(
              concat('srtt:', doc_id, ':', i), 8), 100) AS STRING))),
          '\n\n')"""))
      .localCheckpoint()
    // parse: generic SRT block walk — index, range line, text
    val cues = built
      .select(col("doc_id"), col("nc"),
        posexplode(split(col("srt"), "\n\n")).as(Seq("cpos", "blk")))
      .select(col("doc_id"), col("nc"), col("cpos"),
        regexp_extract(col("blk"), "^(\\d+)\\n", 1).cast("long").as("idx"),
        regexp_extract(col("blk"),
          "(\\d{2}):(\\d{2}):(\\d{2}),(\\d{3}) --> ", 0).as("st_raw"),
        expr("""CAST(regexp_extract(blk,
            '(\\d{2}):(\\d{2}):(\\d{2}),(\\d{3}) -->', 1) AS BIGINT)
            * 3600000
          + CAST(regexp_extract(blk,
            '(\\d{2}):(\\d{2}):(\\d{2}),(\\d{3}) -->', 2) AS BIGINT)
            * 60000
          + CAST(regexp_extract(blk,
            '(\\d{2}):(\\d{2}):(\\d{2}),(\\d{3}) -->', 3) AS BIGINT)
            * 1000
          + CAST(regexp_extract(blk,
            '(\\d{2}):(\\d{2}):(\\d{2}),(\\d{3}) -->', 4) AS BIGINT)""")
          .as("start_ms"),
        expr("""CAST(regexp_extract(blk,
            '--> (\\d{2}):(\\d{2}):(\\d{2}),(\\d{3})', 1) AS BIGINT)
            * 3600000
          + CAST(regexp_extract(blk,
            '--> (\\d{2}):(\\d{2}):(\\d{2}),(\\d{3})', 2) AS BIGINT)
            * 60000
          + CAST(regexp_extract(blk,
            '--> (\\d{2}):(\\d{2}):(\\d{2}),(\\d{3})', 3) AS BIGINT)
            * 1000
          + CAST(regexp_extract(blk,
            '--> (\\d{2}):(\\d{2}):(\\d{2}),(\\d{3})', 4) AS BIGINT)""")
          .as("end_ms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("cpos")
    cues
      .withColumn("next_start", lead(col("start_ms"), 1).over(w))
      .withColumn("prev_end", lag(col("end_ms"), 1).over(w))
      .groupBy("doc_id")
      .agg(max(col("nc")).as("nc"), count(lit(1)).as("n_cues"),
        sum(col("end_ms") - col("start_ms")).as("caption_ms"),
        sum(when(col("next_start").isNotNull &&
          col("end_ms") > col("next_start"), 1L).otherwise(0L))
          .as("n_overlaps"),
        sum(when(col("prev_end").isNotNull &&
          col("start_ms") - col("prev_end") > 2000, 1L).otherwise(0L))
          .as("n_gaps_2s"),
        (max(col("idx") - col("cpos")) === 1 &&
          min(col("idx") - col("cpos")) === 1).as("idx_monotone"))
      .select(col("doc_id"), col("n_cues"), col("caption_ms"),
        col("n_overlaps"), col("n_gaps_2s"),
        (col("n_cues") === col("nc") && col("idx_monotone")).as("parse_ok"))
      .orderBy("doc_id")
  }
  // q319: license/provenance propagation through near-dup clusters —
  // the compliance sweep a takedown or license change triggers: a doc
  // from a restricted source taints EVERY member of its near-dup
  // component (q49's MinHash-LSH connected components — if the text
  // survives as someone else's copy, dropping only the source's rows
  // removes nothing). Per-source scorecard: directly restricted,
  // transitively inherited, and the clear rate after both. Rides the
  // shared component stage; the taint flag is one component-keyed
  // aggregate + one join back.
  def licensePropagation(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        when(expr("CAST(substring(source, 4) AS INT) % 5 = 0"), 1L)
          .otherwise(0L).as("direct"))
    val d2 = docs
      .join(dupComponents(s, dir).toDF("doc_id", "comp"),
        Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
    val taint = d2.groupBy("comp").agg(max(col("direct")).as("tainted"))
    d2.join(taint, "comp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("direct")).as("n_direct"),
        sum(when(col("direct") === 0 && col("tainted") === 1, 1L)
          .otherwise(0L)).as("n_inherited"))
      .select(col("source"), col("n_docs"), col("n_direct"),
        col("n_inherited"),
        M.oracleRound(lit(1.0) -
          (col("n_direct") + col("n_inherited")).cast("double") /
            col("n_docs"), 4).as("clear_rate"))
      .orderBy("source")
  }

  // q320: temperature-scaled language sampling (the mT5/XLM-R α-mix):
  // w_l ∝ p_l^α flattens the head and boosts tail languages; the
  // emitted table is the sampler's weight sheet for α ∈
  // {0.2, 0.5, 1.0} with the effective boost w/p. Shares are pinned
  // at 6 dp BEFORE the pow so both engines exponentiate identical
  // doubles; one lang-keyed aggregate, the rest is a |langs|×|α|
  // micro-frame. Distinct from q83 (acceptance rates toward a stated
  // target mix): this DERIVES the target from the α rule.
  def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).as("n"))
    val p = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("c"),
        M.oracleRound(col("c").cast("double") / col("n"), 6).as("p"))
    val byAlpha = p
      .select(col("lang"), col("c"), col("p"),
        explode(array(lit(0.2), lit(0.5), lit(1.0))).as("alpha"))
      .withColumn("pa", pow(col("p"), col("alpha")))
    val z = byAlpha.groupBy("alpha").agg(sum(col("pa")).as("z"))
    byAlpha.join(z, "alpha")
      .select(col("lang"), col("alpha"), col("c").as("n_docs"), col("p"),
        M.oracleRound(col("pa") / col("z"), 4).as("w"),
        M.oracleRound(col("pa") / col("z") / col("p"), 4).as("boost"))
      .orderBy("lang", "alpha")
  }
  // q322: Cohen's kappa — the chance-corrected agreement statistic
  // q317's confusion matrix feeds (annotation-quality 101: raw
  // accuracy flatters any skewed label set; kappa subtracts the
  // agreement two independent raters would reach by chance).
  // "Rater A" is the lang label, "rater B" the q26 classifier.
  // INTEGER-EXACT through the end: po·N = Σ diag, pe·N² = Σ row_l·col_l
  // (exact long cross-products over the |langs|² cell frame), and
  // κ = (po−pe)/(1−pe) restated as (N·Σdiag − Σrc)/(N² − Σrc) —
  // one ratio of exact integers, no float fold anywhere. One classify
  // pass + one keyed aggregate; everything after is micro-frame.
  def cohensKappa(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .select(col("lang"), T.langId(col("text")).as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val rows = cells.groupBy(col("lang").as("l")).agg(sum("n").as("rn"))
    val cols = cells.groupBy(col("pred").as("l")).agg(sum("n").as("cn"))
    val margins = rows.join(cols, Seq("l"), "full_outer")
      .select(coalesce(col("rn"), lit(0L)).as("rn"),
        coalesce(col("cn"), lit(0L)).as("cn"))
      .agg(sum(col("rn") * col("cn")).as("src"))
    val diag = cells.agg(sum(col("n")).as("nn"),
      sum(when(col("lang") === col("pred"), col("n")).otherwise(0L))
        .as("sdiag"))
    diag.crossJoin(broadcast(margins))
      .select(col("nn").as("n_docs"), col("sdiag").as("n_agree"),
        M.oracleRound(col("sdiag").cast("double") / col("nn"), 4)
          .as("po"),
        M.oracleRound(col("src").cast("double") / (col("nn") * col("nn")),
          4).as("pe"),
        M.oracleRound(
          (col("nn") * col("sdiag") - col("src")).cast("double") /
            (col("nn") * col("nn") - col("src")).cast("double"), 4)
          .as("kappa"))
  }

  // q327: Chao1 species-richness + Good-Turing coverage per language —
  // the "how much vocabulary have we NOT crawled yet" estimator that
  // turns q152's empirical vocab-growth curve into a point estimate:
  // chao1 = V + f1(f1−1)/(2(f2+1)) (bias-corrected form, defined even
  // when no type occurs exactly twice) and coverage Ĉ = 1 − f1/N
  // (Good-Turing: the probability mass of unseen types equals the
  // singleton share). Rides the family-wide shared token stage; one
  // (lang,term) aggregate then a languages-sized frame — the f1/f2
  // spectrum needs exact counts (sketches can't see "exactly once"),
  // which is why this is a second-moment aggregate, not an HLL probe.
  def chao1Richness(s: SparkSession, dir: String): DataFrame = {
    val tc = tokenArrays(s, dir)
      .select(col("lang"), explode(col("a")).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("c"))
    tc.groupBy("lang").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("v_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("lang"), col("n_tokens"), col("v_types"), col("f1"),
        col("f2"),
        M.oracleRound(col("v_types") +
          (col("f1") * (col("f1") - 1)).cast("double") /
            (lit(2) * (col("f2") + 1)).cast("double"), 4).as("chao1"),
        M.oracleRound(lit(1.0) -
          col("f1").cast("double") / col("n_tokens").cast("double"), 4)
          .as("coverage"))
      .orderBy("lang")
  }

  // q328: skip-gram PMI — co-occurrence within a ±3-token window, the
  // word2vec/GloVe counting stage that q98's adjacent-bigram PMI only
  // skims. The pair stream is built INSIDE one array expression per
  // document (nested transform over index sequences → ≤3N canonical
  // (min,max) pairs), so there is no positional self-join and no
  // per-position explode — one projection, one explode, one keyed
  // aggregate; the oracle states the same semantics as the naive
  // positional self-join. PMI = ln(c·N²/(P·n_x·n_y)) with the exact
  // integer counts composed in one double expression written
  // identically on both sides; support floor c ≥ 10 keeps the frame
  // honest at any scale (rare-pair PMI is noise).
  def skipgramPmi(s: SparkSession, dir: String): DataFrame = {
    val pairs = tokenArrays(s, dir)
      .filter(size(col("a")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(a) - 1),
          |  i -> transform(sequence(i + 1, least(i + 3, size(a))),
          |    j -> named_struct(
          |      'x', CASE WHEN element_at(a, i) <= element_at(a, j)
          |           THEN element_at(a, i) ELSE element_at(a, j) END,
          |      'y', CASE WHEN element_at(a, i) <= element_at(a, j)
          |           THEN element_at(a, j) ELSE element_at(a, i) END))))
          |""".stripMargin)).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val uni = lowerToks(s, dir).groupBy("term")
      .agg(count(lit(1)).as("n"))
    val totals = pairs.agg(sum("c").as("pp"))
      .crossJoin(uni.agg(sum("n").as("nn")))
    pairs.filter(col("c") >= 10)
      .join(uni.select(col("term").as("x"), col("n").as("nx")), Seq("x"))
      .join(uni.select(col("term").as("y"), col("n").as("ny")), Seq("y"))
      .crossJoin(broadcast(totals))
      .select(col("x"), col("y"), col("c").as("n_pair"),
        M.oracleRound(log(
          (col("c").cast("double") * col("nn") * col("nn")) /
            (col("pp").cast("double") * col("nx") * col("ny"))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("x"), col("y"))
      .limit(20)
  }

  // q329: decision-stump split finder — the one-node CART that turns a
  // numeric quality signal (n_chars) into a labeling rule for a class
  // target (lang = 'en'): 15 evenly spaced integer thresholds between
  // min and max, each scored by weighted Gini impurity. The candidate
  // frame is 15 rows (broadcast); the corpus is read ONCE and every
  // candidate's four counts come out of one map+keyed-aggregate pass
  // (15 conditional sums per row — map-side combine makes this a
  // constant-width partial aggregate at any scale, the histogram trick
  // real tree learners use). Gini stays exact-integer in the
  // numerators — num = n²−pos²−neg² per side — with one double
  // division per side, written identically in the oracle.
  def stumpSplit(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val cands = d.agg(min("n_chars").as("mn"), max("n_chars").as("mx"))
      .select(explode(sequence(lit(1), lit(15))).as("k"),
        col("mn"), col("mx"))
      .select(col("k"),
        (col("mn") + floor(
          (col("k") * (col("mx") - col("mn"))).cast("double") / 16))
          .cast("long").as("t"))
    val agg = d.crossJoin(broadcast(cands))
      .groupBy("k", "t")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"),
        sum(when(col("n_chars") <= col("t"), 1L).otherwise(0L)).as("n_l"),
        sum(when(col("n_chars") <= col("t"), col("y")).otherwise(0L))
          .as("pos_l"))
      .withColumn("n_r", col("n") - col("n_l"))
      .withColumn("pos_r", col("pos") - col("pos_l"))
      .filter(col("n_l") > 0 && col("n_r") > 0)
      .withColumn("gini", M.oracleRound(
        (col("n_l") * col("n_l") - col("pos_l") * col("pos_l") -
          (col("n_l") - col("pos_l")) * (col("n_l") - col("pos_l")))
          .cast("double") / (col("n") * col("n_l")).cast("double") +
        (col("n_r") * col("n_r") - col("pos_r") * col("pos_r") -
          (col("n_r") - col("pos_r")) * (col("n_r") - col("pos_r")))
          .cast("double") / (col("n") * col("n_r")).cast("double"), 4))
      .localCheckpoint() // 15 rows; read twice below (min + flag)
    agg.crossJoin(broadcast(agg.agg(min("gini").as("gmin"))))
      .select(col("k"), col("t").as("threshold"),
        col("n_l").as("n_left"), col("pos_l").as("pos_left"),
        col("n_r").as("n_right"), col("pos_r").as("pos_right"),
        col("gini"),
        when(col("gini") === col("gmin"), 1).otherwise(0).as("is_best"))
      .orderBy("k")
  }

  // q333: pairwise language vocabulary overlap — the Jaccard of the
  // per-language token SETS, the signal that explains q317's langid
  // confusion matrix (languages misclassified into each other are
  // exactly the ones sharing function words: es/pt both own 'de',
  // 'que'...). One distinct (lang,term) aggregate off the shared
  // token stage; the pair frame is |vocab| joined to itself on term
  // with la < lb — keyed by term, candidates only, never lang×lang×
  // vocab. Union size by inclusion-exclusion keeps it one pass.
  def langVocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val tc = tokenArrays(s, dir)
      .select(col("lang"), explode(col("a")).as("term"))
      .distinct()
      .localCheckpoint()
    val sizes = tc.groupBy("lang").agg(count(lit(1)).as("sz"))
    val inter = tc.select(col("lang").as("la"), col("term"))
      .join(tc.select(col("lang").as("lb"), col("term")), Seq("term"))
      .filter(col("la") < col("lb"))
      .groupBy("la", "lb").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("lang").as("la"), col("sz").as("sa")), Seq("la"))
      .join(sizes.select(col("lang").as("lb"), col("sz").as("sb")), Seq("lb"))
      .select(col("la"), col("lb"), col("sa"), col("sb"), col("n_inter"),
        (col("sa") + col("sb") - col("n_inter")).as("n_union"),
        M.oracleRound(col("n_inter").cast("double") /
          (col("sa") + col("sb") - col("n_inter")).cast("double"), 4)
          .as("jaccard"))
      .orderBy("la", "lb")
  }

  // q334: exact 1-D Wasserstein-1 (earth-mover) distance between the
  // per-language document-length distributions — the transport-cost
  // drift metric that sees HOW FAR mass moved where KS (q222) sees
  // only the worst single gap and PSI (q233) only bin shares:
  // W1 = Σ_v |F_a(v) − F_b(v)|·Δv over the merged support. Exact
  // integers all the way: |cumA·n_b − cumB·n_a|·gap summed, ONE
  // double division by n_a·n_b at the end. The support grid (distinct
  // n_chars × 5 langs) is values-sized, so the per-lang cum windows
  // run on a tiny frame by contract; the only corpus-sized step is
  // the first (lang, n_chars) count.
  def wassersteinLengths(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy(col("lang"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val vals = counts.select("v").distinct()
    val langs = counts.select("lang").distinct()
    val grid = vals.crossJoin(langs)
      .join(counts, Seq("lang", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy("v")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("gap", coalesce(lead(col("v"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy("v")) - col("v"), lit(0L)))
      .localCheckpoint() // support-grid-sized; read twice in the pair join
    val totals = grid.groupBy("lang").agg(max("cum").as("n"))
    val a = grid.join(totals, Seq("lang"))
      .select(col("lang").as("la"), col("v"), col("cum").as("ca"),
        col("n").as("na"), col("gap"))
    val b = grid.join(totals, Seq("lang"))
      .select(col("lang").as("lb"), col("v"), col("cum").as("cb"),
        col("n").as("nb"))
    a.join(b, Seq("v")).filter(col("la") < col("lb"))
      .groupBy("la", "lb")
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        sum(abs(col("ca") * col("nb") - col("cb") * col("na")) * col("gap"))
          .as("num"))
      .select(col("la"), col("lb"), col("n_a"), col("n_b"),
        M.oracleRound(col("num").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 4).as("w1_chars"))
      .orderBy("la", "lb")
  }

  // q336: Burrows' Delta — the stylometry distance used for authorship
  // attribution and style-contamination forensics: take the top-30
  // corpus terms (the function-word band), z-score each term's
  // RELATIVE frequency across sources, and Delta(a,b) = mean |z_a −
  // z_b| over the terms. A near-zero Delta between two "different"
  // sources is the scraped-the-same-site tell that content dedup
  // (q23/q30) misses when the texts differ but the style fingerprint
  // doesn't. Per-term relative frequencies are 8-dp-pinned BEFORE the
  // mean/std so both engines z-score identical doubles; terms with
  // zero cross-source variance drop (z undefined). The frame after
  // the one corpus-sized (source,term) count is top30 × sources.
  def burrowsDelta(s: SparkSession, dir: String): DataFrame = {
    val tok = tokenArrays(s, dir)
      .select(col("source"), explode(col("a")).as("term"))
    val counts = tok.groupBy("source", "term").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val totals = counts.groupBy("source").agg(sum("c").as("n_s"))
    val top = counts.groupBy("term").agg(sum("c").as("ct"))
      .orderBy(col("ct").desc, col("term")).limit(30)
      .select("term")
    val freqs = counts.join(broadcast(top), Seq("term"))
      .join(totals, Seq("source"))
      .select(col("term"), col("source"),
        M.oracleRound(col("c").cast("double") /
          col("n_s").cast("double"), 8).as("f"))
    // every (term, source) cell must exist: a source missing a top
    // term is f = 0, not a missing row (else means/stds skew)
    val grid = top.crossJoin(totals.select("source"))
      .join(freqs, Seq("term", "source"), "left")
      .withColumn("f", coalesce(col("f"), lit(0.0)))
    // mean/std from exact fixed-point moments (the q431 convention):
    // the 8-dp-pinned f values sum as DECIMAL, f² terms are re-pinned
    // to 14 dp first — round 12 caught this query flipping a delta's
    // 4th decimal run-to-run because avg/stddev_samp/sum are unordered
    // float reductions whose partial-aggregation order is
    // nondeterministic; every reduction below is now order-free
    val stats = grid.groupBy("term")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("f").cast("decimal(20,8)")).cast("double").as("s1"),
        sum(M.oracleRound(col("f") * col("f"), 14).cast("decimal(30,14)"))
          .cast("double").as("s2"))
      .select(col("term"),
        M.oracleRound(col("s1") / col("n"), 8).as("mu"),
        M.oracleRound(sqrt(greatest(
          (col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1), lit(0.0))), 8).as("sd"))
      .filter(col("sd") > 0)
    val z = grid.join(broadcast(stats), Seq("term"))
      .select(col("term"), col("source"),
        ((col("f") - col("mu")) / col("sd")).as("z"))
    z.select(col("term"), col("source").as("sa"), col("z").as("za"))
      .join(z.select(col("term"), col("source").as("sb"),
        col("z").as("zb")), Seq("term"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_terms"),
        M.oracleRound(
          sum(M.oracleRound(abs(col("za") - col("zb")), 8)
            .cast("decimal(20,8)")).cast("double") / count(lit(1)), 4)
          .as("delta"))
      .orderBy("sa", "sb")
  }

  // q340: ROUGE-2 over the verified near-dup pairs — the summarization
  // -eval overlap metric repurposed as a dedup POST-audit: the q30
  // pair set says "Jaccard ≥ 0.7 on 3-shingles"; this reports what
  // that means in bigram precision/recall/F per pair, the number a
  // curation reviewer can read. Rides the shared LSH pair stage (the
  // pair frame is near-dups-sized, tiny) and joins each side's
  // distinct-bigram set built in one array expression — the only
  // corpus-sized work is the bigram projection, keyed by the pair
  // ids. Tokenization matches the shingle stage (trim, \s+, NO
  // lowercase) so the metric audits exactly the pairs the dedup saw.
  def rouge2Pairs(s: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(s, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), expr(
        """array_distinct(transform(sequence(1, size(t) - 1),
          |  i -> concat(element_at(t, i), ' ', element_at(t, i + 1))))
          |""".stripMargin).as("b"))
    val pairs = nearDupPairs(s, dir).select("id_a", "id_b")
    pairs
      .join(bi.select(col("doc_id").as("id_a"), col("b").as("ba")),
        Seq("id_a"))
      .join(bi.select(col("doc_id").as("id_b"), col("b").as("bb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(col("ba")).cast("long").as("n_bi_a"),
        size(col("bb")).cast("long").as("n_bi_b"),
        size(array_intersect(col("ba"), col("bb"))).cast("long")
          .as("n_overlap"))
      .select(col("id_a"), col("id_b"), col("n_bi_a"), col("n_bi_b"),
        col("n_overlap"),
        M.oracleRound(col("n_overlap").cast("double") /
          col("n_bi_a").cast("double"), 4).as("rouge2_p"),
        M.oracleRound(col("n_overlap").cast("double") /
          col("n_bi_b").cast("double"), 4).as("rouge2_r"),
        M.oracleRound(lit(2.0) * col("n_overlap").cast("double") /
          (col("n_bi_a") + col("n_bi_b")).cast("double"), 4)
          .as("rouge2_f"))
      .orderBy("id_a", "id_b")
  }

  // q347: word2vec subsampling table — Mikolov's keep probability
  // p = min(1, (√(f/t)+1)·t/f) at t = 10⁻³ for the top-50 corpus
  // terms: the discard schedule that downweights function words
  // before embedding training, stated next to the frequencies it is
  // computed from (q62 ranks the same head; this adds the training-
  // time consequence). Rides the shared token stage; one keyed count
  // + a 50-row head. Frequencies 8-dp-pinned before the closed form
  // so both engines transform identical doubles.
  def subsampleProbs(s: SparkSession, dir: String): DataFrame = {
    val t = 1e-3
    val counts = lowerToks(s, dir).groupBy("term")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val total = counts.agg(sum("c").as("nn"))
    counts.crossJoin(broadcast(total))
      .orderBy(col("c").desc, col("term")).limit(50)
      .withColumn("f", M.oracleRound(
        col("c").cast("double") / col("nn").cast("double"), 8))
      .select(col("term"), col("c").as("n_term"), col("f"),
        M.oracleRound(least(lit(1.0),
          (sqrt(col("f") / t) + 1.0) * (lit(t) / col("f"))), 4)
          .as("p_keep"))
      .orderBy(col("n_term").desc, col("term"))
  }

  // q348: Krippendorff's alpha (nominal, two raters: the lang label vs
  // the q26 classifier) — the reliability coefficient that remains
  // comparable when q322's kappa does not (alpha generalizes across
  // rater counts/metrics and corrects for small samples via the
  // 2n(2n−1) pairing). Coincidence-matrix formulation computed
  // entirely from the K² confusion cells: o_vw = c(v,w)+c(w,v),
  // value marginals n_v, D_o = Σ_{v≠w} o_vw / 2n,
  // D_e = Σ_{v≠w} n_v·n_w / (2n(2n−1)) — exact integer numerators,
  // one division each, alpha = 1 − D_o/D_e. One classify pass + one
  // keyed aggregate; all else is micro-frame.
  def krippAlpha(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .select(col("lang"), T.langId(col("text")).as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val n = cells.agg(sum("n").as("n_units"))
    val offDiag = cells.filter(col("lang") =!= col("pred"))
      .agg(coalesce(sum("n"), lit(0L)).as("disagree"))
    val marg = cells.select(col("lang").as("v"), col("n"))
      .unionAll(cells.select(col("pred").as("v"), col("n")))
      .groupBy("v").agg(sum("n").as("n_v"))
    val sq = marg.agg(sum(col("n_v") * col("n_v")).as("s2"),
      sum(col("n_v")).as("s1"))
    n.crossJoin(broadcast(offDiag)).crossJoin(broadcast(sq))
      .select(col("n_units"),
        col("disagree").as("n_disagree"),
        // D_o = 2*disagree/(2n) = disagree/n (each disagreeing unit
        // contributes o_vw + o_wv = 2 of the 2n pairable values)
        M.oracleRound(col("disagree").cast("double") / col("n_units"), 4)
          .as("d_obs"),
        // Σ_{v≠w} n_v n_w = s1² − s2, over 2n(2n−1)
        M.oracleRound((col("s1") * col("s1") - col("s2")).cast("double") /
          (col("s1") * (col("s1") - 1)).cast("double"), 4).as("d_exp"),
        M.oracleRound(lit(1.0) -
          (col("disagree").cast("double") / col("n_units")) /
            ((col("s1") * col("s1") - col("s2")).cast("double") /
              (col("s1") * (col("s1") - 1)).cast("double")), 4)
          .as("alpha"))
  }

  // q349: "fightin' words" — Monroe/Colaresi/Quinn log-odds with an
  // informative Dirichlet prior between two confusable subcorpora
  // (es vs fr, the Romance pair in this corpus's label set):
  // per term, δ = ln-odds difference with prior α_w = α₀·p_w (α₀ =
  // 100, p_w the corpus share), z = δ/√(1/(y₁+α) + 1/(y₂+α)). The
  // principled replacement for raw TF-IDF contrast when one side is
  // smaller — the prior shrinks rare-term z toward 0. Top-20 by
  // pinned |z| with term tiebreak; everything from exact integer
  // counts through one identically-written double expression.
  def fightinWords(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenArrays(s, dir)
      .filter(col("lang").isin("es", "fr"))
      .select(col("lang"), explode(col("a")).as("term"))
    val counts = toks.groupBy("term")
      .agg(sum(when(col("lang") === "es", 1L).otherwise(0L)).as("y1"),
        sum(when(col("lang") === "fr", 1L).otherwise(0L)).as("y2"))
      .localCheckpoint()
    val tot = counts.agg(sum("y1").as("n1"), sum("y2").as("n2"))
    val a0 = 100.0
    val withTot = counts.crossJoin(broadcast(tot))
      .withColumn("aw", M.oracleRound(
        lit(a0) * (col("y1") + col("y2")).cast("double") /
          (col("n1") + col("n2")).cast("double"), 8))
    val d = (log((col("y1") + col("aw")) /
        (col("n1") + lit(a0) - col("y1") - col("aw"))) -
      log((col("y2") + col("aw")) /
        (col("n2") + lit(a0) - col("y2") - col("aw"))))
    val v = lit(1.0) / (col("y1") + col("aw")) +
      lit(1.0) / (col("y2") + col("aw"))
    withTot
      .select(col("term"), col("y1").as("n_es"), col("y2").as("n_fr"),
        M.oracleRound(d, 4).as("delta"),
        M.oracleRound(d / sqrt(v), 4).as("zeta"))
      .orderBy(abs(col("zeta")).desc, col("term"))
      .limit(20)
  }

  // q350: McNemar's paired test — does the q26 classifier beat the
  // majority-class baseline ON THE SAME documents? Unpaired accuracy
  // comparison wastes the pairing; McNemar uses only the discordant
  // counts b (model right, baseline wrong) and c (reverse):
  // χ² = (|b−c|−1)²/(b+c), continuity-corrected, 1 df, reject at
  // 3.841. The baseline (most frequent lang, ties alphabetical) is a
  // 1-row broadcast; one classify pass, one aggregate of two
  // conditional sums.
  def mcnemarTest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("lang"), T.langId(col("text")).as("pred"))
      .localCheckpoint()
    val majority = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("lang")).limit(1)
      .select(col("lang").as("base_pred"))
    val bc = docs.crossJoin(broadcast(majority))
      .agg(
        sum(when(col("pred") === col("lang") &&
          col("base_pred") =!= col("lang"), 1L).otherwise(0L)).as("b"),
        sum(when(col("pred") =!= col("lang") &&
          col("base_pred") === col("lang"), 1L).otherwise(0L)).as("c"),
        first(col("base_pred")).as("baseline"))
    bc.select(col("baseline"), col("b"), col("c"),
        M.oracleRound(
          ((abs(col("b") - col("c")) - 1) * (abs(col("b") - col("c")) - 1))
            .cast("double") / (col("b") + col("c")).cast("double"), 4)
          .as("chi2"),
        when(((abs(col("b") - col("c")) - 1) *
          (abs(col("b") - col("c")) - 1)).cast("double") /
          (col("b") + col("c")).cast("double") > 3.841, 1).otherwise(0)
          .as("significant"))
  }

  // q400: AVERAGE PRECISION of the IVF leg against the exact top-5 —
  // the rank-position-weighted retrieval metric beside recall (q106),
  // NDCG (q170), RBO (q208) and MRR (q271): AP charges the index for
  // finding the right neighbors LATE (precision@r summed at each hit
  // rank, divided by |relevant| = 5), and R-precision is precision at
  // the relevance cutoff. Each precision@r is an exact rational
  // pinned to 1e-6 fixed point BEFORE the per-query sum (the q170
  // convention — a 5-term double sum's fold order can differ between
  // engines; integer sums cannot). Rides the shared leg memos: zero
  // corpus scans beyond what q28/q53 already built.
  def avgPrecision(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy("rnk")
    val rel = cosineTopK(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__rel"))
    val scored = ivfTopK(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
      .join(rel, Seq("query_id", "neighbor_id"), "left")
      .withColumn("cumhits",
        sum(coalesce(col("__rel"), lit(0))).over(W).cast("long"))
      .withColumn("pq", floor(col("cumhits") * lit(1000000L) /
        col("rnk") + lit(0.5)).cast("long"))
    scored.groupBy("query_id").agg(
        count(col("__rel")).cast("int").as("n_hits"),
        M.oracleRound(coalesce(
          sum(when(col("__rel").isNotNull, col("pq"))), lit(0L))
          .cast("double") / 5e6, 4).as("avg_precision"),
        M.oracleRound(max(when(col("rnk") === 5, col("cumhits")))
          .cast("double") / 5.0, 4).as("r_precision"))
      .orderBy("query_id")
  }

  // q404: TextRank keyword extraction (Mihalcea & Tarau EMNLP'04) —
  // corpus-level keywords as PageRank over the word co-occurrence
  // graph: nodes are vocabulary terms with count >= 5, edges are
  // ADJACENT token pairs (window 1, both endpoints in vocab, self
  // loops dropped), symmetrized and deduplicated; 5 damped (0.85)
  // rounds of the SAME 6-dp-pinned pagerank the q73 gate runs, so the
  // whole extraction — tokenize, vocab cut, bigram edges, fixpoint,
  // top-20 — unrolls into the oracle's chained CTEs. A composition
  // showcase: the tokenize stage is shared ([[tokenArrays]]), the
  // fixpoint is [[graft.graph.GraphOps.pageRank]] verbatim (including
  // its superseded-checkpoint freeing), only the edge construction is
  // new. Scale shape: bigram extraction is map-only off the token
  // arrays; the distinct-edge shuffle is the term-pair vocabulary,
  // not the corpus.
  def textrankKeywords(s: SparkSession, dir: String): DataFrame = {
    val vocab = lowerToks(s, dir).groupBy("term")
      .agg(count(lit(1)).as("__n")).filter(col("__n") >= 5)
      .select(col("term"))
    val bigrams = tokenArrays(s, dir)
      .filter(size(col("a")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(a) - 2), i -> " +
          "struct(a[i] AS w1, a[i+1] AS w2))")).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .filter(col("w1") =!= col("w2"))
      .join(vocab.withColumnRenamed("term", "w1"), Seq("w1"), "left_semi")
      .join(vocab.withColumnRenamed("term", "w2"), Seq("w2"), "left_semi")
      .select(col("w1"), col("w2"))
    val und = bigrams
      .union(bigrams.select(col("w2"), col("w1")))
      .distinct()
    val pr = graft.graph.GraphOps.pageRank(und, iters = 5,
      assumeDistinct = true)
    // top-20 via orderBy+limit (TakeOrderedAndProject — no
    // vocab-sized single-partition window); rank only the 20-row head
    val W = org.apache.spark.sql.expressions.Window
      .orderBy(col("pr").desc, col("node"))
    pr.orderBy(col("pr").desc, col("node")).limit(20)
      .withColumn("rnk", row_number().over(W))
      .select(col("node").as("term"), col("pr"),
        col("rnk").cast("int").as("rnk"))
      .orderBy("rnk")
  }

  // q403: MinHash ESTIMATOR-ERROR audit — the quality loop on the q29
  // signatures the LSH family trusts: for every verified J >= 0.3 pair
  // (the shared q32/q127 stage), compare the 64-hash estimate
  // Ĵ = |{i : mh_a[i] = mh_b[i]}| / 64 against the exact Jaccard. The
  // audit table IS the published estimator guarantee made visible:
  // E[Ĵ] = J with σ = √(J(1−J)/64) ≈ 0.06 at J = 0.5 — a drifting
  // hash family or a banding bug shows up as bias here before it
  // costs recall downstream. Rides the shared signature + verified-
  // pair stages: the query itself joins two KB-sized frames and
  // touches no corpus text.
  def minhashEstimatorAudit(s: SparkSession, dir: String): DataFrame = {
    val sigs = stages(s, dir)._2
    val pairs = jaccardPairs03(s, dir)
    pairs
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("__sa")),
        Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("__sb")),
        Seq("id_b"))
      .withColumn("matches", expr(
        "aggregate(zip_with(__sa, __sb, (x, y) -> " +
          "CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (a, v) -> a + v)"))
      .select(col("id_a"), col("id_b"),
        col("jaccard").as("j_exact"),
        col("matches"),
        M.oracleRound(col("matches").cast("double") / 64.0, 4).as("j_est"),
        M.oracleRound(abs(col("matches").cast("double") / 64.0 -
          col("jaccard")), 4).as("abs_err"))
      .orderBy("id_a", "id_b")
  }

  // q429: HERFINDAHL–HIRSCHMAN concentration of the corpus TOKEN
  // MIXTURE — the one-number "is one source dominating the training
  // mix?" audit beside the q402 apportionment and the mixture
  // planners: HHI = Σ share², share = source tokens / total. Computed
  // as the exact-integer ratio Σ toks² / T² (one double division at
  // the end, 6-dp pinned); n_effective = 1/HHI (the equivalent count
  // of equal-weight sources, 4-dp) rides as a constant column the q221
  // brier/ece way. One map-only token-count pass (the q402 aggregate),
  // then a sources-sized frame.
  def mixtureHhi(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(sum(graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long")).as("toks"))
    val g = src.agg(sum(col("toks")).as("T"),
      sum(col("toks") * col("toks")).as("S2"))
      .select(col("T"),
        M.oracleRound(col("S2").cast("double") /
          (col("T").cast("double") * col("T").cast("double")), 6).as("hhi"))
      .withColumn("n_effective", M.oracleRound(lit(1.0) / col("hhi"), 4))
    src.crossJoin(broadcast(g))
      .select(col("source"), col("toks"),
        M.oracleRound(col("toks").cast("double") / col("T").cast("double"),
          6).as("share"),
        col("hhi"), col("n_effective"))
      .orderBy("source")
  }

  // q413: Huffman CODE DESIGN over the corpus letter distribution —
  // the entropy-coding counterpart of the compressibility family
  // (q249 trigram ratio, q230 Bloom design, q346 bin design): exact
  // per-letter frequencies in ONE map-only corpus pass (26
  // `length − length(replace(...))` aggregates — no explode, no
  // shuffle beyond the single partial-agg), then the 25 Huffman
  // merges run on the collected 26-row frame (the q405/q408
  // bounded-driver-work convention). Merge tie-break is (freq, id)
  // with node ids 0–25 = letters, 26.. = merge order, so the tree is
  // fully deterministic and the oracle unrolls the same 25 merges as
  // chained CTEs (a pick/nodes/membership triple per merge — depth of
  // a leaf = how many times its cluster was merged = its code
  // length). Kraft-exactness and optimality vs an independent
  // priority-queue build are spec-pinned (Wave45Spec).
  def huffmanLengths(s: SparkSession, dir: String): DataFrame = {
    val letters = ('a' to 'z').toVector
    val aggs = letters.map(ch =>
      sum(length(col("text")) -
        length(expr(s"replace(text, '$ch', '')"))).cast("long")
        .as(ch.toString))
    val row = Tables.documents(s, dir).agg(aggs.head, aggs.tail: _*)
      .collect()(0)
    val freqs = letters.indices
      .map(i => (i.toLong, letters(i).toString, row.getLong(i)))
    // 25 deterministic merges over (freq, id)-ordered live nodes
    var nodes = freqs.map { case (id, _, f) => (id, f) }.toVector
    val cluster = scala.collection.mutable.Map(
      freqs.map { case (id, _, _) => id -> id }: _*)
    val depth = scala.collection.mutable.Map(
      freqs.map { case (id, _, _) => id -> 0 }: _*)
    var nextId = letters.length.toLong
    while (nodes.length > 1) {
      val sorted = nodes.sortBy { case (id, f) => (f, id) }
      val Vector((x, fx), (y, fy)) = sorted.take(2)
      for (sym <- depth.keys)
        if (cluster(sym) == x || cluster(sym) == y) {
          depth(sym) += 1; cluster(sym) = nextId
        }
      nodes = sorted.drop(2) :+ ((nextId, fx + fy))
      nextId += 1
    }
    val out = freqs.map { case (id, sym, f) => (sym, f, depth(id)) }
    import s.implicits._
    out.toDF("symbol", "freq", "code_len")
      .select(col("symbol"), col("freq"), col("code_len").cast("int"))
      .orderBy("symbol")
  }

  /** q430's shard-file stage — WebDataset PAIRED-member tar shards:
    * every doc contributes `<doc_id>.txt` (the text payload) and,
    * when `doc_id % 7 != 0`, a `<doc_id>.cls` class-label member (the
    * lang column) — one in seven samples is deliberately incomplete,
    * the real-world condition a pairing stage must surface. Members
    * are name-sorted, so a sample's members are ADJACENT in the shard
    * (the WebDataset sequential-read contract). Same executor-side
    * writer + shared-filesystem caveat as [[tarShardDir]]. */
  private val wdsShardDir = StageMemo.stage("wds_shards") { (s, dir) =>
    val base = StageMemo.tempDir("graft_wds_").toString
    val docs = Tables.documents(s, dir)
    val txt = docs.select(col("doc_id"),
      concat(col("doc_id").cast("string"), lit(".txt")).as("name"),
      col("text").as("payload"))
    // lang.isNotNull: a NULL payload would NPE inside TarBytes.build's
    // generated code and fail the whole stage — a NULL-lang doc simply
    // ships without its .cls member (the completeness audit then counts
    // it as an honest incomplete sample)
    val cls = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0 &&
        col("lang").isNotNull)
      .select(col("doc_id"),
        concat(col("doc_id").cast("string"), lit(".cls")).as("name"),
        col("lang").as("payload"))
    txt.union(cls)
      .select((col("doc_id") / 50).cast("long").as("shard"),
        struct(col("name"), col("payload")).as("m"))
      .groupBy("shard")
      .agg(sort_array(collect_list(col("m"))).as("members"))
      .select(col("shard"), Multimodal.tarBytesNamed(col("members")).as("t"))
      .foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(base,
                f"shard-${r.getLong(0)}%05d.tar"),
              r.getAs[Array[Byte]](1))
          }
      }
    base
  }

  // q430: WebDataset paired-sample assembly — the training-loader's
  // first move over a multimodal lake: read tar shards through the
  // DataSourceV2 scan, group members by key stem, and emit one row
  // per SAMPLE with completeness flags (has_txt/has_cls/complete),
  // the text member's byte size, and the class payload. One in seven
  // samples ships without its .cls member (the stage plants them),
  // so the completeness audit has real negatives. Scale shape: the
  // pairing is a groupBy on the key stem — at 100 TB that shuffle
  // disappears when the loader relies on the shard-internal
  // name-adjacency this stage writes (members of a sample are
  // adjacent, so a per-shard mapPartitions pairs without shuffle);
  // the groupBy form here is the general case that also repairs
  // shards where adjacency is NOT guaranteed. Oracle: names, sizes,
  // and labels are pure functions of the documents table.
  def wdsPairs(s: SparkSession, dir: String): DataFrame = {
    val stage = wdsShardDir(s, dir)
    val members = s.read.format("graft-tar").load(stage)
      .select(col("name"), col("size"), col("text"))
      .withColumn("key",
        split(col("name"), "\\.").getItem(0).cast("long"))
      .withColumn("ext", split(col("name"), "\\.").getItem(1))
    members.groupBy(col("key").as("doc_id"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("ext") === "txt", 1L)).isNotNull.as("has_txt"),
        max(when(col("ext") === "cls", 1L)).isNotNull.as("has_cls"),
        max(when(col("ext") === "txt", col("size"))).as("txt_size"),
        max(when(col("ext") === "cls", col("text"))).as("cls_label"))
      .withColumn("complete", col("has_txt") && col("has_cls"))
      .orderBy("doc_id")
  }

  // q432: near-dup-graph canonicalization by large-star/small-star
  // contraction ([[graft.graph.GraphOps.connectedComponentsStar]]) —
  // the O(log² n)-round connected components that makes million-member
  // dup chains tractable at 100 TB (min-propagation pays one shuffle
  // round PER HOP of component diameter; star contraction collapses a
  // path in logarithmic rounds). The gate graph is deliberately
  // path-shaped: chain edges (i, i+1) gated by an md5 bucket, giving
  // hundreds of variable-length chains — the exact topology
  // min-propagation handles worst. Isolated docs stay their own
  // component. Oracle: recursive-CTE reachability (component = min
  // reachable id), the q49 convention.
  def ccStarChains(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(s, dir).select(col("doc_id"))
    val gated = ids
      .filter(CorpusOps.hashBucket(col("doc_id"), "ccstar", 4) =!= 0)
      .select(col("doc_id").as("src"))
    val edges = gated.join(ids.select(col("doc_id").as("dst")),
        col("dst") === col("src") + 1)
      .select(col("src"), col("dst"))
    val labels = graft.graph.GraphOps.connectedComponentsStar(edges)
    ids.join(labels, ids("doc_id") === labels("node"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp_id"))
      .orderBy("doc_id")
  }

  // q433: DPO/RLHF preference-pair construction — per source domain,
  // pair the k-th best document with the k-th worst by the q25/q60
  // rounded quality score (k ≤ 3 and k ≤ ⌊n/2⌋, so chosen ≠ rejected
  // by construction), keep pairs whose quality margin clears 0.05.
  // Deterministic tie-breaks: best ranks (quality desc, doc_id asc),
  // worst ranks (quality asc, doc_id desc) — mirrored, so a fully
  // tied group pairs its extremes, not one doc with itself. Scale
  // shape: two rank windows over the same domain-keyed shuffle, then
  // a tiny equi-join on (source, rank) — the 100 TB cost is one
  // shuffle of the scored corpus, and the scores ride the scan.
  def dpoPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        T.qualityScore(col("text")).as("q"))
    val hi = scored.withColumn("k", row_number().over(
        Window.partitionBy("source").orderBy(col("q").desc, col("doc_id"))))
      .select(col("source"), col("k"), col("doc_id").as("chosen_id"),
        col("q").as("chosen_q"))
    val lo = scored.withColumn("k", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("q").asc, col("doc_id").desc)))
      .select(col("source").as("__src2"), col("k").as("__k2"),
        col("doc_id").as("rejected_id"), col("q").as("rejected_q"))
    val n = scored.groupBy("source").agg(count(lit(1)).as("n_docs"))
    hi.join(lo, col("source") === col("__src2") && col("k") === col("__k2"))
      .join(n, "source")
      .filter(col("k") <= 3 && col("k") * 2 <= col("n_docs"))
      .withColumn("margin",
        M.oracleRound(col("chosen_q") - col("rejected_q"), 4))
      .filter(col("margin") >= 0.05)
      .select(col("source"), col("k").as("pair_rank"),
        col("chosen_id"), col("rejected_id"),
        col("chosen_q"), col("rejected_q"), col("margin"))
      .orderBy("source", "pair_rank")
  }

  // q441: dedup survivorship report card — the per-cluster accounting
  // a curation run publishes: for every near-dup component of size ≥ 2
  // (the shared q49 components over J ≥ 0.7 pairs), the canonical
  // survivor (= component min, the q55 keep rule), member count, total
  // text bytes, bytes kept, and bytes the dedup saves. Rides the shared
  // pair + component stages; the only new work is one join to the
  // documents byte lengths and a component-keyed aggregate.
  def dedupSurvivorship(s: SparkSession, dir: String): DataFrame = {
    val sizes = Tables.documents(s, dir)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("b"))
    dupComponents(s, dir)
      .select(col("node").as("doc_id"), col("comp"))
      .join(sizes, "doc_id")
      .groupBy(col("comp").as("group_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("b")).as("bytes_total"),
        sum(when(col("doc_id") === col("comp"), col("b"))
          .otherwise(0L)).as("bytes_kept"))
      .filter(col("n_docs") >= 2)
      .withColumn("bytes_saved", col("bytes_total") - col("bytes_kept"))
      .orderBy(col("n_docs").desc, col("group_id"))
  }

  // q442: does near-dup LOSS correlate with quality? The point-biserial
  // correlation between the q55 loser flag (non-canonical member of a
  // near-dup component) and the q25 rounded quality score:
  // r_pb = (μ_loser − μ_keeper)/σ · √(p(1−p)). If duplicates were
  // quality-neutral r ≈ 0; a strongly negative r says dedup is also
  // silently dropping the better copies — the curation-bias audit a
  // keep-the-min-id rule owes its users. All moments are exact
  // rounded-term DECIMAL sums over the corpus (the q336 discipline);
  // σ uses the population form (the point-biserial convention).
  def dupQualityBias(s: SparkSession, dir: String): DataFrame = {
    val losers = dupComponents(s, dir)
      .filter(col("node") =!= col("comp"))
      .select(col("node").as("doc_id"))
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), T.qualityScore(col("text")).as("q"))
      .join(losers.withColumn("__l", lit(1L)), Seq("doc_id"), "left")
      .withColumn("is_loser", col("__l").isNotNull)
    val m = scored.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("is_loser"), 1L).otherwise(0L)).as("n_losers"),
      sum(col("q").cast("decimal(20,4)")).cast("double").as("s1"),
      sum(M.oracleRound(col("q") * col("q"), 8).cast("decimal(24,8)"))
        .cast("double").as("s2"),
      sum(when(col("is_loser"), col("q").cast("decimal(20,4)"))
        .otherwise(lit(0).cast("decimal(20,4)"))).cast("double").as("sl"))
    m.select(col("n_docs"), col("n_losers"),
        (col("n_losers").cast("double") / col("n_docs")).as("p"),
        (col("sl") / col("n_losers")).as("mu_l"),
        ((col("s1") - col("sl")) /
          (col("n_docs") - col("n_losers"))).as("mu_k"),
        sqrt(greatest(col("s2") / col("n_docs") -
          (col("s1") / col("n_docs")) * (col("s1") / col("n_docs")),
          lit(0.0))).as("sd"))
      .select(col("n_docs"), col("n_losers"),
        M.oracleRound(col("mu_l"), 4).as("mean_q_loser"),
        M.oracleRound(col("mu_k"), 4).as("mean_q_keeper"),
        M.oracleRound((col("mu_l") - col("mu_k")) / col("sd") *
          sqrt(col("p") * (lit(1.0) - col("p"))), 4).as("r_pb"))
  }

  // q435: training-batch leakage audit — contrastive/in-batch-negative
  // training silently degrades when near-duplicate documents land in
  // the SAME batch (the "false negative" pair). Batches are
  // hash-assigned (expected size B — the only assignment that stays
  // map-only at 100 TB; exact-size batching needs a corpus-wide order,
  // the anti-pattern this engine avoids), and the audit counts
  // verified near-dup pairs (the shared q49 J ≥ 0.7 pair stage) that
  // collide in one batch, against the 1/n_batches collision rate an
  // independent assignment would give. Three target sizes in one pass.
  def batchLeakage(s: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.documents(s, dir).count()
    val pairs = nearDupPairs(s, dir).select(col("id_a"), col("id_b"))
    val perSize = Seq(16, 64, 256).map { bsz =>
      val nb = ((nDocs + bsz - 1) / bsz).toInt
      val salt = s"batch$bsz"
      pairs
        .withColumn("leaked",
          (CorpusOps.hashBucket(col("id_a"), salt, nb) ===
            CorpusOps.hashBucket(col("id_b"), salt, nb)).cast("long"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("leaked")).as("n_leaked"))
        .select(lit(bsz).as("batch_size"), lit(nb.toLong).as("n_batches"),
          col("n_pairs"), col("n_leaked"))
    }
    perSize.reduce(_.unionAll(_))
      .withColumn("leak_rate",
        when(col("n_pairs") === 0, lit(null).cast("double"))
          .otherwise(M.oracleRound(
            col("n_leaked").cast("double") / col("n_pairs"), 6)))
      .withColumn("expected_rate",
        M.oracleRound(lit(1.0) / col("n_batches"), 6))
      .orderBy("batch_size")
  }

  // q436: INCREMENTAL connected components — the production shape of
  // q432: yesterday's labels are already materialized, today only new
  // edges arrive. Old components contract to supernodes (each new
  // edge's endpoints map through the old labels), star contraction
  // runs on that contracted graph only — work scales with the NEW
  // edge volume plus touched components, never the full history —
  // and the final label composes node → old root → merged root.
  // Composition is exact because labels are component MINIMA: the
  // merged root is the min over supernode ids, which is the min over
  // all member ids. Gate: the incremental result must equal the full
  // recompute — the oracle is q432's recursive CTE verbatim.
  def ccIncremental(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables.documents(s, dir).select(col("doc_id"))
    val gated = ids
      .filter(CorpusOps.hashBucket(col("doc_id"), "ccstar", 4) =!= 0)
      .select(col("doc_id").as("src"))
    val edges = gated.join(ids.select(col("doc_id").as("dst")),
        col("dst") === col("src") + 1)
      .select(col("src"), col("dst"))
    val isOld = CorpusOps.hashBucket(col("src"), "ccinc", 2) === 0
    val l1 = graft.graph.GraphOps
      .connectedComponentsStar(edges.filter(isOld))
      .localCheckpoint()
    val mapped = edges.filter(!isOld)
      .join(l1.select(col("node").as("src"), col("comp").as("__ca")),
        Seq("src"), "left")
      .join(l1.select(col("node").as("dst"), col("comp").as("__cb")),
        Seq("dst"), "left")
      .select(coalesce(col("__ca"), col("src")).as("a"),
        coalesce(col("__cb"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
    val l2 = graft.graph.GraphOps.connectedComponentsStar(mapped)
    ids
      .join(l1.select(col("node").as("doc_id"), col("comp").as("__c1")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__c1"), col("doc_id")).as("mid"))
      .join(l2.select(col("node").as("mid"), col("comp").as("__c2")),
        Seq("mid"), "left")
      .select(col("doc_id"),
        coalesce(col("__c2"), col("mid")).as("comp_id"))
      .orderBy("doc_id")
  }

  // q437: Heaps'-law fit — vocabulary growth V ≈ k·N^β across the
  // corpus's source domains, the classic sublinear law (β ≈ 0.4-0.6
  // for natural text) that sizes tokenizer vocabularies and predicts
  // distinct-token volume at 100 TB from small-corpus points. Per
  // source: N = token occurrences, V = distinct tokens (two-stage
  // distinct — groupBy(source, token) then count — never a
  // corpus-wide countDistinct state). OLS on (ln N, ln V): the ln
  // terms are rounded to 6 dp and every moment is a DECIMAL term-sum
  // (the q431 convention), so the one unordered reduction is exact;
  // slope/intercept/r² come off those exact moments. Per-source
  // residuals use the ROUNDED published fit, so they are reproducible
  // from the table alone.
  def heapsFit(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
    val perTok = toks.groupBy("source", "tok")
      .agg(count(lit(1)).as("cnt"))
    val pts = perTok.groupBy("source")
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("vocab"))
      .withColumn("x", M.oracleRound(log(col("n_tokens")), 6))
      .withColumn("y", M.oracleRound(log(col("vocab")), 6))
      .localCheckpoint()
    val mom = pts.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x").cast("decimal(28,6)")).cast("double").as("sx"),
      sum(col("y").cast("decimal(28,6)")).cast("double").as("sy"),
      sum(M.oracleRound(col("x") * col("x"), 6).cast("decimal(28,6)"))
        .cast("double").as("sxx"),
      sum(M.oracleRound(col("x") * col("y"), 6).cast("decimal(28,6)"))
        .cast("double").as("sxy"),
      sum(M.oracleRound(col("y") * col("y"), 6).cast("decimal(28,6)"))
        .cast("double").as("syy"))
    val fit = mom.select(
      M.oracleRound((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("beta"),
      col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"), col("syy"))
      .select(col("beta"),
        M.oracleRound((col("sy") - col("beta") * col("sx")) / col("n"), 6)
          .as("ln_k"),
        M.oracleRound(
          ((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
    pts.crossJoin(broadcast(fit))
      .select(col("source"), col("n_tokens"), col("vocab"),
        col("beta"), col("ln_k"), col("r2"),
        M.oracleRound(col("y") - col("ln_k") - col("beta") * col("x"), 4)
          .as("ln_resid"))
      .orderBy("source")
  }

  // q434: T5/UL2 span-corruption budget plan — the objective-
  // construction arithmetic a denoising-pretraining pipeline runs per
  // document BEFORE tokenizing in anger: noise budget
  // ⌊0.15·n + 0.5⌋, span count ⌊noise/3 + 0.5⌋ (mean span 3, ≥1 when
  // any noise), encoder length n − noise + spans (one sentinel per
  // span), decoder length noise + spans + 1 (sentinels + EOS). All
  // integer arithmetic — `⌊x/y + 0.5⌋` computed as (2x+y)/(2y) in
  // integers, so the oracle is exact, no float thresholds. Map-only:
  // at 100 TB this is a free column on the scan feeding the packing
  // planner (q70/q99).
  def spanCorruption(s: SparkSession, dir: String): DataFrame = {
    val n = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
    Tables.documents(s, dir)
      .select(col("doc_id"), n.as("n_tokens"))
      .withColumn("n_noise", expr("(n_tokens * 3 + 10) div 20"))
      .withColumn("n_spans",
        when(col("n_noise") === 0, lit(0L))
          .otherwise(greatest(expr("(n_noise * 2 + 3) div 6"), lit(1L))))
      .withColumn("inputs_len",
        col("n_tokens") - col("n_noise") + col("n_spans"))
      .withColumn("targets_len",
        when(col("n_noise") === 0, lit(0L))
          .otherwise(col("n_noise") + col("n_spans") + 1))
      .withColumn("keep_ratio",
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(M.oracleRound(
            col("inputs_len").cast("double") / col("n_tokens"), 4)))
      .orderBy("doc_id")
  }
}
