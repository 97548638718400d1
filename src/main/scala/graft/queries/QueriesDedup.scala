package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Graft
import graft.functions.{Cleaning, Norm, StableHash, Text, Urls, Vectors}
import graft.metrics.StaffingMetrics
import graft.ops.{Dedup, Multimodal, Regression, Similarity, Sketches, TextAnalysis}
import graft.quality.DataQuality

/** Dedup slice of the SparkEntry corpus (see SparkEntry's scaladoc for the cross-engine
  * determinism rules every entry follows). Bodies moved verbatim from the
  * round-6 SparkEntry map literals; shared helpers live on SparkEntry
  * (private[graft]).
  */
private[graft] trait QueriesDedup { this: SparkEntry.type =>

  // ---- headline builders (see QueriesRelational: `rep` leads the keys)

  /** Exact dedup by content digest. */
  private[graft] def dedupExact(docs: DataFrame,
      rep: Seq[String] = Nil): DataFrame =
    Dedup.exact(docs, "text", "doc_id", rep).orderBy((rep :+ "digest").map(col): _*)

  /** MinHash signatures (first 4 hash slots surfaced as columns). Per
    * document, so replicas need only rep-disjoint doc ids.
    */
  private[graft] def dedupMinhash(docs: DataFrame): DataFrame =
    Dedup.minhashSignatures(docs, "text", "doc_id", numHashes = 4, shingleK = 3)
      .select(col("doc_id"),
        col("sig")(0).as("h0"), col("sig")(1).as("h1"),
        col("sig")(2).as("h2"), col("sig")(3).as("h3"))
      .orderBy("doc_id")

  /** Duplicated-passage detection (substring-level dedup): maximal token
    * spans whose every 5-gram window occurs >= 2 times corpus-wide — the
    * relational form of suffix-based span dedup (vs the doc-level dedup_*
    * family). Spans merge via gaps-and-islands per doc.
    */
  private[graft] def dedupPassages(docs: DataFrame,
      rep: Seq[String] = Nil): DataFrame =
    Dedup.duplicatedPassages(docs, "text", "doc_id", k = 5, keys = rep)
      .orderBy((rep ++ Seq("id", "span_start")).map(col): _*)

  /** SemDeDup semantic dedup (scaladoc at its corpus entry) over
    * centroids trained on the base embeddings.
    */
  private[graft] def dedupSemantic(embeddings: DataFrame,
      cents: Seq[(Int, Array[Double])], rep: Seq[String] = Nil): DataFrame =
    Dedup.semanticDedupWithCentroids(embeddings, cents, "vec_id", "embedding",
      threshold = 0.38, keys = rep)
      .orderBy((rep :+ "vec_id").map(col): _*)

  /** The 16 cells x 2 Lloyd rounds [[dedupSemantic]] prunes within. */
  private[graft] def semanticCentroids(embeddings: DataFrame): Seq[(Int, Array[Double])] =
    Similarity.trainedCentroids(embeddings, nCells = 16, iters = 2)

  protected def dedupQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- north-star extensions (BASELINE.json) ----------------------------

    "dedup_exact" -> ((s, d) => dedupExact(t(s, d, "documents"))),

    // The one-call fuzzy-dedup COMPOSITE (exact digests → MinHash-LSH
    // candidates → exact-Jaccard verify → connected components →
    // canonical keep-one): the pipeline a training-data run actually
    // calls, end-to-end against one oracle instead of stage-by-stage.
    // Exact copies (ids+100000) and near-copies (one appended token,
    // ids+200000) are PLANTED so both dedup branches fire; the
    // doc_id < 300 slice bounds the oracle's pair/closure work at a
    // constant regardless of SF (the ngram-pairs discipline).
    "dedup_fuzzy" -> ((s, d) => {
      val base = t(s, d, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val exactCopies = base.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val nearCopies = base.where(col("doc_id") >= 20 && col("doc_id") < 40)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" extrazz")).as("text"))
      Dedup.fuzzyDedup(
          base.unionByName(exactCopies).unionByName(nearCopies),
          "text", "doc_id",
          numHashes = 4, bands = 2, shingleK = 3, threshold = 0.5)
        .select("doc_id").orderBy("doc_id")
    }),

    // Per-stage audit of the fuzzy composite (same planted input as
    // dedup_fuzzy): input/survivor/candidate/verified/cluster/kept counts
    // in one row, so banding recall loss or an over-eager closure is
    // visible instead of silent. The oracle re-counts every CTE of the
    // dedup_fuzzy replay.
    "dedup_fuzzy_audit" -> ((s, d) => {
      val base = t(s, d, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val exactCopies = base.where(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val nearCopies = base.where(col("doc_id") >= 20 && col("doc_id") < 40)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" extrazz")).as("text"))
      Dedup.fuzzyDedupReport(
        base.unionByName(exactCopies).unionByName(nearCopies),
        "text", "doc_id",
        numHashes = 4, bands = 2, shingleK = 3, threshold = 0.5)
    }),

    // Recall-loss audit of the shared maxShingleDf rail (ngram Jaccard /
    // containment / threshold sweep): 30 PLANTED identical nonsense docs
    // push their 7 bigrams over the cap (df 30 > 20), so the audit must
    // report >= 7 dropped shingles, >= 210 dropped postings and >= 30
    // emptied docs — a planted cap-exceeding region, not a never-fires
    // default.
    "dedup_shingle_df_audit" -> ((s, d) => {
      val base = t(s, d, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val planted = s.range(30).select(
        (col("id") + 500000L).as("doc_id"),
        lit("zqa zqb zqc zqd zqe zqf zqg zqh").as("text"))
      Dedup.shingleDfAudit(base.unionByName(planted), "text", "doc_id",
        shingleK = 2, maxShingleDf = 20)
    }),

    // Recall-loss audit of duplicatedPassages' maxGramDf rail: 25 PLANTED
    // identical 7-token docs put their 3 positional 5-grams over the cap
    // (occ 25 > 20) — the audit counts the grams and windows the cap
    // suppresses from span marking.
    "dedup_passage_gram_audit" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = s.range(25).select(
        (col("id") + 600000L).as("doc_id"),
        lit("qqa qqb qqc qqd qqe qqf qqg").as("text"))
      Dedup.passageGramAudit(base.unionByName(planted), "text", "doc_id",
        k = 5, maxGramDf = 20)
    }),

    // Recall-loss audit of the SNM window bound: candidate pairs the
    // sort-order heuristic gives up per block (exact integer arithmetic
    // from block sizes). The natural source blocks dwarf window=3, so
    // n_pairs_skipped is large by construction; a planted 2-row block
    // exercises the n <= window branch.
    "dedup_snm_window_audit" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"), col("source"))
      val planted = s.range(2).select(
        (col("id") + 700000L).as("doc_id"), lit("zz_planted").as("source"))
      Dedup.snmWindowAudit(base.unionByName(planted), col("source"),
        window = 3)
    }),

    "dedup_minhash" -> ((s, d) => dedupMinhash(t(s, d, "documents"))),

    // LSH band tuning report: per band, multi-member bucket count, the
    // hottest bucket, candidate pairs Σ s(s−1)/2, and how many docs stay
    // singleton — the numbers that decide bands×rows before a 100 TB
    // dedup run. Exact integers off the same banded-bucket frame the
    // dedup path shuffles.
    "dedup_minhash_band_stats" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      // counts-only frame, UNCAPPED: the tuning report must see the true
      // hottest bucket, which the capped candidate frame by design drops.
      Dedup.minhashBucketCounts(docs, "text", "doc_id")
        .where(col("n_members") > 1)
        .groupBy("band")
        .agg(count(lit(1)).as("n_multi_buckets"),
          max("n_members").as("max_bucket"),
          sum(expr("n_members * (n_members - 1) DIV 2")).as("cand_pairs"),
          sum("n_members").as("docs_in_multi"))
        .crossJoin(broadcast(nd))
        .select(col("band"), col("n_multi_buckets"), col("max_bucket"),
          col("cand_pairs"),
          (col("n_docs") - col("docs_in_multi")).as("n_singletons"))
        .orderBy("band")
    }),

    // Group-level MinHash via the custom typed Aggregator: per-source
    // signature = element-wise min over member docs (partial+final agg;
    // only signatures cross the shuffle).
    "dedup_group_minhash" -> ((s, d) => {
      val sigs = Dedup.minhashSignatures(
        t(s, d, "documents"), "text", "doc_id", numHashes = 4, shingleK = 3)
      val withSource = sigs.join(
        broadcast(t(s, d, "documents").select("doc_id", "source")), Seq("doc_id"))
      withSource.groupBy("source")
        .agg(graft.ops.MinHashMerge.minhashMerge(4)(col("sig")).as("gsig"),
          count(lit(1)).as("n_docs"))
        .select(col("source"),
          col("gsig")(0).as("h0"), col("gsig")(1).as("h1"),
          col("gsig")(2).as("h2"), col("gsig")(3).as("h3"),
          col("n_docs"))
        .orderBy("source")
    }),

    // SimHash 16-bit fingerprints (spread: CPU-bound map over one file).
    "dedup_simhash" -> ((s, d) => Graft.spread(t(s, d, "documents"))
      .select(col("doc_id"), Dedup.simhash(col("text"), 16).as("simhash"))
      .orderBy("doc_id")),

    // SimHash Hamming-neighbor pairs via the Manku pigeonhole block
    // join (60-bit sig, 4 chunks of 15 — any pair at distance <= 3
    // shares a chunk exactly): candidates from (chunk, value) buckets,
    // exact xor-popcount verify, hot buckets capped. Exact duplicates
    // are PLANTED (docs 0..49 copied at id+100000) so distance-0 pairs
    // are guaranteed alongside any natural near-dups.
    "dedup_simhash_pairs" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = base.where(col("doc_id") < 50)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.simhashHammingPairs(
          Graft.spread(base.unionByName(planted)), "text", "doc_id",
          bits = 60, blocks = 4, maxHamming = 3, maxBucket = 1024)
        .orderBy("id_a", "id_b")
    }),

    // Hot-bucket recall-loss audit for the pigeonhole join: how many
    // chunk buckets the cap suppressed, and how many signature entries
    // they held — the signal that separates "clean corpus" from
    // "reduced recall" when the capped pair join comes back sparse.
    // Same planted-union corpus as dedup_simhash_pairs, deliberately
    // tight cap (8) so the drop path is exercised, not just compiled.
    "dedup_simhash_bucket_audit" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      val planted = base.where(col("doc_id") < 50)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.simhashBucketAudit(
        Graft.spread(base.unionByName(planted)), "text", "doc_id",
        bits = 60, blocks = 4, maxBucket = 8)
    }),

    // Hot-bucket recall-loss audit for the MinHash-LSH path (the simhash
    // audit's twin on the flagship dedup rail): 25 PLANTED identical
    // 9-token docs share one signature, putting one bucket PER BAND over
    // the deliberately tight cap (25 > 20) — the audit counts the
    // buckets, signature entries, and within-bucket pairs the cap
    // suppresses from candidate generation. doc_id < 300 bounds the
    // oracle's signature replay like the fuzzy chain.
    "dedup_minhash_bucket_audit" -> ((s, d) => {
      val base = t(s, d, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val planted = s.range(25).select(
        (col("id") + 800000L).as("doc_id"),
        lit("wqa wqb wqc wqd wqe wqf wqg wqh wqi").as("text"))
      Dedup.minhashBucketAudit(base.unionByName(planted), "text", "doc_id",
        numHashes = 4, bands = 2, shingleK = 3, maxBucket = 20)
    }),

    // Exact n-gram Jaccard pairs (relational formulation). The fixed-id
    // slice (doc_id < 300) bounds the VERIFY cost — exact all-pairs jaccard
    // within shared-shingle blocks grows quadratically with docs sharing a
    // frequent bigram, in DuckDB and Spark alike — at a constant 300 docs
    // regardless of sf (ids are dense, so sf scales row count, not the id
    // range). The operator itself is unbounded: its corpus-scale role is
    // exact verification of LSH-bucketed candidates (dedup_minhash /
    // fuzzyDedup), never corpus-wide all-pairs.
    // Shingle document-frequency histogram: the tuning report behind
    // every df-capped dedup rail — how many distinct 3-gram shingles
    // sit at df=1/2/3-10/11-100/>100, and how many postings each band
    // carries (where the self-join volume lives). Two hash aggregates.
    "dedup_shingle_df_hist" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .where(col("text").isNotNull && trim(col("text")) =!= "")
      val sh = Graft.spread(docs)
        .select(col("doc_id"),
          explode(graft.functions.Text.wordShingles(col("text"), 3)).as("sh"))
        .distinct()
      sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .select(when(col("df") === 1, "df=1")
          .when(col("df") === 2, "df=2")
          .when(col("df") <= 10, "df=3-10")
          .when(col("df") <= 100, "df=11-100")
          .otherwise("df>100").as("bucket"), col("df"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_shingles"), sum("df").as("n_postings"))
        .orderBy("bucket")
    }),

    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
        t(s, d, "documents").where(col("doc_id") < 300), "text", "doc_id",
        shingleK = 2, minJaccard = 0.05)
        .orderBy("id_a", "id_b")),

    // Asymmetric containment pairs — |A∩B|/|A| per direction — the
    // quote/boilerplate subsumption detector Jaccard misses when one
    // side dwarfs the other. Same single-computation shingle pipeline
    // and scale rails as dedup_ngram_jaccard.
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(
        t(s, d, "documents").where(col("doc_id") < 300), "text", "doc_id",
        shingleK = 2, minContainment = 0.4)
        .orderBy("id_a", "id_b")),

    // Threshold-calibration sweep for the near-dup cutoff: pair and doc
    // counts an exact-Jaccard pass would flag at each candidate
    // threshold, decided by the exact integer predicate
    // 100·inter >= t·union — the report a pipeline reads before
    // committing a dedup threshold.
    "dedup_threshold_sweep" -> ((s, d) =>
      Dedup.jaccardThresholdSweep(
        t(s, d, "documents").where(col("doc_id") < 300), "text", "doc_id",
        shingleK = 2, thresholdsPct = Seq(5L, 10L, 25L, 50L, 75L, 90L, 100L))
        .orderBy("t_pct")),

    // Prefix-filtered exact Jaccard join (AllPairs/PPJoin): rarest-first
    // canonical order, prefix-token candidates, length filter, exact
    // intersection count — complete by theorem, no banding probability.
    "dedup_prefix_jaccard" -> ((s, d) =>
      Dedup.prefixJaccardPairs(
        t(s, d, "documents").where(col("doc_id") < 300), "text", "doc_id",
        minJaccard = 0.8)
        .orderBy("id_a", "id_b")),

    // Near-dup decontamination: exact prefix-Jaccard pairs restricted to
    // cross-side (train = doc_id < 150, eval = rest of the <300 slice),
    // one report row per contaminated eval doc. The paraphrase-robust
    // complement to text_decontaminate's exact n-gram screen; exactness
    // (no banding false negatives) is the point at threshold 0.8.
    "dedup_decontaminate_near" -> ((s, d) =>
      Dedup.contaminationScreen(
        t(s, d, "documents").where(col("doc_id") < 300), "text", "doc_id",
        col("doc_id") >= 150, minJaccard = 0.8)
        .orderBy("eval_id")),

    // Winnowed document fingerprints (MOSS): per-window rightmost-min of
    // the ordered 2-gram hash sequence, via the packed-key window MIN both
    // engines replay bit-for-bit. Every non-empty doc fingerprints.
    "dedup_winnow_fp" -> ((s, d) =>
      graft.ops.Winnow.fingerprints(
        t(s, d, "documents"), "text", "doc_id", shingleK = 2, window = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "fp_pos", "fp")),

    // Contamination screen over winnowed fingerprints: doc pairs sharing
    // >= 3 distinct fingerprint hashes. Pair generation explodes each
    // fingerprint's df-capped doc list — the text pipeline plans once.
    // The cap is MOSS-realistic (200, not "never fires"): a fingerprint
    // in d docs yields d^2/2 pairs, and boilerplate fingerprints carry
    // no discriminative signal — the sf1 probe measured the 10k-cap
    // form at 714 s because corpus-wide boilerplate grams stayed under
    // an effectively-unbounded cap.
    "dedup_winnow" -> ((s, d) =>
      graft.ops.Winnow.sharedPairs(
        t(s, d, "documents"), "text", "doc_id", shingleK = 2, window = 4,
        minShared = 3, maxFpDf = 200)
        .orderBy("id_a", "id_b")),

    // CCNet/Dolma-style segment (line/paragraph) dedup: drop segments
    // whose corpus document-frequency exceeds the cap, reassemble the
    // survivors in order. Production separator is '\n' (CC paragraph
    // dedup); this corpus has no newlines, so the entry splits on a
    // common token — the operator is separator-agnostic. df count is a
    // segment-keyed hash aggregate; reassembly a doc-keyed one.
    "dedup_segments" -> ((s, d) =>
      Dedup.segmentDedup(
        t(s, d, "documents"), "text", "doc_id", sep = " table ",
        maxDocFreq = 25L)
        .orderBy("doc_id")),

    // Sorted-neighborhood candidate pairs (multi-pass SNM family): block by
    // source, order by a 16-char raw text prefix (binary collation — both
    // engines compare UTF-8 bytes; no case folding, which IS
    // collation-sensitive), pair each doc with its 2 predecessors. One
    // exchange + one sort, no self-join (plan asserted in PlanShapeSpec).
    "dedup_sorted_neighborhood" -> ((s, d) =>
      Dedup.sortedNeighborhood(
        t(s, d, "documents"), "doc_id",
        coalesce(substring(col("text"), 1, 16), lit("")), col("source"),
        window = 3)
        .orderBy("block", "id_b", "dist")),

    // Multi-pass SNM: pass 1 blocks by source and sorts by text prefix
    // (the single-pass entry's ordering); pass 2 blocks by lang and sorts
    // by zero-padded length + the NEXT 16 chars — a pair whose prefixes
    // diverge but whose bodies agree survives pass 2. Canonical pairs
    // merge with (n_passes, min_dist).
    "dedup_snm_multipass" -> ((s, d) =>
      Dedup.multiPassSortedNeighborhood(
        t(s, d, "documents"), "doc_id",
        Seq(
          (coalesce(substring(col("text"), 1, 16), lit("")), col("source")),
          (concat(lpad(coalesce(col("n_chars"), lit(0L)).cast("string"), 6, "0"),
            coalesce(substring(col("text"), 17, 16), lit(""))), col("lang"))),
        window = 3)
        .orderBy("id_a", "id_b")),

    // MinHash calibration report: per SAMPLED SNM candidate pair, the
    // 16-slot signature-agreement estimate NEXT TO the exact 3-gram
    // Jaccard it estimates — the est-vs-truth audit run before trusting
    // LSH banding thresholds. Agreement and set counts are exact
    // integers; the two mirrored divisions happen last (union 0 -> NULL
    // exact, both engines). Pairs are deterministically SAMPLED 1-in-32
    // by stable pair-hash membership (the Sampling.scala discipline —
    // layout/engine independent, replayed in the oracle): a calibration
    // audit needs a representative sample, not the full candidate set,
    // and the unsampled form made the audit's cost the product of the
    // thing it audits (the sf1 oracle ran past 1200 s; sampled, both
    // sides restrict signature + shingle work to the docs the sampled
    // pairs touch).
    "dedup_minhash_calibration" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.sortedNeighborhood(docs, "doc_id",
        coalesce(substring(col("text"), 1, 16), lit("")), col("source"),
        window = 3).select("id_a", "id_b")
        .where(pmod(StableHash.hash60(
          concat_ws(":", col("id_a"), col("id_b"))), lit(32L)) === 0L)
      val sigs = Dedup.minhashSignatures(docs, "text", "doc_id",
        numHashes = 16, shingleK = 3)
      val agree = pairs
        .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sa")),
          Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1L, 0L))," +
            " 0L, (acc, v) -> acc + v)").as("n_agree"))
      val sh = docs.where(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), explode(Text.wordShingles(col("text"), 3))
          .as("sh"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = pairs
        .join(sh.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
        .join(sh.withColumnRenamed("doc_id", "id_b"), Seq("id_b", "sh"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
      agree
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")),
          Seq("id_a"), "left")
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")),
          Seq("id_b"), "left")
        .join(inter, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("n_agree"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"))
        .withColumn("est", col("n_agree").cast("double") / lit(16.0))
        .withColumn("exact_jaccard", col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
        .orderBy("id_a", "id_b")
    }),

    // Connected components over candidate pairs (the fuzzy-dedup cluster
    // collapse): sorted-neighborhood pairs chain consecutive docs inside a
    // block, so whole blocks form single chain components — the diameter
    // stress case pointer jumping exists for. The oracle replays the
    // engine's alternating large-star/small-star contraction as a fixed
    // number of chained MATERIALIZED CTE rounds (snmClosureCtes — linear
    // O(rounds·|E|), idempotent past the fixed point), which replaced the
    // quadratic recursive reachability CTE that timed out at sf1.
    "dedup_components" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.sortedNeighborhood(docs, "doc_id",
        coalesce(substring(col("text"), 1, 16), lit("")), col("source"),
        window = 3)
        .select("id_a", "id_b")
      Dedup.clusterNearDups(docs.select(col("doc_id").as("id")), pairs,
        "id", maxIters = 25)
        .orderBy("id")
    }),

    // Keep-list materialization over the near-dup clusters: the
    // alternating-star component label IS the cluster's min id, so the
    // canonical representative is the label itself — one size aggregate
    // and a component-keyed join produce the per-doc keep verdict a
    // dedup pipeline actually applies.
    "dedup_representatives" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.sortedNeighborhood(docs, "doc_id",
        coalesce(substring(col("text"), 1, 16), lit("")), col("source"),
        window = 3)
        .select("id_a", "id_b")
      val comp = Dedup.clusterNearDups(docs.select(col("doc_id").as("id")),
        pairs, "id", maxIters = 25)
      val sizes = comp.groupBy("component")
        .agg(count(lit(1)).as("cluster_size"))
      comp.join(sizes, Seq("component"))
        .select(col("id"), col("component"),
          (col("id") === col("component")).as("is_kept"),
          col("cluster_size"))
        .orderBy("id")
    }),

    // Dedup run report: the cluster-size profile of the near-dup
    // components — clusters per size, docs they hold, and docs a
    // keep-one-representative pass would drop. Exact integers end to end
    // (two count aggregates over the component labels), so the recursive
    // reachability oracle replays it bit-for-bit.
    "dedup_cluster_stats" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.sortedNeighborhood(docs, "doc_id",
        coalesce(substring(col("text"), 1, 16), lit("")), col("source"),
        window = 3)
        .select("id_a", "id_b")
      Dedup.clusterNearDups(docs.select(col("doc_id").as("id")), pairs,
        "id", maxIters = 25)
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - 1) * col("n_clusters")).as("n_dropped"))
        .orderBy("cluster_size")
    }),

    "dedup_passages" -> ((s, d) => dedupPassages(t(s, d, "documents"))),

    // Bloom-prefiltered incremental dedup: which docs with id >= 250 carry
    // text NOT already present among ids < 250? Result is bit-identical to
    // the plain left-anti join (the oracle's NOT EXISTS); the Bloom sketch
    // only routes rows so that at corpus scale definitely-new rows never
    // enter the shuffle join.
    "bloom_new_docs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val incoming = docs.where(col("doc_id") >= 250)
        .select(col("doc_id"), md5(col("text")).as("digest"))
      val seen = docs.where(col("doc_id") < 250)
        .select(md5(col("text")).as("digest"))
      graft.ops.BloomDedup.newRows(incoming, seen, "digest", expectedItems = 1 << 16)
        .select("doc_id").orderBy("doc_id")
    }),

    // Cross-RUN incremental twin of bloom_new_docs: the seen corpus arrived
    // as two historical batches (ids < 200, then 200..249) whose Bloom
    // sketches were PERSISTED as shard rows when each batch was ingested
    // (write-once scratch — a later run, here the probe, never rebuilds
    // them). Today's batch (ids >= 250) probes the persisted shards — zero
    // aggregation jobs over history — and hash-matches the joint recompute
    // (the oracle's plain NOT EXISTS against all seen ids).
    "bloom_new_docs_incremental" -> ((s, d) => {
      val path = scratch("bloomsk", d) { out =>
        val docs0 = t(s, d, "documents")
        graft.ops.BloomDedup.saveSketch(
          docs0.where(col("doc_id") < 200)
            .select(md5(col("text")).as("digest")),
          "digest", expectedItems = 1 << 16, path = out, shard = "b0")
        graft.ops.BloomDedup.saveSketch(
          docs0.where(col("doc_id") >= 200 && col("doc_id") < 250)
            .select(md5(col("text")).as("digest")),
          "digest", expectedItems = 1 << 16, path = out, shard = "b1")
      }
      val docs = t(s, d, "documents")
      val incoming = docs.where(col("doc_id") >= 250)
        .select(col("doc_id"), md5(col("text")).as("digest"))
      val seen = docs.where(col("doc_id") < 250)
        .select(md5(col("text")).as("digest"))
      graft.ops.BloomDedup.newRowsWithSketches(incoming, seen, "digest",
          graft.ops.BloomDedup.sketchColumns(s, path))
        .select("doc_id").orderBy("doc_id")
    }),

    // Edit-distance fuzzy match (entity-resolution shape): candidates from
    // the sorted-neighborhood pass, verified with Levenshtein over a
    // normalized bounded prefix (cost capped per pair; the DP is O(L^2) so
    // NEVER run it corpus x corpus — candidates only). Normalization to
    // [a-z0-9 ] keeps both engines' character semantics identical.
    "dedup_editdist" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val prefix = substring(
        regexp_replace(lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", ""),
        1, 24)
      val cands = Dedup.sortedNeighborhood(
        docs, "doc_id",
        coalesce(substring(col("text"), 1, 16), lit("")), col("source"),
        window = 3)
        .select("id_a", "id_b")
      cands
        .join(docs.select(col("doc_id").as("id_a"), prefix.as("pa")), Seq("id_a"))
        .join(docs.select(col("doc_id").as("id_b"), prefix.as("pb")), Seq("id_b"))
        .withColumn("lev", levenshtein(col("pa"), col("pb")).cast("long"))
        .where(col("lev") <= 12)
        .select("id_a", "id_b", "lev")
        .orderBy("id_a", "id_b")
    }),

    // Jaro-Winkler fuzzy match over SNM candidates (the native codegen'd
    // expression; DuckDB's jaro_winkler_similarity is the oracle). Same
    // candidate discipline as dedup_editdist: never corpus x corpus.
    "dedup_jarowinkler" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val prefix = substring(
        regexp_replace(lower(coalesce(col("text"), lit(""))), "[^a-z0-9 ]", ""),
        1, 24)
      val cands = Dedup.sortedNeighborhood(
        docs, "doc_id",
        coalesce(substring(col("text"), 1, 16), lit("")), col("source"),
        window = 3)
        .select("id_a", "id_b")
      cands
        .join(docs.select(col("doc_id").as("id_a"), prefix.as("pa")), Seq("id_a"))
        .join(docs.select(col("doc_id").as("id_b"), prefix.as("pb")), Seq("id_b"))
        .withColumn("jw", round(graft.plans.JaroWinkler(col("pa"), col("pb")), 6))
        .where(col("jw") >= 0.8)
        .select("id_a", "id_b", "jw")
        .orderBy("id_a", "id_b")
    }),

    // Embedding near-dup pairs: banded-LSH-bucketed (2 hash tables of 8
    // hyperplanes), candidates cosine-verified once (threshold 0.2 — demo
    // level for random vectors; production dedup uses ~0.95).
    "dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "embedding", "vec_id",
        dim = 64, bits = 8, bands = 2, threshold = 0.2)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")),

    // SemDeDup semantic dedup: Lloyd-trained k-means cells bound the
    // quadratic cosine search (sum |cell|^2, never n^2); within each cell
    // a vector is dropped iff some lower-id cellmate is >= threshold
    // cosine. Threshold 0.38 is demo level for these near-random
    // synthetic vectors (production uses ~0.95); training, assignment,
    // and the prune all replay in the oracle.
    "dedup_semantic" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      dedupSemantic(emb, semanticCentroids(emb))
    })
  )

  /** Shared by `dedup_segments` and its streaming twin
    * `stream_dedup_segments` — the detector's hot-key set is arrival-order
    * independent, so both compute exactly this batch rule.
    */
  protected def segmentDedupOracleSql: String =
    """WITH segs AS (
      | SELECT doc_id,
      |  unnest(string_split(text, ' table ')) AS seg,
      |  generate_subscripts(string_split(text, ' table '), 1) AS pos
      | FROM documents),
      |keyed AS (
      | SELECT doc_id, pos, seg, trim(seg) AS k
      | FROM segs WHERE trim(seg) <> ''),
      |dfc AS (
      | SELECT k, COUNT(DISTINCT doc_id) AS seg_df FROM keyed GROUP BY k),
      |marked AS (
      | SELECT keyed.doc_id, keyed.pos, keyed.seg,
      |  dfc.seg_df <= 25 AS keep
      | FROM keyed JOIN dfc ON keyed.k = dfc.k)
      |SELECT doc_id,
      | CAST(COUNT(*) AS BIGINT) AS n_segments,
      | CAST(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
      |   AS n_kept,
      | COALESCE(string_agg(CASE WHEN keep THEN seg END, ' table '
      |   ORDER BY pos), '') AS clean_text
      |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Full composite replay of the fuzzyDedup chain, shared by the
    * keep-one oracle (dedup_fuzzy) and the per-stage audit
    * (dedup_fuzzy_audit): exact-digest survivors (md5 both engines), the
    * 4-hash signature chain, band candidates as direct sig-slice equality
    * (band-bucket md5 equality ⇔ slice equality) with the engine's
    * maxBucket=1024 hot-bucket rail replayed per band (bk0/bk1 counts —
    * it cannot fire on this ≤340-doc slice; the planted
    * dedup_minhash_bucket_audit entry proves the drop semantics at a
    * tight cap), per-pair exact Jaccard
    * over DISTINCT shingles, recursive reach closure, keep = component
    * representative. NaN-Jaccard candidate pairs (shingle-less docs) drop
    * on both sides by absence from the shingle frame. MATERIALIZED on
    * every multi-consumer CTE.
    */
  /** SNM-closure replay shared by dedup_components / dedup_representatives
    * / dedup_cluster_stats: the engine's alternating large-star/small-star
    * contraction (Kiveris et al. 2014, `Dedup.clusterNearDups`) unrolled as
    * chained MATERIALIZED CTEs — one large+small round per block, LINEAR
    * O(rounds·|E|) total. This replaced the recursive reachability CTE
    * (r11 sf1 skip): true reach materializes Σ|component|² rows, ~25 min
    * at sf1, while this replay stays seconds at any SF. Round count is
    * FIXED (no convergence probe in static SQL; oracleSql is a static
    * map with no data access) at 20 — the engine measures 7–10 rounds to
    * the star fixed point for permuted chains of 250–5000 nodes (the
    * exact shape SNM blocks produce; sf1 blocks are ~2.5k docs),
    * convergence is ~log2(max block size) alternating rounds, so 20
    * covers SNM blocks to ~500k docs (2^19) with slack — far past any
    * sweep scale (sf10 blocks are ~25k). Extra rounds past the fixed
    * point are IDEMPOTENT (a star set maps to itself: large-star
    * re-emits each (child, min) edge, small-star's u<=v branch excludes
    * u=m and its v-branch re-emits (child, min)) and near-free (|E| has
    * already contracted). If data ever outgrew even this, the strict
    * compare fails loudly rather than passing a half-converged closure.
    */
  private def snmClosureCtes: String = {
    // ~log2(max SNM block size) + slack; see scaladoc for the assumption
    val rounds = 20
    def round(i: Int): String =
      s"""n${i}a AS MATERIALIZED (
         | SELECT a AS v, b AS u FROM e$i
         | UNION ALL SELECT b AS v, a AS u FROM e$i),
         |m${i}a AS MATERIALIZED (
         | SELECT v, MIN(u) AS mu FROM n${i}a GROUP BY v),
         |lg$i AS MATERIALIZED (
         | SELECT DISTINCT n.u AS a, LEAST(n.v, m.mu) AS b
         | FROM n${i}a n JOIN m${i}a m USING (v)
         | WHERE n.u > n.v AND n.u <> LEAST(n.v, m.mu)),
         |n${i}b AS MATERIALIZED (
         | SELECT a AS v, b AS u FROM lg$i
         | UNION ALL SELECT b AS v, a AS u FROM lg$i),
         |m${i}b AS MATERIALIZED (
         | SELECT v, MIN(u) AS mu FROM n${i}b GROUP BY v),
         |e${i + 1} AS MATERIALIZED (
         | SELECT DISTINCT a, b FROM (
         |  SELECT n.u AS a, LEAST(n.v, m.mu) AS b
         |  FROM n${i}b n JOIN m${i}b m USING (v)
         |  WHERE n.u <= n.v AND n.u <> LEAST(n.v, m.mu)
         |  UNION ALL
         |  SELECT n.v AS a, LEAST(n.v, m.mu) AS b
         |  FROM n${i}b n JOIN m${i}b m USING (v)
         |  WHERE n.v <> LEAST(n.v, m.mu)))""".stripMargin
    s"""keyed AS (
       | SELECT source AS block, COALESCE(substr(text, 1, 16), '') AS skey,
       |  doc_id AS id
       | FROM documents),
       |lagged AS (
       | SELECT block, id, LAG(id, 1) OVER w AS p1, LAG(id, 2) OVER w AS p2
       | FROM keyed WINDOW w AS (PARTITION BY block ORDER BY skey, id)),
       |edges0 AS (
       | SELECT p1 AS a, id AS b FROM lagged WHERE p1 IS NOT NULL
       | UNION ALL SELECT p2, id FROM lagged WHERE p2 IS NOT NULL),
       |e0 AS MATERIALIZED (
       | SELECT DISTINCT GREATEST(a, b) AS a, LEAST(a, b) AS b
       | FROM edges0 WHERE a <> b),
       |${(0 until rounds).map(round).mkString(",\n")},
       |stars AS (SELECT a AS id, MIN(b) AS component FROM e$rounds GROUP BY a),
       |comp AS (
       | SELECT d.doc_id AS id, COALESCE(s.component, d.doc_id) AS component
       | FROM documents d LEFT JOIN stars s ON s.id = d.doc_id)""".stripMargin
  }

  private def fuzzyChainCtes: String = {
    val p = Dedup.MinhashP
    val sigCols = (0 until 4).map { j =>
      val (a, b) = Dedup.minhashCoeffs(j)
      s"COALESCE(MIN((($a * (${hash60Sql("s.sh")} % $p)) + $b) % $p), ${Long.MaxValue}) AS h$j"
    }.mkString(",\n  ")
    s"""docs AS MATERIALIZED (
       | SELECT doc_id, text FROM documents WHERE doc_id < 300
       | UNION ALL
       | SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20
       | UNION ALL
       | SELECT doc_id + 200000, text || ' extrazz' FROM documents
       | WHERE doc_id >= 20 AND doc_id < 40),
       |surv AS MATERIALIZED (
       | SELECT doc_id FROM (
       |  SELECT doc_id,
       |   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM docs) WHERE rn = 1),
       |sdocs AS MATERIALIZED (
       | SELECT d.doc_id, d.text FROM docs d JOIN surv USING (doc_id)),
       |words AS (
       | SELECT doc_id, w, i FROM (
       |  SELECT doc_id,
       |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
       |   generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS i
       |  FROM sdocs WHERE trim(text) <> '')),
       |shingles AS MATERIALIZED (
       | SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       | FROM words a
       | JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       | JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2
       | UNION
       | SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS sh
       | FROM sdocs
       | WHERE trim(text) <> ''
       |  AND len(string_split_regex(trim(lower(text)), '\\s+')) < 3),
       |sigs AS MATERIALIZED (
       | SELECT d.doc_id,
       |  $sigCols
       | FROM sdocs d LEFT JOIN shingles s ON s.doc_id = d.doc_id
       | GROUP BY d.doc_id),
       |bk0 AS MATERIALIZED (
       | SELECT h0, h1, CAST(COUNT(*) AS BIGINT) AS n FROM sigs GROUP BY 1, 2),
       |bk1 AS MATERIALIZED (
       | SELECT h2, h3, CAST(COUNT(*) AS BIGINT) AS n FROM sigs GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       | SELECT DISTINCT id_a, id_b FROM (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM sigs x
       |  JOIN sigs y ON x.doc_id < y.doc_id AND x.h0 = y.h0 AND x.h1 = y.h1
       |  JOIN bk0 ON bk0.h0 = x.h0 AND bk0.h1 = x.h1
       |  WHERE bk0.n <= 1024
       |  UNION ALL
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM sigs x
       |  JOIN sigs y ON x.doc_id < y.doc_id AND x.h2 = y.h2 AND x.h3 = y.h3
       |  JOIN bk1 ON bk1.h2 = x.h2 AND bk1.h3 = x.h3
       |  WHERE bk1.n <= 1024)),
       |pairsh AS (
       | SELECT c.id_a, c.id_b, s.sh,
       |  MAX(CASE WHEN s.doc_id = c.id_a THEN 1 ELSE 0 END) AS ina,
       |  MAX(CASE WHEN s.doc_id = c.id_b THEN 1 ELSE 0 END) AS inb
       | FROM cand c JOIN shingles s ON s.doc_id IN (c.id_a, c.id_b)
       | GROUP BY 1, 2, 3),
       |jac AS (
       | SELECT id_a, id_b,
       |  CAST(SUM(ina * inb) AS BIGINT) AS inter,
       |  CAST(COUNT(*) AS BIGINT) AS un
       | FROM pairsh GROUP BY 1, 2),
       |edges0 AS MATERIALIZED (
       | SELECT id_a AS a, id_b AS b FROM jac
       | WHERE CAST(inter AS DOUBLE) / CAST(un AS DOUBLE) >= 0.5),
       |edges AS MATERIALIZED (
       | SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
       |reach AS (
       | SELECT doc_id AS id, doc_id AS r FROM sdocs
       | UNION
       | SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
       |comp AS MATERIALIZED (
       | SELECT id, MIN(r) AS component FROM reach GROUP BY id)""".stripMargin
  }

  protected def dedupOracles: Map[String, String] = Map(

    "dedup_exact" ->
      """SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY digest""".stripMargin,

    "dedup_segments" -> segmentDedupOracleSql,

    "bloom_new_docs" ->
      """SELECT i.doc_id FROM documents i
        |WHERE i.doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM documents s
        |  WHERE s.doc_id < 250 AND md5(s.text) = md5(i.text))
        |ORDER BY doc_id""".stripMargin,

    // The persisted-sketch path is exact (shards only route rows), so the
    // joint recompute is the same NOT EXISTS against the full seen set.
    "bloom_new_docs_incremental" ->
      """SELECT i.doc_id FROM documents i
        |WHERE i.doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM documents s
        |  WHERE s.doc_id < 250 AND md5(s.text) = md5(i.text))
        |ORDER BY doc_id""".stripMargin,

    "dedup_minhash" -> minhashOracle,

    // Full composite replay: exact-digest survivors (md5 both engines),
    // the 4-hash signature chain, band candidates as direct sig-slice
    // equality (band-bucket md5 equality ⇔ slice equality), per-pair
    // exact Jaccard over DISTINCT shingles, recursive reach closure,
    // keep = component representative. NaN-Jaccard candidate pairs
    // (shingle-less docs) drop on both sides by absence from the
    // shingle frame. MATERIALIZED on every multi-consumer CTE.
    "dedup_fuzzy" ->
      s"""WITH RECURSIVE $fuzzyChainCtes
         |SELECT id AS doc_id FROM comp WHERE id = component
         |ORDER BY doc_id""".stripMargin,

    // The fuzzy chain's per-stage counts (engine: Dedup.fuzzyDedupReport)
    // — every CTE the keep-one oracle walks, counted instead of projected.
    "dedup_fuzzy_audit" ->
      s"""WITH RECURSIVE $fuzzyChainCtes,
         |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_input FROM docs),
         |n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_survivors FROM surv),
         |n3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs FROM cand),
         |n4 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_verified_pairs FROM edges0),
         |n5 AS (SELECT CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters,
         |  CAST(COALESCE(SUM(CASE WHEN id = component THEN 1 END), 0) AS BIGINT)
         |    AS n_kept_rows
         | FROM comp)
         |SELECT n1.n_input, n2.n_exact_survivors, n3.n_candidate_pairs,
         | n4.n_verified_pairs, n5.n_clusters, n5.n_kept_rows,
         | n1.n_input - n2.n_exact_survivors AS n_dropped_exact,
         | n2.n_exact_survivors - n5.n_kept_rows AS n_dropped_near
         |FROM n1, n2, n3, n4, n5""".stripMargin,

    "dedup_minhash_calibration" -> minhashCalibrationOracle,
    "dedup_minhash_band_stats" -> {
      val p = Dedup.MinhashP
      val mins = (0 until 16).map { j =>
        val (a, b) = Dedup.minhashCoeffs(j)
        s"COALESCE(MIN((($a * (${hash60Sql("s.sh")} % $p)) + $b) % $p), ${Long.MaxValue}) AS h$j"
      }.mkString(",\n ")
      val bandRows = (0 until 4).map { bd =>
        val cat = (0 until 4).map(r => s"CAST(h${bd * 4 + r} AS VARCHAR)")
          .mkString(" || ',' || ")
        s"SELECT doc_id, CAST($bd AS INTEGER) AS band, md5($cat) AS bucket FROM sig"
      }.mkString("\n UNION ALL ")
      s"""WITH $shingleCtes,
         |sig AS (
         | SELECT d.doc_id,
         | $mins
         | FROM documents d LEFT JOIN shingles s ON s.doc_id = d.doc_id
         | GROUP BY d.doc_id),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |bands AS (
         | $bandRows),
         |bk AS (SELECT band, bucket, CAST(COUNT(*) AS BIGINT) AS n_members
         |       FROM bands GROUP BY 1, 2),
         |mb AS (SELECT * FROM bk WHERE n_members > 1)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_multi_buckets,
         | MAX(n_members) AS max_bucket,
         | CAST(SUM(n_members * (n_members - 1) // 2) AS BIGINT)
         |   AS cand_pairs,
         | nd.n_docs - CAST(SUM(n_members) AS BIGINT) AS n_singletons
         |FROM mb CROSS JOIN nd GROUP BY band, nd.n_docs
         |ORDER BY band""".stripMargin
    },

    "dedup_winnow_fp" ->
      (s"""WITH $winnowCtes
        |SELECT doc_id, fp, fp_pos FROM fps
        |ORDER BY doc_id, fp_pos, fp""".stripMargin),

    "dedup_winnow" ->
      (s"""WITH $winnowCtes,
        |dfp AS (SELECT DISTINCT doc_id, fp FROM fps),
        |capped AS (
        | SELECT doc_id, fp FROM (
        |  SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS fdf FROM dfp)
        | WHERE fdf <= 200)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(count(*) AS BIGINT) AS n_shared
        |FROM capped a JOIN capped b ON b.fp = a.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY id_a, id_b""".stripMargin),

    "dedup_group_minhash" -> groupMinhashOracle,
    "dedup_simhash" -> simhashOracle(16),
    "dedup_simhash_pairs" -> simhashPairsOracle(
      bits = 60, blocks = 4, maxHamming = 3, maxBucket = 1024),
    "dedup_simhash_bucket_audit" -> simhashBucketAuditOracle(
      bits = 60, blocks = 4, maxBucket = 8),

    // Band-bucket count histogram over the planted-hot union input,
    // buckets as direct sig-slice groups (md5-bucket equality <=> slice
    // equality, the fuzzy-chain discipline); drop counts above the cap.
    "dedup_minhash_bucket_audit" -> {
      val p = Dedup.MinhashP
      val sigCols = (0 until 4).map { j =>
        val (a, b) = Dedup.minhashCoeffs(j)
        s"COALESCE(MIN((($a * (${hash60Sql("s.sh")} % $p)) + $b) % $p), ${Long.MaxValue}) AS h$j"
      }.mkString(",\n  ")
      s"""WITH docs AS MATERIALIZED (
         | SELECT doc_id, text FROM documents WHERE doc_id < 300
         | UNION ALL
         | SELECT 800000 + r.i AS doc_id,
         |  'wqa wqb wqc wqd wqe wqf wqg wqh wqi' AS text
         | FROM range(25) r(i)),
         |words AS (
         | SELECT doc_id, w, i FROM (
         |  SELECT doc_id,
         |   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
         |   generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS i
         |  FROM docs WHERE trim(text) <> '')),
         |shingles AS MATERIALIZED (
         | SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
         | FROM words a
         | JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         | JOIN words c ON c.doc_id = a.doc_id AND c.i = a.i + 2
         | UNION
         | SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS sh
         | FROM docs
         | WHERE trim(text) <> ''
         |  AND len(string_split_regex(trim(lower(text)), '\\s+')) < 3),
         |sigs AS MATERIALIZED (
         | SELECT d.doc_id,
         |  $sigCols
         | FROM docs d LEFT JOIN shingles s ON s.doc_id = d.doc_id
         | GROUP BY d.doc_id),
         |allb AS (
         | SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sigs GROUP BY h0, h1
         | UNION ALL
         | SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sigs GROUP BY h2, h3)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
         | CAST(COALESCE(SUM(CASE WHEN n > 20 THEN 1 END), 0) AS BIGINT)
         |   AS n_dropped_buckets,
         | CAST(COALESCE(SUM(CASE WHEN n > 20 THEN n END), 0) AS BIGINT)
         |   AS n_dropped_rows,
         | CAST(COALESCE(SUM(CASE WHEN n > 20 THEN n * (n - 1) // 2 END), 0)
         |   AS BIGINT) AS n_dropped_pairs
         |FROM allb""".stripMargin
    },

    "dedup_ngram_jaccard" -> ngramJaccardOracle,
    "dedup_containment" -> containmentOracle,
    "dedup_threshold_sweep" -> thresholdSweepOracle,

    // Same shingle universe as ngramJaccardOracle over the planted-hot
    // union input; df histogram counted instead of paired.
    "dedup_shingle_df_audit" ->
      """WITH docs AS (
        | SELECT doc_id, text FROM documents WHERE doc_id < 300
        | UNION ALL
        | SELECT 500000 + r.i AS doc_id,
        |  'zqa zqb zqc zqd zqe zqf zqg zqh' AS text
        | FROM range(30) r(i)),
        |words AS (
        | SELECT doc_id, w, i FROM (
        |  SELECT doc_id,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
        |   generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS i
        |  FROM docs WHERE trim(text) <> '')),
        |shingles AS (
        | SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w AS sh
        | FROM words a JOIN words b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        | UNION
        | SELECT doc_id AS id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS sh
        | FROM docs
        | WHERE trim(text) <> ''
        |  AND len(string_split_regex(trim(lower(text)), '\s+')) < 2),
        |dfs AS (SELECT sh, COUNT(*) AS df FROM shingles GROUP BY sh),
        |s1 AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(SUM(CASE WHEN df > 20 THEN 1 END), 0) AS BIGINT)
        |   AS n_dropped_shingles,
        |  CAST(COALESCE(SUM(CASE WHEN df > 20 THEN df END), 0) AS BIGINT)
        |   AS n_dropped_postings
        | FROM dfs),
        |ds AS (
        | SELECT s.id, SUM(CASE WHEN d.df <= 20 THEN 1 ELSE 0 END) AS n_kept
        | FROM shingles s JOIN dfs d USING (sh) GROUP BY s.id),
        |s2 AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(SUM(CASE WHEN n_kept = 0 THEN 1 END), 0) AS BIGINT)
        |   AS n_docs_emptied
        | FROM ds)
        |SELECT s1.n_shingles, s1.n_dropped_shingles, s1.n_dropped_postings,
        | s2.n_docs, s2.n_docs_emptied
        |FROM s1 CROSS JOIN s2""".stripMargin,

    // The dedup_passages gram CTE over the planted-hot union input;
    // occurrence histogram counted instead of span-merged.
    "dedup_passage_gram_audit" ->
      """WITH docs AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT 600000 + r.i AS doc_id, 'qqa qqb qqc qqd qqe qqf qqg' AS text
        | FROM range(25) r(i)),
        |words AS (
        | SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
        |  generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS i
        | FROM docs WHERE text IS NOT NULL AND trim(text) <> ''),
        |g AS (
        | SELECT doc_id,
        |  w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
        |    || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win AS gram
        | FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
        |occ AS (
        | SELECT gram, COUNT(*) AS occ FROM g WHERE gram IS NOT NULL
        | GROUP BY gram)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_grams,
        | CAST(COALESCE(SUM(CASE WHEN occ >= 2 THEN 1 END), 0) AS BIGINT)
        |  AS n_duplicated_grams,
        | CAST(COALESCE(SUM(CASE WHEN occ > 20 THEN 1 END), 0) AS BIGINT)
        |  AS n_dropped_grams,
        | CAST(COALESCE(SUM(CASE WHEN occ > 20 THEN occ END), 0) AS BIGINT)
        |  AS n_dropped_windows,
        | CAST(COUNT(*) - COUNT(DISTINCT
        |   ('0x' || substr(md5(gram), 1, 15))::BIGINT) AS BIGINT)
        |  AS n_hash_collisions
        |FROM occ""".stripMargin,

    // Pure block-size arithmetic: possible C(n,2) vs the window's
    // generated min(i, w-1) sum, per block, summed.
    "dedup_snm_window_audit" ->
      """WITH docs AS (
        | SELECT doc_id, source FROM documents
        | UNION ALL
        | SELECT 700000 + r.i AS doc_id, 'zz_planted' AS source
        | FROM range(2) r(i)),
        |b AS (SELECT source, COUNT(*) AS n FROM docs GROUP BY source),
        |g AS (
        | SELECT n, n * (n - 1) // 2 AS poss,
        |  CASE WHEN n <= 3 THEN n * (n - 1) // 2
        |       ELSE 3 + (n - 3) * 2 END AS gen
        | FROM b)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
        | CAST(SUM(n) AS BIGINT) AS n_rows,
        | CAST(SUM(poss) AS BIGINT) AS n_pairs_possible,
        | CAST(SUM(gen) AS BIGINT) AS n_pairs_generated,
        | CAST(SUM(poss - gen) AS BIGINT) AS n_pairs_skipped
        |FROM g""".stripMargin,
    "dedup_prefix_jaccard" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |toks AS (
        | SELECT DISTINCT doc_id AS id, w FROM (
        |  SELECT doc_id,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM docs WHERE trim(COALESCE(text, '')) <> '')),
        |wdf AS (SELECT w, COUNT(*) AS df FROM toks GROUP BY 1),
        |ranked AS (
        | SELECT t.id, t.w,
        |  row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.w) AS rn,
        |  COUNT(*) OVER (PARTITION BY t.id) AS n
        | FROM toks t JOIN wdf d USING (w)),
        |pref AS (SELECT id, w, n FROM ranked
        |         WHERE rn <= n - CEIL(0.8 * n) + 1),
        |cand AS (
        | SELECT DISTINCT a.id AS id_a, a.n AS n_a, b.id AS id_b, b.n AS n_b
        | FROM pref a JOIN pref b USING (w)
        | WHERE a.id < b.id
        |   AND LEAST(a.n, b.n) >= 0.8 * GREATEST(a.n, b.n)),
        |inter AS (
        | SELECT c.id_a, c.id_b, c.n_a, c.n_b, COUNT(*) AS n_inter
        | FROM cand c
        | JOIN toks ta ON ta.id = c.id_a
        | JOIN toks tb ON tb.id = c.id_b AND tb.w = ta.w
        | GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b,
        | CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE)
        |  AS jaccard
        |FROM inter
        |WHERE CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE)
        |  >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_decontaminate_near" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |toks AS (
        | SELECT DISTINCT doc_id AS id, w FROM (
        |  SELECT doc_id,
        |   unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM docs WHERE trim(COALESCE(text, '')) <> '')),
        |wdf AS (SELECT w, COUNT(*) AS df FROM toks GROUP BY 1),
        |ranked AS (
        | SELECT t.id, t.w,
        |  row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.w) AS rn,
        |  COUNT(*) OVER (PARTITION BY t.id) AS n
        | FROM toks t JOIN wdf d USING (w)),
        |pref AS (SELECT id, w, n FROM ranked
        |         WHERE rn <= n - CEIL(0.8 * n) + 1),
        |cand AS (
        | SELECT DISTINCT a.id AS id_a, a.n AS n_a, b.id AS id_b, b.n AS n_b
        | FROM pref a JOIN pref b USING (w)
        | WHERE a.id < b.id
        |   AND LEAST(a.n, b.n) >= 0.8 * GREATEST(a.n, b.n)),
        |inter AS (
        | SELECT c.id_a, c.id_b, c.n_a, c.n_b, COUNT(*) AS n_inter
        | FROM cand c
        | JOIN toks ta ON ta.id = c.id_a
        | JOIN toks tb ON tb.id = c.id_b AND tb.w = ta.w
        | GROUP BY 1, 2, 3, 4),
        |pairs AS (
        | SELECT id_a, id_b,
        |  CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE)
        |   AS jaccard
        | FROM inter
        | WHERE CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE)
        |   >= 0.8),
        |crossed AS (
        | SELECT CASE WHEN id_a >= 150 THEN id_a ELSE id_b END AS eval_id,
        |  CASE WHEN id_a >= 150 THEN id_b ELSE id_a END AS train_id,
        |  jaccard
        | FROM pairs
        | WHERE (id_a >= 150) <> (id_b >= 150))
        |SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_train_matches,
        | MAX(jaccard) AS max_jaccard, MIN(train_id) AS first_train_id
        |FROM crossed GROUP BY eval_id ORDER BY eval_id""".stripMargin,

    "dedup_sorted_neighborhood" ->
      """WITH keyed AS (
        | SELECT source AS block, COALESCE(substr(text, 1, 16), '') AS skey,
        |  doc_id AS id
        | FROM documents),
        |lagged AS (
        | SELECT block, id,
        |  LAG(id, 1) OVER w AS p1, LAG(id, 2) OVER w AS p2
        | FROM keyed WINDOW w AS (PARTITION BY block ORDER BY skey, id))
        |SELECT block, p1 AS id_a, id AS id_b, 1 AS dist FROM lagged WHERE p1 IS NOT NULL
        |UNION ALL
        |SELECT block, p2, id, 2 FROM lagged WHERE p2 IS NOT NULL
        |ORDER BY block, id_b, dist""".stripMargin,

    "dedup_snm_multipass" ->
      """WITH k1 AS (
        | SELECT source AS block, COALESCE(substr(text, 1, 16), '') AS skey,
        |  doc_id AS id
        | FROM documents),
        |l1 AS (
        | SELECT id, LAG(id, 1) OVER w AS p1, LAG(id, 2) OVER w AS p2
        | FROM k1 WINDOW w AS (PARTITION BY block ORDER BY skey, id)),
        |k2 AS (
        | SELECT lang AS block,
        |  lpad(CAST(COALESCE(n_chars, 0) AS VARCHAR), 6, '0')
        |   || COALESCE(substr(text, 17, 16), '') AS skey,
        |  doc_id AS id
        | FROM documents),
        |l2 AS (
        | SELECT id, LAG(id, 1) OVER w AS p1, LAG(id, 2) OVER w AS p2
        | FROM k2 WINDOW w AS (PARTITION BY block ORDER BY skey, id)),
        |allp AS (
        | SELECT p1 AS a, id AS b, 1 AS dist FROM l1 WHERE p1 IS NOT NULL
        | UNION ALL SELECT p2, id, 2 FROM l1 WHERE p2 IS NOT NULL
        | UNION ALL SELECT p1, id, 1 FROM l2 WHERE p1 IS NOT NULL
        | UNION ALL SELECT p2, id, 2 FROM l2 WHERE p2 IS NOT NULL)
        |SELECT LEAST(a, b) AS id_a, GREATEST(a, b) AS id_b,
        | CAST(COUNT(*) AS BIGINT) AS n_passes, MIN(dist) AS min_dist
        |FROM allp GROUP BY 1, 2
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_shingle_df_hist" -> {
      val words =
        """SELECT doc_id, w, i FROM (
          | SELECT doc_id,
          |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
          |  generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS i
          | FROM documents WHERE trim(text) <> '')""".stripMargin
      s"""WITH w AS ($words),
         |s0 AS (
         | SELECT DISTINCT a.doc_id AS id, a.w || ' ' || b.w || ' ' || c.w AS sh
         | FROM w a
         |  JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |  JOIN w c ON c.doc_id = a.doc_id AND c.i = a.i + 2
         | UNION
         | SELECT doc_id AS id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS sh
         | FROM documents WHERE trim(text) <> ''
         |  AND len(string_split_regex(trim(lower(text)), '\\s+')) < 3),
         |dfs AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df
         |        FROM s0 GROUP BY 1),
         |b AS (
         | SELECT CASE WHEN df = 1 THEN 'df=1' WHEN df = 2 THEN 'df=2'
         |   WHEN df <= 10 THEN 'df=3-10' WHEN df <= 100 THEN 'df=11-100'
         |   ELSE 'df>100' END AS bucket, df
         | FROM dfs)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         | CAST(SUM(df) AS BIGINT) AS n_postings
         |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    "dedup_components" ->
      s"""WITH $snmClosureCtes
         |SELECT id, component FROM comp
         |ORDER BY id""".stripMargin,

    "dedup_representatives" ->
      s"""WITH $snmClosureCtes,
         |sizes AS (
         | SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
         | FROM comp GROUP BY 1)
         |SELECT c.id, c.component, c.id = c.component AS is_kept,
         | s.cluster_size
         |FROM comp c JOIN sizes s USING (component)
         |ORDER BY c.id""".stripMargin,

    "dedup_cluster_stats" ->
      s"""WITH $snmClosureCtes,
         |sizes AS (
         | SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
         | FROM comp GROUP BY 1)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         | cluster_size * CAST(COUNT(*) AS BIGINT) AS n_docs,
         | (cluster_size - 1) * CAST(COUNT(*) AS BIGINT) AS n_dropped
         |FROM sizes GROUP BY cluster_size
         |ORDER BY cluster_size""".stripMargin,

    "dedup_passages" ->
      """WITH words AS (
        | SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
        |  generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS i
        | FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |g AS (
        | SELECT doc_id, CAST(i AS BIGINT) AS p,
        |  w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
        |    || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win AS gram
        | FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
        |wg AS (SELECT doc_id, p, gram FROM g WHERE gram IS NOT NULL),
        |rep AS (SELECT gram FROM wg GROUP BY gram HAVING COUNT(*) >= 2),
        |m AS (SELECT doc_id, p FROM wg WHERE gram IN (SELECT gram FROM rep)),
        |isl AS (
        | SELECT doc_id, p,
        |  CASE WHEN lag(p) OVER w2 IS NULL OR p > lag(p) OVER w2 + 5
        |       THEN 1 ELSE 0 END AS nw
        | FROM m WINDOW w2 AS (PARTITION BY doc_id ORDER BY p)),
        |isl2 AS (
        | SELECT doc_id, p,
        |  SUM(nw) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island
        | FROM isl)
        |SELECT doc_id AS id, MIN(p) AS span_start, MAX(p) + 4 AS span_end,
        | MAX(p) + 4 - MIN(p) + 1 AS span_tokens, CAST(COUNT(*) AS BIGINT) AS n_windows
        |FROM isl2 GROUP BY doc_id, island
        |ORDER BY id, span_start""".stripMargin,

    "dedup_editdist" ->
      """WITH keyed AS (
        | SELECT source AS block, COALESCE(substr(text, 1, 16), '') AS skey,
        |  doc_id AS id
        | FROM documents),
        |lagged AS (
        | SELECT block, id,
        |  LAG(id, 1) OVER w AS p1, LAG(id, 2) OVER w AS p2
        | FROM keyed WINDOW w AS (PARTITION BY block ORDER BY skey, id)),
        |cands AS (
        | SELECT p1 AS id_a, id AS id_b FROM lagged WHERE p1 IS NOT NULL
        | UNION ALL
        | SELECT p2, id FROM lagged WHERE p2 IS NOT NULL),
        |pref AS (
        | SELECT doc_id,
        |  substr(regexp_replace(lower(COALESCE(text, '')), '[^a-z0-9 ]', '', 'g'),
        |   1, 24) AS p
        | FROM documents)
        |SELECT c.id_a, c.id_b,
        | CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev
        |FROM cands c
        | JOIN pref a ON a.doc_id = c.id_a
        | JOIN pref b ON b.doc_id = c.id_b
        |WHERE levenshtein(a.p, b.p) <= 12
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_jarowinkler" ->
      """WITH keyed AS (
        | SELECT source AS block, COALESCE(substr(text, 1, 16), '') AS skey,
        |  doc_id AS id
        | FROM documents),
        |lagged AS (
        | SELECT block, id,
        |  LAG(id, 1) OVER w AS p1, LAG(id, 2) OVER w AS p2
        | FROM keyed WINDOW w AS (PARTITION BY block ORDER BY skey, id)),
        |cands AS (
        | SELECT p1 AS id_a, id AS id_b FROM lagged WHERE p1 IS NOT NULL
        | UNION ALL
        | SELECT p2, id FROM lagged WHERE p2 IS NOT NULL),
        |pref AS (
        | SELECT doc_id,
        |  substr(regexp_replace(lower(COALESCE(text, '')), '[^a-z0-9 ]', '', 'g'),
        |   1, 24) AS p
        | FROM documents)
        |SELECT id_a, id_b, jw FROM (
        | SELECT c.id_a, c.id_b,
        |  ROUND(jaro_winkler_similarity(a.p, b.p), 6) AS jw
        | FROM cands c
        |  JOIN pref a ON a.doc_id = c.id_a
        |  JOIN pref b ON b.doc_id = c.id_b)
        |WHERE jw >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding" -> embeddingNearDupOracle,
    "dedup_semantic" -> semanticDedupOracle()
  )
}
