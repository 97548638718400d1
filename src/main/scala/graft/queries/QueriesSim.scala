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

/** Sim slice of the SparkEntry corpus (see SparkEntry's scaladoc for the cross-engine
  * determinism rules every entry follows). Bodies moved verbatim from the
  * round-6 SparkEntry map literals; shared helpers live on SparkEntry
  * (private[graft]).
  */
private[graft] trait QueriesSim { this: SparkEntry.type =>

  // ---- headline builders. Replicas enter the sim_* queries as
  // rep-disjoint QUERY ids against one resident corpus; `rep` is not a
  // column here. The scheduling parameters (nBlocks, partitionQueries,
  // qSalt) never change a result; the bench passes its own.

  /** Brute-force cosine top-k (exact ANN baseline). */
  private[graft] def simBruteTopk(corpus: DataFrame, queries: DataFrame): DataFrame =
    Similarity.bruteForceTopK(corpus, queries, k = 10)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** Product-quantization ANN (8 sub-spaces x 16 centroids = 64x vector
    * compression) with ADC scoring and exact rerank; the whole pipeline —
    * codebook, encode, lookup tables, candidate cut — replays in the
    * oracle.
    */
  private[graft] def simPqTopk(corpus: DataFrame, queries: DataFrame): DataFrame =
    Similarity.pqTopK(corpus, queries, k = 10,
      m = 8, dsub = 8, codebookSize = 16, rerank = 40)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** Distributed exact kNN JOIN (scaladoc at the sim_knn_join entry). */
  private[graft] def simKnnJoin(corpus: DataFrame, queries: DataFrame,
      nBlocks: Int = 4, partitionQueries: Boolean = false): DataFrame =
    Similarity.knnJoin(corpus, queries, k = 3, nBlocks = nBlocks,
      partitionQueries = partitionQueries)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  /** IVF-partitioned approximate kNN join (scaladoc at the
    * sim_knn_join_ivf entry) over the given centroid frame.
    */
  private[graft] def simKnnJoinIvf(corpus: DataFrame, queries: DataFrame,
      cents: DataFrame, qSalt: Int = 1): DataFrame =
    Similarity.knnJoinIvfWithCentroids(corpus, queries, cents, k = 3,
      nProbe = 2, qSalt = qSalt)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy("query_id", "rank")

  protected def simQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Reciprocal-rank fusion of two retrieval rankers over the same
    // queries: BM25 top-20 and a term-coverage ranker (distinct query
    // words matched, doc-id tie-break), fused with exact integer-nano
    // RRF credits 1e9 DIV (60 + rank) and re-ranked on the bounded
    // merged set. The hybrid-retrieval staple (lexical + second signal).
    // Ranking-quality audit (NDCG@100 / MRR / AP@100) of a
    // deterministic length-based ranker against graded language
    // relevance (en=3, de=2, fr=1, else 0). Top-100 selection is a
    // bounded TakeOrderedAndProject; ALL windows then run on that
    // 100-row frame (the rank_fusion bounded-re-rank discipline — never
    // a corpus-wide unpartitioned window). Gains are 2^rel - 1 by CASE;
    // position weights round(1e9/log2(i+1)) are shared literals
    // (SparkEntry.ndcgWeights), so every metric is exact integer math:
    // per-position products, truncating quotients, DECIMAL(38)/HUGEINT
    // for the ndcg numerator.
    "rank_ndcg" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rel = expr("CASE lang WHEN 'en' THEN 3L WHEN 'de' THEN 2L" +
        " WHEN 'fr' THEN 1L ELSE 0L END")
      val top = t(s, d, "documents")
        .where(col("n_chars").isNotNull)
        .select(col("doc_id"), col("n_chars"), rel.as("rel"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(100)
      val wLit = array(ndcgWeights.map(lit): _*)
      val g = top
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("irk", row_number().over(
          Window.orderBy(col("rel").desc, col("n_chars").desc, col("doc_id"))))
        .withColumn("gain", expr(
          "CASE rel WHEN 3 THEN 7L WHEN 2 THEN 3L WHEN 1 THEN 1L ELSE 0L END"))
        .withColumn("hit", (col("rel") >= 1).cast("long"))
        .withColumn("hits_cum", sum("hit").over(Window.orderBy("rk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      g.agg(
          count(lit(1)).as("n_ranked"),
          sum("hit").as("n_rel"),
          sum(col("gain") * element_at(wLit, col("rk").cast("int")))
            .as("dcg_nano"),
          sum(col("gain") * element_at(wLit, col("irk").cast("int")))
            .as("idcg_nano"),
          min(when(col("hit") === 1, col("rk"))).as("first_rel"),
          sum(when(col("hit") === 1,
            expr("hits_cum * 1000000000L DIV rk")).otherwise(lit(0L)))
            .as("ap_sum"))
        .select(col("n_ranked"), col("n_rel"),
          col("dcg_nano"), col("idcg_nano"),
          expr("CAST(dcg_nano AS DECIMAL(38,0)) * 1000000000" +
            " DIV NULLIF(idcg_nano, 0)").as("ndcg_nano"),
          expr("1000000000L DIV first_rel").as("mrr_nano"),
          expr("ap_sum DIV NULLIF(n_rel, 0)").as("ap_nano"))
    }),

    // Multi-query ranking audit: the rank_ndcg metric battery composed
    // over bm25TopK's per-query rankings (k=20, the rank_fusion query
    // battery), graded by language relevance — per-query NDCG/MRR/AP rows
    // plus one macro-averaged row (query_id NULL; truncating integer mean
    // over the per-query rows, NULL metrics counted as 0). The retrieved
    // set is bounded (|Q|·k rows), so it broadcasts to the relevance
    // lookup and every window runs on the bounded frame — never a
    // corpus-wide window.
    "rank_ndcg_multi" -> ((s, d) => {
      val qs = bm25Queries
      val docs = t(s, d, "documents")
      val rel = expr("CASE lang WHEN 'en' THEN 3L WHEN 'de' THEN 2L" +
        " WHEN 'fr' THEN 1L ELSE 0L END")
      // |Q|·k rows; eagerly pinned so the bm25 scoring chain plans ONCE —
      // it feeds the relevance join and (through perQ) both union
      // branches, and alias-renumbered replans of the whole chain per
      // consumer are exactly the re-plan trap the Graph discipline avoids
      val retrieved = TextAnalysis.bm25TopK(docs, qs, k = 20)
        .select("query_id", "doc_id", "rank").localCheckpoint(true)
      val graded = docs.select(col("doc_id"), rel.as("rel"))
        .join(broadcast(retrieved), Seq("doc_id"))
      val wLit = array(ndcgWeights.map(lit): _*)
      val wq = Window.partitionBy("query_id")
      val g = graded
        .withColumn("irk", row_number().over(
          wq.orderBy(col("rel").desc, col("rank").asc)))
        .withColumn("gain", expr(
          "CASE rel WHEN 3 THEN 7L WHEN 2 THEN 3L WHEN 1 THEN 1L ELSE 0L END"))
        .withColumn("hit", (col("rel") >= 1).cast("long"))
        .withColumn("hits_cum", sum("hit").over(wq.orderBy("rank")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val perQ = g.groupBy("query_id").agg(
          count(lit(1)).as("n_ranked"),
          sum("hit").as("n_rel"),
          sum(col("gain") * element_at(wLit, col("rank").cast("int")))
            .as("dcg_nano"),
          sum(col("gain") * element_at(wLit, col("irk").cast("int")))
            .as("idcg_nano"),
          min(when(col("hit") === 1, col("rank"))).as("first_rel"),
          sum(when(col("hit") === 1,
            expr("hits_cum * 1000000000L DIV rank")).otherwise(lit(0L)))
            .as("ap_sum"))
        .select(col("query_id"), col("n_ranked"), col("n_rel"),
          expr("CAST(dcg_nano AS DECIMAL(38,0)) * 1000000000" +
            " DIV NULLIF(idcg_nano, 0)").as("ndcg_nano"),
          expr("1000000000L DIV first_rel").as("mrr_nano"),
          expr("ap_sum DIV NULLIF(n_rel, 0)").as("ap_nano"))
        .localCheckpoint(true) // |Q| rows; feeds both union branches
      val macroRow = perQ.agg(
          count(lit(1)).as("n_q"),
          sum("n_ranked").as("n_ranked"),
          sum("n_rel").as("n_rel"),
          sum(coalesce(col("ndcg_nano"), lit(0L))).as("ndcg_s"),
          sum(coalesce(col("mrr_nano"), lit(0L))).as("mrr_s"),
          sum(coalesce(col("ap_nano"), lit(0L))).as("ap_s"))
        .select(lit(null).cast("bigint").as("query_id"),
          col("n_ranked"), col("n_rel"),
          expr("ndcg_s DIV NULLIF(n_q, 0)").as("ndcg_nano"),
          expr("mrr_s DIV NULLIF(n_q, 0)").as("mrr_nano"),
          expr("ap_s DIV NULLIF(n_q, 0)").as("ap_nano"))
      perQ.unionByName(macroRow).orderBy(col("query_id"))
    }),

    "rank_fusion_rrf" -> ((s, d) => {
      import s.implicits._
      val qs = bm25Queries
      val docs = t(s, d, "documents")
      val bm = TextAnalysis.bm25TopK(docs, qs, k = 20)
        .select("query_id", "doc_id", "rank")
      val q = qs.flatMap { case (qid, ts) => ts.map(w => (qid, w)) }
        .toDF("query_id", "word")
      // The broadcast word join is the FIRST thing after the explode: it
      // filters the token stream map-side to the 9 query words before any
      // exchange (guide §2.3). A corpus-wide (doc_id, word) distinct here
      // would shuffle every token for nothing — count_distinct already
      // dedups repeated hits inside the one (query_id, doc_id) aggregate.
      val cov = graft.core.Graft.spread(docs)
        .select(col("doc_id"),
          explode(graft.functions.Text.tokens(col("text"))).as("word"))
        .where(col("word") =!= "")
        .join(broadcast(q), Seq("word"))
        .groupBy("query_id", "doc_id")
        .agg(count_distinct(col("word")).cast("double").as("s"))
      val covRanked = graft.ops.TopK.perGroupTopK(
          cov, Seq("query_id"), "doc_id", "s", 20)
        .select("query_id", "doc_id", "rank")
      graft.ops.Fusion.rrf(Seq(bm, covRanked), Seq("query_id"), "doc_id",
          "rank")
        .orderBy("query_id", "rrf_rank")
    }),

    // Radius search: all corpus neighbors of the 5 probe vectors with
    // cosine >= 0.1 (threshold retrieval — the "everything this similar"
    // complement of top-k). Broadcast queries, map-side kernel, no
    // shuffle; output is the match set only.
    "sim_range_search" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.rangeSearch(emb, emb.where(col("vec_id") < 5), tau = 0.1)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "corpus_id")
    }),

    "sim_brute_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      simBruteTopk(emb, emb.where(col("vec_id") < 5))
    }),

    // Distributed exact kNN JOIN, corpus vs corpus (the kNN-graph
    // builder): BOTH sides are the full embeddings table — no query-side
    // collect anywhere (PlanShapeSpec asserts zero jobs at build). Block
    // cogroup + bounded merge; exact, so the oracle is the same ranked
    // cross join as sim_brute_topk over all queries.
    "sim_knn_join" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      simKnnJoin(emb, emb)
    }),

    // SemDeDup-at-corpus-scale composite: the distributed kNN self-join
    // builds the neighbor graph (no collect on either side), edges keep
    // 6-dp cosine >= 0.95 (the 6-dp values are the cross-engine-equal
    // ones sim_knn_join hash-verifies, so the threshold can never
    // tie-break differently), and Kiveris star contraction labels each
    // vector with its duplicate-cluster representative.
    "sim_knn_graph_components" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val pairs = Similarity.knnJoin(emb, emb, k = 3, nBlocks = 4)
        .where(round(col("cosine"), 6) >= 0.95)
        .select(col("query_id").as("id_a"), col("corpus_id").as("id_b"))
      graft.ops.Dedup.clusterNearDups(
        emb.select(col("vec_id").as("id")), pairs, "id", maxIters = 25)
        .orderBy("id")
    }),

    // Matryoshka truncation audit: recall@10 of brute-force cosine
    // retrieval when embeddings are truncated to their first 16 of 64
    // dims (the MRL serving trade-off, Kusupati et al. 2022) against the
    // full-dim ranking. Both rankings use the exact per-partition kernel;
    // the report is pure integers (overlap count, truncating nano
    // recall), so cosine ULPs never surface.
    "sim_matryoshka_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      def trunc(df: DataFrame) =
        df.withColumn("embedding", slice(col("embedding"), 1, 16))
      val full = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select("query_id", "corpus_id")
      val cut = Similarity.bruteForceTopK(trunc(emb), trunc(queries), k = 10)
        .select("query_id", "corpus_id")
      val overlap = full.join(cut, Seq("query_id", "corpus_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      queries.select(col("vec_id").as("query_id"))
        .join(overlap, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          expr("coalesce(n_overlap, 0L) * 1000000000L DIV 10")
            .as("recall_nano"))
        .orderBy("query_id")
    }),

    // 1-bit binary quantization ANN: sign-bit pack to two 32-bit words
    // per vector, exact Hamming ranking via xor + popcount — the 1-bit
    // tier of the quantization ladder (brute / LSH / IVF / SQ8 / PQ /
    // binary), integer end to end.
    "sim_binary_hamming_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.binaryHammingTopK(emb, emb.where(col("vec_id") < 5), k = 10)
        .orderBy("query_id", "rank")
    }),

    // Hard-negative mining: per probe vector, the 10 most-similar
    // corpus vectors with a DIFFERENT label — the batch step that turns
    // a labeled corpus into contrastive training pairs.
    "sim_hard_negatives" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 5), k = 10)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // Diverse retrieval: Maximal Marginal Relevance over each probe's
    // top-20 brute-force pool — 8 greedy picks balancing query relevance
    // against max similarity to already-picked docs (λ = 0.5). All
    // comparisons happen in exact integer nanos, so the whole greedy
    // chain (picks, ties, scores) replays as an unrolled SQL chain.
    "sim_mmr_select" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.mmrSelect(emb, emb.where(col("vec_id") < 3),
        poolK = 20, k = 8)
        .orderBy("query_id", "pick")
    }),

    // k-NN majority-vote pseudo-labeling: every 25th vector plays the
    // unlabeled query batch, the rest the labeled corpus; prediction =
    // most common label among the 10 exact-cosine nearest (ties to the
    // smallest label). True label joined back for accuracy inspection.
    "sim_knn_classify" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") % 25 === 0)
      val labeled = emb.where(col("vec_id") % 25 =!= 0)
      Similarity.knnClassify(labeled, queries, k = 10)
        .join(queries.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), Seq("query_id"))
        .orderBy("query_id")
    }),

    // IVF with Lloyd-TRAINED centroids (2 iterations from the prefix-
    // sample init): assignment + decimal-exact per-dimension means are
    // bit-reproducible, so even the TRAINING is oracle-replayed (the
    // DuckDB twin unrolls both iterations in SQL).
    "sim_ivf_trained_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopKTrained(emb, emb.where(col("vec_id") < 5), k = 10,
        nCells = 16, nProbe = 2, iters = 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // Train-once / serve-many ANN lifecycle (AnnIndex): the first call
    // per (JVM, dataset) trains the 2-round Lloyd centroids and persists
    // them as a parquet index table; the query itself LOADS that table
    // and probes — no Lloyd rounds on the serve path (PlanShapeSpec
    // asserts zero jobs at plan time). Hash-matches sim_ivf_trained_topk
    // — same oracle — because parquet round-trips the IEEE centroid
    // doubles bit-for-bit and the probe arithmetic is shared.
    "sim_ivf_persisted_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = scratch("ivf_index", d) { out =>
        graft.ops.AnnIndex.trainAndSaveIvf(t(s, d, "embeddings"),
          nCells = 16, iters = 2, s"$out/centroids")
      }
      val cents = graft.ops.AnnIndex.loadIvfCentroids(s, s"$idx/centroids")
      Similarity.ivfTopKWithCentroids(emb, emb.where(col("vec_id") < 5),
        cents, k = 10, nProbe = 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // The PQ half of the persisted-index lifecycle: Lloyd-refined
    // sub-codebooks trained+saved once, reloaded (m × codebookSize rows
    // — bounded index state) and served. Hash-matches
    // sim_pq_trained_topk (same oracle).
    "sim_pq_persisted_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = scratch("pq_index", d) { out =>
        graft.ops.AnnIndex.trainAndSavePq(t(s, d, "embeddings"), m = 8,
          dsub = 8, codebookSize = 16, iters = 2, s"$out/codebook")
      }
      val cb = graft.ops.AnnIndex.loadPqCodebook(s, s"$idx/codebook")
      Similarity.pqTopKWithCodebook(emb, emb.where(col("vec_id") < 5),
        cb, k = 10, m = 8, dsub = 8, codebookSize = 16, rerank = 40)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // Per-label embedding centroids (class prototypes): relational
    // posexplode + decimal-exact per-dimension means + position-sorted
    // regroup — scales like a group-by, no per-group vector buffers.
    // (Scalar projection of the centroid rather than the raw list column:
    // Spark and DuckDB disagree on the arrow list CHILD FIELD NAME
    // ("element" vs "l"), a schema-compare hazard; the FULL centroids are
    // cross-checked anyway by emb_assign_nearest's distances.)
    "emb_label_centroids" -> ((s, d) =>
      graft.ops.EmbeddingAgg.groupCentroids(
        Graft.spread(t(s, d, "embeddings")), "label", "embedding")
        .select(col("label"), size(col("centroid")).cast("long").as("n_dims"),
          col("centroid")(0).as("c0"), col("centroid")(1).as("c1"),
          col("centroid")(2).as("c2"), col("centroid")(3).as("c3"))
        .orderBy("label")),

    // Vector-norm histogram: unit-wide buckets of the L2 norm over clean
    // 64-dim vectors (DotProduct kernel == the oracle's in-order fold,
    // so floor(norm) buckets bit-agree) — the scale-sanity profile run
    // before cosine math is trusted.
    "emb_norm_hist" -> ((s, d) => {
      val raw = col("embedding")
      val nrm = t(s, d, "embeddings")
        .where(raw.isNotNull && size(raw) === 64 && !exists(raw, _.isNull))
        .select(sqrt(graft.plans.DotProduct(raw, raw)).as("nrm"))
      nrm.groupBy(floor(col("nrm")).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), min("nrm").as("min_norm"),
          max("nrm").as("max_norm"))
        .orderBy("bucket")
    }),

    // Embedding distribution drift: per label, L2 shift between the
    // decimal-exact centroids of the even and odd vec_id halves — the
    // embedding-space counterpart of dq_psi_drift. The centroid join is
    // label-keyed (bounded); the distance is the L2Sq kernel (bit-equal
    // to the oracle's in-order list fold), nano-rounded.
    "emb_centroid_drift" -> ((s, d) => {
      val emb = Graft.spread(t(s, d, "embeddings"))
        .where(col("label").isNotNull)
      val ha = emb.where(col("vec_id") % 2 === 0)
      val hb = emb.where(col("vec_id") % 2 === 1)
      def cent(df: DataFrame, out: String) =
        graft.ops.EmbeddingAgg.groupCentroids(df, "label", "embedding")
          .withColumnRenamed("centroid", out)
      def cnt(df: DataFrame, out: String) =
        df.groupBy("label").agg(count(lit(1)).as(out))
      cent(ha, "cva").join(cent(hb, "cvb"), Seq("label"))
        .join(cnt(ha, "n_a"), Seq("label"))
        .join(cnt(hb, "n_b"), Seq("label"))
        .select(col("label"), col("n_a"), col("n_b"),
          round(sqrt(graft.plans.L2Sq(col("cva"), col("cvb"))) * 1e9)
            .cast("long").as("shift_nano"))
        .orderBy("label")
    }),

    // Per-dimension embedding health profile (dead / degenerate / NaN-ish
    // dimension detection before training): positions present, non-null
    // count, decimal-nano-exact mean, min and max per dimension. One
    // posexplode + hash aggregate; output is bounded by the
    // dimensionality, never the corpus.
    "emb_dim_stats" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(posexplode(Vectors.asDouble(col("embedding")))
          .as(Seq("i", "v")))
        .groupBy(col("i").cast("long").as("i"))
        .agg(count(lit(1)).as("n_pos"), count(col("v")).as("n"),
          (sum(expr("CAST(round(v * 1e9) AS BIGINT)")).cast("double") /
            count(col("v")) / lit(1.0e9)).as("mean"),
          min("v").as("mn"), max("v").as("mx"))
        .orderBy("i")),

    // Covariance of the embedding distribution (PCA input): upper-
    // triangle entries, nano-exact product sums so every double replays
    // bit-for-bit. The 64x64 matrix is the bounded output; the corpus
    // only streams through the (i, j) hash aggregate.
    "emb_covariance" -> ((s, d) =>
      graft.ops.EmbeddingAgg.covarianceUpper(
        Graft.spread(t(s, d, "embeddings")), "embedding", dim = 64)
        .orderBy("i", "j")),

    // PCA projection: the distributed covariance above collects to the
    // driver (2,080 entries — dim-bounded, never corpus-sized), 30
    // power-iteration rounds extract the first principal component, and
    // the corpus projects onto the broadcast direction in one map-side
    // pass (DotProduct kernel; degenerate vectors -> NULL score). The
    // oracle replays the iteration as a recursive CTE over the same
    // ordered folds, so every score lands bit-exact. At 100 TB the only
    // corpus-scale work is the covariance hash-aggregate + this map pass.
    "emb_pca_project" -> ((s, d) => {
      val emb = Graft.spread(t(s, d, "embeddings"))
      val cov = graft.ops.EmbeddingAgg.covarianceUpper(emb, "embedding", dim = 64)
      val pc = graft.ops.EmbeddingAgg.pc1(cov, dim = 64)
      val pcLit = array(pc.map(x => lit(x)): _*)
      emb.select(col("vec_id"),
        Vectors.dot(Vectors.asDouble(col("embedding")), pcLit).as("pc1_score"))
        .orderBy("vec_id")
    }),

    // Two-component PCA map: Hotelling deflation (C - λ v vᵀ) after the
    // first power iteration yields the second component; the corpus
    // projects onto both broadcast directions in the same map-side pass.
    // The oracle replays BOTH iterations (two recursive CTEs) plus the
    // Rayleigh quotient and deflation arithmetic, ordered-fold for
    // ordered-fold.
    "emb_pca_top2" -> ((s, d) => {
      val emb = Graft.spread(t(s, d, "embeddings"))
      val cov = graft.ops.EmbeddingAgg.covarianceUpper(emb, "embedding", dim = 64)
      val pcs = graft.ops.EmbeddingAgg.pcTop(cov, dim = 64, k = 2)
      val p1 = array(pcs(0)._1.map(x => lit(x)): _*)
      val p2 = array(pcs(1)._1.map(x => lit(x)): _*)
      emb.select(col("vec_id"),
        Vectors.dot(Vectors.asDouble(col("embedding")), p1).as("pc1_score"),
        Vectors.dot(Vectors.asDouble(col("embedding")), p2).as("pc2_score"))
        .orderBy("vec_id")
    }),

    // Per-label centroid-distance outliers (p95 cutoff broadcast back):
    // flags vectors far from their own class prototype — mislabeled or
    // anomalous rows — without any global sort. The verdict is coalesced
    // to a NON-NULL boolean (null dist stays as the degenerate marker):
    // nullable booleans round-trip differently through the two engines'
    // pandas conversions (None vs NaN), a compare-harness trap.
    "emb_outliers" -> ((s, d) =>
      graft.ops.EmbeddingAgg.centroidOutliers(
        Graft.spread(t(s, d, "embeddings")), "vec_id", "embedding", "label")
        .withColumn("dist", round(col("dist"), 6))
        .withColumn("is_outlier", coalesce(col("is_outlier"), lit(false)))
        .orderBy("vec_id")),

    // Nearest-centroid assignment (classify every vector against the
    // label prototypes): centroids broadcast, corpus scored map-side,
    // bounded top-1 finisher.
    "emb_assign_nearest" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = graft.ops.EmbeddingAgg.groupCentroids(emb, "label", "embedding")
      graft.ops.EmbeddingAgg.assignNearest(
        Graft.spread(emb), "vec_id", "embedding", cents, "label", "centroid")
        .withColumn("dist", round(col("dist"), 6))
        .orderBy("vec_id")
    }),

    // LSH-bucketed approximate top-k (multi-probe random hyperplanes).
    // bits sized to the corpus (2^4 buckets over 500 vectors): recall@10
    // measured 0.26 vs 0.03 at 8 bits — see OpsSpec's recall test.
    "sim_lsh_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 5), k = 10,
        dim = 64, bits = 4, probes = 3)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    "sim_pq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      simPqTopk(emb, emb.where(col("vec_id") < 5))
    }),

    // PQ with Lloyd-trained sub-codebooks (2 rounds of assign + decimal-
    // exact per-dim means, seeded from the same prefix sample): the whole
    // training chain replays in the oracle, like sim_ivf_trained_topk's.
    "sim_pq_trained_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqTopKTrained(emb, emb.where(col("vec_id") < 5), k = 10,
        m = 8, dsub = 8, codebookSize = 16, rerank = 40, iters = 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ composed index (the production FAISS-style layout): coarse
    // cells prune the candidate scan, PQ codes ADC-score what remains,
    // exact cosine reranks the winners. Both prunes replay in the oracle.
    "sim_ivfpq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 5), k = 10,
        nCells = 16, nProbe = 4, m = 8, dsub = 8, codebookSize = 16,
        rerank = 40)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // Scalar-quantized (int8) ANN with exact rerank: encode is replayed in
    // the oracle bit-for-bit (amax fold -> scale -> rounded tinyint codes),
    // approximate ranking picks 40 candidates, exact cosine reranks to 10.
    "sim_sq8_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.sq8TopK(emb, emb.where(col("vec_id") < 5), k = 10,
        rerank = 40)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // IVF-style approximate top-k (centroid cells + nProbe probing).
    "sim_ivf_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5), k = 10,
        nCells = 16, nProbe = 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // ANN quality audit: recall@10 of IVF retrieval vs the brute-force
    // ground truth at nProbe ∈ {1,2,4} — the tuning curve that decides
    // nProbe before a production run (the matryoshka-recall discipline:
    // two retrieval passes + a semi-join overlap, integer-only report
    // absorbing cosine ULPs). One row per (n_probe, query).
    "sim_ivf_recall_sweep" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.where(col("vec_id") < 5)
      val brute = Similarity.bruteForceTopK(emb, q, k = 10)
        .select(col("query_id"), col("corpus_id"))
      val sweeps = Seq(1, 2, 4).map { np =>
        Similarity.ivfTopK(emb, q, k = 10, nCells = 16, nProbe = np)
          .select(col("query_id"), col("corpus_id"))
          .join(brute, Seq("query_id", "corpus_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
          .select(lit(np.toLong).as("n_probe"), col("query_id"),
            col("n_overlap"))
      }.reduce(_ unionByName _)
      val grid = Seq(1L, 2L, 4L)
        .map(np => q.select(lit(np).as("n_probe"),
          col("vec_id").as("query_id")))
        .reduce(_ unionByName _)
      grid.join(sweeps, Seq("n_probe", "query_id"), "left")
        .select(col("n_probe"), col("query_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          (coalesce(col("n_overlap"), lit(0L)) * 100000000L)
            .as("recall_nano"))
        .orderBy("n_probe", "query_id")
    }),

    // IVF-partitioned APPROXIMATE kNN join, corpus vs corpus — the scale
    // complement to sim_knn_join's exact block join: candidates meet only
    // inside IVF cells (one shuffle join co-partitioned on the cell id,
    // |C| + nProbe·|Q| rows on the wire), so pair work is Σ|cell|·|probe|
    // instead of |C|·|Q|. Both sides are the full embeddings table; no
    // collect on either side (PlanShapeSpec asserts zero jobs at build
    // and a non-broadcast probe join).
    "sim_knn_join_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      simKnnJoinIvf(emb, emb, Similarity.prefixCentroids(emb, nCells = 16))
    }),

    // knnJoinIvf with Lloyd-TRAINED centroids — the trained in-line form:
    // same cell-cogroup kernel as sim_knn_join_ivf, centroids from the
    // 2-round decimal-exact Lloyd chain, so even the TRAINING is
    // oracle-replayed (the DuckDB twin unrolls both iterations).
    "sim_knn_join_ivf_trained" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.knnJoinIvfTrained(emb, emb, k = 3, nCells = 16,
        nProbe = 2, iters = 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    }),

    // The JOIN-shaped half of the persisted-index lifecycle
    // (sim_ivf_persisted_topk covers the retrieval shape): centroids
    // trained+saved once (AnnIndex, same index the retrieval entry
    // persists), reloaded lazily and consumed by the kNN join — zero
    // training jobs at plan time (PlanShapeSpec asserts it).
    // Hash-matches sim_knn_join_ivf_trained (same oracle): parquet
    // round-trips the IEEE centroid doubles bit-for-bit and the
    // assignment/scoring arithmetic is shared.
    "sim_knn_join_ivf_persisted" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = scratch("ivf_index", d) { out =>
        graft.ops.AnnIndex.trainAndSaveIvf(t(s, d, "embeddings"),
          nCells = 16, iters = 2, s"$out/centroids")
      }
      val cents = graft.ops.AnnIndex.loadIvfCentroids(s, s"$idx/centroids")
      Similarity.knnJoinIvfWithCentroids(emb, emb, cents, k = 3, nProbe = 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank")
    })
  )

  protected def simOracles: Map[String, String] = Map(
    "emb_pca_top2" -> pcaTop2Oracle,

    // BM25 scoring CTEs mirror text_bm25_topk (same query battery, rank
    // cap 20); the coverage ranker and the fused RRF re-rank are exact
    // integer arithmetic.
    // Same position-weight literals as the engine (SparkEntry.ndcgWeights
    // interpolates into both sides); all metrics exact integer math.
    "rank_ndcg" -> {
      val w = ndcgWeights.mkString("[", ", ", "]")
      s"""WITH top AS (
         | SELECT doc_id, n_chars,
         |  CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 2
         |            WHEN 'fr' THEN 1 ELSE 0 END AS rel
         | FROM documents WHERE n_chars IS NOT NULL
         | ORDER BY n_chars DESC, doc_id LIMIT 100),
         |rk AS (
         | SELECT doc_id, rel,
         |  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk,
         |  row_number() OVER (ORDER BY rel DESC, n_chars DESC, doc_id)
         |    AS irk
         | FROM top),
         |g AS (
         | SELECT rk, irk, rel,
         |  CASE rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END
         |    AS gain,
         |  CASE WHEN rel >= 1 THEN 1 ELSE 0 END AS hit,
         |  CAST(SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) OVER
         |    (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS hits_cum
         | FROM rk),
         |agg AS (
         | SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
         |  CAST(SUM(hit) AS BIGINT) AS n_rel,
         |  CAST(SUM(CAST(gain AS BIGINT) * ($w)[rk]) AS BIGINT) AS dcg_nano,
         |  CAST(SUM(CAST(gain AS BIGINT) * ($w)[irk]) AS BIGINT)
         |    AS idcg_nano,
         |  MIN(CASE WHEN hit = 1 THEN rk END) AS first_rel,
         |  CAST(SUM(CASE WHEN hit = 1 THEN hits_cum * 1000000000 // rk
         |                ELSE 0 END) AS BIGINT) AS ap_sum
         | FROM g)
         |SELECT n_ranked, n_rel, dcg_nano, idcg_nano,
         | CAST(CAST(dcg_nano AS HUGEINT) * 1000000000
         |   // NULLIF(idcg_nano, 0) AS BIGINT) AS ndcg_nano,
         | 1000000000 // first_rel AS mrr_nano,
         | ap_sum // NULLIF(n_rel, 0) AS ap_nano
         |FROM agg""".stripMargin
    },

    // BM25 CTEs verbatim from text_bm25_topk (rank cap 20); metric math
    // mirrors rank_ndcg per query; macro row = truncating integer mean
    // over the per-query rows with NULL metrics as 0.
    "rank_ndcg_multi" -> {
      val w = ndcgWeights.mkString("[", ", ", "]")
      s"""WITH q AS (SELECT CAST(qid AS BIGINT) AS query_id, word FROM (VALUES
         |  (1,'spark'),(1,'join'),(1,'fast'),
         |  (2,'customer'),(2,'query'),(2,'slow'),
         |  (3,'vector'),(3,'hash'),(3,'merge')) t(qid, word)),
         |tf AS (
         | SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM (
         |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
         |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
         | WHERE word <> '' GROUP BY doc_id, word),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
         |dfs AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf
         |        WHERE word IN (SELECT word FROM q) GROUP BY word),
         |sc AS (
         | SELECT query_id, doc_id,
         |  CAST(SUM(CAST(round(
         |   ln((CAST(st.n AS DOUBLE) - CAST(dfs.df AS DOUBLE) + 0.5) / (CAST(dfs.df AS DOUBLE) + 0.5) + 1.0)
         |   * ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE)
         |      + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(st.tot AS DOUBLE) / CAST(st.n AS DOUBLE))))))
         |   * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS score
         | FROM q JOIN tf USING (word) JOIN dfs USING (word) JOIN dl USING (doc_id) CROSS JOIN st
         | GROUP BY query_id, doc_id),
         |r AS (SELECT query_id, doc_id,
         | CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
         | FROM sc QUALIFY rank <= 20),
         |g0 AS (
         | SELECT r.query_id, r.rank,
         |  CASE d.lang WHEN 'en' THEN 3 WHEN 'de' THEN 2
         |              WHEN 'fr' THEN 1 ELSE 0 END AS rel
         | FROM r JOIN documents d USING (doc_id)),
         |g AS (
         | SELECT query_id, rank,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, rank ASC) AS irk,
         |  CASE rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END
         |    AS gain,
         |  CASE WHEN rel >= 1 THEN 1 ELSE 0 END AS hit,
         |  CAST(SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) OVER
         |    (PARTITION BY query_id ORDER BY rank
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS hits_cum
         | FROM g0),
         |pq AS (
         | SELECT query_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_ranked,
         |  CAST(SUM(hit) AS BIGINT) AS n_rel,
         |  CAST(SUM(CAST(gain AS BIGINT) * ($w)[rank]) AS BIGINT) AS dcg_nano,
         |  CAST(SUM(CAST(gain AS BIGINT) * ($w)[irk]) AS BIGINT) AS idcg_nano,
         |  MIN(CASE WHEN hit = 1 THEN rank END) AS first_rel,
         |  CAST(SUM(CASE WHEN hit = 1 THEN hits_cum * 1000000000 // rank
         |                ELSE 0 END) AS BIGINT) AS ap_s
         | FROM g GROUP BY query_id),
         |pqm AS (
         | SELECT query_id, n_ranked, n_rel,
         |  CAST(CAST(dcg_nano AS HUGEINT) * 1000000000
         |    // NULLIF(idcg_nano, 0) AS BIGINT) AS ndcg_nano,
         |  1000000000 // first_rel AS mrr_nano,
         |  ap_s // NULLIF(n_rel, 0) AS ap_nano
         | FROM pq)
         |SELECT query_id, n_ranked, n_rel, ndcg_nano, mrr_nano, ap_nano
         |FROM pqm
         |UNION ALL
         |SELECT CAST(NULL AS BIGINT) AS query_id,
         | CAST(SUM(n_ranked) AS BIGINT) AS n_ranked,
         | CAST(SUM(n_rel) AS BIGINT) AS n_rel,
         | CAST(SUM(COALESCE(ndcg_nano, 0)) AS BIGINT)
         |   // NULLIF(COUNT(*), 0) AS ndcg_nano,
         | CAST(SUM(COALESCE(mrr_nano, 0)) AS BIGINT)
         |   // NULLIF(COUNT(*), 0) AS mrr_nano,
         | CAST(SUM(COALESCE(ap_nano, 0)) AS BIGINT)
         |   // NULLIF(COUNT(*), 0) AS ap_nano
         |FROM pqm""".stripMargin
    },

    "rank_fusion_rrf" ->
      """WITH q AS (SELECT CAST(qid AS BIGINT) AS query_id, word FROM (VALUES
        |  (1,'spark'),(1,'join'),(1,'fast'),
        |  (2,'customer'),(2,'query'),(2,'slow'),
        |  (3,'vector'),(3,'hash'),(3,'merge')) t(qid, word)),
        |tf AS (
        | SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        | WHERE word <> '' GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
        |dfs AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf
        |        WHERE word IN (SELECT word FROM q) GROUP BY word),
        |sc AS (
        | SELECT query_id, doc_id,
        |  CAST(SUM(CAST(round(
        |   ln((CAST(st.n AS DOUBLE) - CAST(dfs.df AS DOUBLE) + 0.5) / (CAST(dfs.df AS DOUBLE) + 0.5) + 1.0)
        |   * ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE)
        |      + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / (CAST(st.tot AS DOUBLE) / CAST(st.n AS DOUBLE))))))
        |   * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS score
        | FROM q JOIN tf USING (word) JOIN dfs USING (word) JOIN dl USING (doc_id) CROSS JOIN st
        | GROUP BY query_id, doc_id),
        |r1 AS (SELECT query_id, doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
        | FROM sc QUALIFY rank <= 20),
        |cov AS (
        | SELECT query_id, doc_id, COUNT(DISTINCT word) AS nm
        | FROM (SELECT DISTINCT doc_id, word FROM tf) dw JOIN q USING (word)
        | GROUP BY 1, 2),
        |r2 AS (SELECT query_id, doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY nm DESC, doc_id ASC) AS BIGINT) AS rank
        | FROM cov QUALIFY rank <= 20),
        |fused AS (
        | SELECT query_id, doc_id, r1.rank AS rank_1, r2.rank AS rank_2,
        |  COALESCE(1000000000 // (60 + r1.rank), 0)
        |   + COALESCE(1000000000 // (60 + r2.rank), 0) AS rrf_nano
        | FROM r1 FULL OUTER JOIN r2 USING (query_id, doc_id))
        |SELECT query_id, doc_id, rank_1, rank_2,
        | CAST(rrf_nano AS BIGINT) AS rrf_nano,
        | CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |   ORDER BY rrf_nano DESC, doc_id) AS BIGINT) AS rrf_rank
        |FROM fused QUALIFY rrf_rank <= 10
        |ORDER BY query_id, rrf_rank""".stripMargin,

    "sim_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         |            label AS q_label
         |           FROM embeddings WHERE vec_id < 5),
         | c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv,
         |        label AS c_label
         |       FROM embeddings),
         | scored AS (
         |  SELECT q.query_id, c.corpus_id,
         |   ${cosineSql("q.qv", "c.cv")} AS cosine
         |  FROM c CROSS JOIN q
         |  WHERE c.corpus_id <> q.query_id
         |   AND c.c_label IS DISTINCT FROM q.q_label)
         |SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
         |FROM (
         |  SELECT query_id, corpus_id, cosine,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY cosine DESC, corpus_id ASC) AS rank
         |  FROM scored)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "sim_range_search" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |           FROM embeddings WHERE vec_id < 5),
         | c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
         |       FROM embeddings)
         |SELECT q.query_id, c.corpus_id,
         | ROUND(${cosineSql("q.qv", "c.cv")}, 6) AS cosine
         |FROM c CROSS JOIN q
         |WHERE c.corpus_id <> q.query_id
         | AND ${cosineSql("q.qv", "c.cv")} >= 0.1
         |ORDER BY query_id, corpus_id""".stripMargin,

    "sim_mmr_select" -> mmrSelectOracle,
    "sim_brute_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |           FROM embeddings WHERE vec_id < 5),
         | c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
         | scored AS (
         |  SELECT q.query_id, c.corpus_id,
         |   ${cosineSql("q.qv", "c.cv")} AS cosine
         |  FROM c CROSS JOIN q WHERE c.corpus_id <> q.query_id),
         | ranked AS (
         |  SELECT query_id, corpus_id, cosine,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // Norms precompute once per vector (lateral alias), then one dot per
    // pair: same arithmetic as cosineSql — sqrt is deterministic, and
    // d/(qn*cn) is the engine kernel's own expression shape.
    "sim_knn_join" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
         | scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |   ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id),
         | ranked AS (
         |  SELECT query_id, corpus_id, cosine,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // Recursive reach replays the star contraction's fixed point; every
    // upstream CTE is MATERIALIZED (the emb_pca_top2 lesson: DuckDB
    // inlines CTEs into each recursive iteration otherwise).
    "sim_knn_graph_components" ->
      s"""WITH RECURSIVE e AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         | n AS MATERIALIZED (
         |  SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
         | scored AS MATERIALIZED (
         |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |   ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id),
         | ranked AS MATERIALIZED (
         |  SELECT query_id, corpus_id, cosine,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY cosine DESC, corpus_id ASC) AS rank
         |  FROM scored),
         | edges0 AS MATERIALIZED (
         |  SELECT query_id AS a, corpus_id AS b FROM ranked
         |  WHERE rank <= 3 AND ROUND(cosine, 6) >= 0.95),
         | edges AS MATERIALIZED (
         |  SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
         | reach AS (
         |  SELECT vec_id AS id, vec_id AS r FROM embeddings
         |  UNION
         |  SELECT reach.id, e2.b FROM reach JOIN edges e2 ON e2.a = reach.r)
         |SELECT id, MIN(r) AS component FROM reach GROUP BY id
         |ORDER BY id""".stripMargin,

    "sim_binary_hamming_topk" ->
      """WITH clean AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        | WHERE embedding IS NOT NULL AND len(embedding) = 64
        |  AND len(embedding) = list_aggregate(embedding, 'count')),
        |el AS (SELECT vec_id, unnest(v) AS x,
        |        generate_subscripts(v, 1) - 1 AS i FROM clean),
        |wrd AS (SELECT vec_id,
        |  CAST(SUM(CASE WHEN i < 32 AND x >= 0 AND NOT isnan(x)
        |    THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)
        |    AS BIGINT) AS w0,
        |  CAST(SUM(CASE WHEN i >= 32 AND x >= 0 AND NOT isnan(x)
        |    THEN (CAST(1 AS BIGINT) << CAST(i - 32 AS INT)) ELSE 0 END)
        |    AS BIGINT) AS w1
        | FROM el GROUP BY 1),
        |q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1
        |      FROM wrd WHERE vec_id < 5),
        |sc AS (SELECT q.query_id, c.vec_id AS corpus_id,
        |  CAST(bit_count(xor(c.w0, q.q0))
        |    + bit_count(xor(c.w1, q.q1)) AS BIGINT) AS hamming
        | FROM wrd c CROSS JOIN q WHERE c.vec_id <> q.query_id),
        |r AS (SELECT query_id, corpus_id, hamming,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY hamming ASC, corpus_id ASC) AS BIGINT) AS rank
        | FROM sc)
        |SELECT query_id, corpus_id, hamming, rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "sim_matryoshka_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |           FROM embeddings WHERE vec_id < 5),
         | c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
         |       FROM embeddings),
         | fr AS (
         |  SELECT query_id, corpus_id FROM (
         |   SELECT q.query_id, c.corpus_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${cosineSql("q.qv", "c.cv")} DESC,
         |      c.corpus_id ASC) AS rank
         |   FROM c CROSS JOIN q
         |   WHERE c.corpus_id <> q.query_id)
         |  WHERE rank <= 10),
         | qt AS (SELECT query_id, qv[1:16] AS qv FROM q),
         | ct AS (SELECT corpus_id, cv[1:16] AS cv FROM c),
         | tr AS (
         |  SELECT query_id, corpus_id FROM (
         |   SELECT qt.query_id, ct.corpus_id,
         |    ROW_NUMBER() OVER (PARTITION BY qt.query_id
         |      ORDER BY ${cosineSql("qt.qv", "ct.cv")} DESC,
         |      ct.corpus_id ASC) AS rank
         |   FROM ct CROSS JOIN qt
         |   WHERE ct.corpus_id <> qt.query_id)
         |  WHERE rank <= 10),
         | ov AS (
         |  SELECT f.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
         |  FROM fr f JOIN tr USING (query_id, corpus_id) GROUP BY 1)
         |SELECT q.query_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
         | CAST(COALESCE(ov.n_overlap, 0) * 1000000000 // 10 AS BIGINT)
         |   AS recall_nano
         |FROM q LEFT JOIN ov USING (query_id)
         |ORDER BY q.query_id""".stripMargin,

    "sim_knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
         |            label AS true_label
         |           FROM embeddings WHERE vec_id % 25 = 0),
         | c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv, label
         |       FROM embeddings WHERE vec_id % 25 <> 0),
         | scored AS (
         |  SELECT q.query_id, c.corpus_id, c.label,
         |   ${cosineSql("q.qv", "c.cv")} AS cosine
         |  FROM c CROSS JOIN q),
         | ranked AS (
         |  SELECT query_id, corpus_id, label,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY cosine DESC, corpus_id ASC) AS rank
         |  FROM scored),
         | votes AS (
         |  SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS n_votes
         |  FROM ranked WHERE rank <= 10 GROUP BY query_id, label),
         | best AS (
         |  SELECT query_id, label AS pred_label, n_votes,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY n_votes DESC, label ASC NULLS LAST) AS rn
         |  FROM votes)
         |SELECT b.query_id, b.pred_label, b.n_votes, q.true_label
         |FROM best b JOIN q USING (query_id)
         |WHERE rn = 1 ORDER BY query_id""".stripMargin,

    "sim_lsh_topk" -> lshTopkOracle,
    "sim_sq8_topk" -> sq8TopkOracle(),

    "sim_pq_topk" -> pqTopkOracle(),

    "sim_pq_trained_topk" -> pqTopkOracle(iters = 2),

    "sim_ivfpq_topk" -> ivfPqTopkOracle(),

    "emb_dim_stats" ->
      """SELECT i, CAST(COUNT(*) AS BIGINT) AS n_pos,
        | CAST(COUNT(v) AS BIGINT) AS n,
        | CAST(SUM(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE)
        |   / COUNT(v) / 1e9 AS mean,
        | MIN(v) AS mn, MAX(v) AS mx
        |FROM (SELECT unnest(embedding::DOUBLE[]) AS v,
        |       CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i
        |      FROM embeddings)
        |GROUP BY i ORDER BY i""".stripMargin,

    "emb_covariance" ->
      """WITH clean AS (
        | SELECT embedding::DOUBLE[] AS v FROM embeddings
        | WHERE embedding IS NOT NULL AND len(embedding) = 64
        |  AND len(embedding) = list_aggregate(embedding, 'count')),
        |nn AS (SELECT COUNT(*) AS n FROM clean),
        |pairs AS (
        | SELECT i.i AS i, j.j AS j,
        |  CAST(ROUND(v[CAST(i.i AS INT) + 1] * v[CAST(j.j AS INT) + 1]
        |    * 1000000000.0) AS BIGINT) AS p
        | FROM clean CROSS JOIN range(0, 64) i(i) CROSS JOIN range(0, 64) j(j)
        | WHERE j.j >= i.i),
        |sums AS (SELECT i, j, SUM(p) AS s FROM pairs GROUP BY 1, 2),
        |mom AS (
        | SELECT t.i AS i,
        |  SUM(CAST(ROUND(v[CAST(t.i AS INT) + 1] * 1000000000.0) AS BIGINT)) AS sm
        | FROM clean CROSS JOIN range(0, 64) t(i) GROUP BY 1)
        |SELECT s.i, s.j,
        | CAST(s.s AS DOUBLE) / 1000000000.0 / nn.n
        |  - (CAST(mi.sm AS DOUBLE) / 1000000000.0 / nn.n)
        |    * (CAST(mj.sm AS DOUBLE) / 1000000000.0 / nn.n) AS cov
        |FROM sums s CROSS JOIN nn
        | JOIN mom mi ON mi.i = s.i
        | JOIN mom mj ON mj.i = s.j
        |ORDER BY s.i, s.j""".stripMargin,

    // Replays EmbeddingAgg.pc1 exactly: the covm CTEs are the
    // emb_covariance oracle verbatim; the recursive CTE mirrors the
    // driver's power iteration (matrix-vector left folds, left-fold norm,
    // norm>0 guard keeping the previous vector, first-nonzero sign fix) —
    // every fold is list-ordered, so the 30th iterate is bit-identical.
    // The NV expression is spelled out three times because DuckDB lambdas
    // reject subqueries and correlation only reaches one level deep;
    // duplication is deterministic so the copies agree bitwise.
    "emb_pca_project" ->
      """WITH RECURSIVE clean AS (
        | SELECT embedding::DOUBLE[] AS v FROM embeddings
        | WHERE embedding IS NOT NULL AND len(embedding) = 64
        |  AND len(embedding) = list_aggregate(embedding, 'count')),
        |nn AS (SELECT COUNT(*) AS n FROM clean),
        |pairs AS (
        | SELECT i.i AS i, j.j AS j,
        |  CAST(ROUND(v[CAST(i.i AS INT) + 1] * v[CAST(j.j AS INT) + 1]
        |    * 1000000000.0) AS BIGINT) AS p
        | FROM clean CROSS JOIN range(0, 64) i(i) CROSS JOIN range(0, 64) j(j)
        | WHERE j.j >= i.i),
        |sums AS (SELECT i, j, SUM(p) AS s FROM pairs GROUP BY 1, 2),
        |mom AS (
        | SELECT t.i AS i,
        |  SUM(CAST(ROUND(v[CAST(t.i AS INT) + 1] * 1000000000.0) AS BIGINT)) AS sm
        | FROM clean CROSS JOIN range(0, 64) t(i) GROUP BY 1),
        |covm AS (
        | SELECT s.i AS i, s.j AS j,
        |  CAST(s.s AS DOUBLE) / 1000000000.0 / nn.n
        |   - (CAST(mi.sm AS DOUBLE) / 1000000000.0 / nn.n)
        |     * (CAST(mj.sm AS DOUBLE) / 1000000000.0 / nn.n) AS cov
        | FROM sums s CROSS JOIN nn
        |  JOIN mom mi ON mi.i = s.i
        |  JOIN mom mj ON mj.i = s.j),
        |fullm AS (
        | SELECT i, j, cov FROM covm
        | UNION ALL
        | SELECT j AS i, i AS j, cov FROM covm WHERE i < j),
        |rows_m AS (SELECT i, list(cov ORDER BY j) AS r FROM fullm GROUP BY i),
        |mat AS (SELECT list(r ORDER BY i) AS m FROM rows_m),
        |it(k, v) AS (
        | SELECT 0 AS k, list_transform(range(0, 64), x -> 1.0 / sqrt(64.0)) AS v
        | UNION ALL
        | SELECT it.k + 1,
        |  CASE WHEN sqrt(list_sum(list_transform(
        |         list_transform(range(0, 64), ii ->
        |           list_sum(list_transform(
        |             list_zip(mat.m[CAST(ii AS INT) + 1], it.v),
        |             x -> x[1] * x[2]))), x -> x * x))) > 0
        |       THEN list_transform(
        |         list_transform(range(0, 64), ii ->
        |           list_sum(list_transform(
        |             list_zip(mat.m[CAST(ii AS INT) + 1], it.v),
        |             x -> x[1] * x[2]))),
        |         x -> x / sqrt(list_sum(list_transform(
        |           list_transform(range(0, 64), ii ->
        |             list_sum(list_transform(
        |               list_zip(mat.m[CAST(ii AS INT) + 1], it.v),
        |               x -> x[1] * x[2]))), x -> x * x))))
        |       ELSE it.v END
        | FROM it, mat WHERE it.k < 30),
        |fin AS (SELECT v FROM it WHERE k = 30),
        |lead AS (
        | SELECT min(r.ii) AS li FROM range(0, 64) r(ii), fin
        | WHERE fin.v[CAST(r.ii AS INT) + 1] <> 0.0),
        |pcv AS (
        | SELECT CASE WHEN lead.li IS NOT NULL
        |         AND fin.v[CAST(lead.li AS INT) + 1] < 0
        |        THEN list_transform(fin.v, x -> -x) ELSE fin.v END AS pc
        | FROM fin CROSS JOIN lead)
        |SELECT ev.vec_id,
        | (CASE WHEN len(ev.v) = len(pcv.pc)
        |   AND len(ev.v) = list_aggregate(ev.v, 'count')
        |   AND len(pcv.pc) = list_aggregate(pcv.pc, 'count')
        |  THEN list_sum(list_transform(list_zip(ev.v, pcv.pc), x -> x[1] * x[2]))
        |  END) AS pc1_score
        |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) ev
        | CROSS JOIN pcv
        |ORDER BY vec_id""".stripMargin,

    "emb_label_centroids" ->
      (labelCentroidsSql +
        """
          |SELECT label, CAST(len(centroid) AS BIGINT) AS n_dims,
          | centroid[1] AS c0, centroid[2] AS c1,
          | centroid[3] AS c2, centroid[4] AS c3
          |FROM cents ORDER BY label""".stripMargin),

    "emb_norm_hist" -> {
      s"""WITH clean AS (
         | SELECT embedding::DOUBLE[] AS v FROM embeddings
         | WHERE embedding IS NOT NULL AND len(embedding) = 64
         |  AND len(embedding) = list_aggregate(embedding, 'count')),
         |nrm AS (SELECT sqrt(${dotSql("v", "v")}) AS nrm FROM clean)
         |SELECT CAST(floor(nrm) AS BIGINT) AS bucket,
         | CAST(COUNT(*) AS BIGINT) AS n,
         | MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
         |FROM nrm GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    "emb_centroid_drift" -> {
      def half(name: String, par: Int) =
        s"""d$name AS (
           | SELECT label, embedding FROM embeddings
           | WHERE label IS NOT NULL AND vec_id % 2 = $par),
           |dim$name AS (
           | SELECT label, i,
           |  CAST(SUM(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE)
           |   / COUNT(v) / 1e9 AS m
           | FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v,
           |        generate_subscripts(embedding, 1) AS i
           |       FROM d$name)
           | GROUP BY label, i),
           |c$name AS (
           | SELECT label, list(m ORDER BY i) AS cv$name
           | FROM dim$name WHERE m IS NOT NULL GROUP BY label),
           |n$name AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_$name
           |           FROM d$name GROUP BY label)""".stripMargin
      s"""WITH ${half("a", 0)},
         |${half("b", 1)}
         |SELECT ca.label, na.n_a, nb.n_b,
         | CAST(round(${distSql("ca.cva", "cb.cvb")} * 1e9) AS BIGINT)
         |   AS shift_nano
         |FROM ca JOIN cb USING (label)
         |JOIN na USING (label) JOIN nb USING (label)
         |ORDER BY ca.label""".stripMargin
    },

    "emb_assign_nearest" -> {
      s"""$labelCentroidsSql,
         |scored AS (
         | SELECT e.vec_id, CAST(c.label AS BIGINT) AS nearest,
         |  ${distSql("e.embedding::DOUBLE[]", "c.centroid")} AS dist
         | FROM embeddings e CROSS JOIN cents c),
         |ranked AS (
         | SELECT vec_id, nearest, dist, ROW_NUMBER() OVER (
         |   PARTITION BY vec_id ORDER BY dist ASC, nearest ASC) AS rn
         | FROM scored)
         |SELECT vec_id, nearest, ROUND(dist, 6) AS dist
         |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin
    },

    "emb_outliers" -> {
      s"""$labelCentroidsSql,
         |d AS (
         | SELECT e.vec_id, e.label,
         |  ${distSql("e.embedding::DOUBLE[]", "c.centroid")} AS dist
         | FROM embeddings e JOIN cents c USING (label)),
         |cut AS (SELECT quantile_cont(dist, 0.95) AS cutoff FROM d)
         |SELECT vec_id, label, ROUND(dist, 6) AS dist,
         | COALESCE(dist > cutoff, FALSE) AS is_outlier
         |FROM d CROSS JOIN cut ORDER BY vec_id""".stripMargin
    },

    "sim_ivf_trained_topk" -> ivfTrainedOracle(),
    // The persisted-index entries load exactly what the trained runs
    // computed (parquet round-trips doubles bit-for-bit), so they share
    // the trained oracles verbatim.
    "sim_ivf_persisted_topk" -> ivfTrainedOracle(),
    "sim_pq_persisted_topk" -> pqTopkOracle(iters = 2),
    // Trained kNN join: the trained-probe oracle with the full table as
    // the query side and k=3 (the sim_knn_join_ivf shape over the Lloyd
    // chain's centroids). The persisted entry shares it verbatim.
    "sim_knn_join_ivf_trained" ->
      ivfTrainedOracle(k = 3, queryWhere = ""),
    "sim_knn_join_ivf_persisted" ->
      ivfTrainedOracle(k = 3, queryWhere = ""),

    // Three instantiations of the sim_ivf_topk probe chain (rn <= np)
    // against the brute chain, overlap counted per query; recall as
    // exact integer nanos (overlap * 1e8).
    "sim_ivf_recall_sweep" -> {
      val perNp = Seq(1, 2, 4).map { np =>
        s"""qprobe$np AS (
           |  SELECT query_id, qv, cent_id AS cell FROM (
           |   SELECT q.query_id, q.qv, ct.cent_id,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id
           |      ORDER BY ${distSql("q.qv", "ct.centv")} ASC, ct.cent_id ASC) AS rn
           |   FROM q CROSS JOIN cents ct)
           |  WHERE rn <= $np),
           | top$np AS (
           |  SELECT query_id, corpus_id FROM (
           |   SELECT qp.query_id, ca.corpus_id,
           |    ROW_NUMBER() OVER (PARTITION BY qp.query_id
           |      ORDER BY ${cosineSql("qp.qv", "ca.cv")} DESC, ca.corpus_id ASC) AS rank
           |   FROM cassign ca JOIN qprobe$np qp ON ca.cell = qp.cell
           |   WHERE ca.corpus_id <> qp.query_id)
           |  WHERE rank <= 10),
           | rec$np AS (
           |  SELECT $np AS n_probe, t.query_id,
           |   CAST(COUNT(*) AS BIGINT) AS n_overlap
           |  FROM top$np t JOIN brute b
           |   ON b.query_id = t.query_id AND b.corpus_id = t.corpus_id
           |  GROUP BY t.query_id)""".stripMargin
      }.mkString(",\n ")
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS centv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         | corpus AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
         |            FROM embeddings),
         | cassign AS MATERIALIZED (
         |  SELECT corpus_id, cv, cent_id AS cell FROM (
         |   SELECT c.corpus_id, c.cv, ct.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY c.corpus_id
         |      ORDER BY ${distSql("c.cv", "ct.centv")} ASC, ct.cent_id ASC) AS rn
         |   FROM corpus c CROSS JOIN cents ct)
         |  WHERE rn = 1),
         | q AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |       FROM embeddings WHERE vec_id < 5),
         | brute AS MATERIALIZED (
         |  SELECT query_id, corpus_id FROM (
         |   SELECT q.query_id, c.corpus_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${cosineSql("q.qv", "c.cv")} DESC, c.corpus_id ASC) AS rank
         |   FROM corpus c CROSS JOIN q WHERE c.corpus_id <> q.query_id)
         |  WHERE rank <= 10),
         | $perNp,
         | grid AS (
         |  SELECT np.n_probe, q.query_id
         |  FROM q CROSS JOIN (SELECT unnest([1, 2, 4]) AS n_probe) np),
         | recs AS (
         |  SELECT * FROM rec1 UNION ALL SELECT * FROM rec2
         |  UNION ALL SELECT * FROM rec4)
         |SELECT CAST(g.n_probe AS BIGINT) AS n_probe, g.query_id,
         | COALESCE(r.n_overlap, 0) AS n_overlap,
         | COALESCE(r.n_overlap, 0) * 100000000 AS recall_nano
         |FROM grid g LEFT JOIN recs r
         | ON r.n_probe = g.n_probe AND r.query_id = g.query_id
         |ORDER BY g.n_probe, g.query_id""".stripMargin
    },

    "sim_ivf_topk" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS centv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         | corpus AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
         | cassign AS (
         |  SELECT corpus_id, cv, cent_id AS cell FROM (
         |   SELECT c.corpus_id, c.cv, ct.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY c.corpus_id
         |      ORDER BY ${distSql("c.cv", "ct.centv")} ASC, ct.cent_id ASC) AS rn
         |   FROM corpus c CROSS JOIN cents ct)
         |  WHERE rn = 1),
         | q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |       FROM embeddings WHERE vec_id < 5),
         | qprobe AS (
         |  SELECT query_id, qv, cent_id AS cell FROM (
         |   SELECT q.query_id, q.qv, ct.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${distSql("q.qv", "ct.centv")} ASC, ct.cent_id ASC) AS rn
         |   FROM q CROSS JOIN cents ct)
         |  WHERE rn <= 2),
         | scored AS (
         |  SELECT qp.query_id, ca.corpus_id,
         |   ${cosineSql("qp.qv", "ca.cv")} AS cosine
         |  FROM cassign ca JOIN qprobe qp ON ca.cell = qp.cell
         |  WHERE ca.corpus_id <> qp.query_id)
         |SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
         |FROM (
         | SELECT query_id, corpus_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
         | FROM scored)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // sim_ivf_topk's replay with the FULL table as the query side and
    // k=3 — same prefix centroids, same assignment/probe tie rules, same
    // keep-NULL-cosine ranking discipline.
    "sim_knn_join_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding::DOUBLE[] AS centv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         | corpus AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
         | cassign AS (
         |  SELECT corpus_id, cv, cent_id AS cell FROM (
         |   SELECT c.corpus_id, c.cv, ct.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY c.corpus_id
         |      ORDER BY ${distSql("c.cv", "ct.centv")} ASC, ct.cent_id ASC) AS rn
         |   FROM corpus c CROSS JOIN cents ct)
         |  WHERE rn = 1),
         | q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |       FROM embeddings),
         | qprobe AS (
         |  SELECT query_id, qv, cent_id AS cell FROM (
         |   SELECT q.query_id, q.qv, ct.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY ${distSql("q.qv", "ct.centv")} ASC, ct.cent_id ASC) AS rn
         |   FROM q CROSS JOIN cents ct)
         |  WHERE rn <= 2),
         | scored AS (
         |  SELECT qp.query_id, ca.corpus_id,
         |   ${cosineSql("qp.qv", "ca.cv")} AS cosine
         |  FROM cassign ca JOIN qprobe qp ON ca.cell = qp.cell
         |  WHERE ca.corpus_id <> qp.query_id)
         |SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
         |FROM (
         | SELECT query_id, corpus_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
         | FROM scored)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  )
}
