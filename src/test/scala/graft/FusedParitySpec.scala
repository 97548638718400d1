package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The bench times what the oracle checks: `Bench.fused(r = 2)` over each
  * headline query, split by replica with its ids un-remapped, must give
  * (a) two equal slices and (b) slices equal to the corpus entry.
  */
class FusedParitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val r = 2

  /** How a fused output names its replica (`rep`) and restores the ids
    * that `Bench.fused` remapped (`fix`, which may read the replica as
    * `__r`).
    */
  private case class Split(rep: Column, fix: Seq[(String, Column)] = Nil)

  private val byRepCol = Split(col("__rep"))
  private def unRemap(id: String) = id -> ((col(id) - col("__r")) / r).cast("long")
  private def remapped(id: String) = Split(pmod(col(id), lit(r.toLong)), Seq(unRemap(id)))
  private def offset(id: String, first: Long) =
    Split(floor(col(id) / 1000000L) - first,
      Seq(id -> (col(id) - (col("__r") + first) * 1000000L)))

  private val splits: Map[String, Split] = Map(
    "q1_agg" -> byRepCol,
    "j1_multiway_join" -> byRepCol,
    "w1_window" -> byRepCol,
    "a8_pivot" -> byRepCol,
    "sketch_kmv_distinct" -> byRepCol,
    "dedup_exact" -> byRepCol.copy(fix = Seq(unRemap("keep_id"))),
    "dedup_passages" -> byRepCol.copy(fix = Seq(unRemap("id"))),
    "dedup_semantic" -> byRepCol.copy(fix = Seq(unRemap("vec_id"))),
    "dedup_minhash" -> remapped("doc_id"),
    "text_profile" -> remapped("doc_id"),
    "ts_sessionize" -> remapped("user_id"),
    "graph_pagerank" -> offset("id", 0L),
    "text_bm25_topk" -> offset("query_id", 0L),
    "sim_brute_topk" -> offset("query_id", 1L),
    "sim_pq_topk" -> offset("query_id", 1L),
    "sim_knn_join" -> offset("query_id", 1L),
    "sim_knn_join_ivf" -> offset("query_id", 1L))

  /** Queries whose slices cannot equal the corpus entry by construction. */
  private val notCorpusEqual: Map[String, String] = {
    val selfMatch = "query ids are offset off the corpus ids, so the " +
      "id-based self-pair exclusion never fires and each slice keeps the " +
      "query's self-match, which the corpus entry excludes"
    Seq("sim_brute_topk", "sim_pq_topk", "sim_knn_join", "sim_knn_join_ivf")
      .map(_ -> selfMatch).toMap
  }

  private def slice(fused: DataFrame, split: Split, i: Int,
      like: DataFrame): Seq[Row] = {
    val s = fused.withColumn("__r", split.rep).where(col("__r") === i)
    split.fix.foldLeft(s) { case (df, (c, e)) => df.withColumn(c, e) }
      .select(like.schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .collect().toSeq
  }

  test("every headline query has a split") {
    assert(splits.keySet == Bench.headline.map(_._1).toSet)
  }

  for ((name, _) <- Bench.headline) {
    test(s"fused $name: equal replica slices" +
      (if (notCorpusEqual.contains(name)) "" else ", each equal to the corpus entry")) {
      val corpus = SparkEntry.queries(name)(spark, sf)
      val fused = Bench.fused(name, spark, sf, r)
      val slices = (0 until r).map(slice(fused, splits(name), _, corpus))
      assert(slices.head.nonEmpty, s"$name: empty replica slice")
      assert(slices(0) == slices(1), s"$name: replica slices differ")
      if (!notCorpusEqual.contains(name)) {
        val want = corpus.collect().toSeq
        assert(slices.head == want,
          s"$name: slice (${slices.head.size} rows) != corpus entry (${want.size} rows); " +
            s"first diff ${slices.head.zipAll(want, null, null).find(p => p._1 != p._2)}")
      }
    }
  }
}
