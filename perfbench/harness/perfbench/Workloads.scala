package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.DatasetConfig
import graft.curate.Penalties
import graft.ingest.CsvIngest
import graft.metrics.StaffingMetrics
import graft.ops.{Dedup, Packing, TextAnalysis}
import graft.pipeline.{BuildPipeline, MetricsPipeline, MetricsRow}
import graft.quality.DataQuality
import graft.service.MetricsService

/** Runs one op of a workload, untraced (`tr` = None) or traced, and returns
  * what the output checks need. An op is one pass.
  */
trait Workload {
  def run(spark: SparkSession, pass: Int, tr: Option[Tracer]): Map[String, Any]
}

/** Layer spans: a layer call is a span named after the layer with a `build`
  * child (the call until it returns, eager jobs included) and an `exec` child
  * (the action that materialises its output).
  */
final class Layers(tr: Option[Tracer], pass: Int) {
  def tracing: Boolean = tr.isDefined
  def layer[T](name: String)(body: => T): T = tr match {
    case Some(t) => t.span(name, pass)(body)
    case None => body
  }
  def build[T](body: => T): T = phase("build")(body)
  def exec[T](body: => T): T = phase("exec")(body)
  def phase[T](name: String)(body: => T): T = tr match {
    case Some(t) => t.span(name, pass)(body)
    case None => body
  }
}

/** The paper's system end to end: CSV ingest, staging, duplicate audit,
  * curated fact and state view, staffing metrics, published to a directory
  * per pass, then one analyst's cycle of dashboard reads of what the pass
  * published.
  */
final class NhEtl(buildDir: String, pbjDir: String, configPath: String,
    outRoot: String, dash: Dashboard) extends Workload {

  def outDir(pass: Int): String = s"$outRoot/metrics_$pass"

  def run(spark: SparkSession, pass: Int, tr: Option[Tracer]): Map[String, Any] = {
    val out = outDir(pass)
    tr match {
      case None =>
        val specs = DatasetConfig.load(configPath)
        BuildPipeline.run(spark, buildDir, specs)
        val metrics = MetricsPipeline.run(spark, pbjDir)
        publish(metrics.toDF(), out)
      case Some(_) => traced(spark, new Layers(tr, pass), out)
    }
    Map("out" -> out) ++ dash.run(spark, out, pass, tr)
  }

  /** Publish as MetricsPipeline.main does (calculate_metrics.py:172). */
  private def publish(df: DataFrame, out: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(out)

  /** BuildPipeline.run then MetricsPipeline.run, layer by layer, in the
    * order those entry points call them.
    */
  private def traced(spark: SparkSession, l: Layers, out: String): Unit = {
    import spark.implicits._
    graft.core.Graft.tune(spark)
    val specs = DatasetConfig.load(configPath)
    val staged = specs.map { spec =>
      l.layer("ingest") {
        val df = l.build(CsvIngest.stage(spark, buildDir, spec))
        spec -> l.exec(df.count())
      }
    }
    staged.foreach { case (spec, _) =>
      l.layer("quality") {
        val audit = l.build {
          val (a, _) = DataQuality.duplicateAudit(spark,
            spark.table(spec.stagingTable), spec.stagingTable, spec.naturalKey)
          a.createOrReplaceTempView(s"dq_audit_${spec.name}")
          a
        }
        l.exec(audit.collect())
      }
    }
    l.layer("curate") {
      val (fact, view) = l.build(
        (Penalties.factPenalty(spark, "staging_penalties"),
          Penalties.penaltiesByState(spark)))
      l.exec((fact.count(), view.count()))
    }
    graft.core.Graft.tune(spark)
    val frames = l.layer("ingest") {
      l.build {
        new java.io.File(pbjDir).listFiles().toSeq
          .filter(f => f.isFile && f.getName.toLowerCase.endsWith(".csv"))
          .map(f => spark.read.option("header", "true").csv(f.getAbsolutePath))
      }
    }
    val metrics = l.layer("metrics") {
      l.build {
        val (m, audit, _) = StaffingMetrics.runWithAudit(frames)
        audit.emptyAfterStep
        m.as[MetricsRow]
      }
    }
    l.layer("pipeline") {
      val df = l.build(metrics.toDF())
      l.exec(publish(df, out))
    }
  }

  /** Values the checks compare with the generator's truth, read from the
    * session after the pass.
    */
  def observe(spark: SparkSession): Map[String, Any] = {
    val fact = spark.table("fact_penalty")
      .agg(count(lit(1)), coalesce(sum(round(col("fine_amount") * 100).cast("long")), lit(0L)))
      .head()
    def audit(name: String): Row = spark.table(s"dq_audit_$name").head()
    Map(
      "staged" -> Seq("staging_penalties", "staging_quality_measures")
        .map(t => t -> spark.table(t).count()).toMap,
      "dup_groups" -> Seq("penalties", "quality_measures")
        .map(n => n -> audit(n).getAs[Long]("duplicate_groups")).toMap,
      "audit_status" -> Seq("penalties", "quality_measures")
        .map(n => n -> audit(n).getAs[String]("status")).toMap,
      "fact_rows" -> fact.getLong(0),
      "fine_cents" -> fact.getLong(1),
      "state_rows" -> spark.table("v_penalties_by_state").count())
  }
}

/** The LLM-data path: exact dedup, quality gate, fuzzy dedup,
  * decontamination against a held-out set, sequence packing, write.
  */
final class DocCuration(docsPath: String, evalPath: String, seqLen: Int,
    outRoot: String) extends Workload {

  def run(spark: SparkSession, pass: Int, tr: Option[Tracer]): Map[String, Any] = {
    val out = s"$outRoot/packed_$pass"
    val l = new Layers(tr, pass)
    val survivors = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    // Each stage's output is pinned, as a curation job keeps a stage's
    // survivors before the next stage reads them: composed lazily, every
    // later action would recompute all earlier stages. Traced, the pinned
    // survivor ids are read back for the checks, outside the layer's span.
    def stage(name: String)(call: => DataFrame): DataFrame = {
      val pinned = l.layer(s"ops.$name") {
        val df = l.build(call)
        l.exec(df.localCheckpoint(eager = true))
      }
      if (l.tracing && name != "pack") survivors(name) =
        pinned.select("doc_id").collect().map(_.getLong(0)).toSeq
      pinned
    }
    val docs = spark.read.parquet(docsPath)
    val evalDocs = spark.read.parquet(evalPath)
    val s1 = stage("dedup_exact")(Dedup.exactSurvivors(docs, "text", "doc_id"))
    val s2 = stage("quality_gate") {
      val gate = TextAnalysis.qualityGate(s1, "text")
      s1.join(gate.where(col("keep")).select("doc_id", "n_tokens"), Seq("doc_id"))
    }
    val s3 = stage("fuzzy_dedup")(Dedup.fuzzyDedup(s2, "text", "doc_id"))
    val s4 = stage("decontaminate") {
      val marks = TextAnalysis.decontaminate(s3, evalDocs, "text", "doc_id", shingleK = 3)
      s3.join(marks.where(col("is_contaminated") === 0).select("doc_id"),
        Seq("doc_id"), "left_semi")
    }
    val packed = stage("pack")(
      Packing.packSequences(s4.select("doc_id", "n_tokens"), "doc_id", "n_tokens", seqLen))
    l.layer("pipeline") {
      val w = l.build(packed.write.mode("overwrite"))
      l.exec(w.parquet(out))
    }
    Map("out" -> out, "survivors" -> survivors.toMap)
  }
}

/** The dashboard read path: a closed loop of one client over the metrics a
  * pass published, each query collected to the driver before the next.
  * Nothing is cached.
  */
final class Dashboard(queries: Seq[Seq[Map[String, Any]]]) {

  def run(spark: SparkSession, published: String, pass: Int,
      tr: Option[Tracer]): Map[String, Any] = {
    val l = new Layers(tr, pass)
    val metricsDf = spark.read.option("header", "true")
      .schema("PROVNUM STRING, STATE STRING, CY_Qtr STRING, " +
        "nurse_to_patient_ratio DOUBLE, contract_vs_employed_ratio DOUBLE, " +
        "total_nurse_hours DOUBLE")
      .csv(published)
    // Traced ops all replay the first cycle, so the per-query counters of
    // the service layer compare like with like from run to run.
    val cycle = if (l.tracing) queries.head else queries(pass % queries.size)
    val results = cycle.map { q =>
      val t0 = System.nanoTime()
      val res = l.layer("service")(query(spark, metricsDf, q, l))
      Map("kind" -> q("kind"), "ms" -> (System.nanoTime() - t0) / 1e6, "query" -> q) ++ res
    }
    Map("queries" -> results)
  }

  private def query(spark: SparkSession, metricsDf: DataFrame, q: Map[String, Any],
      l: Layers): Map[String, Any] = {
    def s(k: String): String = q(k).toString
    def provs: Seq[String] = q("provnums").asInstanceOf[Seq[Any]].map(_.toString)
    var tables: Seq[String] = Nil
    val df = l.build(q("kind") match {
      case "options" => MetricsService.options(metricsDf, s("column"))
      case "filter_preview" => MetricsService.preview(
        MetricsService.filterFacilities(metricsDf, s("state"), provs), 5)
      case "grouped_mean" => MetricsService.groupedMean(metricsDf, s("group"), s("metric"))
      case "pivot" => MetricsService.pivotSum(metricsDf, "STATE", "CY_Qtr", s("metric"),
        q("values").asInstanceOf[Seq[Any]].map(_.toString))
      case "numeric_means" => MetricsService.numericMeans(
        MetricsService.filterFacilities(metricsDf, s("state"), provs))
      case "catalog" =>
        tables = MetricsService.listTables(spark)
        spark.table("v_penalties_by_state")
    })
    if (l.tracing) l.phase("plan")(df.queryExecution.executedPlan)
    val rows = l.exec(df.collect())
    Map("cols" -> df.columns.toSeq, "rows" -> rows.map(_.toSeq).toSeq, "tables" -> tables)
  }
}
