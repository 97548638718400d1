package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in one resident `local[N]` session and writes every
  * op's timings, check values and (traced) layer counters as JSON.
  *
  * Usage: perfbench.Main <plan.json>. run.py writes the plan and reads the
  * result; the plan names the workload, its generated inputs, the run
  * length, whether to trace, and where to write.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    def str(k: String): String = plan(k).toString
    def num(k: String): Long = plan(k).asInstanceOf[Number].longValue
    val work = str("work")
    val trace = plan("trace") == true
    val workload: Workload = str("workload") match {
      case "nh_etl" => new NhEtl(str("build_dir"), str("pbj_dir"), str("config"), work,
        new Dashboard(plan("queries").asInstanceOf[Seq[Seq[Map[String, Any]]]]))
      case "doc_curation" => new DocCuration(str("docs"), str("eval"),
        num("seq_len").toInt, work)
    }

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Tracer = null
    var index = 0

    def runOp(phase: String, traced: Boolean): Unit = {
      spark.catalog.clearCache()
      index += 1
      val pass = index
      val (cpu0, gc0, t0) = (programCpuNs, gcMs, System.nanoTime())
      val res =
        try {
          Right(if (traced) tracer.span("pass", pass)(workload.run(spark, pass, Some(tracer)))
            else workload.run(spark, pass, None))
        } catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (programCpuNs - cpu0) / 1e9
      val gc = (gcMs - gc0) / 1e3
      val base = Map[String, Any]("phase" -> phase, "pass" -> pass, "traced" -> traced,
        "wall_s" -> wall, "cpu_s" -> cpu, "gc_s" -> gc)
      ops += (res match {
        case Right(r) =>
          val observed = workload match {
            case e: NhEtl => e.observe(spark)
            case _ => Map.empty[String, Any]
          }
          val layers = if (traced) Map("layers" -> layerMetrics(tracer.allSpans, pass))
            else Map.empty[String, Any]
          base ++ r ++ observed ++ layers
        case Left(e) =>
          System.err.println(s"[perfbench] op $pass failed: $e")
          e.printStackTrace()
          base + ("error" -> e.toString)
      })
    }

    for (i <- 0 until num("setups").toInt) {
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[${num("cores")}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", num("shuffle_partitions"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      graft.core.Graft.tune(spark)
      tracer = if (trace) Tracer.install(spark) else null
      runOp("setup", traced = false)
      setups += (System.nanoTime() - t0) / 1e9
    }
    // The JIT keeps compiling Spark's driver code for minutes; the first ops
    // after set-up are the steepest part of that curve, so they are run and
    // checked but not measured.
    for (_ <- 0 until num("warmups").toInt) runOp("warmup", traced = false)

    val deadline = System.nanoTime() + num("seconds") * 1000000000L
    var traceNext = false
    def measured(traced: Boolean) =
      ops.exists(o => o("phase") == "measure" && o("traced") == traced)
    while (System.nanoTime() < deadline || !measured(false) ||
        (trace && !measured(true))) {
      runOp("measure", traced = trace && traceNext)
      traceNext = !traceNext
    }

    if (trace) writeSpans(tracer.allSpans, str("spans"))
    val result = Map(
      "setup_s" -> setups.toSeq,
      "ops" -> ops.toSeq,
      "cores" -> num("cores"),
      "shuffle_partitions" -> num("shuffle_partitions"),
      "peak_rss_mb" -> peakRssMb)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(str("result")), Json(result))
    stop(spark)
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Process CPU minus the JIT compiler threads' CPU. Compilation keeps
    * running for tens of seconds into a run and its share varies from run
    * to run; it is the JVM's work, not graft's. Compiler threads are kept
    * alive (-XX:-UseDynamicNumberOfCompilerThreads), so their counters in
    * /proc never vanish mid-run.
    */
  private def programCpuNs: Long = {
    val process = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
    val jitTicks = tasks.iterator.map { t =>
      try {
        val s = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
        val comm = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong // utime + stime, in 1/100 s
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
    process - jitTicks * 10000000L
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Per-layer numbers of one traced pass. A layer is a direct child of the
    * pass span; a layer called more than once in a pass sums its calls.
    */
  def layerMetrics(spans: Seq[Span], pass: Int): Map[String, Any] = {
    val mine = spans.filter(_.pass == pass)
    val children = mine.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val top = mine.find(_.name == "pass").get
    val layerSpans = children.getOrElse(top.id, Nil)
    val layers = layerSpans.groupBy(_.name).map { case (name, calls) =>
      val work = calls.flatMap(subtree)
      def phase(p: String): Double =
        calls.flatMap(c => children.getOrElse(c.id, Nil)).filter(_.name == p).map(_.seconds).sum
      val idle = calls.map { c =>
        c.endMs - c.startMs - Tracer.covered(subtree(c).flatMap(_.taskIntervals), c.startMs, c.endMs)
      }.sum
      name -> Map(
        "build_s" -> phase("build"),
        "exec_s" -> phase("exec"),
        "plan_s" -> phase("plan"),
        "driver_s" -> idle / 1e3,
        "exec_cpu_s" -> work.map(_.cpuNs).sum / 1e9,
        "jobs" -> work.map(_.jobs).sum,
        "tasks" -> work.map(_.tasks).sum,
        "shuffle_records" -> work.map(_.shuffleRecords).sum,
        "spill_bytes" -> work.map(_.spillBytes).sum,
        "plan_scans" -> work.map(_.planScans).sum,
        "plan_exchanges" -> work.map(_.planExchanges).sum,
        "calls" -> calls.size,
        "wall_s" -> calls.map(_.seconds).sum)
    }
    Map(
      "pass_wall_s" -> top.seconds,
      "self_s" -> (top.seconds - layerSpans.map(_.seconds).sum),
      "task_failures" -> mine.map(_.taskFailures).sum,
      "by_layer" -> layers)
  }

  private def writeSpans(spans: Seq[Span], path: String): Unit = {
    val lines = spans.map(s => Json(Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "jobs" -> s.jobs, "tasks" -> s.tasks, "exec_cpu_s" -> s.cpuNs / 1e9,
      "shuffle_records" -> s.shuffleRecords, "spill_bytes" -> s.spillBytes,
      "plan_scans" -> s.planScans, "plan_exchanges" -> s.planExchanges)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON: reads the plan through the Jackson that Spark ships, and
  * writes maps, sequences, strings, numbers, booleans and rows.
  */
object Json {
  def read(path: String): Map[String, Any] = {
    val raw = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(path), classOf[java.util.Map[String, Object]])
    scalaOf(raw).asInstanceOf[Map[String, Any]]
  }

  private def scalaOf(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> scalaOf(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(scalaOf).toSeq
    case other => other
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => apply(r.toSeq)
    case a: Array[_] => apply(a.toSeq)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
