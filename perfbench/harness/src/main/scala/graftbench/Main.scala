package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.GraftSparkShims
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Benchmark harness for graft. It calls the engine only through
  * `SparkEntry.queries(name)(spark, dir)`, `df.queryExecution.executedPlan`
  * and a `noop` write, which computes every output column (a `count()`
  * lets Catalyst prune columns and whole join sides).
  *
  * Modes (first argument):
  *   run    --workload W --seed N --seconds S --trace 0|1 --corpus DIR
  *          --work DIR --out FILE [--expected FILE]
  *   digest --corpus DIR --work DIR --out FILE [--dump DIR] [queries...]
  *   sweep  --corpus DIR --warm DIR --work DIR --out FILE [queries...]
  *
  * `run` writes the raw measurements as one JSON object; perfbench/run.py
  * turns them into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val (opts, rest) = parse(args.toList.drop(1))
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()
    args.headOption match {
      case Some("run") => Run(opts, work).main()
      case Some("digest") => digestMode(opts, rest, work)
      case Some("sweep") => Sweep(opts, rest, work)
      case other => sys.error(s"unknown mode $other")
    }
  }

  private def parse(args: List[String]): (Map[String, String], List[String]) = args match {
    case k :: v :: tail if k.startsWith("--") =>
      val (m, r) = parse(tail); (m + (k.drop(2) -> v), r)
    case x :: tail => val (m, r) = parse(tail); (m, x :: r)
    case Nil => (Map.empty, Nil)
  }

  def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  /** Sets the span every job submitted from this thread is attributed to. */
  def span(spark: SparkSession, name: String): Unit =
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, name)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def write(path: String, text: String): Unit = Files.writeString(Paths.get(path), text)

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  /** Clears what earlier runs left: sink outputs (Derby DB included) and
    * stream checkpoints, so every run starts from the same state. */
  def freshWork(work: File): Unit = {
    Seq("graft_store", "stream-ck", "stream-default", "warehouse", "spark-local", "hadoop")
      .foreach(d => Session.deleteRecursively(new File(work, d)))
    val store = new File(work, "graft_store")
    store.mkdirs()
    Session.redirectOutputs(store)
  }

  /** Digest every named query and dump its result for the DuckDB oracle
    * check (`tools/check_oracle.py <corpus> <dump>`). */
  private def digestMode(opts: Map[String, String], names: List[String], work: File): Unit = {
    freshWork(work)
    val corpus = opts("corpus")
    val selected = if (names.nonEmpty) names else Workloads.queries.values.flatten.toList.distinct.sorted
    val spark = Session.start(work, Session.cpus)
    val dump = opts.get("dump")
    dump.foreach { d =>
      new File(d).mkdirs()
      write(s"$d/queries.txt", selected.mkString("\n"))
      val oracle = graft.SparkEntry.oracleSql.view.filterKeys(selected.toSet).toMap
      write(s"$d/oracle_sql.json", Json.value(oracle))
    }
    val digests = selected.map { name =>
      val df = query(name)(spark, corpus)
      dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
      name -> Digest(df)
    }
    write(opts("out"), Json.value(digests.toMap))
    spark.stop()
  }
}

/** One measured run of a workload. */
final case class Run(opts: Map[String, String], work: File) {
  import Main._

  private val workload = opts("workload")
  private val seed = opts("seed").toLong
  private val seconds = opts("seconds").toDouble
  private val traced = opts("trace") == "1"
  private val corpus = opts("corpus")
  private val order = Workloads.order(workload, seed)
  private val cores = Session.cpus
  private val expected: Map[String, String] = opts.get("expected").map { f =>
    scala.io.Source.fromFile(f).getLines().map(_.trim).filter(_.nonEmpty)
      .map(_.split("\\s+")).collect { case Array(q, d) => q -> d }.toMap
  }.getOrElse(Map.empty)

  private var spark: SparkSession = _
  private var checksAttempted = 0
  private val mismatches = mutable.ArrayBuffer.empty[String]

  /** Set-up: clear earlier outputs, start the session, then run one
    * untimed pass that checks every query's result digest. The pass also
    * warms the JVM and fills the engine's per-(session, corpus) memos, so
    * timed pass 1 does the same work as later passes. */
  private def setUp(): Double = {
    val t0 = System.nanoTime()
    freshWork(work)
    spark = Session.start(work, cores)
    order.foreach { name =>
      checksAttempted += 1
      try {
        val got = Digest(query(name)(spark, corpus))
        expected.get(name) match {
          case Some(want) if want == got =>
          case want => mismatches += s"$name: digest $got, expected ${want.getOrElse("none")}"
        }
      } catch { case e: Throwable => mismatches += s"$name: ${errorText(e)}" }
    }
    (System.nanoTime() - t0) / 1e9
  }

  private object Plan extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) { case n => n }
  }

  private def timedQuery(pass: Int, name: String, t00: Long): String = {
    def s(t: Long) = (t - t00) / 1e9
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var plan: SparkPlan = null
    val error = try {
      span(spark, s"$pass|$name|build")
      val df = query(name)(spark, corpus)
      t1 = System.nanoTime()
      span(spark, s"$pass|$name|plan")
      plan = df.queryExecution.executedPlan
      t2 = System.nanoTime()
      span(spark, s"$pass|$name|exec")
      noop(df)
      None
    } catch { case e: Throwable => Some(errorText(e)) }
    val t3 = System.nanoTime()
    val shape = if (traced && plan != null) {
      val ns = Plan.nodes(plan)
      Seq("plan_nodes" -> ns.size,
        "rtree_joins" -> ns.count(_.nodeName.contains("RTree")),
        "nl_joins" -> ns.count(n => n.nodeName.contains("NestedLoopJoin") ||
          n.nodeName.contains("CartesianProduct")))
    } else Nil
    Json.obj(Seq("name" -> name, "ok" -> error.isEmpty, "error" -> error,
      "start_s" -> s(t0), "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
      "exec_s" -> (t3 - t2) / 1e9) ++ shape: _*)
  }

  private def pass(index: Int, tracer: Option[Tracer], t00: Long): String = {
    val sc = spark.sparkContext
    System.gc()
    tracer.foreach { t =>
      GraftSparkShims.drainListenerBus(sc); t.reset()
      sc.addSparkListener(t); spark.streams.addListener(t.streams)
    }
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val queries = order.map(timedQuery(index, _, t00))
    val passS = (System.nanoTime() - t0) / 1e9
    val cpuS = (cpuNs - c0) / 1e9
    span(spark, null)
    val layers = tracer.map { t =>
      GraftSparkShims.drainListenerBus(sc)
      sc.removeSparkListener(t); spark.streams.removeListener(t.streams)
      Json.Raw(Json.obj(
        "spans" -> t.spans.map { case (k, a) => k -> Json.Raw(a.toJson) }.toMap,
        "stored_peak_bytes" -> t.storedPeak,
        "microbatches" -> t.microbatches, "trigger_s" -> t.triggerMs / 1e3,
        "state_rows" -> t.lastStateRows.values.sum))
    }
    Json.obj("pass" -> index, "traced" -> tracer.nonEmpty, "pass_s" -> passS, "cpu_s" -> cpuS,
      "queries" -> queries.map(Json.Raw), "layers" -> layers)
  }

  def main(): Unit = {
    val t00 = System.nanoTime()
    val setupS = setUp()
    // Timed passes while the next one, as long as the last, still fits in
    // the budget. A traced run alternates untraced and traced passes and
    // starts and ends untraced, so the drift of a still-warming JVM cancels
    // out of the tracing overhead (traced minus untraced median).
    val tracer = if (traced) Some(new Tracer) else None
    val minPasses = if (traced) 3 else 1
    val passes = mutable.ArrayBuffer.empty[String]
    val start = System.nanoTime()
    var last = 0.0
    var i = 0
    while (i < minPasses || (traced && i % 2 == 0) ||
        (System.nanoTime() - start) / 1e9 + last <= seconds) {
      val t = System.nanoTime()
      passes += pass(i, tracer.filter(_ => i % 2 == 1), t00)
      last = (System.nanoTime() - t) / 1e9
      i += 1
    }
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "order" -> order, "corpus" -> corpus,
      "cores" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "java_version" -> System.getProperty("java.version"),
      "setup_s" -> setupS,
      "checks_attempted" -> checksAttempted, "mismatches" -> mismatches.toSeq,
      "passes" -> passes.map(Json.Raw).toSeq,
      "peak_rss_kb" -> vmHwmKb)
    spark.stop()
    write(opts("out"), result)
  }

  /** CPU time of every thread of this JVM (tasks, Spark driver, GC, JIT). */
  private def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this JVM (VmHWM), in KiB. */
  private def vmHwmKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}
