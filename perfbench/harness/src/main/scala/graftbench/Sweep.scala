package graftbench

import java.io.{File, FileWriter}

import org.apache.spark.GraftSparkShims
import org.apache.spark.sql.DataFrame

/** One-off sweep of the registry: each query timed once with `count()` and
  * once with a `noop` write of every output column, after one warm-up of
  * both on a small corpus. Appends one JSON line per query to `--out`. */
object Sweep {
  def apply(opts: Map[String, String], names: List[String], work: File): Unit = {
    Main.freshWork(work)
    val corpus = opts("corpus")
    val warm = opts("warm")
    val selected = if (names.nonEmpty) names else graft.SparkEntry.queries.keys.toList.sorted
    val spark = Session.start(work, Session.cpus)
    val sc = spark.sparkContext
    val tracer = new Tracer
    sc.addSparkListener(tracer)

    def measure(name: String, mode: String, action: DataFrame => Unit): String = {
      Main.span(spark, s"$name|$mode")
      val t0 = System.nanoTime()
      val error = try { action(Main.query(name)(spark, corpus)); None }
        catch { case e: Throwable => Some(Main.errorText(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      GraftSparkShims.drainListenerBus(sc)
      val acc = tracer.spans.getOrElse(s"$name|$mode", new Acc)
      Json.obj("wall_s" -> wall, "error" -> error, "jobs" -> acc.jobs, "tasks" -> acc.tasks,
        "task_cpu_s" -> acc.cpuNs / 1e9, "spill_bytes" -> acc.spill,
        "shuffle_write_bytes" -> acc.shuffleWrite)
    }

    selected.foreach { name =>
      Main.span(spark, "warm")
      try {
        Main.query(name)(spark, warm).count()
        Main.noop(Main.query(name)(spark, warm))
      } catch { case _: Throwable => }
    }
    val out = new FileWriter(opts("out"), true)
    try selected.foreach { name =>
      val count = measure(name, "count", df => { df.count(); () })
      val full = measure(name, "full", Main.noop)
      tracer.reset()
      out.write(Json.obj("name" -> name, "count" -> Json.Raw(count),
        "full" -> Json.Raw(full)) + "\n")
      out.flush()
    } finally out.close()
    spark.stop()
  }
}
