package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Session set-up shared by every harness mode. */
object Session {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty).map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The engine keeps its sink outputs (CSV/JSON interchange, versioned
    * publishes, the Derby DB, stream sinks) under one fixed root,
    * `SinkQueries.OutBase`, and copies it into `JdbcQueries.DbPath` when
    * that object initializes. Both are static finals with no
    * configuration hook, so the harness repoints them at `root` before any
    * query runs; every file a run writes then stays in its work dir. */
  def redirectOutputs(root: File): Unit = {
    val base = root.getAbsolutePath
    val unsafe = {
      val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      f.setAccessible(true)
      f.get(null).asInstanceOf[sun.misc.Unsafe]
    }
    def repoint(module: String, field: String, value: String): Unit = {
      val cls = Class.forName(module)
      cls.getField("MODULE$").get(null) // runs the object's initializer first
      val f = cls.getDeclaredField(field)
      unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), value)
      val seen = cls.getMethod(field).invoke(cls.getField("MODULE$").get(null))
      require(seen == value, s"could not repoint $module.$field (reads $seen)")
    }
    repoint("graft.ops.SinkQueries$", "OutBase", base)
    repoint("graft.ops.JdbcQueries$", "DbPath", s"$base/derby/graftdb")
    System.setProperty("derby.stream.error.file", new File(root, "derby.log").getPath)
    System.setProperty("derby.system.home", base)
  }

  /** The `graft.Bench` settings, with every temporary location in `work`. */
  def start(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "stream-default").getAbsolutePath)
      .config("graft.stream.checkpointRoot", new File(work, "stream-ck").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteRecursively(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
