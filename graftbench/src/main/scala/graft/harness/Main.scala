package graft.harness

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A JSON value that is already serialized. */
final case class RawJson(s: String)

object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case RawJson(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => str(other.toString)
  }
}

/** Harness entry point: runs one workload in this JVM and writes its raw
  * samples as JSON. `run.py` generates the inputs, launches this, and turns
  * the samples into metrics and verdicts.
  *
  * Arguments: `<workload> <dataDir> <runDir> <seconds> <trace 0|1> <order>`
  * where `order` is the file listing query names in run order (board) and
  * `dataDir` holds the tables at the workload's scale factor. */
object Main {
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Old-generation occupancy after full collections, in MB. The pause
    * between two collections lets Spark's cleaner release the blocks whose
    * references the first one freed. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, runDir, secondsArg, traceArg, orderFile) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val stream = workload == "stream"

    // Set-up, timed from JVM start: class loading, a session, the
    // workload's table readers and one warm-up pass through its layers.
    val spark = session()
    if (stream) StreamRun.warmUp(spark, dataDir, runDir) else BoardRun.warmUp(spark, dataDir)
    val setupS = (Clock.now() - jvmStart) / 1000.0
    val tracer = if (traced) { val t = new Tracer(spark); t.install(); Some(t) } else None

    val body: Map[String, Any] =
      if (stream) StreamRun.run(spark, dataDir, runDir, seconds, tracer)
      else {
        val order = Files.readAllLines(Paths.get(orderFile)).asScala.toSeq.filter(_.nonEmpty)
        BoardRun.run(spark, dataDir, order, seconds, tracer)
      }
    tracer.foreach(_.uninstall())

    val sc = spark.sparkContext
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "default_parallelism" -> sc.defaultParallelism,
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val out = Map("workload" -> workload, "env" -> env, "setup_s" -> setupS) ++ body ++
      tracer.map(t => "trace" -> t.toJson)
    Files.writeString(Paths.get(runDir, "raw.json"), Json.write(out))
    spark.stop()
  }
}
