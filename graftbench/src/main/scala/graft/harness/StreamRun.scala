package graft.harness

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.types._

import graft.{Bench, Metrics, Pipeline, Tables}
import graft.queries.StreamTwins
import graft.streaming.{ExactlyOnceSink, Sources}

final class InjectedCrash extends RuntimeException("injected crash before the sink committed")

/** The reference's dataflow: parquet files published into a directory by an
  * open-loop generator, read by `Sources.fileStream`, windowed by
  * `Pipeline.tumblingCounts` on the RocksDB state store in update mode, and
  * written through `ExactlyOnceSink.parquetSink`. Three crashes are
  * injected, each in the first new batch that starts after 50%, 67% and 84%
  * of the generator's schedule (the first half is left undisturbed), before
  * the engine logs that batch; after each the query is restarted from its
  * checkpoint. A crash lands after the batch is written to an
  * attempt-private staging directory and before the sink's commit marker
  * (the sink never ran), so the replay commits the batch and sweeps the
  * stale staging. */
object StreamRun {
  val CrashAt = Seq(0.5, 0.67, 0.84)
  // The generator's out-of-order shuffle moves events by at most 20 minutes
  // of event time, so no event is ever behind this watermark.
  val Watermark = "1 hour"
  val WarmUps = 3
  val WarmUpFiles = 4

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def pending(runDir: String): Array[File] =
    new File(runDir, "pending").listFiles.filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  private def query(spark: SparkSession, in: String, ckpt: String)(
      each: (DataFrame, Long) => Unit): StreamingQuery =
    Pipeline.tumblingCounts(Sources.fileStream(spark, in, schema).withWatermark("ts", Watermark))
      .writeStream.outputMode("update").option("checkpointLocation", ckpt)
      .foreachBatch(each).start()

  /** The events reader plus [[WarmUps]] short streams, each started afresh
    * in directories of its own and fed one file per micro-batch. The timed
    * run starts its query four times, and without this warm-up its batch
    * times keep falling for about ten batches after the first start. */
  def warmUp(spark: SparkSession, sf: String, runDir: String): Unit = {
    Tables.events(spark, sf).schema
    for (i <- 1 to WarmUps) {
      val dir = s"$runDir/warm$i"
      new File(s"$dir/in").mkdirs()
      val q = query(spark, s"$dir/in", s"$dir/ckpt")(ExactlyOnceSink.parquetSink(s"$dir/out"))
      pending(runDir).take(WarmUpFiles).foreach { f =>
        Files.copy(f.toPath, Paths.get(s"$dir/in", f.getName))
        q.processAllAvailable()
      }
      q.stop()
    }
  }

  private def injected(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[InjectedCrash])

  def run(spark: SparkSession, sf: String, runDir: String, seconds: Double,
      tracer: Option[Tracer]): Map[String, Any] = {
    val (in, out, ckpt) = (s"$runDir/in", s"$runDir/out", s"$runDir/ckpt")
    new File(in).mkdirs()
    val files = pending(runDir)
    val intervalMs = seconds * 1000 / files.length
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sink = ExactlyOnceSink.parquetSink(out)
    val calls = new ConcurrentLinkedQueue[Map[String, Any]]
    val failures = new ConcurrentLinkedQueue[String]
    val crashes = new ConcurrentLinkedQueue[(Long, Double)]
    val lastCrashed = new AtomicLong(-1L)

    // Open loop: file i is due at t0 + i * interval whatever the query does.
    val t0 = Clock.now() + 500
    val crashDue = CrashAt.map(f => t0 + f * seconds * 1000)
    def start(crashNo: Option[Int]): StreamingQuery = query(spark, in, ckpt) { (df, id) =>
      // the sink's own skip condition, read before the call
      val skip = fs.exists(new Path(outPath, s"_COMMITTED_batch=$id")) &&
        fs.exists(new Path(outPath, s"batch=$id"))
      if (id > lastCrashed.get && crashNo.exists(k => Clock.now() >= crashDue(k))) {
        df.write.parquet(s"$out/_staging_batch=$id-crash-${java.util.UUID.randomUUID}")
        lastCrashed.set(id)
        crashes.add((id, Clock.now()))
        throw new InjectedCrash
      }
      val c0 = Clock.now()
      tracer.fold(sink(df, id))(
        _.span(s"sink$id.${calls.size}", s"b$id", "sink", id.toString)(sink(df, id)))
      calls.add(Map("batch" -> id, "start" -> c0, "end" -> Clock.now(), "skipped" -> skip))
    }

    val published = new Array[Double](files.length)
    val generator = new Thread(() => files.indices.foreach { i =>
      val wait = t0 + i * intervalMs - Clock.now()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      Files.move(files(i).toPath, Paths.get(in, files(i).getName),
        StandardCopyOption.ATOMIC_MOVE)
      published(i) = Clock.now()
    }, "graftbench-generator")

    tracer.foreach(_.recordingOn(true))
    val gc0 = Main.gcMs()
    var constructMs = 0.0
    val queries = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    def timedStart(crashNo: Option[Int]): Double = {
      val c0 = Clock.now()
      queries += start(crashNo)
      val t = Clock.now()
      constructMs += t - c0
      t
    }
    timedStart(Some(0))
    generator.start()
    val restarts = CrashAt.indices.map { k =>
      val q = queries.last
      try {
        if (!q.awaitTermination((seconds * 1000 + 60000).toLong))
          failures.add(s"no crash ${k + 1}: the query never reached it")
      } catch {
        case e: StreamingQueryException if injected(e) => ()
        case e: Throwable => failures.add(s"query ${k + 1} failed: ${String.valueOf(e.getMessage).take(300)}")
      }
      q.stop()
      timedStart(if (k + 1 < CrashAt.size) Some(k + 1) else None)
    }
    generator.join()
    try queries.last.processAllAvailable()
    catch { case e: Throwable => failures.add(s"last query failed: ${String.valueOf(e.getMessage).take(300)}") }
    queries.last.stop()
    val gcDuring = Main.gcMs() - gc0
    tracer.foreach { t =>
      t.add("exec.gc_ms", gcDuring)
      t.add("queries.construct_ms", constructMs)
      t.recordingOn(false)
    }
    val progress = queries.flatMap(_.recentProgress).map(p => RawJson(p.json)).toSeq
    val heap = Main.heapAfterGcMb()

    // Output checks, outside the timed region.
    StreamTwins.qStreamTumbling(spark, sf).write.mode("overwrite").parquet(s"$runDir/twin")
    val audits = Metrics.withCollector(spark) { c =>
      Bench.materialize(Metrics.audit(Tables.events(spark, sf), "in", sumCols = Seq("value")))
      val last = Window.partitionBy("win_start", "event_type").orderBy(col("batch").desc)
      val latest = spark.read.option("basePath", out).parquet(s"$out/batch=*")
        .withColumn("rn", row_number().over(last)).filter(col("rn") === 1)
      Bench.materialize(Metrics.audit(latest, "out", sumCols = Seq("cnt", "sum_value")))
      Seq("in", "out").map(n => n -> c.await(n).map(r =>
        r.schema.fieldNames.zip(r.toSeq).toMap).getOrElse(Map.empty)).toMap
    }

    Map("stream" -> Map(
      "interval_ms" -> intervalMs,
      "files" -> files.indices.map(i => Map(
        "name" -> files(i).getName, "due" -> (t0 + i * intervalMs), "published" -> published(i))),
      "calls" -> calls.asScala.toSeq,
      "crashes" -> crashes.asScala.toSeq.zip(restarts).map { case ((b, at), restart) =>
        Map("batch" -> b, "at" -> at, "restart_at" -> restart) },
      "failures" -> failures.asScala.toSeq,
      "progress" -> progress,
      "audit" -> audits,
      "gc_ms" -> gcDuring),
      "heap_mb" -> Seq(heap))
  }
}
