package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{Bench, Caches, SparkEntry, Tables}

/** The batch board: declared queries, one at a time, through the noop sink
  * as `graft.Bench` materializes them, with `Caches.drain` after each. */
object BoardRun {
  val MinPasses = 2

  /** Table readers for the scale factor plus one query end to end. */
  def warmUp(spark: SparkSession, sf: String): Unit = {
    Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders, Tables.lineitem,
      Tables.events, Tables.documents, Tables.embeddings).foreach(_(spark, sf).schema)
    Bench.materialize(graft.queries.StreamTwins.qStreamTumbling(spark, sf))
  }

  /** Row count and an order-insensitive content hash: the XOR and the
    * 31-bit sum of per-row xxhash64 values (the sum keeps duplicate rows
    * from cancelling out). Columns are renamed by position so duplicate
    * names cannot clash; maps are hashed through their JSON text. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols.toSeq: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(0x7fffffffL)))
      .head()
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val s = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"$x%016x-$s%d")
  }

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def run(spark: SparkSession, sf: String, order: Seq[String], seconds: Double,
      tracer: Option[Tracer]): Map[String, Any] = {
    val board = SparkEntry.queries

    // Output check, before and outside the timed passes; it also warms every
    // query's code paths, so the timed passes measure warm queries.
    val checks = order.map { name =>
      val res =
        try {
          val (rows, hash) = fingerprint(board(name)(spark, sf))
          Map("name" -> name, "rows" -> rows, "hash" -> hash)
        } catch { case e: Throwable => Map("name" -> name, "error" -> error(e)) }
      Caches.drain(spark)
      res
    }

    tracer.foreach(_.recordingOn(true))
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    var gcDuring = 0.0
    val start = Clock.now()
    var lastPass = 0.0
    // at least MinPasses; another only if it ends nearer to `seconds`
    while (passes.size < MinPasses || Clock.now() - start + lastPass / 2 < seconds * 1000) {
      val p0 = Clock.now()
      val p = passes.size
      val gc0 = Main.gcMs()
      var registered = 0
      val queries = order.map { name =>
        val id = s"q$p.$name"
        val t0 = Clock.now()
        var err: String = null
        def timed(): Unit =
          try {
            val df = tracer.fold(board(name)(spark, sf))(
              _.span(s"c$p.$name", id, "construct", name)(board(name)(spark, sf)))
            tracer.fold(Bench.materialize(df))(
              _.span(s"m$p.$name", id, "materialize", name)(Bench.materialize(df)))
          } catch { case e: Throwable => err = error(e) }
        tracer.fold(timed())(_.span(id, "", "query", name)(timed()))
        val ms = Clock.now() - t0
        registered += Caches.liveCount(spark)
        Caches.drain(spark)
        Map("name" -> name, "ms" -> ms, "error" -> Option(err))
      }
      gcDuring += Main.gcMs() - gc0
      passes += Map("queries" -> queries, "caches_registered" -> registered)
      lastPass = Clock.now() - p0
      heap += Main.heapAfterGcMb()
    }
    tracer.foreach { t => t.add("exec.gc_ms", gcDuring); t.recordingOn(false) }
    Map("checks" -> checks, "passes" -> passes.toSeq, "heap_mb" -> heap.toSeq)
  }
}
