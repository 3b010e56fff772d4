package graft

import graft.functions.SimHash
import graft.queries.Llm
import org.apache.spark.sql.functions._

case class Doc(doc_id: Long, text: String)

/** Property tests for the LLM dedup/search operators: recall/precision
  * locks for the LSH pipeline (fully oracled since r17 — these keep the
  * STRUCTURAL guarantees the hash compare can't state), kernel≡reference
  * bit-identity contracts, and the remaining non-oracled sketch ops. */
class LlmSpec extends SparkSuite {
  import spark.implicits._

  test("near-dup: recall 1.0 on exact duplicates, no false high-jaccard pairs") {
    val base = "the fast key order sort table scan merge batch value spark " * 5
    val docs = Seq(
      Doc(1L, base),
      Doc(2L, base), // exact duplicate of 1
      Doc(3L, base + "flink"), // near duplicate: one appended word
      Doc(4L, "completely different words about nothing at all here now"),
      Doc(5L, "another unrelated text with its own vocabulary entirely"))
    val pairs = Llm.nearDupPairs(docs.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)), "exact duplicate pair must be found")
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 1.0)
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L)),
      "near-duplicate must collide in some band and pass verification")
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L || p._1 == 5L || p._2 == 5L),
      "unrelated docs must not pass the jaccard filter")
  }

  test("near-dup band layouts: every swept layout keeps exact-duplicate recall 1.0") {
    // nearDupPairs takes the band layout as a parameter; whatever the
    // layout, an exact duplicate shares EVERY minhash, so it collides in
    // every band of any layout — the recall floor the knob must never be
    // able to break (only boundary-J recall is layout-dependent, quantified
    // in PERF.md's round-15 frontier)
    val base = "the fast key order sort table scan merge batch value spark " * 5
    val docs = Seq(Doc(1L, base), Doc(2L, base),
      Doc(4L, "completely different words about nothing at all here now")).toDF()
    Seq(4, 8, 16).foreach { b =>
      val keys = Llm.nearDupPairs(docs, nBands = b)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(keys.contains((1L, 2L)), s"$b bands: exact duplicate pair lost")
      assert(!keys.exists(p => p._1 == 4L || p._2 == 4L),
        s"$b bands: unrelated doc passed the jaccard filter")
    }
  }

  test("near-dup on real data finds the planted sf0.001 exact dup (12, 360)") {
    val pairs = Llm.qDedupNear(spark, sf001)
      .filter(col("a_id") === 12 && col("b_id") === 360).collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 1.0)
  }

  test("near-dup bucket cap: oversized boilerplate buckets are dropped, exact dedup backstops") {
    // BucketCap+1 byte-identical docs: every band bucket holds all of
    // them, so ALL buckets are oversized and LSH reports zero pairs —
    // the documented production trade that keeps per-bucket join work
    // bounded at cap²/2 at any corpus size (an unbounded bucket of n
    // boilerplate docs would enqueue n²/2 candidate pairs; the round-11
    // 10× sweep measured a 2,288-doc bucket spill-sorting the disk to
    // ENOSPC). A smaller-than-cap clone group plus genuinely distinct
    // docs must be unaffected, and the EXACT-dedup operator (hash
    // groupBy, no candidate generation) still groups the boilerplate —
    // the backstop for the pairs LSH deliberately declines to enumerate.
    val boiler = "shared boilerplate header with enough words to shingle " * 4
    val n = Llm.BucketCap + 1
    val docs = (1 to n).map(i => Doc(i.toLong, boiler)) ++ Seq(
      Doc(9001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      Doc(9002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val pairs = Llm.nearDupPairs(docs.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 <= n && p._2 <= n),
      "every band bucket of the boilerplate group exceeds the cap, so LSH must skip it")
    assert(pairs.toSet == Set((9001L, 9002L)),
      "the under-cap duplicate pair must still be found")
  }

  test("exact dedup groups identical texts and is idempotent") {
    // real data: docs 12/360 share a shingle SET (jaccard 1.0) but differ
    // byte-wise, so exact dedup must NOT merge them
    val out = Llm.qDedupExact(spark, sf001)
    val n = Tables.documents(spark, sf001).count()
    assert(out.count() == n, "sf0.001 texts are all byte-distinct")
    // hand-built: true byte dups collapse to min doc_id with a count
    val docs = Seq(Doc(5L, "aaa bbb"), Doc(2L, "aaa bbb"), Doc(9L, "ccc")).toDF()
    val deduped = docs.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
    val rows = deduped.select("keeper_id", "n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((2L, 2L), (9L, 1L)))
  }

  test("sim-topk: rank-1 neighbor of each probe is itself with cosine 1") {
    val top1 = Llm.qSimTopk(spark, sf001).filter(col("rnk") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(top1.nonEmpty)
    top1.foreach { case (probe, neighbor, cos) =>
      assert(probe == neighbor, s"probe $probe rank-1 must be itself")
      assert(cos == 1.0)
    }
  }

  test("sim-topk equals brute-force top-k (it IS brute force at test scale)") {
    // cross-check the windowed top-k against a groupBy max: rank-2 cosine
    // must be <= rank-1 cosine per probe, and ranks are dense 1..5
    val rows = Llm.qSimTopk(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 5).toSeq)
      assert(rs.sortBy(_._2).map(_._3).sliding(2).forall(p => p.head >= p.last))
    }
  }

  test("simhash: deterministic, order-insensitive, locality-sensitive") {
    val a = SimHash.simhash64("the quick brown fox jumps over the lazy dog")
    val b = SimHash.simhash64("dog lazy the over jumps fox brown quick the")
    val c = SimHash.simhash64("the quick brown fox jumps over the lazy cat")
    val d = SimHash.simhash64("entirely unrelated words appear in this one sentence")
    assert(a != 0L)
    assert(a == b, "simhash is bag-of-words: token order must not matter")
    assert(java.lang.Long.bitCount(a ^ c) < 16, "one-token change stays close")
    assert(java.lang.Long.bitCount(a ^ d) > 16, "unrelated text lands far")
    assert(SimHash.simhash64(null) == 0L && SimHash.simhash64("") == 0L)
  }

  test("simhash token hash walks CODE POINTS, not UTF-16 units (oracle-replay contract)") {
    // The DuckDB replay CTE folds characters (code-point semantics), so
    // the JVM side must contribute ONE rollhash step per code point — a
    // surrogate-pair character ('𝄞' = U+1D11E, two UTF-16 units) is the
    // case a charAt-iteration regression would silently diverge on.
    // Expected value folded here from the explicit code-point sequence
    // through the identical public arithmetic.
    val cps = Seq('a'.toInt, 0x1D11E, 'b'.toInt)
    val acc = cps.foldLeft(0L)((h, cp) => (h * 31 + cp) % 1000000007L)
    var z = acc * 2654435761L
    z ^= (z >>> 29); z *= 1540483477L
    z ^= (z >>> 32); z *= 2246822519L
    val expected = z ^ (z >>> 29)
    assert(SimHash.tokenHash64("a𝄞b") == expected,
      "surrogate-pair token must hash by code points")
    // BMP text is identical under both iterations — pin one ASCII value
    // so the mixing constants can never drift either
    assert(SimHash.tokenHash64("ab") ==
      SimHash.tokenHash64(new String(Array('a'.toInt, 'b'.toInt), 0, 2)))
  }

  test("shingle-hash kernel ≡ rollhash(substring) per position (oracle-replay contract)") {
    // The one-pass ShingleHashes array must equal the per-position
    // rollhash-of-substring fold the DuckDB oracle replays — checked on
    // real corpus text plus a surrogate-pair doc ('𝄞' = U+1D11E, two
    // UTF-16 units), the case where a charAt/byte-walk regression would
    // silently diverge from code-point semantics.
    import graft.functions.TextExpressions.{rollHash, shingleHashes}
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
      .unionAll(Seq(Doc(90001L, "ab𝄞cd𝄞ef gh"), Doc(90002L, "tiny")).toDF())
    val viaKernel = docs
      .select(col("doc_id"), posexplode(shingleHashes(col("text"), 5)))
      .select(col("doc_id"), col("pos"), col("col").as("sh"))
    val viaSubstr = docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(0, length(text) - 5)")).as("pos"))
      .select(col("doc_id"), col("pos"),
        rollHash(expr("substring(text, pos + 1, 5)")).as("sh"))
    assert(viaKernel.count() == viaSubstr.count())
    assert(viaKernel.exceptAll(viaSubstr).isEmpty && viaSubstr.exceptAll(viaKernel).isEmpty,
      "one-pass shingle hashes must be bit-identical to the substring route")
  }

  test("fused minhash signature ≡ 32-way min aggregate (oracle-replay contract)") {
    // The production signature path is the per-row MinHashSignature
    // kernel; the oracle replays the min-AGGREGATE formulation. Lock them
    // bit-identical on real corpus text + a surrogate-pair doc + a
    // length<5 doc (which must have NO signature row on either route).
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
      .unionAll(Seq(Doc(90001L, "ab𝄞cd𝄞ef gh"), Doc(90002L, "tiny")).toDF())
    val fused = Llm.sigOf(docs)
    val agg = sigViaAggregate(docs)
    assert(fused.count() == agg.count())
    assert(fused.exceptAll(agg).isEmpty && agg.exceptAll(fused).isEmpty,
      "fused signature kernel must be bit-identical to the aggregate route")
  }

  /** The 32-way min-aggregate signature route the oracle replays: explode
    * the (non-distinct) shingle ids, then min-aggregate every affine image
    * mod P per doc. A doc shorter than 5 chars has no shingle, so no row. */
  private def sigViaAggregate(docs: org.apache.spark.sql.DataFrame) = {
    import graft.functions.MinHash.{MersennePrime => P, NumHashes, hashA, hashB}
    import graft.functions.TextExpressions.shingleHashes
    val hashed = docs.filter(length(col("text")) >= 5)
      .select(col("doc_id"), explode(shingleHashes(col("text"), 5)).as("sh"))
      .withColumn("h", pmod(col("sh"), lit(P)))
    val aggs = (0 until NumHashes).map { i =>
      min(pmod(col("h") * lit(hashA(i)) + lit(hashB(i)), lit(P))).as(s"m$i")
    }
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  test("minhash kernel: ids outside [0, P) take the legacy % branch") {
    // rollhash shingle ids are always < 1e9+7 < P, so the aggregate lock
    // above never reaches this branch: pin that ids >= P (where the
    // hot path's s·a + b would overflow) and negative ids (Java %, so a
    // negative residue, unlike the aggregate route's pmod) follow the `%`
    // formula, alone and mixed with an in-range id
    import graft.functions.MinHash.{MersennePrime => P, NumHashes, hashA, hashB, signature}
    def viaMod(ids: Seq[Long]) = (0 until NumHashes).map { j =>
      ids.map(s => ((s % P) * hashA(j) + hashB(j)) % P).min
    }
    val outside = Seq(P, P + 7, 3 * P + 11, 1L << 40, Long.MaxValue, -1L, -P - 3, Long.MinValue)
    (outside.map(Seq(_)) :+ (outside :+ 12345L)).foreach { ids =>
      val got = signature(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(ids.toArray)).toSeq
      assert(got == viaMod(ids), s"ids $ids: kernel left the % formula")
    }
  }

  test("approx_count_distinct within 5% of exact") {
    val approx = Llm.queries("q_sim_topk") // touch map to ensure wiring
    val ev = Tables.events(spark, sf001)
    val got = ev.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("a"),
        countDistinct(col("user_id")).as("e"))
      .collect()
    got.foreach { r =>
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.05, s"approx $a vs exact $e")
    }
  }

  test("top-k aggregator matches the window-function route") {
    val viaUdaf = Llm.qUdafTopk(spark, sf001)
      .select("o_orderpriority", "rn", "o_orderkey").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val viaWindow = Tables.orders(spark, sf001)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn").cast("int"), col("o_orderkey"))
      .orderBy("o_orderpriority", "rn").collect().toSeq
    assert(viaUdaf == viaWindow)
  }
}
