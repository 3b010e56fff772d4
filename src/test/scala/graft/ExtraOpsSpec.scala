package graft

import graft.Multimodal
import graft.queries.{Media, VectorOps, Llm}
import org.apache.spark.sql.functions._

/** Cross-validation for the non-oracled extra operators. */
class ExtraOpsSpec extends SparkSuite {

  test("multimodal decode stub equals the SQL arithmetic path") {
    val viaStub = Media.qMultimodalDecode(spark, sf001)
      .select(col("doc_id"), col("byte_len").cast("long"), col("width").cast("long"),
        col("height").cast("long"), col("n_frames").cast("long"))
      .collect().toSeq
    val viaSql = Media.qMultimodalMeta(spark, sf001)
      .select(col("doc_id"), col("byte_len").cast("long"), col("width"),
        col("height"), col("n_frames"))
      .collect().toSeq
    assert(viaStub == viaSql)
  }

  test("decode stub and meta arithmetic agree on non-ASCII text (byte length, not chars)") {
    import spark.implicits._
    val text = "héllo wörld — 東京"
    val media = Seq((1L, text)).toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))
    val meta = Multimodal.decodeAll(media).collect().head
    val byteLen = media.select(length(col("media"))).head.getInt(0)
    assert(byteLen > text.length, "UTF-8 bytes must exceed char count for non-ASCII")
    assert(meta.byte_len == byteLen)
    assert(meta.width == 64 + byteLen % 512)
    assert(meta.height == 64 + (byteLen * 7) % 512)
    assert(meta.n_frames == 1 + byteLen % 8)
  }

  test("ANN recall@5 vs exact top-k holds a measured floor at sf0.1 (and 10x when present)") {
    // the round-11 verdict's ask: candidate-containment and growth-rate
    // properties say the bucketed paths are CHEAP — this pins that they
    // stay GOOD, as mean |ann top-5 ∩ exact top-5| / 5 over the shared
    // probe workload, against the brute-force oracle-checked baseline
    def recallAt5(dir: String, ann: org.apache.spark.sql.DataFrame): Double = {
      val exact = Llm.qSimTopk(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (p, g) => p -> g.map(_._2).toSet }
      val got = ann.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (p, g) => p -> g.map(_._2).toSet }
      val per = exact.toSeq.map { case (p, ex) =>
        got.getOrElse(p, Set.empty[Long]).intersect(ex).size.toDouble / ex.size }
      per.sum / per.size
    }
    val sf01 = "/root/testdata/sf0.1"
    val lsh01 = recallAt5(sf01, VectorOps.qSimLsh(spark, sf01))
    Caches.drain(spark)
    val ivf01 = recallAt5(sf01, VectorOps.qSimIvf(spark, sf01))
    Caches.drain(spark)
    info(f"recall@5 sf0.1: lsh=$lsh01%.3f ivf=$ivf01%.3f")
    // floors pinned just under the measured levels (PERF.md: lsh 0.20;
    // ivf 0.755 at the round-17 nprobe=16 fan-out — the measured
    // frontier lifted it from 0.455 at nprobe=4) so a recall collapse
    // fails loudly while hash-seed-level jitter does not. The absolute
    // level is a FIXTURE property — this corpus's true neighbors sit at
    // cos ≤ 0.49, barely above random pairs, the worst case for any
    // bucketed ANN; the planted-twin test below pins the high-similarity
    // regime the operators actually target.
    assert(lsh01 >= 0.12, f"sf0.1 LSH recall@5 collapsed: $lsh01%.3f")
    assert(ivf01 >= 0.70, f"sf0.1 IVF recall@5 collapsed: $ivf01%.3f")
    val tenx = "/root/repo/benchdata/sf1x"
    if (new java.io.File(s"$tenx/embeddings.parquet").exists) {
      val lsh10 = recallAt5(tenx, VectorOps.qSimLsh(spark, tenx))
      Caches.drain(spark)
      val ivf10 = recallAt5(tenx, VectorOps.qSimIvf(spark, tenx))
      Caches.drain(spark)
      info(f"recall@5 10x: lsh=$lsh10%.3f ivf=$ivf10%.3f")
      assert(lsh10 >= 0.10, f"10x LSH recall@5 collapsed: $lsh10%.3f")
      assert(ivf10 >= 0.72, f"10x IVF recall@5 collapsed: $ivf10%.3f")
    } else info("10x derived corpus absent; sf0.1 floors only")
  }

  test("planted high-similarity twins are retrieved by BOTH bucketed ANN paths") {
    // the regime the bucketed paths exist for: each probe gets a planted
    // twin at cos ≈ 0.99 (a true near-duplicate). SRP banding collides a
    // cos-0.99 pair in ≥1 of its 4 bands with p ≈ 0.93, and IVF assigns
    // the twin to the probe's own top-1 centroid — so twin-recall must be
    // high where exact-top-5 recall on random neighbors legitimately
    // is not
    val rnd = new scala.util.Random(7)
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val twins = base.filter(t => t._1 % 50 == 0 && t._1 < Llm.ProbeCap).map {
      case (id, v, lab) =>
        (1000000L + id, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat), lab)
    }
    val dir = java.nio.file.Files.createTempDirectory("ann_twins").toString
    import spark.implicits._
    (base ++ twins).toSeq.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def twinRecall(ann: org.apache.spark.sql.DataFrame): Double = {
      val got = ann.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (p, g) => p -> g.map(_._2).toSet }
      val per = twins.map { case (tid, _, _) =>
        val probe = tid - 1000000L
        if (got.getOrElse(probe, Set.empty[Long]).contains(tid)) 1.0 else 0.0
      }
      per.sum / per.length
    }
    val lsh = twinRecall(VectorOps.qSimLsh(spark, dir))
    Caches.drain(spark)
    val ivf = twinRecall(VectorOps.qSimIvf(spark, dir))
    Caches.drain(spark)
    info(f"planted-twin recall: lsh=$lsh%.3f ivf=$ivf%.3f")
    assert(lsh >= 0.80, f"LSH must retrieve planted near-dup twins: $lsh%.3f")
    assert(ivf >= 0.80, f"IVF must retrieve planted near-dup twins: $ivf%.3f")
  }

  test("SRP-LSH results are a subset of brute-force rankings with self at rank 1") {
    val brute = Llm.qSimTopk(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = VectorOps.qSimLsh(spark, sf001).collect()
    val byProbe = lsh.groupBy(_.getLong(0))
    assert(byProbe.nonEmpty)
    byProbe.foreach { case (probe, rows) =>
      val rank1 = rows.minBy(_.getInt(1))
      assert(rank1.getLong(2) == probe, "bucketed search must retrieve the probe itself")
      assert(rank1.getDouble(3) == 1.0)
    }
    // rank-1 brute-force neighbor (the probe itself) always survives bucketing
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(2))).toSet
    byProbe.keys.foreach(p => assert(lshPairs.contains((p, p))))
    assert(brute.nonEmpty)
  }

  test("short documents flow through dedup pipelines as empty, not garbage") {
    import spark.implicits._
    // 1-char and 4-char docs have no 5-gram shingles; 1-token doc has no
    // bigram — unguarded sequence() would auto-descend into bogus indices
    val docs = Seq(
      (1L, "x"), (2L, "abcd"), (3L, "one"),
      (4L, "a longer document that actually has shingles and bigrams"),
      (5L, "a longer document that actually has shingles and bigrams")
    ).toDF("doc_id", "text")
    val near = Llm.nearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.toSeq == Seq((4L, 5L)), "only the long duplicate pair survives")
    val ngram = VectorOps.ngramPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ngram.toSeq == Seq((4L, 5L)))
    // all-short corpus: zero rows, no runtime error
    val shorts = Seq((1L, "x"), (2L, "hi"), (3L, "ab")).toDF("doc_id", "text")
    assert(Llm.nearDupPairs(shorts).count() == 0)
    assert(VectorOps.ngramPairs(shorts).count() == 0)
  }

  test("rare-df cap: pairs sharing only super-frequent bigrams are not candidates") {
    import spark.implicits._
    // 60 docs all made of the same two bigrams ("x y", "y x": df = 60 >
    // RareDfCap = 50), two of them byte-identical — J = 1.0 but NO rare
    // bigram, so the inverted-index candidate rule (constant df cap, the
    // round-11 scale fix: a df-f bigram enqueues ~f²/2 candidate pairs,
    // so only a corpus-independent cap keeps pair mass linear) must
    // decline the pair. A clone pair sharing RARE bigrams is reported.
    val common = (1 to 60).map(i => (i.toLong, "x y x y x"))
    val rare = Seq((100L, "p q r s t p q"), (101L, "p q r s t p q"))
    val docs = (common ++ rare).toDF("doc_id", "text")
    val pairs = VectorOps.ngramPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((100L, 101L)),
      s"only the rare-bigram clone pair is a candidate, got ${pairs.toSeq}")
  }

  test("IVF ANN: self at rank 1, results subset of brute-force ranking universe") {
    val lists = VectorOps.qSimIvf(spark, sf001).collect()
    val byProbe = lists.groupBy(_.getLong(0))
    assert(byProbe.nonEmpty)
    byProbe.foreach { case (probe, rows) =>
      val rank1 = rows.minBy(_.getInt(1))
      assert(rank1.getLong(2) == probe, "probe's own posting list must contain itself")
      assert(rank1.getDouble(3) == 1.0)
      // ranks are dense from 1 with no gaps
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to rows.length))
    }
    // every scored cosine must equal the brute-force cosine for that pair
    val brute = Llm.qSimTopk(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    lists.foreach { r =>
      brute.get((r.getLong(0), r.getLong(2))).foreach { bc =>
        assert(bc == r.getDouble(3), "IVF rescoring must match brute-force cosine")
      }
    }
  }

  // deterministic clustered corpus: nClusters clusters of 8 near-identical
  // vectors (the near-dup structure LSH exists for). Same seed → the larger
  // corpus is a superset of the smaller.
  private def clusteredCorpus(nClusters: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (0 until nClusters).flatMap { c =>
      val base = Array.fill(64)(rnd.nextGaussian().toFloat)
      (0 until 8).map { i =>
        (c * 8L + i, base.map(x => x + (rnd.nextGaussian() * 0.02).toFloat).toSeq)
      }
    }.toDF("vec_id", "embedding")
  }

  test("SRP-LSH candidate pairs grow linearly with corpus size, not quadratically") {
    val nSmall = 400; val nBig = 800
    val small = VectorOps.lshCandidatePairs(clusteredCorpus(nSmall / 8)).count()
    val big = VectorOps.lshCandidatePairs(clusteredCorpus(nBig / 8)).count()
    assert(small > 0, "clustered corpus must produce candidates")
    // linear structure → doubling the corpus ~doubles candidates; the old
    // 16-buckets-per-band geometry quadrupled them (ratio ≈ 4)
    assert(big <= 2.8 * small, s"candidate growth $small -> $big is super-linear")
    // absolute bound: candidates ≤ c·n (c = 8: at most the intra-cluster
    // pair mass per vector), i.e. candidates ≪ n²/2 brute-force pairs
    assert(small <= 8L * nSmall, s"$small candidates at n=$nSmall exceeds c*n")
    assert(big <= 8L * nBig, s"$big candidates at n=$nBig exceeds c*n")
  }

  test("IVF: one posting list per vector; fixed probes → candidates grow linearly") {
    import spark.implicits._
    def corpus(n: Int) = {
      val rnd = new scala.util.Random(23)
      (0 until n).map(i =>
        (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq))
        .toDF("vec_id", "embedding")
    }
    val cents = VectorOps.ivfQuantize(corpus(16), "vec_id", "embedding")
      .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nn").as("nc"))
    def candidates(n: Int): Long = {
      val q = VectorOps.ivfQuantize(corpus(n), "vec_id", "embedding")
      val posting = VectorOps.ivfAssign(
        q.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id", cents)
      assert(posting.count() == n, "quantizer must emit exactly one centroid per vector")
      val probes = q.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "probe_id")
      VectorOps.ivfProbe(probes, "probe_id", cents, 2)
        .join(posting, Seq("cid")).count()
    }
    val small = candidates(400)
    val big = candidates(800)
    assert(small > 0)
    // 10 probes × 2 lists of ~n/16 vectors: candidate work is a fixed
    // fraction of n per probe — doubling n ~doubles candidates
    assert(big <= 2.6 * small + 40, s"IVF candidate growth $small -> $big super-linear")
    // and stays far below the 10·n brute-force pair count per probe set
    assert(small <= 10L * 400 / 2 && big <= 10L * 800 / 2,
      "candidates must be a small fraction of brute-force pairs")
  }

  test("IVF nlist derives as clamped √n") {
    assert(VectorOps.ivfNlist(10) == 4, "floor at 4")
    assert(VectorOps.ivfNlist(100) == 10)
    assert(VectorOps.ivfNlist(2000) == 45)
    assert(VectorOps.ivfNlist(10000) == 100)
    assert(VectorOps.ivfNlist(100000000L) == 256, "cap at 256")
  }

  test("IVF recall holds as the corpus doubles under the derived √n nlist") {
    import graft.functions.VectorExpressions.cosineSim
    import org.apache.spark.sql.expressions.Window
    // recall@5 of the full IVF pipeline (derived nlist, stride-sampled
    // centroids, nprobe=2) against an exact driver-side brute force, on
    // the clustered corpus ANN exists for — doubling the corpus re-derives
    // a larger nlist and recall must NOT collapse
    def recallAt5(nClusters: Int): Double = {
      val c = clusteredCorpus(nClusters).cache()
      val n = nClusters * 8L
      val k = VectorOps.ivfNlist(n)
      val stride = math.max(1L, n / k)
      val q = VectorOps.ivfQuantize(c, "vec_id", "embedding")
      val cents = q.filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
        .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nn").as("nc"))
      assert(cents.count() == k, s"stride sample must yield exactly $k centroids")
      val posting = VectorOps.ivfAssign(
        q.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id", cents)
      val probes = q.filter(col("vec_id") % 8 === 0).withColumnRenamed("vec_id", "probe_id")
      val cand = VectorOps.ivfProbe(probes, "probe_id", cents, 2)
        .join(posting, Seq("cid")).select("probe_id", "neighbor_id")
      val av = c.select(col("vec_id").as("probe_id"), col("embedding").as("av"))
      val bv = c.select(col("vec_id").as("neighbor_id"), col("embedding").as("bv"))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      val ivfTop = cand.join(av, Seq("probe_id")).join(bv, Seq("neighbor_id"))
        .withColumn("cos", cosineSim(col("av"), col("bv")))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
        .select("probe_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val vecs = c.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      c.unpersist()
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      val recalls = ivfTop.toSeq.map { case (p, got) =>
        val truth = vecs.toSeq
          .map { case (id, v) => (id, cos(vecs(p), v)) }
          .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
        (truth & got).size.toDouble / truth.size
      }
      recalls.sum / recalls.size
    }
    val r400 = recallAt5(50)
    val r800 = recallAt5(100)
    assert(r400 >= 0.8, s"recall@5 at n=400 is $r400")
    assert(r800 >= 0.8, s"recall@5 at n=800 is $r800")
    assert(r800 >= r400 - 0.1, s"recall must hold under doubling: $r400 -> $r800")
  }

  test("containment finds an embedded doc that symmetric Jaccard misses") {
    import spark.implicits._
    // doc 1 is verbatim inside doc 2, which is ~4x longer: J ≈ 1/4 (below
    // the 0.5 Jaccard bar) but containment = 1.0. Padding words are unique
    // so the small doc's bigrams stay rare (the candidate rule fires).
    val small = (1 to 12).map(i => s"core$i").mkString(" ")
    val pad = (1 to 40).map(i => s"pad$i").mkString(" ")
    val docs = Seq((1L, small), (2L, s"$pad $small")).toDF("doc_id", "text")
    val pairs = VectorOps.ngramPairs(docs).collect()
    assert(pairs.isEmpty, "Jaccard flavor must NOT report the embedded doc")
    val cont = VectorOps.containmentPairs(docs).collect()
    assert(cont.length == 1, "containment flavor must report exactly the embedded pair")
    val r = cont.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(4) == 1.0, s"small doc fully contained, got ${r.getDouble(4)}")
  }

  test("connected components: chains collapse to min label, singletons self-label") {
    import spark.implicits._
    // component {1,2,3} as a chain (1-2, 2-3; no 1-3 edge), {10,11} a pair,
    // 20 a singleton — label must propagate transitively down the chain
    val vertices = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val got = VectorOps.connectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
    // a longer chain exercises multi-round convergence (diameter 5)
    val chainV = (0L to 5L).toDF("doc_id")
    val chainE = (0L until 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val chain = VectorOps.connectedComponents(chainV, chainE)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chain.values.forall(_ == 0L), s"chain must collapse to 0, got $chain")
  }

  test("connected components: loop fans out past one partition on a large edge frame") {
    import spark.implicits._
    // 300 edges over components of 4 ({0..3},{4..7},…; diameter 3). With
    // the per-partition threshold forced down to 100 edge-halves, the
    // 600-half frame must pick ceil(600/100)=4 loop partitions — the
    // >1-partition branch the production default only reaches at real
    // near-dup mass — and the answers must be identical to the
    // 1-partition run.
    val n = 400L
    val vertices = (0L until n).toDF("doc_id")
    val edges = (0L until n).filter(_ % 4 != 3).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = VectorOps.connectedComponents(vertices, edges, edgeHalvesPerPartition = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    (0L until n).foreach { i =>
      assert(got(i) == (i / 4) * 4, s"vertex $i labeled ${got(i)}, want ${(i / 4) * 4}")
    }
  }

  test("connected components: adversarially deep path (diameter 150) converges") {
    import spark.implicits._
    // a 151-node path whose vertex ids are scrambled along the chain
    // (i -> 73*i mod 151, a permutation: 151 prime), so neither the id
    // order nor the big→small orientation follows the path. The
    // diameter-bound min-label loop this round replaced aborted at its
    // 30-round cap on exactly this shape; large-star/small-star must
    // collapse it to the component minimum in O(log) rounds.
    val n = 151
    val ids = (0 until n).map(i => (i.toLong * 73) % n)
    val vertices = ids.toDF("doc_id")
    val edges = (0 until n - 1).map(i => (ids(i), ids(i + 1))).toDF("a_id", "b_id")
    val got = VectorOps.connectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 0L), s"deep path must collapse to 0, got ${got.take(5)}")
  }

  test("scoped loop confs: concurrent iterative queries stay correct and restore the session") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // Two deep-path component runs race on the SAME session. Each scopes
    // AQE/shuffle-partitions via SessionConfs.withConf; without the
    // per-session serialization, one run could snapshot the other's scoped
    // value and restore it permanently (or plan under a half-restored
    // conf). Both results must match the serial contract AND the session
    // conf must come back untouched.
    val shufBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    def run(offset: Long): Map[Long, Long] = {
      val n = 101
      val ids = (0 until n).map(i => offset + (i.toLong * 37) % n)
      val vertices = ids.toDF("doc_id")
      val edges = (0 until n - 1).map(i => (ids(i), ids(i + 1))).toDF("a_id", "b_id")
      VectorOps.connectedComponents(vertices, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val fa = Future(run(0L))
    val fb = Future(run(5000L))
    val (a, b) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    assert(a.size == 101 && a.values.forall(_ == 0L))
    assert(b.size == 101 && b.values.forall(_ == 5000L))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shufBefore,
      "shuffle.partitions must be restored after concurrent scoped loops")
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqeBefore,
      "adaptive.enabled must be restored after concurrent scoped loops")
  }

  test("pagerank: converged ranks are the exact fixed point of the integer recurrence") {
    import spark.implicits._
    // star (hub 0, leaves 1..5) plus a detached pair {10,11}: the hub must
    // dominate, and the distributed loop must reproduce, bit-for-bit, a
    // plain-Scala replay of the same scaled-BIGINT recurrence (Scala / on
    // positive longs is the same floor division as SQL div).
    val edges = (1L to 5L).map(l => (0L, l)) :+ (10L, 11L)
    val got = VectorOps.pagerank(edges.toDF("a_id", "b_id"), VectorOps.PagerankIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = deg.keys.map(_ -> 1000000000000L).toMap
    for (_ <- 1 to VectorOps.PagerankIters) {
      val contrib = sym.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = r.keys.map(k => k -> (150000000000L + 85L * contrib(k) / 100L)).toMap
    }
    assert(got == r, s"distributed ranks diverge from the exact replay:\n$got\nvs $r")
    assert(got(0L) > got(1L), "hub must outrank its leaves")
    // mass conservation: sum of ranks stays |V| (in uniform-relative
    // scale) up to the bounded floor-division loss
    val mass = got.values.sum
    assert(math.abs(mass - got.size * 1000000000000L) < got.size * 1000000L,
      s"rank mass $mass drifted from ${got.size} x 1e12")
    // empty edge frame: no vertices, no loop, typed empty result
    assert(VectorOps.pagerank(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"), 5).count() == 0)
  }

  test("bpe_train: distributed merge loop equals a plain-Scala replay of greedy BPE") {
    // replay the exact trainer on the same word-frequency table: pair
    // counts weighted by word freq, top pair by (n desc, l asc, r asc),
    // left-to-right non-overlapping application — merge tables must match
    // bit-for-bit, rank by rank
    import graft.queries.TextOps
    val wordFreq = Tables.documents(spark, sf001)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("f")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    var state: Seq[(Vector[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toVector, f) }.toSeq
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    (1 to TextOps.BpeMerges).foreach { rank =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (toks, f) =>
        toks.indices.dropRight(1).foreach { i =>
          counts((toks(i), toks(i + 1))) = counts.getOrElse((toks(i), toks(i + 1)), 0L) + f }
      }
      if (counts.nonEmpty) {
        val ((l, r), n) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
        expected += ((rank, l, r, n))
        state = state.map { case (toks, f) =>
          val out = toks.foldLeft(Vector.empty[String]) { (acc, t) =>
            if (acc.nonEmpty && acc.last == l && t == r) acc.init :+ (l + r)
            else acc :+ t }
          (out, f)
        }
      }
    }
    val got = TextOps.qBpeTrain(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == expected.toSeq,
      s"merge tables diverge:\n got $got\n exp ${expected.toSeq}")
    // merges must be genuine compressions: every learned pair concatenates
    // earlier-known tokens, counts are positive and ranks dense
    assert(got.map(_._1) == (1 to got.size).toSeq && got.forall(_._4 > 0))
  }

  test("kmeans: distributed Lloyd rounds equal a plain-Scala replay of the integer recurrence") {
    // same verification shape as the pagerank fixed-point test: collect the
    // real sf0.001 embeddings, replay KmeansIters exact quantized Lloyd
    // rounds in memory, and demand bit-equality with the distributed loop
    val vecs = Tables.embeddings(spark, sf001)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val q = vecs.map { case (id, emb, lab) =>
      (id, emb.map(x => math.floor(x.toDouble * 128).toLong), lab.toLong) }
    var assign = q.map { case (id, _, lab) => id -> lab }.toMap
    val lanes = q.map { case (id, qx, _) => id -> qx }.toMap
    for (_ <- 1 to VectorOps.KmeansIters) {
      val members = assign.groupBy(_._2).view.mapValues(_.keys.toSeq)
      val cent = members.map { case (c, ids) =>
        val dims = lanes(ids.head).length
        c -> Array.tabulate(dims) { p =>
          math.floor(ids.map(lanes(_)(p)).sum.toDouble / ids.size).toLong }
      }.toMap
      assign = lanes.map { case (id, qx) =>
        val key = cent.map { case (c, qc) =>
          val d2 = qx.indices.map(p => (qx(p) - qc(p)) * (qx(p) - qc(p))).sum
          d2 * 1024 + c
        }.min
        id -> key % 1024
      }
    }
    val got = VectorOps.qKmeans(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == assign.keySet)
    val diffs = got.keys.filter(id => got(id) != assign(id))
    assert(diffs.isEmpty,
      s"${diffs.size} assignments diverge from the exact replay, e.g. ${diffs.take(3)}")
  }

  test("q_dedup_clusters covers every doc; edges agree with cluster assignment") {
    val docs = Tables.documents(spark, sf001)
    val clusters = VectorOps.qDedupClusters(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(clusters.length == docs.count(), "every document must get a cluster row")
    val byDoc = clusters.map(c => c._1 -> c._2).toMap
    clusters.foreach { case (doc, cl, canon) =>
      assert(cl <= doc, "cluster id is the component minimum")
      assert(canon == (cl == doc))
      assert(byDoc(cl) == cl, "the canonical doc's own cluster id is itself")
    }
    // every near-dup edge's endpoints share a cluster
    VectorOps.qDedupNgram(spark, sf001).collect().foreach { r =>
      assert(byDoc(r.getLong(0)) == byDoc(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) split across clusters")
    }
    assert(clusters.exists(c => !c._3), "corpus has near-dups, so some non-canonical rows")
  }

  test("CMS sketch: overcounts only, within eps*N; byte-identical at any partitioning") {
    val toks = Tables.documents(spark, sf001)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("token"))
    val exact = toks.groupBy("source", "token").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nPerSource = toks.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Llm.qAggCms(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.nonEmpty && got.exists(_._3 > 0))
    got.foreach { case (src, word, est) =>
      val truth = exact.getOrElse((src, word), 0L)
      assert(est >= truth, s"CMS must never undercount ($src/$word: $est < $truth)")
      val bound = truth + math.ceil(0.001 * nPerSource(src)).toLong + 5
      assert(est <= bound, s"CMS estimate $est exceeds eps*N bound $bound for $src/$word")
    }
    // counter addition is merge-order independent: identical bytes-out at
    // any partitioning, hence identical estimates
    import graft.functions.CmsSketchAgg
    def sketchOf(parts: Int) = toks.repartition(parts)
      .groupBy("source").agg(CmsSketchAgg.cmsSketch(col("token")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(sketchOf(3) == sketchOf(13), "sketch bytes must not depend on partitioning")
  }

  test("graft SQL functions registered: graft_cosine/graft_dot/graft_hll_distinct in spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    Tables.registerTables(spark, sf001)
    val self = spark.sql(
      "SELECT round(graft_cosine(embedding, embedding), 9) AS c FROM embeddings LIMIT 20")
    assert(self.collect().forall(_.getDouble(0) == 1.0))
    val dot = spark.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS DOUBLE), CAST(0.5 AS DOUBLE))) AS d")
    assert(dot.head.getDouble(0) == 4.0)
    val hll = spark.sql("SELECT graft_hll_distinct(source) AS n FROM documents").head.getLong(0)
    val exact = spark.sql("SELECT count(DISTINCT source) AS n FROM documents").head.getLong(0)
    assert(hll == exact, s"hll $hll vs exact $exact at tiny cardinality")
    // srp signature and cms sketch are SQL-reachable too
    val sigs = spark.sql(
      "SELECT vec_id, graft_srp_sig(embedding) AS s FROM embeddings LIMIT 20").collect()
    sigs.foreach { r =>
      assert(!r.isNullAt(1))
    }
    val sk = spark.sql("SELECT graft_cms_sketch(source) AS sk FROM documents")
      .head.getAs[Array[Byte]](0)
    val est = graft.functions.CmsSketchAgg.estimate(sk, "web")
    val exactWeb = spark.sql(
      "SELECT count(*) FROM documents WHERE source = 'web'").head.getLong(0)
    val total = spark.sql("SELECT count(*) FROM documents").head.getLong(0)
    assert(est >= exactWeb && est <= exactWeb + math.ceil(0.001 * total).toLong + 5,
      s"SQL-built CMS estimate $est outside bounds around $exactWeb")
    // int8 quantization codes are SQL-reachable and match the Column API
    val sqlCodes = spark.sql(
      "SELECT vec_id, graft_int8_codes(embedding) AS q FROM embeddings ORDER BY vec_id LIMIT 20")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val colCodes = Tables.embeddings(spark, sf001)
      .select(col("vec_id"),
        graft.functions.VectorExpressions.int8Codes(col("embedding")).as("q"))
      .orderBy("vec_id").limit(20)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sqlCodes == colCodes, "SQL and Column API must produce identical codes")
    // the near-dup kernels are SQL-reachable and match the Column API
    val sqlSig = spark.sql(
      "SELECT doc_id, graft_minhash_sig(graft_shingle_hashes(text, 5)) AS ms " +
        "FROM documents WHERE length(text) >= 5 ORDER BY doc_id LIMIT 20")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val colSig = Tables.documents(spark, sf001)
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), graft.functions.TextExpressions.minHashSig(
        graft.functions.TextExpressions.shingleHashes(col("text"), 5)).as("ms"))
      .orderBy("doc_id").limit(20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sqlSig == colSig, "SQL and Column API must produce identical minhash signatures")
  }

  test("chunker covers every token exactly: windows tile the doc with stride overlap") {
    val chunks = graft.queries.TextOps.qTextChunk(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(chunks.nonEmpty)
    val docs = Tables.documents(spark, sf001).filter(col("doc_id") < 50)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val mine = chunks.filter(_._1 == id).sortBy(_._2)
      assert(mine.nonEmpty, s"doc $id has no chunks")
      // model: strided starts clamped to len-size+1, deduped
      val starts = (1 to toks.length by 24)
        .map(i => math.min(i, math.max(toks.length - 32 + 1, 1))).distinct
      assert(mine.length == starts.length, s"doc $id chunk count")
      mine.zip(starts).zipWithIndex.foreach { case (((_, idx, chunk, n), st), i) =>
        assert(idx == i, "chunk indices must be dense")
        val expect = toks.slice(st - 1, st - 1 + 32)
        assert(chunk == expect.mkString(" "), s"doc $id chunk $i content mismatch")
        assert(n == expect.length)
      }
      // the last chunk must reach the document's end
      assert(starts.last + 32 - 1 >= toks.length, s"doc $id tail tokens uncovered")
    }
  }

  test("hash split rates: ~25% eval, and identical docs share a split") {
    val rows = graft.queries.TextOps.qSampleHash(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val evalFrac = rows.count(_._3 == "eval").toDouble / rows.length
    assert(evalFrac > 0.15 && evalFrac < 0.35, s"eval fraction $evalFrac far from 1/4")
    // bucket fully determines split (content-derived, so dups always agree)
    rows.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).distinct.length == 1)
    }
  }

  test("simhash-banded dedup: every reported pair has small hamming, ordered output") {
    val rows = VectorOps.qDedupSimhash(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, h) => assert(a < b && h <= 8) }
    // the shingle-identical near-dup pair (12, 360) must land close
    assert(rows.exists { case (a, b, _) => a == 12 && b == 360 })
  }

  test("skyline: result is exactly the non-dominated set (naive recompute)") {
    val all = graft.Tables.part(spark, sf001)
      .select("p_partkey", "p_size", "p_retailprice").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    def dominated(p: (Long, Int, Double)) = all.exists { q =>
      q._2 >= p._2 && q._3 <= p._3 && (q._2 > p._2 || q._3 < p._3)
    }
    val expect = all.filterNot(dominated).map(_._1).toSet
    val got = graft.queries.Analytics.qSkyline(spark, sf001).collect()
      .map(_.getLong(0)).toSet
    assert(got == expect, s"skyline mismatch: got $got expect $expect")
  }

  test("gini: bounded by [0,1) and equal to the exact integer rank formula") {
    val rows = graft.queries.Analytics.qGini(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val bals = graft.Tables.customer(spark, sf001)
      .select("c_nationkey", "c_acctbal").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    rows.foreach { case (nat, n, total, g) =>
      assert(g >= 0.0 && g < 1.0, s"nation $nat gini $g out of range")
      // exact replay: shifted cents, sorted, rank formula in BigInt then
      // the same two double divides
      val cents = bals.filter(_._1 == nat)
        .map(b => math.round(b._2 * 100) + 100000L).sorted
      assert(cents.length == n && cents.sum == total)
      val ws = cents.zipWithIndex.map { case (c, i) =>
        BigInt(c) * (i + 1) }.sum
      val expect = 2.0 * ws.toDouble / (n.toDouble * total.toDouble) -
        (n.toDouble + 1.0) / n.toDouble
      assert(math.abs(g - expect) < 1e-12, s"nation $nat: $g vs $expect")
    }
  }

  test("market basket: pair counts match a naive basket recompute; stats consistent") {
    val rows = graft.queries.Analytics.qMarketBasket(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    assert(rows.nonEmpty && rows.length <= 20)
    val baskets = graft.Tables.lineitem(spark, sf001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
      .groupBy(_._1).map { case (_, g) => g.map(_._2).sorted }
    val nOrders = baskets.size
    val pairCount = baskets.toSeq
      .flatMap(b => for (i <- b.indices; j <- i + 1 until b.length) yield (b(i), b(j)))
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val itemCount = baskets.toSeq.flatten
      .groupBy(x => x).map { case (k, v) => (k, v.size.toLong) }
    rows.foreach { case (p1, p2, cab, ca, cb, supp, conf, lift) =>
      assert(pairCount((p1, p2)) == cab, s"pair ($p1,$p2) count")
      assert(itemCount(p1) == ca && itemCount(p2) == cb)
      assert(cab <= math.min(ca, cb))
      assert(supp == cab.toDouble / nOrders)
      assert(conf == cab.toDouble / ca)
      assert(lift == nOrders.toDouble * cab.toDouble / (ca.toDouble * cb.toDouble))
    }
    // the cut really is the top of the distribution: every reported count
    // >= every unreported count
    val reported = rows.map(r => (r._1, r._2)).toSet
    val maxUnreported = (pairCount -- reported).values.foldLeft(0L)(math.max)
    assert(rows.map(_._3).min >= maxUnreported)
  }

  test("triangle count: degree-oriented enumeration equals a naive recompute") {
    val edges = VectorOps.ngramPairs(graft.Tables.documents(spark, sf001))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (v, g) => (v, g.map(_._2).toSet) }
    val naive = adj.map { case (v, ns) =>
      (v, ns.toSeq.combinations(2).count {
        case Seq(a, b) => adj(a).contains(b); case _ => false
      }.toLong)
    }
    val got = VectorOps.qTriangleCount(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (v, deg, nTri) =>
      assert(deg == adj(v).size.toLong, s"vertex $v degree")
      assert(nTri == naive(v), s"vertex $v triangles: $nTri vs ${naive(v)}")
      assert(nTri <= deg * (deg - 1) / 2, "triangles exceed wedge bound")
    }
    assert(got.map(_._3).sum % 3 == 0, "each triangle touches exactly 3 vertices")
  }

  test("corr matrix: equals a BigDecimal-exact naive recompute; bounded by [-1,1]") {
    val rows = graft.queries.Analytics.qCorrMatrix(spark, sf001).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(rows.nonEmpty)
    val raw = graft.Tables.lineitem(spark, sf001)
      .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .collect()
      .map(r => (r.getString(0), Array(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
    val names = Array("qty", "price", "disc", "tax")
    raw.groupBy(_._1).foreach { case (flag, g) =>
      val xs = g.map(_._2)
      val n = xs.length.toDouble
      // exact decimal sums (2-dec values scale losslessly by 100), ONE
      // rounding to double — the lift semantics
      val cents = xs.map(_.map(v => math.round(v * 100)))
      def sum1(i: Int) = cents.map(c => BigInt(c(i))).sum.toDouble / 100.0
      def sum2(i: Int, j: Int) = cents.map(c => BigInt(c(i)) * BigInt(c(j))).sum.toDouble / 10000.0
      for (i <- 0 until 4; j <- i + 1 until 4) {
        val (num, vi, vj) = (
          n * sum2(i, j) - sum1(i) * sum1(j),
          n * sum2(i, i) - sum1(i) * sum1(i),
          n * sum2(j, j) - sum1(j) * sum1(j))
        val expect = if (vi <= 0 || vj <= 0) Double.NaN else num / math.sqrt(vi * vj)
        val got = rows((flag, s"${names(i)}_${names(j)}"))
        assert(got >= -1.0 && got <= 1.0, s"$flag ${names(i)}_${names(j)}: $got out of range")
        assert(math.abs(got - expect) < 1e-9, s"$flag ${names(i)}_${names(j)}: $got vs $expect")
      }
    }
  }

  test("bfs dist: equals a naive multi-source BFS capped at the round count") {
    val edges = VectorOps.ngramPairs(graft.Tables.documents(spark, sf001))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (v, g) => (v, g.map(_._2)) }
    val rounds = VectorOps.BfsRounds
    var dist = adj.keys.map(v =>
      (v, if (v % VectorOps.BfsSeedMod == 0) 0 else VectorOps.BfsUnreached)).toMap
    for (_ <- 1 to rounds)
      dist = dist.map { case (v, d) =>
        (v, math.min(d, adj(v).map(u => dist(u) + 1).min)) }
    val got = VectorOps.qBfsDist(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got.nonEmpty && got.keySet == dist.keySet)
    got.foreach { case (v, d) =>
      assert(d == dist(v), s"vertex $v: got $d expected ${dist(v)}") }
    // the seed set really is at distance zero, and someone is reached
    assert(got.filter(_._1 % VectorOps.BfsSeedMod == 0).values.forall(_ == 0))
    assert(got.values.exists(d => d > 0 && d < VectorOps.BfsUnreached))
  }

  test("bloom join: result identical to the plain join (false positives all die)") {
    val got = graft.queries.Relational.qJoinBloom(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val urgent = graft.Tables.orders(spark, sf001)
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderstatus")
    val plain = graft.Tables.lineitem(spark, sf001)
      .join(urgent, org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_lines"),
        org.apache.spark.sql.functions.expr(
          graft.queries.Det.liftDec4(s"sum(${graft.queries.Det.revDec})")).as("revenue"))
      .orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(plain),
      "bloom pre-filter changed the join result")
  }

  test("scd2: intervals tile each user's history; versions dense; one open row per user") {
    val rows = graft.queries.Behavior.qScd2(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)), r.getBoolean(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (user, g) =>
      val hist = g.sortBy(_._2)
      // versions are 1..n dense
      assert(hist.map(_._2).toSeq == (1 to hist.length).toSeq, s"user $user versions")
      // each interval closes exactly where the next opens; only the last is open
      hist.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.contains(b._4), s"user $user v${a._2} close != v${b._2} open")
          assert(!a._6, s"user $user v${a._2} closed row marked current")
          // a change really changed the type
          assert(a._3 != b._3, s"user $user v${a._2}->v${b._2} same type")
        case _ =>
      }
      assert(hist.last._5.isEmpty && hist.last._6, s"user $user last row must be open")
    }
    // interval bounds reproduce the raw event stream's change points
    val nChanges = {
      val evs = graft.Tables.events(spark, sf001)
        .select("user_id", "ts", "event_id", "event_type").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
      evs.groupBy(_._1).map { case (_, g) =>
        val seq = g.sortBy(e => (e._2.getTime, e._3)).map(_._4)
        1 + seq.sliding(2).count { case Array(a, b) => a != b; case _ => false }
      }.sum
    }
    assert(rows.length == nChanges, s"${rows.length} intervals vs $nChanges change points")
  }

  test("moving median: equals a naive sorted-frame recompute") {
    val rows = graft.queries.Windows.qWinMedian(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getDate(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (user, g) =>
      val series = g.sortBy(_._2.getTime)
      series.indices.foreach { i =>
        val frame = series.slice(math.max(0, i - 6), i + 1).map(_._3).sorted
        val expect =
          if (frame.length % 2 == 1) frame(frame.length / 2).toDouble
          else (frame(frame.length / 2 - 1) + frame(frame.length / 2)) / 2.0
        assert(series(i)._4 == expect,
          s"user $user day ${series(i)._2}: ${series(i)._4} vs $expect")
      }
    }
  }

  test("hits: equals a naive Jacobi recompute over the id-oriented graph") {
    val edges = VectorOps.ngramPairs(graft.Tables.documents(spark, sf001))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var h = verts.map(v => (v, BigInt(1))).toMap
    var a = verts.map(v => (v, BigInt(1))).toMap
    for (_ <- 1 to VectorOps.HitsRounds) {
      val na = verts.map(v =>
        (v, edges.filter(_._2 == v).map(e => h(e._1)).sum)).toMap
      val nh = verts.map(v =>
        (v, edges.filter(_._1 == v).map(e => a(e._2)).sum)).toMap
      h = nh; a = na
    }
    val got = VectorOps.qHits(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.length == verts.length)
    got.foreach { case (v, gh, ga) =>
      assert(BigInt(gh) == h(v) && BigInt(ga) == a(v),
        s"vertex $v: ($gh, $ga) vs (${h(v)}, ${a(v)})")
    }
    // direction carries meaning: hubs and authorities are not identical
    assert(got.exists { case (_, gh, ga) => gh != ga })
  }

  test("rolling corr: equals a naive windowed recompute; bounded by [-1,1]") {
    val rows = graft.queries.Behavior.qRollingCorr(spark, sf001).collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(rows.nonEmpty)
    val series = rows.sortBy(_._1.getTime)
    series.indices.foreach { i =>
      val frame = series.slice(math.max(0, i - 29), i + 1)
      val n = frame.length.toDouble
      val (sa, sb) = (frame.map(_._2).sum.toDouble, frame.map(_._3).sum.toDouble)
      val qa = frame.map(x => x._2 * x._2).sum.toDouble
      val qb = frame.map(x => x._3 * x._3).sum.toDouble
      val pab = frame.map(x => x._2 * x._3).sum.toDouble
      val (va, vb) = (n * qa - sa * sa, n * qb - sb * sb)
      val expect = if (va <= 0 || vb <= 0) None
        else Some((n * pab - sa * sb) / math.sqrt(va * vb))
      assert(series(i)._4 == expect, s"day ${series(i)._1}: ${series(i)._4} vs $expect")
      series(i)._4.foreach(c => assert(c >= -1.0 && c <= 1.0))
    }
  }

  test("windowed funnel: equals a naive per-user chain recompute; monotone steps") {
    val r = graft.queries.Analytics.qFunnelWindowed(spark, sf001).head
    val (nUsers, nS, nV, nP) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nUsers >= nS && nS >= nV && nV >= nP, "funnel must be monotone")
    val evs = graft.Tables.events(spark, sf001)
      .select("user_id", "ts", "event_type").collect()
      .map(x => (x.getLong(0), x.getTimestamp(1).getTime, x.getString(2)))
    val week = 7L * 24 * 3600 * 1000
    val byUser = evs.groupBy(_._1)
    val chains = byUser.map { case (_, g) =>
      val sOpt = g.filter(_._3 == "signup").map(_._2).minOption
      val vOpt = sOpt.flatMap(st => g.filter(e =>
        e._3 == "view" && e._2 > st && e._2 <= st + week).map(_._2).minOption)
      val pOpt = vOpt.flatMap(vt => g.filter(e =>
        e._3 == "purchase" && e._2 > vt && e._2 <= vt + week).map(_._2).minOption)
      (sOpt, vOpt, pOpt)
    }
    assert(nUsers == byUser.size)
    assert(nS == chains.count(_._1.isDefined), s"signups: $nS")
    assert(nV == chains.count(_._2.isDefined), s"view-within-7d: $nV")
    assert(nP == chains.count(_._3.isDefined), s"purchase-within-7d: $nP")
  }

  test("compaction plan: bins tile each priority's file list in day order") {
    val target = 4000L
    val rows = graft.queries.Analytics.qCompactionPlan(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDate(4), r.getDate(5)))
    assert(rows.nonEmpty)
    val files = graft.Tables.orders(spark, sf001)
      .groupBy(col("o_orderpriority"),
        org.apache.spark.sql.functions.to_date(col("o_orderdate")).as("day"))
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("sz")).collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
    files.groupBy(_._1).foreach { case (prio, g) =>
      val ordered = g.sortBy(_._2.getTime)
      var cum = 0L
      val naive = ordered.map { f =>
        val bin = cum / target; cum += f._3; (bin, f) }
      val got = rows.filter(_._1 == prio)
      assert(got.map(_._4).sum == ordered.map(_._3).sum, s"$prio total rows")
      assert(got.map(_._3).sum == ordered.length, s"$prio file count")
      naive.groupBy(_._1).foreach { case (bin, bg) =>
        val row = got.find(_._2 == bin).get
        assert(row._3 == bg.length && row._4 == bg.map(_._2._3).sum,
          s"$prio bin $bin contents")
        assert(row._5 == bg.map(_._2._2).minBy(_.getTime) &&
          row._6 == bg.map(_._2._2).maxBy(_.getTime), s"$prio bin $bin day span")
      }
      // every bin except the last closed only after crossing the target:
      // its files' cumulative size reaches target once the bin advances
      val binSizes = naive.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2._3).sum)
      binSizes.dropRight(1).foreach(sz =>
        assert(sz >= 1, s"$prio: empty closed bin"))
      assert(binSizes.sum == ordered.map(_._3).sum)
    }
  }

  test("bm25: a planted near-copy outranks unrelated docs for its source probe") {
    import spark.implicits._
    // probe doc 0 (id % 50 == 0) carries a distinctive phrase; doc 1 is a
    // near-copy sharing the phrase; docs 2..41 are unrelated filler built
    // from a disjoint vocabulary. The copy must be retrieved at rank <= 2
    // (the probe itself may take rank 1 — self-retrieval).
    val phrase = "zephyr quantum lattice harmonics converge swiftly tonight"
    val copy = phrase + " indeed they converge swiftly tonight again"
    val filler = (2L until 42L).map { i =>
      val w = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
      (i, (0 until 30).map(j => w(((i + j) % w.length).toInt)).mkString(" "))
    }
    val docs = (Seq((0L, phrase + " and some trailing context words here"),
      (1L, copy)) ++ filler).toDF("doc_id", "text")
    val out = graft.queries.TextOps.bm25Topk(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    graft.Caches.drain(spark)
    val probe0 = out.filter(_._1 == 0L)
    assert(probe0.nonEmpty, "probe 0 must retrieve")
    val copyRank = probe0.find(_._3 == 1L).map(_._2)
    assert(copyRank.exists(_ <= 2),
      s"the planted near-copy must rank in the top 2, got $copyRank (results: ${probe0.toSeq})")
    assert(!probe0.exists(r => r._3 >= 2L && r._2 <= 2),
      s"no unrelated filler doc may outrank the copy: ${probe0.toSeq}")
  }

  test("ngram LM: per-head top-3 is ordered, probabilities are exact ratios <= 1") {
    val rows = graft.queries.TextOps.qNgramLm(spark, sf001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (w1, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq,
        s"head $w1 ranks not dense")
      assert(sorted.length <= 3)
      // counts non-increasing down the rank; ties broken by w2 ascending
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3), s"head $w1 order")
        case _ =>
      }
      g.foreach { case (_, _, _, c12, c1, p) =>
        assert(c12 <= c1 && p == c12.toDouble / c1.toDouble && p <= 1.0)
      }
    }
    assert(rows.map(_._1).distinct.length <= 20)
  }
}
