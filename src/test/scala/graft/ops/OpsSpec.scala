package graft.ops

import graft.pipe.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MinHashDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("shingles and exact jaccard") {
    val a = MinHashDedup.shingles("a b c d e", 3)
    assert(a.size == 3)
    assert(MinHashDedup.exactJaccard(a, a) == 1.0)
    val b = MinHashDedup.shingles("a b c d x", 3)
    // shared: "a b c", "b c d"; union size 4
    assert(MinHashDedup.exactJaccard(a, b) == 0.5)
    // degenerate-input rule: fewer than k tokens -> no shingles
    assert(MinHashDedup.shingles("a b", 3).isEmpty)
    assert(MinHashDedup.shingles("", 3).isEmpty)
    assert(MinHashDedup.charNgrams("abc", 8).isEmpty)
  }

  test("jaccardSorted (merge) agrees with the Set formulation") {
    val r = new java.util.Random(31)
    for (_ <- 0 until 200) {
      val a = (0 until r.nextInt(30)).map(_ => r.nextInt(40).toLong).toSet
      val b = (0 until r.nextInt(30)).map(_ => r.nextInt(40).toLong).toSet
      val merged = MinHashDedup.jaccardSorted(
        a.toArray.sorted.toIndexedSeq, b.toArray.sorted.toIndexedSeq)
      assert(merged == MinHashDedup.exactJaccard(a, b), (a, b))
    }
    assert(MinHashDedup.jaccardSorted(IndexedSeq.empty,
      IndexedSeq.empty) == 1.0)
  }

  test("signature similarity estimates jaccard") {
    val r = new java.util.Random(5)
    val base = (0 until 60).map(_ => s"w${r.nextInt(1000)}").mkString(" ")
    val near = base + " tail1 tail2"
    val far = (0 until 60).map(_ => s"v${r.nextInt(1000)}").mkString(" ")
    def sig(t: String) =
      MinHashDedup.signature(MinHashDedup.shingles(t, 3), 128, 42L)
    def est(a: Array[Long], b: Array[Long]) =
      a.zip(b).count { case (x, y) => x == y } / 128.0
    val jNear = MinHashDedup.exactJaccard(
      MinHashDedup.shingles(base, 3), MinHashDedup.shingles(near, 3))
    assert(math.abs(est(sig(base), sig(near)) - jNear) < 0.15)
    assert(est(sig(base), sig(far)) < 0.15)
  }

  test("end-to-end near-duplicate detection on a controlled corpus") {
    import spark.implicits._
    val r = new java.util.Random(9)
    val texts = (0 until 30).map(i =>
      (i.toLong, (0 until 50).map(_ => s"w${r.nextInt(500)}")
        .mkString(" ")))
    // 3 near-dup twins with one word changed
    val twins = texts.take(3).map { case (id, t) =>
      (id + 100L, t.replaceFirst("^\\S+", "changed"))
    }
    val corpus = spark.createDataset(texts ++ twins)
    val pairs = MinHashDedup.nearDuplicates(spark, corpus,
      threshold = 0.8).collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys == Set((0L, 100L), (1L, 101L), (2L, 102L)),
      s"got $keys")
    assert(pairs.forall(_.getDouble(2) >= 0.8))
  }

  test("incremental dedup: new batch vs persisted index finds exactly " +
    "the inter-set twins; history is not re-signed") {
    import spark.implicits._
    val r = new java.util.Random(11)
    val hist = (0 until 25).map(i =>
      (i.toLong, (0 until 50).map(_ => s"w${r.nextInt(500)}")
        .mkString(" ")))
    val histDs = spark.createDataset(hist)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx")
      .toString
    MinHashDedup.bandIndex(spark, histDs)
      .write.mode("overwrite").parquet(dir)
    // new batch: twins of 2 history docs + 2 unrelated docs + an
    // intra-batch twin PAIR (must NOT appear — only old x new pairs do)
    val newBatch = spark.createDataset(Seq(
      (200L, hist(0)._2.replaceFirst("^\\S+", "changed")),
      (201L, hist(1)._2.replaceFirst("^\\S+", "changed")),
      (202L, (0 until 50).map(_ => "fresh" + r.nextInt(99)).mkString(" ")),
      (203L, hist(20)._2 + " x"),
      (204L, hist(20)._2 + " x"))) // 203/204 are an intra-batch pair
    val got = MinHashDedup.nearDuplicatesIncremental(spark,
      spark.read.parquet(dir), histDs, newBatch).collect()
    val keys = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys == Set((0L, 200L), (1L, 201L), (20L, 203L),
      (20L, 204L)), s"got $keys")
    assert(got.forall(_.getDouble(2) >= 0.8))
  }

  test("incremental dedup: oversized HISTORY buckets are pruned by the " +
    "cap (degenerate-history protection)") {
    import spark.implicits._
    // 100 identical history docs -> every band bucket has 100 ids;
    // with bucketCap below that, a matching new doc yields NO pairs
    val hist = spark.createDataset((0L until 100L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta")))
    val dir = java.nio.file.Files.createTempDirectory("graft-idx2")
      .toString
    MinHashDedup.bandIndex(spark, hist)
      .write.mode("overwrite").parquet(dir)
    val newBatch = spark.createDataset(Seq(
      (500L, "alpha beta gamma delta epsilon zeta eta theta")))
    val got = MinHashDedup.nearDuplicatesIncremental(spark,
      spark.read.parquet(dir), hist, newBatch, bucketCap = 50)
    assert(got.count() == 0)
    // raising the cap above the bucket size restores the matches
    val got2 = MinHashDedup.nearDuplicatesIncremental(spark,
      spark.read.parquet(dir), hist, newBatch, bucketCap = 128)
    assert(got2.count() == 100)
  }

  test("degenerate corpus: 100k copies never materialize a mega-bucket") {
    import spark.implicits._
    // 100k identical docs -> every (band, bh) bucket holds 100k ids;
    // the count pass must prune them all BEFORE collect_list (pre-fix
    // this built per-band lists of 100k elements in single agg buffers)
    val n = 100000
    val corpus = spark.range(n)
      .select($"id", lit("w1 w2 w3 w4 w5 w6 w7 w8").as("t"))
      .as[(Long, String)]
    val pairs = MinHashDedup.nearDuplicates(spark, corpus).collect()
    assert(pairs.isEmpty) // all buckets oversized -> dropped, counted
    val dropped = MinHashDedup.oversizedBuckets(spark, corpus).collect()
    assert(dropped.length == 16 && dropped.forall(_.getLong(2) == n))
  }

  test("single-pass recall ledger observes drops during nearDuplicates") {
    import spark.implicits._
    // mixed corpus: 1000 identical docs (every band bucket oversized,
    // dropped) + one genuine twin pair (kept buckets, so the plan is
    // not empty-propagated). The Observation on the SAME count pass
    // must report exactly the 16 dropped band buckets x 1000 rows.
    val n = 1000
    val degenerate = spark.range(n)
      .select($"id", lit("w1 w2 w3 w4 w5 w6 w7 w8").as("t"))
      .as[(Long, String)]
    val r = new java.util.Random(21)
    val real = (0 until 50).map(_ => s"w${r.nextInt(500)}").mkString(" ")
    val twins = spark.createDataset(Seq(
      (5000L, real), (5001L, real + " tail")))
    val corpus = degenerate.union(twins)
    val obs = new org.apache.spark.sql.Observation("minhash-ledger")
    val pairs = MinHashDedup.nearDuplicates(spark, corpus, ledger = obs)
      .collect()
    assert(pairs.map(p => (p.getLong(0), p.getLong(1))).toSet ==
      Set((5000L, 5001L)))
    val m = obs.get
    assert(m("dropped_buckets") == 16L, m)
    assert(m("dropped_rows") == 16L * n, m)
    // matches the standalone inspection query
    val standalone = MinHashDedup.oversizedBuckets(spark, corpus)
      .agg(count(lit(1)), sum($"n")).collect()(0)
    assert(standalone.getLong(0) == 16L &&
      standalone.getLong(1) == 16L * n)
  }

  test("ledger empty-map semantics when NO bucket survives (AQE empty " +
    "propagation, documented in observeDrops)") {
    import spark.implicits._
    val corpus = spark.range(100)
      .select($"id", lit("w1 w2 w3 w4 w5 w6 w7 w8").as("t"))
      .as[(Long, String)]
    val obs = new org.apache.spark.sql.Observation("minhash-ledger-e")
    assert(MinHashDedup.nearDuplicates(spark, corpus, bucketCap = 8,
      ledger = obs).collect().isEmpty)
    assert(obs.get.isEmpty) // empty map == zero kept buckets
  }
}

class ClustersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("components: chain, triangle, singleton; keeper = min id") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs multi-round propagation),
    // triangle 10-11-12, pair 20-21, singleton 30
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val verts = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 30L)
      .toDF("id")
    val got = Clusters.keepers(spark, pairs, verts).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val exp = Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (10L, 10L, true), (11L, 10L, false), (12L, 10L, false),
      (20L, 20L, true), (21L, 20L, false), (30L, 30L, true))
    assert(got == exp)
  }

  test("vertex set is closed over pair ids (ids absent from vertices " +
    "still get complete components)") {
    import spark.implicits._
    // vertex list only knows id 1; the chain 1-2-3 must still resolve
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val verts = Seq(1L, 9L).toDF("id") // 9 = unrelated singleton
    val got = Clusters.connectedComponents(spark, pairs, verts)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L)))
  }

  test("long chain (diameter 60) converges in logarithmic rounds — " +
    "the drifting-template shape min-label propagation aborted on") {
    import spark.implicits._
    // a 61-node path (daily page revisions v1~v2~...~v61: adjacent
    // similarity above threshold, endpoints dissimilar). Min-label
    // propagation needs diameter rounds (60 > its former 25-round
    // abort); alternating large-star/small-star must resolve it well
    // inside a 10-round budget
    val pairs = (0 until 60).map(i => (i.toLong, i + 1L))
      .toDF("id_a", "id_b")
    val verts = spark.range(61).toDF("id")
    val got = Clusters.connectedComponents(spark, pairs, verts,
      maxIter = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L to 60L).map(i => (i, 0L)).toSet)
  }

  test("empty graph (no vertices, no pairs) returns empty, not a crash") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val verts = Seq.empty[Long].toDF("id")
    assert(Clusters.connectedComponents(spark, pairs, verts)
      .collect().isEmpty)
  }

  test("components are deterministic across partitionings") {
    import spark.implicits._
    val r = new java.util.Random(17)
    val pairs = (0 until 200).map(_ =>
      (r.nextInt(100).toLong, 100L + r.nextInt(100)))
      .toDF("id_a", "id_b")
    val verts = spark.range(200).toDF("id")
    def run(parts: Int) = Clusters.connectedComponents(spark,
      pairs.repartition(parts), verts.repartition(parts))
      .collect().map(row => (row.getLong(0), row.getLong(1))).sorted.toSeq
    assert(run(2) == run(7))
  }

  test("local union-find fast path equals distributed star contraction " +
    "(r6 optimization: same labels on a random multi-component graph)") {
    import spark.implicits._
    val r = new java.util.Random(23)
    // random graph with dup edges, self-loops, both orientations, and
    // ids missing from the vertex list — every absorbing rule the
    // distributed path implements must hold on the local path too
    val edges = (0 until 300).map(_ =>
      (r.nextInt(120).toLong, r.nextInt(120).toLong))
    val pairs = edges.toDF("id_a", "id_b")
    val verts = spark.range(100).toDF("id")
    def run(cap: Long) = Clusters.connectedComponents(spark, pairs,
      verts, localSolveMaxEdges = cap)
      .collect().map(row => (row.getLong(0), row.getLong(1))).sorted.toSeq
    val local = run(Long.MaxValue)
    val distributed = run(0L) // cap 0 forces the star-contraction loop
    assert(local == distributed)
    assert(local.nonEmpty)
  }

  test("an id seen only in self-loops, absent from vertices, is the " +
    "same singleton on the local and distributed paths") {
    import spark.implicits._
    // 7 appears only as (7, 7) and 8 only as (8, 8) twice; neither is
    // a vertex. 1-2 is an ordinary component, 5 a plain vertex
    val pairs = Seq((1L, 2L), (7L, 7L), (8L, 8L), (8L, 8L), (2L, 2L))
      .toDF("id_a", "id_b")
    val verts = Seq(1L, 5L).toDF("id")
    def run(cap: Long) = Clusters.connectedComponents(spark, pairs,
      verts, localSolveMaxEdges = cap)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    val local = run(Long.MaxValue)
    assert(local == run(0L))
    assert(local == Set((1L, 1L), (2L, 1L), (5L, 5L), (7L, 7L), (8L, 8L)))
  }

  test("local path handles the 61-node path and empty graphs " +
    "(keeper = component min under the cap too)") {
    import spark.implicits._
    val pairs = (0 until 60).map(i => (i.toLong, i + 1L))
      .toDF("id_a", "id_b")
    val verts = spark.range(61).toDF("id")
    val got = Clusters.connectedComponents(spark, pairs, verts,
      localSolveMaxEdges = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L to 60L).map(i => (i, 0L)).toSet)
    val none = Clusters.connectedComponents(spark,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      Seq.empty[Long].toDF("id"), localSolveMaxEdges = Long.MaxValue)
    assert(none.collect().isEmpty)
  }

  test("SPARK_GRAFT_CC_LOCAL_MAX: default when unset, non-negative " +
    "counts accepted, malformed or negative values rejected by name") {
    assert(Clusters.localSolveMax(None) == 4194304L)
    assert(Clusters.localSolveMax(Some("0")) == 0L)
    assert(Clusters.localSolveMax(Some(" 1024 ")) == 1024L)
    for (bad <- Seq("4M", "", "1.5", "-1")) {
      val e = intercept[IllegalArgumentException](
        Clusters.localSolveMax(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CC_LOCAL_MAX"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }
}

class SimHashSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("identical text -> distance 0; near text -> small distance") {
    val t = "the quick brown fox jumps over the lazy dog " * 5
    assert(SimHash.hamming(SimHash.simhash64(t), SimHash.simhash64(t)) == 0)
    val t2 = t + " extra"
    assert(SimHash.hamming(SimHash.simhash64(t),
      SimHash.simhash64(t2)) < 16)
  }

  test("end-to-end: exact copies found at distance 0") {
    import spark.implicits._
    val r = new java.util.Random(3)
    val texts = (0 until 20).map(i =>
      (i.toLong, (0 until 40).map(_ => s"w${r.nextInt(400)}")
        .mkString(" ")))
    val corpus = spark.createDataset(
      texts ++ texts.take(4).map { case (id, t) => (id + 100L, t) })
    val pairs = SimHash.nearDuplicates(spark, corpus, maxDist = 3)
      .collect()
    val exact = pairs.filter(_.getInt(2) == 0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 100L), (1L, 101L), (2L, 102L), (3L, 103L))
      .subsetOf(exact))
  }

  test("degenerate corpus: identical docs pruned by the count pass") {
    import spark.implicits._
    val n = 50000
    val corpus = spark.range(n)
      .select($"id", lit("same text for every doc here").as("t"))
      .as[(Long, String)]
    assert(SimHash.nearDuplicates(spark, corpus).isEmpty)
    val dropped = SimHash.oversizedBuckets(spark, corpus).collect()
    assert(dropped.length == 4 && dropped.forall(_.getLong(2) == n))
  }
}

class EmbeddingDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("colinear twins found via multi-table LSH + exact verify") {
    import spark.implicits._
    val r = new java.util.Random(7)
    val vs = (0 until 40).map(i =>
      (i.toLong, Seq.fill(16)(r.nextFloat() * 2 - 1)))
    val twins = vs.take(5).map { case (id, v) =>
      (id + 100L, v.map(x => x * 1.01f))
    }
    val corpus = spark.createDataset(vs ++ twins).toDF("id", "vec")
    val pairs = EmbeddingDedup.nearDuplicates(spark, corpus, dim = 16)
      .collect()
    val keys = pairs.map(p => (p.getLong(0), p.getLong(1))).toSet
    assert((0 until 5).map(i => (i.toLong, i + 100L)).toSet
      .subsetOf(keys), s"got $keys")
  }

  test("all-positive clustered embedding family (ReLU/count shape): " +
    "direction-centering keeps buckets under the cap and the colinear " +
    "twin is still found — no silent recall collapse") {
    import spark.implicits._
    val r = new java.util.Random(13)
    // every component positive and clustered: without centering every
    // row lands in the same orthant bucket, the cap drops it, and
    // dedup silently finds NOTHING
    val vs = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(1.0f + r.nextFloat() * 0.5f)))
    val twins = vs.take(5).map { case (id, v) =>
      (id + 1000L, v.map(x => x * 1.02f))
    }
    val corpus = spark.createDataset(vs ++ twins).toDF("id", "vec")
    val pairs = EmbeddingDedup.nearDuplicates(spark, corpus, dim = 16,
      threshold = 0.9999, bucketCap = 64)
      .collect().map(rr => (rr.getLong(0), rr.getLong(1))).toSet
    for ((id, _) <- vs.take(5))
      assert(pairs.contains((id, id + 1000L)),
        s"twin pair ($id, ${id + 1000L}) missed: $pairs")
  }

  test("nProbe knob: colinear twins found even at nProbe = 0; candidate " +
    "volume shrinks monotonically") {
    import spark.implicits._
    val r = new java.util.Random(11)
    val vs = (0 until 40).map(i =>
      (i.toLong, Seq.fill(16)(r.nextFloat() * 2 - 1)))
    val twins = vs.take(5).map { case (id, v) =>
      (id + 100L, v.map(x => x * 1.01f))
    }
    val corpus = spark.createDataset(vs ++ twins).toDF("id", "vec")
    // colinear twins share every home bucket -> found with zero probes
    val p0 = EmbeddingDedup.nearDuplicates(spark, corpus, dim = 16,
      nProbe = 0).collect().map(p => (p.getLong(0), p.getLong(1))).toSet
    assert((0 until 5).map(i => (i.toLong, i + 100L)).toSet
      .subsetOf(p0), s"got $p0")
    // fewer probes -> the found pair set can only shrink (same verify)
    val p4 = EmbeddingDedup.nearDuplicates(spark, corpus, dim = 16,
      nProbe = 4).collect().map(p => (p.getLong(0), p.getLong(1))).toSet
    val p16 = EmbeddingDedup.nearDuplicates(spark, corpus, dim = 16,
      nProbe = 16).collect().map(p => (p.getLong(0), p.getLong(1))).toSet
    assert(p0.subsetOf(p4) && p4.subsetOf(p16), s"$p0 / $p4 / $p16")
  }

  test("embedding ledger shares the probe expansion (no second pass)") {
    import spark.implicits._
    // 2000 identical vectors (oversized buckets, dropped) + a distinct
    // twin pair (kept buckets keep the metrics node alive)
    val n = 2000
    val degenerate = spark.range(n)
      .select($"id", typedLit(Seq.fill(16)(0.5f)).as("vec"))
    val r = new java.util.Random(13)
    val v = Seq.fill(16)(r.nextFloat() * 2 - 1)
    val twins = spark.createDataset(Seq(
      (9000L, v), (9001L, v.map(_ * 1.01f)))).toDF("id", "vec")
    val corpus = degenerate.union(twins)
    val obs = new org.apache.spark.sql.Observation("emb-ledger")
    val pairs = EmbeddingDedup.nearDuplicates(spark, corpus, dim = 16,
      bucketCap = 64, ledger = obs).collect()
    assert(pairs.map(p => (p.getLong(0), p.getLong(1)))
      .contains((9000L, 9001L)))
    val m = obs.get
    val standalone = EmbeddingDedup.oversizedBuckets(spark, corpus,
      dim = 16, bucketCap = 64)
      .agg(count(lit(1)), sum($"n")).collect()(0)
    assert(m("dropped_buckets") == standalone.getLong(0), m)
    assert(m("dropped_rows") == standalone.getLong(1), m)
  }
}

class AnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mkVecs(n: Int, dim: Int, seed: Int) = {
    val r = new java.util.Random(seed)
    (0 until n).map(i =>
      (i.toLong, Seq.fill(dim)(r.nextFloat() * 2 - 1)))
  }

  test("cosine expression matches scala computation") {
    import spark.implicits._
    val vs = mkVecs(10, 16, 1)
    val df = spark.createDataset(vs).toDF("id", "vec")
    val got = df.crossJoin(df.select($"id".as("id2"), $"vec".as("vec2")))
      .filter($"id" === 0 && $"id2" === 1)
      .select(Ann.cosine($"vec", $"vec2")).first().getDouble(0)
    val a = vs(0)._2; val b = vs(1)._2
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val exp = dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
      math.sqrt(b.map(x => x.toDouble * x).sum))
    assert(math.abs(got - exp) < 1e-12)
  }

  test("brute force top-k is exact and deterministic") {
    import spark.implicits._
    val vs = mkVecs(50, 16, 2)
    val corpus = spark.createDataset(vs).toDF("id", "vec")
    val queries = spark.createDataset(vs.take(3)).toDF("qid", "qvec")
    val got = Ann.bruteForceTopK(spark, corpus, queries, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // scala oracle
    def cos(a: Seq[Float], b: Seq[Float]) = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val exp = (for ((qid, qv) <- vs.take(3)) yield {
      vs.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(5).zipWithIndex
        .map { case ((id, _), i) => (qid, i + 1, id) }
    }).flatten.toSet
    assert(got == exp)
  }

  test("lsh top-k: rank-1 self-similar twin always found") {
    import spark.implicits._
    val vs = mkVecs(60, 16, 4)
    // plant a near-identical twin for query 0
    val twin = (999L, vs(0)._2.map(x => x * 1.001f))
    val corpus = spark.createDataset(vs ++ Seq(twin)).toDF("id", "vec")
    val queries = spark.createDataset(vs.take(1)).toDF("qid", "qvec")
    val got = Ann.lshTopK(spark, corpus, queries, 3, dim = 16).collect()
    assert(got.exists(r => r.getInt(1) == 1 && r.getLong(2) == 999L),
      s"twin not found: ${got.mkString(",")}")
  }

  test("ivf top-k: colinear twin always found, training deterministic") {
    import spark.implicits._
    val vs = mkVecs(60, 16, 4)
    val twin = (999L, vs(0)._2.map(x => x * 1.001f))
    val corpus = spark.createDataset(vs ++ Seq(twin)).toDF("id", "vec")
    val queries = spark.createDataset(vs.take(1)).toDF("qid", "qvec")
    val got = Ann.ivfTopK(spark, corpus, queries, 3, dim = 16,
      nClusters = 8, nProbe = 2).collect()
    assert(got.exists(r => r.getInt(1) == 1 && r.getLong(2) == 999L),
      s"twin not found: ${got.mkString(",")}")
    // centroids are a pure function of (corpus, seed)
    val c1 = Ann.trainIvfCentroids(spark, corpus, 16, 8)
    val c2 = Ann.trainIvfCentroids(spark, corpus, 16, 8)
    assert(c1.flatten.toSeq == c2.flatten.toSeq)
  }

  test("lshTopK materializes slim inputs: an expensive corpus upstream " +
    "executes exactly once, not once per consumption") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("corpus-decodes")
    val vs = mkVecs(40, 16, 9)
    // the accumulator stands in for an expensive per-row decode: if
    // lshTopK re-executed the corpus plan for the candidate re-join
    // (the pre-fix shape), the count would be 2x the corpus size
    val corpus = spark.createDataset(vs)
      .map { r => acc.add(1); r }.toDF("id", "vec")
    val queries = spark.createDataset(vs.take(2)).toDF("qid", "qvec")
    Ann.lshTopK(spark, corpus, queries, 3, dim = 16).collect()
    assert(acc.value == 40L,
      s"corpus upstream executed ${acc.value}/40 times")
  }

  test("lshTopK centers before hashing: an all-positive clustered " +
    "corpus (the luma-band shape) spreads across buckets instead of " +
    "collapsing into one orthant, and still finds its twin") {
    import spark.implicits._
    val r = new java.util.Random(5)
    // band-mean-like vectors: every component in [100, 160] — without
    // centering every hyperplane sees the same sign for all rows
    val vs = (0 until 200).map(i =>
      (i.toLong, Seq.fill(8)(100f + r.nextFloat() * 60)))
    val pl = Ann.planeTables(1, 16, 8, 42L)(0)
    val uncentered = vs.map { case (_, v) => Ann.signBucket(v, pl) }
      .distinct.size
    // center = mean of the NORMALIZED directions (signBucket hashes
    // direction so colinear twins stay equal under any center)
    val norms = vs.map { case (_, v) => Ann.normalize(v) }
    val mean = Array.tabulate(8)(d => norms.map(_(d)).sum / norms.length)
    val centered = vs.map { case (_, v) => Ann.signBucket(v, pl, mean) }
      .distinct.size
    assert(uncentered <= 4, s"fixture not clustered enough: $uncentered")
    assert(centered > 50,
      s"centering failed to spread buckets: $centered")
    // end to end: the exact twin is still rank-1 (equal vectors share
    // every bucket under ANY center)
    val twin = (999L, vs(7)._2)
    val corpus = spark.createDataset(vs ++ Seq(twin)).toDF("id", "vec")
    val queries = spark.createDataset(Seq(vs(7)))
      .toDF("qid", "qvec")
    val got = Ann.lshTopK(spark, corpus, queries, 1, dim = 8).collect()
    assert(got.exists(r2 => r2.getInt(1) == 1 && r2.getLong(2) == 999L),
      got.mkString(","))
  }

  test("lshTopK refuses a corpus-sized query side instead of OOMing " +
    "the broadcast") {
    import spark.implicits._
    val vs = mkVecs(4, 8, 11)
    val corpus = spark.createDataset(vs).toDF("id", "vec")
    // a lazy frame that CLAIMS many rows via range: counting happens on
    // the slim checkpoint, so build a genuinely large query set lazily
    val queries = spark.range(Ann.MaxBroadcastQueries + 1)
      .select($"id".as("qid"),
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit(1.0f)).as("qvec"))
    val e = intercept[IllegalArgumentException] {
      Ann.lshTopK(spark, corpus, queries, 1, dim = 1)
    }
    assert(e.getMessage.contains("EmbeddingDedup"))
  }

  test("ivf training is bounded by sampleCap (extra corpus outside the " +
    "sample cannot change the centroids)") {
    import spark.implicits._
    val seed = 42L
    val dim = 16
    val base = mkVecs(400, dim, 7)
    // the sample = the `cap` vectors with smallest mix64(id ^ seed);
    // find that cutoff, then add junk vectors whose sample keys all land
    // ABOVE it — training must not see them
    val cap = 64
    val cut = base.map { case (id, _) => MinHashDedup.mix64(id ^ seed) }
      .sorted.apply(cap - 1)
    val junkIds = (10000L to 40000L)
      .filter(id => MinHashDedup.mix64(id ^ seed) > cut).take(500)
    val junk = junkIds.map(id => (id,
      Seq.tabulate(dim)(d => (MinHashDedup.mix64(id * 31 + d) % 97)
        .toFloat)))
    val a = spark.createDataset(base).toDF("id", "vec")
    val b = spark.createDataset(base ++ junk).toDF("id", "vec")
    val ca = Ann.trainIvfCentroids(spark, a, dim, 8, sampleCap = cap,
      seed = seed)
    val cb = Ann.trainIvfCentroids(spark, b, dim, 8, sampleCap = cap,
      seed = seed)
    assert(ca.flatten.toSeq == cb.flatten.toSeq,
      "training read beyond the bounded sample")
  }
}

class TextStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("LSHAPE-1 line-shape ratios (hand-computed)") {
    import spark.implicits._
    val df = Seq(
      (1L, "- a\n- b\n- c"), // 3/3 bullets
      (2L, "x\n* y\n  • z"), // 2/3 bullets (ltrim'd)
      (3L, "wait...\nfin…\nend"), // 2/3 ellipsis lines
      (4L, "# one ### and ... also ....."), // 4 hashes + 2 '...' / 7 words
      (5L, "")) // single empty line, zero everywhere
      .toDF("doc_id", "text")
    val out = df.select($"doc_id",
      TextStats.bulletRatio($"text").as("b"),
      TextStats.ellipsisRatio($"text").as("e"),
      TextStats.symbolWordRatio($"text").as("s"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((1.0, 0.0, 0.0)))
    assert(out(2L)._1 == 0.6667)
    assert(out(3L)._2 == 0.6667)
    assert(out(4L)._3 == 0.8571) // (4 + 2) / 7 words
    assert(out(5L) == ((0.0, 0.0, 0.0)))
  }

  test("token stats and quality bands") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox and the lazy dog of doom jumps over " +
        "a fence in the yard again and again today"),
      (2L, "x"),
      (3L, "spam spam spam spam spam spam spam spam spam spam"))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id",
      TextStats.nTokens($"text").as("n"),
      TextStats.stopwordRatio($"text").as("sw"),
      TextStats.uniqTokenRatio($"text").as("uq"),
      TextStats.qualityScore($"text").as("q"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out(1L)._1 == 21)
    assert(out(1L)._4 == 1.0) // long + stopwords + diverse
    assert(out(2L)._4 == 0.3) // short + no stopwords, but fully unique
    assert(out(3L)._2 == 0.0)
    assert(out(3L)._3 == 0.1)
    assert(out(3L)._4 == 0.3) // len>=5 (0.2) + uniq 0.1 band (0.1)
  }

  test("REDACT-1 scrubs emails, IPs, phones; leaves clean text alone") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail bob.smith+x@ex-ample.org and carol@a.io now"),
      (2L, "host 10.0.42.7 and 255.1.2.33 up"),
      (3L, "call 555-123-4567 today"),
      (4L, "plain text with numbers 12345 and a.b"))
      .toDF("id", "t")
      .select($"id", TextStats.redactPII($"t").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == "mail <EMAIL> and <EMAIL> now")
    assert(rows(2L) == "host <IP> and <IP> up")
    assert(rows(3L) == "call <PHONE> today")
    assert(rows(4L) == "plain text with numbers 12345 and a.b")
  }

  test("repetition ratios") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a a a a b"), // top token 4/5; bigrams: 'a a'x3,'a b' -> 2/4 distinct
      (2L, "w x y z"), // all unique
      (3L, "solo"))
      .toDF("id", "t")
      .select($"id", TextStats.topTokenRatio($"t").as("tt"),
        TextStats.dupBigramRatio($"t").as("db"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    assert(rows(1L) == ((0.8, 0.5)))
    assert(rows(2L) == ((0.25, 0.0)))
    assert(rows(3L) == ((1.0, 0.0)))
  }

  test("SAMPLE-1 is deterministic and partition-independent") {
    import spark.implicits._
    val d1 = spark.range(1000).select($"id")
      .filter(TextStats.sampled($"id", "1a"))
      .collect().map(_.getLong(0)).toSet
    val d2 = spark.range(1000).repartition(7).select($"id")
      .filter(TextStats.sampled($"id", "1a"))
      .collect().map(_.getLong(0)).toSet
    assert(d1 == d2 && d1.nonEmpty && d1.size < 250)
  }

  test("fingerprint is deterministic and order-sensitive") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, "acb"), (3L, "abc"))
      .toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextStats.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(3L))
    assert(fps(1L) != fps(2L))
    // matches the polynomial definition
    val exp = "abc".foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)
    assert(fps(1L) == exp)
  }
}
