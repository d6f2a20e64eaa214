package graft.ops

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup clustering: near-duplicate PAIRS -> connected components ->
  * canonical keeper per component (the min id). Pair emission
  * (MinHash/SimHash/embedding LSH) finds edges; production dedup then
  * needs "keep one doc per duplicate CLUSTER", which is exactly a
  * connected-components pass over the pair graph — a pair list alone
  * over-deletes (both ends of every pair) or under-deletes (chains
  * a~b~c where only a~b, b~c were emitted).
  *
  * Algorithm: alternating large-star / small-star edge contraction
  * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
  * Components in MapReduce and Beyond", SoCC 2014 — public algorithm).
  * Each round rewrites every edge toward the locally-smallest id:
  *   large-star: per node u, every neighbor v > u is re-pointed at
  *     m = min(neighbors(u) + u);
  *   small-star: edges oriented (u > v); per node u, every neighbor
  *     (all <= u) plus u itself is re-pointed at m = min.
  * The edge set converges to a star forest — every non-root points
  * directly at its component's min id — in O(log^2 n) rounds worst
  * case and a small constant in practice; crucially the bound does NOT
  * depend on component diameter. (The previous implementation here was
  * min-label propagation: O(diameter) rounds, which a drifting-template
  * chain — daily page revisions v1~v2~...~v400 with adjacent similarity
  * over threshold — turns into hundreds of rounds. ClustersSpec's
  * 61-node path fixture converges in ~6 rounds under this algorithm and
  * provably cannot finish under a 25-round propagation cap.)
  *
  * Scale shape: every shuffle in every round carries only slim
  * (u: Long, v: Long) edge rows — the corpus payload never enters the
  * graph stage; per round the edge count is non-increasing after the
  * first large-star (the operators only re-point edges, never fan them
  * out beyond the input degree sum).
  *
  * Convergence detection: each round's output is summarized IN-BAND
  * (count + xor + bounded modular sum of per-edge hashes) by an
  * Observation on the same localCheckpoint action that materializes
  * the round — no extra job; equal consecutive summaries mean the edge
  * set reached the fixpoint (the star forest). Three independent
  * 64-bit summaries make a false match astronomically unlikely; the
  * modular sum stays within Long under ANSI mode for any edge count
  * below ~9e9 per partition-summed term.
  *
  * Lineage control: each round's edges are LOCAL-CHECKPOINTED, not
  * merely cached — the iterative plan would otherwise double per round
  * and Catalyst analysis goes exponential (measured on the previous
  * implementation: 1 s -> 83 s per round by iteration 9). On a real
  * cluster swap localCheckpoint for reliable `checkpoint` (an executor
  * loss invalidates local checkpoints mid-computation).
  *
  * Determinism: min() and distinct() are order-insensitive; the result
  * is a pure function of the edge set.
  */
object Clusters {

  /** One large-star pass: symmetrize, then point every neighbor larger
    * than u at min(neighbors(u) + u). Output is deduped and self-loop
    * free.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(
      edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    // no intermediate distinct: duplicate (v, m) emissions are absorbed
    // by small-star's groupBy/distinct in the same round — one fewer
    // shuffle per round, and the emission count stays bounded by the
    // symmetric edge count either way
    sym.filter(col("v") > col("u"))
      .join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
  }

  /** One small-star pass over (u > v)-oriented edges: point every
    * neighbor of u (all <= u) plus u itself at the neighborhood min.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    oriented.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Materialize one round's edges and summarize them in-band on the
    * same action. Returns (checkpointed edges, (count, xor, modsum)).
    */
  private def checkpointWithSummary(edges: DataFrame, tag: String)
      : (DataFrame, (Long, Long, Long)) = {
    val obs = new Observation(tag)
    val h = xxhash64(col("u"), col("v"))
    val out = edges.observe(obs,
      count(lit(1)).as("n"),
      coalesce(bit_xor(h), lit(0L)).as("x"),
      coalesce(sum(pmod(h, lit(1000000007L))), lit(0L)).as("s"))
      .localCheckpoint()
    // AQE empty-relation propagation can elide the observe node on an
    // empty input and return an empty metrics map (the verified
    // behavior documented in MinHashDedup.observeDrops) — an empty
    // edge set summarizes as zeros either way
    val m = obs.get
    (out, (m.getOrElse("n", 0L).asInstanceOf[Long],
      m.getOrElse("x", 0L).asInstanceOf[Long],
      m.getOrElse("s", 0L).asInstanceOf[Long]))
  }

  /** Edge-count bound below which the component labels are solved on
    * the driver (union-find over the collected slim edge list) instead
    * of by distributed star-contraction rounds. Rationale (guide §1.2 —
    * fix the distributed algorithm first): the duplicate-pair graph is
    * SPARSE relative to the corpus (edges exist only inside near-dup
    * clusters), and each distributed round costs ~4 shuffle stages plus
    * a checkpoint action; for a graph whose edge list fits comfortably
    * in the same memory budget Spark grants a broadcast-join relation,
    * a single collect + union-find + broadcast label join replaces
    * O(log^2 n) such rounds. 4M edges = 64 MB of (u, v) longs — the
    * same order as a default broadcast relation; beyond the bound the
    * star-contraction path runs unchanged. Override with
    * SPARK_GRAFT_CC_LOCAL_MAX (0 disables the local path entirely).
    */
  val LocalSolveMaxEdges: Long =
    localSolveMax(sys.env.get("SPARK_GRAFT_CC_LOCAL_MAX"))

  /** The SPARK_GRAFT_CC_LOCAL_MAX edge bound: 4194304 when unset; a
    * malformed or negative value is an error naming the variable, not
    * a bare NumberFormatException or a silently disabled path.
    */
  private[ops] def localSolveMax(raw: Option[String]): Long = raw match {
    case None => 4194304L
    case Some(v) => v.trim.toLongOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CC_LOCAL_MAX must be a non-negative edge count, " +
          s"got '$v'"))
  }

  /** Driver union-find over a collected edge list: (id -> min id of its
    * component) for every id that appears in an edge. Union by rank,
    * then one resolve pass; comp = min member id, so the labels are a
    * pure function of the edge SET (collection order cannot matter).
    */
  private[ops] def unionFindLabels(edges: Array[(Long, Long)])
      : scala.collection.mutable.LongMap[Long] = {
    val parent = new scala.collection.mutable.LongMap[Long]()
    val rank = new scala.collection.mutable.LongMap[Int]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    edges.foreach { case (u, v) =>
      if (!parent.contains(u)) { parent(u) = u; rank(u) = 0 }
      if (!parent.contains(v)) { parent(v) = v; rank(v) = 0 }
      val ru = find(u)
      val rv = find(v)
      if (ru != rv) {
        if (rank(ru) < rank(rv)) parent(ru) = rv
        else if (rank(ru) > rank(rv)) parent(rv) = ru
        else { parent(rv) = ru; rank(ru) = rank(ru) + 1 }
      }
    }
    // comp = min id per root, applied to every member
    val minOfRoot = new scala.collection.mutable.LongMap[Long]()
    parent.keysIterator.foreach { id =>
      val r = find(id)
      val cur = minOfRoot.getOrElse(r, Long.MaxValue)
      if (id < cur) minOfRoot(r) = id
    }
    val labels = new scala.collection.mutable.LongMap[Long]()
    parent.keysIterator.foreach { id => labels(id) = minOfRoot(find(id)) }
    labels
  }

  /** Components of the graph (vertices, pairs). Input: `vertices` with
    * column `id`; `pairs` with columns (id_a, id_b). Output:
    * (id, comp) where comp = min id reachable — singletons map to
    * themselves. `maxIter` bounds the alternating rounds; the
    * O(log^2 n) convergence makes the default unreachable for any
    * physically storable graph (it exists as a defense against a bug,
    * not a data shape). `localSolveMaxEdges` gates the driver-side
    * union-find fast path (see LocalSolveMaxEdges).
    */
  def connectedComponents(spark: SparkSession, pairs: DataFrame,
      vertices: DataFrame, maxIter: Int = 100,
      localSolveMaxEdges: Long = LocalSolveMaxEdges): DataFrame = {
    import spark.implicits._
    // materialize the pair list ONCE (slim 2-long rows): the vertex
    // closure below references the pair plan twice and the final label
    // join would otherwise RE-EXECUTE an expensive pair generator
    // (minhash LSH candidate+verify in the flagship) at the output
    // action — measured as a multi-second duplicate subtree in
    // t_corpus_cleanse before this checkpoint. The edge count rides
    // the SAME checkpoint action in-band (the checkpointWithSummary
    // pattern) to pick the solve path without an extra job.
    val rawObs = new Observation() // auto-named: unique per call
    val raw = pairs.select($"id_a", $"id_b")
      .observe(rawObs, count(lit(1)).as("n"))
      .localCheckpoint()
    val nRaw = rawObs.get.getOrElse("n", 0L).asInstanceOf[Long]
    if (nRaw <= localSolveMaxEdges) {
      // LOCAL SOLVE: the raw pair list (dups/self-loops included —
      // union-find absorbs both) is bounded, so label it on the driver
      // and attach labels with one broadcast join. Replaces the whole
      // O(log^2 n)-round loop: 1 job instead of ~4 stages/round.
      // Self-loops stay in: an id seen only in (a, a) pairs is a
      // singleton the distributed path's vertex closure keeps too
      val labels = unionFindLabels(raw.as[(Long, Long)].collect())
      val labelDf = spark.createDataset(labels.toSeq)
        .toDF("id", "comp")
      vertices.select($"id")
        .union(labelDf.select($"id"))
        .distinct()
        .join(broadcast(labelDf), Seq("id"), "left_outer")
        .select($"id", coalesce($"comp", $"id").as("comp"))
    } else {
      // the vertex set is CLOSED over the pair ids: an id that appears
      // only in `pairs` still gets a label — without this a component
      // member missing from `vertices` would drop out of the output
      val allVerts = vertices.select($"id")
        .union(raw.select($"id_a".as("id")))
        .union(raw.select($"id_b".as("id")))
        .distinct()
      var (edges, summary) = checkpointWithSummary(
        raw
          .select(greatest($"id_a", $"id_b").as("u"),
            least($"id_a", $"id_b").as("v"))
          .filter($"u" =!= $"v")
          .distinct(),
        "cc-init")
      var iter = 0
      var converged = summary._1 == 0L // no edges -> all singletons
      while (!converged && iter < maxIter) {
        val (next, nextSummary) = checkpointWithSummary(
          smallStar(largeStar(edges)), s"cc-round-$iter")
        converged = nextSummary == summary
        edges = next
        summary = nextSummary
        iter += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIter alternating " +
          "rounds — at O(log^2 n) rounds this indicates a bug or " +
          "non-deterministic edge input, not a large graph")
      // fixpoint edges form a star forest: (member, root) with root the
      // component min; roots and singletons have no outgoing edge
      allVerts
        .join(edges.select($"u".as("id"), $"v".as("root")), Seq("id"),
          "left_outer")
        .select($"id", coalesce($"root", $"id").as("comp"))
    }
  }

  /** Keeper table: one row per duplicate-cluster member with its
    * canonical keeper (min id of the component); `is_keeper` marks the
    * row to retain. Join a corpus on id and filter is_keeper to
    * deduplicate it cluster-wise.
    */
  def keepers(spark: SparkSession, pairs: DataFrame,
      vertices: DataFrame): DataFrame = {
    import spark.implicits._
    connectedComponents(spark, pairs, vertices)
      .select($"id", $"comp".as("keeper_id"),
        ($"id" === $"comp").as("is_keeper"))
  }
}
