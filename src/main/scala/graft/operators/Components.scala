package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the clustering step
  * every production near-dup pipeline needs AFTER pair generation: LSH/PPJoin
  * emit similarity PAIRS, but retention decisions are made per CLUSTER
  * (keep one canonical doc per transitively-connected group, because A~B and
  * B~C must collapse to one survivor even when A~C was never emitted).
  *
  * The reference's dedup (sql/bq_fact_vitals.sql:14-17) is keyed exact-match
  * — transitive closure is trivial there (equality is transitive). Near-dup
  * similarity is NOT transitive, which is exactly why this operator exists.
  *
  * Algorithm: iterative minimum-label propagation (the MapReduce/Pregel CC
  * formulation). Every node starts labeled with itself; each round, every
  * node takes the min of its own label and its neighbors' labels — a
  * join + hash aggregate, both shuffling on the node id. Labels decrease
  * monotonically, so the iteration converges when the label sum is stable;
  * round count is bounded by the cluster diameter. Near-dup graphs are
  * dense near-cliques (diameter 2-4 in practice), so the loop is short;
  * pathological chain graphs converge in O(diameter) rounds — for those,
  * use [[starContractionComponents]] (large-star/small-star, O(log)
  * rounds on paths).
  *
  * Scale shape: every round is one equi-join of edges (E rows) against
  * labels (V rows) on a scalar key plus one map-side-combining min
  * aggregate — no driver-side graph state, no collect. Lineage is truncated
  * each round (`localCheckpoint`), or iteration k would re-plan a 2^k-deep
  * tree; on a multi-executor cluster prefer `spark.sparkContext
  * .setCheckpointDir` + `checkpoint()` for fault-tolerant truncation.
  */
object Components {

  /** Maximum propagation rounds — a backstop for adversarial chain graphs,
    * far above any real near-dup cluster diameter. Convergence is detected
    * (label sum stable) long before this in practice; if the cap IS hit
    * (diameter > cap), [[connectedComponents]] warns and falls back to
    * [[starContractionComponents]] rather than returning split clusters.
    */
  val MaxIterations = 30

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Connected components of the undirected graph given by `edges`
    * (columns `src`, `dst`). Returns one row per node that appears in any
    * edge: (`node`, `component`) where `component` is the minimum node id
    * reachable from `node` — deterministic, content-independent labels.
    * The result reads the final round's checkpointed label frontier
    * (bounded by the clustered-node count; the blocks are released when the
    * frame is garbage-collected).
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // cut the upstream lineage at the boundary: the DIRECTED edge list is
    // materialized once (one job — the same single pass over the pair join
    // the previous persist-based form paid inside round 0), and every
    // round's plan then starts from the checkpointed relation. Merely
    // persisting is NOT enough here: the cache substitutes at physical
    // planning, but Catalyst still re-ANALYZES the full pair-generation
    // tree (shingle explode + prefix join) inside every round's join, and
    // that re-analysis — not execution — was the dominant cost of the
    // whole operator (BENCH_DETAIL r10: 5.4 s plan vs 0.6 s exec at sf0.1).
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val bidir = e.union(e.select(col("dst").as("src"), col("src").as("dst")))

    // round 0 already folds direct neighbors: label = min(self, neighbors)
    var labels = bidir
      .groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("min_nbr"))
      .select(col("node"), least(col("node"), col("min_nbr")).as("label"))
      .localCheckpoint(true)
    // the convergence aggregate doubles as the cache materializer — ONE
    // Spark job per round, not a checkpoint job plus a sum job.
    // sum() over an empty frame is null: a pair-free input (no near-dups
    // at the threshold) must yield an empty result, not an NPE.
    // decimal(38,0) sum: exact and overflow-free even for 1e10 full-range
    // 64-bit hash-derived node ids (~1e29 ≪ 1e38) — a raw long sum throws
    // under Spark 4's default ANSI mode, and a modular fold would make the
    // fixpoint check probabilistic
    def labelSumOf(d: DataFrame): Option[java.math.BigDecimal] = {
      val r = d.agg(sum(col("label").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) None else Some(r.getDecimal(0))
    }
    var labelSum = labelSumOf(labels)
    if (labelSum.isEmpty) return labels.select(col("node"), col("label").as("component"))

    var converged = false
    var iter = 0
    while (!converged && iter < MaxIterations) {
      // push each node's label to its neighbors, keep the per-node minimum
      val pushed = bidir
        .join(labels, bidir("src") === labels("node"))
        .select(bidir("dst").as("node"), col("label"))
      val grouped = labels.union(pushed)
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"))
      // checkpoint EVERY round (not persist): each round's frame is both
      // the next round's input and the convergence probe's, so the frontier
      // must be materialized anyway — and the checkpoint keeps round k's
      // plan O(1)-deep where the persist-based form left a k-deep analyzed
      // tree (the round-9/10 planning tail)
      val next = grouped.localCheckpoint(true)
      val nextSum = labelSumOf(next)
      converged = nextSum == labelSum // labels only decrease: sum-stable = fixpoint
      labels = next
      labelSum = nextSum
      iter += 1
    }
    if (!converged) {
      // diameter > MaxIterations (adversarial chain graph): the labels at
      // the cap are WRONG (clusters split), so never return them silently —
      // fall back to star contraction, which converges in O(log) rounds on
      // exactly these high-diameter graphs
      log.warn(s"label propagation hit the $MaxIterations-round cap without " +
        "converging (component diameter exceeds the cap); falling back to " +
        "starContractionComponents")
      return starContractionComponents(edges)
    }
    labels.select(col("node"), col("label").as("component"))
  }

  /** Connected components by alternating star contraction (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the variant to use
    * when component diameter is NOT small: [[connectedComponents]]'s label
    * propagation needs one round per hop, star contraction converges in
    * O(log) rounds on paths because every round re-points whole
    * neighborhoods at their minimum.
    *
    * Per round, over the bidirectional view of the current edge set:
    *  - large-star(u): every neighbor v > u re-points to
    *    m = min(Γ(u) ∪ u);
    *  - small-star(u): every neighbor v < u (and u itself) re-points to
    *    m = min of that small neighborhood.
    * Both are one hash aggregate (per-u minimum) + one equi-join back to
    * the edge list — no neighborhood is ever collected into memory, so a
    * 100-M-degree hub costs a shuffle, not an OOM. The edge set converges
    * to stars: every node points at its component minimum.
    */
  def starContractionComponents(edges: DataFrame): DataFrame = {
    def bidir(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))

    // large-star: m = min over ALL of u's neighborhood (incl. u);
    // re-point only the strictly larger neighbors
    def largeStar(e: DataFrame): DataFrame = {
      val b = bidir(e)
      val mins = b.groupBy(col("src").as("u"))
        .agg(min(col("dst")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      b.join(mins, b("src") === mins("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
    }

    // small-star: m = min over u's SMALLER neighbors (all < u, so m < u);
    // re-point those neighbors and u itself
    def smallStar(e: DataFrame): DataFrame = {
      val small = bidir(e).filter(col("dst") < col("src"))
      val mins = small.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      val repointed = small.join(mins, small("src") === mins("u"))
        .select(small("dst").as("src"), col("m").as("dst"))
      val self = mins.select(col("u").as("src"), col("m").as("dst"))
      repointed.union(self).filter(col("src") =!= col("dst"))
    }

    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (count, sum src, sum dst, hash sum): equality across a round means the
    // edge set is stable — counts alone could alias across different sets.
    // src/dst sums go through decimal(38,0): with full-range 64-bit hash-
    // derived node ids a raw long sum overflows (an exception under Spark
    // 4's default ANSI mode, a silently aliased signature otherwise)
    def sig(d: DataFrame): (Long, BigDecimal, BigDecimal, Long) = {
      // hash folded into [0, 1e9) before summing: raw xxhash64 values span
      // the full 64-bit range and their sum overflows under ANSI arithmetic
      val r = d.agg(count(lit(1)),
        sum(col("src").cast("decimal(38,0)")),
        sum(col("dst").cast("decimal(38,0)")),
        sum(pmod(xxhash64(col("src"), col("dst")), lit(1000000007L)))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
        if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)),
        if (r.isNullAt(3)) 0L else r.getLong(3))
    }
    var cur = sig(e)
    var converged = false
    var iter = 0
    while (!converged && iter < MaxIterations) {
      // checkpoint EVERY round: one LS∘SS round multiplies the logical
      // plan ~4× (two self-joins + unions), so without a per-round lineage
      // cut Catalyst re-analysis dominates wall time within a few rounds
      // (measured: ~150 s for a 4096-node path with every-3rd-round cuts,
      // ~11 s with per-round cuts)
      val next = smallStar(largeStar(e)).distinct().localCheckpoint(true)
      val nextSig = sig(next)
      converged = nextSig == cur
      e.unpersist(blocking = false)
      e = next
      cur = nextSig
      iter += 1
    }
    // stars: non-roots point at their component min; roots map to themselves
    e.select(col("src").as("node"), col("dst").as("component"))
      .union(e.select(col("dst").as("node"), col("dst").as("component")))
      .distinct()
  }

  /** Near-duplicate clusters over `documents`: exact-Jaccard pairs at
    * `threshold` ([[DedupApprox.jaccardJoin]]) → transitive closure → one
    * row per clustered doc with its cluster id (min doc_id in the
    * component), the cluster size, and whether this doc is the canonical
    * survivor. Docs in no pair are singletons and are not emitted — the
    * retention rule for them is "keep" by definition.
    */
  def dedupClusters(documents: DataFrame, threshold: Double): DataFrame = {
    val pairs = DedupApprox.jaccardJoin(documents, threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val cc = connectedComponents(pairs)
    val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("n_members"))
    cc.join(sizes, "component") // cluster count ≪ docs: AQE broadcasts
      .select(
        col("node").as("doc_id"),
        col("component").as("cluster_id"),
        col("n_members"),
        (col("node") === col("component")).as("is_canonical"))
  }

  /** [[dedupClusters]] with QUALITY-AWARE survivor selection — what a
    * production curation pipeline actually keeps: inside each near-dup
    * cluster the retained doc is the one with the highest
    * [[TextOps.textQuality]] score (tie → smallest doc_id), not the
    * arbitrary min-id canonical. Selection is one `max(struct(quality,
    * −doc_id))` aggregate per cluster — O(cluster members) shuffled on
    * cluster_id, never a corpus-wide window — and the quality rational is
    * integer-exact (FxMath), so the argmax replays bit-for-bit in the
    * oracle. Emits one row per clustered doc: (doc_id, cluster_id,
    * n_members, quality_score, is_survivor).
    */
  def qualitySurvivorClusters(documents: DataFrame, threshold: Double): DataFrame = {
    val clusters = dedupClusters(documents, threshold)
      .select(col("doc_id"), col("cluster_id"), col("n_members"))
    val quality = TextOps.textQuality(documents)
      .select(col("doc_id"), col("quality_score"))
    // clustered docs ⊆ corpus: equi-join on doc_id (AQE broadcasts the
    // cluster side when small)
    val joined = clusters.join(quality, "doc_id")
    val survivors = joined.groupBy(col("cluster_id")).agg(
      max(struct(col("quality_score"), (-col("doc_id")).as("neg_id"))).as("m"))
      .select(col("cluster_id"), (-col("m.neg_id")).as("survivor_id"))
    joined.join(survivors, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        col("quality_score"),
        (col("doc_id") === col("survivor_id")).as("is_survivor"))
  }
}
