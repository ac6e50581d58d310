package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.operators.Graph.RankEdges

/** Scale probe behind the BASELINE.md "PageRank" row: per-round cost must
  * be linear in |E| and independent of the round count's position (no
  * lineage creep). Synthetic near-uniform directed graph with planted
  * hubs; `sbt "Test/runMain graft.GraphScaleProbe"`.
  */
object GraphScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session(32)
    // the residual tolerance the convergence sections run to
    val tol = Some(Graph.TotalMass / 1000)

    def graph(e: Long) = {
      val v = e / 10
      // ~90% uniform endpoints + 10% funneled into 100 hub targets (the
      // skew a real link graph carries); dedup'd per the operator contract
      val base = spark.range(e).select(
        pmod(col("id"), lit(v)).as("src"),
        when(pmod(col("id"), lit(10L)) === 0, pmod(xxhash64(col("id")), lit(100L)))
          .otherwise(pmod(xxhash64(col("id")), lit(v))).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      base.union(base.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true)
    }

    // section filter (comma list of cold,warm,bucketed,warmbkt,splitabsorb)
    // so a targeted re-measure does not pay for the whole sweep
    val sections = sys.env.get("GRAPH_PROBE_SECTIONS").map(_.split(',').toSet)
    def enabled(name: String): Boolean = sections.forall(_.contains(name))

    val sizes = sys.env.getOrElse("GRAPH_PROBE_SIZES", "2000000,20000000")
      .split(",").toSeq.map(_.trim.toLong)
    for (e <- sizes if enabled("cold")) {
      val g = graph(e)
      val ne = g.count()
      for (iters <- Seq(5, 10); pass <- 1 to 2) {
        val t0 = System.nanoTime()
        val n = Graph.pageRank(RankEdges.inMemory(g), iters)._1.count()
        println(f"[graph-scale] E=$ne iters=$iters pass=$pass nodes=$n " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }

    // incremental warm start: the round-count savings claim behind
    // warm Graph.pageRank — cold-converge the base graph, add a ~1%
    // edge delta, and compare the rounds (= full E⋈V passes) a cold rerun
    // needs against the warm restart from the committed ranks, at the same
    // residual tolerance
    if (enabled("warm")) {
      val e = 2000000L
      val g = graph(e)
      val (ranks0, r0, _) = Graph.pageRank(RankEdges.inMemory(g), 40, None, tol)
      val delta = spark.range(e / 100).select(
        pmod(xxhash64(col("id") + 7), lit(e / 10)).as("src"),
        pmod(xxhash64(col("id") + 13), lit(100L)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val g2 = g.union(delta).distinct().localCheckpoint(true)
      val t0 = System.nanoTime()
      val (_, rCold, _) = Graph.pageRank(RankEdges.inMemory(g2), 40, None, tol)
      val tCold = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (_, rWarm, _) = Graph.pageRank(RankEdges.inMemory(g2), 40, Some(ranks0), tol)
      val tWarm = (System.nanoTime() - t1) / 1e9
      println(f"[graph-scale] warm-start: base converged in $r0 rounds; " +
        f"1%% delta cold=$rCold rounds ($tCold%.2f s) warm=$rWarm rounds ($tWarm%.2f s)")
    }

    // bucketed-edge layout: per-round cost of the committed bucketBy(src)
    // edge table (E-side exchange-free joins) vs the plain checkpointed
    // path — the graph_pagerank_bucketed claim. Build cost is reported
    // separately (it amortizes over every later re-rank).
    if (enabled("bucketed")) {
      val e = sys.env.getOrElse("GRAPH_PROBE_BUCKETED_E", "20000000").toLong
      val g = graph(e)
      val dir = java.nio.file.Files.createTempDirectory("graft-prbkt").toString
      val tB = System.nanoTime()
      RankEdges.bucketed(spark, g, dir, buckets = 32, table = "graph_probe_bkt")
      println(f"[graph-scale] bucketed edge-table build (once): " +
        f"${(System.nanoTime() - tB) / 1e9}%.2f s")
      for (pass <- 1 to 2) {
        val t0 = System.nanoTime()
        Graph.pageRank(RankEdges.inMemory(g), 10)._1.count()
        val plain = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        Graph.pageRank(RankEdges.bucketed(spark, g, dir,
          table = "graph_probe_bkt", reuseExisting = true), 10)._1.count()
        val bkt = (System.nanoTime() - t1) / 1e9
        println(f"[graph-scale] E=$e pass=$pass 10 rounds: " +
          f"plain=$plain%.2f s bucketed=$bkt%.2f s (per-round " +
          f"${plain / 10}%.2f vs ${bkt / 10}%.2f)")
      }
    }
    // warm × bucketed COMPOUNDING (r19, the graph_pagerank_warm_bucketed
    // claim): absorb a ~1% edge delta three ways at the scale where the
    // bucketed layout wins — cold plain (the naive rerun), warm plain
    // (fewer rounds), warm bucketed (fewer rounds × exchange-free
    // rounds). The bucketed absorption re-commits the edge table (the
    // delta changes E and the out-degrees) — that once-per-refresh write
    // is reported inside its first timing; the second pass reuses the
    // committed table (the steady-state number).
    if (enabled("warmbkt")) {
      val e = sys.env.getOrElse("GRAPH_PROBE_BUCKETED_E", "20000000").toLong
      val g = graph(e)
      val tBase = System.nanoTime()
      val (ranks0, r0, _) = Graph.pageRank(RankEdges.inMemory(g), 40, None, tol)
      val ranksC = ranks0.localCheckpoint(true)
      println(f"[graph-scale] warmbkt: base E=$e converged in $r0 rounds " +
        f"(${(System.nanoTime() - tBase) / 1e9}%.2f s)")
      val delta = spark.range(e / 100).select(
        pmod(xxhash64(col("id") + 7), lit(e / 10)).as("src"),
        pmod(xxhash64(col("id") + 13), lit(100L)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val g2 = g.union(delta).distinct().localCheckpoint(true)
      // the base graph's blocks are dead once g2 is checkpointed — at
      // probe scale three live edge frames plus per-round rank
      // checkpoints exhaust the forked heap before the async cleaner
      // catches up
      g.unpersist(blocking = false)
      val t0 = System.nanoTime()
      val (_, rCold, _) = Graph.pageRank(RankEdges.inMemory(g2), 40, None, tol)
      val tCold = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (_, rWarm, _) = Graph.pageRank(RankEdges.inMemory(g2), 40, Some(ranksC), tol)
      val tWarm = (System.nanoTime() - t1) / 1e9
      val dir = java.nio.file.Files.createTempDirectory("graft-prwbkt").toString
      val t2 = System.nanoTime()
      val (_, rWb1, _) = Graph.pageRank(RankEdges.bucketed(spark, g2, dir,
        table = "graph_probe_bkt_warm"), 40, Some(ranksC), tol)
      val tWb1 = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val (_, rWb2, _) = Graph.pageRank(RankEdges.bucketed(spark, g2, dir,
        table = "graph_probe_bkt_warm", reuseExisting = true), 40, Some(ranksC), tol)
      val tWb2 = (System.nanoTime() - t3) / 1e9
      println(f"[graph-scale] warmbkt E=$e 1%% delta: cold-plain=$rCold rounds " +
        f"($tCold%.2f s), warm-plain=$rWarm rounds ($tWarm%.2f s), " +
        f"warm-bucketed incl. table commit=$rWb1 rounds ($tWb1%.2f s), " +
        f"warm-bucketed committed table=$rWb2 rounds ($tWb2%.2f s)")
    }

    // O(delta) absorption on the SPLIT layout (r20, the
    // graph_pagerank_warm_delta claim): the refresh term itself — a 1%
    // delta absorbs by appending into the bucketed edge table + a
    // V-sized degree merge, vs the monolithic layout's O(E) re-commit —
    // then the warm restart runs over the absorbed tables with the same
    // exchange-free rounds.
    if (enabled("splitabsorb")) {
      val e = sys.env.getOrElse("GRAPH_PROBE_BUCKETED_E", "20000000").toLong
      val g = graph(e)
      val (ranks0, r0, _) = Graph.pageRank(RankEdges.inMemory(g), 40, None, tol)
      val ranksC = ranks0.localCheckpoint(true)
      val delta = spark.range(e / 100).select(
        pmod(xxhash64(col("id") + 7), lit(e / 10)).as("src"),
        pmod(xxhash64(col("id") + 13), lit(100L)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .join(g, Seq("src", "dst"), "left_anti") // NEW edges only (contract)
        .localCheckpoint(true)
      val dir = java.nio.file.Files.createTempDirectory("graft-prsplit").toString
      val tSeed = System.nanoTime()
      val buckets = sys.env.getOrElse("GRAPH_PROBE_BUCKETS", "32").toInt
      Graph.commitSplitEdgeTables(spark, g, dir,
        buckets = buckets, table = "graph_probe_split")
      val tCommit = (System.nanoTime() - tSeed) / 1e9
      val t0 = System.nanoTime()
      Graph.absorbEdgeDelta(spark, delta, "graph_probe_split")
      val tAbsorb = (System.nanoTime() - t0) / 1e9
      // the monolithic comparison term: what a refresh costs when the
      // degree-denormalized table must re-commit at O(E)
      val g2 = g.union(delta).localCheckpoint(true)
      g.unpersist(blocking = false)
      val dir2 = java.nio.file.Files.createTempDirectory("graft-prmono").toString
      val t1 = System.nanoTime()
      RankEdges.bucketed(spark, g2, dir2, buckets = buckets,
        table = "graph_probe_mono")
      val tMono = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val (_, rS, _) = Graph.pageRank(RankEdges.split(spark, "graph_probe_split"),
        40, Some(ranksC), tol)
      val tWarmSplit = (System.nanoTime() - t2) / 1e9
      // the monolithic steady state at the SAME scale, for the honest
      // side-by-side: cheaper rounds (denormalized scan) bought by the
      // O(E) re-commit per refresh timed above
      val t3 = System.nanoTime()
      val (_, rM, _) = Graph.pageRank(RankEdges.bucketed(spark, g2, dir2,
        table = "graph_probe_mono", reuseExisting = true), 40, Some(ranksC), tol)
      val tWarmMono = (System.nanoTime() - t3) / 1e9
      println(f"[graph-scale] splitabsorb E=$e 1%% delta: base commit " +
        f"(once)=$tCommit%.2f s; absorb O(delta)=$tAbsorb%.2f s vs " +
        f"monolithic O(E) re-commit=$tMono%.2f s; warm-split=$rS rounds " +
        f"($tWarmSplit%.2f s) vs warm-mono=$rM rounds ($tWarmMono%.2f s, " +
        f"buckets=$buckets, r0=$r0)")
    }
    spark.stop()
  }
}
