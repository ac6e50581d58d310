package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph
import graft.operators.Graph.RankEdges

/** Fixed-point PageRank semantics: mass conservation up to floor loss,
  * limit behavior on analytically-solvable graphs, determinism across
  * partitionings, and the hub-dominance property the ranking exists for.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int = 10): Map[Long, Long] =
    Graph.pageRank(RankEdges.inMemory(edges.toDF("src", "dst")), iters)._1
      .as[(Long, Long)].collect().toMap

  test("symmetric pair splits the mass exactly in half") {
    // 1↔2: by symmetry every iteration keeps rank(1) = rank(2) = T/2
    // exactly (all divisions land on even numbers), so the fixed point is
    // reached at round 0 and held through all 10 damped rounds
    val got = ranksOf(Seq((1L, 2L), (2L, 1L)))
    assert(got == Map(1L -> Graph.TotalMass / 2, 2L -> Graph.TotalMass / 2))
  }

  test("mass is conserved up to floor loss on a symmetric graph") {
    // undirected triangle + pendant: no dangling nodes, so the only mass
    // leak is the ≤1-unit-per-node-per-round floor loss
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val edges = und ++ und.map(_.swap)
    val got = ranksOf(edges)
    val total = got.values.sum
    val maxLoss = 10L * (got.size + edges.size) // div floors per round
    assert(total <= Graph.TotalMass && total >= Graph.TotalMass - maxLoss,
      s"mass $total outside [${Graph.TotalMass - maxLoss}, ${Graph.TotalMass}]")
  }

  test("the hub of a star graph dominates the leaves") {
    // star: 0 ↔ each of 1..8 — the hub receives every leaf's full rank,
    // each leaf only a 1/8 share of the hub's
    val spokes = (1L to 8L).flatMap(i => Seq((0L, i), (i, 0L)))
    val got = ranksOf(spokes)
    val leaves = (1L to 8L).map(got)
    assert(leaves.distinct.size == 1, "symmetric leaves must tie exactly")
    assert(got(0L) > 3 * leaves.head,
      s"hub ${got(0L)} should dominate leaf ${leaves.head}")
  }

  test("rank flows along direction: a pure sink outranks its sources") {
    // directed 2-source funnel 1→3, 2→3 (3 dangling: its mass leaks, the
    // documented simplification): 3 accumulates both contributions
    val got = ranksOf(Seq((1L, 3L), (2L, 3L)))
    assert(got(1L) == got(2L))
    assert(got(3L) > got(1L))
  }

  test("identical ranks regardless of input partitioning") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val edges = und ++ und.map(_.swap)
    val one = Graph.pageRank(RankEdges.inMemory(edges.toDF("src", "dst").coalesce(1)), 10)._1
      .as[(Long, Long)].collect().toMap
    val many = Graph.pageRank(RankEdges.inMemory(edges.toDF("src", "dst").repartition(7)), 10)._1
      .as[(Long, Long)].collect().toMap
    assert(one == many)
  }

  test("warm-started PageRank absorbs an edge delta in fewer rounds, landing on the cold fixpoint") {
    // a 200-node directed ring with 10 hub shortcuts — enough structure
    // that convergence to the 1e-3-mass tolerance takes several rounds
    val ring = (0L until 200L).map(i => (i, (i + 1) % 200))
    val hubs = (0L until 200L by 20).map(i => (i, 7L))
    val edges1 = (ring ++ hubs).distinct
    val noWarm = Seq.empty[(Long, Long)].toDF("node", "rank")
    def warmStart(edges: Seq[(Long, Long)], warm: org.apache.spark.sql.DataFrame) =
      Graph.pageRank(RankEdges.inMemory(edges.toDF("src", "dst")), 40, Some(warm),
        Some(Graph.TotalMass / 1000))

    val (ranks1, _, _) = warmStart(edges1, noWarm)

    // warm start on the UNCHANGED graph: already at the fixpoint orbit —
    // the probe round confirms and exits at once
    val (_, roundsNoop, _) = warmStart(edges1, ranks1)
    assert(roundsNoop <= 2, s"restart at the fixpoint must exit fast, took $roundsNoop")

    // absorb a small delta: two new shortcut edges + one new node
    val edges2 = edges1 ++ Seq((13L, 99L), (42L, 200L), (200L, 0L))
    val (cold, roundsCold, movedCold) = warmStart(edges2, noWarm)
    val (warm, roundsWarm, movedWarm) = warmStart(edges2, ranks1)
    info(s"cold=$roundsCold rounds, warm=$roundsWarm rounds")
    assert(roundsWarm < roundsCold,
      s"warm start must save rounds: warm=$roundsWarm cold=$roundsCold")

    // both runs are within moved·d/(1−d) of the shared fixpoint (damped
    // contraction), so their L1 gap is bounded by the sum of those radii
    val cm = cold.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wm = warm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cm.keySet == wm.keySet)
    val l1 = cm.keysIterator.map(k => math.abs(cm(k) - wm(k))).sum
    val radius = (movedCold + movedWarm) * Graph.DampNum / (Graph.DampDen - Graph.DampNum)
    assert(l1 <= radius + cm.size, // +1 unit/node floor-rounding slack
      s"warm and cold must agree within the contraction bound: l1=$l1 bound=$radius")
  }

  private def triangles(edges: Seq[(Long, Long)]): (Long, Long, Long) =
    Graph.triangleCount(edges.toDF("u", "v"))
      .as[(Long, Long, Long)].head()

  test("triangle census on hand-countable graphs") {
    // one triangle
    assert(triangles(Seq((1L, 2L), (2L, 3L), (1L, 3L))) == ((3L, 3L, 1L)))
    // a square has wedges but no triangle
    assert(triangles(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))) == ((4L, 4L, 0L)))
    // K4 has C(4,3) = 4 triangles
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    assert(triangles(k4) == ((4L, 6L, 4L)))
  }

  test("triangle census of the empty graph is the zero row") {
    // regression: the rank-packing guard must short-circuit when there are
    // no nodes (min/max of an empty aggregate are null, not a violation)
    assert(triangles(Seq.empty) == ((0L, 0L, 0L)))
  }

  test("triangle census rejects node ids outside the rank-packing bound") {
    // deg·2³² + id is exact only for id ∈ [0, 2³²): beyond that ranks can
    // collide silently (wrong orientation → wrong count), so the operator
    // must fail loudly instead of returning a plausible wrong number
    val tooBig = Seq((1L, 2L), (2L, 1L << 33), (1L, 1L << 33))
    val eBig = intercept[IllegalArgumentException](triangles(tooBig))
    assert(eBig.getMessage.contains("2^32"))
    val negative = Seq((-1L, 2L), (2L, 3L), (-1L, 3L))
    val eNeg = intercept[IllegalArgumentException](triangles(negative))
    assert(eNeg.getMessage.contains("2^32"))
  }

  test("degree orientation counts triangles whose id order disagrees with rank order") {
    // triangle {1,2,3} with pendants on 1 and 2: deg(1)=deg(2)=3, deg(3)=2
    // → rank order 3 < 1 < 2 while id order is 1 < 2 < 3; a wedge pairing
    // by raw ids instead of rank would miss the closing oriented edge
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 10L), (2L, 11L))
    assert(triangles(edges) == ((5L, 5L, 1L)))
  }

  test("co-purchase recommendations rank by distinct-order votes with id tiebreak") {
    val recs = Graph.coPurchaseRecommendations(spark, "/root/testdata/sf0.001", 3)
      .as[(Long, Long, Long, Int)].collect()
    assert(recs.nonEmpty)
    val byPart = recs.groupBy(_._1)
    byPart.values.foreach { rs =>
      assert(rs.length <= 3)
      val ordered = rs.sortBy(_._4).toSeq
      // rank order is (votes desc, rec id asc), ranks 1..k dense
      assert(ordered.map(_._4) == (1 to ordered.length))
      ordered.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2),
            s"rank order violated: $a then $b")
        case _ =>
      }
    }
    // symmetry: if Y is scored for X with n votes, X is scored for Y with n
    // (both may or may not make top-k, but the underlying counts agree via
    // a planted check: every pair must appear consistently when both rank)
    val asPairs = recs.map(r => ((r._1, r._2), r._3)).toMap
    recs.foreach { case (p, r, n, _) =>
      asPairs.get((r, p)).foreach(n2 => assert(n2 == n,
        s"asymmetric votes for ($p,$r): $n vs $n2"))
    }
  }

  test("purchase graph namespaces customers even / suppliers odd") {
    val dir = "/root/testdata/sf0.001"
    val kinds = Graph.pageRank(RankEdges.inMemory(Graph.purchaseEdges(spark, dir)), 10)._1
      .select(Graph.kindDecode: _*)
      .groupBy("kind").count().as[(String, Long)].collect().toMap
    assert(kinds.keySet == Set("customer", "supplier"))
    assert(kinds("customer") > kinds("supplier"),
      "TPC-H has 15 customers per supplier — the node split must reflect it")
  }

  test("bucketed pagerank is bit-identical to the plain path and exchange-free on the edge side") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prbkt").toString
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 1L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val plain = Graph.pageRank(RankEdges.inMemory(edges), 10)._1
      .as[(Long, Long)].collect().toMap
    val bkt = Graph.pageRank(RankEdges.bucketed(spark, edges, dir,
      table = "graph_edges_bkt_spec"), 10)._1
    assert(bkt.as[(Long, Long)].collect().toMap == plain,
      "join strategy must not change the fixed-point integers")
    // the edge side's plan shape is asserted for every source below
    // ("every edge source ...")
  }

  test("reuseExisting rebuilds when the committed table points at a different dir") {
    val dirA = java.nio.file.Files.createTempDirectory("graft-prbkt-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-prbkt-b").toString
    val edgesA = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val edgesB = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // commit graph A at dirA, then ask for graph B at dirB WITH
    // reuseExisting — the multi-scale sweep pattern. A catalog-only check
    // would silently iterate graph A; the location guard must rebuild.
    RankEdges.bucketed(spark, edgesA, dirA, table = "graph_edges_bkt_loc")
    val b = Graph.pageRank(RankEdges.bucketed(spark, edgesB, dirB,
      table = "graph_edges_bkt_loc", reuseExisting = true), 1)._1
    val plainB = Graph.pageRank(RankEdges.inMemory(edgesB), 1)._1
      .as[(Long, Long)].collect().toMap
    assert(b.as[(Long, Long)].collect().toMap == plainB,
      "stale same-named table for another dir must be rebuilt, not reused")
    // same dir + reuseExisting: the committed table IS reused (no rebuild)
    val again = Graph.pageRank(RankEdges.bucketed(spark, edgesB, dirB,
      table = "graph_edges_bkt_loc", reuseExisting = true), 1)._1
    assert(again.as[(Long, Long)].collect().toMap == plainB)
  }

  test("warm start over the bucketed table is bit-identical and exchange-free on the edge side") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prwbkt").toString
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 1L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // committed base: 4 cold rounds on a subgraph; warm-absorb the rest
    val base = Graph.pageRank(
      RankEdges.inMemory(edges.filter($"src" =!= 5L && $"dst" =!= 5L)), 4)._1
    val (plainWarm, rPlain, _) = Graph.pageRank(RankEdges.inMemory(edges), 3,
      Some(base), Some(0L))
    val (bktWarm, rBkt, _) = Graph.pageRank(RankEdges.bucketed(spark, edges,
      dir, table = "graph_edges_bkt_warm_spec"), 3, Some(base), Some(0L))
    assert(rBkt == rPlain)
    assert(bktWarm.as[(Long, Long)].collect().toMap ==
      plainWarm.as[(Long, Long)].collect().toMap,
      "the bucketed scan must not change the fixed-point integers")
  }

  test("split-table delta absorption: append-only edges, merged degrees, bit-identical warm ranks, exchange-free eDeg join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prsplit").toString
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 1L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val baseEdges = edges.filter($"src" =!= 5L && $"dst" =!= 5L)
    val deltaEdges = edges.except(baseEdges) // new edges AND the new node 5
    Graph.commitSplitEdgeTables(spark, baseEdges, dir, table = "graph_split_spec")
    def edgeFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/graph_split_spec_e"))
        .map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val before = edgeFiles()
    Graph.absorbEdgeDelta(spark, deltaEdges, "graph_split_spec")
    val after = edgeFiles()
    // the O(delta) contract, structurally: every committed edge file
    // survives untouched (append, never a rewrite), the delta lands as
    // new per-bucket files
    assert(before.subsetOf(after) && after.size > before.size,
      s"absorb must append into the bucketed layout, not rewrite it " +
        s"(before=${before.size}, after=${after.size})")
    // merged degrees == a from-scratch recompute over the absorbed set
    val deg = spark.table("graph_split_spec_d")
      .as[(Long, Long)].collect().toMap
    val expected = edges.groupBy($"src")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(deg == expected, "degree merge must equal the full recompute")
    // warm restart over the absorbed tables: same rounds, same integers
    val base = Graph.pageRank(RankEdges.inMemory(baseEdges), 4)._1
    val (plainWarm, rPlain, _) = Graph.pageRank(RankEdges.inMemory(edges), 3,
      Some(base), Some(0L))
    val (splitWarm, rSplit, _) = Graph.pageRank(
      RankEdges.split(spark, "graph_split_spec"), 3, Some(base), Some(0L))
    assert(rSplit == rPlain)
    assert(splitWarm.as[(Long, Long)].collect().toMap ==
      plainWarm.as[(Long, Long)].collect().toMap,
      "the split absorbed layout must not change the fixed-point integers")
    // the eDeg = edges ⋈ deg join RankEdges.split checkpoints must shuffle
    // NOTHING on src: both sides are bucketed on it at the same count
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val eDeg = spark.table("graph_split_spec_e")
        .join(spark.table("graph_split_spec_d"), "src")
      eDeg.collect()
      val plan = eDeg.queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning(src"),
        s"expected no src-keyed exchange over the split bucketed tables:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("a warm start from an empty frame is the cold start") {
    val edges = RankEdges.inMemory(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 1L), (2L, 6L)).toDF("src", "dst"))
    val noWarm = Seq.empty[(Long, Long)].toDF("node", "rank")
    val (cold, rCold, _) = Graph.pageRank(edges, 7)
    val (warm, rWarm, _) = Graph.pageRank(edges, 7, Some(noWarm))
    assert(rCold == 7 && rWarm == 7)
    assert(warm.as[(Long, Long)].collect().toMap ==
      cold.as[(Long, Long)].collect().toMap)
  }

  test("every edge source runs cold and warm rounds with no exchange on the edge side") {
    import org.apache.spark.sql.execution.{InputAdapter, RDDScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => planNodes(q.plan)
      case _ => p +: p.children.flatMap(planNodes)
    }
    def edgeCheckpoint(p: SparkPlan): Boolean = p match {
      case InputAdapter(c) => edgeCheckpoint(c)
      case r: RDDScanExec => r.output.map(_.name).contains("outdeg")
      case _ => false
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-prplan").toString
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 1L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    Graph.commitSplitEdgeTables(spark, edges, dir, table = "graph_split_plan_spec")
    val sources = Seq[(String, () => RankEdges)](
      "inMemory" -> (() => RankEdges.inMemory(edges)),
      "bucketed" -> (() => RankEdges.bucketed(spark, edges, dir,
        table = "graph_edges_bkt_plan_spec", reuseExisting = true)),
      "split" -> (() => RankEdges.split(spark, "graph_split_plan_spec")))
    val committed = Graph.pageRank(RankEdges.inMemory(edges), 2)._1
    // broadcast off: a broadcast E⋈V join would hide the co-partitioning
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val violations = for {
        (name, source) <- sources
        warm <- Seq(None, Some(committed))
        rounds <- Seq(1, 2)
        e = source()
        // a fixed-count run leaves its last round un-checkpointed, so the
        // returned frame's plan IS that round's E⋈V join and sum
        round = Graph.pageRank(e, rounds, warm)._1
        plan = { round.collect(); round.queryExecution.executedPlan }
        // what the kernel checkpoints when it cuts that round
        cut = round.repartition(e.parts, $"node")
        cutExchanges = { cut.collect()
          planNodes(cut.queryExecution.executedPlan).collect {
            case x: ShuffleExchangeLike => x.outputPartitioning } }
        // the rank and aggregate exchanges are keyed by node; one keyed by
        // src would be the E-sized per-round shuffle
        problem <- Seq(
          "an exchange on the edge side" ->
            plan.toString.contains("hashpartitioning(src"),
          "a sort over the edge checkpoint" -> planNodes(plan).exists {
            case s: SortExec => edgeCheckpoint(s.child)
            case _ => false
          },
          // a round over cut ranks (every round but a cold first) joins
          // them co-partitioned, and the cut's repartition is the sum's
          // own exchange: ONE shuffle per round
          s"cut exchanges $cutExchanges, not one on node at ${e.parts}" ->
            ((warm.isDefined || rounds > 1) && !(cutExchanges match {
              case Seq(h: HashPartitioning) => h.numPartitions == e.parts &&
                h.references.toSeq.map(_.name) == Seq("node")
              case _ => false
            }))).collect { case (p, true) => p }
      } yield s"$name ${if (warm.isEmpty) "cold" else "warm"} round $rounds " +
        s"has $problem:\n$plan"
      assert(violations.isEmpty, violations.mkString("\n"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
