package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.{AsOfJoin, DedupApprox}

/** Adversarial properties for the algorithmic operators: the
  * prefix-filtered Jaccard join must equal brute force (prefix filtering is
  * exactness-preserving), and the as-of join must equal its nested-loop
  * definition.
  */
object AlgoPropertySpec extends Properties("graft-algo") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docGen: Gen[List[String]] =
    Gen.choose(2, 10).flatMap { nDocs =>
      Gen.listOfN(nDocs,
        Gen.choose(1, 25).flatMap(n =>
          Gen.listOfN(n, Gen.oneOf((0 until 8).map(i => s"w$i")))
            .map(_.mkString(" "))))
    }

  private def shingleSet(text: String): Set[String] = {
    val toks = text.split(" ")
    if (toks.length < 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  property("prefix-filtered jaccard join equals brute force") =
    forAll(docGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = DedupApprox.jaccardJoin(docs, 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sets = texts.zipWithIndex.map { case (t, i) => i.toLong -> shingleSet(t) }
      val expected = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        shared = sa.intersect(sb).size
        j = round4(shared.toDouble / (sa.size + sb.size - shared))
        if j >= 0.5
      } yield (ia, ib, j)).toSet
      got == expected
    }

  private val asofGen = for {
    left <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 100L)))
    right <- Gen.listOf(Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 100L),
      Gen.choose(0, 1000)))
  } yield (left, right.distinctBy(r => (r._1, r._2))) // unique (key, ts) per right row

  property("as-of join equals its nested-loop definition") =
    forAll(asofGen) { case (left, right) =>
      val l = left.zipWithIndex.map { case ((k, t), i) =>
        (i.toLong, k, new java.sql.Timestamp(t * 1000)) }
        .toDF("row_id", "k", "ts")
      val r = right.map { case (k, t, v) =>
        (k, new java.sql.Timestamp(t * 1000), v) }.toDF("k", "ts", "v")
      val got = AsOfJoin.asof(l, r, "k", "ts", Map("v" -> "asof_v")).collect()
        .map(row => row.getLong(0) ->
          Option(row.getAs[java.lang.Integer]("asof_v")).map(_.toInt)).toMap
      val expected = left.zipWithIndex.map { case ((k, t), i) =>
        val candidates = right.filter(rr => rr._1 == k && rr._2 <= t)
        i.toLong -> candidates.sortBy(rr => (rr._2, rr._3)).lastOption.map(_._3)
      }.toMap
      got == expected
    }

  property("operators are empty-safe") = forAll(Gen.const(())) { _ =>
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    DedupApprox.jaccardJoin(empty, 0.5).count() == 0 &&
      DedupApprox.minhashPairs(empty, 0.5).count() == 0 &&
      graft.operators.SparseSim.cosineTfJoin(empty, 800L).count() == 0 &&
      graft.operators.Dedup.keepLatestAgg(
        Seq.empty[(Long, Long)].toDF("id", "v"), Seq("id"), Seq(col("v"))).count() == 0
  }

  private val graphGen: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
      .map(_.filter { case (a, b) => a != b }.distinct)
      .suchThat(_.nonEmpty)

  property("fixed-point pagerank tracks the floating-point definition") =
    forAll(graphGen) { edges =>
      import graft.operators.Graph
      val got = Graph.pageRank(Graph.RankEdges.inMemory(edges.toDF("src", "dst")), 10)._1
        .as[(Long, Long)].collect().toMap
        .map { case (n, r) => n -> r.toDouble / Graph.TotalMass }
      // driver-side reference: the same damped iteration in Doubles
      // (same init, same dangling-mass-leak semantics)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val outDeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val n = nodes.size
      var ranks = nodes.map(_ -> 1.0 / n).toMap
      val base = (1.0 - 0.85) / n
      for (_ <- 1 to 10) {
        val contribs = edges.groupBy(_._2).view.mapValues(_.map { case (s, _) =>
          ranks(s) / outDeg(s) }.sum).toMap
        ranks = nodes.map(v => v -> (base + 0.85 * contribs.getOrElse(v, 0.0))).toMap
      }
      // floor loss is ≤1e-12 per contribution per round — far inside 1e-6
      got.keySet == ranks.keySet && got.forall { case (v, r) =>
        math.abs(r - ranks(v)) < 1e-6
      }
    }

  property("inverted-index cosine join equals brute force over the pruned space") =
    forAll(docGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.SparseSim.cosineTfJoin(docs, 700L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      // brute reference: tf maps over the df ≤ n/2 space, all pairs scored
      val n = texts.length
      val tfs = texts.map(_.split(" ").groupBy(identity).view.mapValues(_.length.toLong).toMap)
      val df = tfs.flatMap(_.keys).groupBy(identity).view.mapValues(_.size).toMap
      val kept = tfs.map(_.filter { case (tok, _) => df(tok) * 2 <= n })
      val expected = (for {
        a <- kept.indices; b <- kept.indices if a < b
        dot = kept(a).keySet.intersect(kept(b).keySet).toSeq
          .map(t => kept(a)(t) * kept(b)(t)).sum
        if dot > 0
        n2a = kept(a).values.map(v => v * v).sum
        n2b = kept(b).values.map(v => v * v).sum
        if 1000000L * dot * dot >= 700L * 700L * n2a * n2b
      } yield (a.toLong, b.toLong, dot, n2a, n2b)).toSet
      got == expected
    }
}
