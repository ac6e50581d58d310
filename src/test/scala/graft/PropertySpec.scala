package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.{Dedup, Dims}

/** ScalaCheck property tests for the semantics-bearing operators
  * (SURVEY.md §5): dedup output is key-unique and keeps the argmax; content
  * hash keys are deterministic and collision-free on generated domains; the
  * calendar dimension is contiguous with distinct keys.
  */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rowsGen: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 1000L)))

  property("dedup keeps exactly one row per key, the max-version one") =
    forAll(rowsGen) { rows =>
      val df = rows.toDF("id", "ver")
      val out = Dedup.keepFirst(df, Seq("id"), Seq(col("ver").desc, col("id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      out == expected
    }

  property("surrogate keys are deterministic and injective on the sample") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-100000L, 100000L))) { ids =>
      val df = ids.distinct.toDF("id")
      val keys = df.select(graft.functions.Keys.surrogateKey(col("id")).as("k"))
        .collect().map(_.getString(0))
      val again = df.select(graft.functions.Keys.surrogateKey(col("id")).as("k"))
        .collect().map(_.getString(0))
      keys.sameElements(again) && keys.distinct.length == ids.distinct.length
    }

  property("HLL approx distinct is within its error bound of exact, per group (sf0.1)") =
    org.scalacheck.Prop.protect {
      // approx_count_distinct's default rsd is 0.05 (one standard deviation
      // of the HLL++ estimator); gate at 3×rsd per group — a deterministic
      // check, since Spark's HLL hashing is seedless and the fixture is fixed
      val rsd = 0.05
      val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
      val approx = ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd).as("a"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      exact.forall { case (g, e) =>
        val err = math.abs(approx(g) - e).toDouble / e
        err <= 3 * rsd
      } && exact.keySet == approx.keySet
    }

  property("approx_percentile respects its rank-error bound per group (sf0.1)") =
    org.scalacheck.Prop.protect {
      // accuracy=1000 bounds the RANK error at n/1000; check the realized
      // rank of each sketch answer against its target quantile
      val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.1")
      val qs = Seq(0.5, 0.9, 0.99)
      val approx = ev.groupBy(col("event_type"))
        .agg(expr("approx_percentile(value, array(0.5D, 0.9D, 0.99D), 1000)").as("a"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      val exact = ev.select(col("event_type"), col("value")).collect()
        .groupBy(_.getString(0)).map { case (g, rows) =>
          g -> rows.map(_.getDouble(1)).sorted
        }
      exact.forall { case (g, values) =>
        val n = values.length.toDouble
        qs.zipWithIndex.forall { case (q, i) =>
          val v = approx(g)(i)
          val rank = values.count(_ <= v) / n
          math.abs(rank - q) <= 0.005 + 1.0 / n
        }
      }
    }

  property("sketch token quantiles stay inside rank-error of the exact profile (sf0.1)") =
    org.scalacheck.Prop.protect {
      // the scale-default corpus length profile (TextOps.tokenQuantilesSketch,
      // accuracy=10000 → rank error ≤ 1e-4) vs the exact oracle form: the
      // realized rank of each sketch answer must sit within the bound of its
      // target quantile — the PropertySpec pattern that stands in for a
      // cross-engine oracle on sketch operators
      // token counts are DISCRETE and heavily tied, so a correct answer v
      // covers the whole rank interval [count(<v)/n, count(<=v)/n] — the
      // continuous-data check (|count(<=v)/n − q| ≤ ε) would fail whenever
      // the target quantile lands inside a tie run. The bound holds iff
      // [q−ε, q+ε] intersects v's rank interval.
      val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
      val sketch = graft.operators.TextOps.tokenQuantilesSketch(docs)
        .collect().head
      val lengths = docs
        .select(size(graft.functions.TextFns.tokens(col("text"))).cast("double"))
        .collect().map(_.getDouble(0)).sorted
      val n = lengths.length.toDouble
      Seq(0.5, 0.9, 0.99).zipWithIndex.forall { case (q, i) =>
        val v = sketch.getDouble(i)
        val eps = 1e-4 + 1.0 / n
        val loRank = lengths.count(_ < v) / n
        val hiRank = lengths.count(_ <= v) / n
        loRank - eps <= q && q <= hiRank + eps
      }
    }

  property("bucketized range join ≡ naive inequality join on random intervals") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 200L))),
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 20L), Gen.zip(Gen.choose(0L, 200L), Gen.choose(0L, 60L)))),
      Gen.choose(1L, 64L)) { (ps, is, width) =>
      val points = ps.map { case (id, t) => (id, t) }.toDF("p_id", "ts")
      val intervals = is.map { case (id, (s, len)) => (id, s, s + len) }
        .toDF("i_id", "s", "e")
      val got = graft.operators.RangeJoin
        .pointInInterval(points, "ts", intervals, "s", "e", width)
        .select("p_id", "ts", "i_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val naive = points.join(intervals,
          col("ts") >= col("s") && col("ts") <= col("e"))
        .select("p_id", "ts", "i_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // multiset equality: duplicate input rows must produce duplicate matches
      got.sorted.toSeq == naive.sorted.toSeq
    }

  property("bucketized interval overlap ≡ naive join, duplicate-free, on random widths") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 50L),
        Gen.zip(Gen.choose(0L, 200L), Gen.choose(0L, 80L)))),
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(100L, 150L),
        Gen.zip(Gen.choose(0L, 200L), Gen.choose(0L, 80L)))),
      Gen.choose(1L, 64L)) { (ls, rs, width) =>
      val left = ls.map { case (id, (s, len)) => (id, s, s + len) }
        .toDF("a_id", "as", "ae")
      val right = rs.map { case (id, (s, len)) => (id, s, s + len) }
        .toDF("b_id", "bs", "be")
      val got = graft.operators.RangeJoin
        .intervalOverlap(left, "as", "ae", right, "bs", "be", width)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val naive = left.join(right,
          col("as") <= col("be") && col("bs") <= col("ae"))
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // multiset equality is the dedup-free invariant: a pair overlapping
      // in MANY shared buckets must still emit exactly as many rows as its
      // input multiplicity, never once per shared bucket
      got.sorted.toSeq == naive.sorted.toSeq
    }

  property("dim_date spans min..max contiguously with distinct keys") =
    forAll(Gen.zip(Gen.choose(0L, 2000000L), Gen.choose(1L, 200L))) {
      case (startSec, spanDays) =>
        val base = 1700000000L + startSec
        val fact = Seq(base, base + spanDays * 86400L)
          .map(s => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s)))
          .toDF("ts")
        val d = Dims.dimDate(fact).collect()
        val keys = d.map(_.getAs[Long]("date_key"))
        d.length == spanDays + 1 && keys.distinct.length == d.length
    }

  // keys are partition-local by construction (day = id % 4), matching the
  // operator's contract that the partition column is functionally
  // dependent on the key
  private val upsertGen: Gen[(List[(Long, Long, Long)], List[(Long, Long, Long)])] =
    Gen.zip(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 100L)))
        .map(_.map { case (id, v) => (id, v, 1L) }.distinctBy(_._1)),
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 2L)))
        .map(_.map { case (id, ver) => (id, -id, ver) }.distinctBy(_._1)))

  property("partition-pruned upsert ≡ in-memory keep-latest merge (delta wins ties)") =
    forAll(upsertGen) { case (base, delta) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-upsert-prop").toString + "/t"
      def day(id: Long) = s"d${id % 4}"
      def upsert(rows: List[(Long, Long, Long)]) =
        graft.pipeline.Upsert.upsertPartitionsAtomic(spark,
          rows.map { case (id, v, ver) => (day(id), id, v, ver) }
            .toDF("day", "id", "value", "version"),
          dir, "day", keys = Seq("id"), order = Seq("version"))
      upsert(base) // seeds the table: base keys are distinct
      upsert(delta)
      val got = graft.pipeline.Upsert.readTable(spark, dir)
        .select("id", "value", "version").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val touched = delta.map(d => day(d._1)).toSet
      val baseMap = base.map(r => r._1 -> r).toMap
      val deltaMap = delta.map(r => r._1 -> r).toMap
      val expected = (baseMap.keySet ++ deltaMap.keySet).map { id =>
        if (!touched.contains(day(id))) baseMap(id)
        else (baseMap.get(id), deltaMap.get(id)) match {
          case (Some(b), Some(d)) => if (d._3 >= b._3) d else b // delta wins ties
          case (b, d)             => b.orElse(d).get
        }
      }
      got == expected
    }
}
