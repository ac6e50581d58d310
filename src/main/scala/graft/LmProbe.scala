package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Scale probe behind the BASELINE.md "bigram-LM perplexity" row: measures
  * [[TextOps.lmPerplexity]] end-to-end (model build on the even half +
  * scoring of the whole corpus) at N and 4N documents over a fixed vocab.
  * The claim under test: the model tables are bounded by OBSERVED-bigram
  * cardinality (vocab-limited, here ≤ 8192² and in practice the ~400k
  * pairs the hash stream realizes), so total cost scales linearly with
  * corpus tokens — per-document cost stays flat as the corpus grows, the
  * property that lets the operator run at 100 TB by adding executors.
  * Run: `sbt "runMain graft.LmProbe"` (LM_PROBE_N base docs, default
  * 100k, then 4×; ~48 tokens/doc).
  */
object LmProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session(32)
    val n = sys.env.getOrElse("LM_PROBE_N", "100000").toLong

    // deterministic synthetic corpus: ~48 tokens/doc from an 8192-word
    // vocab, hash-derived (partition-count-invariant, no RNG state)
    def docs(rows: Long) = spark.range(rows).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 48).map(k =>
        concat(lit("w"), pmod(xxhash64(col("id") * 131 + k), lit(8192L)))
      ): _*).as("text"))

    for (rows <- Seq(n, n * 4)) {
      // materialize the corpus first so the measurement is the OPERATOR,
      // not row generation
      val d = docs(rows).localCheckpoint(true)
      val train = TextOps.deterministicSample(d, "doc_id", "8000")
      val t0 = System.nanoTime()
      val scored = TextOps.lmPerplexity(train, d).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[lm-probe] docs=$rows%8d  scored=$scored%8d  " +
        f"total=$sec%6.2f s  per-1k-docs=${sec * 1000.0 / rows}%6.3f s")
      d.unpersist()
    }
    spark.stop()
  }
}
