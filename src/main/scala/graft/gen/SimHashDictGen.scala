package graft.gen

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Committed token→xxhash64 dictionary fixture: the per-token hash family
  * behind [[graft.functions.expr.VectorExpressions.simhash64]] (xxhash64,
  * seed 42 — Spark's builtin default seed, identical to the expression's
  * `XxHash64Function.hash(…, 42L)`), materialized as parquet over the
  * union of every fixture scale's document vocabulary.
  *
  * This is what upgrades `dedup_simhash` from a rows-only recall gate to
  * an EXACT oracle (the `fixtures/annidx` pattern): DuckDB cannot compute
  * seeded xxhash64, but given the committed per-token hashes it can
  * replay the whole operator — per-occurrence bit votes, the 64-bit
  * majority pack, the 4×16-bit band candidate join, and the Hamming
  * refine — as deterministic SQL.
  *
  * Run: `sbt "runMain graft.gen.SimHashDictGen fixtures/simhash"`
  * (idempotent: the vocabulary and the hash are both deterministic).
  */
object SimHashDictGen {

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/simhash")
    val spark = graft.Session(8)

    val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    val vocab = scales.map { sf =>
        spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
          .select(explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
      }.reduce(_.unionAll(_))
      .distinct()
    vocab.select(col("tok"), xxhash64(col("tok")).as("h"))
      .coalesce(1).sortWithinPartitions("tok")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/dict")
    println(s"[simhash-dict] tokens=${spark.read.parquet(s"$out/dict").count()}")
    spark.stop()
  }
}
