package graft

import org.apache.spark.sql.functions._

import graft.streaming.CuratedStore

/** Scale measurement behind the BASELINE.md continuous-curation row: the
  * r19 verdict's per-batch scale term was the full exact-table scan the
  * old admission paid every micro-batch (O(admitted corpus), growing
  * forever). The manifest store replaces it with the persisted bloom +
  * bucketed hash index, so FIXED-size batch admission cost must stay
  * ~FLAT as the admitted corpus multiplies. Same planted-structure
  * generator as `DedupIndexProbe` (groups of 5 over splitmix64 bases —
  * every batch carries real exact/near dups against itself and the
  * corpus).
  *
  * Run: `sbt "Test/runMain graft.CurationStreamProbe [seedDocs]
  * [batchDocs] [nBatches]"` — defaults 30000 / 10000 / 12 grow the
  * corpus 5×; the row reported is per-batch seconds first→last.
  */
object CurationStreamProbe {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val seedN = args.headOption.map(_.toLong).getOrElse(30000L)
    val batchN = args.drop(1).headOption.map(_.toLong).getOrElse(10000L)
    val nBatches = args.drop(2).headOption.map(_.toInt).getOrElse(12)
    val spark = TestSpark.spark
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val vocab = 20000
    val docLen = 40
    def genDocs(lo: Long, count: Long) =
      spark.range(lo, lo + count).select(col("id").as("doc_id"))
        .mapPartitions { it =>
          it.map { row =>
            val docId = row.getLong(0)
            val g = docId / 5
            val slot = (docId % 5).toInt
            val base = Array.tabulate(docLen)(p =>
              math.floorMod(mix(g * docLen + p), vocab))
            val nMut = slot match {
              case 0 => 0
              case 1 | 2 => 1
              case _ => 10
            }
            val rnd = new scala.util.Random(31L * docId + 17L)
            val toks = base.clone()
            var i = 0
            while (i < nMut) {
              toks(rnd.nextInt(docLen)) = vocab + rnd.nextInt(vocab)
              i += 1
            }
            (docId, toks.map(t => s"w$t").mkString(" "))
          }
        }.toDF("doc_id", "text")

    val root = java.nio.file.Files.createTempDirectory("curstream").toString + "/store"
    val seed = genDocs(0L, seedN)
    val seedExact = graft.operators.Dedup.exactSurvivors(seed)
    val t0 = System.nanoTime()
    CuratedStore.seed(spark, seedExact, root)
    println(f"[cur-stream] seed $seedN docs: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    var total = seedN
    val times = (0 until nBatches).map { i =>
      val batch = genDocs(seedN + i * batchN, batchN)
      val t = System.nanoTime()
      CuratedStore.admitCommit(spark, root, i.toLong, batch)
      val sec = (System.nanoTime() - t) / 1e9
      total += batchN
      println(f"[cur-stream] batch $i ($batchN docs, corpus now $total = " +
        f"${total.toDouble / seedN}%.1fx seed): $sec%.1f s")
      sec
    }
    val head = times.take(3).min
    val tail = times.takeRight(3).min
    println(f"[cur-stream] per-batch min-of-3 first=$head%.1f s last=$tail%.1f s " +
      f"ratio=${tail / head}%.2f at ${total.toDouble / seedN}%.1fx corpus " +
      s"(flat = the r19 O(corpus)-per-batch term is gone)")
    val admitted = CuratedStore.curatedRows(spark, root).count()
    println(s"[cur-stream] admitted rows total=$admitted")
    spark.stop()
  }
}
