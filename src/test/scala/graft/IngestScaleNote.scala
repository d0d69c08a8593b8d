package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Evidence for q89's incremental-ingest claim — per-ingest cost tracks
  * the SHARD, not the corpus:
  * `sbt "Test/runMain graft.IngestScaleNote <corpusDir> <shardPct>..."`.
  *
  * Holds the standing corpus FIXED (every document in `corpusDir`) and
  * admits synthetic shards of increasing size — `shardPct`% of the corpus
  * paraphrased (one appended token, ids shifted disjoint), the q89
  * construction. If the crossJaccardPairs plan is what its scaladoc
  * claims (shard bands+shingles broadcast, corpus scanned once, verify at
  * the band match, no corpus shuffle), time should be near-FLAT in shard
  * size until the shard's broadcast/verify work rivals the constant
  * corpus scan+sketch pass, and far below re-running the corpus SELF-join
  * (the q22-shaped full-dedup alternative, timed alongside for the
  * comparison the claim is actually about). min-of-3 after warm-up.
  */
object IngestScaleNote {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
      .appName("graft-ingest-scale-note")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpusDir = args.head
    val pcts = args.tail.map(_.toInt).toSeq
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "usage: IngestScaleNote <corpusDir> <shardPct 1-100>...")

    val corpus = Tables.documents(spark, corpusDir).select("doc_id", "text")

    def shardOf(pct: Int) =
      corpus.filter(pmod(col("doc_id"), lit(100)) < pct)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          concat(col("text"), lit(" zzingest")).as("text"))

    def timed(f: => Unit): Double = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    def ingest(pct: Int): Double = timed {
      val shard = shardOf(pct)
      val flagged = Dedup.crossJaccardPairs(corpus, shard, "doc_id", "text",
          threshold = 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      shard.join(flagged, Seq("doc_id"), "left_anti")
        .write.format("noop").mode("overwrite").save()
    }

    // the alternative the incremental pass avoids: fold the shard into the
    // corpus and re-run the full self-join dedup over corpus ∪ shard
    def selfJoin(pct: Int): Double = timed {
      Dedup.dropNearDuplicates(corpus.unionAll(shardOf(pct)),
          "doc_id", "text", threshold = 0.8)
        .write.format("noop").mode("overwrite").save()
    }

    ingest(pcts.head) // warm-up
    val rows = pcts.map { p =>
      val ti = (1 to 3).map(_ => ingest(p)).min
      val ts = (1 to 3).map(_ => selfJoin(p)).min
      (p, ti, ts)
    }
    val base = rows.head._2
    rows.foreach { case (p, ti, ts) =>
      println(f"[ingest-scale] shard=$p%3d%% incremental=$ti%7.2fs " +
        f"(x${ti / base}%.2f vs smallest shard) full-self-join=$ts%7.2fs " +
        f"(${ts / ti}%.1fx the incremental pass)")
    }
    spark.stop()
  }
}
