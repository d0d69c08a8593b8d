package graft

import org.apache.spark.sql.functions._

/** Cost of the round-13 search-index side effect in the streaming ingest
  * loop: drive [[graft.streaming.IngestStream.selfDedupIngest]] over the
  * SAME staged shard sequence with and without `searchIndexPath`, and
  * time (a) the end-to-end drain and (b) a BM25 query against the
  * stream-maintained index afterward. The delta is what a crawler pays
  * per trigger to keep the corpus continuously searchable — one
  * shard-sized postings/df/stats write per batch, nothing corpus-sized.
  * `sbt "Test/runMain graft.StreamIndexNote <sfDir> <nShards>"` →
  * bench/stream_index_r13.json.
  */
object StreamIndexNote {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
      .appName("graft-stream-index-note")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import java.nio.file.Files

    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val nShards = if (args.length > 1) args(1).toInt else 4

    // corpus = 2/3 of the fixture; the stream delivers the last third as
    // nShards disjoint files, each with one paraphrased near-dup slice
    // (q89's construction) so all three gates do real work
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 3 =!= 2)
    val arriving = docs.filter(col("doc_id") % 3 === 2)

    def drain(withIndex: Boolean): (Double, Option[Double]) = {
      val tag = if (withIndex) "wi" else "wo"
      val bloomPath = Files.createTempDirectory(s"sin_bloom_$tag").toString
      val lshPath = Files.createTempDirectory(s"sin_lsh_$tag").toString
      val idxPath = Files.createTempDirectory(s"sin_idx_$tag").toString
      graft.operators.Dedup.buildExactBloom(corpus, "text", bloomPath)
      graft.operators.Dedup.writeLshBandIndex(corpus, "doc_id", "text",
        lshPath)
      if (withIndex)
        graft.operators.InvertedIndex.buildIndex(corpus, idxPath)
      val stageDir = Files.createTempDirectory(s"sin_stage_$tag")
      (0 until nShards).foreach { i =>
        val tmp = Files.createTempDirectory(s"sin_tmp_$tag$i")
        arriving.filter(pmod(col("doc_id"), lit(nShards)) === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp)
          .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
        Files.move(part, stageDir.resolve(f"s$i%02d.parquet"))
      }
      val ckpt = Files.createTempDirectory(s"sin_ckpt_$tag").toString
      val outDir = Files.createTempDirectory(s"sin_out_$tag").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.IngestStream.selfDedupIngest(
        spark.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(stageDir.toString),
        corpus, "doc_id", "text", bloomPath, lshPath, threshold = 0.8,
        outDir, ckpt,
        searchIndexPath = if (withIndex) Some(idxPath) else None)
      q.processAllAvailable()
      q.stop()
      val drainSec = (System.nanoTime() - t0) / 1e9
      val querySec = if (withIndex) {
        val t1 = System.nanoTime()
        graft.operators.InvertedIndex
          .bm25FromIndex(spark, idxPath, Seq("spark", "join", "merge"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
          .collect()
        Some((System.nanoTime() - t1) / 1e9)
      } else None
      (drainSec, querySec)
    }

    drain(withIndex = false) // warm-up
    val (woSec, _) = drain(withIndex = false)
    val (wiSec, qSec) = drain(withIndex = true)
    val json = s"""{"metric":"stream_index","unit":"sec","sf":"$sfDir",""" +
      s""""n_shards":$nShards,"drain_without_index":$woSec,""" +
      s""""drain_with_index":$wiSec,""" +
      s""""index_overhead_per_batch":${(wiSec - woSec) / nShards},""" +
      s""""bm25_query_after":${qSec.getOrElse(-1.0)}}"""
    println(json)
    Files.writeString(
      java.nio.file.Paths.get("bench/stream_index_r13.json"), json + "\n")
    spark.stop()
  }
}
