package graft

import org.apache.spark.sql.functions._

/** Scale-shape bench for the APPLIED semantic dedup
  * ([[operators.Dedup.semanticDedupApply]], q170's kernel) at a
  * PRODUCTION configuration: nLists grows with the corpus (≈2·√N, the
  * same sizing as BenchKnnJoin) and nProbe stays fixed, so the kNN-graph
  * stage — the only corpus-heavy stage of the chain — probes the
  * nProbe/nLists fraction of the stored index. q170's gated form
  * deliberately probes a fixed 8-list index exhaustively (that makes the
  * kNN graph exact and the whole decision table DuckDB-replayable); THIS
  * is the configuration that scales, and the row records build / rewrite
  * seconds, the parameters, the kept/dropped split, and the component
  * convergence behavior at x1/x10/x100.
  *
  * Corpus = the q61/q170 near-dup twin corpus (base embeddings ∪ 50
  * deterministic blended twins), so the dedup has real clusters to find
  * at every scale.
  *
  * Env: SPARK_GRAFT_SF_DIR (fixture dir), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SEMDEDUP_NPROBE (default 8), SPARK_GRAFT_SEMDEDUP_NLISTS
  * (default max(8, 2^ceil(log2(2·√N)))), SPARK_GRAFT_SEMDEDUP_QUANT=1
  * to run the int8 filter-refine variant (q176's path: buildQuantizedIndex
  * + semanticDedupApplyQuantized — the candidate pass scans 64-byte code
  * columns instead of 512-byte doubles; decisions are provably identical,
  * so kept/dropped must match the plain variant at the same geometry).
  * Prints ONE JSON line.
  */
object BenchSemDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nProbe = sys.env.getOrElse("SPARK_GRAFT_SEMDEDUP_NPROBE", "8").toInt
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the q170 corpus: base embeddings ∪ the deterministic twins
    // (SparkEntry.neardupCorpus's exact arithmetic, restated here so the
    // bench needs no access to SparkEntry privates)
    val base = Tables.embeddings(spark, sfDir).select(col("vec_id"),
      graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
        .as("embedding"))
    val twins = base.filter(col("vec_id") < 50)
      .withColumn("a", (col("vec_id") % 8).cast("double") / 20.0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (lit(1.0) - col("a")) * x + col("a") *
            element_at(col("embedding"), pmod(i + 1, lit(64)) + 1))
          .as("embedding"))
    val corpus = base.unionByName(twins)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val n = corpus.count()
    val nLists = sys.env.get("SPARK_GRAFT_SEMDEDUP_NLISTS").map(_.toInt)
      .getOrElse {
        val target = 2.0 * math.sqrt(n.toDouble)
        math.max(8, 1 << math.ceil(math.log(target) / math.log(2)).toInt)
      }
    val path = java.nio.file.Files
      .createTempDirectory("bench_semdedup").toString
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val quant = sys.env.get("SPARK_GRAFT_SEMDEDUP_QUANT").contains("1")
    val tBuild = timed {
      if (quant)
        operators.Similarity.buildQuantizedIndex(corpus, path,
          nLists = nLists)
      else
        operators.Similarity.buildIvfIndex(corpus, path, nLists = nLists)
    }
    var kept = 0L
    var dropped = 0L
    val tRewrite = timed {
      val decisions =
        if (quant)
          operators.Dedup.semanticDedupApplyQuantized(
            corpus, "vec_id", "embedding", path,
            threshold = 0.9, k = 5, nProbe = nProbe)
        else
          operators.Dedup.semanticDedupApply(
            corpus, "vec_id", "embedding", path,
            threshold = 0.9, k = 5, nProbe = nProbe)
      val counts = decisions.groupBy("action").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      kept = counts.getOrElse("kept", 0L)
      dropped = counts.getOrElse("dropped", 0L)
    }
    val variant = if (quant) "quantized" else "plain"
    println(f"""{"build":$tBuild%.3f,"rewrite":$tRewrite%.3f,"n":$n,""" +
      s""""nLists":$nLists,"nProbe":$nProbe,"kept":$kept,""" +
      s""""dropped":$dropped,"variant":"$variant","sf":"$sfDir"}""")
    operators.MaintenanceIo.deleteDir(path)
    spark.stop()
  }
}
