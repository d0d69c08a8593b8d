package graft

import org.apache.spark.sql.functions._

/** Maintenance economics of the PERSISTED kNN graph (q172's kernel,
  * [[operators.Similarity.appendToKnnGraph]]): a ~1% recrawl shard (plus
  * the 50 deterministic twins, so the dedup has dups to find) arrives at
  * a standing index+graph, and the row records the DELTA append cost
  * against the from-scratch alternative (rebuild index + recompute the
  * whole graph) at x1/x10/x100 — the q162-vs-q161 comparison for the
  * SemDeDup candidate structure. Production geometry (nLists ≈ 2·√N,
  * fixed nProbe) on both paths so the comparison is config-for-config.
  *
  * Scale note recorded by the row itself: the append's candidate pass is
  * |old|×|shard| broadcast dots — LINEAR in corpus size with a |shard|
  * multiplier (the from-scratch graph is ~N²/nLists work), so the delta
  * wins whenever the shard is small relative to the corpus; a deployment
  * with large shards would cell-prune candidate generation the same way
  * the probe does, trading the exact-merge property for the monitored
  * approximate regime.
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_KNNG_NPROBE (default 8). Prints ONE JSON line.
  */
object BenchKnnGraphMaint {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nProbe = sys.env.getOrElse("SPARK_GRAFT_KNNG_NPROBE", "8").toInt
    val k = 5
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

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
    val standing = base.filter(col("vec_id") % 100 =!= 99)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shard = base.filter(col("vec_id") % 100 === 99).unionByName(twins)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nOld = standing.count()
    val nShard = shard.count()
    val full = standing.unionByName(shard)
    def listsFor(n: Long): Int = {
      val target = 2.0 * math.sqrt(n.toDouble)
      math.max(8, 1 << math.ceil(math.log(target) / math.log(2)).toInt)
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val S = operators.Similarity

    // standing artifact (untimed setup — it exists before the shard lands)
    val p = java.nio.file.Files.createTempDirectory("knng_maint").toString
    S.buildIvfIndex(standing, p, nLists = listsFor(nOld))
    S.buildKnnGraph(spark, p, k = k, nProbe = nProbe)
    val tAppend = timed(S.appendToKnnGraph(shard, p, k = k, nProbe = nProbe))

    // the from-scratch alternative at the same geometry
    val p2 = java.nio.file.Files.createTempDirectory("knng_scratch").toString
    val tRebuild = timed {
      S.buildIvfIndex(full, p2, nLists = listsFor(nOld + nShard))
      S.buildKnnGraph(spark, p2, k = k, nProbe = nProbe)
    }
    val rows = S.knnGraphFromIndex(spark, p).count()
    println(f"""{"append":$tAppend%.3f,"rebuild":$tRebuild%.3f,""" +
      f""""ratio":${tAppend / tRebuild}%.3f,"n_old":$nOld,""" +
      s""""n_shard":$nShard,"nProbe":$nProbe,"graph_rows":$rows,""" +
      s""""sf":"$sfDir"}""")
    operators.MaintenanceIo.deleteDir(p)
    operators.MaintenanceIo.deleteDir(p2)
    spark.stop()
  }
}
