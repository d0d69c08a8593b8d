package graft

import org.apache.spark.sql.functions._

/** Scale-shape bench for the BATCH kNN self-join (q160's kernel,
  * [[operators.Similarity.ivfKnnJoinFromIndex]]) at a PRODUCTION
  * configuration: nLists grows with the corpus (≈2·√N, the standard IVF
  * sizing) and nProbe stays fixed, so per-query work is the probed
  * fraction nProbe/nLists of the corpus — the knob that keeps a kNN
  * graph build sub-quadratic as data grows. q160's gated form
  * deliberately probes exhaustively on a fixed 8-list index (exactness
  * oracle); THIS is the configuration that scales, and the row records
  * its cost and the shuffle-equi-join shape at x1/x10/x100.
  *
  * Env: SPARK_GRAFT_SF_DIR (fixture dir), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_KNN_NPROBE (default 8). nLists defaults to
  * max(8, 2^ceil(log2(2·√N))); override with SPARK_GRAFT_KNN_NLISTS.
  * Prints ONE JSON line with build/join seconds, the parameters, result
  * rows, and whether the executed plan shuffle-equi-joins on cell.
  */
object BenchKnnJoin {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nProbe = sys.env.getOrElse("SPARK_GRAFT_KNN_NPROBE", "8").toInt
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val nLists = sys.env.get("SPARK_GRAFT_KNN_NLISTS").map(_.toInt)
      .getOrElse {
        val target = 2.0 * math.sqrt(n.toDouble)
        math.max(8, 1 << math.ceil(math.log(target) / math.log(2)).toInt)
      }
    val path = java.nio.file.Files
      .createTempDirectory("bench_knnjoin").toString
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tBuild = timed(
      operators.Similarity.buildIvfIndex(emb, path, nLists = nLists))
    var rows = 0L
    val joined = operators.Similarity
      .ivfKnnJoinFromIndex(path, emb, k = 5, nProbe = nProbe)
    val tJoin = timed {
      rows = joined.count()
    }
    // how the cell equi-join actually executed: "shuffle" is the shape
    // that scales; "broadcast" at small N is AQE's legitimate runtime
    // pick (the batch path carries NO hint — ScaleShapeSpec pins that),
    // and it must flip to shuffle once the fanned query side outgrows
    // the threshold
    val plan = joined.queryExecution.executedPlan.toString
    val cellJoin =
      if (plan.contains("SortMergeJoin [cell") ||
        plan.contains("ShuffledHashJoin [cell")) "shuffle"
      else if (plan.contains("BroadcastHashJoin")) "broadcast"
      else "other"
    println(f"""{"build":$tBuild%.3f,"join":$tJoin%.3f,"n":$n,""" +
      s""""nLists":$nLists,"nProbe":$nProbe,"rows":$rows,""" +
      s""""cell_join":"$cellJoin","sf":"$sfDir"}""")
    operators.MaintenanceIo.deleteDir(path)
    spark.stop()
  }
}
