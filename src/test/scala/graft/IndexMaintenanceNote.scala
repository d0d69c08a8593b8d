package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Reproducible evidence for the round-12 index-maintenance claim (verdict
  * #3's "bench row"): steady-state IVF query cost with PENDING tombstones
  * pays only a broadcast anti-join, and after compaction returns to the
  * fresh-build baseline — so delete support costs nothing once folded in.
  * `sbt "Test/runMain graft.IndexMaintenanceNote"` →
  * bench/index_maint_r12.json.
  *
  * Method: build the sf0.1 index once, run the q92-shaped steady-state
  * query (k=10, nProbe=4) median-of-5 in three states — fresh, after
  * tombstoning ~14% of ids (vec_id%7=2), and after compaction. Collect to
  * the driver like Bench's noop sink, cache cleared between runs.
  */
object IndexMaintenanceNote {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(32)
      .appName("graft-index-maint-note")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.embeddings(spark, src)
    val queries = emb.filter(col("vec_id") < 50)
    val idx = "target/tmp/index_maint_note/ivf"
    graft.operators.MaintenanceIo.deleteDir(idx)
    Similarity.buildIvfIndex(emb, idx, nLists = 16)

    def timeQuery(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Similarity.ivfTopKFromIndex(idx, queries, k = 10, nProbe = 4)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median5(): Double = {
      val ts = (1 to 5).map(_ => timeQuery()).sorted
      ts(2)
    }
    timeQuery() // warm-up (JIT + session)
    val fresh = median5()
    Similarity.deleteFromIvfIndex(emb.filter(col("vec_id") % 7 === 2), idx)
    val tombstoned = median5()
    val t0 = System.nanoTime()
    Similarity.compactIvfIndex(spark, idx)
    val compactSec = (System.nanoTime() - t0) / 1e9
    val compacted = median5()

    val line = f"""{"note":"index_maint_r12","sf":"$src",""" +
      f""""fresh_query_sec":$fresh%.3f,""" +
      f""""tombstoned_query_sec":$tombstoned%.3f,""" +
      f""""compacted_query_sec":$compacted%.3f,""" +
      f""""compact_cost_sec":$compactSec%.3f}"""
    println(line)
    val out = new java.io.File("bench/index_maint_r12.json")
    out.getParentFile.mkdirs()
    java.nio.file.Files.writeString(out.toPath, line + "\n")
    spark.stop()
  }
}
