package graft

import org.apache.spark.sql.functions._

/** Lifecycle-isolation bench for [[operators.SimGraphIndex]]: times the
  * one-time BUILD, the nightly APPEND of a 1 % shard, DELETE, COMPACT,
  * and the full-rebuild alternative ([[operators.Dedup.exactJaccardJoin]]
  * over 100 %) on the same fixture — the number that justifies the
  * index's existence is append/rebuild, the nightly-cadence ratio.
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.BenchSimGraph"
  *
  * Prints ONE JSON line: {"build":s,"append":s,"delete":s,"compact":s,
  * "rebuild":s,"edges":n,"sf":dir}.
  */
object BenchSimGraph {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val path = java.nio.file.Files
      .createTempDirectory("bench_simidx").toString
    val docs = Tables.documents(spark, sfDir)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // 99 % standing corpus, 1 % nightly shard — the steady-state split
    val tBuild = timed(operators.SimGraphIndex.build(
      docs.filter(col("doc_id") % 100 =!= 7), "doc_id", "text",
      path, threshold = 0.7))
    val tAppend = timed(operators.SimGraphIndex.append(
      docs.filter(col("doc_id") % 100 === 7), "doc_id", "text", path))
    val tDelete = timed(operators.SimGraphIndex.delete(
      docs.filter(col("doc_id") % 1000 === 13).select("doc_id"),
      "doc_id", path))
    val tCompact = timed(operators.SimGraphIndex.compact(spark, path))
    var edges = 0L
    val tRead = timed {
      edges = operators.SimGraphIndex.edges(spark, path).count()
    }
    val tRebuild = timed {
      operators.Dedup.exactJaccardJoin(docs, "doc_id", "text", 0.7)
        .write.format("noop").mode("overwrite").save()
    }
    println(f"""{"build":$tBuild%.3f,"append":$tAppend%.3f,""" +
      f""""delete":$tDelete%.3f,"compact":$tCompact%.3f,""" +
      f""""read":$tRead%.3f,"rebuild":$tRebuild%.3f,""" +
      s""""edges":$edges,"sf":"$sfDir"}""")
    operators.MaintenanceIo.deleteDir(path)
    spark.stop()
  }
}
