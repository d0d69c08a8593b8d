package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

/** The q88 scale story, BOTH regimes in one named artifact
  * (`sbt "Test/runMain graft.SemanticScaleNote"` →
  * bench/semantic_scale_r13.json; round-12 verdict #6 — the stress
  * number kept masquerading as "the q88 x100 row" and needed an
  * adjudication footnote every round).
  *
  * crossCosineMatches' cost is EXACTLY |corpus| × |eval| dot products —
  * brute-force is the right call on the decontamination path (exact, no
  * recall question, zero corpus shuffle) precisely BECAUSE the eval side
  * is a fixed benchmark set.
  *
  *   - `q88_production_*`: eval PINNED to the base copy's %10=3 slice
  *     (200 vectors at every scale) — cost linear in corpus size. This
  *     is the deployment regime: benchmark suites do not grow 100×
  *     because the crawl did.
  *   - `q88_stress_*`: the fixture's %10 slice, so eval grows WITH the
  *     corpus — quadratic BY CONSTRUCTION. Named for what it is; its
  *     only use is bounding the wrong-tool regime (an eval side that
  *     genuinely tracks corpus size belongs on LSH/IVF blocking, q84's
  *     shape, not on brute force).
  */
object SemanticScaleNote {

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
      .appName("graft-semantic-scale-note")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def measure(scale: String, regime: String): String = {
      val base = spark.read
        .parquet(s"target/scale/$scale/embeddings.parquet")
        .select(col("vec_id"),
          VectorFunctions.toDoubleArray(col("embedding")).as("embedding"))
      val corpus = base.filter(col("vec_id") % 10 =!= 7)
      val evalBase =
        if (regime == "production")
          // PINNED eval: the base copy's slice — 200 vectors at any scale
          base.filter(col("vec_id") % 10 === 3 && col("vec_id") < 2000)
        else
          // STRESS: the q88 fixture's slice — eval grows with the corpus
          base.filter(col("vec_id") % 10 === 3)
      val evalSet = evalBase
        .withColumn("a", (col("vec_id") % 8).cast("double") / 20.0)
        .select((col("vec_id") + 3000000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (lit(1.0) - col("a")) * x + col("a") *
              element_at(col("embedding"), pmod(i + 1, lit(64)) + 1))
            .as("embedding"))
      val nCorpus = corpus.count(); val nEval = evalSet.count()
      // warm-up then min-of-2 (stress x100 runs once — its magnitude,
      // not its variance, is the datum)
      def run(): Long = Similarity
        .crossCosineMatches(corpus, evalSet, threshold = 0.9).count()
      val reps = if (regime == "stress" && scale == "x100") 1 else 2
      if (reps > 1) run()
      val times = Seq.fill(reps) {
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime(); val n = run()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (sec, pairs) = times.minBy(_._1)
      println(f"[semantic-scale] q88_${regime}_$scale%-6s " +
        f"corpus=$nCorpus%8d eval=$nEval matches=$pairs%5d  ${sec}%7.2fs")
      f"""{"row":"q88_${regime}_$scale","corpus":$nCorpus,""" +
        f""""eval":$nEval,"matches":$pairs,"sec":$sec%.2f}"""
    }
    val results =
      Seq("x1", "x10", "x100").map(measure(_, "production")) ++
        Seq("x10", "x100").map(measure(_, "stress"))
    Files.createDirectories(Paths.get("bench"))
    Files.writeString(Paths.get("bench/semantic_scale_r13.json"),
      results.mkString("[", ",\n ", "]\n"))
    spark.stop()
  }
}
