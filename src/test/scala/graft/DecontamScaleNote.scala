package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Companion evidence to BENCH_SCALE's q66 explanation:
  * `sbt "Test/runMain graft.DecontamScaleNote <x1Dir> <x10Dir> <x100Dir>"`.
  *
  * q66's benched factor (38× at 100× data) is dominated by its eval slice
  * `doc_id % 10 = 7`, which GROWS with the corpus — a fixture artifact.
  * Production decontamination probes a FIXED benchmark set. This harness
  * times the SAME probe shape with eval pinned to the base copy
  * (`doc_id < 500`, constant size at every scale): the broadcast build is
  * then O(1) in corpus size and the remaining work is the map-side gram
  * lookup, so 100× data should cost ~linear-with-small-constant — the
  * claim the BENCH_SCALE note makes structurally. min-of-3 after warm-up.
  */
object DecontamScaleNote {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
      .appName("graft-decontam-scale-note")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // q66's exact probe shape, with the eval membership predicate swapped
    // for a corpus-size-independent one
    def run(dir: String): Double = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val docs = Tables.documents(spark, dir)
      val grams = docs.select(col("doc_id"),
          explode(array_distinct(TextFunctions.tokenShingles(
            TextFunctions.tokens(col("text")), 8))).as("g"))
        .select(col("doc_id"), TextFunctions.fnv64(col("g")).as("gh"))
      val isEval = col("doc_id") < 500 // the base copy: FIXED size at any scale
      val evalGrams = grams.filter(isEval).select("gh").distinct()
      val train = grams.filter(!isEval)
      val totals = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      train.join(broadcast(evalGrams), Seq("gh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        .join(totals, Seq("doc_id"))
        .select(col("doc_id"), col("n_overlap"), col("n_grams"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val dirs = args.toSeq
    require(dirs.nonEmpty,
      "usage: DecontamScaleNote <x1Dir> [<x10Dir> <x100Dir> ...]")
    run(dirs.head) // warm-up
    val times = dirs.map(d => d -> (1 to 3).map(_ => run(d)).min)
    times.foreach { case (d, t) =>
      println(f"[decontam-scale] fixed-eval probe dir=$d time=$t%.3fs " +
        f"factor=${t / times.head._2}%.2fx")
    }
    spark.stop()
  }
}
