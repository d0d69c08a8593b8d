package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.operators.Dedup

/** A/B evidence for crossJaccardPairs' verify-AT-band-match design
  * (`sbt "Test/runMain graft.CrossDecontamNote"` →
  * bench/cross_decontam_ab_r8.json).
  *
  * Two ways to run bipartite fuzzy decontamination with a broadcast eval
  * side:
  *   A (shipped): compute the exact Jaccard AT the band match (map-side,
  *     possibly m× per true pair for m matching bands), then distinct
  *     over 24-byte (id_a, id_b, jaccard) rows — corpus never shuffles
  *     anything wider than the final pair rows.
  *   B (classic): distinct the (id_a, id_b) band matches FIRST (16-byte
  *     shuffle), then join the corpus shingle sets back by id and verify
  *     once per pair — the minhashCandidates shape, which for the
  *     SELF-join case is right because both wide sides would shuffle.
  * The bipartite case differs: B's join-back re-reads the corpus sketch
  * subplan a second time (narrow but real work: shingle+minhash kernels)
  * and shuffles it by id unless AQE turns the deduped pair set into a
  * broadcast — so A's redundant per-band verifies trade against B's
  * second kernel pass + join. Which wins is an empirical question; this
  * note measures both at x10/x100 and the shipped choice cites it.
  */
object CrossDecontamNote {

  private def variantB(corpus: DataFrame, eval: DataFrame,
                       threshold: Double): DataFrame = {
    val k = 32 * 4
    def sketch(df: DataFrame) =
      df.select(col("doc_id").as("id"),
          T.shingleHashSet(col("text"), 3).as("hs"))
        .withColumn("sig", T.minhashSignature(col("hs"), k))
    val sc = sketch(corpus); val se = sketch(eval)
    val cands = sc
      .select(col("id").as("id_a"),
        explode(T.bandHashes(col("sig"), 32, 4)).as("bh"))
      .join(broadcast(se.select(col("id").as("id_b"),
        explode(T.bandHashes(col("sig"), 32, 4)).as("bh"))), Seq("bh"))
      .select("id_a", "id_b").dropDuplicates()
    cands
      .join(sc.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(broadcast(se.select(col("id").as("id_b"), col("hs").as("hs_b"))),
        Seq("id_b"))
      .withColumn("jaccard", T.jaccard(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
      .appName("graft-cross-decontam-note")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed(f: => Long): (Double, Long) = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime(); val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // second dimension: eval FRACTION. The fixture's %10 slice makes the
    // eval set 10% of the corpus — a stress regime; a real benchmark set
    // is a fixed, tiny fraction (%100 ≈ 1% models it). A's redundant
    // per-band verifies scale with PAIRS (∝ eval size); B's second
    // corpus kernel pass is constant in eval size — so the winner should
    // flip with the fraction, and does.
    val cases = for {
      scale <- Seq("x10", "x100")
      (fracName, modulus) <- Seq("10pct" -> 10, "1pct" -> 100)
    } yield (scale, fracName, modulus)
    val results = cases.map { case (scale, fracName, modulus) =>
      val docs = spark.read
        .parquet(s"target/scale/$scale/documents.parquet")
        .select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val evalSet = docs.filter(col("doc_id") % modulus === 3)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" zzevaltail")).as("text"))
      // warm-up (JIT, file listing) with variant A once, discarded
      Dedup.crossJaccardPairs(corpus, evalSet, "doc_id", "text", 0.8).count()
      val (ta, na) = timed(Dedup.crossJaccardPairs(
        corpus, evalSet, "doc_id", "text", 0.8).count())
      val (tb, nb) = timed(variantB(corpus, evalSet, 0.8).count())
      require(na == nb, s"variants disagree at $scale/$fracName: $na vs $nb")
      println(f"[cross-decontam] $scale%-5s eval=$fracName%-5s pairs=$na%7d" +
        f"  A(verify-at-match)=$ta%7.2fs  B(dedup-then-join)=$tb%7.2fs")
      f"""{"scale":"$scale","eval_frac":"$fracName","pairs":$na,""" +
        f""""verify_at_match_sec":$ta%.2f,"dedup_then_join_sec":$tb%.2f}"""
    }
    Files.createDirectories(Paths.get("bench"))
    Files.writeString(Paths.get("bench/cross_decontam_ab_r8.json"),
      results.mkString("[", ",\n ", "]\n"))
    spark.stop()
  }
}
