package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Scale measurement for the binned range join (q129) with the
  * generator artifact removed: ScaleUpGen repeats o_totalprice /
  * l_extendedprice VERBATIM across copies, so a price-containment join
  * over the raw x-N fixture matches every point against every copy's
  * intervals — pair count ×N², a fixture artifact exactly like the
  * near-dup cliques the generator's per-copy token suffix exists to
  * prevent. This note applies the price-sensitive analog at read time:
  * copy i (= key div 10⁹) offsets both sides' prices by i·10⁶ (far past
  * the ~5·10⁵ base price range), so matches are intra-copy only and
  * TRUE work scales linearly — the production regime, where interval
  * tables don't contain N duplicate copies of every band.
  *
  * Also measures the raw verbatim-copy fixture once at x10 (the ×N²
  * hazard row): the binned join survives it — output pairs explode
  * because they EXIST, not because the plan nested-loops.
  *
  * `sbt "Test/runMain graft.RangeJoinScaleNote"` →
  * bench/rangejoin_scale_r13.json.
  */
object RangeJoinScaleNote {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
      .appName("graft-rangejoin-note")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val shift = 1000000000L

    def queryPairs(dir: String, decopy: Boolean): Long = {
      val liRaw = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity"))
      val oRaw = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      // the copy offset TRANSLATES intervals and points equally (bands
      // derive from the BASE price, then shift): overlap semantics and
      // interval widths are exactly the base fixture's — offsetting the
      // price BEFORE the ±0.1 % band would inflate band widths ~200×
      // at copy 99 and manufacture a bins-per-interval explosion the
      // production regime doesn't have
      val off = lit(1000000.0)
      val liOff =
        if (decopy) (col("l_orderkey") / shift).cast("long") * off
        else lit(0.0)
      val oOff =
        if (decopy) (col("o_orderkey") / shift).cast("long") * off
        else lit(0.0)
      val li = liRaw.withColumn("p", col("l_extendedprice") + liOff)
      val bands = oRaw.select(
        (col("o_totalprice") * lit(0.999) + oOff).as("band_lo"),
        (col("o_totalprice") * lit(1.001) + oOff).as("band_hi"))
      Relational.binnedRangeJoin(
          li.select(col("p"), col("l_quantity")), bands,
          "p", "band_lo", "band_hi", binWidth = 250.0)
        .agg(count(lit(1))).head().getLong(0)
    }

    // the q133 kernel under the same de-copy translation: lineitem
    // ±0.05 % bands OVERLAP order ±0.1 % bands, owned-bin dedup
    def overlapPairs(dir: String, decopy: Boolean): Long = {
      val liRaw = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
      val oRaw = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
      val off = lit(1000000.0)
      val liOff =
        if (decopy) (col("l_orderkey") / shift).cast("long") * off
        else lit(0.0)
      val oOff =
        if (decopy) (col("o_orderkey") / shift).cast("long") * off
        else lit(0.0)
      val li = liRaw.select(
        (col("l_extendedprice") * lit(0.9995) + liOff).as("li_lo"),
        (col("l_extendedprice") * lit(1.0005) + liOff).as("li_hi"))
      val bands = oRaw.select(
        (col("o_totalprice") * lit(0.999) + oOff).as("band_lo"),
        (col("o_totalprice") * lit(1.001) + oOff).as("band_hi"))
      Relational.binnedIntervalJoin(li, bands,
          "li_lo", "li_hi", "band_lo", "band_hi", binWidth = 250.0)
        .agg(count(lit(1))).head().getLong(0)
    }

    def timed(dir: String, decopy: Boolean,
              f: (String, Boolean) => Long = queryPairs): (Double, Long) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val n = f(dir, decopy)
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // warm-up on the base fixture
    timed("/root/testdata/sf0.1", decopy = false)
    def med3(dir: String, decopy: Boolean,
             f: (String, Boolean) => Long = queryPairs): (Double, Long) = {
      val runs = (1 to 3).map(_ => timed(dir, decopy, f))
      (runs.map(_._1).sorted.apply(1), runs.head._2)
    }
    val (x1s, x1n) = med3("/root/testdata/sf0.1", decopy = false)
    val (x10s, x10n) = med3("target/scale/x10", decopy = true)
    val (x100s, x100n) = med3("target/scale/x100", decopy = true)
    // the hazard row: verbatim copies, pairs *= factor^2 (one pass, not
    // median — the point is survival + throughput, not a headline)
    val (rawS, rawN) = timed("target/scale/x10", decopy = false)
    // the interval-overlap (q133) kernel, same regimes
    val (ov1s, ov1n) = med3("/root/testdata/sf0.1", decopy = false,
      overlapPairs)
    val (ov10s, ov10n) = med3("target/scale/x10", decopy = true,
      overlapPairs)
    val (ov100s, ov100n) = med3("target/scale/x100", decopy = true,
      overlapPairs)

    val json = s"""{"metric":"rangejoin_scale","unit":"sec","binWidth":250.0,""" +
      s""""x1":{"sec":$x1s,"pairs":$x1n},""" +
      s""""x10":{"sec":$x10s,"pairs":$x10n},""" +
      s""""x100":{"sec":$x100s,"pairs":$x100n},""" +
      s""""x10_verbatim_copies":{"sec":$rawS,"pairs":$rawN},""" +
      s""""overlap_x1":{"sec":$ov1s,"pairs":$ov1n},""" +
      s""""overlap_x10":{"sec":$ov10s,"pairs":$ov10n},""" +
      s""""overlap_x100":{"sec":$ov100s,"pairs":$ov100n}}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench/rangejoin_scale_r13.json"), json + "\n")
    spark.stop()
  }
}
