package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.LayoutFunctions

/** Reproducible evidence for the q85 claim that a z-ordered layout prunes
  * 2-D box predicates where a single-column sort cannot:
  * `sbt "Test/runMain graft.ZOrderScanNote"`.
  *
  * Writes lineitem (sf0.1, keys scattered over the 31-bit domain exactly
  * as q85 does) twice — range-partitioned + sorted by X ONLY, and by the
  * Morton key Z — one row group per file, then runs the same x AND y box
  * predicates over both and reads the scan's own metrics (numOutputRows =
  * rows surviving parquet row-group min/max skipping; numFiles is listing,
  * not IO). The x-sort prunes to the x-selectivity and reads EVERY y; the
  * z-sort's files cover aligned (x, y) rectangles (LayoutSpec's tile law),
  * so surviving rows track the AREA of the box. At 100 TB the same ratio
  * is the difference between scanning a stripe of the table and scanning
  * only the predicate's neighborhood.
  */
object ZOrderScanNote {
  private val src = "/root/testdata/sf0.1"
  // 256 files ≈ 2.3k rows each: granularity matters — the x-sort's cost is
  // a fixed STRIPE of the table however fine the files, while the z-sort's
  // shrinks with file size toward the box area (a 100 TB table has far
  // finer granularity still)
  private val files = 256

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
      .appName("graft-zorder-scan-note")
      // AQE re-plans hide the scan node's metrics behind adaptive wrappers;
      // this note reads metrics straight off the executed leaves
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def scatter(c: org.apache.spark.sql.Column, a: Long) =
      pmod(pmod(c, lit(2147483648L)) * lit(a), lit(2147483648L))
    val keyed = Tables.lineitem(spark, src).select(
        scatter(col("l_orderkey"), 2654435761L).as("x"),
        scatter(col("l_partkey"), 2246822519L).as("y"),
        col("l_extendedprice"))

    val linearDir = "target/tmp/zorder_note/linear"
    val zorderDir = "target/tmp/zorder_note/zorder"
    keyed.repartitionByRange(files, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(linearDir)
    graft.sources.Sources.writeZOrdered(keyed, "x", "y", zorderDir, files)

    // box predicates: 1/8 of each dimension => 1/64 of the area. Three
    // disjoint boxes so neither layout gets a lucky corner.
    val w = (1L << 31) / 8
    val boxes = Seq(0L, 3L, 6L).map(i => (i * w, (i + 1) * w - 1))

    def measure(dir: String, bx: (Long, Long), by: (Long, Long)):
        (Long, Long, Double) = {
      val df = spark.read.parquet(dir)
        .filter(col("x").between(bx._1, bx._2) &&
                col("y").between(by._1, by._2))
      // execute THIS plan (df.count() would plan its own aggregate and
      // leave these nodes' metrics untouched), then read the scan metric
      val qe = df.queryExecution
      val t0 = System.nanoTime()
      val kept = qe.executedPlan.execute().count()
      val secs = (System.nanoTime() - t0) / 1e9
      val scan = qe.executedPlan.collectLeaves().head
      (scan.metrics("numOutputRows").value, kept, secs)
    }

    // warm both layouts (file listing, codegen)
    measure(linearDir, boxes.head, boxes.head)
    measure(zorderDir, boxes.head, boxes.head)
    val total = spark.read.parquet(linearDir).count()
    boxes.zip(boxes.reverse).foreach { case (bx, by) =>
      val (lRead, lKept, lSec) = measure(linearDir, bx, by)
      val (zRead, zKept, zSec) = measure(zorderDir, bx, by)
      require(lKept == zKept, s"layouts disagree: $lKept vs $zKept")
      println(f"[zorder-scan] box x=[${bx._1},${bx._2}] y=[${by._1},${by._2}]" +
        f" kept=$lKept of $total | rows read: x-sort=$lRead z-order=$zRead" +
        f" (${lRead.toDouble / zRead.max(1L)}%.1fx fewer) |" +
        f" time: x-sort=$lSec%.3fs z-order=$zSec%.3fs")
    }
    spark.stop()
  }
}
