package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.functions.{AggFunctions, TextFunctions}

/** Measured proof of q82's scale claim: the Misra-Gries pass-1 shuffle is
  * ≤ partitions × 1 summary rows (each ≤ k entries) REGARDLESS of
  * vocabulary size, while a plain GROUP BY's map-side partials grow with
  * the per-partition distinct-token count — the thing that explodes on a
  * web-scale corpus. `sbt "Test/runMain graft.HeavyHittersShuffleNote"`
  * writes bench/heavy_hitters_shuffle_r8.json.
  *
  * Method: a SparkListener sums shuffleWrite records/bytes across the
  * whole job for (a) the MG candidate pass (one aggregate job: count +
  * k=2048-counter summary) and (b) the exact GROUP BY + HAVING the oracle
  * runs, on the x1/x10/x100 scaled documents tables. The scaled corpus
  * token-suffixes every copy, so vocabulary grows ~linearly with scale —
  * exactly the regime the sketch exists for.
  */
object HeavyHittersShuffleNote {

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
      .appName("graft-heavy-hitters-shuffle-note")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var rec = 0L
    @volatile var bytes = 0L
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          rec += e.taskMetrics.shuffleWriteMetrics.recordsWritten
          bytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
    }
    spark.sparkContext.addSparkListener(listener)
    def measured(f: => Unit): (Long, Long) = {
      rec = 0L; bytes = 0L
      f
      Thread.sleep(2000) // let the listener bus drain
      (rec, bytes)
    }

    val rows = Seq("x1", "x10", "x100").map { scale =>
      val toks = spark.read
        .parquet(s"target/scale/$scale/documents.parquet")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      val vocab = toks.distinct().count()
      val n = toks.count()
      val (mgRec, mgBytes) = measured {
        toks.agg(count(lit(1)).as("n"),
            AggFunctions.frequentCandidates(col("tok"), 2048).as("cand"))
          .head()
      }
      val (gbRec, gbBytes) = measured {
        toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= lit(math.max(1L, n / 1000L)))
          .write.format("noop").mode("overwrite").save()
      }
      println(f"[hh-shuffle] $scale%-5s vocab=$vocab%9d  " +
        f"mg: $mgRec%6d rows/${mgBytes / 1024}%8d KiB   " +
        f"groupBy: $gbRec%9d rows/${gbBytes / 1024}%8d KiB")
      f"""{"scale":"$scale","vocab":$vocab,"tokens":$n,""" +
        f""""mg_shuffle_rows":$mgRec,"mg_shuffle_bytes":$mgBytes,""" +
        f""""groupby_shuffle_rows":$gbRec,"groupby_shuffle_bytes":$gbBytes}"""
    }
    Files.createDirectories(Paths.get("bench"))
    Files.writeString(Paths.get("bench/heavy_hitters_shuffle_r8.json"),
      rows.mkString("[", ",\n ", "]\n"))
    spark.stop()
  }
}
