package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Streaming-state evidence at bench scale (round-5 verdict task 6):
  * `sbt "Test/runMain graft.StreamStateNote <sfDir> <nBatches> [mode]"`.
  *
  * mode `sessionize` (default): feeds the sf events through
  * sessionizeClosed as chronological micro-batches via MemoryStream and
  * records, per micro-batch, the state-store row count (numRowsTotal),
  * rows emitted, and the distinct-users-so-far bound. The
  * watermark-bounded-state claim (EventStream scaladoc) predicts state
  * plateaus at ≤ the live-user cardinality while input grows without
  * bound; the printed curve is pasted into STREAM_STATE.md.
  *
  * mode `dedup`: feeds every chunk TWICE (planted delivery duplicates)
  * through dedupWithinWatermark on event_id with a 30-min horizon. The
  * claim under measurement: emitted rows track the DISTINCT events
  * (exact dedup) while state-store rows track the watermark horizon —
  * NOT the cumulative distinct-key count a plain dropDuplicates would
  * pin forever.
  */
object StreamStateNote {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = if (args.length > 1) args(1).toInt else 10
    val mode = if (args.length > 2) args(2) else "sessionize"
    val spark = Sessions.local(8)
      .appName("graft-stream-state-note")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val evs = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[EventStream.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[EventStream.Event]
    val plan = mode match {
      case "sessionize" =>
        EventStream.sessionizeClosed(input.toDS(), gapMinutes = 30).toDF()
      case "dedup" =>
        EventStream.dedupWithinWatermark(input.toDS().toDF(),
          Seq("event_id"), watermark = "30 minutes")
      case other => sys.error(s"unknown mode $other (sessionize|dedup)")
    }
    val q = plan.writeStream.format("memory").queryName("state_note")
      .outputMode("append").start()
    try {
      println("| batch | events so far | users so far | state rows | emitted so far |")
      println("|---|---|---|---|---|")
      var fed = 0
      var batch = 0
      val seen = scala.collection.mutable.HashSet[Long]()
      evs.grouped(math.max(1, evs.length / nBatches)).foreach { chunk =>
        // dedup mode plants an exact delivery duplicate of every event
        if (mode == "dedup") input.addData((chunk ++ chunk).toSeq: _*)
        else input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
        fed += chunk.length
        batch += 1
        chunk.foreach(e => seen += e.user_id)
        val state = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        val emitted = spark.table("state_note").count()
        println(s"| $batch | $fed | ${seen.size} | $state | $emitted |")
      }
    } finally q.stop()
    spark.stop()
  }
}
