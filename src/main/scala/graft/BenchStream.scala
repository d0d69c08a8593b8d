package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}

/** Streaming-latency benchmark (round-6 verdict task 7): runs the four
  * streaming workloads — tumbling window (q18), sliding window (q48),
  * flatMapGroupsWithState sessionization (q56), stream-stream interval
  * join (q76) — as REAL rate-limited streams (file source,
  * maxFilesPerTrigger=1 over a time-ordered staged split of the events
  * fixture) and measures per-trigger latency from the progress stream.
  *
  * Methodology: the fixture is staged as `batches` time-sliced parquet
  * files with strictly increasing modification times, so the file source
  * replays event time in order and the watermark advances per trigger —
  * each micro-batch both ingests a slice and EMITS the windows/sessions/
  * joins the advancing watermark finalized. The reported per-trigger
  * `triggerExecution` is therefore the end-to-end watermark-to-emit
  * latency of that batch's finalized results: the time between the data
  * that closes a window arriving and the closed window reaching the sink.
  * Append mode everywhere — the production mode where emitted rows are
  * final (Complete mode would re-emit everything and measure sink volume,
  * not latency).
  *
  * Output: one JSON line per the Bench contract, plus the full document
  * to SPARK_GRAFT_STREAM_OUT (default BENCH_STREAM.json): per query,
  * batch count, total input rows, avg/max/last trigger ms, max state
  * rows, emitted rows, and end-to-end wall seconds.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.BenchStream
  */
object BenchStream {

  private case class QueryStats(batches: Int, inputRows: Long,
                                avgTriggerMs: Double, maxTriggerMs: Long,
                                maxStateRows: Long, emittedRows: Long,
                                wallSec: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val batches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "10").toInt
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- stage: split events into `batches` time-ordered files ----------
    // Tables.events normalizes ts to microsecond TimestampType whichever
    // fixture generation (nanos-long vs micros-NTZ) is on disk, so the
    // staged slices always store a plain TIMESTAMP column.
    val raw = Tables.events(spark, sfDir)
    val stagedDir = Paths.get("target/bench_stream_in")
    // clear BOTH the staged input and the checkpoint roots: staged files
    // keep identical names/mtimes across runs, so a stale checkpoint would
    // resume past them, process zero batches, and emit an all-zero artifact
    Seq(stagedDir, Paths.get("target/bench_stream_ckpt")).foreach { d =>
      if (Files.exists(d))
        Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
    }
    Files.createDirectories(stagedDir)
    val probs = (1 until batches).map(_.toDouble / batches).toArray
    // approxQuantile needs a numeric column; epoch-seconds double is plenty
    // of resolution for slicing a fixture into time-ordered batches
    val bounds = raw.withColumn("ts_d", col("ts").cast("double"))
      .stat.approxQuantile("ts_d", probs, 0.0001)
    val lo = Double.NegativeInfinity +: bounds
    val hi = bounds :+ Double.PositiveInfinity
    (0 until batches).foreach { i =>
      val slice = raw.filter(
        col("ts").cast("double") >= lo(i) && col("ts").cast("double") < hi(i))
      val tmp = s"target/bench_stream_tmp_$i"
      slice.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      val dest = stagedDir.resolve(f"b$i%03d.parquet")
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      // strictly increasing mtimes → FileStreamSource replays in order
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1000000L + i * 1000L))
      Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }

    def readStaged(): DataFrame =
      spark.readStream
        .schema(graft.streaming.EventStream.schemaFor("TIMESTAMP"))
        .option("maxFilesPerTrigger", "1")
        .parquet(stagedDir.toString)

    // ---- the four workloads, Append mode (final rows only) --------------
    import graft.streaming.EventStream
    val workloads: Seq[(String, () => DataFrame)] = Seq(
      "stream_hourly_window" -> (() => EventStream.hourlyStats(readStaged())),
      "stream_sliding_window" -> (() =>
        EventStream.slidingTypeStats(readStaged())),
      "stream_sessionize_closed" -> (() =>
        EventStream.sessionizeClosed(
          readStaged().select($"event_id", $"ts", $"user_id", $"event_type",
            $"value").as[EventStream.Event], 30).toDF()),
      "stream_interval_join" -> (() => {
        val in = readStaged()
        EventStream.recentPairs(
          in.filter(col("event_type") === "click"),
          in.filter(col("event_type") === "error"),
          windowMinutes = 10)
      }))

    def run(name: String, mk: () => DataFrame): QueryStats = {
      val progress = mutable.Buffer.empty[
        org.apache.spark.sql.streaming.StreamingQueryProgress]
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.synchronized { progress += e.progress }
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val t0 = System.nanoTime()
      val q = mk().writeStream.format("noop")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", s"target/bench_stream_ckpt/$name")
        .start()
      q.processAllAvailable()
      q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.streams.removeListener(listener)
      val ps = progress.synchronized { progress.toSeq }
        .filter(_.numInputRows > 0)
      val trig = ps.flatMap(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue()))
      val state = ps.flatMap(_.stateOperators.map(_.numRowsTotal))
      val emitted = ps.flatMap(_.sink.numOutputRows match {
        case n if n >= 0 => Some(n); case _ => None
      }).sum
      QueryStats(ps.size, ps.map(_.numInputRows).sum,
        if (trig.isEmpty) 0.0 else trig.sum.toDouble / trig.size,
        if (trig.isEmpty) 0L else trig.max,
        if (state.isEmpty) 0L else state.max,
        emitted, wall)
    }

    val results = workloads.map { case (n, mk) =>
      val s = run(n, mk)
      println(s"""{"q":"$n","batches":${s.batches},"avg_trigger_ms":${s.avgTriggerMs},"wall_s":${s.wallSec}}""")
      n -> s
    }
    val qjson = results.map { case (n, s) =>
      s""""$n":{"batches":${s.batches},"input_rows":${s.inputRows},""" +
        s""""avg_trigger_ms":${"%.1f".format(s.avgTriggerMs)},""" +
        s""""max_trigger_ms":${s.maxTriggerMs},""" +
        s""""max_state_rows":${s.maxStateRows},""" +
        s""""emitted_rows":${s.emittedRows},""" +
        s""""wall_sec":${"%.2f".format(s.wallSec)}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"stream_total","value":${
      "%.2f".format(results.map(_._2.wallSec).sum)},"unit":"sec","batches":$batches,"queries":$qjson,"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT",
      "BENCH_STREAM.json")
    java.nio.file.Files.writeString(Paths.get(outPath), line + "\n")
    println(line)
    spark.stop()
  }
}
