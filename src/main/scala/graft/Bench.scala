package graft

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Methodology: each query is executed through the `noop` sink so the FULL
  * physical plan runs (a count() would let Spark skip projections); one
  * warm-up query absorbs session/codegen/JIT startup so per-query numbers
  * measure the engine, not the JVM. Between queries the cache is cleared
  * and a GC is requested so heap debt from earlier queries (the ML fits
  * allocate heavily) is not billed to whichever query runs next — without
  * this, late queries measure collector catch-up, not their plans.
  *
  * SPARK_GRAFT_BENCH_QUERIES (comma-separated names) restricts the run for
  * isolation experiments. The JSON carries `excluded`: benchQueries leaves
  * out the model-selection workloads (CV grid, ALS+KMeans chain) by
  * design — the total is NOT all-50 coverage.
  *
  * SPARK_GRAFT_BENCH_REPEAT=N (default 1) runs the whole suite N times in
  * suite order and reports per-query MEDIAN (in `queries`, and summed into
  * `value`) plus per-query MIN (`queries_min`) — the round-8/9 verdicts'
  * median-of-3 ask, so a one-off GC/JIT stall can't masquerade as a
  * regression. A query that throws is LOUD: its per-query line and the
  * summary's `errors` map carry the exception class + first message line,
  * and `failed` counts queries with no successful pass — a broken query
  * can never pass as a fast one (-1.0 excluded from totals either way).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "1").toInt
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JSON escape: backslash, quote, and ALL control chars <0x20 — a tab
    // or CR inside a Spark analysis message must not make the artifact
    // unparseable (round-10 advice)
    def esc(s: String): String = s.flatMap {
      case '\\'             => "\\\\"
      case '"'              => "\\\""
      case '\n'             => "\\n"
      case '\r'             => "\\r"
      case '\t'             => "\\t"
      case c if c < ' '     => f"\\u${c.toInt}%04x"
      case c                => c.toString
    }

    // Result-row counts (round-14 verdict #7: a fixture/plan change that
    // shrinks a pair-volume-bound result like q133's ~29M pairs must not
    // masquerade as a speedup) come from a SEPARATE untimed count() sweep
    // after the timed passes — NOT from Dataset.observe riding the timed
    // write. Two measured reasons (both reproduced on Spark 4.1.2, see
    // bench/iso_{flagged,noobs}_r16.json):
    //  1. the CollectMetrics wrapper adds 0.3-1.0 s to small multi-branch
    //     plans (union/except/multi-join: q09 0.50→1.44 s isolated),
    //     destroying round-over-round comparability of sub-second rows;
    //  2. the first observe() in a session initializes SparkSession's
    //     lazily-built, NON-SERIALIZABLE observationManager field, after
    //     which any plan serializing a session reference (ML models with
    //     training summaries) dies with "Task not serializable" — a
    //     session-wide poison, not a per-query failure.
    // The sweep re-executes each query once per suite (counts are
    // repeat-invariant); SPARK_GRAFT_BENCH_ROWS=0 skips it for pure
    // timing isolation runs.
    def errMsg(e: Throwable): String =
      s"${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").linesIterator
          .find(_.nonEmpty).getOrElse("")
    def run(name: String): (Double, Option[String]) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, None)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${errMsg(e)}")
        (-1.0, Some(errMsg(e)))
      }
    }
    val sweepRows =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "1") == "1"
    // A failed count is LOUD (stderr + per-query line + summary
    // `row_errors`): rows:-1 from a thrown count must stay distinguishable
    // from the SPARK_GRAFT_BENCH_ROWS=0 skip sentinel, or a row-count
    // regression could hide behind an unlogged failure.
    def countRows(name: String): (Long, Option[String]) = {
      if (!sweepRows) return (-1L, None)
      spark.catalog.clearCache()
      try (SparkEntry.queries(name)(spark, sfDir).count(), None)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name row sweep failed: ${errMsg(e)}")
        (-1L, Some(errMsg(e)))
      }
    }

    // warm-up: small full-pipeline pass (scan+shuffle+codegen), untimed.
    // Failure is non-fatal: a broken warm-up query must surface as ITS
    // timed row's error, not kill the whole artifact before the loop.
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }

    val selected = sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some(list) => SparkEntry.benchQueries.filter(
        list.split(",").map(_.trim).toSet)
      case None => SparkEntry.benchQueries
    }
    val excluded = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(SparkEntry.benchQueries.toSet)
    // Model-selection workloads (CV grid, ALS+KMeans chain) stay OUT of the
    // total — their fit cost swings ±15-35% run-to-run — but their times are
    // still emitted so a CV-path regression is visible between rounds.
    // Skipped when SPARK_GRAFT_BENCH_QUERIES restricts the run (isolation
    // experiments shouldn't pay the grid-fit cost).
    val msNames =
      if (sys.env.contains("SPARK_GRAFT_BENCH_QUERIES")) Seq.empty
      else excluded.filter(SparkEntry.queries.contains)

    // one compact line per query AS IT COMPLETES: tail-truncation of the
    // final summary line can never eat per-query numbers again
    def pass(p: Int, names: Seq[String])
        : Seq[(String, (Double, Option[String]))] =
      names.map { n =>
        val r @ (t, err) = run(n)
        val errJson = err.map(e => s""","err":"${esc(e)}"""").getOrElse("")
        println(s"""{"q":"$n","pass":$p,"s":$t$errJson}""")
        n -> r
      }
    val passes = (1 to repeat).map(p => pass(p, selected) ++ pass(p, msNames))
    // the untimed row sweep, after ALL timed passes (counts are
    // repeat-invariant — see the countRows scaladoc)
    val rowSweep = (selected ++ msNames).map { n =>
      val (r, err) = countRows(n)
      if (sweepRows) {
        val errJson = err.map(e => s""","err":"${esc(e)}"""").getOrElse("")
        println(s"""{"q":"$n","rows":$r$errJson}""")
      }
      n -> (r, err)
    }
    val rowsByName = rowSweep.map { case (n, (r, _)) => n -> r }.toMap

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    case class Agg(med: Double, min: Double, rows: Long, err: Option[String])
    def agg(name: String): Agg = {
      val rs = passes.flatMap(_.collect { case (`name`, r) => r })
      val ok = rs.map(_._1).filter(_ >= 0)
      val rows = rowsByName.getOrElse(name, -1L)
      val err = rs.flatMap(_._2).headOption
      if (ok.isEmpty) Agg(-1.0, -1.0, rows, err)
      else Agg(median(ok), ok.min, rows, err)
    }
    val results = selected.map(n => n -> agg(n))
    val msResults = msNames.map(n => n -> agg(n))

    def jsonMap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val all = results ++ msResults
    val qs = jsonMap(results.map { case (k, a) => k -> a.med })
    val qmin = jsonMap(results.map { case (k, a) => k -> a.min })
    val ms = jsonMap(msResults.map { case (k, a) => k -> a.med })
    val rowsJson = all.map { case (k, a) => "\"" + k + "\":" + a.rows }
      .mkString("{", ",", "}")
    val ex = excluded.map("\"" + _ + "\"").mkString("[", ",", "]")
    val errs = all.collect { case (k, Agg(_, _, _, Some(e))) =>
      "\"" + k + "\":\"" + esc(e) + "\"" }.mkString("{", ",", "}")
    val rowErrs = rowSweep.collect { case (k, (_, Some(e))) =>
      "\"" + k + "\":\"" + esc(e) + "\"" }.mkString("{", ",", "}")
    val failed = all.count(_._2.med < 0)
    val total = results.map(_._2.med).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","repeat":$repeat,"failed":$failed,"errors":$errs,"row_errors":$rowErrs,"queries":$qs,"queries_min":$qmin,"rows":$rowsJson,"model_selection":$ms,"excluded":$ex,"sf":"$sfDir"}"""
    // full JSON also goes to a FILE (driver stdout capture truncates the
    // one giant line to a tail — BENCH_r0N.json came back `parsed: null`
    // five rounds running); jq-diffable across rounds
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench/bench_latest.json")
    val outFile = new java.io.File(outPath)
    Option(outFile.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(outFile.toPath, line + "\n")
    println(line)
    spark.stop()
  }
}
