package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Sort, Window => WindowNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Regression gate for the oracle determinism rules (SparkEntry scaladoc):
  * every oracle-checkable query must (a) end in a GLOBAL Sort — the total
  * ORDER BY the hash-compare depends on — unless it can produce at most one
  * row, and (b) contain no Sum/Average over raw floating-point input, whose
  * result depends on partition order and silently reopens hash-flakiness.
  * One carelessly-written new query previously could only be caught by a
  * flaky red several rounds later; this spec catches it at `sbt test` time.
  *
  * Scope is exactly `SparkEntry.oracleSql.keySet`: golden-pinned ML/split
  * queries are checked by GoldenSpec against stored outputs instead (their
  * determinism argument is seeded fits + rounding, not hash-stable plans).
  */
class DeterminismLintSpec extends SparkSpec {

  private def lint(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.analyzed
    val errs = Seq.newBuilder[String]
    // a Limit above a global Sort stays deterministic (the sort's
    // tiebreaks pin which rows survive the cut) — unwrap it
    def stripLimit(p: LogicalPlan): LogicalPlan = p match {
      case l: GlobalLimit => stripLimit(l.child)
      case l: LocalLimit => stripLimit(l.child)
      case other => other
    }
    val sortOk = stripLimit(plan) match {
      case s: Sort => s.global
      case p => p.maxRows.exists(_ <= 1L)
    }
    if (!sortOk)
      errs += "no global Sort at the plan root (result order unpinned)"
    def checkAggs(exprs: Seq[Expression], where: String): Unit =
      exprs.foreach(_.foreach {
        case ae: AggregateExpression =>
          ae.aggregateFunction match {
            case f @ (_: Sum | _: Average)
                if f.children.exists(c =>
                  c.dataType == DoubleType || c.dataType == FloatType) =>
              errs += s"order-dependent float ${f.prettyName} in $where " +
                s"(decimal-cast the input): ${ae.sql}"
            case _ => ()
          }
        case _ => ()
      })
    plan.foreach {
      case a: Aggregate => checkAggs(a.aggregateExpressions, "Aggregate")
      case w: WindowNode => checkAggs(w.windowExpressions, "Window")
      case _ => ()
    }
    errs.result()
  }

  test("every oracle-checkable query obeys the determinism rules") {
    val failures = SparkEntry.oracleSql.keys.toSeq.sorted.flatMap { name =>
      val errs = lint(SparkEntry.queries(name)(spark, sf0001))
      errs.map(e => s"$name: $e")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("the lint actually fires on a deliberately-broken query") {
    val broken = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("s"), avg(col("l_discount")).as("a"))
    val errs = lint(broken)
    assert(errs.exists(_.contains("no global Sort")), errs.toString)
    assert(errs.count(_.contains("order-dependent float")) == 2,
      errs.toString)
    // and the fixed form passes
    val fixed = Tables.lineitem(spark, sf0001)
      .groupBy("l_returnflag")
      .agg(operators.Relational.decSum(col("l_quantity")).as("s"))
      .orderBy("l_returnflag")
    assert(lint(fixed).isEmpty, lint(fixed).toString)
  }

  /** Matches of `pattern` (which may span lines) in the given
    * `(file, source)` pairs, as `file:line`.
    */
  private def sourceHits(pattern: scala.util.matching.Regex,
                         srcs: Seq[(String, String)]): Seq[String] =
    srcs.flatMap { case (file, src) =>
      pattern.findAllMatchIn(src).map { m =>
        s"$file:${src.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }

  private def readSources(files: Seq[java.nio.file.Path]): Seq[(String, String)] =
    files.filter(_.toString.endsWith(".scala")).sorted
      .map(f => f.toString -> java.nio.file.Files.readString(f))

  /** Direct parquet reads. The engine's batch parquet reads go through
    * Tables.parquet, the one reader that memoizes schema inference; a
    * bare read brings back one inference job per call.
    */
  private val directParquetRead = """\.read\s*\.parquet\(""".r

  test("operators and SparkEntry read parquet only through Tables") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val srcs = readSources(java.nio.file.Files.list(root.resolve("operators"))
      .iterator().asScala.toSeq :+ root.resolve("SparkEntry.scala"))
    assert(srcs.size > 10, srcs.map(_._1).toString)
    val hits = sourceHits(directParquetRead, srcs)
    assert(hits.isEmpty, "direct .read.parquet( outside Tables — use " +
      s"Tables.parquet: ${hits.mkString(", ")}")
  }

  test("the parquet-read lint fires on a deliberately-planted read") {
    val planted = Seq("Planted.scala" ->
      """val a = Tables.parquet(spark, p)
        |val b = spark.read.parquet(p)
        |val c = sp.read
        |  .parquet(q)
        |""".stripMargin)
    assert(sourceHits(directParquetRead, planted) == Seq("Planted.scala:2",
      "Planted.scala:3"))
  }

  /** Session builders. Every session starts from Sessions.local, so the
    * settings all of them share (UTC, nanosAsLong, AQE, partitions = cores)
    * cannot drift between copies.
    */
  private val sessionBuilder = """SparkSession\s*\.\s*builder\b""".r

  test("only graft.Sessions builds a SparkSession") {
    import scala.jdk.CollectionConverters._
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try walk.iterator().asScala.toList finally walk.close()
    }.filterNot(_ == java.nio.file.Paths.get("src/main/scala/graft/Sessions.scala"))
    val srcs = readSources(files)
    assert(srcs.size > 50, srcs.map(_._1).toString)
    val hits = sourceHits(sessionBuilder, srcs)
    assert(hits.isEmpty, "SparkSession builder outside graft.Sessions — " +
      s"start from Sessions.local: ${hits.mkString(", ")}")
  }

  test("the session-builder lint fires on a deliberately-planted builder") {
    // the planted builders are split across string literals so that this
    // file's own source stays clear of the scan above
    val planted = Seq("Planted.scala" -> (
      "val a = Sessions.local(4).getOrCreate()\n" +
      "val b = SparkSession" + ".builder().getOrCreate()\n" +
      "val c = SparkSession\n" + "  .builder\n"))
    assert(sourceHits(sessionBuilder, planted) == Seq("Planted.scala:2",
      "Planted.scala:3"))
  }

  test("no serving query runs an in-line corpus-linear recall audit " +
      "(round-17 verdict #1: certificates, not per-query brute force)") {
    // The production-probe rows (q164/q169/q173) must enforce their
    // recall floors by READING the persisted certificate, never by
    // re-running ivfRecallAtK / an exhaustive-decisions pass inside the
    // serving query. Source-level pin: the query layer may not reference
    // the audit primitive at all — it lives in the mutation/certification
    // layer (Similarity.certifyIvfIndex, Dedup.certifyDecisionRecall)
    // and in specs.
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala"))
    assert(!src.contains("ivfRecallAtK"),
      "SparkEntry references ivfRecallAtK — a serving query regressed " +
        "to the in-line corpus-linear audit; read the stored recall " +
        "certificate instead (requireCertifiedRecall)")
  }
}
