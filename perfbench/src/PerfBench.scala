package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.math.{MathContext, RoundingMode}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** One benchmark run of one workload, in one JVM.
  *
  * Arguments are `key=value` pairs (see `perfbench/run.py`, which builds
  * them): `queries` (comma list), `fixture` (read-only parquet dir),
  * `seed`, `seconds`, `pass_seconds`, `trace`, `cores`, `digits`
  * (per-query rounding for the content hash), `expected` or `record` (the
  * expected-output file) and `out` (the run record).
  *
  * The run has two phases, both over one private copy of the fixture:
  *  1. set-up: session, then one untimed pass in which every query is
  *     collected and checked against its expected row count and
  *     order-insensitive content hash. The pass also builds the index
  *     artifacts (`cachedBuild`) the timed passes read.
  *  2. timed passes, each in a seeded query order: `seconds` divided by
  *     `pass_seconds`, the workload's nominal pass time. Each query is
  *     timed as construction (`SparkEntry.queries(name)`) plus execution
  *     (a `noop` write).
  *
  * With `trace=1` (at least 3 passes) the set-up pass and every even
  * timed pass run with [[Tracer]] attached; the odd passes after the
  * first give the untraced baseline for the trace overhead.
  *
  * The JVM's working directory receives the artifacts (`target/...`), the
  * fixture copy (`fx/`) and, when traced, `spans.jsonl`.
  */
object PerfBench {

  /** One query execution: construction spans t0..t1, the action t1..t2. */
  final case class Exec(query: String, pass: Int, traced: Boolean,
                        t0: Long, t1: Long, t2: Long, gcMs: Long,
                        error: Option[String]) {
    def id: String = s"$pass/$query"
    def total: Double = (t2 - t0) / 1e9
    def construct: Double = (t1 - t0) / 1e9
    def execute: Double = (t2 - t1) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val queries = a("queries").split(",").toSeq
    val fixture = a("fixture")
    val seed = a("seed").toLong
    // a fixed number of passes for a given `seconds`: a time-boxed loop
    // ran fewer passes on slower runs, and since the JIT is still warming
    // over the first passes, fewer passes also meant slower medians
    val trace = a("trace") == "1"
    // a traced run needs pass 2 traced and pass 3 untraced
    val passes = math.max(if (trace) 3 else 1,
      math.round(a("seconds").toDouble / a("pass_seconds").toDouble).toInt)
    val cores = a("cores").toInt
    val digits: Map[String, Int] = a("digits").split(",").filter(_.nonEmpty)
      .map { d => val Array(q, n) = d.split(":"); q -> n.toInt }.toMap

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tracer = new Tracer
    val dir = copyFixture(fixture, "fx")

    /** Runs `q` once with `action` as the execution span. */
    def run(q: String, pass: Int, traced: Boolean)
           (action: DataFrame => Unit): Exec = {
      spark.catalog.clearCache()
      System.gc()
      val id = s"$pass/$q"
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      var t1 = 0L
      val err = try {
        sc.setJobGroup(s"c/$id", q, interruptOnCancel = false)
        val df = SparkEntry.queries(q)(spark, dir)
        t1 = System.nanoTime()
        sc.setJobGroup(s"x/$id", q, interruptOnCancel = false)
        action(df)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $q failed: ${errMsg(e)}")
        Some(errMsg(e))
      } finally sc.clearJobGroup()
      val t2 = System.nanoTime()
      Exec(q, pass, traced, t0, if (t1 == 0L) t2 else t1, t2,
        gcMillis() - gc0, err)
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def order(pass: Int): Seq[String] =
      new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

    // ---- set-up: the check pass ----
    if (trace) tracer.attach(spark)
    val digests = scala.collection.mutable.Map.empty[String, (Long, String)]
    val checkExecs = order(0).map(q => run(q, 0, trace) { df =>
      digests(q) = digest(df.collect(), digits.getOrElse(q, 10))
    })
    if (trace) tracer.detach(spark)
    val expected: Map[String, (Long, String)] = a.get("expected")
      .map(p => Json.parseExpected(Files.readString(Paths.get(p))))
      .getOrElse(Map.empty)
    val checkFailures: Seq[(String, String)] = checkExecs.flatMap { e =>
      (e.error, digests.get(e.query), expected.get(e.query)) match {
        case (Some(err), _, _) => Some(s"check/${e.query}" -> err)
        case (None, Some((n, h)), Some((en, eh))) if n != en || h != eh =>
          Some(s"check/${e.query}" ->
            s"rows=$n hash=$h, expected rows=$en hash=$eh")
        case (None, _, None) if a.contains("expected") =>
          Some(s"check/${e.query}" -> "no expected value")
        case _ => None
      }
    }
    a.get("record").foreach { p =>
      require(checkExecs.forall(_.error.isEmpty), "a query failed")
      Files.writeString(Paths.get(p), Json.obj(queries.sorted.map { q =>
        val (n, h) = digests(q)
        q -> Json.obj(Seq("rows" -> n.toString, "hash" -> Json.str(h)))
      }) + "\n")
    }
    val afterSetup = treeWalk(new File("target"))

    // ---- timed passes ----
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val firstTimedMs = System.currentTimeMillis()
    heapPools.foreach(_.resetPeakUsage())
    val t00 = System.nanoTime()
    for (pass <- 1 to passes) {
      val traced = trace && pass % 2 == 0
      if (traced) tracer.attach(spark)
      for (q <- order(pass)) execs += run(q, pass, traced)(noop)
      if (traced) tracer.detach(spark)
    }
    val measuredS = (System.nanoTime() - t00) / 1e9
    val afterPasses = treeWalk(new File("target"))

    // ---- end-to-end metrics (untraced executions only) ----
    val ok = execs.filter(_.error.isEmpty).toSeq
    val plain = ok.filterNot(_.traced)
    val samples = plain.map(_.total).sorted
    // the highest percentile with at least 10 samples above it
    val tailPct = Seq(99.0, 95.0, 90.0, 80.0, 75.0)
      .find(p => samples.size * (1 - p / 100) >= 10)
    val failures = checkFailures ++ execs.flatMap(e => e.error.map(e.id -> _))
    val attempted = checkExecs.size + execs.size
    val e2e = Seq(
      "wall_s" -> perQuerySum(plain)(_.total),
      "query_p50_s" -> median(samples),
      "query_tail_s" -> tailPct.map(percentile(samples, _)).getOrElse(0.0),
      "peak_rss_mb" -> peakRssMb(),
      "failed_share" -> failures.size.toDouble / attempted)

    // ---- per-layer metrics (traced executions) ----
    val layers = if (!trace) Seq.empty else {
      tracer.drain()
      val traced = ok.filter(_.traced)
      // pass 1 is left out: it is still warming, and is never traced
      val untracedWall = perQuerySum(plain.filter(_.pass > 1))(_.total)
      val tracedWall = perQuerySum(traced)(_.total)
      val fixtureBytes = treeWalk(new File(fixture))._1.toDouble
      val setupBuild = tracer.layers(checkExecs, cores)
        .toMap.apply("MaintenanceIo.build_s")
      Files.write(Paths.get("spans.jsonl"),
        tracer.spans(checkExecs ++ traced).map(_.json).asJava)
      tracer.layers(traced, cores) ++ Seq(
        "MaintenanceIo.setup_build_s" -> setupBuild,
        "MaintenanceIo.setup_written_mb" -> afterSetup._1 / 1e6,
        "MaintenanceIo.setup_files_written" -> afterSetup._2.toDouble,
        "MaintenanceIo.stored_bytes_ratio" -> afterSetup._1 / fixtureBytes,
        "MaintenanceIo.bytes_written_mb" ->
          (afterPasses._1 - afterSetup._1) / 1e6 / passes,
        "MaintenanceIo.files_written" ->
          (afterPasses._2 - afterSetup._2).toDouble / passes,
        "jvm.gc_s" -> perQuerySum(traced)(_.gcMs / 1e3),
        "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1e6,
        "trace.overhead_share" ->
          (if (untracedWall > 0) tracedWall / untracedWall - 1 else 0.0),
        "trace.span_coverage" -> (if (tracedWall > 0)
          (perQuerySum(traced)(_.construct) +
            perQuerySum(traced)(_.execute)) / tracedWall else 0.0))
    }

    Files.writeString(Paths.get(a("out")), Json.obj(Seq(
      "first_timed_epoch_ms" -> firstTimedMs.toString,
      "measured_s" -> measuredS.toString,
      "passes" -> passes.toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "tail_pct" -> tailPct.map(_.toString).getOrElse("null"),
      "samples" -> samples.size.toString,
      "failures" -> Json.obj(failures.map { case (k, m) => k -> Json.str(m) }),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> v.toString }),
      "per_layer" -> Json.obj(layers.map { case (k, v) => k -> v.toString }),
      "check_s" -> Json.obj(checkExecs.map(e => e.query -> e.total.toString)),
      "query_s" -> Json.obj(queries.map { q =>
        q -> plain.filter(_.query == q).map(_.total).mkString("[", ", ", "]")
      }))) + "\n")
    spark.stop()
  }

  /** One pass's worth of `f`: each query's median, summed over queries. */
  def perQuerySum(xs: Seq[Exec])(f: Exec => Double): Double =
    xs.groupBy(_.query).values.map(v => median(v.map(f))).sum

  // ---- fixture copies and artifact accounting ----

  /** A private copy of the fixture: the program is never handed the
    * read-only original, and the copy's path gives the run its own
    * `cachedBuild` digest directory. */
  def copyFixture(src: String, dest: String): String = {
    val d = new File(dest)
    d.mkdirs()
    for (f <- new File(src).listFiles() if f.isFile)
      Files.copy(f.toPath, new File(d, f.getName).toPath,
        StandardCopyOption.REPLACE_EXISTING)
    d.getAbsolutePath
  }

  /** (bytes, files) under `root`. */
  def treeWalk(root: File): (Long, Long) =
    if (!root.exists()) (0L, 0L)
    else if (root.isFile) (root.length, 1L)
    else Option(root.listFiles()).getOrElse(Array.empty).map(treeWalk)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  // ---- output digest ----

  /** Row count plus an order-insensitive hash: the wrapping sum of each
    * row's 64-bit SHA-256 prefix over a canonical rendering in which
    * floating-point values keep `digits` significant digits. */
  def digest(rows: Array[Row], digits: Int): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    val mc = new MathContext(digits, RoundingMode.HALF_EVEN)
    def dbl(d: Double): String =
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(mc).stripTrailingZeros
        .toString
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => dbl(d)
      case f: Float => dbl(f.toDouble)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case b: scala.math.BigDecimal => canon(b.bigDecimal)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
          .sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case o => o.toString
    }
    var sum = 0L
    for (r <- rows) {
      val h = md.digest(canon(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }

  // ---- small helpers ----

  def errMsg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " + Option(e.getMessage).getOrElse("")
      .linesIterator.find(_.nonEmpty).getOrElse("")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile of sorted `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else xs(math.min(xs.size - 1,
      math.max(0, math.ceil(p / 100 * xs.size).toInt - 1)))

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1e3).getOrElse(0.0)
}

/** Minimal JSON writing and the one parse the benchmark needs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** `fields` values are already JSON. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  /** `{"q": {"rows": n, "hash": "h"}, ...}` as written by `record`. */
  def parseExpected(s: String): Map[String, (Long, String)] =
    """"([^"]+)":\s*\{\s*"rows":\s*(\d+),\s*"hash":\s*"([0-9a-f]+)"\s*\}"""
      .r.findAllMatchIn(s)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
}

/** Listener side of the traced run: job, task and query-execution events,
  * held in memory and attributed to spans afterwards through the job group
  * (`c/<exec id>` construction, `x/<exec id>` execution) and, for the
  * Catalyst phases, through the phase start time. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import PerfBench.{Exec, median}

  final case class Job(id: Int, group: String, start: Long, stages: Seq[Int])
  final case class Task(stage: Int, duration: Long, runMs: Long, cpuNs: Long,
                        schedMs: Long, shuffleW: Long, shuffleR: Long,
                        spill: Long, inBytes: Long, inRows: Long,
                        outBytes: Long, failed: Boolean)
  /** One Catalyst phase of one query execution, times in epoch ms. */
  final case class Phase(name: String, start: Long, end: Long)
  final case class Span(name: String, id: String, parent: String,
                        query: String, start: Long, end: Long,
                        counts: Seq[(String, Double)]) {
    def json: String = Json.obj(Seq(
      "name" -> Json.str(name), "id" -> Json.str(id),
      "parent" -> Json.str(parent), "query" -> Json.str(query),
      "start_ms" -> start.toString, "end_ms" -> end.toString) ++
      counts.map { case (k, v) => k -> v.toString })
  }

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  @volatile private var lastEvent = System.nanoTime()
  /** epoch ms = nanoTime / 1e6 + offsetMs */
  private val offsetMs =
    System.currentTimeMillis() - System.nanoTime() / 1000000L
  private def ms(nanos: Long): Long = nanos / 1000000L + offsetMs

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }
  def detach(s: SparkSession): Unit = {
    drain()
    s.sparkContext.removeSparkListener(this)
    s.listenerManager.unregister(this)
  }
  /** Waits until the asynchronous listener buses have been quiet 300 ms. */
  def drain(): Unit = {
    val limit = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEvent < 300000000L &&
      System.nanoTime() < limit) Thread.sleep(50)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.add(Job(e.jobId, g, e.time, e.stageIds))
    lastEvent = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time)
    lastEvent = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    def m(f: org.apache.spark.executor.TaskMetrics => Long): Long =
      Option(e.taskMetrics).map(f).getOrElse(0L)
    val run = m(_.executorRunTime)
    // the scheduler delay as Spark's UI derives it
    val sched = math.max(0L, i.duration - run - m(_.executorDeserializeTime) -
      m(_.resultSerializationTime) - i.gettingResultTime)
    tasks.add(Task(e.stageId, i.duration, run, m(_.executorCpuTime), sched,
      m(_.shuffleWriteMetrics.bytesWritten),
      m(_.shuffleReadMetrics.totalBytesRead), m(_.diskBytesSpilled),
      m(_.inputMetrics.bytesRead), m(_.inputMetrics.recordsRead),
      m(_.outputMetrics.bytesWritten), !i.successful))
    lastEvent = System.nanoTime()
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    for ((k, p) <- qe.tracker.phases)
      phases.add(Phase(k, p.startTimeMs, p.endTimeMs))
    lastEvent = System.nanoTime()
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    lastEvent = System.nanoTime()

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var sum = 0L
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, end)
      val e = math.min(e0, hi)
      if (e > s) { sum += e - s; end = e }
    }
    sum
  }

  /** Counts of one execution's spans: construction, execution (its jobs,
    * stages, tasks and Catalyst phases) and the whole query. */
  private final case class Counts(construct: Seq[(String, Double)],
                                  execute: Seq[(String, Double)],
                                  query: Seq[(String, Double)]) {
    def apply(k: String): Double =
      (construct ++ execute ++ query).toMap.apply(k)
  }

  private def counts(execs: Seq[Exec]): Seq[(Exec, Counts)] = {
    val js = jobs.asScala.toSeq
    val byGroup = js.groupBy(_.group)
    val jobOfStage = js.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val tasksOfJob = tasks.asScala.toSeq
      .groupBy(t => jobOfStage.getOrElse(t.stage, -1))
    val ph = phases.asScala.toSeq
    execs.map { e =>
      val (t0, t1, t2) = (ms(e.t0), ms(e.t1), ms(e.t2))
      val cJobs = byGroup.getOrElse(s"c/${e.id}", Nil)
      val xJobs = byGroup.getOrElse(s"x/${e.id}", Nil)
      def iv(jj: Seq[Job]) =
        jj.map(j => (j.start, jobEnds.getOrDefault(j.id, t2)))
      def tasksOf(jj: Seq[Job]) = jj.flatMap(j => tasksOfJob.getOrElse(j.id, Nil))
      val xTasks = tasksOf(xJobs)
      val allTasks = tasksOf(cJobs ++ xJobs)
      // phases run during the action; a DataFrame's analysis runs earlier,
      // when it is constructed
      val xPhases = ph.filter(p => p.start >= t1 && p.start <= t2)
      def phaseMs(k: String) =
        xPhases.filter(_.name == k).map(p => p.end - p.start).sum.toDouble
      // worst stage: its slowest task over its median task
      val skew = xTasks.groupBy(_.stage).values.map { st =>
        val d = st.map(_.duration.toDouble)
        if (d.size < 2) 1.0 else d.max / math.max(1.0, median(d))
      }.maxOption.getOrElse(1.0)
      val writers = (cJobs ++ xJobs)
        .filter(j => tasksOfJob.getOrElse(j.id, Nil).exists(_.outBytes > 0))
      e -> Counts(
        construct = Seq(
          "construct_jobs" -> cJobs.size.toDouble,
          "construct_self_ms" ->
            (t1 - t0 - covered(iv(cJobs), t0, t1)).toDouble),
        execute = Seq(
          "jobs" -> xJobs.size.toDouble,
          "stages" -> xTasks.map(_.stage).distinct.size.toDouble,
          "tasks" -> xTasks.size.toDouble,
          "task_run_ms" -> xTasks.map(_.runMs).sum.toDouble,
          "task_cpu_ms" -> xTasks.map(_.cpuNs).sum / 1e6,
          "sched_wait_ms" -> xTasks.map(_.schedMs).sum.toDouble,
          "shuffle_write_bytes" -> xTasks.map(_.shuffleW).sum.toDouble,
          "shuffle_read_bytes" -> xTasks.map(_.shuffleR).sum.toDouble,
          "spill_bytes" -> xTasks.map(_.spill).sum.toDouble,
          "skew_max" -> skew,
          "analysis_ms" -> phaseMs("analysis"),
          "optimization_ms" -> phaseMs("optimization"),
          "planning_ms" -> phaseMs("planning"),
          "exec_self_ms" -> (t2 - t1 - covered(iv(xJobs) ++
            xPhases.map(p => (p.start, p.end)), t1, t2)).toDouble),
        query = Seq(
          "input_bytes" -> allTasks.map(_.inBytes).sum.toDouble,
          "input_rows" -> allTasks.map(_.inRows).sum.toDouble,
          "failed_tasks" -> allTasks.count(_.failed).toDouble,
          "build_ms" -> covered(iv(writers), t0, t2).toDouble))
    }
  }

  /** Three spans per execution, with their counts. */
  def spans(execs: Seq[Exec]): Seq[Span] = counts(execs).flatMap {
    case (e, c) =>
      val (t0, t1, t2) = (ms(e.t0), ms(e.t1), ms(e.t2))
      Seq(
        Span("query", e.id, "", e.query, t0, t2, c.query),
        Span("SparkEntry.construct", s"c/${e.id}", e.id, e.query, t0, t1,
          c.construct),
        Span("operators.execute", s"x/${e.id}", e.id, e.query, t1, t2,
          c.execute))
  }

  /** Per-layer metrics for one pass: each query's mean over `execs`,
    * summed over queries (`skew_max`: the worst query's median). */
  def layers(execs: Seq[Exec], cores: Int): Seq[(String, Double)] = {
    val byQuery = counts(execs).groupBy(_._1.query).values.toSeq
    def sum(k: String, scale: Double = 1.0): Double =
      byQuery.map(v => v.map(_._2(k)).sum / v.size).sum * scale
    def sumExec(f: Exec => Double): Double =
      byQuery.map(v => v.map(x => f(x._1)).sum / v.size).sum
    val execS = sumExec(_.execute)
    val runS = sum("task_run_ms", 1e-3)
    Seq(
      "SparkEntry.construct_s" -> sumExec(_.construct),
      "SparkEntry.construct_jobs" -> sum("construct_jobs"),
      "SparkEntry.construct_self_s" -> sum("construct_self_ms", 1e-3),
      "plans.analysis_s" -> sum("analysis_ms", 1e-3),
      "plans.optimization_s" -> sum("optimization_ms", 1e-3),
      "plans.planning_s" -> sum("planning_ms", 1e-3),
      "operators.exec_s" -> execS,
      "operators.exec_self_s" -> sum("exec_self_ms", 1e-3),
      "operators.task_run_s" -> runS,
      "operators.task_cpu_s" -> sum("task_cpu_ms", 1e-3),
      "operators.shuffle_write_mb" -> sum("shuffle_write_bytes", 1e-6),
      "operators.shuffle_read_mb" -> sum("shuffle_read_bytes", 1e-6),
      "operators.spill_mb" -> sum("spill_bytes", 1e-6),
      "operators.core_busy" -> (if (execS > 0) runS / (execS * cores) else 0.0),
      "operators.skew_max" -> byQuery.map(v => median(v.map(_._2("skew_max"))))
        .maxOption.getOrElse(1.0),
      "operators.jobs" -> sum("jobs"),
      "operators.stages" -> sum("stages"),
      "operators.tasks" -> sum("tasks"),
      "operators.sched_wait_s" -> sum("sched_wait_ms", 1e-3),
      "operators.failed_tasks" -> sum("failed_tasks"),
      "Tables.input_mb" -> sum("input_bytes", 1e-6),
      "Tables.input_rows" -> sum("input_rows"),
      "MaintenanceIo.build_s" -> sum("build_ms", 1e-3))
  }
}
