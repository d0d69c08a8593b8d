package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Tables.parquet's schema memo: a repeated read of an unchanged file
  * launches no inference job, and the memo is never stale — a replaced
  * file or a changed Parquet-mapping conf infers again.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Job-group ids of every job started, in listener-bus order. */
  private lazy val jobGroups = {
    val q = new ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        q.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    })
    q
  }

  /** Spark jobs `body` launches. The listener bus is asynchronous, so a
    * sentinel job runs after `body`; once the listener has seen it, every
    * job `body` started has been delivered too.
    */
  private def jobsLaunchedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    jobGroups // register before the body runs
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(sentinel, sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!jobGroups.contains(sentinel) && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(jobGroups.contains(sentinel), "listener never saw the sentinel")
    (out, jobGroups.asScala.count(_ == group))
  }

  /** Writes `df` as ONE parquet file at `dest` (the fixture layout),
    * replacing any file already there.
    */
  private def writeSingleFile(df: DataFrame, dest: Path): Unit = {
    val tmp = Files.createTempDirectory("tables_spec_part")
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = Files.list(Paths.get(s"$tmp/out"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load of an unchanged file launches no Spark job and " +
      "returns an equal schema") {
    val dir = Files.createTempDirectory("tables_spec_load")
    writeSingleFile(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      dir.resolve("t.parquet"))
    val (first, firstJobs) = jobsLaunchedBy(Tables.load(spark, s"$dir", "t"))
    // the counter sees inference jobs: the cold load pays exactly that
    assert(firstJobs >= 1, s"cold load launched $firstJobs jobs")
    val (second, secondJobs) = jobsLaunchedBy(Tables.load(spark, s"$dir", "t"))
    assert(secondJobs == 0, s"warm load launched $secondJobs jobs")
    assert(second.schema == first.schema)
    assert(second.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a file replaced by one with an extra column is inferred again") {
    val dir = Files.createTempDirectory("tables_spec_replace")
    val dest = dir.resolve("t.parquet")
    writeSingleFile(Seq((1L, "a")).toDF("id", "s"), dest)
    assert(Tables.load(spark, s"$dir", "t").columns.toSeq == Seq("id", "s"))
    writeSingleFile(Seq((7L, "x", 3.5)).toDF("id", "s", "extra"), dest)
    val again = Tables.load(spark, s"$dir", "t")
    assert(again.columns.toSeq == Seq("id", "s", "extra"))
    assert(again.as[(Long, String, Double)].collect().toSeq ==
      Seq((7L, "x", 3.5)))
  }

  test("a self-join of two Tables.orders loads resolves and returns the " +
      "plain read's rows") {
    val a = Tables.orders(spark, sf0001)
    val b = Tables.orders(spark, sf0001).filter(col("o_orderstatus") === "F")
    val got = a.join(b, a("o_orderkey") === b("o_orderkey"))
      .select(a("o_orderkey"), b("o_totalprice"))
    val raw = spark.read.parquet(s"$sf0001/orders.parquet")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"))
    val want = raw.collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty)
    assert(got.collect().map(_.toString).sorted.toSeq == want)
  }

  test("the events nanos case stays green after the memo was warmed " +
      "under a different Parquet-mapping conf") {
    // a real TIMESTAMP(NANOS) column: Spark maps it only under
    // spark.sql.legacy.parquet.nanosAsLong, so the conf decides the schema
    val dir = Files.createTempDirectory("tables_spec_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new HPath(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val baseNs = 1704067200L * 1000000000L
    val rows = new SimpleGroupFactory(schema)
    try Seq((1L, baseNs + 1500L), (2L, baseNs + 60L * 1000000000L + 999L))
      .foreach { case (id, ts) =>
        w.write(rows.newGroup().append("event_id", id).append("ts", ts))
      }
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    def shimmedMicros(): Seq[Long] = {
      val ev = Tables.events(spark, s"$dir")
      assert(ev.schema("ts").dataType === TimestampType)
      ev.orderBy("event_id").select(unix_micros(col("ts"))).as[Long]
        .collect().toSeq
    }
    val want = Seq(1704067200L * 1000000L + 1,
      1704067200L * 1000000L + 60000000L)
    try {
      spark.conf.set(key, "true")
      assert(Tables.load(spark, s"$dir", "events").schema("ts").dataType
        === LongType)
      assert(shimmedMicros() === want)
      // the warmed LongType schema must not be served without the conf:
      // the scan fails loudly, as it would with no memo at all
      spark.conf.set(key, "false")
      intercept[Exception](Tables.events(spark, s"$dir").collect())
      spark.conf.set(key, "true")
      assert(shimmedMicros() === want)
    } finally spark.conf.set(key, before)
  }
}
