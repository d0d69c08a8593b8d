package graft

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Loaders for the driver-generated parquet fixtures (see TESTDATA.md /
  * FIXTURES.md §B). All engine queries read these; the DuckDB oracle reads
  * the same files, so loaders do nothing but scan — no casts, no renames —
  * letting Catalyst push filters/projections into the parquet scan.
  *
  * The engine's batch parquet reads (fixtures, index artifacts,
  * query-built side tables, the stream schema probe) go through
  * [[parquet]], the one place that decides how parquet is read. A bare
  * `spark.read.parquet` launches a schema-inference JOB on every call
  * (Spark 4 merges footers in parallel even for one file) — about 35 ms
  * per table per query build, which was every construction-time job of
  * the short relational rows.
  * [[parquet]] infers each path's schema once and then reads it with
  * that schema supplied, which skips the job.
  *
  * Memo contract:
  *   - Key: the absolute path(s), the per-file `name:length:lastModified`
  *     tree of [[fileSig]] (the same signature `cachedBuild` keys its
  *     artifacts on) and the session's set `spark.sql.*` confs.
  *   - Value: the inferred schema only — no data, no file index. Every
  *     read still lists the files and builds a fresh relation, so two
  *     loads of one table carry distinct attribute ids (self-joins
  *     resolve).
  *   - Never stale: a rewritten, replaced or appended-to file changes the
  *     signature, and a conf that changes how Parquet types map to Spark
  *     types (e.g. `spark.sql.legacy.parquet.nanosAsLong`) changes the conf
  *     part, so either misses and infers again. A path that is not a local
  *     file or directory (a glob, a URI) is never memoized.
  *   - One entry per path: a miss replaces the path's previous entry.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-file `name:length:lastModified` signature of a file, or of a
    * directory tree in name order — the change detector of both the
    * schema memo here and `SparkEntry.cachedBuild`'s artifact markers.
    */
  private[graft] def fileSig(f: File): String =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
        .map(fileSig).mkString(",")
    else s"${f.getName}:${f.length}:${f.lastModified}"

  /** absolute paths -> (file signatures + confs, inferred schema) */
  private val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  /** Reads parquet at `paths`, inferring the schema at most once per
    * (paths, file signature, `spark.sql.*` confs); see the memo contract
    * above. Behaves as `spark.read.parquet(paths: _*)`.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val files = paths.map(new File(_))
    if (!files.forall(_.exists)) return spark.read.parquet(paths: _*)
    val key = files.map(_.getAbsolutePath).mkString("\n")
    val stamp = files.map(fileSig).mkString("|") + "|" +
      spark.conf.getAll.filter(_._1.startsWith("spark.sql."))
        .toSeq.sorted.mkString(",")
    val schema = Option(schemas.get(key)).collect {
      case (st, sc) if st == stamp => sc
    }.getOrElse {
      val sc = spark.read.parquet(paths: _*).schema
      schemas.put(key, (stamp, sc))
      sc
    }
    spark.read.schema(schema).parquet(paths: _*)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has varied across fixture generations: TIMESTAMP(NANOS)
    * (which Spark 4 reads as a nanos LONG under the legacy conf) and
    * TIMESTAMP(MICROS) without timezone (which Spark reads as
    * TIMESTAMP_NTZ). Branch on the scanned type so both generations load
    * to the same microsecond TimestampType the queries and the DuckDB
    * oracle expect:
    *   - LongType (nanos): truncate ns→µs — the truncation DuckDB applies.
    *   - TIMESTAMP_NTZ (micros): cast to TimestampType; the session TZ is
    *     pinned to UTC everywhere, so the wall-clock values are unchanged
    *     and match DuckDB's naive-timestamp read exactly.
    *
    * The nanos-long read path needs `spark.sql.legacy.parquet.nanosAsLong`
    * = true, which every session FACTORY in this project sets at build time
    * (Bench/Verify/Explain/Apps/BenchStream/the test session) — the loader
    * itself is side-effect-free (round-10 verdict: a loader silently
    * flipping session-wide legacy conf is a mixed-workload surprise). A
    * session without the conf fails the nanos-generation scan LOUDLY at
    * analysis, never silently wrong.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already a microsecond instant timestamp
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
