package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is configured. Every main, probe
  * and the test suite start from [[Sessions.local]] and add only what
  * really differs (app name, extensions, a master override, a warehouse
  * dir); `DeterminismLintSpec` fails on a session builder anywhere else.
  *
  * The settings every session shares:
  *   - `local[cpus]` with `cpus` shuffle partitions;
  *   - AQE on (Spark's default, stated so no caller depends on it);
  *   - UTC session time zone, so formatted timestamps match the oracle;
  *   - `parquet.nanosAsLong`, without which Spark 4 rejects the events
  *     fixture's TIMESTAMP(NANOS) column (see [[Tables.events]]);
  *   - no web UI.
  */
object Sessions {
  def local(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
