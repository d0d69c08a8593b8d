package graft

/** End-to-end proof of the GraftExtensions plug-in on a REAL session
  * (forked JVM → fresh builder, so `withExtensions` genuinely applies,
  * unlike the shared-session test suites which go through registry
  * bridges): the injected SQL functions resolve, scalar and aggregate.
  *
  * Usage: runMain graft.ExtensionCheck
  */
object ExtensionCheck {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // injected SQL functions resolve without imperative registration
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))").head().getDouble(0)
    assert(dot == 11.0, s"graft_dot via extensions returned $dot")
    val topk = spark.sql(
      """SELECT g, graft_topk(s, i, 1) FROM VALUES
           (1, 0.3d, 7L), (1, 0.9d, 8L) AS t(g, s, i) GROUP BY g""").count()
    assert(topk == 1L)
    println(s"[extension-check] OK: ${GraftFunctions.builders.size} SQL " +
      "functions injected")
    spark.stop()
  }
}
