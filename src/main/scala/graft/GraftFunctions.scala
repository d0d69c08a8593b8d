package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expressions._

/** SQL-surface registration for the engine's custom Catalyst expressions,
  * so `spark.sql("SELECT graft_dot(a, b) ...")` works alongside the Column
  * API. Two entry points over one builder table:
  *   - [[GraftFunctions.register]]: imperative, current session only;
  *   - [[GraftExtensions]]: the `spark.sql.extensions` plug-in
  *     (`--conf spark.sql.extensions=graft.GraftExtensions`), which
  *     registers everything in every session of the cluster — the
  *     supported deployment path for a shared platform.
  */
object GraftFunctions {

  private def intArg(es: Seq[Expression], i: Int): Int =
    es(i).eval().asInstanceOf[Number].intValue()
  private def longArg(es: Seq[Expression], i: Int): Long =
    es(i).eval().asInstanceOf[Number].longValue()

  /** name → builder. Aggregates are returned bare — the analyzer wraps an
    * AggregateFunction in an AggregateExpression during resolution.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => DotProduct(es.head, es(1))),
    "graft_simhash" -> (es => SimHash64(es.head)),
    "graft_shingle_hashes" -> (es => ShingleHashSet(es.head, intArg(es, 1))),
    "graft_minhash_sig" -> (es =>
      MinHashSig(es.head, intArg(es, 1), longArg(es, 2))),
    "graft_winnow" -> (es =>
      WinnowFingerprints(es.head, intArg(es, 1), intArg(es, 2))),
    "graft_hyperplane_sketches" -> (es =>
      HyperplaneSketches(es.head, intArg(es, 1), intArg(es, 2),
        intArg(es, 3), longArg(es, 4))),
    "graft_topk" -> (es => TopKByScore(es.head, es(1), intArg(es, 2))),
    "graft_mg" -> (es => MisraGriesCandidates(es.head, intArg(es, 1))),
    // The bloom pair surfaced under the graft_ namespace so the SQL
    // side can run the q101 ingest-admission shape:
    //   graft_bloom_agg(xxhash64(key), items, bits) -> binary filter
    //   graft_bloom_contains(filterExpr, xxhash64(key)) -> boolean
    // (the probe is BloomMightContainKey — Spark's BloomFilterMightContain
    // falls out of codegen on constant-folded negative keys)
    "graft_bloom_agg" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es.head, es(1), es(2))),
    "graft_bloom_contains" -> (es =>
      BloomMightContainKey(es.head, es(1))),
  )

  /** Imperative registration into the current session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }
}

/** `spark.sql.extensions` entry point: injects every graft function into
  * the session builder so ALL sessions (including thrift/connect ones the
  * application never touches imperatively) see the SQL surface. It
  * injects functions only: planning stays stock Spark's.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", name), b))
    }
  }
}
