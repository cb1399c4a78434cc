package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Ann

/** The in-row argmax both cluster assignments share: max score, ties →
  * lowest id, independent of candidate-list order — also when a score
  * is NaN (a NaN embedding component makes the cosine NaN).
  */
class AnnSpec extends SparkTestBase {

  test("argmaxBy picks one winner in every list order, NaN scores included") {
    import spark.implicits._
    val cands = Seq(4L -> 0.9, 2L -> Double.NaN, 7L -> 0.9, 1L -> 0.25,
      9L -> Double.NaN)
    val orders = cands.permutations.toSeq
    val df = orders.map(Tuple1(_)).toDF("xs")
      .select(expr("transform(xs, x -> named_struct('cid', x._1, 'c', x._2))")
        .as("scored"))
    val winners = df.select(Ann.argmaxBy(col("scored"), "cid"))
      .collect().map(_.getLong(0)).toSet
    // Spark orders NaN above every number and equal to itself: the
    // lowest-id NaN candidate wins, whatever the order
    assert(winners == Set(2L), winners)
    // without NaN the max score wins, ties to the lowest id
    val finite = cands.filterNot(_._2.isNaN).permutations.toSeq
      .map(Tuple1(_)).toDF("xs")
      .select(Ann.argmaxBy(expr(
        "transform(xs, x -> named_struct('rid', x._1, 'c', x._2))"), "rid"))
      .collect().map(_.getLong(0)).toSet
    assert(finite == Set(4L), finite)
    // a NaN embedding component makes the cosine the NaN ranked above
    val nan = Seq(Tuple1(Seq(Double.NaN, 1.0))).toDF("v")
      .select(graft.functions.GraftFunctions.cosine_sim(col("v"),
        array(lit(1.0), lit(0.0)))).head().getDouble(0)
    assert(nan.isNaN, nan)
  }

  test("assignBest returns no rows against an empty reference set") {
    import spark.implicits._
    val vecs = Seq(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0)).toDF("id", "v")
    val refs = Seq(10L -> Seq(1.0, 0.1), 20L -> Seq(0.1, 1.0)).toDF("rid", "rv")
    val best = Ann.assignBest(vecs, "id", "v", refs, "best")
      .select("id", "best").as[(Long, Long)].collect().toMap
    assert(best == Map(1L -> 10L, 2L -> 20L), best)
    val none = Ann.assignBest(vecs, "id", "v", refs.filter(lit(false)), "best")
    assert(none.count() == 0L, "an empty reference set must assign no row")
  }
}
