package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.functions.dot

/** Hand-computed in-memory fixtures (FIXTURES.md §B): join-type edge cases,
  * exact cosine values, null-handling aggregation semantics. Expected values
  * are computed by hand in the test source — ≤10 rows each. */
class FixtureSpec extends SparkSpec {

  import spark.implicits._

  // MiniCustomer: customer 3 has no orders; MiniOrders: order 104 has no customer
  private lazy val miniCustomer =
    Seq((1L, "alice"), (2L, "bob"), (3L, "carol")).toDF("ck", "name")
  private lazy val miniOrders =
    Seq((101L, 1L, 10.0), (102L, 1L, 20.0), (103L, 2L, 30.0), (104L, 9L, 40.0))
      .toDF("ok", "ck", "price")

  test("all join types on the mini fixture produce the hand-computed keys") {
    val j = miniCustomer.join(miniOrders, Seq("ck"), _: String)
    assert(j("inner").select("ok").collect().map(_.getLong(0)).sorted.toSeq == Seq(101L, 102L, 103L))
    assert(j("left").count() == 4) // carol survives with null order
    assert(j("left").filter(col("ok").isNull).select("name").collect().map(_.getString(0)).toSeq == Seq("carol"))
    assert(j("right").filter(col("name").isNull).select("ok").collect().map(_.getLong(0)).toSeq == Seq(104L))
    assert(j("full_outer").count() == 5) // 3 matches + carol + order 104
    assert(miniCustomer.join(miniOrders, Seq("ck"), "left_semi")
      .select("name").collect().map(_.getString(0)).sorted.toSeq == Seq("alice", "bob"))
    assert(miniCustomer.join(miniOrders, Seq("ck"), "left_anti")
      .select("name").collect().map(_.getString(0)).toSeq == Seq("carol"))
    assert(miniCustomer.crossJoin(miniOrders).count() == 12)
  }

  test("cosine is exactly 1 / 0 / -1 on collinear and orthogonal vectors") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(2.0f, 0.0f, 0.0f)),  // collinear with 1
      (3L, Seq(0.0f, 1.0f, 0.0f)),  // orthogonal to 1
      (4L, Seq(-1.0f, 0.0f, 0.0f)), // opposite of 1
    ).toDF("id", "v")
    val a = vecs.select(col("id").as("ia"), col("v").as("va"))
    val b = vecs.select(col("id").as("ib"), col("v").as("vb"))
    val cos = a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        (dot(col("va"), col("vb")) /
          (sqrt(dot(col("va"), col("va"))) * sqrt(dot(col("vb"), col("vb"))))).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cos((1L, 2L)) == 1.0)
    assert(cos((1L, 3L)) == 0.0)
    assert(cos((1L, 4L)) == -1.0)
  }

  test("aggregates skip nulls: sum/avg/count on a null-bearing column") {
    // MiniLineitem: 6 rows, 2 flag groups, one NULL discount
    val li = Seq(
      ("A", Some(0.1), 10.0), ("A", Some(0.2), 20.0), ("A", None, 30.0),
      ("N", Some(0.0), 40.0), ("N", Some(0.4), 50.0), ("N", Some(0.2), 60.0))
      .toDF("flag", "disc", "price")
    val r = li.groupBy("flag")
      .agg(count(col("disc")).as("n_disc"), round(avg("disc"), 6).as("avg_disc"),
        round(sum("price"), 2).as("sum_price"))
      .orderBy("flag").collect()
    assert(r(0).getLong(1) == 2)                       // A: null not counted
    assert(math.abs(r(0).getDouble(2) - 0.15) < 1e-9)  // avg over non-null only
    assert(r(0).getDouble(3) == 60.0)
    assert(r(1).getLong(1) == 3)
    assert(math.abs(r(1).getDouble(2) - 0.2) < 1e-9)
    assert(r(1).getDouble(3) == 150.0)
  }
}
