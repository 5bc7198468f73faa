package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Verifies the spark.sql.extensions entry point injects the native
  * functions into a freshly-built session (the deployment path). */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var s: SparkSession = _

  // spark.sql.extensions is a STATIC conf — it only takes effect on a fresh
  // SparkContext, so this spec owns the context lifecycle: stop whatever is
  // running, build with the extension, then tear down so later suites
  // rebuild clean.
  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.sparkContext.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    s.sparkContext.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("graft.GraftExtensions injects graft_dot and graft_l2norm") {
    val row = s.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d, " +
        "graft_l2norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n").collect()(0)
    assert(row.getDouble(0) == 11.0)
    assert(row.getDouble(1) == 5.0)
  }

  test("graft.GraftExtensions injects every native expression under its SQL name") {
    // the one table both surfaces read: each builder yields an expression
    // whose prettyName is the table's name, so plans print the same name
    // whether a query came from SQL or from a graft.functions factory
    graft.functions.natives.foreach { case (name, cls, build) =>
      val e = build(Seq.fill(6)(Literal(1)))
      assert(e.prettyName == name && cls.isInstance(e), s"$name builds ${e.getClass}")
    }
    val bf = BloomFilter.create(10, 0.01)
    bf.putLong(7L)
    val sketch = { val b = new ByteArrayOutputStream(); bf.writeTo(b); b.toByteArray }
    val hex = sketch.map(b => f"$b%02X").mkString
    val f = "CAST(array(1.0, 2.0) AS ARRAY<FLOAT>)"
    val r = s.sql(
      s"""SELECT
         |  graft_dot($f, $f) AS dot,
         |  graft_l2norm(CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS l2,
         |  graft_bloom_might_contain(X'$hex', 7L) AS bloom,
         |  graft_hamming(0L, 7L) AS ham,
         |  graft_sorted_contains(array(1L, 3L, 5L), 3L) AS contains,
         |  graft_sorted_intersect_count(array(1L, 3L, 5L), array(3L, 5L, 9L)) AS inter,
         |  graft_sorted_distinct(array(5L, 1L, 5L)) AS dist,
         |  graft_pq_dot($f, CAST(array(-128, -127) AS ARRAY<TINYINT>),
         |    array(1.0D, 1.0D), array(1.0D, 1.0D)) AS pq,
         |  size(graft_del_variants('abc', 1)) AS dels,
         |  size(graft_hashed_shingles('a b c', 2)) AS shingles,
         |  graft_sign_bucket(CAST(array(1.0) AS ARRAY<FLOAT>), 4) AS bucket,
         |  graft_ivf_topcells($f, 1.0D, array(10L, 11L),
         |    CAST(array(1.0, 0.0, 0.0, 1.0) AS ARRAY<FLOAT>), array(1.0D, 1.0D), 1)[0].cell AS top
         |""".stripMargin).collect()(0)
    assert(r.getAs[Double]("dot") == 5.0)
    assert(r.getAs[Double]("l2") == 5.0)
    assert(r.getAs[Boolean]("bloom"))
    assert(r.getAs[Int]("ham") == 3)
    assert(r.getAs[Boolean]("contains"))
    assert(r.getAs[Int]("inter") == 2)
    assert(r.getSeq[Long](r.fieldIndex("dist")) == Seq(1L, 5L))
    assert(r.getAs[Double]("pq") == 1.0 * 1.0 + 2.0 * 2.0) // the codes decode to (1, 2)
    assert(r.getAs[Int]("dels") == 4) // abc, bc, ac, ab
    assert(r.getAs[Int]("shingles") == 2)
    assert(r.getAs[Long]("bucket") == 0L) // not 64-dim: the law's 0 collapse
    assert(r.getAs[Long]("top") == 11L)
  }
}
