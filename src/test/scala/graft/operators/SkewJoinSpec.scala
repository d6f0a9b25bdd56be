package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.zeek.SharedSpark

class SkewJoinSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("salted join equals the plain join on skewed data and spreads the hot key") {
    import spark.implicits._
    // 10k rows of hot key 1, a few of others
    val left = ((1 to 10000).map(i => (1L, s"row$i")) ++ Seq((2L, "x"), (3L, "y")))
      .toDF("k", "payload")
    val right = Seq((1L, "hot"), (2L, "two"), (4L, "unmatched")).toDF("k", "name")

    val plain = left.join(right, "k").select("k", "payload", "name")
      .collect().map(_.toString).sorted
    val salted = SkewJoin.saltedEquiJoin(left, right, "k", saltBuckets = 8)
      .select("k", "payload", "name").collect().map(_.toString).sorted
    assert(salted.sameElements(plain))
    assert(plain.length == 10001)

    // the hot key's rows really spread over multiple salt buckets
    val spread = left.withColumn("__salt", pmod(hash(left.columns.toIndexedSeq.map(col): _*), lit(8)))
      .filter($"k" === 1L).select("__salt").distinct().count()
    assert(spread > 4, s"salt spread only $spread buckets")
  }

  test("left outer salted join keeps unmatched left rows") {
    import spark.implicits._
    val left = Seq((1L, "a"), (9L, "no-match")).toDF("k", "payload")
    val right = Seq((1L, "hot")).toDF("k", "name")
    val out = SkewJoin.saltedEquiJoin(left, right, "k", 4, "left")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a", Some("hot")), (9L, "no-match", None)))
  }

  test("right/full outer join types are rejected (replication would duplicate unmatched right rows)") {
    import spark.implicits._
    val left = Seq((1L, "a")).toDF("k", "payload")
    val right = Seq((1L, "hot"), (2L, "unmatched")).toDF("k", "name")
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer")) {
      val e = intercept[IllegalArgumentException] {
        SkewJoin.saltedEquiJoin(left, right, "k", 4, jt)
      }
      assert(e.getMessage.contains("does not support join type"), jt)
    }
  }
}
