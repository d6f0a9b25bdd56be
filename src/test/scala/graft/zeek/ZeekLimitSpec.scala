package graft.zeek

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Limit pushdown: partitions stop reading after n post-filter rows
  * (LocalLimit semantics — Spark still applies the global limit). */
class ZeekLimitSpec extends AnyFunSuite with NoReadAheadLeak {
  private lazy val spark = SharedSpark.spark

  private def corpus(): String = {
    val dir = ZeekFixtures.tempDir()
    val rows = (1 to 500).map(i => (s"$i.0", f"ID$i%05d", s"$i"))
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", rows))
    ZeekFixtures.write(dir, "b.log.gz", ZeekFixtures.base("t", rows), gzip = true)
    s"$dir/*"
  }

  test("limit returns exactly n rows") {
    val glob = corpus()
    val df = spark.read.format("zeek").load(glob)
    assert(df.limit(7).collect().length == 7)
    assert(df.limit(0).collect().isEmpty)
    assert(df.limit(5000).count() == 1000) // limit above total: everything
  }

  test("limit composes with pushed filters") {
    val glob = corpus()
    val df = spark.read.format("zeek").load(glob)
    val got = df.filter(col("value") > 100).limit(9).collect()
    assert(got.length == 9)
    assert(got.forall(_.getLong(2) > 100)) // post-filter rows only
  }

  test("limit composes with pushed filters over a vector[string] column") {
    val dir = ZeekFixtures.tempDir()
    val rows = (1 to 300).map { i =>
      Seq(s"$i.0", f"ID$i%05d", i.toString, if (i % 4 == 0) "-" else s"t$i,u${i % 3}")
    }
    val content = ZeekFixtures.log("t", Seq("ts", "id", "value", "tags"),
      Seq("time", "string", "count", "vector[string]"), rows)
    ZeekFixtures.write(dir, "a.log", content)
    ZeekFixtures.write(dir, "b.log.gz", content, gzip = true)
    val got = spark.read.format("zeek").load(s"$dir/*")
      .filter(col("value") > 200).limit(11).collect()
    assert(got.length == 11)
    got.foreach { r =>
      val v = r.getLong(2)
      assert(v > 200, s"row $r did not pass the filter")
      assert(r.getSeq[String](3) == (if (v % 4 == 0) Nil else Seq(s"t$v", s"u${v % 3}")))
    }
  }

  test("limit respects zeek semantics: blank/directive lines don't count") {
    val dir = ZeekFixtures.tempDir()
    val content = ZeekFixtures.base("t", (1 to 3).map(i => (s"$i.0", s"X$i", s"$i"))) +
      "#close\t2026-01-22-02-30-59\n"
    ZeekFixtures.write(dir, "c.log", content)
    val df = spark.read.format("zeek").load(s"$dir/c.log")
    assert(df.limit(3).collect().length == 3)
  }
}
