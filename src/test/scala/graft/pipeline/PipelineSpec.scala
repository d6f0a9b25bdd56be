package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.zeek.SharedSpark
import graft.dedup.{Dedup, DedupClusters}
import graft.ann.Ann
import graft.text.TextFunctions
import graft.multimodal.Multimodal
import graft.queries.Tables

/** Internal verification of the sketch/hash-based pipeline ops that the
  * DuckDB oracle cannot check (rows-only in the driver): MinHash recall
  * against exact Jaccard, SimHash containment of planted pairs, LSH
  * recall against brute-force KNN, multimodal plumbing determinism. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.documents(spark, sf).cache()
  private lazy val emb = Tables.embeddings(spark, sf).cache()

  test("minhash LSH finds exactly the exact-Jaccard near-dup pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5, 2, 1000000)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "dataset should contain planted near-dups")
    // the exact-verify step makes precision 1.0 by construction; banding
    // at 64/16 gives ~100% recall at jaccard >= 0.8 (planted pairs)
    assert(mh == exact, s"minhash=${mh.size} exact=${exact.size}")
  }

  test("k-means: planted blobs split exactly; duplicate seeds leave an empty cluster unharmed") {
    import spark.implicits._
    // two well-separated blobs; both seeds (smallest ids) start inside
    // blob A, so the split only emerges through the Lloyd iterations
    val pts = (0 until 10).map(i => (i.toLong, Array(0.01f * i, 0.01f * i))) ++
      (10 until 20).map(i => (i.toLong, Array(100f + 0.01f * i, 100f)))
    val df = pts.toDF("vec_id", "embedding")
    val out = graft.ann.KMeans.lloydAssignments(df, "vec_id", "embedding", k = 2, iters = 3)
      .collect()
    val byCluster = out.groupBy(_.getInt(1)).map { case (c, rs) =>
      c -> rs.map(_.getLong(0)).toSet
    }
    assert(byCluster.values.toSet ==
      Set((0L until 10L).toSet, (10L until 20L).toSet), byCluster.toString)

    // identical seed points: the losing twin empties immediately and must
    // keep its previous centroid (no crash, no NaN centroid)
    val dup = Seq((0L, Array(0f, 0f)), (1L, Array(0f, 0f)), (2L, Array(10f, 10f)))
      .toDF("vec_id", "embedding")
    val out2 = graft.ann.KMeans.lloydAssignments(dup, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out2.forall(_._3 == 0L), out2.mkString(", "))          // every point sits on a centroid
    assert(out2.map(_._2).toSet == Set(0, 2), out2.mkString(", ")) // cluster 1 (the twin) stays empty
  }

  test("containment: planted subset-doc is found in both directions, jaccard misses it") {
    import spark.implicits._
    // b embeds a verbatim: containment(a in b) = 1.0 even though the
    // union-diluted jaccard is far below any sane threshold
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta " +
        (1 to 40).map(i => s"filler$i word$i").mkString(" ")),
      (3L, "unrelated content entirely different words here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
      s"a-in-b containment missing: ${pairs.mkString(", ")}")
    // the reverse direction is NOT contained (b is mostly filler)
    assert(!pairs.exists { case (a, b, _) => a == 2L && b == 1L })
    // and jaccard at the same threshold finds nothing
    val jac = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 0.5, 2, 1000000)
    assert(jac.count() == 0)
  }

  test("prefix-filtered set-similarity join equals the inverted-index exact join") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5, 2, 1000000)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pref = Dedup.setSimPrefixJoin(docs, "doc_id", "text", 0.5, 2)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(pref == exact, s"prefix=${pref.size} exact=${exact.size}")
  }

  test("incremental near-dups equal the full run restricted to fresh-touching pairs") {
    val full = Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a < 100 || b < 100 }
    val inc = Dedup.minhashNearDupsIncremental(
        docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
        "doc_id", "text", 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty && expected != full,
      "split must separate some pairs for the test to mean anything")
    assert(inc == expected, s"inc=${inc.size} expected=${expected.size}")
  }

  test("incremental near-dups: old-old duplicates are never reported, fresh ones are") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // old-old exact dup of 1
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // dup of old 1 and 2
      (11L, "unrelated words entirely here now"),
      (12L, "unrelated words entirely here now")) // fresh-fresh dup of 11
      .toDF("doc_id", "text")
    val got = Dedup.minhashNearDupsIncremental(corpus, fresh, "doc_id", "text", 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 10L), (11L, 12L)), got.toString)
  }

  test("prefix filtering is complete across thresholds on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 'z').map(_.toString)
    // overlapping random docs: shared stems force near-boundary Jaccards
    val texts = (0 until 60).map { i =>
      val stem = Seq.fill(6 + rnd.nextInt(6))(vocab(rnd.nextInt(8)))
      val tail = Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, (stem ++ tail).mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    for (tau <- Seq(0.3, 0.5, 0.7)) {
      val exact = Dedup.ngramJaccardPairs(df, "doc_id", "text", tau, 2, 1000000)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pref = Dedup.setSimPrefixJoin(df, "doc_id", "text", tau, 2)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pref == exact, s"tau=$tau prefix=${pref.size} exact=${exact.size}")
    }
  }

  test("simhash block index returns exactly the brute-force Hamming<=3 pairs") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val blocked = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute, s"blocked=${blocked.size} brute=${brute.size}")
  }

  test("connected components: chains collapse, singletons stay, labels are min ids") {
    import spark.implicits._
    // chain 1-2-3-4 (no direct 1-4 edge), pair 10-11, singleton 20,
    // and a cycle 30-31-32
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 30L, 31L, 32L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (30L, 31L), (31L, 32L), (32L, 30L)).toDF("a", "b")
    val got = DedupClusters.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("connected components: pointer jumping converges in O(log k) rounds on a long chain") {
    import spark.implicits._
    // a planted 64-node chain has diameter 63: naive min-label propagation
    // needs 63 rounds (and would bust maxIter = 20); path halving must
    // collapse it in ~log2(63) + a constant, each round one shuffle join
    val n = 64
    val nodes = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = DedupClusters.connectedComponentsWithRounds(nodes, edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L), "whole chain must collapse to min id 1")
    assert(rounds <= 12, s"pointer jumping should need ~log2($n) rounds, took $rounds")
  }

  test("connected components works with non-numeric (string) ids") {
    import spark.implicits._
    val nodes = Seq("uuid-a", "uuid-b", "uuid-c", "uuid-d").toDF("id")
    val edges = Seq(("uuid-b", "uuid-c"), ("uuid-c", "uuid-a")).toDF("a", "b")
    val got = DedupClusters.connectedComponents(nodes, edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("uuid-a" -> "uuid-a", "uuid-b" -> "uuid-a",
      "uuid-c" -> "uuid-a", "uuid-d" -> "uuid-d"))
  }

  test("hot-bucket cap bounds pair expansion for identical-document floods") {
    // 10k identical docs collapse into ONE bucket per band/block — uncapped
    // that is ~50M pairs per band; with the cap the clique is a bounded
    // deterministic sample and the job completes in bounded task time
    val flood = spark.range(0, 10000).select(col("id").as("doc_id"),
      lit("same boilerplate text repeated verbatim across the whole flood").as("text"))
    val mh = Dedup.minhashCandidates(flood, "doc_id", "text", bucketCap = 50).count()
    assert(mh > 0 && mh <= 50L * 49 / 2, s"minhash pairs=$mh")
    val sh = Dedup.simhashNearDups(flood, "doc_id", "text", maxHamming = 3,
      bucketCap = 50).count()
    assert(sh > 0 && sh <= 50L * 49 / 2, s"simhash pairs=$sh")
    // determinism of the capped sample: same pair set on a second run
    val p1 = Dedup.minhashCandidates(flood, "doc_id", "text", bucketCap = 50)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p2 = Dedup.minhashCandidates(flood, "doc_id", "text", bucketCap = 50)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == p2)
  }

  test("PQ ADC: an exact copy of the query achieves the minimal distance; recall vs exact L2") {
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter(col("vec_id") < 3)
    // corpus plus an exact copy of each query vector under a shifted id:
    // the copy encodes to the query's own nearest codes, so its ADC
    // distance is the query's quantization error — the smallest
    // achievable — and must sit at min(adist) for that query
    val copies = queries.withColumn("vec_id", col("vec_id") + 10000)
    val pq = Ann.pqTopK(emb.unionByName(copies), queries,
      "vec_id", "embedding", k = 10).collect()
    for (q <- 0L until 3L) {
      val forQ = pq.filter(_.getAs[Long]("query_id") == q)
      val copy = forQ.find(_.getAs[Long]("neighbor_id") == q + 10000)
      assert(copy.isDefined, s"encoded copy of query $q missing from its top-10")
      val minD = forQ.map(_.getAs[Double]("adist")).min
      assert(math.abs(copy.get.getAs[Double]("adist") - minD) < 1e-9,
        s"copy of query $q must be at the minimal ADC distance")
    }

    // the candidate POOL recalls the true L2 neighborhood (what matters
    // for serving: ADC only has to get true neighbors into the pool) …
    graft.functions.VectorExpressions.registerAll(spark)
    val qs = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cs = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("l2"), col("neighbor_id"))
    val exact = cs.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .withColumn("l2", call_function("l2_distance", col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5).collect()
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      (0L until 3L).map { q =>
        val e5 = exact.filter(_.getAs[Long]("query_id") == q)
          .map(_.getAs[Long]("neighbor_id")).toSet
        val pk = rows.filter(_.getAs[Long]("query_id") == q)
          .map(_.getAs[Long]("neighbor_id")).toSet
        (e5 & pk).size / 5.0
      }.sum / 3
    val pool = Ann.pqTopK(emb, queries, "vec_id", "embedding", k = 20,
      m = 16, ksub = 32).collect()
    assert(recallOf(pool) >= 0.5, s"ADC candidate-pool recall too low: ${recallOf(pool)}")

    // … and exact re-ranking of the pool makes the FINAL top-5 accurate
    val refined = Ann.pqTopKRefined(emb, queries, "vec_id", "embedding",
      k = 5, m = 16, ksub = 32, candidates = 50).collect()
    assert(recallOf(refined) >= 0.7, s"refined PQ recall@5 too low: ${recallOf(refined)}")

    // the quantized twin is bit-deterministic across runs
    def runQ() = Ann.pqTopKQuantized(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(runQ() == runQ())
  }

  test("IVF-PQ: full probe + refine recovers the exact L2 top-5; partial probe stays useful") {
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter(col("vec_id") < 5)
    graft.functions.VectorExpressions.registerAll(spark)
    val qs = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cs = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("l2"), col("neighbor_id"))
    val exact = cs.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .withColumn("l2", call_function("l2_distance", col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5).collect()
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      (0L until 5L).map { q =>
        val e5 = exact.filter(_.getAs[Long]("query_id") == q)
          .map(_.getAs[Long]("neighbor_id")).toSet
        val pk = rows.filter(_.getAs[Long]("query_id") == q)
          .map(_.getAs[Long]("neighbor_id")).toSet
        (e5 & pk).size / 5.0
      }.sum / 5
    // full probe: every cell scored → the pool misses only by ADC error,
    // and the exact re-rank fixes ordering inside the pool
    val full = Ann.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 5, nLists = 16, nProbe = 16, m = 16, ksub = 32, candidates = 50).collect()
    assert(recallOf(full) >= 0.7, s"full-probe IVF-PQ recall too low: ${recallOf(full)}")
    // partial probe: 4 of 16 cells still catches a useful share
    val part = Ann.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 5, nLists = 16, nProbe = 4, m = 16, ksub = 32, candidates = 50).collect()
    assert(recallOf(part) >= 0.3, s"partial-probe IVF-PQ recall too low: ${recallOf(part)}")
    // structural: at most k rows per query, ranks contiguous from 1
    val byQ = part.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.length), ranks.toString)
      assert(ranks.length <= 5)
    }
  }

  test("quantized IVF-PQ twin: pool=corpus re-rank equals exact integer L2; deterministic") {
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter(col("vec_id") < 3)
    // with candidates >= |corpus| the ADC pool admits everything, so the
    // integer re-rank must EQUAL the exact quantized-L2 brute force —
    // any vector lost by coarse assign, residual encode, the probe join
    // or the pool window breaks this equality
    val nCorpus = emb.count().toInt
    val got = Ann.ivfPqTopKQuantized(emb, queries, "vec_id", "embedding",
        k = 5, candidates = nCorpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val quant = udf((v: Seq[Float]) =>
      v.map(x => math.floor(x.toDouble * 1024.0).toLong))
    val d2 = udf((a: Seq[Long], b: Seq[Long]) =>
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val qs = queries.select(col("vec_id").as("query_id"), quant(col("embedding")).as("qa"))
    val cs = emb.select(col("vec_id").as("neighbor_id"), quant(col("embedding")).as("ca"))
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    val exact = cs.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .withColumn("d2", d2(col("qa"), col("ca")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Long]("d2"), r.getAs[Int]("rank"))).toSet
    assert(got == exact, s"full-pool twin diverged from integer brute force")
    // at the production candidate count the twin is bit-deterministic
    def run() = Ann.ivfPqTopKQuantized(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(run() == run())
  }

  test("SQ8 quantized top-5 closely tracks exact float L2 (small quantization error)") {
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter(col("vec_id") < 5)
    val qs = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cs = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    graft.functions.VectorExpressions.registerAll(spark)
    val w = Window.partitionBy("query_id").orderBy(col("l2"), col("neighbor_id"))
    val exact = cs.join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .withColumn("l2", call_function("l2_distance", col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5).collect()
    val sq = Ann.sq8TopK(emb, queries, "vec_id", "embedding", k = 5).collect()
    val recall = (0L until 5L).map { q =>
      val e5 = exact.filter(_.getAs[Long]("query_id") == q)
        .map(_.getAs[Long]("neighbor_id")).toSet
      val s5 = sq.filter(_.getAs[Long]("query_id") == q)
        .map(_.getAs[Long]("neighbor_id")).toSet
      (e5 & s5).size / 5.0
    }.sum / 5
    assert(recall >= 0.8, s"SQ8 recall@5 too low: $recall")
  }

  test("bloom-prefiltered decontamination equals the exact broadcast version") {
    val corpus = docs.filter(col("doc_id") >= 20)
    val evalSet = docs.filter(col("doc_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("corpus_id", "eval_id", "n_shared").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = rows(Dedup.contaminationPairs(corpus, evalSet, "doc_id", "text"))
    val bloomDf = Dedup.contaminationPairsBloom(corpus, evalSet, "doc_id", "text")
    assert(rows(bloomDf) == exact, "bloom prefilter must not change the result")
    assert(exact.nonEmpty, "test data must produce contamination hits")
    // the prefilter is really in the plan, probing the serialized sketch
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "corpus side must carry the bloom probe:\n" + plan.take(1500))
    // empty eval side degrades gracefully (NULL sketch → no prefilter, no rows)
    assert(Dedup.contaminationPairsBloom(
      corpus, evalSet.filter(col("doc_id") < 0), "doc_id", "text").count() == 0)
  }

  test("NULL text propagates as NULL through the text/dedup UDFs (no NPE)") {
    import spark.implicits._
    val df = Seq((1L, "hello world hello"), (2L, null: String)).toDF("doc_id", "text")
    // minhash signature + simhash + langProfile: null in → null out
    val r = df.select(
      Dedup.minhashSignature(16, 2)(col("text")).as("sig"),
      Dedup.simhash64(col("text")).as("sim"),
      TextFunctions.langProfile(col("text")).as("p"))
      .orderBy(col("doc_id")).collect()
    assert(!r(0).isNullAt(0) && !r(0).isNullAt(1) && !r(0).isNullAt(2))
    assert(r(1).isNullAt(0) && r(1).isNullAt(1) && r(1).isNullAt(2))
    // pipeline entry points run end-to-end over a corpus containing a NULL
    assert(Dedup.simhashNearDups(df, "doc_id", "text", 3).count() == 0)
    assert(Dedup.ngramJaccardPairs(df, "doc_id", "text", 0.5, 2, 100).count() == 0)
    assert(Dedup.minhashNearDups(df, "doc_id", "text", 0.5).count() == 0)
  }

  test("exact dedup groups: fingerprint is whitespace/case-insensitive") {
    import spark.implicits._
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(df, "doc_id", "text").collect()
    assert(groups.length == 2)
    assert(groups.find(_.getLong(2) == 2L).exists(_.getLong(1) == 1L)) // keep min id
  }

  test("LSH ANN achieves high recall against brute-force KNN") {
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(emb, queries, "vec_id", "embedding", 5, nBits = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    // random gaussian vectors are a worst case for LSH; just require that
    // bucketing is doing real work and the plumbing returns valid top-ks
    assert(recall > 0.1, s"recall=$recall")
    assert(lsh.nonEmpty)
  }

  test("IVF ANN: corpus-side cell assignment runs inside whole-stage codegen, no UDF") {
    // the round-14 rewrite's contract: the per-vector argmin over the
    // centroid literals (float_l2sq + array_min/array_position) must
    // plan as codegen'd expressions — a ScalaUDF in the corpus-side
    // plan would put an interpreted per-row hop back on the one
    // pass-over-every-vector path this rewrite removed
    val df = Ann.ivfTopK(emb, emb.filter(col("vec_id") < 3), "vec_id",
      "embedding", k = 3, nLists = 16, nProbe = 4)
    df.collect() // finalize AQE — codegen markers only exist on executed stages
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan.take(1500))
    assert(plan.contains("float_l2sq"), plan.take(1500))
    // the filter/project band carrying the assignment sits in a
    // WholeStageCodegen span (the `*(n)` marker on its Project/Filter)
    val assignLine = plan.linesIterator.find(_.contains("float_l2sq")).get
    assert(assignLine.contains("*("), assignLine.take(300))
  }

  test("IVF ANN: deterministic index, recall against brute-force KNN") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
      nLists = 16, nProbe = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall (ivf=${ivf.size} brute=${brute.size})")
    // deterministic: rebuilt index returns the identical result set
    val again = Ann.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
      nLists = 16, nProbe = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
    // centroid training is stable across calls
    val c1 = Ann.ivfCentroids(emb, "vec_id", "embedding", 16)
    val c2 = Ann.ivfCentroids(emb, "vec_id", "embedding", 16)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
  }

  test("lshBitsFor: width 16 at every verified SF, occupancy-driven growth beyond") {
    // the gate/verified corpus sizes (sf0.001 .. sf10 embeddings, + 3
    // mutants) must ALL yield 16 — the e07b oracle is a static 16-bit
    // twin, so a rule change that moves these moves verified hashes
    for (n <- Seq(1L, 23L, 2003L, 20003L, 200003L, 262144L))
      assert(Ann.lshBitsFor(n) == 16, s"n=$n")
    // first growth exactly past targetOccupancy * 2^16
    assert(Ann.lshBitsFor(262145L) == 17)
    assert(Ann.lshBitsFor(4L << 17) == 17)
    assert(Ann.lshBitsFor((4L << 17) + 1) == 18)
    // 100 TB envelope: ~1e10 vectors → 32 G buckets capped at 2^30
    assert(Ann.lshBitsFor(10000000000L) == 30)
    assert(Ann.lshBitsFor(Long.MaxValue / 2) == 30)
    // occupancy parameter participates
    assert(Ann.lshBitsFor(262145L, targetOccupancy = 8) == 16)
  }

  test("embedding near-dup pairs: LSH-found pairs are a subset of brute force, cosine exact") {
    import spark.implicits._
    val brute = emb.as("x").join(emb.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        Ann.cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.cosineNearDups(emb, "vec_id", "embedding", 0.35, nBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), s"false positives: ${lsh.diff(brute)}")
    // determinism: run twice → identical
    val lsh2 = Ann.cosineNearDups(emb, "vec_id", "embedding", 0.35, nBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == lsh2)
  }

  test("brute-force KNN is ordered by cosine and excludes self") {
    val queries = emb.filter(col("vec_id") === 0)
    val rows = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .orderBy("rank").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getLong(1) != 0L))
    val coss = rows.map(_.getDouble(2))
    assert(coss.zip(coss.tail).forall { case (x, y) => x >= y })
  }

  test("text functions: token/stopword/punct counts on known input") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox, and the lazy dog!")).toDF("doc_id", "text")
    val r = df.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.stopwordCount(col("text")).as("s"),
      TextFunctions.punctCount(col("text")).as("p"),
      TextFunctions.langGuess(col("text")).as("g")).collect().head
    assert(r.getInt(0) == 8)
    assert(r.getInt(1) == 3) // the, and, the
    assert(r.getInt(2) == 2) // comma + bang
    assert(r.getString(3) == "en")
  }

  test("quality classifier: hard-sigmoid link is clamped, monotone, UDF-free") {
    import spark.implicits._
    // stopword-dense text scores higher than punctuation-dense noise
    val df = Seq(
      (1L, "the cat and the dog of the house is in it and that is that"),
      (2L, "!!!,,,;;;???...:::!!!,,,;;;???...:::")).toDF("doc_id", "text")
    val z = TextFunctions.classifierLogit(col("text"))
    val r = df.select(col("doc_id"), TextFunctions.hardSigmoid(z).as("p"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > r(2L))
    assert(r.values.forall(p => p >= 0.0 && p <= 1.0))
    // saturation: extreme logits clamp exactly to the bounds
    val probe = Seq(Tuple1(-10.0), Tuple1(10.0)).toDF("zv")
      .select(TextFunctions.hardSigmoid(col("zv"))).collect().map(_.getDouble(0))
    assert(probe.toSeq == Seq(0.0, 1.0))
    // scale shape: the whole d23 scorer is built-ins (codegen'd map-only
    // pass) — no UDF anywhere in the plan
    val plan = graft.queries.PipelineQueries.queries("d23_quality_classifier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"d23 must stay UDF-free:\n$plan")
  }

  test("fingerprint normalizes whitespace and case") {
    import spark.implicits._
    val df = Seq(Tuple1("a  B\tc"), Tuple1("A b C")).toDF("text")
    val fps = df.select(TextFunctions.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("multimodal decode plumbing: deterministic stub over binary columns") {
    val media = Multimodal.fromDocuments(spark, docs)
    val decoded = Multimodal.decode(media)
    val byKind = decoded.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind.keySet == Set("image", "audio", "video"))
    assert(byKind.values.sum == docs.count())
    // video frame counts follow the stub formula; features are normalized
    val v = decoded.filter(col("kind") === "video").limit(1).collect().head
    assert(v.n_frames >= 1)
    assert(v.feature.length == 8 && math.abs(v.feature.sum - 1.0f) < 1e-3)
    // run twice → identical result (determinism)
    val a = Multimodal.decode(media).select("media_id", "width", "height", "n_frames")
      .collect().map(_.toString).sorted
    val b = Multimodal.decode(media).select("media_id", "width", "height", "n_frames")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("resize: images shrink deterministically, non-images pass through") {
    val media = Multimodal.fromDocuments(spark, docs)
    val out = Multimodal.resize(media, 32, 32).collect()
    val in = media.collect().map(r => r.media_id -> r).toMap
    assert(out.length == in.size)
    out.foreach { r =>
      if (r.kind == "image") {
        assert(r.width <= 32 && r.height <= 32)
        assert(r.content.length <= in(r.media_id).content.length)
      } else {
        assert(r.content.sameElements(in(r.media_id).content))
      }
    }
    // deterministic: second run bit-identical
    val again = Multimodal.resize(media, 32, 32).collect()
    assert(out.map(_.content.toSeq).toSeq == again.map(_.content.toSeq).toSeq)
  }

  test("md5-simhash twin: signatures match a JVM recomputation; blocks equal brute force") {
    val sigs = Dedup.simhash60Sql(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // independent recomputation of the documented algorithm in plain Scala
    docs.select("doc_id", "text").limit(20).collect().foreach { r =>
      val t = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val ss: Seq[String] = if (t.length < 2) Seq(t.mkString(" "))
        else (0 until t.length - 1).map(i => t(i) + " " + t(i + 1)).distinct
      val votes = new Array[Int](60)
      ss.foreach { sh =>
        val md = java.security.MessageDigest.getInstance("MD5").digest(sh.getBytes("UTF-8"))
        val h = java.lang.Long.parseLong(md.take(8).map("%02x".format(_)).mkString.take(15), 16)
        (0 until 60).foreach(j => votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1))
      }
      var sig = 0L
      (0 until 60).foreach(j => if (votes(j) > 0) sig |= (1L << j))
      assert(sigs(r.getLong(0)) == sig, s"doc ${r.getLong(0)}")
    }
    val brute = (for {
      (ia, sa) <- sigs.toSeq; (ib, sb) <- sigs.toSeq if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    val got = Dedup.simhashNearDupsSql(docs, "doc_id", "text", 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"pigeonhole=${got.size} brute=${brute.size}")
  }

  test("bm25: ranked results are term-matched docs in strict score order") {
    val out = graft.queries.PipelineQueries.queries("d24_bm25")(spark, sf).collect()
    assert(out.nonEmpty)
    val terms = Map(
      1 -> Set("spark", "window", "agg"),
      2 -> Set("hash", "join", "table"),
      3 -> Set("stream", "batch", "sort"))
    val text = docs.collect().map(r => r.getLong(0) -> r.getString(1).toLowerCase
      .split("\\s+").toSet).toMap
    out.groupBy(_.getInt(0)).foreach { case (qid, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      byRank.foreach { r =>
        assert(text(r.getLong(2)).intersect(terms(qid)).nonEmpty,
          s"doc ${r.getLong(2)} matches no term of query $qid")
      }
      val scores = byRank.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"scores not descending for $qid: ${scores.mkString(",")}")
    }
  }

  test("dup-ngram fraction: bounded in [0,1] and exact for a planted duplicate") {
    val base = docs.limit(50)
    val dup = base.filter(col("doc_id") === 0).withColumn("doc_id", lit(100000L))
    val planted = base.union(dup)
    val out = graft.queries.PipelineQueries.queries("d25_dup_ngram_frac")(
        spark, sf) // smoke: real table bounds
      .collect()
    out.foreach { r =>
      val frac = r.getDouble(3)
      assert(frac >= 0.0 && frac <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
    // a verbatim copy makes EVERY ngram of the copied doc duplicated
    val ng = planted.select(col("doc_id"),
        explode(expr("array_distinct(transform(sequence(1, greatest(size(filter(split(lower(text), '\\\\s+'), x -> x != '')) - 4, 1), 1), " +
          "i -> array_join(slice(filter(split(lower(text), '\\\\s+'), x -> x != ''), i, 5), ' ')))")).as("ng"))
    val df5 = ng.groupBy("ng").agg(count(lit(1)).as("df"))
    val frac0 = ng.join(df5, "ng").filter(col("doc_id").isin(0L, 100000L))
      .groupBy("doc_id")
      .agg((sum(when(col("df") > 1, 1).otherwise(0)) * 1.0 / count(lit(1))).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(frac0(0L) == 1.0 && frac0(100000L) == 1.0)
  }

  test("dsir weights: target-domain docs score higher on average than the rest") {
    val out = graft.queries.PipelineQueries.queries("d26_dsir_weights")(spark, sf)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source").isin("src0", "src1").as("is_target"), col("dsir_weight"))
      .groupBy("is_target").agg(avg(col("dsir_weight")).as("w"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // the LLR is trained ON these targets: their mean must exceed the rest
    assert(out(true) > out(false), out.toString)
  }

  test("semantic dedup: greedy id-ordered keep within clusters, exact reference") {
    val out = Ann.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.35, k = 4, iters = 3)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getBoolean(2)))).toMap
    assert(out.size == emb.count(), "every vector gets a verdict")
    // reference: recompute the greedy rule per cluster from exact cosine
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCluster = out.toSeq.groupBy(_._2._1)
    for ((_, members) <- byCluster; (id, (_, kept)) <- members) {
      val expectDropped = members.exists { case (other, _) =>
        other < id && cos(vecs(other), vecs(id)) >= 0.35 }
      assert(kept == !expectDropped, s"vec $id")
    }
    // the synthetic corpus plants near-dups: some row must actually drop
    assert(out.values.exists(!_._2), "planted near-dups should be pruned")
  }

  test("boilerplate prune: dropped paragraphs occur in >= 3 docs; kept never do") {
    val out = graft.queries.CurationQueries.queries("d46_boilerplate_prune")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // frequency ground truth recomputed from the same paragraph windows
    val paras = docs.withColumn("toks", split(col("text"), "\\s+"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, CAST(ceil(size(toks) / 10.0) AS INT) - 1), " +
          "i -> array_join(slice(toks, i * 10 + 1, 10), ' '))")).as("para"))
    val freq = paras.groupBy("para")
      .agg(countDistinct(col("doc_id")).as("nd")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = paras.collect().groupBy(_.getLong(0)).map { case (id, rs) =>
      id -> (rs.length.toLong, rs.count(r => freq(r.getString(1)) < 3).toLong)
    }
    assert(out == expected)
    assert(out.exists { case (_, (n, kept)) => kept < n }, "threshold should prune something")
  }

  test("ppl buckets: tercile sizes partition the corpus, head holds the best scores") {
    val rows = graft.queries.CurationQueries.queries("d47_ppl_buckets")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val n = rows.length
    val k1 = math.ceil(n / 3.0).toLong
    val k2 = math.ceil(n * 2 / 3.0).toLong
    val sizes = rows.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    assert(sizes("head") == k1 && sizes("middle") == k2 - k1 && sizes("tail") == n - k2, sizes.toString)
    // every head score beats (or ties at the boundary) every tail score
    val worstHead = rows.filter(_._3 == "head").map(_._2).min
    val bestTail = rows.filter(_._3 == "tail").map(_._2).max
    assert(worstHead >= bestTail, s"head floor $worstHead < tail ceiling $bestTail")
  }

  test("calibration bins: counts partition the corpus, mean_p lies inside each bin") {
    val bins = graft.queries.CurationQueries.queries("d48_calibration")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(bins.map(_._2).sum == docs.count())
    bins.foreach { case (bin, _, meanP) =>
      val lo = bin / 10.0
      val hi = if (bin == 9) 1.0 + 1e-9 else (bin + 1) / 10.0
      assert(meanP >= lo - 1e-9 && meanP < hi, s"bin $bin mean_p $meanP")
    }
  }

  test("attribution: credited value equals the value of every touched purchase") {
    import org.apache.spark.sql.expressions.Window
    val out = graft.queries.EventQueries.queries("q123_attribution")(spark, sf)
      .agg(sum(col("attributed_value"))).collect()(0).getDouble(0)
    // ground truth: sum of purchase values whose journey saw >= 1 touch
    val raw = Tables.events(spark, sf)
    val tusExpr = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    val ev = raw.withColumn("tus", tusExpr)
      .withColumn("is_p", when(col("event_type") === "purchase", 1).otherwise(0))
    val wu = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = ev.withColumn("grp", sum(col("is_p")).over(wu) - col("is_p"))
    val touched = g.filter(col("event_type").isin("view", "click"))
      .select("user_id", "grp").distinct()
    val expected = g.filter(col("is_p") === 1)
      .join(touched, Seq("user_id", "grp"), "left_semi")
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs(out - expected) < 1e-2, s"credited $out vs purchases $expected")
  }

  test("dedup sweep: pair counts are threshold-monotone and agree with the pair operator") {
    val rows = graft.queries.CurationQueries.queries("d49_dedup_sweep")(spark, sf)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0.3, 0.5, 0.7))
    assert(rows.sliding(2).forall { case Array(lo, hi) => lo._2 >= hi._2 && lo._3 >= hi._3 })
    rows.foreach { case (_, nPairs, nDocs) => assert(nDocs <= 2 * nPairs) }
    // the 0.5 row must equal the pair operator the sweep tunes
    val opPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5, 2, 1000000).count()
    assert(rows.find(_._1 == 0.5).get._2 == opPairs)
  }

  test("quality psi: bins partition both halves; terms match a driver recompute") {
    val out = graft.queries.CurationQueries.queries("d69_quality_psi")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val nA = docs.filter(col("doc_id") % 2 === 0).count()
    val nB = docs.count() - nA
    assert(out.map(_._2).sum == nA && out.map(_._3).sum == nB)
    out.foreach { case (bin, ca, cb, psi) =>
      assert(bin >= 0 && bin <= 9)
      if (ca > 0 && cb > 0) {
        val pa = ca.toDouble / nA
        val pb = cb.toDouble / nB
        val raw = (pa - pb) * math.log(pa / pb)
        assert(psi.isDefined && math.abs(psi.get - raw) < 1e-8,
          s"bin $bin: ${psi} vs $raw")
        assert(psi.get >= 0.0, s"PSI term negative at bin $bin")
      } else assert(psi.isEmpty, s"bin $bin should be NULL")
    }
  }

  test("embedding drift: cosine bounded, half sizes partition each label") {
    val out = graft.queries.CurationQueries.queries("e23_embedding_drift")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val labelCounts = emb.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out.map(_._1).toSet == labelCounts.keySet)
    out.foreach { case (label, na, nb, cos) =>
      assert(na + nb == labelCounts(label))
      // near-zero-centered synthetic embeddings leave the half-mean
      // DIRECTION noisy, so only the Cauchy-Schwarz bound is invariant
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9, s"label $label cos $cos")
    }
  }

  test("drift chi2: bins partition the stream, contributions non-negative") {
    val out = graft.queries.EventQueries.queries("q124_drift_chi2")(spark, sf).collect()
    val total = Tables.events(spark, sf).count()
    assert(out.map(r => r.getLong(1) + r.getLong(2)).sum == total)
    out.foreach { r =>
      if (!r.isNullAt(3)) assert(r.getDouble(3) >= 0.0)
    }
  }

  test("cluster purity: sizes partition the corpus, purity consistent with the contingency table") {
    val out = graft.queries.CurationQueries.queries("e24_cluster_purity")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.map(_._2).sum == emb.count())
    // recompute the contingency table directly from the assignments
    val ct = graft.ann.KMeans.lloydAssignments(emb, "vec_id", "embedding", k = 4, iters = 3)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy("cluster", "label").count().collect()
      .groupBy(_.getInt(0)).view
      .mapValues(_.map(r => r.getInt(1) -> r.getLong(2)).toMap).toMap
    out.foreach { case (cluster, n, topLabel, purity) =>
      val hist = ct(cluster)
      assert(hist.values.sum == n)
      val bestCnt = hist.values.max
      assert(hist(topLabel) == bestCnt, s"cluster $cluster top label")
      assert(math.abs(purity - bestCnt.toDouble / n) < 1e-6)
      assert(purity >= 1.0 / hist.size - 1e-9 && purity <= 1.0 + 1e-9)
    }
  }

  test("snapshot diff: status counts match the planted edit/drop/add rates exactly") {
    val byStatus = graft.queries.CurationQueries.queries("d50_snapshot_diff")(spark, sf)
      .collect().groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    assert(byStatus("removed") == ids.count(_ % 11 == 0))
    assert(byStatus("added") == ids.count(_ % 13 == 0))
    assert(byStatus("changed") == ids.count(i => i % 7 == 0 && i % 11 != 0))
    assert(byStatus.values.sum == ids.length + ids.count(_ % 13 == 0))
  }

  test("lsh radius sweep: wider probes never lose candidates or recall") {
    val rows = graft.queries.CurationQueries.queries("e25_lsh_radius_sweep")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0, 1))
    val Seq(r0, r1) = rows.toSeq
    assert(r1._2 >= r0._2, "radius-1 candidate set must contain radius-0's")
    assert(r1._3 >= r0._3 && r1._4 >= r0._4, "recall is monotone in probe radius")
    rows.foreach { case (_, _, hits, recall) =>
      assert(recall >= 0.0 && recall <= 1.0 && hits <= 25)
    }
  }

  test("top eigvec: unit norm, and power iteration actually aligned with the gram's action") {
    val v = graft.queries.CurationQueries.queries("e26_top_eigvec")(spark, sf)
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    assert(v.length == 64)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 0.01, "components should be unit-norm")
    // recompute the quantized gram locally and check the returned vector
    // is (near-)invariant under it — cos(Gv, v) ≈ 1 for a converged top
    // eigendirection (3 iterations: demand > 0.9)
    val qs = emb.select(col("embedding")).collect().map(
      _.getSeq[Float](0).map(f => math.floor(f * 1024.0).toLong).toArray)
    val g = Array.ofDim[Double](64, 64)
    for (q <- qs; i <- 0 until 64; j <- 0 until 64) g(i)(j) += q(i).toDouble * q(j)
    val gv = (0 until 64).map(i => (0 until 64).map(j => g(i)(j) * v(j)).sum).toArray
    val cos = gv.zip(v).map { case (a, b) => a * b }.sum /
      (math.sqrt(gv.map(x => x * x).sum) * math.sqrt(v.map(x => x * x).sum))
    assert(cos > 0.9, s"cos(Gv, v) = $cos — power iteration did not align")
  }

  test("ngram novelty: first doc is fully novel, ratios bounded, repeats depress novelty") {
    val rows = graft.queries.CurationQueries.queries("d52_ngram_novelty")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val first = rows.minBy(_._1)
    assert(first._2 == first._3 && first._4 == 1.0, "earliest doc must be fully novel")
    rows.foreach { case (id, n, novel, ratio) =>
      assert(novel <= n && ratio > 0.0 - 1e-9 && ratio <= 1.0, s"doc $id")
    }
    // the corpus plants near-dups, so SOME later doc must lose novelty
    assert(rows.exists(_._4 < 1.0), "planted duplicates should depress novelty")
  }

  test("frame sampling: stride-4 sample sizes match the stub layout") {
    val media = Multimodal.fromDocuments(spark, docs)
    val sampled = Multimodal.frameSample(media, 4)
    val perVideo = sampled.join(media.toDF().select(col("media_id"), col("kind"), length(col("content")).as("len")), "media_id")
      .filter(col("kind") === "video")
      .groupBy("media_id", "len").agg(count(lit(1)).as("n")).collect()
    perVideo.foreach { r =>
      val n = 1 + r.getAs[Int]("len") / 64
      val expected = (0 until n by 4).size
      assert(r.getLong(2) == expected, s"media ${r.getLong(0)}")
    }
  }
}
