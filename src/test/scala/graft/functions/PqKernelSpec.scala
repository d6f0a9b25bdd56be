package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.ann.{Ann, AnnKernels}
import graft.zeek.SharedSpark

/** The PQ / IVF-PQ / SQ8 kernels ([[graft.ann.AnnKernels]]) replaced the
  * per-row ScalaUDF closures of round ≤14. Contract: BIT-IDENTICAL
  * results (the operators they serve are verification-pinned at four
  * scale factors). This spec keeps the retired closures alive as test
  * oracles — reimplemented verbatim below — and drives every kernel
  * through both engines (interpreted `Expression.eval` and a codegen'd
  * DataFrame projection), plus plan pins proving the five operators are
  * UDF-free.
  *
  * The ONE documented deviation (AnnKernels scaladoc): dimension
  * mismatch returns NULL (row dropped) where the closures crashed the
  * task with an out-of-bounds read — asserted here, not compared.
  */
class PqKernelSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val dims = 64
  private val rnd = new scala.util.Random(9173L)
  private def vec(): Array[Float] = Array.fill(dims)((rnd.nextFloat() - 0.5f) * 2f)
  private lazy val vecs: Seq[Array[Float]] = (1 to 150).map(_ => vec()) ++
    (1 to 30).map(_ => Array.fill(dims)((rnd.nextFloat() - 0.5f) * 1e-4f))

  // a small trained float codebook + centroids, like pqCodebooks/lloyd
  // would produce (values don't matter for equivalence — only that both
  // implementations see the same ones)
  private val m = 4; private val ksub = 8; private val subDim = dims / m
  private val nLists = 8
  private lazy val booksF: Array[Array[Array[Float]]] =
    Array.tabulate(m, ksub, subDim)((s, c, d) => ((s * 31 + c * 7 + d) % 17 - 8) / 8.0f +
      (rnd.nextFloat() - 0.5f))
  private lazy val centsF: Array[Array[Float]] =
    Array.tabulate(nLists, dims)((c, d) => ((c * 13 + d) % 11 - 5) / 5.0f + (rnd.nextFloat() - 0.5f))
  private lazy val booksL: Array[Array[Array[Long]]] =
    Array.tabulate(m, ksub, subDim)((s, c, d) => Ann.pqFixedCentroid(s, c, d))
  private lazy val centsL: Array[Array[Long]] =
    Array.tabulate(nLists, dims)((c, d) => Ann.ivfFixedCentroid(c, d))

  private def flatF(b: Array[Array[Array[Float]]]): Array[Float] = b.flatten.flatten
  private def flatF2(b: Array[Array[Float]]): Array[Float] = b.flatten
  private def flatL(b: Array[Array[Array[Long]]]): Array[Long] = b.flatten.flatten
  private def flatL2(b: Array[Array[Long]]): Array[Long] = b.flatten

  // ---- retired closures, verbatim (Ann.scala as of round 14) ----------

  private def subDist(v: Array[Float], cent: Array[Float], offset: Int): Double = {
    var d2 = 0.0; var d = 0
    while (d < cent.length) { val diff = v(offset + d).toDouble - cent(d); d2 += diff * diff; d += 1 }
    d2
  }
  private def encodeCodes(arr: Array[Float], books: Array[Array[Array[Float]]]): Array[Int] =
    Array.tabulate(books.length) { s =>
      val cs = books(s); val offset = s * cs(0).length
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cs.length) {
        val d2 = subDist(arr, cs(c), offset)
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      best
    }
  private def distTable(arr: Array[Float], books: Array[Array[Array[Float]]]): Array[Array[Double]] =
    books.zipWithIndex.map { case (cs, s) =>
      val offset = s * cs(0).length
      cs.map(c => subDist(arr, c, offset))
    }
  private def nearestCentroid(v: Array[Float], cs: Array[Array[Float]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      val cv = cs(c); var d2 = 0.0; var d = 0
      val n = math.min(v.length, cv.length)
      while (d < n) { val diff = v(d) - cv(d); d2 += diff * diff; d += 1 }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }
  private def probeList(v: Array[Float], cs: Array[Array[Float]], nProbe: Int): Array[Int] =
    cs.indices.map { c =>
      val cv = cs(c); var d2 = 0.0; var d = 0
      val n = math.min(v.length, cv.length)
      while (d < n) { val diff = v(d) - cv(d); d2 += diff * diff; d += 1 }
      (c, d2)
    }.sortBy(_._2).take(nProbe).map(_._1).toArray
  private def residualF(v: Array[Float], c: Array[Float]): Array[Float] =
    Array.tabulate(v.length)(d => v(d) - c(d))
  private def quantQ(v: Seq[Float]): Array[Long] =
    Array.tabulate(dims)(d => math.floor(v(d).toDouble * 1024.0).toLong)
  private def subD2Q(rv: Array[Long], books: Array[Array[Array[Long]]], s: Int, c: Int): Long = {
    var d = 0; var d2 = 0L
    while (d < subDim) { val diff = rv(s * subDim + d) - books(s)(c)(d); d2 += diff * diff; d += 1 }
    d2
  }
  private def cellOfQ(q: Array[Long]): Int = {
    var best = 0; var bestD = Long.MaxValue; var c = 0
    while (c < nLists) {
      var d2 = 0L; var d = 0
      while (d < dims) { val x = q(d) - centsL(c)(d); d2 += x * x; d += 1 }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }
  private def encodeQ(rv: Array[Long]): Array[Int] =
    Array.tabulate(m) { s =>
      var best = 0; var bestD = Long.MaxValue; var c = 0
      while (c < ksub) {
        val d2 = subD2Q(rv, booksL, s, c)
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      best
    }
  private def sq8Enc(v: Seq[Float]): Array[Long] =
    v.map(x => math.max(-128L, math.min(127L, math.floor(x.toDouble * 256.0).toLong))).toArray

  // ---- helpers ---------------------------------------------------------

  private def lit(v: Array[Float]) =
    Literal.create(v, ArrayType(FloatType, containsNull = false))
  private def ints(a: Any): Seq[Int] = a.asInstanceOf[ArrayData].toIntArray().toSeq
  private def longs(a: Any): Seq[Long] = a.asInstanceOf[ArrayData].toLongArray().toSeq
  private def nestedL(a: Any): Seq[Seq[Long]] = {
    val arr = a.asInstanceOf[ArrayData]
    (0 until arr.numElements()).map(i => arr.getArray(i).toLongArray().toSeq)
  }
  private def nestedD(a: Any): Seq[Seq[Double]] = {
    val arr = a.asInstanceOf[ArrayData]
    (0 until arr.numElements()).map(i => arr.getArray(i).toDoubleArray().toSeq)
  }

  // ---- kernel equivalence (interpreted eval) ---------------------------

  test("PqEncodeKernel/PqTableKernel (float + quantized) ≡ retired closures") {
    val encF = new AnnKernels.PqEncodeKernel(flatF(booksF), null, m, ksub, subDim)
    val tabF = new AnnKernels.PqTableKernel(flatF(booksF), null, m, ksub, subDim)
    val encQ = new AnnKernels.PqEncodeKernel(null, flatL(booksL), m, ksub, subDim)
    val tabQ = new AnnKernels.PqTableKernel(null, flatL(booksL), m, ksub, subDim)
    for (v <- vecs) {
      assert(ints(AnnKernelExpr(lit(v), encF).eval(null)).toArray.sameElements(encodeCodes(v, booksF)))
      assert(nestedD(AnnKernelExpr(lit(v), tabF).eval(null)) ==
        distTable(v, booksF).map(_.toSeq).toSeq)
      // quantized twin closures (pqTopKQuantized)
      val q = quantQ(v.toSeq)
      val expEncQ = Array.tabulate(m) { s =>
        var best = 0; var bestD = Long.MaxValue; var c = 0
        while (c < ksub) {
          var d2 = 0L; var d = 0
          while (d < subDim) { val diff = q(s * subDim + d) - booksL(s)(c)(d); d2 += diff * diff; d += 1 }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        best
      }
      assert(ints(AnnKernelExpr(lit(v), encQ).eval(null)).toArray.sameElements(expEncQ))
      val expTabQ = Array.tabulate(m, ksub) { (s, c) =>
        var d2 = 0L; var d = 0
        while (d < subDim) { val diff = q(s * subDim + d) - booksL(s)(c)(d); d2 += diff * diff; d += 1 }
        d2
      }
      assert(nestedL(AnnKernelExpr(lit(v), tabQ).eval(null)) == expTabQ.map(_.toSeq).toSeq)
    }
    // dimension mismatch → NULL (closures crashed; documented deviation)
    assert(AnnKernelExpr(lit(Array.fill(dims - 1)(0.1f)), encF).eval(null) == null)
    assert(AnnKernelExpr(lit(Array.fill(dims - 1)(0.1f)), tabQ).eval(null) == null)
  }

  test("IvfCellKernel / IvfProbeKernel / IvfPqCodes / IvfPqTable ≡ retired closures") {
    val cellF = new AnnKernels.IvfCellKernel(flatF2(centsF), null, nLists, dims)
    val probeF = new AnnKernels.IvfProbeKernel(flatF2(centsF), nLists, dims, 4)
    val codesF = new AnnKernels.IvfPqCodesKernel(flatF2(centsF), null, flatF(booksF), null, m, ksub, subDim, dims)
    val tableF = new AnnKernels.IvfPqTableKernel(flatF2(centsF), null, flatF(booksF), null, m, ksub, subDim, dims)
    val cellQ = new AnnKernels.IvfCellKernel(null, flatL2(centsL), nLists, dims)
    val codesQ = new AnnKernels.IvfPqCodesKernel(null, flatL2(centsL), null, flatL(booksL), m, ksub, subDim, dims)
    val tableQ = new AnnKernels.IvfPqTableKernel(null, flatL2(centsL), null, flatL(booksL), m, ksub, subDim, dims)
    for (v <- vecs) {
      val cell = nearestCentroid(v, centsF)
      assert(AnnKernelExpr(lit(v), cellF).eval(null) == cell)
      assert(ints(AnnKernelExpr(lit(v), probeF).eval(null)).toArray.sameElements(
        probeList(v, centsF, 4)))
      // float residual encode + per-cell table, at the assigned cell and
      // at an arbitrary probed one
      for (c <- Seq(cell, (cell + 3) % nLists)) {
        val rv = residualF(v, centsF(c))
        assert(ints(AnnKernelExpr2(lit(v), Literal(c), codesF).eval(null)).toArray
          .sameElements(encodeCodes(rv, booksF)), s"codesF cell=$c")
        assert(nestedD(AnnKernelExpr2(lit(v), Literal(c), tableF).eval(null)) ==
          distTable(rv, booksF).map(_.toSeq).toSeq, s"tableF cell=$c")
      }
      // quantized: cell, residual encode, per-cell table
      val q = quantQ(v.toSeq)
      val qcell = cellOfQ(q)
      assert(AnnKernelExpr(lit(v), cellQ).eval(null) == qcell)
      val rvq = Array.tabulate(dims)(d => q(d) - centsL(qcell)(d))
      assert(ints(AnnKernelExpr2(lit(v), Literal(qcell), codesQ).eval(null)).toArray
        .sameElements(encodeQ(rvq)))
      for (c <- 0 until nLists) {
        val rv = Array.tabulate(dims)(d => q(d) - centsL(c)(d))
        val exp = Array.tabulate(m, ksub)((s, cc) => subD2Q(rv, booksL, s, cc))
        assert(nestedL(AnnKernelExpr2(lit(v), Literal(c), tableQ).eval(null)) ==
          exp.map(_.toSeq).toSeq, s"tableQ cell=$c")
      }
    }
  }

  test("QuantizeKernel ≡ sq8 enc / ivfpq quant; probe ties keep the lower cell") {
    val sq8 = new AnnKernels.QuantizeKernel(256.0, -128L, 127L, 0)
    val q1024 = new AnnKernels.QuantizeKernel(1024.0, Long.MinValue, Long.MaxValue, dims)
    for (v <- vecs) {
      assert(longs(AnnKernelExpr(lit(v), sq8).eval(null)).toArray.sameElements(sq8Enc(v.toSeq)))
      assert(longs(AnnKernelExpr(lit(v), q1024).eval(null)).toArray.sameElements(quantQ(v.toSeq)))
    }
    // clamp actually engages
    val big = Array(10f, -10f, 0.49f, -0.51f)
    assert(longs(AnnKernelExpr(lit(big), sq8).eval(null)) == Seq(127L, -128L, 125L, -131L).map(
      x => math.max(-128L, math.min(127L, x))))
    // short vector with dims bound → NULL (the quantized twins' guard)
    assert(AnnKernelExpr(lit(Array.fill(dims - 1)(0.1f)), q1024).eval(null) == null)
    // probe tie-break: duplicate centroids → stable lower-cell-first order
    val twoSame = Array(centsF(0), centsF(0), centsF(1)).flatten
    val probeK = new AnnKernels.IvfProbeKernel(twoSame, 3, dims, 3)
    for (v <- vecs.take(10)) {
      val got = ints(AnnKernelExpr(lit(v), probeK).eval(null))
      val exp = probeList(v, Array(centsF(0), centsF(0), centsF(1)), 3).toSeq
      assert(got == exp, s"tie probe: got $got expected $exp")
    }
  }

  test("AdcSum ≡ retired adcUdf closures (double + long), both engines") {
    import spark.implicits._
    val tabs = vecs.take(40).map(v => distTable(v, booksF))
    val codes = vecs.take(40).map(v => encodeCodes(v, booksF))
    val df = tabs.zip(codes).zipWithIndex
      .map { case ((t, c), i) => (i, t.map(_.toSeq).toSeq, c.toSeq) }
      .toDF("i", "tab", "codes")
    val got = df.select(col("i"), org.apache.spark.sql.graft.GraftSql.column(
        AdcSum(org.apache.spark.sql.graft.GraftSql.expression(col("tab")),
          org.apache.spark.sql.graft.GraftSql.expression(col("codes")), longMode = false)).as("adist"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for (((t, c), i) <- tabs.zip(codes).zipWithIndex) {
      var s = 0; var sum = 0.0
      while (s < c.length) { sum += t(s)(c(s)); s += 1 }
      assert(java.lang.Double.doubleToRawLongBits(got(i)) ==
        java.lang.Double.doubleToRawLongBits(sum), s"row $i")
    }
    // long mode through a DataFrame too
    val tq = vecs.take(20).map { v =>
      val q = quantQ(v.toSeq)
      Array.tabulate(m, ksub)((s, cc) => subD2Q(q, booksL, s, cc))
    }
    val cq = vecs.take(20).map(v => encodeQ(quantQ(v.toSeq)))
    val dfq = tq.zip(cq).zipWithIndex
      .map { case ((t, c), i) => (i, t.map(_.toSeq).toSeq, c.toSeq) }
      .toDF("i", "tab", "codes")
    val gotQ = dfq.select(col("i"), org.apache.spark.sql.graft.GraftSql.column(
        AdcSum(org.apache.spark.sql.graft.GraftSql.expression(col("tab")),
          org.apache.spark.sql.graft.GraftSql.expression(col("codes")), longMode = true)).as("adist"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    for (((t, c), i) <- tq.zip(cq).zipWithIndex) {
      var s = 0; var sum = 0L
      while (s < c.length) { sum += t(s)(c(s)); s += 1 }
      assert(gotQ(i) == sum, s"long row $i")
    }
  }

  // ---- codegen parity: kernels through an executed DataFrame -----------

  test("kernels return identical values through whole-stage codegen") {
    import spark.implicits._
    val encF = new AnnKernels.PqEncodeKernel(flatF(booksF), null, m, ksub, subDim)
    val cellF = new AnnKernels.IvfCellKernel(flatF2(centsF), null, nLists, dims)
    val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
    def kc(k: AnnKernel, c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graft.GraftSql.column(
        AnnKernelExpr(org.apache.spark.sql.graft.GraftSql.expression(c), k))
    val out = df.select(col("i"), kc(encF, col("v")).as("codes"), kc(cellF, col("v")).as("cell"))
    out.collect().foreach { r =>
      val v = vecs(r.getInt(0))
      assert(r.getSeq[Int](1).toArray.sameElements(encodeCodes(v, booksF)))
      assert(r.getInt(2) == nearestCentroid(v, centsF))
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan.take(1200))
  }

  // ---- operator-level plan pins: the five rewritten operators ----------

  test("tiny corpora (fewer vectors than ksub/nLists) and double vectors still work") {
    // lloyd caps centroids at the sample size, so a 5-vector corpus
    // trains 5 codes per subspace against the default ksub of 8/32 —
    // the kernels must stride by the TRAINED shape (the retired
    // closures iterated cs.length; a declared-ksub stride read past
    // the flattened codebook and crashed the task)
    val emb = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 5)
    val qs = emb.filter(col("vec_id") < 2)
    for ((name, df) <- Seq(
        "pqTopK" -> Ann.pqTopK(emb, qs, "vec_id", "embedding", k = 2),
        "pqTopKRefined" -> Ann.pqTopKRefined(emb, qs, "vec_id", "embedding", k = 2),
        "ivfPqTopK" -> Ann.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 2))) {
      val rows = df.collect()
      assert(rows.nonEmpty, s"$name on a 5-vector corpus returned no rows")
    }
    // double-element vectors coerce through an analyzer cast, like the
    // retired Seq[Float] closures did (vector-API contract)
    import spark.implicits._
    val dd = (0L until 40L).map(i =>
      (i, Array.fill(dims)((new scala.util.Random(i).nextDouble() - 0.5) * 2)))
      .toDF("vec_id", "embedding")
    val qd = dd.filter(col("vec_id") < 2)
    assert(Ann.pqTopK(dd, qd, "vec_id", "embedding", k = 2).collect().nonEmpty)
    assert(Ann.sq8TopK(dd, qd, "vec_id", "embedding", k = 2).collect().nonEmpty)
    assert(Ann.ivfPqTopKQuantized(dd, qd, "vec_id", "embedding", k = 2).collect().nonEmpty)
  }

  test("pq/ivfpq/sq8 operators plan UDF-free end to end") {
    val emb = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = emb.filter(col("vec_id") < 3)
    val ops = Seq(
      "pqTopK" -> Ann.pqTopK(emb, qs, "vec_id", "embedding", k = 3),
      "pqTopKQuantized" -> Ann.pqTopKQuantized(emb, qs, "vec_id", "embedding", k = 3),
      "ivfPqTopK" -> Ann.ivfPqTopK(emb, qs, "vec_id", "embedding", k = 3),
      "ivfPqTopKQuantized" -> Ann.ivfPqTopKQuantized(emb, qs, "vec_id", "embedding", k = 3),
      "sq8TopK" -> Ann.sq8TopK(emb, qs, "vec_id", "embedding", k = 3))
    for ((name, df) <- ops) {
      val rows = df.collect()
      assert(rows.nonEmpty, s"$name returned no rows")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("UDF"), s"$name still carries a UDF:\n" + plan.take(1500))
    }
  }
}
