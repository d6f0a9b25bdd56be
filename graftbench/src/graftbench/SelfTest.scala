package graftbench

import java.io.File

/** Checks of the harness itself: the same seed gives byte-identical
  * corpora and answers (another seed does not), and the tail picker
  * leaves at least ten samples beyond the reported percentile. */
object SelfTest {
  def run(work: File): Unit = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(what: String)(ok: Boolean): Unit = if (!ok) failures += what

    def scan(dir: String, seed: Long) = {
      val root = new File(work, dir)
      val ans = Corpus.writeScan(root, seed, Harness.ProbeSizes) ++ Corpus.writeBig(root, seed, 5000)
      (Corpus.fingerprint(root), ans)
    }
    val (fa, aa) = scan("a", 11)
    val (fb, ab) = scan("b", 11)
    val (fc, ac) = scan("c", 12)
    check("same seed, same corpus bytes")(fa == fb)
    check("same seed, same answers")(aa == ab)
    check("another seed, other corpus bytes")(fa != fc)
    check("another seed, other answers")(aa != ac)

    val rnd = new scala.util.Random(5)
    for (n <- 1 to 400) {
      val xs = rnd.shuffle((1 to n).map(_.toDouble)).sorted
      val (i, pct) = Harness.tailOf(n)
      val beyond = xs.count(_ > xs(i))
      if (n > 10) {
        check(s"n=$n: at least ten samples beyond the tail")(beyond >= 10)
        check(s"n=$n: the next sample up has fewer than ten beyond")(
          i + 1 >= n || xs.count(_ > xs(i + 1)) < 10)
      } else check(s"n=$n: largest sample when no percentile qualifies")(i == n - 1)
      check(s"n=$n: percentile in (0, 100]")(pct > 0 && pct <= 100)
    }
    println(Json.obj(Seq("selftest" -> (if (failures.isEmpty) "ok" else "failed"),
      "corpus_sha256" -> fa, "failures" -> failures.toSeq)))
    if (failures.nonEmpty) sys.exit(1)
  }
}
