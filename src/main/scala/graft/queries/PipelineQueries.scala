package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.TextFunctions
import graft.dedup.{Dedup, DedupClusters}
import graft.ann.Ann
import graft.multimodal.Multimodal

/** Training-data pipeline operators over the documents / embeddings
  * tables: text analysis, deduplication (exact / MinHash / SimHash /
  * n-gram Jaccard), similarity search (brute-force + LSH), multimodal
  * plumbing. Oracle SQL twins exist wherever the computation is
  * ANSI-SQL-expressible with bit-identical semantics; hash/sketch-based
  * ops are rows-only (driver's weaker check) but internally verified by
  * ScalaTest against exact recomputation.
  */
object PipelineQueries {

  private[queries] val stopList = TextFunctions.DefaultStopwords.map(s => s"'$s'").mkString(", ")

  /** DuckDB twin of [[TextFunctions.qualityScore]] — shared by the d02
    * oracle, the d14 cleaned-corpus filter, and d48's label rule. */
  private[queries] def qualitySql(textCol: String): String =
    s"""least(greatest(
       |   (least(len(string_split_regex($textCol, '\\s+')), 200) * 1.0 / 200.0) * 0.5
       |   + (len(list_filter(string_split_regex($textCol, '\\s+'), w -> w IN ($stopList))) * 1.0
       |      / len(string_split_regex($textCol, '\\s+'))) * 0.3
       |   + (1.0 - (length($textCol) - length(regexp_replace($textCol, '[.,;:!?]', '', 'g'))) * 1.0
       |      / greatest(length($textCol), 1)) * 0.2, 0.0), 1.0)""".stripMargin

  /** d09's cluster construction — the recursive-CTE transitive closure
    * over the exact bigram-Jaccard near-dup pair graph, through the
    * per-doc min-reachable-id label `lab(id, cluster)`. Shared WITH body
    * of the d09 / d34 / d40 oracles. */
  /** Constant id-prefix bound for the dXXs sliced oracle twins (see the
    * block comment at d09s): 25k docs ≈ half the sf1 corpus, where the
    * recursive-closure oracles are proven feasible, and a constant
    * fraction of nothing at 100 TB. At SF ≤ 0.1 it covers every doc, so
    * the twins equal their full queries at the gate SFs. */
  private[queries] val SliceBound = 25000L

  private def slicedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < SliceBound)

  // ---- shared bodies for each full query + its dXXs sliced twin ------
  // The Spark-side counterpart of the derived-oracle guarantee: ONE
  // body, two document sources — an edit to the operator cannot drift
  // the twin into vouching for different semantics than the full row.

  private def d09Body(docs: DataFrame): DataFrame =
    DedupClusters.nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
      .orderBy(col("doc_id"))

  /** lang = en first (a plain pushable column filter — reaches the
    * parquet scan), then the quality score computed ONCE in an
    * EvalOnce-pinned projection and filtered on the materialized value.
    * The previous `.filter(qualityScore(text) >= 0.35)` form put the
    * whole score expression in the Filter, where its three
    * text_stats(text) field-extracts are each generated separately
    * (FilterExec has no cross-conjunct subexpression elimination) — 3×
    * the fused kernel per row; a projection CSEs them to one. Inner
    * filters commute, so the row set is identical. */
  private def cleanDocs(docs: DataFrame): DataFrame =
    docs.filter(col("lang") === "en")
      .withColumn("__st", graft.functions.EvalOnce(
        TextFunctions.textStats(col("text"))))
      .filter(TextFunctions.qualityScoreFrom(col("__st"), col("text")) >= 0.35)
      .drop("__st")

  private def d14Body(docs: DataFrame): DataFrame = {
    val clusters = DedupClusters.nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
    cleanDocs(docs).join(clusters, "doc_id")
      .filter(col("doc_id") === col("cluster")) // near-dup cluster survivor
      .select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  private def d28Body(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = DedupClusters.nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
    val clean = cleanDocs(docs).join(clusters, "doc_id")
      .filter(col("doc_id") === col("cluster")) // see cleanDocs: same rows, 1× text_stats
      .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
    val keyed = clean
      .withColumn("skey", md5(concat(lit("epoch0:"), col("doc_id").cast(StringType))))
      .withColumn("shard", (ascii(substring(col("skey"), 1, 1)) % 4).cast(IntegerType))
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, -1)
    keyed
      .withColumn("pos", row_number().over(w))
      .withColumn("bin", floor(coalesce(sum(col("n_tokens")).over(cum), lit(0)) / 1024.0).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"), col("bin"), col("n_tokens"))
      .orderBy(col("shard"), col("pos"))
  }

  private def d34Body(docs: DataFrame): DataFrame =
    DedupClusters.nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
      .withColumn("h", ascii(substring(md5(col("cluster").cast("string")), 1, 1)) % 10)
      .withColumn("split",
        when(col("h") < 8, "train").when(col("h") === 8, "val").otherwise("test"))
      .select(col("doc_id"), col("cluster"), col("split"))
      .orderBy(col("doc_id"))

  private def d40Body(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = DedupClusters.nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
    val q = docs.select(col("doc_id"),
      round(TextFunctions.classifierLogit(col("text")), 6).as("quality"))
    val w = Window.partitionBy(col("cluster")).orderBy(desc("quality"), col("doc_id"))
    clusters.join(q, "doc_id")
      .withColumn("canonical", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        col("quality"), col("canonical"))
      .orderBy(col("doc_id"))
  }

  private def d66Body(docs: DataFrame): DataFrame = {
    // cut: the clustering (MinHash + components) backs the histogram
    // AND the corpus totals
    val cl = graft.operators.Lineage.cut(
      DedupClusters.nearDupClusters(docs, "doc_id", "text", threshold = 0.5))
    val hist = cl.groupBy(col("cluster_size"))
      .agg(countDistinct(col("cluster")).as("n_clusters"))
    val stats = cl.agg(count(lit(1)).as("n_docs"),
      countDistinct(col("cluster")).as("n_clusters_total"))
    hist.crossJoin(broadcast(stats))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs_at_size"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"),
        col("n_docs"),
        (col("n_docs") - col("n_clusters_total")).as("total_removable"))
      .orderBy(col("cluster_size"))
  }

  private val clusterCtes: String =
    """WITH RECURSIVE w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
      |bg AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END AS bgs FROM w),
      |e AS (SELECT doc_id, unnest(bgs) AS s FROM bg),
      |sizes AS (SELECT doc_id, len(bgs) AS n FROM bg),
      |co AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
      |       FROM e x JOIN e y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT a, b FROM co JOIN sizes sa ON co.a = sa.doc_id
      |          JOIN sizes sb ON co.b = sb.doc_id
      |          WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5),
      |sym AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
      |reach AS (SELECT doc_id AS id, doc_id AS root FROM documents
      |          UNION
      |          SELECT s.dst AS id, r.root FROM reach r JOIN sym s ON s.src = r.id),
      |lab AS (SELECT id, min(root) AS cluster FROM reach GROUP BY id)""".stripMargin

  /** d17's PII patterns — restricted to the dialect subset shared by
    * java.util.regex (Spark codegen) and RE2 (the DuckDB oracle):
    * character classes, bounded repeats, \b. No backreferences or
    * lookaround, so both engines match identically. */
  private[queries] val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val PiiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[queries] val PiiIdRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** The deterministic ±1 hyperplane weights as a SQL VALUES list — the
    * e03b oracle reproduces the quantized LSH pipeline from the same
    * source of truth as the Spark side. */
  private[queries] def lshPlanesValues(nBits: Int, dims: Int): String =
    (for (p <- 0 until nBits; d <- 0 until dims)
      yield s"($p,$d,${if (Ann.planeWeight(p, d) > 0) 1 else -1})").mkString(",")

  /** e07/e07b's constant verification mutants: exact copies of the
    * first three vectors under shifted ids. An unchanged vector has an
    * identical LSH signature by construction (any nBits, either
    * signature variant) and cosine 1.0 against its source, so the
    * banded pair join must FIND these pairs at every SF — the nonzero-
    * rows guarantee (m07/m08 doctrine) that survives the recall
    * collapse of scaling nBits with the corpus. Constant 3 extra rows
    * at any SF (ScaleGen replica shifts keep vec_id < 3 unique).
    *
    * Mutant ids are shifted by max(vec_id) + 1 — collision-free BY
    * CONSTRUCTION at any corpus size (a fixed shift like 10⁹ collides
    * once ScaleGen's max+1 replica striding approaches it, corrupting
    * the a<b pair join identically on both engines, where the oracle
    * cannot see it). The max is a single column-pruned agg, broadcast
    * onto the constant-size mutant slice only. Mutant ids stay greater
    * than every real id, so pair orientation (a = original, b =
    * mutant) is unchanged. The oracle derives the same shift. */
  private def withEmbeddingMutants(emb: org.apache.spark.sql.DataFrame) = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val mx = base.agg(max(col("vec_id")).as("mx_shift"))
    base.union(base.filter(col("vec_id") < 3)
      .crossJoin(broadcast(mx))
      .select((col("vec_id") + col("mx_shift") + lit(1L)).as("vec_id"),
        col("embedding")))
  }

  /** The quantized-LSH top-k pipeline as a CTE chain ending in ranked
    * results `r` (query_id, neighbor_id, cos, rank) — shared by the e03b
    * twin and e22's retrieval-eval oracle. Also binds `emb`. */
  private def lshQuantTopKCtes: String =
    s"""WITH planes(p, d, wt) AS (VALUES ${lshPlanesValues(8, 64)}),
       |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |un AS (SELECT vec_id, CAST(t.i AS INT) - 1 AS d, e[CAST(t.i AS INT)] AS v
       |       FROM emb, range(1, 65) t(i)),
       |bits AS (SELECT un.vec_id, planes.p,
       |   CASE WHEN sum(planes.wt * CAST(floor(un.v * 1024) AS BIGINT)) > 0 THEN 1 ELSE 0 END AS b
       | FROM un JOIN planes ON un.d = planes.d GROUP BY un.vec_id, planes.p),
       |sig AS (SELECT vec_id, CAST(sum(b << p) AS INT) AS s FROM bits GROUP BY vec_id),
       |corpus AS (SELECT emb.vec_id AS neighbor_id, emb.e AS cv, sig.s AS bucket
       |           FROM emb JOIN sig ON emb.vec_id = sig.vec_id),
       |masks(m) AS (VALUES (0),(1),(2),(4),(8),(16),(32),(64),(128)),
       |q AS (SELECT emb.vec_id AS query_id, emb.e AS qe, xor(sig.s, masks.m) AS bucket
       |      FROM emb JOIN sig ON emb.vec_id = sig.vec_id CROSS JOIN masks
       |      WHERE emb.vec_id < 5),
       |scored AS (SELECT DISTINCT q.query_id, corpus.neighbor_id,
       |             list_cosine_similarity(q.qe, corpus.cv) AS cos
       |           FROM q JOIN corpus ON q.bucket = corpus.bucket
       |           WHERE q.query_id <> corpus.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |      FROM scored)""".stripMargin

  /** The deterministic PQ sub-centroids as a SQL VALUES list of
    * (subspace, code, GLOBAL dim, value) — e12b's oracle re-runs encode,
    * distance tables, and ADC from the same integers. */
  private def pqCentroidValues(m: Int, ksub: Int, dims: Int): String = {
    val subDim = dims / m
    (for (s <- 0 until m; c <- 0 until ksub; d <- 0 until subDim)
      yield s"($s,$c,${s * subDim + d},${Ann.pqFixedCentroid(s, c, d)})").mkString(",")
  }

  /** The deterministic IVF coarse centroids as a SQL VALUES list of
    * (cell, dim, value) — e13b's oracle re-runs coarse assignment from
    * the same integers. */
  private[queries] def ivfCentroidValues(nLists: Int, dims: Int): String =
    (for (c <- 0 until nLists; d <- 0 until dims)
      yield s"($c,$d,${Ann.ivfFixedCentroid(c, d)})").mkString(",")

  /** The deterministic RESIDUAL codebook as a SQL VALUES list of
    * (subspace, code, GLOBAL dim, value) for e13b's oracle. */
  private def ivfPqResidualValues(m: Int, ksub: Int, dims: Int): String = {
    val subDim = dims / m
    (for (s <- 0 until m; c <- 0 until ksub; d <- 0 until subDim)
      yield s"($s,$c,${s * subDim + d},${Ann.ivfPqResidualCentroid(s, c, d)})").mkString(",")
  }

  /** e19's oracle: the SAME integer-exact Lloyd's rounds as
    * [[graft.ann.KMeans.lloydAssignments]], unrolled as CTEs — k
    * smallest-id seeds, integer squared-L2, smallest-cid tiebreak,
    * floor-averaged updates, empty clusters keep the prior centroid. */
  private def kmeansOracle(k: Int, iters: Int, dims: Int): String =
    s"""${kmeansCtes(k, iters, dims)}
       |SELECT id AS vec_id, cid AS cluster, CAST(dist AS BIGINT) AS dist
       |FROM afinal ORDER BY vec_id""".stripMargin

  /** The full Lloyd's CTE chain (`WITH q …, c0 …, rounds …, afinal`) —
    * shared by the e19 oracle, e21's SemDeDup oracle, and e24's purity
    * oracle, which extend it with their own downstream joins. */
  private[queries] def kmeansCtes(k: Int, iters: Int, dims: Int): String = {
    val d1 = dims + 1
    def assignCte(name: String, cents: String) =
      s"""$name AS (
         |  SELECT id, qv, cid, dist FROM (
         |    SELECT q.id, q.qv, c.cid,
         |      list_sum(list_transform(range(1, $d1), ii -> (q.qv[CAST(ii AS INT)] - c.cv[CAST(ii AS INT)]) * (q.qv[CAST(ii AS INT)] - c.cv[CAST(ii AS INT)]))) AS dist
         |    FROM q, $cents c) t
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist, cid) = 1)""".stripMargin
    def updateCte(aName: String, prevC: String, newC: String) =
      s"""${newC}_raw AS (
         |  SELECT cid, list(cc ORDER BY pos) AS cv FROM (
         |    SELECT a.cid, t.i AS pos,
         |      CAST(floor(CAST(sum(a.qv[CAST(t.i AS INT)]) AS DOUBLE) / count(*)) AS BIGINT) AS cc
         |    FROM $aName a, range(1, $d1) t(i)
         |    GROUP BY a.cid, t.i) s
         |  GROUP BY cid),
         |$newC AS (SELECT p.cid, coalesce(u.cv, p.cv) AS cv
         |          FROM $prevC p LEFT JOIN ${newC}_raw u ON p.cid = u.cid)""".stripMargin
    val rounds = (1 to iters).map { i =>
      assignCte(s"a$i", s"c${i - 1}") + ",\n" + updateCte(s"a$i", s"c${i - 1}", s"c$i")
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS id, list_transform(embedding, v -> CAST(floor(v * 1024) AS BIGINT)) AS qv FROM embeddings),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) - 1 AS cid, qv AS cv
       |       FROM (SELECT id, qv FROM q ORDER BY id LIMIT $k) seeds),
       |$rounds,
       |${assignCte("afinal", s"c$iters")}""".stripMargin
  }

  /** Appends a constant-size slice of derived NEAR-DUP mutants to a media
    * frame: for each row with media_id < `idsBelow`, a copy under a
    * shifted id whose content has byte 0 replaced by 'Z' (0x5A).
    * Only grid cell 0 of the 9×8 byte-stride stub can change (for
    * content ≥ 72 bytes each later cell samples a strictly positive
    * offset), and cell 0 feeds exactly one comparison — so each
    * (original, mutant) pair has stub-dHash Hamming ≤ 1 and MUST surface
    * in the ≤ 6 near-dup output. This keeps the m07/m08 contract rows
    * provably nonzero on BOTH engines (the oracles derive the identical
    * mutants in hex space): two engines agreeing on an empty result
    * proves nothing about the banded join actually finding anything.
    * Constant rows (≤ idsBelow) at any SF — free at 100 TB.
    *
    * Mutant ids are shifted by max(media_id) + 1, not a fixed 10⁹ —
    * collision-free at any corpus size (withEmbeddingMutants'
    * rationale); the oracles derive the same shift from the same
    * frame. */
  private def withNearDupMutants(media: DataFrame, idsBelow: Int): DataFrame = {
    val mx = media.agg(max(col("media_id")).as("mx_shift"))
    media.unionByName(media
      .filter(col("media_id") < idsBelow)
      .crossJoin(broadcast(mx))
      .withColumn("media_id", col("media_id") + col("mx_shift") + lit(1L))
      .drop("mx_shift")
      .withColumn("content", concat(lit(Array('Z'.toByte)),
        substring(col("content"), 2, Int.MaxValue))))
  }

  /** Shared m07/m08 banded perceptual-hash near-dup pipeline. `media`
    * supplies (media_id, content); `realBands` is the per-kind real
    * kernel (image dHash for m07, keyframe-majority video dHash for
    * m08) returning four 16-bit bands or NULL when the bytes aren't
    * decodable — NULL rows fall back to the pure-SQL byte-stride stub
    * (9×8 hex-pair grid, lexicographic hex compare ≡ byte compare),
    * which the oracles replay verbatim. Bands feed a d07-style
    * pigeonhole bucket join under a per-bucket occupancy `cap`;
    * survivors exact-Hamming ≤ `maxHamming`. Content bytes never
    * shuffle — only (id, band) rows and the 4-int hash arrays. */
  private[graft] def bandedHammingNearDups(media: DataFrame,
      realBands: org.apache.spark.sql.expressions.UserDefinedFunction,
      cap: Int = 2048, maxHamming: Int = 6): DataFrame = {
    // The banding pass is the expensive per-row work (a content-length
    // hex render + 72-cell grid + 64 comparisons, all in INTERPRETED
    // higher-order functions — Spark has no codegen for transform/
    // aggregate — plus the real-decode UDF), and the plan below
    // references it FOUR times (both sides of the bucket self-join and
    // both exact-confirm rejoins). Without a lineage cut Spark
    // recomputes all of it per reference: at sf10 that turned m07 from
    // minutes into an hour+ (caught by the round-12 sharded sf10
    // sweep). Cut once — the materialized frame is just (id, 4 ints),
    // content bytes still never shuffle.
    val base = graft.operators.Lineage.cut(media
      .select(col("media_id"), col("content"))
      .withColumn("hx", upper(hex(col("content"))))
      .withColumn("n", length(col("content")).cast(LongType))
      .filter(col("n") >= 2)
      .withColumn("grid", expr(
        "transform(sequence(0, 71), i -> substring(hx, 2 * CAST(CAST(i AS BIGINT) * n DIV 72 AS INT) + 1, 2))"))
      .withColumn("stub_bands", expr(
        "transform(sequence(0, 3), k -> aggregate(sequence(0, 15), 0, (acc, p) -> " +
          "acc * 2 + IF(grid[(k * 16 + p) DIV 8 * 9 + (k * 16 + p) % 8] > " +
          "grid[(k * 16 + p) DIV 8 * 9 + (k * 16 + p) % 8 + 1], 1, 0)))"))
      .withColumn("bands", coalesce(realBands(col("content")), col("stub_bands")))
      .select(col("media_id"), col("bands")))
    val bw = Window.partitionBy(col("k"), col("bv")).orderBy(col("media_id"))
    val bucketed = base
      .select(col("media_id"), posexplode(col("bands")).as(Seq("k", "bv")))
      .withColumn("rn", row_number().over(bw)).filter(col("rn") <= cap)
      .drop("rn")
    val cand = bucketed.as("x").join(bucketed.as("y"),
        col("x.k") === col("y.k") && col("x.bv") === col("y.bv") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b")).distinct()
    // exact confirm as a flat 4-term sum — GetArrayItem/xor/bit_count
    // are codegen'd, unlike the interpreted zip_with+aggregate form
    // this replaces, and this expression runs once per CANDIDATE PAIR
    // (the hot path of the whole join)
    cand
      .join(base.select(col("media_id").as("a"), col("bands").as("ba")), Seq("a"))
      .join(base.select(col("media_id").as("b"), col("bands").as("bb")), Seq("b"))
      .withColumn("hamming", expr(
        "bit_count(ba[0] ^ bb[0]) + bit_count(ba[1] ^ bb[1]) + " +
          "bit_count(ba[2] ^ bb[2]) + bit_count(ba[3] ^ bb[3])"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy(col("a"), col("b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- text analysis --------------------------------------------------
    "d01_token_stats" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("len"),
        TextFunctions.stopwordCount(col("text")).as("stop_cnt"))
        .orderBy(col("doc_id"))
    }),

    "d02_quality_score" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.punctCount(col("text")).as("punct_cnt"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "d03_lang_guess" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("p", TextFunctions.langProfile(col("text")))
        .select(
          col("doc_id"),
          col("p._1").as("en_score"),
          col("p._2").as("es_score"),
          col("p._5").as("guess"))
        .orderBy(col("doc_id"))
    }),

    "d04_fingerprint" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // --- deduplication --------------------------------------------------
    "d05_exact_dedup" -> ((s, d) => {
      Dedup.exactDupGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("keep_id"))
    }),

    "d06_minhash_neardups" -> ((s, d) => {
      Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text", threshold = 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    "d07_simhash_neardups" -> ((s, d) => {
      Dedup.simhashNearDups(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy(col("a"), col("b"))
    }),

    // d07's HASH-CHECKED twin: same SimHash algorithm, but the shingle
    // hash is md5-derived (60 bits) so the DuckDB oracle recomputes the
    // ENTIRE pipeline — tokenize, shingle, hash, per-bit majority vote,
    // signature, Hamming pairs — bit-for-bit from the raw text. The
    // Spark side still pairs via the scale-safe 4-block pigeonhole; the
    // oracle brute-forces (sound at oracle SF).
    "d07b_simhash_md5" -> ((s, d) => {
      Dedup.simhashNearDupsSql(Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy(col("a"), col("b"))
    }),

    // exact ground truth runs on a BOUNDED AUDIT SLICE: doc_id < 10000
    // covers the whole table at every gate SF (max doc_id 4999 at
    // sf0.1), but at 100× the exact O(K²) verification stays O(const)
    // instead of becoming the run's quadratic — ground truth needs a
    // statistically sufficient prefix, not the whole corpus. The
    // production (unbounded, sub-quadratic) path is d06's banded
    // MinHash; the oracle mirrors the identical slice.
    "d08_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 10000), "doc_id", "text",
        threshold = 0.5, shingleSize = 2, maxDf = 1000000)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    // deterministic weighted sampling WITHOUT replacement via priority
    // sampling (Duffield–Lund–Thorup): priority = w/u with u a
    // hash-derived uniform, keep the top-k priorities. Long docs are
    // proportionally likelier — the token-budget-aware subset draw.
    // Formulated to be EXACTLY reproducible across engines: u = (h+1)/2³²
    // from an md5 prefix, so priority = w·2³²/(h+1) is one IEEE division
    // of exact integers (correctly rounded → bit-identical; no libm pow
    // like Efraimidis–Spirakis keys would need). orderBy().limit() plans
    // TakeOrderedAndProject — per-partition heaps, no global sort.
    "d42_priority_sample" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("w"),
          expr("cast(conv(substr(md5(concat('ps:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)").as("h"))
        .withColumn("priority", col("w") * lit(4294967296.0) / (col("h") + 1))
        .orderBy(desc("priority"), col("doc_id")).limit(50)
        .select(col("doc_id"), col("w"), round(col("priority"), 4).as("priority"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style quality rules (Rae et al. §A1.1): word count bounds,
    // mean word length band, pure-symbol-token ratio, alphabetic-word
    // fraction — the named rule set a curation run applies before model
    // scoring (complements d02's engine-specific score and d23's trained
    // classifier). Map-only codegen'd higher-order functions over the
    // token array; the only float ops are three mirrored divisions of
    // exact integer counts.
    "d45_gopher_rules" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("ws", split(trim(col("text")), "\\s+"))
        .withColumn("n_words", size(col("ws")))
        .withColumn("sum_len",
          expr("aggregate(transform(ws, w -> length(w)), 0, (a, x) -> a + x)"))
        .withColumn("alpha_words",
          expr("size(filter(ws, w -> w rlike '[A-Za-z]'))"))
        .withColumn("symbol_words",
          expr("size(filter(ws, w -> w rlike '^[^A-Za-z0-9]+$'))"))
        .withColumn("mean_word_len",
          col("sum_len").cast(DoubleType) / col("n_words"))
        .withColumn("symbol_ratio",
          col("symbol_words").cast(DoubleType) / col("n_words"))
        .withColumn("alpha_frac",
          col("alpha_words").cast(DoubleType) / col("n_words"))
        .withColumn("pass",
          col("n_words").between(50, 100000) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("symbol_ratio") < 0.1 && col("alpha_frac") > 0.8)
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("alpha_frac"), col("pass"))
        .orderBy(col("doc_id"))
    }),

    // exact-N source mixture via Hamilton largest-remainder apportionment:
    // integer-sqrt weights (temperature-1/2 downsampling of head sources),
    // quota = N·w div W, the N − Σbase leftover seats go to the largest
    // remainders (N·w mod W, source-asc tiebreak), then each source
    // contributes its quota in md5 order — the materialized epoch draw for
    // d22's mixing step with an EXACT total. Apportionment runs on the
    // sources-sized table (broadcast everywhere); the per-source pick is
    // a partitioned window, so the corpus never leaves its shuffle.
    "d44_mixing_manifest" -> ((s, d) => {
      val n = 200L
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("w", expr("cast(floor(sqrt(cast(n_docs as double))) as bigint)"))
      val seats = graft.operators.Apportion.largestRemainder(counts, "source", "w", n)
      docs.select(col("source"), col("doc_id"))
        .withColumn("slot", row_number().over(
          Window.partitionBy("source")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .join(broadcast(seats.select(col("source"), col("quota"))), "source")
        .filter(col("slot") <= col("quota"))
        .select(col("source"), col("slot"), col("doc_id"))
        .orderBy(col("source"), col("slot"))
    }),

    // DIRECTED containment pairs — the subset-duplicate detector Jaccard
    // misses (a short doc quoted inside a long one dilutes the union);
    // |A∩B|/|A| ≥ 0.6 over bigram sets via the same inverted-index join
    // as d08, normalized by the contained side only. BOUNDED AUDIT SLICE
    // (doc_id < 10000, same prefix as d08/e06/e10, both engines): the
    // un-df-capped inverted self-join is exact ground truth, quadratic
    // by construction — at sf10 (500k docs) the unbounded form OOMs,
    // caught by the round-11 sf10 tail sweep. Scalable containment
    // screening at corpus size = a real maxDf cap (see d64's capped
    // variant) or the prefix join (d27).
    "d41_containment" -> ((s, d) => {
      Dedup.containmentPairs(
        Tables.documents(s, d).filter(col("doc_id") < 10000), "doc_id", "text",
        threshold = 0.6, shingleSize = 2)
        .select(col("a"), col("b"), round(col("containment"), 4).as("containment"))
        .orderBy(col("a"), col("b"))
    }),

    // near-dup CLUSTERS: transitive closure over the near-dup pair graph
    // (A~B, B~C collapses {A,B,C}) — the assignment step a dedup pipeline
    // runs after pair generation. Spark side is iterative min-label
    // propagation; the oracle is a recursive CTE over the SAME pair set
    // (d06 proved the pair sets identical).
    "d09_dedup_clusters" -> ((s, d) => d09Body(Tables.documents(s, d))),

    // ---- sliced oracle twins of the recursive-closure dedup family ----
    // d09/d14/d34/d40's DuckDB oracles are resource-infeasible at sf10
    // (the recursive closure spills past the cap — docs/sf10_modes.md),
    // leaving those rows dual-topology bytediff: determinism proven,
    // semantics only up to sf1. These twins run the SAME operators on a
    // constant id-prefix slice (doc_id < SliceBound — pinned in the
    // Spark source below AND derived into the oracle SQL from the full
    // query's own string, so the two can never drift), sized well inside
    // the oracle-proven sf1 scale: the twin's oracle hash-match at sf10
    // closes the semantics gap the full rows leave there. At SF ≤ 0.1
    // the slice covers the whole corpus, so the twins also hash-check
    // end-to-end at the gate SFs. Full-corpus rows stay — the twins ADD
    // sf10 semantics evidence, they do not replace the scale run.
    "d09s_dedup_clusters_sliced" -> ((s, d) => d09Body(slicedDocs(s, d))),
    "d14s_clean_corpus_sliced" -> ((s, d) => d14Body(slicedDocs(s, d))),
    "d34s_leakage_split_sliced" -> ((s, d) => d34Body(slicedDocs(s, d))),
    "d28s_training_manifest_sliced" -> ((s, d) => d28Body(slicedDocs(s, d))),
    "d66s_dedup_impact_sliced" -> ((s, d) => d66Body(slicedDocs(s, d))),
    "d40s_canonical_pick_sliced" -> ((s, d) => d40Body(slicedDocs(s, d))),

    // dedup impact report — the "what does this dedup buy us" readout a
    // team reads BEFORE running d14: the cluster-size histogram of
    // d09's near-dup components plus the corpus-level removable count
    // (n_docs − n_clusters: keep one canonical per component). Pure
    // composition on the cluster machinery; the histogram and the 1-row
    // stats are both aggregate-of-aggregate shuffles over cluster ids.
    "d66_dedup_impact" -> ((s, d) => d66Body(Tables.documents(s, d))),

    // sequence packing (offset binning): documents are packed into
    // fixed-token-capacity training bins per source shard, in doc order —
    // bin = floor(exclusive-cumulative-tokens / capacity). One window
    // pass; at scale each shard packs independently (partitioned window,
    // no global sort).
    "d10_pack_sequences" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .withColumn("bin", floor(coalesce(sum(col("n_tokens")).over(w), lit(0)) / 2048.0).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // tf-idf: top-3 terms per document by tf * ln(N/df), deterministic
    // tie-break on the term. The full-corpus df table is the one shuffle;
    // scoring is a broadcast of the (tiny) per-term df onto the token
    // stream at scale.
    "d11_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      // corpus size N enters the plan as a broadcast 1-row aggregate
      // (not a driver-side docs.count()): tf-idf is one Spark job
      val n = docs.select(count(lit(1)).cast("double").as("corpus_n"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      tf.join(df, "term")
        .crossJoin(broadcast(n))
        .withColumn("score", col("tf") * log(col("corpus_n") / col("df")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3 && col("doc_id") < 50)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("score"), 4).as("score"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // vocabulary building: top-200 tokens by document frequency with a
    // deterministic tie-break — the corpus pass a tokenizer-training
    // pipeline runs. Distinct-per-doc then one count shuffle. The top-200
    // cut is orderBy().limit() — a TakeOrderedAndProject (per-partition
    // bounded heaps + one 200-row driver merge), NOT a row_number over an
    // unpartitioned window, which would sort the entire distinct-term
    // table through a single task at corpus scale. The rank window then
    // runs over the already-bounded 200 rows.
    "d12_vocab" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
        .filter(col("term") =!= "")
        .distinct()
      val top = toks.groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(200)
      val w = Window.orderBy(col("df").desc, col("term").asc)
      top.withColumn("rank", row_number().over(w))
        .orderBy(col("rank"))
    }),

    // deterministic stratified sample: k docs per source shard, selected
    // by md5-of-id order — a seeded "random" both engines reproduce
    // bit-exactly. The pattern for train/eval splits at corpus scale.
    "d13_stratified_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .orderBy(col("source"), col("rn"))
    }),

    // deterministic global shuffle + sharding — the step every training
    // pipeline runs last: order the corpus by a seeded hash (resumable,
    // reproducible across runs) and split it into shards with a stable
    // in-shard position. ONE hash shuffle on the shard id; each shard
    // sorts internally (shard count scales with the cluster — at 100 TB
    // you run thousands of shards, same plan). A production run would
    // shard by pmod(xxhash64(key), n); the md5/ascii form here is chosen
    // because the oracle can replay it bit-for-bit.
    "d20_shuffle_shard" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat(lit("epoch0:"), col("doc_id").cast(StringType))).as("skey"))
        .withColumn("shard", (ascii(substring(col("skey"), 1, 1)) % 4).cast(IntegerType))
      val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
      keyed.withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    }),

    // the END-TO-END export artifact: d14's cleaned corpus → d20's
    // deterministic epoch shuffle-shards → d10's token-capacity packing,
    // composed into the per-document training manifest (doc → shard,
    // position, bin) that a loader actually consumes. Cluster survivorship
    // is the only multi-round stage; sharding + packing are one window
    // pass over md5-ordered shards.
    "d28_training_manifest" -> ((s, d) => d28Body(Tables.documents(s, d))),

    // cleaned-corpus capstone: the full curation pipeline composed —
    // keep ONE doc per near-dup cluster (the min-id survivor from d09),
    // drop low-quality docs (d02's score), keep English. The shape every
    // pretraining-data pipeline ends with.
    "d14_clean_corpus" -> ((s, d) => d14Body(Tables.documents(s, d))),

    // intra-document repetition: 1 - distinct/total bigram ratio — the
    // boilerplate/looping-text quality signal (high repetition → drop).
    // Pure map-side expression work.
    "d16_repetition" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", split(lower(col("text")), "\\s+"))
        .withColumn("bgs", expr(
          "filter(transform(toks, (w, i) -> IF(i < size(toks) - 1, concat(w, ' ', toks[i+1]), NULL)), x -> x IS NOT NULL)"))
        .filter(size(col("bgs")) > 0)
        .select(col("doc_id"),
          size(col("bgs")).as("n_bigrams"),
          size(array_distinct(col("bgs"))).as("n_distinct"),
          round(lit(1.0) - size(array_distinct(col("bgs"))) / size(col("bgs")).cast(DoubleType), 4).as("repetition"))
        .orderBy(col("doc_id"))
    }),

    // PII redaction: scrub emails / IPv4s / SSN-shaped ids before
    // training. The corpus text carries no PII, so a deterministic PII
    // suffix is appended first (identically in the oracle) and the
    // redactor runs on that. Map-only, codegen'd regexp — no shuffle; at
    // 100 TB this is embarrassingly parallel scan work.
    "d17_pii_redact" -> ((s, d) => {
      val pii = Tables.documents(s, d).withColumn("pii_text",
        concat(col("text"), lit(" contact user"), col("doc_id").cast(StringType),
          lit("@example.com from 10."), (col("doc_id") % 256).cast(StringType),
          lit("."), ((col("doc_id") * 7) % 256).cast(StringType), lit(".1 id "),
          format_string("%03d-%02d-%04d",
            col("doc_id") % 1000, col("doc_id") % 100, col("doc_id") % 10000)))
      Seq(PiiEmailRe, PiiIpRe, PiiIdRe).zip(Seq("<EMAIL>", "<IP>", "<ID>"))
        .foldLeft(pii) { case (df, (re, tag)) =>
          df.withColumn("pii_text", regexp_replace(col("pii_text"), re, tag))
        }
        .select(col("doc_id"),
          size(regexp_extract_all(col("pii_text"), lit("<EMAIL>"), lit(0))).cast(LongType).as("n_emails"),
          size(regexp_extract_all(col("pii_text"), lit("<IP>"), lit(0))).cast(LongType).as("n_ips"),
          size(regexp_extract_all(col("pii_text"), lit("<ID>"), lit(0))).cast(LongType).as("n_ids"),
          col("pii_text").as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // paragraph-level exact dedup: "paragraphs" are 10-token windows
    // (the synthetic corpus has no newlines); each distinct paragraph is
    // kept at its globally-first (doc_id, idx) occurrence and documents
    // are reassembled from their surviving paragraphs. The dedup window
    // is keyed by md5(paragraph), NOT the text itself: the partitioning
    // hash and the in-partition sort then compare fixed 32-char keys
    // while the text rides along as payload — at 100 TB paragraph cells
    // are kilobytes and text-keyed sort comparisons dominate the stage.
    "d18_paragraph_dedup" -> ((s, d) => {
      val paras = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), "\\s+"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, CAST(ceil(size(toks) / 10.0) AS INT) - 1), " +
            "i -> array_join(slice(toks, i * 10 + 1, 10), ' '))")).as(Seq("idx", "para")))
        .withColumn("pkey", md5(col("para")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pkey")).orderBy(col("doc_id"), col("idx"))
      paras.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          expr("array_join(transform(array_sort(collect_list(struct(idx, para))), x -> x.para), ' | ')")
            .as("dedup_text"))
        .orderBy(col("doc_id"))
    }),

    // BPE-ish token statistics — the second tokenizer axis (whitespace +
    // a BPE-style pretokenizer regex): maximal letter/digit/symbol runs,
    // with per-doc fertility (subword-per-word ratio), the number a
    // tokenizer-budget planner needs. Map-only; the run-extraction regex
    // is RE2-safe so the oracle recomputes the identical token stream.
    "d32_bpe_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("ws_tokens"),
        TextFunctions.bpeTokenCount(col("text")).cast(LongType).as("bpe_tokens"),
        round(TextFunctions.bpeTokenCount(col("text")).cast(DoubleType) /
          TextFunctions.tokenCount(col("text")), 4).as("fertility"))
        .orderBy(col("doc_id"))
    }),

    // BPE training, iteration-1 pair statistics — the argmax input of
    // the distributed tokenizer trainer (text/BpeTrainer: ONE corpus
    // shuffle to word counts, then vocab-sized iterations; the full
    // greedy loop is property-proven against a sequential reference in
    // BpeTrainerSpec — this exposes its hash-checkable aggregate).
    "d33_bpe_pair_counts" -> ((s, d) => {
      val wc = graft.text.BpeTrainer.wordCounts(Tables.documents(s, d), "text")
      graft.text.BpeTrainer.pairCounts(
        wc.select(split(col("word"), "").as("syms"), col("cnt")))
        .orderBy(desc("n"), asc("a"), asc("b")).limit(30)
        .select(concat(col("a"), lit("|"), col("b")).as("pair"), col("n"))
    }),

    // leakage-safe train/val/test split: assignment at NEAR-DUP-CLUSTER
    // granularity (d09's connected components), so two near-duplicate
    // documents can never straddle splits and leak eval text into the
    // training set — the split step a real pretraining pipeline runs
    // AFTER clustering, not per-doc. Split hashed from the CLUSTER id
    // (md5, 8/1/1 buckets): deterministic and resumable; the assignment
    // itself is map-only over the cluster table, so the only heavy work
    // is d09's clustering, which is already the scale-path CC.
    "d34_leakage_split" -> ((s, d) => d34Body(Tables.documents(s, d))),

    // SPAN-level decontamination: instead of dropping whole contaminated
    // docs (d15), surgically remove the contaminated 5-gram spans and
    // reassemble the rest — the text-preserving variant real pipelines
    // prefer for long documents. Matched span starts become [s, s+5)
    // intervals, coalesced per doc by operators.IntervalMerge (so the
    // sequence-expansion is bounded by covered tokens, never pays twice
    // for overlaps), covered positions anti-join the token stream, docs
    // reassemble in order. Eval 5-grams broadcast; the corpus shuffles
    // only on doc_id. A planted shared phrase (corpus doc_id % 9 = 0 /
    // eval doc 5) guarantees real span removal on the synthetic corpus;
    // the oracle recomputes coverage by DISTINCT position expansion — a
    // different formulation proving the interval-merge path exact.
    "d35_span_decontaminate" -> ((s, d) => {
      val K = 5
      val phrase = " alpha bravo charlie delta echo"
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") >= 20)
        .withColumn("t2", when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(phrase))).otherwise(col("text")))
      val evalSide = docs.filter(col("doc_id") < 20)
        .withColumn("t2", when(col("doc_id") === 5,
          concat(col("text"), lit(phrase))).otherwise(col("text")))
      def grams(df: DataFrame) = df.withColumn("toks", split(col("t2"), "\\s+"))
        .filter(size(col("toks")) >= K)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, size(toks) - $K), i -> array_join(slice(toks, i + 1, $K), ' '))"))
          .as(Seq("pos", "g")))
      val eg = grams(evalSide).select(col("g")).distinct()
      val hits = grams(corpus).join(broadcast(eg), "g")
        .select(col("doc_id"), col("pos").cast(LongType).as("s"),
          (col("pos") + K).cast(LongType).as("e"))
      val covered = graft.operators.IntervalMerge
        .merge(hits, Seq("doc_id"), "s", "e")
        .select(col("doc_id"), explode(sequence(col("s"), col("e") - 1)).as("idx"))
      val ctoks = corpus
        .select(col("doc_id"), posexplode(split(col("t2"), "\\s+")).as(Seq("idx", "tok")))
        .withColumn("idx", col("idx").cast(LongType))
      val cleanAgg = ctoks.join(covered, Seq("doc_id", "idx"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          expr("array_join(transform(array_sort(collect_list(struct(idx, tok))), x -> x.tok), ' ')")
            .as("clean_text"))
      corpus.select(col("doc_id"),
          size(split(col("t2"), "\\s+")).cast(LongType).as("n_before"))
        .join(cleanAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_before"),
          (col("n_before") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // exact ROC AUC of the d23 quality classifier against an "is English"
    // target — the eval step that closes the classifier-filtering loop
    // (train d23-style scorer, AUC-check it before filtering 100 TB).
    // Mann-Whitney rank-sum formulation with average ranks for ties;
    // ranks come from GlobalRank.withGlobalIndex (range-partition +
    // zipWithIndex), NOT a single-partition global window — the one-task
    // sort d12 was flagged for. All terms stay exact: ordinals and
    // counts are integers, average ranks are half-integers (exact in
    // double), so the rank-sum is deterministic under any partial-agg
    // order; the only rounding is the final division.
    "d36_auc" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(
        round(TextFunctions.classifierLogit(col("text")), 6).as("score"),
        (col("lang") === "en").cast(IntegerType).as("label"))
      val indexed = graft.operators.GlobalRank.withGlobalIndex(scored, "idx", col("score"))
      val groups = indexed.groupBy(col("score"))
        .agg(min(col("idx")).as("minidx"), count(lit(1)).as("cnt"),
          sum(col("label")).as("pos"))
        .withColumn("avg_rank", col("minidx") + 1 + (col("cnt") - 1) / 2.0)
      groups.agg(
          sum(col("pos")).as("n_pos"),
          sum(col("cnt") - col("pos")).as("n_neg"),
          sum(col("avg_rank") * col("pos")).as("pos_rank_sum"))
        .select(col("n_pos"), col("n_neg"),
          round((col("pos_rank_sum") - col("n_pos") * (col("n_pos") + 1) / 2.0) /
            (col("n_pos") * col("n_neg")), 6).as("auc"))
    }),

    // bigram language-model scoring with stupid backoff — the in-domain
    // perplexity filter (CCNet-shaped): the model trains on a 4-source
    // "in-domain" slice, every document is scored by avg log p(w2|w1),
    // backing off to 0.4 * add-one-unigram when the bigram is unseen
    // (genuinely exercised: out-of-slice docs contain unseen bigrams).
    // Bigrams form MAP-SIDE (adjacent-pair transform over the token
    // array — no per-doc window, no shuffle); the bigram model joins on
    // its composite key as a shuffle join (a bigram table is too big to
    // broadcast at corpus scale) while the unigram model and scalar
    // stats broadcast. Per-bigram log-probs are DECIMAL(18,6) before
    // summing (exact, associative — d21's rule).
    "d37_bigram_backoff" -> ((s, d) => {
      val dom = Seq("src0", "src1", "src2", "src3")
      val toks = Tables.documents(s, d).select(col("doc_id"), col("source"),
        split(lower(col("text")), "\\s+").as("toks"))
      val bi = toks.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
      val c2 = bi.filter(col("source").isin(dom: _*))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c1 = toks.filter(col("source").isin(dom: _*))
        .select(explode(col("toks")).as("w")).filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      val stats = c1.agg(sum(col("c1")).as("n_tok"), count(lit(1)).as("v"))
      val lp = when(col("c2").isNotNull, log(col("c2") / col("c1w1")))
        .otherwise(log(lit(0.4) * (coalesce(col("c1w2"), lit(0L)) + 1) /
          (col("n_tok") + col("v"))))
      bi.join(c2, Seq("w1", "w2"), "left")
        .join(broadcast(c1.select(col("w").as("w1"), col("c1").as("c1w1"))), Seq("w1"), "left")
        .join(broadcast(c1.select(col("w").as("w2"), col("c1").as("c1w2"))), Seq("w2"), "left")
        .crossJoin(broadcast(stats))
        .withColumn("lp", lp.cast(DecimalType(18, 6)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
        // integer-exact half-up round of slp/n_bigrams — d26's pattern;
        // the round-of-double form diverges on exact 4dp ties at scale
        .select(col("doc_id"), col("n_bigrams"),
          ((expr("CASE WHEN slp >= 0 THEN 1 ELSE -1 END") *
            floor((abs(col("slp") * lit(1000000)).cast(LongType) +
              lit(50L) * col("n_bigrams")) / (lit(100L) * col("n_bigrams")))
            ).cast(DoubleType) / lit(10000.0) + lit(0.0)).as("avg_logprob"))
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC normalization as a dedup-key step: visually identical
    // strings with different codepoint sequences MUST hash equal before
    // exact/near dedup. The corpus is synthetic ASCII, so decomposed
    // sequences are injected deterministically (combining acute on
    // doc_id%3, fi-ligature — NFC-invariant, NFKC-only — on doc_id%5);
    // the codegen `unicode_nfc` expression (fast-path isNormalized scan)
    // is hash-checked against DuckDB's nfc_normalize, md5 and all.
    // Map-only — the normalize-then-hash pass a 100 TB dedup prepends.
    "d38_nfc_normalize" -> ((s, d) => {
      graft.functions.TextNormalize.registerAll(s)
      val aug = Tables.documents(s, d).withColumn("raw",
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" e\u0301")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" \uFB01n")).otherwise(lit(""))))
      aug.select(col("doc_id"),
          length(col("raw")).as("len_raw"),
          length(call_function("unicode_nfc", col("raw"))).as("len_nfc"),
          md5(call_function("unicode_nfc", col("raw"))).as("nfc_md5"),
          (call_function("unicode_nfc", col("raw")) =!= col("raw")).as("changed"))
        .orderBy(col("doc_id"))
    }),

    // KL divergence of each source's unigram distribution from the
    // corpus distribution — the domain-shift / mixture-drift monitor a
    // curation pipeline runs per ingest batch (and the quantity DSIR-
    // style reweighting minimizes). Per-(source,term) KL terms are
    // DECIMAL(20,12) before summing (exact, associative). The corpus
    // term-count table broadcasts here; at a few-hundred-million-term
    // vocab drop the hint and the join shuffles on term — the plan
    // shape is otherwise unchanged.
    "d39_kl_divergence" -> ((s, d) => {
      val tk = Tables.documents(s, d)
        .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      val cs = tk.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
      val cc = tk.groupBy(col("w")).agg(count(lit(1)).as("c_cw"))
      val ns = tk.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val nc = tk.agg(count(lit(1)).as("n_c"))
      cs.join(broadcast(cc), "w")
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(nc))
        .withColumn("t", ((col("c_sw") / col("n_s")) *
          log((col("c_sw") / col("n_s")) / (col("c_cw") / col("n_c"))))
          .cast(DecimalType(20, 12)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"), sum(col("t")).as("klsum"))
        .select(col("source"), col("n_terms"),
          round(col("klsum").cast(DoubleType), 6).as("kl"))
        .orderBy(col("source"))
    }),

    // canonical-document selection: after near-dup clustering (d09) the
    // KEPT representative should be the best document, not the lowest
    // id — argmax d23-quality per cluster (deterministic tiebreak on
    // id). Composes the cluster operator with the classifier scorer;
    // the ranking window partitions by cluster (bounded groups), so no
    // global sort. This is the "which copy survives" policy step of a
    // 100 TB dedup.
    "d40_canonical_pick" -> ((s, d) => d40Body(Tables.documents(s, d))),

    // sliding-window chunking with overlap — the retrieval/pretraining
    // chunker: fixed 32-token windows at stride 24 (8-token overlap), so
    // every 8-token span falls wholly inside at least one chunk. Pure
    // map-side generator + string slicing (no shuffle before the final
    // ORDER BY) — at 100 TB this is a single ingestion-pass transform;
    // d10 then packs the chunks, d18 dedups them. Chunk count is
    // 1 + max(0, ceil((n-32)/24)): short docs yield one whole-doc chunk,
    // and the last window is allowed to run short rather than re-reading
    // a full window backwards (simpler, and keeps chunk_idx * stride the
    // exact token offset a span-to-source map needs).
    "d31_chunk_overlap" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), "\\s+"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, GREATEST(CAST(ceil((size(toks) - 32) / 24.0) AS INT), 0)), " +
            "i -> array_join(slice(toks, i * 24 + 1, 32), ' '))")).as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
          size(split(col("chunk"), " ")).cast(LongType).as("n_tokens"),
          md5(col("chunk")).as("chunk_fp"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // benchmark decontamination: corpus docs sharing >= 3 distinct
    // bigrams with any "eval set" doc (doc_id < 20 stands in for the
    // benchmark). Eval shingles broadcast; the corpus never shuffles.
    "d15_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationPairs(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "doc_id", "text", shingleSize = 2, minShared = 3)
        .orderBy(col("corpus_id"), col("eval_id"))
    }),

    // unigram language-model score — the CCNet-style quality filter
    // proxy: avg log p(token) under the corpus's own unigram model.
    // Two shuffles (vocab tf, per-doc agg); the vocab broadcasts (at
    // 100 TB a few-million-term vocab is still ~100 MB — beyond that,
    // drop the hint and let it shuffle-join on term). Per-token log
    // probs are cast to DECIMAL(18,6) before summing so the aggregation
    // is exact and associative — deterministic under any partial-agg
    // order (same rule as q60's moments).
    "d21_unigram_logprob" -> ((s, d) => {
      val tk = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val n = tk.agg(count(lit(1)).as("n_tokens"))
      val tf = tk.groupBy("term").agg(count(lit(1)).as("tf"))
      tk.join(broadcast(tf), "term").crossJoin(broadcast(n))
        .withColumn("lp", log(col("tf") * lit(1.0) / col("n_tokens")).cast(DecimalType(18, 6)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("lp")).as("slp"))
        // integer-exact half-up round of slp/n_toks — see pplScores
        // (same values, same sf10 tie on doc 197) and d26
        .select(col("doc_id"), col("n_toks"),
          ((expr("CASE WHEN slp >= 0 THEN 1 ELSE -1 END") *
            floor((abs(col("slp") * lit(1000000)).cast(LongType) +
              lit(50L) * col("n_toks")) / (lit(100L) * col("n_toks")))
            ).cast(DoubleType) / lit(10000.0) + lit(0.0)).as("avg_logprob"))
        .orderBy(col("doc_id"))
    }),

    // temperature-scaled source mixing weights (w_s ∝ n_s^α) and the
    // per-source document budget for a 1M-doc epoch — the data-mixing
    // step that follows curation. One tiny aggregate; the normalizer
    // sums source-level decimals (exact, associative).
    "d22_mixing_weights" -> ((s, d) => {
      val pows = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("p", pow(col("n_docs").cast(DoubleType), lit(0.7)))
      val tot = pows.agg(sum(col("p").cast(DecimalType(28, 10))).as("tot"))
      pows.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          round(col("p") / col("tot").cast(DoubleType), 6).as("weight"),
          round(col("p") / col("tot").cast(DoubleType) * 1000000, 2).as("budget_docs"))
        .orderBy(col("source"))
    }),

    // quality CLASSIFIER: the trained-model filtering step (fastText /
    // logreg shaped) — a fixed-weight linear scorer over the engine's
    // text features with a hard-sigmoid link. Map-only (one codegen'd
    // pass per document, no shuffle): the scorer a 100 TB curation run
    // applies to every document. Hard sigmoid keeps the whole pipeline
    // in exactly-defined IEEE ops → hash-checkable, unlike exp().
    "d23_quality_classifier" -> ((s, d) => {
      val z = TextFunctions.classifierLogit(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        round(z, 6).as("logit"),
        round(TextFunctions.hardSigmoid(z), 6).as("p_keep"),
        (TextFunctions.hardSigmoid(z) >= lit(0.5)).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // BM25 top-k retrieval — the quality-by-relevance scoring a data
    // pipeline runs to surface domain-matched documents (and the core of
    // any corpus search/inspection tool). Inverted-index shape: the tiny
    // query-term table joins the (doc, term, tf) postings on term; df and
    // corpus stats broadcast. Per-term contributions are DECIMAL(18,6)-
    // cast before summing (exact, associative — same rule as d21), so
    // ranking ties are impossible to get "almost right": the oracle
    // recomputes identical decimals. Top-k is two-stage: rank within
    // (qid, doc-hash shard) first, then rank the <= 5*shards survivors —
    // no single task ever sorts a full query's posting intersection.
    "d24_bm25" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // cut: the token stream backs doc lengths, document frequencies,
      // and term frequencies — three full re-tokenizations without it
      val tk = graft.operators.Lineage.cut(
        docs.select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
          .filter(col("term") =!= ""))
      val dl = tk.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val dfreq = tk.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val qterms = s.createDataFrame(Seq(
          (1, "spark window agg"), (2, "hash join table"), (3, "stream batch sort")))
        .toDF("qid", "qtext")
        .select(col("qid"), explode(split(col("qtext"), " ")).as("term"))
      val contrib = tf.join(broadcast(qterms), "term")
        .join(broadcast(dfreq), "term")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("avgdl", col("sum_dl").cast(DoubleType) / col("n_docs"))
        .withColumn("c",
          (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
            .cast(DecimalType(18, 6)))
      val scored = contrib.groupBy("qid", "doc_id")
        .agg(sum(col("c")).as("s"), count(lit(1)).as("n_terms"))
      val shardW = Window.partitionBy(col("qid"), pmod(hash(col("doc_id")), lit(64)))
        .orderBy(col("s").desc, col("doc_id").asc)
      val finalW = Window.partitionBy(col("qid"))
        .orderBy(col("s").desc, col("doc_id").asc)
      scored.withColumn("sr", row_number().over(shardW)).filter(col("sr") <= 5)
        .withColumn("rank", row_number().over(finalW)).filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("doc_id"), col("n_terms"),
          round(col("s").cast(DoubleType), 4).as("score"))
        .orderBy(col("qid"), col("rank"))
    }),

    // duplicated n-gram fraction (Gopher / FineWeb repetition signal):
    // the share of a document's distinct word 5-grams that occur in any
    // OTHER document — the corpus-wide complement of d16's within-doc
    // repetition. Two bounded shuffles: n-gram df (map-side combinable)
    // and the join back on the n-gram key.
    "d25_dup_ngram_frac" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ng = docs.select(col("doc_id"),
          expr(s"filter(split(lower(text), '\\\\s+'), x -> x != '')").as("t"))
        .select(col("doc_id"), explode(when(size(col("t")) < 5,
            array(array_join(col("t"), " ")))
          .otherwise(expr("array_distinct(transform(sequence(1, size(t) - 4), " +
            "i -> array_join(slice(t, i, 5), ' ')))"))).as("ng"))
      // n-grams are distinct per doc, so df counts documents
      val df5 = ng.groupBy("ng").agg(count(lit(1)).as("df"))
      ng.join(df5, "ng")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
          sum(when(col("df") > 1, 1L).otherwise(0L)).as("dup_ngrams"))
        .select(col("doc_id"), col("n_ngrams"), col("dup_ngrams"),
          round(col("dup_ngrams") * lit(1.0) / col("n_ngrams"), 4).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // the DRAW step after importance weighting (d26): systematic
    // resampling of 25 slots per md5 shard (4 shards = 100 draws) over
    // the token-weighted corpus. Draw counts come from pure integer
    // ceil-division over each shard's cumulative weight line — no
    // floats, no RNG — so low-weight docs get 0/1 draws and heavy docs
    // proportionally many, summing to exactly 25 per shard. The window
    // cumsum is PARTITIONED by the shard (the d12 global-window mistake,
    // not repeated): at 100 TB each shard's line sorts independently.
    "d30_systematic_resample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat(lit("draw0:"), col("doc_id").cast(StringType))).as("skey"),
          TextFunctions.tokenCount(col("text")).as("w"))
        .withColumn("shard", (ascii(substring(col("skey"), 1, 1)) % 4).cast(IntegerType))
      val tot = docs.groupBy("shard").agg(sum(col("w")).as("tw"))
      val cum = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs
        .withColumn("c", coalesce(sum(col("w")).over(cum), lit(0L)))
        .join(broadcast(tot), "shard")
        .withColumn("draws",
          expr("((25 * (c + w) + tw - 1) div tw) - ((25 * c + tw - 1) div tw)"))
        .filter(col("draws") > 0)
        .select(col("doc_id"), col("shard"), col("w"), col("draws"))
        .orderBy(col("doc_id"))
    }),

    // incremental dedup: near-dup pairs TOUCHING the fresh batch
    // (doc_id < 100) against the historical corpus — fresh probes the
    // LSH buckets, old×old pairs never expand. Banding recall is full
    // on this corpus (d06), so the result is exactly the all-pairs set
    // restricted to pairs with a fresh endpoint.
    "d29_incremental_neardups" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.minhashNearDupsIncremental(
        docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
        "doc_id", "text", threshold = 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    // the OTHER classic exact-similarity-join plan: prefix filtering
    // (AllPairs/PPJoin). Only the rarest n − ceil(τ·n) + 1 tokens of
    // each doc enter the candidate join (provably complete — see
    // Dedup.setSimPrefixJoin). Runs at τ = 0.8 — prefix filtering's
    // design point (short prefixes); the planted near-dups all sit
    // above 0.8, so the pair set matching d08's oracle at this τ is
    // the correctness claim (cross-τ equality vs the inverted-index
    // join is property-tested in PipelineSpec).
    //
    // BOUNDED AUDIT SLICE, same doctrine and bound as d08 (round-13
    // sf10 lesson): prefix filtering bounds which tokens post, not how
    // often a posted token occurs — at 500k docs the corpus's hot
    // bigrams land in thousands of prefixes and the candidate join
    // goes quadratic on those keys (74 GB of spill, ENOSPC even solo).
    // Exact all-pairs ground truth needs a statistically sufficient
    // prefix of the corpus, not all of it; doc_id < 10000 covers the
    // whole table at every gate SF and is O(const) at 100×. The
    // unbounded sub-quadratic production path remains d06's banded
    // MinHash; the oracle mirrors the identical slice.
    "d27_setsim_prefix_join" -> ((s, d) => {
      Dedup.setSimPrefixJoin(
        Tables.documents(s, d).filter(col("doc_id") < 10000), "doc_id", "text",
        threshold = 0.8, shingleSize = 2)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    // the HASHING TRICK featurizer (Weinberger et al. 2009): tokens hash
    // into 64 fixed buckets, per-doc term frequencies per bucket — the
    // vocabulary-free sparse featurization that needs no vocab build,
    // no broadcast, no second pass; one explode + one (doc, bucket)
    // aggregation with map-side combine. Collision behavior is part of
    // the operator's contract and the oracle reproduces it exactly.
    "d43_feature_hash" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("term"))
        .filter(col("term") =!= "")
        .withColumn("bucket", expr("cast(conv(substr(md5(term), 1, 4), 16, 10) AS int) % 64"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("doc_id"), col("bucket"))
    }),

    // deterministic NEGATIVE sampling for contrastive training: per
    // query, 10 hash-ordered corpus vectors that are NOT among its
    // top-20 cosine neighbors (and not itself) — hard-negative-free
    // uniform negatives, reproducible across engines/runs because the
    // draw order is md5(query, candidate), not RNG state. The top-20
    // exclusion set is per-query tiny; the candidate ranking is one
    // partitioned window.
    "e20_negative_sampling" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
      val top = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id"))
      val cand = queries.select(col("vec_id").as("query_id"))
        .join(emb.select(col("vec_id").as("cand_id")),
          col("query_id") =!= col("cand_id"))
        .join(top.withColumnRenamed("neighbor_id", "cand_id"),
          Seq("query_id", "cand_id"), "left_anti")
        .withColumn("skey",
          md5(concat(col("query_id").cast("string"), lit(":"), col("cand_id").cast("string"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("skey"), col("cand_id"))
      cand.withColumn("draw", row_number().over(w))
        .filter(col("draw") <= 10)
        .select(col("query_id"), col("cand_id").as("neg_id"), col("draw"))
        .orderBy(col("query_id"), col("draw"))
    }),

    // DSIR-style importance-resampling weights (Xie et al. 2023): hashed
    // unigram features (md5 -> 128 buckets), a bag-of-buckets unigram LM
    // for the TARGET domain (src0/src1 here) vs the RAW corpus, and a
    // per-document log-likelihood ratio. The 128-bucket model broadcasts
    // (it is O(buckets), never O(vocab)); the corpus token stream joins
    // it map-side — one groupBy(doc) shuffle total. Per-token log ratios
    // are DECIMAL(18,6)-cast before summing (exact, associative).
    "d26_dsir_weights" -> ((s, d) => {
      val tk = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(split(lower(col("text")), "\\s+")).as("term"))
        .filter(col("term") =!= "")
        .withColumn("b", expr("cast(conv(substr(md5(term), 1, 4), 16, 10) AS int) % 128"))
      val target = tk.filter(col("source").isin("src0", "src1"))
        .groupBy("b").agg(count(lit(1)).as("ct"))
      val raw = tk.groupBy("b").agg(count(lit(1)).as("cr"))
      val model = s.range(128).select(col("id").cast(IntegerType).as("b"))
        .join(target, Seq("b"), "left").join(raw, Seq("b"), "left")
        .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
          coalesce(col("cr"), lit(0L)).as("cr"))
      val tot = model.agg(sum(col("ct")).as("t_tot"), sum(col("cr")).as("r_tot"))
      val lr = model.crossJoin(broadcast(tot))
        .select(col("b"),
          (log((col("ct") + lit(0.5)) / (col("t_tot") + lit(64.0))) -
            log((col("cr") + lit(0.5)) / (col("r_tot") + lit(64.0))))
            .cast(DecimalType(18, 6)).as("lr"))
      tk.join(broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("lr")).as("slr"))
        .select(col("doc_id"), col("n_toks"),
          // The final round(slr/n_toks, 4) is INTEGER-EXACT half-up
          // (away from zero), not round-of-double: slr is DECIMAL(18,6)
          // so slr·10^6 is an exact long and the quotient's half-up
          // rounding is pure integer arithmetic. The sf1 sweep caught a
          // doc whose true weight was an EXACT decimal tie
          // (-0.0639/18 = -0.00355) where Spark's and DuckDB's
          // round-of-double disagree (shortest-decimal vs binary tie
          // handling); ties cannot exist in integer space. The trailing
          // + 0.0 canonicalizes IEEE negative zero (caught at sf0.1).
          ((expr("CASE WHEN slr >= 0 THEN 1 ELSE -1 END") *
            floor((abs(col("slr") * lit(1000000)).cast(LongType) +
              lit(50L) * col("n_toks")) / (lit(100L) * col("n_toks")))
            ).cast(DoubleType) / lit(10000.0) + lit(0.0)).as("dsir_weight"))
        .orderBy(col("doc_id"))
    }),

    // d15 at the scale where the eval set outgrows a broadcast hash
    // relation: its BLOOM FILTER prefilters the corpus shingle stream
    // map-side (no false negatives → nothing lost), the exact join kills
    // the fpp tail — so the result, and the oracle, EQUAL d15's.
    "d19_bloom_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationPairsBloom(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "doc_id", "text", shingleSize = 2, minShared = 3)
        .orderBy(col("corpus_id"), col("eval_id"))
    }),

    // --- similarity search ----------------------------------------------
    "e04_array_funcs" -> ((s, d) => {
      // slice+transform are still exercised, but the result is unpacked to
      // scalar columns: the driver's pandas compare cannot sort/hash
      // ndarray cells (round-1 crash)
      Tables.embeddings(s, d)
        .withColumn("head3", expr("transform(slice(embedding, 1, 3), x -> CAST(x AS DOUBLE))"))
        .select(
          col("vec_id"),
          array_max(col("embedding")).cast(DoubleType).as("arr_max"),
          array_min(col("embedding")).cast(DoubleType).as("arr_min"),
          element_at(col("head3"), 1).as("h1"),
          element_at(col("head3"), 2).as("h2"),
          element_at(col("head3"), 3).as("h3"))
        .orderBy(col("vec_id"))
    }),

    // generator / lateral-view family: explode with position
    "e05_posexplode" -> ((s, d) => {
      Tables.embeddings(s, d)
        .filter(col("vec_id") < 20)
        .select(col("vec_id"),
          posexplode(expr("transform(slice(embedding, 1, 4), x -> CAST(x AS DOUBLE))")))
        .select(col("vec_id"), (col("pos") + 1).as("pos"), col("col").as("val"))
        .orderBy(col("vec_id"), col("pos"))
    }),

    // per-label embedding centroids over the first 8 dimensions — the
    // class-prototype computation (avg is order-insensitive to 1e-13 at
    // this scale; round(4) pins the cross-engine value; + 0.0
    // canonicalizes IEEE negative zero — a tiny negative centroid
    // rounded to 4 dp rendered -0.0 vs 0.0 across engines at sf1)
    "e09_label_centroids" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .filter(col("pos") < 8)
        .groupBy(col("label"), col("pos"))
        .agg((round(avg(col("col").cast(DoubleType)), 4) + lit(0.0)).as("centroid"),
          count(lit(1)).as("n"))
        .select(col("label"), (col("pos") + 1).as("pos"), col("centroid"), col("n"))
        .orderBy(col("label"), col("pos"))
    }),

    "e01_embedding_stats" -> ((s, d) => {
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dims"),
        element_at(col("embedding"), 1).cast(DoubleType).as("first_val"),
        col("label"))
        .orderBy(col("vec_id"))
    }),

    "e02_knn_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // FILTERED ANN — e02 under a metadata predicate (each query searches
    // only corpus vectors sharing its label): the filter-then-search
    // shape every production vector store serves (tenant / language /
    // permission filters). Pre-filtering keeps exactness trivially (no
    // post-filter recall loss); queries broadcast WITH their labels so
    // the corpus partitions only score their label-matched subset and
    // never shuffle.
    "e17_ann_filtered" -> ((s, d) => {
      graft.functions.VectorExpressions.registerAll(s)
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("label"))
      val scored = emb.join(broadcast(q), Seq("label"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", call_function("cosine_sim", col("qv"), col("embedding")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("query_id"), col("label"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 4).as("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // gram / covariance matrix of the first 8 embedding dims — the
    // second-moment aggregate under PCA whitening, OOD scoring
    // (Mahalanobis), and ANN index design. The outer products form
    // MAP-SIDE (one flattened d² array per vector, decimal-cast per
    // cell so the (i,j) sums are exact and associative), then ONE
    // partial-aggregated shuffle of d² keys — never a vector-pair join.
    // At full dim the same plan ships 4096 cells/vector; past that you
    // shard the key space (i-blocks), not the plan shape.
    "e18_gram_cov" -> ((s, d) => {
      val D = 8
      val emb = Tables.embeddings(s, d)
      val gram = emb.select(posexplode(expr(
          s"""transform(sequence(0, ${D * D - 1}), k ->
             |  CAST(CAST(embedding[CAST(k / $D AS INT)] AS DOUBLE) *
             |       CAST(embedding[CAST(k % $D AS INT)] AS DOUBLE) AS DECIMAL(25,12)))"""
            .stripMargin)).as(Seq("k", "p")))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sxy"))
      val means = emb.select(posexplode(expr(
          s"transform(sequence(0, ${D - 1}), i -> CAST(CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS DECIMAL(20,12)))"))
          .as(Seq("i", "x")))
        .groupBy(col("i")).agg(sum(col("x")).as("sx"))
      gram
        .withColumn("i", (col("k") / D).cast(IntegerType))
        .withColumn("j", (col("k") % D).cast(IntegerType))
        .join(broadcast(means.select(col("i"), col("sx").as("sxi"))), Seq("i"))
        .join(broadcast(means.select(col("i").as("j"), col("sx").as("sxj"))), Seq("j"))
        .select(col("i"), col("j"), col("n"),
          round(col("sxy").cast(DoubleType), 6).as("gram"),
          round((col("sxy").cast(DoubleType) - col("sxi").cast(DoubleType) *
            col("sxj").cast(DoubleType) / col("n")) / (col("n") - 1), 6).as("cov"))
        .orderBy(col("i"), col("j"))
    }),

    // distributed Lloyd's k-means with integer-exact arithmetic — the
    // corpus-partitioning / coreset clustering operator, hash-checked
    // against the identical unrolled rounds in the oracle (see
    // ann/KMeans scaladoc for why every step is bit-identical and why
    // assignment is map-only at 100 TB)
    "e19_kmeans" -> ((s, d) => {
      graft.ann.KMeans.lloydAssignments(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 4, iters = 3)
        .orderBy(col("vec_id"))
    }),

    // SemDeDup: k-means clusters (integer-exact e19 machinery), then
    // within-cluster cosine pruning — every vector with a lower-id
    // in-cluster neighbor at cos >= 0.35 is dropped. The pair space is
    // bounded by the clustering (Σ|cluster|², never n²; k scales with
    // the corpus to hold |cluster| constant). Oracle extends the shared
    // Lloyd's CTE chain with the same within-cluster join — the whole
    // cluster-then-prune pipeline is hash-proven.
    "e21_semdedup" -> ((s, d) => {
      Ann.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.35, k = 4, iters = 3)
        .orderBy(col("vec_id"))
    }),

    // retrieval-eval harness: recall@5 and first-hit reciprocal rank of
    // the quantized-LSH top-5 against the exact cosine top-5 — the
    // index-quality report every ANN deployment needs, computed as a
    // distributed join of the two result sets (metrics are integer
    // counts + two mirrored divisions; 60//first_hit_rank is exact for
    // every rank 1..5, so no float accumulation anywhere)
    "e22_retrieval_eval" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 5)
      val exact = Ann.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Ann.lshTopKQuantized(emb, qs, "vec_id", "embedding", k = 5, nBits = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val met = approx.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("query_id")
        .agg(count(lit(1)).as("hits"), min(col("rank")).as("fr"))
      qs.select(col("vec_id").as("query_id")).join(met, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)).cast("double") / 5).as("recall5"),
          coalesce(expr("60 div fr"), lit(0L)).as("rr_x60"))
        .orderBy(col("query_id"))
    }),

    // MIPS twin of e02: inner-product ranking (retrieval scoring) —
    // differs from cosine whenever corpus norms vary
    "e11_mips_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.bruteForceTopKDot(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), round(col("dot"), 4).as("dot"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "e03_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nBits = 8)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // hash-checkable LSH: the integer-quantized signature is bit-exact in
    // any engine, so the DuckDB twin reproduces the ENTIRE pipeline —
    // signature, buckets, Hamming-1 probes, cosine top-k — from the same
    // plane weights embedded as SQL literals. This is the primary
    // correctness evidence for the LSH path (e03 keeps the float
    // signature the production scorer uses).
    "e03b_ann_lsh_quantized" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.lshTopKQuantized(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nBits = 8)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // hash-checkable IVF: probing ALL cells makes IVF ≡ brute force
    // EXACTLY — any vector lost or duplicated by quantizer training,
    // cell assignment, the probe join, or ranking breaks the hash
    // against the brute-force oracle. Partial-probe recall is covered in
    // PipelineSpec; e08 keeps the production nProbe.
    "e08b_ann_ivf_fullprobe" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 7, nLists = 16, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "e08_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nLists = 16, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // product-quantization ANN — the compression half of IVF-PQ: the
    // corpus becomes m codes per vector (the ~32× memory collapse an ANN
    // serving tier needs at 100 TB), ADC ranks candidates by table
    // lookups, exact L2 re-ranks only the candidate pool (the standard
    // serving pattern). Trained-codebook floats are engine-specific →
    // rows-only; pool recall, refined recall, and the self-distance
    // invariant are ScalaTest-verified, and e12b hash-checks the
    // machinery end to end.
    "e12_ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.pqTopKRefined(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("l2"), 4).as("l2"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // PQ codebook distortion report — e32's index-health idea for the
    // COMPRESSION half of the index stack: per subspace, the encoding
    // error (integer squared-L2 to the chosen code) and code usage the
    // e12b fixed codebooks achieve on this corpus. High mean_d2 or
    // collapsed code usage in one subspace = that subspace needs its
    // own retrain — the FAISS codebook-audit workflow. Fully integer
    // (BIGINT distortions, count'd code usage); the only double is the
    // final mean. Scale shape: the m·ksub·d codebook broadcasts, the
    // per-dim explode is map-side, encode picks argmins in a window
    // bounded by ksub rows per (vector, subspace).
    "e37_pq_distortion" -> ((s, d) => {
      val spark2 = s
      import spark2.implicits._
      val (m, ksub, dims) = (4, 8, 64)
      val sub = dims / m
      val books = (for (sp <- 0 until m; c <- 0 until ksub; dd <- 0 until sub)
        yield (sp, c, sp * sub + dd, Ann.pqFixedCentroid(sp, c, dd)))
        .toDF("sp", "code", "dim", "cv")
      val qv = Tables.embeddings(s, d).select(col("vec_id"),
        posexplode(expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1024) AS BIGINT))"))
          .as(Seq("dim", "qd")))
      val d2 = qv.join(broadcast(books), Seq("dim"))
        .groupBy(col("vec_id"), col("sp"), col("code"))
        .agg(sum((col("qd") - col("cv")) * (col("qd") - col("cv"))).as("d2"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"), col("sp")).orderBy(col("d2"), col("code"))
      val enc = d2.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      enc.groupBy(col("sp"))
        .agg(count(lit(1)).as("n_vectors"), sum(col("d2")).as("total_d2"),
          countDistinct(col("code")).as("n_codes_used"))
        .select(col("sp").as("subspace"), col("n_vectors"), col("total_d2"),
          col("n_codes_used"),
          round(col("total_d2") * lit(1.0) / col("n_vectors"), 4).as("mean_d2"))
        .orderBy(col("subspace"))
    }),

    // SQ8: int8 codes at a FIXED data-independent scale → the whole
    // quantized pipeline (encode, integer L2, ranking) hash-checks
    // against the oracle directly — no literals, no twin needed.
    "e14_ann_sq8" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.sq8TopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("d2"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // the composed FAISS-style index: coarse cells + residual product
    // codes + ADC probe + exact re-rank. Trained floats → rows-only;
    // recall vs brute force (full- and partial-probe) in PipelineSpec.
    "e13_ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nLists = 16, nProbe = 4, m = 16, ksub = 32, candidates = 25)
        .select(col("query_id"), col("neighbor_id"),
          round(col("l2"), 4).as("l2"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // hash-checkable IVF-PQ (closes the r6 oracle gap on the composed
    // index): FIXED coarse centroids + FIXED residual codebooks make
    // coarse assignment, residual encode, full-probe per-cell ADC, the
    // candidate pool, and the integer-exact re-rank all BIGINT
    // arithmetic the DuckDB twin recomputes from the same literals.
    // e13 keeps the trained-float production index (rows-only).
    "e13b_ann_ivfpq_quantized" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.ivfPqTopKQuantized(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("d2"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // hash-checkable PQ: the fixed integer codebook + floor(v·1024)
    // quantization make encode, distance tables, ADC sums and ranking
    // bit-exact in any engine — the DuckDB twin recomputes ALL of it
    // from the same centroid integers embedded as SQL literals.
    "e12b_ann_pq_quantized" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.pqTopKQuantized(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("adist"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // hybrid-retrieval capstone: reciprocal-rank fusion of the lexical
    // (d24's BM25) and semantic (e02's cosine) arms — the fusion step a
    // production RAG stack runs. Each arm produces its top-20 via
    // orderBy().limit() (TakeOrderedAndProject — bounded heaps, no
    // global-window sort of the scored corpus); the fusion join and the
    // final rank run over ≤40 rows by construction. doc_id ≡ vec_id in
    // the synthetic corpus. rrf = Σ 1/(60+rank), the standard k=60 form.
    "e15_rrf_fusion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // cut: the token stream backs dl/dfreq/tf (the d24 rule)
      val tk = graft.operators.Lineage.cut(docs.select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("term"))
        .filter(col("term") =!= ""))
      val dl = tk.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val dfreq = tk.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val tf = tk.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val qterms = s.createDataFrame(Seq(Tuple1("spark"), Tuple1("window"), Tuple1("agg")))
        .toDF("term")
      val contrib = tf.join(broadcast(qterms), "term")
        .join(broadcast(dfreq), "term")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("c",
          (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl") / (col("sum_dl").cast(DoubleType) / col("n_docs"))))))
            .cast(DecimalType(18, 6)))
      val lexTop = contrib.groupBy("doc_id").agg(sum(col("c")).as("s"))
        .orderBy(col("s").desc, col("doc_id").asc).limit(20)
      val lex = lexTop.withColumn("lex_rank",
          row_number().over(Window.orderBy(col("s").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("lex_rank"))
      val emb = Tables.embeddings(s, d)
      val sem = Ann.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("sem_rank"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0)), 6))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("rrf").desc, col("doc_id").asc)))
        .filter(col("rank") <= 10)
        .select(col("rank"), col("doc_id"),
          coalesce(col("lex_rank"), lit(0)).cast(LongType).as("lex_rank"),
          coalesce(col("sem_rank"), lit(0)).cast(LongType).as("sem_rank"),
          col("rrf"))
        .orderBy(col("rank"))
    }),

    // MMR diversified re-rank: maximal marginal relevance over the
    // brute-force top-20 candidates for query vector 0 — the RAG
    // retrieval step that trades relevance against redundancy
    // (score = 0.7·rel − 0.3·max-sim-to-selected; step 1 = pure
    // relevance). Candidate scoring and the 20×19 pairwise-sim matrix
    // are computed distributed (broadcast joins, fused codegen cosine);
    // the greedy selection itself runs driver-local over the k-bounded
    // candidate set — k is fixed at 20 by construction, the same
    // bounded-collect pattern as the IVF quantizer sample. The oracle
    // replays the identical greedy as 10 chained CTE steps.
    "e16_mmr_rerank" -> ((s, d) => {
      import s.implicits._
      graft.functions.VectorExpressions.registerAll(s)
      val emb = Tables.embeddings(s, d)
      val cands = Ann.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("cos").as("rel"))
      val cvecs = emb.join(broadcast(cands.select("doc_id")),
          col("vec_id") === col("doc_id"))
        .select(col("doc_id"), col("embedding"))
      val psim = cvecs.alias("a").join(broadcast(cvecs.alias("b")),
          col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("pa"), col("b.doc_id").as("pb"),
          call_function("cosine_sim", col("a.embedding"), col("b.embedding")).as("sim"))
      val rel = cands.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val sims = psim.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      var selected = Vector.empty[(Int, Long, Double)]
      val remaining = scala.collection.mutable.SortedSet(rel.keys.toSeq: _*)
      for (step <- 1 to 10) {
        val scored = remaining.toSeq.map { id =>
          val score =
            if (step == 1) rel(id)
            else 0.7 * rel(id) - 0.3 * selected.map(p => sims((id, p._2))).max
          (id, score)
        }
        val (best, sc) = scored.minBy { case (id, v) => (-v, id) }
        selected :+= ((step, best, sc))
        remaining -= best
      }
      selected.toDF("step", "doc_id", "score")
        .withColumn("score", round(col("score"), 6))
        .orderBy(col("step"))
    }),

    // exact pair set — the oracle-checkable ground truth, computed on a
    // BOUNDED AUDIT SLICE (vec_id < 10000: the whole table at every gate
    // SF, a fixed-size prefix at scale, so the O(K²) exact check stays
    // constant-cost — d08's convention); e07 is the sub-quadratic
    // approximate path over the UNBOUNDED corpus
    "e06_embedding_neardups" -> ((s, d) => {
      Ann.cosineNearDupsExact(
        Tables.embeddings(s, d).filter(col("vec_id") < 10000),
        "vec_id", "embedding", threshold = 0.35)
        .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("a"), col("b"))
    }),

    // semantic dedup capstone: exact cosine pairs → connected components
    // → cluster assignment, all hash-checked (the embedding-space analog
    // of d09; e06 already proved the pair sets identical cross-engine, so
    // this verifies the CLUSTERING over them end to end). The scale path
    // swaps the quadratic pair generator for e07's LSH pairs — the CC
    // stage is shared and scale-safe (pointer jumping, touched subgraph).
    // (e06's bounded audit slice applies here too — the exact pair
    // generator and the label universe both run on vec_id < 10000, so
    // the end-to-end clustering verification stays constant-cost at
    // scale; the scale path clusters e07's LSH pairs instead)
    "e10_embedding_clusters" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 10000)
      val pairs = Ann.cosineNearDupsExact(emb, "vec_id", "embedding",
        threshold = 0.35).select(col("a"), col("b"))
      val labels = DedupClusters.connectedComponents(
        emb.select(col("vec_id").as("id")), pairs)
      val sizes = labels.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "cluster")
        .select(col("id").as("vec_id"), col("cluster"), col("cluster_size"))
        .orderBy(col("vec_id"))
    }),

    // hash-checkable twin of e07: the ENTIRE LSH pair pipeline —
    // quantized signatures, Hamming-1 banded probes, a<b pair join,
    // exact cosine, threshold — reproduced in the oracle from the same
    // plane literals (e03b's role, for the pair path).
    //
    // Signature width sizing (Ann.lshBitsFor, the round-13 sizing
    // lesson as code, round-13 verdict ask #5): bucket
    // count must scale with the corpus — 2⁸ = 256 buckets over sf10's
    // 200k vectors put ~780 vectors in every exact bucket, ~7·10⁸
    // candidate pairs (quadratic per bucket), 74 GB of spill, ENOSPC
    // even solo. The rule's floor of 16 keeps occupancy ≤ 4 (candidates
    // ≈ N²·17/2¹⁷ ≈ 10⁷ at sf10) and yields EXACTLY 16 at every
    // verified SF (the width first grows at n > 4·2¹⁶ = 262,144), so
    // the e07b oracle can stay a static 16-bit twin; beyond that the
    // oracle hands off to topology bytediff anyway. LshBitsSpec pins
    // the rule. At 16 bits the accidental low-cos collisions (all 30
    // sf0.01 pairs at 8 bits were cos 0.35-0.48) vanish, so the
    // contract would verify on zero rows — the m07/m08 trivially-green
    // class. Same cure: union a constant slice of EXACT-DUPLICATE
    // mutants (vec_id < 3, id shifted past max(vec_id), vector
    // unchanged — identical signature by construction, cos 1.0), which
    // the banded join must FIND at every SF; the oracle derives the
    // identical mutants.
    // nBits is PINNED to 16 here (not left to the derived default):
    // the oracle twin is a static 16-bit rebuild, and lshBitsFor yields
    // exactly 16 at every verified SF anyway — but if the sizing rule
    // ever changed, a derived width drifting off 16 would surface as an
    // inexplicable engine divergence instead of a visible width change
    // (round-14 ADVICE). The library default (nBits = 0 → derived) is
    // the scale path and stays spec-pinned by LshBitsSpec; pinning here
    // only ties the CONTRACT query to the width its oracle embeds.
    "e07b_neardups_lsh_quantized" -> ((s, d) => {
      Ann.cosineNearDupsQuantized(withEmbeddingMutants(Tables.embeddings(s, d)),
        "vec_id", "embedding", threshold = 0.35, nBits = 16)
        .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("a"), col("b"))
    }),

    "e07_embedding_neardups_lsh" -> ((s, d) => {
      Ann.cosineNearDups(withEmbeddingMutants(Tables.embeddings(s, d)),
        "vec_id", "embedding", threshold = 0.35, nBits = 16)
        .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("a"), col("b"))
    }),

    // --- multimodal plumbing (stubbed decode kernels) --------------------
    "m01_multimodal_decode" -> ((s, d) => {
      val media = Multimodal.fromDocuments(s, Tables.documents(s, d))
      Multimodal.decode(media).groupBy(col("kind"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_frames")).as("total_frames"),
          max(col("width")).as("max_width"),
          min(col("height")).as("min_height"))
        .orderBy(col("kind"))
    }),

    // hash-checkable multimodal twin: magic-byte container sniff + byte
    // length + md5 digest over the binary content column — the part of
    // the media pipeline that IS deterministic SQL, mirrored in DuckDB
    // over the same BLOBs (decode internals stay rows-only in m01-m03).
    // Map-only: no shuffle before the final ORDER BY.
    "m04_media_sniff" -> ((s, d) => {
      val media = Multimodal.fromDocuments(s, Tables.documents(s, d)).toDF()
      val magic = upper(hex(substring(col("content"), 1, 4)))
      media.select(col("media_id"), col("kind"),
        length(col("content")).cast(LongType).as("n_bytes"),
        md5(col("content")).as("digest"),
        magic.as("magic4"),
        when(magic.startsWith("89504E47"), "png")
          .when(magic.startsWith("FFD8FF"), "jpeg")
          .when(magic.startsWith("474946"), "gif")
          .when(magic.startsWith("52494646"), "riff")
          .when(upper(hex(substring(col("content"), 5, 4))) === "66747970", "mp4")
          .when(magic.startsWith("464F524D"), "form")
          .otherwise("none").as("container"))
        .orderBy(col("media_id"))
    }),

    // exact media dedup report — the "don't train on the same image
    // twice" step: content digests group identical blobs, the keeper is
    // the lowest media_id per digest (the d40 canonical-pick rule), and
    // the per-kind summary prices the dedup win in files AND bytes.
    // The digest window is bounded per content group; the only shuffle
    // keys on the 16-byte digest — content bytes never shuffle. At
    // sf0.1 the corpus carries 8 genuine duplicate blobs, so the
    // dedupable-bytes column is exercised, not vacuous.
    "m06_media_dedup" -> ((s, d) => {
      val media = Multimodal.fromDocuments(s, Tables.documents(s, d)).toDF()
      val g = media.select(col("media_id"), col("kind"),
        md5(col("content")).as("digest"),
        length(col("content")).cast(LongType).as("n_bytes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("digest")).orderBy(col("media_id"))
      val tagged = g.withColumn("keeper", row_number().over(w) === 1)
      tagged.groupBy(col("kind"))
        .agg(count(lit(1)).as("n_media"),
          countDistinct(col("digest")).as("n_distinct"),
          sum(when(!col("keeper"), 1L).otherwise(0L)).as("n_dup_files"),
          sum(col("n_bytes")).as("bytes_total"),
          sum(when(!col("keeper"), col("n_bytes")).otherwise(0L)).as("bytes_dedupable"))
        .orderBy(col("kind"))
    }),

    // perceptual near-dup detection (dHash) — m06's exact-digest dedup
    // misses re-encoded/brightness-shifted copies; the difference hash
    // over a 9×8 luminance grid is the standard cheap perceptual
    // fingerprint. Kernel dispatch follows the m01 rule: rows whose
    // magic bytes sniff as a JDK-decodable image hash REAL decoded
    // luminance (UDF, never fires on the synthetic text-byte corpus —
    // MultimodalImageSpec drives it with real JPEGs); everything else
    // takes a byte-stride stub computed in PURE SQL over hex pairs
    // (lexicographic hex compare ≡ byte compare), which the oracle
    // replays verbatim. Four 16-bit bands (never a 64-bit sign game)
    // feed a d07-style pigeonhole bucket join under an occupancy cap;
    // survivors exact-Hamming ≤ 6. Content bytes never shuffle — only
    // (id, band) rows and the 4-int hash arrays.
    "m07_phash_neardups" -> ((s, d) => {
      val media = Multimodal.fromDocuments(s, Tables.documents(s, d)).toDF()
      val realBands = udf((b: Array[Byte]) =>
        graft.multimodal.Multimodal.dHashBands(b).map(_.toArray).orNull)
      bandedHammingNearDups(withNearDupMutants(media, idsBelow = 3), realBands)
    }),

    // m07 extended to VIDEO: perceptual near-dup detection over
    // keyframes. The real kernel ([[Multimodal.videoDHashBands]],
    // spec-proven on an in-test MJPEG-AVI) demuxes up to 8 strided
    // keyframes, dHashes each decoded frame, and majority-votes the 64
    // bits — so a re-encoded/trimmed copy with a few divergent frames
    // still collides. Rows whose bytes aren't a parseable container
    // (this synthetic corpus) keep m07's pure-SQL byte-stride stub,
    // which the oracle replays verbatim over the video slice. Join
    // shape identical to m07: banded pigeonhole buckets under an
    // occupancy cap, exact Hamming ≤ 6 on survivors; content bytes
    // never shuffle.
    "m08_video_phash_neardups" -> ((s, d) => {
      val media = Multimodal.fromDocuments(s, Tables.documents(s, d)).toDF()
        .filter(col("kind") === "video")
      val realBands = udf((b: Array[Byte]) =>
        graft.multimodal.Multimodal.videoDHashBands(b).map(_.toArray).orNull)
      bandedHammingNearDups(withNearDupMutants(media, idsBelow = 6), realBands)
    }),

    // per-media byte-histogram Shannon entropy — the binary-junk /
    // encrypted-blob detector a multimodal ingest runs before decode
    // (entropy ≈ 8 ⇒ compressed/encrypted, ≈ 4-5 ⇒ text, low ⇒ padding).
    // Hash-checkable because each p·log2(p) term is cast to DECIMAL
    // BEFORE the sum (exact, associative, order-independent — the d21
    // rule); the byte stream is exploded from the hex rendering, ≤256
    // histogram rows per media row ride one shuffle.
    "m05_byte_entropy" -> ((s, d) => {
      val media = Multimodal.fromDocuments(s, Tables.documents(s, d)).toDF()
      val h = media.select(col("media_id"), upper(hex(col("content"))).as("hx"),
          length(col("content")).cast(LongType).as("n_bytes"))
        .filter(col("n_bytes") > 0)
      val bytes = h.select(col("media_id"), col("n_bytes"),
        explode(expr(
          "transform(sequence(1, cast(n_bytes as int)), i -> substring(hx, 2*i-1, 2))")).as("b"))
      bytes.groupBy(col("media_id"), col("n_bytes"), col("b"))
        .agg(count(lit(1)).as("c"))
        .withColumn("p", col("c").cast(DoubleType) / col("n_bytes"))
        .withColumn("t", (col("p") * log2(col("p"))).cast(DecimalType(18, 6)))
        .groupBy(col("media_id"), col("n_bytes"))
        .agg(count(lit(1)).as("n_distinct"),
          (-sum(col("t"))).cast(DoubleType).as("entropy"))
        .orderBy(col("media_id"))
    }),

    "m02_multimodal_frames" -> ((s, d) => {
      val media = Multimodal.fromDocuments(s, Tables.documents(s, d))
      Multimodal.frameSample(media, stride = 4)
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_sampled"),
          sum(length(col("frame_bytes"))).as("bytes_sampled"))
        .orderBy(col("media_id"))
    }),

    "m03_multimodal_resize" -> ((s, d) => {
      val media = Multimodal.fromDocuments(s, Tables.documents(s, d))
      Multimodal.resize(media, 32, 32).toDF()
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_files"),
          max(col("width")).as("max_w"), max(col("height")).as("max_h"),
          sum(length(col("content"))).as("total_bytes"))
        .orderBy(col("kind"))
    }))

  /** The dXXs sliced-twin oracles are DERIVED from the full queries' own
    * oracle strings — every `FROM documents` source becomes the pinned
    * id-prefix slice, so the twin's SQL can never drift from the full
    * query's semantics (one source of truth, same guarantee the Spark
    * side gets by calling the same operator code on filtered docs). */
  lazy val oracle: Map[String, String] = oracleBase ++ Seq(
    // third element = how many `FROM documents` references the base
    // oracle carries (TwinSql pins the count so a base edit that adds
    // or renames one fails the derivation loudly)
    ("d09s_dedup_clusters_sliced", "d09_dedup_clusters", 2),
    ("d14s_clean_corpus_sliced", "d14_clean_corpus", 3),
    ("d28s_training_manifest_sliced", "d28_training_manifest", 3),
    ("d34s_leakage_split_sliced", "d34_leakage_split", 2),
    ("d40s_canonical_pick_sliced", "d40_canonical_pick", 3),
    ("d66s_dedup_impact_sliced", "d66_dedup_impact", 2)).map {
    case (twin, full, n) => twin -> TwinSql.subst(twin, oracleBase(full),
      "FROM documents", s"FROM (SELECT * FROM documents WHERE doc_id < $SliceBound)", n)
  }

  private val oracleBase: Map[String, String] = Map(
    "d01_token_stats" ->
      s"""SELECT doc_id, len(string_split_regex(text, '\\s+')) AS n_tokens, length(text) AS len,
         | len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ($stopList))) AS stop_cnt
         |FROM documents ORDER BY doc_id""".stripMargin,

    "d02_quality_score" ->
      s"""SELECT doc_id,
         | length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt,
         | ${qualitySql("text")} AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,

    "d03_lang_guess" -> {
      def score(markers: Seq[String]) =
        s"len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN (${markers.map(m => s"'$m'").mkString(", ")})))"
      val en = score(TextFunctions.LangMarkers.toMap.apply("en"))
      val es = score(TextFunctions.LangMarkers.toMap.apply("es"))
      val de = score(TextFunctions.LangMarkers.toMap.apply("de"))
      val fr = score(TextFunctions.LangMarkers.toMap.apply("fr"))
      s"""WITH s AS (SELECT doc_id, $en AS en_score, $es AS es_score, $de AS de_score, $fr AS fr_score FROM documents)
         |SELECT doc_id, en_score, es_score,
         | CASE WHEN en_score = greatest(en_score, es_score, de_score, fr_score) AND greatest(en_score, es_score, de_score, fr_score) > 0 THEN 'en'
         |      WHEN es_score = greatest(en_score, es_score, de_score, fr_score) AND greatest(en_score, es_score, de_score, fr_score) > 0 THEN 'es'
         |      WHEN de_score = greatest(en_score, es_score, de_score, fr_score) AND greatest(en_score, es_score, de_score, fr_score) > 0 THEN 'de'
         |      WHEN fr_score = greatest(en_score, es_score, de_score, fr_score) AND greatest(en_score, es_score, de_score, fr_score) > 0 THEN 'fr'
         |      ELSE 'und' END AS guess
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "d04_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d05_exact_dedup" ->
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        | min(doc_id) AS keep_id, count(*) AS group_size
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    // the MinHash pipeline's exact-Jaccard verification step makes its
    // output EXACTLY the exact bigram-Jaccard pair set (banding at 64/16
    // has full recall on this corpus's planted pairs — proven in
    // PipelineSpec), so it shares the d08 oracle. NOTE this equivalence is
    // corpus-dependent: banding recall is probabilistic, so on a different
    // corpus/SF a mismatch here should be triaged as an LSH recall miss
    // (a pair below the banding collision curve), not a MinHash bug
    "d06_minhash_neardups" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |bg AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END AS bgs FROM w),
        |e AS (SELECT doc_id, unnest(bgs) AS s FROM bg),
        |sizes AS (SELECT doc_id, len(bgs) AS n FROM bg),
        |co AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |       FROM e x JOIN e y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
        |FROM co JOIN sizes sa ON co.a = sa.doc_id JOIN sizes sb ON co.b = sb.doc_id
        |WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
        |ORDER BY a, b""".stripMargin,

    "d08_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws
        |           FROM documents WHERE doc_id < 10000),
        |bg AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END AS bgs FROM w),
        |e AS (SELECT doc_id, unnest(bgs) AS s FROM bg),
        |sizes AS (SELECT doc_id, len(bgs) AS n FROM bg),
        |co AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |       FROM e x JOIN e y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
        |FROM co JOIN sizes sa ON co.a = sa.doc_id JOIN sizes sb ON co.b = sb.doc_id
        |WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
        |ORDER BY a, b""".stripMargin,

    // same token stream, same integer counts, same three divisions
    "d45_gopher_rules" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |        len(ws) AS n_words,
        |        list_sum(list_transform(ws, x -> length(x))) AS sum_len,
        |        len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
        |        len(list_filter(ws, x -> regexp_matches(x, '^[^A-Za-z0-9]+$'))) AS symbol_words
        |      FROM w)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        |  CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
        |  CAST(symbol_words AS DOUBLE) / n_words AS symbol_ratio,
        |  CAST(alpha_words AS DOUBLE) / n_words AS alpha_frac,
        |  (n_words BETWEEN 50 AND 100000
        |    AND CAST(sum_len AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0
        |    AND CAST(symbol_words AS DOUBLE) / n_words < 0.1
        |    AND CAST(alpha_words AS DOUBLE) / n_words > 0.8) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // identical apportionment replay: integer sqrt weights, floor quotas,
    // largest-remainder seats, md5-ordered per-source picks. HUGEINT
    // sums cast to BIGINT (the pandas-compare gotcha).
    "d44_mixing_manifest" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |w AS (SELECT source, CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w FROM c),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
        |q AS (SELECT w.source, (200 * w.w) // t.tw AS base, (200 * w.w) % t.tw AS remv FROM w, t),
        |u AS (SELECT CAST(sum(base) AS BIGINT) AS used FROM q),
        |r AS (SELECT q.*, row_number() OVER (ORDER BY remv DESC, source) AS rrank FROM q),
        |f AS (SELECT r.source,
        |        r.base + CASE WHEN r.rrank <= 200 - u.used THEN 1 ELSE 0 END AS quota
        |      FROM r, u),
        |o AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS slot
        |      FROM documents)
        |SELECT o.source, CAST(o.slot AS INT) AS slot, o.doc_id
        |FROM o JOIN f ON o.source = f.source
        |WHERE o.slot <= f.quota
        |ORDER BY o.source, o.slot""".stripMargin,

    "d42_priority_sample" ->
      """WITH d AS (SELECT doc_id, len(string_split_regex(text, '\s+')) AS w,
        |             ('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |           FROM documents),
        |p AS (SELECT doc_id, w, w * 4294967296.0 / (h + 1) AS priority FROM d
        |      ORDER BY priority DESC, doc_id LIMIT 50)
        |SELECT doc_id, w, round(priority, 4) AS priority FROM p ORDER BY doc_id""".stripMargin,

    "d41_containment" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents WHERE doc_id < 10000),
        |bg AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END AS bgs FROM w),
        |e AS (SELECT doc_id, unnest(bgs) AS s FROM bg),
        |sizes AS (SELECT doc_id, len(bgs) AS n FROM bg),
        |co AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |       FROM e x JOIN e y ON x.s = y.s AND x.doc_id <> y.doc_id GROUP BY 1, 2)
        |SELECT a, b, round(common * 1.0 / sa.n, 4) AS containment
        |FROM co JOIN sizes sa ON co.a = sa.doc_id
        |WHERE common * 1.0 / sa.n >= 0.6
        |ORDER BY a, b""".stripMargin,

    "d30_systematic_resample" ->
      """WITH d AS (SELECT doc_id, md5('draw0:' || CAST(doc_id AS VARCHAR)) AS skey,
        |             len(string_split_regex(text, '\s+')) AS w FROM documents),
        |sh AS (SELECT doc_id, skey, w,
        |         CAST(ascii(substr(skey, 1, 1)) % 4 AS INT) AS shard FROM d),
        |t AS (SELECT shard, sum(w) AS tw FROM sh GROUP BY shard),
        |c AS (SELECT doc_id, shard, w,
        |        coalesce(sum(w) OVER (PARTITION BY shard ORDER BY skey, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
        |      FROM sh)
        |SELECT doc_id, c.shard, w,
        |  CAST(((25 * (c + w) + tw - 1) // tw) - ((25 * c + tw - 1) // tw) AS BIGINT) AS draws
        |FROM c JOIN t ON c.shard = t.shard
        |WHERE ((25 * (c + w) + tw - 1) // tw) - ((25 * c + tw - 1) // tw) > 0
        |ORDER BY doc_id""".stripMargin,

    // the all-pairs exact set restricted to pairs touching the fresh
    // half (doc_id < 100) — what the incremental path must equal
    "d29_incremental_neardups" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |bg AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END AS bgs FROM w),
        |e AS (SELECT doc_id, unnest(bgs) AS s FROM bg),
        |sizes AS (SELECT doc_id, len(bgs) AS n FROM bg),
        |co AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |       FROM e x JOIN e y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
        |FROM co JOIN sizes sa ON co.a = sa.doc_id JOIN sizes sb ON co.b = sb.doc_id
        |WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
        |  AND (a < 100 OR b < 100)
        |ORDER BY a, b""".stripMargin,

    // prefix filtering is an exact algorithm: d27 must produce exactly
    // the all-pairs Jaccard >= 0.8 set (d08's oracle at d27's threshold)
    "d27_setsim_prefix_join" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws
        |           FROM documents WHERE doc_id < 10000),
        |bg AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END AS bgs FROM w),
        |e AS (SELECT doc_id, unnest(bgs) AS s FROM bg),
        |sizes AS (SELECT doc_id, len(bgs) AS n FROM bg),
        |co AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
        |       FROM e x JOIN e y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a, b, round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
        |FROM co JOIN sizes sa ON co.a = sa.doc_id JOIN sizes sb ON co.b = sb.doc_id
        |WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.8
        |ORDER BY a, b""".stripMargin,

    // the full md5-SimHash pipeline recomputed from raw text (tokenize →
    // distinct bigrams → 60-bit md5 hash → per-bit majority vote →
    // signature → brute-force Hamming pairs; Spark pairs via pigeonhole
    // blocks, provably identical for Hamming ≤ 3)
    "d07b_simhash_md5" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) END AS ss
        |  FROM toks),
        |h AS (
        |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(ss) AS s FROM sh)),
        |v AS (
        |  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS j) bits
        |  GROUP BY doc_id, j),
        |sig AS (
        |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS sig
        |  FROM v GROUP BY doc_id)
        |SELECT a.doc_id AS a, b.doc_id AS b, bit_count(xor(a.sig, b.sig)) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY a, b""".stripMargin,

    // transitive closure of the exact near-dup pair graph (same pair CTE
    // as d06/d08) via a recursive CTE; min reachable id = cluster label
    "d09_dedup_clusters" ->
      (clusterCtes +
        """,
          |sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster)
          |SELECT lab.id AS doc_id, lab.cluster, sz.cluster_size
          |FROM lab JOIN sz USING (cluster) ORDER BY doc_id""".stripMargin),

    "d66_dedup_impact" ->
      (clusterCtes +
        """,
          |sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster),
          |hist AS (SELECT cluster_size, count(*) AS n_clusters FROM sz GROUP BY cluster_size),
          |stats AS (SELECT CAST(sum(cluster_size) AS BIGINT) AS n_docs,
          |                 count(*) AS n_clusters_total FROM sz)
          |SELECT hist.cluster_size, hist.n_clusters,
          |  hist.cluster_size * hist.n_clusters AS n_docs_at_size,
          |  (hist.cluster_size - 1) * hist.n_clusters AS n_removable,
          |  stats.n_docs, stats.n_docs - stats.n_clusters_total AS total_removable
          |FROM hist CROSS JOIN stats ORDER BY hist.cluster_size""".stripMargin),

    // d09's recursive-CTE closure extended with the md5-of-cluster split
    "d35_span_decontaminate" ->
      """WITH base AS (SELECT doc_id,
        |         CASE WHEN (doc_id >= 20 AND doc_id % 9 = 0) OR doc_id = 5
        |              THEN text || ' alpha bravo charlie delta echo' ELSE text END AS t2
        |       FROM documents),
        |w AS (SELECT doc_id, string_split_regex(t2, '\s+') AS ws FROM base),
        |cg AS (SELECT doc_id, unnest(list_transform(range(len(ws) - 4),
        |         i -> {'s': CAST(i AS BIGINT),
        |               'g': array_to_string(ws[(i+1):(i+5)], ' ')})) AS u
        |       FROM w WHERE doc_id >= 20),
        |egr AS (SELECT unnest(list_transform(range(len(ws) - 4),
        |          i -> array_to_string(ws[(i+1):(i+5)], ' '))) AS g
        |        FROM w WHERE doc_id < 20),
        |eg AS (SELECT DISTINCT g FROM egr),
        |hits AS (SELECT cg.doc_id, cg.u.s AS s, cg.u.s + 5 AS e
        |         FROM cg JOIN eg ON cg.u.g = eg.g),
        |cov AS (SELECT DISTINCT doc_id, x AS idx
        |        FROM (SELECT doc_id, unnest(range(s, e)) AS x FROM hits)),
        |ct AS (SELECT doc_id, unnest(list_transform(range(len(ws)),
        |         i -> {'idx': CAST(i AS BIGINT), 'tok': ws[i+1]})) AS u
        |       FROM w WHERE doc_id >= 20),
        |kept AS (SELECT ct.doc_id, ct.u.idx AS idx, ct.u.tok AS tok FROM ct
        |         WHERE NOT EXISTS (SELECT 1 FROM cov
        |           WHERE cov.doc_id = ct.doc_id AND cov.idx = ct.u.idx)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |          string_agg(tok, ' ' ORDER BY idx) AS clean_text
        |        FROM kept GROUP BY doc_id),
        |st AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_before FROM w WHERE doc_id >= 20)
        |SELECT st.doc_id, st.n_before,
        |  st.n_before - coalesce(agg.n_kept, 0) AS n_removed,
        |  coalesce(agg.clean_text, '') AS clean_text
        |FROM st LEFT JOIN agg USING (doc_id) ORDER BY st.doc_id""".stripMargin,

    // Mann-Whitney rank-sum AUC: the tiny per-score group table carries
    // cumulative counts (a window over distinct scores here; the Spark
    // side derives the same ranks distributively via GlobalRank)
    "d36_auc" ->
      s"""WITH f AS (SELECT doc_id, lang,
         |  len(string_split_regex(text, '\\s+')) AS n,
         |  len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ($stopList))) AS stop_cnt,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt,
         |  length(text) AS tlen
         | FROM documents),
         |z AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         |  round(-1.2 + stop_cnt * 1.0 / greatest(n, 1) * 3.5
         |       - punct_cnt * 1.0 / greatest(tlen, 1) * 8.0
         |       + least(n, 200) * 1.0 / 200.0 * 2.0, 6) AS score
         | FROM f),
         |g AS (SELECT score, count(*) AS cnt, sum(label) AS pos FROM z GROUP BY score),
         |r AS (SELECT pos, cnt,
         |        coalesce(sum(cnt) OVER (ORDER BY score
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |      FROM g)
         |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
         |  CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
         |  round((sum((bef + 1 + (cnt - 1) / 2.0) * pos) - sum(pos) * (sum(pos) + 1) / 2.0)
         |        / (sum(pos) * sum(cnt - pos)), 6) AS auc
         |FROM r""".stripMargin,

    // bigrams via positionally-zipped adjacent slices; identical
    // stupid-backoff arithmetic, DECIMAL(18,6) per-bigram log-probs
    "d37_bigram_backoff" ->
      """WITH t AS (SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |b0 AS (SELECT doc_id, source,
        |         unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |       FROM t WHERE len(toks) >= 2),
        |b AS (SELECT * FROM b0 WHERE w1 <> '' AND w2 <> ''),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM b
        |       WHERE source IN ('src0','src1','src2','src3') GROUP BY 1, 2),
        |u AS (SELECT unnest(toks) AS w FROM t WHERE source IN ('src0','src1','src2','src3')),
        |c1 AS (SELECT w, count(*) AS c1 FROM u WHERE w <> '' GROUP BY w),
        |stats AS (SELECT sum(c1) AS n_tok, count(*) AS v FROM c1),
        |lp AS (SELECT b.doc_id,
        |        CAST(CASE WHEN c2.c2 IS NOT NULL THEN ln(c2.c2 / cw1.c1)
        |             ELSE ln(0.4 * (coalesce(cw2.c1, 0) + 1) / (stats.n_tok + stats.v)) END
        |             AS DECIMAL(18,6)) AS lp
        |      FROM b LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |        LEFT JOIN c1 cw1 ON b.w1 = cw1.w
        |        LEFT JOIN c1 cw2 ON b.w2 = cw2.w, stats)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST((CASE WHEN sum(lp) >= 0 THEN 1 ELSE -1 END) *
        |       ((abs(CAST(sum(lp) * 1000000 AS BIGINT)) + 50 * count(*)) // (100 * count(*)))
        |    AS DOUBLE) / 10000.0 + 0.0 AS avg_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // identical term arithmetic (int/int division is double in both
    // engines), DECIMAL(20,12) term sums
    "d39_kl_divergence" ->
      """WITH tk AS (SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |t AS (SELECT source, w FROM tk WHERE w <> ''),
        |cs AS (SELECT source, w, count(*) AS c_sw FROM t GROUP BY 1, 2),
        |cc AS (SELECT w, count(*) AS c_cw FROM t GROUP BY w),
        |ns AS (SELECT source, count(*) AS n_s FROM t GROUP BY source),
        |nc AS (SELECT count(*) AS n_c FROM t),
        |terms AS (SELECT cs.source,
        |    CAST((cs.c_sw / ns.n_s) * ln((cs.c_sw / ns.n_s) / (cc.c_cw / nc.n_c))
        |         AS DECIMAL(20,12)) AS tm
        |  FROM cs JOIN cc USING (w) JOIN ns USING (source), nc)
        |SELECT source, count(*) AS n_terms, round(CAST(sum(tm) AS DOUBLE), 6) AS kl
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    // d09's clusters + d23's quality formula; argmax via row_number
    "d40_canonical_pick" ->
      (clusterCtes +
        s""",
           |sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster),
           |f AS (SELECT doc_id,
           |  len(string_split_regex(text, '\\s+')) AS n,
           |  len(list_filter(string_split_regex(text, '\\s+'), w2 -> w2 IN ($stopList))) AS stop_cnt,
           |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt,
           |  length(text) AS tlen FROM documents),
           |q AS (SELECT doc_id, round(-1.2 + stop_cnt * 1.0 / greatest(n, 1) * 3.5
           |       - punct_cnt * 1.0 / greatest(tlen, 1) * 8.0
           |       + least(n, 200) * 1.0 / 200.0 * 2.0, 6) AS quality FROM f),
           |r AS (SELECT lab.id AS doc_id, lab.cluster, sz.cluster_size, q.quality,
           |        row_number() OVER (PARTITION BY lab.cluster
           |          ORDER BY q.quality DESC, lab.id) AS rn
           |      FROM lab JOIN sz USING (cluster) JOIN q ON q.doc_id = lab.id)
           |SELECT doc_id, cluster, cluster_size, quality, rn = 1 AS canonical
           |FROM r ORDER BY doc_id""".stripMargin),

    // chr(769) = U+0301 combining acute, chr(64257) = U+FB01 fi-ligature
    // (NFC leaves the ligature alone — only the acute composes)
    "d38_nfc_normalize" ->
      """WITH a AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' e' || chr(769) ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(64257) || 'n' ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id, length(raw) AS len_raw,
        |  length(nfc_normalize(raw)) AS len_nfc,
        |  md5(nfc_normalize(raw)) AS nfc_md5,
        |  nfc_normalize(raw) <> raw AS changed
        |FROM a ORDER BY doc_id""".stripMargin,

    "d34_leakage_split" ->
      (clusterCtes +
        """,
          |h AS (SELECT id AS doc_id, cluster,
          |        ascii(substr(md5(CAST(cluster AS VARCHAR)), 1, 1)) % 10 AS hb FROM lab)
          |SELECT doc_id, cluster,
          |  CASE WHEN hb < 8 THEN 'train' WHEN hb = 8 THEN 'val' ELSE 'test' END AS split
          |FROM h ORDER BY doc_id""".stripMargin),

    // d14's clean-corpus CTE chain extended with d20's sharding and
    // d10's capacity packing — the manifest must equal the composition
    "d28_training_manifest" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
         |bg AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END AS bgs FROM w),
         |e AS (SELECT doc_id, unnest(bgs) AS s FROM bg),
         |sizes AS (SELECT doc_id, len(bgs) AS n FROM bg),
         |co AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
         |       FROM e x JOIN e y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT a, b FROM co JOIN sizes sa ON co.a = sa.doc_id
         |          JOIN sizes sb ON co.b = sb.doc_id
         |          WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach AS (SELECT doc_id AS id, doc_id AS root FROM documents
         |          UNION
         |          SELECT s.dst AS id, r.root FROM reach r JOIN sym s ON s.src = r.id),
         |lab AS (SELECT id, min(root) AS cluster FROM reach GROUP BY id),
         |clean AS (SELECT d.doc_id,
         |            len(string_split_regex(d.text, '\\s+')) AS n_tokens
         |          FROM documents d JOIN lab ON d.doc_id = lab.id
         |          WHERE d.doc_id = lab.cluster
         |            AND ${qualitySql("d.text")} >= 0.35 AND d.lang = 'en'),
         |k AS (SELECT doc_id, n_tokens,
         |        md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS skey FROM clean),
         |sh AS (SELECT doc_id, n_tokens, skey,
         |         CAST(ascii(substr(skey, 1, 1)) % 4 AS INT) AS shard FROM k),
         |p AS (SELECT doc_id, shard, n_tokens,
         |        row_number() OVER win AS pos,
         |        coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY skey, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |      FROM sh WINDOW win AS (PARTITION BY shard ORDER BY skey, doc_id))
         |SELECT doc_id, shard, pos, CAST(floor(cum / 1024.0) AS BIGINT) AS bin, n_tokens
         |FROM p ORDER BY shard, pos""".stripMargin,

    "d14_clean_corpus" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
         |bg AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END AS bgs FROM w),
         |e AS (SELECT doc_id, unnest(bgs) AS s FROM bg),
         |sizes AS (SELECT doc_id, len(bgs) AS n FROM bg),
         |co AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
         |       FROM e x JOIN e y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |pairs AS (SELECT a, b FROM co JOIN sizes sa ON co.a = sa.doc_id
         |          JOIN sizes sb ON co.b = sb.doc_id
         |          WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
         |reach AS (SELECT doc_id AS id, doc_id AS root FROM documents
         |          UNION
         |          SELECT s.dst AS id, r.root FROM reach r JOIN sym s ON s.src = r.id),
         |lab AS (SELECT id, min(root) AS cluster FROM reach GROUP BY id),
         |sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster)
         |SELECT d.doc_id, d.source,
         |  len(string_split_regex(d.text, '\\s+')) AS n_tokens, sz.cluster_size
         |FROM documents d JOIN lab ON d.doc_id = lab.id JOIN sz USING (cluster)
         |WHERE d.doc_id = lab.cluster
         |  AND ${qualitySql("d.text")} >= 0.35
         |  AND d.lang = 'en'
         |ORDER BY d.doc_id""".stripMargin,

    "d16_repetition" ->
      """WITH b AS (SELECT doc_id,
        |  list_transform(range(1, len(string_split_regex(lower(text), '\s+'))),
        |    i -> string_split_regex(lower(text), '\s+')[i] || ' ' || string_split_regex(lower(text), '\s+')[i+1]) AS bgs
        |FROM documents)
        |SELECT doc_id, len(bgs) AS n_bigrams, len(list_distinct(bgs)) AS n_distinct,
        |  round(1.0 - len(list_distinct(bgs)) * 1.0 / len(bgs), 4) AS repetition
        |FROM b WHERE len(bgs) > 0 ORDER BY doc_id""".stripMargin,

    "m04_media_sniff" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  list_extract(['image','audio','video'], CAST(doc_id % 3 + 1 AS INT)) AS kind,
        |  encode(text) AS content, text FROM documents)
        |SELECT media_id, kind,
        |  CAST(octet_length(content) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest,
        |  upper(substring(hex(content), 1, 8)) AS magic4,
        |  CASE
        |    WHEN upper(substring(hex(content), 1, 8)) LIKE '89504E47%' THEN 'png'
        |    WHEN upper(substring(hex(content), 1, 8)) LIKE 'FFD8FF%' THEN 'jpeg'
        |    WHEN upper(substring(hex(content), 1, 8)) LIKE '474946%' THEN 'gif'
        |    WHEN upper(substring(hex(content), 1, 8)) LIKE '52494646%' THEN 'riff'
        |    WHEN upper(substring(hex(content), 9, 8)) = '66747970' THEN 'mp4'
        |    WHEN upper(substring(hex(content), 1, 8)) LIKE '464F524D%' THEN 'form'
        |    ELSE 'none' END AS container
        |FROM m ORDER BY media_id""".stripMargin,

    // the decode plumbing IS deterministic on the synthetic corpus: text
    // bytes never carry a real media signature, so every row takes the
    // documented stub (w/h from the first two bytes, frames from length,
    // all integer arithmetic) — which the oracle replays from hex().
    // Real-codec paths are covered by MultimodalImageSpec /
    // MultimodalVideoSpec fixtures; this hash locks the Spark-side
    // plumbing (kind routing, mapPartitions batch shape, aggregation).
    "m01_multimodal_decode" ->
      """WITH m AS (SELECT doc_id,
        |    list_extract(['image','audio','video'], CAST(doc_id % 3 + 1 AS INT)) AS kind,
        |    hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS len
        |  FROM documents),
        |b AS (SELECT kind, len,
        |    CASE WHEN len > 0 THEN
        |      (strpos('0123456789ABCDEF', hx[1]) - 1) * 16 + strpos('0123456789ABCDEF', hx[2]) - 1
        |    END AS b0,
        |    CASE WHEN len > 1 THEN
        |      (strpos('0123456789ABCDEF', hx[3]) - 1) * 16 + strpos('0123456789ABCDEF', hx[4]) - 1
        |    END AS b1
        |  FROM m),
        |d AS (SELECT kind,
        |    CASE WHEN len > 0 THEN 16 + b0 % 64 ELSE 0 END AS w,
        |    CASE WHEN len > 1 THEN 16 + b1 % 64 ELSE 0 END AS h,
        |    CASE kind WHEN 'video' THEN 1 + len // 64
        |              WHEN 'audio' THEN 1 + len // 16
        |              ELSE 1 END AS frames
        |  FROM b)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(frames) AS BIGINT) AS total_frames,
        |  CAST(max(w) AS INT) AS max_width, CAST(min(h) AS INT) AS min_height
        |FROM d GROUP BY kind ORDER BY kind""".stripMargin,

    // frame sampling on the synthetic corpus: video rows take the
    // 64-byte-window stub (windows 0,4,8,… of ceil-divided counts),
    // non-video rows pass through whole — all arithmetic on byte length
    "m02_multimodal_frames" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    list_extract(['image','audio','video'], CAST(doc_id % 3 + 1 AS INT)) AS kind,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS len
        |  FROM documents),
        |v AS (SELECT media_id, len, 1 + len // 64 AS n FROM m WHERE kind = 'video'),
        |f AS (SELECT media_id, len, unnest(range(0, n, 4)) AS fi FROM v),
        |vb AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_sampled,
        |         CAST(sum(least(64, len - 64 * fi)) AS BIGINT) AS bytes_sampled
        |       FROM f GROUP BY media_id),
        |o AS (SELECT media_id, CAST(1 AS BIGINT) AS n_sampled, len AS bytes_sampled
        |      FROM m WHERE kind <> 'video'
        |      UNION ALL SELECT media_id, n_sampled, bytes_sampled FROM vb)
        |SELECT media_id, n_sampled, bytes_sampled FROM o ORDER BY media_id""".stripMargin,

    // resize on the synthetic corpus: image rows take the byte-subset
    // stub (ratio-trunc-step arithmetic in the same IEEE doubles),
    // audio/video rows pass through with stub dims
    "m03_multimodal_resize" ->
      """WITH m AS (SELECT doc_id,
        |    list_extract(['image','audio','video'], CAST(doc_id % 3 + 1 AS INT)) AS kind,
        |    hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS len
        |  FROM documents),
        |b AS (SELECT kind, len,
        |    CASE WHEN len > 0 THEN 16 + ((strpos('0123456789ABCDEF', hx[1]) - 1) * 16
        |                                 + strpos('0123456789ABCDEF', hx[2]) - 1) % 64
        |         ELSE 0 END AS sw,
        |    CASE WHEN len > 1 THEN 16 + ((strpos('0123456789ABCDEF', hx[3]) - 1) * 16
        |                                 + strpos('0123456789ABCDEF', hx[4]) - 1) % 64
        |         ELSE 0 END AS sh
        |  FROM m),
        |r AS (SELECT kind,
        |    CASE WHEN kind = 'image' AND sw > 0 AND sh > 0 THEN least(32, sw) ELSE sw END AS w,
        |    CASE WHEN kind = 'image' AND sw > 0 AND sh > 0 THEN least(32, sh) ELSE sh END AS h,
        |    CASE WHEN kind = 'image' AND sw > 0 AND sh > 0 THEN
        |      (len - 1) // greatest(1, len // greatest(1,
        |        CAST(trunc(len * least(1.0, 1024.0 / (sw * sh))) AS BIGINT))) + 1
        |    ELSE len END AS nb
        |  FROM b)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(max(w) AS INT) AS max_w, CAST(max(h) AS INT) AS max_h,
        |  CAST(sum(nb) AS BIGINT) AS total_bytes
        |FROM r GROUP BY kind ORDER BY kind""".stripMargin,

    "e37_pq_distortion" ->
      s"""WITH books(sp, code, dim, cv) AS (VALUES ${pqCentroidValues(4, 8, 64)}),
         |emb AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
         |          v -> CAST(floor(v * 1024) AS BIGINT)) AS q FROM embeddings),
         |un AS (SELECT vec_id, CAST(t.i AS INT) - 1 AS dim, q[CAST(t.i AS INT)] AS qd
         |       FROM emb, range(1, 65) t(i)),
         |d2 AS (SELECT un.vec_id, books.sp, books.code,
         |         sum((un.qd - books.cv) * (un.qd - books.cv)) AS d2
         |       FROM un JOIN books ON un.dim = books.dim GROUP BY 1, 2, 3),
         |enc AS (SELECT vec_id, sp, code, d2 FROM d2
         |        QUALIFY row_number() OVER (PARTITION BY vec_id, sp ORDER BY d2, code) = 1)
         |SELECT sp AS subspace, count(*) AS n_vectors,
         |  CAST(sum(d2) AS BIGINT) AS total_d2,
         |  CAST(count(DISTINCT code) AS BIGINT) AS n_codes_used,
         |  round(sum(d2) * 1.0 / count(*), 4) AS mean_d2
         |FROM enc GROUP BY sp ORDER BY sp""".stripMargin,

    "m06_media_dedup" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    list_extract(['image','audio','video'], CAST(doc_id % 3 + 1 AS INT)) AS kind,
        |    md5(text) AS digest,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |t AS (SELECT *, row_number() OVER (PARTITION BY digest ORDER BY media_id) = 1 AS keeper FROM m)
        |SELECT kind, count(*) AS n_media,
        |  CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN NOT keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_files,
        |  CAST(sum(n_bytes) AS BIGINT) AS bytes_total,
        |  CAST(sum(CASE WHEN NOT keeper THEN n_bytes ELSE 0 END) AS BIGINT) AS bytes_dedupable
        |FROM t GROUP BY kind ORDER BY kind""".stripMargin,

    // m07's oracle replays the SQL stub verbatim (the synthetic corpus
    // never sniffs as an image, so the UDF branch never fires): hex-pair
    // grid, band packing as Σ bit·2^(15−p), pigeonhole buckets under the
    // same cap, exact Hamming via per-band bit_count(xor). The hm CTE
    // derives the same constant near-dup mutants as the Spark side's
    // withNearDupMutants (media_id < 3, byte 0 → 'Z' ≡ hex '5A', id
    // shifted past max(media_id)) so the contract verifies on a
    // provably NONZERO pair set.
    "m07_phash_neardups" ->
      """WITH m AS (SELECT doc_id AS media_id, encode(text) AS content FROM documents),
        |h0 AS (SELECT media_id, upper(hex(content)) AS hx,
        |        CAST(octet_length(content) AS BIGINT) AS n
        |      FROM m WHERE octet_length(content) >= 2),
        |h AS (SELECT media_id, hx, n FROM h0
        |      UNION ALL
        |      SELECT media_id + (SELECT max(media_id) + 1 FROM m),
        |        '5A' || substring(hx, 3), n
        |      FROM h0 WHERE media_id < 3),
        |g AS (SELECT media_id,
        |        list_transform(range(0, 72),
        |          i -> substring(hx, CAST(2 * ((i * n) // 72) + 1 AS INT), 2)) AS grid
        |      FROM h),
        |hs AS MATERIALIZED (SELECT media_id,
        |    list_transform(range(0, 4), k -> CAST(list_sum(list_transform(range(0, 16), p ->
        |      CASE WHEN grid[CAST(((k * 16 + p) // 8) * 9 + ((k * 16 + p) % 8) + 1 AS INT)] >
        |                grid[CAST(((k * 16 + p) // 8) * 9 + ((k * 16 + p) % 8) + 2 AS INT)]
        |           THEN (1 << (15 - p)) ELSE 0 END)) AS INT)) AS bands
        |  FROM g),
        |bu AS (SELECT media_id, t.k, bands[CAST(t.k + 1 AS INT)] AS bv
        |       FROM hs, range(0, 4) t(k)),
        |bc AS (SELECT media_id, k, bv FROM bu
        |       QUALIFY row_number() OVER (PARTITION BY k, bv ORDER BY media_id) <= 2048),
        |cand AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b
        |         FROM bc x JOIN bc y ON x.k = y.k AND x.bv = y.bv
        |                           AND x.media_id < y.media_id),
        |sc AS (SELECT cand.a, cand.b,
        |    CAST(list_sum(list_transform(range(0, 4), i ->
        |      bit_count(xor(ha.bands[CAST(i + 1 AS INT)], hb.bands[CAST(i + 1 AS INT)]))))
        |      AS INT) AS hamming
        |  FROM cand JOIN hs ha ON cand.a = ha.media_id
        |            JOIN hs hb ON cand.b = hb.media_id)
        |SELECT a, b, hamming FROM sc WHERE hamming <= 6 ORDER BY a, b""".stripMargin,

    // m08's oracle = m07's stub replay restricted to the video slice
    // (doc_id % 3 = 2 is the fromDocuments round-robin's video row; the
    // synthetic corpus never parses as a real container, so the
    // keyframe-majority UDF branch never fires here — MultimodalVideoSpec
    // drives that branch with an in-test MJPEG-AVI).
    "m08_video_phash_neardups" ->
      """WITH m AS (SELECT doc_id AS media_id, encode(text) AS content
        |           FROM documents WHERE doc_id % 3 = 2),
        |h0 AS (SELECT media_id, upper(hex(content)) AS hx,
        |        CAST(octet_length(content) AS BIGINT) AS n
        |      FROM m WHERE octet_length(content) >= 2),
        |h AS (SELECT media_id, hx, n FROM h0
        |      UNION ALL
        |      SELECT media_id + (SELECT max(media_id) + 1 FROM m),
        |        '5A' || substring(hx, 3), n
        |      FROM h0 WHERE media_id < 6),
        |g AS (SELECT media_id,
        |        list_transform(range(0, 72),
        |          i -> substring(hx, CAST(2 * ((i * n) // 72) + 1 AS INT), 2)) AS grid
        |      FROM h),
        |hs AS MATERIALIZED (SELECT media_id,
        |    list_transform(range(0, 4), k -> CAST(list_sum(list_transform(range(0, 16), p ->
        |      CASE WHEN grid[CAST(((k * 16 + p) // 8) * 9 + ((k * 16 + p) % 8) + 1 AS INT)] >
        |                grid[CAST(((k * 16 + p) // 8) * 9 + ((k * 16 + p) % 8) + 2 AS INT)]
        |           THEN (1 << (15 - p)) ELSE 0 END)) AS INT)) AS bands
        |  FROM g),
        |bu AS (SELECT media_id, t.k, bands[CAST(t.k + 1 AS INT)] AS bv
        |       FROM hs, range(0, 4) t(k)),
        |bc AS (SELECT media_id, k, bv FROM bu
        |       QUALIFY row_number() OVER (PARTITION BY k, bv ORDER BY media_id) <= 2048),
        |cand AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b
        |         FROM bc x JOIN bc y ON x.k = y.k AND x.bv = y.bv
        |                           AND x.media_id < y.media_id),
        |sc AS (SELECT cand.a, cand.b,
        |    CAST(list_sum(list_transform(range(0, 4), i ->
        |      bit_count(xor(ha.bands[CAST(i + 1 AS INT)], hb.bands[CAST(i + 1 AS INT)]))))
        |      AS INT) AS hamming
        |  FROM cand JOIN hs ha ON cand.a = ha.media_id
        |            JOIN hs hb ON cand.b = hb.media_id)
        |SELECT a, b, hamming FROM sc WHERE hamming <= 6 ORDER BY a, b""".stripMargin,

    "m05_byte_entropy" ->
      """WITH m AS (SELECT doc_id AS media_id, encode(text) AS content FROM documents),
        |h AS (SELECT media_id, upper(hex(content)) AS hx,
        |        CAST(octet_length(content) AS BIGINT) AS n_bytes
        |      FROM m WHERE octet_length(content) > 0),
        |b AS (SELECT media_id, n_bytes,
        |        unnest(list_transform(range(1, n_bytes + 1),
        |          i -> substring(hx, CAST(2*i-1 AS INT), 2))) AS b
        |      FROM h),
        |hist AS (SELECT media_id, n_bytes, b, count(*) AS c
        |         FROM b GROUP BY media_id, n_bytes, b),
        |t AS (SELECT media_id, n_bytes,
        |        CAST((c * 1.0 / n_bytes) * log2(c * 1.0 / n_bytes) AS DECIMAL(18,6)) AS t
        |      FROM hist)
        |SELECT media_id, n_bytes, count(*) AS n_distinct,
        |  CAST(-sum(t) AS DOUBLE) AS entropy
        |FROM t GROUP BY media_id, n_bytes ORDER BY media_id""".stripMargin,

    "d17_pii_redact" ->
      s"""WITH pii AS (SELECT doc_id,
         |  text || ' contact user' || doc_id || '@example.com from 10.' || (doc_id % 256)
         |    || '.' || ((doc_id * 7) % 256) || '.1 id '
         |    || printf('%03d-%02d-%04d', doc_id % 1000, doc_id % 100, doc_id % 10000) AS t0
         |FROM documents),
         |r AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t0,
         |    '$PiiEmailRe', '<EMAIL>', 'g'),
         |    '$PiiIpRe', '<IP>', 'g'),
         |    '$PiiIdRe', '<ID>', 'g') AS redacted FROM pii)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(redacted, '<EMAIL>')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(redacted, '<IP>')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(redacted, '<ID>')) AS BIGINT) AS n_ids,
         |  redacted
         |FROM r ORDER BY doc_id""".stripMargin,

    "d18_paragraph_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |p AS (SELECT doc_id, unnest(list_transform(
        |        range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT)),
        |        i -> {'idx': CAST(i AS INT),
        |              'para': array_to_string(ws[(i*10+1):(i*10+10)], ' ')})) AS u
        |      FROM t),
        |k AS (SELECT doc_id, u.idx AS idx, u.para AS para,
        |        row_number() OVER (PARTITION BY u.para ORDER BY doc_id, u.idx) AS rn FROM p)
        |SELECT doc_id, count(*) AS n_kept,
        |  string_agg(para, ' | ' ORDER BY idx) AS dedup_text
        |FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "e15_rrf_fusion" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |t AS (SELECT doc_id, term FROM tk WHERE term <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
        |dfreq AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY term),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |q AS (SELECT unnest(['spark','window','agg']) AS term),
        |contrib AS (
        |  SELECT tf.doc_id,
        |    CAST(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |         (tf.tf * 2.2) /
        |         (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs))))
        |      AS DECIMAL(18,6)) AS c
        |  FROM tf JOIN q USING (term) JOIN dfreq USING (term)
        |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        |lexs AS (SELECT doc_id, sum(c) AS s FROM contrib GROUP BY doc_id),
        |lex AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS lex_rank
        |        FROM lexs QUALIFY lex_rank <= 20),
        |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |sems AS (SELECT vec_id AS doc_id, list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS cos
        |         FROM qv, embeddings WHERE vec_id <> 0),
        |sem AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
        |        FROM sems QUALIFY sem_rank <= 20),
        |f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
        |        round(coalesce(CAST(1.0 AS DOUBLE) / (60 + lex_rank), 0) +
        |              coalesce(CAST(1.0 AS DOUBLE) / (60 + sem_rank), 0), 6) AS rrf
        |      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
        |r AS (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM f)
        |SELECT rank, doc_id, coalesce(lex_rank, 0) AS lex_rank,
        |  coalesce(sem_rank, 0) AS sem_rank, rrf
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "e16_mmr_rerank" -> {
      // every CTE MATERIALIZED: the chained greedy steps reference their
      // predecessors repeatedly, and inlined (default) CTEs expand
      // exponentially — enough re-opens of the parquet to exhaust file
      // handles before it gets slow
      val steps = (2 to 10).map { i =>
        s"""c$i AS MATERIALIZED (SELECT c.doc_id, 0.7 * c.rel - 0.3 * (SELECT max(p.sim) FROM psim p JOIN sel${i - 1} s ON p.a = c.doc_id AND p.b = s.doc_id) AS score
           |  FROM cand c WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${i - 1})),
           |s$i AS MATERIALIZED (SELECT doc_id, score FROM c$i ORDER BY score DESC, doc_id LIMIT 1),
           |sel$i AS MATERIALIZED (SELECT doc_id FROM sel${i - 1} UNION ALL SELECT doc_id FROM s$i)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 10)
        .map(i => s"SELECT $i AS step, doc_id, score FROM s$i").mkString(" UNION ALL ")
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         |cand AS MATERIALIZED (SELECT vec_id AS doc_id,
         |           list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS rel,
         |           CAST(embedding AS DOUBLE[]) AS ce
         |         FROM q, embeddings WHERE vec_id <> 0
         |         ORDER BY rel DESC, doc_id LIMIT 20),
         |psim AS MATERIALIZED (SELECT a.doc_id AS a, b.doc_id AS b, list_cosine_similarity(a.ce, b.ce) AS sim
         |         FROM cand a JOIN cand b ON a.doc_id <> b.doc_id),
         |s1 AS MATERIALIZED (SELECT doc_id, rel AS score FROM cand ORDER BY rel DESC, doc_id LIMIT 1),
         |sel1 AS MATERIALIZED (SELECT doc_id FROM s1),
         |$steps
         |SELECT step, doc_id, round(score, 6) AS score FROM ($unions) ORDER BY step""".stripMargin
    },

    "d33_bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents),
        |wc AS (SELECT word, count(*) AS cnt FROM w WHERE word <> '' GROUP BY word),
        |ch AS (SELECT cnt, string_split(word, '') AS cs FROM wc),
        |p AS (SELECT cnt, unnest(list_transform(range(1, len(cs)),
        |        i -> cs[i] || '|' || cs[i+1])) AS pair FROM ch)
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 30""".stripMargin,

    "d32_bpe_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS bpe_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) * 1.0 /
        |        len(string_split_regex(text, '\s+')), 4) AS fertility
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d31_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |c AS (SELECT doc_id, unnest(list_transform(
        |        range(0, greatest(CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT), 0) + 1),
        |        i -> {'idx': CAST(i AS BIGINT),
        |              'chunk': array_to_string(ws[(i*24+1):(i*24+32)], ' ')})) AS u
        |      FROM t)
        |SELECT doc_id, u.idx AS chunk_idx,
        |  len(string_split(u.chunk, ' ')) AS n_tokens,
        |  md5(u.chunk) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "d15_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |bg AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END AS bgs FROM w),
        |e AS (SELECT doc_id, unnest(bgs) AS s FROM bg),
        |hits AS (SELECT c.doc_id AS corpus_id, v.doc_id AS eval_id, count(*) AS n_shared
        |         FROM e c JOIN e v ON c.s = v.s
        |         WHERE c.doc_id >= 20 AND v.doc_id < 20
        |         GROUP BY 1, 2)
        |SELECT corpus_id, eval_id, n_shared FROM hits WHERE n_shared >= 3
        |ORDER BY corpus_id, eval_id""".stripMargin,

    "d21_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        |n AS (SELECT count(*) AS n_tokens FROM tk),
        |tf AS (SELECT term, count(*) AS tf FROM tk GROUP BY term),
        |lp AS (SELECT tk.doc_id, CAST(ln(tf.tf * 1.0 / n.n_tokens) AS DECIMAL(18,6)) AS lp
        |       FROM tk JOIN tf USING (term) CROSS JOIN n),
        |s AS (SELECT doc_id, count(*) AS n_toks, sum(lp) AS slp FROM lp GROUP BY doc_id)
        |SELECT doc_id, n_toks,
        |  CAST((CASE WHEN slp >= 0 THEN 1 ELSE -1 END) *
        |       ((abs(CAST(slp * 1000000 AS BIGINT)) + 50 * n_toks) // (100 * n_toks))
        |    AS DOUBLE) / 10000.0 + 0.0 AS avg_logprob
        |FROM s ORDER BY doc_id""".stripMargin,

    "d22_mixing_weights" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |p AS (SELECT source, n_docs, pow(n_docs * 1.0, 0.7) AS p FROM c),
        |t AS (SELECT sum(CAST(p AS DECIMAL(28,10))) AS tot FROM p)
        |SELECT source, n_docs,
        |  round(p / CAST(tot AS DOUBLE), 6) AS weight,
        |  round(p / CAST(tot AS DOUBLE) * 1000000, 2) AS budget_docs
        |FROM p CROSS JOIN t ORDER BY source""".stripMargin,

    "d23_quality_classifier" ->
      s"""WITH f AS (SELECT doc_id,
         |  len(string_split_regex(text, '\\s+')) AS n,
         |  len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ($stopList))) AS stop_cnt,
         |  length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS punct_cnt,
         |  length(text) AS tlen
         | FROM documents),
         |z AS (SELECT doc_id,
         |  -1.2 + stop_cnt * 1.0 / greatest(n, 1) * 3.5
         |       - punct_cnt * 1.0 / greatest(tlen, 1) * 8.0
         |       + least(n, 200) * 1.0 / 200.0 * 2.0 AS zv
         | FROM f)
         |SELECT doc_id, round(zv, 6) AS logit,
         |  round(least(greatest(zv * 0.25 + 0.5, 0.0), 1.0), 6) AS p_keep,
         |  least(greatest(zv * 0.25 + 0.5, 0.0), 1.0) >= 0.5 AS keep
         |FROM z ORDER BY doc_id""".stripMargin,

    // BM25 with per-term DECIMAL(18,6) contributions — identical decimal
    // sums on both engines, so the ranking (score desc, doc_id) is exact
    "d24_bm25" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |t AS (SELECT doc_id, term FROM tk WHERE term <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
        |dfreq AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY term),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |q AS (SELECT 1 AS qid, unnest(['spark','window','agg']) AS term
        |      UNION ALL SELECT 2, unnest(['hash','join','table'])
        |      UNION ALL SELECT 3, unnest(['stream','batch','sort'])),
        |contrib AS (
        |  SELECT q.qid, tf.doc_id,
        |    CAST(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) *
        |         (tf.tf * 2.2) /
        |         (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs))))
        |      AS DECIMAL(18,6)) AS c
        |  FROM tf JOIN q USING (term) JOIN dfreq USING (term)
        |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        |scored AS (SELECT qid, doc_id, sum(c) AS s, count(*) AS n_terms
        |           FROM contrib GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, n_terms, s,
        |        row_number() OVER (PARTITION BY qid ORDER BY s DESC, doc_id) AS rank
        |      FROM scored)
        |SELECT qid, rank, doc_id, n_terms, round(CAST(s AS DOUBLE), 4) AS score
        |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // corpus-wide duplicated 5-gram share per document
    "d25_dup_ngram_frac" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |ngs AS (
        |  SELECT doc_id, CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) END AS ngl
        |  FROM toks),
        |ng AS (SELECT doc_id, unnest(ngl) AS ng FROM ngs),
        |df5 AS (SELECT ng, count(*) AS df FROM ng GROUP BY ng),
        |j AS (SELECT doc_id, df FROM ng JOIN df5 USING (ng))
        |SELECT doc_id, count(*) AS n_ngrams,
        |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_ngrams,
        |  round(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS dup_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DSIR hashed-unigram importance weights; the 128-bucket LM and the
    // per-token DECIMAL(18,6) log-ratio sums reproduce exactly
    "d26_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, source, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |t AS (SELECT doc_id, source, term,
        |        ('0x' || substr(md5(term), 1, 4))::INT % 128 AS b
        |      FROM tk WHERE term <> ''),
        |target AS (SELECT b, count(*) AS ct FROM t WHERE source IN ('src0','src1') GROUP BY b),
        |raw AS (SELECT b, count(*) AS cr FROM t GROUP BY b),
        |model AS (SELECT r.b, coalesce(target.ct, 0) AS ct, coalesce(raw.cr, 0) AS cr
        |          FROM (SELECT unnest(range(128)) AS b) r
        |          LEFT JOIN target USING (b) LEFT JOIN raw USING (b)),
        |tot AS (SELECT sum(ct) AS t_tot, sum(cr) AS r_tot FROM model),
        |lr AS (SELECT b, CAST(ln((ct + 0.5) / (t_tot + 64.0)) - ln((cr + 0.5) / (r_tot + 64.0))
        |         AS DECIMAL(18,6)) AS lr
        |       FROM model CROSS JOIN tot),
        |s AS (SELECT doc_id, count(*) AS n_toks, sum(lr.lr) AS slr
        |      FROM t JOIN lr USING (b) GROUP BY doc_id)
        |SELECT doc_id, n_toks,
        |  CAST((CASE WHEN slr >= 0 THEN 1 ELSE -1 END) *
        |       ((abs(CAST(slr * 1000000 AS BIGINT)) + 50 * n_toks) // (100 * n_toks))
        |    AS DOUBLE) / 10000.0 + 0.0 AS dsir_weight
        |FROM s ORDER BY doc_id""".stripMargin,

    // int8 codes at a fixed power-of-two scale: floor(v*256) is exact,
    // clamping and squared-difference sums are integers — the oracle
    // recomputes the whole SQ8 pipeline from the raw embeddings
    "e14_ann_sq8" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |un AS (SELECT vec_id, CAST(t.i AS INT) AS d,
        |         greatest(-128, least(127, CAST(floor(e[CAST(t.i AS INT)] * 256) AS BIGINT))) AS q8
        |       FROM emb, range(1, 65) t(i)),
        |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |        CAST(sum((a.q8 - b.q8) * (a.q8 - b.q8)) AS BIGINT) AS d2
        |      FROM un a JOIN un b ON a.d = b.d
        |      WHERE a.vec_id < 5 AND b.vec_id <> a.vec_id
        |      GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, d2,
        |        row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, neighbor_id, d2, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // identical to d15's oracle by design: the Bloom prefilter is an
    // optimization that cannot change the result (no false negatives;
    // false positives die in the exact confirm join)
    "d19_bloom_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |bg AS (SELECT doc_id, CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) END AS bgs FROM w),
        |e AS (SELECT doc_id, unnest(bgs) AS s FROM bg),
        |hits AS (SELECT c.doc_id AS corpus_id, v.doc_id AS eval_id, count(*) AS n_shared
        |         FROM e c JOIN e v ON c.s = v.s
        |         WHERE c.doc_id >= 20 AND v.doc_id < 20
        |         GROUP BY 1, 2)
        |SELECT corpus_id, eval_id, n_shared FROM hits WHERE n_shared >= 3
        |ORDER BY corpus_id, eval_id""".stripMargin,

    "d10_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source, len(string_split_regex(text, '\s+')) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |        coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM t)
        |SELECT doc_id, source, n_tokens, CAST(floor(cum / 2048.0) AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    "d11_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tk) GROUP BY term),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |        tf.tf * ln(n.n_docs * 1.0 / df.df) AS score
        |      FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM s)
        |SELECT doc_id, term, tf, df, round(score, 4) AS score, rank
        |FROM r WHERE rank <= 3 AND doc_id < 50 ORDER BY doc_id, rank""".stripMargin,

    "d12_vocab" ->
      """WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |df AS (SELECT term, count(*) AS df FROM toks WHERE term <> '' GROUP BY term),
        |r AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rank FROM df)
        |SELECT term, df, rank FROM r WHERE rank <= 200 ORDER BY rank""".stripMargin,

    "d13_stratified_sample" ->
      """WITH r AS (SELECT doc_id, source, lang,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |FROM documents)
        |SELECT doc_id, source, lang, rn FROM r WHERE rn <= 20
        |ORDER BY source, rn""".stripMargin,

    "d20_shuffle_shard" ->
      """WITH k AS (SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS skey FROM documents),
        |s AS (SELECT doc_id, skey, CAST(ascii(substr(skey, 1, 1)) % 4 AS INT) AS shard FROM k),
        |p AS (SELECT doc_id, shard,
        |        row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS pos FROM s)
        |SELECT doc_id, shard, pos FROM p ORDER BY shard, pos""".stripMargin,

    "e01_embedding_stats" ->
      """SELECT vec_id, len(embedding) AS dims, CAST(embedding[1] AS DOUBLE) AS first_val, label
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "e09_label_centroids" ->
      """SELECT label, CAST(t.i AS INT) AS pos,
        | round(avg(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)), 4) + 0.0 AS centroid,
        | count(*) AS n
        |FROM embeddings, range(1, 9) t(i)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin,

    "e05_posexplode" ->
      """SELECT vec_id, CAST(t.i AS INT) AS pos, CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS val
        |FROM embeddings, range(1, 5) t(i)
        |WHERE vec_id < 20
        |ORDER BY vec_id, pos""".stripMargin,

    // DuckDB's list_cosine_similarity on FLOAT[] accumulates in float32;
    // casting to DOUBLE[] makes it bit-identical to our double-
    // accumulating CosineSim expression (verified bitwise at sf0.01)
    "e02_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |        list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS cos
        |      FROM q, embeddings WHERE vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "e17_ann_filtered" ->
      """WITH q AS (SELECT vec_id AS query_id, label, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q.query_id, q.label, e.vec_id AS neighbor_id,
        |        list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS cos
        |      FROM q JOIN embeddings e USING (label) WHERE e.vec_id <> q.query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, label, neighbor_id, round(cos, 4) AS cos, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // same decimal-exact outer-product sums; i/j recovered from the
    // flattened key, covariance combined in double at the end
    "e18_gram_cov" ->
      """WITH p AS (SELECT CAST(u.k AS INT) AS k,
        |    CAST(CAST(e.embedding[CAST(u.k // 8 AS INT) + 1] AS DOUBLE) *
        |         CAST(e.embedding[CAST(u.k % 8 AS INT) + 1] AS DOUBLE) AS DECIMAL(25,12)) AS p
        |  FROM embeddings e, unnest(range(0, 64)) AS u(k)),
        |g AS (SELECT k, count(*) AS n, sum(p) AS sxy FROM p GROUP BY k),
        |m AS (SELECT CAST(u.i AS INT) AS i,
        |        sum(CAST(CAST(e.embedding[CAST(u.i AS INT) + 1] AS DOUBLE) AS DECIMAL(20,12))) AS sx
        |      FROM embeddings e, unnest(range(0, 8)) AS u(i) GROUP BY 1)
        |SELECT mi.i, mj.i AS j, g.n,
        |  round(CAST(g.sxy AS DOUBLE), 6) AS gram,
        |  round((CAST(g.sxy AS DOUBLE) - CAST(mi.sx AS DOUBLE) * CAST(mj.sx AS DOUBLE) / g.n)
        |        / (g.n - 1), 6) AS cov
        |FROM g JOIN m mi ON g.k // 8 = mi.i JOIN m mj ON g.k % 8 = mj.i
        |ORDER BY 1, 2""".stripMargin,

    "e19_kmeans" -> kmeansOracle(k = 4, iters = 3, dims = 64),

    // the shared Lloyd's chain + the within-cluster prune: a vector is
    // kept iff no lower-id vector in its cluster sits at cos >= 0.35
    "e21_semdedup" ->
      s"""${kmeansCtes(k = 4, iters = 3, dims = 64)},
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |asg AS (SELECT a.id AS vec_id, a.cid AS cluster, emb.e
         |        FROM afinal a JOIN emb ON a.id = emb.vec_id),
         |dup AS (SELECT DISTINCT x.vec_id
         |        FROM asg x JOIN asg y
         |          ON x.cluster = y.cluster AND y.vec_id < x.vec_id
         |        WHERE list_cosine_similarity(x.e, y.e) >= 0.35)
         |SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
         |FROM asg a LEFT JOIN dup d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    "d43_feature_hash" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents),
        |f AS (SELECT doc_id, ('0x' || substr(md5(term), 1, 4))::INT % 64 AS bucket
        |      FROM tk WHERE term <> '')
        |SELECT doc_id, bucket, count(*) AS tf FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "e20_negative_sampling" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |        list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS cos
        |      FROM q, embeddings WHERE vec_id <> query_id),
        |top AS (SELECT query_id, neighbor_id FROM (
        |          SELECT query_id, neighbor_id,
        |            row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |          FROM s) t
        |        WHERE rank <= 20),
        |cand AS (SELECT q.query_id, e.vec_id AS cand_id,
        |           md5(CAST(q.query_id AS VARCHAR) || ':' || CAST(e.vec_id AS VARCHAR)) AS skey
        |         FROM q, embeddings e
        |         WHERE e.vec_id <> q.query_id
        |           AND NOT EXISTS (SELECT 1 FROM top t
        |                           WHERE t.query_id = q.query_id AND t.neighbor_id = e.vec_id))
        |SELECT query_id, cand_id AS neg_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY skey, cand_id) AS draw
        |FROM cand QUALIFY draw <= 10
        |ORDER BY query_id, draw""".stripMargin,

    "e11_mips_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |        list_inner_product(qe, CAST(embedding AS DOUBLE[])) AS dot
        |      FROM q, embeddings WHERE vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id, dot,
        |        row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, neighbor_id, round(dot, 4) AS dot, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "e06_embedding_neardups" ->
      """WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings WHERE vec_id < 10000)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |  round(list_cosine_similarity(x.e, y.e), 4) AS cos
        |FROM d x JOIN d y ON x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(x.e, y.e) >= 0.35
        |ORDER BY a, b""".stripMargin,

    // embedding clusters: e06's exact pair set + d09's recursive closure
    "e10_embedding_clusters" ->
      """WITH RECURSIVE d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |                     FROM embeddings WHERE vec_id < 10000),
        |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b FROM d x JOIN d y ON x.vec_id < y.vec_id
        |          WHERE list_cosine_similarity(x.e, y.e) >= 0.35),
        |sym AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
        |reach AS (SELECT vec_id AS id, vec_id AS root FROM embeddings WHERE vec_id < 10000
        |          UNION
        |          SELECT s.dst AS id, r.root FROM reach r JOIN sym s ON s.src = r.id),
        |lab AS (SELECT id, min(root) AS cluster FROM reach GROUP BY id),
        |sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster)
        |SELECT lab.id AS vec_id, lab.cluster, sz.cluster_size
        |FROM lab JOIN sz USING (cluster) ORDER BY vec_id""".stripMargin,

    // full quantized-LSH twin: integer signature arithmetic is bit-exact
    // across engines; floor(v*1024) is exact (×1024 is a power of two)
    "e07b_neardups_lsh_quantized" ->
      s"""WITH planes(p, d, wt) AS (VALUES ${lshPlanesValues(16, 64)}),
         |emb0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |emb AS (SELECT vec_id, e FROM emb0
         |        UNION ALL
         |        SELECT vec_id + (SELECT max(vec_id) + 1 FROM emb0), e
         |        FROM emb0 WHERE vec_id < 3),
         |un AS (SELECT vec_id, CAST(t.i AS INT) - 1 AS d, e[CAST(t.i AS INT)] AS v
         |       FROM emb, range(1, 65) t(i)),
         |bits AS (SELECT un.vec_id, planes.p,
         |   CASE WHEN sum(planes.wt * CAST(floor(un.v * 1024) AS BIGINT)) > 0 THEN 1 ELSE 0 END AS b
         | FROM un JOIN planes ON un.d = planes.d GROUP BY un.vec_id, planes.p),
         |sig AS (SELECT vec_id, CAST(sum(b << p) AS INT) AS s FROM bits GROUP BY vec_id),
         |masks(m) AS (VALUES (0),(1),(2),(4),(8),(16),(32),(64),(128),(256),(512),
         |                    (1024),(2048),(4096),(8192),(16384),(32768)),
         |x AS (SELECT emb.vec_id AS a, emb.e AS va, sig.s AS bucket
         |      FROM emb JOIN sig ON emb.vec_id = sig.vec_id),
         |y AS (SELECT emb.vec_id AS b, emb.e AS vb, xor(sig.s, masks.m) AS bucket
         |      FROM emb JOIN sig ON emb.vec_id = sig.vec_id CROSS JOIN masks),
         |pairs AS (SELECT x.a, y.b, max(list_cosine_similarity(x.va, y.vb)) AS cos
         |          FROM x JOIN y ON x.bucket = y.bucket AND x.a < y.b
         |          GROUP BY x.a, y.b)
         |SELECT a, b, round(cos, 4) AS cos FROM pairs
         |WHERE cos >= 0.35 ORDER BY a, b""".stripMargin,

    "e03b_ann_lsh_quantized" ->
      s"""$lshQuantTopKCtes
         |SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // retrieval-eval harness: recall@5 and first-hit reciprocal rank of
    // the quantized-LSH top-5 against the exact cosine top-5 — both
    // pipelines replayed here (the LSH chain from plane literals, the
    // exact ranking brute-force), metrics in integer counts + mirrored
    // divisions (60//fr divides evenly for every rank 1..5)
    "e22_retrieval_eval" ->
      s"""$lshQuantTopKCtes,
         |ex AS (SELECT qe.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY qe.vec_id
         |           ORDER BY list_cosine_similarity(qe.e, c.e) DESC, c.vec_id) AS xrank
         |       FROM emb qe JOIN emb c ON c.vec_id <> qe.vec_id
         |       WHERE qe.vec_id < 5),
         |exk AS (SELECT query_id, neighbor_id FROM ex WHERE xrank <= 5),
         |j AS (SELECT r.query_id, r.rank FROM r
         |      JOIN exk ON r.query_id = exk.query_id AND r.neighbor_id = exk.neighbor_id
         |      WHERE r.rank <= 5),
         |met AS (SELECT query_id, count(*) AS hits, min(rank) AS fr FROM j GROUP BY query_id),
         |qq AS (SELECT vec_id AS query_id FROM emb WHERE vec_id < 5)
         |SELECT qq.query_id, CAST(coalesce(met.hits, 0) AS BIGINT) AS hits,
         |  CAST(coalesce(met.hits, 0) AS DOUBLE) / 5 AS recall5,
         |  CAST(coalesce(60 // met.fr, 0) AS BIGINT) AS rr_x60
         |FROM qq LEFT JOIN met ON qq.query_id = met.query_id
         |ORDER BY qq.query_id""".stripMargin,

    // composed IVF-PQ twin from fixed integer literals: coarse assign
    // (ties → lowest cell), residual encode (ties → lowest code),
    // full-probe per-cell ADC tables, pool by (adist, id), and an
    // integer-exact L2 re-rank — every stage BIGINT arithmetic.
    "e13b_ann_ivfpq_quantized" ->
      s"""WITH cc(cell, gd, cv) AS (VALUES ${ivfCentroidValues(8, 64)}),
         |rb(sub, code, gd, bv) AS (VALUES ${ivfPqResidualValues(4, 8, 64)}),
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |un AS (SELECT vec_id, CAST(t.i AS INT) - 1 AS gd,
         |         CAST(floor(e[CAST(t.i AS INT)] * 1024) AS BIGINT) AS qv
         |       FROM emb, range(1, 65) t(i)),
         |cd AS (SELECT un.vec_id, cc.cell,
         |         CAST(sum((un.qv - cc.cv) * (un.qv - cc.cv)) AS BIGINT) AS d2
         |       FROM un JOIN cc ON un.gd = cc.gd GROUP BY 1, 2),
         |ca AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn FROM cd)
         |       WHERE rn = 1),
         |rv AS (SELECT un.vec_id, un.gd, un.qv - cc.cv AS rv
         |       FROM un JOIN ca ON un.vec_id = ca.vec_id
         |               JOIN cc ON cc.cell = ca.cell AND cc.gd = un.gd),
         |sd AS (SELECT rv.vec_id, rb.sub, rb.code,
         |         CAST(sum((rv.rv - rb.bv) * (rv.rv - rb.bv)) AS BIGINT) AS d2
         |       FROM rv JOIN rb ON rv.gd = rb.gd GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
         |            row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
         |          FROM sd) WHERE rn = 1),
         |qrv AS (SELECT un.vec_id, cc.cell, un.gd, un.qv - cc.cv AS rv
         |        FROM un JOIN cc ON un.gd = cc.gd WHERE un.vec_id < 5),
         |qsd AS (SELECT qrv.vec_id, qrv.cell, rb.sub, rb.code,
         |          CAST(sum((qrv.rv - rb.bv) * (qrv.rv - rb.bv)) AS BIGINT) AS d2
         |        FROM qrv JOIN rb ON qrv.gd = rb.gd GROUP BY 1, 2, 3, 4),
         |adc AS (SELECT t.vec_id AS query_id, c.vec_id AS neighbor_id,
         |          CAST(sum(t.d2) AS BIGINT) AS adist
         |        FROM codes c JOIN ca ON ca.vec_id = c.vec_id
         |             JOIN qsd t ON t.cell = ca.cell AND t.sub = c.sub AND t.code = c.code
         |        WHERE c.vec_id <> t.vec_id GROUP BY 1, 2),
         |pool AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS arank
         |         FROM adc) WHERE arank <= 25),
         |ex AS (SELECT p.query_id, p.neighbor_id,
         |         CAST(sum((qa.qv - qb.qv) * (qa.qv - qb.qv)) AS BIGINT) AS d2
         |       FROM pool p JOIN un qa ON qa.vec_id = p.query_id
         |            JOIN un qb ON qb.vec_id = p.neighbor_id AND qb.gd = qa.gd
         |       GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, d2,
         |        row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank
         |      FROM ex)
         |SELECT query_id, neighbor_id, d2, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // full PQ-ADC twin from the fixed integer codebook: encode = argmin
    // of BIGINT sub-distances (ties → lowest code), tables = the same
    // sub-distances, ADC = m lookups summed — all integer-exact.
    // HUGEINT sums cast back to BIGINT for the pandas compare.
    "e12b_ann_pq_quantized" ->
      s"""WITH cb(sub, code, gd, cv) AS (VALUES ${pqCentroidValues(4, 8, 64)}),
         |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |un AS (SELECT vec_id, CAST(t.i AS INT) - 1 AS gd,
         |         CAST(floor(e[CAST(t.i AS INT)] * 1024) AS BIGINT) AS qv
         |       FROM emb, range(1, 65) t(i)),
         |sd AS (SELECT un.vec_id, cb.sub, cb.code,
         |         CAST(sum((un.qv - cb.cv) * (un.qv - cb.cv)) AS BIGINT) AS d2
         |       FROM un JOIN cb ON un.gd = cb.gd GROUP BY 1, 2, 3),
         |enc AS (SELECT vec_id, sub, code,
         |          row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
         |        FROM sd),
         |codes AS (SELECT vec_id, sub, code FROM enc WHERE rn = 1),
         |adc AS (SELECT t.vec_id AS query_id, c.vec_id AS neighbor_id,
         |          CAST(sum(t.d2) AS BIGINT) AS adist
         |        FROM codes c JOIN sd t ON t.sub = c.sub AND t.code = c.code
         |        WHERE t.vec_id < 5 AND c.vec_id <> t.vec_id
         |        GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, adist,
         |        row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
         |      FROM adc)
         |SELECT query_id, neighbor_id, adist, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // full-probe IVF ≡ exact brute-force top-k (see the query comment)
    "e08b_ann_ivf_fullprobe" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 8),
        |s AS (SELECT query_id, vec_id AS neighbor_id,
        |        list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS cos
        |      FROM q, embeddings WHERE vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank FROM r WHERE rank <= 7
        |ORDER BY query_id, rank""".stripMargin,

    "e04_array_funcs" ->
      """WITH h AS (SELECT vec_id, list_max(embedding) AS mx, list_min(embedding) AS mn,
        |  list_transform(embedding[1:3], x -> CAST(x AS DOUBLE)) AS head3 FROM embeddings)
        |SELECT vec_id, CAST(mx AS DOUBLE) AS arr_max, CAST(mn AS DOUBLE) AS arr_min,
        | head3[1] AS h1, head3[2] AS h2, head3[3] AS h3
        |FROM h ORDER BY vec_id""".stripMargin)
}
