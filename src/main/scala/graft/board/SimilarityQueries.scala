package graft
package board

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{SimilarityOps, StreamingOps}
import SparkEntry._

/** Embedding similarity rows: exact and approximate top-k (IVF, PQ,
  * LSH), projections, quantization and semantic dedup.
  */
object SimilarityQueries {

  /** Exact cosine top-10 replay (q_ann_topk) — a val because the
    * retrieval-metrics oracle embeds the same text as a CTE.
    */
  private val annExactTopkSql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), c AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
      |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
      |), s AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |         list_dot_product(c.v, q.v) / (c.nrm * q.nrm) AS cosine
      |  FROM c CROSS JOIN (SELECT * FROM c WHERE vec_id < 8) q
      |), r AS (
      |  SELECT query_id, corpus_id, cosine,
      |         CAST(row_number() OVER (PARTITION BY query_id
      |              ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rank
      |  FROM s)
      |SELECT query_id, corpus_id, cosine, rank FROM r
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Sign-LSH bucket as DuckDB SQL: one CASE per hyperplane, using the
    * SAME deterministic-LCG hyperplane literals SimilarityOps ships, so
    * both engines compute bit-identical bucket ids (the dot products
    * are the same sequential fold; a sign can only differ if the bits
    * differ).
    */
  private def lshPairsOracleSql(bits: Int, dim: Int, threshold: Double): String = {
    val bucketExpr = graft.ops.SimilarityOps.hyperplanes(bits, dim).zipWithIndex
      .map { case (h, i) =>
        val arr = h.map(dlit).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n       + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |         $bucketExpr AS bucket
       |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
       |)
       |SELECT a.vec_id AS id_a, c.vec_id AS id_b
       |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
       |WHERE list_dot_product(a.v, c.v) / (a.nrm * c.nrm) >= ${dlit(threshold)}
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** `lshTopK` as DuckDB SQL: same hyperplane-literal buckets as
    * [[lshPairsOracleSql]], the multi-probe list (own bucket + every
    * 1-bit flip) via unnest, and the identical
    * (cosine DESC, corpus_id ASC) rank window.  Each corpus vector has
    * exactly one bucket and the probe list per query is distinct, so
    * the probe join cannot duplicate a candidate.
    */
  private def lshTopKOracleSql(bits: Int, dim: Int, k: Int): String = {
    val bucketExpr = graft.ops.SimilarityOps.hyperplanes(bits, dim).zipWithIndex
      .map { case (h, i) =>
        val arr = h.map(dlit).mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n       + ")
    val probes = ("bucket" +: (0 until bits).map(i => s"xor(bucket, ${1L << i})"))
      .mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
       |         $bucketExpr AS bucket
       |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qn,
       |         unnest([$probes]) AS bucket
       |  FROM b WHERE vec_id < 8
       |), s AS (
       |  SELECT q.query_id, c.vec_id AS corpus_id,
       |         list_dot_product(c.v, q.qv) / (c.nrm * q.qn) AS cosine
       |  FROM b c JOIN q ON c.bucket = q.bucket
       |), r AS (
       |  SELECT query_id, corpus_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rank
       |  FROM s)
       |SELECT query_id, corpus_id, cosine, rank FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** The deterministic-centroid IVF fixture for the verify SF
    * (tools: `sbt "runMain graft.GenIvfCentroids"`).  Not a second
    * source of truth — the centroid derivation is bit-deterministic
    * and OpsSpec pins runtime == fixture; the fixture exists so the
    * oracle SQL can embed the literals without a SparkSession.
    */
  private lazy val ivfCentroidsSf001: Array[Array[Double]] = {
    val t = Golden.load("sf0.01_ivf_centroids.json")
    t.rows.sortBy(_.head.asInstanceOf[Double])
      .map(_.drop(1).map(_.asInstanceOf[Double]).toArray).toArray
  }

  /** The AUTO-geometry centroid fixture for the verify SF: the same
    * derivation at `autoCells(500) = 22` cells (tools:
    * `sbt "runMain graft.GenIvfCentroids <sf> <out> 22"`).  OpsSpec
    * pins runtime == fixture, same contract as [[ivfCentroidsSf001]].
    */
  private lazy val ivfCentroidsSf001Auto: Array[Array[Double]] = {
    val t = Golden.load("sf0.01_ivf_centroids_auto.json")
    t.rows.sortBy(_.head.asInstanceOf[Double])
      .map(_.drop(1).map(_.asInstanceOf[Double]).toArray).toArray
  }

  /** The FULL-CORPUS distributed-Lloyd centroid fixture (tools:
    * `sbt "runMain graft.GenDistCentroids"`).  Same contract as
    * [[ivfCentroidsSf001]]: OpsSpec pins runtime == fixture.
    */
  private lazy val distCentroidsSf001: Array[Array[Double]] = {
    val t = Golden.load("sf0.01_dist_centroids.json")
    t.rows.sortBy(_.head.asInstanceOf[Double])
      .map(_.drop(1).map(_.asInstanceOf[Double]).toArray).toArray
  }

  /** The `||c||² − 2·v·c` nearest-cell struct list as DuckDB SQL —
    * shared by every oracle that replays a centroid-literal
    * assignment (IVF top-k, semantic dedup).
    */
  private def centroidStructList(
      centroids: Array[Array[Double]], vecExpr: String): String =
    centroids.zipWithIndex.map { case (cent, i) =>
      val arr = cent.map(dlit).mkString("[", ", ", "]")
      val c2 = dlit(graft.ops.SimilarityOps.sumSquares(cent))
      s"{'score': $c2 - 2.0E0 * list_dot_product($vecExpr, $arr), 'cell': $i}"
    }.mkString(",\n            ")

  /** The deterministic PQ codebook fixture for the verify SF
    * (tools: `sbt "runMain graft.GenPqCodebooks"`).  Same contract as
    * [[ivfCentroidsSf001]]: OpsSpec pins runtime == fixture.
    */
  private lazy val pqCodebooksSf001: Array[Array[Array[Double]]] = {
    val t = Golden.load("sf0.01_pq_codebooks.json")
    t.rows
      .groupBy(_.head.asInstanceOf[Double])
      .toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_(1).asInstanceOf[Double])
          .map(_.drop(2).map(_.asInstanceOf[Double]).toArray).toArray
      }.toArray
  }

  /** PQ encode as DuckDB SQL: per-subspace argmin over the (score,
    * code) struct list built from the SAME codebook literals the
    * Spark plan ships (`||cw||² − 2·v_s·cw` ranks like squared L2 —
    * the [[centroidStructList]] pattern per subspace).
    */
  private def pqCodesSql(cbs: Array[Array[Array[Double]]], vecExpr: String): String = {
    val sub = cbs.head.head.length
    (0 until cbs.length).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      val structs = cbs(s).zipWithIndex.map { case (cw, j) =>
        val arr = cw.map(dlit).mkString("[", ", ", "]")
        val c2 = dlit(graft.ops.SimilarityOps.sumSquares(cw))
        s"{'score': $c2 - 2.0E0 * list_dot_product($vecExpr[$lo:$hi], $arr), 'code': $j}"
      }.mkString(",\n              ")
      s"(list_sort([$structs]))[1].code"
    }.mkString("[", ",\n           ", "]")
  }

  /** `SimilarityOps.pqTopKADC` as DuckDB SQL: the same codebook
    * literals, the same per-subspace argmin codes, and the same ADC
    * accumulation `||q_s||² − 2·q_s·cw + ||cw||²` summed left-to-right
    * over subspaces — every piece a literal (dlit round-trip) or a
    * sequential dot fold, so the float scores match bit-for-bit.
    */
  private def pqTopKOracleSql(cbs: Array[Array[Array[Double]]], k: Int): String = {
    val m = cbs.length
    val sub = cbs.head.head.length
    // per-subspace ADC term against a code column: q-side dots stay
    // DATA (the oracle recomputes them from the same embeddings rows),
    // cw reconstruction + ||cw||² come from literals indexed by code
    val terms = (0 until m).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      val cwList = cbs(s).map(_.map(dlit).mkString("[", ", ", "]"))
        .mkString("[", ",\n              ", "]")
      val cw2List = cbs(s).map(cw =>
        dlit(graft.ops.SimilarityOps.sumSquares(cw))).mkString("[", ", ", "]")
      s"""(list_dot_product(q.qv[$lo:$hi], q.qv[$lo:$hi])
         |            - 2.0E0 * list_dot_product(q.qv[$lo:$hi], ($cwList)[c.codes[${s + 1}] + 1])
         |            + ($cw2List)[c.codes[${s + 1}] + 1])""".stripMargin
    }.mkString("\n          + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v FROM e WHERE sqrt(list_dot_product(v, v)) > 0
       |), c AS (
       |  SELECT vec_id, ${pqCodesSql(cbs, "v")} AS codes
       |  FROM b
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv FROM b WHERE vec_id < 8
       |), s AS (
       |  SELECT q.query_id, c.vec_id AS corpus_id,
       |         $terms AS adc
       |  FROM c CROSS JOIN q
       |), r AS (
       |  SELECT query_id, corpus_id, adc,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY adc ASC, corpus_id) AS BIGINT) AS rank
       |  FROM s)
       |SELECT query_id, corpus_id, adc, rank FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** `SimilarityOps.ivfPqTopK` as DuckDB SQL: the IVF oracle's
    * cell-assignment/probe CTEs + the PQ oracle's code argmin and ADC
    * terms, joined on the probed cell — the composition replays
    * because both halves do.  `refine > 0` appends the exact-re-rank
    * replay: the ADC ranking keeps a `k·refine` shortlist (the ADC
    * floats are bit-identical across engines, so the CUT is
    * replayable), then true cosine — the same left-fold dot product
    * every exact oracle uses — re-ranks it to the final k.
    */
  private def ivfPqOracleSql(
      centroids: Array[Array[Double]],
      cbs: Array[Array[Array[Double]]], nProbe: Int, k: Int,
      refine: Int = 0): String = {
    val m = cbs.length
    val sub = cbs.head.head.length
    val terms = (0 until m).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      val cwList = cbs(s).map(_.map(dlit).mkString("[", ", ", "]"))
        .mkString("[", ",\n              ", "]")
      val cw2List = cbs(s).map(cw =>
        dlit(graft.ops.SimilarityOps.sumSquares(cw))).mkString("[", ", ", "]")
      s"""(list_dot_product(q.qv[$lo:$hi], q.qv[$lo:$hi])
         |            - 2.0E0 * list_dot_product(q.qv[$lo:$hi], ($cwList)[a.codes[${s + 1}] + 1])
         |            + ($cw2List)[a.codes[${s + 1}] + 1])""".stripMargin
    }.mkString("\n          + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v FROM e WHERE sqrt(list_dot_product(v, v)) > 0
       |), a AS (
       |  SELECT vec_id, v,
       |         (list_sort([${centroidStructList(centroids, "v")}]))[1].cell AS cell,
       |         ${pqCodesSql(cbs, "v")} AS codes
       |  FROM b
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv,
       |         unnest(list_transform(
       |           (list_sort([${centroidStructList(centroids, "v")}]))[1:$nProbe],
       |           s -> s.cell)) AS cell
       |  FROM b WHERE vec_id < 8
       |), s AS (
       |  SELECT q.query_id, a.vec_id AS corpus_id,
       |         $terms AS adc
       |  FROM a JOIN q USING (cell)
       |), r AS (
       |  SELECT query_id, corpus_id, adc,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY adc ASC, corpus_id) AS BIGINT) AS rank
       |  FROM s)
       |${
      if (refine <= 0)
        s"""SELECT query_id, corpus_id, adc, rank FROM r
           |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
      else
        s"""SELECT f.query_id, f.corpus_id, f.cosine, f.rank FROM (
           |  SELECT x.query_id, x.corpus_id, x.cosine,
           |         CAST(row_number() OVER (PARTITION BY x.query_id
           |              ORDER BY x.cosine DESC, x.corpus_id) AS BIGINT) AS rank
           |  FROM (
           |    SELECT sl.query_id, sl.corpus_id,
           |           list_dot_product(c.v, qq.v)
           |             / (sqrt(list_dot_product(c.v, c.v))
           |                * sqrt(list_dot_product(qq.v, qq.v))) AS cosine
           |    FROM (SELECT query_id, corpus_id FROM r
           |          WHERE rank <= ${k * refine}) sl
           |    JOIN b c ON c.vec_id = sl.corpus_id
           |    JOIN b qq ON qq.vec_id = sl.query_id) x) f
           |WHERE f.rank <= $k ORDER BY f.query_id, f.rank""".stripMargin
    }""".stripMargin
  }

  /** `SimilarityOps.randomProject` as DuckDB SQL: one
    * `list_dot_product` against each literal sign row — both engines
    * fold the dot sequentially, so the doubles match bit-for-bit.
    */
  private def randProjOracleSql(matrix: Array[Array[Double]]): String = {
    val cols = matrix.zipWithIndex.map { case (row, j) =>
      s"list_dot_product(v, ${row.map(dlit).mkString("[", ", ", "]")}) AS p$j"
    }.mkString(",\n       ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)
       |SELECT vec_id,
       |       $cols
       |FROM e ORDER BY vec_id""".stripMargin
  }

  /** The deterministic PCA fixture for the verify SF (tools:
    * `sbt "runMain graft.GenPcaBasis"`).  Row 0 = mean, rows 1..k =
    * eigenvalue-ordered sign-canonical axes; same not-a-second-truth
    * contract as [[ivfCentroidsSf001]] (OpsSpec pins runtime ==
    * fixture).
    */
  private lazy val pcaBasisSf001: (Array[Double], Array[Array[Double]]) = {
    val t = Golden.load("sf0.01_pca_basis.json")
    val rows = t.rows.sortBy(_.head.asInstanceOf[Double])
      .map(_.drop(1).map(_.asInstanceOf[Double]).toArray)
    (rows.head, rows.tail.toArray)
  }

  /** `SimilarityOps.pcaProject` as DuckDB SQL: per axis one
    * `list_dot_product` against the basis literal minus the
    * driver-folded `mean·axis` offset literal — the randProj replay
    * shape plus one IEEE subtraction, so the doubles match
    * bit-for-bit.
    */
  private def pcaOracleSql(
      mean: Array[Double], basis: Array[Array[Double]]): String = {
    val offsets = SimilarityOps.pcaOffsets(mean, basis)
    val cols = basis.zip(offsets).zipWithIndex.map { case ((b, off), j) =>
      s"list_dot_product(v, ${b.map(dlit).mkString("[", ", ", "]")}) - ${dlit(off)} AS p$j"
    }.mkString(",\n       ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)
       |SELECT vec_id,
       |       $cols
       |FROM e ORDER BY vec_id""".stripMargin
  }

  /** `SimilarityOps.semanticDupDrops` as DuckDB SQL: centroid-literal
    * nearest-cell assignment (the IVF oracle's struct sort), hot-cell
    * exclusion, the within-cell `lower id × cosine ≥ t` pair rule, and
    * the per-dropped-vector (count, max) rollup.
    */
  private def semanticDedupOracleSql(
      centroids: Array[Array[Double]], cosThreshold: Double, maxCell: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
       |  FROM e WHERE v IS NOT NULL AND sqrt(list_dot_product(v, v)) > 0
       |), a AS (
       |  SELECT vec_id, v, nrm,
       |         (list_sort([${centroidStructList(centroids, "v")}]))[1].cell AS cell
       |  FROM b
       |), h AS (
       |  SELECT cell FROM a GROUP BY cell HAVING count(*) > $maxCell
       |), c AS (
       |  SELECT * FROM a WHERE cell NOT IN (SELECT cell FROM h)
       |), p AS (
       |  SELECT l.cell AS cell, r.vec_id AS dup_id,
       |         list_dot_product(l.v, r.v) / (l.nrm * r.nrm) AS cosine
       |  FROM c l JOIN c r ON l.cell = r.cell AND l.vec_id < r.vec_id
       |)
       |SELECT dup_id AS vec_id, CAST(cell AS BIGINT) AS cell,
       |       CAST(count(*) AS BIGINT) AS n_near, max(cosine) AS max_cosine
       |FROM p WHERE cosine >= ${dlit(cosThreshold)}
       |GROUP BY dup_id, cell ORDER BY vec_id""".stripMargin

  /** `ivfTopKWithCentroids` as DuckDB SQL: the same centroid literals
    * (`dlit`-printed, so both engines strtod the same bits), the same
    * `||c||² − 2·v·c` scores (the `||c||²` term is the same
    * driver-computed literal), nearest-cell assignment via a sorted
    * struct list (struct comparison is field-lexicographic in BOTH
    * engines: score, then cell — identical tie-break), the nProbe
    * probe list via unnest, and the identical
    * (cosine DESC, corpus_id ASC) rank window.
    */
  private def ivfTopKOracleSql(
      centroids: Array[Array[Double]], nProbe: Int, k: Int): String = {
    def structList(vecExpr: String): String =
      centroidStructList(centroids, vecExpr)
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
       |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
       |), a AS (
       |  SELECT vec_id, v, nrm,
       |         (list_sort([${structList("v")}]))[1].cell AS cell
       |  FROM b
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv, nrm AS qn,
       |         unnest(list_transform(
       |           (list_sort([${structList("v")}]))[1:$nProbe],
       |           s -> s.cell)) AS cell
       |  FROM b WHERE vec_id < 8
       |), s AS (
       |  SELECT q.query_id, a.vec_id AS corpus_id,
       |         list_dot_product(a.v, q.qv) / (a.nrm * q.qn) AS cosine
       |  FROM a JOIN q USING (cell)
       |), r AS (
       |  SELECT query_id, corpus_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY cosine DESC, corpus_id) AS BIGINT) AS rank
       |  FROM s)
       |SELECT query_id, corpus_id, cosine, rank FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  val queries: Seq[QuerySpec] = Seq(
    QuerySpec("q_embed_pool", run = { (s, dir) =>
        SimilarityOps.quantizedLabelCentroids(
            s.read.parquet(s"$dir/embeddings.parquet"), "label", "embedding")
          .select(col("label").cast("bigint").as("label"), col("dim"),
            col("n").cast("bigint").as("n"), col("q_sum"), col("q_mean"))
          .orderBy("label", "dim")
      },
      // pooled-centroid replay: zipped unnests give (dim, x); the same
      // floor(x*1e6) integer quantization makes the per-(label,dim) sums
      // order-free exact — mean is the one terminal division
      oracle = _ =>
        """WITH u AS (
          |  SELECT label, unnest(range(len(embedding))) AS dim,
          |         unnest(embedding) AS x
          |  FROM embeddings)
          |SELECT label, CAST(dim AS BIGINT) AS dim,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
          |            AS BIGINT) AS q_sum,
          |       CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
          |            AS DOUBLE) / count(*) AS q_mean
          |FROM u GROUP BY 1, 2 ORDER BY label, dim""".stripMargin),
    QuerySpec("q_semantic_dedup", run = { (s, dir) =>
        // SemDeDup over the embeddings: deterministic literal
        // centroids (the IVF pattern) so the cluster-blocked
        // drop rule replays end-to-end in DuckDB
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        SimilarityOps.semanticDupDrops(
            emb, "vec_id", "embedding", cents, cosThreshold = 0.3)
          .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
            col("n_near"), col("max_cosine"))
          .orderBy("vec_id")
      },
      // SemDeDup replay: the SAME centroid literals + nearest-cell
      // struct sort as the IVF oracle, then the within-cell lower-id
      // neighbor rule (count/max are order-free aggregates; the cosine
      // is the same sequential dot fold both engines share)
      oracle = _ =>
        semanticDedupOracleSql(ivfCentroidsSf001, cosThreshold = 0.3, maxCell = 100000)),
    QuerySpec("q_embed_cosine_dups", run = { (s, dir) =>
        SimilarityOps.blockedCosinePairs(
            s.read.parquet(s"$dir/embeddings.parquet"),
            "vec_id", "embedding", "label", 0.4)
          .select("id_a", "id_b").orderBy("id_a", "id_b")
      },
      oracle = _ =>
        """WITH e AS (
          |  SELECT vec_id, label,
          |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
          |WHERE list_dot_product(a.v, a.v) > 0 AND list_dot_product(b.v, b.v) > 0
          |  AND list_dot_product(a.v, b.v)
          |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
          |ORDER BY id_a, id_b""".stripMargin),
    QuerySpec("q_ann_topk", run = { (s, dir) =>
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        SimilarityOps.bruteForceTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      // brute-force cosine top-k: same dot/norm/divide tree as
      // q_embed_cosine_dups (bit-parity proven there); rank ties broken
      // by corpus_id so both engines rank identically
      oracle = _ => annExactTopkSql),
    QuerySpec("q_maxsim_topk", run = { (s, dir) =>
        // late-interaction retrieval: vec_id DIV 8 groups as
        // multi-vector docs, groups 0-1 as queries
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
          .withColumn("gid", expr("vec_id DIV 8"))
        SimilarityOps.maxSimTopK(
            emb, "gid", "embedding",
            emb.where(col("gid") < 2), "gid", "vec_id", k = 5)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_group", "rank")
      },
      // MaxSim replay: same cosine tree, per-(qdoc, qvec, doc) max, and
      // the facet sum folded in explicit qvec order (list ORDER BY +
      // list_reduce == sort_array + aggregate — identical IEEE chain)
      oracle = _ =>
        """WITH e AS (
          |  SELECT vec_id, vec_id // 8 AS gid,
          |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings
          |), c AS (
          |  SELECT vec_id, gid, v, sqrt(list_dot_product(v, v)) AS nrm
          |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
          |), q AS (
          |  SELECT * FROM c WHERE gid < 2
          |), best AS (
          |  SELECT q.gid AS qg, q.vec_id AS qv, c.gid AS dg,
          |         max(list_dot_product(c.v, q.v) / (c.nrm * q.nrm)) AS mc
          |  FROM c, q GROUP BY 1, 2, 3
          |), sc AS (
          |  SELECT qg, dg,
          |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |           list(mc ORDER BY qv)), (a, x) -> a + x) AS maxsim
          |  FROM best GROUP BY 1, 2
          |), r AS (
          |  SELECT qg AS query_group, dg AS doc_group, maxsim,
          |         CAST(row_number() OVER (PARTITION BY qg
          |              ORDER BY maxsim DESC, dg) AS BIGINT) AS rank
          |  FROM sc)
          |SELECT query_group, doc_group, maxsim, rank FROM r
          |WHERE rank <= 5 ORDER BY query_group, rank""".stripMargin),
    QuerySpec("q_mine_pairs", run = { (s, dir) =>
        // hard-negative + positive mining for contrastive training:
        // partition-local bounded heaps per (anchor, relation), corpus
        // never shuffles (SimilarityOps.minePairs)
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        SimilarityOps.minePairs(emb, "vec_id", "embedding", "label",
            emb.filter(col("vec_id") < 8), kPos = 5, kNeg = 5)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("anchor_id", "relation", "rank")
      },
      // contrastive pair mining: same cosine tree as q_ann_topk, rank
      // windowed per (anchor, pos|neg relation), self excluded
      oracle = _ =>
        """WITH e AS (
          |  SELECT vec_id, label,
          |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings
          |), c AS (
          |  SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
          |  FROM e WHERE sqrt(list_dot_product(v, v)) > 0
          |), s AS (
          |  SELECT a.vec_id AS anchor_id, c.vec_id AS pair_id,
          |         CASE WHEN c.label = a.label THEN 'pos' ELSE 'neg' END AS relation,
          |         list_dot_product(c.v, a.v) / (c.nrm * a.nrm) AS cosine
          |  FROM c CROSS JOIN (SELECT * FROM c WHERE vec_id < 8) a
          |  WHERE c.vec_id <> a.vec_id
          |), r AS (
          |  SELECT anchor_id, pair_id, relation, cosine,
          |         CAST(row_number() OVER (PARTITION BY anchor_id, relation
          |              ORDER BY cosine DESC, pair_id) AS BIGINT) AS rank
          |  FROM s)
          |SELECT anchor_id, pair_id, relation, cosine, rank FROM r
          |WHERE rank <= 5 ORDER BY anchor_id, relation, rank""".stripMargin),
    QuerySpec("q_ann_topk_lsh", run = { (s, dir) => // the scale path
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        SimilarityOps.lshTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            bits = 8, dim = 64, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      oracle = _ => lshTopKOracleSql(bits = 8, dim = 64, k = 10)),
    QuerySpec("q_embed_quantize", run = { (s, dir) =>
        val q = SimilarityOps.quantizeInt8(
          s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
        // scalar summaries instead of the array columns (the driver's
        // hash compare is row/scalar-shaped): exact integer sums of
        // the quantized values + the quantization-fidelity cosine
        q.select(col("id").as("vec_id"), col("scale"),
            aggregate(col("qv"), lit(0.0), (a, x) => a + x)
              .cast("bigint").as("q_sum"),
            aggregate(col("qv"), lit(0.0), (a, x) => a + abs(x))
              .cast("bigint").as("q_abs_sum"),
            when(col("scale") > 0,
              SimilarityOps.dot(col("qv"), col("v")) /
                (SimilarityOps.norm(col("qv")) * SimilarityOps.norm(col("v"))))
              .as("q_cosine"))
          .orderBy("vec_id")
      },
      // int8 quantization replay: scale is an exact max (order-free), the
      // quantized values are floor(x/scale + 0.5) in both engines, and
      // the fidelity cosine uses the same sequential dot fold
      oracle = _ =>
        """WITH e AS (
          |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          |  FROM embeddings
          |), s AS (
          |  SELECT vec_id, v,
          |         list_max(list_transform(v, x -> abs(x))) / 127 AS scale
          |  FROM e
          |), q AS (
          |  SELECT vec_id, v, scale,
          |         CASE WHEN scale > 0
          |              THEN list_transform(v, x -> floor(x / scale + 0.5))
          |              ELSE list_transform(v, x -> 0.0) END AS qv
          |  FROM s)
          |SELECT vec_id, scale,
          |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
          |       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_abs_sum,
          |       CASE WHEN scale > 0
          |            THEN list_dot_product(qv, v)
          |               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))
          |            END AS q_cosine
          |FROM q ORDER BY vec_id""".stripMargin),
    QuerySpec("q_ann_topk_ivf_index", run = { (s, dir) =>
        // build-once/probe-forever: write the cell-partitioned index,
        // then answer the SAME query batch as q_ann_topk_ivf reading
        // ONLY the probed cell directories (static partition pruning —
        // OpsSpec pins the PartitionFilters property)
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val key = StreamingOps.dirKey(dir)
        val idx = s"/tmp/graft-ivf-index/$key"
        BuildOnce.once(s"ivf-index|$idx") {
          SimilarityOps.saveIvfIndex(emb, "vec_id", "embedding", cents, idx)
        }
        SimilarityOps.ivfTopKFromIndex(
            s, idx, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, nProbe = 4, k = 10)
          .orderBy("query_id", "rank")
      },
      // the persisted-index flavor materializes the SAME assignment and
      // prunes to probed cells — identical result set, identical oracle
      oracle = _ => ivfTopKOracleSql(ivfCentroidsSf001, nProbe = 4, k = 10),
      oneTimeBuild = true),
    QuerySpec("q_ann_topk_pq", run = { (s, dir) =>
        // product quantization: deterministic per-subspace codebooks
        // (same sorted-sample Lloyd as the IVF centroids) → 32×
        // compressed integer codes → exhaustive ADC scan; at 100 TB
        // the scan reads m codes per vector instead of 4·dim bytes
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        SimilarityOps.pqTopKADC(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cbs, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      // product-quantization replay: codebook literals → per-subspace
      // argmin codes → left-to-right ADC accumulation, bit-for-bit
      oracle = _ => pqTopKOracleSql(pqCodebooksSf001, k = 10)),
    QuerySpec("q_pq_encode", run = { (s, dir) =>
        // the compressed corpus itself: every vector's m-byte code
        // word (integer-exact, so the whole surface hash-gates)
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        SimilarityOps.pqEncode(emb, "vec_id", "embedding", cbs)
          .select(col("id").as("vec_id"),
            concat_ws(",", col("codes")).as("code_str"))
          .orderBy("vec_id")
      },
      oracle = _ =>
        s"""WITH e AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings
           |), b AS (
           |  SELECT vec_id, v FROM e WHERE sqrt(list_dot_product(v, v)) > 0
           |)
           |SELECT vec_id,
           |       array_to_string(${pqCodesSql(pqCodebooksSf001, "v")}, ',') AS code_str
           |FROM b ORDER BY vec_id""".stripMargin),
    QuerySpec("q_ann_topk_ivfpq", run = { (s, dir) =>
        // the production composition: IVF cell pruning × PQ codes —
        // the scan touches ~nProbe/nCells of the corpus AND reads
        // codes instead of floats; deterministic end to end, so the
        // composed plan replays in DuckDB like its two halves
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        SimilarityOps.ivfPqTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, cbs, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      oracle = _ =>
        ivfPqOracleSql(ivfCentroidsSf001, pqCodebooksSf001, nProbe = 4, k = 10)),
    QuerySpec("q_ann_topk_ivfpq_auto", run = { (s, dir) =>
        // the DEPLOYMENT-GEOMETRY flavor of the composition: identical
        // code path to q_ann_topk_ivfpq, but the cell count tracks the
        // corpus (autoCells = √n clamped — the knob BENCH_sf10
        // isolated: probe cost ∝ corpus/nCells at fixed geometry).
        // At the driver's sf0.01 (500 vectors) this is 22 cells,
        // hash-gated against its own 22-cell centroid fixture; at
        // bench SFs the probed mass shrinks as nProbe·√n instead of
        // growing as nProbe·n/16.  nProbe
        // stays the constant recall knob a deployment tunes (FAISS
        // discipline) — RecallSpec separately pins that recall holds
        // across cell counts at constant probe FRACTION.
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cells = SimilarityOps.autoCells(emb.count())
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = cells,
          sampleN = math.max(256, 4 * cells), iters = 10)
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        SimilarityOps.ivfPqTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, cbs, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      // the auto-geometry flavor replays against its OWN centroid
      // literals (autoCells(500) = 22 at the oracle SF) — the oracle
      // checks the geometry the deployment knob actually picks
      oracle = _ =>
        ivfPqOracleSql(ivfCentroidsSf001Auto, pqCodebooksSf001, nProbe = 4, k = 10)),
    QuerySpec("q_ann_topk_ivfpq_refine", run = { (s, dir) =>
        // the quality flavor of the composition (r8): same probed
        // cells, same ADC shortlist cut, then EXACT cosine re-rank of
        // the k·refine candidates — the standard recall-recovery step
        // (RecallSpec measures the lift); shortlist broadcasts, the
        // corpus never shuffles, and the whole chain stays
        // deterministic, so the oracle replays shortlist + re-rank
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        SimilarityOps.ivfPqTopK(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, cbs, nProbe = 4, k = 10, refine = 8)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      // same shortlist replay + exact-cosine re-rank (the refine flavor)
      oracle = _ =>
        ivfPqOracleSql(ivfCentroidsSf001, pqCodebooksSf001, nProbe = 4, k = 10,
          refine = 8)),
    QuerySpec("q_ann_topk_ivf", run = { (s, dir) =>
        // deterministic IVF: centroids from a sorted driver-side
        // sample + sequential Lloyd (bit-identical every run), shipped
        // as literals into the plan — the hyperplanes pattern, but
        // LEARNED — so assignment + probe + rank replays end-to-end in
        // DuckDB (fixture-captured centroid literals, SF-keyed like
        // the fit oracles).  The MLlib-KMeans flavor (ivfTopK) remains
        // the API for callers who want sampled training at scale.
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        SimilarityOps.ivfTopKWithCentroids(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      oracle = _ => ivfTopKOracleSql(ivfCentroidsSf001, nProbe = 4, k = 10)),
    QuerySpec("q_ann_topk_ivf_incr", run = { (s, dir) =>
        // incremental maintenance gate: base build + delta append
        // must answer queries identically to indexing everything at
        // once — same oracle as q_ann_topk_ivf
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val key = StreamingOps.dirKey(dir)
        val idx = s"/tmp/graft-ivf-incr/$key"
        // base build + delta append memoize as ONE unit: replaying the
        // append without the overwrite would duplicate the delta rows
        BuildOnce.once(s"ivf-incr|$idx") {
          SimilarityOps.saveIvfIndex(
            emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", cents, idx)
          SimilarityOps.appendIvfIndex(
            emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding", cents, idx)
        }
        SimilarityOps.ivfTopKFromIndex(
            s, idx, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      // base-build + delta-append must equal the all-at-once index, so
      // the incremental flavor shares q_ann_topk_ivf's exact oracle
      oracle = _ =>
        ivfTopKOracleSql(ivfCentroidsSf001, nProbe = 4, k = 10),
      oneTimeBuild = true),
    QuerySpec("q_rand_proj", run = { (s, dir) =>
        // storage/bandwidth lever before any ANN structure: 64 -> 16
        // dims via a salt-derived sign matrix, pure projection
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val m = SimilarityOps.signProjectionMatrix(64, 16, "rp7")
        SimilarityOps.randomProject(emb, "vec_id", "embedding", m)
          .select(col("id").as("vec_id") +:
            (0 until 16).map(j => element_at(col("proj"), j + 1).as(s"p$j")): _*)
          .orderBy("vec_id")
      },
      // JL sign projection: 16 literal-row dot folds (dim 64 -> 16)
      oracle = _ => randProjOracleSql(SimilarityOps.signProjectionMatrix(64, 16, "rp7"))),
    QuerySpec("q_pca_project", run = { (s, dir) =>
        // DATA-AWARE reduction (r8): 64 -> 8 dims onto the corpus's own
        // principal axes — deterministic sample basis (eigenvalue
        // order, canonical signs), projection a pure literal dot fold
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val (mean, basis) = SimilarityOps.pcaBasis(
          emb, "vec_id", "embedding", k = 8, sampleN = 256)
        SimilarityOps.pcaProject(emb, "vec_id", "embedding", mean, basis)
          .select(col("id").as("vec_id") +:
            (0 until 8).map(j => element_at(col("proj"), j + 1).as(s"p$j")): _*)
          .orderBy("vec_id")
      },
      // data-aware reduction: basis literals from the PCA fixture
      // (runtime == fixture pinned by OpsSpec, the IVF-centroid contract)
      oracle = _ =>
        pcaOracleSql(pcaBasisSf001._1, pcaBasisSf001._2)),
    QuerySpec("q_ann_topk_ivfpq_index", run = { (s, dir) =>
        // the on-disk composition: partition-pruned probe over a
        // cell-partitioned index of PQ CODES — ~1/32 the bytes of the
        // float index per probed cell; same oracle as the in-memory
        // IVF-PQ because the scores are the same expression
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        val key = StreamingOps.dirKey(dir)
        val idx = s"/tmp/graft-ivfpq-index/$key"
        BuildOnce.once(s"ivfpq-index|$idx") {
          SimilarityOps.saveIvfPqIndex(emb, "vec_id", "embedding", cents, cbs, idx)
        }
        SimilarityOps.ivfPqTopKFromIndex(
            s, idx, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, cbs, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      // the persisted-index flavor answers the same batch with the same
      // scores (pruned scan over stored codes) -> identical replay
      oracle = _ => ivfPqOracleSql(ivfCentroidsSf001, pqCodebooksSf001, nProbe = 4, k = 10),
      oneTimeBuild = true),
    QuerySpec("q_ann_topk_ivfpq_index_refine", run = { (s, dir) =>
        // production hybrid-index serving shape (r8): PQ code index
        // drives the ADC scan, a float IVF index serves the shortlist
        // fetch for exact re-rank — BOTH reads pruned to the probed
        // cells.  The float index is the SAME artifact (path + memo
        // key) q_ann_topk_ivf_index builds: one build serves both.
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val cbs = SimilarityOps.pqCodebooks(
          emb, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 256, iters = 10)
        val key = StreamingOps.dirKey(dir)
        val codeIdx = s"/tmp/graft-ivfpq-index/$key"
        val floatIdx = s"/tmp/graft-ivf-index/$key"
        BuildOnce.once(s"ivfpq-index|$codeIdx") {
          SimilarityOps.saveIvfPqIndex(emb, "vec_id", "embedding", cents, cbs, codeIdx)
        }
        BuildOnce.once(s"ivf-index|$floatIdx") {
          SimilarityOps.saveIvfIndex(emb, "vec_id", "embedding", cents, floatIdx)
        }
        SimilarityOps.ivfPqTopKFromIndex(
            s, codeIdx, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, cbs, nProbe = 4, k = 10, refine = 8,
            floatIndexPath = Some(floatIdx))
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      // the hybrid persisted-index flavor materializes the same probed
      // cells, shortlist, and float fetch — identical result set,
      // identical oracle
      oracle = _ =>
        ivfPqOracleSql(ivfCentroidsSf001, pqCodebooksSf001, nProbe = 4, k = 10,
          refine = 8),
      oneTimeBuild = true),
    QuerySpec("q_ann_topk_ivf_dist", run = { (s, dir) =>
        // the scale flavor of centroid learning: full-corpus Lloyd
        // with quantized-integer-sum means — distributed yet
        // bit-deterministic, so the same oracle replay applies
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val cents = SimilarityOps.distributedCentroids(
          emb, "vec_id", "embedding", nCells = 16, iters = 10)
        SimilarityOps.ivfTopKWithCentroids(
            emb, "vec_id", "embedding",
            emb.filter(col("vec_id") < 8), "vec_id", "embedding",
            cents, nProbe = 4, k = 10)
          .withColumn("rank", col("rank").cast("bigint"))
          .orderBy("query_id", "rank")
      },
      // same probe/rank replay, centroids from the FULL-CORPUS
      // quantized-integer-sum Lloyd (fixture literals, OpsSpec-pinned)
      oracle = _ =>
        ivfTopKOracleSql(distCentroidsSf001, nProbe = 4, k = 10)),
    QuerySpec("q_dedup_embed_lsh", run = { (s, dir) =>
        SimilarityOps.lshCosinePairs(
            s.read.parquet(s"$dir/embeddings.parquet"),
            "vec_id", "embedding", bits = 4, dim = 64, threshold = 0.4)
          .select("id_a", "id_b").orderBy("id_a", "id_b")
      },
      oracle = _ => lshPairsOracleSql(bits = 4, dim = 64, threshold = 0.4)),
    QuerySpec("q_retrieval_metrics", run = { (s, dir) =>
        // IR evaluation of the ANN index: recall@10 vs the exact
        // top-10 and the reciprocal rank of the true nearest — the
        // metrics a retrieval deployment tracks per index rebuild
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val queries = emb.filter(col("vec_id") < 8)
        val exact = SimilarityOps.bruteForceTopK(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 10)
        val cents = SimilarityOps.deterministicCentroids(
          emb, "vec_id", "embedding", nCells = 16, sampleN = 256, iters = 10)
        val ivf = SimilarityOps.ivfTopKWithCentroids(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          cents, nProbe = 4, k = 10)
        val e = exact.select(col("query_id"), col("corpus_id"), col("rank"))
        val i = ivf.select(col("query_id").as("iq"),
          col("corpus_id").as("ic"), col("rank").as("ir"))
        val hits = e.join(i,
            col("query_id") === col("iq") && col("corpus_id") === col("ic"),
            "left")
          .groupBy("query_id")
          .agg(count(col("ic")).cast("long").as("hits10"))
        val rr = e.where(col("rank") === 1)
          .select(col("query_id"), col("corpus_id").as("nn_id"))
          .join(i, col("query_id") === col("iq") && col("nn_id") === col("ic"),
            "left")
          .groupBy("query_id")
          .agg(coalesce(max(lit(1.0) / col("ir")), lit(0.0)).as("mrr"))
        hits.join(rr, "query_id")
          .select(col("query_id"), col("hits10"),
            (col("hits10").cast("double") / 10.0).as("recall10"), col("mrr"))
          .orderBy("query_id")
      },
      // retrieval-quality metrics: recall@10 of the IVF list against
      // the exact top-10, plus the reciprocal rank of the TRUE nearest
      // inside the IVF list — both engines reduce the two (already
      // independently replayed) result sets identically
      oracle = _ => {
        val ivf = ivfTopKOracleSql(ivfCentroidsSf001, nProbe = 4, k = 10)
        s"""WITH exact AS ($annExactTopkSql),
           |ivf AS ($ivf),
           |hits AS (
           |  SELECT e.query_id,
           |         CAST(count(i.corpus_id) AS BIGINT) AS hits10
           |  FROM exact e LEFT JOIN ivf i
           |    ON e.query_id = i.query_id AND e.corpus_id = i.corpus_id
           |  GROUP BY 1),
           |nn AS (SELECT query_id, corpus_id AS nn_id FROM exact WHERE rank = 1),
           |rr AS (
           |  SELECT nn.query_id,
           |         coalesce(max(1.0 / i.rank), CAST(0.0 AS DOUBLE)) AS mrr
           |  FROM nn LEFT JOIN ivf i
           |    ON nn.query_id = i.query_id AND nn.nn_id = i.corpus_id
           |  GROUP BY 1)
           |SELECT h.query_id AS query_id, h.hits10,
           |       CAST(h.hits10 AS DOUBLE) / 10.0 AS recall10, rr.mrr
           |FROM hits h JOIN rr ON h.query_id = rr.query_id
           |ORDER BY query_id""".stripMargin
      }))
}
