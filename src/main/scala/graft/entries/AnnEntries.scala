package graft
package entries

import org.apache.spark.sql.functions._

import graft.pipeline.{Quantize, Similarity}

import OracleSql._
import SparkEntry._

/** The similarity-search entries over `embeddings`: exact, quantized, LSH,
  * IVF and HNSW top-k, and their recall against the exact answer.
  */
object AnnEntries extends EntryFamily {
  exact("ann_lsh_recall")((s, d) =>
    // lshTopK recall vs exact all-pairs top-5 at production parameters
    // (8 planes x 4 tables). Random vectors make true top-5 neighbors
    // barely-correlated (cos ~0.3-0.4) — collision probability and hence
    // recall (~0.08) are the documented floor case; floor 0.05
    Similarity.lshRecall(s.read.parquet(s"$d/embeddings.parquet"),
      "vec_id", "embedding", dim = 64, k = 5, recallFloor = 0.05))(
    s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |ap AS (
       |  SELECT a.id AS id, b.id AS nbr,
       |         round(list_cosine_similarity(a.v, b.v), 4) AS sim
       |  FROM v a JOIN v b ON a.id <> b.id
       |), exact AS (
       |  SELECT id AS id_a, nbr AS id_b FROM (
       |    SELECT id, nbr, row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr ASC) AS rn
       |    FROM ap) WHERE rn <= 5
       |), bk AS (
       |${srpBucketArms(dim = 64, nPlanes = 8, tables = 4)}
       |), cand AS (
       |  SELECT DISTINCT a.id AS id, b.id AS nbr FROM bk a JOIN bk b
       |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id <> b.id
       |), scored AS (
       |  SELECT c.id, c.nbr, round(list_cosine_similarity(va.v, vb.v), 4) AS sim
       |  FROM cand c JOIN v va ON va.id = c.id JOIN v vb ON vb.id = c.nbr
       |), approx AS (
       |  SELECT id AS id_a, nbr AS id_b FROM (
       |    SELECT id, nbr, row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr ASC) AS rn
       |    FROM scored) WHERE rn <= 5
       |),
       |${recallTail}""".stripMargin)
  exact("ann_topk", bench = true)((s, d) => {
    import s.implicits._
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    val qv = emb.where($"vec_id" === 0).select($"embedding")
      .as[Array[Float]].head()
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 10, excludeId = Some(0L))
  })(
    """SELECT b.vec_id,
      |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
      |FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
      |WHERE a.vec_id = 0
      |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin)
  exact("ann_sq_topk")((s, d) =>
    // int7 scalar-quantized cosine top-k (ref ScalarQuantizer.java:50-51):
    // byte = round((x-lo)*127/(hi-lo)), x^ = lo + byte*(hi-lo)/127; the
    // fit is the exact global [min,max] so the ranking is a pure function
    // the DuckDB oracle replicates
    Quantize.topK(s.read.parquet(s"$d/embeddings.parquet"),
      "vec_id", "embedding", queryId = 0L, k = 10))(
    """WITH bounds AS (
      |  SELECT min(list_aggregate(embedding::DOUBLE[], 'min')) AS lo,
      |         max(list_aggregate(embedding::DOUBLE[], 'max')) AS hi
      |  FROM embeddings
      |), deq AS (
      |  SELECT vec_id,
      |    list_transform(embedding::DOUBLE[],
      |      x -> lo + round((x - lo) * (127.0/(hi - lo))) * ((hi - lo)/127.0)) AS v
      |  FROM embeddings, bounds
      |)
      |SELECT b.vec_id, round(list_cosine_similarity(a.v, b.v), 4) AS sim
      |FROM deq a JOIN deq b ON b.vec_id <> 0
      |WHERE a.vec_id = 0
      |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin)
  exact("ann_sq_rescore", bench = true)((s, d) =>
    // two-stage quantized search: top-50 by quantized sim, exact rescore
    // of the 50 (ref Lucene99ScalarQuantizedVectorScorer quantized
    // scoring + rescore) — equals the exact top-10 (oracle asserts)
    Quantize.topKRescored(s.read.parquet(s"$d/embeddings.parquet"),
      "vec_id", "embedding", queryId = 0L, k = 10, c = 50))(
    """SELECT b.vec_id,
      |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
      |FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
      |WHERE a.vec_id = 0
      |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin)
  exact("ann_sq_recall")((s, d) =>
    // (found, total, recall): exact top-10 recovered by the PURE quantized
    // ranking (no rescore) — both sides deterministic, full SQL oracle
    Quantize.recall(s.read.parquet(s"$d/embeddings.parquet"),
      "vec_id", "embedding", queryId = 0L, k = 10, recallFloor = 0.8))(
    """WITH bounds AS (
      |  SELECT min(list_aggregate(embedding::DOUBLE[], 'min')) AS lo,
      |         max(list_aggregate(embedding::DOUBLE[], 'max')) AS hi
      |  FROM embeddings
      |), deq AS (
      |  SELECT vec_id,
      |    list_transform(embedding::DOUBLE[],
      |      x -> lo + round((x - lo) * (127.0/(hi - lo))) * ((hi - lo)/127.0)) AS v
      |  FROM embeddings, bounds
      |), approx AS (
      |  SELECT b.vec_id AS id_a, 0 AS id_b,
      |         round(list_cosine_similarity(a.v, b.v), 4) AS sim
      |  FROM deq a JOIN deq b ON b.vec_id <> 0
      |  WHERE a.vec_id = 0
      |  ORDER BY sim DESC, b.vec_id ASC LIMIT 10
      |), exact AS (
      |  SELECT b.vec_id AS id_a, 0 AS id_b,
      |         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
      |  FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
      |  WHERE a.vec_id = 0
      |  ORDER BY sim DESC, b.vec_id ASC LIMIT 10
      |),
      |fnd AS (SELECT count(*) AS f FROM exact JOIN approx USING (id_a, id_b)),
      |tot AS (SELECT count(*) AS t FROM exact)
      |SELECT f::BIGINT AS found, t::BIGINT AS total,
      |       round(CASE WHEN t = 0 THEN 1.0 ELSE f::DOUBLE / t END, 4) AS recall
      |FROM fnd, tot""".stripMargin)
  exact("ann_bq_topk")((s, d) =>
    // 1-bit binary-quantized ranking (ref lucene102
    // Lucene102BinaryQuantizedVectorsFormat): sign bits of
    // midrange-centered components packed into ONE long (32x smaller
    // than float32), ranked by popcount(xor) Hamming distance — a pure
    // function the oracle replicates from the raw floats
    Quantize.bqTopK(s.read.parquet(s"$d/embeddings.parquet"),
      "vec_id", "embedding", queryId = 0L, k = 10))(
    (bqHamCtes +
      """
        |SELECT vec_id, hamming FROM ham
        |ORDER BY hamming ASC, vec_id ASC LIMIT 10""".stripMargin))
  exact("ann_bq_rescore", bench = true)((s, d) => {
    // two-stage 1-bit search: top-c candidates by the ASYMMETRIC
    // estimator (full-precision centered query · sign vector, the
    // reference's asymmetric-comparison shape), exact float rescore of
    // only those c. The pool is CORPUS-PROPORTIONAL, c = max(200, n/25):
    // a fixed pool dilutes as the corpus grows (measured 0.9 -> 0.6
    // recall from 5k to 20k vectors at c=200; 4% restores 0.9). The
    // oracle replicates the full pipeline, same dynamic cut.
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    Quantize.bqTopKRescored(emb, "vec_id", "embedding", queryId = 0L,
      k = 10, c = math.max(200L, emb.count() / 25).toInt)
  })(
    (bqEstCtes +
      """,
        |cand AS (SELECT vec_id FROM est ORDER BY est DESC, vec_id ASC
        |         LIMIT (SELECT greatest(200, count(*) // 25) FROM embeddings))
        |SELECT b.vec_id,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
        |FROM embeddings a
        |JOIN embeddings b ON b.vec_id IN (SELECT vec_id FROM cand)
        |WHERE a.vec_id = 0
        |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin))
  exact("ann_bq_recall")((s, d) => {
    // (found, total, recall): exact top-10 recovered by the rescored
    // 1-bit ranking at pool max(200, n/25) (measured 0.9-1.0 from 500
    // to 20k vectors — the worst case, near-random uniform components) —
    // official quality row, floor asserted in-entry
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    Quantize.bqRecall(emb, "vec_id", "embedding", queryId = 0L, k = 10,
      c = math.max(200L, emb.count() / 25).toInt, recallFloor = 0.85)
  })(
    (bqEstCtes +
      """,
        |cand AS (SELECT vec_id FROM est ORDER BY est DESC, vec_id ASC
        |         LIMIT (SELECT greatest(200, count(*) // 25) FROM embeddings)),
        |approx AS (
        |  SELECT b.vec_id AS id_a, 0 AS id_b
        |  FROM embeddings a
        |  JOIN embeddings b ON b.vec_id IN (SELECT vec_id FROM cand)
        |  WHERE a.vec_id = 0
        |  ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) DESC,
        |           b.vec_id ASC LIMIT 10
        |), exact AS (
        |  SELECT b.vec_id AS id_a, 0 AS id_b
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
        |  WHERE a.vec_id = 0
        |  ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) DESC,
        |           b.vec_id ASC LIMIT 10
        |),
        |fnd AS (SELECT count(*) AS f FROM exact JOIN approx USING (id_a, id_b)),
        |tot AS (SELECT count(*) AS t FROM exact)
        |SELECT f::BIGINT AS found, t::BIGINT AS total,
        |       round(CASE WHEN t = 0 THEN 1.0 ELSE f::DOUBLE / t END, 4) AS recall
        |FROM fnd, tot""".stripMargin))
  approximate("ann_lsh_topk", bench = true)((s, d) => // LSH bucketing approximation
    Similarity.lshTopK(s.read.parquet(s"$d/embeddings.parquet"),
      "vec_id", "embedding", dim = 64, k = 5)
      .select(col("id"), col("nbr"), col("sim"), col("rank"))
      .orderBy(col("id"), col("rank")))
  approximate("ann_ivf_topk", bench = true)((s, d) => { // nprobe < nCenters approximation
    // persistent IVF index: built once per corpus, queries probe 4/16
    // cells with a cell IN pushdown (row-group pruning)
    import s.implicits._
    val idx = indexDirFor(d).resolve("ann_ivf").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    graft.pipeline.AnnIndex.build(emb, "vec_id", "embedding", dim = 64,
      outDir = idx, nCenters = 16, lloydIters = 2)
    val qv = emb.where($"vec_id" === 0).select($"embedding")
      .as[Array[Float]].head()
    graft.pipeline.AnnIndex.topK(s, idx, qv, k = 10, nprobe = 4, excludeId = Some(0L))
  })
  exact("ann_ivf_exact")((s, d) => {
    // IVF with nprobe = nCenters: exact by construction (probes every
    // cell) — gives the AnnIndex build/topK path an official SQL oracle
    import s.implicits._
    val idx = indexDirFor(d).resolve("ann_ivf").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    graft.pipeline.AnnIndex.build(emb, "vec_id", "embedding", dim = 64,
      outDir = idx, nCenters = 16, lloydIters = 2)
    val qv = emb.where($"vec_id" === 0).select($"embedding")
      .as[Array[Float]].head()
    graft.pipeline.AnnIndex.topK(s, idx, qv, k = 10, nprobe = 16, excludeId = Some(0L))
      .select(col("id").as("vec_id"), col("sim"))
  })(
    """SELECT b.vec_id,
      |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
      |FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
      |WHERE a.vec_id = 0
      |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin)
  approximate("ann_hnsw_topk", bench = true)((s, d) => { // graph-pruned approximation
    // per-partition HNSW graphs, fan-out search, global top-k merge —
    // the reference's per-segment sharding (Lucene99HnswVectorsFormat)
    import s.implicits._
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    val qv = emb.where($"vec_id" === 0).select($"embedding")
      .as[Array[Float]].head()
    graft.pipeline.Hnsw.topK(emb, "vec_id", "embedding", qv, 10,
        excludeId = Some(0L))
      .select(col("id").as("vec_id"), col("sim"))
  })
  exact("ann_hnsw_exact")((s, d) => {
    // efSearch = MaxValue clamps to partition size = exhaustive traversal
    // of the spanning-tree-connected layer 0: exact by construction, so
    // the whole graph build + search machinery gets a full SQL oracle
    import s.implicits._
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    val qv = emb.where($"vec_id" === 0).select($"embedding")
      .as[Array[Float]].head()
    graft.pipeline.Hnsw.topK(emb, "vec_id", "embedding", qv, 10,
        efSearch = Int.MaxValue, excludeId = Some(0L))
      .select(col("id").as("vec_id"), col("sim"))
  })(
    """SELECT b.vec_id,
      |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
      |FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
      |WHERE a.vec_id = 0
      |ORDER BY sim DESC, b.vec_id ASC LIMIT 10""".stripMargin)
  exact("ann_hnsw_join")((s, d) => {
    // batch kNN join in the oracle-gated exact mode: one graph build per
    // partition answers the whole broadcast query batch (the
    // training-pipeline retrieval shape); efSearch = MaxValue makes the
    // layer-0 traversal exhaustive, so DuckDB's windowed cross join is
    // the exact truth
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    val qs = emb.where(col("vec_id") < 5)
    graft.pipeline.Hnsw.knnJoin(emb, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 10,
        efSearch = Int.MaxValue, excludeSelf = true)
      .select(col("qid"), col("id").as("vec_id"), col("sim"))
  })(
    """SELECT q.vec_id AS qid, b.vec_id,
      |       round(list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
      |FROM embeddings q JOIN embeddings b ON b.vec_id <> q.vec_id
      |WHERE q.vec_id < 5
      |QUALIFY row_number() OVER (PARTITION BY q.vec_id
      |  ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) DESC,
      |           b.vec_id ASC) <= 10""".stripMargin)
  approximate("ann_hnsw_recall")((s, d) => {
    // production-parameter recall vs the exact brute force, floor
    // asserted in-entry (companion gate for ann_hnsw_topk)
    import s.implicits._
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    val qv = emb.where($"vec_id" === 0).select($"embedding")
      .as[Array[Float]].head()
    graft.pipeline.Hnsw.recall(emb, "vec_id", "embedding", qv, 10,
      excludeId = Some(0L), recallFloor = 0.8)
  })
}
