package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Embedding-DIMENSION scaling bench: the cross-SF gate scales ROWS and
 * the long-doc gate scales tokens per document, but the vector family's
 * third cost axis is DIM — cosine is O(dim) per pair, PQ LUT build is
 * m·k·subDim per probe, k-means refinement is sample·lists·dim per
 * round. An operator super-linear in dim (a hidden dim² table, a plan
 * that re-materializes per component) would pass both existing gates
 * unseen. This main re-states the gate on that axis: from the same
 * `embeddings` table it derives two corpora with IDENTICAL row counts
 * whose vectors differ 8× in dimension (64 — the base — vs 512, each
 * base vector tiled 8× with a per-tile scale so tiles aren't exactly
 * parallel), runs the ANN/cluster/dedup family on both through
 * [[Bench.measure]]'s warmup+min protocol, and writes one Bench-format
 * artifact per dim — `tools/bench_ratio.py d64.json d512.json
 * --sf-step 8` then gates the step mechanically, exactly like the
 * row-axis gate.
 *
 * Env: `SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.1) — the base
 * embeddings table; `SPARK_GRAFT_VECDIM_DIR` (default
 * /tmp/graft-vecdim) — artifacts land under `<dir>/d64` and
 * `<dir>/d512`, the derived corpora in a scratch dir deleted at exit;
 * `SPARK_GRAFT_BENCH_RUNS` and the thread count as for BenchLongDoc.
 */
object BenchVecDim {

  /** Deterministic dim-`target` corpus: each base vector tiles
    * ceil(target/base) times, tile t scaled by (1 + t/16) so tiles are
    * not exactly parallel, truncated to `target` components. Pure column
    * expressions — same bytes every run. */
  def derive(emb: DataFrame, target: Int): DataFrame = {
    require(target >= 1, s"target dim must be >= 1, got $target")
    emb.where(col("embedding").isNotNull)
      .select(col("vec_id"),
        expr(s"""CAST(transform(sequence(0, ${target - 1}), i ->
             element_at(embedding, (i % size(embedding)) + 1)
               * (1.0 + CAST(i DIV size(embedding) AS DOUBLE) / 16.0))
           AS ARRAY<FLOAT>)""").as("embedding"))
  }

  private def ap(df: DataFrame, typ: String, opts: (String, String)*): DataFrame =
    graft.runtime.Registries.transforms().get(typ)
      .apply(df, graft.config.TransformConfig(s"vd-$typ", typ, opts.toMap),
        graft.api.RunContext(df.sparkSession, "vecdim", "bench"))

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/emb.parquet")

  private def qs(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).where("vec_id < 4")
      .select(col("vec_id").as("query_id"), col("embedding"))

  /** The timed family — every retrieval method, clustering, embedding
    * near-dup, and the broadcast cross-match, at fixed rows and 8× dim. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vd_brute" -> ((s, dir) =>
      graft.ann.Ann.bruteForceTopK(emb(s, dir), qs(s, dir),
        "vec_id", "embedding", "query_id", 10)),
    "vd_lsh" -> ((s, dir) =>
      graft.ann.Ann.lshTopK(emb(s, dir), qs(s, dir),
        "vec_id", "embedding", "query_id", 10, bits = 12, tables = 4)),
    "vd_ivf" -> ((s, dir) =>
      graft.ann.Ann.ivfTopK(emb(s, dir), qs(s, dir),
        "vec_id", "embedding", "query_id", 10, nLists = 16, nProbe = 4,
        kmeansIters = 1)),
    "vd_pq" -> ((s, dir) =>
      graft.ann.Ann.pqTopK(emb(s, dir), qs(s, dir),
        "vec_id", "embedding", "query_id", 10, m = 8, nCentroids = 16,
        kmeansIters = 1)),
    "vd_ivfpq" -> ((s, dir) =>
      graft.ann.Ann.ivfPqTopK(emb(s, dir), qs(s, dir),
        "vec_id", "embedding", "query_id", 10, nLists = 16, nProbe = 4,
        m = 8, nCentroids = 16, kmeansIters = 1)),
    "vd_cluster" -> ((s, dir) =>
      ap(emb(s, dir), "cluster_embeddings",
        "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "nClusters" -> "16", "kmeansIters" -> "1")),
    "vd_dedup_embedding" -> ((s, dir) =>
      ap(emb(s, dir), "dedup_embedding",
        "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "threshold" -> "0.95", "bits" -> "12", "tables" -> "4")),
    "vd_crossmatch" -> ((s, dir) =>
      graft.ann.Ann.crossMatches(emb(s, dir), qs(s, dir),
        "vec_id", "query_id", "embedding", "embedding")))

  def main(args: Array[String]): Unit =
    Bench.scaleGate("d", Seq(64, 512), step = 8, table = "embeddings",
      corpus = "emb", sfDefault = "/root/testdata/sf0.1",
      out = sys.env.getOrElse("SPARK_GRAFT_VECDIM_DIR", "/tmp/graft-vecdim"),
      derive = derive, queries = queries)
}
