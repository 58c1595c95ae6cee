package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Long-DOCUMENT scaling bench: the cross-SF ratio gate (`BENCH_RATIO_*`)
 * scales ROWS — lineitem-derived documents stay short, so an operator
 * super-linear in DOCUMENT LENGTH (token mass per row) would pass it
 * unseen. This main re-states the gate on the other axis for the
 * text/dedup family: from the same `documents` table it derives two
 * corpora with IDENTICAL row counts whose documents differ 10× in token
 * mass (factor 5 vs factor 50 — each doc becomes k lines: mostly
 * distinct variants of its own text, plus a corpus-wide boilerplate
 * line every 4th slot so line dedup has real cross-document work), runs
 * the family on both through [[Bench.measure]]'s warmup+min protocol,
 * and writes one Bench-format artifact per factor —
 * `tools/bench_ratio.py a.json b.json --sf-step 10` then gates the step
 * mechanically, exactly like the row-axis gate.
 *
 * Family under test (everything whose cost is a function of tokens or
 * lines per document, not just rows): text_signals (the full one-pass
 * signal suite incl. the armed repetition scans), quality_rules with
 * the opt-in repetition rules armed, dedup_lines, dedup_spans
 * (ExactSubstr report mode), dedup_minhash at threshold 1.0, BPE encode
 * against a pre-trained store (`bpe_token_count`), tokenizer-exact
 * token_cap, and pack_sequences. The BPE store is trained ONCE on the
 * small corpus (untimed) and shared — the scale question is encode
 * cost vs token mass, not training.
 *
 * Env: `SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.01) — the base
 * documents table; `SPARK_GRAFT_LONGDOC_DIR` (default
 * /tmp/graft-longdoc) — the two bench.json artifacts land under
 * `<dir>/f5` and `<dir>/f50` (factor 5 as the SMALL side, not 1: at
 * factor 1 every query is fixed-overhead-dominated and the ratio reads
 * ~1× for everything — no signal, not sub-linearity); the derived
 * corpora live in a scratch dir deleted at exit. `SPARK_GRAFT_BENCH_RUNS`
 * as for [[Bench]]; the session uses the host's cores (at least 2).
 */
object BenchLongDoc {

  /** Deterministic factor-k long-document corpus: doc text becomes k
    * newline-joined lines — slot r is a distinct variant of the doc's own
    * text except every 4th slot, which is the corpus-wide boilerplate
    * line (cross-document duplicate mass for the line/span family).
    * Pure column expressions: same bytes on every run and engine. */
  def derive(docs: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("lang"),
        concat_ws("\n", transform(sequence(lit(0), lit(factor - 1)),
          r => when(r % 4 === 3,
              lit("shared boilerplate navigation footer line common to every page"))
            .otherwise(concat(col("text"), lit(" r"), r.cast("string")))))
          .as("text"))
      .withColumn("n_chars", length(col("text")))
  }

  private def ap(df: DataFrame, typ: String, opts: (String, String)*): DataFrame =
    graft.runtime.Registries.transforms().get(typ)
      .apply(df, graft.config.TransformConfig(s"ld-$typ", typ, opts.toMap),
        graft.api.RunContext(df.sparkSession, "longdoc", "bench"))

  /** The timed family. `dir` is the derived corpus directory (docs.parquet
    * inside); the BPE store view is registered by main before timing. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ld_text_signals" -> ((s, dir) =>
      ap(s.read.parquet(s"$dir/docs.parquet"), "text_signals",
        "textColumn" -> "text")),
    "ld_quality_rules" -> ((s, dir) =>
      ap(s.read.parquet(s"$dir/docs.parquet"), "quality_rules",
        "textColumn" -> "text", "maxTopNgramFraction" -> "0.9",
        "maxDupLineFraction" -> "0.95", "maxDupLineCharFraction" -> "0.95")),
    "ld_dedup_lines" -> ((s, dir) =>
      ap(s.read.parquet(s"$dir/docs.parquet"), "dedup_lines",
        "idColumn" -> "doc_id", "textColumn" -> "text")),
    "ld_span_dups" -> ((s, dir) =>
      ap(s.read.parquet(s"$dir/docs.parquet"), "dedup_spans",
        "idColumn" -> "doc_id", "textColumn" -> "text", "mode" -> "report")),
    "ld_minhash" -> ((s, dir) =>
      ap(s.read.parquet(s"$dir/docs.parquet"), "dedup_minhash",
        "idColumn" -> "doc_id", "textColumn" -> "text", "threshold" -> "1.0")),
    "ld_bpe_encode" -> ((s, dir) =>
      ap(s.read.parquet(s"$dir/docs.parquet"), "bpe_token_count",
        "textColumn" -> "text", "mergesView" -> "ld_bpe_store")),
    "ld_token_cap" -> ((s, dir) =>
      ap(s.read.parquet(s"$dir/docs.parquet"), "token_cap",
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "mergesView" -> "ld_bpe_store", "groupBy" -> "source",
        "budget" -> "100000")),
    "ld_pack_sequences" -> ((s, dir) =>
      ap(s.read.parquet(s"$dir/docs.parquet"), "pack_sequences",
        "idColumn" -> "doc_id", "weightColumn" -> "n_chars",
        "seqLen" -> "4096")))

  def main(args: Array[String]): Unit =
    Bench.scaleGate("f", Seq(5, 50), step = 10, table = "documents",
      corpus = "docs", sfDefault = "/root/testdata/sf0.01",
      out = sys.env.getOrElse("SPARK_GRAFT_LONGDOC_DIR", "/tmp/graft-longdoc"),
      derive = derive, queries = queries,
      // one shared tokenizer store, trained on the SMALL corpus (untimed)
      prepare = (spark, dir) => graft.text.Bpe.mergesFrame(
          spark.read.parquet(s"$dir/docs.parquet"), "text",
          numMerges = 200, maxWords = 50000, minCount = 2L)
        .createOrReplaceTempView("ld_bpe_store"))
}
