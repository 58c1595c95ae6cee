package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * Deflate compression ratio as a repetitiveness/quality signal — the
 * classic "does this page compress suspiciously well" heuristic (used
 * alongside the Gopher rules in most web-corpus pipelines: machine-
 * generated boilerplate and keyword-stuffed spam compress far below
 * natural prose; random/binary junk compresses above it). Ratio =
 * deflated bytes / raw UTF-8 bytes at a fixed zlib level, so thresholds
 * transfer across runs: natural English prose lands ≈ 0.3–0.6, heavy
 * repetition well under 0.2, incompressible noise ≈ 1.
 *
 * This is the one text signal that genuinely needs a Scala UDF — there is
 * no Catalyst deflate, and a codegen'd re-implementation of zlib would be
 * absurd. The cost is an honest per-row CPU pass (no codegen fusion),
 * but the shape is still a zero-shuffle linear projection, and raw deflate
 * (nowrap, fixed level) is deterministic for a given input across JVMs —
 * the spec pins golden values. Kept OUT of `text_signals` so that
 * transform's single projection stays whole-stage-codegen pure.
 */
object CompressionRatio {

  /** One native zlib stream per (executor thread, level), reset between
    * rows — constructing/destroying a Deflater (deflateInit/deflateEnd)
    * per ROW is measurable native churn on a 100 TB corpus. Bounded:
    * task-threads × distinct-levels streams per JVM, each a few hundred
    * KB of native state. reset() restores the exact initial stream state
    * for a fixed (level, nowrap), so outputs are byte-identical to the
    * fresh-instance form the golden fixtures pinned. */
  private val deflaters =
    new java.util.concurrent.ConcurrentHashMap[Int, ThreadLocal[java.util.zip.Deflater]]()
  private def deflater(level: Int): java.util.zip.Deflater =
    deflaters.computeIfAbsent(level, l =>
      ThreadLocal.withInitial(() => new java.util.zip.Deflater(l, true))).get()

  /** deflated_len / raw_len for one string; null → null, empty → 1.0. */
  def ratio(text: Column, level: Int = 6): Column = {
    require(level >= 1 && level <= 9, s"deflate level must be in [1,9], got $level")
    val f = udf { (s: String) =>
      if (s == null) None
      else {
        val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (bytes.isEmpty) Some(1.0)
        else {
          val d = deflater(level) // nowrap: no header/checksum
          d.reset()
          d.setInput(bytes); d.finish()
          val buf = new Array[Byte](8192)
          var total = 0L
          while (!d.finished()) total += d.deflate(buf)
          Some(total.toDouble / bytes.length)
        }
      }
    }
    f(text)
  }
}

/**
 * `compression_ratio` — appends the deflate ratio column.
 *
 * {{{
 * - name: squash
 *   type: compression_ratio
 *   options: {textColumn: text, outputColumn: compression_ratio}
 * }}}
 *
 * `textColumn` required; `outputColumn` (default `compression_ratio`),
 * `level` (6, deflate level 1–9). Gate afterwards with `filter` or
 * `quantile_filter` like any other signal column.
 */
object CompressionRatioTransform extends Transform {
  val transformType = "compression_ratio"
  private val TextColumn = Opt.column("textColumn").required
  private val Level = Opt.int("level", min = 1, max = 9).default(6)
  private val OutputColumn = Opt.string("outputColumn").default("compression_ratio")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    input.withColumn(OutputColumn(config),
      CompressionRatio.ratio(col(TextColumn(config)), Level(config)))
}
