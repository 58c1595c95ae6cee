package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.{ExprUtils, Options, TransformConfig}

/**
 * zorder — Morton (Z-order) interleaving of 2–4 numeric columns: maps each
 * row onto a space-filling curve so that range-partitioning + clustering by
 * the single z-value keeps rows that are close in EVERY dimension inside
 * the same files. Parquet min/max row-group statistics then skip on all
 * interleaved dimensions at once — the multi-dimensional upgrade to
 * `sortWithinPartitions` (which only skips on its leading column).
 *
 * Each column is binned to `bits` bits against CALLER-PROVIDED `lo`/`hi`
 * bounds — explicit bounds keep the transform a pure zero-shuffle
 * projection (no stats pass), make re-runs and incremental ingests encode
 * identically, and are what you want operationally (bounds move far more
 * slowly than data). Values clamp to the bounds; a null in any dimension
 * yields a null z-value (sorts last, lands in the tail files).
 *
 * With `cluster: "true"` the frame is range-partitioned and sorted by the
 * z-value (ready to write); default emits just the `zColumn` so callers
 * can route it into the file sink's `sortWithinPartitions` themselves.
 *
 * {{{
 * - name: layout
 *   type: zorder
 *   options: {columns: "value,user_id", lo: "0,0", hi: "512,256",
 *             bits: "8", cluster: "true"}
 * }}}
 */
object ZOrderTransform extends Transform {
  val transformType = "zorder"
  private val Columns = Opt.columns("columns").required
  private def bounds(key: String) = Opt.parsed(key)(
    ExprUtils.parseColumns(_).map(Options.double(transformType, key, _))).required
  private val Lo = bounds("lo")
  private val Hi = bounds("hi")
  private val Bits = Opt.int("bits").default(16)
  private val ZColumn = Opt.string("zColumn").default("zvalue")
  private val Cluster = Opt.bool("cluster").default(false)
  private val NumFiles = Opt.int("numFiles", min = 1)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val cols = Columns(config)
    val (los, his) = (Lo(config), Hi(config))
    val bits = Bits(config)
    val dims = cols.length
    if (dims < 2 || dims > 4)
      throw new ConfigException(s"zorder: need 2-4 columns, got $dims")
    if (los.length != dims || his.length != dims)
      throw new ConfigException("zorder: lo/hi must list one bound per column")
    if (bits < 1 || bits * dims > 62)
      throw new ConfigException(s"zorder: bits*dims must fit a long, got $bits×$dims")
    // dims must be NUMERIC: a string column's cast("double") can yield
    // null for a non-null value ("N/A"), which would slip past the
    // null/NaN gate and silently clamp to bin 0 (or, under ANSI, kill the
    // job mid-run) — reject at config time instead
    cols.foreach { c =>
      input.schema.fields.find(_.name.equalsIgnoreCase(c)).foreach { f =>
        if (!f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
          throw new ConfigException(
            s"zorder: column '$c' must be numeric, got ${f.dataType.simpleString}")
      }
    }
    cols.lazyZip(los).lazyZip(his).foreach { (c, lo, hi) =>
      if (!(hi > lo)) throw new ConfigException(s"zorder: need hi > lo for '$c'")
    }

    val maxBin = (1L << bits) - 1
    val bins: Seq[Column] = cols.lazyZip(los).lazyZip(his).map { (c, lo, hi) =>
      // greatest/least IGNORE nulls (a null value would silently clamp to
      // bin 0) and floor(NaN) casts to 0 — gate both so they propagate to
      // a null z-value instead
      when(col(c).isNotNull && !isnan(col(c).cast("double")),
        least(greatest(
          floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(1L << bits)),
          lit(0L)), lit(maxBin)).cast("long"))
    }
    // Morton interleave: bit b of dimension d lands at position b*dims + d
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      bins.zipWithIndex.foldLeft(acc) { case (a, (bin, d)) =>
        a.bitwiseOR(shiftleft(shiftright(bin, b).bitwiseAND(lit(1L)), b * dims + d))
      }
    }
    val out = input.withColumn(ZColumn(config), z)
    if (Cluster(config)) {
      val zc = col(ZColumn(config))
      // Spark's default ordering is NULLS FIRST; force nulls last so rows
      // with a null dimension land in the tail files as documented above.
      // numFiles pins the range-partition count (an explicit count is
      // exempt from AQE coalescing — without it AQE may merge small
      // outputs into one file and erase the tile layout the skipping
      // depends on); default leaves AQE free to size partitions.
      val ordered = zc.asc_nulls_last
      NumFiles.get(config) match {
        case Some(n) =>
          out.repartitionByRange(n, ordered).sortWithinPartitions(ordered)
        case None => out.repartitionByRange(ordered).sortWithinPartitions(ordered)
      }
    } else out
  }
}
