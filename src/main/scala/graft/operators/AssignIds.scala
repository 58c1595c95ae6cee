package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * Dense sequential id assignment in a declared total order — the "give
 * every document a stable long id" primitive (shuffle manifests, ANN
 * surrogate keys, shard-local addressing all want dense longs, and
 * `monotonically_increasing_id()` is neither dense nor
 * partitioning-stable). The naive spelling,
 *
 * {{{ row_number() OVER (ORDER BY ...) - 1 }}}
 *
 * is a SinglePartition exchange — the whole corpus through one task. This
 * is the same distributed two-phase prefix sum as
 * [[graft.operators.Shards.assignShards]] with weight ≡ 1:
 *
 *   1. `repartitionByRange(orderCols)` + `sortWithinPartitions` — one
 *      range shuffle, the only data movement;
 *   2. per-partition row counts collected — O(numPartitions) longs, and
 *      the shared RDD means the stamping pass reuses the shuffle's map
 *      output rather than recomputing it;
 *   3. exclusive offsets broadcast; each partition stamps
 *      `offset + local index` — per-partition imperative logic, the
 *      legitimate `mapPartitions` case.
 *
 * Ids are dense (`start`, `start`+1, …) and bit-identical to the
 * row_number oracle whenever `orderCols` is a total order (document ids
 * are; ties would make the within-tie order partitioning-dependent, so
 * pass a tie-breaking suffix column just as you would in the SQL).
 */
object AssignIds {

  def assign(df: DataFrame, orderCols: Seq[String], idName: String,
             start: Long = 0L, numPartitions: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "assign_ids: no order columns")
    require(!df.columns.contains(idName),
      s"assign_ids: output column '$idName' already exists")
    // dense row numbering IS the global prefix sum of a constant weight 1:
    // delegate to the shared machinery (range shuffle, partials collect,
    // broadcast offsets, stamping) so the two-job determinism handling and
    // key hardening live in exactly one place. Helper names are minted
    // collision-free: a user column named __one/__cb would otherwise be
    // silently overwritten and dropped
    val one = graft.config.ExprUtils.freshName(df.columns.toSeq, "__one")
    val cb = graft.config.ExprUtils.freshName(df.columns.toSeq, "__cb")
    GroupedPrefixSum.stamp(
        df.withColumn(one, lit(1L)),
        Nil, orderCols.map(col), one, cb, numPartitions)
      .withColumn(idName, col(cb) + lit(start))
      .drop(one, cb)
  }
}

/**
 * `assign_ids` — declarative wrapper over [[AssignIds.assign]].
 *
 * {{{
 * - name: number
 *   type: assign_ids
 *   options: {orderBy: "lang, doc_id", idName: row_id}
 * }}}
 *
 * `orderBy` required (comma list — must be a total order for deterministic
 * ids); `idName` (default `row_id`), `start` (0), `numPartitions`
 * (session shuffle partitions).
 */
object AssignIdsTransform extends Transform {
  val transformType = "assign_ids"
  private val OrderBy = Opt.columns("orderBy").required.nonEmpty
  private val IdName = Opt.string("idName").default("row_id")
  private val Start = Opt.long("start").default(0L)
  private val NumPartitions = Opt.int("numPartitions").default(0)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    AssignIds.assign(input, OrderBy(config), IdName(config), Start(config),
      NumPartitions(config))
}
