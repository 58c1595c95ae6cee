package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * CDC merge (SCD Type-1 apply): apply a change log to a snapshot — the
 * batch MERGE INTO. Keys present in the change set replace (or, with an
 * op column, delete) the snapshot row; unseen change keys insert; all
 * other snapshot rows pass through untouched. Together with [[Scd2]]
 * (Type-2 history) this closes the two classic warehouse change-apply
 * shapes. The reference has no merge operator; this supersets its
 * JDBC upsert sink (loader/PostgresLoader.scala:120-156) at the
 * DataFrame level, where the result is re-queryable and format-agnostic.
 *
 * Semantics:
 *   - the change set is collapsed to one row per key FIRST: a max-struct
 *     aggregation keyed on the merge keys (map-side partial aggregation,
 *     never a row_number window — same rationale as `sample perGroup`).
 *     With `orderBy`, the order column leads the struct so the latest
 *     change wins; `orderBy` must be unique per key (it is the version
 *     order; ties would make the survivor partitioning-dependent — the
 *     `scd2` / `assign_ids` contract). WITHOUT `orderBy`, duplicate
 *     change keys fail loudly at execution time (a lazy `assert_true`
 *     guard riding the same aggregation — no extra driver action, so
 *     `--dry-run` stays plan-only) rather than silently picking one.
 *   - `opColumn` set → rows whose op equals `deleteValue` remove the key;
 *     anything else (including null) upserts. No op column → pure upsert.
 *
 * Scale shape (100 TB snapshot, daily delta): the snapshot is touched by
 * exactly ONE operator — a `left_anti` join on the merge keys. With
 * `broadcast: true` (the default; deltas are small relative to the
 * snapshot they amend) that anti-join is a BroadcastHashJoin, so the
 * snapshot NEVER shuffles — the whole merge is a map-side pass over the
 * snapshot plus one key-shuffle of the delta for the collapse agg.
 * For rare snapshot-sized deltas set `broadcast: false` to take the
 * shuffle-join path. Null merge keys never match an anti-join (Spark and
 * SQL semantics agree): a null-keyed snapshot row always survives, a
 * null-keyed change row always inserts — ids must be non-null for
 * meaningful merges.
 */
object Merge {

  def apply(snapshot: DataFrame, changes: DataFrame, keyCols: Seq[String],
            opCol: Option[String] = None, deleteValue: String = "D",
            orderCol: Option[String] = None,
            broadcastChanges: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "merge: no key columns")
    val outCols = snapshot.columns.toSeq
    val needed = (outCols ++ opCol ++ orderCol).distinct
    val missing = needed.filterNot(changes.columns.contains)
    if (missing.nonEmpty) throw new ConfigException(
      s"merge: change set is missing columns ${missing.mkString(", ")} " +
        s"(needs every snapshot column plus opColumn/orderBy)")
    val badKeys = keyCols.filterNot(outCols.contains)
    if (badKeys.nonEmpty) throw new ConfigException(
      s"merge: key columns not in snapshot: ${badKeys.mkString(", ")}")

    val nonKey = (outCols ++ opCol).distinct.filterNot(keyCols.contains)
    // one collapse agg for both modes; __ord leads when latest-wins is on.
    // All-key snapshots (membership tables) have no payload — pack a
    // constant so the struct is never empty.
    val packedFields =
      orderCol.map(o => col(o).as("__ord")).toSeq ++ nonKey.map(c => col(c))
    val packedNonEmpty =
      if (packedFields.isEmpty) Seq(lit(1).as("__one")) else packedFields
    val packed = struct(packedNonEmpty: _*)
    // max(struct) needs an ORDERABLE struct; a map-typed payload column
    // breaks that at analysis even though CDC apply never needs to order
    // payload values. Orderable payloads keep max(struct) (deterministic
    // even under orderBy ties); non-orderable ones collapse via
    // max_by(payload, orderBy) — deterministic under the already-documented
    // contract that orderBy is per-key-unique — or first() when the
    // unique-key guard below enforces one row per key.
    val packedType = changes.select(packed.as("__pt")).schema("__pt").dataType
    val collapse =
      if (org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(packedType))
        max(packed)
      else orderCol match {
        case Some(o) => max_by(packed, col(o))
        case None    => first(packed)
      }
    val grouped = changes.groupBy(keyCols.map(col): _*)
      .agg(collapse.as("__l"), count(lit(1)).as("__n"))
    // no orderBy → keys must be unique; enforce lazily on a key column
    // (keys are always in the output, so pruning cannot drop the guard)
    val guardKey = keyCols.head
    val keyOut: Seq[org.apache.spark.sql.Column] =
      if (orderCol.isEmpty)
        when(assert_true(col("__n") <= 1,
          lit("merge: change set has multiple rows for the same key and no " +
            "orderBy to pick the latest — set orderBy (a per-key-unique " +
            "version column)")).isNull, col(guardKey)).as(guardKey) +:
          keyCols.tail.map(col)
      else keyCols.map(col)
    val latest = grouped.select(
      keyOut ++ nonKey.map(c => col(s"__l.`$c`").as(c)): _*)

    val upserts = (opCol match {
      case Some(oc) => latest.where(!(col(oc) <=> lit(deleteValue)))
      case None     => latest
    }).select(outCols.map(col): _*)

    val changeKeys = latest.select(keyCols.map(col): _*)
    val untouched = snapshot.join(
      if (broadcastChanges) broadcast(changeKeys) else changeKeys,
      keyCols, "left_anti")
    untouched.unionByName(upserts)
  }
}

/**
 * `merge` — declarative wrapper over [[Merge.apply]].
 *
 * {{{
 * - name: apply-daily-delta
 *   type: merge
 *   options: {rightDataset: customer_changes, keyColumns: c_custkey,
 *             opColumn: op, deleteValue: D, orderBy: change_seq}
 * }}}
 *
 * `rightDataset` (the change-set view) and `keyColumns` required;
 * `opColumn` (absent → pure upsert), `deleteValue` (`D`), `orderBy`
 * (latest-wins version column; without it duplicate change keys FAIL at
 * execution), `broadcast` (`true` — the delta is broadcast so the
 * snapshot never shuffles; set `false` for snapshot-sized deltas).
 */
object MergeTransform extends Transform {
  val transformType = "merge"

  private val RightDataset = Opt.view("rightDataset").required
  private val KeyColumns = Opt.columns("keyColumns").required
  // columns of the change set, not of the input
  private val OpColumn = Opt.string("opColumn")
  private val DeleteValue = Opt.string("deleteValue").default("D")
  private val OrderBy = Opt.string("orderBy")
  private val Broadcast = Opt.bool("broadcast").default(true)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    Merge(input, RightDataset.table(config, input.sparkSession), KeyColumns(config),
      opCol = OpColumn.get(config),
      deleteValue = DeleteValue(config),
      orderCol = OrderBy.get(config),
      broadcastChanges = Broadcast(config))
}
