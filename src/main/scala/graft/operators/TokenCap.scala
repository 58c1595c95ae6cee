package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext}
import graft.config.{Options, TransformConfig}

/**
 * Token-budget group caps — the absolute-volume counterpart to `mix`'s
 * rates: for every group (source, language, domain) keep documents in a
 * deterministic seeded order until the group's budget of weight (tokens,
 * chars, bytes) is reached, then stop. "Cap web crawl at 200 B tokens,
 * keep all of books/code" is exactly how production training mixtures
 * are drawn.
 *
 * Semantics are the SQL window
 *
 * {{{
 *   keep row ⇔ coalesce(sum(w) OVER (PARTITION BY g
 *                  ORDER BY md5(seed || ':' || id), id
 *                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
 *              < budget(g)
 * }}}
 *
 * — the document that CROSSES the budget boundary is kept (fill until
 * reached), and the md5 order makes the selection a reproducible uniform
 * draw: same seed + ids → same corpus on every run, retry, and engine.
 *
 * But that window funnels each group through ONE task (realistic strata
 * are few: sources, languages — 5 TB+ per task at corpus scale), so like
 * [[Shards]] the prefix sum runs distributed, generalized with the group
 * key:
 *
 *   1. `repartitionByRange(group, ord, id)` + sortWithinPartitions — one
 *      range exchange, the movement any per-group ordering costs; groups
 *      span contiguous partition runs.
 *   2. a tiny job collects ONE boundary tuple per partition (first/last
 *      group and their in-partition weights) — O(partitions) driver state
 *      REGARDLESS of group cardinality: contiguity means only a
 *      partition's FIRST group can carry weight from earlier partitions;
 *      every other group in the partition starts at offset 0. A
 *      billion-domain groupBy costs the driver the same per-partition
 *      tuple as a 3-source one;
 *   3. per-partition first-group offsets broadcast; a single sorted pass
 *      filters with one (current group, running sum) pair — O(1) task
 *      memory, no per-group map.
 *
 * Weights must be integral so the running sums are exact long arithmetic,
 * bit-identical to the SQL-window oracle regardless of partitioning.
 * Null weights count 0; a null group takes the default budget.
 */
object TokenCap {
  /**
   * @param budget     default per-group budget (weight units)
   * @param overrides  per-group budget overrides, keyed by the group
   *                   value's string form
   * @param groupCol   empty → one global budget over the whole corpus
   */
  def capByBudget(df: DataFrame, idCol: String, weightCol: String,
                  groupCol: String, budget: Long,
                  overrides: Map[String, Long] = Map.empty,
                  seed: Long = 0L, numPartitions: Int = 0): DataFrame = {
    require(budget >= 0, s"token_cap: budget must be >= 0, got $budget")
    require(overrides.values.forall(_ >= 0), "token_cap: budgets must be >= 0")
    val grouped = groupCol.nonEmpty
    // per-group overrides without a group column cannot mean anything —
    // silently capping everything by the default budget would drop the
    // user's per-source intent with no error
    if (!grouped && overrides.nonEmpty) throw new graft.api.ConfigException(
      "token_cap: per-group budgets require groupBy — without it the " +
        "overrides would be silently ignored")
    graft.config.ExprUtils.requireNoHelperCollision(
      "token_cap", df.columns.toSeq, "__ord", "__cum")
    val ord = md5(concat_ws(":", lit(seed.toString), col(idCol).cast("string")))
    // the per-group exclusive running sum comes from the shared
    // boundary-chain machine (O(partitions) driver state regardless of
    // group cardinality); the cap is then a plain column filter
    val stamped = GroupedPrefixSum.stamp(
      df.withColumn("__ord", ord),
      if (grouped) Seq(groupCol) else Nil,
      Seq(col("__ord"), col(idCol)),
      weightCol, "__cum", numPartitions)
    val budgetCol =
      if (!grouped || overrides.isEmpty) lit(budget)
      else {
        val entries = overrides.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }
        // null group keys miss the map and coalesce to the default budget
        coalesce(element_at(map(entries: _*), col(groupCol).cast("string")), lit(budget))
      }
    stamped.where(col("__cum") < budgetCol).drop("__ord", "__cum")
  }
}

/**
 * `token_cap` — declarative wrapper over [[TokenCap.capByBudget]].
 *
 * {{{
 * - name: cap-sources
 *   type: token_cap
 *   options: {idColumn: doc_id, weightColumn: n_tokens, groupBy: source,
 *             budget: "200000000", budgets: "books:-, code:50000000"}
 * }}}
 *
 * Options: `idColumn`, `budget` required; the weight is either a
 * pre-computed `weightColumn` OR tokenizer-exact via `mergesView` +
 * `textColumn` (a registered `bpe_train` store — the budget then counts
 * real BPE tokens, computed inline as a zero-shuffle codegen projection
 * and dropped after the cap); `groupBy` (absent → one global cap);
 * `budgets` per-group overrides (`group:budget,...`); `seed` (0);
 * `numPartitions` (session shuffle partitions).
 */
object TokenCapTransform extends BpeStoreReader {
  val transformType = "token_cap"
  private val IdColumn = Opt.column("idColumn").required
  private val Budget = Opt.long("budget").required
  private val WeightColumn = Opt.column("weightColumn")
  // mergesView + textColumn derive a tokenizer-exact weight instead
  protected val mergesView = Opt.view("mergesView")
  private val TextColumn = Opt.column("textColumn")
  private val GroupBy = Opt.column("groupBy").default("")
  private val Budgets = Opt.parsed("budgets") { spec =>
    spec.split(",").map(_.trim).filter(_.nonEmpty).map { p =>
      p.split(":") match {
        case Array(g, b) if b.trim.nonEmpty =>
          // "-" = unlimited: keep the whole group (books/code in a
          // web-capped mixture)
          if (b.trim == "-") (g.trim, Long.MaxValue)
          else (g.trim, Options.long(transformType, s"budgets[${g.trim}]", b))
        case _ => throw new ConfigException(
          s"token_cap: budgets must be group:budget,... got '$p'")
      }
    }.toMap
  }.default(Map.empty[String, Long])
  private val Seed = Opt.long("seed").default(0L)
  private val NumPartitions = Opt.int("numPartitions").default(0)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val (staged, weightCol, derived) =
      (WeightColumn.get(config), mergesView.get(config)) match {
        case (Some(w), None) => (input, w, false)
        case (None, Some(_)) =>
          val text = TextColumn(config)
          graft.config.ExprUtils.requireNoHelperCollision(
            "token_cap", input.columns.toSeq, "__bpe_w")
          val loaded = loadedStore(config, ctx)
          (input.withColumn("__bpe_w",
            graft.functions.expressions.BpeEncode.count(col(text), loaded).cast("long")),
            "__bpe_w", true)
        case (Some(_), Some(_)) => throw new ConfigException(
          "token_cap: weightColumn and mergesView are mutually exclusive — " +
            "a cap budgets exactly one weight definition")
        case (None, None) => throw new ConfigException(
          "token_cap: needs weightColumn, or mergesView + textColumn for " +
            "tokenizer-exact budgets")
      }
    val capped =
      try TokenCap.capByBudget(staged, IdColumn(config), weightCol, GroupBy(config),
        Budget(config), Budgets(config), Seed(config), NumPartitions(config))
      catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
    // the derived BPE weight is cap plumbing, not output schema — run
    // bpe_token_count beforehand to carry the count downstream
    if (derived) capped.drop(weightCol) else capped
  }
}
