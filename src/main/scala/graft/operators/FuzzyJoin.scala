package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * Blocked fuzzy (edit-distance) join — the record-linkage operator:
 * match rows of two frames whose key strings are within `maxDist`
 * Levenshtein edits (names, titles, addresses — the dirty-key join every
 * warehouse eventually needs). A naive spelling is a cross join with a
 * distance filter: O(n·m) comparisons, a non-starter. This uses standard
 * blocking:
 *
 *   1. block key = `lower(substr(key, 1, blockPrefix))` on both sides —
 *      the join becomes a hash EQUI-join on the block (one shuffle each
 *      side, carrying only joined columns);
 *   2. cheap length-band conjunct `|len(l) − len(r)| ≤ maxDist` (edit
 *      distance ≥ length difference) prunes before any distance work;
 *   3. banded Levenshtein (`levenshtein(l, r, maxDist)` — early-exits
 *      once the distance provably exceeds the threshold) on surviving
 *      candidates only.
 *
 * Blocking trades recall for tractability, as in every production linkage
 * system: pairs whose first `blockPrefix` characters differ are NOT found
 * (a typo inside the prefix escapes — including LENGTH edits there: a
 * string shorter than `blockPrefix` blocks on its full text, so 'jon'
 * never meets 'jons' at blockPrefix=4; pick blockPrefix at or below the
 * shortest keys you must match). Raise `blockPrefix` for smaller
 * blocks / lower recall, and cap pathological blocks (single-character
 * titles, empty strings) with `maxBlockSize` — blocks larger than the cap
 * are dropped from matching BEFORE the join, the same mega-bucket
 * discipline as the LSH near-dup paths, so no block can go quadratic at
 * 100 TB. Within surviving blocks the result is EXACT for the declared
 * semantics, which is what the DuckDB oracle replays.
 */
object FuzzyJoin {

  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftCol: String, rightCol: String, maxDist: Int,
                blockPrefix: Int = 4, maxBlockSize: Int = 100000,
                distCol: String = "edit_distance"): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(blockPrefix >= 1, s"blockPrefix must be >= 1, got $blockPrefix")
    // 0 would silently drop EVERY block (every count is >= 1) and return
    // an empty join with no error
    require(maxBlockSize >= 1, s"maxBlockSize must be >= 1, got $maxBlockSize")
    graft.config.ExprUtils.requireNoHelperCollision("join_fuzzy",
      left.columns ++ right.columns, "__blk", "__blk_n")
    def blocked(df: DataFrame, c: String): DataFrame = {
      val b = df.withColumn("__blk", lower(substring(col(c), 1, blockPrefix)))
      // the count window's exchange IS the join's exchange (same key):
      // partitioning reuse, not an extra shuffle
      b.withColumn("__blk_n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("__blk")))
        .filter(col("__blk_n") <= maxBlockSize)
        .drop("__blk_n")
    }
    val lb = blocked(left, leftCol)
    val rb = blocked(right, rightCol)
    val dist = levenshtein(col(leftCol), col(rightCol), maxDist)
    lb.join(rb, Seq("__blk"))
      .filter(abs(length(col(leftCol)) - length(col(rightCol))) <= maxDist)
      .withColumn(distCol, dist)
      .filter(col(distCol) =!= -1) // banded levenshtein: -1 = over threshold
      .drop("__blk")
  }
}

/**
 * `join_fuzzy` — pipeline frame (left) fuzzy-joined to a named view
 * (right), same view resolution as `join`.
 *
 * {{{
 * - name: link-titles
 *   type: join_fuzzy
 *   options: {rightDataset: catalog, leftColumn: title, rightColumn: name,
 *             maxDistance: "2", rightPrefix: "cat_"}
 * }}}
 *
 * Options: rightDataset/leftColumn/rightColumn/maxDistance required;
 * `blockPrefix` (4), `maxBlockSize` (100000), `distanceColumn`
 * (`edit_distance`), `rightPrefix` ("r_" — prepended to EVERY right
 * column so the joined schema never collides).
 */
object FuzzyJoinTransform extends Transform {
  val transformType = "join_fuzzy"
  private val RightDataset = Opt.view("rightDataset").required
  private val LeftColumn = Opt.column("leftColumn").required
  private val RightColumn = Opt.string("rightColumn").required
  private val MaxDistance = Opt.int("maxDistance").required
  private val BlockPrefix = Opt.int("blockPrefix").default(4)
  private val MaxBlockSize = Opt.int("maxBlockSize").default(100000)
  private val DistanceColumn = Opt.string("distanceColumn").default("edit_distance")
  private val RightPrefix = Opt.string("rightPrefix").default("r_")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val pre = RightPrefix(config)
    val right0 = RightDataset.table(config, ctx.spark)
    // one projection, not N stacked withColumnRenamed analyzer passes
    val right = right0.toDF(right0.columns.map(pre + _): _*)
    val rightCol = pre + RightColumn(config)
    if (!right.columns.contains(rightCol))
      throw new ConfigException(
        s"join_fuzzy: column '${RightColumn(config)}' not in '${RightDataset(config)}'")
    FuzzyJoin.fuzzyJoin(input, right, LeftColumn(config), rightCol, MaxDistance(config),
      BlockPrefix(config), MaxBlockSize(config), DistanceColumn(config))
  }
}
