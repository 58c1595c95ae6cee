package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, functions => F}
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.{ExprUtils, TransformConfig}

/**
 * topk — the K best rows per group by a score column, via the bounded-heap
 * [[graft.ann.TopKAggregator]] rather than a ranking window.
 *
 * `window_rank` + `topK` computes the same result, but a window shuffles
 * EVERY row into |groups| reducer tasks and fully sorts each — with few
 * groups (languages, sources, priorities) that is a handful of tasks each
 * sorting the whole corpus. The aggregator form gets partial aggregation:
 * every map task reduces its partition to ≤ k candidates per group before
 * the exchange, so the shuffle carries |groups| × partitions × k ids, and
 * the tiny winner set broadcast-semi-joins back against the input (zero
 * full-data shuffles).
 *
 * Ties are deterministic: (score, id) is a total order — score
 * descending (or ascending with `direction: asc`), id ascending.
 * `idColumn` must be integral or string (UUID doc ids) and unique WITHIN
 * its group (the winner join-back is group-qualified).
 *
 * {{{
 * - name: best-docs-per-lang
 *   type: topk
 *   options: {groupBy: lang, scoreColumn: quality_score, k: "100",
 *             idColumn: doc_id}
 * }}}
 */
object TopKTransform extends Transform {
  val transformType = "topk"
  private val ScoreColumn = Opt.column("scoreColumn").required
  private val IdColumn = Opt.column("idColumn").required
  private val GroupBy = Opt.columns("groupBy").default(Nil)
  private val K = Opt.int("k", min = 1).required
  private val Direction = Opt.oneOf("direction", "desc", "asc").default("desc")
  private val Broadcast = Opt.bool("broadcast").default(true)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val rawScore = col(ScoreColumn(config)).cast("double")
    val score = if (Direction(config) == "asc") negate(rawScore) else rawScore
    BoundedTopK.semiJoinTopK(input, GroupBy(config), score, IdColumn(config), K(config),
      broadcastWinners = Broadcast(config))
  }
}

/**
 * The shared bounded-heap grouped-selection shape (used by `topk` and the
 * stratified `sample` mode): every map task reduces its partition to ≤ k
 * candidates per group before the exchange, the tiny winner-id set
 * broadcast-semi-joins back — zero full-data shuffles, never a per-group
 * window sort. Ordering is (score DESC, id ASC), a total order for ids
 * unique within their group — for string ids, ASC is lexicographic
 * (binary) order. Null scores,
 * NaN scores (which would break the heap's strict-weak ordering) and null
 * ids are excluded up front.
 *
 * Id types dispatch like [[graft.ann.Ann]]'s top-k: integral ids ride the
 * long aggregator, string/UUID doc ids (the realistic LLM-corpus key) get
 * [[graft.ann.TopKAggregatorStr]] — the same partial-aggregate plan, no
 * per-group window fallback.
 */
private[operators] object BoundedTopK {
  def semiJoinTopK(input: DataFrame, groupCols: Seq[String], score: org.apache.spark.sql.Column,
                   idName: String, k: Int,
                   broadcastWinners: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    input.schema(idName).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val topk = F.udaf(new graft.ann.TopKAggregator(k),
          Encoders.product[graft.ann.ScoredCandidate])
        shape(input, groupCols, score, idName, topk, _.cast("long"), broadcastWinners)
      case StringType =>
        val topk = F.udaf(new graft.ann.TopKAggregatorStr(k),
          Encoders.product[graft.ann.ScoredCandidateStr])
        shape(input, groupCols, score, idName, topk, identity, broadcastWinners)
      case dt => throw new ConfigException(
        s"grouped selection idColumn '$idName' must be integral or string " +
          s"and unique within its group, got ${dt.typeName} — cast it upstream")
    }
  }

  private def shape(input: DataFrame, groupCols: Seq[String],
                    score: org.apache.spark.sql.Column, idName: String,
                    topk: org.apache.spark.sql.expressions.UserDefinedFunction,
                    castId: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                    broadcastWinners: Boolean): DataFrame = {
    // same guided collision error as every other helper-column operator
    // (PackSequences, Resample, Shards, TokenCap) — without it a leaked
    // __s/__id/__sel_id input column dies as an ambiguous-reference
    // AnalysisException
    val selGroups = groupCols.map("__sel_" + _)
    ExprUtils.requireNoHelperCollision("grouped selection", input.columns,
      Seq("__s", "__id", "__sel_id") ++ selGroups: _*)
    val scored = input.select(groupCols.map(col) ++ Seq(
      score.cast("double").as("__s"), castId(col(idName)).as("__id")): _*)
      .where(col("__s").isNotNull && !isnan(col("__s")) && col("__id").isNotNull)
    val grouped = if (groupCols.isEmpty) scored.groupBy()
                  else scored.groupBy(groupCols.map(col): _*)
    // winners carry their GROUP alongside the id: ids only need to be
    // unique within a group, so the join-back must be group-qualified — on
    // id alone, an id that repeats across groups (per-language doc ids)
    // would pull every same-id row in OTHER groups past their own race
    val selected = grouped.agg(topk(col("__s"), col("__id")).as("tk"))
      .select(groupCols.map(col) :+ explode(col("tk.items")).as("s"): _*)
      .select(groupCols.zip(selGroups).map { case (g, sg) => col(g).as(sg) } :+
        col("s.id").as("__sel_id"): _*)
    // |groups| x k winners must fit the driver/broadcast for the hint to
    // be safe — a 10M-domain groupBy at k=100 is a billion ids. Set
    // broadcast="false" to fall back to a shuffled semi-join instead.
    val winners = if (broadcastWinners) broadcast(selected) else selected
    // <=> on the group columns: a NULL group is a real group in groupBy
    // semantics, and = would silently drop its winners
    val cond = groupCols.zip(selGroups).map { case (g, sg) => col(g) <=> col(sg) }
      .foldLeft(castId(col(idName)) === col("__sel_id"))(_ && _)
    input.join(winners, cond, "left_semi")
  }
}
