package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.{Options, TransformConfig}

/**
 * Token-budget shard packing for training-data exports: assign every row a
 * `shard_id` so that consecutive rows (in `idCol` order) fill each shard up
 * to ~`budget` total weight (tokens, chars, bytes). The semantics are
 * exactly the SQL window
 *
 * {{{
 *   floor(coalesce(sum(w) OVER (ORDER BY id
 *                               ROWS BETWEEN UNBOUNDED PRECEDING
 *                                        AND 1 PRECEDING), 0) / budget)
 * }}}
 *
 * but that plan puts the ENTIRE corpus through one task (a global ORDER BY
 * window is a SinglePartition exchange) — a non-starter at 100 TB. Here the
 * prefix sum is computed distributed, the classic two-phase scan:
 *
 *   1. `repartitionByRange(idCol)` + `sortWithinPartitions` — one range
 *      shuffle, the same data movement ANY global organization needs;
 *   2. a tiny job sums each partition's weights — O(numPartitions) values
 *      collected, and because both jobs run over the SAME shuffled RDD the
 *      map stage is reused, not recomputed;
 *   3. exclusive per-partition offsets (scanLeft) are broadcast and a
 *      per-partition running sum stamps `cum_before`/`shard_id` — pure
 *      per-partition imperative logic, the one place `mapPartitions`
 *      genuinely beats a declarative plan.
 *
 * Weights must be integral (token/char/byte counts) so the running sums are
 * exact long arithmetic — bit-identical to the SQL-window oracle regardless
 * of partitioning. Null weights count as 0. `idCol` must be unique for the
 * assignment to be deterministic (it is the total order).
 */
object Shards {
  /**
   * @param numPartitions range-partition count; 0 → session shuffle partitions
   * @return input columns + `cum_before` (exclusive prefix sum) + `shard_id`
   */
  def assignShards(df: DataFrame, idCol: String, weightCol: String, budget: Long,
                   numPartitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    graft.config.ExprUtils.requireNoHelperCollision(
      "shard", df.columns.toSeq, "cum_before", "shard_id")
    // the global (no-group) case of the shared distributed prefix sum —
    // GroupedPrefixSum.stamp documents "groupCols empty → one global sum
    // (the shard shape)", so the range-shuffle/partials/offsets/stamping
    // machinery lives there once. shard_id is exact long floor division
    // (cum_before is >= 0: negative weights fail inside stamp)
    GroupedPrefixSum.stamp(df, Nil, Seq(col(idCol)), weightCol,
        "cum_before", numPartitions)
      .withColumn("shard_id", expr(s"cum_before div $budget"))
  }
}

/**
 * `shard` — declarative wrapper over [[Shards.assignShards]].
 * Options: `idColumn`, `weightColumn`, `budget` (required);
 * `numPartitions` (optional, defaults to session shuffle partitions).
 */
object ShardTransform extends Transform {
  val transformType = "shard"
  private val IdColumn = Opt.column("idColumn").required
  private val WeightColumn = Opt.column("weightColumn").required
  private val Budget = Opt.long("budget").required
  private val NumPartitions = Opt.int("numPartitions").default(0)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    // surface a library require as the engine's ConfigException, not a
    // raw IllegalArgument stack (the TokenCap/PackSequences contract)
    try Shards.assignShards(input, IdColumn(config), WeightColumn(config), Budget(config),
      NumPartitions(config))
    catch { case e: IllegalArgumentException => throw new graft.api.ConfigException(
      s"shard: ${e.getMessage}") }
  }
}

/**
 * `redact` — PII scrubbing for training corpora: rewrite every match of the
 * selected patterns to a typed placeholder, in listed order, on the listed
 * columns. Pure `regexp_replace` compositions — codegen'd, shuffle-free,
 * linear scans; exactly what a 100 TB privacy pass must be.
 *
 * Built-in patterns (conservative, RE2-safe so any engine reproduces them):
 * `email` → `<EMAIL>`, `phone` (NANP-ish `+?ddd[- ]ddd[- ]dddd`) → `<PHONE>`,
 * `ipv4` → `<IP>`. Custom rules via `regex` + `replacement`.
 *
 * Options: `columns` (required, comma list); `patterns` (default
 * `email,phone,ipv4`); `regex`/`replacement` (optional extra rule, applied
 * last).
 */
object RedactTransform extends Transform {
  val transformType = "redact"
  private val Columns = Opt.columns("columns").required
  private[operators] val builtins: Map[String, (String, String)] = Map(
    "email" -> ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>"),
    // boundary-anchored (RE2-safe, like ipv4) so a longer digit run — a
    // card number, an 11+-digit id — is never PARTIALLY redacted into
    // "<PHONE>123456": no boundary exists mid-run, so it simply won't
    // match. The leading anchor is (?:\+|\b) because \b cannot sit
    // between a space and '+' (both non-word)
    "phone" -> ("(?:\\+|\\b)\\d{3}[- ]?\\d{3}[- ]?\\d{4}\\b" -> "<PHONE>"),
    "ipv4"  -> ("\\b\\d{1,3}(\\.\\d{1,3}){3}\\b" -> "<IP>"))
  private val Patterns = Opt.parsed("patterns") {
    _.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { n =>
      builtins.getOrElse(n, throw new IllegalArgumentException(
        s"unknown redact pattern '$n' (built-ins: ${builtins.keys.mkString(", ")})"))
    }
  }.default(Seq("email", "phone", "ipv4").map(builtins))
  private val Regex = Opt.string("regex")
  private val Replacement = Opt.string("replacement").default("<REDACTED>")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val rules = Patterns(config) ++ Regex.get(config).map(_ -> Replacement(config))
    require(rules.nonEmpty, "redact needs at least one pattern")
    Columns(config)
      .foldLeft(input) { (df, c) =>
        df.withColumn(c, rules.foldLeft(col(c)) { case (acc, (re, repl)) =>
          regexp_replace(acc, re, repl)
        })
      }
  }
}

/** The deterministic-bucket options `sample` and `mix` share: the key
  * (`on`, or its alias `column` — bare `on` is a YAML 1.1 boolean, so
  * unquoted YAML configs silently lose the key), `buckets`, `method` and
  * `seed`. */
private[operators] trait HashBuckets extends Transform {
  protected val On = Opt.column("on").alias("column").required
  protected val Buckets = Opt.int("buckets", min = 1)
  protected val Method = Opt.oneOf("method", "hash", "mod").default("hash")
  protected val Seed = Opt.long("seed").default(0L)

  /** The deterministic bucket: pmod(xxhash64(key, seed), buckets), or
    * pmod(key, buckets) with `method: mod`. */
  protected def bucketFor(config: TransformConfig, key: Column,
                          defaultBuckets: Int): (Column, Int) = {
    val buckets = Buckets.get(config).getOrElse(defaultBuckets)
    val bucket =
      if (Method(config) == "hash") pmod(xxhash64(key, lit(Seed(config))), lit(buckets))
      else pmod(key, lit(buckets))
    (bucket, buckets)
  }
}

/**
 * `sample` — deterministic, reproducible row sampling; no `rand()`, so a
 * re-run of the pipeline (or a retried task at 100 TB) selects the SAME
 * rows. Two methods over a key column:
 *
 *  - `hash` (default): bucket rows by `pmod(xxhash64(key, seed), buckets)`
 *    — hash-uniform regardless of key distribution; changing `seed`
 *    draws an independent sample. Codegen'd, shuffle-free, works for any
 *    key type.
 *  - `mod`: bucket by `pmod(key, buckets)` — for integral keys; arithmetic
 *    simple enough for any external system to reproduce exactly (the
 *    oracle path).
 *
 * Two output modes:
 *  - `keep: "k"` — FILTER to rows in the first `k` of `buckets` buckets.
 *  - `splits: "train:98,val:1,test:1"` — LABEL every row instead: append a
 *    column (`splitColumn`, default `split`) naming the slice whose
 *    cumulative bucket range the row's bucket falls in. The canonical
 *    reproducible train/val/test assignment: group-stable (same key ⇒ same
 *    slice on every run and every engine), no shuffle, no rand().
 *
 * Options: `on` (key column); `keep` or `splits` (exactly one);
 * `buckets` (default 100); `method` hash|mod; `seed` (hash only, default 0);
 * `splitColumn` (default `split`).
 */
object SampleTransform extends HashBuckets {
  val transformType = "sample"
  // exactly one mode: keep | splits | probColumn | perGroup | weightColumn
  private val Keep = Opt.int("keep")
  private val Splits = Opt.parsed("splits") { splits =>
    splits.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { p =>
      p.split(":") match {
        case Array(name, w) => (name.trim, Options.int(transformType, "splits", w))
        case _ => throw new IllegalArgumentException(
          s"splits must be name:weight,... got '$p'")
      }
    }
  }
  private val ProbColumn = Opt.column("probColumn")
  private val PerGroup = Opt.int("perGroup", min = 1)
  private val WeightColumn = Opt.column("weightColumn")
  private val SplitColumn = Opt.string("splitColumn").default("split")
  private val K = Opt.int("k", min = 1)
  private val GroupBy = Opt.columns("groupBy")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val keyName = On(config, input.schema)
    val key = col(keyName)
    // the weighted race neither buckets nor hashes, so it must dodge
    // bucketFor entirely (method=mod would spuriously reject string ids)
    if (WeightColumn.isSet(config)) {
      val others = Seq(Keep, Splits, ProbColumn, PerGroup).filter(_.isSet(config)).map(_.key)
      require(others.isEmpty,
        s"sample: weightColumn cannot combine with ${others.mkString("/")} — " +
          "exactly one of keep | splits | probColumn | perGroup | weightColumn")
      return weightedSample(input, config, keyName)
    }
    val stratified = PerGroup.isSet(config)
    val (bucket, buckets) = bucketFor(config, key,
      defaultBuckets = if (stratified) 1000003 else 100)
    if (stratified) {
      // same "exactly one of" contract as the match below: perGroup with a
      // co-present mode must fail, not silently win
      val others = Seq(Keep, Splits, ProbColumn).filter(_.isSet(config)).map(_.key)
      require(others.isEmpty,
        s"sample: perGroup cannot combine with ${others.mkString("/")} — " +
          "exactly one of keep | splits | probColumn | perGroup")
      return stratifiedSample(input, config, keyName, bucket)
    }
    (Keep.get(config), Splits.get(config), ProbColumn.get(config)) match {
      case (Some(keep), None, None) =>
        require(keep >= 0 && keep <= buckets,
          s"need 0 <= keep <= buckets, got keep=$keep buckets=$buckets")
        input.where(bucket < lit(keep))
      // importance sampling: per-row keep probability from a column
      // (quality score, length-derived rate, model-scored weight) — the
      // deterministic replacement for `rand() < p`: same id + seed → same
      // fate across runs, retries and engines. Probabilities clamp to
      // [0,1]; keep iff bucket < p·buckets, so P(keep) = p to 1/buckets
      // resolution. Zero shuffle, codegen'd filter.
      case (None, None, Some(p)) =>
        // nanvl first: NaN compares ABOVE every double in Spark's total
        // order, so greatest/least alone would clamp NaN to 1.0 and keep
        // every corrupt-scored row; null and NaN both mean "drop"
        val prob = least(greatest(nanvl(col(p).cast("double"), lit(0.0)), lit(0.0)), lit(1.0))
        input.where(bucket.cast("double") < prob * lit(buckets.toDouble))
      case (None, Some(parts), None) =>
        require(parts.nonEmpty && parts.forall(_._2 > 0) && parts.map(_._2).sum == buckets,
          s"split weights must be positive and sum to buckets=$buckets, got " +
            s"'${Splits.setting(config).get._2}'")
        // cumulative ranges: first slice gets buckets [0, w0), next [w0, w0+w1)…
        val label = parts.zip(parts.scanLeft(0)(_ + _._2)).foldLeft(lit(null).cast("string")) {
          case (acc, ((name, w), lo)) =>
            when(bucket >= lit(lo) && bucket < lit(lo + w), lit(name)).otherwise(acc)
        }
        input.withColumn(SplitColumn(config), label)
      case _ => throw new IllegalArgumentException(
        "sample needs exactly one of 'keep' (filter), 'splits' (label), " +
          "'probColumn' (importance sampling), or 'perGroup' (stratified)")
    }
  }

  /**
   * Weighted sampling WITHOUT replacement of exactly `k` rows,
   * P(selected) ∝ `weightColumn` — the Efraimidis–Spirakis exponential
   * race: each row draws a deterministic uniform u from its id (the
   * shuffle transform's engine-portable md5 trick: 13 hex chars = 52
   * exact mantissa bits, so u is bit-identical on any engine) and races
   * with key = -ln(u)/w; the k SMALLEST keys win. This is the resampling
   * half of importance-based selection (`importance_score` → exponentiate
   * → weighted sample) and the principled replacement for "sort by
   * score, take top k" when diversity matters. Rows with null/NaN/≤ 0
   * weight can never be selected. `groupBy` switches to a per-group k.
   *
   * Scale shape: the race key is a zero-shuffle projection; selection is
   * the bounded-heap [[graft.ann.TopKAggregator]] partial aggregation
   * (every map task reduces to ≤ k candidates before the exchange) and
   * the winner set broadcast-semi-joins back — the same never-a-window
   * shape as stratified sampling. Same seed + ids + weights ⇒ the same
   * sample on every run, retry, and engine.
   */
  private def weightedSample(input: DataFrame, config: TransformConfig,
                             keyName: String): DataFrame = {
    val k = K(config)
    val w = numericWeight(input, transformType, WeightColumn(config))
    val seed = Seed(config)
    // engine-portable uniform in (0,1): the md5 hex prefix parsed as an
    // integer is exact at 52 bits, and (v + 0.5)/2^52 is exact binary
    // arithmetic — any engine re-derives the identical double from
    // (seed, id) alone
    val u = (conv(substring(
        Shuffle.portableSeededHash(seed, col(keyName)), 1, 13), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(4503599627370496.0)
    // smallest -ln(u)/w wins; non-positive/NaN weights map to null and are
    // dropped inside the selector (they must never be sampled, even when
    // fewer than k valid rows exist)
    val raceKey = when(w > 0 && !isnan(w), -log(u) / w)
    val groups = GroupBy.get(config).getOrElse(Nil)
    // the aggregator keeps HIGHEST first (ties: id asc) → negate so the
    // smallest race key wins, ties deterministically toward smaller ids
    BoundedTopK.semiJoinTopK(input, groups, negate(raceKey), keyName, k)
  }

  /** The `weightColumn` of sample's race and mix's token sizes, as a
    * double. A string/struct weight would otherwise die as an unguided
    * ANSI cast error mid-job (or, ANSI off, silently null every weight);
    * a call that skipped `validate` gets the same guided error for an
    * absent column. */
  private[operators] def numericWeight(input: DataFrame, transformType: String,
                                       name: String): Column = {
    val field = input.schema.fields.find(_.name.equalsIgnoreCase(name))
    if (!field.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
      throw new graft.api.ConfigException(
        s"$transformType: weightColumn '$name' must name a numeric input column, " +
          s"got ${field.fold("none")(_.dataType.typeName)}")
    col(field.get.name).cast("double")
  }


  /**
   * Corpus mixing: re-weight groups (languages, sources, domains) by a
   * per-group sampling rate — THE knob for composing a training mixture
   * ("keep half of en, all of de, a quarter of fr"). Weights may exceed 1
   * for upsampling: a row in a weight-2.5 group is emitted floor(2.5)=2
   * times, plus once more for the deterministic 50% of rows whose bucket
   * clears the fractional threshold — so expected multiplicity is exactly
   * the weight, reproducibly (no RNG state; same id → same fate across
   * runs and retries).
   *
   * Scale shape: a pure per-row projection + filter (downsampling) or a
   * bounded explode (upsampling) — zero shuffles, fully codegen'd, no
   * skew sensitivity. Groups absent from `weights` get `defaultWeight`
   * (default 0 = dropped), making the mixture spec total.
   */
  private[operators] def parseWeights(spec: String): Seq[(String, Double)] = {
    val weights = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { p =>
      p.split(":") match {
        case Array(g, w) if w.trim.nonEmpty => (g.trim, Options.double("mix", "weights", w))
        case _ => throw new IllegalArgumentException(
          s"mix weights must be group:weight,... got '$p'")
      }
    }
    require(weights.forall(_._2 >= 0), "mix weights must be non-negative")
    weights
  }

  private[operators] def mixSample(input: DataFrame, group: String,
                                   weights: Seq[(String, Double)], default: Double,
                                   bucket: Column, buckets: Int): DataFrame = {
    // copies = floor(w) + 1 more for the deterministic fractional share;
    // thresholds are fixed ints so the filter stays integer-exact
    def copiesFor(w: Double): Column = {
      val whole = math.floor(w).toLong
      val fracThreshold = math.round((w - whole) * buckets)
      lit(whole) + when(bucket < lit(fracThreshold), 1L).otherwise(0L)
    }
    val copies = weights.foldLeft(copiesFor(default)) { case (acc, (g, w)) =>
      when(col(group) === lit(g), copiesFor(w)).otherwise(acc)
    }
    graft.config.ExprUtils.requireNoHelperCollision(
      "mix", input.columns.toSeq, "__copies", "__c")
    input
      .withColumn("__copies", copies)
      .withColumn("__c", explode(when(col("__copies") >= 1,
        sequence(lit(1L), col("__copies"))).otherwise(array().cast("array<bigint>"))))
      .drop("__copies", "__c")
  }

  /**
   * Stratified (per-group quota) sampling: exactly `perGroup` rows per
   * `groupBy` value — the smallest `perGroup` (bucket, id) pairs, i.e. a
   * deterministic pseudo-random quota under the hash method and a
   * reproducible modular one under mod.
   *
   * NOT a `row_number() OVER (PARTITION BY group)` window: with few groups
   * (languages, domains — the realistic strata) a window funnels the whole
   * corpus into |groups| tasks and fully sorts each. The bounded-heap
   * [[graft.ann.TopKAggregator]] gives partial aggregation instead — every
   * map task reduces its partition to ≤ perGroup candidates per group
   * before the exchange, so the shuffle carries |groups| × partitions ×
   * perGroup ids and no task ever holds more than the quota. The selected
   * id set (|groups| × perGroup — small by definition of a sample) then
   * broadcast-semi-joins back against the input, adding zero full-data
   * shuffles.
   */
  private def stratifiedSample(input: DataFrame, config: TransformConfig,
                               keyName: String, bucket: Column): DataFrame = {
    val groups = GroupBy(config)
    val n = PerGroup(config)
    val keyType = input.schema(keyName).dataType.typeName
    val integral = Seq("long", "integer", "short", "byte").contains(keyType)
    // hash bucketing (xxhash64) works on any type, so string/UUID doc ids
    // are fine there; mod arithmetic genuinely needs an integral key
    require(integral || (keyType == "string" &&
        Method(config) == "hash"),
      s"stratified sample needs an integral or (method=hash) string " +
        s"'$keyName' id column, got $keyType")
    // the aggregator keeps HIGHEST score first (ties: id asc) → negate the
    // bucket so "smallest bucket, then smallest id" wins, matching the SQL
    // row_number() ORDER BY bucket, id oracle exactly
    BoundedTopK.semiJoinTopK(input, groups, negate(bucket), keyName, n)
  }
}

/**
 * Declarative corpus mixing (see [[SampleTransform.mixSample]]):
 *
 * {{{
 * - name: compose-mixture
 *   type: mix
 *   options: {on: doc_id, groupBy: lang,
 *             weights: "en:0.5,de:1.0,fr:0.25", defaultWeight: "0"}
 * }}}
 *
 * Options: on(/column)/groupBy required, plus exactly ONE of `weights`
 * (explicit per-group rates) or `temperature` (derive them); defaultWeight
 * (default 0: unlisted groups drop — explicit-weights mode only), method
 * hash|mod (default hash), buckets (default 10000), seed.
 *
 * `temperature` is the standard multilingual/domain re-balancing knob
 * (mT5 / XLM-R style): with per-group sizes n_d, the target mixture is
 * p_d ∝ n_d^α, realized by per-group rates w_d = B·n_d^α / (Z·n_d) where
 * Z = Σ n_g^α and B is `budgetRows` (default: the non-null-group corpus
 * size, so the expected output size equals the input). α = 1 reproduces
 * the natural mixture (every w_d = 1 at the default budget), α = 0 an
 * equal-size mixture, and values between damp the dominance of large
 * groups. Derived weights round to 4 decimals so the realized mixture is
 * engine-reproducible (the DuckDB oracle re-derives bit-identical rates);
 * rows whose group is NULL drop (they are not part of any mixture).
 *
 * `weightColumn` (temperature mode only) switches the group size n_d
 * from row counts to Σ weightColumn — balance the mixture by TOKENS
 * instead of documents (a token count from `bpe_token_count`, `n_chars`,
 * any numeric weight): what temperature sampling actually operates on is
 * a group's share of the training tokens, and the two differ wherever
 * document length correlates with language/domain. `budgetRows` is then
 * a budget in the same weight units. Zero/null-sum groups derive weight
 * 0 and their rows drop.
 *
 * Scale shape: the derivation adds ONE narrow count-by-group aggregate
 * collected to the driver — O(|groups|) state, the codebook/stamp-check
 * exception pattern — then the usual zero-shuffle projection + bounded
 * explode. `maxGroups` (default 1000) bounds the derived when-chain and
 * fails loudly, pointing high-cardinality mixtures at explicit weights.
 */
object MixTransform extends HashBuckets {
  val transformType = "mix"
  private val GroupBy = Opt.column("groupBy").required
  // exactly one of weights | temperature
  private val Weights = Opt.parsed("weights")(SampleTransform.parseWeights)
  // the reader refuses NaN and Infinity: NaN passes a plain < check and
  // Infinity overflows pow — both would surface as an opaque
  // NumberFormatException from BigDecimal deep in the weight loop
  private val Temperature = Opt.double("temperature", min = 0.0)
  private val DefaultWeight = Opt.double("defaultWeight").default(0.0)
  private val MaxGroups = Opt.int("maxGroups").default(1000)
  private val BudgetRows = Opt.double("budgetRows")
  private val WeightColumn = Opt.column("weightColumn")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val group = GroupBy(config)
    val (bucket, buckets) = bucketFor(config, col(On(config)), defaultBuckets = 10000)
    (Weights.get(config), Temperature.get(config)) match {
      case (Some(_), Some(_)) => throw new graft.api.ConfigException(
        "mix: weights and temperature are mutually exclusive — the mixture " +
          "is either stated explicitly or derived from group sizes, not both")
      case (None, None) => throw new graft.api.ConfigException(
        "mix: one of weights or temperature is required")
      case (Some(weights), None) =>
        if (WeightColumn.isSet(config))
          throw new graft.api.ConfigException(
            "mix: weightColumn only applies with temperature — explicit " +
              "weights already state the mixture, group sizes never enter")
        SampleTransform.mixSample(input, group, weights, DefaultWeight(config), bucket, buckets)
      case (None, Some(alpha)) =>
        // every observed group gets a derived weight and null-group rows
        // drop, so a default could never apply — reject it rather than
        // silently ignoring the option
        if (DefaultWeight.isSet(config))
          throw new graft.api.ConfigException(
            "mix: defaultWeight does not apply with temperature — every " +
              "observed group gets a derived weight and null-group rows drop")
        val maxGroups = MaxGroups(config)
        val budgetRows = BudgetRows.get(config)
        // bounded driver collect: one narrow count-by-group aggregate,
        // O(|groups|) rows (languages/domains — small by construction).
        // The limit makes the bound REAL: without it, a misconfigured
        // high-cardinality group column would OOM the driver before the
        // maxGroups check could fire
        // sorted by group name: collect() order is nondeterministic and
        // the Z / default-budget sums below are floating-point (order-
        // dependent at the ulp level) — a rate within an ulp of a 0.00005
        // rounding boundary must not flip across runs
        // group size = row count, or Σ weightColumn when set — the
        // "balance the mixture by TOKENS, not documents" knob (what
        // temperature sampling actually operates on in mT5/XLM-R: a
        // language's share of the TRAINING TOKENS). Zero/null-sum groups
        // derive weight 0 and their rows drop — a group with no weight
        // has nothing to contribute to a weighted mixture.
        val sizeExpr = WeightColumn.get(config) match {
          case None => count(lit(1)).cast("double")
          case Some(w) =>
            coalesce(sum(SampleTransform.numericWeight(input, transformType, w)), lit(0.0))
        }
        val rawCounts = input.where(col(group).isNotNull)
          .groupBy(col(group).cast("string").as("__g"))
          .agg(sizeExpr.as("__n"))
          .limit(maxGroups + 1)
          .collect().map(r => (r.getString(0), r.getDouble(1)))
        // cardinality guard BEFORE the zero-sum filter: filtering first
        // could shrink a truncated result back under the limit, silently
        // dropping arbitrary groups past the truncation instead of failing
        if (rawCounts.length > maxGroups) throw new graft.api.ConfigException(
          s"mix: temperature derived over maxGroups=$maxGroups group " +
            "weights — use explicit weights (or raise maxGroups) for " +
            "high-cardinality mixtures")
        val counts = rawCounts.filter(_._2 > 0).sortBy(_._1)
        val budget = budgetRows.getOrElse(counts.map(_._2).sum)
        if (counts.nonEmpty && !(java.lang.Double.isFinite(budget) && budget > 0))
          throw new graft.api.ConfigException(
            s"mix: budgetRows must be a finite positive number, got $budget")
        SampleTransform.mixSample(input, group,
          MixTransform.temperatureWeights(counts.toSeq, alpha, budget),
          default = 0.0, bucket, buckets)
    }
  }

  /** The pure half of temperature mode — per-group rates
    * w_d = B·n_d^α / (Z·n_d), Z = Σ n_g^α, rounded to 4 decimals so the
    * realized mixture is reproducible across engines (ulp-level pow/sum
    * differences would otherwise flip a bucket threshold; mixtures never
    * need finer rates). Factored out of the transform so the algebraic
    * invariants (Σ w_d·n_d ≈ B; α = 1 is the natural mixture; α = 0
    * equalizes expected group sizes) are property-testable without a
    * Spark job per case. */
  private[operators] def temperatureWeights(countsIn: Seq[(String, Double)],
                                            alpha: Double, budget: Double)
      : Seq[(String, Double)] = {
    // order-independent by construction: Z is a floating-point sum, so the
    // same multiset of counts must derive the same rates no matter how the
    // caller's collect() happened to order them
    val counts = countsIn.sortBy(_._1)
    val z = counts.map { case (_, n) => math.pow(n, alpha) }.sum
    counts.map { case (g, n) =>
      val rw = budget * math.pow(n, alpha) / (z * n)
      // pow overflow (huge alpha × big groups → Inf/Inf = NaN) must
      // fail guided, not as BigDecimal's NumberFormatException
      if (!java.lang.Double.isFinite(rw)) throw new graft.api.ConfigException(
        s"mix: derived weight for group '$g' is not finite " +
          s"($rw) — temperature $alpha overflows at this group-size " +
          "range; use a smaller temperature or explicit weights")
      g -> BigDecimal(rw)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sortBy(_._1)
  }
}

/**
 * Deterministic corpus shuffle — the reproducible replacement for
 * `ORDER BY rand()` when fixing a training-data order: rows are totally
 * ordered by a seeded hash of the id and (optionally) stamped with their
 * global 0-based position `shuffle_pos`. Same seed + same ids → the same
 * permutation on every run, every task retry, and every engine; a new
 * seed draws an independent permutation (a new epoch order).
 *
 * Hash choice: `md5` (default) is engine-portable — any external system
 * (including the DuckDB oracle) re-derives the exact order from
 * (seed, id) alone; `xxhash64` is the faster Spark-native path when
 * cross-engine reproducibility doesn't matter.
 *
 * Scale shape: ONE range exchange on (hash, id) + a per-partition sort —
 * the same data movement any global reorder costs; range boundaries are
 * balanced by construction because the hash is uniform. The position
 * stamp reuses the [[Shards]] two-phase scan: per-partition counts
 * (an O(numPartitions) driver collect over the SAME shuffled RDD, so the
 * exchange is not recomputed) → exclusive offsets broadcast → a
 * per-partition running counter. Never a global `row_number()` window
 * (that is a SinglePartition exchange — a non-starter at 100 TB).
 */
object Shuffle {
  /** The ONE engine-portable seeded hash recipe: md5 over "seed:id" with
    * the id cast to its canonical string form. Oracle-load-bearing in TWO
    * places — the shuffle order (q84) and the weighted-sample race keys
    * (q130) both re-derive it in DuckDB — so the separator and seed
    * encoding must never drift between call sites. */
  private[operators] def portableSeededHash(seed: Long, id: Column): Column =
    md5(concat_ws(":", lit(seed.toString), id.cast("string")))

  def deterministicShuffle(df: DataFrame, idCol: String, seed: Long = 0L,
                           hashFn: String = "md5", withPosition: Boolean = true,
                           numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val h = hashFn match {
      case "md5"      => portableSeededHash(seed, col(idCol))
      case "xxhash64" => xxhash64(col(idCol), lit(seed))
      case other => throw new IllegalArgumentException(
        s"shuffle hash must be md5|xxhash64, got '$other'")
    }
    graft.config.ExprUtils.requireNoHelperCollision(
      "shuffle", df.columns.toSeq,
      (if (withPosition) Seq("__skey", "shuffle_pos") else Seq("__skey")): _*)
    if (!withPosition)
      df.withColumn("__skey", h)
        .repartitionByRange(n, col("__skey"), col(idCol))
        .sortWithinPartitions(col("__skey"), col(idCol))
        .drop("__skey")
    else {
      // shuffle_pos IS the exclusive prefix sum of a constant weight 1 in
      // (__skey, id) order — delegate to the shared two-phase machine
      // (exactly AssignIds' shape) instead of a private copy of the
      // counts/offsets/stamping logic that any future hardening of
      // GroupedPrefixSum would silently miss
      val one = graft.config.ExprUtils.freshName(
        df.columns.toSeq :+ "__skey", "__one")
      GroupedPrefixSum.stamp(
          df.withColumn("__skey", h).withColumn(one, lit(1L)),
          Nil, Seq(col("__skey"), col(idCol)), one, "shuffle_pos", n)
        .drop("__skey", one)
    }
  }
}

/**
 * `shuffle` — declarative wrapper over [[Shuffle.deterministicShuffle]].
 * Options: `idColumn` (required, unique — it is the order tie-break);
 * `seed` (0), `hash` md5|xxhash64 (md5), `position` (true — append
 * `shuffle_pos`; false skips the stamp and just reorders),
 * `numPartitions` (session shuffle partitions).
 */
object ShuffleTransform extends Transform {
  val transformType = "shuffle"
  private val IdColumn = Opt.column("idColumn").required
  private val Seed = Opt.long("seed").default(0L)
  private val Hash = Opt.oneOf("hash", "md5", "xxhash64").default("md5")
  private val Position = Opt.bool("position").default(true)
  private val NumPartitions = Opt.int("numPartitions").default(0)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    Shuffle.deterministicShuffle(input, IdColumn(config), Seed(config), Hash(config),
      Position(config), NumPartitions(config))
}
