package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.RunContext
import graft.config.TransformConfig
import graft.runtime.Registries

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2 (+ the LLM-data-pipeline supersets), each with a DuckDB
 * oracle in `oracleSql` where SQL-expressible. Queries are built THROUGH
 * the engine's transforms (not raw DataFrame calls) so the correctness gate
 * exercises the actual library paths.
 *
 * Determinism rules for oracle parity:
 *  - money/quantity sums go through DECIMAL casts (order-independent exact
 *    arithmetic in both engines); other double aggregates are round()ed.
 *  - the FINAL projection of every aggregate/derived column is cast to a
 *    type whose stringified value is identical in both engines: the driver
 *    loads both sides into pandas, where DuckDB DECIMAL becomes float64
 *    ("254462.0") but Spark DECIMAL stays java.math.BigDecimal
 *    ("254462.00") — so decimal outputs are cast to DOUBLE on BOTH sides,
 *    DuckDB HUGEINT (sum of ints) is cast down to BIGINT, and list outputs
 *    are flattened to strings (array_join). Internal arithmetic stays exact
 *    decimal; only the last projection widens to double.
 *  - every ranked/dedup operator gets a total tie-break order.
 *  - raw timestamp columns are not projected (parquet ns-vs-us typing);
 *    derived window bounds are whole-second and safe.
 */
object SparkEntry {
  private val transforms = Registries.transforms()
  /** Streaming-input staging dirs, memoized per source dir (q32/q46): test
    * scaffolding only — real deployments stream already-landed files. */
  private def stagedEventsDir(s: SparkSession, dir: String): String =
    Scratch.staged(s"q32in#$dir") { tmp =>
      // landed partitioned by event_type — the standard landing layout for
      // typed event streams, and what lets a per-type consumer (q73's
      // click/purchase sides) partition-prune instead of scanning every
      // type's files on every micro-batch. coalesce(2) keeps the per-type
      // file count low: the file source re-lists this dir once per
      // micro-batch AND per bench pass.
      tab(s, dir, "events").coalesce(2).write.mode("overwrite")
        .partitionBy("event_type").parquet(tmp)
    }

  /** Persisted MinHash signature store for q117, memoized per source dir:
    * run-N scaffolding (the store normally comes from yesterday's
    * minhash_signatures pipeline) — q117 itself reads ONLY this parquet,
    * never the reference text. */
  private def stagedSignatureStore(s: SparkSession, dir: String): String =
    Scratch.staged(s"q117sig#$dir") { tmp =>
      graft.dedup.Dedup.minhashSignatures(
          tab(s, dir, "documents").where("doc_id < 100"), "doc_id", "text")
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted gram-hash store for q124, memoized per source dir: run-N
    * scaffolding (the store normally comes from yesterday's
    * gram_signatures pipeline) — q124 itself reads ONLY this parquet,
    * never the reference text. */
  private def stagedGramStore(s: SparkSession, dir: String): String =
    Scratch.staged(s"q124gram#$dir") { tmp =>
      graft.dedup.SpanDedup.gramSignatures(
          tab(s, dir, "documents").where("doc_id < 250"), "text")
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted BPE merges store for q131/q132, memoized per source dir:
    * run-N scaffolding (the store normally comes from yesterday's
    * bpe_train pipeline) — the consumers read ONLY this parquet, never
    * re-train. Built through the registry transform so the library path
    * is what's exercised. */
  private def stagedBpeStore(s: SparkSession, dir: String): String =
    Scratch.staged(s"bpemerges#$dir") { tmp =>
      ap(tab(s, dir, "documents"),
        t("bpe_train", "textColumn" -> "text", "numMerges" -> "300"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted line-hash store for q140, memoized per source dir: run-N
    * scaffolding (the store normally comes from yesterday's
    * `line_signatures` pipeline over the ingested corpus) — q140 drops
    * history's lines reading ONLY this parquet, never reference text. */
  private def stagedLineStore(s: SparkSession, dir: String): String =
    Scratch.staged(s"linestore#$dir") { tmp =>
      ap(relined(s, dir).where("doc_id < 100"),
        t("line_signatures", "textColumn" -> "text"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** The planted corpus the q133/q143 tokenizer stores train on: a Greek
    * alphabet disjoint from the ASCII testdata. */
  private def plantedGreek(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.fill(4)(Seq("αβ", "αβγ", "γβα").mkString(" ")).toDF("text")
  }

  /** BPE merges store trained on a DISJOINT planted alphabet (Greek) for
    * q133: none of its merges can fire on the ASCII corpus, so encoding
    * provably degenerates to one token per code point + one `</w>` per
    * word — arithmetic DuckDB re-derives exactly. One global store (its
    * content never depends on the source dir). */
  private def stagedBpeDisjointStore(s: SparkSession): String =
    Scratch.staged("bpemerges0") { tmp =>
      ap(plantedGreek(s),
        t("bpe_train", "textColumn" -> "text", "numMerges" -> "8",
          "minCount" -> "2"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** The q133 planted store retrained with byteFallback for q143: every
    * codepoint of the ASCII corpus is OUTSIDE its Greek alphabet, so the
    * encode provably takes the byte path for all of them — the
    * train-on-A / encode-on-B pattern with ZERO `<unk>` and an exact
    * detokenize roundtrip (the cross-corpus safety property). */
  private def stagedBpeFallbackStore(s: SparkSession): String =
    Scratch.staged("bpemergesbf") { tmp =>
      ap(plantedGreek(s),
        t("bpe_train", "textColumn" -> "text", "numMerges" -> "8",
          "minCount" -> "2", "byteFallback" -> "true"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted k-means codebook store for q125, memoized per source dir:
    * run-N scaffolding (the store normally comes from yesterday's
    * `codebook` pipeline) — q125 itself trains NOTHING and pays no
    * sampling scan; its cluster assignment reads ONLY this parquet. */
  private def stagedCodebookStore(s: SparkSession, dir: String): String =
    Scratch.staged(s"q125cb#$dir") { tmp =>
      graft.ann.Ann.codebookFrame(plantedFamilies(s, dir), "vec_id", "embedding",
          nLists = 40, kmeansIters = 2)
        .write.mode("overwrite").parquet(tmp)
    }

  /** The planted-twin corpus of the exact-ANN queries and their stores
    * (q115/q116/q127/q169–q175): `emb` plus a copy of its first 5
    * vectors under vec_id + 2000000, so every query vector has exactly
    * one identical twin. Takes the loaded frame rather than the source
    * dir so a query that also draws its queries from `emb` reads the
    * table once. */
  private def twinCorpus(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    emb.unionByName(emb.where("vec_id < 5")
      .withColumn("vec_id", col("vec_id") + 2000000L))
  }

  /** Persisted IVF codebook for q127 over the twin-augmented embedding
    * corpus, memoized per source dir — q127's ANN search trains nothing
    * and probes against ONLY this parquet. */
  private def stagedAnnCodebookStore(s: SparkSession, dir: String): String =
    Scratch.staged(s"q127cb#$dir") { tmp =>
      graft.ann.Ann.codebookFrame(twinCorpus(tab(s, dir, "embeddings")),
          "vec_id", "embedding", nLists = 64, kmeansIters = 0)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted PQ codebook store for q170 over the twin-augmented
    * embedding corpus, memoized per source dir — q170's retrieval trains
    * nothing and encodes against ONLY this parquet. */
  private def stagedPqCodebookStore(s: SparkSession, dir: String): String =
    Scratch.staged(s"q170pq#$dir") { tmp =>
      graft.ann.Ann.pqCodebookFrame(twinCorpus(tab(s, dir, "embeddings")),
          "vec_id", "embedding", m = 8, k = 256, kmeansIters = 2)
        .write.mode("overwrite").parquet(tmp)
    }

  /** q174's staged PQ CODES store — the corpus of q169/q170, encoded
    * ONCE against the q170 codebook store ([[graft.ann.Ann.pqCodesFrame]]
    * via the pq_encode transform) and persisted; q174's retrieval then
    * trains nothing AND encodes nothing. */
  private def stagedPqCodesStore(s: SparkSession, dir: String): String =
    Scratch.staged(s"q174codes#$dir") { tmp =>
      val cbs = graft.ann.Ann.loadPqCodebooks(
        s.read.parquet(stagedPqCodebookStore(s, dir)))
      graft.ann.Ann.pqCodesFrame(twinCorpus(tab(s, dir, "embeddings")),
          "vec_id", "embedding", cbs)
        .write.mode("overwrite").parquet(tmp)
    }

  /** q175's staged IVFADC CODES store — q174's statement for the
    * composed quantizer. */
  private def stagedIvfPqCodesStore(s: SparkSession, dir: String): String =
    Scratch.staged(s"q175codes#$dir") { tmp =>
      val (cents, cbs) = graft.ann.Ann.loadIvfPqStore(
        s.read.parquet(stagedIvfPqStore(s, dir)))
      graft.ann.Ann.ivfPqCodesFrame(twinCorpus(tab(s, dir, "embeddings")),
          "vec_id", "embedding", cents, cbs)
        .write.mode("overwrite").parquet(tmp)
    }

  /** q172's staged COMBINED IVFADC store — the q170 memoization for
    * [[graft.ann.Ann.ivfPqStoreFrame]]. */
  private def stagedIvfPqStore(s: SparkSession, dir: String): String =
    Scratch.staged(s"q172ivfpq#$dir") { tmp =>
      graft.ann.Ann.ivfPqStoreFrame(twinCorpus(tab(s, dir, "embeddings")),
          "vec_id", "embedding", nLists = 16, m = 8, nCentroids = 256,
          kmeansIters = 2)
        .write.mode("overwrite").parquet(tmp)
    }

  /** The q118/q119/q125 planted corpus: 40 ids carrying 4 orthogonal
    * one-hot families (vec_id % 4) — the construction whose clustering
    * outcome is provable, not probabilistic (see q118's comment). */
  private def plantedFamilies(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    tab(s, dir, "embeddings").where("vec_id < 40")
      .select(col("vec_id"), expr(
        "transform(sequence(0, 7), i -> CAST(CASE WHEN i = vec_id % 4 " +
          "THEN 1.0 ELSE 0.0 END AS FLOAT))").as("embedding"))
  }

  /** State partitions for the bench/verify streaming drains: enough to
    * parallelize the stateful compute, few enough that per-store
    * fixed cost (a delta file written+fsynced EVERY micro-batch; a
    * stream-stream join keeps 4 stores per partition) stays small at
    * ~100k-row drains. Measured on local[4]: 8 partitions = pure
    * overhead, 2 partitions serialized sessionize 3×. Production sizes
    * this via the shufflePartitions knob in StreamingConfig.
    *
    * Round-10 floor audit (progress-listener durations at sf0.1, 8
    * threads): the quartet's ~5.2 s decomposes into per-query start/stop
    * (~0.3 s × 4), the single data micro-batch's addBatch (real state
    * compute over ~100k rows: 0.4–1.4 s), the REQUIRED trailing no-data
    * batch on the append-mode agg/session queries q46/q68 (watermark must
    * pass the window end to emit; 0.3–0.6 s), and per-batch re-planning
    * (~0.1–0.4 s, streaming re-plans every batch by design). Already
    * applied: one data batch per drain (partition-pruned staged input),
    * noDataBatch skipped where arrival-emitting (q73/q83), memory-backed
    * checkpoints. Measured and REJECTED as no-ops at this scale: tmpfs vs
    * ext4 checkpoints (±0.1 s), 4 vs 8 state partitions (±0.1 s). The
    * residue is constant micro-batch machinery, invariant in data scale —
    * it shrinks relative to any real workload. */
  private def streamStateParts(s: SparkSession): Int =
    math.min(s.sparkContext.defaultParallelism, 8).max(2)

  /** Run one registry streaming drain to completion: the
    * noDataMicroBatches toggle (and, when given, the state-store
    * partition count) scoped to the drain and restored after, and
    * awaitTermination's result CHECKED — a timed-out drain means a
    * partially-filled memory sink, so refuse it loudly instead of
    * returning wrong rows. The session-global conf toggles make
    * SparkEntry queries SEQUENTIAL-only by contract (Bench/Verify honor
    * this): a drain started inside another drain's conf window would
    * clone the wrong settings.
    *
    * noDataBatch=false skips the trailing empty micro-batch (~1 s of
    * machinery here). Only sound for operators that emit on ARRIVAL —
    * stream-stream inner join, dropDuplicates — where the final batch
    * exists purely to expire state. Append-mode aggregations/sessions
    * emit IN that final batch (watermark must pass the window end), so
    * they keep the default. */
  private def drain(s: SparkSession, name: String, stateParts: Option[Int],
                    noDataBatch: Boolean)(start: => StreamingQuery): Unit = {
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    stateParts.foreach(n => s.conf.set("spark.sql.shuffle.partitions", n.toString))
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noDataBatch.toString)
    try {
      val q = start
      if (!q.awaitTermination(120000)) {
        q.stop()
        throw new IllegalStateException(
          s"$name: streaming drain exceeded 120s — refusing partial results")
      }
    } finally { // batch queries follow
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
  }

  /** Drain a streaming frame into a memory table (append, availableNow)
    * under a unique query name and a temp checkpoint. */
  private def runStreamToTable(s: SparkSession, df: DataFrame, prefix: String,
                               statePartitions: Int = 0,
                               noDataBatch: Boolean = true): DataFrame = {
    val stateParts =
      if (statePartitions > 0) statePartitions else streamStateParts(s)
    val qn = prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    drain(s, prefix, Some(stateParts), noDataBatch) {
      df.writeStream.format("memory").queryName(qn)
        .outputMode("append")
        .option("checkpointLocation", Scratch.memDir(prefix + "ck"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    s.table(qn)
  }

  /** Drain a StreamingExecutor pipeline config to its memory sink and
    * return the table — the executor-path twin of [[runStreamToTable]]. */
  private def drainExecutor(s: SparkSession, cfg: graft.config.PipelineConfig,
                            name: String, queryName: String,
                            noDataBatch: Boolean = true): DataFrame = {
    drain(s, name, None, noDataBatch)(
      new graft.streaming.StreamingExecutor().start(cfg)(s))
    s.table(queryName)
  }

  /** 8-word re-lining of the documents table: replace every 8th space
    * with a newline — byte-identical to the transform/slice HOF form on
    * this single-space corpus (verified row-by-row at sf0.1) but a single
    * codegen'd regex pass instead of an interpreted lambda per line.
    * Shared by q81/q90/q113 (line-dedup fixtures) — ONE copy, so the
    * three oracles can never drift from three hand-kept regexes. */
  private def relined(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    tab(s, dir, "documents").withColumn("text",
      regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1\n"))
  }

  /** The q118/q125 per-family clustering stats (1-row-joined frame):
    * family = vec_id % 4, per-family counts/cluster-spread/sim bounds plus
    * the global distinct-cluster count. ONE copy so the store-backed q125
    * asserts exactly the trained-path q118 stats shape. */
  private def familyStats(clustered: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val perFamily = clustered
      .groupBy((col("vec_id") % 4).as("family"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        round(min(col("centroid_sim")), 4).as("min_sim"),
        round(max(col("centroid_sim")), 4).as("max_sim"))
    val total = clustered.agg(
      countDistinct(col("cluster_id")).as("total_clusters"))
    perFamily.crossJoin(broadcast(total)) // 1-row stats frame
  }

  private def ctx(s: SparkSession) = RunContext(s, "sparkentry", "verify")
  private def t(typ: String, opts: (String, String)*): TransformConfig =
    TransformConfig(s"$typ-q", typ, opts.toMap)
  private def ap(df: DataFrame, tc: TransformConfig): DataFrame =
    transforms.get(tc.transformType).apply(df, tc, ctx(df.sparkSession))
  /** Per-table staged file counts, chosen from the measured tradeoff at
    * sf0.1: scan-task parallelism speeds the CPU-heavy per-row walks
    * (documents: BPE/minhash/media/curation; lineitem: the decimal agg
    * band) 2–4×, but every extra map task ALSO adds ~3–5 ms of local-mode
    * scheduling overhead to every downstream shuffle stage, so
    * shuffle-rich queries over small tables regress when their inputs
    * split too finely (a uniform 32 was measured: +38% total). 16 on the
    * two compute-carrying tables = 2 waves at the driver's 8-core run vs
    * 1 wave at 32 cores (the ≥2× scaling headroom the gate needs) at half
    * the task bloat; the small join/window sides stay coarser; tiny
    * dimension tables stay unstaged. `SPARK_GRAFT_STAGED_PARTS` overrides
    * every table at once (1 = staging off) for A/B runs. */
  private val stagedTabPartsDefault: Map[String, Int] = Map(
    "documents" -> 8, "lineitem" -> 16, "orders" -> 8,
    "events" -> 8, "embeddings" -> 4)
  private def stagedParts(name: String): Int =
    sys.env.get("SPARK_GRAFT_STAGED_PARTS").map(_.toInt.max(1))
      .getOrElse(stagedTabPartsDefault.getOrElse(name, 1))

  /** Read a testdata table through its multi-row-group staged copy,
    * memoized per (source dir, table) for the life of the JVM — run-N
    * scaffolding built INSIDE the run (bench warmup / first use), never
    * persisted across runs. The generated sf* parquet inputs are ONE row
    * group per table, so every scan plans exactly one task and the
    * per-row compute of a whole query tree runs on one core no matter how
    * many the session has — the round-17 scaling gate measured 8 vs 32
    * cores indistinguishable across all 177 queries for exactly this
    * reason. At production scale inputs arrive as thousands of row
    * groups; the staged copy reproduces that layout at test scale (guide
    * §6 input split sizing: file counts per table from
    * [[stagedTabPartsDefault]] — documents 8, lineitem 16, orders 8,
    * events 8, embeddings 4 — or `SPARK_GRAFT_STAGED_PARTS`; Spark's
    * size+openCost split packing then yields ~minPartitionNum splits at
    * EITHER core count automatically). Same rows, same schema — every
    * query is row-order-independent, which the DuckDB oracle re-checks
    * end to end at sf0.001/sf0.01 where this staging is equally active. */
  private def tab(s: SparkSession, dir: String, name: String): DataFrame =
    if (stagedParts(name) <= 1) rawTab(s, dir, name)
    else s.read.parquet(stagedPath(s, dir, name))

  /** The staged dir itself — for the YAML pipelines (q154/q158/q22/q135)
    * whose file source reads the corpus path directly rather than through
    * [[tab]]: same rows, production-shaped file layout. At `parts` ≤ 1 a
    * table that [[rawTab]] leaves unchanged resolves to its raw path;
    * events, whose `ts` rawTab normalizes, stages a one-file normalized
    * copy instead, so the path always reads like [[tab]]. */
  private def stagedPath(s: SparkSession, dir: String, name: String): String =
    stagedPath(s, dir, name, stagedParts(name))
  private[graft] def stagedPath(s: SparkSession, dir: String, name: String,
                                parts: Int): String =
    if (parts <= 1 && name != "events") s"$dir/$name.parquet"
    else Scratch.staged(s"graftin_$name#$dir#$parts") { tmp =>
      rawTab(s, dir, name).repartition(parts.max(1))
        .write.mode("overwrite").parquet(tmp)
    }

  /** Read a testdata table as generated. The events table's `ts` encoding
    * has DRIFTED across testdata generations — TIMESTAMP(NANOS) (which
    * Spark 4 rejects unless read as raw longs via the legacy conf) vs
    * plain timestamp[us] (which reads as TIMESTAMP_NTZ) — so branch on
    * the LOADED dtype rather than assuming either:
    *  - LongType  → nanos-as-long legacy read; truncate to micros
    *    (matching DuckDB's ns→us cast semantics in the oracles);
    *  - TIMESTAMP_NTZ → cast to session-zone TimestampType (session TZ is
    *    UTC everywhere, so the wall-clock is preserved, matching DuckDB's
    *    naive TIMESTAMP);
    *  - TimestampType → already what we want;
    *  - anything else → a descriptive error naming table/column/type, so
    *    the NEXT testdata drift produces a diagnosable message instead of
    *    a downstream Catalyst DATATYPE_MISMATCH. */
  private[graft] def rawTab(s: SparkSession, dir: String, name: String): DataFrame = {
    // Harmless when ts is not NANOS; required for the legacy-nanos files.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => df
        case other => throw new IllegalStateException(
          s"testdata drift: $dir/events.parquet column 'ts' read as $other — " +
          "expected TIMESTAMP(NANOS)-as-long (LongType), TIMESTAMP_NTZ, or " +
          "TIMESTAMP; update SparkEntry.tab() for the new encoding")
      }
    }
  }

  /** Flagship: lineitem pricing-summary pipeline (filter → aggregate) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // lazy val, not def: Bench/Verify touch the registry several times per
  // run (key validation, filtering, measurement) and a def rebuilt the
  // full 130-entry closure map — including the string-built oracle SQL —
  // on every access
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.4 aggregation transformer (9 fns + expression aggregates) ----
    "q1_agg" -> ((s, dir) => ap(tab(s, dir, "lineitem"),
      t("aggregation",
        "groupBy" -> "l_returnflag,l_linestatus",
        "aggregations" -> ("sum_qty:cast(sum(cast(l_quantity as decimal(12,2))) as double)," +
          "sum_base_price:cast(sum(cast(l_extendedprice as decimal(12,2))) as double)," +
          "min_price:min(l_extendedprice),max_price:max(l_extendedprice)," +
          "count_order:count(*)")))),
    "q2_agg_expr" -> ((s, dir) => ap(tab(s, dir, "lineitem"),
      t("aggregation",
        "groupBy" -> "l_returnflag",
        "aggregations" -> ("revenue:cast(sum(cast(l_extendedprice as decimal(12,2)) * (1 - cast(l_discount as decimal(4,2)))) as double)," +
          "charge:cast(sum(cast(l_extendedprice as decimal(12,2)) * (1 - cast(l_discount as decimal(4,2))) * (1 + cast(l_tax as decimal(4,2)))) as double)")))),
    "q3_agg_distinct" -> ((s, dir) => ap(tab(s, dir, "lineitem"),
      t("aggregation",
        "groupBy" -> "l_returnflag",
        "aggregations" -> ("n_parts:count(distinct l_partkey)," +
          "n_supp:count(distinct l_suppkey),n_rows:count(*)")))),
    "q4_agg_collect" -> ((s, dir) => ap(tab(s, dir, "lineitem"),
      t("aggregation",
        "groupBy" -> "l_returnflag",
        "aggregations" -> ("statuses:array_join(array_sort(collect_set(l_linestatus)), ',')," +
          "prios:array_join(array_sort(collect_list(cast(l_linenumber as string))), ',')")))),
    "q5_rollup" -> ((s, dir) => ap(tab(s, dir, "lineitem"),
      t("aggregation",
        "groupBy" -> "l_returnflag,l_linestatus",
        "groupingSets" -> "rollup",
        "aggregations" -> "n_rows:count(*),sum_qty:cast(sum(cast(l_quantity as decimal(12,2))) as double)"))),

    // ---- §2.2 filter transformer ----
    "q6_filter" -> ((s, dir) => ap(tab(s, dir, "lineitem"),
      t("filter", "condition" ->
        "l_quantity >= 45 AND l_returnflag = 'R' AND l_linestatus IN ('F')"))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_returnflag")),

    // ---- §2.2 map transformer (scalar fn surface: string/date/case/cast) ----
    "q7_map" -> ((s, dir) => ap(tab(s, dir, "orders"),
      t("map", "project" -> "true", "keep" -> "o_orderkey",
        "expressions" -> ("order_year:cast(year(o_orderdate) as bigint)," +
          "order_month:cast(month(o_orderdate) as bigint)," +
          "status_tag:concat(upper(o_orderstatus), '-', substring(o_orderpriority, 1, 1))," +
          "is_high:CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END," +
          "price_dec:cast(cast(o_totalprice as decimal(12,2)) as double)")))),

    // ---- §2.2 scalar surface: datetime functions (cast to string/bigint
    // for cross-engine hash parity — see determinism rules above) ----
    "q37_scalar_datetime" -> ((s, dir) => ap(tab(s, dir, "orders"),
      t("map", "project" -> "true", "keep" -> "o_orderkey",
        "expressions" -> ("d_plus30:cast(date_add(o_orderdate, 30) as string)," +
          "d_trunc_month:cast(trunc(o_orderdate, 'MM') as string)," +
          "d_last_day:cast(last_day(o_orderdate) as string)," +
          "d_diff:cast(datediff(o_orderdate, date'1995-01-01') as bigint)," +
          "d_dow:cast(dayofweek(o_orderdate) as bigint)," +
          "d_doy:cast(dayofyear(o_orderdate) as bigint)," +
          "d_quarter:cast(quarter(o_orderdate) as bigint)")))),
    "q38_scalar_mathstr" -> ((s, dir) => ap(tab(s, dir, "orders"),
      t("map", "project" -> "true", "keep" -> "o_orderkey",
        "expressions" -> ("m_abs:abs(cast(o_totalprice as double) - 150000.0d)," +
          "m_floor:cast(floor(o_totalprice) as bigint)," +
          "m_ceil:cast(ceil(o_totalprice) as bigint)," +
          "m_sqrt:round(sqrt(cast(o_totalprice as double)), 4)," +
          "m_ln:round(ln(cast(o_totalprice as double)), 4)," +
          "m_mod:cast(o_orderkey % 97 as bigint)," +
          "s_lpad:lpad(o_orderpriority, 12, '*')," +
          "s_repl:replace(o_orderpriority, '-', '_')," +
          "s_pos:cast(instr(o_orderpriority, '-') as bigint)," +
          "s_sub_upper:upper(substring(o_orderpriority, 3, 4))")))),

    // ---- §2.3 join transformer (inner/left/right/full + broadcast) ----
    "q8_join_inner" -> ((s, dir) => {
      tab(s, dir, "customer").createOrReplaceTempView("v_customer_q8")
      ap(tab(s, dir, "orders"),
        t("join", "rightDataset" -> "v_customer_q8", "joinType" -> "inner",
          "leftKey" -> "o_custkey", "rightKey" -> "c_custkey", "broadcast" -> "true",
          "selectColumns" -> "o_orderkey,o_custkey,c_name,c_mktsegment,o_orderstatus"))
    }),
    "q9_join_left" -> ((s, dir) => {
      tab(s, dir, "orders").createOrReplaceTempView("v_orders_q9")
      ap(tab(s, dir, "customer"),
        t("join", "rightDataset" -> "v_orders_q9", "joinType" -> "left",
          "leftKey" -> "c_custkey", "rightKey" -> "o_custkey",
          "selectColumns" -> "c_custkey,c_name,o_orderkey,o_orderstatus"))
    }),
    "q10_join_semi_anti" -> ((s, dir) => {
      tab(s, dir, "orders").filter("o_totalprice > 300000")
        .createOrReplaceTempView("v_bigorders_q10")
      val semi = ap(tab(s, dir, "customer"),
        t("join", "rightDataset" -> "v_bigorders_q10", "joinType" -> "left_semi",
          "leftKey" -> "c_custkey", "rightKey" -> "o_custkey"))
      semi.select("c_custkey", "c_name")
    }),
    "q35_join_anti" -> ((s, dir) => {
      tab(s, dir, "orders").filter("o_totalprice > 300000")
        .createOrReplaceTempView("v_bigorders_q35")
      ap(tab(s, dir, "customer"),
        t("join", "rightDataset" -> "v_bigorders_q35", "joinType" -> "left_anti",
          "leftKey" -> "c_custkey", "rightKey" -> "o_custkey"))
        .select("c_custkey", "c_name")
    }),
    "q11_join_multikey" -> ((s, dir) => {
      // self-equi-join on composite key: order lines joined to the per-order
      // per-supplier aggregate (USING-style keys, no dup columns)
      val agg = ap(tab(s, dir, "lineitem"),
        t("aggregation", "groupBy" -> "l_orderkey,l_suppkey",
          "aggregations" -> "supp_order_qty:cast(sum(cast(l_quantity as decimal(12,2))) as double)"))
      agg.createOrReplaceTempView("v_liagg_q11")
      ap(tab(s, dir, "lineitem").filter("l_linenumber = 1"),
        t("join", "rightDataset" -> "v_liagg_q11", "joinType" -> "inner",
          "joinKeys" -> "l_orderkey,l_suppkey",
          "selectColumns" -> "l_orderkey,l_suppkey,l_quantity,supp_order_qty"))
    }),

    // ---- §2.5 windowing transformer (tumbling/sliding/session + extra keys) ----
    "q12_window_tumbling" -> ((s, dir) => ap(tab(s, dir, "events"),
      t("windowing", "timeColumn" -> "ts", "windowType" -> "tumbling",
        "windowDuration" -> "1 hour", "groupBy" -> "event_type",
        "aggregations" -> "n_events:count(*),sum_value:round(sum(value), 2)"))),
    "q13_window_sliding" -> ((s, dir) => ap(tab(s, dir, "events"),
      t("windowing", "timeColumn" -> "ts", "windowType" -> "sliding",
        "windowDuration" -> "1 hour", "slideDuration" -> "30 minutes",
        "aggregations" -> "n_events:count(*),sum_value:round(sum(value), 2)"))),
    "q14_window_session" -> ((s, dir) => ap(tab(s, dir, "events"),
      t("windowing", "timeColumn" -> "ts", "windowType" -> "session",
        "gapDuration" -> "30 minutes", "groupBy" -> "user_id",
        "aggregations" -> "n_events:count(*),sum_value:round(sum(value), 2)"))),

    // salted skew join: result multiset provably equals the plain join, so
    // the salting path is oracle-checked end to end
    "q39_join_salted" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val probe = tab(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"))
      val build = tab(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_name"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(probe, build, Seq("custkey"), saltBuckets = 8)
        .select("o_orderkey", "custkey", "c_name", "c_mktsegment")
    }),
    "q40_window_dense" -> ((s, dir) => ap(tab(s, dir, "orders"),
      t("window_rank", "partitionBy" -> "o_orderstatus",
        "orderBy" -> "o_orderpriority", "function" -> "dense_rank",
        "alias" -> "dr"))
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "dr")),

    // ---- §2.5 analytic windows (window_rank superset) ----
    "q15_window_rank" -> ((s, dir) => ap(tab(s, dir, "orders"),
      t("window_rank", "partitionBy" -> "o_custkey",
        "orderBy" -> "o_totalprice desc,o_orderkey", "function" -> "row_number",
        "alias" -> "rn", "topK" -> "3"))
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")),

    // ---- §2.6 supersets: sort/limit/union/dedup/distinct ----
    "q16_sort_limit" -> ((s, dir) => {
      val sorted = ap(tab(s, dir, "orders"),
        t("sort", "orderBy" -> "o_totalprice desc,o_orderkey", "global" -> "true"))
      ap(sorted, t("limit", "n" -> "100"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }),
    "q17_union" -> ((s, dir) => {
      tab(s, dir, "orders").filter("o_orderpriority = '1-URGENT'")
        .createOrReplaceTempView("v_urgent_q17")
      val highValue = tab(s, dir, "orders").filter("o_totalprice > 250000")
      ap(highValue, t("union", "rightDataset" -> "v_urgent_q17", "distinct" -> "true"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    }),
    "q18_dedup_keyed" -> ((s, dir) => ap(tab(s, dir, "orders"),
      t("dedup", "columns" -> "o_custkey", "orderBy" -> "o_orderdate,o_orderkey"))
      .select("o_custkey", "o_orderkey", "o_orderstatus")),
    "q19_distinct" -> ((s, dir) => ap(
      tab(s, dir, "lineitem").select("l_returnflag", "l_linestatus"),
      t("dedup"))),

    // ---- §2.2 scalar surface: JSON extraction (kafka-payload shape) ----
    "q20_json_extract" -> ((s, dir) => ap(tab(s, dir, "events"),
      t("map", "project" -> "true", "keep" -> "event_id",
        "expressions" -> "k_val:cast(get_json_object(props, '$.k') as int)"))
      .filter("k_val >= 50")),

    // ---- §2.8 data-quality metrics (one-pass null/dup profile) ----
    // Routed through the engine's QualityChecker (not inline agg) so the
    // verify gate exercises the actual quality component.
    "q21_quality_metrics" -> ((s, dir) =>
      graft.quality.QualityChecker.metricsFrame(
        tab(s, dir, "documents"), Seq("text", "lang"), Seq("text"))),

    // ---- §3 pipeline executor end-to-end (filter → map → aggregation fold) ----
    "q22_pipeline" -> ((s, dir) => {
      import graft.config._
      val cfg = PipelineConfig(
        pipelineId = "verify-pipeline",
        source = SourceConfig("file", Map(
          "path" -> stagedPath(s, dir, "lineitem"), "format" -> "parquet")),
        transformations = List(
          TransformConfig("f", "filter", Map("condition" -> "l_quantity > 10")),
          TransformConfig("m", "map", Map("expressions" ->
            "disc_price:cast(l_extendedprice as decimal(12,2)) * (1 - cast(l_discount as decimal(4,2)))")),
          TransformConfig("a", "aggregation", Map(
            "groupBy" -> "l_returnflag,l_linestatus",
            "aggregations" -> "revenue:cast(sum(disc_price) as double),n_rows:count(*)"))),
        sink = SinkConfig("file", Map("path" -> "/tmp/graft-unused")))
      new graft.runtime.PipelineExecutor().compose(cfg)(s)
    }),

    // ---- LLM-data-pipeline: text analysis ----
    // both routed through the declarative `text_signals` transform — the
    // YAML-reachable path — then aliased to the oracle's column names
    "q23_text_stats" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "documents"),
        t("text_signals", "textColumn" -> "text", "signals" -> "tokens,bpe_tokens,chars"))
        .select(col("doc_id"), col("n_tokens"),
          col("n_bpe_tokens").as("n_bpe"), col("n_chars").as("len_chars"))
    }),
    // Gopher's top n-gram character coverage (the "same slogan 400 times"
    // repetition signal): elected gram maximizes (count, char length),
    // covered chars / normalized length, capped at 1 — re-derived row-
    // for-row by the oracle's group-and-rank restatement
    "q141_top_ngram_signal" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "documents").where(col("text").isNotNull),
        t("text_signals", "textColumn" -> "text", "signals" -> "top_ngrams",
          "ngramSize" -> "2"))
        .select("doc_id", "top_ngram_frac")
    }),
    "q24_text_quality" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "documents"),
        t("text_signals", "textColumn" -> "text", "signals" -> "quality,lang,fingerprint"))
        .select(col("doc_id"), col("quality_score").as("quality"),
          col("lang_pred"), col("fingerprint").as("fp"))
    }),
    // q24 minus the fingerprint (xxhash64 chain — no DuckDB equivalent):
    // the quality composite and the langid argmax ARE SQL-expressible, so
    // this pins them exactly. The oracle mirrors the Spark arithmetic
    // term-for-term and left-associatively (the q57 ln-rounding
    // precedent); langid's greatest-over-(score,lang)-structs tie-break
    // (larger lang code wins at equal scores) is reproduced with DuckDB's
    // struct greatest.
    "q109_text_quality_sql" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "documents"),
        t("text_signals", "textColumn" -> "text", "signals" -> "quality,lang"))
        .select(col("doc_id"), col("quality_score").as("quality"), col("lang_pred"))
    }),

    // ---- LLM-data-pipeline: deduplication family ----
    "q25_dedup_exact" -> ((s, dir) =>
      graft.dedup.Dedup.exact(tab(s, dir, "documents"), "doc_id", "text")),
    "q26_dedup_minhash" -> ((s, dir) =>
      graft.dedup.Dedup.minhashNearDups(tab(s, dir, "documents"), "doc_id", "text",
        bands = 16, rowsPerBand = 4, shingleSize = 3, threshold = 0.5)),
    "q27_dedup_simhash" -> ((s, dir) =>
      graft.dedup.Dedup.simhashNearDups(tab(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)),
    // near-dup REMOVAL through the declarative transform surface (rows-only:
    // the keep-set depends on LSH recall, which is probabilistic by design)
    "q36_pipeline_neardup" -> ((s, dir) => ap(tab(s, dir, "documents"),
      t("dedup_minhash", "idColumn" -> "doc_id", "textColumn" -> "text",
        "threshold" -> "0.8"))
      .select("doc_id", "lang")),
    // q36's deterministic exact twin (its last rows-only gap): the SAME
    // declarative route and projection shape, but verbatim copies planted
    // and threshold 1.0 with explicit survivor=pair — every J=1 pair is a
    // guaranteed LSH candidate, so greedy pair-drop keeps exactly the
    // minimum id of each identical-shingle-set group, which DuckDB can
    // state outright (q108's construction, q36's select)
    "q126_pipeline_neardup_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
      val copies = docs.where(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 900000L)
      ap(docs.unionByName(copies),
        t("dedup_minhash", "idColumn" -> "doc_id", "textColumn" -> "text",
          "threshold" -> "1.0", "survivor" -> "pair"))
        .select("doc_id", "lang")
    }),
    // embedding-cosine near-dup REMOVAL through the declarative surface
    // (rows-only: keep-set depends on LSH recall). Planted exact copies
    // (sim = 1.0, higher id) MUST all be dropped — spec-verified; here the
    // transform exercises the full YAML-reachable path end to end.
    "q41_dedup_embedding" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val planted = emb.where("vec_id < 10")
        .withColumn("vec_id", col("vec_id") + 1000000L)
      ap(emb.unionByName(planted),
        t("dedup_embedding", "idColumn" -> "vec_id", "vecColumn" -> "embedding",
          "threshold" -> "0.95", "bits" -> "12", "tables" -> "6"))
        .select("vec_id")
    }),

    // exact n-gram Jaccard (the minhash verification primitive) over
    // adjacent-doc pairs — oracle-checked: hashed-shingle Jaccard equals
    // string-shingle Jaccard (same tokenization; collisions negligible),
    // which DuckDB expresses with list comprehensions
    "q42_ngram_jaccard" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = tab(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"),
        col("text").as("tb"))
      a.join(b, Seq("id_a"))
        .select(col("id_a"), col("id_b"),
          graft.dedup.Dedup.ngramJaccard(col("ta"), col("tb"), 3).as("jaccard"))
    }),

    // ---- LLM-data-pipeline: curation / export operators ----
    // token-budget shard packing via the declarative `shard` transform:
    // distributed two-phase prefix sum, oracle'd against the equivalent
    // single-partition SQL window (identical long arithmetic)
    "q43_shard_pack" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("shard", "idColumn" -> "doc_id", "weightColumn" -> "n_chars",
          "budget" -> "50000"))
        .select("doc_id", "cum_before", "shard_id")),
    // deterministic corpus shuffle: seeded-md5 total order + global
    // position via the two-phase scan — the permutation itself is the
    // checked output (the oracle re-derives it from (seed, id) alone)
    "q84_shuffle" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("shuffle", "idColumn" -> "doc_id", "seed" -> "7"))
        .select("doc_id", "shuffle_pos")),
    // deterministic reproducible sampling (mod path — the hash path is
    // spec-tested; xxhash64 has no DuckDB equivalent)
    "q44_sample_mod" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("sample", "on" -> "doc_id", "buckets" -> "10", "keep" -> "3",
          "method" -> "mod"))
        .select("doc_id", "lang", "n_chars")),
    // corpus vocabulary: top-k term frequencies, deterministic tie-break
    // (declarative route — the vocab_topk transform)
    "q45_vocab_topk" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("vocab_topk", "textColumn" -> "text", "k" -> "100"))),
    // corpus bigram counts — the n-gram LM / collocation count table
    "q82_vocab_bigrams" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("vocab_topk", "textColumn" -> "text", "k" -> "100", "ngramSize" -> "2"))),
    // corpus TF-IDF: (doc, term) → tf, df, smooth-idf score; no float
    // ranking (all pairs emitted), so cross-engine order is irrelevant
    "q57_tfidf" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("tfidf", "idColumn" -> "doc_id", "textColumn" -> "text"))),
    // BM25: saturated, doc-length-normalized scoring over the same frames
    "q59_bm25" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("tfidf", "idColumn" -> "doc_id", "textColumn" -> "text",
          "scoring" -> "bm25"))),
    // PII redaction: email/phone/ipv4 rewritten to typed placeholders over
    // a synthesized PII-bearing column (documents carry no natural PII) —
    // regex parity checked against DuckDB's RE2 on the same text
    "q50_redact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = tab(s, dir, "documents").select(col("doc_id"),
        concat(lit("reach user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 555-123-4567 or 10.0.0."),
          (col("doc_id") % 250).cast("string"), lit(" end")).as("contact"))
      ap(d, t("redact", "columns" -> "contact")).select("doc_id", "contact")
    }),
    // Unicode text normalization: a DECOMPOSED combining-mark suffix is
    // synthesized (e+U+0301, A+U+030A; documents are ASCII, where NFC is
    // identity) so the oracle checks REAL composition — Java's Normalizer vs DuckDB's utf8proc implement
    // the same Unicode NFC spec — plus whitespace collapse + trim parity
    "q85_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = tab(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" cafe\u0301  A\u030A")).as("text"))
      ap(d, t("normalize_text", "columns" -> "text", "form" -> "NFC",
        "collapseWhitespace" -> "true", "trim" -> "true"))
        .select("doc_id", "text")
    }),
    // Gopher-style repetition quality signals: fraction of word / bigram
    // occurrences that repeat an earlier one (1 - distinct/total)
    "q49_repetition" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.functions.TextFunctions
      tab(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.dupWordFraction(col("text")).as("dup_word_frac"),
        TextFunctions.dupNgramFraction(col("text"), 2).as("dup_bigram_frac"))
    }),
    // one-pass numeric profiling (exact mode for the oracle; the default
    // approx mode swaps in HLL++/KLL sketches for bounded memory at scale).
    // Exact distinct/percentile cost scales with column CARDINALITY — the
    // low-cardinality measures here are the sane exact-profile targets; a
    // ~all-distinct column like l_extendedprice costs 10× the whole bench
    // in exact mode and belongs on the default sketch path.
    "q54_profile" -> ((s, dir) =>
      ap(tab(s, dir, "lineitem"),
        t("profile", "columns" -> "l_quantity,l_discount,l_tax",
          "exact" -> "true"))),
    // grouped profiling: per-returnflag ingest stats, same one-pass shape
    "q58_profile_grouped" -> ((s, dir) =>
      ap(tab(s, dir, "lineitem"),
        t("profile", "columns" -> "l_quantity,l_discount",
          "groupBy" -> "l_returnflag", "exact" -> "true"))),
    // stratified sampling: exact perGroup quota per language, smallest
    // (id % 97, id) pairs win — bounded-heap partial aggregation per group
    // (no per-group window task), broadcast semi-join back. Mod path
    // oracled; hash path spec'd.
    "q53_sample_stratified" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("sample", "on" -> "doc_id", "groupBy" -> "lang", "perGroup" -> "40",
          "method" -> "mod", "buckets" -> "97"))
        .select("doc_id", "lang", "source")),
    // corpus mixing: per-language sampling weights (keep half of en, all
    // of de, a quarter of fr; drop the rest) — zero-shuffle deterministic
    // filter. Downsampling weights oracled; upsampling (weight > 1) spec'd.
    "q56_mix_weights" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("mix", "on" -> "doc_id", "groupBy" -> "lang",
          "weights" -> "en:0.5,de:1.0,fr:0.25", "method" -> "mod",
          "buckets" -> "100"))
        .select("doc_id", "lang")),
    // weighted sampling without replacement (Efraimidis-Spirakis
    // exponential race), P(selected) ∝ n_chars: the uniform is the md5
    // hex prefix (52 exact bits), so DuckDB re-derives identical race
    // keys and the exact winner set
    "q130_sample_weighted" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("sample", "on" -> "doc_id", "weightColumn" -> "n_chars",
          "k" -> "100", "seed" -> "7"))
        .select("doc_id", "lang")),
    // temperature-scaled mixing (mT5/XLM-R style): per-language rates
    // derived as B*n^alpha/(Z*n), rounded to 4 decimals inside the
    // operator so the oracle re-derives bit-identical rates; duplicates
    // (upsampled copies) are part of the expected multiset
    "q128_mix_temperature" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("mix", "on" -> "doc_id", "groupBy" -> "lang",
          "temperature" -> "0.5", "method" -> "mod", "buckets" -> "100"))
        .select("doc_id", "lang")),
    // q128 with group sizes measured in TOKENS (Σ n_chars), not documents
    // — the balance-by-training-tokens knob; same 4-decimal rate rounding,
    // same exact copy arithmetic, re-derived end-to-end by the oracle
    "q139_mix_temperature_tokens" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("mix", "on" -> "doc_id", "groupBy" -> "lang",
          "temperature" -> "0.5", "weightColumn" -> "n_chars",
          "method" -> "mod", "buckets" -> "100"))
        .select("doc_id", "lang")),
    // reproducible train/val/test assignment: every row labeled by its
    // deterministic bucket's slice (mod path oracled; hash path spec'd)
    "q48_split_mod" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("sample", "on" -> "doc_id", "buckets" -> "10",
          "splits" -> "train:8,val:1,test:1", "method" -> "mod"))
        .select("doc_id", "split")),
    // percentile-threshold quality gate: keep the per-language middle 50%
    // by length. Exact mode for the oracle; 0.25/0.75 are exact binary
    // fractions, so the interpolated thresholds are bit-identical across
    // engines (no float-boundary row flips). Approx/clip paths spec'd.
    "q86_quantile_filter" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("quantile_filter", "column" -> "n_chars", "lower" -> "0.25",
          "upper" -> "0.75", "exact" -> "true", "groupBy" -> "lang"))
        .select("doc_id", "lang", "n_chars")),
    // mergeable heavy-hitters sketches end-to-end: per-language build →
    // global merge → estimate. k and capacity exceed the source-domain
    // cardinality, so the sketch regime is exact (the DataSketches
    // guarantee) and the oracle is a plain count — same sparse-regime
    // pattern as the HLL q74.
    "q87_frequent_items" -> ((s, dir) => {
      val docs = tab(s, dir, "documents")
      val built = ap(docs, t("frequent_items", "columns" -> "source",
        "groupBy" -> "lang", "maxItemsTracked" -> "64"))
      val merged = ap(built, t("frequent_items", "columns" -> "source",
        "mode" -> "merge", "maxItemsTracked" -> "64"))
      ap(merged, t("frequent_items", "columns" -> "source",
        "mode" -> "estimate", "k" -> "64"))
        .select("item", "est_count")
    }),
    // WITHIN-document line dedup (Gopher-style repetition removal): each
    // doc gets its own first line appended twice, and the document-scope
    // pass must strip exactly the repeats — zero-shuffle native projection
    "q90_dedup_lines_doc" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val lined = relined(s, dir)
      val rep = lined.withColumn("text",
        concat_ws("\n", col("text"),
          element_at(split(col("text"), "\n"), 1),
          element_at(split(col("text"), "\n"), 1)))
      ap(rep, t("dedup_lines", "textColumn" -> "text", "scope" -> "document"))
        .select("doc_id", "text")
    }),
    // Gopher duplicate-line + duplicate-line-character fractions over
    // q90's planted construction (each doc's first 8-word line appended
    // twice): the native one-walk DupLineStats vs DuckDB's list-ops
    // restatement (repeats = n - distinct; repeat chars = total chars -
    // distinct first-occurrence chars)
    "q142_dup_line_signals" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val lined = relined(s, dir)
      val rep = lined.withColumn("text",
        concat_ws("\n", col("text"),
          element_at(split(col("text"), "\n"), 1),
          element_at(split(col("text"), "\n"), 1)))
      ap(rep, t("text_signals", "textColumn" -> "text",
        "signals" -> "dup_lines,dup_line_chars"))
        .select("doc_id", "dup_line_frac", "dup_line_char_frac")
    }),
    // Gopher-rule quality gate (annotate mode): planted symbol soup
    // (doc_id % 7) and ellipsis-ended lines (% 13) exercise the
    // symbol_ratio and ellipsis_lines rules on top of the corpus's own
    // word_count/stopwords splits; the first-failing-rule label and keep
    // flag must agree with a DuckDB restatement of every rule
    "q91_quality_rules" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val mutated = tab(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" # # # # # # # #")))
          .when(col("doc_id") % 13 === 0,
            concat(col("text"), lit("\nfoo...\nbar...\nbaz...")))
          .otherwise(col("text")))
      ap(mutated, t("quality_rules", "textColumn" -> "text",
        "minWords" -> "50", "minStopwords" -> "1"))
        .select(col("doc_id"), col("gopher_keep"),
          coalesce(col("gopher_fail"), lit("pass")).as("gopher_fail"))
    }),
    // token-budget source caps: every source fills to 3000 chars of docs
    // in deterministic md5 order (src3 capped at 500, src7 unlimited) —
    // the absolute-volume mixture draw, distributed two-phase prefix sum
    "q92_token_cap" -> ((s, dir) => {
      ap(tab(s, dir, "documents"), t("token_cap",
        "idColumn" -> "doc_id", "weightColumn" -> "n_chars",
        "groupBy" -> "source", "budget" -> "3000",
        "budgets" -> "src3:500, src7:-"))
        .select("doc_id", "source", "n_chars")
    }),
    // URL canonicalization: synthesized messy URLs (mixed-case scheme and
    // host, default ports, www, tracking params, fragments, /? seams)
    // through url_normalize + host/registrable-domain extraction
    "q93_url_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val urls = tab(s, dir, "documents").withColumn("url",
        concat(
          when(col("doc_id") % 2 === 0, "HTTPS://WWW.Site").otherwise(lit("http://cdn.site")),
          (col("doc_id") % 7).cast("string"), lit(".COM"),
          when(col("doc_id") % 2 === 0, ":443").otherwise(lit(":80")),
          lit("/Dir/"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0, "/?utm_source=feed&id=1&ref=x#Frag")
            .otherwise(lit("?id=1&gclid=g"))))
      ap(urls, t("url_normalize", "column" -> "url",
        "appendHost" -> "host", "appendDomain" -> "domain"))
        .select("doc_id", "url", "host", "domain")
    }),
    // C4-style blocklist gate: planted phrase (case-mangled, % 5), double
    // term (% 7) and a boundary decoy (% 11, must NOT match) — hit counts
    // and keep flags replay exactly in DuckDB from the same RE2-safe
    // alternation pattern
    "q94_blocklist" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val planted = tab(s, dir, "documents").withColumn("text", concat(
        col("text"),
        when(col("doc_id") % 5 === 0, " FORBIDDEN Widget here").otherwise(lit("")),
        when(col("doc_id") % 7 === 0, " spamword spamword").otherwise(lit("")),
        when(col("doc_id") % 11 === 0, " unspamworded").otherwise(lit(""))))
      ap(planted, t("blocklist", "textColumn" -> "text",
        "terms" -> "forbidden widget, spamword"))
        .select("doc_id", "blocklist_hits", "blocklist_keep")
    }),
    // dense id assignment in (lang, doc_id) order — distributed two-phase
    // prefix sum, bit-identical to the single-partition row_number oracle
    "q95_assign_ids" -> ((s, dir) => {
      ap(tab(s, dir, "documents"), t("assign_ids",
        "orderBy" -> "lang, doc_id", "idName" -> "row_id"))
        .select("doc_id", "lang", "row_id")
    }),
    // deflate-ratio repetitiveness signal: deterministic zlib; DuckDB
    // ships no deflate, so the oracle joins the committed golden fixture
    // (tools/gen_golden_q96.py); monotonicity also pinned in
    // CompressionRatioSpec
    "q96_compression_ratio" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "documents"), t("compression_ratio", "textColumn" -> "text"))
        .select(col("doc_id"), round(col("compression_ratio"), 4).as("compression_ratio"))
    }),
    // spherical k-means corpus clustering with centroid similarity —
    // assignment is kmeans-dependent → rows-only; determinism, coverage and
    // planted-duplicate cohesion pinned in ClusterEmbeddingsSpec
    "q97_cluster_embeddings" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "embeddings"), t("cluster_embeddings",
        "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "nClusters" -> "16", "kmeansIters" -> "2", "appendSim" -> "centroid_sim"))
        .select(col("vec_id"), col("cluster_id"),
          round(col("centroid_sim"), 4).as("centroid_sim"))
    }),
    // blocked fuzzy join (record linkage): each 24-char title fuzzy-matches
    // a planted single-substitution variant view within 2 edits; 4-char
    // prefix blocks + length band + banded levenshtein replay exactly in SQL
    "q98_fuzzy_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val titles = tab(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 24).as("title"))
      titles.select((col("doc_id") + 100000L).as("doc_id"),
          concat(substring(col("title"), 1, 9), lit("z"),
            substring(col("title"), 11, 14)).as("title"))
        .createOrReplaceTempView("q98_variants")
      ap(titles, t("join_fuzzy", "rightDataset" -> "q98_variants",
        "leftColumn" -> "title", "rightColumn" -> "title",
        "maxDistance" -> "2", "blockPrefix" -> "4"))
        .select("doc_id", "r_doc_id", "edit_distance")
    }),
    // incremental exact dedup: the corpus re-ingested against a reference
    // view of its first 100 docs (plus a case/whitespace-mangled copy that
    // must ALSO be dropped — normalization parity with q25)
    "q99_dedup_against" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
      docs.where(col("doc_id") < 100).createOrReplaceTempView("q99_reference")
      val mangled = docs.where(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 500000L)
        .withColumn("text", concat(lit("  "), upper(col("text"))))
      ap(docs.unionByName(mangled),
        t("dedup_against", "textColumn" -> "text",
          "referenceView" -> "q99_reference"))
        .select("doc_id", "source")
    }),
    // corpus PMI collocation table: bigram/unigram counts + a 1-row totals
    // projection; ln-of-double-ratio arithmetic mirrored term for term in
    // the oracle (q57's ln-rounding precedent)
    "q100_collocations" -> ((s, dir) =>
      ap(tab(s, dir, "documents"), t("collocations",
        "textColumn" -> "text", "k" -> "50", "minCount" -> "5"))),
    // incremental MinHash near-dedup: increment docs that are near-copies
    // of the reference corpus (first 100 docs + a word-dropped variant)
    // must drop; unrelated docs survive — LSH recall is probabilistic →
    // rows-only, planted-pair guarantees in DedupAgainstSpec
    "q103_dedup_minhash_incr" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
      docs.where(col("doc_id") < 100).createOrReplaceTempView("q103_reference")
      val nearCopies = docs.where(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 700000L)
        // drop the first word: high-Jaccard near-copy, not an exact one
        .withColumn("text", expr("substring(text, instr(text, ' ') + 1)"))
      ap(docs.where(col("doc_id") >= 100).unionByName(nearCopies),
        t("dedup_minhash", "idColumn" -> "doc_id", "textColumn" -> "text",
          "referenceView" -> "q103_reference", "threshold" -> "0.6"))
        .select("doc_id", "source")
    }),
    // GPT-style corpus packing: documents laid end-to-end in doc_id order,
    // cut every 4096 weight units; distributed prefix sum + bounded span
    // explode — exact long arithmetic, bit-identical to the SQL window
    "q110_pack_sequences" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("pack_sequences", "idColumn" -> "doc_id", "weightColumn" -> "n_chars",
          "seqLen" -> "4096"))
        .select("doc_id", "seq_id", "tok_start", "tok_end", "pos_in_seq")),
    // per-stratum packing: the prefix sum and seq_id restart per language,
    // so one context window never mixes strata — same exact arithmetic,
    // now under a PARTITION BY in the oracle
    "q112_pack_grouped" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("pack_sequences", "idColumn" -> "doc_id", "weightColumn" -> "n_chars",
          "seqLen" -> "4096", "groupBy" -> "lang"))
        .select("doc_id", "lang", "seq_id", "tok_start", "tok_end", "pos_in_seq")),
    // materialized training sequences: ordered concat of the packed
    // spans (weight = n_chars so substring offsets are character
    // offsets); seq_text is md5'd on both sides to keep compare cells
    // small. n_chars == length(text) is asserted by the oracle join
    // construction itself (a mismatch would desync the substring spans
    // and flip the md5).
    "q111_pack_sequences_text" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
        .withColumn("w", length(col("text")).cast("long"))
      graft.operators.PackSequences.materialize(docs, "doc_id", "text", "w", 4096L)
        .select(col("seq_id"), md5(col("seq_text")).as("seq_md5"),
          col("n_docs"), col("seq_weight"))
    }),
    // deterministic half of incremental MinHash (the q80 pattern): at
    // threshold 1.0 only identical shingle SETS pass the exact-Jaccard
    // verify, and identical sets imply identical signatures — so LSH
    // recall is GUARANTEED (same band hashes → same buckets) and the
    // result is exactly the SQL shingle-set equality below, not a
    // probabilistic subset. Rounding cannot blur the gate: J < 1 implies
    // J <= 1 - 1/union < 0.9999-something only past ~20k-shingle unions,
    // far beyond these docs.
    "q107_minhash_incr_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
      docs.where(col("doc_id") < 100).createOrReplaceTempView("q107_reference")
      val copies = docs.where(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 800000L)
      ap(docs.where(col("doc_id") >= 100).unionByName(copies),
        t("dedup_minhash", "idColumn" -> "doc_id", "textColumn" -> "text",
          "referenceView" -> "q107_reference", "threshold" -> "1.0"))
        .select("doc_id", "source")
    }),
    // q107's semantics routed through the PERSISTED signature store: the
    // reference (doc_id < 100) is materialized once as (doc_id, sh, sig)
    // parquet and the dedup reads ONLY that — same deterministic
    // threshold-1.0 guarantee, so the same shingle-set-equality oracle,
    // proving store-backed incremental dedup end-to-end against DuckDB
    "q117_minhash_store_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
      s.read.parquet(stagedSignatureStore(s, dir))
        .createOrReplaceTempView("q117_signatures")
      val copies = docs.where(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 800000L)
      ap(docs.where(col("doc_id") >= 100).unionByName(copies),
        t("dedup_minhash", "idColumn" -> "doc_id", "textColumn" -> "text",
          "signatureView" -> "q117_signatures", "threshold" -> "1.0"))
        .select("doc_id", "source")
    }),
    // the same deterministic guarantee for SELF minhash dedup (q26's
    // operator): verbatim copies planted, threshold 1.0, survivor=pair —
    // every J=1 pair is a guaranteed candidate, so the kept set is exactly
    // "doc_id is the minimum of its shingle-set fingerprint group"
    "q108_minhash_self_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
      val copies = docs.where(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 900000L)
      ap(docs.unionByName(copies),
        t("dedup_minhash", "idColumn" -> "doc_id", "textColumn" -> "text",
          "threshold" -> "1.0"))
        .select("doc_id", "source")
    }),
    // quality-keyed survivor election on q108's deterministic exact-dup
    // half: each planted copy pair keeps its BEST-scoring member (a
    // synthetic doc_id%7 score so the winner varies), not the lowest id
    "q123_dedup_survivor" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
      val copies = docs.where(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 900000L)
      val corpus = docs.unionByName(copies)
        .withColumn("quality", (col("doc_id") % 7).cast("double"))
      ap(corpus,
        t("dedup_minhash", "idColumn" -> "doc_id", "textColumn" -> "text",
          "threshold" -> "1.0", "survivor" -> "cluster",
          "survivorColumn" -> "quality"))
        .select("doc_id", "source")
    }),
    // declarative null handling: planted nulls filled per-column (typed
    // literals) — exact coalesce parity
    "q104_fillna" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val holey = tab(s, dir, "documents")
        .withColumn("lang2",
          when(col("doc_id") % 3 === 0, lit(null).cast("string")).otherwise(col("lang")))
        .withColumn("score",
          when(col("doc_id") % 5 === 0, lit(null).cast("long")).otherwise(col("n_chars")))
      ap(holey, t("fillna", "values" -> "lang2:unk, score:-1"))
        .select("doc_id", "lang2", "score")
    }),
    // SCD2 dimension history from the orders change log: per customer,
    // status versions in order-key sequence — no-op updates collapse, each
    // surviving version carries [from, to) bounds and a current flag
    "q102_scd2" -> ((s, dir) =>
      ap(tab(s, dir, "orders").select("o_custkey", "o_orderkey", "o_orderstatus"),
        t("scd2", "keyColumns" -> "o_custkey", "timeColumn" -> "o_orderkey",
          "compareColumns" -> "o_orderstatus"))),
    // CDC merge (Type-1 apply): a derived change set — updates (+100 bal
    // on every 10th key), deletes (every 20th), inserts (shifted keys) —
    // applied to the customer snapshot; the broadcast anti-join + union
    // restated as ANTI JOIN + UNION ALL in SQL
    "q105_merge" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val cust = tab(s, dir, "customer")
      val updates = cust.where(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100)
        .withColumn("op",
          when(col("c_custkey") % 20 === 0, lit("D")).otherwise(lit("U")))
      val inserts = cust.where(col("c_custkey") % 25 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
        .withColumn("op", lit("I"))
      updates.unionByName(inserts).createOrReplaceTempView("q105_changes")
      ap(cust, t("merge", "rightDataset" -> "q105_changes",
        "keyColumns" -> "c_custkey", "opColumn" -> "op"))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal").cast("double").as("c_acctbal"), col("c_mktsegment"))
    }),
    // robust (median/MAD) scaling: exact mode for parity — identical
    // (x−med)/(1.4826·mad) double arithmetic in DuckDB, round 4
    "q106_scale_robust" -> ((s, dir) =>
      ap(tab(s, dir, "documents"), t("scale", "columns" -> "n_chars",
        "method" -> "robust", "exact" -> "true", "roundTo" -> "4"))
        .select("doc_id", "n_chars_scaled")),
    // generic array flatten: tokenized text exploded with element position
    // (posexplode parity vs unnest-over-generate_series)
    "q101_explode" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val toks = tab(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"),
          filter(split(lower(trim(col("text"))), "\\s+"),
            w => length(w) > 0).as("toks"))
      ap(toks, t("explode", "column" -> "toks", "as" -> "token",
        "positionColumn" -> "pos"))
    }),
    // mergeable quantile sketches (KLL): per-language build → estimate.
    // Group counts stay inside the level-0 buffer (k=8192), so ranks are
    // exact; the inclusive-rank rule (smallest value with rank ≥ p) is
    // DuckDB's quantile_disc at these (n, p) combinations — the sketch
    // triad's third oracle after q74 (HLL) and q87 (heavy hitters)
    "q89_quantile_sketch" -> ((s, dir) => {
      val docs = tab(s, dir, "documents")
      val built = ap(docs, t("quantile_sketch", "columns" -> "n_chars",
        "groupBy" -> "lang", "sketchK" -> "8192"))
      ap(built, t("quantile_sketch", "columns" -> "n_chars",
        "mode" -> "estimate", "quantiles" -> "0.25,0.5,0.75"))
    }),
    // SemDeDup semantic near-dup removal: k-means cells + in-cell cosine.
    // Planted exact duplicates (higher ids) must be dropped; cluster
    // assignment is kmeans-dependent → rows-only here, planted-pair and
    // cross-cluster-safety specs in SemanticDedupSpec.
    "q88_dedup_semantic" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val planted = emb.where("vec_id < 10")
        .withColumn("vec_id", col("vec_id") + 1000000L)
      ap(emb.unionByName(planted),
        t("dedup_semantic", "idColumn" -> "vec_id", "vecColumn" -> "embedding",
          "threshold" -> "0.95", "nClusters" -> "16", "kmeansIters" -> "2"))
        .select("vec_id")
    }),
    // benchmark decontamination: corpus docs sharing any word 3-gram with
    // the "benchmark" slice (doc_id < 20) — broadcast shingle-set join,
    // oracle-checked via q42's string-shingle parity
    "q47_decontaminate" -> ((s, dir) => {
      val d = tab(s, dir, "documents")
      graft.dedup.Dedup.contaminationHits(
        d.where("doc_id >= 20"), d.where("doc_id < 20"),
        "doc_id", "text", "text", shingleSize = 3)
    }),

    // symmetric int8 embedding quantization: per-vector scale + quantized
    // values (joined to a string — array cells crash the driver's compare)
    "q51_quantize_int8" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.functions.VectorFunctions
      // NB the intermediate name must differ from the output alias: a
      // select item `round(.. ).as("scale")` shadows the input column for
      // later items via lateral-column-alias resolution, silently
      // quantizing with the ROUNDED scale
      tab(s, dir, "embeddings")
        .withColumn("__scale", VectorFunctions.int8Scale(col("embedding")))
        .select(col("vec_id"),
          round(col("__scale"), 6).as("scale"),
          array_join(
            VectorFunctions.quantizeInt8(col("embedding"), col("__scale"))
              .cast("array<string>"), ",").as("qvec"))
    }),

    // as-of join (operator Spark and the reference both lack): every click
    // event picks up the user's most recent not-later purchase — union +
    // running-window sort-merge shape, no join node, oracled against
    // DuckDB's native ASOF JOIN. Inner flavor (matched rows only) keeps the
    // oracle free of null-stringification drift.
    "q52_asof_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = tab(s, dir, "events")
      // AsofJoin's determinism contract requires UNIQUE right-side
      // (key, time): keep the max-event_id purchase per (user_id, ts) so
      // a testdata regeneration that lands two same-microsecond purchases
      // can never make the tie pick partitioning- (or DuckDB-) dependent.
      // Today's data has zero such ties, so results are unchanged.
      e.where("event_type = 'purchase'")
        .groupBy("user_id", "ts")
        .agg(max(struct(col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("ts"),
          col("m.event_id").as("ref_id"), col("m.value").as("ref_value"))
        .createOrReplaceTempView("q52_purchases")
      val clicks = e.where("event_type = 'click'")
        .select("event_id", "user_id", "ts")
      ap(clicks, t("join_asof",
        "rightDataset" -> "q52_purchases", "on" -> "user_id",
        "leftTime" -> "ts", "direction" -> "backward"))
        .where(col("asof_ref_id").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          col("asof_ref_id").as("ref_id"),
          round(col("asof_ref_value"), 2).as("ref_value"))
    }),

    // range join (bin-overlap rewrite — Spark would plan the raw inequality
    // as BroadcastNestedLoop): clicks attributed to every 2-hour purchase
    // window they fall into, per user. Oracled against DuckDB's plain
    // inequality join.
    "q55_range_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val e = tab(s, dir, "events")
      e.where("event_type = 'purchase'")
        .select(col("user_id"), col("ts").as("lo"),
          expr("ts + interval 2 hours").as("hi"),
          col("event_id").as("ref_id"))
        .createOrReplaceTempView("q55_windows")
      val clicks = e.where("event_type = 'click'")
        .select("event_id", "user_id", "ts")
      ap(clicks, t("join_range",
        "rightDataset" -> "q55_windows", "on" -> "user_id",
        "point" -> "ts", "lo" -> "lo", "hi" -> "hi",
        "binWidth" -> "3600000000")) // 1-hour bins for 2-hour windows
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          col("range_ref_id").as("ref_id"))
    }),

    // L2 normalization — the preprocessing step before cosine ANN; output
    // scaled to exact integers (×1e6) so the oracle compares integer
    // strings, not engine-formatted doubles
    "q60_vec_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.functions.VectorFunctions
      tab(s, dir, "embeddings").select(col("vec_id"),
        array_join(transform(VectorFunctions.normalize(col("embedding")),
          v => round(v * 1000000.0).cast("long").cast("string")), ",").as("nvec"))
    }),

    // ---- LLM-data-pipeline: similarity search over embeddings ----
    "q28_ann_topk" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val queries = emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ann.Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", "query_id", 10)
    }),
    "q29_ann_lsh" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val queries = emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ann.Ann.lshTopK(emb, queries, "vec_id", "embedding", "query_id", 10,
        bits = 8, tables = 6)
    }),
    // guaranteed-recall half of LSH ANN (the q107 pattern for vectors):
    // an identical vector shares every table's bucket with its twin, so
    // the query itself and its planted twin are ALWAYS candidates, tied
    // at the float-maximal sim and ordered by the vec_id tie-break —
    // ranks 1..2 are exactly (self, twin) for every query (max non-self
    // cosine in this corpus is ≈0.4, nowhere near the tie)
    "q115_ann_lsh_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val queries = emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ann.Ann.lshTopK(twinCorpus(emb), queries,
        "vec_id", "embedding", "query_id", 2, bits = 8, tables = 6)
        .select("query_id", "vec_id", "rank")
    }),
    "q33_ann_ivf" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val queries = emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ann.Ann.ivfTopK(emb, queries, "vec_id", "embedding", "query_id", 10,
        nLists = 64, nProbe = 8)
    }),
    // the IVF twin of q115: identical vectors take identical centroid
    // assignments, and a query always probes its own best list — self and
    // twin are guaranteed candidates, tied at the float-max sim, vec_id
    // tie-break → ranks 1..2 = (self, twin) exactly
    "q116_ann_ivf_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val queries = emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ann.Ann.ivfTopK(twinCorpus(emb), queries,
        "vec_id", "embedding", "query_id", 2, nLists = 64, nProbe = 8)
        .select("query_id", "vec_id", "rank")
    }),
    // q116's guarantee through the DECLARATIVE ann_topk surface AND the
    // persisted codebook: identical vectors take identical assignments
    // under ANY codebook and a query always probes its own best list, so
    // ranks 1..2 = (self, twin) exactly — while the transform resolves
    // queries + codebook from registered views like a real YAML pipeline
    "q127_ann_transform_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val corpus = twinCorpus(emb)
      emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
        .createOrReplaceTempView("q127_queries")
      s.read.parquet(stagedAnnCodebookStore(s, dir))
        .createOrReplaceTempView("q127_codebook")
      ap(corpus, t("ann_topk",
        "method" -> "ivf", "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "queriesView" -> "q127_queries", "queryIdColumn" -> "query_id",
        "k" -> "2", "nProbe" -> "8", "codebookView" -> "q127_codebook",
        "nLists" -> "64"))
        .select("query_id", "vec_id", "rank")
    }),
    // the k-means twin of q115/q116 for the CLUSTERING surface (q97's
    // rows-only gap): 40 ids carry 4 orthogonal one-hot families
    // (vec_id % 4) and nClusters equals the corpus size, so EVERY distinct
    // vector is an init centroid. Identical vectors tie-break to one
    // lowest-index centroid (cohesion: 1 cluster per family), orthogonal
    // families can never share one (separation: 4 clusters total), and
    // Lloyd rounds are fixed points (the mean of identical vectors IS the
    // vector; empty centroids keep their previous value) — so cohesion,
    // separation, and centroid_sim = 1.0 are provable, not probabilistic.
    "q118_cluster_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val clustered = ap(plantedFamilies(s, dir), t("cluster_embeddings",
        "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "nClusters" -> "40", "kmeansIters" -> "2", "appendSim" -> "centroid_sim"))
      familyStats(clustered)
    }),
    // q118 through the PERSISTED codebook: the store (built once by the
    // `codebook` producer from the same planted corpus and re-read from
    // parquet) carries exactly the centroids q118 trains, so every q118
    // guarantee transfers verbatim — but this run trains nothing, pays no
    // sampling scan, and fails loud if the store's parameter stamp
    // disagrees with the asserted nClusters/kmeansIters
    "q125_codebook_store_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(stagedCodebookStore(s, dir))
        .createOrReplaceTempView("q125_codebook")
      val clustered = ap(plantedFamilies(s, dir), t("cluster_embeddings",
        "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "codebookView" -> "q125_codebook",
        "nClusters" -> "40", "kmeansIters" -> "2", "appendSim" -> "centroid_sim"))
      familyStats(clustered)
    }),
    // the same construction through dedup_semantic (q88's rows-only gap):
    // every family member pairs at cosine exactly 1.0 inside its own
    // cell, cross-family cosine is exactly 0, and greedy removal keeps
    // the family minimum — survivors are provably vec_id 0..3
    "q119_semantic_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(plantedFamilies(s, dir), t("dedup_semantic",
        "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "threshold" -> "0.95", "nClusters" -> "40", "kmeansIters" -> "2"))
        .select("vec_id")
    }),
    "q34_cube" -> ((s, dir) => ap(tab(s, dir, "orders"),
      t("aggregation",
        "groupBy" -> "o_orderstatus,o_orderpriority",
        "groupingSets" -> "cube",
        "aggregations" -> "n:count(*),total:cast(sum(cast(o_totalprice as decimal(12,2))) as double)"))),
    // Planted near-duplicates (vec_id + 1000000 carries an identical vector)
    // so the positive path — LSH collision → exact-cosine verify ≥ threshold —
    // is actually exercised: every planted pair MUST appear (sim = 1.0).
    "q30_embed_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val planted = emb.where("vec_id < 10")
        .withColumn("vec_id", col("vec_id") + 1000000L)
      graft.ann.Ann.cosineNearDups(emb.unionByName(planted), "vec_id", "embedding",
        threshold = 0.95, bits = 12, tables = 6)
    }),

    // ---- LLM-data-pipeline: multimodal column plumbing (stub decode) ----
    // REAL image decode, golden-real oracle: each doc gets a deterministic
    // synthetic grayscale PNG (dimensions + pixel pattern derived from
    // doc_id alone), the chain PNG-encodes → ImageIO-decodes → rescales →
    // re-decodes, and the fixture generator computes every expected value
    // straight from the pixel formula WITHOUT any PNG library — the
    // round-trip only matches if the decode genuinely reads pixels
    "q31_multimodal" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val png = udf((id: Long) => graft.multimodal.Multimodal.syntheticImagePng(
        id, 16 + (id % 32).toInt, 16 + ((id * 7) % 32).toInt))
      val media = graft.multimodal.Multimodal.asMediaFrame(
        tab(s, dir, "documents").where("doc_id < 100")
          .select(col("doc_id"), png(col("doc_id")).as("bytes"),
            concat(lit("doc://"), col("doc_id")).as("uri")),
        "doc_id", "bytes", "image", "uri")
      // full multimodal chain: decode original; resize (real, PNG
      // re-encode) then decode the RESIZED payload — dims must be exactly
      // the target; frame-sample the original (image → 1 verbatim frame)
      val rdims = graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.resize(media, 128, 96))
        .select(col("media_id"), col("width").as("r_width"),
          col("height").as("r_height"))
      val frames = graft.multimodal.Multimodal.sampleFrames(media, everyMs = 1000)
      graft.multimodal.Multimodal.extractFeatures(media)
        .join(frames.groupBy("media_id").count().withColumnRenamed("count", "n_frames"),
          Seq("media_id"))
        .join(rdims, Seq("media_id"))
        .select(col("media_id"), col("width"), col("height"),
          col("r_width"), col("r_height"), col("n_frames"),
          // 4x4 mean-luma grid, scaled to integers (floor, not round — no
          // tie-break semantics to replicate) and flattened for the oracle
          array_join(transform(col("feature"),
            v => floor(v.cast("double") * 10000).cast("long").cast("string")),
            ",").as("luma"))
    }),
    // REAL audio decode, golden-real oracle (the q31 discipline for the
    // audio modality): each doc gets a deterministic synthetic PCM16 WAV
    // (rate/channels/length and every sample derived from doc_id alone),
    // the chain WAV-encodes → javax.sound-decodes → frame-samples, and
    // the fixture generator (tools/gen_golden_q153.py) computes every
    // expected value straight from the sample formula WITHOUT any audio
    // library — the round-trip only matches if the decode genuinely
    // parses the RIFF container and reads PCM samples
    "q153_multimodal_audio" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val wav = udf((id: Long) => graft.multimodal.Multimodal.syntheticWavPcm16(
        id, 8000 + (id % 3).toInt * 2000, 1 + (id % 2).toInt,
        800 + (id * 13 % 1600).toInt))
      val media = graft.multimodal.Multimodal.asMediaFrame(
        tab(s, dir, "documents").where("doc_id < 100")
          .select(col("doc_id"), wav(col("doc_id")).as("bytes"),
            concat(lit("mem://wav/"), col("doc_id")).as("uri")),
        "doc_id", "bytes", "audio", "uri")
      val frames = graft.multimodal.Multimodal.sampleFrames(media, everyMs = 50)
      graft.multimodal.Multimodal.extractFeatures(media)
        .join(frames.groupBy("media_id").count()
          .withColumnRenamed("count", "n_frames"), Seq("media_id"))
        .select(col("media_id"),
          col("width").as("sample_rate"), col("height").as("channels"),
          col("duration_ms"), col("n_frames"),
          // 16-bin mean-|amplitude| envelope, integer-scaled like q31's
          // luma grid (floor ×1e6 — envelope values are ≤ 2048/32768)
          array_join(transform(col("feature"),
            v => floor(v.cast("double") * 1000000).cast("long").cast("string")),
            ",").as("envelope"))
    }),
    // REAL audio resample, golden-real oracle: q153's synthetic WAVs
    // (every sample from the doc_id formula) resampled to 6 kHz mono —
    // mixdown, then the ANTI-ALIASING integer-quantized windowed-sinc
    // low-pass (armed on every row here: all source rates exceed 6 kHz),
    // then linear interpolation — and re-decoded; the fixture generator
    // (tools/gen_golden_q156.py) replays mixdown → exact-integer FIR →
    // interp → half-up rounding → envelope straight from the sample
    // formula with no audio library — the match only holds if the
    // resampler's DSP (and the output WAV container it hand-assembles)
    // is exactly as stated
    "q156_multimodal_resample" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val wav = udf((id: Long) => graft.multimodal.Multimodal.syntheticWavPcm16(
        id, 8000 + (id % 3).toInt * 2000, 1 + (id % 2).toInt,
        800 + (id * 13 % 1600).toInt))
      val media = graft.multimodal.Multimodal.asMediaFrame(
        tab(s, dir, "documents").where("doc_id < 100")
          .select(col("doc_id"), wav(col("doc_id")).as("bytes"),
            concat(lit("mem://wav/"), col("doc_id")).as("uri")),
        "doc_id", "bytes", "audio", "uri")
      graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.resize(media, 6000, 1))
        .select(col("media_id"),
          col("width").as("sample_rate"), col("height").as("channels"),
          col("duration_ms"),
          array_join(transform(col("feature"),
            v => floor(v.cast("double") * 1000000).cast("long").cast("string")),
            ",").as("envelope"))
    }),
    // REAL audio frame sampling, golden-real oracle: an audio "frame" is
    // the 1-second PCM window starting at the sampled timestamp (clamped
    // to the payload), re-assembled as a standalone WAV — the chain
    // samples q153's synthetic WAVs on the 50 ms grid, re-DECODES the
    // MIDDLE sampled window as audio, and the fixture generator
    // (tools/gen_golden_q160.py) computes the window's start frame,
    // clamped length, duration and 16-bin envelope straight from the
    // sample formula with no audio library — the envelope only matches
    // if the emitted window genuinely carries the source samples from
    // the right offset
    "q160_multimodal_audio_frames" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val wav = udf((id: Long) => graft.multimodal.Multimodal.syntheticWavPcm16(
        id, 8000 + (id % 3).toInt * 2000, 1 + (id % 2).toInt,
        800 + (id * 13 % 1600).toInt))
      val media = graft.multimodal.Multimodal.asMediaFrame(
        tab(s, dir, "documents").where("doc_id < 100")
          .select(col("doc_id"), wav(col("doc_id")).as("bytes"),
            concat(lit("mem://wavf/"), col("doc_id")).as("uri")),
        "doc_id", "bytes", "audio", "uri")
      val frames = graft.multimodal.Multimodal.sampleFrames(media, everyMs = 50)
      val counts = frames.groupBy("media_id").count()
        .withColumnRenamed("count", "n_frames")
      graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.asMediaFrame(
            frames.join(counts, Seq("media_id"))
              .where(col("frame_idx") === (col("n_frames") / 2).cast("int"))
              .select(col("media_id").as("mid_id"), col("frame").as("bytes"),
                concat(lit("mem://wavf-mid/"), col("media_id")).as("uri")),
            "mid_id", "bytes", "audio", "uri"))
        .join(counts, Seq("media_id"))
        .select(col("media_id"),
          col("width").as("sample_rate"), col("height").as("channels"),
          col("duration_ms"), col("n_frames"),
          array_join(transform(col("feature"),
            v => floor(v.cast("double") * 1000000).cast("long").cast("string")),
            ",").as("envelope"))
    }),
    // REAL animated-GIF decode, golden-real oracle (the q31/q153
    // discipline for TIMED image media): each doc gets a deterministic
    // synthetic animated GIF (dims/frames/delay and every pixel derived
    // from doc_id alone), the chain GIF-encodes → multi-frame
    // javax.imageio-decodes → samples the 50 ms frame grid → re-decodes
    // the MIDDLE sampled frame as a still, and the fixture generator
    // (tools/gen_golden_q155.py) computes every expected value — duration
    // from the delay stamps, frame count, frame-0 AND mid-frame luma
    // grids — straight from the pixel formula with no image library: the
    // mid-frame grid only matches if frame SELECTION walks real delays
    "q155_multimodal_gif" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val gif = udf((id: Long) => graft.multimodal.Multimodal.syntheticAnimatedGif(
        id, 8 + (id % 8).toInt, 8 + (id * 3 % 8).toInt,
        2 + (id % 3).toInt, 5 + (id % 4).toInt * 5))
      val media = graft.multimodal.Multimodal.asMediaFrame(
        tab(s, dir, "documents").where("doc_id < 100")
          .select(col("doc_id"), gif(col("doc_id")).as("bytes"),
            concat(lit("mem://gif/"), col("doc_id")).as("uri")),
        "doc_id", "bytes", "image", "uri")
      val frames = graft.multimodal.Multimodal.sampleFrames(media, everyMs = 50)
      val counts = frames.groupBy("media_id").count()
        .withColumnRenamed("count", "n_frames")
      // the MIDDLE sampled frame, re-decoded as a standalone still: its
      // luma grid pins which GIF frame the sampler actually returned
      val mid = graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.asMediaFrame(
            frames.join(counts, Seq("media_id"))
              .where(col("frame_idx") === (col("n_frames") / 2).cast("int"))
              .select(col("media_id").as("mid_id"), col("frame").as("bytes"),
                concat(lit("mem://gif-mid/"), col("media_id")).as("uri")),
            "mid_id", "bytes", "image", "uri"))
        .select(col("media_id"),
          array_join(transform(col("feature"),
            v => floor(v.cast("double") * 10000).cast("long").cast("string")),
            ",").as("luma_mid"))
      graft.multimodal.Multimodal.extractFeatures(media)
        .join(counts, Seq("media_id"))
        .join(mid, Seq("media_id"))
        .select(col("media_id"), col("width"), col("height"),
          col("duration_ms"), col("n_frames"),
          array_join(transform(col("feature"),
            v => floor(v.cast("double") * 10000).cast("long").cast("string")),
            ",").as("luma0"),
          col("luma_mid"))
    }),
    // REAL video decode, golden-real oracle (the q31/q153/q155
    // discipline for the VIDEO modality): each doc gets a deterministic
    // synthetic MJPEG-in-AVI clip (dims/frames/fps and every 16x16 tile
    // value derived from doc_id alone; the container is hand-assembled
    // RIFF, the frames are quality-1.0 JPEGs whose constant 16-aligned
    // tiles roundtrip bit-exactly), the chain AVI-parses → JPEG-decodes →
    // samples the 50 ms frame grid → re-decodes the MIDDLE sampled frame
    // as a still, and the fixture generator (tools/gen_golden_q157.py)
    // computes every expected value — duration from the strh clock,
    // sample count, frame-0 AND mid-frame luma grids — straight from the
    // tile formula with no video/image library: the mid-frame grid only
    // matches if frame SELECTION walks the real frame clock and the
    // pixels only match if the JPEGs are genuinely decoded
    "q157_multimodal_video" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val avi = udf((id: Long) => graft.multimodal.Multimodal.syntheticMjpegAvi(
        id, 16 * (2 + (id % 2).toInt), 16 * (1 + (id % 3).toInt),
        2 + (id % 4).toInt, 10 + (id % 3).toInt * 5))
      val media = graft.multimodal.Multimodal.asMediaFrame(
        tab(s, dir, "documents").where("doc_id < 100")
          .select(col("doc_id"), avi(col("doc_id")).as("bytes"),
            concat(lit("mem://avi/"), col("doc_id")).as("uri")),
        "doc_id", "bytes", "video", "uri")
      val frames = graft.multimodal.Multimodal.sampleFrames(media, everyMs = 50)
      val counts = frames.groupBy("media_id").count()
        .withColumnRenamed("count", "n_frames")
      // the MIDDLE sampled frame, re-decoded as a standalone still: its
      // luma grid pins which clip frame the sampler actually returned
      val mid = graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.asMediaFrame(
            frames.join(counts, Seq("media_id"))
              .where(col("frame_idx") === (col("n_frames") / 2).cast("int"))
              .select(col("media_id").as("mid_id"), col("frame").as("bytes"),
                concat(lit("mem://avi-mid/"), col("media_id")).as("uri")),
            "mid_id", "bytes", "image", "uri"))
        .select(col("media_id"),
          array_join(transform(col("feature"),
            v => floor(v.cast("double") * 10000).cast("long").cast("string")),
            ",").as("luma_mid"))
      graft.multimodal.Multimodal.extractFeatures(media)
        .join(counts, Seq("media_id"))
        .join(mid, Seq("media_id"))
        .select(col("media_id"), col("width"), col("height"),
          col("duration_ms"), col("n_frames"),
          array_join(transform(col("feature"),
            v => floor(v.cast("double") * 10000).cast("long").cast("string")),
            ",").as("luma0"),
          col("luma_mid"))
    }),
    // REAL video RESIZE, golden-real oracle: constant-frame synthetic
    // clips (w=h=16, one 16×16 tile — frame f is everywhere
    // (id·31+f·17) mod 256) resized to 24×24 by the per-frame
    // MJPEG-rescale-and-reassemble path, then re-decoded and
    // frame-sampled like q157. Constant frames make the pixel values
    // provable without an image library: bilinear of a constant is the
    // constant, and quality-1.0 JPEG of a constant roundtrips exactly at
    // ANY dimensions — so the oracle pins target dims, the PRESERVED
    // frame clock (duration/sample count unchanged by resize), and the
    // per-frame constants surviving decode → rescale → re-encode →
    // re-decode
    "q159_multimodal_video_resize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val avi = udf((id: Long) => graft.multimodal.Multimodal.syntheticMjpegAvi(
        id, 16, 16, 2 + (id % 4).toInt, 10 + (id % 3).toInt * 5))
      val media = graft.multimodal.Multimodal.asMediaFrame(
        tab(s, dir, "documents").where("doc_id < 100")
          .select(col("doc_id"), avi(col("doc_id")).as("bytes"),
            concat(lit("mem://avi-rs/"), col("doc_id")).as("uri")),
        "doc_id", "bytes", "video", "uri")
      val resized = graft.multimodal.Multimodal.resize(media, 24, 24)
      val frames = graft.multimodal.Multimodal.sampleFrames(resized, everyMs = 50)
      val counts = frames.groupBy("media_id").count()
        .withColumnRenamed("count", "n_frames")
      val mid = graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.asMediaFrame(
            frames.join(counts, Seq("media_id"))
              .where(col("frame_idx") === (col("n_frames") / 2).cast("int"))
              .select(col("media_id").as("mid_id"), col("frame").as("bytes"),
                concat(lit("mem://avi-rs-mid/"), col("media_id")).as("uri")),
            "mid_id", "bytes", "image", "uri"))
        .select(col("media_id"),
          array_join(transform(col("feature"),
            v => floor(v.cast("double") * 10000).cast("long").cast("string")),
            ",").as("luma_mid"))
      graft.multimodal.Multimodal.extractFeatures(resized)
        .join(counts, Seq("media_id"))
        .join(mid, Seq("media_id"))
        .select(col("media_id"), col("width"), col("height"),
          col("duration_ms"), col("n_frames"),
          array_join(transform(col("feature"),
            v => floor(v.cast("double") * 10000).cast("long").cast("string")),
            ",").as("luma0"),
          col("luma_mid"))
    }),
    // REAL perceptual image hashing, golden-real oracle: each doc gets a
    // deterministic synthetic PNG with seed = doc_id % 50 (docs i and
    // i+50 carry IDENTICAL images — q162's planted twins), the chain
    // PNG-encodes → decodes → computes the 64-bit dHash (8×9 block-mean
    // luma grid, bit = left-mean > right-mean), and the fixture
    // generator (tools/gen_golden_q161.py) recomputes every hash
    // straight from the pixel formula with no image library — the match
    // only holds if the hash genuinely reads decoded pixels through the
    // exact documented grid arithmetic
    "q161_image_dhash" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val png = udf((id: Long) => {
        val seed = id % 50
        graft.multimodal.Multimodal.syntheticImagePng(
          seed, 16 + (seed % 16).toInt, 16 + (seed * 3 % 16).toInt)
      })
      graft.multimodal.Multimodal.imageHashes(
        graft.multimodal.Multimodal.asMediaFrame(
          tab(s, dir, "documents").where("doc_id < 100")
            .select(col("doc_id"), png(col("doc_id")).as("bytes"),
              concat(lit("mem://png/"), col("doc_id")).as("uri")),
          "doc_id", "bytes", "image", "uri"))
        .select(col("media_id"), col("dhash"))
    }),
    // perceptual image DEDUP end-to-end: q161's images (docs i and i+50
    // identical → hamming-0 twins) through the dedup_image transform —
    // dHash signatures, pigeonhole hamming blocking (guaranteed recall
    // within the budget), greedy pair-drop removal. The oracle re-derives
    // the SURVIVOR SET from the committed q161 hash fixture in SQL
    // (bit_count(xor(h_a, h_b)) <= 3 pairs, drop every larger id) — it
    // matches only if Spark's hashes equal the fixture AND the blocking
    // found every in-budget pair
    "q162_image_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val png = udf((id: Long) => {
        val seed = id % 50
        graft.multimodal.Multimodal.syntheticImagePng(
          seed, 16 + (seed % 16).toInt, 16 + (seed * 3 % 16).toInt)
      })
      ap(tab(s, dir, "documents").where("doc_id < 100")
          .select(col("doc_id"), png(col("doc_id")).as("bytes")),
        t("dedup_image", "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
          "maxHamming" -> "3"))
        .select("doc_id")
    }),
    // INCREMENTAL perceptual image dedup against a PERSISTED signature
    // store (the q117/q140 store discipline for media): run N persists
    // docs [0,30)'s dHashes via the media_signatures transform; run N+1
    // dedups docs [50,100) against that parquet WITHOUT re-parsing a
    // historical payload — seeds 0..29 have exact (hamming-0) twins in
    // the store and drop, seeds 30..49 survive unless within the hamming
    // budget of a stored hash. The oracle replays both halves from the
    // committed q161 dHash fixture
    "q173_dedup_image_store" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val png = udf((id: Long) => {
        val seed = id % 50
        graft.multimodal.Multimodal.syntheticImagePng(
          seed, 16 + (seed % 16).toInt, 16 + (seed * 3 % 16).toInt)
      })
      val history = tab(s, dir, "documents").where("doc_id < 30")
        .select(col("doc_id"), png(col("doc_id")).as("bytes"))
      ap(history, t("media_signatures", "idColumn" -> "doc_id",
        "bytesColumn" -> "bytes", "modality" -> "image"))
        .createOrReplaceTempView("q173_store")
      val increment = tab(s, dir, "documents")
        .where("doc_id >= 50 AND doc_id < 100")
        .select(col("doc_id"), png(col("doc_id")).as("bytes"))
      ap(increment, t("dedup_image", "idColumn" -> "doc_id",
        "bytesColumn" -> "bytes", "maxHamming" -> "3",
        "signatureView" -> "q173_store"))
        .select("doc_id")
    }),
    // REAL perceptual AUDIO hashing, golden-real oracle: each doc gets a
    // deterministic synthetic WAV with seed = doc_id % 50 (docs i and
    // i+50 carry IDENTICAL clips — q164's planted twins), the chain
    // WAV-encodes → parses → computes the 64-bit aHash (65 equal
    // time-window mean-|amplitude| envelope, bit = left > right), and
    // the fixture generator (tools/gen_golden_q163.py) recomputes every
    // hash straight from the sample formula with no audio library
    "q163_audio_ahash" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val wav = udf((id: Long) => {
        val seed = id % 50
        graft.multimodal.Multimodal.syntheticWavPcm16(
          seed, 8000 + (seed % 3).toInt * 2000, 1 + (seed % 2).toInt,
          800 + (seed * 13 % 1600).toInt)
      })
      graft.multimodal.Multimodal.imageHashes(
        graft.multimodal.Multimodal.asMediaFrame(
          tab(s, dir, "documents").where("doc_id < 100")
            .select(col("doc_id"), wav(col("doc_id")).as("bytes"),
              concat(lit("mem://awav/"), col("doc_id")).as("uri")),
          "doc_id", "bytes", "audio", "uri"))
        .select(col("media_id"), col("dhash").as("ahash"))
    }),
    // perceptual AUDIO dedup end-to-end (the q162 discipline for sound):
    // q163's clips through dedup_audio — aHash signatures, pigeonhole
    // hamming blocking, greedy pair-drop. The oracle re-derives the
    // survivor set from the committed q163 fixture by exhaustive
    // bit_count(xor) pairing
    "q164_audio_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val wav = udf((id: Long) => {
        val seed = id % 50
        graft.multimodal.Multimodal.syntheticWavPcm16(
          seed, 8000 + (seed % 3).toInt * 2000, 1 + (seed % 2).toInt,
          800 + (seed * 13 % 1600).toInt)
      })
      ap(tab(s, dir, "documents").where("doc_id < 100")
          .select(col("doc_id"), wav(col("doc_id")).as("bytes")),
        t("dedup_audio", "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
          "maxHamming" -> "2"))
        .select("doc_id")
    }),
    // REAL temporal VIDEO hashing, golden-real oracle: each doc gets a
    // deterministic synthetic MJPEG-AVI with seed = doc_id % 50 (docs i
    // and i+50 carry IDENTICAL clips — q166's planted twins), the chain
    // container-assembles → RIFF-parses → JPEG-decodes EVERY frame →
    // computes the 64-bit tHash (65 equal frame windows of mean frame
    // luma, bit = left > right) plus the frame-0 dHash, and the fixture
    // generator (tools/gen_golden_q165.py) recomputes both hashes
    // straight from the tile formula with no video/image library (sound
    // because q=1.0 JPEGs of 16-aligned constant tiles roundtrip
    // bit-exactly — the q157 argument). The temporal hash matches only
    // if the walk reads every frame's real pixels in frame order
    "q165_video_thash" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val avi = udf((id: Long) => {
        val seed = id % 50
        graft.multimodal.Multimodal.syntheticMjpegAvi(
          seed, 16 * (2 + (seed % 2)).toInt, 16 * (1 + (seed % 3)).toInt,
          40 + (seed * 7 % 60).toInt, 10 + (seed % 3).toInt * 5)
      })
      graft.multimodal.Multimodal.videoHashes(
        graft.multimodal.Multimodal.asMediaFrame(
          tab(s, dir, "documents").where("doc_id < 100")
            .select(col("doc_id"), avi(col("doc_id")).as("bytes"),
              concat(lit("mem://avi/"), col("doc_id")).as("uri")),
          "doc_id", "bytes", "video", "uri"))
        .select(col("media_id"), col("thash"), col("dhash"))
    }),
    // perceptual VIDEO dedup end-to-end (the q162/q164 discipline for
    // timed visual media): q165's clips through dedup_video — temporal
    // tHash blocking through the shared guaranteed-recall hamming
    // engine, spatial frame-0 dHash confirm on every candidate pair,
    // greedy pair-drop. The oracle re-derives the survivor set from the
    // committed q165 fixture by exhaustive pairing on BOTH hash budgets
    "q166_video_neardup" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val avi = udf((id: Long) => {
        val seed = id % 50
        graft.multimodal.Multimodal.syntheticMjpegAvi(
          seed, 16 * (2 + (seed % 2)).toInt, 16 * (1 + (seed % 3)).toInt,
          40 + (seed * 7 % 60).toInt, 10 + (seed % 3).toInt * 5)
      })
      ap(tab(s, dir, "documents").where("doc_id < 100")
          .select(col("doc_id"), avi(col("doc_id")).as("bytes")),
        t("dedup_video", "idColumn" -> "doc_id", "bytesColumn" -> "bytes",
          "maxHamming" -> "2", "maxSpatialHamming" -> "2"))
        .select("doc_id")
    }),
    // REAL media quality signals, golden-real oracle over ALL THREE
    // modalities in one frame (doc_id % 3 → image PNG / audio WAV /
    // video MJPEG-AVI, each from its proven synthetic formula): visual
    // rows score brightness (mean luma) / contrast (luma stddev) /
    // sharpness (mean |horizontal gradient| — the blur proxy), audio
    // rows score rms / clip_frac / silence_frac, each modality's
    // inapplicable side coalesced to the -1.0 sentinel for the compare.
    // The fixture generator (tools/gen_golden_q167.py) recomputes every
    // signal straight from the pixel/tile/sample formulas with no media
    // library — the match only holds if the scores read real decoded
    // pixels and PCM samples through the exact documented arithmetic
    "q167_media_signals" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val payload = udf((id: Long) => (id % 3) match {
        case 0L => graft.multimodal.Multimodal.syntheticImagePng(
          id, 16 + (id % 16).toInt, 16 + (id * 3 % 16).toInt)
        case 1L => graft.multimodal.Multimodal.syntheticWavPcm16(
          id, 8000 + (id % 3).toInt * 2000, 1 + (id % 2).toInt,
          800 + (id * 13 % 1600).toInt)
        case _ => graft.multimodal.Multimodal.syntheticMjpegAvi(
          id, 16 * (2 + (id % 2)).toInt, 16 * (1 + (id % 3)).toInt,
          2 + (id % 4).toInt, 10 + (id % 3).toInt * 5)
      })
      graft.multimodal.Multimodal.mediaSignals(
        tab(s, dir, "documents").where("doc_id < 99")
          .select(col("doc_id").as("media_id"),
            element_at(array(lit("image"), lit("audio"), lit("video")),
              (col("doc_id") % 3 + 1).cast("int")).as("modality"),
            payload(col("doc_id")).as("content")))
        .select(col("media_id"), col("modality"), col("width"),
          col("height"), col("duration_ms"),
          coalesce(col("brightness"), lit(-1.0)).as("brightness"),
          coalesce(col("contrast"), lit(-1.0)).as("contrast"),
          coalesce(col("sharpness"), lit(-1.0)).as("sharpness"),
          coalesce(col("rms"), lit(-1.0)).as("rms"),
          coalesce(col("clip_frac"), lit(-1.0)).as("clip_frac"),
          coalesce(col("silence_frac"), lit(-1.0)).as("silence_frac"))
    }),
    // the MEDIA curation recipe COMPOSED as ONE YAML pipeline (the q154
    // statement for media): score (multimodal signals) → drop the
    // undecodable (width > 0 — junk payloads report the -1 sentinel) →
    // quality-gate on contrast/sharpness/brightness → join the survivors
    // back to their bytes → perceptual dedup_image (planted twins at
    // i/i+50) → project ids. The oracle re-derives the END-TO-END
    // survivor set from a fixture whose signals AND hashes were
    // recomputed from the pixel formula by an independent Python script
    // (tools/gen_golden_q168.py): gate in SQL, then exhaustive
    // bit_count(xor) pairing WITHIN the gate survivors — a drift in any
    // stage, in stage order, or in how compose chains them breaks it
    "q168_media_curation" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val png = udf((id: Long) => {
        if (id % 10 == 7) "crawl junk: not an image payload".getBytes("UTF-8")
        else {
          val seed = id % 50
          graft.multimodal.Multimodal.syntheticImagePng(
            seed, 16 + (seed % 16).toInt, 16 + (seed * 3 % 16).toInt)
        }
      })
      tab(s, dir, "documents").where("doc_id < 100")
        .select(col("doc_id"), png(col("doc_id")).as("bytes"))
        .createOrReplaceTempView("q168_media")
      val yaml =
        """pipelineId: q168-media-curation
          |source:
          |  type: table
          |  options: {table: q168_media}
          |transformations:
          |  - name: signals
          |    type: multimodal
          |    options: {operation: signals, idColumn: doc_id, bytesColumn: bytes}
          |  - name: decodable
          |    type: filter
          |    options: {condition: "width > 0"}
          |  - name: quality-gate
          |    type: filter
          |    options: {condition: "contrast >= 71.0 AND sharpness >= 12.5 AND brightness BETWEEN 16.0 AND 240.0"}
          |  - name: rejoin
          |    type: join
          |    options: {rightDataset: q168_media, leftKey: media_id, rightKey: doc_id, joinType: inner}
          |  - name: neardup
          |    type: dedup_image
          |    options: {idColumn: media_id, bytesColumn: bytes, maxHamming: "3"}
          |  - name: ids
          |    type: map
          |    options: {expressions: "doc_id:media_id", project: "true"}
          |sink:
          |  type: file
          |  writeMode: overwrite
          |  options: {path: /tmp/graft-unused}
          |""".stripMargin
      val cfg = new graft.config.YamlConfigParser().parse(yaml)
      new graft.runtime.PipelineExecutor().compose(cfg)(s).select("doc_id")
    }),
    // PRODUCT QUANTIZATION retrieval (Jégou et al., TPAMI 2011 — the
    // billion-scale ANN path: m byte codes per vector + per-query lookup
    // tables), q116's planted-twin guarantee: a corpus vector's own code
    // word minimizes every ADC term, so a query's identical twin attains
    // the global-minimum ADC distance; byte-code-grade cells
    // (nCentroids = 256 → 256^8 cells over 64 dims) keep quantization-
    // cell ties below the candidate budget, and the exact cosine re-rank
    // orders (self, twin) as ranks 1..2 — self first by the id tie-break
    // at cosine 1.0, with q30's planted-corpus fact (max natural pair
    // cosine ≈ 0.51) excluding everything else
    "q169_ann_pq_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val queries = emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ann.Ann.pqTopK(twinCorpus(emb), queries,
        "vec_id", "embedding", "query_id", 2,
        m = 8, nCentroids = 256, kmeansIters = 2, candidateFactor = 8)
        .select("query_id", "vec_id", "rank")
    }),
    // q169's guarantee through the DECLARATIVE ann_topk surface AND the
    // persisted PQ codebook store (the q127 statement for PQ): the run
    // trains nothing — codes come from yesterday's pqCodebookFrame
    // parquet (stamp-asserted m/nCentroids/kmeansIters), twins still
    // attain the global-minimum ADC under ANY codebook, exact re-rank
    // orders (self, twin)
    "q170_ann_pq_store_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val corpus = twinCorpus(emb)
      emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
        .createOrReplaceTempView("q170_queries")
      s.read.parquet(stagedPqCodebookStore(s, dir))
        .createOrReplaceTempView("q170_codebook")
      ap(corpus, t("ann_topk",
        "method" -> "pq", "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "queriesView" -> "q170_queries", "queryIdColumn" -> "query_id",
        "k" -> "2", "codebookView" -> "q170_codebook",
        "m" -> "8", "nCentroids" -> "256"))
        .select("query_id", "vec_id", "rank")
    }),
    // the FULLY-persisted PQ retrieval: codebooks from yesterday's
    // pq_codebook store AND the corpus from yesterday's pq_encode codes
    // store — the run trains NOTHING and encodes NOTHING (the candidate
    // phase's only full-width corpus read disappears; only the exact
    // re-rank touches true vectors, against the broadcast-small
    // candidate frame). The codes store's pq_cb_hash fingerprint proves
    // it was encoded under exactly this codebook; the twin statement is
    // q169's
    "q174_ann_pq_codes_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val corpus = twinCorpus(emb)
      emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
        .createOrReplaceTempView("q174_queries")
      s.read.parquet(stagedPqCodebookStore(s, dir))
        .createOrReplaceTempView("q174_codebook")
      s.read.parquet(stagedPqCodesStore(s, dir))
        .createOrReplaceTempView("q174_codes")
      ap(corpus, t("ann_topk",
        "method" -> "pq", "idColumn" -> "vec_id", "vecColumn" -> "embedding",
        "queriesView" -> "q174_queries", "queryIdColumn" -> "query_id",
        "k" -> "2", "codebookView" -> "q174_codebook",
        "codesView" -> "q174_codes"))
        .select("query_id", "vec_id", "rank")
    }),
    // IVFADC (Jégou et al. TPAMI 2011 §V — residual product quantization,
    // the composition the paper ships at billion scale): coarse spherical
    // IVF routes vectors to lists, PQ quantizes the RESIDUALS, and the
    // ADC scan touches only each query's nProbe/nLists. The planted-twin
    // statement composes: a twin assigns to the query's own top-1 list
    // (always probed), its residual equals the query's, so its code word
    // attains the global-minimum ADC within the probed set; exact cosine
    // re-rank orders (self, twin) as ranks 1..2 like q169
    "q171_ann_ivfpq_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val queries = emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.ann.Ann.ivfPqTopK(twinCorpus(emb), queries,
        "vec_id", "embedding", "query_id", 2,
        nLists = 16, nProbe = 4, m = 8, nCentroids = 256, kmeansIters = 2,
        candidateFactor = 8)
        .select("query_id", "vec_id", "rank")
    }),
    // q171 through the DECLARATIVE ann_topk surface AND the persisted
    // COMBINED store (coarse centroids + residual codebooks, one
    // ivfpq_* stamp family): the run trains nothing
    "q172_ann_ivfpq_store_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val corpus = twinCorpus(emb)
      emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
        .createOrReplaceTempView("q172_queries")
      s.read.parquet(stagedIvfPqStore(s, dir))
        .createOrReplaceTempView("q172_codebook")
      ap(corpus, t("ann_topk",
        "method" -> "ivfpq", "idColumn" -> "vec_id",
        "vecColumn" -> "embedding", "queriesView" -> "q172_queries",
        "queryIdColumn" -> "query_id", "k" -> "2",
        "codebookView" -> "q172_codebook",
        "nLists" -> "16", "m" -> "8", "nCentroids" -> "256"))
        .select("query_id", "vec_id", "rank")
    }),
    // the FULLY-persisted IVFADC route: combined store (q172) + codes
    // store (ivfpq_encode output, both-halves fingerprint) — trains
    // nothing, encodes nothing; q171's twin statement
    "q175_ann_ivfpq_codes_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val corpus = twinCorpus(emb)
      emb.where("vec_id < 5")
        .select(col("vec_id").as("query_id"), col("embedding"))
        .createOrReplaceTempView("q175_queries")
      s.read.parquet(stagedIvfPqStore(s, dir))
        .createOrReplaceTempView("q175_codebook")
      s.read.parquet(stagedIvfPqCodesStore(s, dir))
        .createOrReplaceTempView("q175_codes")
      ap(corpus, t("ann_topk",
        "method" -> "ivfpq", "idColumn" -> "vec_id",
        "vecColumn" -> "embedding", "queriesView" -> "q175_queries",
        "queryIdColumn" -> "query_id", "k" -> "2",
        "codebookView" -> "q175_codebook", "codesView" -> "q175_codes"))
        .select("query_id", "vec_id", "rank")
    }),
    // INCREMENTAL embedding dedup — the embedding-space dedup_against,
    // closing the one near-dup family (embeddings) that had no
    // incremental mode: reference = the planted orthogonal one-hot
    // families (q118's provable corpus — 4 directions at positions 0..3),
    // increment = fresh-id one-hot vectors at position vec_id % 5. A
    // %5 ∈ {0..3} row is IDENTICAL to a whole reference family (cosine
    // exactly 1; identical vectors share every hyperplane bucket, so
    // recall is structural, not probabilistic) and must drop; a %5 == 4
    // row is orthogonal to every reference row (cosine 0) and must
    // survive. The oracle restates the survivors in SQL.
    "q176_dedup_embedding_ref" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      plantedFamilies(s, dir).createOrReplaceTempView("q176_ref")
      val inc = tab(s, dir, "embeddings").where("vec_id < 20")
        .select((col("vec_id") + 5000000L).as("vec_id"), expr(
          "transform(sequence(0, 7), i -> CAST(CASE WHEN i = vec_id % 5 " +
            "THEN 1.0 ELSE 0.0 END AS FLOAT))").as("embedding"))
      ap(inc, t("dedup_embedding", "idColumn" -> "vec_id",
        "vecColumn" -> "embedding", "threshold" -> "0.95",
        "referenceView" -> "q176_ref")).select("vec_id")
    }),
    // q176's statement through the SEMANTIC route (SemDeDup cells against
    // a reference corpus): one codebook — trained on the reference —
    // assigns both sides, so an identical twin lands in its stored copy's
    // cell by the same (sim DESC, idx ASC) tie-break at every site; the
    // orthogonal rows verify at cosine 0 and survive. Same provable
    // outcome, different candidate engine.
    "q177_dedup_semantic_ref" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      plantedFamilies(s, dir).createOrReplaceTempView("q177_ref")
      val inc = tab(s, dir, "embeddings").where("vec_id < 20")
        .select((col("vec_id") + 6000000L).as("vec_id"), expr(
          "transform(sequence(0, 7), i -> CAST(CASE WHEN i = vec_id % 5 " +
            "THEN 1.0 ELSE 0.0 END AS FLOAT))").as("embedding"))
      ap(inc, t("dedup_semantic", "idColumn" -> "vec_id",
        "vecColumn" -> "embedding", "threshold" -> "0.95",
        "nClusters" -> "40", "kmeansIters" -> "2",
        "referenceView" -> "q177_ref")).select("vec_id")
    }),
    // the published DSIR + trained-language-ID recipe (quickstart-22/25)
    // COMPOSED as ONE YAML pipeline, oracled end-to-end (the q154/q135
    // discipline): lang_classify against a persisted chargram_lm store →
    // keep the predicted-English slice → importance_score against a
    // persisted single-label TARGET store (raw model derived from the
    // filtered pipeline frame, exactly the composed semantics) →
    // quantile_filter keeps the top half by importance → weighted
    // Efraimidis–Spirakis draw with P(keep) ∝ exp(importance). Every
    // stage is individually oracled elsewhere (q149/q151/q86/q130/q135);
    // this entry oracles the COMPOSITION — the DuckDB CTE chains those
    // proven statements in pipeline order, so a drift in any stage, in
    // stage ORDER, or in how the executor chains them breaks the match
    "q158_dsir_lang_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "documents"),
        t("chargram_lm", "labelColumn" -> "lang", "textColumn" -> "text",
          "n" -> "3", "minCount" -> "2"))
        .createOrReplaceTempView("q158_lang_model")
      ap(tab(s, dir, "documents").where(col("lang") === "en")
          .withColumn("ref_label", lit("tgt")),
        t("chargram_lm", "labelColumn" -> "ref_label", "textColumn" -> "text",
          "n" -> "3", "minCount" -> "1"))
        .createOrReplaceTempView("q158_target_model")
      val yaml =
        s"""pipelineId: q158-dsir-lang-pipeline
           |source:
           |  type: file
           |  options: {path: ${stagedPath(s, dir, "documents")}, format: parquet}
           |transformations:
           |  - name: classify
           |    type: lang_classify
           |    options: {textColumn: text, modelView: q158_lang_model}
           |  - name: keep-en
           |    type: filter
           |    options: {condition: "lang_pred = 'en'"}
           |  - name: score
           |    type: importance_score
           |    options: {idColumn: doc_id, textColumn: text, targetModelView: q158_target_model, n: "3"}
           |  - name: gate
           |    type: quantile_filter
           |    options: {column: importance, lower: "0.5", exact: "true"}
           |  - name: weigh
           |    type: map
           |    options: {expressions: "dsir_w:round(exp(importance), 4)"}
           |  - name: draw
           |    type: sample
           |    options: {"on": doc_id, weightColumn: dsir_w, k: "50", seed: "11"}
           |sink:
           |  type: file
           |  writeMode: overwrite
           |  options: {path: /tmp/graft-unused}
           |""".stripMargin
      val cfg = new graft.config.YamlConfigParser().parse(yaml)
      new graft.runtime.PipelineExecutor().compose(cfg)(s)
        .select("doc_id", "importance", "dsir_w")
    }),
    // the published web-curation recipe COMPOSED as ONE YAML pipeline
    // (quickstart-26 ships the same chain): html wrap → html_strip →
    // normalize_text → text_signals gate → Gopher quality_rules →
    // cross-doc line dedup → drop fully-boilerplate docs → exact near-dup
    // (threshold 1.0) → per-source token_cap → pack_sequences. Every
    // stage is individually oracled elsewhere (q152/q85/q23/q91/q81/
    // q108/q92/q110); this entry oracles the COMPOSITION — a drift in any
    // stage, in stage ORDER, or in how the executor chains them breaks
    // the match, not just a drift inside one operator.
    "q154_curation_pipeline" -> ((s, dir) => {
      val yaml =
        s"""pipelineId: q154-curation-pipeline
           |source:
           |  type: file
           |  options: {path: ${stagedPath(s, dir, "documents")}, format: parquet}
           |transformations:
           |  - name: nonnull
           |    type: filter
           |    options: {condition: "text IS NOT NULL"}
           |  - name: wrap
           |    type: map
           |    options:
           |      expressions: "text:concat('<!DOCTYPE html><html><head><style>p{color:red}</style><script>var x=1<2;</script></head><body><!-- ', cast(doc_id as string), ' --><h1>Doc &amp; &lt;title&gt;</h1><p>', text, '</p><ul><li>alpha</li><li>beta</li></ul></body></html>')"
           |  - name: strip
           |    type: html_strip
           |    options: {columns: text, collapseWhitespace: "true", trim: "true"}
           |  - name: nfc
           |    type: normalize_text
           |    options: {columns: text, form: NFC}
           |  - name: staged
           |    type: materialize
           |    options: {}
           |  - name: signals
           |    type: text_signals
           |    options: {textColumn: text, signals: "tokens"}
           |  - name: gate
           |    type: filter
           |    options: {condition: "n_tokens >= 18"}
           |  - name: gopher
           |    type: quality_rules
           |    options: {textColumn: text, mode: filter, minWords: "12", minMeanWordLength: "2.5", maxMeanWordLength: "12.0", minAlphaFraction: "0.55", minStopwords: "1"}
           |  - name: boilerplate
           |    type: dedup_lines
           |    options: {idColumn: doc_id, textColumn: text}
           |  - name: drop-emptied
           |    type: filter
           |    options: {condition: "length(text) > 0"}
           |  - name: neardup
           |    type: dedup_minhash
           |    options: {idColumn: doc_id, textColumn: text, threshold: "1.0"}
           |  - name: project
           |    type: map
           |    options: {expressions: "text:text", project: "true", keep: "doc_id,source"}
           |  - name: reweigh
           |    type: text_signals
           |    options: {textColumn: text, signals: "tokens"}
           |  - name: caps
           |    type: token_cap
           |    options: {idColumn: doc_id, weightColumn: n_tokens, groupBy: source, budget: "400"}
           |  - name: pack
           |    type: pack_sequences
           |    options: {idColumn: doc_id, weightColumn: n_tokens, seqLen: "256"}
           |sink:
           |  type: file
           |  writeMode: overwrite
           |  options: {path: /tmp/graft-unused}
           |""".stripMargin
      val cfg = new graft.config.YamlConfigParser().parse(yaml)
      new graft.runtime.PipelineExecutor().compose(cfg)(s)
        .select("doc_id", "source", "seq_id", "tok_start", "tok_end",
          "pos_in_seq")
    }),

    // ---- reshape: pivot / unpivot / set ops ----
    // explicit pivot values → single scan, one shuffle, schema known
    // before any job runs (value-less pivot would add a distinct pre-scan)
    "q62_pivot" -> ((s, dir) => ap(tab(s, dir, "lineitem"),
      t("pivot", "groupBy" -> "l_returnflag", "pivotColumn" -> "l_linestatus",
        "values" -> "O,F",
        "aggregations" -> "cast(sum(cast(l_quantity as decimal(12,2))) as double)"))),
    // wide→long melt: an Expand node, zero shuffle
    "q63_unpivot" -> ((s, dir) => ap(
      tab(s, dir, "lineitem").where("l_orderkey % 10 = 0"),
      t("unpivot", "ids" -> "l_orderkey,l_linenumber",
        "cols" -> "l_quantity,l_discount,l_tax",
        "variableColumn" -> "measure", "valueColumn" -> "amount"))),
    // multiset difference vs a registered view (intersect/*_all spec-tested)
    "q64_setop" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      tab(s, dir, "customer").where("c_acctbal < 0")
        .select(col("c_custkey").as("custkey"))
        .createOrReplaceTempView("q64_negbal")
      ap(tab(s, dir, "orders").select(col("o_custkey").as("custkey")),
        t("setop", "rightDataset" -> "q64_negbal", "mode" -> "except"))
    }),

    // ---- distribution stats through the aggregation surface ----
    // ONE exact percentile buffer (identical aggregate calls dedup in
    // PhysicalAggregation) serving four quantile projections
    "q65_percentiles" -> ((s, dir) => ap(tab(s, dir, "lineitem"),
      t("aggregation", "groupBy" -> "l_returnflag",
        "aggregations" -> ("p25:round(element_at(percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D)), 1), 4)," +
          "p50:round(element_at(percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D)), 2), 4)," +
          "p90:round(element_at(percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D)), 3), 4)," +
          "n:count(*)")))),
    // fixed-width binning + per-bin stats: floor arithmetic is exact on
    // doubles in both engines, so the histogram is oracle-checkable
    "q66_histogram" -> ((s, dir) => ap(ap(tab(s, dir, "events"),
      t("map", "expressions" -> "bin:cast(floor(value / 50.0d) as bigint)")),
      t("aggregation", "groupBy" -> "bin",
        "aggregations" -> "n:count(*),avg_value:round(avg(value), 2)"))),

    // ---- LLM-data-pipeline: chunking & information density ----
    // context-window packing: 500-char chunks, 50-char overlap
    "q61_chunk" -> ((s, dir) => ap(tab(s, dir, "documents"),
      t("chunk", "idColumn" -> "doc_id", "textColumn" -> "text",
        "size" -> "500", "overlap" -> "50", "keep" -> "lang"))),
    // per-document token Shannon entropy (bits): the information-density
    // quality signal; same proven-parity tokenization as q45/q57
    // (declarative route — the entropy transform)
    "q67_entropy" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("entropy", "idColumn" -> "doc_id", "textColumn" -> "text"))),
    // corpus-as-its-own-LM quality score: per-doc average negative
    // log-likelihood under the corpus char-trigram distribution
    // (declarative route — the chargram_nll transform)
    "q79_chargram_nll" -> ((s, dir) =>
      ap(tab(s, dir, "documents"),
        t("chargram_nll", "idColumn" -> "doc_id", "textColumn" -> "text", "n" -> "3"))),
    // DSIR importance scoring: every document scored against an
    // English-only target model — add-one smoothing over the union vocab
    // and the log-ratio restated term-for-term in DuckDB
    "q129_importance_score" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      tab(s, dir, "documents").where(col("lang") === "en")
        .select(col("doc_id"), col("text"))
        .createOrReplaceTempView("q129_target")
      ap(tab(s, dir, "documents"),
        t("importance_score", "idColumn" -> "doc_id", "textColumn" -> "text",
          "targetView" -> "q129_target", "n" -> "3"))
    }),
    // the TRAINED language-id store: per-(lang, trigram) counts over the
    // labeled corpus, minCount-pruned, parameter-stamped — DuckDB
    // re-derives every row from the same substr grid as q79
    "q148_chargram_lm" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "documents"),
        t("chargram_lm", "labelColumn" -> "lang", "textColumn" -> "text",
          "n" -> "3", "minCount" -> "2"))
        .select(col("label"), col("gram"), col("cnt").cast("long").as("cnt"),
          col("clm_n").cast("int").as("clm_n"),
          col("clm_min_count").cast("long").as("clm_min_count"))
    }),
    // trained language classification end-to-end: train the q148 store
    // in-query, classify the same corpus, and DuckDB re-derives the full
    // add-one-smoothed argmax (matched mass + all-unseen grid term,
    // struct-max tie-break) term-for-term
    "q149_lang_classify" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "documents"),
        t("chargram_lm", "labelColumn" -> "lang", "textColumn" -> "text",
          "n" -> "3", "minCount" -> "2"))
        .createOrReplaceTempView("q149_model")
      ap(tab(s, dir, "documents"),
        t("lang_classify", "textColumn" -> "text",
          "modelView" -> "q149_model", "scoreColumn" -> "lang_score"))
        .select("doc_id", "lang_pred", "lang_score")
    }),
    // the CCNet-style perplexity gate: every document's smoothed NLL under
    // a PERSISTED single-label reference model (trained on the en slice),
    // one zero-shuffle projection — DuckDB re-derives model, smoothing and
    // the factored ln(total+V) − Σln(cnt+1)/n_grams score exactly
    "q150_nll_gate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "documents").where(col("lang") === "en")
          .withColumn("ref_label", lit("ref")),
        t("chargram_lm", "labelColumn" -> "ref_label", "textColumn" -> "text",
          "n" -> "3", "minCount" -> "2"))
        .createOrReplaceTempView("q150_model")
      ap(tab(s, dir, "documents"),
        t("chargram_nll", "textColumn" -> "text", "modelView" -> "q150_model"))
        .select("doc_id", "nll")
    }),
    // DSIR against a PERSISTED target model: a minCount=1 single-label
    // chargram_lm store holds exactly the gram counts q129 derives from
    // its target corpus, so the store path must reproduce q129's scores
    // bit-for-bit at 4 decimals — the oracle IS q129's SQL
    "q151_dsir_store" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      ap(tab(s, dir, "documents").where(col("lang") === "en")
          .withColumn("ref_label", lit("tgt")),
        t("chargram_lm", "labelColumn" -> "ref_label", "textColumn" -> "text",
          "n" -> "3", "minCount" -> "1"))
        .createOrReplaceTempView("q151_model")
      ap(tab(s, dir, "documents"),
        t("importance_score", "idColumn" -> "doc_id", "textColumn" -> "text",
          "targetModelView" -> "q151_model", "n" -> "3"))
    }),
    // HTML boilerplate stripping over a synthesized page wrapper (the
    // corpus carries no natural markup, like q50's PII): script/style/
    // comment/doctype removal, block tags → newlines, tag strip, the
    // conservative entity decode (&amp; last), collapse + trim — DuckDB
    // replays the identical RE2-safe chain; newlines flattened to ' | '
    // on BOTH sides for the stringified compare
    "q152_html_strip" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val wrapped = tab(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), concat(
          lit("<!DOCTYPE html><html><head><style>p{color:red}</style>" +
            "<script>var x=1<2;</script></head><body><!-- "),
          col("doc_id").cast("string"),
          lit(" --><h1>Doc &amp; &lt;title&gt;</h1><p>"), col("text"),
          lit("</p><ul><li>alpha</li><li>beta</li></ul></body></html>"))
          .as("text"))
      ap(wrapped, t("html_strip", "columns" -> "text",
        "collapseWhitespace" -> "true", "trim" -> "true"))
        .select(col("doc_id"),
          regexp_replace(col("text"), "\n", " | ").as("clean"))
    }),
    // the DSIR selection recipe (Xie et al. 2023 §2.3) COMPOSED, as one
    // declarative pipeline: importance log-ratio → exponentiate into a
    // sampling weight (rounded to 4 decimals so both engines hold the
    // identical double) → Efraimidis–Spirakis weighted draw without
    // replacement, P(keep) ∝ exp(importance). The oracle re-derives the
    // whole chain in SQL — scoring model, weight, race keys, winner set —
    // so a drift in ANY stage (or in how the executor composes them)
    // breaks the match, not just a drift inside one operator.
    "q135_dsir_weighted_select" -> ((s, dir) => {
      import graft.config._
      val cfg = PipelineConfig(
        pipelineId = "q135-dsir-weighted-select",
        source = SourceConfig("file",
          Map("path" -> stagedPath(s, dir, "documents"), "format" -> "parquet")),
        transformations = List(
          TransformConfig("target", "register", Map(
            "viewName" -> "q135_target",
            "path" -> stagedPath(s, dir, "documents"), "format" -> "parquet",
            "condition" -> "lang = 'en'")),
          TransformConfig("score", "importance_score", Map(
            "idColumn" -> "doc_id", "textColumn" -> "text",
            "targetView" -> "q135_target", "n" -> "3")),
          TransformConfig("weigh", "map", Map(
            "expressions" -> "dsir_w:round(exp(importance), 4)")),
          TransformConfig("draw", "sample", Map(
            "on" -> "doc_id", "weightColumn" -> "dsir_w",
            "k" -> "100", "seed" -> "11"))),
        sink = SinkConfig("file", Map("path" -> "/tmp/graft-unused")))
      new graft.runtime.PipelineExecutor().compose(cfg)(s)
        .select("doc_id", "dsir_w")
    }),
    // the simhash PIPELINE made oracle-checkable: maxHamming=0 over the
    // corpus unioned with an exact twin of itself (ids shifted), restricted
    // to the planted twin pairs. A twin is found iff the whole pipeline —
    // native signature expression, 16-bit chunk blocking, XOR/bit_count
    // verify, canonical pair ordering — is correct, and identical text
    // implies identical signature under ANY hash, so the expected set is
    // exactly one pair per document. The restriction is necessary:
    // signature equality between DISTINCT near-dup docs is simhash-
    // legitimate (measured here — one occurrence of one low-weight token
    // can leave all 64 bit-votes unchanged), so the unrestricted ham=0
    // pair set is not expressible in exact SQL. The probabilistic ham<=3
    // variant stays rows-only as q27.
    "q80_simhash_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val d = tab(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.union(d.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      graft.dedup.Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 0)
        .where(col("id_b") === col("id_a") + 100000L)
    }),
    // C4-style cross-document line dedup. The synthetic corpus is single-
    // line, so the query first regroups each document into 8-word lines
    // (identical list arithmetic on the DuckDB side) — near-dup documents
    // then share real line-level boilerplate for the operator to strip.
    "q81_dedup_lines" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val lined = relined(s, dir)
      ap(lined, t("dedup_lines", "idColumn" -> "doc_id", "textColumn" -> "text"))
        .select("doc_id", "text")
    }),
    // ExactSubstr-style span dedup (Lee et al. 2022): maximal runs of >= 8
    // tokens occurring >= 2 times corpus-wide. The synthetic corpus's
    // planted near-dup pairs share long token runs, so both surfaces are
    // non-trivial at every SF.
    "q120_span_dups" -> ((s, dir) =>
      ap(tab(s, dir, "documents"), t("dedup_spans", "idColumn" -> "doc_id",
        "textColumn" -> "text", "mode" -> "report"))),
    // removal drops EVERY occurrence (the published semantics); documents
    // without duplicated spans must come back byte-identical
    "q121_span_removal" -> ((s, dir) =>
      ap(tab(s, dir, "documents"), t("dedup_spans", "idColumn" -> "doc_id",
        "textColumn" -> "text")).select("doc_id", "text")),
    // span-level decontamination: corpus halves as reference/increment
    // (q114's split); increment docs lose every >= 8-token run that
    // appears anywhere in the reference half, increment-internal
    // repetition deliberately kept
    "q122_span_decontam" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
      docs.where(col("doc_id") < 250).createOrReplaceTempView("q122_reference")
      ap(docs.where(col("doc_id") >= 250), t("dedup_spans",
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "referenceView" -> "q122_reference")).select("doc_id", "text")
    }),
    // q122's decontamination through the PERSISTED gram-hash store: the
    // reference half's text is never read — only its parquet signature
    // store — yet the rewritten output is identical (same oracle SQL)
    "q124_span_store_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
      s.read.parquet(stagedGramStore(s, dir))
        .createOrReplaceTempView("q124_gram_store")
      ap(docs.where(col("doc_id") >= 250), t("dedup_spans",
        "idColumn" -> "doc_id", "textColumn" -> "text",
        "signatureView" -> "q124_gram_store")).select("doc_id", "text")
    }),
    // distribution drift between corpus halves: n_chars unshifted (small
    // PSI) and shifted +200 (large PSI) — fixed-width bins from reference
    // min/max keep the bin arithmetic exact-parity (q66's floor precedent)
    "q114_drift" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = tab(s, dir, "documents")
      docs.where(col("doc_id") < 250)
        .select(col("n_chars"), col("n_chars").as("n_chars_shifted"))
        .createOrReplaceTempView("q114_reference")
      val cur = docs.where(col("doc_id") >= 250)
        .select(col("n_chars"), (col("n_chars") + 200L).as("n_chars_shifted"))
      ap(cur, t("drift", "columns" -> "n_chars,n_chars_shifted",
        "referenceView" -> "q114_reference"))
    }),
    // q113 through the PERSISTED line-hash store: the reference half
    // reduces ONCE to the stamped distinct-sha store parquet (built by the
    // line_signatures transform, memoized like every other staged store)
    // and the increment consumes it via signatureView — identical expected
    // output to q113, but this run never reads reference TEXT
    "q140_dedup_lines_store" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val lined = relined(s, dir)
      s.read.parquet(stagedLineStore(s, dir))
        .createOrReplaceTempView("q140_store")
      val boiler = lined.where(col("doc_id") < 100)
        .select(col("doc_id").as("rid"), expr("split(text, chr(10))[0]").as("b"))
      val inc = lined.where(col("doc_id") >= 100)
        .withColumn("rid", col("doc_id") % 100)
        .join(broadcast(boiler), Seq("rid"))
        .withColumn("text", concat(col("b"), lit("\n"), col("text")))
        .drop("rid", "b")
      ap(inc, t("dedup_lines", "idColumn" -> "doc_id", "textColumn" -> "text",
        "signatureView" -> "q140_store"))
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    }),
    // incremental LINE dedup: increment docs re-lined into 8-word lines
    // (q81's construction) and prefixed with a boilerplate line drawn from
    // reference doc (doc_id % 100) — against-mode must drop exactly those
    // planted lines and keep everything else, rebuilt in order
    "q113_dedup_lines_against" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val lined = relined(s, dir)
      lined.where(col("doc_id") < 100).createOrReplaceTempView("q113_reference")
      val boiler = lined.where(col("doc_id") < 100)
        .select(col("doc_id").as("rid"), expr("split(text, chr(10))[0]").as("b"))
      val inc = lined.where(col("doc_id") >= 100)
        .withColumn("rid", col("doc_id") % 100)
        .join(broadcast(boiler), Seq("rid"))
        .withColumn("text", concat(col("b"), lit("\n"), col("text")))
        .drop("rid", "b")
      ap(inc, t("dedup_lines", "idColumn" -> "doc_id", "textColumn" -> "text",
        "referenceView" -> "q113_reference"))
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    }),
    // Morton/Z-order interleave for multi-dimensional data skipping —
    // exact integer bit math once the bins are fixed, so oracle-checkable
    "q78_zorder" -> ((s, dir) => ap(tab(s, dir, "events"),
      t("zorder", "columns" -> "value,user_id", "lo" -> "0,0",
        "hi" -> "512,256", "bits" -> "8"))
      .select("event_id", "zvalue")),
    // exact cross-corpus cosine scores vs a small reference set (the
    // embedding-decontamination primitive): every (corpus, ref) pair with
    // its similarity — unthresholded so no float-boundary row-set risk;
    // the thresholded drop path (decontaminate_embedding) is spec-tested
    "q77_embed_crossmatch" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val emb = tab(s, dir, "embeddings")
      val refs = emb.where("vec_id < 10")
        .select(col("vec_id").as("ref_id"), col("embedding"))
      val r = round(col("sim"), 4)
      graft.ann.Ann.crossMatches(emb, refs, "vec_id", "ref_id",
          "embedding", "embedding")
        // ±0.0 stringify differently in the driver's pandas compare; a
        // sim that rounds to zero carries whichever sign the last ulp had
        .select(col("vec_id"), col("ref_id"),
          when(r === 0.0, 0.0).otherwise(r).as("sim"))
    }),
    // grouped top-k via the bounded-heap aggregator (partial aggregation;
    // no per-group window sort) — same result set as a row_number window
    "q76_topk_group" -> ((s, dir) => ap(tab(s, dir, "orders"),
      t("topk", "groupBy" -> "o_orderpriority", "scoreColumn" -> "o_totalprice",
        "k" -> "5", "idColumn" -> "o_orderkey"))
      .select("o_orderkey", "o_orderpriority", "o_totalprice")),
    // feature scaling: z-score over order totals — one stats aggregation
    // broadcast into a projection; sample stddev matches DuckDB's stddev
    "q75_scale" -> ((s, dir) => ap(tab(s, dir, "orders"),
      t("scale", "columns" -> "o_totalprice", "method" -> "zscore",
        "roundTo" -> "4"))
      .select("o_orderkey", "o_totalprice_scaled")),
    // mergeable HLL sketches through build → estimate. Oracle-checkable
    // against exact count(DISTINCT): below ~2^lgK distinct values the
    // DataSketches HLL stays in sparse mode, where the estimate is EXACT —
    // events has 150 users, lgK=12. (The merge path and the
    // beyond-sparse-regime error bound are spec-tested.)
    // The HLL ESTIMATE cannot be pinned cross-engine at scale (at sf0.1
    // user_id NDV is ~1500/group and DataSketches reads 1480 where DuckDB's
    // own sketch reads 1500 — both correct within their error bounds), so
    // the oracle-checked surface is the CONTRACT: the exact NDV plus a
    // boolean asserting the estimate landed within 3×RSE (~5% at lgK=12).
    // The sketch build/estimate path still runs in full; only the
    // engine-specific estimate value stays out of the hash.
    "q74_sketch_ndv" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val est = ap(ap(tab(s, dir, "events"),
        t("sketch", "columns" -> "user_id", "groupBy" -> "event_type")),
        t("sketch", "columns" -> "user_id", "mode" -> "estimate"))
        .select(col("event_type"), col("user_id_ndv"))
      val exact = tab(s, dir, "events").groupBy("event_type")
        .agg(countDistinct("user_id").as("user_id_ndv_exact"))
      est.join(exact, "event_type")
        .select(col("event_type"),
          col("user_id_ndv_exact").cast("long").as("user_id_ndv_exact"),
          (abs(col("user_id_ndv") - col("user_id_ndv_exact")) <=
            greatest(ceil(col("user_id_ndv_exact") * 0.05), lit(1)))
            .as("ndv_within_rse"))
    }),
    // time-series resample with gap filling: per-user 6-hour buckets, every
    // interval between a user's first and last event present (missing
    // buckets → count 0). 6-hour buckets are epoch-aligned in BOTH engines.
    "q72_resample" -> ((s, dir) => ap(ap(tab(s, dir, "events"),
      t("resample", "timeColumn" -> "ts", "interval" -> "6 hours",
        "groupBy" -> "user_id",
        "aggregations" -> "n_events:count(*),sum_value:round(sum(value), 2)")),
      t("map", "expressions" -> "n_events:coalesce(n_events, 0L)"))),
    // analytic frame aggregations: a framed rolling window chained with a
    // frameless lag step (they need different window specs) — running
    // count + 3-row rolling min + previous-order delta per customer
    "q71_window_roll" -> ((s, dir) => ap(ap(tab(s, dir, "orders"),
      t("window_agg", "partitionBy" -> "o_custkey", "orderBy" -> "o_orderkey",
        "frameType" -> "rows", "frameStart" -> "-2", "frameEnd" -> "current",
        "aggregations" -> "roll_n:count(*),roll_min:min(o_totalprice)")),
      t("window_agg", "partitionBy" -> "o_custkey", "orderBy" -> "o_orderkey",
        "aggregations" -> "prev_price:lag(o_totalprice, 1)"))
      .select("o_custkey", "o_orderkey", "roll_n", "roll_min", "prev_price")),
    // connected components over a deterministic pair graph (edges i→i+1
    // where i%5<2 → components are the consecutive runs {5k,5k+1,5k+2}),
    // so the iterative min-label propagation is checkable against the
    // closed form in SQL. The LSH-pair-driven path is spec-tested.
    "q70_components" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val pairs = tab(s, dir, "documents").where("doc_id % 5 < 2")
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      graft.dedup.Dedup.clusters(pairs)
    }),
    // importance sampling: per-row keep probability (here length-derived)
    // through the deterministic bucket — the reproducible replacement for
    // `rand() < p`. Mod path oracled; hash path spec'd.
    "q69_sample_weighted" -> ((s, dir) => ap(ap(tab(s, dir, "documents"),
      t("map", "expressions" -> "p_keep:least(1.0d, n_chars / 2000.0d)")),
      t("sample", "on" -> "doc_id", "probColumn" -> "p_keep",
        "method" -> "mod", "buckets" -> "1000"))
      .select("doc_id", "lang", "n_chars")),

    // ---- Structured Streaming (honest micro-batch; reference faked this) ----
    "q32_stream_window" -> ((s, dir) => {
      import graft.config._
      // stream the events table end-to-end: readStream → watermark →
      // tumbling window agg → memory sink, drained with availableNow.
      // APPEND output mode — the production shape: each window is emitted
      // exactly once when the watermark passes its end, and its state is
      // evicted, so state size is bounded by the watermark horizon rather
      // than growing with every distinct window ever seen (complete mode
      // would OOM on an unbounded stream). The emitted set is deterministic:
      // windows with end <= max(event ts) - 1 hour — which the DuckDB
      // oracle expresses exactly.
      // The staged input directory is memoized per source dir: it is test
      // scaffolding (real deployments already have landed files), so only
      // the streaming query itself should be re-timed on repeat runs.
      val inDir = stagedEventsDir(s, dir)
      val cfg = PipelineConfig(
        pipelineId = s"q32_${System.nanoTime()}",
        executionMode = ExecutionMode.MicroBatch,
        source = SourceConfig("file", Map(
          "path" -> inDir, "format" -> "parquet",
          "schema" -> "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")),
        transformations = List(TransformConfig("w", "windowing", Map(
          "timeColumn" -> "ts", "windowDuration" -> "1 hour",
          "aggregations" -> "n_events:count(*),sum_value:round(sum(value), 2)"))),
        sink = SinkConfig("memory", Map("queryName" -> "q32_out")),
        streaming = Some(StreamingConfig(
          checkpointLocation = Some(Scratch.memDir("q32ck")),
          watermarkColumn = Some("ts"), watermarkDelay = Some("1 hour"),
          outputMode = "append",
          // ~3.4k distinct windows: 8 state stores, not 32 — each state
          // partition pays per-batch open/commit overhead
          shufflePartitions = Some(streamStateParts(s)))))
      drainExecutor(s, cfg, "q32", "q32_out")
    }),

    // arbitrary-state streaming: flatMapGroupsWithState sessionization with
    // event-time timeouts. Emission set is deterministic — a session closes
    // iff the final watermark (max event ts, ms-floored; delay 0) advances
    // BEYOND last_event + gap — so DuckDB oracles it exactly: gap-break
    // sessions via lag()+running sum, the watermark cutoff as a strict
    // epoch-ms comparison. All times projected as epoch millis (the
    // operator's own precision: state math runs on Timestamp.getTime).
    // Routed through StreamingExecutor + the sessionize TRANSFORM (the
    // YAML-facing path), exactly as q32 routes the windowed agg.
    "q46_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.config._
      val inDir = stagedEventsDir(s, dir)
      val cfg = PipelineConfig(
        pipelineId = s"q46_${System.nanoTime()}",
        executionMode = ExecutionMode.MicroBatch,
        source = SourceConfig("file", Map(
          "path" -> inDir, "format" -> "parquet",
          "schema" -> "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")),
        transformations = List(TransformConfig("sess", "sessionize", Map(
          "keyColumn" -> "user_id", "tsColumn" -> "ts",
          "valueColumn" -> "value", "gap" -> "30 minutes"))),
        sink = SinkConfig("memory", Map("queryName" -> "q46_out")),
        streaming = Some(StreamingConfig(
          checkpointLocation = Some(Scratch.memDir("q46ck")),
          watermarkColumn = Some("ts"), watermarkDelay = Some("0 seconds"),
          outputMode = "append",
          shufflePartitions = Some(streamStateParts(s)))))
      drainExecutor(s, cfg, "q46", "q46_out").select(col("user_id"),
        unix_millis(col("session_start")).as("session_start_ms"),
        unix_millis(col("session_end")).as("session_end_ms"),
        col("n_events"),
        round(col("total_value"), 2).as("total_value"))
    }),

    // streaming exact deduplication: dropDuplicatesWithinWatermark keyed on
    // (user_id, event_type) — the streaming counterpart of batch dedup
    // (q18/q25), routed through StreamingExecutor's dedupColumns path. With
    // a watermark the seen-keys state self-expires once it ages past the
    // delay; the delay here exceeds the dataset's span so nothing expires
    // mid-drain and the emitted set is exactly the batch DISTINCT — the
    // determinism the oracle needs (production sets the real lateness
    // bound). Survivor NON-key columns are first-arrival nondeterministic,
    // so the pipeline projects to the key columns after the dedup.
    "q83_stream_dedup" -> ((s, dir) => {
      import graft.config._
      val inDir = stagedEventsDir(s, dir)
      val cfg = PipelineConfig(
        pipelineId = s"q83_${System.nanoTime()}",
        executionMode = ExecutionMode.MicroBatch,
        source = SourceConfig("file", Map(
          "path" -> inDir, "format" -> "parquet",
          "schema" -> "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")),
        transformations = List(TransformConfig("proj", "map", Map(
          "expressions" -> "user_id:user_id,event_type:event_type",
          "project" -> "true"))),
        sink = SinkConfig("memory", Map("queryName" -> "q83_out")),
        streaming = Some(StreamingConfig(
          checkpointLocation = Some(Scratch.memDir("q83ck")),
          watermarkColumn = Some("ts"), watermarkDelay = Some("365 days"),
          outputMode = "append",
          dedupColumns = Some("user_id,event_type"),
          shufflePartitions = Some(streamStateParts(s)))))
      // dropDuplicates emits first-seen rows on ARRIVAL; the trailing
      // no-data batch would only expire seen-key state this drain never
      // revisits, so skip it (restored after — the agg queries need it)
      drainExecutor(s, cfg, "q83", "q83_out", noDataBatch = false)
    }),

    // stream-static join: the streaming enrich shape — events stream joined
    // to a broadcast dimension BEFORE the windowed aggregation. The static
    // side is planned per micro-batch as an ordinary broadcast hash join
    // (stateless — no join state store); only the post-join windowed agg
    // keeps state. Emission is deterministic exactly as q32: append mode,
    // windows with end <= max(event ts) - 1 hour.
    "q68_stream_dim_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val inDir = stagedEventsDir(s, dir)
      val dim = tab(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val agg = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
        .parquet(inDir)
        .withWatermark("ts", "1 hour")
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("window_start"),
          col("window.end").as("window_end"),
          col("c_mktsegment"), col("n_events"), col("sum_value"))
      runStreamToTable(s, agg, "q68_out")
    }),

    // stream-stream inner join: clicks correlated with same-user purchases
    // in the preceding hour — both sides streaming, event-time range
    // condition, per-side watermarks sizing the join state (Spark retains
    // each side only for the range span + watermark delay). The delay here
    // exceeds the dataset's time span so no match can be evicted
    // mid-drain and the emitted set is exactly the batch join — the
    // determinism the oracle needs; production sets it to the real
    // lateness bound.
    "q73_stream_stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val inDir = stagedEventsDir(s, dir)
      val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
      val clicks = s.readStream.schema(schema).parquet(inDir)
        .where("event_type = 'click'")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "365 days")
      val purchases = s.readStream.schema(schema).parquet(inDir)
        .where("event_type = 'purchase'")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"), col("value"))
        .withWatermark("p_ts", "365 days")
      val joined = clicks.join(purchases,
          expr("user_id = p_user AND " +
            "p_ts >= click_ts - interval 1 hour AND p_ts <= click_ts"))
        .select(col("click_id"), col("user_id"),
          unix_millis(col("click_ts")).as("click_ms"),
          col("purchase_id"), unix_millis(col("p_ts")).as("purchase_ms"),
          round(col("value"), 2).as("purchase_value"))
      // inner join emits matches on arrival; the trailing no-data batch
      // would only expire state this drain never revisits
      runStreamToTable(s, joined, "q73_out", noDataBatch = false)
    }),

    // ---------------- BPE tokenizer (train / store / encode) ----------
    // lossless-roundtrip oracle over the REAL trained store: every
    // document's token sequence concatenates back to its whitespace-
    // normalized text (`</w>` marks word ends) — a segmentation-validity
    // property DuckDB checks exactly; merge ORDER is pinned by q134's
    // golden-train oracle and BpeSpec's goldens/properties
    "q131_bpe_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(stagedBpeStore(s, dir))
        .createOrReplaceTempView("q131_merges")
      ap(tab(s, dir, "documents").where(col("text").isNotNull),
        t("bpe_tokenize", "textColumn" -> "text",
          "mergesView" -> "q131_merges"))
        .select(col("doc_id"),
          trim(regexp_replace(concat_ws("", col("bpe_tokens")),
            "</w>", " ")).as("detok"))
    }),
    // token_cap budgeting in REAL trained-BPE tokens — the production
    // "cap each source at N tokenizer tokens" path end-to-end. The kept
    // set depends on subword counts DuckDB cannot re-derive → rows-only;
    // q133 is the deterministic exact twin (same transform, same
    // mergesView plumbing and cap window, a store whose token arithmetic
    // IS SQL-expressible)
    "q132_token_cap_bpe" -> ((s, dir) => {
      s.read.parquet(stagedBpeStore(s, dir))
        .createOrReplaceTempView("q132_merges")
      ap(tab(s, dir, "documents"),
        t("token_cap", "idColumn" -> "doc_id", "textColumn" -> "text",
          "mergesView" -> "q132_merges", "groupBy" -> "source",
          "budget" -> "500"))
        .select("doc_id", "source")
    }),
    // the exact twin: a store trained on a disjoint planted alphabet, so
    // the per-document BPE weight provably equals
    // codepoints(text minus whitespace) + word count — DuckDB re-derives
    // the weights AND the full seeded cap window
    "q133_token_cap_bpe_exact" -> ((s, dir) => {
      s.read.parquet(stagedBpeDisjointStore(s))
        .createOrReplaceTempView("q133_merges")
      ap(tab(s, dir, "documents"),
        t("token_cap", "idColumn" -> "doc_id", "textColumn" -> "text",
          "mergesView" -> "q133_merges", "groupBy" -> "source",
          "budget" -> "3000"))
        .select("doc_id", "source")
    }),
    // golden-train oracle: the classic subword-paper corpus trained
    // through the registry transform; expected merges independently
    // re-derived from the published algorithm by tools/gen_golden_bpe.py
    // (pure-Python, not a port) and inlined as VALUES
    "q134_bpe_train_golden" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val docs = Seq("low low low low low", "lower lower",
        "newest newest newest newest newest newest",
        "widest widest widest").toDF("text")
      ap(docs, t("bpe_train", "textColumn" -> "text", "numMerges" -> "6"))
        .where(col("kind") === "merge") // the store also carries alpha rows
        .select(col("merge_rank").cast("int").as("merge_rank"),
          col("lhs"), col("rhs"))
    }),
    // token-ID roundtrip over the REAL trained store: encode to input_ids,
    // detokenize through the bpe_vocab id assignment, and DuckDB checks
    // the reconstruction equals the whitespace-normalized text — one
    // mis-assigned id, an <unk> substitution (incomplete alphabet), or an
    // encode/vocab disagreement breaks the match on that document
    "q136_bpe_ids_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(stagedBpeStore(s, dir))
        .createOrReplaceTempView("q136_merges")
      // encode → decode through the DECLARATIVE pair (bpe_tokenize
      // emit=ids, bpe_detokenize): both legs read the persisted store
      val ids = ap(tab(s, dir, "documents").where(col("text").isNotNull),
        t("bpe_tokenize", "textColumn" -> "text",
          "mergesView" -> "q136_merges", "emit" -> "ids"))
      ap(ids, t("bpe_detokenize", "idsColumn" -> "input_ids",
          "mergesView" -> "q136_merges"))
        .select(col("doc_id"), col("detok_text").as("detok"))
    }),
    // the training-export artifact end-to-end: pack_sequences
    // emit=input_ids against the DISJOINT-alphabet store (q133's trick:
    // no merge fires on ASCII, so the per-document id count provably
    // equals code points + word count) — DuckDB re-derives every
    // sequence's composition (id count, document count, weight) from the
    // same prefix-sum arithmetic as q110. Array CONTENT is pinned by
    // q136's roundtrip and the BpeTransformSpec losslessness test.
    "q137_pack_input_ids" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(stagedBpeDisjointStore(s))
        .createOrReplaceTempView("q137_merges")
      ap(tab(s, dir, "documents"),
        t("pack_sequences", "idColumn" -> "doc_id", "textColumn" -> "text",
          "mergesView" -> "q137_merges", "seqLen" -> "4096",
          "emit" -> "input_ids"))
        .select(col("seq_id"),
          size(col("input_ids")).cast("long").as("n_ids"),
          col("n_docs").cast("long").as("n_docs"),
          col("seq_weight").cast("long").as("seq_weight"))
    }),
    // golden-vocab oracle: the q134 corpus's id assignment (<unk>=0,
    // alphabet in UTF-8 order, merge products in merge order)
    // independently re-derived by tools/gen_golden_bpe.py's vocab()
    "q138_bpe_vocab_golden" -> ((s, dir) => {
      import s.implicits._
      val docs = Seq("low low low low low", "lower lower",
        "newest newest newest newest newest newest",
        "widest widest widest").toDF("text")
      ap(docs, t("bpe_train", "textColumn" -> "text", "numMerges" -> "6"))
        .createOrReplaceTempView("q138_merges")
      ap(docs, t("bpe_vocab", "mergesView" -> "q138_merges"))
    }),
    // the cross-corpus safety property end-to-end: a byteFallback store
    // trained on a DISJOINT (Greek) corpus encodes the real documents —
    // every codepoint unseen — with ZERO <unk> (n_unk), an observed OOV
    // count DuckDB re-derives exactly (every non-whitespace, non-Greek
    // codepoint took the byte path), and a detokenize that reconstructs
    // the whitespace-normalized text THROUGH the byte tokens
    "q143_bpe_byte_fallback" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(stagedBpeFallbackStore(s))
        .createOrReplaceTempView("q143_merges")
      val ids = ap(tab(s, dir, "documents").where(col("text").isNotNull),
        t("bpe_tokenize", "textColumn" -> "text",
          "mergesView" -> "q143_merges", "emit" -> "ids",
          "oovColumn" -> "n_oov"))
      ap(ids, t("bpe_detokenize", "idsColumn" -> "input_ids",
          "mergesView" -> "q143_merges"))
        .select(col("doc_id"), col("detok_text").as("detok"),
          size(filter(col("input_ids"), id => id === 0)).as("n_unk"),
          col("n_oov").cast("long").as("n_oov"))
    }),
    // the rectangular training tensor end-to-end: pack_sequences
    // emit=input_ids + padId + emitMask over the golden corpus — DuckDB
    // pins every padded row BYTE-IDENTICALLY (ids and mask as CSV) from
    // tools/gen_golden_bpe.py's independent pack_padded() re-derivation
    "q144_pack_padded_golden" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val docs = Seq((1L, "low low low low low"), (2L, "lower lower"),
        (3L, "newest newest newest newest newest newest"),
        (4L, "widest widest widest")).toDF("doc_id", "text")
      ap(docs, t("bpe_train", "textColumn" -> "text", "numMerges" -> "6"))
        .createOrReplaceTempView("q144_merges")
      ap(docs, t("pack_sequences", "idColumn" -> "doc_id",
          "textColumn" -> "text", "mergesView" -> "q144_merges",
          "seqLen" -> "7", "emit" -> "input_ids",
          "padId" -> "-1", "emitMask" -> "true"))
        .select(col("seq_id").cast("long").as("seq_id"),
          array_join(transform(col("input_ids"),
            x => x.cast("string")), ",").as("ids_csv"),
          array_join(transform(col("attention_mask"),
            x => x.cast("string")), ",").as("mask_csv"),
          col("n_docs").cast("long").as("n_docs"),
          col("seq_weight").cast("long").as("seq_weight"))
    }),
    // tokenizer-exact text_signals: against the disjoint-alphabet store
    // the bpe_tokens signal provably equals non-whitespace code points +
    // word count (q133's arithmetic) — DuckDB re-derives the SIGNAL
    // itself, closing the "bpe_tokens is a regex proxy" gap with an
    // oracle instead of a spec-only claim
    "q145_text_signals_bpe_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(stagedBpeDisjointStore(s))
        .createOrReplaceTempView("q145_merges")
      ap(tab(s, dir, "documents").where(col("text").isNotNull),
        t("text_signals", "textColumn" -> "text",
          "signals" -> "bpe_tokens", "mergesView" -> "q145_merges"))
        .select(col("doc_id"),
          col("n_bpe_tokens").cast("long").as("n_bpe_tokens"))
    }),
    // the Gopher token-budget gate in TOKENIZER-exact tokens: every
    // always-on rule relaxed to never fire, so the kept set is exactly
    // "token count in [200, 500]" — which the disjoint store makes
    // SQL-derivable (the q133 weight arithmetic inside a BETWEEN)
    "q146_gopher_bpe_tokens" -> ((s, dir) => {
      s.read.parquet(stagedBpeDisjointStore(s))
        .createOrReplaceTempView("q146_merges")
      ap(tab(s, dir, "documents"),
        t("quality_rules", "textColumn" -> "text", "mode" -> "filter",
          "mergesView" -> "q146_merges",
          "minBpeTokens" -> "200", "maxBpeTokens" -> "500",
          "minWords" -> "0", "maxWords" -> "1000000000",
          "minMeanWordLength" -> "0", "maxMeanWordLength" -> "1000000000",
          "maxSymbolRatio" -> "1000000000", "maxBulletFraction" -> "2",
          "maxEllipsisFraction" -> "2", "minAlphaFraction" -> "0",
          "minStopwords" -> "0"))
        .select("doc_id", "source")
    }),
    // token-unit chunking (context windows a model actually sees): the
    // disjoint store makes each doc's token count = code points + words,
    // so DuckDB re-derives the whole chunk grid — count, ids, and every
    // window's length including the short tail
    "q147_chunk_tokens" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      s.read.parquet(stagedBpeDisjointStore(s))
        .createOrReplaceTempView("q147_merges")
      ap(tab(s, dir, "documents").where(col("text").isNotNull),
        t("chunk", "idColumn" -> "doc_id", "textColumn" -> "text",
          "unit" -> "tokens", "mergesView" -> "q147_merges",
          "size" -> "50", "overlap" -> "10"))
        .select(col("doc_id"), col("chunk_id"), col("chunk_len"))
    })
  )

  /** The shared DuckDB tokenize → shingle → set-fingerprint CTE chain
    * (t, s, fp) used by every threshold-1.0 minhash oracle: whitespace
    * tokens of lower(text), 3-gram shingles (docs under 3 tokens collapse
    * to one whole-text shingle), then sorted-distinct shingles joined on
    * chr(30) — a byte no shingle can contain — as the set fingerprint.
    * ONE copy: a fix to the shingle semantics cannot silently diverge
    * across the five oracles that restate it (q107/q108/q117/q123/q126).
    * Plain template + replace, not string interpolation: the `[\x00-...]`
    * regex would be mangled by interpolator escape processing. */
  private val shingleFpTemplate =
    """t AS (
           SELECT __COLS__,
                  list_filter(string_split_regex(lower(text), '[\x00-\x20]+'),
                              x -> x <> '') AS toks, text
           FROM __FROM__
         ), s AS (
           SELECT __COLS__,
                  CASE WHEN len(toks) < 3
                       THEN [array_to_string(toks, chr(31))]
                       ELSE list_distinct([array_to_string(toks[i:i+2], chr(31))
                                           FOR i IN range(1, len(toks) - 1)])
                  END AS sh
           FROM t
         ), fp AS (
           SELECT __COLS__, array_to_string(list_sort(sh), chr(30)) AS fp
           FROM s
         )"""
  private def shingleFpCtes(from: String, cols: String): String =
    shingleFpTemplate.replace("__FROM__", from).replace("__COLS__", cols)
  /** The self-dedup planted corpus every exact minhash twin reuses:
    * documents plus verbatim copies of doc_id < 40 at +900000. */
  private def plantedCopiesCte(cols: String): String =
    s"""base AS (
           SELECT $cols, text FROM documents
           UNION ALL
           SELECT doc_id + 900000 AS doc_id, ${cols.split(",").map(_.trim).drop(1).mkString(", ")}, text FROM documents
           WHERE doc_id < 40
         )"""

  /** q107 and q117 share this oracle VERBATIM: the signature store only
    * changes where the reference's (sh, sig) come from, never what
    * matches, so both are the same shingle-set-equality statement. */
  private lazy val minhashIncrOracle: String =
    "WITH " + shingleFpCtes("documents", "doc_id, source") +
      """, refs AS (
           SELECT DISTINCT fp FROM fp WHERE doc_id < 100
         ), inc AS (
           SELECT doc_id, source, fp FROM fp WHERE doc_id >= 100
           UNION ALL
           SELECT doc_id + 800000 AS doc_id, source, fp FROM fp WHERE doc_id < 30
         )
         SELECT doc_id, source FROM inc
         WHERE fp NOT IN (SELECT fp FROM refs)"""

  lazy val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q2_agg_expr" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS charge
         FROM lineitem GROUP BY l_returnflag""",
    "q3_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supp, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    "q4_agg_collect" ->
      """SELECT l_returnflag,
         array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
         array_to_string(list_sort(list(CAST(l_linenumber AS VARCHAR))), ',') AS prios
         FROM lineitem GROUP BY l_returnflag""",
    "q5_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q6_filter" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
         l_extendedprice, l_discount, l_returnflag
         FROM lineitem
         WHERE l_quantity >= 45 AND l_returnflag = 'R' AND l_linestatus IN ('F')""",
    "q7_map" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS order_year,
         CAST(month(o_orderdate) AS BIGINT) AS order_month,
         concat(upper(o_orderstatus), '-', substring(o_orderpriority, 1, 1)) AS status_tag,
         CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END AS is_high,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec
         FROM orders""",
    "q37_scalar_datetime" ->
      """SELECT o_orderkey,
         CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS d_plus30,
         CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS d_trunc_month,
         CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS d_last_day,
         CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d_diff,
         CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS d_dow,
         CAST(dayofyear(o_orderdate) AS BIGINT) AS d_doy,
         CAST(quarter(o_orderdate) AS BIGINT) AS d_quarter
         FROM orders""",
    "q38_scalar_mathstr" ->
      """SELECT o_orderkey,
         abs(CAST(o_totalprice AS DOUBLE) - 150000.0) AS m_abs,
         CAST(floor(o_totalprice) AS BIGINT) AS m_floor,
         CAST(ceil(o_totalprice) AS BIGINT) AS m_ceil,
         round(sqrt(CAST(o_totalprice AS DOUBLE)), 4) AS m_sqrt,
         round(ln(CAST(o_totalprice AS DOUBLE)), 4) AS m_ln,
         CAST(o_orderkey % 97 AS BIGINT) AS m_mod,
         lpad(o_orderpriority, 12, '*') AS s_lpad,
         replace(o_orderpriority, '-', '_') AS s_repl,
         CAST(strpos(o_orderpriority, '-') AS BIGINT) AS s_pos,
         upper(substring(o_orderpriority, 3, 4)) AS s_sub_upper
         FROM orders""",
    "q8_join_inner" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_orderstatus
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    "q9_join_left" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderstatus
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey""",
    "q10_join_semi_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)""",
    "q35_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)""",
    "q11_join_multikey" ->
      """SELECT l.l_orderkey, l.l_suppkey, l.l_quantity, a.supp_order_qty
         FROM (SELECT * FROM lineitem WHERE l_linenumber = 1) l
         JOIN (SELECT l_orderkey, l_suppkey,
                      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS supp_order_qty
               FROM lineitem GROUP BY l_orderkey, l_suppkey) a
         USING (l_orderkey, l_suppkey)""",
    "q12_window_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS window_start,
         (time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour')::TIMESTAMP AS window_end,
         event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2, 3""",
    "q13_window_sliding" ->
      """WITH x AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS b, value FROM events),
         w AS (SELECT b - (k * INTERVAL '30 minutes') AS ws, value
               FROM x CROSS JOIN (SELECT unnest([0, 1]) AS k))
         SELECT ws::TIMESTAMP AS window_start,
                (ws + INTERVAL '1 hour')::TIMESTAMP AS window_end,
                count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM w GROUP BY 1, 2""",
    "q14_window_session" ->
      """WITH l AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), s AS (
           SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM l
         )
         SELECT min(ts)::TIMESTAMP AS window_start,
                (max(ts) + INTERVAL '30 minutes')::TIMESTAMP AS window_end,
                user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM s GROUP BY user_id, sid""",
    "q39_join_salted" ->
      """SELECT o_orderkey, o_custkey AS custkey, c_name, c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey""",
    "q40_window_dense" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
         CAST(dense_rank() OVER (PARTITION BY o_orderstatus
                                 ORDER BY o_orderpriority) AS INT) AS dr
         FROM orders""",
    "q15_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
    "q16_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q17_union" ->
      """SELECT DISTINCT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM (SELECT * FROM orders WHERE o_totalprice > 250000
               UNION ALL
               SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')""",
    "q18_dedup_keyed" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus FROM (
           SELECT o_custkey, o_orderkey, o_orderstatus,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS rn
           FROM orders) WHERE rn = 1""",
    "q19_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q20_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
         FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) >= 50""",
    "q21_quality_metrics" ->
      """SELECT count(*) AS total_rows,
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
         CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
         count(DISTINCT text) AS distinct_text
         FROM documents""",
    "q22_pipeline" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
         count(*) AS n_rows
         FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag, l_linestatus""",
    // q141: per-doc bigram frequencies → rank by (count, length) → covered
    // chars over the space-joined token length, capped at 1; < n tokens
    // (and blank docs) score 0.0 like the operator
    "q141_top_ngram_signal" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '') AS toks
           FROM documents WHERE text IS NOT NULL
         ), g AS (
           SELECT doc_id, toks,
                  CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
                       ELSE [array_to_string(toks[i:i+1], ' ')
                             FOR i IN range(1, len(toks))]
                  END AS ngs
           FROM t
         ), e AS (
           SELECT doc_id, unnest(ngs) AS ng FROM g
         ), c AS (
           SELECT doc_id, ng, count(*) AS c FROM e GROUP BY 1, 2
         ), top AS (
           SELECT doc_id, c, length(ng) AS l,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY c DESC, length(ng) DESC) AS rn
           FROM c
         )
         SELECT t.doc_id,
                CASE WHEN len(t.toks) < 2 THEN 0.0
                     ELSE round(least(1.0, CAST(top.c * top.l AS DOUBLE)
                            / greatest(length(array_to_string(t.toks, ' ')), 1)), 4)
                END AS top_ngram_frac
         FROM t JOIN top ON top.doc_id = t.doc_id AND top.rn = 1""",
    "q23_text_stats" ->
      """SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
         length(text) AS len_chars
         FROM documents""",
    "q25_dedup_exact" ->
      """SELECT sha256(trim(lower(text))) AS text_hash, min(doc_id) AS doc_id,
         count(*) AS n_copies
         FROM documents GROUP BY 1""",
    // q24 in FULL: q109's quality/langid SQL plus the fingerprint from a
    // committed golden fixture — an independent pure-Python XXH64 chain
    // (tools/gen_golden_q24.py; DuckDB has no xxhash64), keyed on
    // (doc_id, md5(text)) so testdata drift fails loudly
    "q24_text_quality" ->
      """WITH t AS (
           SELECT doc_id, text,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
                  length(text) AS len
           FROM documents
         ), m AS (
           SELECT doc_id, text, toks, len,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE len(list_filter(toks, w -> list_contains(
                              ['the','a','an','and','or','of','to','in','is','it',
                               'that','for','on','with','as','at','by','be','this',
                               'was','are'], w)))::DOUBLE / len(toks) END AS stop_r,
                  CASE WHEN len = 0 THEN 0.0
                       ELSE (len - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
                            / len END AS punct_r,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                            / len(toks) END AS mean_tok
           FROM t
         )
         SELECT m.doc_id,
                round(CAST(CAST(
                  least(len::DOUBLE / 500.0, 1.0) * 0.3
                      + least(stop_r * 3.0, 1.0) * 0.3
                      + greatest(0.0, 1.0 - punct_r * 4.0) * 0.2
                      + (CASE WHEN mean_tok BETWEEN 3.0 AND 9.0
                              THEN 1.0 ELSE 0.4 END) * 0.2
                  AS VARCHAR) AS DECIMAL(38,18)), 4)::DOUBLE AS quality,
                (CASE WHEN (list_sort([
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['the','and','of','to','in','is','that','it','for','with'], w))), 'l': 'en'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['der','die','das','und','ist','nicht','von','mit','ein','zu'], w))), 'l': 'de'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['le','la','les','et','est','pas','des','une','que','pour'], w))), 'l': 'fr'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['el','la','los','las','es','no','una','que','por','para'], w))), 'l': 'es'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['的','是','不','了','在','人','有','我','他','这'], w))), 'l': 'zh'}])[-1]).s = 0 THEN 'und'
                 ELSE (list_sort([
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['the','and','of','to','in','is','that','it','for','with'], w))), 'l': 'en'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['der','die','das','und','ist','nicht','von','mit','ein','zu'], w))), 'l': 'de'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['le','la','les','et','est','pas','des','une','que','pour'], w))), 'l': 'fr'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['el','la','los','las','es','no','una','que','por','para'], w))), 'l': 'es'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['的','是','不','了','在','人','有','我','他','这'], w))), 'l': 'zh'}])[-1]).l END)
                  AS lang_pred,
                g.fp
         FROM m
         JOIN read_parquet('/root/repo/src/test/resources/golden/q24_fingerprint.parquet') g
           ON g.doc_id = m.doc_id AND g.text_md5 = md5(m.text)""",
    // quality composite mirrored term-for-term, left-associative like the
    // Spark Column expression. round(,4) is NOT directly portable: the
    // composite's terms are exact decimals (weights 0.3/0.2, ratios over
    // small integers), so real docs land mathematically ON 5-decimal
    // boundaries (sf0.1 doc 768 = 0.66475). Spark's round() is
    // BigDecimal.valueOf(d) — the SHORTEST decimal repr — then HALF_UP
    // ("0.66475" → 0.6648), while DuckDB rounds the binary value
    // (0.66474999…995 → 0.6647). The oracle replicates Spark exactly:
    // CAST(x AS VARCHAR) is DuckDB's shortest repr, the DECIMAL(38,18)
    // parse is exact, and decimal round() is HALF_UP — verified equal to
    // java.math.BigDecimal for ±0.66475. langid = struct greatest
    // over (hits, lang) — equal scores break toward the larger lang code
    // in BOTH engines (field-order lexicographic struct comparison).
    "q109_text_quality_sql" ->
      """WITH t AS (
           SELECT doc_id, text,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
                  length(text) AS len
           FROM documents
         ), m AS (
           SELECT doc_id, toks, len,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE len(list_filter(toks, w -> list_contains(
                              ['the','a','an','and','or','of','to','in','is','it',
                               'that','for','on','with','as','at','by','be','this',
                               'was','are'], w)))::DOUBLE / len(toks) END AS stop_r,
                  CASE WHEN len = 0 THEN 0.0
                       ELSE (len - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
                            / len END AS punct_r,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                            / len(toks) END AS mean_tok
           FROM t
         )
         SELECT doc_id,
                round(CAST(CAST(
                  least(len::DOUBLE / 500.0, 1.0) * 0.3
                      + least(stop_r * 3.0, 1.0) * 0.3
                      + greatest(0.0, 1.0 - punct_r * 4.0) * 0.2
                      + (CASE WHEN mean_tok BETWEEN 3.0 AND 9.0
                              THEN 1.0 ELSE 0.4 END) * 0.2
                  AS VARCHAR) AS DECIMAL(38,18)), 4)::DOUBLE AS quality,
                (CASE WHEN (list_sort([
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['the','and','of','to','in','is','that','it','for','with'], w))), 'l': 'en'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['der','die','das','und','ist','nicht','von','mit','ein','zu'], w))), 'l': 'de'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['le','la','les','et','est','pas','des','une','que','pour'], w))), 'l': 'fr'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['el','la','los','las','es','no','una','que','por','para'], w))), 'l': 'es'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['的','是','不','了','在','人','有','我','他','这'], w))), 'l': 'zh'}])[-1]).s = 0 THEN 'und'
                 ELSE (list_sort([
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['the','and','of','to','in','is','that','it','for','with'], w))), 'l': 'en'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['der','die','das','und','ist','nicht','von','mit','ein','zu'], w))), 'l': 'de'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['le','la','les','et','est','pas','des','une','que','pour'], w))), 'l': 'fr'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['el','la','los','las','es','no','una','que','por','para'], w))), 'l': 'es'},
                   {'s': len(list_filter(toks, w -> list_contains(
                      ['的','是','不','了','在','人','有','我','他','这'], w))), 'l': 'zh'}])[-1]).l END)
                  AS lang_pred
         FROM m""",
    "q28_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                    FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                         CAST(q.qvec AS DOUBLE[])) AS sim
           FROM embeddings e CROSS JOIN q)
         SELECT query_id, vec_id, rank FROM (
           SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rank
           FROM scored) WHERE rank <= 10""",
    // Append mode emits exactly the windows the final watermark closed:
    // window_end <= max(ts) - 1 hour (the configured watermark delay).
    "q32_stream_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS window_start,
         (time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour')::TIMESTAMP AS window_end,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events
         WHERE (time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour')::TIMESTAMP
               <= (SELECT max(ts)::TIMESTAMP - INTERVAL '1 hour' FROM events)
         GROUP BY 1, 2""",
    // the watermark delay exceeds the data span, so the streaming dedup's
    // emitted set is exactly the batch DISTINCT over the key columns
    "q83_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q34_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    // Same shingle semantics as ShingleHashes: lowercase, tokens = maximal
    // runs of bytes > 0x20, word 3-grams joined on chr(31) (a byte tokens
    // can never contain), <3-token docs degrade to ONE whole-text shingle
    // (blank docs → [''] sentinel). Jaccard over shingle STRINGS here ==
    // Jaccard over shingle HASHES on the Spark side.
    "q42_ngram_jaccard" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[\x00-\x20]+'),
                              x -> x <> '') AS toks
           FROM documents
         ), s AS (
           SELECT doc_id,
                  CASE WHEN len(toks) < 3
                       THEN [array_to_string(toks, chr(31))]
                       ELSE list_distinct([array_to_string(toks[i:i+2], chr(31))
                                           FOR i IN range(1, len(toks) - 1)])
                  END AS sh
           FROM t
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
                           ELSE len(list_intersect(a.sh, b.sh))::DOUBLE
                                / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE
                      END, 4) AS jaccard
         FROM s a JOIN s b ON b.doc_id = a.doc_id + 1""",
    // the multimodal decode is REAL (javax.imageio over PNGs the query
    // synthesizes from doc_id alone): the oracle joins a committed fixture
    // of dimensions + 4x4 luma grids recomputed by an INDEPENDENT Python
    // reimplementation of the same pixel formula (tools/gen_golden_q31.py,
    // no image library) — it matches only if the Spark side's PNG
    // round-trip truly reads pixels. Keyed on doc_id only (unlike q96's
    // (doc_id, md5(text)) tripwire) because the payloads derive from
    // doc_id, never from text — text drift cannot stale this fixture.
    // n_frames = 1 for every image payload (duration 0 -> one sampled
    // frame), also pinned by the fixture.
    "q31_multimodal" ->
      """SELECT d.doc_id AS media_id, g.width, g.height,
                g.r_width, g.r_height, g.n_frames, g.luma
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q31_multimodal.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 100""",
    // the audio decode is REAL (javax.sound.sampled over PCM16 WAVs the
    // query synthesizes from doc_id alone): the oracle joins a committed
    // fixture of rate/channels/duration + 16-bin |amplitude| envelopes
    // recomputed by an INDEPENDENT Python reimplementation of the same
    // sample formula (tools/gen_golden_q153.py, no audio library) — it
    // matches only if the Spark side truly parses the RIFF container and
    // reads PCM samples. Keyed on doc_id only (q31's reasoning: payloads
    // derive from the id, never from text, so text drift cannot stale it)
    "q153_multimodal_audio" ->
      """SELECT d.doc_id AS media_id, g.sample_rate, g.channels,
                g.duration_ms, g.n_frames, g.envelope
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q153_multimodal_audio.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 100""",
    // the audio resample is REAL DSP (channel mixdown + anti-aliasing
    // integer-quantized windowed-sinc low-pass + linear interpolation
    // over the parsed PCM16 stream, re-assembled as a WAV): the oracle
    // joins a fixture whose every envelope value was recomputed by an
    // INDEPENDENT Python replay of mixdown → exact-integer FIR →
    // interpolation → half-up rounding from the sample formula
    // (tools/gen_golden_q156.py, no audio library). Keyed on doc_id only
    // (q31's reasoning)
    "q156_multimodal_resample" ->
      """SELECT d.doc_id AS media_id, g.sample_rate, g.channels,
                g.duration_ms, g.envelope
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q156_multimodal_resample.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 100""",
    // the animated-GIF decode is REAL (multi-frame javax.imageio over
    // GIFs the query synthesizes from doc_id alone): the oracle joins a
    // committed fixture of dims/duration/frame-count + frame-0 and
    // MID-FRAME luma grids recomputed by an INDEPENDENT Python
    // reimplementation of the pixel formula (tools/gen_golden_q155.py,
    // no image library) — the mid-frame grid matches only if frame
    // selection genuinely walks the per-frame delay stamps. Keyed on
    // doc_id only (q31's reasoning)
    "q155_multimodal_gif" ->
      """SELECT d.doc_id AS media_id, g.width, g.height, g.duration_ms,
                g.n_frames, g.luma0, g.luma_mid
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q155_multimodal_gif.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 100""",
    // the audio FRAME sampling is REAL (a 1-second PCM window from the
    // sampled timestamp, re-assembled as a WAV): the oracle joins a
    // fixture whose window offset, clamped length, duration and envelope
    // were recomputed by an INDEPENDENT Python replay of the sampler's
    // contract from the sample formula (tools/gen_golden_q160.py, no
    // audio library) — the envelope only matches if the emitted window
    // carries the source samples from the right offset. Keyed on doc_id
    // only (q31's reasoning)
    "q160_multimodal_audio_frames" ->
      """SELECT d.doc_id AS media_id, g.sample_rate, g.channels,
                g.duration_ms, g.n_frames, g.envelope
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q160_multimodal_audio_frames.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 100""",
    // the video decode is REAL (hand-parsed RIFF/AVI container + per-frame
    // javax.imageio JPEG decode over clips the query synthesizes from
    // doc_id alone): the oracle joins a committed fixture of decoded
    // dims/clock duration/sample count + frame-0 and MID-FRAME luma grids
    // recomputed by an INDEPENDENT Python reimplementation of the tile
    // formula (tools/gen_golden_q157.py, no video/image library — sound
    // because quality-1.0 JPEGs of 16-aligned constant tiles roundtrip
    // bit-exactly). The mid-frame grid matches only if frame selection
    // genuinely walks the strh frame clock. Keyed on doc_id only (q31's
    // reasoning)
    "q157_multimodal_video" ->
      """SELECT d.doc_id AS media_id, g.width, g.height, g.duration_ms,
                g.n_frames, g.luma0, g.luma_mid
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q157_multimodal_video.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 100""",
    // the video RESIZE is REAL (per-frame MJPEG decode → bilinear
    // rescale → q=1.0 JPEG re-encode → container reassembly with the
    // same clock): the oracle joins a fixture computed with NO image
    // library from the constant-frame formula — sound because bilinear
    // of a constant is the constant and q=1.0 JPEG of a constant
    // roundtrips exactly at any dims; the preserved duration/sample
    // count pin the reassembled clock, the constants pin every frame
    // surviving the decode → rescale → re-encode → re-decode chain.
    // Keyed on doc_id only (q31's reasoning)
    "q159_multimodal_video_resize" ->
      """SELECT d.doc_id AS media_id, g.width, g.height, g.duration_ms,
                g.n_frames, g.luma0, g.luma_mid
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q159_multimodal_video_resize.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 100""",
    // the perceptual hash is REAL (decoded pixels through the documented
    // 8×9 block-mean gradient grid): the oracle joins a fixture whose
    // every hash was recomputed by an INDEPENDENT Python reimplementation
    // of the pixel formula (tools/gen_golden_q161.py, no image library).
    // Keyed on doc_id only (q31's reasoning)
    "q161_image_dhash" ->
      """SELECT d.doc_id AS media_id, g.dhash
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q161_image_dhash.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 100""",
    // image near-dup removal re-derived END TO END from the committed
    // hash fixture: pairs = bit_count(xor) <= 3 over all id pairs (the
    // blocking's guaranteed-recall contract makes exhaustive SQL pairing
    // the honest oracle), survivors = ids that are nobody's
    // larger-id duplicate (the transform's greedy pair-drop)
    "q162_image_neardup" ->
      """SELECT d.doc_id
         FROM documents d
         WHERE d.doc_id < 100 AND NOT EXISTS (
           SELECT 1
           FROM read_parquet('/root/repo/src/test/resources/golden/q161_image_dhash.parquet') a
           JOIN read_parquet('/root/repo/src/test/resources/golden/q161_image_dhash.parquet') b
             ON a.doc_id < b.doc_id
            AND bit_count(xor(a.dhash, b.dhash)) <= 3
           WHERE b.doc_id = d.doc_id)""",
    // incremental image dedup vs the persisted store, replayed from the
    // SAME committed dHash fixture on both sides: an increment doc
    // survives iff no history doc (doc_id < 30) is within hamming 3
    "q173_dedup_image_store" ->
      """SELECT d.doc_id
         FROM documents d
         WHERE d.doc_id >= 50 AND d.doc_id < 100 AND NOT EXISTS (
           SELECT 1
           FROM read_parquet('/root/repo/src/test/resources/golden/q161_image_dhash.parquet') n
           JOIN read_parquet('/root/repo/src/test/resources/golden/q161_image_dhash.parquet') h
             ON h.doc_id < 30
            AND bit_count(xor(n.dhash, h.dhash)) <= 3
           WHERE n.doc_id = d.doc_id)""",
    // the audio perceptual hash is REAL (parsed PCM samples through the
    // documented 65-window envelope-gradient grid): the oracle joins a
    // fixture recomputed by an INDEPENDENT Python reimplementation of
    // the sample formula (tools/gen_golden_q163.py, no audio library).
    // Keyed on doc_id only (q31's reasoning)
    "q163_audio_ahash" ->
      """SELECT d.doc_id AS media_id, g.ahash
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q163_audio_ahash.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 100""",
    // audio near-dup removal re-derived end to end from the committed
    // hash fixture (the q162 statement for sound): pairs =
    // bit_count(xor) <= 2 over all id pairs, survivors = ids that are
    // nobody's larger-id duplicate
    "q164_audio_neardup" ->
      """SELECT d.doc_id
         FROM documents d
         WHERE d.doc_id < 100 AND NOT EXISTS (
           SELECT 1
           FROM read_parquet('/root/repo/src/test/resources/golden/q163_audio_ahash.parquet') a
           JOIN read_parquet('/root/repo/src/test/resources/golden/q163_audio_ahash.parquet') b
             ON a.doc_id < b.doc_id
            AND bit_count(xor(a.ahash, b.ahash)) <= 2
           WHERE b.doc_id = d.doc_id)""",
    // both video perceptual hashes are REAL (every frame's decoded
    // pixels through the documented 65-window luma-trajectory grid +
    // the frame-0 dHash grid): the oracle joins a fixture recomputed by
    // an INDEPENDENT Python reimplementation of the tile formula
    // (tools/gen_golden_q165.py, no video/image library). Keyed on
    // doc_id only (q31's reasoning)
    "q165_video_thash" ->
      """SELECT d.doc_id AS media_id, g.thash, g.dhash
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q165_video_thash.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 100""",
    // video near-dup removal re-derived end to end from the committed
    // hash fixture (the q162/q164 statement for timed visual media):
    // pairs must clear BOTH budgets — bit_count(xor(thash)) <= 2
    // (temporal blocking) AND bit_count(xor(dhash)) <= 2 (spatial
    // confirm) — survivors = ids that are nobody's larger-id duplicate
    "q166_video_neardup" ->
      """SELECT d.doc_id
         FROM documents d
         WHERE d.doc_id < 100 AND NOT EXISTS (
           SELECT 1
           FROM read_parquet('/root/repo/src/test/resources/golden/q165_video_thash.parquet') a
           JOIN read_parquet('/root/repo/src/test/resources/golden/q165_video_thash.parquet') b
             ON a.doc_id < b.doc_id
            AND bit_count(xor(a.thash, b.thash)) <= 2
            AND bit_count(xor(a.dhash, b.dhash)) <= 2
           WHERE b.doc_id = d.doc_id)""",
    // every media quality signal is REAL (decoded pixels / PCM samples
    // through the documented brightness/contrast/sharpness and
    // rms/clip/silence arithmetic): the oracle joins a fixture
    // recomputed by an INDEPENDENT Python reimplementation of the
    // pixel/tile/sample formulas (tools/gen_golden_q167.py, no media
    // library). Keyed on doc_id only (q31's reasoning)
    "q167_media_signals" ->
      """SELECT d.doc_id AS media_id, g.modality, g.width, g.height,
                g.duration_ms, g.brightness, g.contrast, g.sharpness,
                g.rms, g.clip_frac, g.silence_frac
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q167_media_signals.parquet') g
           ON g.doc_id = d.doc_id
         WHERE d.doc_id < 99""",
    // the composed media-curation survivor set re-derived end to end
    // from the committed fixture (signals + hashes recomputed from the
    // pixel formula by tools/gen_golden_q168.py): the gate CTE replays
    // decodability + the quality thresholds, and the near-dup pair
    // universe is the GATE SURVIVORS (the composed semantics — dedup
    // sees only what the gate passed), exhaustive bit_count(xor) <= 3
    "q168_media_curation" ->
      """WITH pass AS (
           SELECT doc_id, dhash
           FROM read_parquet('/root/repo/src/test/resources/golden/q168_media_curation.parquet')
           WHERE ok AND contrast >= 71.0 AND sharpness >= 12.5
             AND brightness BETWEEN 16.0 AND 240.0
         )
         SELECT d.doc_id
         FROM documents d
         JOIN pass p ON p.doc_id = d.doc_id
         WHERE d.doc_id < 100 AND NOT EXISTS (
           SELECT 1
           FROM pass a
           JOIN pass b
             ON a.doc_id < b.doc_id
            AND bit_count(xor(a.dhash, b.dhash)) <= 3
           WHERE b.doc_id = d.doc_id)""",
    // the PQ planted-twin guarantee (q116's statement): self-code ADC
    // minimality ⇒ guaranteed candidate recall for identical twins, exact
    // re-rank + id tie-break ⇒ ranks 1..2 = (self, twin) exactly
    "q169_ann_pq_exact" ->
      """SELECT vec_id AS query_id, vec_id, 1 AS rank
         FROM embeddings WHERE vec_id < 5
         UNION ALL
         SELECT vec_id AS query_id, vec_id + 2000000 AS vec_id, 2 AS rank
         FROM embeddings WHERE vec_id < 5""",
    // the same planted-twin statement through the declarative route +
    // persisted PQ codebook store
    "q170_ann_pq_store_exact" ->
      """SELECT vec_id AS query_id, vec_id, 1 AS rank
         FROM embeddings WHERE vec_id < 5
         UNION ALL
         SELECT vec_id AS query_id, vec_id + 2000000 AS vec_id, 2 AS rank
         FROM embeddings WHERE vec_id < 5""",
    // the fully-persisted route (codebook + codes stores): q169's twin
    // statement, trains nothing, encodes nothing
    "q174_ann_pq_codes_exact" ->
      """SELECT vec_id AS query_id, vec_id, 1 AS rank
         FROM embeddings WHERE vec_id < 5
         UNION ALL
         SELECT vec_id AS query_id, vec_id + 2000000 AS vec_id, 2 AS rank
         FROM embeddings WHERE vec_id < 5""",
    // IVFADC: the twin assigns to the query's own (always-probed) top-1
    // list with the query's residual — the q169 statement composed
    "q171_ann_ivfpq_exact" ->
      """SELECT vec_id AS query_id, vec_id, 1 AS rank
         FROM embeddings WHERE vec_id < 5
         UNION ALL
         SELECT vec_id AS query_id, vec_id + 2000000 AS vec_id, 2 AS rank
         FROM embeddings WHERE vec_id < 5""",
    // the fully-persisted IVFADC route (combined + codes stores):
    // trains nothing, encodes nothing, q171's statement
    "q175_ann_ivfpq_codes_exact" ->
      """SELECT vec_id AS query_id, vec_id, 1 AS rank
         FROM embeddings WHERE vec_id < 5
         UNION ALL
         SELECT vec_id AS query_id, vec_id + 2000000 AS vec_id, 2 AS rank
         FROM embeddings WHERE vec_id < 5""",
    // incremental embedding dedup vs the planted one-hot reference:
    // %5 ∈ {0..3} increments duplicate a whole reference family (cosine
    // exactly 1 — structural hyperplane recall) and drop; %5 == 4 rows
    // are orthogonal to every reference vector and survive
    "q176_dedup_embedding_ref" ->
      """SELECT vec_id + 5000000 AS vec_id
         FROM embeddings WHERE vec_id < 20 AND vec_id % 5 = 4""",
    // the same survivor statement through SemDeDup cells (one codebook
    // assigns both sides; orthogonal rows verify at cosine 0 and live)
    "q177_dedup_semantic_ref" ->
      """SELECT vec_id + 6000000 AS vec_id
         FROM embeddings WHERE vec_id < 20 AND vec_id % 5 = 4""",
    // the same statement through the declarative route + persisted
    // COMBINED store
    "q172_ann_ivfpq_store_exact" ->
      """SELECT vec_id AS query_id, vec_id, 1 AS rank
         FROM embeddings WHERE vec_id < 5
         UNION ALL
         SELECT vec_id AS query_id, vec_id + 2000000 AS vec_id, 2 AS rank
         FROM embeddings WHERE vec_id < 5""",
    // the COMPOSED DSIR + lang-classify pipeline: the proven oracle
    // fragments chained as CTEs in pipeline order — q149's trained
    // classify (model → totals/vocab → per-doc smoothed scores →
    // struct-max argmax) elects the predicted-English slice, q151's DSIR
    // statement rescores it (raw model from the FILTERED slice — the
    // composed semantics — target from the true-en minCount=1 store),
    // q86's quantile_cont(0.5) gate keeps the top half, and q130/q135's
    // md5-prefix race with weight = round(exp(importance), 4), seed 11,
    // k = 50 smallest keys, id tie-break elects the final set. Stage
    // order is part of the statement.
    "q158_dsir_lang_pipeline" ->
      """WITH md AS (
           SELECT lang, lower(text) AS t FROM documents
           WHERE text IS NOT NULL AND length(lower(text)) >= 3
         ), mg AS (
           SELECT lang, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM md
         ), model AS (
           SELECT lang AS label, substr(t, CAST(i AS BIGINT), 3) AS gram,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM mg GROUP BY 1, 2 HAVING count(*) >= 2
         ), totals AS (
           SELECT label, CAST(sum(cnt) AS BIGINT) AS total FROM model GROUP BY 1
         ), vocab AS (
           SELECT CAST(count(DISTINCT gram) AS BIGINT) AS v FROM model
         ), dd AS (
           SELECT doc_id, lower(text) AS t FROM documents
           WHERE text IS NOT NULL AND length(lower(text)) >= 3
         ), g AS (
           SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM dd
         ), tf AS (
           SELECT doc_id, substr(t, CAST(i AS BIGINT), 3) AS gram,
                  CAST(count(*) AS BIGINT) AS tf
           FROM g GROUP BY 1, 2
         ), doctot AS (
           SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_grams FROM tf GROUP BY 1
         ), matched AS (
           SELECT tf.doc_id, model.label,
                  sum(tf.tf * ln(CAST(model.cnt + 1 AS DOUBLE)
                                 / CAST(totals.total + vocab.v AS DOUBLE))) AS mll,
                  CAST(sum(tf.tf) AS BIGINT) AS mtf
           FROM tf JOIN model USING (gram) JOIN totals USING (label)
                CROSS JOIN vocab
           GROUP BY 1, 2
         ), scores AS (
           SELECT doctot.doc_id, totals.label,
                  coalesce(matched.mll, 0.0)
                  + (doctot.n_grams - coalesce(matched.mtf, 0))
                    * ln(1.0 / CAST(totals.total + vocab.v AS DOUBLE)) AS score
           FROM doctot CROSS JOIN totals CROSS JOIN vocab
           LEFT JOIN matched ON matched.doc_id = doctot.doc_id
                            AND matched.label = totals.label
         ), best AS (
           SELECT doc_id, max(struct_pack(s := score, l := label)) AS b
           FROM scores GROUP BY 1
         ), sel AS (
           SELECT dd.doc_id, dd.t
           FROM dd JOIN best USING (doc_id)
           WHERE best.b.l = 'en'
         ), sg AS (
           SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM sel
         ), stf AS (
           SELECT doc_id, substr(t, CAST(i AS BIGINT), 3) AS gram,
                  count(*) AS tf
           FROM sg GROUP BY 1, 2
         ), raw AS (
           SELECT gram, CAST(sum(tf) AS BIGINT) AS raw_cnt FROM stf GROUP BY 1
         ), td AS (
           SELECT lower(text) AS t FROM documents
           WHERE lang = 'en' AND text IS NOT NULL AND length(lower(text)) >= 3
         ), tg AS (
           SELECT t, unnest(generate_series(1, length(t) - 2)) AS i FROM td
         ), tgt AS (
           SELECT substr(t, CAST(i AS BIGINT), 3) AS gram,
                  CAST(count(*) AS BIGINT) AS tgt_cnt
           FROM tg GROUP BY 1
         ), dsmodel AS (
           SELECT coalesce(raw.gram, tgt.gram) AS gram,
                  coalesce(raw_cnt, 0) AS raw_cnt,
                  coalesce(tgt_cnt, 0) AS tgt_cnt
           FROM raw FULL JOIN tgt ON raw.gram = tgt.gram
         ), scal AS (
           SELECT CAST(sum(raw_cnt) AS BIGINT) AS raw_total,
                  CAST(sum(tgt_cnt) AS BIGINT) AS tgt_total,
                  count(*) AS v
           FROM dsmodel
         ), imp AS (
           SELECT stf.doc_id,
                  round(sum(stf.tf * (
                      ln(CAST(dsmodel.tgt_cnt + 1 AS DOUBLE)
                         / CAST(scal.tgt_total + scal.v AS DOUBLE))
                    - ln(CAST(dsmodel.raw_cnt + 1 AS DOUBLE)
                         / CAST(scal.raw_total + scal.v AS DOUBLE))
                  )) / sum(stf.tf), 4) + 0.0 AS importance
           FROM stf JOIN dsmodel USING (gram) CROSS JOIN scal GROUP BY 1
         ), thr AS (
           SELECT quantile_cont(importance, 0.5) AS lo FROM imp
         ), wts AS (
           SELECT imp.doc_id, imp.importance,
                  round(exp(imp.importance), 4) AS dsir_w
           FROM imp, thr WHERE imp.importance >= thr.lo
         )
         SELECT doc_id, importance, dsir_w FROM (
           SELECT doc_id, importance, dsir_w,
                  -ln((CAST(CONCAT('0x',
                         substr(md5(CONCAT('11', ':', CAST(doc_id AS VARCHAR))), 1, 13))
                       AS BIGINT) + 0.5) / 4503599627370496.0)
                    / dsir_w AS race_key
           FROM wts WHERE dsir_w > 0)
         ORDER BY race_key, doc_id LIMIT 50""",
    // the COMPOSED curation pipeline: every stage's proven oracle
    // fragment chained as CTEs in the same order the YAML chains the
    // transforms — q152's strip chain, q85's nfc, q23's token count
    // (restated as \S+ because post-strip text carries real newlines and
    // tokenCount strips the full whitespace set, not just spaces), q91's
    // Gopher rules at this pipeline's thresholds, q81's first-occurrence
    // line election on REAL \n lines, the shingle-fingerprint template's
    // threshold-1.0 statement, q92's seeded cap window, q110's packing
    // arithmetic. Stage order is part of the statement.
    "q154_curation_pipeline" ->
      ("""WITH w AS (
           SELECT doc_id, source,
             '<!DOCTYPE html><html><head><style>p{color:red}</style>' ||
             '<script>var x=1<2;</script></head><body><!-- ' ||
             doc_id::VARCHAR || ' --><h1>Doc &amp; &lt;title&gt;</h1><p>' ||
             text ||
             '</p><ul><li>alpha</li><li>beta</li></ul></body></html>' AS t
           FROM documents WHERE text IS NOT NULL
         ), st AS (
           SELECT doc_id, source,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(t,
               '(?is)<script\b[^>]*>.*?</script\s*>', '', 'g'),
               '(?is)<style\b[^>]*>.*?</style\s*>', '', 'g'),
               '(?s)<!--.*?-->', '', 'g'),
               '(?i)<!DOCTYPE[^>]*>', '', 'g'),
               '(?i)<(?:br|/p|/div|/li|/tr|/h[1-6]|/ul|/ol|/table)\b[^>]*/?>',
                 chr(10), 'g'),
               '(?s)</?[A-Za-z][^>]*>', '', 'g') AS t
           FROM w
         ), en AS (
           SELECT doc_id, source,
             replace(replace(replace(replace(replace(replace(t,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
           FROM st
         ), cl AS (
           SELECT doc_id, source,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
               '[ \t\x0B\f\r]+', ' ', 'g'),
               ' ?\n ?', chr(10), 'g'),
               '\n{3,}', chr(10) || chr(10), 'g'),
               '^\s+|\s+$', '', 'g') AS t
           FROM en
         ), nrm AS (
           SELECT doc_id, source, nfc_normalize(t) AS t FROM cl
         ), gated AS (
           SELECT * FROM nrm
           WHERE len(regexp_extract_all(t, '\S+')) >= 18
         ), gsig AS (
           SELECT doc_id, source, t,
                  regexp_split_to_array(lower(trim(t)), '\s+') AS toks,
                  string_split(t, chr(10)) AS ls
           FROM gated
         ), gq AS (
           SELECT doc_id, source, t,
                  CASE WHEN length(trim(t)) = 0 THEN 0 ELSE len(toks) END AS n_words,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE list_sum(list_transform(toks, x -> length(x)))
                            * 1.0 / len(toks) END AS mean_len,
                  len(regexp_extract_all(t, '#|\.\.\.|…')) AS n_sym,
                  len(ls) AS n_lines,
                  len(list_filter(ls,
                      l -> regexp_matches(ltrim(l), '^[-*•]'))) AS n_bullet,
                  len(list_filter(ls,
                      l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS n_ellip,
                  len(list_filter(toks,
                      x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
                  len(list_intersect(toks, ['the','be','to','of','and',
                                            'that','have','with'])) AS stop_hits
           FROM gsig
         ), quality AS (
           SELECT doc_id, source, t FROM gq
           WHERE NOT (t IS NULL OR length(trim(t)) = 0)
             AND NOT (n_words < 12 OR n_words > 100000)
             AND NOT (mean_len < 2.5 OR mean_len > 12.0)
             AND NOT ((CASE WHEN n_words = 0 THEN 0.0
                       ELSE n_sym * 1.0 / n_words END) > 0.1)
             AND NOT ((CASE WHEN n_lines = 0 THEN 0.0
                       ELSE n_bullet * 1.0 / n_lines END) > 0.9)
             AND NOT ((CASE WHEN n_lines = 0 THEN 0.0
                       ELSE n_ellip * 1.0 / n_lines END) > 0.3)
             AND NOT ((CASE WHEN n_words = 0 THEN 0.0
                       ELSE n_alpha * 1.0 / n_words END) < 0.55)
             AND NOT (stop_hits < 1)
         ), lined AS (
           SELECT doc_id, source, unnest(generate_series(1, len(ls))) AS pos, ls
           FROM (SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM quality)
         ), lx AS (
           SELECT doc_id, source, pos, ls[pos] AS ln FROM lined
         ), surv AS (
           SELECT ln, min(struct_pack(id := doc_id, p := pos)) AS first
           FROM lx WHERE length(ln) >= 1 GROUP BY ln
         ), lkept AS (
           SELECT x.doc_id, x.source, x.pos, x.ln
           FROM lx x LEFT JOIN surv sv ON sv.ln = x.ln AND length(x.ln) >= 1
           WHERE sv.ln IS NULL OR (sv.first.id = x.doc_id AND sv.first.p = x.pos)
         ), rebuilt AS (
           SELECT q.doc_id, q.source, coalesce(k.t2, '') AS t
           FROM quality q LEFT JOIN (
             SELECT doc_id, array_to_string(list(ln ORDER BY pos), chr(10)) AS t2
             FROM lkept GROUP BY doc_id) k USING (doc_id)
         ), nonempty AS (
           SELECT doc_id, source, t AS text FROM rebuilt WHERE length(t) > 0
         ), """ +
        shingleFpCtes("nonempty", "doc_id, source") +
        """, deduped AS (
           SELECT doc_id, source, text FROM (
             SELECT doc_id, source, text,
                    min(doc_id) OVER (PARTITION BY fp) AS keeper
             FROM (SELECT f.doc_id, f.source, f.fp, n.text
                   FROM fp f JOIN nonempty n USING (doc_id))
           ) WHERE doc_id = keeper
         ), weighted AS (
           SELECT doc_id, source,
                  len(regexp_extract_all(text, '\S+')) AS w
           FROM deduped
         ), capped AS (
           SELECT doc_id, source, w FROM (
             SELECT doc_id, source, w,
                    coalesce(sum(w) OVER (PARTITION BY source
                      ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
             FROM weighted
           ) WHERE cb < 400
         ), pc AS (
           SELECT doc_id, source, w,
                  CAST(coalesce(sum(w) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
           FROM capped
         ), ps AS (
           SELECT doc_id, source, w, cb,
                  unnest(range(cb // 256, (cb + w - 1) // 256 + 1)) AS seq_id
           FROM pc WHERE w > 0
         )
         SELECT doc_id, source, CAST(seq_id AS BIGINT) AS seq_id,
                CAST(greatest(0, seq_id * 256 - cb) AS BIGINT) AS tok_start,
                CAST(least(w, (seq_id + 1) * 256 - cb) AS BIGINT) AS tok_end,
                CAST(greatest(0, cb - seq_id * 256) AS BIGINT) AS pos_in_seq
         FROM ps"""),
    // q42's shingle semantics, compared as SET FINGERPRINTS (sorted
    // distinct shingles joined on chr(30) — a byte no shingle can contain):
    // at threshold 1.0 the minhash path drops exactly the increment docs
    // whose shingle set equals some reference doc's
    "q107_minhash_incr_exact" -> minhashIncrOracle,
    // store-backed incremental minhash has IDENTICAL semantics to q107 —
    // the signature store changes where the reference's (sh, sig) come
    // from, not what matches — so the oracle IS q107's statement
    "q117_minhash_store_exact" -> minhashIncrOracle,
    // self-dedup at threshold 1.0: greedy pair-drop removes every doc with
    // a smaller-id shingle-set twin — keep iff doc_id = min(doc_id) of its
    // fingerprint group
    "q108_minhash_self_exact" ->
      ("WITH " + plantedCopiesCte("doc_id, source") + ", " +
        shingleFpCtes("base", "doc_id, source") +
        """
         SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  min(doc_id) OVER (PARTITION BY fp) AS keeper
           FROM fp) WHERE doc_id = keeper"""),
    // q108's fingerprint-group construction with q36's (doc_id, lang)
    // projection — greedy pair-drop at threshold 1.0 keeps each identical-
    // shingle-set group's minimum id
    "q126_pipeline_neardup_exact" ->
      ("WITH " + plantedCopiesCte("doc_id, lang") + ", " +
        shingleFpCtes("base", "doc_id, lang") +
        """
         SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  min(doc_id) OVER (PARTITION BY fp) AS keeper
           FROM fp) WHERE doc_id = keeper"""),
    // q108's shingle-fingerprint dup groups with the survivor election
    // flipped to max(quality = doc_id%7), ties toward the smaller id
    "q123_dedup_survivor" ->
      ("WITH " + plantedCopiesCte("doc_id, source") + ", " +
        shingleFpCtes("base", "doc_id, source") +
        """
         SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY fp
                    ORDER BY CAST(doc_id % 7 AS DOUBLE) DESC, doc_id ASC) AS rn
           FROM fp) WHERE rn = 1"""),
    // the packing window PARTITION BY lang: per-stratum prefix sum
    "q112_pack_grouped" ->
      """WITH c AS (
           SELECT doc_id, lang, n_chars AS w,
                  CAST(coalesce(sum(n_chars) OVER (PARTITION BY lang
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
           FROM documents
         ), s AS (
           SELECT doc_id, lang, w, cb,
                  unnest(range(cb // 4096, (cb + w - 1) // 4096 + 1)) AS seq_id
           FROM c WHERE w > 0
         )
         SELECT doc_id, lang, CAST(seq_id AS BIGINT) AS seq_id,
                CAST(greatest(0, seq_id * 4096 - cb) AS BIGINT) AS tok_start,
                CAST(least(w, (seq_id + 1) * 4096 - cb) AS BIGINT) AS tok_end,
                CAST(greatest(0, cb - seq_id * 4096) AS BIGINT) AS pos_in_seq
         FROM s""",
    // same packing window, then per-sequence ordered concatenation
    // (string_agg ORDER BY pos_in_seq == the Spark array_sort fold)
    "q111_pack_sequences_text" ->
      """WITH c AS (
           SELECT doc_id, text, length(text) AS w,
                  CAST(coalesce(sum(length(text)) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
           FROM documents
         ), s AS (
           SELECT doc_id, text, w, cb,
                  unnest(range(cb // 4096, (cb + w - 1) // 4096 + 1)) AS seq_id
           FROM c WHERE w > 0
         ), spans AS (
           SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
                  CAST(greatest(0, seq_id * 4096 - cb) AS BIGINT) AS tok_start,
                  CAST(least(w, (seq_id + 1) * 4096 - cb) AS BIGINT) AS tok_end,
                  CAST(greatest(0, cb - seq_id * 4096) AS BIGINT) AS pos_in_seq,
                  text
           FROM s
         )
         SELECT seq_id,
                md5(string_agg(substring(text, CAST(tok_start + 1 AS INT),
                                         CAST(tok_end - tok_start AS INT)), ''
                               ORDER BY pos_in_seq)) AS seq_md5,
                count(*) AS n_docs,
                CAST(sum(tok_end - tok_start) AS BIGINT) AS seq_weight
         FROM spans GROUP BY seq_id""",
    // the packing window: exclusive prefix sum in doc_id order, span
    // explode via range(); all arithmetic exact integer on both sides
    "q110_pack_sequences" ->
      """WITH c AS (
           SELECT doc_id, n_chars AS w,
                  CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
           FROM documents
         ), s AS (
           SELECT doc_id, w, cb,
                  unnest(range(cb // 4096, (cb + w - 1) // 4096 + 1)) AS seq_id
           FROM c WHERE w > 0
         )
         SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
                CAST(greatest(0, seq_id * 4096 - cb) AS BIGINT) AS tok_start,
                CAST(least(w, (seq_id + 1) * 4096 - cb) AS BIGINT) AS tok_end,
                CAST(greatest(0, cb - seq_id * 4096) AS BIGINT) AS pos_in_seq
         FROM s""",
    // exclusive prefix sum over doc_id order; integer division for the
    // shard id (exact long arithmetic on both sides)
    "q43_shard_pack" ->
      """WITH c AS (
           SELECT doc_id,
                  coalesce(sum(n_chars) OVER (ORDER BY doc_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                                       AND 1 PRECEDING), 0) AS cb
           FROM documents)
         SELECT doc_id, CAST(cb AS BIGINT) AS cum_before,
                CAST(cb // 50000 AS BIGINT) AS shard_id
         FROM c""",
    // the shuffle permutation re-derived from (seed, id): both engines md5
    // the same "seed:id" string (lowercase hex on both) and rank by
    // (hash, id); row_number is 1-based, shuffle_pos 0-based
    "q84_shuffle" ->
      """SELECT doc_id,
         row_number() OVER (ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)),
                            doc_id) - 1 AS shuffle_pos
         FROM documents""",
    "q44_sample_mod" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 10 < 3",
    // per-column stats via UNION ALL of one-aggregate selects; quantile_cont
    // interpolates exactly like Spark's percentile (same (1-f)*a + f*b on
    // doubles); HUGEINT/odd counts cast to BIGINT
    "q54_profile" -> Seq("l_quantity", "l_discount", "l_tax").map { c =>
      s"""SELECT '$c' AS column_name, count($c) AS n_values,
                 CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
                 CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
                 CAST(min($c) AS DOUBLE) AS min_value,
                 CAST(max($c) AS DOUBLE) AS max_value,
                 round(avg(CAST($c AS DOUBLE)), 4) AS avg_value,
                 round(quantile_cont(CAST($c AS DOUBLE), 0.5), 4) AS p50_value
          FROM lineitem"""
    }.mkString(" UNION ALL "),
    // mixture weights as bucket thresholds: en keeps doc_id%100 < 50,
    // de everything, fr < 25, unlisted languages drop
    "q56_mix_weights" ->
      """SELECT doc_id, lang FROM documents
         WHERE (lang = 'en' AND doc_id % 100 < 50)
            OR lang = 'de'
            OR (lang = 'fr' AND doc_id % 100 < 25)""",
    // the exponential race re-derived: identical u from the md5 prefix
    // (hex cast + the same exact (v+0.5)/2^52), identical -ln(u)/w keys,
    // k smallest win with the same id tie-break
    "q130_sample_weighted" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  -ln((CAST(CONCAT('0x',
                         substr(md5(CONCAT('7', ':', CAST(doc_id AS VARCHAR))), 1, 13))
                       AS BIGINT) + 0.5) / 4503599627370496.0)
                    / CAST(n_chars AS DOUBLE) AS race_key
           FROM documents WHERE n_chars > 0)
         ORDER BY race_key, doc_id LIMIT 100""",
    // temperature mixing re-derived end-to-end: same 4-decimal weight
    // rounding as the operator, same floor/threshold copy arithmetic,
    // copies materialized by unnesting the scalar generate_series list
    // (empty at c = 0, so zero-weight rows drop)
    // q139: q128's derivation with n = Σ n_chars per group (token-weighted
    // temperature), zero/null-sum groups excluded like the operator
    "q139_mix_temperature_tokens" ->
      """SELECT doc_id, lang FROM (
           WITH counts AS (
             SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS n
             FROM documents WHERE lang IS NOT NULL GROUP BY lang
             HAVING sum(n_chars) > 0),
           tot AS (SELECT sum(pow(n, 0.5)) AS z, sum(n) AS b FROM counts),
           wts AS (SELECT lang, round(b * pow(n, 0.5) / (z * n), 4) AS w
                   FROM counts, tot),
           cop AS (SELECT d.doc_id, d.lang,
                     CAST(floor(w) AS BIGINT)
                       + CASE WHEN d.doc_id % 100 < round((w - floor(w)) * 100)
                              THEN 1 ELSE 0 END AS c
                   FROM documents d JOIN wts USING (lang))
           SELECT doc_id, lang,
                  unnest(generate_series(1, CAST(c AS BIGINT))) AS i
           FROM cop)""",
    "q128_mix_temperature" ->
      """SELECT doc_id, lang FROM (
           WITH counts AS (
             SELECT lang, CAST(count(*) AS DOUBLE) AS n
             FROM documents WHERE lang IS NOT NULL GROUP BY lang),
           tot AS (SELECT sum(pow(n, 0.5)) AS z, sum(n) AS b FROM counts),
           wts AS (SELECT lang, round(b * pow(n, 0.5) / (z * n), 4) AS w
                   FROM counts, tot),
           cop AS (SELECT d.doc_id, d.lang,
                     CAST(floor(w) AS BIGINT)
                       + CASE WHEN d.doc_id % 100 < round((w - floor(w)) * 100)
                              THEN 1 ELSE 0 END AS c
                   FROM documents d JOIN wts USING (lang))
           SELECT doc_id, lang,
                  unnest(generate_series(1, CAST(c AS BIGINT))) AS i
           FROM cop)""",
    // grouped variant of q54's per-column stats
    "q58_profile_grouped" -> Seq("l_quantity", "l_discount").map { c =>
      s"""SELECT l_returnflag, '$c' AS column_name, count($c) AS n_values,
                 CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
                 CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
                 CAST(min($c) AS DOUBLE) AS min_value,
                 CAST(max($c) AS DOUBLE) AS max_value,
                 round(avg(CAST($c AS DOUBLE)), 4) AS avg_value,
                 round(quantile_cont(CAST($c AS DOUBLE), 0.5), 4) AS p50_value
          FROM lineitem GROUP BY l_returnflag"""
    }.mkString(" UNION ALL "),
    // exact per-language quota: smallest (doc_id % 97, doc_id) pairs —
    // identical total order to the bounded-heap aggregator's (score desc =
    // bucket asc, id asc)
    "q53_sample_stratified" ->
      """SELECT doc_id, lang, source FROM documents
         QUALIFY row_number() OVER (PARTITION BY lang
                                    ORDER BY doc_id % 97, doc_id) <= 40""",
    // gap sessions: break where the ms-floored gap to the previous event
    // exceeds 30 min; running sum of breaks = session id. Emitted set =
    // sessions the final watermark closed: last_event + gap strictly below
    // max(ts) (both ms-floored — Spark tracks watermarks and this
    // operator's state in epoch millis).
    "q46_sessionize" ->
      """WITH e AS (
           SELECT user_id, epoch_ms(ts::TIMESTAMP) AS tms, value FROM events
         ), m AS (
           SELECT *, CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
                               > 1800000 THEN 1 ELSE 0 END AS brk
           FROM e
         ), g AS (
           SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tms
                                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM m
         ), sess AS (
           SELECT user_id, min(tms) AS session_start_ms,
                  max(tms) + 1800000 AS session_end_ms,
                  count(*) AS n_events, round(sum(value), 2) AS total_value
           FROM g GROUP BY user_id, sid
         )
         SELECT user_id, CAST(session_start_ms AS BIGINT) AS session_start_ms,
                CAST(session_end_ms AS BIGINT) AS session_end_ms,
                n_events, total_value
         FROM sess
         WHERE session_end_ms < (SELECT max(epoch_ms(ts::TIMESTAMP)) FROM events)""",
    // DuckDB's native ASOF JOIN: greatest purchase ts <= click ts per user,
    // ties include the simultaneous purchase (>= is inclusive) — identical
    // to the union+running-window pick. Inner semantics = matched only.
    "q52_asof_join" ->
      """WITH l AS (
           SELECT event_id, user_id, ts::TIMESTAMP AS t
           FROM events WHERE event_type = 'click'
         ), r AS (
           SELECT user_id, t, ref_id, ref_value FROM (
             SELECT user_id, ts::TIMESTAMP AS t, event_id AS ref_id,
                    value AS ref_value,
                    row_number() OVER (PARTITION BY user_id, ts
                                       ORDER BY event_id DESC) AS rn
             FROM events WHERE event_type = 'purchase')
           WHERE rn = 1
         )
         SELECT l.event_id, l.user_id, epoch_ms(l.t) AS ts_ms,
                r.ref_id, round(r.ref_value, 2) AS ref_value
         FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.t >= r.t""",
    // list_reduce is a sequential left fold like Spark's aggregate() (and
    // 0.0 + v1 ≡ v1 in IEEE), so norms are bit-identical; ×1e6 integers
    // sidestep double→string formatting differences
    "q60_vec_normalize" ->
      """WITH m AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
         ), n AS (
           SELECT vec_id, e,
                  sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)) AS nrm
           FROM m
         )
         SELECT vec_id,
                array_to_string(list_transform(e, x ->
                  CAST(round(CASE WHEN nrm = 0 THEN x ELSE x / nrm END * 1000000.0) AS BIGINT)),
                  ',') AS nvec
         FROM n""",
    // the binned equi-join + exact filter must equal the naive inequality
    // join exactly; half-open [lo, hi) on microsecond-truncated timestamps
    "q55_range_join" ->
      """WITH l AS (
           SELECT event_id, user_id, ts::TIMESTAMP AS t
           FROM events WHERE event_type = 'click'
         ), r AS (
           SELECT user_id, ts::TIMESTAMP AS lo,
                  ts::TIMESTAMP + INTERVAL 2 HOUR AS hi, event_id AS ref_id
           FROM events WHERE event_type = 'purchase'
         )
         SELECT l.event_id, l.user_id, epoch_ms(l.t) AS ts_ms, r.ref_id
         FROM l JOIN r ON l.user_id = r.user_id AND r.lo <= l.t AND l.t < r.hi""",
    // same arithmetic: double cast, |max|/127 scale (1.0 for zero vectors),
    // round() is away-from-zero in both engines; integral doubles cast
    // exactly to INTEGER
    "q51_quantize_int8" ->
      """WITH m AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> abs(x))) AS am
           FROM embeddings
         ), s AS (
           SELECT vec_id, v,
                  CASE WHEN am = 0 THEN 1.0 ELSE am / 127.0 END AS sc
           FROM m
         )
         SELECT vec_id, round(sc, 6) AS scale,
                array_to_string(list_transform(v,
                  x -> CAST(round(x / sc) AS INTEGER)::VARCHAR), ',') AS qvec
         FROM s""",
    // same rule order as RedactTransform: email, then phone, then ipv4;
    // 'g' flag = replace-all (Spark's regexp_replace default)
    "q50_redact" ->
      """SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(
           concat('reach user', doc_id::VARCHAR,
                  '@mail.example.com or 555-123-4567 or 10.0.0.',
                  (doc_id % 250)::VARCHAR, ' end'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '(?:\+|\b)\d{3}[- ]?\d{3}[- ]?\d{4}\b', '<PHONE>', 'g'),
           '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS contact
         FROM documents""",
    // same decomposed suffix (chr(769)=U+0301, chr(778)=U+030A), same step
    // order: NFC compose, collapse whitespace runs ('g' = replace-all,
    // Spark's default), trim; utf8proc and java.text.Normalizer implement
    // the same Unicode NFC spec
    "q85_normalize" ->
      """SELECT doc_id,
         trim(regexp_replace(
           nfc_normalize(text || ' cafe' || chr(769) || '  A' || chr(778)),
           '\s+', ' ', 'g')) AS text
         FROM documents""",
    // ShingleHashes parity again: non-distinct token / bigram multisets;
    // blank docs and <n-token docs collapse to one whole-text shingle
    "q49_repetition" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[\x00-\x20]+'),
                              x -> x <> '') AS toks
           FROM documents
         ), w AS (
           SELECT doc_id,
                  CASE WHEN len(toks) = 0 THEN [''] ELSE toks END AS u,
                  CASE WHEN len(toks) < 2
                       THEN [array_to_string(toks, chr(31))]
                       ELSE [array_to_string(toks[i:i+1], chr(31))
                             FOR i IN range(1, len(toks))]
                  END AS b
           FROM t
         )
         SELECT doc_id,
                round(1 - len(list_distinct(u))::DOUBLE / len(u)::DOUBLE, 4)
                  AS dup_word_frac,
                round(1 - len(list_distinct(b))::DOUBLE / len(b)::DOUBLE, 4)
                  AS dup_bigram_frac
         FROM w""",
    "q48_split_mod" ->
      """SELECT doc_id,
         CASE WHEN doc_id % 10 < 8 THEN 'train'
              WHEN doc_id % 10 < 9 THEN 'val'
              ELSE 'test' END AS split
         FROM documents""",
    // quantile_cont and Spark's exact percentile share the Hyndman-Fan
    // type-7 definition (rank = (n-1)p, linear interpolation); 0.25/0.75
    // make every intermediate exact in binary, so the >=/<= row
    // memberships cannot drift
    "q86_quantile_filter" ->
      """SELECT d.doc_id, d.lang, d.n_chars
         FROM documents d
         JOIN (SELECT lang,
                      quantile_cont(n_chars, 0.25) AS lo,
                      quantile_cont(n_chars, 0.75) AS hi
               FROM documents GROUP BY lang) t USING (lang)
         WHERE d.n_chars >= t.lo AND d.n_chars <= t.hi""",
    // sparse-regime heavy hitters: capacity (64) > distinct sources (20),
    // so build→merge→estimate returns every item with its exact count
    "q87_frequent_items" ->
      """SELECT source AS item, CAST(count(*) AS BIGINT) AS est_count
         FROM documents GROUP BY source""",
    // q142: q90's lined+planted-repeat construction; dup lines = n −
    // distinct, dup chars = total − Σ distinct first-occurrence lengths;
    // empty lines never participate (minLength 1)
    "q142_dup_line_signals" ->
      """WITH lined AS (
           SELECT doc_id,
                  [array_to_string(ws[i*8+1 : i*8+8], ' ')
                   FOR i IN range(0, ((len(ws) - 1) // 8) + 1)] AS ls
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         ), rep AS (
           SELECT doc_id, list_append(list_append(ls, ls[1]), ls[1]) AS ls
           FROM lined
         ), q AS (
           SELECT doc_id, list_filter(ls, l -> length(l) >= 1) AS ql FROM rep
         ), m AS (
           SELECT doc_id,
                  len(ql) AS nl, len(list_distinct(ql)) AS nd,
                  coalesce(list_sum(list_transform(ql, l -> length(l))), 0) AS tc,
                  coalesce(list_sum(list_transform(list_distinct(ql),
                    l -> length(l))), 0) AS dc
           FROM q
         )
         SELECT doc_id,
                CASE WHEN nl = 0 THEN 0.0
                     ELSE round(CAST(nl - nd AS DOUBLE) / nl, 4) END AS dup_line_frac,
                CASE WHEN tc = 0 THEN 0.0
                     ELSE round(CAST(tc - dc AS DOUBLE) / tc, 4) END AS dup_line_char_frac
         FROM m""",
    // same 8-word lined construction as q81; document scope = keep a
    // line's FIRST in-list position (list_position = own index), short
    // (here: only empty) lines always kept
    "q90_dedup_lines_doc" ->
      """WITH lined AS (
           SELECT doc_id,
                  [array_to_string(ws[i*8+1 : i*8+8], ' ')
                   FOR i IN range(0, ((len(ws) - 1) // 8) + 1)] AS ls
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         ), rep AS (
           SELECT doc_id, list_append(list_append(ls, ls[1]), ls[1]) AS ls
           FROM lined
         )
         SELECT doc_id,
                array_to_string(
                  list_filter(ls, (l, i) -> length(l) < 1
                                            OR list_position(ls, l) = i),
                  chr(10)) AS text
         FROM rep""",
    // every Gopher rule restated: same tokenization (lower+trim+\s+ split),
    // same first-failing-rule order; regexp_extract_all counts the same
    // non-overlapping #/ellipsis matches as Spark's regexp_count, and
    // list_intersect is distinct-hits like array_intersect
    "q91_quality_rules" ->
      """WITH m AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0 THEN text || ' # # # # # # # #'
                       WHEN doc_id % 13 = 0
                         THEN text || chr(10) || 'foo...' || chr(10) ||
                              'bar...' || chr(10) || 'baz...'
                       ELSE text END AS text
           FROM documents
         ), s AS (
           SELECT doc_id, text,
                  regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
                  string_split(text, chr(10)) AS ls
           FROM m
         ), sig AS (
           SELECT doc_id, text,
                  CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(toks) END AS n_words,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE list_sum(list_transform(toks, w -> length(w)))
                            * 1.0 / len(toks) END AS mean_len,
                  len(regexp_extract_all(text, '#|\.\.\.|…')) AS n_sym,
                  len(ls) AS n_lines,
                  len(list_filter(ls,
                      l -> regexp_matches(ltrim(l), '^[-*•]'))) AS n_bullet,
                  len(list_filter(ls,
                      l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS n_ellip,
                  len(list_filter(toks,
                      w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
                  len(list_intersect(toks, ['the','be','to','of','and',
                                            'that','have','with'])) AS stop_hits
           FROM s
         )
         SELECT doc_id, fail IS NULL AS gopher_keep,
                coalesce(fail, 'pass') AS gopher_fail
         FROM (
           SELECT doc_id,
                  CASE
                    WHEN text IS NULL OR length(trim(text)) = 0 THEN 'empty'
                    WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
                    WHEN mean_len < 3.0 OR mean_len > 10.0 THEN 'mean_word_length'
                    WHEN (CASE WHEN n_words = 0 THEN 0.0
                          ELSE n_sym * 1.0 / n_words END) > 0.1 THEN 'symbol_ratio'
                    WHEN (CASE WHEN n_lines = 0 THEN 0.0
                          ELSE n_bullet * 1.0 / n_lines END) > 0.9 THEN 'bullet_lines'
                    WHEN (CASE WHEN n_lines = 0 THEN 0.0
                          ELSE n_ellip * 1.0 / n_lines END) > 0.3 THEN 'ellipsis_lines'
                    WHEN (CASE WHEN n_words = 0 THEN 0.0
                          ELSE n_alpha * 1.0 / n_words END) < 0.8 THEN 'alpha_words'
                    WHEN stop_hits < 1 THEN 'stopwords'
                    ELSE NULL END AS fail
           FROM sig
         )""",
    // the windowed restatement of the grouped budget fill: exclusive
    // running sum in (md5(seed:id), id) order per source, keep while the
    // sum is under the group's budget (boundary doc included); Long.Max
    // states src7's '-' unlimited
    "q92_token_cap" ->
      """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars,
                  CASE WHEN source = 'src3' THEN 500
                       WHEN source = 'src7' THEN 9223372036854775807
                       ELSE 3000 END AS b,
                  coalesce(sum(n_chars) OVER (PARTITION BY source
                    ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM documents
         ) WHERE cb < b""",
    // the same normalization chain step by step (RE2-safe patterns; \1
    // replacements and the 'g' flag are DuckDB's spellings of Spark's
    // $1 / replace-all default)
    "q93_url_normalize" ->
      """WITH u AS (
           SELECT doc_id,
                  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Site'
                        ELSE 'http://cdn.site' END)
                  || CAST(doc_id % 7 AS VARCHAR) || '.COM'
                  || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
                  || '/Dir/' || CAST(doc_id AS VARCHAR)
                  || (CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&id=1&ref=x#Frag'
                           ELSE '?id=1&gclid=g' END) AS url
           FROM documents
         ), s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS u FROM u),
         s2 AS (SELECT doc_id,
                  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
                  || substr(u, length(regexp_extract(u,
                       '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) + 1) AS u
                FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
                  '^(http://[^/:?#]+):80([/?]|$)', '\1\2'),
                  '^(https://[^/:?#]+):443([/?]|$)', '\1\2') AS u FROM s2),
         s4 AS (SELECT doc_id, regexp_replace(u, '://www\.', '://', 'g') AS u FROM s3),
         s5 AS (SELECT doc_id, regexp_replace(u,
                  '([?&])(utm_[a-zA-Z0-9]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g') AS u
                FROM s4),
         s6 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(u,
                  '&&+', '&', 'g'), '\?&', '?', 'g'), '[?&]+$', '', 'g') AS u FROM s5),
         s7 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
                  '/\?', '?', 'g'), '/$', '', 'g') AS u FROM s6)
         SELECT doc_id, u AS url,
                lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host,
                regexp_extract(lower(regexp_extract(u,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)),
                  '([^.]+\.[^.]+)$', 1) AS domain
         FROM s7""",
    // same alternation pattern Blocklist.pattern builds: case-insensitive,
    // word-boundary-anchored literal phrases — the decoy 'unspamworded'
    // must not count in either engine
    "q94_blocklist" ->
      """WITH p AS (
           SELECT doc_id,
                  text
                  || (CASE WHEN doc_id % 5 = 0 THEN ' FORBIDDEN Widget here' ELSE '' END)
                  || (CASE WHEN doc_id % 7 = 0 THEN ' spamword spamword' ELSE '' END)
                  || (CASE WHEN doc_id % 11 = 0 THEN ' unspamworded' ELSE '' END) AS text
           FROM documents
         )
         SELECT doc_id,
                CAST(len(regexp_extract_all(lower(text),
                  '(?:\bforbidden widget\b|\bspamword\b)')) AS BIGINT) AS blocklist_hits,
                len(regexp_extract_all(lower(text),
                  '(?:\bforbidden widget\b|\bspamword\b)')) = 0 AS blocklist_keep
         FROM p""",
    // DuckDB ships no deflate, so the oracle joins a committed golden
    // fixture of independently-computed ratios (Python zlib raw deflate,
    // level 6 — byte-identical to java.util.zip.Deflater(6, nowrap); see
    // tools/gen_golden_q96.py). Keyed on (doc_id, md5(text)): a testdata
    // regeneration that changes any text makes the join drop rows → a LOUD
    // rowcount mismatch, never a silent stale match. Fixture is pre-rounded
    // HALF_UP@4 (same semantics as Spark round), so no cross-engine
    // rounding edge exists.
    "q96_compression_ratio" ->
      """SELECT d.doc_id, g.compression_ratio
         FROM documents d
         JOIN read_parquet('/root/repo/src/test/resources/golden/q96_compression_ratio.parquet') g
           ON g.doc_id = d.doc_id AND g.text_md5 = md5(d.text)""",
    // the SQL spelling the distributed prefix sum must be bit-identical to
    "q95_assign_ids" ->
      """SELECT doc_id, lang,
                row_number() OVER (ORDER BY lang, doc_id) - 1 AS row_id
         FROM documents""",
    // identical blocking semantics: equi-join on the 4-char lower prefix,
    // length band, then full levenshtein (the Spark side's banded
    // levenshtein(l, r, k) equals the full distance on every kept pair)
    "q98_fuzzy_join" ->
      """WITH l AS (SELECT doc_id, substr(text, 1, 24) AS title FROM documents),
              r AS (SELECT doc_id + 100000 AS r_doc_id,
                           substr(title, 1, 9) || 'z' || substr(title, 11, 14) AS r_title
                    FROM l)
         SELECT l.doc_id, r.r_doc_id,
                levenshtein(l.title, r.r_title) AS edit_distance
         FROM l JOIN r
           ON lower(substr(l.title, 1, 4)) = lower(substr(r.r_title, 1, 4))
          AND abs(length(l.title) - length(r.r_title)) <= 2
          AND levenshtein(l.title, r.r_title) <= 2""",
    // the same trim(lower(·)) normalization as q25: the case/whitespace-
    // mangled re-ingest rows collapse onto their reference keys and drop
    "q99_dedup_against" ->
      """WITH base AS (SELECT doc_id, source, text FROM documents),
              mang AS (SELECT doc_id + 500000 AS doc_id, source,
                              '  ' || upper(text) AS text
                       FROM documents WHERE doc_id < 50),
              allr AS (SELECT * FROM base UNION ALL SELECT * FROM mang),
              ref  AS (SELECT DISTINCT trim(lower(text)) AS k
                       FROM documents WHERE doc_id < 100)
         SELECT a.doc_id, a.source FROM allr a
         WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE trim(lower(a.text)) = r.k)""",
    // PMI restated with the q45/q82 tokenizations; identical double
    // arithmetic shape (numerator and denominator associate left) so the
    // pre-round ln values are bit-equal and the DESC ranking agrees
    "q100_collocations" ->
      """WITH t AS (
           SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '') AS toks
           FROM documents
         ), totals AS (
           SELECT CAST(sum(len(toks)) AS DOUBLE) AS w_total,
                  CAST(sum(greatest(len(toks) - 1, 0)) AS DOUBLE) AS b_total
           FROM t
         ), uc AS (
           SELECT w, count(*) AS cw FROM (SELECT unnest(toks) AS w FROM t)
           GROUP BY w
         ), bc AS (
           SELECT bigram, count(*) AS cxy FROM (
             SELECT unnest([array_to_string(toks[i:i+1], ' ')
                            FOR i IN range(1, len(toks))]) AS bigram
             FROM t WHERE len(toks) >= 2)
           GROUP BY bigram HAVING count(*) >= 5
         )
         SELECT bc.bigram, CAST(bc.cxy AS BIGINT) AS n,
                round(ln(CAST(bc.cxy AS DOUBLE) * w_total * w_total /
                         (b_total * u1.cw * u2.cw)), 4) AS pmi
         FROM bc
         CROSS JOIN totals
         JOIN uc u1 ON split_part(bc.bigram, ' ', 1) = u1.w
         JOIN uc u2 ON split_part(bc.bigram, ' ', 2) = u2.w
         ORDER BY pmi DESC, bigram LIMIT 50""",
    // planted nulls → fixed literals; BIGINT fill keeps the column integral
    "q104_fillna" ->
      """SELECT doc_id,
                coalesce(CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END,
                         'unk') AS lang2,
                coalesce(CASE WHEN doc_id % 5 = 0 THEN NULL ELSE n_chars END,
                         -1) AS score
         FROM documents""",
    // identical two-window restatement: IS DISTINCT FROM = Spark's null-safe
    // <=> negation; effective_to floats (bigint + nulls) on both sides
    "q102_scd2" ->
      """WITH mark AS (
           SELECT o_custkey, o_orderkey, o_orderstatus,
                  (row_number() OVER w = 1 OR
                   o_orderstatus IS DISTINCT FROM lag(o_orderstatus) OVER w) AS chg
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ), kept AS (
           SELECT o_custkey, o_orderkey, o_orderstatus FROM mark WHERE chg
         )
         SELECT o_custkey, o_orderstatus,
                o_orderkey AS effective_from,
                lead(o_orderkey) OVER w2 AS effective_to,
                lead(o_orderkey) OVER w2 IS NULL AS is_current
         FROM kept
         WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderkey)""",
    // same change-set derivation, then MERGE = ANTI JOIN (survivors) +
    // UNION ALL (non-delete changes)
    "q105_merge" ->
      """WITH changes AS (
           SELECT c_custkey, c_name, c_nationkey,
                  c_acctbal + 100 AS c_acctbal, c_mktsegment,
                  CASE WHEN c_custkey % 20 = 0 THEN 'D' ELSE 'U' END AS op
           FROM customer WHERE c_custkey % 10 = 0
           UNION ALL
           SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
                  c_mktsegment, 'I'
           FROM customer WHERE c_custkey % 25 = 0
         ), untouched AS (
           SELECT s.* FROM customer s ANTI JOIN changes c USING (c_custkey)
         )
         SELECT c_custkey, c_name, c_nationkey,
                CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
         FROM untouched
         UNION ALL
         SELECT c_custkey, c_name, c_nationkey,
                CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
         FROM changes WHERE op <> 'D'""",
    // both engines interpolate even-count medians; same op order keeps
    // the doubles bit-identical before round
    "q106_scale_robust" ->
      """WITH m AS (SELECT median(n_chars) AS med FROM documents),
              d AS (SELECT median(abs(n_chars - m.med)) AS mad FROM documents, m)
         SELECT doc_id,
                round((n_chars - m.med) / (1.4826 * d.mad), 4) AS n_chars_scaled
         FROM documents, m, d""",
    // 0-based ordinality via generate_subscripts, same token construction
    "q101_explode" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '') AS toks
           FROM documents WHERE doc_id < 50
         )
         SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
                unnest(toks) AS token
         FROM t""",
    // KLL inclusive-rank quantiles in the exact regime = quantile_disc
    // (both pick the smallest value whose rank covers p at these n/p)
    "q89_quantile_sketch" ->
      """SELECT lang,
                CAST(quantile_disc(n_chars, 0.25) AS DOUBLE) AS n_chars_p25,
                CAST(quantile_disc(n_chars, 0.5)  AS DOUBLE) AS n_chars_p50,
                CAST(quantile_disc(n_chars, 0.75) AS DOUBLE) AS n_chars_p75
         FROM documents GROUP BY lang""",
    // same shingle construction as q42 (ShingleHashes parity: lowercase,
    // byte-run tokens, 3-grams on chr(31), <3-token docs → whole-text
    // shingle); hash-vs-string set membership agrees modulo 2^-64 collisions
    "q47_decontaminate" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '[\x00-\x20]+'),
                              x -> x <> '') AS toks
           FROM documents
         ), s AS (
           SELECT doc_id,
                  CASE WHEN len(toks) < 3
                       THEN [array_to_string(toks, chr(31))]
                       ELSE list_distinct([array_to_string(toks[i:i+2], chr(31))
                                           FOR i IN range(1, len(toks) - 1)])
                  END AS sh
           FROM t
         ), bench AS (
           SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 20
         ), corpus AS (
           SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id >= 20
         )
         SELECT c.doc_id, count(DISTINCT c.g) AS n_overlap
         FROM corpus c JOIN bench b ON c.g = b.g
         GROUP BY c.doc_id""",
    // same tokenization as q23's oracle (lower+trim, split on \s+ runs)
    "q45_vocab_topk" ->
      """WITH w AS (
           SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                     x -> x <> '')) AS word
           FROM documents)
         SELECT word, count(*) AS n FROM w
         GROUP BY word ORDER BY n DESC, word LIMIT 100""",
    // same tokenization, space-joined adjacent pairs; docs under 2 tokens
    // contribute nothing (range() is end-exclusive, slices 1-based incl.)
    "q82_vocab_bigrams" ->
      """WITH t AS (
           SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '') AS toks
           FROM documents
         ), g AS (
           SELECT unnest([array_to_string(toks[i:i+1], ' ')
                          FOR i IN range(1, len(toks))]) AS word
           FROM t WHERE len(toks) >= 2
         )
         SELECT word, count(*) AS n FROM g
         GROUP BY word ORDER BY n DESC, word LIMIT 100""",
    // same tokenization as q45; smooth idf ln((1+N)/(1+df)) + 1, rounded —
    // ln on doubles agrees across engines at 4 decimals
    "q57_tfidf" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                     x -> x <> '')) AS term
           FROM documents
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
         ), dfq AS (
           SELECT term, count(*) AS df FROM tf GROUP BY 1
         ), n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfq.df)) + 1.0), 4) AS tfidf
         FROM tf JOIN dfq USING (term) CROSS JOIN n""",
    // identical formula tree: ln(1 + (N-df+.5)/(df+.5)) * tf(k1+1)/(tf +
    // k1(1-b+b·dl/avgdl)) with k1=1.2 b=0.75, rounded to 4
    "q59_bm25" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                     x -> x <> '')) AS term
           FROM documents
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
         ), dfq AS (
           SELECT term, count(*) AS df FROM tf GROUP BY 1
         ), dl AS (
           SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
         ), st AS (
           SELECT (SELECT count(*) FROM documents) AS n_docs,
                  (SELECT avg(CAST(dl AS DOUBLE)) FROM dl) AS avgdl
         )
         SELECT tf.doc_id, tf.term, tf.tf, dfq.df, dl.dl,
                round(ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
                      (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4)
                  AS bm25
         FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st""",
    // single unaliased pivot aggregate → columns named by the pivot values
    "q62_pivot" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) FILTER (l_linestatus = 'O') AS DOUBLE) AS "O",
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) FILTER (l_linestatus = 'F') AS DOUBLE) AS "F"
         FROM lineitem GROUP BY l_returnflag""",
    "q63_unpivot" -> Seq("l_quantity", "l_discount", "l_tax").map { c =>
      s"""SELECT l_orderkey, l_linenumber, '$c' AS measure, $c AS amount
          FROM lineitem WHERE l_orderkey % 10 = 0"""
    }.mkString(" UNION ALL "),
    // EXCEPT is distinct in both engines
    "q64_setop" ->
      """SELECT o_custkey AS custkey FROM orders
         EXCEPT
         SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0""",
    // quantile_cont interpolates exactly like Spark's percentile
    "q65_percentiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 4) AS p25,
         round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50,
         round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS p90,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag""",
    "q66_histogram" ->
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS n,
         round(avg(value), 2) AS avg_value
         FROM events GROUP BY 1""",
    // chunk grid: i-th chunk covers [i*stride, i*stride + size); the last
    // chunk starts so the doc end is always reached — same integer
    // arithmetic as ChunkTransform ((len-size+stride-1) div stride + 1)
    "q61_chunk" ->
      """WITH n AS (
           SELECT doc_id, lang, text,
                  CASE WHEN length(text) <= 500 THEN 1
                       ELSE (length(text) - 500 + 449) // 450 + 1 END AS nc
           FROM documents WHERE text IS NOT NULL
         ), e AS (
           SELECT doc_id, lang, text,
                  unnest(generate_series(0, nc - 1)) AS i
           FROM n
         )
         SELECT doc_id, lang, i AS chunk_id,
                substr(text, CAST(1 + i * 450 AS BIGINT), 500) AS chunk_text,
                CAST(length(substr(text, CAST(1 + i * 450 AS BIGINT), 500)) AS INT) AS chunk_len
         FROM e""",
    // same tokenization as q45/q57; H = log2(T) - sum(n*log2(n))/T
    "q67_entropy" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                     x -> x <> '')) AS term
           FROM documents
         ), tf AS (
           SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
         )
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                CAST(count(*) AS BIGINT) AS n_unique,
                round(log2(CAST(sum(tf) AS DOUBLE))
                      - sum(tf * log2(CAST(tf AS DOUBLE))) / sum(tf), 4) AS token_entropy
         FROM tf GROUP BY doc_id""",
    // same 1-based substr grid, same -sum(tf·ln(cnt/total))/sum(tf)
    "q79_chargram_nll" ->
      """WITH d AS (
           SELECT doc_id, lower(text) AS t FROM documents
           WHERE text IS NOT NULL AND length(lower(text)) >= 3
         ), g AS (
           SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM d
         ), tf AS (
           SELECT doc_id, substr(t, CAST(i AS BIGINT), 3) AS gram, count(*) AS tf
           FROM g GROUP BY 1, 2
         ), cnt AS (
           SELECT gram, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf
         )
         SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_grams,
                round(-sum(tf.tf * ln(CAST(cnt.cnt AS DOUBLE) / tot.total))
                      / sum(tf.tf), 4) AS nll
         FROM tf JOIN cnt USING (gram) CROSS JOIN tot GROUP BY 1""",
    // q79's gram pipeline twice (raw corpus + en-only target), one
    // full-outer model merge, add-one smoothing over the union vocab,
    // the same length-normalized log-ratio and 4-decimal rounding
    "q129_importance_score" ->
      """WITH d AS (
           SELECT doc_id, lower(text) AS t FROM documents
           WHERE text IS NOT NULL AND length(lower(text)) >= 3
         ), g AS (
           SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM d
         ), tf AS (
           SELECT doc_id, substr(t, CAST(i AS BIGINT), 3) AS gram, count(*) AS tf
           FROM g GROUP BY 1, 2
         ), raw AS (
           SELECT gram, CAST(sum(tf) AS BIGINT) AS raw_cnt FROM tf GROUP BY 1
         ), td AS (
           SELECT lower(text) AS t FROM documents
           WHERE lang = 'en' AND text IS NOT NULL AND length(lower(text)) >= 3
         ), tg AS (
           SELECT t, unnest(generate_series(1, length(t) - 2)) AS i FROM td
         ), tgt AS (
           SELECT substr(t, CAST(i AS BIGINT), 3) AS gram,
                  CAST(count(*) AS BIGINT) AS tgt_cnt
           FROM tg GROUP BY 1
         ), model AS (
           SELECT coalesce(raw.gram, tgt.gram) AS gram,
                  coalesce(raw_cnt, 0) AS raw_cnt,
                  coalesce(tgt_cnt, 0) AS tgt_cnt
           FROM raw FULL JOIN tgt ON raw.gram = tgt.gram
         ), scal AS (
           SELECT CAST(sum(raw_cnt) AS BIGINT) AS raw_total,
                  CAST(sum(tgt_cnt) AS BIGINT) AS tgt_total,
                  count(*) AS v
           FROM model
         )
         SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_grams,
                round(sum(tf.tf * (
                    ln(CAST(model.tgt_cnt + 1 AS DOUBLE)
                       / CAST(scal.tgt_total + scal.v AS DOUBLE))
                  - ln(CAST(model.raw_cnt + 1 AS DOUBLE)
                       / CAST(scal.raw_total + scal.v AS DOUBLE))
                )) / sum(tf.tf), 4) + 0.0 AS importance
         FROM tf JOIN model USING (gram) CROSS JOIN scal GROUP BY 1""",
    // the same synthesized wrapper, the same fixed regexp chain (RE2
    // semantics in both engines), newlines flattened identically
    "q152_html_strip" ->
      """WITH w AS (
           SELECT doc_id,
             '<!DOCTYPE html><html><head><style>p{color:red}</style>' ||
             '<script>var x=1<2;</script></head><body><!-- ' ||
             doc_id::VARCHAR || ' --><h1>Doc &amp; &lt;title&gt;</h1><p>' ||
             text ||
             '</p><ul><li>alpha</li><li>beta</li></ul></body></html>' AS t
           FROM documents WHERE text IS NOT NULL
         ), s AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(t,
               '(?is)<script\b[^>]*>.*?</script\s*>', '', 'g'),
               '(?is)<style\b[^>]*>.*?</style\s*>', '', 'g'),
               '(?s)<!--.*?-->', '', 'g'),
               '(?i)<!DOCTYPE[^>]*>', '', 'g'),
               '(?i)<(?:br|/p|/div|/li|/tr|/h[1-6]|/ul|/ol|/table)\b[^>]*/?>',
                 chr(10), 'g'),
               '(?s)</?[A-Za-z][^>]*>', '', 'g') AS t
           FROM w
         ), e AS (
           SELECT doc_id,
             replace(replace(replace(replace(replace(replace(t,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
           FROM s
         ), c AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
               '[ \t\x0B\f\r]+', ' ', 'g'),
               ' ?\n ?', chr(10), 'g'),
               '\n{3,}', chr(10) || chr(10), 'g'),
               '^\s+|\s+$', '', 'g') AS t
           FROM e
         )
         SELECT doc_id, replace(t, chr(10), ' | ') AS clean FROM c""",
    // the store path must reproduce q129 exactly (same model, same math)
    "q151_dsir_store" ->
      """WITH d AS (
           SELECT doc_id, lower(text) AS t FROM documents
           WHERE text IS NOT NULL AND length(lower(text)) >= 3
         ), g AS (
           SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM d
         ), tf AS (
           SELECT doc_id, substr(t, CAST(i AS BIGINT), 3) AS gram, count(*) AS tf
           FROM g GROUP BY 1, 2
         ), raw AS (
           SELECT gram, CAST(sum(tf) AS BIGINT) AS raw_cnt FROM tf GROUP BY 1
         ), td AS (
           SELECT lower(text) AS t FROM documents
           WHERE lang = 'en' AND text IS NOT NULL AND length(lower(text)) >= 3
         ), tg AS (
           SELECT t, unnest(generate_series(1, length(t) - 2)) AS i FROM td
         ), tgt AS (
           SELECT substr(t, CAST(i AS BIGINT), 3) AS gram,
                  CAST(count(*) AS BIGINT) AS tgt_cnt
           FROM tg GROUP BY 1
         ), model AS (
           SELECT coalesce(raw.gram, tgt.gram) AS gram,
                  coalesce(raw_cnt, 0) AS raw_cnt,
                  coalesce(tgt_cnt, 0) AS tgt_cnt
           FROM raw FULL JOIN tgt ON raw.gram = tgt.gram
         ), scal AS (
           SELECT CAST(sum(raw_cnt) AS BIGINT) AS raw_total,
                  CAST(sum(tgt_cnt) AS BIGINT) AS tgt_total,
                  count(*) AS v
           FROM model
         )
         SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_grams,
                round(sum(tf.tf * (
                    ln(CAST(model.tgt_cnt + 1 AS DOUBLE)
                       / CAST(scal.tgt_total + scal.v AS DOUBLE))
                  - ln(CAST(model.raw_cnt + 1 AS DOUBLE)
                       / CAST(scal.raw_total + scal.v AS DOUBLE))
                )) / sum(tf.tf), 4) + 0.0 AS importance
         FROM tf JOIN model USING (gram) CROSS JOIN scal GROUP BY 1""",
    // per-(lang, trigram) counts: q79's substr grid grouped by the label,
    // minCount=2 floor, constant stamps
    "q148_chargram_lm" ->
      """WITH d AS (
           SELECT lang, lower(text) AS t FROM documents
           WHERE text IS NOT NULL AND length(lower(text)) >= 3
         ), g AS (
           SELECT lang, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM d
         )
         SELECT lang AS label, substr(t, CAST(i AS BIGINT), 3) AS gram,
                CAST(count(*) AS BIGINT) AS cnt,
                3 AS clm_n, CAST(2 AS BIGINT) AS clm_min_count
         FROM g GROUP BY 1, 2 HAVING count(*) >= 2""",
    // the full trained classify restated: q148's model, per-label totals
    // + union vocab size, per-doc matched smoothed mass, the docs×labels
    // grid filling in the all-unseen term for zero-match labels, and the
    // same max-over-(score,label)-structs argmax; gram-less docs fall out
    // of the grid and coalesce to 'und' with a null score
    "q149_lang_classify" ->
      """WITH md AS (
           SELECT lang, lower(text) AS t FROM documents
           WHERE text IS NOT NULL AND length(lower(text)) >= 3
         ), mg AS (
           SELECT lang, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM md
         ), model AS (
           SELECT lang AS label, substr(t, CAST(i AS BIGINT), 3) AS gram,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM mg GROUP BY 1, 2 HAVING count(*) >= 2
         ), totals AS (
           SELECT label, CAST(sum(cnt) AS BIGINT) AS total FROM model GROUP BY 1
         ), vocab AS (
           SELECT CAST(count(DISTINCT gram) AS BIGINT) AS v FROM model
         ), dd AS (
           SELECT doc_id, lower(text) AS t FROM documents
           WHERE text IS NOT NULL AND length(lower(text)) >= 3
         ), g AS (
           SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM dd
         ), tf AS (
           SELECT doc_id, substr(t, CAST(i AS BIGINT), 3) AS gram,
                  CAST(count(*) AS BIGINT) AS tf
           FROM g GROUP BY 1, 2
         ), doctot AS (
           SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_grams FROM tf GROUP BY 1
         ), matched AS (
           SELECT tf.doc_id, model.label,
                  sum(tf.tf * ln(CAST(model.cnt + 1 AS DOUBLE)
                                 / CAST(totals.total + vocab.v AS DOUBLE))) AS mll,
                  CAST(sum(tf.tf) AS BIGINT) AS mtf
           FROM tf JOIN model USING (gram) JOIN totals USING (label)
                CROSS JOIN vocab
           GROUP BY 1, 2
         ), scores AS (
           SELECT doctot.doc_id, totals.label,
                  coalesce(matched.mll, 0.0)
                  + (doctot.n_grams - coalesce(matched.mtf, 0))
                    * ln(1.0 / CAST(totals.total + vocab.v AS DOUBLE)) AS score
           FROM doctot CROSS JOIN totals CROSS JOIN vocab
           LEFT JOIN matched ON matched.doc_id = doctot.doc_id
                            AND matched.label = totals.label
         ), best AS (
           SELECT doc_id, max(struct_pack(s := score, l := label)) AS b
           FROM scores GROUP BY 1
         )
         SELECT docs.doc_id,
                coalesce(best.b.l, 'und') AS lang_pred,
                round(best.b.s, 4) AS lang_score
         FROM documents docs LEFT JOIN best USING (doc_id)""",
    // single-label reference model from the en slice (q148's grid +
    // minCount=2), then the factored smoothed score per document:
    // nll = ln(total+V) − Σ_occurrences ln(cnt+1) / n_grams
    "q150_nll_gate" ->
      """WITH md AS (
           SELECT lower(text) AS t FROM documents
           WHERE lang = 'en' AND text IS NOT NULL AND length(lower(text)) >= 3
         ), mg AS (
           SELECT t, unnest(generate_series(1, length(t) - 2)) AS i FROM md
         ), model AS (
           SELECT substr(t, CAST(i AS BIGINT), 3) AS gram,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM mg GROUP BY 1 HAVING count(*) >= 2
         ), scal AS (
           SELECT CAST(sum(cnt) AS BIGINT) AS total,
                  CAST(count(*) AS BIGINT) AS v
           FROM model
         ), dd AS (
           SELECT doc_id, lower(text) AS t FROM documents
           WHERE text IS NOT NULL AND length(lower(text)) >= 3
         ), g AS (
           SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM dd
         ), tf AS (
           SELECT doc_id, substr(t, CAST(i AS BIGINT), 3) AS gram,
                  CAST(count(*) AS BIGINT) AS tf
           FROM g GROUP BY 1, 2
         ), per_doc AS (
           SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS m,
                  sum(CASE WHEN model.cnt IS NULL THEN 0.0
                           ELSE tf.tf * ln(CAST(model.cnt + 1 AS DOUBLE)) END) AS acc
           FROM tf LEFT JOIN model USING (gram)
           GROUP BY 1
         )
         SELECT docs.doc_id,
                round(ln(CAST(scal.total + scal.v AS DOUBLE))
                      - per_doc.acc / per_doc.m, 4) AS nll
         FROM documents docs
         LEFT JOIN per_doc ON per_doc.doc_id = docs.doc_id
         CROSS JOIN scal""",
    // q129's scoring chain verbatim, then the composition: weight =
    // round(exp(importance), 4) (the 4-decimal round is what lets two
    // engines' libm exp() agree bit-for-bit), race keys from the same
    // md5-prefix uniform as q130 (seed 11), k smallest win, id tie-break
    "q135_dsir_weighted_select" ->
      """WITH d AS (
           SELECT doc_id, lower(text) AS t FROM documents
           WHERE text IS NOT NULL AND length(lower(text)) >= 3
         ), g AS (
           SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i
           FROM d
         ), tf AS (
           SELECT doc_id, substr(t, CAST(i AS BIGINT), 3) AS gram, count(*) AS tf
           FROM g GROUP BY 1, 2
         ), raw AS (
           SELECT gram, CAST(sum(tf) AS BIGINT) AS raw_cnt FROM tf GROUP BY 1
         ), td AS (
           SELECT lower(text) AS t FROM documents
           WHERE lang = 'en' AND text IS NOT NULL AND length(lower(text)) >= 3
         ), tg AS (
           SELECT t, unnest(generate_series(1, length(t) - 2)) AS i FROM td
         ), tgt AS (
           SELECT substr(t, CAST(i AS BIGINT), 3) AS gram,
                  CAST(count(*) AS BIGINT) AS tgt_cnt
           FROM tg GROUP BY 1
         ), model AS (
           SELECT coalesce(raw.gram, tgt.gram) AS gram,
                  coalesce(raw_cnt, 0) AS raw_cnt,
                  coalesce(tgt_cnt, 0) AS tgt_cnt
           FROM raw FULL JOIN tgt ON raw.gram = tgt.gram
         ), scal AS (
           SELECT CAST(sum(raw_cnt) AS BIGINT) AS raw_total,
                  CAST(sum(tgt_cnt) AS BIGINT) AS tgt_total,
                  count(*) AS v
           FROM model
         ), sel AS (
           SELECT tf.doc_id,
                  round(exp(round(sum(tf.tf * (
                      ln(CAST(model.tgt_cnt + 1 AS DOUBLE)
                         / CAST(scal.tgt_total + scal.v AS DOUBLE))
                    - ln(CAST(model.raw_cnt + 1 AS DOUBLE)
                         / CAST(scal.raw_total + scal.v AS DOUBLE))
                  )) / sum(tf.tf), 4) + 0.0), 4) AS dsir_w
           FROM tf JOIN model USING (gram) CROSS JOIN scal GROUP BY 1
         )
         SELECT doc_id, dsir_w FROM (
           SELECT doc_id, dsir_w,
                  -ln((CAST(CONCAT('0x',
                         substr(md5(CONCAT('11', ':', CAST(doc_id AS VARCHAR))), 1, 13))
                       AS BIGINT) + 0.5) / 4503599627370496.0)
                    / dsir_w AS race_key
           FROM sel WHERE dsir_w > 0)
         ORDER BY race_key, doc_id LIMIT 100""",
    // every document pairs with its planted exact twin at hamming 0 —
    // identical text means identical signature under any hash function
    "q80_simhash_exact" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, 0 AS hamming
         FROM documents WHERE text IS NOT NULL""",
    // same 8-word regrouping (range() is end-exclusive, list slices are
    // 1-based inclusive like Spark's slice), then: first (doc_id, pos)
    // occurrence of each line survives, documents rebuilt in line order,
    // fully-deduped documents become empty strings
    "q81_dedup_lines" ->
      """WITH lined AS (
           SELECT doc_id,
                  [array_to_string(ws[i*8+1 : i*8+8], ' ')
                   FOR i IN range(0, ((len(ws) - 1) // 8) + 1)] AS ls
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         ), e AS (
           SELECT doc_id, unnest(generate_series(1, len(ls))) AS pos, ls FROM lined
         ), x AS (
           SELECT doc_id, pos, ls[pos] AS ln FROM e
         ), r AS (
           SELECT doc_id, pos, ln,
                  row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos) AS rn
           FROM x
         ), kept AS (
           SELECT doc_id, array_to_string(list(ln ORDER BY pos), chr(10)) AS text
           FROM r WHERE rn = 1 GROUP BY doc_id
         )
         SELECT d.doc_id, coalesce(kept.text, '') AS text
         FROM documents d LEFT JOIN kept USING (doc_id)""",
    // same tokenization as q45/q82 (lower+trim, split \s+, drop empties);
    // gaps-and-islands over duplicated 8-gram start positions
    "q120_span_dups" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '') AS lws
           FROM documents
         ), g AS (
           SELECT doc_id, unnest(generate_series(1, len(lws) - 7)) AS pos, lws
           FROM toks WHERE len(lws) >= 8
         ), grams AS (
           SELECT doc_id, pos, array_to_string(lws[pos : pos + 7], ' ') AS gram FROM g
         ), dup AS (
           SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
         ), hits AS (
           SELECT g2.doc_id, g2.pos FROM grams g2 JOIN dup USING (gram)
         ), lagged AS (
           SELECT doc_id, pos,
                  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM hits
         ), isl AS (
           -- new island iff the coverage gap exceeds n: gram@pos covers
           -- [pos, pos+7], so starts within 8 chain into one covered run
           SELECT doc_id, pos,
                  sum(CASE WHEN pos - prev > 8 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS i
           FROM lagged
         )
         SELECT doc_id, min(pos) AS start_tok, max(pos) + 7 AS end_tok,
                max(pos) + 8 - min(pos) AS n_toks
         FROM isl GROUP BY doc_id, i""",
    // removal rebuilds affected docs from surviving ORIGINAL-case tokens;
    // untouched docs keep their text verbatim (no retokenization)
    "q121_span_removal" ->
      """WITH toks AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '') AS lws,
                  list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '') AS ows
           FROM documents
         ), g AS (
           SELECT doc_id, unnest(generate_series(1, len(lws) - 7)) AS pos, lws
           FROM toks WHERE len(lws) >= 8
         ), grams AS (
           SELECT doc_id, pos, array_to_string(lws[pos : pos + 7], ' ') AS gram FROM g
         ), dup AS (
           SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
         ), hits AS (
           SELECT g2.doc_id, g2.pos FROM grams g2 JOIN dup USING (gram)
         ), isl AS (
           SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i
           FROM hits
         ), spans AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e FROM isl GROUP BY doc_id, i
         ), cov AS (
           SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS cp FROM spans
         ), tok AS (
           SELECT t.doc_id, unnest(generate_series(1, len(t.ows))) AS tp, ows
           FROM toks t WHERE t.doc_id IN (SELECT doc_id FROM spans)
         ), rebuilt AS (
           SELECT tok.doc_id,
                  coalesce(array_to_string(list(ows[tp] ORDER BY tp)
                    FILTER (WHERE cov.cp IS NULL), ' '), '') AS newtext
           FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.tp = cov.cp
           GROUP BY tok.doc_id
         )
         SELECT d.doc_id,
                CASE WHEN r.doc_id IS NULL THEN d.text ELSE r.newtext END AS text
         FROM documents d LEFT JOIN rebuilt r USING (doc_id)""",
    // q121's rebuild with the duplication test swapped for reference
    // membership: a gram is contaminated iff it appears in the doc_id<250
    // half; only the >= 250 half is rewritten
    "q122_span_decontam" ->
      """WITH toks AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '') AS lws,
                  list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '') AS ows
           FROM documents
         ), g AS (
           SELECT doc_id, unnest(generate_series(1, len(lws) - 7)) AS pos, lws
           FROM toks WHERE len(lws) >= 8
         ), grams AS (
           SELECT doc_id, pos, array_to_string(lws[pos : pos + 7], ' ') AS gram FROM g
         ), refg AS (
           SELECT DISTINCT gram FROM grams WHERE doc_id < 250
         ), hits AS (
           SELECT g2.doc_id, g2.pos FROM grams g2 JOIN refg USING (gram)
           WHERE g2.doc_id >= 250
         ), isl AS (
           SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i
           FROM hits
         ), spans AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e FROM isl GROUP BY doc_id, i
         ), cov AS (
           SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS cp FROM spans
         ), tok AS (
           SELECT t.doc_id, unnest(generate_series(1, len(t.ows))) AS tp, ows
           FROM toks t WHERE t.doc_id IN (SELECT doc_id FROM spans)
         ), rebuilt AS (
           SELECT tok.doc_id,
                  coalesce(array_to_string(list(ows[tp] ORDER BY tp)
                    FILTER (WHERE cov.cp IS NULL), ' '), '') AS newtext
           FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.tp = cov.cp
           GROUP BY tok.doc_id
         )
         SELECT d.doc_id,
                CASE WHEN r.doc_id IS NULL THEN d.text ELSE r.newtext END AS text
         FROM documents d LEFT JOIN rebuilt r USING (doc_id)
         WHERE d.doc_id >= 250""",
    // the store path must rewrite identically to the text-reference path:
    // q122's oracle verbatim (gram-hash membership == gram membership)
    "q124_span_store_exact" ->
      """WITH toks AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '') AS lws,
                  list_filter(regexp_split_to_array(trim(text), '\s+'),
                              x -> x <> '') AS ows
           FROM documents
         ), g AS (
           SELECT doc_id, unnest(generate_series(1, len(lws) - 7)) AS pos, lws
           FROM toks WHERE len(lws) >= 8
         ), grams AS (
           SELECT doc_id, pos, array_to_string(lws[pos : pos + 7], ' ') AS gram FROM g
         ), refg AS (
           SELECT DISTINCT gram FROM grams WHERE doc_id < 250
         ), hits AS (
           SELECT g2.doc_id, g2.pos FROM grams g2 JOIN refg USING (gram)
           WHERE g2.doc_id >= 250
         ), isl AS (
           SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i
           FROM hits
         ), spans AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e FROM isl GROUP BY doc_id, i
         ), cov AS (
           SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS cp FROM spans
         ), tok AS (
           SELECT t.doc_id, unnest(generate_series(1, len(t.ows))) AS tp, ows
           FROM toks t WHERE t.doc_id IN (SELECT doc_id FROM spans)
         ), rebuilt AS (
           SELECT tok.doc_id,
                  coalesce(array_to_string(list(ows[tp] ORDER BY tp)
                    FILTER (WHERE cov.cp IS NULL), ' '), '') AS newtext
           FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.tp = cov.cp
           GROUP BY tok.doc_id
         )
         SELECT d.doc_id,
                CASE WHEN r.doc_id IS NULL THEN d.text ELSE r.newtext END AS text
         FROM documents d LEFT JOIN rebuilt r USING (doc_id)
         WHERE d.doc_id >= 250""",
    // planted twins make LSH recall exact: rank 1 is the query itself,
    // rank 2 its twin — pure arithmetic, no vector math needed
    "q115_ann_lsh_exact" ->
      """SELECT vec_id AS query_id, vec_id, 1 AS rank
         FROM embeddings WHERE vec_id < 5
         UNION ALL
         SELECT vec_id AS query_id, vec_id + 2000000 AS vec_id, 2 AS rank
         FROM embeddings WHERE vec_id < 5""",
    "q116_ann_ivf_exact" ->
      """SELECT vec_id AS query_id, vec_id, 1 AS rank
         FROM embeddings WHERE vec_id < 5
         UNION ALL
         SELECT vec_id AS query_id, vec_id + 2000000 AS vec_id, 2 AS rank
         FROM embeddings WHERE vec_id < 5""",
    // same planted-twin guarantee through the declarative ann_topk route
    // against the persisted codebook store
    "q127_ann_transform_exact" ->
      """SELECT vec_id AS query_id, vec_id, 1 AS rank
         FROM embeddings WHERE vec_id < 5
         UNION ALL
         SELECT vec_id AS query_id, vec_id + 2000000 AS vec_id, 2 AS rank
         FROM embeddings WHERE vec_id < 5""",
    // orthogonal one-hot families: cohesion (1 cluster per family),
    // separation (4 clusters total), unit centroid similarity — all
    // provable for nClusters = corpus size, so plain SQL states them
    "q118_cluster_exact" ->
      """SELECT vec_id % 4 AS family, count(*) AS n,
         CAST(1 AS BIGINT) AS n_clusters,
         CAST(1.0 AS DOUBLE) AS min_sim, CAST(1.0 AS DOUBLE) AS max_sim,
         CAST(4 AS BIGINT) AS total_clusters
         FROM embeddings WHERE vec_id < 40 GROUP BY 1""",
    // the store carries exactly q118's trained centroids, so the provable
    // per-family stats are identical
    "q125_codebook_store_exact" ->
      """SELECT vec_id % 4 AS family, count(*) AS n,
         CAST(1 AS BIGINT) AS n_clusters,
         CAST(1.0 AS DOUBLE) AS min_sim, CAST(1.0 AS DOUBLE) AS max_sim,
         CAST(4 AS BIGINT) AS total_clusters
         FROM embeddings WHERE vec_id < 40 GROUP BY 1""",
    "q119_semantic_exact" ->
      "SELECT vec_id FROM embeddings WHERE vec_id < 4",
    // the planted identical pairs are the ONLY pairs at threshold 0.95
    // (max natural pair cosine in this corpus ≈ 0.51) and LSH finds every
    // identical pair by construction — q30's emitted set is deterministic.
    // Caveat the guarantee honestly: it also requires every twin's
    // (table, bucket) cells to stay under maxBucketSize (1000); at the
    // gate scales buckets hold a handful of vectors, orders of magnitude
    // below the cap, so the oracle is safe — a corpus clustered enough to
    // overflow 6 independent tables' buckets would need regeneration of
    // this oracle, and would fail LOUDLY here, not silently
    "q30_embed_neardup" ->
      """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0 AS sim
         FROM embeddings WHERE vec_id < 10""",
    // same determinism for the REMOVAL transform: greedy pair-drop removes
    // exactly the higher-id planted twins, so the kept set is the original
    // corpus. (The TEXT pipelines q26/q27/q36/q103 have no such oracle:
    // the corpus holds natural shingle-Jaccard pairs up to ~0.99, whose
    // LSH recall is genuinely probabilistic.)
    "q41_dedup_embedding" ->
      "SELECT vec_id FROM embeddings",
    // same fixed-width binning (floor over reference min/max), same PSI
    // term shape: (q-p) * ln(greatest(q,eps)/greatest(p,eps)), round 6
    "q114_drift" ->
      """WITH refl AS (
           SELECT 'n_chars' AS c, CAST(n_chars AS DOUBLE) AS x
           FROM documents WHERE doc_id < 250
           UNION ALL
           SELECT 'n_chars_shifted', CAST(n_chars AS DOUBLE)
           FROM documents WHERE doc_id < 250
         ), curl AS (
           SELECT 'n_chars' AS c, CAST(n_chars AS DOUBLE) AS x
           FROM documents WHERE doc_id >= 250
           UNION ALL
           SELECT 'n_chars_shifted', CAST(n_chars + 200 AS DOUBLE)
           FROM documents WHERE doc_id >= 250
         ), stats AS (
           SELECT c, min(x) AS lo, max(x) AS hi, count(*) AS n_ref
           FROM refl GROUP BY c
         ), tot AS (
           SELECT c, count(*) AS n_cur FROM curl GROUP BY c
         ), pb AS (
           SELECT r.c,
                  CASE WHEN s.hi = s.lo THEN (CASE WHEN r.x = s.lo THEN 0 ELSE 1 END)
                       ELSE least(9, greatest(0,
                         CAST(floor((r.x - s.lo) / ((s.hi - s.lo) / 10)) AS BIGINT)))
                  END AS bin, count(*) AS n_p
           FROM refl r JOIN stats s USING (c) GROUP BY 1, 2
         ), qb AS (
           SELECT r.c,
                  CASE WHEN s.hi = s.lo THEN (CASE WHEN r.x = s.lo THEN 0 ELSE 1 END)
                       ELSE least(9, greatest(0,
                         CAST(floor((r.x - s.lo) / ((s.hi - s.lo) / 10)) AS BIGINT)))
                  END AS bin, count(*) AS n_q
           FROM curl r JOIN stats s USING (c) GROUP BY 1, 2
         ), j AS (
           SELECT coalesce(pb.c, qb.c) AS c, coalesce(pb.bin, qb.bin) AS bin,
                  coalesce(n_p, 0) AS n_p, coalesce(n_q, 0) AS n_q
           FROM pb FULL OUTER JOIN qb ON pb.c = qb.c AND pb.bin = qb.bin
         )
         SELECT j.c AS "column",
                round(sum((n_q / CAST(t.n_cur AS DOUBLE) - n_p / CAST(s.n_ref AS DOUBLE))
                      * ln(greatest(n_q / CAST(t.n_cur AS DOUBLE), 1e-6)
                           / greatest(n_p / CAST(s.n_ref AS DOUBLE), 1e-6))), 6) AS psi,
                s.n_ref, t.n_cur AS n_current
         FROM j JOIN stats s ON s.c = j.c JOIN tot t ON t.c = j.c
         GROUP BY 1, s.n_ref, t.n_cur""",
    // q140: identical semantics to q113 — the store carries exactly the
    // reference half's distinct line hashes, so the expected output is
    // the same relational restatement
    "q140_dedup_lines_store" ->
      """WITH lined AS (
           SELECT doc_id,
                  [array_to_string(ws[i*8+1 : i*8+8], ' ')
                   FOR i IN range(0, ((len(ws) - 1) // 8) + 1)] AS ls
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         ), rel AS (
           SELECT doc_id, array_to_string(ls, chr(10)) AS text, ls FROM lined
         ), refl AS (
           SELECT DISTINCT unnest(ls) AS ln FROM rel WHERE doc_id < 100
         ), boiler AS (
           SELECT doc_id AS rid, ls[1] AS b FROM rel WHERE doc_id < 100
         ), inc AS (
           SELECT r.doc_id, b.b || chr(10) || r.text AS text
           FROM rel r JOIN boiler b ON b.rid = r.doc_id % 100
           WHERE r.doc_id >= 100
         ), lines AS (
           SELECT doc_id,
                  unnest(string_split(text, chr(10))) AS ln,
                  unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
           FROM inc
         ), kept AS (
           SELECT doc_id, ln, pos FROM lines
           WHERE length(ln) < 1 OR ln NOT IN (SELECT ln FROM refl)
         ), rebuilt AS (
           SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text
           FROM kept GROUP BY doc_id
         )
         SELECT i.doc_id, md5(coalesce(r.text, '')) AS text_md5
         FROM inc i LEFT JOIN rebuilt r USING (doc_id)""",
    // q81's re-lining, the same planted boilerplate prefix, then the
    // anti-join + ordered rebuild restated relationally
    "q113_dedup_lines_against" ->
      """WITH lined AS (
           SELECT doc_id,
                  [array_to_string(ws[i*8+1 : i*8+8], ' ')
                   FOR i IN range(0, ((len(ws) - 1) // 8) + 1)] AS ls
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
         ), rel AS (
           SELECT doc_id, array_to_string(ls, chr(10)) AS text, ls FROM lined
         ), refl AS (
           SELECT DISTINCT unnest(ls) AS ln FROM rel WHERE doc_id < 100
         ), boiler AS (
           SELECT doc_id AS rid, ls[1] AS b FROM rel WHERE doc_id < 100
         ), inc AS (
           SELECT r.doc_id, b.b || chr(10) || r.text AS text
           FROM rel r JOIN boiler b ON b.rid = r.doc_id % 100
           WHERE r.doc_id >= 100
         ), lines AS (
           SELECT doc_id,
                  unnest(string_split(text, chr(10))) AS ln,
                  unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
           FROM inc
         ), kept AS (
           SELECT doc_id, ln, pos FROM lines
           WHERE length(ln) < 1 OR ln NOT IN (SELECT ln FROM refl)
         ), rebuilt AS (
           SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text
           FROM kept GROUP BY doc_id
         )
         SELECT i.doc_id, md5(coalesce(r.text, '')) AS text_md5
         FROM inc i LEFT JOIN rebuilt r USING (doc_id)""",
    // identical bin arithmetic ((x-lo)/(hi-lo)*2^bits, clamped) and bit
    // interleave; disjoint bit positions make + equal to the Spark-side OR
    "q78_zorder" -> {
      val bits = 8; val dims = 2
      def bin(x: String, lo: Double, hi: Double) =
        s"least(greatest(CAST(floor((CAST($x AS DOUBLE) - $lo) / ${hi - lo} " +
          s"* ${1L << bits}) AS BIGINT), 0), ${(1L << bits) - 1})"
      val bs = Seq(bin("value", 0, 512), bin("user_id", 0, 256))
      val terms = for (b <- 0 until bits; d <- 0 until dims)
        yield s"(((${bs(d)} >> $b) & 1) << ${b * dims + d})"
      s"SELECT event_id, ${terms.mkString(" + ")} AS zvalue FROM events"
    },
    // same accumulation as the native CosineSimilarity loop: left-to-right
    // double dot products, denominator sqrt(na)*sqrt(nb)
    "q77_embed_crossmatch" ->
      """WITH r AS (
           SELECT vec_id AS ref_id, CAST(embedding AS DOUBLE[]) AS rv
           FROM embeddings WHERE vec_id < 10
         )
         SELECT vec_id, ref_id, CASE WHEN rs = 0 THEN 0.0 ELSE rs END AS sim
         FROM (
           SELECT e.vec_id, r.ref_id,
                  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), r.rv)
                        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                 CAST(e.embedding AS DOUBLE[])))
                           * sqrt(list_dot_product(r.rv, r.rv))), 4) AS rs
           FROM embeddings e CROSS JOIN r)""",
    // identical total order: score desc, id asc
    "q76_topk_group" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) <= 5""",
    // same (x-μ)/σ over the same global stats; stddev is the sample form
    "q75_scale" ->
      """WITH s AS (
           SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS sd
           FROM orders
         )
         SELECT o_orderkey,
                round(CASE WHEN sd IS NULL OR sd = 0 THEN 0.0
                           ELSE (o_totalprice - mu) / sd END, 4) AS o_totalprice_scaled
         FROM orders CROSS JOIN s""",
    // the estimate is engine-specific past the sketch's exact regime (the
    // old `estimate = count(DISTINCT)` oracle broke at sf0.1), so DuckDB
    // pins the exact NDV and the within-3×RSE contract boolean instead
    "q74_sketch_ndv" ->
      """SELECT event_type, count(DISTINCT user_id) AS user_id_ndv_exact,
         TRUE AS ndv_within_rse
         FROM events GROUP BY event_type""",
    // bucket + per-key dense grid + left join; gaps coalesce to 0 events
    "q72_resample" ->
      """WITH b AS (
           SELECT user_id, time_bucket(INTERVAL '6 hours', ts)::TIMESTAMP AS bucket_start,
                  count(*) AS n, round(sum(value), 2) AS sv
           FROM events GROUP BY 1, 2
         ), r AS (
           SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
           FROM b GROUP BY 1
         ), g AS (
           SELECT user_id, unnest(generate_series(lo, hi, INTERVAL '6 hours'))::TIMESTAMP
                    AS bucket_start
           FROM r
         )
         SELECT g.user_id, g.bucket_start,
                coalesce(b.n, 0) AS n_events, b.sv AS sum_value
         FROM g LEFT JOIN b USING (user_id, bucket_start)""",
    // rolling frame + lag: exact count/min/value-shift, no float folding
    "q71_window_roll" ->
      """SELECT o_custkey, o_orderkey,
         count(*) OVER w3 AS roll_n,
         min(o_totalprice) OVER w3 AS roll_min,
         lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_price
         FROM orders
         WINDOW w3 AS (PARTITION BY o_custkey ORDER BY o_orderkey
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    // closed form: every node of the i→i+1 (i%5<2) graph sits in the
    // consecutive-run component whose minimum is node - node%5
    "q70_components" ->
      """WITH e AS (
           SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 5 < 2
         ), n AS (
           SELECT a AS id FROM e UNION SELECT b FROM e
         )
         SELECT id, id - (id % 5) AS cluster_id FROM n""",
    // keep iff bucket < p·buckets — identical double arithmetic both sides
    "q69_sample_weighted" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE CAST(doc_id % 1000 AS DOUBLE)
               < least(1.0, n_chars / 2000.0) * 1000.0""",
    // the full event-time range join (watermark exceeds the data span, so
    // streaming emission = the batch join)
    "q73_stream_stream_join" ->
      """SELECT c.event_id AS click_id, c.user_id,
                epoch_ms(c.ts::TIMESTAMP) AS click_ms,
                p.event_id AS purchase_id,
                epoch_ms(p.ts::TIMESTAMP) AS purchase_ms,
                round(p.value, 2) AS purchase_value
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND p.ts::TIMESTAMP >= c.ts::TIMESTAMP - INTERVAL '1 hour'
          AND p.ts::TIMESTAMP <= c.ts::TIMESTAMP
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'""",
    // q32's emission cutoff + a dimension join before the windowed agg
    "q68_stream_dim_join" ->
      """SELECT time_bucket(INTERVAL '1 hour', e.ts)::TIMESTAMP AS window_start,
         (time_bucket(INTERVAL '1 hour', e.ts) + INTERVAL '1 hour')::TIMESTAMP AS window_end,
         c.c_mktsegment, count(*) AS n_events, round(sum(e.value), 2) AS sum_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         WHERE (time_bucket(INTERVAL '1 hour', e.ts) + INTERVAL '1 hour')::TIMESTAMP
               <= (SELECT max(ts)::TIMESTAMP - INTERVAL '1 hour' FROM events)
         GROUP BY 1, 2, 3""",

    // q131: tokens-concatenate-back-to-the-text — the BPE segmentation
    // invariant (q132 stays rows-only: real subword counts are not SQL)
    "q131_bpe_roundtrip" ->
      """SELECT doc_id,
                trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS detok
         FROM documents WHERE text IS NOT NULL""",
    // q133: disjoint-alphabet store ⇒ BPE weight = non-whitespace code
    // points + word count; then the q92 cap window verbatim
    "q133_token_cap_bpe_exact" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  coalesce(sum(length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g'))
                               + len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+'))) OVER (
                    PARTITION BY source
                    ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM documents
         ) WHERE cb < 3000""",
    // q134: goldens from tools/gen_golden_bpe.py (independent Python
    // re-derivation of Sennrich 2016 under the UTF-8 tie-break contract)
    "q134_bpe_train_golden" ->
      """SELECT * FROM (VALUES (0, 'e', 's'), (1, 'es', 't'),
           (2, 'est', '</w>'), (3, 'l', 'o'), (4, 'lo', 'w'), (5, 'e', 'w'))
         AS t(merge_rank, lhs, rhs)""",
    // q136: ids detokenize back to the normalized text (q131's invariant,
    // now THROUGH the token-id assignment — an <unk> substitution or a
    // mis-assigned id breaks the match)
    "q136_bpe_ids_roundtrip" ->
      """SELECT doc_id,
                trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS detok
         FROM documents WHERE text IS NOT NULL""",
    // q137: disjoint-alphabet store ⇒ per-doc id count = code points +
    // word count (q133's weight), then q110's exact span arithmetic
    // aggregated per sequence
    "q137_pack_input_ids" ->
      """WITH c AS (
           SELECT doc_id,
                  length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g'))
                    + len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS w,
                  CAST(coalesce(sum(length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g'))
                               + len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+'))) OVER (
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
           FROM documents
         ), s AS (
           SELECT doc_id, w, cb,
                  unnest(range(cb // 4096, (cb + w - 1) // 4096 + 1)) AS seq_id
           FROM c WHERE w > 0
         ), spans AS (
           SELECT CAST(seq_id AS BIGINT) AS seq_id,
                  least(w, (seq_id + 1) * 4096 - cb)
                    - greatest(0, seq_id * 4096 - cb) AS units
           FROM s
         )
         SELECT seq_id, CAST(sum(units) AS BIGINT) AS n_ids,
                count(*) AS n_docs, CAST(sum(units) AS BIGINT) AS seq_weight
         FROM spans GROUP BY seq_id""",
    // q138: golden vocab from tools/gen_golden_bpe.py's vocab()
    "q138_bpe_vocab_golden" ->
      """SELECT * FROM (VALUES (0, '<unk>'), (1, '</w>'), (2, 'd'), (3, 'e'),
           (4, 'i'), (5, 'l'), (6, 'n'), (7, 'o'), (8, 'r'), (9, 's'),
           (10, 't'), (11, 'w'), (12, 'es'), (13, 'est'), (14, 'est</w>'),
           (15, 'lo'), (16, 'low'), (17, 'ew'))
         AS t(token_id, token)""",
    // q143: disjoint byteFallback store ⇒ zero <unk>, the detok roundtrip
    // through byte tokens, and an OOV count = non-whitespace non-Greek
    // codepoints (the training alphabet is exactly {α,β,γ})
    "q143_bpe_byte_fallback" ->
      """SELECT doc_id,
                trim(regexp_replace(text, '[ \t\n\x0b\f\r]+', ' ', 'g')) AS detok,
                CAST(0 AS INT) AS n_unk,
                CAST(length(regexp_replace(text, '[ \t\n\x0b\f\rαβγ]', '', 'g'))
                  AS BIGINT) AS n_oov
         FROM documents WHERE text IS NOT NULL""",
    // q144: goldens from tools/gen_golden_bpe.py's pack_padded()
    // (independent slicing re-derivation of the padded tensor layout)
    "q144_pack_padded_golden" ->
      """SELECT * FROM (VALUES
           (0, '16,1,16,1,16,1,16',  '1,1,1,1,1,1,1', 1, 7),
           (1, '1,16,1,16,3,8,1',    '1,1,1,1,1,1,1', 2, 7),
           (2, '16,3,8,1,6,17,14',   '1,1,1,1,1,1,1', 2, 7),
           (3, '6,17,14,6,17,14,6',  '1,1,1,1,1,1,1', 1, 7),
           (4, '17,14,6,17,14,6,17', '1,1,1,1,1,1,1', 1, 7),
           (5, '14,11,4,2,14,11,4',  '1,1,1,1,1,1,1', 2, 7),
           (6, '2,14,11,4,2,14,-1',  '1,1,1,1,1,1,0', 1, 6))
         AS t(seq_id, ids_csv, mask_csv, n_docs, seq_weight)""",
    // q145: disjoint-alphabet store ⇒ the bpe_tokens SIGNAL = non-
    // whitespace code points + word count (q133's weight arithmetic)
    "q145_text_signals_bpe_exact" ->
      """SELECT doc_id,
                CAST(length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g'))
                  + len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+'))
                  AS BIGINT) AS n_bpe_tokens
         FROM documents WHERE text IS NOT NULL""",
    // q146: with every always-on rule relaxed, the Gopher filter keeps
    // exactly the docs whose tokenizer-exact count is in [200, 500]
    "q146_gopher_bpe_tokens" ->
      """SELECT doc_id, source FROM documents
         WHERE text IS NOT NULL
           AND length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g'))
               + len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+'))
               BETWEEN 200 AND 500""",
    // q147: disjoint store ⇒ token count = the q133 weight; the chunk
    // grid (1 if w<=size else ceil((w-size)/stride)+1, window length
    // least(size, w - i*stride)) re-derived in plain SQL
    "q147_chunk_tokens" ->
      """WITH c AS (
           SELECT doc_id,
                  length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g'))
                    + len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS w
           FROM documents WHERE text IS NOT NULL
         ), n AS (
           SELECT doc_id, w,
                  CASE WHEN w <= 50 THEN 1
                       ELSE (w - 50 + 39) // 40 + 1 END AS nchunks
           FROM c
         )
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                CAST(least(50, w - chunk_id * 40) AS INT) AS chunk_len
         FROM (SELECT doc_id, w, unnest(range(nchunks)) AS chunk_id FROM n)"""
  )
}
