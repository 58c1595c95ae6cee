package graft.tools

/** Optimization-round measurement aid (round-17 verdict item #6): A/B the
  * per-query job-machinery floor (~0.15–0.25 s × 84 sub-0.35 s queries)
  * against runtime session-conf variants, at whatever core count
  * `SPARK_GRAFT_CPUS` selects — the driver benches at BOTH 8 and 32, so a
  * variant only counts if it wins at both. Read-only with respect to the
  * engine and the bench: variants are runtime SQL confs toggled around
  * [[graft.Bench.measure]] runs over a fixed subset; the bench contract
  * (session build, timed action, JSON) is untouched. Dev main only.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.FloorAB"
  * (optional args(0): comma-separated query subset). */
object FloorAB {
  // the floor cohort: the suite's smallest queries (scan→project/agg
  // shapes, sub-0.2 s) plus a few mid-size shuffle-bearing ones so a
  // variant that helps tiny queries but hurts real shuffles is visible
  private val DefaultSubset = Seq(
    "q16_sort_limit", "q44_sample_mod", "q48_split_mod", "q56_mix_weights",
    "q69_sample_weighted", "q6_filter", "q7_map", "q63_unpivot",
    "q66_histogram", "q85_normalize", "q89_quantile_sketch", "q19_distinct",
    // mid-size controls
    "q1_agg", "q8_join_inner", "q76_topk_group", "q81_dedup_lines",
    "q108_minhash_self_exact", "q65_percentiles")

  private val Variants: Seq[(String, Map[String, String])] = Seq(
    "base" -> Map.empty,
    "aqe_off" -> Map("spark.sql.adaptive.enabled" -> "false"),
    "coalesce_off" -> Map(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"),
    "local_reader_off" -> Map(
      "spark.sql.adaptive.localShuffleReader.enabled" -> "false"),
    "shufpart_2x" -> Map.empty, // filled below from cpus
    "base_again" -> Map.empty)  // drift control: base re-measured last

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val subset: Set[String] =
      if (args.nonEmpty) args(0).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else DefaultSubset.toSet
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val unknown = subset.diff(graft.SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    val queries = graft.SparkEntry.queries.view.filterKeys(subset).toMap
    val defaults = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.localShuffleReader.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> cpus)
    val variants = Variants.map {
      case ("shufpart_2x", _) =>
        "shufpart_2x" -> Map("spark.sql.shuffle.partitions" -> (cpus.toInt * 2).toString)
      case v => v
    }
    val results = variants.map { case (name, confs) =>
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val rs = graft.Bench.measure(spark, queries, sfDir, runs)
      // restore defaults so variants stay independent
      confs.keys.foreach(k => spark.conf.set(k, defaults(k)))
      val mins = rs.map { case (q, ps) => q -> (if (ps.isEmpty) -1.0 else ps.min) }
      val total = mins.collect { case (_, s) if s >= 0 => s }.sum
      println(f"#floorab $name%-18s total=$total%.3f " +
        mins.map { case (q, s) => f"$q=$s%.3f" }.mkString(" "))
      Console.out.flush()
      (name, total, mins)
    }
    println("#floorab summary cpus=" + cpus + " " +
      results.map { case (n, t, _) => f"$n=$t%.3f" }.mkString(" "))
    spark.stop()
  }
}
