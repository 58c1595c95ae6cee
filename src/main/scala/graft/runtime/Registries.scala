package graft.runtime

import graft.api.{Registry, Source, Transform, Sink}
import graft.operators._
import graft.sinks._
import graft.sources._

/** Built-in component registries (reference: pipeline/{Extractor,Transformer,
  * Loader}Registry.scala) — type-string dispatch + user register(). */
object Registries {
  def sources(): Registry[Source] = new Registry[Source]("source", Map(
    FileSource.sourceType      -> FileSource,
    "s3"                       -> FileSource, // alias: s3a:// path with file semantics
    TableSource.sourceType     -> TableSource,
    KafkaSource.sourceType     -> KafkaSource,
    KafkaFileSource.sourceType -> KafkaFileSource,
    "postgres"                 -> new JdbcSource("postgres", "org.postgresql.Driver"),
    "mysql"                    -> new JdbcSource("mysql", "com.mysql.cj.jdbc.Driver")))

  /** Every built-in transform, keyed by its own `transformType`. */
  def transforms(): Registry[Transform] = new Registry[Transform]("transform", byType(Seq(
    FilterTransform, MapTransform, AggregateTransform, JoinTransform, WindowTransform,
    WindowRankTransform, WindowAggTransform, ResampleTransform, SketchTransform,
    ScaleTransform, TopKTransform, ZOrderTransform, SortTransform,
    MaterializeTransform, LimitTransform, UnionTransform, DedupTransform,
    MinhashDedupTransform, MinhashSignaturesTransform, SimhashDedupTransform,
    ImageDedupTransform, MediaSignaturesTransform, AudioDedupTransform,
    VideoDedupTransform, EmbeddingDedupTransform, SemanticDedupTransform,
    QuantileFilterTransform, FrequentItemsTransform, QuantileSketchTransform,
    graft.dedup.LineDedupTransform, graft.dedup.LineSignaturesTransform,
    graft.dedup.SpanDedupTransform, graft.dedup.GramSignaturesTransform,
    DecontaminateTransform, EmbeddingDecontaminateTransform, AsofJoinTransform,
    ProfileTransform, RangeJoinTransform, TfidfTransform, MultimodalTransform,
    TextSignalsTransform, GopherRulesTransform, PivotTransform, UnpivotTransform,
    SetOpTransform, ChunkTransform, ShardTransform, PackSequencesTransform,
    DriftTransform, ShuffleTransform, SampleTransform, MixTransform,
    TokenCapTransform, BpeTrainTransform, BpeTokenizeTransform,
    BpeTokenCountTransform, BpeVocabTransform, BpeDetokenizeTransform,
    RedactTransform, VocabTopKTransform, NormalizeTextTransform, HtmlStripTransform,
    UrlNormalizeTransform, BlocklistTransform, AssignIdsTransform,
    CompressionRatioTransform, ClusterEmbeddingsTransform, CodebookTransform,
    PqCodebookTransform, IvfPqCodebookTransform, PqEncodeTransform,
    IvfPqEncodeTransform, AnnTopKTransform, DedupAgainstTransform, FuzzyJoinTransform,
    CollocationsTransform, ExplodeTransform, Scd2Transform, MergeTransform,
    FillNaTransform, EntropyTransform, ChargramNllTransform, ChargramLmTransform,
    LangClassifyTransform, ImportanceScoreTransform,
    graft.streaming.SessionizeTransform, RegisterTransform)))

  /** Keys each transform by its `transformType`; two sharing one is a
    * wiring error, so it fails here rather than letting the later one win. */
  private[graft] def byType(ts: Seq[Transform]): Map[String, Transform] = {
    val shared = ts.groupBy(_.transformType).collect { case (t, xs) if xs.size > 1 => t }
    if (shared.nonEmpty) throw new IllegalStateException(
      s"transform type(s) registered twice: ${shared.toList.sorted.mkString(", ")}")
    ts.map(t => t.transformType -> t).toMap
  }

  def sinks(): Registry[Sink] = new Registry[Sink]("sink", Map(
    FileSink.sinkType      -> FileSink,
    "s3"                   -> FileSink,
    KafkaSink.sinkType     -> KafkaSink,
    KafkaFileSink.sinkType -> KafkaFileSink,
    "postgres"             -> new JdbcSink("postgres", "postgres"),
    "mysql"                -> new JdbcSink("mysql", "mysql")))
}
