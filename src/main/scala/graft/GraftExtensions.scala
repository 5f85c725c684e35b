package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/**
 * Session extension entry point: registers the engine's SQL functions and
 * (as later milestones land) the HNSW optimizer rules + planner strategy —
 * the Spark analogue of the reference extension's load hook
 * (/root/reference/src/vss_extension.cpp:29, hnsw.hpp:9-23).
 *
 * Enable with `.config("spark.sql.extensions", "graft.GraftExtensions")`
 * or `.withExtensions(new GraftExtensions)`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.functions.sqlBuilders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    // Distance-operator spellings <-> / <=> / <#> (hnsw_index.cpp:663-669):
    // marker functions for the parser pre-pass + the resolution rule that
    // recovers the operator from the marker spelling / reinterprets
    // float-vector null-safe equality as cosine distance.
    graft.sql.DistanceOperators.markerBuilders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    e.injectResolutionRule(s => new graft.sql.DistanceOperators.DistanceOperatorResolution(s))
    // HNSW optimizer rules + planner strategy (SURVEY §2 O2-O7).
    e.injectOptimizerRule(_ => graft.rules.CosineDistanceRewrite)
    e.injectOptimizerRule(s => new graft.rules.TopKToIndexScan(s))
    e.injectOptimizerRule(s => new graft.rules.LateralTopKToIndexJoin(s))
    e.injectPlannerStrategy(s => new graft.plans.HnswStrategy(s))
    // Index DDL: CREATE INDEX … USING HNSW / DROP INDEX / PRAGMA … (O1 DDL surface)
    e.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
    // SQL table macros: SELECT * FROM vss_join(...) / vss_match(...)
    // (hnsw_index_macros.cpp:109-113).
    e.injectTableFunction((
      FunctionIdentifier("vss_join"),
      new ExpressionInfo("graft", "vss_join"),
      graft.sql.TvfMacros.vssJoin))
    e.injectTableFunction((
      FunctionIdentifier("vss_match"),
      new ExpressionInfo("graft", "vss_match"),
      graft.sql.TvfMacros.vssMatch))
    // Dedup family as SQL table functions — the LLM-pipeline surface:
    // SELECT * FROM dedup_near(TABLE(docs), 'text', 'doc_id', 0.8) etc.
    Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)](
      "dedup_exact" -> graft.sql.TvfMacros.dedupExact,
      "dedup_drop_exact" -> graft.sql.TvfMacros.dedupDropExact,
      "dedup_near" -> graft.sql.TvfMacros.dedupNear,
      "dedup_drop" -> graft.sql.TvfMacros.dedupDrop,
      "dedup_substr" -> graft.sql.TvfMacros.dedupSubstr,
      "ngram_jaccard_join" -> graft.sql.TvfMacros.ngramJaccardJoin,
      "simhash_pairs" -> graft.sql.TvfMacros.simhashPairs,
      "embedding_near_dup" -> graft.sql.TvfMacros.embeddingNearDup,
      "semdedup_drop" -> graft.sql.TvfMacros.semDedupDropTvf,
      "decontaminate" -> graft.sql.TvfMacros.decontaminate,
      "top_ngrams" -> graft.sql.TvfMacros.topNgramsTvf,
      "token_freq" -> graft.sql.TvfMacros.tokenFreqTvf,
      "sample_by_budget" -> graft.sql.TvfMacros.sampleByBudgetTvf,
      "sample_by_rates" -> graft.sql.TvfMacros.sampleByRatesTvf,
      "cap_by_count" -> graft.sql.TvfMacros.capByCountTvf,
      "pack_sequences" -> graft.sql.TvfMacros.packSequencesTvf,
      "emit_packed_sequences" -> graft.sql.TvfMacros.emitPackedSequencesTvf,
      // DSIR selection + CCNet-style perplexity filtering (r13: SQL parity
      // with the Scala surface, like every other §2.5 family).
      "dsir_select" -> graft.sql.TvfMacros.dsirSelectTvf,
      "perplexity_filter" -> graft.sql.TvfMacros.perplexityFilterTvf,
      // Event-stream operators (ops package) as SQL TVFs.
      "as_of_join" -> graft.sql.TvfMacros.asOfJoin,
      "exists_join" -> graft.sql.TvfMacros.existsJoin,
      "not_exists_join" -> graft.sql.TvfMacros.notExistsJoin,
      "sessionize" -> graft.sql.TvfMacros.sessionizeTvf,
      "sessionize_stats" -> graft.sql.TvfMacros.sessionizeStatsTvf,
      "bpe_token_count" -> graft.sql.TvfMacros.bpeTokenCountTvf,
      "bpe_encode_ids" -> graft.sql.TvfMacros.bpeEncodeIdsTvf,
      "bpe_decode_ids" -> graft.sql.TvfMacros.bpeDecodeIdsTvf,
      // Retrieval: BM25 lexical top-k + reciprocal-rank fusion (r16).
      "bm25_topk" -> graft.sql.TvfMacros.bm25TopKTvf,
      "rrf_fuse" -> graft.sql.TvfMacros.rrfFuseTvf,
      "range_join" -> graft.sql.TvfMacros.rangeJoin,
      // Index-backed ANN surfaces for SQL users.
      "ann_topk" -> graft.sql.TvfMacros.annTopKTvf,
      "lateral_topk" -> graft.sql.TvfMacros.lateralTopKTvf,
      "ivfpq_topk" -> graft.sql.TvfMacros.ivfPqTopKTvf,
      // Deterministic embedding clustering (SemDeDup cluster stage).
      "kmeans_assign" -> graft.sql.TvfMacros.kmeansAssignTvf,
      "cluster_sample" -> graft.sql.TvfMacros.clusterSampleTvf
    ).foreach { case (name, builder) =>
      e.injectTableFunction((
        FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
  }
}
