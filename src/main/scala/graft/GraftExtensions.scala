package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DotProductII, HyperplaneSignature, MinHashSignature, NgramHashes, NgramHashesAll, Quantize8, SimHash64, TDigestQuantile, TDigestSketch, WinnowFingerprints}
import graft.operators.{Dedup, Joins, Lifecycle, Profiling, Similarity, TimeSeries}
import graft.sources.{Layout, MatView, Scd, SnapshotGroup, TimeTravel}

/** SparkSessionExtensions entry point — registers the engine's custom
  * expressions as SQL functions AND its table-level operators as SQL
  * table functions, so the surface is reachable from `spark.sql(...)` as
  * well as the Column API (the reference's entire API is SQL text, so a
  * SQL-first user must be able to reach the engine without Scala):
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * // or: spark.sql.extensions=graft.GraftExtensions
  * spark.sql("SELECT simhash64(tokens), minhash_signature(tokens, 32) ...")
  * spark.sql("SELECT * FROM graft_key_skew('lineitem', 'l_partkey', 10)")
  * }}}
  *
  * Table functions take the INPUT TABLE BY NAME (temp view or catalog
  * table — resolved against the active session when the query is
  * analyzed) and literal strings for columns/predicates/aggregates.
  *
  * The faces that write (commits, deletes, layout writes, maintenance,
  * publishes) return a one-node [[GraftExtensions.Effect]] command: the
  * write runs once when `spark.sql(...)` returns, under that query's SQL
  * execution, never at analysis and never for `EXPLAIN`; its receipt
  * reads back as local rows ([[GraftExtensions.EffectReceipt]]). The
  * compute faces that run jobs to build their result (the corpus dedup,
  * the IVF build, BPE training) still run them at analysis, like the
  * Scala call they inline:
  *
  *  - `graft_profile(table, 'c1,c2'[, approx])` — per-column profile
  *    ([[Profiling.profile]]; `approx = true` uses HLL++ distincts)
  *  - `graft_key_skew(table, keyCol[, topK])` — skew diagnostics
  *    ([[Profiling.keySkew]])
  *  - `graft_check(table, name1, pred1[, name2, pred2, ...])` — data-
  *    quality expectations, predicates as SQL text
  *    ([[Profiling.checkConstraints]])
  *  - `graft_sessionize(table, keyCol, tsCol, gap, agg1[, agg2, ...])` —
  *    session-window rollup, aggregates as SQL text
  *    ([[TimeSeries.sessionize]])
  *  - `graft_asof_join(left, right, 'k1,k2', leftTs, rightTs, 'p1,p2')`
  *    — temporal enrichment ([[Joins.asofJoin]])
  *  - `graft_exact_dedup(table, idCol, textCol)` — exact content dedup
  *    ([[graft.operators.Dedup.exact]])
  *  - `graft_minhash_pairs(table, idCol, textCol[, shingleN, numHashes,
  *    bands])` — MinHash-LSH near-dup candidate pairs
  *    ([[graft.operators.Dedup.minhashCandidatePairs]])
  *  - `graft_dedup_corpus(table, idCol, textCol[, threshold])` — the
  *    one-call near-dedup with survivor semantics
  *    ([[graft.operators.Dedup.dedupCorpus]]; a compute face — its
  *    connected-components fixpoint runs jobs while the SQL query is
  *    analyzed, like the Scala call it inlines)
  *  - `graft_simhash_pairs(table, idCol, textCol[, maxHamming, blocks,
  *    maxBucket])` — SimHash near-dup pair mining
  *    ([[graft.operators.Dedup.simhashNearDupPairs]]; persists its band
  *    table for the session like `graft_flag_index` — same CLEAR CACHE
  *    guidance for long-lived SQL sessions)
  *  - `graft_incremental_exact(table, indexPath, idCol, textCol)` —
  *    batch survivors vs a persisted digest history
  *    ([[graft.operators.Dedup.incrementalExact]])
  *  - `graft_incremental_minhash(table, indexPath, idCol, textCol[,
  *    maxBucket])` — batch-vs-index MinHash near-dup pairs
  *    ([[graft.operators.Dedup.incrementalMinhashPairs]])
  *  - `graft_incremental_simhash(table, indexPath, idCol, textCol[,
  *    maxHamming, blocks, maxBucket])` — batch-vs-index SimHash pairs
  *    ([[graft.operators.Dedup.incrementalSimhashPairs]]; session
  *    persist, as above)
  *  - `graft_flag_index(table, indexPath, idCol, textCol)` — flag which
  *    rows near-duplicate a persisted MinHash index
  *    ([[graft.operators.Dedup.flagAgainstIndex]]). Each call persists
  *    the probe's band table for the SESSION (the operator's cache
  *    contract): a long-lived SQL session screening many batches should
  *    `CLEAR CACHE` between them, or run the stream-shaped Scala face
  *    (`StreamingDedup.nearDupsEachBatch`) which releases per batch
  *  - `graft_cosine_topk(corpus, queries, idCol, vecCol, k)` — exact
  *    brute-force cosine top-k ([[graft.operators.Similarity.bruteForceTopK]])
  *  - `graft_quantized_topk(corpus, queries, idCol, vecCol, k)` — top-k
  *    over int8-quantized vectors
  *    ([[graft.operators.Similarity.quantizedTopK]])
  *  - `graft_rescored_topk(corpus, queries, idCol, vecCol, k[,
  *    candidateFactor])` — int8 candidates + exact float rescore
  *    ([[graft.operators.Similarity.rescoredTopK]])
  *  - `graft_ivf_topk(corpus, queries, idCol, vecCol, k[, nCells,
  *    nProbe])` — IVF ANN ([[graft.operators.Similarity.ivfTopK]]; a
  *    compute face — its k-means runs jobs at analysis time)
  *  - `graft_lsh_topk(corpus, idCol, vecCol, k, prefixBits[, tables,
  *    multiProbe])` — LSH-bucketed ANN self-search
  *    ([[graft.operators.Similarity.lshTopK]]; prefixBits is REQUIRED in
  *    the SQL face so plan construction never runs a hidden count() job)
  *  - `graft_embedding_neardups(table, idCol, vecCol, blockCol,
  *    threshold)` — blocked exact-cosine near-dup pairs
  *    ([[graft.operators.Dedup.embeddingNearDups]])
  *  - `graft_ngram_top_neighbor(table, idCol, textCol, blockCol[, n])` —
  *    per-doc best Jaccard neighbor within a block
  *    ([[graft.operators.Dedup.ngramJaccardTopNeighbor]])
  *  - `graft_dup_spans(table, idCol, textCol[, n, minSpanGrams])` —
  *    shared n-gram span detection
  *    ([[graft.operators.Dedup.duplicateSpans]])
  *  - `graft_excise_spans(table, idCol, textCol[, n, minSpanGrams])` —
  *    keep-first duplicate-span EXCISION: every verbatim passage
  *    survives only in its earliest document
  *    ([[graft.operators.Dedup.exciseDuplicateSpans]])
  *  - `graft_decontaminate_index(table, indexPath, idCol, textCol)` —
  *    clean rows vs a persisted probe-gram index
  *    ([[graft.operators.Corpus.decontaminateAgainstIndex]])
  *  - `graft_hh_merged(indexPath)` — merged heavy hitters from a
  *    persisted incremental Misra–Gries segment index
  *    ([[graft.operators.Profiling.mergedHeavyHitters]])
  *  - `graft_hist_merged(indexPath)` — merged EXACT histogram from a
  *    persisted additive-segment index
  *    ([[graft.operators.Profiling.mergedHistogramIndex]])
  *  - `graft_lm_index_score(table, indexPath, idCol, textCol)` — LM
  *    quality scores against a persisted incremental stats index
  *    ([[graft.operators.Corpus.lmScoreAgainstStats]])
  *  - `graft_chunk(table, idCol, textCol, size, stride)` — overlapping
  *    token-window chunks ([[graft.operators.Corpus.chunk]])
  *  - `graft_pack(table, shardCol, keyCol, tokenCol, budget)` — greedy
  *    sequence packing into token budgets
  *    ([[graft.operators.Corpus.packSequences]])
  *  - `graft_balance(table, strataCol, keyCol)` — per-stratum
  *    downsampling to the smallest stratum
  *    ([[graft.operators.Corpus.balanceStrata]])
  *  - `graft_shards(table, keyCol, nShards)` — deterministic shard
  *    assignment + within-shard position
  *    ([[graft.operators.Corpus.shardAssignment]])
  *  - `graft_weighted_sample(table, keyCol, weightCol, fraction)` —
  *    deterministic weight-tilted sampling
  *    ([[graft.operators.Corpus.weightedSample]])
  *  - `graft_token_budget_fill(table, groupCol, keyCol, textCol,
  *    budgets)` — mixture weights → document manifest: per-group
  *    hash-order prefix within a token budget; `budgets` is a
  *    two-column (group, budget) table
  *    ([[graft.operators.Corpus.tokenBudgetFill]])
  *  - `graft_keep_top(table, groupCol, keyCol, scoreCol, fraction)` —
  *    per-domain quality gate: each group's top ceil(fraction×n) by
  *    score ([[graft.operators.Corpus.keepTopByGroup]])
  *  - `graft_dedup_corpus_best(table, idCol, textCol, priorityCol[,
  *    threshold])` — corpus near-dedup keeping each cluster's
  *    highest-priority member ([[graft.operators.Dedup.dedupCorpusBest]])
  *  - `graft_epoch_fill(table, groupCol, keyCol, textCol, budgets)` —
  *    epoch upsampling manifest: whole-epoch repeats + remainder prefix
  *    per budgeted group ([[graft.operators.Corpus.epochFill]])
  *  - `graft_expand_copies(table, keyCol, copiesCol[, maxCopies])` —
  *    manifest rehydration: one row per copy with an epoch-interleaving
  *    shuffle key ([[graft.operators.Corpus.expandCopies]])
  *  - `graft_contamination_report(table, probes, idCol, probeIdCol,
  *    textCol[, n])` — decontamination's audit face: (doc, probe,
  *    shared n-gram count) pairs
  *    ([[graft.operators.Corpus.contaminationReport]])
  *  - `graft_budget_fill_by_weight(table, groupCol, keyCol, weightCol,
  *    budgets)` / `graft_epoch_fill_by_weight(...)` — the fills over a
  *    PRECOMPUTED weight column (real tokenizer counts from ingest)
  *    ([[graft.operators.Corpus.tokenBudgetFillByWeight]],
  *    [[graft.operators.Corpus.epochFillByWeight]])
  *  - `graft_mixture_fill(table, groupCol, keyCol, textCol, totalBudget,
  *    fractions)` — the fill with the spec as FRACTIONS of one total
  *    ("70% web of 2 T tokens"); fractions is a (group, fraction) table
  *    ([[graft.operators.Corpus.mixtureFill]])
  *  - `graft_catalog('all'|'scalar'|'table')` — this whole surface as a
  *    queryable table (function, kind, class, usage, contract): the
  *    in-SQL discovery face of `docs/SQL_SURFACE.md`
  *  - `graft_delete_digest(table, indexPath, textCol)` /
  *    `graft_delete_minhash(ids, indexPath, idCol)` /
  *    `graft_delete_simhash(ids, indexPath, idCol)` /
  *    `graft_delete_ivf(ids, indexPath, idCol)` /
  *    `graft_delete_lsh(ids, indexPath, idCol)` /
  *    `graft_delete_pq(ids, indexPath, idCol)` — index tombstones
  *    (receipts; see [[graft.operators.Tombstones]])
  *  - `graft_wav_features(table)` — per-channel PCM energy rows over
  *    WAV payloads ([[graft.operators.Multimodal.wavChannelFeatures]])
  *  - `graft_mp4_frames(table)` — per-frame size/duration rows from
  *    MP4 stts/stsz sample tables
  *    ([[graft.operators.Multimodal.mp4FrameTable]])
  *  - `graft_mjpeg_mp4_frames(table)` — located MJPEG-in-MP4 samples
  *    with byte sizes and unsigned byte sums
  *    ([[graft.operators.Multimodal.mjpegMp4FrameTable]])
  *  - `graft_avi_frames(table)` — AVI/MJPEG frames decoded to pixel
  *    features ([[graft.operators.Multimodal.aviFrameFeatures]])
  *  - `graft_zorder_write(table, dataPath, 'd1,d2[,d3…]', files)` (or
  *    legacy `(table, dataPath, colA, colB, files)`) — Z-order
  *    clustered parquet write ([[graft.sources.Layout.writeZOrdered]];
  *    returns a one-row receipt)
  *  - `graft_update_manifest(dataPath, 'dim1,dim2')` — incremental
  *    file-stats manifest update, new files only
  *    ([[graft.sources.Layout.updateManifest]]; a receipt)
  *  - `graft_pruned_read(dataPath, col1, lo1, hi1[, col2, lo2, hi2, …])`
  *    — manifest-pruned scan; bounds are strings cast to each
  *    dimension's type ([[graft.sources.Layout.prunedRead]])
  *  - `graft_zorder_write_partitioned(table, root, partCol, 'dims',
  *    files)` / `graft_append_partitioned(…)` — hive-partitioned
  *    z-ordered write / batch append
  *    ([[graft.sources.Layout.writeZOrderedPartitioned]] /
  *    [[graft.sources.Layout.appendZOrderedPartitioned]]; receipts)
  *  - `graft_update_manifest_partitioned(root, 'dims')` — per-leaf
  *    incremental manifest refresh (a receipt)
  *  - `graft_pruned_read_partitioned(root, col1, lo1, hi1[, …])` — the
  *    three-level composed pruned scan
  *    ([[graft.sources.Layout.prunedReadPartitioned]])
  *  - `graft_compact_partitioned(root, 'dims', filesPerLeaf,
  *    maxFilesPerLeaf)` / `graft_drop_partition(root, 'k=v')` /
  *    `graft_delete_partitioned(ids, root, 'dims', idCol)` — leaf
  *    compaction / retention drop / cross-partition id takedown
  *    (receipts)
  *  - `graft_lookup(dataPath, idCol, '1,2,3')` — bloom/stats-screened
  *    needle lookup ([[graft.sources.Layout.lookupByIds]])
  *  - `graft_tt_commit(table, dataPath, 'dims', files[, batchId])` /
  *    `graft_tt_delete(ids, dataPath, idCol)` /
  *    `graft_tt_compact(dataPath, 'dims', files)` /
  *    `graft_tt_vacuum(dataPath, keepFrom)` — versioned-snapshot
  *    commit / versioned delete / live-set compaction / history
  *    reclamation ([[graft.sources.TimeTravel]]; receipts)
  *  - `graft_tt_compact_small(dataPath, 'dims', targetBytes)` —
  *    size-aware incremental compaction: bin-pack only sub-target
  *    live files, never rewrite files already at size
  *    ([[graft.sources.TimeTravel.compactSmall]])
  *  - `graft_tt_read(dataPath[, version[, col1, lo1, hi1, …]])` — the
  *    table as of a committed version, latest when omitted; (col, lo,
  *    hi) triples give the lineage-stats-pruned read
  *    ([[graft.sources.TimeTravel.readAsOf]] / `readAsOfPruned`)
  *  - `graft_tt_read_ts(dataPath, tsMillis)` — TIMESTAMP AS OF: the
  *    table at the last version committed at or before the instant
  *    ([[graft.sources.TimeTravel.readAsOfTimestamp]])
  *  - `graft_tt_vacuum_older(dataPath, retainMillis)` — time-based
  *    retention: reclaim history no version committed inside the
  *    window needs ([[graft.sources.TimeTravel.vacuumOlderThan]])
  *  - `graft_tt_constrain(dataPath, name, boolExpr)` /
  *    `graft_tt_constraints(dataPath)` /
  *    `graft_tt_unconstrain(dataPath, name)` — commit-time CHECK
  *    constraints: every commit must satisfy each rule on every batch
  *    row or it refuses before staging, naming the rule and count
  *    ([[graft.sources.TimeTravel.setConstraints]])
  *  - `graft_tt_history(dataPath)` — one audit row per commit
  *    ([[graft.sources.TimeTravel.history]])
  *  - `graft_tt_rollback(dataPath, toVersion)` — restore an old
  *    version as the new head, metadata-only
  *    ([[graft.sources.TimeTravel.rollback]])
  *  - `graft_tt_diff(dataPath, v1, v2[, idCol])` — file-level version
  *    diff, or key-level appeared/disappeared reading only changed
  *    files ([[graft.sources.TimeTravel.diff]] / `diffByKey`)
  *  - `graft_tt_gc(dataPath)` — reclaim unreferenced data files and
  *    staging residue (crashed promotions, lost races); never touches
  *    referenced history ([[graft.sources.TimeTravel.gcOrphans]])
  *  - `graft_tt_checkpoint(dataPath)` — fold every lineage segment
  *    into ONE checkpoint file so metadata reads stay flat in commit
  *    count ([[graft.sources.TimeTravel.checkpointLineage]]; auto-run
  *    every K commits, this is the explicit face)
  *  - `graft_tt_vacuum_lineage(dataPath)` — reclaim folded lineage
  *    segments + superseded checkpoints (serialized maintenance;
  *    row history stays complete in the checkpoint)
  *    ([[graft.sources.TimeTravel.vacuumLineage]])
  *  - `graft_tt_stats(dataPath, version, column)` — exact
  *    min/max/null-count/row-count at any readable version from the
  *    lineage alone, zero data files read
  *    ([[graft.sources.TimeTravel.columnStats]])
  *  - `graft_tt_clone(dataPath, version, destPath)` — materialize a
  *    historical version as a PLAIN parquet table for handoff; never
  *    overwrites, outlives vacuum
  *    ([[graft.sources.TimeTravel.cloneAsOf]])
  *  - `graft_tt_maintain(dataPath, 'dims', maxLiveFiles, keepVersions,
  *    compactTo)` — the quiet-moment pass: compact past the cap,
  *    vacuum allowed history, reclaim orphans
  *    ([[graft.sources.TimeTravel.maintain]])
  *  - `graft_tt_maintain_size(dataPath, 'dims', targetBytes,
  *    retainMillis)` — the STREAMING lake's tick: size-aware pack +
  *    time-based retention + orphan GC, all no-op-safe every tick
  *    ([[graft.sources.TimeTravel.maintainBySize]])
  *  - `graft_tt_describe(dataPath)` — the one-row ops summary: head /
  *    floor / live files+bytes / small-file backlog / rows /
  *    constraints / commit-instant range, zero data read
  *    ([[graft.sources.TimeTravel.describeTable]])
  *  - `graft_tt_vacuum_preview(dataPath, keepFrom)` — what vacuum
  *    WOULD reclaim, zero side effects
  *    ([[graft.sources.TimeTravel.vacuumPreview]])
  *  - `graft_tt_upsert(updates, dataPath, idCol, files[, batchId])` —
  *    versioned MERGE: matched keys replaced, the rest inserted, only
  *    matched files rewritten
  *    ([[graft.sources.TimeTravel.commitUpsert]]; a receipt)
  *  - `graft_group_publish(groupPath, 'name=path,…')` /
  *    `graft_group_read(groupPath, name[, groupVersion])` /
  *    `graft_group_cuts(groupPath)` / `graft_group_floor(groupPath,
  *    name)` — snapshot-consistent reads ACROSS lake tables: writers
  *    commit members normally then publish ONE cut pinning every
  *    member's version; group readers never see a torn pair, a crash
  *    before the publish is invisible, and the floor face bounds
  *    member vacuums so retained cuts stay readable
  *    ([[graft.sources.SnapshotGroup]])
  *  - `graft_tt_replace_where(batch, dataPath, 'predicate', files[,
  *    batchId])` — atomic backfill: ONE commit holds every live row
  *    NOT matching the predicate plus the batch; every batch row must
  *    match it (loud refusal names the out-of-region count); an empty
  *    batch is a predicate delete
  *    ([[graft.sources.TimeTravel.commitReplaceWhere]]; a receipt)
  *  - `graft_scd_merge(batch, dataPath, keyCol, files[, batchId])` /
  *    `graft_scd_delete(keys, dataPath, keyCol, files[, batchId])` /
  *    `graft_scd_apply(upserts, deletes, dataPath, keyCol, files[,
  *    batchId])` — SCD Type-2 dimension maintenance: changed keys
  *    close their old row and open a new one, unchanged keys cost
  *    nothing, deletes close without erasing; `apply` lands a MIXED
  *    CDC batch (upserts + deletes) as ONE dimension commit
  *    ([[graft.sources.Scd]]; receipts)
  *  - `graft_scd_join(facts, dataPath, keyCol, epochCol)` — the
  *    point-in-time join: each fact row gets the dimension attributes
  *    current AT its own epoch (LEFT: absent/closed keys read null;
  *    one equi-join on the key, validity as a post-condition)
  *  - `graft_scd_current(dataPath)` / `graft_scd_asof(dataPath, v)` /
  *    `graft_scd_asof_ts(dataPath, tsMillis)` /
  *    `graft_scd_history(dataPath)` — the dimension now / at any epoch
  *    (a plain validity-interval filter, the point-in-time join face) /
  *    at a wall-clock instant / every key's full history with
  *    validity stamps
  *  - `graft_tt_changes(dataPath, v1, v2, idCol[, 'rows'])` — row-level
  *    inserted/deleted/updated feed over `(v1, v2]`, reading only the
  *    commits' touched files; rewrites cancel by payload; `'rows'` adds
  *    the post-image columns (null on deletes) plus a `pre` pre-image
  *    struct (null on inserts) — enough to maintain a replica or a
  *    content-keyed index ([[graft.sources.TimeTravel.changeFeedByKey]]
  *    / `changeFeed`)
  *  - `graft_mv_create(srcPath, viewPath, 'keys', 'sumCols')` /
  *    `graft_mv_refresh(viewPath)` / `graft_mv_read(viewPath)` —
  *    incrementally maintained count/sum aggregate over a time-travel
  *    table: refresh cost tracks the commits' touch set, never the
  *    table ([[graft.sources.MatView]]; receipts + read)
  *  - `graft_bpe_train(table, textCol, numMerges)` /
  *    `graft_bpe_encode(table, idCol, textCol, 'l:r,…')` /
  *    `graft_bpe_vocab(table, textCol, 'l:r,…')` — BPE tokenizer
  *    training / encoding / vocabulary ([[graft.operators.Bpe]])
  *  - `graft_leaf_census(root)` — per-leaf file/byte/manifest census of
  *    a partitioned table (the compaction dry-run;
  *    [[graft.sources.Layout.leafCensus]])
  *  - `graft_strip_boilerplate(table, idCol, textCol, minDocs)` —
  *    line-level template removal
  *    ([[graft.operators.Corpus.stripBoilerplate]])
  *  - `graft_assign_split(table, idCol, 'train:0.8,val:0.1,test:0.1'
  *    [, salt])` / `graft_assign_fold(table, idCol, k[, salt])` —
  *    deterministic hash split / k-fold columns
  *    ([[graft.operators.Splits]])
  *  - `graft_capped_sessions(table, userCol, tsCol, gap, cap)` —
  *    duration-capped gap sessions
  *    ([[graft.streaming.Sessionize.cappedSessions]])
  *  - `graft_skew_join(fact, dim, key, topN)` — hot-key-split equi-join
  *    with auto-detected hot set ([[graft.operators.SkewJoin]])
  *  - `graft_validate(table, 'not_null:c;in_range:c:lo:hi;in_set:c:a|b;
  *    matches:c:re;unique:c1,c2')` — declarative rule report
  *    ([[graft.operators.Validation.report]]; numeric ranges only on
  *    this face — the Scala API takes typed bounds)
  *  - `graft_validate_fk(table, col, dim, dimCol)` — the referential
  *    rule as its own face (it needs a second table argument)
  *  - `graft_pq_search(corpus, queries, idCol, vecCol, k, m, kCodes)`
  *    — product-quantization two-stage ANN
  *    ([[graft.operators.Similarity.pqRescoredTopK]])
  *  - `graft_ivfpq_search(corpus, queries, idCol, vecCol, k, nCells,
  *    m, kCodes)` — IVF-PQ build + decomposed-ADC search + exact
  *    rescore ([[graft.operators.Similarity.ivfPqBuild]] /
  *    [[graft.operators.Similarity.ivfPqSearch]])
  *  - `graft_tdigest_sketch(table, valueCol[, 'g1,g2'])` /
  *    `graft_tdigest_merge(table, sketchCol[, 'g1,g2'])` +
  *    scalar `tdigest_quantile(sketch, q)` — the mergeable percentile
  *    sketch lifecycle ([[graft.functions.TDigestSketch]]): build
  *    per-group/per-batch sketches, persist them like any frame, merge
  *    histories, read any quantile — all from SQL text
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    // opt-in COUNT(DISTINCT) → HLL++ sketch rewrite (plans package)
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    ext.injectOptimizerRule(_ => graft.plans.ApproxPercentileRewrite)
    ext.injectOptimizerRule(_ => EffectReceipt)
    scalarFunctions.foreach(ext.injectFunction)
    tableFunctions.foreach(ext.injectTableFunction)
  }
}

object GraftExtensions {

  private[graft] def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  /** Long literal; SQL integer literals parse as INT when they fit, so
    * accept both widths.
    */
  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def strArg(e: Expression, name: String): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case other => throw new IllegalArgumentException(
      s"$name must be a string literal, got $other")
  }

  private def boolArg(e: Expression, name: String): Boolean = e match {
    case Literal(b: Boolean, BooleanType) => b
    case other => throw new IllegalArgumentException(
      s"$name must be a boolean literal, got $other")
  }

  /** Fractional literal: SQL `0.8` parses as a decimal literal, so accept
    * decimal/double/float/int and normalize to Double.
    */
  private def doubleArg(e: Expression, name: String): Double = e match {
    case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
    case Literal(d: Double, _) => d
    case Literal(f: Float, _) => f.toDouble
    case Literal(i: Int, IntegerType) => i.toDouble
    case other => throw new IllegalArgumentException(
      s"$name must be a numeric literal, got $other")
  }

  /** Comma-separated plain column names ('a,b,c') → trimmed Seq. */
  private def colsArg(e: Expression, name: String): Seq[String] =
    strArg(e, name).split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Ordered BPE merge list, `'l:r,l:r'` (rank order). DELIMITER
    * RESTRICTION: merge symbols containing ':' or ',' are not
    * expressible through this SQL face (the spec string has no escape
    * syntax — a symbol like ':' would be ambiguous against the
    * delimiters, and the parse rejects it LOUDLY below). Such
    * vocabularies exist (punctuation-heavy corpora learn ':'-bearing
    * merges); train and encode them through the typed Scala API
    * ([[graft.operators.Bpe.encodeCol]]), which takes the merge list
    * structurally and has no delimiter at all.
    */
  private def mergesArg(e: Expression): Seq[(String, String)] =
    strArg(e, "merges").split(",").map(_.trim).filter(_.nonEmpty)
      .map { m =>
        m.split(":") match {
          case Array(l, r) => (l, r)
          case _ => throw new IllegalArgumentException(
            s"merge '$m' is not left:right")
        }
      }.toSeq

  /** Resolve a table-by-name argument against the session analyzing the
    * enclosing query (table-function builders run inside its analyzer).
    * A writing face resolves its tables here too and hands the frames
    * to its [[Effect]], which runs them at execution.
    */
  private def tableArg(e: Expression, name: String): DataFrame =
    SparkSession.active.table(strArg(e, name))

  private def plan(df: DataFrame): LogicalPlan = df.queryExecution.logical

  /** True iff no expression anywhere in the plan — INCLUDING inside
    * subquery plans — is non-deterministic. `SubqueryExpression` does
    * not fold its inner plan's determinism into its own `deterministic`
    * flag (confirmed against the shipped catalyst jar), so a flat
    * `p.expressions.exists(!_.deterministic)` scan reports a view
    * filtered on a `rand()` scalar subquery as deterministic — and the
    * skew join would then skip the persist that the r9 determinism
    * contract exists to guarantee (ADVICE r11). Recurse into every
    * `PlanExpression`'s plan as well.
    */
  private def planExprDeterministic(p: LogicalPlan): Boolean =
    p.find { node =>
      node.expressions.exists { e =>
        !e.deterministic || e.exists {
          case s: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
            s.plan match {
              case lp: LogicalPlan => !planExprDeterministic(lp)
              case _ => false
            }
          case _ => false
        }
      }
    }.isEmpty

  /** A table function's side effect. The face parses its literals and
    * resolves its input tables at analysis, like every face, and
    * returns this command; Spark's eager command execution runs `work`
    * once, when `spark.sql(...)` returns — outside the session catalog's
    * lock, under one SQL execution, and never for `EXPLAIN`. `work`
    * returns the receipt rows, shaped as `output`.
    */
  final case class Effect(override val output: Seq[Attribute],
                          work: SparkSession => Seq[Row])
      extends LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[Row] = work(spark)
  }

  /** Serves an executed [[Effect]]'s receipt as local rows: the
    * `CommandResult` Spark leaves in the plan becomes a `LocalRelation`
    * and the projections over it fold into it, so reading a receipt
    * runs no Spark job. User-provided rules run after Spark's
    * own local-relation batch, hence the explicit fold.
    */
  object EffectReceipt extends Rule[LogicalPlan] {
    def apply(p: LogicalPlan): LogicalPlan = {
      val local = p.transformUp {
        case CommandResult(out, _: Effect, _, rows) => LocalRelation(out, rows)
      }
      if (local eq p) p else ConvertToLocalRelation(local)
    }
  }

  /** An [[Effect]] whose receipt has the columns `cols` (strings
    * nullable, numbers and booleans not: the schema `toDF` gives a
    * tuple) and the one row `work` returns. */
  private def receipt(cols: (String, DataType)*)
                     (work: SparkSession => Product): LogicalPlan =
    Effect(cols.map { case (n, t) =>
      AttributeReference(n, t, nullable = t == StringType)() },
      s => Seq(Row.fromTuple(work(s))))

  /** The `(data_path, version)` receipt of a lake commit. */
  private def committed(path: String)
                       (commit: SparkSession => Long): LogicalPlan =
    receipt("data_path" -> StringType, "version" -> LongType)(s =>
      (path, commit(s)))

  /** The receipt of a history vacuum: files reclaimed and the earliest
    * version still readable after it. */
  private def vacuumed(path: String)
                      (vacuum: SparkSession => Int): LogicalPlan =
    receipt("data_path" -> StringType, "files_reclaimed" -> IntegerType,
        "earliest_readable" -> LongType) { s =>
      val n = vacuum(s)
      (path, n, TimeTravel.earliestReadable(s, path))
    }

  /** A constraint edit's receipt: the table's rules after `edit`, one
    * row each, by name in Spark's string order (UTF-8 bytes). */
  private def constraintsAfter(path: String)
      (edit: SparkSession => Seq[(String, String)]): LogicalPlan =
    Effect(Seq("name", "expr").map(AttributeReference(_, StringType)()), s =>
      edit(s).sortBy(r => UTF8String.fromString(r._1)).map(Row.fromTuple))

  /** The receipt of an index tombstone write. */
  private def deleted(path: String)(delete: => Unit): LogicalPlan =
    receipt("index_path" -> StringType) { _ => delete; Tuple1(path) }

  private val scalarFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => WinnowFingerprints(text, 8, 4)
        case Seq(text, k, w) =>
          WinnowFingerprints(text, intArg(k, "k"), intArg(w, "w"))
        case _ => throw new IllegalArgumentException(
          "winnow_fingerprints(text[, k, w])")
      }),
    (new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => args match {
        case Seq(tokens) => MinHashSignature(tokens, 32)
        case Seq(tokens, n) => MinHashSignature(tokens, intArg(n, "numHashes"))
        case _ => throw new IllegalArgumentException(
          "minhash_signature(tokens[, numHashes])")
      }),
    (new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(tokens) => SimHash64(tokens)
        case _ => throw new IllegalArgumentException("simhash64(tokens)")
      }),
    (new FunctionIdentifier("ngram_hashes"),
      new ExpressionInfo(classOf[NgramHashes].getName, "ngram_hashes"),
      (args: Seq[Expression]) => args match {
        case Seq(tokens, n) => NgramHashes(tokens, intArg(n, "n"))
        case _ => throw new IllegalArgumentException("ngram_hashes(tokens, n)")
      }),
    (new FunctionIdentifier("ngram_hashes_all"),
      new ExpressionInfo(classOf[NgramHashesAll].getName, "ngram_hashes_all"),
      (args: Seq[Expression]) => args match {
        case Seq(tokens, n) => NgramHashesAll(tokens, intArg(n, "n"))
        case _ => throw new IllegalArgumentException("ngram_hashes_all(tokens, n)")
      }),
    (new FunctionIdentifier("hyperplane_signature"),
      new ExpressionInfo(classOf[HyperplaneSignature].getName, "hyperplane_signature"),
      (args: Seq[Expression]) => args match {
        case Seq(vec, bits) => HyperplaneSignature(vec, intArg(bits, "bits"), 0L)
        case Seq(vec, bits, seed) =>
          HyperplaneSignature(vec, intArg(bits, "bits"), intArg(seed, "seed").toLong)
        case _ => throw new IllegalArgumentException(
          "hyperplane_signature(vec, bits[, seed])")
      }),
    (new FunctionIdentifier("quantize8"),
      new ExpressionInfo(classOf[Quantize8].getName, "quantize8"),
      (args: Seq[Expression]) => args match {
        case Seq(vec) => Quantize8(vec)
        case _ => throw new IllegalArgumentException("quantize8(vec)")
      }),
    (new FunctionIdentifier("dot_i8"),
      new ExpressionInfo(classOf[DotProductII].getName, "dot_i8"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => DotProductII(a, b)
        case _ => throw new IllegalArgumentException("dot_i8(a, b)")
      }),
    (new FunctionIdentifier("tdigest_quantile"),
      new ExpressionInfo(classOf[TDigestQuantile].getName, "tdigest_quantile"),
      (args: Seq[Expression]) => args match {
        case Seq(sk, q) => TDigestQuantile(sk, q)
        case _ => throw new IllegalArgumentException(
          "tdigest_quantile(sketch, q)")
      }))

  /** Table-level operators as SQL table functions: each builder resolves
    * its input table(s) from the active session, applies the Scala
    * operator, and returns the resulting logical plan for the analyzer to
    * inline — the plan a SQL caller gets is EXACTLY the plan the Column
    * API builds (same pushdowns, same shuffles), not a reimplementation.
    * A writing face returns an [[Effect]] that calls the Scala operator
    * at execution instead.
    */
  private val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    (new FunctionIdentifier("graft_profile"),
      new ExpressionInfo("graft.operators.Profiling", "graft_profile"),
      (args: Seq[Expression]) => args match {
        case Seq(t, cols) =>
          plan(Profiling.profile(tableArg(t, "table"), colsArg(cols, "cols")))
        case Seq(t, cols, approx) =>
          plan(Profiling.profile(tableArg(t, "table"), colsArg(cols, "cols"),
            approxDistinct = boolArg(approx, "approx")))
        case _ => throw new IllegalArgumentException(
          "graft_profile(table, 'c1,c2'[, approx])")
      }),
    (new FunctionIdentifier("graft_key_skew"),
      new ExpressionInfo("graft.operators.Profiling", "graft_key_skew"),
      (args: Seq[Expression]) => args match {
        case Seq(t, key) =>
          plan(Profiling.keySkew(tableArg(t, "table"), strArg(key, "keyCol")))
        case Seq(t, key, k) =>
          plan(Profiling.keySkew(tableArg(t, "table"), strArg(key, "keyCol"),
            topK = intArg(k, "topK")))
        case _ => throw new IllegalArgumentException(
          "graft_key_skew(table, keyCol[, topK])")
      }),
    (new FunctionIdentifier("graft_check"),
      new ExpressionInfo("graft.operators.Profiling", "graft_check"),
      (args: Seq[Expression]) => args match {
        case t +: rest if rest.nonEmpty && rest.length % 2 == 0 =>
          val rules = rest.grouped(2).zipWithIndex.map { case (Seq(n, p), i) =>
            strArg(n, s"rule $i name") -> expr(strArg(p, s"rule $i predicate"))
          }.toSeq
          plan(Profiling.checkConstraints(tableArg(t, "table"), rules))
        case _ => throw new IllegalArgumentException(
          "graft_check(table, name1, pred1[, name2, pred2, ...])")
      }),
    (new FunctionIdentifier("graft_sessionize"),
      new ExpressionInfo("graft.operators.TimeSeries", "graft_sessionize"),
      (args: Seq[Expression]) => args match {
        case Seq(t, key, ts, gap, aggs @ _*) if aggs.nonEmpty =>
          plan(TimeSeries.sessionize(tableArg(t, "table"),
            strArg(key, "keyCol"), strArg(ts, "tsCol"), strArg(gap, "gap"),
            aggs.zipWithIndex.map { case (a, i) => expr(strArg(a, s"agg $i")) }))
        case _ => throw new IllegalArgumentException(
          "graft_sessionize(table, keyCol, tsCol, gap, agg1[, agg2, ...])")
      }),
    (new FunctionIdentifier("graft_asof_join"),
      new ExpressionInfo("graft.operators.Joins", "graft_asof_join"),
      (args: Seq[Expression]) => args match {
        case Seq(l, r, keys, lts, rts, payload) =>
          plan(Joins.asofJoin(tableArg(l, "left"), tableArg(r, "right"),
            colsArg(keys, "keys"), strArg(lts, "leftTs"),
            strArg(rts, "rightTs"), colsArg(payload, "payload")))
        case _ => throw new IllegalArgumentException(
          "graft_asof_join(left, right, 'k1,k2', leftTs, rightTs, 'p1,p2')")
      }),
    (new FunctionIdentifier("graft_exact_dedup"),
      new ExpressionInfo("graft.operators.Dedup", "graft_exact_dedup"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, text) =>
          plan(Dedup.exact(tableArg(t, "table"), strArg(id, "idCol"),
            strArg(text, "textCol")))
        case _ => throw new IllegalArgumentException(
          "graft_exact_dedup(table, idCol, textCol)")
      }),
    (new FunctionIdentifier("graft_minhash_pairs"),
      new ExpressionInfo("graft.operators.Dedup", "graft_minhash_pairs"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, text) =>
          plan(Dedup.minhashCandidatePairs(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol")))
        case Seq(t, id, text, sn, nh, b) =>
          plan(Dedup.minhashCandidatePairs(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol"),
            intArg(sn, "shingleN"), intArg(nh, "numHashes"),
            intArg(b, "bands")))
        case _ => throw new IllegalArgumentException(
          "graft_minhash_pairs(table, idCol, textCol[, shingleN, numHashes, bands])")
      }),
    (new FunctionIdentifier("graft_dedup_corpus"),
      new ExpressionInfo("graft.operators.Dedup", "graft_dedup_corpus"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, text) =>
          plan(Dedup.dedupCorpus(tableArg(t, "table"), strArg(id, "idCol"),
            strArg(text, "textCol")))
        case Seq(t, id, text, thr) =>
          plan(Dedup.dedupCorpus(tableArg(t, "table"), strArg(id, "idCol"),
            strArg(text, "textCol"), doubleArg(thr, "threshold")))
        case _ => throw new IllegalArgumentException(
          "graft_dedup_corpus(table, idCol, textCol[, threshold])")
      }),
    (new FunctionIdentifier("graft_flag_index"),
      new ExpressionInfo("graft.operators.Dedup", "graft_flag_index"),
      (args: Seq[Expression]) => args match {
        case Seq(t, path, id, text) =>
          plan(Dedup.flagAgainstIndex(tableArg(t, "table"),
            strArg(path, "indexPath"), strArg(id, "idCol"),
            strArg(text, "textCol")))
        case _ => throw new IllegalArgumentException(
          "graft_flag_index(table, indexPath, idCol, textCol)")
      }),
    (new FunctionIdentifier("graft_simhash_pairs"),
      new ExpressionInfo("graft.operators.Dedup", "graft_simhash_pairs"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, text) =>
          plan(Dedup.simhashNearDupPairs(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol")))
        case Seq(t, id, text, mh, b, mb) =>
          plan(Dedup.simhashNearDupPairs(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol"),
            intArg(mh, "maxHamming"), intArg(b, "blocks"),
            intArg(mb, "maxBucket")))
        case _ => throw new IllegalArgumentException(
          "graft_simhash_pairs(table, idCol, textCol[, maxHamming, blocks, maxBucket])")
      }),
    (new FunctionIdentifier("graft_incremental_exact"),
      new ExpressionInfo("graft.operators.Dedup", "graft_incremental_exact"),
      (args: Seq[Expression]) => args match {
        case Seq(t, path, id, text) =>
          plan(Dedup.incrementalExact(tableArg(t, "table"),
            strArg(path, "indexPath"), strArg(id, "idCol"),
            strArg(text, "textCol")))
        case _ => throw new IllegalArgumentException(
          "graft_incremental_exact(table, indexPath, idCol, textCol)")
      }),
    (new FunctionIdentifier("graft_incremental_minhash"),
      new ExpressionInfo("graft.operators.Dedup", "graft_incremental_minhash"),
      (args: Seq[Expression]) => args match {
        case Seq(t, path, id, text) =>
          plan(Dedup.incrementalMinhashPairs(tableArg(t, "table"),
            strArg(path, "indexPath"), strArg(id, "idCol"),
            strArg(text, "textCol")))
        case Seq(t, path, id, text, mb) =>
          plan(Dedup.incrementalMinhashPairs(tableArg(t, "table"),
            strArg(path, "indexPath"), strArg(id, "idCol"),
            strArg(text, "textCol"), intArg(mb, "maxBucket")))
        case _ => throw new IllegalArgumentException(
          "graft_incremental_minhash(table, indexPath, idCol, textCol[, maxBucket])")
      }),
    (new FunctionIdentifier("graft_incremental_simhash"),
      new ExpressionInfo("graft.operators.Dedup", "graft_incremental_simhash"),
      (args: Seq[Expression]) => args match {
        case Seq(t, path, id, text) =>
          plan(Dedup.incrementalSimhashPairs(tableArg(t, "table"),
            strArg(path, "indexPath"), strArg(id, "idCol"),
            strArg(text, "textCol")))
        case Seq(t, path, id, text, mh, b, mb) =>
          plan(Dedup.incrementalSimhashPairs(tableArg(t, "table"),
            strArg(path, "indexPath"), strArg(id, "idCol"),
            strArg(text, "textCol"), intArg(mh, "maxHamming"),
            intArg(b, "blocks"), intArg(mb, "maxBucket")))
        case _ => throw new IllegalArgumentException(
          "graft_incremental_simhash(table, indexPath, idCol, textCol[, maxHamming, blocks, maxBucket])")
      }),
    (new FunctionIdentifier("graft_cosine_topk"),
      new ExpressionInfo("graft.operators.Similarity", "graft_cosine_topk"),
      (args: Seq[Expression]) => args match {
        case Seq(c, q, id, vec, k) =>
          plan(Similarity.bruteForceTopK(tableArg(c, "corpus"),
            tableArg(q, "queries"), strArg(id, "idCol"),
            strArg(vec, "vecCol"), intArg(k, "k")))
        case _ => throw new IllegalArgumentException(
          "graft_cosine_topk(corpus, queries, idCol, vecCol, k)")
      }),
    (new FunctionIdentifier("graft_quantized_topk"),
      new ExpressionInfo("graft.operators.Similarity", "graft_quantized_topk"),
      (args: Seq[Expression]) => args match {
        case Seq(c, q, id, vec, k) =>
          plan(Similarity.quantizedTopK(tableArg(c, "corpus"),
            tableArg(q, "queries"), strArg(id, "idCol"),
            strArg(vec, "vecCol"), intArg(k, "k")))
        case _ => throw new IllegalArgumentException(
          "graft_quantized_topk(corpus, queries, idCol, vecCol, k)")
      }),
    (new FunctionIdentifier("graft_rescored_topk"),
      new ExpressionInfo("graft.operators.Similarity", "graft_rescored_topk"),
      (args: Seq[Expression]) => args match {
        case Seq(c, q, id, vec, k) =>
          plan(Similarity.rescoredTopK(tableArg(c, "corpus"),
            tableArg(q, "queries"), strArg(id, "idCol"),
            strArg(vec, "vecCol"), intArg(k, "k")))
        case Seq(c, q, id, vec, k, cf) =>
          plan(Similarity.rescoredTopK(tableArg(c, "corpus"),
            tableArg(q, "queries"), strArg(id, "idCol"),
            strArg(vec, "vecCol"), intArg(k, "k"),
            candidateFactor = intArg(cf, "candidateFactor")))
        case _ => throw new IllegalArgumentException(
          "graft_rescored_topk(corpus, queries, idCol, vecCol, k[, candidateFactor])")
      }),
    (new FunctionIdentifier("graft_ivf_topk"),
      new ExpressionInfo("graft.operators.Similarity", "graft_ivf_topk"),
      (args: Seq[Expression]) => args match {
        case Seq(c, q, id, vec, k) =>
          plan(Similarity.ivfTopK(tableArg(c, "corpus"), tableArg(q, "queries"),
            strArg(id, "idCol"), strArg(vec, "vecCol"), intArg(k, "k")))
        case Seq(c, q, id, vec, k, cells, probe) =>
          plan(Similarity.ivfTopK(tableArg(c, "corpus"), tableArg(q, "queries"),
            strArg(id, "idCol"), strArg(vec, "vecCol"), intArg(k, "k"),
            nCells = intArg(cells, "nCells"), nProbe = intArg(probe, "nProbe")))
        case _ => throw new IllegalArgumentException(
          "graft_ivf_topk(corpus, queries, idCol, vecCol, k[, nCells, nProbe])")
      }),
    (new FunctionIdentifier("graft_lsh_topk"),
      new ExpressionInfo("graft.operators.Similarity", "graft_lsh_topk"),
      (args: Seq[Expression]) => args match {
        // prefixBits is mandatory here: the Scala API's auto mode sizes
        // buckets from a corpus count() JOB at plan-build time, which a
        // SQL table function must never hide inside analysis
        case Seq(c, id, vec, k, pb) =>
          plan(Similarity.lshTopK(tableArg(c, "corpus"), strArg(id, "idCol"),
            strArg(vec, "vecCol"), intArg(k, "k"),
            prefixBits = intArg(pb, "prefixBits")))
        case Seq(c, id, vec, k, pb, tbl) =>
          plan(Similarity.lshTopK(tableArg(c, "corpus"), strArg(id, "idCol"),
            strArg(vec, "vecCol"), intArg(k, "k"),
            prefixBits = intArg(pb, "prefixBits"), tables = intArg(tbl, "tables")))
        case Seq(c, id, vec, k, pb, tbl, mp) =>
          plan(Similarity.lshTopK(tableArg(c, "corpus"), strArg(id, "idCol"),
            strArg(vec, "vecCol"), intArg(k, "k"),
            prefixBits = intArg(pb, "prefixBits"), tables = intArg(tbl, "tables"),
            multiProbe = boolArg(mp, "multiProbe")))
        case _ => throw new IllegalArgumentException(
          "graft_lsh_topk(corpus, idCol, vecCol, k, prefixBits[, tables, multiProbe])")
      }),
    (new FunctionIdentifier("graft_embedding_neardups"),
      new ExpressionInfo("graft.operators.Dedup", "graft_embedding_neardups"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, vec, blk, thr) =>
          plan(Dedup.embeddingNearDups(tableArg(t, "table"), strArg(id, "idCol"),
            strArg(vec, "vecCol"), strArg(blk, "blockCol"),
            doubleArg(thr, "threshold")))
        case _ => throw new IllegalArgumentException(
          "graft_embedding_neardups(table, idCol, vecCol, blockCol, threshold)")
      }),
    (new FunctionIdentifier("graft_ngram_top_neighbor"),
      new ExpressionInfo("graft.operators.Dedup", "graft_ngram_top_neighbor"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, text, blk) =>
          plan(Dedup.ngramJaccardTopNeighbor(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol"), strArg(blk, "blockCol")))
        case Seq(t, id, text, blk, n) =>
          plan(Dedup.ngramJaccardTopNeighbor(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol"), strArg(blk, "blockCol"),
            n = intArg(n, "n")))
        case _ => throw new IllegalArgumentException(
          "graft_ngram_top_neighbor(table, idCol, textCol, blockCol[, n])")
      }),
    (new FunctionIdentifier("graft_dup_spans"),
      new ExpressionInfo("graft.operators.Dedup", "graft_dup_spans"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, text) =>
          plan(Dedup.duplicateSpans(tableArg(t, "table"), strArg(id, "idCol"),
            strArg(text, "textCol")))
        case Seq(t, id, text, n, msg) =>
          plan(Dedup.duplicateSpans(tableArg(t, "table"), strArg(id, "idCol"),
            strArg(text, "textCol"), n = intArg(n, "n"),
            minSpanGrams = intArg(msg, "minSpanGrams")))
        case _ => throw new IllegalArgumentException(
          "graft_dup_spans(table, idCol, textCol[, n, minSpanGrams])")
      }),
    (new FunctionIdentifier("graft_excise_spans"),
      new ExpressionInfo("graft.operators.Dedup", "graft_excise_spans"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, text) =>
          plan(Dedup.exciseDuplicateSpans(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol")))
        case Seq(t, id, text, n, msg) =>
          plan(Dedup.exciseDuplicateSpans(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol"),
            n = intArg(n, "n"), minSpanGrams = intArg(msg, "minSpanGrams")))
        case _ => throw new IllegalArgumentException(
          "graft_excise_spans(table, idCol, textCol[, n, minSpanGrams]) " +
            "— keep-first duplicate-span excision (the q63 detection " +
            "as a transform)")
      }),
    // read faces over persisted incremental indexes (lazy plans; the
    // only construction-time reads are 1-row metas)
    (new FunctionIdentifier("graft_decontaminate_index"),
      new ExpressionInfo("graft.operators.Corpus", "graft_decontaminate_index"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, id, text) =>
          plan(graft.operators.Corpus.decontaminateAgainstIndex(
            tableArg(t, "table"), strArg(p, "indexPath"),
            strArg(id, "idCol"), strArg(text, "textCol")))
        case _ => throw new IllegalArgumentException(
          "graft_decontaminate_index(table, indexPath, idCol, textCol)")
      }),
    (new FunctionIdentifier("graft_hh_merged"),
      new ExpressionInfo("graft.operators.Profiling", "graft_hh_merged"),
      (args: Seq[Expression]) => args match {
        case Seq(p) =>
          plan(Profiling.mergedHeavyHitters(SparkSession.active,
            strArg(p, "indexPath")))
        case _ => throw new IllegalArgumentException(
          "graft_hh_merged(indexPath)")
      }),
    (new FunctionIdentifier("graft_hist_merged"),
      new ExpressionInfo("graft.operators.Profiling", "graft_hist_merged"),
      (args: Seq[Expression]) => args match {
        case Seq(p) =>
          plan(Profiling.mergedHistogramIndex(SparkSession.active,
            strArg(p, "indexPath")))
        case _ => throw new IllegalArgumentException(
          "graft_hist_merged(indexPath)")
      }),
    (new FunctionIdentifier("graft_lm_index_score"),
      new ExpressionInfo("graft.operators.Corpus", "graft_lm_index_score"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, id, text) =>
          plan(graft.operators.Corpus.lmScoreAgainstStats(
            tableArg(t, "table"), strArg(p, "indexPath"),
            strArg(id, "idCol"), strArg(text, "textCol")))
        case _ => throw new IllegalArgumentException(
          "graft_lm_index_score(table, indexPath, idCol, textCol)")
      }),
    // corpus-prep family (graft.operators.Corpus) — the training-data
    // shaping operators, closing the last Scala-only asymmetry against
    // the reference's SQL-text-only API
    (new FunctionIdentifier("graft_chunk"),
      new ExpressionInfo("graft.operators.Corpus", "graft_chunk"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, text, size, stride) =>
          plan(graft.operators.Corpus.chunk(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol"),
            intArg(size, "size"), intArg(stride, "stride")))
        case _ => throw new IllegalArgumentException(
          "graft_chunk(table, idCol, textCol, size, stride)")
      }),
    (new FunctionIdentifier("graft_pack"),
      new ExpressionInfo("graft.operators.Corpus", "graft_pack"),
      (args: Seq[Expression]) => args match {
        case Seq(t, shard, key, tok, budget) =>
          plan(graft.operators.Corpus.packSequences(tableArg(t, "table"),
            strArg(shard, "shardCol"), strArg(key, "keyCol"),
            strArg(tok, "tokenCol"), intArg(budget, "budget").toLong))
        case _ => throw new IllegalArgumentException(
          "graft_pack(table, shardCol, keyCol, tokenCol, budget)")
      }),
    (new FunctionIdentifier("graft_balance"),
      new ExpressionInfo("graft.operators.Corpus", "graft_balance"),
      (args: Seq[Expression]) => args match {
        case Seq(t, strata, key) =>
          plan(graft.operators.Corpus.balanceStrata(tableArg(t, "table"),
            strArg(strata, "strataCol"), strArg(key, "keyCol")))
        case _ => throw new IllegalArgumentException(
          "graft_balance(table, strataCol, keyCol)")
      }),
    (new FunctionIdentifier("graft_shards"),
      new ExpressionInfo("graft.operators.Corpus", "graft_shards"),
      (args: Seq[Expression]) => args match {
        case Seq(t, key, n) =>
          plan(graft.operators.Corpus.shardAssignment(tableArg(t, "table"),
            strArg(key, "keyCol"), intArg(n, "nShards")))
        case _ => throw new IllegalArgumentException(
          "graft_shards(table, keyCol, nShards)")
      }),
    (new FunctionIdentifier("graft_weighted_sample"),
      new ExpressionInfo("graft.operators.Corpus", "graft_weighted_sample"),
      (args: Seq[Expression]) => args match {
        case Seq(t, key, w, f) =>
          plan(graft.operators.Corpus.weightedSample(tableArg(t, "table"),
            strArg(key, "keyCol"), strArg(w, "weightCol"),
            doubleArg(f, "fraction")))
        case _ => throw new IllegalArgumentException(
          "graft_weighted_sample(table, keyCol, weightCol, fraction)")
      }),
    // index tombstones (the sidecar write runs when the query executes,
    // the receipt row reports the delete) — one face per family, same
    // names as the Scala API
    (new FunctionIdentifier("graft_delete_digest"),
      new ExpressionInfo("graft.operators.Dedup", "graft_delete_digest"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, text) =>
          val (df, path, c) = (tableArg(t, "table"), strArg(p, "indexPath"),
            strArg(text, "textCol"))
          deleted(path)(Dedup.deleteFromDigestIndex(df, path, c))
        case _ => throw new IllegalArgumentException(
          "graft_delete_digest(table, indexPath, textCol)")
      }),
    (new FunctionIdentifier("graft_delete_minhash"),
      new ExpressionInfo("graft.operators.Dedup", "graft_delete_minhash"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, id) =>
          val (df, path, c) = (tableArg(t, "ids"), strArg(p, "indexPath"),
            strArg(id, "idCol"))
          deleted(path)(Dedup.deleteFromMinhashIndex(df, path, c))
        case _ => throw new IllegalArgumentException(
          "graft_delete_minhash(ids, indexPath, idCol)")
      }),
    (new FunctionIdentifier("graft_delete_simhash"),
      new ExpressionInfo("graft.operators.Dedup", "graft_delete_simhash"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, id) =>
          val (df, path, c) = (tableArg(t, "ids"), strArg(p, "indexPath"),
            strArg(id, "idCol"))
          deleted(path)(Dedup.deleteFromSimhashIndex(df, path, c))
        case _ => throw new IllegalArgumentException(
          "graft_delete_simhash(ids, indexPath, idCol)")
      }),
    (new FunctionIdentifier("graft_delete_ivf"),
      new ExpressionInfo("graft.operators.Similarity", "graft_delete_ivf"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, id) =>
          val (df, path, c) = (tableArg(t, "ids"), strArg(p, "indexPath"),
            strArg(id, "idCol"))
          deleted(path)(Similarity.deleteFromIvfIndex(df, path, c))
        case _ => throw new IllegalArgumentException(
          "graft_delete_ivf(ids, indexPath, idCol)")
      }),
    (new FunctionIdentifier("graft_delete_lsh"),
      new ExpressionInfo("graft.operators.Similarity", "graft_delete_lsh"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, id) =>
          val (df, path, c) = (tableArg(t, "ids"), strArg(p, "indexPath"),
            strArg(id, "idCol"))
          deleted(path)(Similarity.deleteFromLshIndex(df, path, c))
        case _ => throw new IllegalArgumentException(
          "graft_delete_lsh(ids, indexPath, idCol)")
      }),
    (new FunctionIdentifier("graft_delete_pq"),
      new ExpressionInfo("graft.operators.Similarity", "graft_delete_pq"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, id) =>
          val (df, path, c) = (tableArg(t, "ids"), strArg(p, "indexPath"),
            strArg(id, "idCol"))
          deleted(path)(Similarity.deleteFromPqIndex(df, path, c))
        case _ => throw new IllegalArgumentException(
          "graft_delete_pq(ids, indexPath, idCol)")
      }),
    // multimodal: per-channel PCM energy features over WAV payloads
    (new FunctionIdentifier("graft_wav_features"),
      new ExpressionInfo("graft.operators.Multimodal", "graft_wav_features"),
      (args: Seq[Expression]) => args match {
        case Seq(t) =>
          plan(graft.operators.Multimodal.wavChannelFeatures(
            tableArg(t, "table")))
        case _ => throw new IllegalArgumentException(
          "graft_wav_features(table) — table needs doc_id + payload columns")
      }),
    // multimodal: MP4 per-frame sample accounting (sizes + durations)
    (new FunctionIdentifier("graft_mp4_frames"),
      new ExpressionInfo("graft.operators.Multimodal", "graft_mp4_frames"),
      (args: Seq[Expression]) => args match {
        case Seq(t) =>
          plan(graft.operators.Multimodal.mp4FrameTable(
            tableArg(t, "table")))
        case _ => throw new IllegalArgumentException(
          "graft_mp4_frames(table) — table needs doc_id + payload columns")
      }),
    // multimodal: located MJPEG-in-MP4 samples (sizes + byte sums)
    (new FunctionIdentifier("graft_mjpeg_mp4_frames"),
      new ExpressionInfo("graft.operators.Multimodal",
        "graft_mjpeg_mp4_frames"),
      (args: Seq[Expression]) => args match {
        case Seq(t) =>
          plan(graft.operators.Multimodal.mjpegMp4FrameTable(
            tableArg(t, "table")))
        case _ => throw new IllegalArgumentException(
          "graft_mjpeg_mp4_frames(table) — table needs doc_id + payload " +
            "columns")
      }),
    // multimodal: AVI/MJPEG frames decoded to pixel features
    (new FunctionIdentifier("graft_avi_frames"),
      new ExpressionInfo("graft.operators.Multimodal", "graft_avi_frames"),
      (args: Seq[Expression]) => args match {
        case Seq(t) =>
          plan(graft.operators.Multimodal.aviFrameFeatures(
            tableArg(t, "table")))
        case _ => throw new IllegalArgumentException(
          "graft_avi_frames(table) — table needs doc_id + payload columns")
      }),
    // layout family (graft.sources.Layout) — write/update run when the
    // query executes, and the returned row reports what was done
    (new FunctionIdentifier("graft_zorder_write"),
      new ExpressionInfo("graft.sources.Layout", "graft_zorder_write"),
      (args: Seq[Expression]) => args match {
        // dims as one comma list (2..N dimensions), or legacy colA, colB
        case Seq(t, p, rest @ _*) if rest.size == 2 || rest.size == 3 =>
          val (df, path, files) = (tableArg(t, "table"), strArg(p, "dataPath"),
            intArg(rest.last, "files"))
          val ds = if (rest.size == 2) colsArg(rest.head, "dims")
            else Seq(strArg(rest.head, "colA"), strArg(rest(1), "colB"))
          receipt("data_path" -> StringType, "files_written" -> IntegerType) {
            _ => (path, Layout.writeZOrdered(df, path, ds, files))
          }
        case _ => throw new IllegalArgumentException(
          "graft_zorder_write(table, dataPath, 'dim1,dim2[,dim3…]', files)" +
            " or (table, dataPath, colA, colB, files)")
      }),
    (new FunctionIdentifier("graft_update_manifest"),
      new ExpressionInfo("graft.sources.Layout", "graft_update_manifest"),
      (args: Seq[Expression]) => args match {
        case Seq(p, dims) =>
          val (path, ds) = (strArg(p, "dataPath"), colsArg(dims, "dims"))
          receipt("data_path" -> StringType, "files_statted" -> IntegerType)(
            s => (path, Layout.updateManifest(s, path, ds)))
        case _ => throw new IllegalArgumentException(
          "graft_update_manifest(dataPath, 'dim1,dim2')")
      }),
    (new FunctionIdentifier("graft_pruned_read"),
      new ExpressionInfo("graft.sources.Layout", "graft_pruned_read"),
      (args: Seq[Expression]) => args match {
        // variadic (col, lo, hi) triples; bounds are STRING literals cast
        // to each dimension's actual type, so timestamps, dates, and
        // numerics all ride the same SQL face
        case Seq(p, rest @ _*) if rest.nonEmpty && rest.size % 3 == 0 =>
          val spark = SparkSession.active
          val path = strArg(p, "dataPath")
          val schema = spark.read.parquet(path).schema
          val ranges = rest.grouped(3).map { case Seq(c, lo, hi) =>
            val cn = strArg(c, "col")
            val dt = schema(cn).dataType
            graft.sources.Layout.ColRange(cn,
              org.apache.spark.sql.functions.lit(strArg(lo, "lo")).cast(dt),
              org.apache.spark.sql.functions.lit(strArg(hi, "hi")).cast(dt))
          }.toSeq
          plan(graft.sources.Layout.prunedRead(spark, path, ranges))
        case _ => throw new IllegalArgumentException(
          "graft_pruned_read(dataPath, col1, lo1, hi1[, col2, lo2, hi2, ...])")
      }),
    // partitioned layout family — the same receipts as the flat faces,
    // per-leaf mechanics inside
    (new FunctionIdentifier("graft_zorder_write_partitioned"),
      new ExpressionInfo("graft.sources.Layout",
        "graft_zorder_write_partitioned"),
      (args: Seq[Expression]) => args match {
        case Seq(t, r, pc, dims, f) =>
          val (df, root, part, ds, files) = (tableArg(t, "table"),
            strArg(r, "root"), strArg(pc, "partCol"), colsArg(dims, "dims"),
            intArg(f, "files"))
          receipt("root" -> StringType, "files_written" -> IntegerType)(_ =>
            (root, Layout.writeZOrderedPartitioned(df, root, part, ds, files)))
        case _ => throw new IllegalArgumentException(
          "graft_zorder_write_partitioned(table, root, partCol, " +
            "'dim1,dim2', files)")
      }),
    (new FunctionIdentifier("graft_append_partitioned"),
      new ExpressionInfo("graft.sources.Layout", "graft_append_partitioned"),
      (args: Seq[Expression]) => args match {
        case Seq(t, r, pc, dims, f) =>
          val (df, root, part, ds, files) = (tableArg(t, "table"),
            strArg(r, "root"), strArg(pc, "partCol"), colsArg(dims, "dims"),
            intArg(f, "files"))
          receipt("root" -> StringType, "files_appended" -> IntegerType)(_ =>
            (root, Layout.appendZOrderedPartitioned(df, root, part, ds, files)))
        case _ => throw new IllegalArgumentException(
          "graft_append_partitioned(table, root, partCol, 'dim1,dim2', " +
            "files)")
      }),
    (new FunctionIdentifier("graft_update_manifest_partitioned"),
      new ExpressionInfo("graft.sources.Layout",
        "graft_update_manifest_partitioned"),
      (args: Seq[Expression]) => args match {
        case Seq(r, dims) =>
          val (root, ds) = (strArg(r, "root"), colsArg(dims, "dims"))
          receipt("root" -> StringType, "files_statted" -> IntegerType)(s =>
            (root, Layout.updateManifestPartitioned(s, root, ds)))
        case _ => throw new IllegalArgumentException(
          "graft_update_manifest_partitioned(root, 'dim1,dim2')")
      }),
    (new FunctionIdentifier("graft_pruned_read_partitioned"),
      new ExpressionInfo("graft.sources.Layout",
        "graft_pruned_read_partitioned"),
      (args: Seq[Expression]) => args match {
        case Seq(r, rest @ _*) if rest.size % 3 == 0 =>
          val spark = SparkSession.active
          val root = strArg(r, "root")
          val schema = spark.read.parquet(root).schema
          val ranges = rest.grouped(3).map { case Seq(c, lo, hi) =>
            val cn = strArg(c, "col")
            val dt = schema(cn).dataType
            graft.sources.Layout.ColRange(cn,
              org.apache.spark.sql.functions.lit(strArg(lo, "lo")).cast(dt),
              org.apache.spark.sql.functions.lit(strArg(hi, "hi")).cast(dt))
          }.toSeq
          plan(graft.sources.Layout.prunedReadPartitioned(spark, root,
            ranges))
        case _ => throw new IllegalArgumentException(
          "graft_pruned_read_partitioned(root[, col1, lo1, hi1, ...])")
      }),
    (new FunctionIdentifier("graft_compact_partitioned"),
      new ExpressionInfo("graft.sources.Layout", "graft_compact_partitioned"),
      (args: Seq[Expression]) => args match {
        case Seq(r, dims, fpl, mfl) =>
          val (root, ds, per, max) = (strArg(r, "root"), colsArg(dims, "dims"),
            intArg(fpl, "filesPerLeaf"), intArg(mfl, "maxFilesPerLeaf"))
          receipt("root" -> StringType, "leaves_compacted" -> IntegerType)(s =>
            (root, Layout.compactPartitioned(s, root, ds, per, max)))
        case _ => throw new IllegalArgumentException(
          "graft_compact_partitioned(root, 'dim1,dim2', filesPerLeaf, " +
            "maxFilesPerLeaf)")
      }),
    (new FunctionIdentifier("graft_leaf_census"),
      new ExpressionInfo("graft.sources.Layout", "graft_leaf_census"),
      (args: Seq[Expression]) => args match {
        case Seq(r) =>
          plan(graft.sources.Layout.leafCensus(SparkSession.active,
            strArg(r, "root")))
        case _ => throw new IllegalArgumentException(
          "graft_leaf_census(root)")
      }),
    (new FunctionIdentifier("graft_drop_partition"),
      new ExpressionInfo("graft.sources.Layout", "graft_drop_partition"),
      (args: Seq[Expression]) => args match {
        case Seq(r, leaf) =>
          val (root, name) = (strArg(r, "root"), strArg(leaf, "leafName"))
          receipt("root" -> StringType, "dropped" -> BooleanType)(s =>
            (root, Layout.dropPartition(s, root, name)))
        case _ => throw new IllegalArgumentException(
          "graft_drop_partition(root, 'k=v')")
      }),
    (new FunctionIdentifier("graft_delete_partitioned"),
      new ExpressionInfo("graft.sources.Layout", "graft_delete_partitioned"),
      (args: Seq[Expression]) => args match {
        case Seq(ids, r, dims, id) =>
          val (root, ds, idCol, doomed) = (strArg(r, "root"),
            colsArg(dims, "dims"), strArg(id, "idCol"), tableArg(ids, "ids"))
          receipt("root" -> StringType, "files_rewritten" -> IntegerType)(s =>
            (root, Layout.deleteByIdsPartitioned(s, root, ds, idCol, doomed)))
        case _ => throw new IllegalArgumentException(
          "graft_delete_partitioned(ids, root, 'dim1,dim2', idCol)")
      }),
    (new FunctionIdentifier("graft_lookup"),
      new ExpressionInfo("graft.sources.Layout", "graft_lookup"),
      (args: Seq[Expression]) => args match {
        case Seq(p, id, ids) =>
          val spark = SparkSession.active
          val needles = strArg(ids, "ids").split(",").map(_.trim)
            .filter(_.nonEmpty).map(_.toLong).toSeq
          plan(graft.sources.Layout.lookupByIds(spark,
            strArg(p, "dataPath"), strArg(id, "idCol"), needles))
        case _ => throw new IllegalArgumentException(
          "graft_lookup(dataPath, idCol, '1,2,3') — long ids on this " +
            "face; the Scala API takes any literal type")
      }),
    // time-travel family (graft.sources.TimeTravel) — versioned lake
    // snapshots. Commit/delete/compact/vacuum write when the query
    // executes (the returned row is the receipt); read/history are
    // plain table reads
    (new FunctionIdentifier("graft_tt_commit"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_commit"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, dims, f, rest @ _*) if rest.size <= 1 =>
          val (df, path, ds, files, batch) = (tableArg(t, "table"),
            strArg(p, "dataPath"), colsArg(dims, "dims"), intArg(f, "files"),
            rest.headOption.map(strArg(_, "batchId")))
          committed(path)(_ => TimeTravel.commitAppend(df, path, ds, files,
            batch))
        case _ => throw new IllegalArgumentException(
          "graft_tt_commit(table, dataPath, 'dim1[,dim2…]', files" +
            "[, batchId])")
      }),
    (new FunctionIdentifier("graft_tt_delete"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_delete"),
      (args: Seq[Expression]) => args match {
        case Seq(ids, p, id) =>
          val (doomed, path, idCol) = (tableArg(ids, "ids"),
            strArg(p, "dataPath"), strArg(id, "idCol"))
          committed(path)(TimeTravel.commitDelete(_, path, idCol, doomed))
        case _ => throw new IllegalArgumentException(
          "graft_tt_delete(ids, dataPath, idCol)")
      }),
    (new FunctionIdentifier("graft_tt_compact"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_compact"),
      (args: Seq[Expression]) => args match {
        case Seq(p, dims, f) =>
          val (path, ds, files) = (strArg(p, "dataPath"),
            colsArg(dims, "dims"), intArg(f, "files"))
          committed(path)(TimeTravel.compact(_, path, ds, files))
        case _ => throw new IllegalArgumentException(
          "graft_tt_compact(dataPath, 'dim1[,dim2…]', files)")
      }),
    (new FunctionIdentifier("graft_tt_compact_small"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_compact_small"),
      (args: Seq[Expression]) => args match {
        case Seq(p, dims, tgt) =>
          val (path, ds, target) = (strArg(p, "dataPath"),
            colsArg(dims, "dims"), longArg(tgt, "targetBytes"))
          committed(path)(TimeTravel.compactSmall(_, path, ds, target))
        case _ => throw new IllegalArgumentException(
          "graft_tt_compact_small(dataPath, 'dim1[,dim2…]', targetBytes)")
      }),
    (new FunctionIdentifier("graft_tt_read"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_read"),
      (args: Seq[Expression]) => args match {
        case Seq(p) =>
          plan(graft.sources.TimeTravel.read(SparkSession.active,
            strArg(p, "dataPath")))
        case Seq(p, v) =>
          plan(graft.sources.TimeTravel.readAsOf(SparkSession.active,
            strArg(p, "dataPath"), longArg(v, "version")))
        // pruned form: (col, lo, hi) string triples cast to each
        // dimension's type, like graft_pruned_read
        case Seq(p, v, rest @ _*) if rest.nonEmpty && rest.size % 3 == 0 =>
          val spark = SparkSession.active
          val path = strArg(p, "dataPath")
          val ver = longArg(v, "version")
          val schema = graft.sources.TimeTravel
            .readAsOf(spark, path, ver).schema
          val ranges = rest.grouped(3).map { case Seq(c, lo, hi) =>
            val cn = strArg(c, "col")
            val dt = schema(cn).dataType
            graft.sources.Layout.ColRange(cn,
              org.apache.spark.sql.functions.lit(strArg(lo, "lo")).cast(dt),
              org.apache.spark.sql.functions.lit(strArg(hi, "hi")).cast(dt))
          }.toSeq
          plan(graft.sources.TimeTravel.readAsOfPruned(spark, path, ver,
            ranges))
        case _ => throw new IllegalArgumentException(
          "graft_tt_read(dataPath[, version[, col1, lo1, hi1, ...]]) — " +
            "latest when version is omitted; (col, lo, hi) triples give " +
            "the stats-pruned read")
      }),
    (new FunctionIdentifier("graft_tt_history"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_history"),
      (args: Seq[Expression]) => args match {
        case Seq(p) =>
          plan(graft.sources.TimeTravel.history(SparkSession.active,
            strArg(p, "dataPath")))
        case _ => throw new IllegalArgumentException(
          "graft_tt_history(dataPath)")
      }),
    (new FunctionIdentifier("graft_tt_rollback"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_rollback"),
      (args: Seq[Expression]) => args match {
        case Seq(p, v) =>
          val (path, to) = (strArg(p, "dataPath"), longArg(v, "toVersion"))
          committed(path)(TimeTravel.rollback(_, path, to))
        case _ => throw new IllegalArgumentException(
          "graft_tt_rollback(dataPath, toVersion)")
      }),
    (new FunctionIdentifier("graft_tt_diff"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_diff"),
      (args: Seq[Expression]) => args match {
        case Seq(p, v1, v2) =>
          plan(graft.sources.TimeTravel.diff(SparkSession.active,
            strArg(p, "dataPath"), longArg(v1, "v1"), longArg(v2, "v2")))
        case Seq(p, v1, v2, id) =>
          plan(graft.sources.TimeTravel.diffByKey(SparkSession.active,
            strArg(p, "dataPath"), longArg(v1, "v1"), longArg(v2, "v2"),
            strArg(id, "idCol")))
        case _ => throw new IllegalArgumentException(
          "graft_tt_diff(dataPath, v1, v2[, idCol]) — file-level " +
            "changes, or key-level appeared/disappeared with idCol")
      }),
    (new FunctionIdentifier("graft_tt_vacuum"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_vacuum"),
      (args: Seq[Expression]) => args match {
        case Seq(p, k) =>
          val (path, keep) = (strArg(p, "dataPath"), longArg(k, "keepFrom"))
          vacuumed(path)(TimeTravel.vacuum(_, path, keep))
        case _ => throw new IllegalArgumentException(
          "graft_tt_vacuum(dataPath, keepFrom)")
      }),
    (new FunctionIdentifier("graft_tt_read_ts"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_read_ts"),
      (args: Seq[Expression]) => args match {
        case Seq(p, ts) =>
          plan(graft.sources.TimeTravel.readAsOfTimestamp(
            SparkSession.active, strArg(p, "dataPath"),
            longArg(ts, "tsMillis")))
        case _ => throw new IllegalArgumentException(
          "graft_tt_read_ts(dataPath, tsMillis) — TIMESTAMP AS OF")
      }),
    (new FunctionIdentifier("graft_tt_vacuum_older"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_vacuum_older"),
      (args: Seq[Expression]) => args match {
        case Seq(p, r) =>
          val (path, retain) = (strArg(p, "dataPath"),
            longArg(r, "retainMillis"))
          vacuumed(path)(TimeTravel.vacuumOlderThan(_, path, retain))
        case _ => throw new IllegalArgumentException(
          "graft_tt_vacuum_older(dataPath, retainMillis)")
      }),
    (new FunctionIdentifier("graft_tt_constrain"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_constrain"),
      (args: Seq[Expression]) => args match {
        case Seq(p, n, e) =>
          val (path, name, rule) = (strArg(p, "dataPath"), strArg(n, "name"),
            strArg(e, "expr"))
          constraintsAfter(path) { s =>
            val rules = TimeTravel.tableConstraints(s, path)
              .filterNot(_._1 == name) :+ (name -> rule)
            TimeTravel.setConstraints(s, path, rules)
            rules
          }
        case _ => throw new IllegalArgumentException(
          "graft_tt_constrain(dataPath, name, boolExpr) — add/replace " +
            "one commit-time CHECK constraint; returns the full set")
      }),
    (new FunctionIdentifier("graft_tt_constraints"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_constraints"),
      (args: Seq[Expression]) => args match {
        case Seq(p) =>
          val spark = SparkSession.active
          import spark.implicits._
          plan(graft.sources.TimeTravel
            .tableConstraints(spark, strArg(p, "dataPath"))
            .toDF("name", "expr").orderBy("name"))
        case _ => throw new IllegalArgumentException(
          "graft_tt_constraints(dataPath)")
      }),
    (new FunctionIdentifier("graft_tt_unconstrain"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_unconstrain"),
      (args: Seq[Expression]) => args match {
        case Seq(p, n) =>
          val (path, name) = (strArg(p, "dataPath"), strArg(n, "name"))
          constraintsAfter(path) { s =>
            val rest = TimeTravel.tableConstraints(s, path)
              .filterNot(_._1 == name)
            if (rest.isEmpty) TimeTravel.clearConstraints(s, path)
            else TimeTravel.setConstraints(s, path, rest)
            rest
          }
        case _ => throw new IllegalArgumentException(
          "graft_tt_unconstrain(dataPath, name)")
      }),
    (new FunctionIdentifier("graft_tt_maintain_size"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_maintain_size"),
      (args: Seq[Expression]) => args match {
        case Seq(p, dims, tgt, ret) =>
          val (path, ds, target, retain) = (strArg(p, "dataPath"),
            colsArg(dims, "dims"), longArg(tgt, "targetBytes"),
            longArg(ret, "retainMillis"))
          receipt("data_path" -> StringType, "small_files_packed" -> IntegerType,
              "files_vacuumed" -> IntegerType,
              "orphans_reclaimed" -> IntegerType) { s =>
            val (packed, vacuumed, orphans) =
              TimeTravel.maintainBySize(s, path, ds, target, retain)
            (path, packed, vacuumed, orphans)
          }
        case _ => throw new IllegalArgumentException(
          "graft_tt_maintain_size(dataPath, 'dims', targetBytes, " +
            "retainMillis) — the streaming lake's quiet-moment tick")
      }),
    (new FunctionIdentifier("graft_tt_describe"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_describe"),
      (args: Seq[Expression]) => args match {
        case Seq(p) =>
          plan(graft.sources.TimeTravel.describeTable(
            SparkSession.active, strArg(p, "dataPath")))
        case _ => throw new IllegalArgumentException(
          "graft_tt_describe(dataPath) — the one-row ops summary")
      }),
    (new FunctionIdentifier("graft_tt_vacuum_preview"),
      new ExpressionInfo("graft.sources.TimeTravel",
        "graft_tt_vacuum_preview"),
      (args: Seq[Expression]) => args match {
        case Seq(p, k) =>
          plan(graft.sources.TimeTravel.vacuumPreview(
            SparkSession.active, strArg(p, "dataPath"),
            longArg(k, "keepFrom")))
        case _ => throw new IllegalArgumentException(
          "graft_tt_vacuum_preview(dataPath, keepFrom) — dry run")
      }),
    (new FunctionIdentifier("graft_tt_maintain"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_maintain"),
      (args: Seq[Expression]) => args match {
        case Seq(p, dims, maxF, keepV, to) =>
          val (path, ds, maxLive, keep, compactTo) = (strArg(p, "dataPath"),
            colsArg(dims, "dims"), intArg(maxF, "maxLiveFiles"),
            longArg(keepV, "keepVersions"), intArg(to, "compactTo"))
          receipt("data_path" -> StringType, "compacted" -> BooleanType,
              "files_vacuumed" -> IntegerType,
              "orphans_reclaimed" -> IntegerType) { s =>
            val (c, v, g) =
              TimeTravel.maintain(s, path, ds, maxLive, keep, compactTo)
            (path, c, v, g)
          }
        case _ => throw new IllegalArgumentException(
          "graft_tt_maintain(dataPath, 'dims', maxLiveFiles, " +
            "keepVersions, compactTo) — the quiet-moment pass: compact " +
            "past the cap, vacuum allowed history, reclaim orphans")
      }),
    (new FunctionIdentifier("graft_tt_clone"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_clone"),
      (args: Seq[Expression]) => args match {
        case Seq(p, v, dst) =>
          val (path, version, dest) = (strArg(p, "dataPath"),
            longArg(v, "version"), strArg(dst, "destPath"))
          receipt("dest_path" -> StringType, "n_rows" -> LongType)(s =>
            (dest, TimeTravel.cloneAsOf(s, path, version, dest)))
        case _ => throw new IllegalArgumentException(
          "graft_tt_clone(dataPath, version, destPath) — materialize a " +
            "historical version as a plain parquet table (never " +
            "overwrites)")
      }),
    (new FunctionIdentifier("graft_tt_stats"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_stats"),
      (args: Seq[Expression]) => args match {
        case Seq(p, v, c) =>
          plan(graft.sources.TimeTravel.columnStats(SparkSession.active,
            strArg(p, "dataPath"), longArg(v, "version"),
            strArg(c, "column")))
        case _ => throw new IllegalArgumentException(
          "graft_tt_stats(dataPath, version, column) — exact " +
            "min/max/nulls/rows at any readable version from the " +
            "lineage alone, no data read")
      }),
    (new FunctionIdentifier("graft_tt_gc"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_gc"),
      (args: Seq[Expression]) => args match {
        case Seq(p) =>
          val path = strArg(p, "dataPath")
          receipt("data_path" -> StringType, "orphans_reclaimed" -> IntegerType)(
            s => (path, TimeTravel.gcOrphans(s, path)))
        case _ => throw new IllegalArgumentException(
          "graft_tt_gc(dataPath) — reclaim unreferenced data files and " +
            "staging residue (never referenced history; that is vacuum)")
      }),
    (new FunctionIdentifier("graft_tt_checkpoint"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_checkpoint"),
      (args: Seq[Expression]) => args match {
        case Seq(p) =>
          val path = strArg(p, "dataPath")
          receipt("data_path" -> StringType, "checkpoint_version" -> LongType)(
            s => (path, TimeTravel.checkpointLineage(s, path)))
        case _ => throw new IllegalArgumentException(
          "graft_tt_checkpoint(dataPath) — fold every lineage segment " +
            "into one checkpoint file so metadata reads stay flat in " +
            "commit count (auto-run every K commits; this is the " +
            "explicit face)")
      }),
    (new FunctionIdentifier("graft_tt_vacuum_lineage"),
      new ExpressionInfo("graft.sources.TimeTravel",
        "graft_tt_vacuum_lineage"),
      (args: Seq[Expression]) => args match {
        case Seq(p, rest @ _*) if rest.size <= 1 =>
          val (path, grace) = (strArg(p, "dataPath"),
            rest.headOption.map(longArg(_, "graceMillis")))
          receipt("data_path" -> StringType,
              "lineage_files_reclaimed" -> IntegerType)(s => (path,
            grace.fold(TimeTravel.vacuumLineage(s, path))(g =>
              TimeTravel.vacuumLineage(s, path, graceMillis = g))))
        case _ => throw new IllegalArgumentException(
          "graft_tt_vacuum_lineage(dataPath[, graceMillis]) — reclaim " +
            "lineage segments a checkpoint has folded. Age-gated: " +
            "reclaims only once the newest checkpoint is graceMillis " +
            "old (default 15 min) so cross-process readers mid-listing " +
            "never lose files; 0 is the explicit single-maintainer " +
            "attestation. Retained-window row history stays complete " +
            "in the checkpoint")
      }),
    (new FunctionIdentifier("graft_tt_upsert"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_upsert"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, id, f, rest @ _*) if rest.size <= 1 =>
          val (updates, path, idCol, files, batch) = (tableArg(t, "updates"),
            strArg(p, "dataPath"), strArg(id, "idCol"), intArg(f, "files"),
            rest.headOption.map(strArg(_, "batchId")))
          committed(path)(TimeTravel.commitUpsert(_, path, idCol, updates,
            files, batch))
        case _ => throw new IllegalArgumentException(
          "graft_tt_upsert(updates, dataPath, idCol, files[, batchId])")
      }),
    (new FunctionIdentifier("graft_group_publish"),
      new ExpressionInfo("graft.sources.SnapshotGroup",
        "graft_group_publish"),
      (args: Seq[Expression]) => args match {
        case Seq(g, m) =>
          val group = strArg(g, "groupPath")
          val members = strArg(m, "members").split(",").map(_.trim)
            .filter(_.nonEmpty).map { kv =>
              kv.split("=", 2) match {
                case Array(n, p) if n.nonEmpty && p.nonEmpty => (n, p)
                case _ => throw new IllegalArgumentException(
                  s"graft_group_publish: bad member '$kv' — use " +
                    "'name=path,name=path'")
              }
            }.toMap
          receipt("group_path" -> StringType, "version" -> LongType)(s =>
            (group, SnapshotGroup.publish(s, group, members)))
        case _ => throw new IllegalArgumentException(
          "graft_group_publish(groupPath, 'name=path,…') — pin every " +
            "member's current head as ONE consistent cut")
      }),
    (new FunctionIdentifier("graft_group_read"),
      new ExpressionInfo("graft.sources.SnapshotGroup",
        "graft_group_read"),
      (args: Seq[Expression]) => args match {
        case Seq(g, n) =>
          plan(graft.sources.SnapshotGroup.readMember(SparkSession.active,
            strArg(g, "groupPath"), strArg(n, "name")))
        case Seq(g, n, v) =>
          plan(graft.sources.SnapshotGroup.readMember(SparkSession.active,
            strArg(g, "groupPath"), strArg(n, "name"),
            longArg(v, "groupVersion")))
        case _ => throw new IllegalArgumentException(
          "graft_group_read(groupPath, name[, groupVersion]) — the " +
            "member AT the cut: every group read sees one consistent " +
            "multi-table snapshot")
      }),
    (new FunctionIdentifier("graft_group_cuts"),
      new ExpressionInfo("graft.sources.SnapshotGroup",
        "graft_group_cuts"),
      (args: Seq[Expression]) => args match {
        case Seq(g) =>
          plan(graft.sources.SnapshotGroup.history(SparkSession.active,
            strArg(g, "groupPath")))
        case _ => throw new IllegalArgumentException(
          "graft_group_cuts(groupPath) — every published cut, one row " +
            "per (group version, member)")
      }),
    (new FunctionIdentifier("graft_group_floor"),
      new ExpressionInfo("graft.sources.SnapshotGroup",
        "graft_group_floor"),
      (args: Seq[Expression]) => args match {
        case Seq(g, n) =>
          val spark = SparkSession.active
          val (group, name) = (strArg(g, "groupPath"), strArg(n, "name"))
          val f = graft.sources.SnapshotGroup.memberFloor(spark, group,
            name)
          import spark.implicits._
          plan(Seq((group, name, f))
            .toDF("group_path", "table_name", "member_floor"))
        case _ => throw new IllegalArgumentException(
          "graft_group_floor(groupPath, name) — the lowest table " +
            "version any cut pins: vacuum the member with keepFrom <= " +
            "this and every published cut stays readable")
      }),
    (new FunctionIdentifier("graft_vdash"),
      new ExpressionInfo("graft.engine.VersionedDashboard",
        "graft_vdash"),
      (args: Seq[Expression]) => args match {
        case Seq(g, f, dm, k, by, rest @ _*) if rest.size <= 2 =>
          val spark = SparkSession.active
          val sumCol = rest.headOption.map(strArg(_, "sumCol"))
            .filter(_.nonEmpty)
          val cut = rest.lift(1).map(longArg(_, "cut")).getOrElse(-1L)
          plan(graft.engine.VersionedDashboard.rollup(spark,
            strArg(g, "groupPath"), strArg(f, "factsName"),
            strArg(dm, "dimName"), strArg(k, "keyCol"),
            strArg(by, "by"), sumCol, cut))
        case _ => throw new IllegalArgumentException(
          "graft_vdash(groupPath, factsName, dimName, keyCol, by" +
            "[, sumCol][, cut]) — the dashboard AS OF a snapshot-group " +
            "cut: time-travel facts joined to the SCD dimension at the " +
            "PINNED versions, grouped by `by` with a count and an " +
            "optional sum; cut omitted (or -1) = the latest cut")
      }),
    (new FunctionIdentifier("graft_tt_replace_where"),
      new ExpressionInfo("graft.sources.TimeTravel",
        "graft_tt_replace_where"),
      (args: Seq[Expression]) => args match {
        case Seq(b, p, pred, f, rest @ _*) if rest.size <= 1 =>
          val (batch, path, where, files, id) = (tableArg(b, "batch"),
            strArg(p, "dataPath"), expr(strArg(pred, "predicate")),
            intArg(f, "files"), rest.headOption.map(strArg(_, "batchId")))
          committed(path)(TimeTravel.commitReplaceWhere(_, path, where, batch,
            files, id))
        case _ => throw new IllegalArgumentException(
          "graft_tt_replace_where(batch, dataPath, 'predicate', files" +
            "[, batchId]) — atomic backfill: one commit holds every " +
            "live row NOT matching the predicate plus the batch; every " +
            "batch row must match it (loud refusal otherwise); an " +
            "empty batch is a predicate delete")
      }),
    (new FunctionIdentifier("graft_scd_merge"),
      new ExpressionInfo("graft.sources.Scd", "graft_scd_merge"),
      (args: Seq[Expression]) => args match {
        case Seq(b, p, k, f, rest @ _*) if rest.size <= 1 =>
          val (batch, path, key, files, id) = (tableArg(b, "batch"),
            strArg(p, "dataPath"), strArg(k, "keyCol"), intArg(f, "files"),
            rest.headOption.map(strArg(_, "batchId")))
          committed(path)(Scd.merge(_, path, key, batch, files, id))
        case _ => throw new IllegalArgumentException(
          "graft_scd_merge(batch, dataPath, keyCol, files[, batchId]) — " +
            "Type-2 merge: changed keys close + reopen, unchanged keys " +
            "cost nothing (an all-unchanged batch burns no version)")
      }),
    (new FunctionIdentifier("graft_scd_delete"),
      new ExpressionInfo("graft.sources.Scd", "graft_scd_delete"),
      (args: Seq[Expression]) => args match {
        case Seq(ks, p, k, f, rest @ _*) if rest.size <= 1 =>
          val (keys, path, key, files, id) = (tableArg(ks, "keys"),
            strArg(p, "dataPath"), strArg(k, "keyCol"), intArg(f, "files"),
            rest.headOption.map(strArg(_, "batchId")))
          committed(path)(Scd.delete(_, path, key, keys, files, id))
        case _ => throw new IllegalArgumentException(
          "graft_scd_delete(keys, dataPath, keyCol, files[, batchId]) — " +
            "Type-2 soft delete: closes current rows, history stays")
      }),
    (new FunctionIdentifier("graft_scd_apply"),
      new ExpressionInfo("graft.sources.Scd", "graft_scd_apply"),
      (args: Seq[Expression]) => args match {
        case Seq(u, del, p, k, f, rest @ _*) if rest.size <= 1 =>
          val (ups, dels, path, key, files, id) = (tableArg(u, "upserts"),
            tableArg(del, "deletes"), strArg(p, "dataPath"),
            strArg(k, "keyCol"), intArg(f, "files"),
            rest.headOption.map(strArg(_, "batchId")))
          committed(path)(Scd.applyChanges(_, path, key, ups, dels, files, id))
        case _ => throw new IllegalArgumentException(
          "graft_scd_apply(upserts, deletes, dataPath, keyCol, files" +
            "[, batchId]) — mixed CDC batch as ONE dimension commit: " +
            "changed keys close + reopen, deleted keys close; a key " +
            "in both frames refuses")
      }),
    (new FunctionIdentifier("graft_scd_join"),
      new ExpressionInfo("graft.sources.Scd", "graft_scd_join"),
      (args: Seq[Expression]) => args match {
        case Seq(f, p, k, e) =>
          plan(graft.sources.Scd.pitJoin(SparkSession.active,
            tableArg(f, "facts"), strArg(p, "dataPath"),
            strArg(k, "keyCol"), strArg(e, "epochCol")))
        case _ => throw new IllegalArgumentException(
          "graft_scd_join(facts, dataPath, keyCol, epochCol) — " +
            "point-in-time join: each fact row gets the dimension " +
            "attributes current AT its epoch (LEFT: absent/closed " +
            "keys read null)")
      }),
    (new FunctionIdentifier("graft_scd_current"),
      new ExpressionInfo("graft.sources.Scd", "graft_scd_current"),
      (args: Seq[Expression]) => args match {
        case Seq(p) =>
          plan(graft.sources.Scd.current(SparkSession.active,
            strArg(p, "dataPath")))
        case _ => throw new IllegalArgumentException(
          "graft_scd_current(dataPath) — the dimension's open rows")
      }),
    (new FunctionIdentifier("graft_scd_asof"),
      new ExpressionInfo("graft.sources.Scd", "graft_scd_asof"),
      (args: Seq[Expression]) => args match {
        case Seq(p, v) =>
          plan(graft.sources.Scd.asOf(SparkSession.active,
            strArg(p, "dataPath"), longArg(v, "version")))
        case _ => throw new IllegalArgumentException(
          "graft_scd_asof(dataPath, version) — the dimension as of an " +
            "epoch: a validity-interval filter, no per-epoch as-of read")
      }),
    (new FunctionIdentifier("graft_scd_asof_ts"),
      new ExpressionInfo("graft.sources.Scd", "graft_scd_asof_ts"),
      (args: Seq[Expression]) => args match {
        case Seq(p, ts) =>
          plan(graft.sources.Scd.asOfTimestamp(SparkSession.active,
            strArg(p, "dataPath"), longArg(ts, "tsMillis")))
        case _ => throw new IllegalArgumentException(
          "graft_scd_asof_ts(dataPath, tsMillis) — the dimension as " +
            "the world saw it at a wall-clock instant (TIMESTAMP AS " +
            "OF over validity intervals)")
      }),
    (new FunctionIdentifier("graft_scd_history"),
      new ExpressionInfo("graft.sources.Scd", "graft_scd_history"),
      (args: Seq[Expression]) => args match {
        case Seq(p) =>
          plan(graft.sources.Scd.history(SparkSession.active,
            strArg(p, "dataPath")))
        case _ => throw new IllegalArgumentException(
          "graft_scd_history(dataPath) — every key's full history " +
            "with [__valid_from, __valid_to) stamps")
      }),
    (new FunctionIdentifier("graft_tt_changes"),
      new ExpressionInfo("graft.sources.TimeTravel", "graft_tt_changes"),
      (args: Seq[Expression]) => args match {
        case Seq(p, v1, v2, id) =>
          plan(graft.sources.TimeTravel.changeFeedByKey(SparkSession.active,
            strArg(p, "dataPath"), longArg(v1, "v1"), longArg(v2, "v2"),
            strArg(id, "idCol")))
        case Seq(p, v1, v2, id, mode) if strArg(mode, "mode") == "rows" =>
          plan(graft.sources.TimeTravel.changeFeed(SparkSession.active,
            strArg(p, "dataPath"), longArg(v1, "v1"), longArg(v2, "v2"),
            strArg(id, "idCol")))
        case _ => throw new IllegalArgumentException(
          "graft_tt_changes(dataPath, v1, v2, idCol[, 'rows']) — " +
            "key-level inserted/deleted/updated feed over (v1, v2]; " +
            "'rows' adds the post-image columns (null on deletes) and " +
            "a `pre` pre-image struct (null on inserts)")
      }),
    // materialized-view family (graft.sources.MatView) — incrementally
    // maintained count/sum aggregates over a time-travel table.
    // create/refresh write when the query executes and return receipts;
    // read is a table read
    (new FunctionIdentifier("graft_mv_create"),
      new ExpressionInfo("graft.sources.MatView", "graft_mv_create"),
      (args: Seq[Expression]) => args match {
        case Seq(src, vp, k, sc) =>
          val (from, view, keys, sums) = (strArg(src, "srcPath"),
            strArg(vp, "viewPath"), colsArg(k, "keys"), colsArg(sc, "sumCols"))
          receipt("view_path" -> StringType, "version" -> LongType)(s =>
            (view, MatView.create(s, from, view, keys, sums)))
        case _ => throw new IllegalArgumentException(
          "graft_mv_create(srcPath, viewPath, 'k1[,k2…]', 'c1[,c2…]')")
      }),
    (new FunctionIdentifier("graft_mv_refresh"),
      new ExpressionInfo("graft.sources.MatView", "graft_mv_refresh"),
      (args: Seq[Expression]) => args match {
        case Seq(vp) =>
          val view = strArg(vp, "viewPath")
          receipt("view_path" -> StringType, "version" -> LongType,
              "files_read" -> IntegerType) { s =>
            val st = MatView.refresh(s, view)
            (view, st.version, st.filesRead)
          }
        case _ => throw new IllegalArgumentException(
          "graft_mv_refresh(viewPath)")
      }),
    (new FunctionIdentifier("graft_mv_read"),
      new ExpressionInfo("graft.sources.MatView", "graft_mv_read"),
      (args: Seq[Expression]) => args match {
        case Seq(vp) =>
          plan(graft.sources.MatView.read(SparkSession.active,
            strArg(vp, "viewPath")))
        case _ => throw new IllegalArgumentException(
          "graft_mv_read(viewPath)")
      }),
    (new FunctionIdentifier("graft_strip_boilerplate"),
      new ExpressionInfo("graft.operators.Corpus",
        "graft_strip_boilerplate"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, txt, n) =>
          plan(graft.operators.Corpus.stripBoilerplate(
            tableArg(t, "table"), strArg(id, "idCol"),
            strArg(txt, "textCol"), intArg(n, "minDocs")))
        case _ => throw new IllegalArgumentException(
          "graft_strip_boilerplate(table, idCol, textCol, minDocs)")
      }),
    // BPE tokenizer: train is a compute face (the merge loop runs while
    // the SQL analyzes); encode/vocab take the merge list as an
    // 'l:r,l:r' spec in rank order
    (new FunctionIdentifier("graft_bpe_train"),
      new ExpressionInfo("graft.operators.Bpe", "graft_bpe_train"),
      (args: Seq[Expression]) => args match {
        case Seq(t, txt, n) =>
          plan(graft.operators.Bpe.train(tableArg(t, "table"),
            strArg(txt, "textCol"), intArg(n, "numMerges")))
        case _ => throw new IllegalArgumentException(
          "graft_bpe_train(table, textCol, numMerges)")
      }),
    (new FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo("graft.operators.Bpe", "graft_bpe_encode"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, txt, m) =>
          plan(graft.operators.Bpe.encode(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(txt, "textCol"),
            mergesArg(m)))
        case _ => throw new IllegalArgumentException(
          "graft_bpe_encode(table, idCol, textCol, 'l:r,l:r,...')")
      }),
    (new FunctionIdentifier("graft_bpe_vocab"),
      new ExpressionInfo("graft.operators.Bpe", "graft_bpe_vocab"),
      (args: Seq[Expression]) => args match {
        case Seq(t, txt, m) =>
          plan(graft.operators.Bpe.vocab(tableArg(t, "table"),
            strArg(txt, "textCol"), mergesArg(m)))
        case _ => throw new IllegalArgumentException(
          "graft_bpe_vocab(table, textCol, 'l:r,l:r,...')")
      }),
    // deterministic splits
    (new FunctionIdentifier("graft_assign_split"),
      new ExpressionInfo("graft.operators.Splits", "graft_assign_split"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, spec, rest @ _*) if rest.size <= 1 =>
          val weights = strArg(spec, "weights").split(",").map(_.trim)
            .filter(_.nonEmpty).map { w =>
              w.split(":") match {
                case Array(n, f) => (n.trim, f.trim.toDouble)
                case _ => throw new IllegalArgumentException(
                  s"weight '$w' is not name:fraction")
              }
            }.toSeq
          val salt = rest.headOption.map(strArg(_, "salt")).getOrElse("")
          plan(graft.operators.Splits.assignSplit(tableArg(t, "table"),
            strArg(id, "idCol"), weights, salt))
        case _ => throw new IllegalArgumentException(
          "graft_assign_split(table, idCol, 'train:0.8,val:0.1,test:0.1'" +
            "[, salt])")
      }),
    (new FunctionIdentifier("graft_assign_fold"),
      new ExpressionInfo("graft.operators.Splits", "graft_assign_fold"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, k, rest @ _*) if rest.size <= 1 =>
          plan(graft.operators.Splits.assignFold(tableArg(t, "table"),
            strArg(id, "idCol"), intArg(k, "k"),
            rest.headOption.map(strArg(_, "salt")).getOrElse("fold")))
        case _ => throw new IllegalArgumentException(
          "graft_assign_fold(table, idCol, k[, salt])")
      }),
    // duration-capped sessions (batch face; the streaming face needs a
    // writeStream and stays Scala-side)
    (new FunctionIdentifier("graft_capped_sessions"),
      new ExpressionInfo("graft.streaming.Sessionize",
        "graft_capped_sessions"),
      (args: Seq[Expression]) => args match {
        case Seq(t, u, ts, gap, cap) =>
          plan(graft.streaming.Sessionize.cappedSessions(
            tableArg(t, "table"), strArg(u, "userCol"),
            strArg(ts, "tsCol"), strArg(gap, "gap"), strArg(cap, "cap")))
        case _ => throw new IllegalArgumentException(
          "graft_capped_sessions(table, userCol, tsCol, '30 minutes', " +
            "'24 hours')")
      }),
    // hot-key-split join, hot set auto-detected from the fact
    (new FunctionIdentifier("graft_skew_join"),
      new ExpressionInfo("graft.operators.SkewJoin", "graft_skew_join"),
      (args: Seq[Expression]) => args match {
        case Seq(f, d, key, topN) =>
          // skip the persist only when the fact's analyzed plan is
          // expression-deterministic: SQL callers hold no frame handle
          // to ever unpersist, so a long-lived session would pin one
          // cached copy per distinct fact plan forever — but a temp
          // view over rand()/uuid() MUST still be pinned, or the
          // hot/cold branch re-evaluations drop or double rows (the
          // r9 determinism contract). Residual non-determinism the
          // plan cannot reveal (limit over ties, a source mutating
          // mid-query) needs the Scala API's explicit persist.
          val fact = tableArg(f, "fact")
          val exprDeterministic =
            planExprDeterministic(fact.queryExecution.analyzed)
          plan(graft.operators.SkewJoin.joinSkewedAuto(
            fact, tableArg(d, "dim"), strArg(key, "key"),
            intArg(topN, "topN"), persistFact = !exprDeterministic))
        case _ => throw new IllegalArgumentException(
          "graft_skew_join(fact, dim, key, topN)")
      }),
    // declarative validation; numeric ranges only on this face
    (new FunctionIdentifier("graft_validate"),
      new ExpressionInfo("graft.operators.Validation", "graft_validate"),
      (args: Seq[Expression]) => args match {
        case Seq(t, spec) =>
          import graft.operators.Validation
          import org.apache.spark.sql.functions.lit
          val rules = strArg(spec, "rules").split(";").map(_.trim)
            .filter(_.nonEmpty).map { r =>
              // 'matches' uses a BOUNDED split (limit 3): everything
              // after the column name is the regex VERBATIM, so
              // colon-bearing patterns like '^\d{2}:\d{2}$' work from
              // SQL (ADVICE r9). Only the regex is not trimmed —
              // whitespace can be syntactically significant in it.
              val boundedMatches = r.split(":", 3).toSeq match {
                case Seq(kw, c, re) if kw.trim == "matches" =>
                  // an empty regex (trailing-colon typo) would build a
                  // rule rlike("") that matches EVERYTHING — a silent
                  // always-pass where the gate must fail loudly
                  if (re.isEmpty) throw new IllegalArgumentException(
                    s"validation rule '$r' has an empty regex — " +
                      "matches:col:<regex> needs a non-empty pattern")
                  Some(Validation.Matches(c.trim, re))
                case _ => None
              }
              boundedMatches.getOrElse(r.split(":").map(_.trim).toSeq match {
                case Seq("not_null", c)       => Validation.NotNull(c)
                case Seq("in_range", c, lo, hi) =>
                  Validation.InRange(c, lit(lo.toDouble), lit(hi.toDouble))
                case Seq("in_set", c, vs) =>
                  Validation.InSet(c, vs.split("\\|").map(_.trim).toSeq)
                case Seq("unique", cs) =>
                  Validation.Unique(cs.split(",").map(_.trim).toSeq)
                case other => throw new IllegalArgumentException(
                  s"unknown validation rule '$r' (parsed $other); " +
                    "fk_exists needs the typed Scala API")
              })
            }.toSeq
          plan(Validation.report(tableArg(t, "table"), rules))
        case _ => throw new IllegalArgumentException(
          "graft_validate(table, 'not_null:c;in_range:c:lo:hi;" +
            "in_set:c:a|b;matches:c:re;unique:c1,c2')")
      }),
    // IVF-PQ one-call build + decomposed-ADC search + exact rescore
    (new FunctionIdentifier("graft_ivfpq_search"),
      new ExpressionInfo("graft.operators.Similarity",
        "graft_ivfpq_search"),
      (args: Seq[Expression]) => args match {
        case Seq(c, q, id, vec, k, nc, m, kc) =>
          import graft.operators.Similarity
          val (corpus, queries) = (tableArg(c, "corpus"),
            tableArg(q, "queries"))
          val (idc, vecc) = (strArg(id, "idCol"), strArg(vec, "vecCol"))
          val kk = intArg(k, "k")
          val (enc, cents, books) = Similarity.ivfPqBuild(corpus, idc,
            vecc, intArg(nc, "nCells"), intArg(m, "m"),
            intArg(kc, "kCodes"))
          plan(Similarity.exactRescore(corpus, queries, idc, vecc,
            Similarity.ivfPqSearch(enc, cents, books, queries, idc,
              vecc, kk * 4), kk))
        case _ => throw new IllegalArgumentException(
          "graft_ivfpq_search(corpus, queries, idCol, vecCol, k, " +
            "nCells, m, kCodes)")
      }),
    // the referential half graft_validate's spec string cannot carry
    // (it needs a second table): one FK rule, same report shape
    (new FunctionIdentifier("graft_validate_fk"),
      new ExpressionInfo("graft.operators.Validation", "graft_validate_fk"),
      (args: Seq[Expression]) => args match {
        case Seq(t, c, d, dc) =>
          import graft.operators.Validation
          plan(Validation.report(tableArg(t, "table"), Seq(
            Validation.FkExists(strArg(c, "col"), tableArg(d, "dim"),
              strArg(dc, "dimCol")))))
        case _ => throw new IllegalArgumentException(
          "graft_validate_fk(table, col, dim, dimCol)")
      }),
    // product-quantization two-stage ANN
    // staged-swap residue reclamation (a receipt, like the delete
    // faces): age-gated — old residue is reclaimed, anything younger
    // than the bound still throws Lifecycle.stagedSwap's collision
    (new FunctionIdentifier("graft_gc_staged"),
      new ExpressionInfo("graft.operators.Lifecycle", "graft_gc_staged"),
      (args: Seq[Expression]) => args match {
        case Seq(p, age) =>
          val (path, olderThan) = (strArg(p, "livePath"),
            longArg(age, "olderThanMs"))
          receipt("live_path" -> StringType, "reclaimed" -> BooleanType)(s =>
            (path, Lifecycle.gcStaged(s, path, olderThan)))
        case _ => throw new IllegalArgumentException(
          "graft_gc_staged(livePath, olderThanMs)")
      }),
    // mergeable t-digest percentile sketches (the bounded-memory A4
    // path): build per-group sketches, persist them like any frame,
    // merge across batches, read quantiles with tdigest_quantile —
    // the whole lifecycle from SQL text
    (new FunctionIdentifier("graft_tdigest_sketch"),
      new ExpressionInfo("graft.functions.TDigestSketch",
        "graft_tdigest_sketch"),
      (args: Seq[Expression]) => {
        def build(t: Expression, v: Expression, groups: Seq[String]) = {
          val df = tableArg(t, "table")
          val vc = strArg(v, "valueCol")
          plan(df.groupBy(groups.map(df.col): _*)
            .agg(TDigestSketch.sketchAgg(df.col(vc)).as("sketch")))
        }
        args match {
          case Seq(t, v) => build(t, v, Nil)
          case Seq(t, v, g) => build(t, v, colsArg(g, "groupCols"))
          case _ => throw new IllegalArgumentException(
            "graft_tdigest_sketch(table, valueCol[, 'g1,g2'])")
        }
      }),
    (new FunctionIdentifier("graft_tdigest_merge"),
      new ExpressionInfo("graft.functions.TDigestSketch",
        "graft_tdigest_merge"),
      (args: Seq[Expression]) => {
        def build(t: Expression, s: Expression, groups: Seq[String]) = {
          val df = tableArg(t, "table")
          val sc = strArg(s, "sketchCol")
          plan(df.groupBy(groups.map(df.col): _*)
            .agg(TDigestSketch.mergeAgg(df.col(sc)).as("sketch")))
        }
        args match {
          case Seq(t, s) => build(t, s, Nil)
          case Seq(t, s, g) => build(t, s, colsArg(g, "groupCols"))
          case _ => throw new IllegalArgumentException(
            "graft_tdigest_merge(table, sketchCol[, 'g1,g2'])")
        }
      }),
    (new FunctionIdentifier("graft_pq_search"),
      new ExpressionInfo("graft.operators.Similarity", "graft_pq_search"),
      (args: Seq[Expression]) => args match {
        case Seq(c, q, id, vec, k, m, kc) =>
          plan(graft.operators.Similarity.pqRescoredTopK(
            tableArg(c, "corpus"), tableArg(q, "queries"),
            strArg(id, "idCol"), strArg(vec, "vecCol"), intArg(k, "k"),
            intArg(m, "m"), intArg(kc, "kCodes")))
        case _ => throw new IllegalArgumentException(
          "graft_pq_search(corpus, queries, idCol, vecCol, k, m, kCodes)")
      }),
    // mixture materialization + domain-relative selection (r12): the
    // prefix-selection family over the shared skew-proof binned cumsum
    (new FunctionIdentifier("graft_token_budget_fill"),
      new ExpressionInfo("graft.operators.Corpus", "graft_token_budget_fill"),
      (args: Seq[Expression]) => args match {
        case Seq(t, g, k, text, b) =>
          plan(graft.operators.Corpus.tokenBudgetFill(tableArg(t, "table"),
            strArg(g, "groupCol"), strArg(k, "keyCol"),
            strArg(text, "textCol"), tableArg(b, "budgets")))
        case _ => throw new IllegalArgumentException(
          "graft_token_budget_fill(table, groupCol, keyCol, textCol, budgets)")
      }),
    (new FunctionIdentifier("graft_keep_top"),
      new ExpressionInfo("graft.operators.Corpus", "graft_keep_top"),
      (args: Seq[Expression]) => args match {
        case Seq(t, g, k, s, f) =>
          plan(graft.operators.Corpus.keepTopByGroup(tableArg(t, "table"),
            strArg(g, "groupCol"), strArg(k, "keyCol"),
            strArg(s, "scoreCol"), doubleArg(f, "fraction")))
        case _ => throw new IllegalArgumentException(
          "graft_keep_top(table, groupCol, keyCol, scoreCol, fraction)")
      }),
    (new FunctionIdentifier("graft_dedup_corpus_best"),
      new ExpressionInfo("graft.operators.Dedup", "graft_dedup_corpus_best"),
      (args: Seq[Expression]) => args match {
        case Seq(t, id, text, pri) =>
          plan(Dedup.dedupCorpusBest(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol"),
            strArg(pri, "priorityCol")))
        case Seq(t, id, text, pri, thr) =>
          plan(Dedup.dedupCorpusBest(tableArg(t, "table"),
            strArg(id, "idCol"), strArg(text, "textCol"),
            strArg(pri, "priorityCol"), doubleArg(thr, "threshold")))
        case _ => throw new IllegalArgumentException(
          "graft_dedup_corpus_best(table, idCol, textCol, priorityCol[, threshold])")
      }),
    (new FunctionIdentifier("graft_epoch_fill"),
      new ExpressionInfo("graft.operators.Corpus", "graft_epoch_fill"),
      (args: Seq[Expression]) => args match {
        case Seq(t, g, k, text, b) =>
          plan(graft.operators.Corpus.epochFill(tableArg(t, "table"),
            strArg(g, "groupCol"), strArg(k, "keyCol"),
            strArg(text, "textCol"), tableArg(b, "budgets")))
        case _ => throw new IllegalArgumentException(
          "graft_epoch_fill(table, groupCol, keyCol, textCol, budgets)")
      }),
    // the catalog itself, queryable from SQL text — the discovery story
    // for a SQL-only user with no access to docs/SQL_SURFACE.md. The
    // kind argument is REQUIRED ('all'|'scalar'|'table') and not for
    // ergonomics: the doc generator probes every builder with zero args
    // to harvest its usage string, and a zero-arg graft_catalog would
    // BUILD the catalog during that probe — recursing into itself.
    (new FunctionIdentifier("graft_catalog"),
      new ExpressionInfo("graft.GraftExtensions", "graft_catalog"),
      (args: Seq[Expression]) => args match {
        case Seq(k) =>
          val kind = strArg(k, "kind")
          require(Set("all", "scalar", "table").contains(kind),
            s"graft_catalog kind must be all|scalar|table, got '$kind'")
          val spark = SparkSession.active
          import spark.implicits._
          plan(catalog.filter(e => kind == "all" || e.kind == kind)
            .map(e => (e.name, e.kind, e.className, e.usage, e.contract))
            .toDF("function", "kind", "class", "usage", "contract"))
        case _ => throw new IllegalArgumentException(
          "graft_catalog(kind: 'all'|'scalar'|'table')")
      }),
    (new FunctionIdentifier("graft_mixture_fill"),
      new ExpressionInfo("graft.operators.Corpus", "graft_mixture_fill"),
      (args: Seq[Expression]) => args match {
        case Seq(t, g, k, text, tot, fr) =>
          plan(graft.operators.Corpus.mixtureFill(tableArg(t, "table"),
            strArg(g, "groupCol"), strArg(k, "keyCol"),
            strArg(text, "textCol"), longArg(tot, "totalBudget"),
            tableArg(fr, "fractions")))
        case _ => throw new IllegalArgumentException(
          "graft_mixture_fill(table, groupCol, keyCol, textCol, totalBudget, fractions)")
      }),
    (new FunctionIdentifier("graft_budget_fill_by_weight"),
      new ExpressionInfo("graft.operators.Corpus",
        "graft_budget_fill_by_weight"),
      (args: Seq[Expression]) => args match {
        case Seq(t, g, k, w, b) =>
          plan(graft.operators.Corpus.tokenBudgetFillByWeight(
            tableArg(t, "table"), strArg(g, "groupCol"),
            strArg(k, "keyCol"), strArg(w, "weightCol"),
            tableArg(b, "budgets")))
        case _ => throw new IllegalArgumentException(
          "graft_budget_fill_by_weight(table, groupCol, keyCol, weightCol, budgets)")
      }),
    (new FunctionIdentifier("graft_epoch_fill_by_weight"),
      new ExpressionInfo("graft.operators.Corpus",
        "graft_epoch_fill_by_weight"),
      (args: Seq[Expression]) => args match {
        case Seq(t, g, k, w, b) =>
          plan(graft.operators.Corpus.epochFillByWeight(
            tableArg(t, "table"), strArg(g, "groupCol"),
            strArg(k, "keyCol"), strArg(w, "weightCol"),
            tableArg(b, "budgets")))
        case _ => throw new IllegalArgumentException(
          "graft_epoch_fill_by_weight(table, groupCol, keyCol, weightCol, budgets)")
      }),
    (new FunctionIdentifier("graft_contamination_report"),
      new ExpressionInfo("graft.operators.Corpus",
        "graft_contamination_report"),
      (args: Seq[Expression]) => args match {
        case Seq(t, p, id, pid, text) =>
          plan(graft.operators.Corpus.contaminationReport(
            tableArg(t, "table"), tableArg(p, "probes"), strArg(id, "idCol"),
            strArg(pid, "probeIdCol"), strArg(text, "textCol")))
        case Seq(t, p, id, pid, text, n) =>
          plan(graft.operators.Corpus.contaminationReport(
            tableArg(t, "table"), tableArg(p, "probes"), strArg(id, "idCol"),
            strArg(pid, "probeIdCol"), strArg(text, "textCol"),
            intArg(n, "n")))
        case _ => throw new IllegalArgumentException(
          "graft_contamination_report(table, probes, idCol, probeIdCol, textCol[, n])")
      }),
    (new FunctionIdentifier("graft_expand_copies"),
      new ExpressionInfo("graft.operators.Corpus", "graft_expand_copies"),
      (args: Seq[Expression]) => args match {
        case Seq(t, k, c) =>
          plan(graft.operators.Corpus.expandCopies(tableArg(t, "table"),
            strArg(k, "keyCol"), strArg(c, "copiesCol")))
        case Seq(t, k, c, m) =>
          plan(graft.operators.Corpus.expandCopies(tableArg(t, "table"),
            strArg(k, "keyCol"), strArg(c, "copiesCol"),
            longArg(m, "maxCopies")))
        case _ => throw new IllegalArgumentException(
          "graft_expand_copies(table, keyCol, copiesCol[, maxCopies])")
      }))

  /** One row of the generated SQL-surface catalog. */
  case class CatalogEntry(name: String, kind: String, className: String,
                          usage: String, contract: String)

  /** Contract anchor per SQL function: the `SparkEntry.queries` key whose
    * DuckDB oracle gates the underlying operator, or (for operators with
    * no SQL-expressible contract) the ScalaTest suite that pins it.
    * CatalogSpec enforces totality (every registered function has an
    * anchor, every anchor resolves) so this map cannot drift from the
    * registration list.
    */
  private[graft] val contractAnchors: Map[String, String] = Map(
    "winnow_fingerprints" -> "q17_fingerprints",
    "minhash_signature" -> "q19_minhash_lsh",
    "simhash64" -> "q20_simhash",
    "ngram_hashes" -> "q21_ngram_jaccard",
    "ngram_hashes_all" -> "q21_ngram_jaccard",
    "hyperplane_signature" -> "q23b_ann_portable",
    "quantize8" -> "q87_quantized_topk",
    "dot_i8" -> "q87_quantized_topk",
    "graft_profile" -> "q47_profile",
    "graft_key_skew" -> "q65_skew_profile",
    "graft_check" -> "q77_quality_gate",
    "graft_sessionize" -> "q33_sessions",
    "graft_asof_join" -> "q32_asof",
    "graft_exact_dedup" -> "q18_dedup_exact",
    "graft_minhash_pairs" -> "q19_minhash_lsh",
    "graft_dedup_corpus" -> "q81_dedup_survivors",
    "graft_flag_index" -> "q83_flag_index",
    "graft_simhash_pairs" -> "q84_simhash_pairs",
    "graft_incremental_exact" -> "q82_incremental_exact",
    "graft_incremental_minhash" -> "q80_incremental_dedup",
    "graft_incremental_simhash" -> "q85_incremental_simhash",
    "graft_cosine_topk" -> "q22_cosine_topk",
    "graft_quantized_topk" -> "q87_quantized_topk",
    "graft_rescored_topk" -> "q88_rescored_topk",
    "graft_ivf_topk" -> "q28_ivf_topk",
    "graft_lsh_topk" -> "q23b_ann_portable",
    "graft_embedding_neardups" -> "q25_embedding_neardups",
    "graft_ngram_top_neighbor" -> "q21_ngram_jaccard",
    "graft_dup_spans" -> "q63_dup_spans",
    "graft_excise_spans" -> "q143_excise_spans",
    "graft_decontaminate_index" -> "q95_decontaminate_index",
    "graft_hh_merged" -> "q94_incremental_hh",
    "graft_hist_merged" -> "q115_incremental_histogram",
    "graft_lm_index_score" -> "q93_incremental_lm",
    "graft_chunk" -> "q31_chunks",
    "graft_pack" -> "q54_pack",
    "graft_balance" -> "q45_source_balance",
    "graft_shards" -> "q79_shards",
    "graft_weighted_sample" -> "q49_weighted_sample",
    "graft_delete_digest" -> "q96_tombstone_exact",
    "graft_delete_minhash" -> "q137_tombstone_minhash",
    "graft_delete_simhash" -> "q138_tombstone_simhash",
    "graft_delete_ivf" -> "q97_tombstone_ivf",
    "graft_delete_lsh" -> "q139_tombstone_lsh",
    "graft_delete_pq" -> "q111_incremental_pq",
    "graft_wav_features" -> "q98_wav_features",
    "graft_mp4_frames" -> "q102_mp4_samples",
    "graft_mjpeg_mp4_frames" -> "q118_mjpeg_mp4",
    "graft_avi_frames" -> "q103_avi_meta",
    "graft_zorder_write" -> "q91_zorder_slice",
    "graft_update_manifest" -> "q92_layout_append",
    "graft_pruned_read" -> "q91_zorder_slice",
    "graft_zorder_write_partitioned" -> "q101_partitioned_layout",
    "graft_append_partitioned" -> "q104_partitioned_lifecycle",
    "graft_update_manifest_partitioned" -> "q101_partitioned_layout",
    "graft_pruned_read_partitioned" -> "q101_partitioned_layout",
    "graft_compact_partitioned" -> "q104_partitioned_lifecycle",
    "graft_leaf_census" -> "LayoutSpec",
    "graft_drop_partition" -> "LayoutSpec",
    "graft_delete_partitioned" -> "q104_partitioned_lifecycle",
    "graft_lookup" -> "q112_point_lookup",
    "graft_tt_commit" -> "q128_time_travel",
    "graft_tt_delete" -> "q128_time_travel",
    "graft_tt_compact" -> "q128_time_travel",
    "graft_tt_compact_small" -> "TimeTravelSpec",
    "graft_tt_read" -> "q128_time_travel",
    "graft_tt_history" -> "TimeTravelSpec",
    "graft_tt_vacuum" -> "TimeTravelSpec",
    "graft_tt_read_ts" -> "TimeTravelSpec",
    "graft_tt_vacuum_older" -> "TimeTravelSpec",
    "graft_tt_constrain" -> "TimeTravelSpec",
    "graft_tt_maintain_size" -> "TimeTravelSpec",
    "graft_tt_describe" -> "TimeTravelSpec",
    "graft_tt_vacuum_preview" -> "TimeTravelSpec",
    "graft_tt_constraints" -> "TimeTravelSpec",
    "graft_tt_unconstrain" -> "TimeTravelSpec",
    "graft_tt_rollback" -> "q130_tt_rollback_diff",
    "graft_tt_diff" -> "q130_tt_rollback_diff",
    "graft_tt_gc" -> "TimeTravelSpec",
    "graft_tt_checkpoint" -> "q149_lineage_checkpoint",
    "graft_tt_vacuum_lineage" -> "q149_lineage_checkpoint",
    "graft_tt_clone" -> "TimeTravelSpec",
    "graft_tt_maintain" -> "TimeTravelSpec",
    "graft_tt_stats" -> "q136_tt_stats",
    "graft_tt_upsert" -> "q131_tt_upsert",
    "graft_tt_changes" -> "q132_tt_changes",
    "graft_tt_replace_where" -> "q145_replace_where",
    "graft_group_publish" -> "q146_snapshot_group",
    "graft_group_read" -> "q146_snapshot_group",
    "graft_group_cuts" -> "SnapshotGroupSpec",
    "graft_group_floor" -> "SnapshotGroupSpec",
    "graft_vdash" -> "q148_versioned_dashboard",
    "graft_scd_merge" -> "q144_scd_history",
    "graft_scd_delete" -> "q144_scd_history",
    "graft_scd_current" -> "ScdSpec",
    "graft_scd_apply" -> "ScdSpec",
    "graft_scd_join" -> "q147_pit_join",
    "graft_scd_asof" -> "ScdSpec",
    "graft_scd_asof_ts" -> "ScdSpec",
    "graft_scd_history" -> "q144_scd_history",
    "graft_mv_create" -> "q133_matview",
    "graft_mv_refresh" -> "q133_matview",
    "graft_mv_read" -> "q133_matview",
    "graft_strip_boilerplate" -> "q110_boilerplate",
    "graft_bpe_train" -> "q113_bpe_train",
    "graft_bpe_encode" -> "BpeSpec",
    "graft_bpe_vocab" -> "q114_bpe_vocab",
    "graft_assign_split" -> "q12_validation_split",
    "graft_assign_fold" -> "q107_hash_split",
    "graft_capped_sessions" -> "q116_capped_sessions",
    "graft_skew_join" -> "q105_skew_join",
    "graft_validate" -> "q106_validation",
    "graft_validate_fk" -> "q106_validation",
    "tdigest_quantile" -> "q119_tdigest_rank",
    "graft_gc_staged" -> "LayoutSpec",
    "graft_tdigest_sketch" -> "q119_tdigest_rank",
    "graft_tdigest_merge" -> "q119_tdigest_rank",
    "graft_ivfpq_search" -> "q117_ivfpq_search",
    "graft_pq_search" -> "q108_pq_search",
    "graft_token_budget_fill" -> "q120_token_budget",
    "graft_keep_top" -> "q121_domain_gate",
    "graft_dedup_corpus_best" -> "q122_dedup_best",
    "graft_epoch_fill" -> "q123_epoch_fill",
    "graft_expand_copies" -> "q124_epoch_expand",
    "graft_contamination_report" -> "q125_contamination_report",
    "graft_budget_fill_by_weight" -> "q126_weight_fill",
    "graft_epoch_fill_by_weight" -> "q126_weight_fill",
    "graft_catalog" -> "CatalogSpec",
    "graft_mixture_fill" -> "q120_token_budget",
  )

  /** The SQL-surface catalog, GENERATED from the registration list: a
    * function's name and implementing class come from its registration
    * row, its usage string from its own zero-args rejection message
    * (every builder's catch-all throws the canonical signature — probing
    * with `Nil` can never match a real arity), and its contract anchor
    * from [[contractAnchors]]. [[CatalogDoc]] renders this to
    * `docs/SQL_SURFACE.md`; CatalogSpec pins the rendered file and the
    * map's totality, so the doc regenerates rather than drifts.
    */
  def catalog: Seq[CatalogEntry] = {
    def usageOf(b: Seq[Expression] => Any): String =
      try { b(Nil); "" } catch {
        case e: IllegalArgumentException => Option(e.getMessage).getOrElse("")
        case _: Throwable => ""
      }
    scalarFunctions.map { case (id, info, b) =>
      CatalogEntry(id.funcName, "scalar", info.getClassName, usageOf(b),
        contractAnchors.getOrElse(id.funcName, ""))
    } ++ tableFunctions.map { case (id, info, b) =>
      CatalogEntry(id.funcName, "table", info.getClassName, usageOf(b),
        contractAnchors.getOrElse(id.funcName, ""))
    }
  }

  /** Register the same functions on an ALREADY-RUNNING session (extensions
    * configs only apply at session construction), and the receipt rule
    * once, as an extra optimization.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    scalarFunctions.foreach { case (id, _, builder) =>
      reg.createOrReplaceTempFunction(id.funcName, builder, "scala_udf")
    }
    val treg = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (id, _, builder) =>
      treg.createOrReplaceTempFunction(id.funcName, builder, "scala_udf")
    }
    if (!spark.experimental.extraOptimizations.contains(EffectReceipt))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ EffectReceipt
  }
}
