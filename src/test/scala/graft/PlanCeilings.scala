package graft

/** Measured plan-shape baseline for the bench headline set (PlanAudit at
  * sf0.001, re-baselined round 11 with the STRUCTURAL counter): per
  * query, (max scans of any ONE parquet table in the final adaptive
  * plan, max hash-partitioned shuffle exchanges). Counts come from
  * `PlanAudit.shape`, which walks the executed-plan TREE and descends
  * into materialized query stages — so scans/exchanges inside a
  * broadcast stage (invisible to the elided final-plan string used
  * through round 10) are bounded too. EntrySpec asserts these as
  * CEILINGS so a multi-scan or extra-shuffle regression fails loudly
  * instead of landing as a silent slowdown — the spec-level version of
  * the manual PlanAudit sweep. Raising a ceiling is allowed, but only
  * as a conscious edit here with the 100 TB cost justified in the
  * commit.
  *
  * Notes on the entries above the defaults:
  *  - events:2 queries (as-of / range / interval) read the table once per
  *    join side by design — self-joins over one fact table.
  *  - documents:3 queries (token stats, xent, bloom decontam,
  *    boilerplate) carry a cheap id/length projection pass alongside the
  *    two token passes; the bigram-xent fusion that would drop one scan
  *    was measured WORSE (COVERAGE.md negative result, round 7).
  *  - checkpointed queries (simhash_hamming, semdedup) hide their scans
  *    behind localCheckpoint blocks — their entry bounds the residue.
  */
object PlanCeilings {
  val headline: Map[String, (Int, Int)] = Map(
    "q_agg_pricing"         -> (1, 1),
    "q_faker"               -> (1, 0),
    "q_masking_styles"      -> (1, 0),
    "q_noise_float"         -> (1, 0),
    "q_apply_refs_join"     -> (1, 0),
    "q_subset_acyclic"      -> (1, 0),
    "q_dedup_exact"         -> (1, 1),
    "q_dedup_minhash"       -> (1, 2),
    "q_text_stats"          -> (1, 0),
    "q_knn_brute"           -> (1, 0),
    // r16: the adaptive collapse gate routes the duplicate-free sf0.001
    // audit fixture to DIRECT banding — no collapse distinct, so the
    // audited plan is back to (1,0) (the r15 (1,1) collapsed shape only
    // materializes when the approx-distinct probe finds duplicate mass,
    // where its +1 exchange buys ~100x less band-join work)
    "q_simhash_hamming"     -> (1, 0),
    // same gate, 8-band/120-bit signature (direct path at sf0.001)
    "q_simhash_hamming_wide" -> (1, 0),
    // two-level assignment: cell window (row_number per cell) + fine-list
    // join by cell; the N·2√k cosine passes hide behind checkpoints
    "q_semdedup_2l"         -> (1, 2),
    // r17 bounded contracts, measured: best match rides jaccardPairs'
    // checkpointed candidates (residue = expand joins + the argmax
    // groupBy); census = band-size groupBy + distinct-doc count (the
    // 1-row aggregates union through a single-partition exchange,
    // which the hash-exchange counter rightly ignores)
    "q_dedup_best_match"    -> (1, 3),
    "q_lsh_candidate_census" -> (1, 2),
    // r18 census trio member, measured: one scan (max-plan buckets, the
    // per-plan arms are bit-masks of it), exchanges = the
    // (n_planes, bucket) size groupBy + the per-plan final groupBy;
    // widen()'s round-robin redistribution is not a hash exchange
    "q_embed_bucket_census" -> (1, 2),
    // linkage best-match: one scan per side (both sides read customer in
    // the registered fixture) + the per-id_a argmin groupBy's exchange;
    // the pair join itself is exchange-free at this sf (block keys
    // broadcast-join, AQE decides; conditional pin dormant — see above)
    "q_fuzzy_link_best"     -> (2, 1),
    // the final join reads a fix-point checkpoint whose leaf carries
    // exact row counts, so it broadcasts instead of shuffling both sides
    "q_dedup_cluster"       -> (1, 0),
    "q_subset_selffk"       -> (1, 0),
    "q_ivf_topk"            -> (1, 0),
    "q_asof_join"           -> (2, 1),
    "q_range_join"          -> (2, 0),
    "q_boilerplate_lines"   -> (3, 3),
    "q_interval_overlap"    -> (2, 0),
    "q_unigram_stats"       -> (3, 2),
    "q_random_numeric_big"  -> (1, 0),
    "q_dedup_spans"         -> (2, 2),
    "q_semdedup"            -> (1, 2),
    "q_unigram_xent"        -> (3, 2),
    "q_dsir_weights"        -> (2, 1),
    "q_decontaminate_bloom" -> (3, 1),
    "q_bigram_xent"         -> (3, 4),
    "q_source_overlap"      -> (1, 1),
    "q_bm25_topk"           -> (2, 5),
    "q_sketch_hll"          -> (1, 3),
    "q_funnel_steps"        -> (1, 1),
    "q_curate_pipeline"     -> (1, 1),
    "q_entity_clusters"     -> (1, 2),
    "q_funnel_steps_capped" -> (1, 1),
    // one scan per linkage side. At sf0.001 no block exceeds the cap,
    // so AQE's empty-relation propagation deletes the per-side over-cap
    // anti-join subplan outright — the structural count is genuinely
    // (2,0) HERE, but the count pass (one extra scan + hash exchange
    // per side) is real on a corpus with degenerate blocks; the r9
    // window-count version needed (2,2) and sorted the hot block
    // through one task. The anti-join carries no broadcast hint (AQE
    // decides at runtime — a forced hint was a driver-OOM cliff when a
    // small cap makes the over-cap set large). The r17 conditional
    // exchange pin does NOT fire on this default-policy session
    // (parallelismFirst=true keeps the compute-dense join parallel and
    // skew-splittable), so the audited shape is unchanged; under a
    // parallelismFirst=false session the pin adds one exchange per side
    // (RecordLinkageSpec pins the routing).
    "q_fuzzy_link_capped"   -> (2, 0),
    // dump side runs eagerly inside the query fn (COPY spool, not in this
    // plan); the audited LOAD plan scans the archive's .dat.gz text, no
    // parquet and no hash exchange (orderBy is a range partition)
    "q_pg_archive_lineitem" -> (1, 0),
    // per-row hashed linear scorer: pure HOF lambdas — no exchange at all
    "q_quality_hashlin"     -> (1, 0),
    // naive-Bayes train+score: same 3-scan class as unigram_xent (vocab
    // pass + scoring pass + id/label pass; caching the corpus-sized
    // token stream instead would be the 100 TB mistake), exchanges =
    // vocab agg + per-doc agg (weights broadcast, never sort-merged)
    "q_quality_nb"          -> (3, 2)
  )
}
