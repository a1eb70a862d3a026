"""Write PLANS.md: the formatted physical plan of representative catalog
queries plus the scale properties each plan must exhibit (the same
properties tests/test_plans.py asserts).  Run after plan-affecting
changes:

    python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_dtl_spark.catalog import QUERIES  # noqa: E402
from python_dtl_spark.session import get_spark  # noqa: E402

# query -> the scale property the plan demonstrates
AUDITED = {
    "dtl_q1_pricing_summary": (
        "filter pushed to parquet scan; partial_sum before the exchange "
        "(map-side combine); whole-stage codegen over the aggregate"
    ),
    "dtl_q5_local_supplier": (
        "5-way join: small dims broadcast (BroadcastHashJoin), no "
        "nested-loop anywhere; column-pruned scans"
    ),
    "dtl_where_compare": (
        "PushedFilters reach the scan; ReadSchema lists only referenced "
        "columns"
    ),
    "events_asof_join": (
        "no join operator at all — union + single hash exchange on the "
        "by-key feeding one window sort"
    ),
    "events_range_join_sessions": (
        "range predicate executed as a hash join on (key, bucket), not "
        "BroadcastNestedLoopJoin"
    ),
    "dedup_exact": (
        "hash aggregation with partial aggregation; one shuffle on the "
        "content key"
    ),
    "similarity_topk_cosine": (
        "query side collected once into a broadcast variable; corpus "
        "scored by one MapInArrow fold kernel that keeps each chunk's "
        "per-query top-k (no pair join); per-query window ranking"
    ),
    "dtl_q8_market_share": (
        "7-way join, every dimension broadcast (no SortMergeJoin, no "
        "nested-loop); region/type/date predicates pushed to the scans"
    ),
    "doc_chunks": (
        "1:N chunk fan-out fully inside whole-stage codegen (sequence + "
        "posexplode + substring) — zero Exchange, zero Python"
    ),
    "doc_tfidf_top_terms": (
        "the standard 3-shuffle distributed TF-IDF: (doc,term) "
        "aggregation, term-side docfreq join, per-doc ranking window; "
        "corpus size enters as a broadcast single-row aggregate"
    ),
    "decontaminate_train_test": (
        "asymmetric inverted-index overlap: shingles explode both "
        "sides, one equi-join on the shingle string, grouped count — "
        "no all-pairs product"
    ),
    "events_sessionize": (
        "ONE Exchange on user_id serves both windows AND the session "
        "aggregate: HashPartitioning(user_id) satisfies the "
        "(user_id, session_seq) grouping, so no second shuffle"
    ),
    "lineitem_rollup": (
        "all grouping sets in one scan: Expand feeding a single "
        "partial+final hash aggregate pair around one Exchange"
    ),
    "orders_status_pivot": (
        "pivot = two-level conditional aggregation; the first shuffle "
        "reduces input to |rows|x|pivot values| before the second — "
        "no per-value scan, no driver distinct job (explicit values)"
    ),
    "events_salted_join": (
        "salted equi-join: the join key is (user_id, salt) so one hot "
        "user spreads over 16 reducers; right side replicated via "
        "explode (no crossJoin, no driver loop)"
    ),
    "dtl_q19_discounted_revenue": (
        "OR-of-ANDs split per side: brand/size disjuncts pushed into "
        "the part scan, quantity disjuncts into the lineitem scan; "
        "zero exchanges before the single-row aggregate"
    ),
    "dtl_q21_waiting_suppliers": (
        "EXISTS/NOT-EXISTS as SEMI/ANTI self-joins equi-keyed on "
        "l_orderkey with the != as residual — no nested-loop join "
        "anywhere in a lineitem x lineitem correlation"
    ),
    "dtl_q22_global_sales_opportunity": (
        "scalar-subquery average decorrelated into a one-row broadcast "
        "(single BroadcastNestedLoopJoin); anti join against the "
        "date-filtered orders scan with the date pushed down"
    ),
    "doc_gopher_quality": (
        "all five quality rules in ONE codegen'd map stage over a "
        "staged token array — zero Exchange, zero Python; pipelines "
        "into any upstream scan at 100 TB"
    ),
    "doc_dup_windows": (
        "window census: explode md5 fingerprints once, count-aggregate "
        "on the fingerprint (map-side partial), 1:1 join-back — no "
        "per-fingerprint doc lists, flat under boilerplate skew"
    ),
    "similarity_topk_quantized": (
        "two-stage flat-index ANN: deliberate single broadcast scan "
        "(int8 dots, MAX_BROADCAST_QUERIES-guarded) with "
        "WindowGroupLimit pruning both rank stages map-side — exact "
        "double math touches only k*factor candidates per query"
    ),
    "events_resample_ffill": (
        "gapfill+locf: one hash agg to (group, bucket), row-local "
        "sequence explode for the grid, one fill window — the "
        "sessionize single-shuffle shape; values moved, never "
        "recomputed"
    ),
    "pipeline_dedup_corpus": (
        "near-dup stack composed end-to-end: banded LSH candidate "
        "join, exact-Jaccard verify, iterative min-label components "
        "(plan-truncated per round), per-source rollup — no all-pairs "
        "stage anywhere"
    ),
    "lineitem_kmv_distinct": (
        "verifiable approximate distinct: every row_number()<=k plans "
        "as WindowGroupLimit Partial (map-side per-partition top-k) + "
        "Final, and the two-level salt selection bounds every reducer "
        "at k rows per (group, salt) — no distinct-hash funnel even "
        "with 3 groups over 100 TB"
    ),
    "doc_ngram_dominance": (
        "repetition signal: row-local n-gram build then two hash "
        "aggregations, both with map-side partials, keyed on "
        "(doc_id, gram) — per-document hot grams never concentrate on "
        "a global shuffle key"
    ),
    "doc_pii_scrub": (
        "redaction is regexp work in ONE codegen'd map stage — zero "
        "Exchange, zero Python; pipelines into any scan at 100 TB"
    ),
    "doc_card_scrub": (
        "Luhn-verified PAN redaction (registered r20) stays a pure map "
        "like the pii battery: candidate extraction, split-rebuild and "
        "the per-site sub-run Luhn scan are all row-local higher-order "
        "functions — zero Exchange, zero Python (also plan-asserted in "
        "test_card_scrub_is_pure_map)"
    ),
    "pipeline_curate_corpus": (
        "four-operator composition (gopher filter, dup census, token "
        "count, packing) over ONE shared tokenization: documents is "
        "scanned once into a persisted post-filter working set "
        "(InMemoryTableScan in every consumer branch, zero direct "
        "re-scans — plan-asserted in test_plans.py); at 100 TB this is "
        "one corpus pass where the naive composition took three"
    ),
    "similarity_topk_projected": (
        "two-stage JL-projected ANN: stage 1 broadcasts queries and "
        "carries only (id, 32-dim projection) through the "
        "WindowGroupLimit-pruned candidate rank; the full 64-dim "
        "vectors enter ONLY via the rescore hash joins (candidate ids "
        "broadcast) — 2x narrower candidate exchange than dragging "
        "the full vector through stage 1 (32 dims: 24 lost recall "
        "under 32x growth, probed in SCALING.md)"
    ),
    "doc_dedup_spans": (
        "exact-substring removal: census-shaped fingerprint count + "
        "skew-safe join-back, then a per-doc WINDOW (not a self-join) "
        "merges flagged ranges into islands and a row-local "
        "complement splice cuts them — no pair stage, no Python, "
        "per-doc island lists bounded by n_tokens/window_tokens"
    ),
    "dedup_semdedup": (
        "SemDedup (n_centroids auto-sized from corpus/target_cluster_"
        "size): cluster assignment via the fitted KMeansModel's "
        "native JVM transform (centers in ONE broadcast model object — "
        "the literal-centroid expression OOMs the driver near ~500 "
        "centroids), within-cluster pairs via a bucket equi-self-join "
        "— comparisons are n_i^2-per-cluster, never corpus^2 "
        "(plan-asserted: no nested loop, no cartesian) — then "
        "checkpointed min-label components"
    ),
    "doc_domain_quota": (
        "per-domain cap: row_number()<=quota plans as partial+final "
        "WindowGroupLimit — each map task forwards at most quota rows "
        "per stratum, so a mega-domain never funnels its full row "
        "count through the per-stratum reducer"
    ),
    "doc_temperature_mix": (
        "temperature mix: per-stratum counts broadcast back, 1-row "
        "global min broadcast, membership is an exact decimal integer "
        "comparison in a map-stage filter — the corpus itself never "
        "shuffles (no SortMergeJoin in plan)"
    ),
    "doc_vocabulary": (
        "vocab fit: bounded global rank rewritten by Catalyst to "
        "TakeOrderedAndProject(limit=max_size) — per-partition partial "
        "top-k, never a full sort of the distinct-token set; corpus "
        "total rides in as a 1-row broadcast"
    ),
    "doc_blocklist": (
        "bad-words screening: literal term array in the plan, one "
        "codegen'd filter/array_contains projection — zero Exchange, "
        "pipelines into the scan"
    ),
    "doc_pack_emit": (
        "pack emission: assignment window and the member-collect "
        "aggregation share the pack_group hash partitioning (one "
        "shuffle); member order enforced by array_sort, per-sequence "
        "state bounded by the token budget"
    ),
    "events_value_histogram": (
        "equi-depth histogram: percentile_disc edge agg reduced to one "
        "row and broadcast back; bucket assignment is a row-local edge-"
        "array filter; count/min/max per bucket map-side-combine"
    ),
    "orders_table_profile": (
        "ANALYZE sweep: one FileScan, multi-distinct planned via "
        "Expand with per-column partial aggregates — never one scan "
        "per column"
    ),
    "orders_table_profile_sketch": (
        "sketch-tier profile with oracle teeth (r19): HLL++ single-"
        "pass agg joined to the exact twin for the n_distinct_ok "
        "tolerance flag — the second scan is this verification "
        "harness's documented cost, NOT the operator tier's "
        "(table_profile(exact_distinct=False) alone is one pass); "
        "both sides are single-row aggregates so the join is trivial"
    ),
    "events_ohlc": (
        "OHLC rollup: one hash aggregation keyed (group, bucket), "
        "struct min/max pick first/last deterministically, all fields "
        "map-side-combine — single shuffle"
    ),
    "dedup_embedding_cosine": (
        "hyperplane-LSH self-join: probe explode carries ONLY (id, "
        "signature) — 13x replication without vector payload — bucket "
        "equi-join, candidate pair dedup, then full vectors rejoin by "
        "id for the exact-cosine verify (plan-asserted: no vector in "
        "any Generate, no nested loop)"
    ),
    "embed_similarity_join": (
        "cross-corpus similarity join: both sides hash with the same "
        "seeded hyperplanes, bucket equi-join on the signature "
        "(probes at Hamming-1, anchors exact) — no all-pairs stage, "
        "no nested loop; the probe explode carries ONLY (id, "
        "signature) — full vectors rejoin by id at the exact-cosine "
        "verify, so the 13x probe replication never ships the 64-dim "
        "array (measured 3.2x faster at 32x corpus)"
    ),
    "events_funnel": (
        "ordered funnel: ONE Exchange on the user key + k chained "
        "min-over-partition window aggregates + a partitioning-"
        "reusing final agg — plan linear in k (the join-chain form "
        "measured 27 exchanges at k=7); no per-user collection"
    ),
    "events_props_extract": (
        "schema-on-read JSON: from_json stays JVM-side (no Python "
        "eval) and shuffle-free; the one Exchange belongs to the "
        "event_type aggregate, with map-side partials"
    ),
    "embed_knn_classify": (
        "exact kNN tier: the corpus is read once, by a construct-time "
        "collect bounded by MAX_BROADCAST_QUERIES, and broadcast; the "
        "plan is Range -> ONE MapInArrow stage whose work-sized task "
        "count (ceil(n^2 / CELLS_PER_TASK), one at this scale) each "
        "rank a slice of queries against every vector and vote in the "
        "fold kernel — no Exchange, Window or join, no second scan "
        "(the lsh method is the bucketed scale path)"
    ),
    "events_mad_outliers": (
        "median and MAD each one partial+final percentile agg on the "
        "group key, joined back as BroadcastHashJoin (tiny stat side); "
        "no nested loop, candidacy and division guarded in-plan"
    ),
    "doc_shuffle_shards": (
        "one hash Exchange on the shard id + per-shard LOCAL sort for "
        "the rank — no rangepartitioning (a global sort would "
        "serialize the permutation through one ordering)"
    ),
    "orders_status_cube": (
        "CUBE = Expand (4 grouping sets map-side) feeding ONE "
        "partial+final hash aggregate pair — every subtotal level "
        "shares a single Exchange"
    ),
    "doc_url_canonicalize": (
        "pure map stage over try_parse_url + JVM string/array "
        "built-ins: scan -> project, ZERO Exchange and zero Python "
        "eval — canonicalization runs at scan speed ahead of any "
        "dedup/capping shuffle"
    ),
    "doc_dedup_paragraphs": (
        "first-occurrence choice is partial_min(struct(id,pos,text)) "
        "grouped by fingerprint — map-side combine collapses a hot "
        "boilerplate paragraph to one candidate per task; NO Window "
        "over the fingerprint (the r9 skew demerit), plus one doc-id "
        "exchange to reassemble"
    ),
    "embed_knn_classify_lsh": (
        "LSH tier reuses the audited lsh_bucketed_topk path: one "
        "bucket-key exchange over narrow (id, signature) rows, no "
        "all-pairs stage, votes aggregate map-side — the 100 TB path "
        "next to the guarded exact tier"
    ),
    "doc_url_psl_domains": (
        "PSL rules join is BroadcastHashJoin (rules are a ~330-row "
        "broadcast); ONE exchange at distinct-host grain — the "
        "prevailing-rule max reuses the distinct's partitioning — "
        "then a single corpus join on host; default rule + label "
        "slice evaluate row-locally on the corpus side"
    ),
    "pipeline_domain_cap": (
        "canonicalize map stage fuses into the scan; the quota rank "
        "adds exactly ONE hash Exchange on registrable_domain with "
        "WindowGroupLimit pruning map-side"
    ),
    "doc_bpe_round": (
        "full BPE round: the scoring half runs as its own audited "
        "TakeOrdered job (the 1-row pair is the round's model); the "
        "application half shown here is the pure map stage — zero "
        "Exchange, zero Python eval"
    ),
    "doc_apply_merge": (
        "BPE merge application is a pure map stage: match positions, "
        "greedy take/consume, and the splice are row-local array "
        "expressions over materialized token/start columns — zero "
        "Exchange, zero Python eval, pipelined into the scan"
    ),
    "pipeline_domain_cap_psl": (
        "three-operator composition keeps each piece's audited shape: "
        "canonicalize fuses into the scan, PSL resolution broadcasts "
        "rules at distinct-host grain, the quota rank adds one "
        "WindowGroupLimit-pruned exchange on the PSL domain"
    ),
    "doc_merge_candidates": (
        "adjacent pairs from zipping the token array with its own "
        "tail (row-local, no self-join); partial+final hash "
        "aggregates over pairs; the top-N rank pushes through the "
        "window as TakeOrderedAndProject — per-partition take, one "
        "merge, never a full-vocabulary global sort"
    ),
    "doc_bpe_encode": (
        "tokenizer INFERENCE folds the whole learned merge table "
        "inside one F.aggregate expression: a single Project over "
        "the scan — zero Exchange, zero Python eval, zero per-merge "
        "plan stacking (a 32k-entry table is still one codegen stage)"
    ),
    "doc_bpe_vocab": (
        "post-encode vocabulary: the single-fold encode fuses into "
        "the scan-side explode, then the audited vocabulary shape — "
        "partial+final hash aggs over tokens, the top-N rank pushed "
        "through the window as TakeOrderedAndProject, cum_share "
        "computed AFTER the prune on <= max_size rows"
    ),
    "pipeline_bpe_tokenize": (
        "the packed-emission half of the composed sampled-fit -> "
        "encode -> pack pipeline: the single-fold encode fuses into "
        "the scan, the pack assignment and emission share ONE "
        "pack_group exchange (the fit loop's 3 sample-scale scoring "
        "jobs ran before this plan, collecting only the 3-row model)"
    ),
    "doc_dedup_paragraphs_lineage": (
        "ManyToOne provenance at paragraph grain: instance rows "
        "equi-join the one-row-per-fingerprint first-occurrence "
        "table on fp — linear, nothing pairwise, and hot boilerplate "
        "fingerprints are AQE-skew-splittable because the build side "
        "holds exactly one row per key (a window would funnel them "
        "into one task)"
    ),
    "doc_nb_classify": (
        "NB apply over the whole corpus: explode -> ONE "
        "BroadcastHashJoin against the pivoted <=max_vocab model "
        "(positional __nb_c columns) -> one doc-grain hash aggregate "
        "with map-side partial sums -> id join-back; never a per-class "
        "corpus pass, zero Python (the fit's vocabulary prune plans as "
        "TakeOrderedAndProject — asserted separately)"
    ),
    "pipeline_nb_curate": (
        "classifier-curation chain: broadcast NB model join feeds the "
        "predicted-label filter, which only SHRINKS rows entering the "
        "domain cap's single hash exchange; the cap's literal rank "
        "prunes with WindowGroupLimit on BOTH sides of that exchange"
    ),
    "doc_target_mix": (
        "exact mixture: one tiny stratum-count aggregate collected as "
        "the quota model, broadcast back, ONE rank-window exchange on "
        "the stratum key; the data-dependent rank limit cannot "
        "WindowGroupLimit-prune — the same-seed precap_quota pre-cap "
        "restores the prune for hot strata (plan-asserted both ways "
        "in tests/test_plans.py)"
    ),
    "dedup_minhash_lineage": (
        "near-dup drop-provenance: a zero-cost PROJECTION of the "
        "converged min-label state (cluster_id IS the survivor) — no "
        "extra join, shuffle, or pass beyond the keep-one reducer's "
        "own iterations"
    ),
    "doc_lm_score": (
        "bigram-LM scoring over the whole corpus: row-local pair "
        "explode -> ONE BroadcastHashJoin against the bigram table + "
        "one against the unigram table -> one doc-grain hash aggregate "
        "with map-side partial sums -> id join-back; never a "
        "per-transition shuffle, zero Python (the fit's vocab prune "
        "plans as TakeOrderedAndProject — asserted separately)"
    ),
    "doc_epoch_upsample": (
        "epoch replication: ONE BroadcastHashJoin against the 3-row "
        "epoch map + a row-local explode(sequence) fan-out — zero "
        "data exchanges; output bytes are exactly the requested "
        "multiplicity, never more"
    ),
    "pipeline_lm_curate": (
        "perplexity-curation chain: two broadcast LM model joins feed "
        "one doc-grain aggregate; the threshold filter only SHRINKS "
        "rows entering the domain cap's single hash exchange with "
        "WindowGroupLimit pruning both sides (the pipeline_nb_curate "
        "shape)"
    ),
    "pipeline_epoch_emit": (
        "mix -> epochs -> shards emission: the mix's one rank-window "
        "exchange; the upsample adds ZERO data exchanges (broadcast "
        "epoch-map join + row-local fan-out); the sharder adds exactly "
        "ONE hash exchange on shard feeding per-shard parallel sorts "
        "(asserted in tests/test_plans.py)"
    ),
    "doc_dsir_weights": (
        "DSIR scoring (registered r14): row-local unigram+bigram "
        "feature explode -> BroadcastHashJoin against BOTH <=10k-row "
        "bucket models -> ONE doc-grain hash aggregate with map-side "
        "partials -> id join-back; zero Python, never a per-feature "
        "shuffle (the fit side is one bucket-grain agg, zero joins); "
        "one lazy plan that caches nothing, whose target and raw model "
        "slices plan the same aggregate, so AQE computes one bucket "
        "shuffle and reuses it (asserted in tests/test_plans.py)"
    ),
    "pipeline_dsir_select": (
        "rank-based top-25% selection: the approxQuantile coarse "
        "floor lands as a pushed Filter on the score, then the "
        "literal-k row_number rewrites to TakeOrderedAndProject — "
        "per-partition top-k + merge, NO SinglePartition exchange, "
        "no global range sort (asserted in tests/test_plans.py)"
    ),
    "pipeline_quality_floor": (
        "per-stratum quality floor: one tiny per-stratum count agg "
        "broadcast back as exact-rational quotas + ONE rank-window "
        "hash exchange on source (strata sort in parallel); zero "
        "Python, no sort-merge join anywhere"
    ),
    "stream_shard_emit": (
        "streaming-legal emission twin: broadcast epoch-map join + "
        "row-local explode + row-local md5 shard map — ZERO data "
        "exchanges of any kind (the shuffle is the sink's partitioned "
        "write, not an in-plan Exchange)"
    ),
    "embed_cluster_balance": (
        "cluster-balanced sampling (new r14): KMeans assignment as a "
        "broadcast-model JVM map (zero Exchange, zero Python), then "
        "domain_quota's ONE WindowGroupLimit-pruned hash exchange on "
        "cluster_id (asserted in tests/test_plans.py)"
    ),
    "doc_token_budget_mix": (
        "token-budget mixture (registered late r14): one broadcast "
        "|budgets|-row model join + ONE per-stratum rank/cumsum window "
        "exchange on source, zero Python (asserted in tests/test_plans.py)"
    ),
    "pipeline_dsir_resample": (
        "Gumbel-top-k importance resampling (registered late r14): "
        "row-local md5-exact priority over the broadcast-join DSIR "
        "scoring, then top_fraction's pushed coarse floor + "
        "TakeOrderedAndProject — no SinglePartition exchange, no "
        "global range sort"
    ),
    "pipeline_dsir_emit": (
        "DSIR select -> uniform mix -> epochs -> shards under one "
        "hash: five broadcast joins (two bucket models, mix quotas, "
        "epoch map), TakeOrderedAndProject for the global selection, "
        "corpus-sized exchanges only in the model-building hash aggs; "
        "the model totals are scalar subqueries over <=10k model rows "
        "and the mix/shard windows shuffle only the k-row selection "
        "(asserted in tests/test_plans.py)"
    ),
    "pipeline_floor_select": (
        "floor-only selection (registered r15, top_fraction's 100 TB "
        "escape hatch): the returned plan is ONE pushed filter over "
        "the cached scored input — NO TakeOrderedAndProject, NO "
        "window, NO exchange of any kind (the quantile pass ran "
        "eagerly; asserted in tests/test_plans.py)"
    ),
    "pipeline_quality_budget": (
        "quality-ordered token budget (registered r15): "
        "quality_features fuses into the scan-side map stage, then "
        "one broadcast |budgets|-row model join + ONE per-stratum "
        "rank/cumsum window exchange on source, zero Python "
        "(asserted in tests/test_plans.py)"
    ),
    "doc_importance_resample": (
        "standalone doc-level Gumbel resample (registered r15): "
        "row-local md5-exact priority over a plain doc weight, then "
        "top_fraction's pushed coarse floor + TakeOrderedAndProject "
        "— no SinglePartition exchange, no global range sort"
    ),
    "pipeline_ppl_delta_select": (
        "excess-perplexity selection (registered r15): four-plus "
        "broadcast LM model joins (target + reference), SMJ only on "
        "doc-grain keys (id join-backs + the score join — both sides "
        "corpus-sized, the dsir_weights invariant), "
        "TakeOrderedAndProject selection, zero Python (asserted in "
        "tests/test_plans.py)"
    ),
    "pipeline_ccnet_buckets": (
        "CCNet perplexity bucketing (registered r15): the audited "
        "lm_perplexity scoring shape, a |sources|-row percentile "
        "boundary table joined back BROADCAST, row-local CASE label; "
        "scored frame persisted so both its consumers read ONE "
        "materialization (asserted in tests/test_plans.py)"
    ),
    "doc_softdedup_weights": (
        "soft dedup (registered r15): ONE content-keyed hash agg with "
        "map-side partial_count + ONE content-keyed equi-join back — "
        "NO window (hot boilerplate groups stay AQE-skew-splittable); "
        "the weight is a row-local division (asserted in "
        "tests/test_plans.py::test_soft_dedup_weights_is_agg_plus_join_no_window)"
    ),
    "doc_bpe_fertility": (
        "BPE fertility audit (registered r15): merge-table broadcast "
        "join, token work row-local fold over the staged merge ranks; "
        "one doc-grain aggregation, no Python below the >65k-merge tier"
    ),
    "doc_decontaminate_spans": (
        "cross-corpus span decontamination (registered r15): eval side "
        "reduces to DISTINCT 8-byte fingerprints (one hash agg), ONE "
        "fp-keyed LEFT SEMI join flags train windows, per-doc island "
        "window + row-local complement splice, zero Python (asserted in "
        "tests/test_plans.py::test_remove_spans_against_is_semi_join_no_nested_loop)"
    ),
    "pipeline_crawl_delta": (
        "incremental crawl-vs-corpus near-dup (registered r16): crawl "
        "side banded and bucket-joined against the corpus LSH index; "
        "Bloom-style broadcast LEFT SEMI prefilter keeps non-colliding "
        "index rows out of the exchange; verification re-shingles only "
        "candidate corpus docs (broadcast semi on candidate ids) — with "
        "a stored index the corpus text is scanned once (asserted in "
        "tests/test_plans.py::test_crawl_delta_corpus_side_never_rebuckets)"
    ),
    "doc_sentences": (
        "sentence segmentation (registered r16): replace-then-split "
        "keeps the terminal delimiter without lookbehind (RE2-"
        "replayable); row-local split + posexplode — zero exchanges "
        "past the fixture group-by, zero Python"
    ),
    "pipeline_url_dedup": (
        "URL-grain keep-one dedup (registered r16): row-local "
        "canonicalization + ONE canonical-url hash agg with map-side "
        "partial_min — single exchange, no window, no join (asserted "
        "in tests/test_plans.py::test_url_dedup_is_map_side_min_agg)"
    ),
    "pipeline_c4_clean": (
        "C4 line-level cleaning (registered r16): the full recipe — "
        "terminal-punct / word-count / blocklist line rules, in-page "
        "first-occurrence line dedup, doc-level gates — is row-local "
        "array work past the fixture group-by; zero Python (asserted "
        "in tests/test_plans.py::test_c4_clean_lines_is_pure_map_stage)"
    ),
    "doc_repetition_flags": (
        "within-doc Gopher repetition rules (registered r16): dup-line/"
        "paragraph ratios are row-local array folds — scan → project, "
        "ZERO Exchange, zero Python (asserted in "
        "tests/test_plans.py::test_repetition_flags_is_pure_map_stage)"
    ),
    "doc_char_concentration": (
        "character-distribution junk-blob filter (registered r16): "
        "Simpson concentration + modal-glyph share computed by ONE "
        "row-local array_sort + 5-field struct fold in exact BIGINT "
        "arithmetic — scan → project, ZERO Exchange, zero Python "
        "(asserted in "
        "tests/test_plans.py::test_char_concentration_is_pure_map_stage)"
    ),
    "pipeline_recrawl_refresh": (
        "recrawl keep-newest URL refresh (registered r16): row-local "
        "canonicalization + ONE canonical-url hash agg electing "
        "max(struct(fetch_time, doc_id)) with count/min/max history — "
        "every measure partial-aggregable (map-side combine on a hot "
        "hub page), single exchange, no window, no join (asserted in "
        "tests/test_plans.py::test_recrawl_refresh_is_map_side_max_agg)"
    ),
    "pipeline_pretrain_full": (
        "five-leg pretraining composition (registered r16): gate is a "
        "row-local map over ONE persisted working set, dedup shuffles "
        "are banded-bucket/candidate-sized, decontamination is a "
        "fingerprint LEFT SEMI, mix is a per-source rank, shard a "
        "row-local md5 — no SinglePartition exchange, zero Python "
        "(asserted in tests/test_plans.py::test_pretrain_full_chain_plan_shape)"
    ),
    "pipeline_image_dedup": (
        "image near-dup dedup (registered r17): ONE Arrow-batched "
        "mapInPandas decode pass (payload-only projection), then the "
        "shared pigeonhole Hamming core — bucket equi-joins on "
        "(block, chunk), exact bit_count verify, never all-pairs "
        "(asserted in tests/test_plans.py::"
        "test_image_near_dup_pairs_no_all_pairs)"
    ),
    "pipeline_domain_quality": (
        "domain-level keep-rate gating (registered r17): char-"
        "concentration flags are a pure map; the gate is ONE group agg "
        "(map-side partial count/count_if) + hash-family LEFT SEMI "
        "back — exact rational k·den >= num·n compare, no window, no "
        "float rate (asserted in tests/test_plans.py::"
        "test_keep_rate_filter_is_agg_plus_semi_join)"
    ),
    "pipeline_snapshot_diff": (
        "full-snapshot version delta (registered r17): ONE null-safe "
        "full-outer SortMergeJoin on the key with row-local status "
        "CASE — no window, no second exchange beyond the join's; "
        "bucketed snapshots co-locate it at 100 TB (asserted in "
        "tests/test_plans.py::test_snapshot_diff_is_one_full_outer_join)"
    ),
    "pipeline_corpus_report": (
        "per-source corpus data card (registered r17): ONE source-"
        "keyed aggregation, every measure except the exact distinct "
        "partial-aggregable map-side; the exact distinct is the "
        "standard partial-distinct plan, the HLL tier strictly one "
        "exchange (asserted in tests/test_plans.py::"
        "test_corpus_report_is_single_group_agg)"
    ),
    "pipeline_quality_card": (
        "composed quality data card (registered r17): FOUR flag "
        "batteries (gopher/repetition/char-concentration/blocklist) "
        "fused into one codegen'd map stage feeding ONE source-keyed "
        "aggregation — no join, no window, zero Python (asserted in "
        "tests/test_plans.py::test_quality_card_is_map_plus_single_agg)"
    ),
    "pipeline_embedding_index": (
        "embedding-index maintenance (registered r17): both probes are "
        "asymmetric stored-index probes (corpus vectors read only "
        "through the candidate-semi-filtered verify), and the merge is "
        "a delta-sized PURE MAP — the hyperplane signature is "
        "row-local, zero hash exchanges on the append (asserted in "
        "tests/test_plans.py::test_merge_embedding_index_is_pure_map, "
        "test_embedding_delta_probe_is_index_join_plus_candidate_verify)"
    ),
    "pipeline_index_maintenance": (
        "incremental-crawl index maintenance (registered r17): both "
        "probes are asymmetric stored-index probes (corpus never "
        "re-buckets), the merge appends survivor buckets with the "
        "index branch passing through at zero exchange — the daily "
        "append costs crawl-sized work however large the corpus "
        "(asserted in tests/test_plans.py::"
        "test_merge_index_touches_only_crawl)"
    ),
    "pipeline_source_drift": (
        "source-drift trend card (registered r17): snapshot_diff's "
        "single null-safe full-outer SortMergeJoin feeding ONE group "
        "aggregation with map-side partial counts — no window, no "
        "second join (asserted in tests/test_plans.py::"
        "test_source_drift_card_is_join_plus_single_agg)"
    ),
    "dedup_edit_distance": (
        "character-grain near-dup (registered r18): deletion-variant "
        "explode is row-local; candidates come from an EQUI-join on "
        "variants (never a nested-loop/all-pairs stage); exact "
        "levenshtein verify runs on candidates only (asserted in "
        "tests/test_plans.py::test_edit_distance_pairs_no_all_pairs)"
    ),
    "pipeline_title_delta": (
        "stored-index daily loop, hashed tier (registered r18): both "
        "probes are asymmetric — only the delta explodes variants, "
        "corpus titles enter via the candidate-semi-filtered verify; "
        "the merge is a delta-sized pure map appended under a union "
        "(asserted in tests/test_plans.py::"
        "test_edit_distance_delta_is_index_probe_plus_candidate_verify "
        "and ::test_merge_variant_index_is_pure_map)"
    ),
    "pipeline_centroid_index": (
        "IVF assignment + merge (registered r18): centroids compile "
        "into the plan as literals — pure map, ZERO Exchange, zero "
        "Python; the merge unions an arrival-sized map pass (asserted "
        "in tests/test_plans.py::test_assign_to_centroids_is_pure_map)"
    ),
    "doc_html_extract": (
        "crawl-front WET step (registered r18): fixed regexp_replace "
        "chain + trim — pure map, ZERO Exchange, zero Python "
        "(asserted in tests/test_plans.py::test_html_to_text_is_pure_map)"
    ),
    "pipeline_outlink_census": (
        "outlink census (registered r18): regexp_extract_all + explode "
        "+ canonicalization are all row-local; the census is ONE "
        "hash aggregation with map-side partials (count + distinct "
        "doc_id partial) — a single exchange end to end"
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical-plan audit of representative catalog queries",
        "",
        f"Generated by `scripts/explain_audit.py` at `{sf_dir}`.",
        "Each section states the scale property the plan must show",
        "(asserted programmatically in `tests/test_plans.py`), then the",
        "`explain(formatted)` output.",
        "",
    ]
    for name, why in AUDITED.items():
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        out += [f"## {name}", "", f"**Property:** {why}", "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(AUDITED)} plans)")


if __name__ == "__main__":
    main()
