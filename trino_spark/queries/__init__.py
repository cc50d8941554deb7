"""The engine's query corpus: every entry is an implemented operator/query
from SURVEY.md §2 with (where SQL-expressible) a DuckDB oracle.

Registries are merged here; `__spark_entry__.py` (driver contract) is a thin
adapter over `all_specs()`.
"""

from __future__ import annotations

from trino_spark.queries.base import QueryRegistry, QuerySpec


def all_specs() -> dict[str, QuerySpec]:
    """All registered query specs, in driver-verification priority order.

    The driver's oracle run processes entries in registry order under a
    budget (r1 stopped at the first 50), so modules whose queries have not
    yet earned a green CORRECTNESS row come FIRST; the long-green TPC-H /
    relational blocks come last. Revisit this ordering each round as rows
    turn green.
    """
    import importlib

    # Round-7 head, recomputed from CORRECTNESS_r01∪…∪r06 (r6: 50/50
    # green — the 44 TPC-DS + 5 r6-new oracles all flipped): the never-green
    # oracle-bearing set is now exactly ONE query (dialect_groups_frame,
    # added after the r6 sample was drawn), so it leads. Next ride the
    # round-7 conversions — ten queries that were rows-only and now carry
    # real oracles (planted-duplicate plants for the LSH dedup family,
    # exact-under-capacity set algebra for setdigest, deterministic
    # error-bound checks for the HLL/qdigest/tdigest/approx families and
    # the stratified sampler) plus the new SEEK-mode pattern window. The
    # remaining budget re-greens this round's touched code (sketch
    # two-phase guard, file-catalog truncate, pattern-window refactor)
    # and the r6 plan-fixed TPC-H trio, then long-green rows re-prove.
    head = [
        # the single never-green oracle row (VERDICT r6 "What's wrong" #1)
        "dialect_groups_frame",
        # round-7 rows-only -> oracle conversions (never driver-sampled
        # with an oracle before) + the new SEEK pattern window
        "mr_pattern_window_seek",
        "dedup_minhash_pairs",
        "dedup_minhash_keep",
        "dedup_simhash_pairs",
        "sketch_setdigest_jaccard",
        "agg_approx_family",
        "sketch_hll_union",
        "sketch_quantile_union",
        "sketch_tdigest_quantiles",
        "corpus_rebalance_langs",
        "similarity_ann_planted",
        "corpus_dsir_importance",
        "corpus_bpe_encode",
        "corpus_paragraph_dedup",
        # re-greens: round-7-touched code re-proves under the gate
        "dialect_sketch_twophase",
        "dialect_catalog_write_lifecycle",
        "mr_pattern_window",
        "geo_distance_join_grid",
        # re-greens: the r6 plan-fixed TPC-H trio + flagship
        "q03_shipping_priority",
        "q13_customer_distribution",
        "q15_top_supplier",
        "q01_pricing_summary",
        # r6-new oracles re-prove
        "text_ngram_repetition",
        "dedup_semantic_keep",
        # long-green TPC-DS, cheapest-first (evidence refresh)
        "tpcds_q87",
        "tpcds_q53",
        "tpcds_q56",
        "tpcds_q69",
        "tpcds_q17",
        "tpcds_q54",
        "tpcds_q38",
        "tpcds_q95",
        "tpcds_q10",
        "tpcds_q44",
        "tpcds_q28",
        "tpcds_q65",
        "tpcds_q59",
        "tpcds_q33",
        "tpcds_q70",
        "tpcds_q76",
        "tpcds_q39b",
        "tpcds_q22",
        "tpcds_q39a",
        "tpcds_q83",
        "tpcds_q49",
        "tpcds_q24b",
        "tpcds_q78",
        "tpcds_q05",
        "tpcds_q74",
        "tpcds_q58",
        "tpcds_q77",
        "tpcds_q67",
        "tpcds_q35",
        "tpcds_q72",
        "tpcds_q31",
        "tpcds_q80",
        # round-6 head follows (all green r6) for any extra budget
        "dedup_duplicate_spans",
        "geo_sql_surface",
        "corpus_prepare_e2e",
        "dialect_timetz",
        "geo_relate_transform",
        "dialect_ddl_evolution",
        "dialect_transactions",
        "dialect_mv_lifecycle",
        "corpus_chunk_documents",
        "corpus_shuffle_buckets",
        "corpus_mixture_sample",
        "corpus_shard_balanced",
        "text_boilerplate_ngrams",
        "dialect_branch_wap",
        "dialect_table_optimize",
        "streaming_upsert_sink",
        "engine_event_listener",
        "server_resource_groups",
        "http_protocol_roundtrip",
        # rows-only (no oracle) — the irreducible tail, checked last:
        # three ANN top-k queries (recall-based by nature) and Porter
        # stemming (no stemmer in offline DuckDB; fts extension cannot
        # be installed)
        "text_word_stem_topk",
        "similarity_pq_topk",
        "similarity_ivf_topk",
        "similarity_lsh_topk",
    ]
    # Modules whose queries were never driver-verified (r1 stopped at 50
    # with TPC-H/relational first). Round-robin interleave so ANY budget
    # prefix covers the maximum number of operator families.
    fresh_mods = (
        "tpcds",
        "federation_q",
        "llmops",
        "dialect_q",
        "patterns_q",
        "misc_q",
        "geo_q",
        "streaming_q",
        "timeseries",
        "aggregates",
        "functions_q",
        "merge_q",
        "lifecycle_q",
    )
    # Fully green in r1: re-verified last under whatever budget remains.
    green_mods = ("relational", "tpch")

    mod_specs = {}
    for mod_name in fresh_mods + green_mods:
        mod = importlib.import_module(f"trino_spark.queries.{mod_name}")
        mod_specs[mod_name] = mod.REG.specs()

    ordered: dict[str, QuerySpec] = {}

    def _take(name: str, spec: QuerySpec) -> None:
        if name not in ordered:
            ordered[name] = spec

    flat = {n: s for specs in mod_specs.values() for n, s in specs.items()}
    for n in head:
        if n in flat:
            _take(n, flat[n])
    queues = [list(mod_specs.get(m, {}).items()) for m in fresh_mods]
    while any(queues):
        for q in queues:
            if q:
                _take(*q.pop(0))
    for m in green_mods:
        for n, s in mod_specs.get(m, {}).items():
            _take(n, s)
    return ordered
