"""A build budget per ``queries()`` entry.

A query's DataFrame is built on the driver while every core waits, so
each entry gets a ceiling on two counts taken while it is built a
second time (after one warm build and collect, at sf0.01): the Py4J
method-call commands the driver sends, and the Spark jobs the build
starts (eager checkpoints, count jobs, sampling, file listing).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tests.test_plans import SF_DIR

QUERIES = entry.queries()

# query: (Py4J calls, jobs started while building). Each ceiling is the
# count measured when it was set; a ceiling may only go down. A
# trailing comment gives the ceiling before its last reduction.
BUILD_BUDGET = {
    "stratified_sample": (82, 1),
    "repetition_profile": (459, 1),
    "exact_quantiles": (123, 7),  # was (216, 10)
    "agg_pricing": (92, 1),
    "join_revenue_by_nation": (77, 3),
    "topk_per_group": (62, 1),
    "positional_filter": (45, 1),
    "lag_lead": (13, 1),  # was (113, 1)
    "sessionize": (123, 1),
    "forward_fill": (14, 1),  # was (67, 1)
    "asof_join": (85, 1),
    "asof_forward": (106, 1),
    "asof_salted": (124, 1),
    "asof_salted_fwd": (135, 1),
    "union_all": (59, 1),
    "sort_multikey": (78, 6),  # was (131, 6)
    "string_ops": (143, 1),
    "numeric_parity": (229, 1),
    "exact_dedup": (49, 1),
    "cosine_topk": (68, 1),
    "group_agg_transcripts": (271, 1),
    "running_window": (11, 1),  # was (77, 1)
    "token_quality": (300, 1),  # was (305, 1)
    "lang_id": (347, 1),
    "template_dispatch": (151, 1),
    "existential_eq": (67, 1),
    "intersect_except": (67, 1),
    "pivot": (56, 1),
    "json_extract": (64, 1),
    "key_lookup_null": (91, 2),
    "localize": (114, 1),
    "current_corr": (69, 1),
    "memo_lookup": (64, 1),
    "substring_frac": (809, 1),
    "format_number": (66, 1),
    "explode_tokens": (100, 3),  # was (106, 3)
    "response_latency": (224, 1),
    "minhash_dedup": (1229, 18),  # was (1411, 18)
    "ngram_jaccard": (107, 2),  # was (175, 2)
    "simhash": (56, 1),  # was (76, 1)
    "fingerprint": (60, 1),  # was (159, 1)
    "ann_lsh_topk": (351, 1),
    "ann_ivf_topk": (193, 2),
    "sessionize_salted": (197, 1),
    "embedding_near_dup": (464, 1),
    "multimodal_features": (45, 0),  # was (71, 0)
    "multimodal_meta": (1054, 0),  # was (1062, 0)
    "corpus_pipeline": (661, 1),  # was (666, 1)
    "decontaminate": (159, 1),  # was (295, 1)
    "hash_sample": (48, 1),
    "url_escape": (37, 1),  # was (57, 1)
    "base64": (31, 1),
    "pack_sequences": (177, 1),  # was (182, 1)
    "pii_redact": (271, 1),
    "comment_pi": (285, 1),
    "kmv_distinct": (166, 1),
    "tumbling_rollup": (90, 1),
    "corpus_shards": (651, 1),
    "mix_resample": (172, 1),
    "sort_caseorder": (123, 6),  # was (176, 6)
    "bloom_decontaminate": (229, 3),
    "cm_token_freq": (219, 5),  # was (226, 5)
}


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_build_budget(spark, py4j_calls, name):
    fn = QUERIES[name]
    fn(spark, SF_DIR).collect()
    sc = spark.sparkContext
    group = f"build-budget-{name}"
    sc.setJobGroup(group, name)
    try:
        py4j_calls[0] = 0
        fn(spark, SF_DIR)
        calls = py4j_calls[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    max_calls, max_jobs = BUILD_BUDGET[name]
    assert calls <= max_calls and jobs <= max_jobs, (
        f"{name}: {calls} Py4J calls (ceiling {max_calls}), "
        f"{jobs} jobs while building (ceiling {max_jobs})"
    )
