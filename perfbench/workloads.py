"""The benchmark's workloads: which registry queries, at what scale, how.

Each workload is one closed-loop client in one process on
`local[nproc]`. Its operations are registry queries
`fn(spark, sf_dir) -> DataFrame`; the seed only permutes the order of a
warm workload's operations.

How an operation is timed:
- "noop": `fn()` then a write to the noop sink, DataFrame rebuilt per
  execution (the read path's timed unit; results are never collected).
- "collect": `fn()` then `collect()`. The rows are what the oracle
  check compares, so the timed operation is also the checked one.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


#: Scale factor of the generated tables every workload reads.
SF = "0.01"


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    unit: str
    #: Warm: one untimed, oracle-checked pass, then passes until --seconds
    #: have elapsed. Cold: exactly one timed pass right after set-up.
    warm: bool


# The 8 bench.py headline queries plus the five exact-sum A/B reports.
DASHBOARD = (
    "join_star_wide",
    "join_sector_count",
    "agg_count_2keys",
    "agg_monthly_growth",
    "topk_hard_skills",
    "topk_companies",
    "agg_count_distinct",
    "join_skill_profile",
    "agg_welch_ttest",
    "agg_cuped_adjustment",
    "agg_price_index_fisher",
    "agg_anova_twoway",
    "agg_pricing_summary",
)

# The reference pipeline: cleaning, dedup, LLM enrichment (mapInPandas),
# NER, star build, the near-dup family sharing one staged shingle
# frame, and a grouped-pandas step.
ETL = (
    "fillna_unspecified",
    "fn_trim_cast",
    "fn_date_multiformat",
    "fn_relative_date",
    "fn_qualification_int",
    "dedup_by_url",
    "dedup_exact_hash",
    "text_llm_enrich",
    "fn_llm_json_fence",
    "text_skill_ner",
    "nested_explode_skills",
    "star2_harmonize_dims",
    "star2_dim_location",
    "star2_fact_offer",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "grouped_pandas_ewma",
)

# Writes (JDBC star load into embedded Derby, dynamic partition
# overwrite, JSON overwrite, append-merge, CDC merge) and streaming
# drains (incremental pipeline, watermark dedup, applyInPandasWithState).
INGEST = (
    "sink_jdbc_star",
    "sink_dynamic_partition_overwrite",
    "sink_json_overwrite",
    "source_append_merge",
    "merge_cdc_feed",
    "stream_incremental_pipeline",
    "stream_dedup_watermark",
    "stream_stateful_counter",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload("dashboard", DASHBOARD, "noop", warm=True),
        Workload("etl_batch", ETL, "collect", warm=False),
        Workload("ingest_write", INGEST, "collect", warm=False),
    )
}

ALL_QUERIES = tuple(sorted({q for w in WORKLOADS.values() for q in w.queries}))


def order(workload: Workload, seed: int) -> list[str]:
    """The workload's operations in the order seed `seed` gives them: a
    warm session's charts in a seeded permutation; a cold pipeline in
    its stage order, so each step pays the same first-use costs."""
    names = list(workload.queries)
    if workload.warm:
        random.Random(seed).shuffle(names)
    return names
