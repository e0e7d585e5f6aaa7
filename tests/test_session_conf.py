"""Session-factory settings that carry behaviour or speed.

1. The compiled-class cache (`spark.sql.codegen.cache.maxEntries`) is
   pinned to the engine's working set. At Spark's default of 100
   entries the 13 dashboard charts (about 150 classes) evict each other
   and a warm pass recompiles ~135 classes; at the pinned size a warm
   pass reuses them. Compilations are counted by Spark's own
   `CodegenMetrics` (through `bench.codegen_counters`).
2. ANSI mode is set explicitly, so overflow raises instead of wrapping
   even if the Spark default changes.
3. `default_parallelism` falls back to the cores the process may run
   on, not a fixed count.
"""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException

from bench import HEADLINE, codegen_counters
from job_market_research_spark import session
from job_market_research_spark.registry import load_all

#: The dashboard's 13 charts: bench.py's headline queries plus five
#: exact-sum reports.
DASHBOARD = HEADLINE + [
    "agg_welch_ttest",
    "agg_cuped_adjustment",
    "agg_price_index_fisher",
    "agg_anova_twoway",
    "agg_pricing_summary",
]

#: Compilations a warm pass may still add. A warm pass at the pinned
#: size compiled 0-12 classes (of ~148 cold) at sf0.001, against ~136
#: at Spark's default of 100 entries.
WARM_PASS_MAX_COMPILATIONS = 24


def _dashboard_pass(spark, sf_dir, specs) -> int:
    before, _ = codegen_counters(spark)
    for name in DASHBOARD:
        specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return codegen_counters(spark)[0] - before


def test_codegen_cache_size_is_pinned(spark):
    assert session.CODEGEN_CACHE_MAX_ENTRIES == 8192
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"


def test_warm_dashboard_pass_reuses_compiled_classes(spark, sf_dir):
    specs = load_all()
    assert all(n in specs for n in DASHBOARD)
    cold = _dashboard_pass(spark, sf_dir, specs)
    warm = _dashboard_pass(spark, sf_dir, specs)
    assert warm <= WARM_PASS_MAX_COMPILATIONS, (cold, warm)


def test_ansi_mode_is_explicit(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        spark.sql("SELECT CAST(9223372036854775807 AS BIGINT) + 1 AS x").collect()


def test_default_parallelism_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session.default_parallelism() == 6


def test_default_parallelism_falls_back_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session.default_parallelism() == 3
