"""Query registry — the single source of truth behind the driver contract.

Every operator from SURVEY.md §2 is registered here exactly once, with:
- a Spark callable ``(spark, sf_dir) -> DataFrame``
- the equivalent ANSI SQL for the DuckDB oracle (or None for ops SQL can't
  express — streaming, iterative — which the driver checks rows-only).

``__spark_entry__.py`` re-exports ``queries()`` / ``oracle_sql()`` from here.

Oracle-parity discipline (SURVEY.md §7 "what's hard" #1):
- alias every computed column identically on both sides;
- never SUM/AVG raw doubles (partial-aggregation order is nondeterministic):
  route through DECIMAL(18,2) and cast the final result to DOUBLE;
- pin timestamps to epoch millis (``unix_millis`` / ``epoch_ms``) when the
  source precision differs (events.ts is ns; Spark truncates to µs);
- no ORDER BY needed for the hash (order-insensitive) except under LIMIT,
  where the sort must be total (tie-broken) to be deterministic.
"""

from __future__ import annotations

import importlib
import os
import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from c2_duckdb_runner_spark.session import apply_runtime_confs, release_scratch

QueryFn = Callable[[SparkSession, str], DataFrame]

# Reentrancy depth: composite queries call other REGISTERED queries while
# building their plan (the decorator rebinds the module-level name to the
# wrapper), and those inner entries must not release the outer query's
# scratch-persisted tables mid-build. Only a depth-0 entry — a new
# top-level query — releases the previous query's scratch.
_ENTRY_DEPTH = 0


@dataclass
class Query:
    key: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    # the undecorated function, kept so provenance tooling can hash the
    # operator's actual source (inspect.getsource of the wrapper would
    # hash the registry closure below instead)
    src_fn: QueryFn | None = None


REGISTRY: dict[str, Query] = {}


def fdoc(text: str):
    """Attach an import-time-formatted docstring.

    An f-string literal in function-body position is NOT a docstring (the
    interpreter evaluates and discards it on every call, leaving ``__doc__``
    None). Operators whose documentation interpolates module constants
    (fence sizes, window widths) pass the f-string here instead; it is
    evaluated exactly once at import and becomes the real ``__doc__`` that
    ``register`` records. Apply BELOW ``@register`` so it runs first.
    """

    def deco(fn):
        fn.__doc__ = text
        return fn

    return deco


def register(key: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add one queries()/oracle_sql() pair to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in REGISTRY:
            raise ValueError(f"duplicate query key: {key}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            global _ENTRY_DEPTH
            apply_runtime_confs(spark)
            if _ENTRY_DEPTH == 0:
                release_scratch()  # previous query's persisted scratch
            _ENTRY_DEPTH += 1
            try:
                return fn(spark, sf_dir)
            finally:
                _ENTRY_DEPTH -= 1

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[key] = Query(
            key=key, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "",
            src_fn=fn,
        )
        return wrapped

    return deco


# Every module that registers queries, in registration order. Modules are
# imported in this order, and _load_all_modules then sorts REGISTRY by
# (position here, registration order within the module), so a module
# imported early by a caller cannot move its keys forward. The first-50
# prefix is the driver's sample (pinned in tests/test_properties.py):
# append new modules at the end.
_MODULES = (
    "operators.tier_a",
    "operators.filters",
    "operators.joins",
    "operators.aggregates",
    "operators.windows",
    "operators.sorts_limits",
    "operators.setops",
    "functions.scalar",
    "functions.complex",
    "functions.udfs",
    "operators.dedup",
    "operators.simsearch",
    "operators.textanalysis",
    "operators.multimodal",
    "operators.scale_patterns",
    "operators.analytics_ext",
    "operators.composite",
    "operators.composite_subqueries",
    "operators.pipeline_patterns",
    "operators.training_pipeline",
    "operators.modern_sql",
    "operators.corpus_curation",
    "operators.cdc_timeseries",
    "operators.graph",
    "operators.similarity_layout",
    "operators.product_analytics",
    "operators.sql_surface_ext",
    "operators.data_mixture",
    "operators.sketches_timeseries",
    "operators.pandas_api",
    "sources.formats",
    "sources.python_datasource",
    "streaming.queries",
    "operators.curation_ext",
    "operators.retrieval_ext",
    "operators.coreset_ext",
    "operators.spatial_signal_ext",
    "operators.incremental_ext",
    "operators.keywords_ext",
    "operators.sql_surface_ext2",
    "operators.warehouse_ext",
    "operators.stats_retrieval_ext",
    "operators.temporal_ext",
    "operators.pipeline_gate_ext",
    "operators.signal_ext2",
    "operators.entity_vq_ext",
    "operators.lakehouse_ext",
    "operators.allocation_ext",
    "operators.behavior_ext",
    "operators.matching_ext",
    "operators.structure_ext",
    "operators.pipeline_r4_ext",
    "operators.paper_patterns_ext",
    "operators.stats_tests_ext",
    "operators.inference_ext",
    "operators.attribution_retrieval_ext",
    "operators.walks_mixture_ext",
    "operators.decompose_eval_ext",
    "operators.forecast_eval_ext",
    "operators.chunking_health_ext",
    "operators.mlsplit_spectral_ext",
    "operators.randomness_decay_ext",
    "operators.abtest_growth_ext",
    "operators.blocking_eval_ext",
    "operators.summary_power_ext",
    "operators.skyline_linkage_ext",
    "operators.waterfall_bitemporal_ext",
    "operators.markov_attribution_ext",
    "operators.wau_contamination_ext",
    "operators.control_calibration_ext",
    "operators.streaks_backlog_ext",
    "operators.drift_eval_ext",
    "operators.simjoin_symbolic_ext",
    "operators.agreement_privacy_ext",
    "operators.paired_metrics_ext",
    "operators.allocation_fusion_ext",
    "operators.concentration_votes_ext",
    "operators.ranked_tests_ext",
    "operators.sequential_robust_ext",
    "operators.pretrain_objectives_ext",
    "operators.rates_portmanteau_ext",
    "operators.scale_rank_ext",
    "operators.round5_ext",
    "operators.round5b_ext",
    "operators.round5c_ext",
    "operators.round5d_ext",
    "operators.round5e_ext",
    "operators.round6_ext",
    "operators.round6b_ext",
    "operators.round6c_ext",
    "operators.round6d_ext",
    "operators.round7_ext",
    "operators.round7b_ext",
    "operators.round7c_ext",
    "operators.round7d_ext",
    "operators.round8_ext",
    "operators.round8b_ext",
    "operators.round8c_ext",
)
_loaded = False
_load_lock = threading.RLock()


def _load_all_modules() -> None:
    """Import every module that registers queries and put REGISTRY in
    ``_MODULES`` order (idempotent)."""
    global _loaded
    with _load_lock:
        if _loaded:
            return
        pos = {}
        for i, m in enumerate(_MODULES):
            pos[importlib.import_module(f"{__package__}.{m}").__name__] = i
        ordered = sorted(REGISTRY.values(), key=lambda q: pos[q.src_fn.__module__])
        REGISTRY.clear()
        REGISTRY.update((q.key, q) for q in ordered)
        _loaded = True


def queries() -> dict[str, QueryFn]:
    _load_all_modules()
    return {k: q.fn for k, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _load_all_modules()
    return {k: q.oracle for k, q in REGISTRY.items() if q.oracle is not None}


def src_hashes() -> dict[str, dict[str, str]]:
    """Per-key source provenance hashes for scale-sweep artifacts.

    ``src_hash`` covers the operator's own function body plus its oracle
    SQL; ``mod_hash`` covers the whole defining module file, catching
    changes to same-module helpers the function calls. Sweep assembly
    (``tools/sweep.py``'s ``assemble``) refuses to carry a prior round's 100x proof
    for a key unless BOTH hashes are unchanged — the mechanical version
    of the hand-asserted "code unchanged" provenance the r10 artifact
    carried (VERDICT r10 ask #4).
    """
    import hashlib
    import inspect

    _load_all_modules()
    out: dict[str, dict[str, str]] = {}
    mod_cache: dict[str, str] = {}
    for k, q in REGISTRY.items():
        fn = q.src_fn or q.fn
        src = inspect.getsource(fn)
        path = inspect.getsourcefile(fn) or ""
        if path not in mod_cache:
            with open(path, "rb") as fh:
                mod_cache[path] = hashlib.sha256(fh.read()).hexdigest()[:16]
        h = hashlib.sha256()
        h.update(src.encode())
        h.update(b"\x00")
        h.update((q.oracle or "").encode())
        out[k] = {
            "src_hash": h.hexdigest()[:16],
            "mod_hash": mod_cache[path],
            "module": os.path.relpath(path, os.path.dirname(os.path.dirname(
                os.path.abspath(__file__)))),
        }
    return out
