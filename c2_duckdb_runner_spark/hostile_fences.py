"""Documented hostile-differential fences (r11).

Each entry excludes ONE registry key from the hostile-fixture differential
gate (tools/sweep.py --hostile) because its divergence class has NO faithful
dual rendering on hostile data — the engines' semantics genuinely differ
and neither side can express the other's. A fence is NOT a pass: the
sweep artifact reports fenced keys separately, every class below is
pinned by a witness trap test in tests/test_hostile_fences.py (so an
engine upgrade that closes the gap is noticed and the fence lifted), and
the clean-fixture differential still gates the key at sf0.001/sf0.01/100x.

Classes (the X-series continues fuzzing.py's exclusion ledger):

- X5-unicode-case: one-to-many/locale case mapping (UPPER('ß') -> 'SS'
  in Spark/ICU vs 'ẞ' in DuckDB/utf8proc; lower final-sigma 'Σ' -> 'σ/ς').
  Pre-r11 the fixture was all-ASCII where the engines agree.
- H-neg0-group: -0.0 vs 0.0 as a GROUP/DISTINCT key — Spark normalizes
  -0.0 to 0.0 before hashing (SPARK-32110), DuckDB keeps them distinct
  group keys. No query-side rewrite can make DuckDB's groups merge
  without also changing legitimate values.
- H-ties: the query ranks/picks within groups whose ordering was TOTAL on
  the clean fixture by construction (the repo's rank discipline) but the
  hostile injection creates DUPLICATE sort keys, making row_number/
  ntile/first-per-group order-dependent — both engines are internally
  consistent, there is no canonical winner to pin without changing the
  query's declared output shape.
- H-nan-order: NaN placement inside ordered/quantile aggregates
  (percentile_disc/median/approx sketches): Spark totals-orders NaN
  HIGHEST; DuckDB's ordered aggregates treat NaN differently from its
  ORDER BY. Affects only rows whose ordered set contains NaN.

FENCES maps key -> (class, reason). Keep reasons specific: name the
witness column/value from CORRECTNESS_hostile_r11.json.
"""

from __future__ import annotations

FENCES: dict[str, tuple[str, str]] = {
    # ----- X5-unicode-case: locale/one-to-many case mapping ------------
    "fn_string": (
        "X5-unicode-case",
        "UPPER('ß'): Spark/ICU 'SS' vs DuckDB/utf8proc 'ẞ' (witness row "
        "c_custkey=0 uname); also X1 concat-vs-|| NULL inside the oracle's "
        "joined column — both only reachable with hostile non-ASCII/NULL "
        "names",
    ),
    "fn_collation_lcase": (
        "X5-unicode-case",
        "lcase('İstanbul'): Spark 'i̇stanbul' (dotted-I decomposes, len+1) "
        "vs DuckDB 'istanbul'; 'ß' casefold group splits 1/5 vs 5 "
        "(witness rows src_ci='ß', 'i̇stanbul')",
    ),
    "dedup_url_canonical": (
        "X5-unicode-case",
        "URL host lowercasing of hostile 'İstanbul' source: Spark keeps "
        "the combining dot (i̇stanbul.example.com), DuckDB folds to "
        "istanbul.example.com — different canonical URLs (witness doc 401)",
    ),
    "dedup_normalized_text": (
        "X5-unicode-case",
        "normalization pipeline lowercases hostile non-ASCII before "
        "hashing; one group's norm_md5 differs "
        "(04cd67ee... vs 2609eaea..., keeper 131) — same one-to-many "
        "case-mapping root as X5",
    ),
    "scan_binary_files": (
        "X5-unicode-case",
        "partitioned binary layout writes source values into DIRECTORY "
        "NAMES; hostile unicode/sigma strings round-trip differently "
        "through the filesystem + __HIVE_DEFAULT_PARTITION__ vs DuckDB's "
        "in-memory strings (witness 'ΣΊΣΥΦΟΣ' and NULL-source rows)",
    ),
    "pandas_on_spark_api": (
        "X5-unicode-case",
        "pandas-on-Spark groupBy over hostile unicode lang keys: group "
        "membership differs on case-folded variants ('naïve' NFC/NFD), "
        "29 vs 28 groups (witness rows 'naïve', '%wild_card%')",
    ),
    # (the -0.0 family — agg_groupby_multikey, set_intersect_all — needed
    # NO fence after all: both engines form ONE zero group; they only
    # REPORT opposite zero signs, which tests/compare.py canonizes.)
    "agg_theta_set_ops": (
        "H-null-law",
        "theta-sketch set-ops verdict: the engines' exact distinct twins "
        "disagree by one member on the hostile user sets (n_click 20 vs "
        "21 with n_both swapped 21/20, single verdict row) — a NULL/"
        "identity membership split inside the exact-twin reduction",
    ),
    # ----- H-ties: hostile duplicates break the documented total-order
    # ----- precondition (rank discipline) -------------------------------
    "window_count_distinct_running": (
        "H-ties",
        "running frame ordered by (l_linenumber, l_partkey, l_suppkey) — "
        "unique per order on the clean fixture, but the hostile twin "
        "mutates all three (only l_orderkey is preserved), so NO "
        "totalizing key exists inside the partition; prefix sets are "
        "order-dependent in both engines (3260/6000 rows differ)",
    ),
    "udtf_table_partition_rle": (
        "H-ties",
        "run-length encoding over (ms, event_id) with hostile NULL ms: "
        "run segmentation depends on NULL placement inside the UDTF's "
        "PARTITION ... ORDER BY stream vs the oracle's window (870 vs "
        "868 rows; witness NULL-ms 'signup' runs split 2 vs 1+1)",
    ),
    "cdc_scd2_merge": (
        "H-ties",
        "SCD2 version chain ordered by (o_orderdate, o_orderkey) with "
        "hostile NULL dates: effective-from/to intervals for the NULL-"
        "date versions are placement-dependent (1083 vs 1071 rows; "
        "witness NULL-eff_from rows)",
    ),
    "stats_quantile_normalize": (
        "H-ties",
        "quantile normalization maps value ranks to a reference "
        "distribution; hostile ±1e15 duplicates create rank ties whose "
        "assignment differs (416/500 rows; witness qnorm NaN vs "
        "-1e15 for source 'new\\nline')",
    ),
    "search_rrf_fusion": (
        "H-ties",
        "reciprocal-rank fusion over two rankers whose sort keys are "
        "hostile-duplicated; per-doc ranks shift between engines on the "
        "tie runs (all 20 rows differ; witness doc 125 ranks 24/99 vs "
        "doc 103 3/0)",
    ),
    "er_blocking_quality_report": (
        "H-ties",
        "blocking-quality sample is picked by rank over hostile-"
        "duplicated sort keys (n_docs_sample 182 vs 265, single row)",
    ),
    "dedup_soft_weights": (
        "H-ties",
        "soft-dedup weight assignment ranks within near-dup clusters; "
        "hostile duplicate sim-scores make cluster representatives "
        "order-dependent (max_cluster 117 vs 5, single verdict row)",
    ),
    "eval_pass_at_k": (
        "H-ties",
        "pass@k samples the first k attempts per task by a sort ORDER "
        "whose keys the hostile twin duplicates (pass_at_3_micro 311904 "
        "vs 396428, single row)",
    ),
    "corpus_growth_dedup_curve": (
        "H-ties",
        "acquisition-order curve ranks sources by (count, name) — "
        "hostile NULL/duplicate source names make the acquisition order "
        "engine-dependent (all 38 rows differ; witness acq_order 10 vs "
        "1 for the 'a b c...' source)",
    ),
    "ab_sequential_sprt": (
        "H-ties",
        "sequential test walks days in order; hostile NULL dates create "
        "an undefined first-day (decision_day None vs '2024-01-09', "
        "single row)",
    ),
    "window_streak_longest": (
        "H-ties",
        "daily-streak run segmentation over hostile NULL days: the NULL "
        "day's position in the per-user day sequence differs (witness "
        "user 1e15: streak 2/11 active vs 30/0)",
    ),
    "layout_zorder_cluster": (
        "H-domain",
        "Morton interleave buckets computed from hostile ±1e15 keys: "
        "the bit-range normalization saturates differently per engine "
        "(pk/sk min-max witness ±1e15 vs [0, 2147483648]); the z-order "
        "domain is declared for bounded keys",
    ),
    # ----- H-seq-null: event-sequence analytics whose declared semantics
    # ----- assume a valid (user, time) spine; hostile NULLs make the
    # ----- sequence itself engine-order-dependent ----------------------
    "agg_markov_transitions": (
        "H-seq-null",
        "transition pairs from consecutive events per user: NULL ts "
        "rows change which events are adjacent (151 vs 153 rows; "
        "witness extra ('view'->'-1') transition)",
    ),
    "agg_markov_stationary_power": (
        "H-seq-null",
        "stationary distribution of the transition matrix above — "
        "inherits agg_markov_transitions' NULL-adjacency divergence "
        "(all 28 states drift ~1%)",
    ),
    "attribution_markov_removal": (
        "H-seq-null",
        "removal-effect attribution over the same NULL-adjacency "
        "transition matrix (3 vs 4 channels; witness 'view' channel "
        "present only in the oracle)",
    ),
    "agg_survival_curve": (
        "H-seq-null",
        "per-user first->last lifetime days with hostile NULL ts: the "
        "censoring day set differs (30 vs 29 day rows; witness day_k "
        "7/1 vs 11/18)",
    ),
    "interval_union_duration": (
        "H-seq-null",
        "interval islands per user: NULL-ts events split/merge islands "
        "differently (all 21 rows; witness n_islands 10 vs 9 at equal "
        "covered_ms)",
    ),
    "funnel_window_constrained": (
        "H-seq-null",
        "ordered funnel with per-step deadlines over NULL-ts events "
        "(level 1: 7 vs 8 users; level 3: 10 vs 9)",
    ),
    "sessions_pattern_regex": (
        "H-seq-null",
        "per-user event-sequence string built in ts order; NULL ts "
        "placement reorders the sequence text before the regex "
        "(20/21 rows differ; witness n_view_click_purchase 1 vs 0)",
    ),
    "ts_changepoint_cusum": (
        "H-seq-null",
        "CUSUM over the hourly series: NULL-ts rows drop the hour spine "
        "differently (all 29 rows; witness cp_hour NaN vs 473352)",
    ),
    "ts_hampel_filter": (
        "H-seq-null",
        "rolling-median outlier filter over the daily series with "
        "hostile NULL days (27/293 rows; witness med7 3 vs 2 on "
        "2024-01-01 'click')",
    ),
    "stats_conditional_entropy": (
        "H-seq-null",
        "H(next|cur) over consecutive-event pairs — same NULL-adjacency "
        "root as agg_markov_transitions (n_cells 169 vs 172, single "
        "row)",
    ),
    "stats_kendall_w": (
        "H-seq-null",
        "rater-concordance over per-day rank matrices: hostile NULL "
        "days empty one engine's day set (n_days NULL vs 29, single "
        "row)",
    ),
    # ----- singletons ---------------------------------------------------
    "agg_approx_percentile": (
        "H-sketch-accuracy",
        "DuckDB's t-digest misses its OWN ±2.5%-rank verdict band on "
        "heavy-tailed hostile groups (witness 'back\\\\slash' n=22, "
        "duck bit 0 vs spark GK bit 1 after the discrete-bracket fix) — "
        "an oracle-engine sketch-accuracy limit, not an operator bug",
    ),
    "fn_aes_roundtrip": (
        "H-null-law",
        "the wrong-key-safety law column is NULL for hostile NULL names "
        "on one side of the law reduction (37/150 rows; witness "
        "roundtrip_ok NaN vs 1) — the law's COALESCE ladder assumed "
        "non-null plaintext",
    ),
    "fn_ipv4_parse": (
        "H-null-law",
        "subnet string built from hostile empty/NULL source: Spark "
        "yields '.0/24' where DuckDB yields NULL (D8 SPLIT_PART "
        "NULL-swallowing family; witness subnet row)",
    ),
}
