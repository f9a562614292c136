"""Round-4 ML-primitive / spectral extensions.

- NODE2VEC BIASED WALK (Grover & Leskovec, KDD'16): second-order random
  walk whose next-hop weights depend on the PREVIOUS node (return /
  common-neighbor / outward weights ≙ 1/p, 1, 1/q), the corpus
  generator for node2vec embeddings — extends graph_random_walks_hash
  (first-order) with the distance-to-prev bias, still fully
  deterministic via weighted cumulative-range selection under an md5
  coin;
- GINI SPLIT GAIN: the decision-tree split finder — best threshold on
  the event value separating odd from even users by weighted Gini
  impurity reduction, computed entirely from a bounded bin histogram;
- CLASS-BALANCED DOWNSAMPLING: deterministically keep min-class-size
  docs per language (hash-ranked), the standard rebalancing step before
  training a classifier;
- SINGLE-BIN DFT at the weekly period (Goertzel-style): the Fourier
  power of each event type's daily series at period 7 — a numeric
  seasonality detector whose cos/sin tables are precomputed integer
  micro-constants shared by both engines (day indices mod 7 take only
  7 values, so no float trig runs anywhere).

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import _EDGES_SQL, _edges
from c2_duckdb_runner_spark.operators.inference_ext import (
    DAILY_MILLI_SQL,
    daily_milli,
    sdiv,
)
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# graph_node2vec_biased_walk
# ---------------------------------------------------------------------------

_N2V_SEEDS = 10
_N2V_BIASED_STEPS = 3  # biased hops after the first uniform hop
_W_RET, _W_COM, _W_FAR = 2, 6, 3  # ≙ 1/p : 1 : 1/q with p=3, q=2 (scaled ×6)


def _n2v_coin(engine: str, step: int) -> str:
    s = f"CAST(walk_id AS STRING) || '_n2v{step}_' || CAST(cur AS STRING)"
    d = f"CAST(walk_id AS VARCHAR) || '_n2v{step}_' || CAST(cur AS VARCHAR)"
    return (
        f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
        if engine == "spark"
        else f"CAST(('0x' || substring(md5({d}), 1, 15)) AS BIGINT)"
    )


def _n2v_oracle() -> str:
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        f"""ranked AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY src) AS outdeg
  FROM edges
)""",
        f"""s1 AS (
  SELECT r.src AS walk_id, r.src AS prev, r.dst AS cur,
         CAST(r.src AS VARCHAR) || '>' || CAST(r.dst AS VARCHAR) AS path
  FROM ranked r
  JOIN (SELECT DISTINCT src AS walk_id, src AS cur
        FROM edges WHERE src <= {_N2V_SEEDS}) s0
    ON s0.cur = r.src
   AND r.idx = {_n2v_coin('duck', 1)} % r.outdeg
)""",
    ]
    for t in range(2, _N2V_BIASED_STEPS + 2):
        ctes.append(
            f"""c{t} AS (
  SELECT s.walk_id, s.prev, s.cur, s.path, e.dst AS cand,
         CASE WHEN e.dst = s.prev THEN {_W_RET}
              WHEN chk.dst IS NOT NULL THEN {_W_COM}
              ELSE {_W_FAR} END AS w
  FROM s{t-1} s
  JOIN edges e ON e.src = s.cur
  LEFT JOIN edges chk ON chk.src = s.prev AND chk.dst = e.dst
)""",
        )
        ctes.append(
            f"""w{t} AS (
  SELECT walk_id, cur, path, cand, w,
         CAST(COALESCE(SUM(w) OVER (PARTITION BY walk_id ORDER BY cand
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cumw,
         CAST(SUM(w) OVER (PARTITION BY walk_id) AS BIGINT) AS tot
  FROM c{t}
)""",
        )
        ctes.append(
            f"""s{t} AS (
  SELECT walk_id, cur AS prev, cand AS cur,
         path || '>' || CAST(cand AS VARCHAR) AS path
  FROM w{t}
  WHERE {_n2v_coin('duck', t)} % tot >= cumw
    AND {_n2v_coin('duck', t)} % tot < cumw + w
)""",
        )
    last = _N2V_BIASED_STEPS + 1
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT walk_id, cur AS end_node, path FROM s{last}"
    )


@register("graph_node2vec_biased_walk", oracle=_n2v_oracle())
@fdoc(f"""node2vec second-order walk: after a uniform first hop, each next
    hop draws a candidate neighbor with weight {_W_RET} (return to the
    previous node), {_W_COM} (candidate is a common neighbor — BFS-ish),
    or {_W_FAR} (outward — DFS-ish), the p/q bias of Grover & Leskovec.
    Selection is exact: candidates order by id, the md5 coin mod the
    walk's total weight falls into exactly one cumulative-weight range.

    Scale shape (r12 restructure): each hop is (1) one keyed join
    frontier→neighbors, (2) the prev-adjacency test against a persisted
    per-node ADJACENCY-ARRAY relation (node-sized rows with
    degree-bounded arrays; before r12 this was a per-hop join against
    the full edge list on the composite (prev, cand) key, which
    re-shuffled and re-sorted edge-sized data every hop), (3) a per-walk
    window for the cumulative ranges. The frontier is ≤ the seed count
    by construction, so it is localCheckpoint-ed per hop (tiny RDD, flat
    lineage) and explicitly broadcast into both joins — the edge/adj
    relations are never shuffled or sorted inside the loop. The
    first-hop neighbor-ranking window runs over the SEED nodes' edges
    only (row_number partitioned by src is invariant under the src
    filter), not the whole edge list. Frontier stays one row per walker
    after every hop's range filter, so cost per hop is O(Σ outdeg(cur))
    — the same as any neighbor expansion — at any number of walkers.""")
def graph_node2vec_biased_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persist the edge relation ALREADY hash-partitioned on src: every hop
    # joins on cur = src and the adjacency-check joins on prev = psrc, so
    # caching the partitioned layout lets all 2x{_N2V_BIASED_STEPS}+1 joins
    # reuse it instead of re-exchanging |E| rows per hop.
    edges = scratch_persist(_edges(spark, sf_dir).repartition(F.col("src")))
    # Per-node adjacency arrays: ONE groupBy over the persisted edges,
    # consumed by every hop's prev-adjacency membership test. The arrays
    # are degree-bounded per row (never corpus state), same argument as
    # graph_wl_refinement's neighbor multisets.
    adj = scratch_persist(
        edges.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    )
    # The first hop only needs the SEED nodes' neighbor ranking;
    # row_number/count partitioned by src commute with the src filter,
    # so the window runs over a seed-count-bounded slice, not all |E|.
    seed_edges = edges.filter(F.col("src") <= _N2V_SEEDS)
    wsrc = Window.partitionBy("src")
    ranked = seed_edges.select(
        "src",
        "dst",
        (F.row_number().over(wsrc.orderBy("dst")) - 1).alias("idx"),
        F.count("*").over(wsrc).alias("outdeg"),
    )
    seeds = (
        seed_edges
        .select(F.col("src").alias("walk_id"))
        .distinct()
        .withColumn("cur", F.col("walk_id"))
    )
    pick1 = F.expr(_n2v_coin("spark", 1)) % F.col("outdeg")
    state = (
        seeds.join(ranked, (seeds.cur == ranked.src) & (ranked.idx == pick1))
        .select(
            "walk_id",
            F.col("src").alias("prev"),
            F.col("dst").alias("cur"),
            F.concat(
                F.col("walk_id").cast("string"),
                F.lit(">"),
                F.col("dst").cast("string"),
            ).alias("path"),
        )
        .localCheckpoint(eager=True)  # frontier: ≤ seed-count rows
    )
    for t in range(2, _N2V_BIASED_STEPS + 2):
        cand = (
            F.broadcast(state)
            .join(edges, state.cur == edges.src)
            .select("walk_id", "prev", "cur", "path", F.col("dst").alias("cand"))
            # prev is always an edge source (cur was reached FROM it), so
            # the adjacency lookup is an inner keyed join; membership in
            # nbrs(prev) is exactly the old (prev, cand) ∈ edges test.
            # shuffle_hash builds on the walker-neighborhood-sized cand
            # side; adj streams from its persisted src-hash layout
            # (node-sized — NEVER broadcast, same cliff rule as BFS).
            .hint("shuffle_hash")
            .join(
                adj.select(F.col("src").alias("psrc"), "nbrs"),
                F.col("prev") == F.col("psrc"),
            )
            .select(
                "walk_id",
                "prev",
                "cur",
                "path",
                "cand",
                F.when(F.col("cand") == F.col("prev"), _W_RET)
                .when(F.array_contains(F.col("nbrs"), F.col("cand")), _W_COM)
                .otherwise(_W_FAR)
                .alias("w"),
            )
        )
        ww = Window.partitionBy("walk_id")
        weighted = cand.select(
            "walk_id",
            "cur",
            "path",
            "cand",
            "w",
            F.coalesce(
                F.sum("w").over(
                    ww.orderBy("cand").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("cumw"),
            F.sum("w").over(ww).cast("bigint").alias("tot"),
        )
        coin = F.expr(_n2v_coin("spark", t)) % F.col("tot")
        state = (
            weighted.filter(
                (coin >= F.col("cumw")) & (coin < F.col("cumw") + F.col("w"))
            )
            .select(
                "walk_id",
                F.col("cur").alias("prev"),
                F.col("cand").alias("cur"),
                F.concat(
                    F.col("path"), F.lit(">"), F.col("cand").cast("string")
                ).alias("path"),
            )
            .localCheckpoint(eager=True)  # one row per walker — tiny
        )
    return state.select("walk_id", F.col("cur").alias("end_node"), "path")


# ---------------------------------------------------------------------------
# stats_gini_split_gain
# ---------------------------------------------------------------------------

_GINI_BIN_W = 25.0
_GINI_MAX_BIN = 19


@register(
    "stats_gini_split_gain",
    oracle=f"""
WITH s AS (
  SELECT LEAST(CAST(floor(value / {_GINI_BIN_W}) AS INT), {_GINI_MAX_BIN}) AS bin,
         user_id % 2 AS cls
  FROM events
),
bins AS (
  SELECT bin,
         CAST(SUM(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM s GROUP BY bin
),
tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb,
               CAST(SUM(a + b) AS BIGINT) AS n FROM bins),
cuts AS (SELECT unnest(range(1, {_GINI_MAX_BIN} + 1)) AS cut),
split AS (
  SELECT cut,
         CAST(SUM(CASE WHEN bin < cut THEN a ELSE 0 END) AS BIGINT) AS la,
         CAST(SUM(CASE WHEN bin < cut THEN b ELSE 0 END) AS BIGINT) AS lb
  FROM bins CROSS JOIN cuts GROUP BY cut
),
gain AS (
  SELECT cut, la, lb, na - la AS ra, nb - lb AS rb, na, nb, n,
         (CAST(2000000 * na AS HUGEINT) * nb) // (CAST(n AS HUGEINT) * n)
         - CASE WHEN la + lb = 0 THEN 0
             ELSE (CAST(2000000 * la AS HUGEINT) * lb)
                  // (CAST(la + lb AS HUGEINT) * n) END
         - CASE WHEN (na - la) + (nb - lb) = 0 THEN 0
             ELSE (CAST(2000000 * (na - la) AS HUGEINT) * (nb - lb))
                  // (CAST((na - la) + (nb - lb) AS HUGEINT) * n) END
           AS g
  FROM split CROSS JOIN tot
)
SELECT CAST(cut AS INT) AS cut_bin,
       CAST(cut * {int(_GINI_BIN_W)} AS BIGINT) AS cut_value,
       CAST(la + lb AS BIGINT) AS n_left, CAST(ra + rb AS BIGINT) AS n_right,
       CAST(g AS BIGINT) AS gain_micro
FROM gain ORDER BY g DESC, cut LIMIT 1
""",
)
def stats_gini_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split finder: the threshold on the event value that
    best separates odd from even users by Gini impurity reduction —
    gain = Gini(parent) − Σ weighted Gini(children), with the binary
    Gini 2·p·q written as the exact integer 2·10⁶·n_a·n_b div (m·n)
    (weighted form), routed through HUGEINT/DECIMAL(38) where the
    product exceeds 2⁶³. The argmax is a total-ordered LIMIT 1.

    Scale shape: the corpus collapses to a 20-bin class histogram in one
    scan (map-side partials); candidate thresholds are the 19 bin
    boundaries, so evaluating every split is a 380-row cross of two
    broadcast-sized tables — the classic histogram-based split search
    every distributed GBDT (XGBoost/LightGBM-style) uses to avoid
    sorting the raw feature."""
    s = load(spark, sf_dir, "events").select(
        F.expr(
            f"LEAST(CAST(floor(value / {_GINI_BIN_W}) AS INT), {_GINI_MAX_BIN})"
        ).alias("bin"),
        (F.col("user_id") % 2).alias("cls"),
    )
    bins = s.groupBy("bin").agg(
        F.sum(F.when(F.col("cls") == 1, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(F.col("cls") == 0, 1).otherwise(0)).cast("bigint").alias("b"),
    )
    tot = bins.agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum("b").cast("bigint").alias("nb"),
        F.sum(F.col("a") + F.col("b")).cast("bigint").alias("n"),
    )
    cuts = spark.range(1, _GINI_MAX_BIN + 1).select(F.col("id").alias("cut"))
    split = (
        bins.crossJoin(F.broadcast(cuts))
        .groupBy("cut")
        .agg(
            F.sum(F.when(F.col("bin") < F.col("cut"), F.col("a")).otherwise(0))
            .cast("bigint")
            .alias("la"),
            F.sum(F.when(F.col("bin") < F.col("cut"), F.col("b")).otherwise(0))
            .cast("bigint")
            .alias("lb"),
        )
    )
    gain = split.crossJoin(F.broadcast(tot)).select(
        "cut",
        "la",
        "lb",
        (F.col("na") - F.col("la")).alias("ra"),
        (F.col("nb") - F.col("lb")).alias("rb"),
        F.expr(
            "(CAST(2000000 * na AS DECIMAL(19,0)) * nb)"
            " div (CAST(n AS DECIMAL(19,0)) * n)"
            " - CASE WHEN la + lb = 0 THEN 0"
            "   ELSE (CAST(2000000 * la AS DECIMAL(19,0)) * lb)"
            "        div (CAST(la + lb AS DECIMAL(19,0)) * n) END"
            " - CASE WHEN (na - la) + (nb - lb) = 0 THEN 0"
            "   ELSE (CAST(2000000 * (na - la) AS DECIMAL(19,0)) * (nb - lb))"
            "        div (CAST((na - la) + (nb - lb) AS DECIMAL(19,0)) * n) END"
        ).alias("g"),
    )
    return (
        gain.select(
            F.col("cut").cast("int").alias("cut_bin"),
            (F.col("cut") * int(_GINI_BIN_W)).cast("bigint").alias("cut_value"),
            (F.col("la") + F.col("lb")).cast("bigint").alias("n_left"),
            (F.col("ra") + F.col("rb")).cast("bigint").alias("n_right"),
            F.col("g").cast("bigint").alias("gain_micro"),
        )
        .orderBy(F.col("gain_micro").desc(), "cut_bin")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# sample_balanced_class_downsample
# ---------------------------------------------------------------------------


@register(
    "sample_balanced_class_downsample",
    oracle="""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY lang
),
nmin AS (SELECT MIN(c) AS n_min FROM counts),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '_bal'), doc_id) AS r
  FROM documents
)
SELECT doc_id, lang FROM ranked CROSS JOIN nmin WHERE r <= n_min
""",
)
def sample_balanced_class_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-size documents, chosen by md5 rank — the deterministic
    version of per-class random undersampling that precedes classifier
    training on skewed corpora. Reruns, engines and partitionings all
    pick the same documents (same property sample_deterministic pins).

    Scale shape: class counts are a broadcast-sized aggregate; ranking
    windows partition BY CLASS, so parallelism is the class count and
    no global sort exists. Output is n_classes × n_min rows — the
    balanced corpus itself."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("c"))
    nmin = counts.agg(F.min("c").alias("n_min"))
    wl = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("_bal"))), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "lang", F.row_number().over(wl).alias("r")
    )
    return (
        ranked.crossJoin(F.broadcast(nmin))
        .filter(F.col("r") <= F.col("n_min"))
        .select("doc_id", "lang")
    )


# ---------------------------------------------------------------------------
# ts_dft_weekly_power
# ---------------------------------------------------------------------------

# floor-rounded 10⁶·cos(2πk/7), 10⁶·sin(2πk/7) for k = 0..6 — precomputed
# once and inlined into both plans; day-index mod 7 takes only these values,
# so neither engine evaluates float trig.
_COS7 = (1000000, 623490, -222521, -900969, -900969, -222521, 623490)
_SIN7 = (0, 781831, 974928, 433884, -433884, -974928, -781831)


def _trig_case(col: str, table: tuple[int, ...]) -> str:
    whens = " ".join(f"WHEN {col} = {k} THEN {v}" for k, v in enumerate(table))
    return f"CASE {whens} END"


@register(
    "ts_dft_weekly_power",
    oracle=f"""
WITH daily AS ({DAILY_MILLI_SQL}),
idx AS (
  SELECT event_type, x,
         CAST((ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) - 1) % 7
              AS INT) AS k
  FROM daily
),
ft AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(x * {_trig_case('k', _COS7)}) AS BIGINT) AS re_raw,
         CAST(SUM(x * {_trig_case('k', _SIN7)}) AS BIGINT) AS im_raw
  FROM idx GROUP BY event_type
),
sc AS (
  SELECT event_type, n_points,
         {sdiv('re_raw', '1000000', 'duck')} AS re_milli,
         {sdiv('im_raw', '1000000', 'duck')} AS im_milli
  FROM ft
)
SELECT event_type, n_points,
       CAST(re_milli AS BIGINT) AS re_milli, CAST(im_milli AS BIGINT) AS im_milli,
       CAST(re_milli * re_milli + im_milli * im_milli AS BIGINT) AS power_milli2
FROM sc
""",
)
def ts_dft_weekly_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-bin discrete Fourier transform at the weekly period for
    each event type's daily series (Goertzel's use case): re = Σ x_t ·
    cos(2πt/7), im = Σ x_t · sin(2πt/7), power = re² + im² — a LARGE
    power means the series repeats on a 7-day cycle (the numeric
    counterpart to ts_seasonal_decompose_additive's weekday means).
    Because t mod 7 has only 7 values, the trig factors are a
    precomputed 7-entry integer micro-table inlined into both plans —
    the sums are pure integer arithmetic and hash-match exactly.

    Scale shape: one keyed rollup to the bounded daily series, a
    per-key window for the day index, one keyed aggregate. Constant
    work per key."""
    daily = daily_milli(spark, sf_dir)
    idx = daily.select(
        "event_type",
        "x",
        (
            (
                F.row_number().over(
                    Window.partitionBy("event_type").orderBy("d")
                )
                - 1
            )
            % 7
        )
        .cast("int")
        .alias("k"),
    )
    ft = idx.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum(F.col("x") * F.expr(_trig_case("k", _COS7)))
        .cast("bigint")
        .alias("re_raw"),
        F.sum(F.col("x") * F.expr(_trig_case("k", _SIN7)))
        .cast("bigint")
        .alias("im_raw"),
    )
    sc = ft.select(
        "event_type",
        "n_points",
        F.expr(sdiv("re_raw", "1000000", "spark")).alias("re_milli"),
        F.expr(sdiv("im_raw", "1000000", "spark")).alias("im_milli"),
    )
    return sc.select(
        "event_type",
        "n_points",
        F.col("re_milli").cast("bigint").alias("re_milli"),
        F.col("im_milli").cast("bigint").alias("im_milli"),
        (
            F.col("re_milli") * F.col("re_milli")
            + F.col("im_milli") * F.col("im_milli")
        )
        .cast("bigint")
        .alias("power_milli2"),
    )
