"""Pairwise-preference aggregation: win rates and Bradley-Terry ratings
over "arena battle" logs (model A vs model B, judged winner).

Preference pairs are the raw material of RLHF / DPO data curation; the
operators here are the curation-side aggregates over them:

* ``win_rates`` — per-model battle/win counts and Laplace-smoothed win
  rate.  One explode + one hash aggregate; map-side combinable.
* ``btl_ratings`` — Bradley-Terry strength parameters via Hunter's MM
  algorithm (D.R. Hunter, "MM algorithms for generalized Bradley-Terry
  models", Annals of Statistics 2004), the standard model behind arena
  leaderboards.  Fixed-round iteration over the *aggregated* pairwise
  win matrix — data-scale battles are collapsed to one row per directed
  (model, opponent) pair first, so the iteration cost is bounded by the
  number of distinct matchups, not the number of battles.
* ``rank_centrality`` — the spectral alternative: a weighted random walk
  on the defeat digraph (Negahban, Oh & Shah, "Iterative Ranking from
  Pair-wise Comparisons", NeurIPS 2012), same micro-unit discipline.

Determinism: both solvers are exact-integer micro-unit arithmetic
(ratings are integer multiples of 1/UNIT) and every division truncates
non-negative integers, so Python's ``//`` on arbitrary-precision ints
is identical to DuckDB's ``//`` on HUGEINT — verified by the
value-exact oracles for ``pref_btl_ratings`` and
``pref_rank_centrality``.  No intermediate can wrap; only the final
micro-unit outputs must fit BIGINT, and leaving that range raises.  No
float enters until the final display-only rating = micro / UNIT
division (one IEEE op in Spark, bit-portable).

Scale notes:
* The battles -> win-matrix collapse is the only data-scale shuffle
  (one hash aggregate on the unordered pair key, map-side combinable).
* The solver rounds iterate model-sized state (at most #models² matchup
  rows at any battle volume), so all of them run inside ONE Python task
  (``_solve_in_one_task``: one ``groupBy(lit(0)).applyInPandas``) — one
  single-partition shuffle of the post-aggregate matrix, no per-round
  Spark join/aggregate, no checkpoint, no collect.
* Laplace smoothing (+1 virtual win each way per observed matchup)
  keeps every model's win total positive, so no denominator in the MM
  update can be zero and ratings stay strictly positive — the standard
  regularization, and the reason the fixed-round iteration is total.

Nothing like this exists in the reference (its only rollups are sums
over match facts, fotmob-dag.py:151-176); this is north-star LLM-data
surface: preference-data curation for the RLHF stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

UNIT = 10**12
_U2 = UNIT * UNIT


def side_win_counts(
    battles: DataFrame,
    model_a: str = "model_a",
    model_b: str = "model_b",
    winner: str = "winner",
) -> DataFrame:
    """Per-model exact (model, n_battles, n_wins): one explode (each
    battle contributes one row per side) and one map-side-combinable
    hash aggregate.  Shared by the batch win_rates and the streaming
    leaderboard sink's per-batch increments — ONE definition of what a
    win is.  A battle whose winner matches neither side (tie) counts
    as a battle with no win for both."""
    sides = battles.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(model_a).alias("model"),
                    (F.col(winner) == F.col(model_a)).cast("long").alias("win"),
                ),
                F.struct(
                    F.col(model_b).alias("model"),
                    (F.col(winner) == F.col(model_b)).cast("long").alias("win"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    return sides.groupBy("model").agg(
        F.count("*").alias("n_battles"), F.sum("win").alias("n_wins")
    )


def with_rates(counts: DataFrame, smooth: int = 1) -> DataFrame:
    """Attach win_rate and the add-``smooth`` smoothed rate to a
    (model, n_battles, n_wins) counts table — single IEEE divisions of
    exact integers, shared by batch and the leaderboard reader."""
    return counts.select(
        "*",
        (F.col("n_wins").cast("double") / F.col("n_battles").cast("double")).alias(
            "win_rate"
        ),
        (
            (F.col("n_wins") + F.lit(smooth)).cast("double")
            / (F.col("n_battles") + F.lit(2 * smooth)).cast("double")
        ).alias("smoothed_rate"),
    )


def win_rates(
    battles: DataFrame,
    model_a: str = "model_a",
    model_b: str = "model_b",
    winner: str = "winner",
    smooth: int = 1,
) -> DataFrame:
    """Per-model (model, n_battles, n_wins, win_rate, smoothed_rate)."""
    counts = side_win_counts(battles, model_a, model_b, winner)
    return with_rates(counts, smooth).select(
        "model", "n_battles", "n_wins", "win_rate", "smoothed_rate"
    )


def pairwise_win_matrix(
    battles: DataFrame,
    model_a: str = "model_a",
    model_b: str = "model_b",
    winner: str = "winner",
    smooth: int = 1,
) -> DataFrame:
    """Directed smoothed win matrix: (model, opponent, n_pair, wins).

    Battles collapse to one row per unordered matchup (the only
    data-scale aggregate), then expand to the two directed rows the MM
    update consumes.  Non-decisive battles — winner matching NEITHER
    side ('tie', 'bothbad', malformed) — are excluded from the matrix
    (the standard BTL treatment; counting them for either side would
    bias ratings toward an arbitrary tiebreak).  ``smooth`` virtual
    wins are added in each direction (n_pair = w1 + w2 + 2*smooth), so
    wins >= 1 for every model.
    """
    return smoothed_matrix_from_pairs(
        raw_pair_counts(battles, model_a, model_b, winner), smooth
    )


def raw_pair_counts(
    battles: DataFrame,
    model_a: str = "model_a",
    model_b: str = "model_b",
    winner: str = "winner",
) -> DataFrame:
    """Unsmoothed per-matchup counts (m1, m2, w1, w2), m1 < m2 — plain
    mergeable sums, so the streaming matrix sink can fold per-batch
    outputs by (m1, m2)-wise SUM and stay cell-identical to a batch
    build (the same mergeability argument as side_win_counts)."""
    lo = F.least(F.col(model_a), F.col(model_b))
    hi = F.greatest(F.col(model_a), F.col(model_b))
    return (
        battles.select(
            lo.alias("m1"),
            hi.alias("m2"),
            (F.col(winner) == lo).cast("long").alias("w1"),
            (F.col(winner) == hi).cast("long").alias("w2"),
        )
        .groupBy("m1", "m2")
        .agg(F.sum("w1").alias("w1"), F.sum("w2").alias("w2"))
    )


def smoothed_matrix_from_pairs(pair: DataFrame, smooth: int = 1) -> DataFrame:
    """(model, opponent, n_pair, wins) directed smoothed matrix from
    the raw pair counts — the exact form btl_ratings consumes."""
    s = F.lit(smooth)
    n_sm = (F.col("w1") + F.col("w2") + 2 * s).alias("n_pair")
    fwd = pair.select(
        F.col("m1").alias("model"),
        F.col("m2").alias("opponent"),
        n_sm,
        (F.col("w1") + s).alias("wins"),
    )
    rev = pair.select(
        F.col("m2").alias("model"),
        F.col("m1").alias("opponent"),
        n_sm,
        (F.col("w2") + s).alias("wins"),
    )
    return fwd.unionByName(rev)


def _solve_in_one_task(
    frame: DataFrame, solve, key: str, out_cols: list[str], unit: int
) -> DataFrame:
    """Run a fixed-round solver over the WHOLE model-sized ``frame`` in
    one Python task: ``groupBy(lit(0)).applyInPandas`` moves every row
    to a single group (one shuffle, nothing collected) and
    ``solve(rows)`` maps the row tuples to ``(key, *out_cols)`` tuples
    in Python ints.  The last out column is the micro-unit rating;
    Spark appends its display form ``CAST(micro AS DOUBLE) / unit``
    under the same name minus ``_micro``.

    Python ints never wrap, so every integer output is checked against
    BIGINT range here — out of range raises ValueError instead of
    reaching Arrow.  ``solve`` and this closure reference no package
    globals: both pickle by value, so workers never import the
    package."""
    schema = StructType(
        [StructField(key, frame.schema[key].dataType)]
        + [StructField(c, LongType()) for c in out_cols]
    )
    cols = frame.columns
    names = schema.fieldNames()
    lo, hi = -(2**63), 2**63 - 1

    def run(pdf):
        import pandas as pd

        out = solve(list(zip(*(pdf[c].tolist() for c in cols))))
        for row in out:
            for name, v in zip(names, row):
                if isinstance(v, int) and not lo <= v <= hi:
                    raise ValueError(
                        f"{name} = {v} for {row[0]!r} leaves BIGINT range"
                    )
        return pd.DataFrame(out, columns=names)

    micro = out_cols[-1]
    # Aliased: a bare integer literal in groupBy is a column ordinal.
    one = F.lit(0).alias("_task")
    return frame.groupBy(one).applyInPandas(run, schema).select(
        *names,
        (F.col(micro).cast("double") / F.lit(float(unit))).alias(
            micro.removesuffix("_micro")
        ),
    )


def btl_ratings(matrix: DataFrame, iters: int = 6) -> DataFrame:
    """(model, n_wins, rating_micro, rating) after ``iters`` MM rounds.

    MM update (Hunter 2004):  p_i' = W_i / sum_j n_ij / (p_i + p_j),
    then normalize so ratings sum to n_models * UNIT (keeps the integer
    scale stable across rounds).  In micro-units, every division
    truncating (identical to DuckDB's HUGEINT ``//``):

        t_ij = (n_ij * UNIT^2) // (p_i + p_j)
        p_i' = (W_i  * UNIT^2) // sum_j t_ij
        p_i  = (p_i' * n_models * UNIT) // sum p'    -- normalize

    All rounds run in one task (``_solve_in_one_task``).  Ratings are
    normalized to sum n_models * UNIT, so rating_micro fits BIGINT
    while n_models < 9.2e6; beyond that the task raises.

    ``matrix`` must be smoothed (wins >= 1 for every model; see
    pairwise_win_matrix) so sum_j t_ij and sum p' are never zero.
    Rows whose opponent is not itself a model are ignored.
    """
    unit, u2 = UNIT, _U2

    def solve(rows):
        w_tot = {}
        for m, _, _, w in rows:
            w_tot[m] = w_tot.get(m, 0) + w
        n_models = len(w_tot)
        p = dict.fromkeys(w_tot, unit)
        for _ in range(iters):
            den = {}
            for m, o, n, _ in rows:
                if m in p and o in p:
                    den[m] = den.get(m, 0) + n * u2 // (p[m] + p[o])
            pn = {m: w_tot[m] * u2 // d for m, d in den.items()}
            s = sum(pn.values())
            p = {m: x * n_models * unit // s for m, x in pn.items()}
        return [(m, w_tot[m], x) for m, x in p.items()]

    return _solve_in_one_task(
        matrix.select("model", "opponent", "n_pair", "wins"),
        solve,
        "model",
        ["n_wins", "rating_micro"],
        unit,
    )


def rank_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 5,
    unit: int = UNIT,
) -> DataFrame:
    """(node, rank_micro, rank): rank centrality as a weighted PageRank
    in exact integer micro-units — rank flows along edges in proportion
    to their integer weights (on the defeat digraph: loser -> winner,
    weighted by win counts), and the walk's mass after ``iters`` rounds
    rates the nodes.  Per round, every division truncating:

        contrib_e = (rank_src * w_e) // W_src           (W = out-weight)
        rank_v'   = 15 * unit // 100 + (85 * sum contribs) // 100

    Edges with w <= 0 are dropped; dangling nodes (no out-edges) leak
    their mass, the standard simplified formulation.  All rounds run in
    one task (``_solve_in_one_task``).
    """
    base = 15 * unit // 100
    e = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    ).filter(F.col("w") > 0)

    def solve(rows):
        w_out = {}
        for s, d, w in rows:
            w_out[s] = w_out.get(s, 0) + w
            w_out.setdefault(d, 0)
        r = dict.fromkeys(w_out, unit)
        for _ in range(iters):
            in_sum = dict.fromkeys(r, 0)
            for s, d, w in rows:
                in_sum[d] += r[s] * w // w_out[s]
            r = {v: base + 85 * x // 100 for v, x in in_sum.items()}
        return list(r.items())

    return _solve_in_one_task(e, solve, "node", ["rank_micro"], unit)
