"""Preference aggregation (operators/preference.py): win rates,
Bradley-Terry MM ratings and rank centrality — hand-computed cases,
ordering, symmetry, mass conservation, exact Python replays, and
partitioning-independence (the integer-exact determinism claim)."""

from __future__ import annotations

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.operators.preference import (
    UNIT,
    btl_ratings,
    pairwise_win_matrix,
    rank_centrality,
    win_rates,
)


def _battles(spark, rows):
    return spark.createDataFrame(rows, "model_a string, model_b string, winner string")


def test_win_rates_hand_case(spark):
    b = _battles(
        spark,
        [("A", "B", "A"), ("A", "B", "A"), ("B", "A", "A"), ("B", "C", "C")],
    )
    got = {r["model"]: r for r in win_rates(b).collect()}
    assert got["A"]["n_battles"] == 3 and got["A"]["n_wins"] == 3
    assert got["B"]["n_battles"] == 4 and got["B"]["n_wins"] == 0
    assert got["C"]["n_battles"] == 1 and got["C"]["n_wins"] == 1
    assert got["A"]["win_rate"] == 1.0
    assert got["A"]["smoothed_rate"] == 4.0 / 5.0
    assert got["B"]["smoothed_rate"] == 1.0 / 6.0


def test_win_matrix_smoothing(spark):
    b = _battles(spark, [("A", "B", "A"), ("B", "A", "A"), ("A", "B", "B")])
    rows = {(r["model"], r["opponent"]): r for r in pairwise_win_matrix(b).collect()}
    # 3 battles on the {A,B} matchup, A won 2: smoothed n=5, A wins 3, B wins 2.
    assert rows[("A", "B")]["n_pair"] == 5 and rows[("A", "B")]["wins"] == 3
    assert rows[("B", "A")]["n_pair"] == 5 and rows[("B", "A")]["wins"] == 2


def test_btl_transitive_ordering(spark):
    rows = (
        [("A", "B", "A")] * 5
        + [("B", "C", "B")] * 5
        + [("A", "C", "A")] * 5
        + [("B", "A", "B")]  # one upset each way keeps it non-degenerate
        + [("C", "B", "C")]
    )
    got = {
        r["model"]: r["rating_micro"]
        for r in btl_ratings(pairwise_win_matrix(_battles(spark, rows))).collect()
    }
    assert got["A"] > got["B"] > got["C"]


def test_btl_symmetric_split_is_exactly_equal(spark):
    rows = [("A", "B", "A")] * 2 + [("A", "B", "B")] * 2
    got = [
        r["rating_micro"]
        for r in btl_ratings(pairwise_win_matrix(_battles(spark, rows))).collect()
    ]
    assert got[0] == got[1]


def test_btl_mass_conserved_within_truncation(spark):
    rows = [("A", "B", "A")] * 3 + [("B", "C", "C")] * 2 + [("C", "A", "A")]
    out = btl_ratings(pairwise_win_matrix(_battles(spark, rows))).collect()
    n = len(out)
    total = sum(r["rating_micro"] for r in out)
    # Each rating truncates at most 1 micro-unit in the final normalize.
    assert n * UNIT - n <= total <= n * UNIT


def test_btl_partitioning_independence(spark):
    rows = (
        [("A", "B", "A")] * 4
        + [("B", "C", "B")] * 3
        + [("C", "D", "D")] * 5
        + [("A", "D", "A")] * 2
        + [("B", "D", "B")]
    )
    b = _battles(spark, rows)
    one = {
        r["model"]: r["rating_micro"]
        for r in btl_ratings(pairwise_win_matrix(b.repartition(1))).collect()
    }
    many = {
        r["model"]: r["rating_micro"]
        for r in btl_ratings(pairwise_win_matrix(b.repartition(7))).collect()
    }
    assert one == many


def test_leaderboard_stream_equals_batch(spark, tmp_path):
    """Draining a 3-batch battle feed through the leaderboard sink
    yields counts cell-identical to the batch aggregate over the whole
    feed, and the derived rates are bit-identical to win_rates."""
    from fotmobdatapipeline_spark.streaming.preference import (
        leaderboard_maintenance_sink,
        read_leaderboard,
    )

    rows = (
        [("A", "B", "A")] * 4
        + [("B", "C", "B")] * 3
        + [("C", "A", "A")] * 2
        + [("B", "D", "D")] * 3
    )
    battles = _battles(spark, rows)
    src = tmp_path / "src"
    src.mkdir()
    n = len(rows)
    for i, (lo, hi) in enumerate(((0, 4), (4, 9), (9, n))):
        part = spark.createDataFrame(
            rows[lo:hi], "model_a string, model_b string, winner string"
        )
        part.coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema("model_a string, model_b string, winner string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = leaderboard_maintenance_sink(
        stream, str(tmp_path / "board"), str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    streamed = read_leaderboard(spark, str(tmp_path / "board"))
    got = sorted(
        (r["model"], r["n_battles"], r["n_wins"], r["win_rate"], r["smoothed_rate"])
        for r in streamed.collect()
    )
    want = sorted(
        (r["model"], r["n_battles"], r["n_wins"], r["win_rate"], r["smoothed_rate"])
        for r in win_rates(battles).collect()
    )
    assert got == want
    assert streamed.select(F.max("last_batch")).first()[0] == 2


def test_leaderboard_replay_is_noop(spark, tmp_path):
    """foreachBatch replays of an already-applied batch must not
    double-count: re-draining the same feed from a FRESH checkpoint
    (forcing batch ids to repeat) leaves the board unchanged."""
    from fotmobdatapipeline_spark.streaming.preference import (
        leaderboard_maintenance_sink,
        read_leaderboard,
    )

    src = tmp_path / "src"
    src.mkdir()
    part = spark.createDataFrame(
        [("A", "B", "A"), ("A", "B", "B")],
        "model_a string, model_b string, winner string",
    )
    part.coalesce(1).write.parquet(str(src / "b0"))

    def drain(ckpt):
        stream = (
            spark.readStream.schema(
                "model_a string, model_b string, winner string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        q = leaderboard_maintenance_sink(
            stream, str(tmp_path / "board"), str(tmp_path / ckpt)
        )
        q.processAllAvailable()
        q.stop()

    drain("ckpt1")
    first = sorted(map(tuple, read_leaderboard(spark, str(tmp_path / "board")).collect()))
    drain("ckpt2")  # same files, batch id 0 again -> replay guard
    second = sorted(map(tuple, read_leaderboard(spark, str(tmp_path / "board")).collect()))
    assert first == second


def test_win_matrix_excludes_ties(spark):
    """A battle whose winner matches neither side (tie / 'bothbad')
    must not be credited to anyone: only the smoothing remains."""
    b = _battles(spark, [("A", "B", "tie"), ("A", "B", "A")])
    rows = {(r["model"], r["opponent"]): r for r in pairwise_win_matrix(b).collect()}
    assert rows[("A", "B")]["wins"] == 2  # 1 real + 1 smoothing
    assert rows[("B", "A")]["wins"] == 1  # smoothing only
    assert rows[("A", "B")]["n_pair"] == 3  # decisive battle + 2 smoothing


def _btl_python_replay(mat_rows, n_models, iters=6, unit=UNIT):
    """Pure-Python exact-integer replay of the MM rounds (arbitrary
    precision — the ground truth the Spark decimal path must match)."""
    models = sorted({m for m, *_ in mat_rows})
    w_tot = {m: 0 for m in models}
    for m, _, _, w in mat_rows:
        w_tot[m] += w
    p = {m: unit for m in models}
    for _ in range(iters):
        den = {m: 0 for m in models}
        for m, o, n_pair, _ in mat_rows:
            den[m] += (n_pair * unit * unit) // (p[m] + p[o])
        pn = {m: (w_tot[m] * unit * unit) // den[m] for m in models}
        s = sum(pn.values())
        p = {m: (pn[m] * n_models * unit) // s for m in models}
    return p


def test_btl_hot_matchup_no_long_wrap(spark):
    """The overflow regression: one matchup with 30M battles used to
    wrap Spark's LONG-returning `div` to a negative intermediate while
    the HUGEINT oracle stayed exact.  The decimal floor-division path
    must match an arbitrary-precision Python replay exactly."""
    mat_rows = [
        ("A", "B", 30_000_002, 20_000_001),
        ("B", "A", 30_000_002, 10_000_001),
        ("B", "C", 12, 9),
        ("C", "B", 12, 3),
    ]
    mat = spark.createDataFrame(
        mat_rows, "model string, opponent string, n_pair long, wins long"
    )
    got = {
        r["model"]: r["rating_micro"] for r in btl_ratings(mat, iters=6).collect()
    }
    want = _btl_python_replay(mat_rows, n_models=3)
    assert got == want
    assert all(v > 0 for v in got.values())
    assert got["A"] > got["B"] > got["C"]


def _rank_centrality_python_replay(edges, iters=5, unit=UNIT):
    """Pure-Python exact-integer replay of the weighted walk, spelled
    like the oracle's CTEs: positive-weight edges, out-weight per src,
    and per round a sum of truncated contributions per dst."""
    e = [(s, d, w) for s, d, w in edges if w > 0]
    nodes = sorted({s for s, _, _ in e} | {d for _, d, _ in e})
    w_out = {v: sum(w for s, _, w in e if s == v) for v in nodes}
    r = {v: unit for v in nodes}
    for _ in range(iters):
        in_sum = {
            v: sum((r[s] * w) // w_out[s] for s, d, w in e if d == v)
            for v in nodes
        }
        r = {v: 15 * unit // 100 + (85 * in_sum[v]) // 100 for v in nodes}
    return r


def test_rank_centrality_matches_python_replay(spark):
    """Duplicate edges add up, non-positive weights drop out (and take
    their endpoints with them when nothing else names them), dangling
    nodes leak mass — all bit-identical to the replay."""
    edges = [
        ("a", "b", 3),
        ("a", "b", 2),  # duplicate (src, dst): both rows count
        ("b", "c", 2),
        ("c", "a", 5),
        ("a", "c", 1),
        ("d", "a", 4),
        ("c", "e", 1),  # e is dangling
        ("b", "d", 0),  # dropped; d stays a node through d -> a
        ("f", "a", 0),  # dropped; f names no other edge
    ]
    e = spark.createDataFrame(edges, "src string, dst string, w long")
    for iters in (0, 1, 5):
        out = rank_centrality(e, iters=iters).collect()
        got = {r["node"]: r["rank_micro"] for r in out}
        assert got == _rank_centrality_python_replay(edges, iters=iters)
        assert all(r["rank"] == r["rank_micro"] / UNIT for r in out)


def test_rank_centrality_weights_matter(spark):
    """Two sources each point at one sink; the sink fed by the heavier
    edge from the shared voter must rank higher, and the walk is
    deterministic across partitionings (exact integer arithmetic)."""
    edges = [
        ("v", "hi", 9),
        ("v", "lo", 1),
        ("hi", "v", 1),
        ("lo", "v", 1),
    ]
    e = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {r["node"]: r["rank_micro"] for r in rank_centrality(e, iters=6).collect()}
    assert got["hi"] > got["lo"]
    many = {
        r["node"]: r["rank_micro"]
        for r in rank_centrality(e.repartition(5), iters=6).collect()
    }
    assert got == many


def test_rank_centrality_out_of_bigint_range_raises(spark):
    """Python ints never wrap, so a rating past BIGINT must fail with a
    clear error (as Spark's ANSI cast did) rather than wrap or reach
    Arrow: 12 unit-rank voters push the hub to 10.35 units of 1e18."""
    edges = [(f"s{i}", "hub", 1) for i in range(12)]
    e = spark.createDataFrame(edges, "src string, dst string, w long")
    with pytest.raises(PythonException, match="rank_micro = .* leaves BIGINT range"):
        rank_centrality(e, iters=1, unit=10**18).collect()


def test_win_matrix_sink_btl_equals_batch(spark, tmp_path):
    """The streamed matchup matrix, after the feed drains, must be
    cell-identical to the batch raw pair counts, and BTL ratings solved
    from it bit-identical to the batch solve — the 'stream maintains
    counts, batch re-solves ratings' deployment end to end."""
    from fotmobdatapipeline_spark.operators.preference import raw_pair_counts
    from fotmobdatapipeline_spark.streaming.preference import (
        read_win_matrix,
        win_matrix_maintenance_sink,
    )

    rows = (
        [("A", "B", "A")] * 4
        + [("B", "C", "B")] * 3
        + [("C", "A", "A")] * 2
        + [("B", "D", "D")] * 3
        + [("A", "B", "tie")]  # non-decisive: must not count anywhere
    )
    battles = _battles(spark, rows)
    src = tmp_path / "src"
    src.mkdir()
    for i, (lo, hi) in enumerate(((0, 5), (5, 9), (9, len(rows)))):
        spark.createDataFrame(
            rows[lo:hi], "model_a string, model_b string, winner string"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema("model_a string, model_b string, winner string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = win_matrix_maintenance_sink(
        stream, str(tmp_path / "matrix"), str(tmp_path / "mckpt")
    )
    q.processAllAvailable()
    q.stop()

    streamed = read_win_matrix(spark, str(tmp_path / "matrix"))
    got_cells = sorted(map(tuple, streamed.collect()))
    want_cells = sorted(map(tuple, pairwise_win_matrix(battles).collect()))
    assert got_cells == want_cells

    got = sorted(map(tuple, btl_ratings(streamed, iters=4).collect()))
    want = sorted(
        map(tuple, btl_ratings(pairwise_win_matrix(battles), iters=4).collect())
    )
    assert got == want
    # raw counts cell-identical too
    raw_got = sorted(
        map(
            tuple,
            read_win_matrix(spark, str(tmp_path / "matrix"), smooth=0).collect(),
        )
    )
    from fotmobdatapipeline_spark.operators.preference import (
        smoothed_matrix_from_pairs,
    )

    raw_want = sorted(
        map(
            tuple,
            smoothed_matrix_from_pairs(raw_pair_counts(battles), smooth=0).collect(),
        )
    )
    assert raw_got == raw_want
