"""Self-tests for the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, reference, stats  # noqa: E402
from perfbench.tracing import parse_metric  # noqa: E402

# ------------------------------------------------ status-store values


@pytest.mark.parametrize(
    "text, value",
    [
        ("10.7 MiB (1.0 MiB, 2.6 MiB, 3.5 MiB (stage 1.0: task 3))", 10.7 * 2**20),
        ("199,888", 199888.0),
        ("5.7 s (1.2 s, 1.4 s, 1.6 s (stage 4.0: task 17))", 5700.0),
        ("total (min, med, max (stageId: taskId))\n236.0 B (59.0 B, 59.0 B, 59.0 B (stage 0.0: task 1))", 236.0),
        ("8 ms", 8.0),
        ("1.5 m", 90000.0),
        ("0", 0.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_unit():
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")


# ------------------------------------------------------- tail rule


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None


def test_tail_keeps_ten_samples_beyond():
    values = [float(v) for v in range(40, 0, -1)]  # order must not matter
    value, pct = stats.tail(values)
    assert value == 30.0 and pct == 75.0
    assert sum(v > value for v in values) == 10


def test_tail_smallest_sample_set():
    value, pct = stats.tail([float(v) for v in range(11)])
    assert value == 0.0 and pct == pytest.approx(100.0 / 11)


def test_quartile_spread():
    assert stats.quartile_spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0 / 3.0)


# ------------------------------------------------- Spark's xxhash64


def test_xxhash64_matches_spark():
    # values from Spark 4.1: SELECT xxhash64(CAST(5 AS BIGINT), 'img0000000001')
    # and xxhash64(id, format_string('img%010d', id * 7 + 3)) for id in 0..2
    assert reference.xxhash64_long_str(np.asarray([5]), ["img0000000001"])[0] == -6687732156239121048
    got = reference.xxhash64_long_str(
        np.arange(3), [f"img{i * 7 + 3:010d}" for i in range(3)]
    )
    assert got.tolist() == [-3296407245504048098, -3309838878830655367, -6205957387253462115]


# ------------------------------------ reference checks catch one bad row


@pytest.fixture(scope="module")
def small_tiles():
    return gen.tiles(3, 5000), gen.aois(3, 12)


def test_assign_check_catches_one_bad_row(small_tiles):
    tiles, aois = small_tiles
    aoi_ids, idx = reference.pip_assign(tiles["lon"], tiles["lat"], aois)
    assert len(idx) > 100
    ids = tiles["image_id"].to_numpy()
    want = reference.assign_digest(aoi_ids, list(ids[idx]))
    assert reference.check_digest(want, want, "t") == []
    moved = aoi_ids.copy()
    moved[7] = (moved[7] + 1) % len(aois)
    assert reference.check_digest(reference.assign_digest(moved, list(ids[idx])), want, "t")
    dropped = reference.assign_digest(aoi_ids[1:], list(ids[idx][1:]))
    assert reference.check_digest(dropped, want, "t")


def test_ray_cast_square():
    ring = np.asarray([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]])
    px = np.asarray([1.0, 3.0, -1.0, 1.0])
    py = np.asarray([1.0, 1.0, 1.0, 2.5])
    assert reference.ray_cast(px, py, ring).tolist() == [True, False, False, False]


def test_cells_check_catches_one_bad_row(small_tiles):
    tiles, _ = small_tiles
    want = reference.morton_cell(tiles["lon"], tiles["lat"], 16)
    idx = np.arange(len(want))[::-1].copy()
    cells = want[::-1].copy()
    assert reference.check_cells(idx, cells, want) == []
    bad = cells.copy()
    bad[3] ^= 1
    assert reference.check_cells(idx, bad, want)
    assert reference.check_cells(idx[1:], cells[1:], want)


def test_morton_corners():
    assert reference.morton_cell(np.asarray([-180.0]), np.asarray([-90.0]), 4)[0] == 0
    # top-right cell at res 1: x = 1 (even bit), y = 1 (odd bit)
    assert reference.morton_cell(np.asarray([179.0]), np.asarray([89.0]), 1)[0] == 3
    # longitudes wrap: 190 is -170
    a = reference.morton_cell(np.asarray([190.0]), np.asarray([10.0]), 8)
    b = reference.morton_cell(np.asarray([-170.0]), np.asarray([10.0]), 8)
    assert a[0] == b[0]


def test_lineage_check_catches_one_bad_row():
    log = pd.DataFrame(
        {
            "run_id": ["r"] * 4,
            "stage": ["cells", "cells", "cells", "assign"],
            "status": ["file", "file", "done", "done"],
            "rows_out": [60, 40, 100, 0],
        }
    )
    assert reference.check_lineage(log, "r", {"cells": 100, "assign": 0}) == []
    bad = log.copy()
    bad.loc[1, "rows_out"] = 41
    assert reference.check_lineage(bad, "r", {"cells": 100, "assign": 0})
    assert reference.check_lineage(log, "r", {"cells": 101, "assign": 0})


def test_knn_check_catches_one_bad_row(small_tiles):
    tiles, _ = small_tiles
    lon, lat = tiles["lon"].to_numpy(), tiles["lat"].to_numpy()
    q = gen.queries(3, 0, tiles, 6, 5)
    want = reference.knn_topk(lon, lat, q)
    got = [(qid, r + 1, idx, d) for qid, rows in want.items() for r, (idx, d) in enumerate(rows)]
    assert reference.check_knn(got, want, lon, lat, q) == []
    # the at-tile queries find their own tile first, at distance 0
    assert want[0][0][1] == 0.0
    wrong_tile = list(got)
    qid, rank, idx, d = wrong_tile[2]
    wrong_tile[2] = (qid, rank, (idx + 1) % len(lon), d)
    assert reference.check_knn(wrong_tile, want, lon, lat, q)
    wrong_dist = list(got)
    wrong_dist[4] = wrong_dist[4][:3] + (wrong_dist[4][3] + 1e-3,)
    assert reference.check_knn(wrong_dist, want, lon, lat, q)
    assert reference.check_knn(got[1:], want, lon, lat, q)


def test_knn_check_accepts_a_tie_swap():
    lon = np.asarray([1.0, -1.0, 0.0, 5.0])
    lat = np.zeros(4)
    q = pd.DataFrame({"query_id": [0], "lon": [0.0], "lat": [0.0], "k": [3]})
    want = reference.knn_topk(lon, lat, q)
    assert [i for i, _ in want[0]] == [2, 0, 1]  # tie at 1 degree broken by index
    swapped = [(0, 1, 2, want[0][0][1]), (0, 2, 1, want[0][1][1]), (0, 3, 0, want[0][2][1])]
    assert reference.check_knn(swapped, want, lon, lat, q) == []


def test_dedup_checks_catch_one_bad_row():
    ids = [f"img{i:010d}" for i in range(6)]
    ph = np.asarray([0b0, 0b111, 0b1111111111, -1, -1 ^ 0b11, 1 << 40], dtype=np.int64)
    pairs = reference.hamming_pairs(ids, ph, 6)
    assert pairs == {(ids[0], ids[1]), (ids[3], ids[4]), (ids[0], ids[5]), (ids[1], ids[5])}
    kept = reference.canonical_survivors(ids, pairs)
    assert kept == [ids[0], ids[2], ids[3]]
    assert reference.check_set(pairs, pairs, "p") == []
    assert reference.check_set(pairs - {(ids[3], ids[4])}, pairs, "p")
    assert reference.check_set(kept[:-1] + [ids[4]], kept, "s")


# --------------------------------------------------- pinned inputs


def test_inputs_are_seeded():
    assert gen.digest(gen.tiles(5, 1000)) == gen.digest(gen.tiles(5, 1000))
    assert gen.digest(gen.tiles(5, 1000)) != gen.digest(gen.tiles(6, 1000))


def test_join_work_does_not_swing_with_the_seed():
    """Every on-cluster AOI covers its whole cluster and no other, so
    the assigned rows, and with them the join's work, match across seeds."""
    counts = []
    for seed in (1, 2, 3, 4):
        tiles, aois = gen.tiles(seed, 20_000), gen.aois(seed, 16)
        counts.append(len(reference.pip_assign(tiles["lon"], tiles["lat"], aois)[0]))
    assert max(counts) < 1.02 * min(counts)


def test_input_digests_are_pinned():
    """A change to the generators, NumPy's streams or the engine's
    codec changes what the workloads run; it must show here."""
    assert gen.digest(gen.tiles(1, 1000), gen.aois(1, 8)) == PINNED_TILES
    assert gen.digest(gen.images(1, 24, 32)) == PINNED_IMAGES


PINNED_TILES = "88cae674d36e5e43ccec7e35210355a5d51096df2e92595d83ecb8f5722750cd"
PINNED_IMAGES = "286be902660dc6faad26ff36e7b2266e8300b85bee1a00f693d5fc63aa8b7ef2"
