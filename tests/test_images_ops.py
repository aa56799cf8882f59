"""Image payload operators: decode stats, PSNR round-trip invariant,
seeded band perturbation (SURVEY.md §2 S2/A5/F6)."""

from __future__ import annotations

import numpy as np

from gelos_spark.functions import codec
from gelos_spark.operators import images as imops
from gelos_spark.sources import synth


def _images(spark, n=24):
    return synth.images_df(spark, n, w=32, seed=42, parts=4)


def test_decode_stats_phash_matches(spark):
    out = imops.decode_stats(_images(spark)).collect()
    assert len(out) == 24
    assert all(r.phash_ok for r in out)
    assert all(0.0 <= r.mean_lum <= 255.0 for r in out)


def test_psnr_roundtrip_lossy_passes_40db(spark):
    out = imops.psnr_roundtrip(_images(spark), fmt="qdct").collect()
    assert len(out) == 24
    assert all(r.pass_40db for r in out), [r.psnr for r in out if not r.pass_40db]


def test_psnr_roundtrip_lossless_is_exact(spark):
    out = imops.psnr_roundtrip(_images(spark), fmt="png").collect()
    assert all(r.psnr == 999.0 for r in out)


def test_perturb_changes_only_target_band_and_is_layout_invariant(spark):
    src = _images(spark, 12)
    p1 = {r.image_id: r for r in imops.perturb_bands(src, bands=(1,), seed=7).collect()}
    # different partition layout -> identical bytes (seeded per image_id)
    p2 = {
        r.image_id: r
        for r in imops.perturb_bands(src.repartition(7), bands=(1,), seed=7).collect()
    }
    orig = {r.image_id: r for r in src.collect()}
    assert set(p1) == set(orig)
    changed = 0
    for iid, r in p1.items():
        assert bytes(r.bytes) == bytes(p2[iid].bytes), "not layout-invariant"
        o = orig[iid]
        po = codec.decode(bytes(o.bytes), o.fmt, o.w, o.h)
        pp = codec.decode(bytes(r.bytes), r.fmt, r.w, r.h)
        # untouched bands bit-identical
        assert (po[:, :, 0] == pp[:, :, 0]).all()
        assert (po[:, :, 2] == pp[:, :, 2]).all()
        if not (po[:, :, 1] == pp[:, :, 1]).all():
            changed += 1
    assert changed >= 10  # perturbation actually does something


# (id, seed) -> lulc, as every stored images table has it: the hash
# goes through float64 before ``% 5`` (id 123, seed 42 is "trees" in
# exact uint64 arithmetic)
_PINNED_LULC = {(0, 42): "trees", (1, 42): "built", (123, 42): "water", (7, 11): "built", (999, 3): "trees"}


def test_lulc_pinned_for_row_and_batch_paths(spark):
    for (i, seed), lulc in _PINNED_LULC.items():
        assert synth.image_row(i, 8, 8, seed)["caption"].split()[0] == lulc
    for seed in {seed for _, seed in _PINNED_LULC}:
        ids = [i for i, s in _PINNED_LULC if s == seed]
        rows = synth.images_df(spark, max(ids) + 1, w=8, seed=seed, parts=2).collect()
        got = {int(r.image_id[3:]): r.caption.split()[0] for r in rows}
        assert {i: got[i] for i in ids} == {i: _PINNED_LULC[i, seed] for i in ids}
