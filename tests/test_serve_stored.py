"""Every stored-index serving site goes through queries_dedup.serve_stored:
with a healthy scratch it serves (and records) the stored path; with the
index cache refused it serves the computed path with identical rows.
The index prebuild degrades the same way, and only that way."""

from __future__ import annotations

import os
import shutil

import pytest

from tigerbeetle_cdc_nats_spark import queries_dedup as qd
from tigerbeetle_cdc_nats_spark.registry import all_queries
from tigerbeetle_cdc_nats_spark.sources import prebuild

SF_DIR = "/root/testdata/sf0.001"
KINDS = ("minhash", "winnow", "annlsh", "ivfcell")


def _refuse(kind, sf_dir, table="documents"):
    # the production ownership-check refusal of stored_index_dir
    raise RuntimeError("index cache is owned by uid 0, not 1; "
                       "refusing to trust or write it")


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("query,key", [
    ("ann_lsh_indexed", "ann_lsh_indexed"),
    ("ann_multiprobe_indexed", "ann_multiprobe_indexed"),
    ("ivf_ann_indexed", "ivf_ann_indexed"),
    ("winnow_candidates_indexed", "winnow_candidates_indexed"),
    ("winnow_probe_indexed", "winnow_probe_indexed"),
    ("minhash_dedup_indexed", "corpus_minhash_pairs"),
    ("minhash_probe_indexed", "corpus_minhash_probe"),
    ("minhash_band_stats", "corpus_banded"),
    ("text_dedup_verdict", "text_dedup_verdict"),
    ("embedding_near_dup_indexed", "embedding_near_dup_indexed"),
    ("embedding_dedup_verdict", "embedding_dedup_verdict"),
    ("embedding_delta_verdict", "embedding_delta_verdict"),
    ("corpus_verdict_indexed", "corpus_verdict_indexed"),
])
def test_fallback_serves_identical_rows(spark, monkeypatch, query, key):
    fn = all_queries()[query].fn
    qd.SERVED.pop(key, None)
    stored = _rows(fn(spark, SF_DIR))
    assert qd.SERVED[key] == "stored"

    monkeypatch.setattr(qd, "stored_index_dir", _refuse)
    computed = _rows(fn(spark, SF_DIR))
    assert qd.SERVED[key] == "computed"
    assert computed == stored and stored


def _copy_sf(dst) -> str:
    os.makedirs(dst)
    for t in ("documents", "embeddings"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), dst)
    return str(dst)


def test_ensure_indexes_degrades_only_on_env_errors(spark, tmp_path,
                                                    monkeypatch):
    from tigerbeetle_cdc_nats_spark.sources import dedup_index as di

    sf = _copy_sf(tmp_path / "a")
    cold = prebuild.ensure_indexes(spark, sf)
    assert all(cold[k] > 0 for k in KINDS), cold
    warm = prebuild.ensure_indexes(spark, sf)
    assert all(warm[k] == 0.0 for k in KINDS), warm
    assert all(v >= 0 for v in warm["list_warm"].values()), warm

    with monkeypatch.context() as m:
        m.setattr(qd, "stored_index_dir", _refuse)
        refused = prebuild.ensure_indexes(spark, sf)
    assert all(refused[k] == -1.0 for k in KINDS), refused
    assert all(v == -1.0 for v in refused["list_warm"].values()), refused

    def boom(*a, **k):
        raise RuntimeError("boom")

    # a build bug is not an environment error: it must propagate
    monkeypatch.setattr(di, "write_winnow_index", boom)
    with pytest.raises(RuntimeError, match="boom"):
        prebuild.ensure_indexes(spark, _copy_sf(tmp_path / "b"))
