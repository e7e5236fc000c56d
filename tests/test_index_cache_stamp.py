"""The session ANN index caches key on the embeddings source stamp.

A stage rebuild deletes the generation it supersedes
(``staging.build_stage``), so a cache entry built from a re-shipped
corpus must never be served again: the next resolve has to rebuild
from the new source instead of returning the old index."""

from __future__ import annotations

import os
import shutil

import pytest

import db_loader_spark.queries.similarity as qs
from db_loader_spark.staging import source_stamp, stage_path
from db_loader_spark.tables import load_table


@pytest.fixture
def sf_copy(tmp_path, sf_dir):
    """An sf dir holding a copy of the test corpus's embeddings; its
    stages and cache entries are removed at teardown."""
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, "embeddings.parquet"), d / "embeddings.parquet")
    yield str(d)
    for cache in (qs._PQ_INDEX, qs._IVFPQ_INDEX):
        for key in [k for k in cache if k[1] == str(d)]:
            qs._evict_pq_entry(cache.pop(key))
    for key in [k for k in qs._IVF_INDEX if k[1] == str(d)]:
        qs._IVF_INDEX.pop(key)[1].unpersist()
    for kind in ("ivf_index", "pq_index", "ivfpq_index"):
        shutil.rmtree(stage_path(str(d), kind), ignore_errors=True)


def _reship(sf_dir: str) -> None:
    """Bump the source's mtime, as an in-place re-ship would."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_pq_index_resolves_again_after_reship(spark, sf_copy, monkeypatch):
    calls = []
    real = qs._pq_disk_artifact

    def counted(spark, sf_dir):
        calls.append(sf_dir)
        return real(spark, sf_dir)

    monkeypatch.setattr(qs, "_pq_disk_artifact", counted)
    emb = load_table(spark, sf_copy, "embeddings")
    _, codes = qs._pq_index(spark, sf_copy, emb)
    assert qs._pq_index(spark, sf_copy, emb)[1] is codes  # warm: cached
    assert len(calls) == 1
    _reship(sf_copy)
    _, codes2 = qs._pq_index(spark, sf_copy, emb)
    assert len(calls) == 2  # the artifact was resolved again
    assert codes2 is not codes
    assert codes2.count() == codes.count()
    stamp_file = os.path.join(stage_path(sf_copy, "pq_index"), "_SOURCE_STAMP")
    with open(stamp_file) as fh:
        new_src = source_stamp(os.path.join(sf_copy, "embeddings.parquet"))
        assert fh.read().startswith(new_src + ":")  # the new generation


def test_ivf_index_resolves_again_after_reship(spark, sf_copy, monkeypatch):
    calls = []
    real = qs.S.kmeans_centroids

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(qs.S, "kmeans_centroids", counted)
    emb = load_table(spark, sf_copy, "embeddings")
    _, lists = qs._ivf_index(spark, sf_copy, emb, n_bits=4, iters=0)
    assert qs._ivf_index(spark, sf_copy, emb, n_bits=4, iters=0)[1] is lists
    assert len(calls) == 1
    _reship(sf_copy)
    _, lists2 = qs._ivf_index(spark, sf_copy, emb, n_bits=4, iters=0)
    assert len(calls) == 2  # retrained from the re-shipped source
    assert lists2 is not lists
