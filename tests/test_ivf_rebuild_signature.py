"""The IVF index cache must rebuild when the corpus changes.

``emb_ivf_topk`` / ``emb_ivfpq_topk`` probe a MATERIALIZED index keyed
on a signature over the embeddings source files' (path, mtime, size)
(``plans/queries.py:_corpus_statsig``). That declared design means the
bench line times probe latency, not build cost — which is only honest
if a CHANGED corpus can never be served by a stale index. The
torn-build gate (reuse requires BOTH the parquet ``_SUCCESS`` and the
codebook sidecar) is exercised implicitly by every fresh build; this
module pins the rebuild-on-change path:

- same corpus twice -> the SAME index dir is reused (no second build);
- touched corpus (mtime change only) -> a NEW index dir is built and
  both completion artifacts exist in it;
- the in-process memo keys on the signature too, so it cannot pin the
  stale index across the change.
"""

from __future__ import annotations

import os
import shutil

import pytest

from polygon_io_data_ingestion_pipeline_spark.plans.queries import (
    _corpus_statsig,
    _ivf_query_state,
)


@pytest.fixture()
def corpus_dir(tmp_path):
    src = "/root/testdata/sf0.001/embeddings.parquet"
    dst = str(tmp_path / "embeddings.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    return str(tmp_path)


def _touch(corpus_dir: str) -> None:
    """Bump mtime of the embeddings source (a content-preserving change
    is the subtlest cache-invalidation case: size identical)."""
    src = os.path.join(corpus_dir, "embeddings.parquet")
    paths = [src]
    if os.path.isdir(src):
        paths += [os.path.join(src, p) for p in os.listdir(src)]
    for p in paths:
        st = os.stat(p)
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_statsig_tracks_mtime(corpus_dir):
    before = _corpus_statsig(corpus_dir)
    assert _corpus_statsig(corpus_dir) == before  # stable when unchanged
    _touch(corpus_dir)
    assert _corpus_statsig(corpus_dir) != before


def test_changed_corpus_builds_new_index(spark, corpus_dir):
    # Run under a session-wide dynamic partition-overwrite, a committer
    # config any caller may set on a shared session: it omits the parquet
    # _SUCCESS marker, which the reuse gate therefore must not consult
    # (it keys on the LAST-written sidecar instead — gating on _SUCCESS
    # made every reuse probe in such sessions silently rebuild).
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        idx1, cents1, qvec1, _ = _ivf_query_state(spark, corpus_dir, query_id=0)
        assert os.path.exists(os.path.join(idx1, "_codebook.json"))

        # unchanged corpus: the same dir serves (reuse, no rebuild)
        idx1b, _, _, _ = _ivf_query_state(spark, corpus_dir, query_id=0)
        assert idx1b == idx1

        _touch(corpus_dir)
        idx2, cents2, qvec2, _ = _ivf_query_state(spark, corpus_dir, query_id=0)
        assert idx2 != idx1, "stale index served after the corpus changed"
        assert os.path.exists(os.path.join(idx2, "_codebook.json"))
        # same bytes -> same codebook/query vector, just a fresh dir
        assert cents2 == cents1
        assert qvec2 == qvec1
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
