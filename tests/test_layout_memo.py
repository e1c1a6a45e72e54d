"""Layout sidecar memo (``banded_layout._LAYOUT_MEMO``): values are
shared across callers, so they must be read-only, and a sidecar rewrite
must never be served stale — even one the (mtime, size) status key
cannot see (ADVICE r15).
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from nbi_oedi_etl_spark.operators.banded_layout import _read_meta, write_banded_layout


def test_append_into_pre_r11_sidecar_leaves_shared_meta_intact(spark):
    """A pre-r11 sidecar has no ``family`` key; the append check used to
    ``setdefault`` it on the memoized dict, so every later reader saw a
    sidecar that is not the one on disk."""
    dest = os.path.join(tempfile.mkdtemp(), "layout")
    os.makedirs(dest)
    pre_r11 = {
        "external_banding": False,
        "num_hashes": 32,
        "bands": 8,
        "shingle_n": 3,
        "n_buckets": 8,
    }
    with open(os.path.join(dest, "_banded_meta.json"), "w") as f:
        json.dump(pre_r11, f)
    docs = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    with pytest.raises(ValueError, match="mismatched banding parameters"):
        write_banded_layout(docs, dest, n_buckets=16, mode="append")
    meta = _read_meta(spark, dest)
    assert dict(meta) == pre_r11
    with pytest.raises(TypeError):
        meta["family"] = None


def test_same_size_same_tick_overwrite_is_not_served_stale(spark):
    """An overwrite that keeps the sidecar's byte length and lands in the
    same mtime tick (S3 ``LastModified`` is one-second) keeps the status
    key; the writer must invalidate the layout's entries itself."""
    rows = spark.createDataFrame(
        [(1, 0, 11), (2, 1, 22)], "doc_id long, band_id int, band_hash long"
    )
    dest = os.path.join(tempfile.mkdtemp(), "layout")
    sidecar = os.path.join(dest, "_banded_meta.json")
    write_banded_layout(None, dest, n_buckets=16, banded_rows=rows)
    st = os.stat(sidecar)
    assert _read_meta(spark, dest)["n_buckets"] == 16
    write_banded_layout(None, dest, n_buckets=32, banded_rows=rows, mode="overwrite")
    assert os.stat(sidecar).st_size == st.st_size
    os.utime(sidecar, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert _read_meta(spark, dest)["n_buckets"] == 32
