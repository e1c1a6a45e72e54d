"""Commit semantics of ``workload_banded.drain_layout_cdc``, the one
micro-batch driver behind the banded and IVF CDC streams: empty deltas
carry the output schema, the result sink and the layout append are both
joined before a batch's failure surfaces, an unfitted layout (no
sidecar) defers fitting to the next batch, and a restart on the same
root resumes fitted. Driven with fake ``fit``/``step`` callables over a
tiny ``documents.parquet`` (batch k = doc_id % 3 == k)."""

from __future__ import annotations

import os
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from nbi_oedi_etl_spark import workload_banded as wb
from nbi_oedi_etl_spark.workload_banded import drain_layout_cdc
from tests.test_checkpoint_recovery import restart_drill

OUT_SCHEMA = "doc_id_new long, doc_id_corpus long"


@pytest.fixture
def corpus(tmp_path, monkeypatch):
    """(sf_dir, tempdir root, write(ids)): the harness's layout, result
    and checkpoint tempdirs land under the root so a test can inspect
    the result deltas."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    monkeypatch.setattr(wb, "_drain_parent", str(root))

    def write(ids):
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, type=pa.int64()),
                "text": pa.array([f"doc {i}" for i in ids]),
            }),
            str(tmp_path / "documents.parquet"),
        )
        return str(tmp_path)

    return root, write


def _deltas(root) -> dict[int, str]:
    (run_root,) = [p for p in os.listdir(root) if p.startswith("cdc_test_")]
    base = os.path.join(root, run_root, "out")
    return {
        int(d.split("=")[1]): os.path.join(base, d)
        for d in os.listdir(base)
        if d.startswith("batch=")
    }


def _ids(batch) -> list[int]:
    return sorted(r["doc_id"] for r in batch.select("doc_id").collect())


def _fit(bs, batch, layout) -> None:
    """A fake fit: writing a sidecar is what marks the layout fitted."""
    os.makedirs(layout, exist_ok=True)
    open(os.path.join(layout, "_test_meta.json"), "w").close()


def test_none_step_writes_one_schema_bearing_empty_delta(spark, corpus):
    root, write = corpus
    sf_dir = write(list(range(9)))
    df = drain_layout_cdc(
        spark, sf_dir, "documents", "doc_id", "cdc_test_", OUT_SCHEMA,
        _fit,
        lambda bs, batch, layout: None,
    )
    assert df.columns == ["doc_id_new", "doc_id_corpus"]
    assert df.count() == 0
    deltas = _deltas(root)
    assert sorted(deltas) == [0, 1, 2]
    for path in deltas.values():
        parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert len(parts) == 1, parts
        t = pq.read_table(os.path.join(path, parts[0]))
        assert t.num_rows == 0
        assert t.schema.names == ["doc_id_new", "doc_id_corpus"]


def test_failed_append_fails_drain_after_joining_sink(spark, corpus):
    root, write = corpus
    sf_dir = write(list(range(9)))

    @F.udf("long")
    def slow(x):
        time.sleep(1.0)
        return x

    def step(bs, batch, layout):
        result = bs.range(4).select(
            slow("id").alias("doc_id_new"), F.col("id").alias("doc_id_corpus")
        )

        def append():
            raise RuntimeError("append leg failed")

        return result, append

    with pytest.raises(Exception, match="append leg failed"):
        drain_layout_cdc(
            spark, sf_dir, "documents", "doc_id", "cdc_test_", OUT_SCHEMA,
            _fit, step,
        )
    # the sink leg of the failed batch finished before the failure
    # surfaced: its delta is committed, not half-written
    delta = _deltas(root)[1]
    assert os.path.exists(os.path.join(delta, "_SUCCESS"))
    assert spark.read.parquet(delta).count() == 4


def test_unfitted_empty_first_batch_defers_fit(spark, corpus):
    root, write = corpus
    sf_dir = write([i for i in range(12) if i % 3 != 0])  # batch 0 empty
    fits, steps = [], []

    def fit(bs, batch, layout):
        ids = _ids(batch)
        fits.append(ids)
        if ids:
            _fit(bs, batch, layout)

    def step(bs, batch, layout):
        ids = _ids(batch)
        steps.append(ids)
        result = bs.createDataFrame([(i, -1) for i in ids], OUT_SCHEMA)
        return result, lambda: None

    rows = drain_layout_cdc(
        spark, sf_dir, "documents", "doc_id", "cdc_test_", OUT_SCHEMA, fit, step
    ).collect()
    assert fits == [[], [1, 4, 7, 10]]
    assert steps == [[2, 5, 8, 11]]
    assert sorted(r["doc_id_new"] for r in rows) == [2, 5, 8, 11]
    assert sorted(_deltas(root)) == [0, 1, 2]


def test_restart_resumes_fitted_from_the_sidecar(spark, corpus, tmp_path):
    """Crash after batch 1 of 3, rebuild the step from nothing, resume on
    the same root: the sidecar (not a flag in memory) says the layout is
    fitted, so the replayed batch steps instead of fitting again."""
    _, write = corpus
    sf_dir = write(list(range(9)))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(wb._stage_mod3_split(sf_dir, "documents", "doc_id"))
    )

    def step(bs, batch, layout):
        return bs.createDataFrame([(i, -1) for i in _ids(batch)], OUT_SCHEMA), lambda: None

    rows = restart_drill(
        stream, tmp_path,
        lambda root: wb._layout_cdc_step(root, OUT_SCHEMA, _fit, step),
        lambda root: [tuple(r) for r in spark.read.parquet(f"{root}/out").collect()],
    )
    assert [r[0] for r in rows] == [1, 2, 4, 5, 7, 8]
