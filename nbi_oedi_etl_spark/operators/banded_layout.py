"""At-rest LSH banding layout: the corpus's MinHash band rows written
hive-partitioned by a bucketed band key, so an incremental-dedup probe
reads only the buckets its new documents hash into — a partition-pruned
scan instead of re-banding / re-scanning the whole corpus per batch
(VERDICT r9 optional task 8; the same materialize-once trick as
``operators/ivf_layout`` applied to the MinHash-LSH family).

``operators/dedup.py::minhash_lsh_candidates`` is the in-memory form:
shingle → minhash → band hash → self-join, one full corpus pass per
call. At 100 TB the corpus cannot be re-banded per CDC batch
(``incremental_dedup_new_docs``'s shape); this module materializes the
banding ONCE (`write_banded_layout`) and every later probe
(`probe_banded_layout`) carries a static ``pcell IN (...)`` predicate —
Catalyst prunes the file listing to the buckets the batch's band hashes
actually fall in. Both forms call the SAME ``dedup.band_rows`` helper,
so band-hash equivalence is structural, not a copy-that-must-not-drift.

Layout key: one partition column ``pcell = band_id * n_buckets +
pmod(band_hash, n_buckets)`` — a single IN-list prunes EXACTLY the
probed (band, bucket) combinations (two separate partition columns would
prune their cross product, over-reading). Candidate pairs still join on
the full (band_id, band_hash), so bucketing only affects which files are
listed, never which pairs match.

The banding parameters (num_hashes, bands, shingle_n, n_buckets) are
written to ``dest/_banded_meta.json`` (underscore-prefixed: invisible to
the main parquet read) and re-read by the probe — a probe with mismatched
parameters would silently find nothing, so the layout is
self-describing.

Reference parity: the reference has no near-dup machinery; this is part
of the §2.12 training-data-pipeline extension (SURVEY.md), scale path.
"""

from __future__ import annotations

import json
from collections.abc import Mapping
from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nbi_oedi_etl_spark.memo import Memo, session_key, sidecar_status
from nbi_oedi_etl_spark.operators.dedup import band_rows

#: Underscore-prefixed: Spark's recursive listing skips it, so the main
#: ``read.parquet(dest)`` never sees it. Written/read through the Hadoop
#: FS API (works on any warehouse filesystem), not a Spark job — it is
#: four integers.
_META_FILE = "_banded_meta.json"


def _write_meta(
    spark: SparkSession, dest: str, meta: dict, fname: str = _META_FILE
) -> None:
    """Write a layout sidecar — the only sidecar writer for the banded and
    IVF layouts — and drop the layout's ``_LAYOUT_MEMO`` entries: an
    overwrite landing in the same mtime tick with the same size (S3
    ``LastModified`` has one-second resolution) keeps the status key, so
    the key alone cannot see it. An overwrite by ANOTHER process within
    one tick is still unseen."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{dest}/{fname}")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()
    _LAYOUT_MEMO.drop(lambda key: key[-1][0] == dest)


#: Values derived from a layout's sidecars — the sidecar dicts, the IVF
#: layout's scan schema and the IVF-PQ expression trees — keyed (tag,
#: sidecar status), with the applicationId prepended for Column trees.
#: A sidecar is written once at build time (appends never touch it) and
#: an overwrite rotates its status; ``_write_meta`` also drops the
#: layout's entries. CDC streams read 2-3 sidecars per micro-batch
#: (~0.05 s each through the py4j FS bridge, r15 phase timers) and
#: re-built the ADC/encode Column trees (~0.3-0.4 s per batch); the
#: status probe that keys them is ~1 ms.
_LAYOUT_MEMO = Memo(128)


def _layout_key(
    spark: SparkSession, path: str, fname: str, tag: str, per_session: bool = False
):
    """``_LAYOUT_MEMO`` key — None when the sidecar is unreadable."""
    st = sidecar_status(spark, path, fname)
    if st is None:
        return None
    return session_key(spark, tag, st) if per_session else (tag, st)


def _read_meta(
    spark: SparkSession, path: str, fname: str = _META_FILE
) -> Mapping:
    """A layout sidecar, memoized and read-only (it is shared across
    callers). A missing sidecar raises the Hadoop FileNotFoundException
    the callers expect."""

    def read() -> Mapping:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{fname}")
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        stream = fs.open(hpath)
        try:
            # py4j COPIES byte[] across the bridge, so a Java-side
            # readFully into a Python bytearray never propagates back —
            # read through commons-io (on Spark's classpath) which
            # returns the String
            text = jvm.org.apache.commons.io.IOUtils.toString(
                stream, jvm.java.nio.charset.StandardCharsets.UTF_8
            )
        finally:
            stream.close()
        return MappingProxyType(json.loads(text))

    return _LAYOUT_MEMO.get(_layout_key(spark, path, fname, "meta"), read)


def _pcell(n_buckets: int):
    return (
        F.col("band_id").cast("long") * n_buckets
        + F.pmod(F.col("band_hash"), F.lit(n_buckets))
    ).cast("int")


def write_banded_layout(
    df: DataFrame | None,
    dest: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    n_buckets: int = 64,
    mode: str = "error",
    banded_rows: DataFrame | None = None,
    family: str | None = None,
) -> None:
    """Materialize the corpus's band rows hive-partitioned by ``pcell``
    plus a self-describing parameter sidecar. One full banding pass ever;
    every later probe is partition-pruned. bands × n_buckets partitions
    total — size n_buckets so partitions stay file-sized at the corpus's
    scale (64 here suits the test corpora; thousands at 100 TB).

    Pass ``banded_rows`` — a pre-computed (doc_id, band_id, band_hash)
    frame — to lay out an EXTERNAL banding family instead of the default
    xxhash64 ``band_rows`` pipeline (e.g. the md5-portable family the
    DuckDB-oracled twin uses); the sidecar then records
    ``external_banding`` and probes must supply matching ``banded_rows``
    too."""
    external = banded_rows is not None
    meta = {
        "external_banding": external,
        "num_hashes": None if external else num_hashes,
        "bands": None if external else bands,
        "shingle_n": None if external else shingle_n,
        "n_buckets": n_buckets,
        # For EXTERNAL bandings the four parameters above are all null,
        # so two different external families would otherwise compare
        # equal (r11 self-review): ``family`` is the caller's label for
        # the banding family, recorded so appends can be verified.
        "family": family,
    }
    if mode == "append":
        # An append into an existing layout MUST be the same banding
        # family: the old behavior rewrote the sidecar with the new
        # call's parameters, silently mixing two incompatible bandings
        # under one sidecar describing only the newer (ADVICE r10).
        # ``append_to_banded_layout`` embodies the safe contract (it
        # reads the sidecar and bands with ITS parameters); here we
        # fail loudly on mismatch instead of guessing.
        try:
            existing = _read_meta(df.sparkSession if df is not None
                                  else banded_rows.sparkSession, dest)
        except Exception as e:
            # only a MISSING sidecar means "fresh dest"; any other read
            # failure (transient FS error, permissions) must propagate —
            # swallowing it would silently re-enable the pre-r11 mixing
            # hazard (r11 self-review)
            if "FileNotFoundException" not in str(e):
                raise
            existing = None  # fresh dest: append behaves like a first write
        if existing is not None:
            existing = {"family": None, **existing}  # pre-r11 sidecars
            if existing != meta:
                raise ValueError(
                    f"append into {dest!r} with mismatched banding parameters: "
                    f"layout sidecar {existing} != requested {meta}; use "
                    f"append_to_banded_layout to band with the layout's own "
                    f"parameters, or write to a new dest"
                )
            if external and existing["family"] is None and family is None:
                raise ValueError(
                    f"append into {dest!r}: both the layout and this call "
                    f"use EXTERNAL banded_rows with no family label — the "
                    f"sidecar cannot verify they are the same banding "
                    f"family. Pass family=... on both writes (or use "
                    f"append_to_banded_layout, whose contract documents "
                    f"that the caller guarantees the family)."
                )
    banded = (
        banded_rows
        if external
        else band_rows(df, text_col, id_col, num_hashes, bands, shingle_n)
    )
    # repartition by the layout key before the write: WITHOUT it every
    # shuffle task writes a part file into every pcell it touches
    # (measured: 3-28 files per partition at 1x-10x, tools/
    # banded_layout_probe.py), a small-files explosion at scale; WITH it
    # each populated pcell is exactly one file. Band hashes are
    # hash-uniform across buckets, so the repartition is skew-safe.
    banded.withColumn("pcell", _pcell(n_buckets)).repartition("pcell").write.mode(
        mode
    ).partitionBy("pcell").parquet(dest)
    _write_meta(banded.sparkSession, dest, meta)


def banded_rows_for_layout(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Band ``docs`` with the layout's OWN sidecar parameters — the
    (doc_id, band_id, band_hash) frame ``probe_banded_layout`` /
    ``append_to_banded_layout`` would derive internally. A CDC loop that
    probes a batch and then appends it bands the SAME batch twice (the
    banding pipeline — shingle explode + k min-aggregates — is the
    expensive half of each leg); banding once through this helper,
    ``localCheckpoint``-ing, and passing the result to both legs via
    ``banded_rows`` halves the per-batch signature work (guide §2.4:
    remove redundant passes). Only meaningful for INTERNAL-family
    layouts (external ones already require caller-supplied rows)."""
    m = _read_meta(spark, path)
    if m["external_banding"]:
        raise ValueError(
            "layout was written from external banded_rows; band with the "
            "external family directly instead of this helper"
        )
    return band_rows(
        docs, text_col, id_col, m["num_hashes"], m["bands"], m["shingle_n"]
    )


def append_to_banded_layout(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    banded_rows: DataFrame | None = None,
) -> None:
    """Incremental maintenance: band ``new_docs`` with the layout's own
    sidecar parameters and APPEND their band rows into the partitioned
    layout — the other half of the CDC loop (probe the batch against the
    corpus, then fold the batch in so the next batch sees it). Appends
    add one file per touched pcell per batch; run
    ``compact_banded_layout`` on a cadence if batch cadence is high
    (file-count trajectory measured over a 20-batch drill in
    ``tools/banded_cdc_drill.py``). The sidecar is already correct
    (same parameters), so only data files are written.

    ``banded_rows`` on an INTERNAL layout (r14): pre-banded rows for the
    batch, trusted to come from ``banded_rows_for_layout`` (i.e. banded
    with the layout's own sidecar parameters) — the probe+append CDC
    loop bands each batch ONCE and shares the checkpointed rows between
    both legs instead of running the banding pipeline twice. Before r14
    a caller-supplied ``banded_rows`` was silently IGNORED here unless
    the layout was external — strictly more dangerous than honoring it."""
    m = _read_meta(spark, path)
    if m["external_banding"] and banded_rows is None:
        raise ValueError(
            "layout was written from external banded_rows; appends "
            "must supply banded_rows from the same banding family"
        )
    if banded_rows is not None:
        banded = banded_rows
    else:
        banded = band_rows(
            new_docs, text_col, id_col, m["num_hashes"], m["bands"], m["shingle_n"]
        )
    banded.withColumn("pcell", _pcell(m["n_buckets"])).repartition(
        "pcell"
    ).write.mode("append").partitionBy("pcell").parquet(path)


def probe_banded_layout(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    banded_rows: DataFrame | None = None,
    rows_materialized: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs between ``new_docs`` and the
    at-rest corpus: band the batch with the layout's own parameters (read
    from the sidecar), collect its distinct ``pcell`` values (bounded by
    bands × n_buckets — metadata-scale), scan ONLY those partitions, and
    join on the full (band_id, band_hash).

    Output: (doc_id_new, doc_id_corpus) distinct, corpus-side self-pairs
    excluded by id inequality — so re-probing docs already in the layout
    does not report them as their own duplicates. Pairs WITHIN the new
    batch are the in-memory form's job (``minhash_lsh_candidates`` on the
    batch); compose both for full incremental dedup, as
    ``incremental_dedup_new_docs`` does against a hot corpus.

    An ``external_banding`` layout (see ``write_banded_layout``) carries
    no banding parameters, so the probe must be given the batch's
    ``banded_rows`` under the SAME external family — mixing families
    would silently find nothing, hence the hard error. On an INTERNAL
    layout, ``banded_rows`` (r14) is the pre-banded batch from
    ``banded_rows_for_layout`` — see ``append_to_banded_layout`` for the
    shared-banding CDC contract.
    """
    m = _read_meta(spark, path)
    if m["external_banding"] and banded_rows is None:
        raise ValueError(
            "layout was written from external banded_rows; the probe "
            "must supply banded_rows from the same banding family"
        )
    if banded_rows is not None:
        q = banded_rows.withColumn("pcell", _pcell(m["n_buckets"]))
    else:
        q = band_rows(
            new_docs, text_col, id_col, m["num_hashes"], m["bands"], m["shingle_n"]
        ).withColumn("pcell", _pcell(m["n_buckets"]))
    # The batch's band rows drive BOTH the pruning list and the join side:
    # localCheckpoint materializes them once (CDC batches are small by
    # contract; bands rows per doc), so the banding pipeline doesn't run
    # twice and the collected pcell list is consistent with the join input.
    # ``rows_materialized=True`` (r14): the shared-banding CDC callers
    # already localCheckpoint the banded_rows they pass in, and ``_pcell``
    # is a pure deterministic projection over (band_id, band_hash) — so
    # re-materializing here would only copy the same rows again. Pass
    # True ONLY for banded_rows that are already materialized.
    if not (banded_rows is not None and rows_materialized):
        q = q.localCheckpoint(eager=True)
    probed = sorted(r["pcell"] for r in q.select("pcell").distinct().collect())
    # Explicit schema — the batch's own band-row schema IS the layout's
    # (same pipeline): an EMPTY corpus layout (only _SUCCESS, no
    # partition dirs) is then readable as an empty frame instead of
    # failing schema inference, and the doc_id type is pinned to the
    # batch's native type. pcell stays a partition column (present in
    # the schema, valued from directory names).
    corpus = (
        spark.read.schema(q.schema).parquet(path).where(F.col("pcell").isin(probed))
    )
    pairs = (
        corpus.alias("c")
        .join(
            F.broadcast(q.alias("q")),
            (F.col("c.band_id") == F.col("q.band_id"))
            & (F.col("c.band_hash") == F.col("q.band_hash"))
            & (F.col("c.doc_id") != F.col("q.doc_id")),
        )
        .select(
            F.col("q.doc_id").alias("doc_id_new"),
            F.col("c.doc_id").alias("doc_id_corpus"),
        )
        .distinct()
    )
    return pairs


def compact_banded_layout(
    spark: SparkSession,
    path: str,
    max_files_per_pcell: int = 4,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Maintenance half of the CDC loop (VERDICT r10 task 6): each
    ``append_to_banded_layout`` writes one file per touched pcell, so a
    long-running CDC stream fragments the layout linearly in batch
    count. This rewrites every pcell partition directory holding more
    than ``max_files_per_pcell`` data files through
    ``sources.sinks.compact_parquet`` (size-targeted round-robin
    rewrite) and swaps it in place via the Hadoop FS API — works on any
    warehouse filesystem, same mechanism as the sidecar helpers.

    Run it BETWEEN batches (e.g. every N appends, as
    ``tools/banded_cdc_drill.py`` measures): the per-pcell swap is not
    atomic against a concurrent probe of the same pcell. Probe results
    are identical before/after (pinned in tests/test_plans.py) — the
    band rows are unchanged, only their file packing.

    Returns ``{pcell_dirname: (files_before, files_after)}`` for the
    compacted directories only.
    """
    return _compact_partition_dirs(
        spark, path, "pcell=", max_files_per_pcell, target_file_bytes
    )


def _compact_partition_dirs(
    spark: SparkSession,
    path: str,
    prefix: str,
    max_files: int,
    target_file_bytes: int,
) -> dict:
    """Shared per-partition-directory compactor for the at-rest layouts
    (banded ``pcell=``, IVF ``cell=``): size-targeted rewrite of every
    fragmented dir, swapped in place (underscore-prefixed temp, then
    delete-and-rename) via the Hadoop FS API."""
    from nbi_oedi_etl_spark.sources.sinks import compact_parquet

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)

    def _data_files(dirpath) -> int:
        return sum(
            1
            for st in fs.listStatus(dirpath)
            if st.isFile() and st.getPath().getName().endswith(".parquet")
        )

    # Crash recovery (r11 self-review): a prior run that died between
    # the retire-rename and the swap-in leaves the data under
    # ``_retired_<name>`` with no live dir — restore it FIRST, so no
    # crash point ever loses a partition's rows (see the swap order
    # below: data always lives under exactly one of the two names).
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("_retired_"):
            live = jvm.org.apache.hadoop.fs.Path(path, name[len("_retired_"):])
            if not fs.exists(live):
                if not fs.rename(st.getPath(), live):
                    raise IOError(f"recovery rename {st.getPath()} -> {live} failed")
            else:
                # live dir exists => the swap-in completed; the retired
                # copy is the superseded original
                fs.delete(st.getPath(), True)

    out: dict = {}
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if not name.startswith(prefix):
            continue
        n_before = _data_files(st.getPath())
        if n_before <= max_files:
            continue
        # compact into an underscore-prefixed sibling (invisible to
        # readers), then swap: retire the original, rename the compacted
        # copy in, delete the retired original LAST — at every crash
        # point the rows live under either the live name or _retired_
        # (the old delete-then-rename order lost the partition if the
        # process died between the two; r11 self-review)
        tmp = jvm.org.apache.hadoop.fs.Path(path, f"_compacting_{name}")
        if fs.exists(tmp):
            fs.delete(tmp, True)  # leftover from an interrupted run
        compact_parquet(
            spark,
            str(st.getPath()),
            str(tmp),
            target_file_bytes=target_file_bytes,
        )
        success = jvm.org.apache.hadoop.fs.Path(tmp, "_SUCCESS")
        if fs.exists(success):
            fs.delete(success, False)
        retired = jvm.org.apache.hadoop.fs.Path(path, f"_retired_{name}")
        if not fs.rename(st.getPath(), retired):
            raise IOError(f"rename {st.getPath()} -> {retired} failed")
        if not fs.rename(tmp, st.getPath()):
            raise IOError(f"rename {tmp} -> {st.getPath()} failed")
        fs.delete(retired, True)
        out[name] = (n_before, _data_files(st.getPath()))
    return out
