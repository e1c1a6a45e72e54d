"""The benchmark's workloads. Each is a closed loop with one client: one op
is one timed call into the package, and every op's result is checked
outside the timed region.

A workload object owns its generated inputs and output directories and
offers ``generate`` (untimed), ``prepare`` (after the last session start),
``op`` (timed; returns an ``Op``), ``check`` (raises ``Mismatch``) and
``corrupt`` (used by the self-test to show that a wrong answer is caught).
"""

from __future__ import annotations

import os
import random
import re
import time
from dataclasses import dataclass, field
from decimal import Decimal

import duckdb
import pandas as pd

from nbi_oedi_etl_spark import workload as registry
from nbi_oedi_etl_spark.config import ETLConfig, JobSpec
from nbi_oedi_etl_spark.operators.resample import REFERENCE_MEASURE_COLUMNS
from nbi_oedi_etl_spark.pipeline import run_pipeline
from nbi_oedi_etl_spark.sources.catalog import register_parquet_table

import gen
from tracing import dir_stats, jobs_submitted


class Mismatch(Exception):
    """An op returned a result that differs from the reference."""


@dataclass
class Op:
    label: str
    wall_s: float
    phases: dict[str, float]
    construct_jobs: int
    input_rows: int
    rows: int
    value: object = None
    df: object = None
    extra: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU seconds of the process tree, set by the loop


def _phased(spark, label: str, build, input_rows: int) -> Op:
    """construct (the builder, eager jobs included) -> plan (executedPlan
    forced) -> execute (collect to the driver as pandas)."""
    j0 = jobs_submitted(spark)
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    pdf = df.toPandas()
    t3 = time.perf_counter()
    return Op(
        label,
        t3 - t0,
        {"construct": t1 - t0, "plan": t2 - t1, "execute": t3 - t2},
        jobs_submitted(spark) - j0,
        input_rows,
        len(pdf),
        pdf,
        df,
    )


# ------------------------------------------------------------ etl_hourly

_MEANS = [f"{c}_mean" for c in REFERENCE_MEASURE_COLUMNS]


def hourly_sql(glob: str) -> str:
    """DuckDB twin of the pipeline's hourly resample over OEDI-shaped files,
    with the pipeline's output columns."""
    means = ", ".join(f'avg("{c}") AS "{m}"' for c, m in zip(REFERENCE_MEASURE_COLUMNS, _MEANS))
    return (
        f"SELECT min(bldg_id) AS bldg_id_min, min(timestamp) AS timestamp_min, {means}, "
        "bldg_id, upgrade, state, date_trunc('hour', timestamp) AS timestamp "
        f"FROM read_parquet('{glob}', hive_partitioning=true) "
        "GROUP BY bldg_id, upgrade, state, date_trunc('hour', timestamp)"
    )


class EtlHourly:
    """One op is one ``run_pipeline`` call: one JobSpec (one state x both
    upgrades, out of 4 states x 2 upgrades), metadata bypass and table
    registration on, written to a fresh destination. The states take turns
    in a seeded order.

    The op's cost is the pipeline's ~10 Spark jobs, not the data: with 1,
    2, 4 or 10 buildings per partition a warm op took the same time. One
    JobSpec per op (the pipeline loops over JobSpecs) halves the op, so a
    run's median is taken over twice as many ops."""

    name = "etl_hourly"
    SIZES = {"full": (10, 2), "tiny": (2, 1)}  # (buildings per partition, days)

    def __init__(self, root: str, seed: int, size: str) -> None:
        self.root, self.seed = root, seed
        self.bldgs, self.days = self.SIZES[size]
        self.rng = random.Random(seed)
        self.check_rng = random.Random(-seed)
        self.n_out = 0
        self.turns: list[str] = []

    def generate(self) -> dict:
        self.src = gen.oedi_source(
            os.path.join(self.root, f"oedi-seed{self.seed}"), self.seed, self.bldgs, self.days
        )
        return {
            "files": len(gen.STATES) * len(gen.UPGRADES) * self.bldgs,
            "rows": self.src.rows(gen.STATES),
            "bytes": self.src.bytes(gen.STATES),
            "metadata_rows": self.src.meta_rows,
        }

    def prepare(self, spark) -> None:
        """Untimed ops until the JIT settles. Each op plans fresh queries,
        and after four ops in a process the JVM's compiler threads still
        used 40% of its CPU (8.7 of 22 CPU-seconds over five ops, 2.9 of 14
        after twelve), so op times fell from 2.9 to 2.0 s. On a shared host
        that compile work competes with the op for the few cores, which
        made the median op swing with co-tenant load."""
        for _ in range(5):
            self.op(spark, -1)

    def pass_done(self, i: int) -> bool:
        """At least six ops a run: the first ops after warm-up still carry
        compile CPU, so a run that a slow host held to three or four ops
        read a quarter higher in CPU per op than one with seven."""
        return i + 1 >= 6

    def op(self, spark, i: int) -> Op:
        if not self.turns:
            self.turns = self.rng.sample(gen.STATES, len(gen.STATES))
        states = [self.turns.pop()]
        self.n_out += 1
        dest = os.path.join(self.root, "out", f"op{self.n_out}")
        config = ETLConfig(
            src_path=self.src.root,
            dest_path=dest,
            job_specific=[JobSpec("2018", "comstock", s, list(gen.UPGRADES)) for s in states],
        )
        j0 = jobs_submitted(spark)
        t0 = time.perf_counter()
        results = run_pipeline(
            spark, config, metadata_subpath=gen.META_SUBPATH, register_tables=True
        )
        wall = time.perf_counter() - t0
        # run_pipeline is eager end to end: all of it is construction
        return Op(
            "run_pipeline",
            wall,
            {"construct": wall, "plan": 0.0, "execute": 0.0},
            jobs_submitted(spark) - j0,
            self.src.rows(states),
            sum(r.rows_out for r in results),
            results,
            extra={"states": states, "dest": dest},
        )

    def written_per_read(self, op: Op) -> float:
        return dir_stats(op.extra["dest"])[1] / self.src.bytes(op.extra["states"])

    def check(self, op: Op) -> None:
        results, states = op.value, op.extra["states"]
        if len(results) != len(states):
            raise Mismatch(f"{len(results)} job results for {len(states)} jobs")
        for res, state in zip(results, states):
            want = self.src.rows([state])
            if res.rows_in != want or res.counters.get("rows_listed") != want:
                raise Mismatch(f"{state}: rows_in {res.rows_in}, listed {res.counters}, generated {want}")
            if res.rows_out * 4 != res.rows_in:
                raise Mismatch(f"{state}: rows_out {res.rows_out} x 4 != rows_in {res.rows_in}")
            bldg = self.check_rng.choice(self.src.bldgs[state])
            if self._hourly_from_source(state, bldg) != self._hourly_written(res.output_path, bldg):
                raise Mismatch(f"{state}: hourly means of building {bldg} differ from DuckDB")

    def _hourly_from_source(self, state: str, bldg: int) -> list:
        glob = f"{self.src.root}/upgrade=*/state={state}/bldg{bldg}-up*.parquet"
        return self._rows(f"({hourly_sql(glob)})", bldg)

    def _hourly_written(self, path: str, bldg: int) -> list:
        return self._rows(f"read_parquet('{path}/*/*/*.parquet', hive_partitioning=true)", bldg)

    @staticmethod
    def _rows(relation: str, bldg: int) -> list:
        cols = ", ".join(f'"{m}"' for m in _MEANS)
        return duckdb.sql(
            f"SELECT upgrade, bldg_id_min, timestamp_min, {cols} FROM {relation} "
            f"WHERE bldg_id_min = {bldg} ORDER BY 1, 3"
        ).fetchall()

    @staticmethod
    def corrupt(op: Op) -> None:
        op.value[0].rows_out += 1


# ------------------------------------------------------------- query_mix

#: the reference's saved queries plus three of the ROADMAP's inverse
#: scalers and the CDC stream (whose probe and append carry state across
#: micro-batches). orders_column_profile, simhash_buckets and
#: copurchase_kcore are left out: a first execution of each took 4-6 s on a
#: 4-core host, and with them a run outgrew the run budget.
NAMED = (
    "ref_q1_count_distinct",
    "ref_q2_grouped_count_distinct",
    "ref_q3_topk_per_group",
    "flagship_hourly_resample",
    "promo_revenue_by_month",
    "winnowing_fingerprints",
    "streaming_banded_cdc_dedup",
)
#: a fixed sample of other non-streaming oracled specs, checked to match
#: their oracles on the generated tables. Short ones are the majority so
#: the median op falls inside that cluster: with as many short as longer
#: queries it sat on the gap between them and jumped 0.37 <-> 0.56 s
#: from run to run.
SAMPLED = (
    "pandas_normalize_text",  # scalar pandas UDF: crosses the Python boundary
    "pricing_summary",
    "rollup_revenue",
    "customer_order_counts",
    "json_props_stats",
    "user_sessions",
    "order_price_deciles",
    "rolling_revenue_90d",
)
SAVED_SQL = "sql/saved-queries-spark.sql"


def saved_queries(repo_root: str) -> dict[str, str]:
    """The three saved queries, as their ``-- label:`` blocks in the SQL file."""
    with open(os.path.join(repo_root, SAVED_SQL)) as f:
        text = f.read()
    out = {}
    for n, block in enumerate(text.split("-- label:")[1:], start=1):
        # the block's first line is the label itself
        lines = block.splitlines()[1:]
        body = "\n".join(ln for ln in lines if not ln.lstrip().startswith("--"))
        out[f"saved_q{n}"] = body.split(";")[0].strip()
    return out


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1).copy()
    for c in out.columns:
        if str(out[c].dtype).startswith("datetime64"):
            out[c] = out[c].astype("datetime64[us]")
        elif out[c].dtype == object:
            out[c] = out[c].map(lambda v: str(float(v)) if isinstance(v, Decimal) else str(v))
    return out.sort_values(by=list(out.columns), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Equal columns, row count and values after sorting; floats bit-exact."""
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns):
        raise Mismatch(f"columns {list(got.columns)} != {list(want.columns)}")
    if len(got) != len(want):
        raise Mismatch(f"{len(got)} rows != {len(want)}")
    for c in got.columns:
        g, w = got[c], want[c]
        eq = (g == w) | (g.isna() & w.isna())
        if not eq.all():
            bad = int((~eq).values.argmax())
            raise Mismatch(f"column {c!r} row {bad}: {g.iloc[bad]!r} != {w.iloc[bad]!r}")


class _Dataset:
    """The query mix's generated data: star-schema tables and an
    OEDI-shaped source whose hourly output (AK, both upgrades) the saved
    queries read. DuckDB writes that output with the pipeline's columns
    and layout, so the set-up pays for no second ETL run; the pipeline's
    own write path is the etl_hourly workload."""

    def __init__(self, root: str, seed: int, scale: float, bldgs: int) -> None:
        self.root = os.path.join(root, f"seed{seed}")
        self.sf = os.path.join(self.root, "tables")
        self.rows = gen.star_schema_dir(self.sf, seed, scale)
        src = gen.oedi_source(os.path.join(self.root, "oedi"), seed, bldgs, 1)
        self.meta = os.path.join(src.root, gen.META_SUBPATH)
        self.hourly = os.path.join(self.root, "hourly")
        duckdb.execute(
            f"COPY ({hourly_sql(src.root + '/upgrade=*/state=AK/*.parquet')}) "
            f"TO '{self.hourly}' (FORMAT parquet, PARTITION_BY (upgrade, state))"
        )
        self.saved_rows = src.rows(["AK"]) // 4 + src.meta_rows

    def register(self, spark) -> None:
        register_parquet_table(spark, "metadata_parquet", self.meta)
        register_parquet_table(spark, "data_state_ak", self.hourly)

    def oracle_connection(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in self.rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        con.execute(f"CREATE VIEW metadata_parquet AS SELECT * FROM read_parquet('{self.meta}/*.parquet')")
        con.execute(
            "CREATE VIEW data_state_ak AS SELECT * FROM "
            f"read_parquet('{self.hourly}/*/*/*.parquet', hive_partitioning=true)"
        )
        return con


class QueryMix:
    """Read-only: one op builds and collects one query. Each pass runs every
    query once in the same fixed order, the CDC stream last; a run measures
    whole passes, so every run times the same mix. The first pass is each
    query's first execution in the process, code generation included, as an
    analyst's ad hoc query sees it. The order is fixed rather than seeded
    because a first execution's cost depends on what ran before it: with a
    seeded order the median op moved by a quarter from seed to seed. (An
    untimed warm pass over a second data set cut the median op by a quarter
    but cost 25 s a run, which the run budget cannot carry.)"""

    name = "query_mix"
    SIZES = {"full": (0.2, 12), "tiny": (0.05, 3)}  # (table scale, buildings per partition)

    def __init__(self, root: str, seed: int, size: str, repo_root: str) -> None:
        self.root, self.seed, self.repo_root = root, seed, repo_root
        self.scale, self.bldgs = self.SIZES[size]
        self._oracle: dict[str, pd.DataFrame] = {}

    def generate(self) -> dict:
        self.data = _Dataset(self.root, self.seed, self.scale, self.bldgs)
        specs = {s.name: s for s in registry.SPECS}
        self.saved = saved_queries(self.repo_root)
        self.oracle_sql = {n: specs[n].oracle for n in NAMED + SAMPLED}
        self.oracle_sql.update({n: q.replace("`", '"') for n, q in self.saved.items()})
        self.builders = {n: specs[n].fn for n in NAMED + SAMPLED}
        self.names = sorted(self.oracle_sql, key=lambda n: (n == "streaming_banded_cdc_dedup", n))
        # a query's input is the tables its oracle reads
        self.input_rows = {
            n: sum(r for t, r in self.data.rows.items() if re.search(rf"\b{t}\b", sql))
            for n, sql in self.oracle_sql.items()
        }
        self.input_rows.update(dict.fromkeys(self.saved, self.data.saved_rows))
        return {"tables": self.data.rows, "queries": len(self.names), "bytes": dir_stats(self.data.sf)[1]}

    def prepare(self, spark) -> None:
        """Register the saved queries' input; open the DuckDB oracle."""
        self.data.register(spark)
        self.con = self.data.oracle_connection()

    def pass_done(self, i: int) -> bool:
        return (i + 1) % len(self.names) == 0

    def op(self, spark, i: int) -> Op:
        # the set-up's warm-up op reads the star schema only: the saved
        # queries' tables are registered after the last session start
        name = "ref_q1_count_distinct" if i < 0 else self.names[i % len(self.names)]
        rows = self.input_rows[name]
        if name in self.saved:
            return _phased(spark, name, lambda: spark.sql(self.saved[name]), rows)
        return _phased(spark, name, lambda: self.builders[name](spark, self.data.sf), rows)

    def check(self, op: Op) -> None:
        """DuckDB parity with the query's oracle SQL."""
        if op.label not in self._oracle:
            self._oracle[op.label] = self.con.sql(self.oracle_sql[op.label]).df()
        compare(op.value, self._oracle[op.label])

    @staticmethod
    def corrupt(op: Op) -> None:
        pdf = op.value
        op.value = pdf.iloc[:0] if len(pdf) else pd.DataFrame({c: [None] for c in pdf.columns})


def make(name: str, root: str, seed: int, size: str, repo_root: str):
    if name == EtlHourly.name:
        return EtlHourly(root, seed, size)
    if name == QueryMix.name:
        return QueryMix(root, seed, size, repo_root)
    raise ValueError(f"unknown workload {name!r}")
