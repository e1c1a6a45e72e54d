"""Hourly resample — the reference's flagship transform (A1 in SURVEY.md §2.4).

Reference semantics (etl/oedi_etl/transform.py:19-122): floor each 15-min
timestamp to the hour (epoch-ms integer division, transform.py:23-46 — here
``date_trunc('hour', ts)``, identical for UTC sessions), group
by the floored timestamp, aggregate ``min`` over the key columns and ``mean``
over 51 measure columns. pyarrow's ``group_by().aggregate`` names outputs
with aggregate-suffixes — proven by the downstream join on ``d.bldg_id_min``
(sql/saved-queries.sql:14) — so the output schema is
``bldg_id_min, timestamp_min, <measure>_mean…, <group keys>``
(SURVEY.md §1.4).

Group-key subtlety (SURVEY.md §7.4.2): the reference groups per FILE, and one
file = one (building, upgrade). A distributed engine unions all files, so the
hour-only group key would merge buildings and corrupt the means. The correct
distributed grouping adds the entity keys — ``(bldg_id, upgrade, state,
hour)`` — which is exactly equivalent to the per-file run.

Scale notes: on its own this is one shuffle on (entity, hour) — partial
(map-side) aggregation comes free from Spark's hash aggregate, so the
shuffle carries pre-aggregated partial sums, not raw 15-min rows. An input
already hash-partitioned on a subset of the group keys needs no shuffle
here: ``pipeline.run_etl_job`` partitions the raw rows on the output's
(upgrade, state) so that one shuffle also serves the write, and trades the
map-side pre-aggregation for it. 100 TB in → ~25 TB of
hourly output (the reference's observed 4× row reduction, README.md:129).
Skewed entities are impossible by construction (each building contributes
≤ 35,040 rows/year), so no salting is needed here. AQE coalesces the
post-shuffle partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from nbi_oedi_etl_spark.functions.scalars import quoted


def _measure_columns() -> list[str]:
    """The reference's 51 mean-aggregated measure columns, verbatim from
    etl/oedi_etl/transform.py:64-114.

    Note the asymmetry to preserve exactly:
    ``out.other_fuel.water_systems.energy_consumption`` has no ``_intensity``
    partner (transform.py:112) — the only 1-column fuel/enduse pair.
    """
    cols = []
    for fuel, enduses in [
        ("district_cooling", ["cooling", "total"]),
        ("district_heating", ["heating", "total", "water_systems"]),
        (
            "electricity",
            [
                "cooling",
                "exterior_lighting",
                "fans",
                "heat_recovery",
                "heat_rejection",
                "heating",
                "interior_equipment",
                "interior_lighting",
                "pumps",
                "refrigeration",
                "total",
                "water_systems",
            ],
        ),
        ("natural_gas", ["heating", "interior_equipment", "total", "water_systems"]),
        # water_systems is the lone intensity-less column, in reference
        # position (transform.py:112 — before the site_energy pair)
        ("other_fuel", ["cooling", "heating", "total", "water_systems"]),
        ("site_energy", ["total"]),
    ]:
        for enduse in enduses:
            cols.append(f"out.{fuel}.{enduse}.energy_consumption")
            if (fuel, enduse) != ("other_fuel", "water_systems"):
                cols.append(f"out.{fuel}.{enduse}.energy_consumption_intensity")
    return cols


REFERENCE_MEASURE_COLUMNS: tuple[str, ...] = tuple(_measure_columns())
assert len(REFERENCE_MEASURE_COLUMNS) == 51


def resample_hourly(
    df: DataFrame,
    ts_col: str = "timestamp",
    entity_cols: Sequence[str] = (),
    min_cols: Sequence[str] = ("bldg_id", "timestamp"),
    mean_cols: Sequence[str] = REFERENCE_MEASURE_COLUMNS,
    hour_col: str | None = None,
    round_means: int | None = None,
) -> DataFrame:
    """Resample to 1-hour resolution with the reference's naming convention.

    ``entity_cols`` are the distributed-correctness group keys (e.g.
    ``("bldg_id", "upgrade", "state")``); ``min_cols`` / ``mean_cols`` get
    ``_min`` / ``_mean`` suffixed outputs. The floored hour is emitted as
    ``hour_col`` (defaults to the group-key name the reference's pyarrow
    output appends: ``ts_col`` itself).

    ``round_means`` optionally rounds the means (useful for cross-engine
    comparison; reference leaves raw doubles).
    """
    hour_name = hour_col or ts_col
    hour = f"date_trunc('hour', {_quoted(ts_col)})"
    select = [f"min({_quoted(c)}) AS {_quoted(f'{c}_min')}" for c in min_cols]
    for c in mean_cols:
        m = f"avg({_quoted(c)})"
        if round_means is not None:
            m = f"round({m}, {int(round_means)})"
        select.append(f"{m} AS {_quoted(f'{c}_mean')}")
    # Reference column order: explicit aggregates first, group key(s) last
    # (pyarrow appends grouping keys — SURVEY.md §1.4).
    keys = [_quoted(c) for c in entity_cols]
    select += keys + [f"{hour} AS {_quoted(hour_name)}"]
    # One statement, not O(columns) py4j Column calls: the OEDI run's 53
    # aggregates took ~160 calls and 0.34-0.38 s per build Column by
    # Column, 0.04-0.05 s as one statement (warm, 4-core VM).
    sql = f"SELECT {', '.join(select)} FROM {{src}} GROUP BY {', '.join(keys + [hour])}"
    return df.sparkSession.sql(sql, src=df)


def _quoted(name: str) -> str:
    """``quoted(name)`` with its braces doubled for the ``str.format``
    pass of ``spark.sql(…, src=df)``."""
    return quoted(name).replace("{", "{{").replace("}", "}}")
