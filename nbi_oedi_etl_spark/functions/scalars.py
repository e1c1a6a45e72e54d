"""Scalar functions mirroring the reference's helpers (SURVEY.md §2.8).

All are pure Column expressions — JVM-side, inside whole-stage codegen; none
are Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dotted(name: str) -> Column:
    """Column ref for a flat column whose NAME contains dots
    (e.g. ``out.electricity.total.energy_consumption``).

    The reference's data has 51 such columns (transform.py:64-114); Athena
    quotes them as ``"a.b.c"`` (sql/saved-queries.sql:15), Spark needs
    backticks — unquoted dots would be mis-parsed as struct access
    (SURVEY.md §7.4.1).
    """
    return F.col(f"`{name}`")


def quoted(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), for names spliced into SQL text: dotted OEDI names must not
    parse as struct access (see ``dotted``)."""
    return "`" + name.replace("`", "``") + "`"


def upgrade_str(code: Column | str) -> Column:
    """Reference upgrade-code formatter (fetch.py:19-37):
    0 → 'baseline', 1..9 → 'upgrade0N', ≥10 → 'upgradeN'."""
    c = F.col(code) if isinstance(code, str) else code
    return (
        F.when(c == 0, F.lit("baseline"))
        .when(c < 10, F.concat(F.lit("upgrade0"), c.cast("string")))
        .otherwise(F.concat(F.lit("upgrade"), c.cast("string")))
    )


def key_fingerprint(key: Column | str) -> Column:
    """Compact stable fingerprint of a key string.

    Plays the role of the reference's blake2b 8-byte digest used by the
    monitor's listed/uploaded hash maps (monitor.py:154-164). The semantics
    that matter are 'stable compact digest', not the algorithm: xxhash64 is
    the JVM-side built-in."""
    c = F.col(key) if isinstance(key, str) else key
    return F.xxhash64(c)
