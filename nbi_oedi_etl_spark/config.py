"""Typed configuration mirroring the reference's ``etl_config``
(README.md:50-107; consumed at etl/oedi_etl/main.py:69-85).

The reference passes a JSON dict (base64-encoded through Glue RunProperties,
glue_job.py:40-52) with global settings + a ``job_specific`` list of
(release, state, upgrades) selections. That dict is the system's de-facto
query-plan IR (SURVEY.md §3.1); here it is a dataclass tree with the same
shape, JSON-roundtrippable.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field


@dataclass
class JobSpec:
    """One ETL job: a (release, state, upgrades) partition selection
    (reference job_specific entries, main.py:69-85)."""

    release_year: str = ""
    release_name: str = ""
    state: str = ""
    upgrades: list[int] = field(default_factory=list)


@dataclass
class ETLConfig:
    """Global ETL settings (reference etl_config, README.md:50-107)."""

    src_path: str = ""
    dest_path: str = ""
    output_dir: str = "etl_output"  # run-relative epoch dir (main.py:58-60)
    job_specific: list[JobSpec] = field(default_factory=list)

    @classmethod
    def from_json(cls, text: str) -> "ETLConfig":
        raw = json.loads(text)
        jobs = [JobSpec(**j) for j in raw.pop("job_specific", [])]
        known = {k: v for k, v in raw.items() if k in cls.__dataclass_fields__}
        return cls(job_specific=jobs, **known)

    def to_json(self) -> str:
        return json.dumps(asdict(self))
