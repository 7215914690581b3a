"""Job configuration — S9 parity (`cmds/configs.py:15-33`, SURVEY.md §2.1).

The reference keeps a configs.json with key-set + value-type validation and
resets to defaults on any mismatch. Here the same contract governs engine
job parameters, with the same semantics: unknown keys, missing keys, or
wrong types → reset to defaults (and report why).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, fields


@dataclass
class JobConfig:
    # ingestion (reference keys: `cmds/configs.py:7-11`)
    get_comments: bool = True       # yt-dlp getcomments opt
    get_thumbnails: bool = True     # thumbnail fetch gate (`cmds/archive.py:84`)
    # engine
    shuffle_partitions: int = 32
    broadcast_threshold_mb: int = 64
    watermark_delay: str = "10 minutes"
    dedup_num_hashes: int = 16
    dedup_bands: int = 4
    ann_planes: int = 6


def validate(raw: dict) -> tuple[JobConfig, list[str]]:
    """Key-set and value-type validation (`cmds/configs.py:19-24`):
    returns (config, problems). Any problem → defaults, mirroring the
    reference's reset-on-failure."""
    problems: list[str] = []
    expected = {f.name: f.type for f in fields(JobConfig)}
    defaults = JobConfig()
    for key in raw:
        if key not in expected:
            problems.append(f"unknown key: {key}")
    for f in fields(JobConfig):
        if f.name not in raw:
            problems.append(f"missing key: {f.name}")
        elif not isinstance(raw[f.name], type(getattr(defaults, f.name))) or isinstance(
            raw[f.name], bool
        ) != isinstance(getattr(defaults, f.name), bool):
            problems.append(f"bad type for {f.name}: {type(raw[f.name]).__name__}")
    if problems:
        return JobConfig(), problems
    return JobConfig(**raw), []


def load(path: str) -> tuple[JobConfig, list[str]]:
    """Load + validate; absent or unparsable file → defaults (persisted
    back, like the reference's reset)."""
    if not os.path.exists(path):
        cfg = JobConfig()
        save(path, cfg)
        return cfg, ["config missing; defaults written"]
    try:
        with open(path) as f:
            raw = json.load(f)
    except (OSError, json.JSONDecodeError) as exc:
        cfg = JobConfig()
        save(path, cfg)
        return cfg, [f"config unreadable ({exc}); defaults written"]
    cfg, problems = validate(raw)
    if problems:
        save(path, cfg)
    return cfg, problems


def save(path: str, cfg: JobConfig) -> None:
    with open(path, "w") as f:
        json.dump(asdict(cfg), f, indent=2, sort_keys=True)

