"""Fixture-generator contracts (tools/gen_fixture.py, round 5).

The sf1 scaling evidence (SCALE.md, SWEEP_sf1_r05.json) is only
reproducible if the generator is bit-deterministic and schema-faithful;
these tests pin both at a tiny --sf so they run in seconds.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]

TOOL = str(REPO / "tools" / "gen_fixture.py")


def _gen(out: str, extra: list[str] | None = None) -> None:
    r = subprocess.run(
        [sys.executable, TOOL, "--sf", "0.002", "--out", out]
        + (extra or []),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr  # surface the generator traceback


def _digest(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            with open(os.path.join(d, f), "rb") as fh:
                out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_is_bit_identical(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _gen(a)
    _gen(b)
    da, db = _digest(a), _digest(b)
    assert da and da == db


def test_different_seed_differs(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _gen(a)
    _gen(b, ["--seed", "43"])
    assert _digest(a) != _digest(b)


def test_schemas_match_driver_fixtures(tmp_path):
    out = str(tmp_path / "t")
    _gen(out)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        ref = pq.read_schema(f"/root/testdata/sf0.01/{t}.parquet")
        got = pq.read_schema(os.path.join(out, f"{t}.parquet"))
        # compare field names + types; driver files carry pandas metadata
        assert [(f.name, f.type) for f in ref] == [
            (f.name, f.type) for f in got
        ], t
