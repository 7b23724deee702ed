"""Every SPARK_GRAFT_* environment knob is listed here, so adding or
removing one shows up as a diff in this file. Spark-free."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent

KNOWN_FLAGS = {
    "SPARK_GRAFT_ANN_100M",
    "SPARK_GRAFT_ANN_10M",
    "SPARK_GRAFT_ANN_10M_MAINT",
    "SPARK_GRAFT_ANN_DIR",
    "SPARK_GRAFT_ANN_FILTERED",
    "SPARK_GRAFT_ANN_HIGHDIM",
    "SPARK_GRAFT_ANN_N",
    "SPARK_GRAFT_ANN_SWEEP",
    "SPARK_GRAFT_ANN_TIER",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SF_DIR",
}


def test_env_flag_set_is_explicit():
    sources = [ROOT / "bench.py"]
    for d in ("webscale_vector_search_spark", "tools", "tests"):
        sources += sorted((ROOT / d).rglob("*.py"))
    pat = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")
    found = {m for p in sources for m in pat.findall(p.read_text())}
    assert found == KNOWN_FLAGS, (
        f"new: {sorted(found - KNOWN_FLAGS)}, gone: {sorted(KNOWN_FLAGS - found)}"
    )
