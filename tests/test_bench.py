"""bench.py's record bookkeeping (no Spark session needed)."""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def test_prev_record_only_compares_runs_on_the_same_cpu_count(tmp_path):
    """The name order puts BENCH_r11_c8.json ahead of BENCH_r11.json; a
    32-core run must still be compared with the 32-core record."""
    paths = []
    for name, cpus, sec in (("BENCH_r11.json", 32, 1.0), ("BENCH_r11_c8.json", 8, 2.0)):
        p = tmp_path / name
        p.write_text(json.dumps({"cpus": cpus, "parsed": {"queries": {"q": sec}}}))
        paths.append(str(p))

    assert bench.prev_record({"q": 1.5}, 32, paths) == (paths[0], {"queries": {"q": 1.0}})
    assert bench.prev_record({"q": 1.5}, 8, paths)[0] == paths[1]
    assert bench.prev_record({"q": 1.5}, 4, paths) is None
    assert bench.prev_record({"other": 1.5}, 32, paths) is None
