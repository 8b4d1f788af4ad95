"""bench.py's last stdout line keeps every headline query's time and fits
the driver's 2000-char tail capture."""

from __future__ import annotations

import json
import os

import bench


def test_compact_line_keeps_every_headline_key():
    # seven-character times (ddd.ddd): wider than any measured query
    times = {name: round(100 + i * 1.001, 3) for i, name in enumerate(bench.HEADLINE)}
    payload = {
        "metric": "headline query suite wall-clock at sf=0.1 on local[32]",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": 0.1,
        "loadavg_1min": 12.5,
    }
    arts = bench._load_scale_artifacts(os.path.dirname(os.path.abspath(bench.__file__)))
    line = bench.compact_line(payload, arts)
    assert len(line) <= 1900
    tail = json.loads(line)
    assert tail["n_queries"] == len(bench.HEADLINE)
    assert dict(zip(bench.HEADLINE, tail["queries"], strict=True)) == times
    assert tail["value"] == payload["value"]
