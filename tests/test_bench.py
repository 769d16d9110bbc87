"""bench.py's stdout line: bounded size, and the same queries on it
whatever their timings."""

from __future__ import annotations

import json
import random

import bench


def _fake_timings(seed: int) -> dict[str, float]:
    rng = random.Random(seed)
    return {q: round(rng.uniform(0.05, 20.0), 3) for q in bench.HEADLINE}


def _line(timings: dict[str, float]) -> str:
    return bench._stdout_line(
        timings, round(sum(timings.values()), 3), 41.2, 1.234, 0.1
    )


def _kept(line: str) -> list[str]:
    return list(json.loads(line)["queries"])


def test_stdout_line_fits_and_keeps_headline_prefix():
    timings = _fake_timings(0)
    assert len(timings) == 100
    line = _line(timings)
    assert len(line.encode()) <= bench.STDOUT_MAX_BYTES
    payload = json.loads(line)
    kept = list(payload["queries"])
    # a trim happened, and it kept the head of HEADLINE in order
    assert 0 < len(kept) < 100
    assert kept == bench.HEADLINE[: len(kept)]
    assert payload["queries_omitted"] == 100 - len(kept)
    assert not [k for k in payload if k.startswith("memo")]


def test_stdout_line_kept_set_ignores_order_and_scale():
    timings = _fake_timings(1)
    kept = _kept(_line(timings))
    items = list(timings.items())
    random.Random(2).shuffle(items)
    assert _kept(_line(dict(items))) == kept
    for scale in (0.01, 10.0, 400.0):
        scaled = {q: round(v * scale, 3) for q, v in timings.items()}
        line = _line(scaled)
        assert len(line.encode()) <= bench.STDOUT_MAX_BYTES
        assert _kept(line) == kept
    # other random timings: the same set again
    assert _kept(_line(_fake_timings(3))) == kept
