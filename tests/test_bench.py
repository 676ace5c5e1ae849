"""bench.py output layout: two lines, the final one must survive a
tail-of-stdout capture. No Spark session — the lines are built from
synthetic timings."""

from __future__ import annotations

import json

import bench
from nyc_open_data_pipeline_spark.plans import all_queries

TAIL_BYTES = 4600  # stdout tail the harness keeps
SUMMARY_KEYS = {
    "metric", "value", "unit", "core30_sec", "batch_total_sec",
    "stream_total_sec", "n_queries", "n_errors", "sf", "cache_build_sec",
    "yardstick", "query_secs",
}


def _timings(names: list[str], scale: float) -> dict[str, float]:
    # spread over 0.05 s .. ~40 s like a --full sf0.1 run, 3-decimal seconds
    return {
        n: round(scale * 0.05 * 1.41 ** (i % 20) + 0.001 * i, 3)
        for i, n in enumerate(names)
    }


def _names() -> list[str]:
    names = list(all_queries())
    assert len(names) == 211
    return names


def _last_line_of_tail(lines: tuple[dict, ...]) -> dict:
    stdout = "".join(json.dumps(x, separators=(",", ":")) + "\n" for x in lines)
    tail = stdout.encode()[-TAIL_BYTES:].decode(errors="ignore")
    return json.loads(tail.strip().splitlines()[-1])


def test_bench_lines_are_detail_then_summary():
    lines = bench.bench_lines(
        _timings(_names(), 1.0),
        {"q1_pricing_summary": "AnalysisException: boom"},
        0.1,
        stream_batches={"incremental_dedup": [{"batch_id": 0, "n_out": 3, "sec": 0.5}]},
        cache_builds={"hv": 1.2345},
    )
    assert len(lines) == 2
    detail, summary = lines
    assert detail == {
        "metric": "bench_detail",
        "errors": {"q1_pricing_summary": "AnalysisException: boom"},
        "stream_batches": {"incremental_dedup": [{"batch_id": 0, "n_out": 3, "sec": 0.5}]},
        "cache_builds": {"hv": 1.234},
    }
    assert summary["metric"] == "bench_summary"
    assert set(summary) == SUMMARY_KEYS
    assert summary["yardstick"] == {"query": "d26_substring_dedup", "sec": summary["query_secs"]["d26"]}
    assert summary["cache_build_sec"] == 1.234


def test_bench_summary_line_survives_tail_capture():
    timings = _timings(_names(), 1.0)
    detail, summary = bench.bench_lines(
        timings,
        {},
        0.1,
        stream_batches={"st3": [{"batch": i, "rows": 100, "sec": 0.5} for i in range(4)]},
        cache_builds={"hv": 1.234, "doc4range": 0.5},
    )
    assert len(json.dumps(summary, separators=(",", ":"))) <= 2700
    last = _last_line_of_tail((detail, summary))

    assert last["metric"] == "bench_summary"
    assert last["n_queries"] == 211
    secs = last["query_secs"]
    assert len(secs) == 211
    assert secs == {n.split("_", 1)[0]: round(v, 2) for n, v in timings.items()}
    assert last["yardstick"] == {"query": "d26_substring_dedup", "sec": timings["d26_substring_dedup"]}
    assert last["value"] == round(sum(timings.values()), 3)
    assert last["cache_build_sec"] == 1.734


def test_bench_summary_survives_many_long_errors():
    names = _names()
    timings = _timings(names, 1.0)
    failed = [n for n in names if n != "d26_substring_dedup"][:50]
    for n in failed:
        timings[n] = None
    errors = {n: "AnalysisException: " + "x" * 281 for n in failed}
    assert all(len(m) == 300 for m in errors.values())
    last = _last_line_of_tail(bench.bench_lines(timings, errors, 0.1))

    assert last["n_errors"] == 50
    assert last["n_queries"] == 161
    assert last["query_secs"] == {
        n.split("_", 1)[0]: round(v, 2) for n, v in timings.items() if v is not None
    }
    assert "errors" not in last
