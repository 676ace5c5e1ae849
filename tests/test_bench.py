"""bench.py output layout: the final line must survive a tail-of-stdout
capture. No Spark session — the lines are built from synthetic timings."""

from __future__ import annotations

import json

import bench
from nyc_open_data_pipeline_spark.plans import all_queries

TAIL_BYTES = 4600  # stdout tail the driver keeps


def _timings(names: list[str], scale: float) -> dict[str, float]:
    # spread over 0.05 s .. ~40 s like a --full sf0.1 run, 3-decimal seconds
    return {
        n: round(scale * 0.05 * 1.41 ** (i % 20) + 0.001 * i, 3)
        for i, n in enumerate(names)
    }


def test_bench_summary_line_survives_tail_capture():
    names = list(all_queries())
    assert len(names) == 211
    _, prev = bench.bench_lines(_timings(names, 0.9), {}, 0.1, full=True)
    timings = _timings(names, 1.0)
    out, summary = bench.bench_lines(
        timings,
        {},
        0.1,
        full=True,
        prev=("BENCH_r14.json", prev),
        stream_batches={"st3": [{"batch": i, "rows": 100, "sec": 0.5} for i in range(4)]},
        cache_builds={"hv": 1.234, "doc4range": 0.5},
    )
    cache_line = {"metric": "cache_build_sec", "value": out["cache_build_sec"]}
    stdout = "\n".join(
        [
            json.dumps(out),
            json.dumps(cache_line, separators=(",", ":")),
            json.dumps(summary, separators=(",", ":")),
        ]
    ) + "\n"
    tail = stdout.encode()[-TAIL_BYTES:].decode(errors="ignore")
    last = json.loads(tail.strip().splitlines()[-1])

    assert last["metric"] == "bench_summary"
    assert last["n_queries"] == 211
    secs = last["query_secs"]
    assert len(secs) == 211
    assert secs == {n.split("_", 1)[0]: round(v, 2) for n, v in timings.items()}
    assert "query_ratios" not in last
    assert last["yardstick"]["sec"] == timings["d26_substring_dedup"]
    assert last["yardstick"]["ratio_delta_vs"] == "BENCH_r14.json"
    assert last["value"] == out["value"]
