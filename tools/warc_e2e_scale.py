"""e2e WARC pipeline scale curve (VERDICT r9 #5).

The flagship ETL path (read_warc_auto → url_resource_from_warc_records →
the 18-column partitioned-parquet write, plans/pipeline.py) has
correctness + streaming parity but its §10 curve covered only individual
operators. This drives the WHOLE pipeline over a disjoint-replica WARC
corpus at 1x/8x and attributes time between the parse side (the map
stage carrying all four pandas-UDF crossings) and the shuffle side (the
repartition("source") exchange + sorted parquet write), via the Spark UI
REST stage API — the pipeline's only shuffle is that final write
repartition, so stage granularity IS the parse/shuffle split.

Usage:
    python tools/warc_e2e_scale.py [n_files_1x] [records_per_file] [factors...]

Prints one JSON line:
    {"records": {1: R, 8: 8R}, "wall_sec": {1: ..., 8: ...},
     "stage_attribution": {1: {"map_parse_sec": ..., "shuffle_write_sec":
     ..., "reduce_write_sec": ...}, ...}}

Record the curve in SCALE.md §10. Sub-linear wall growth with a
parse-dominated split is the expected shape: the parse is map-only
(embarrassingly parallel — on a 1000-executor cluster it scales with
executors), and the single shuffle carries already-extracted columns,
not raw WARC bytes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from warcraider_spark.session import get_spark  # noqa: E402


def synth_corpus(d: str, n_files: int, per_file: int) -> int:
    """Deterministic multi-page WARC corpus: every page exercises the
    HTML parse (title/links/GA/meta), sizes ~4 KB."""
    from warcraider_spark.sources.warc import build_warc_bytes

    total = 0
    for f in range(n_files):
        records = []
        for r in range(per_file):
            i = f * per_file + r
            body = (
                f"<html><head><title>Page {i}</title>"
                f"<meta name='k' content='v{i}'></head><body>"
                + "".join(
                    f"<p>alpha beta gamma delta {i} {j} words here</p>"
                    f"<a href='/rel/{j}'>link {j}</a>"
                    for j in range(20)
                )
                + f"<script>ga('create', 'UA-{i % 97}-1', 'auto');</script>"
                "</body></html>"
            ).encode()
            page = b"HTTP/1.1 200 OK\nContent-Type: text/html\n"
            page += f"X-Funnelback-Total-Request-Time-MS: {100 + i % 900}\n".encode()
            page += b"\n\r\n" + body
            records.append(
                (
                    {
                        "WARC-Type": "response",
                        "WARC-Target-URI": f"https://host{i % 37}.example.gov.au/p/{i}",
                        "Uncompressed-Content-Length": str(len(page)),
                    },
                    page,
                )
            )
            total += 1
        with open(os.path.join(d, f"crawl-{f:03d}.warc"), "wb") as fh:
            fh.write(build_warc_bytes(records))
    return total


def _completed_stages(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def run_once(spark, warc_dir: str, out: str) -> float:
    from warcraider_spark.plans.pipeline import (
        url_resource_from_warc_records,
        write_url_resource,
    )
    from warcraider_spark.sources.warc import read_warc_auto

    t0 = time.perf_counter()
    res = url_resource_from_warc_records(read_warc_auto(spark, warc_dir))
    write_url_resource(res, out, fmt="parquet")
    return time.perf_counter() - t0


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    per_file = int(sys.argv[2]) if len(sys.argv) > 2 else 300
    factors = [int(a) for a in sys.argv[3:]] or [1, 8]

    root = tempfile.mkdtemp(prefix="warc_e2e_scale_")
    spark = get_spark(
        app_name="warc_e2e_scale", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    # disjoint replicas: page ids continue across factors (synth_corpus
    # numbers pages f*per_file+r), so the 8x corpus is 8x distinct pages,
    # not 8 copies — dedup-free growth, the honest ETL shape
    dirs: dict[int, str] = {}
    for k in factors:
        d = os.path.join(root, f"x{k}")
        os.makedirs(d)
        synth_corpus(d, n_files * k, per_file)
        dirs[k] = d

    # codegen warm-up on the smallest factor
    run_once(spark, dirs[factors[0]], os.path.join(root, "warm_out"))

    # INTERLEAVED reps (late-r11): the original factor-major loop ran
    # each factor's three reps consecutively — the burst-poisonable
    # shape the bench harness interleaves away (one ambient burst landed
    # entirely on the 8× reps and read 16.2 s against a 13.9 s 16×).
    # Rep-major order spreads any burst across all factors; stages are
    # attributed per-run via the seen-stage diff, so the per-factor
    # attribution windows survive the interleaving.
    wall: dict[int, float] = {}
    attribution: dict[int, dict[str, float]] = {}
    records: dict[int, int] = {k: n_files * k * per_file for k in factors}
    raw: dict[int, list[float]] = {k: [] for k in factors}
    acc: dict[int, dict[str, float]] = {
        k: {"map_ms": 0.0, "sw_ns": 0.0, "reduce_ms": 0.0, "n": 0} for k in factors
    }
    REPS = 3
    for rep in range(REPS):
        for k in factors:
            seen = {s["stageId"] for s in _completed_stages(spark)}
            raw[k].append(run_once(spark, dirs[k], os.path.join(root, f"out_x{k}")))
            stages = [s for s in _completed_stages(spark) if s["stageId"] not in seen]
            acc[k]["map_ms"] += sum(
                s["executorRunTime"] for s in stages if s.get("shuffleWriteBytes", 0) > 0
            )
            acc[k]["sw_ns"] += sum(
                s.get("shuffleWriteTime", 0)
                for s in stages
                if s.get("shuffleWriteBytes", 0) > 0
            )
            acc[k]["reduce_ms"] += sum(
                s["executorRunTime"] for s in stages if s.get("shuffleReadBytes", 0) > 0
            )
            acc[k]["n"] += len(stages)
    for k in factors:
        reps = sorted(raw[k])
        wall[k] = round(reps[len(reps) // 2], 2)
        a = acc[k]
        attribution[k] = {
            "map_parse_sec": round((a["map_ms"] - a["sw_ns"] / 1e6) / (REPS * 1000.0), 2),
            "shuffle_write_sec": round(a["sw_ns"] / 1e9 / REPS, 3),
            "reduce_write_sec": round(a["reduce_ms"] / (REPS * 1000.0), 2),
            "n_stages": a["n"] // REPS,
            "wall_band": [round(reps[0], 2), round(reps[-1], 2)],
        }

    print(
        json.dumps(
            {
                "records": records,
                "wall_sec": wall,
                "stage_attribution": attribution,
            }
        )
    )
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
