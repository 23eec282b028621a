"""Parse-stage task-sizing experiment (VERDICT r10 #4).

The r9 e2e curve measured that at full occupancy the per-record executor
time inflates ~5x vs the underfilled 1x run: 32 JVM task threads + 32
Python pandas-UDF worker processes oversubscribe the host's 32 vCPUs on
the parse stage (the map stage carrying all four UDF crossings). The
documented production rule — "budget roughly half the host cores for
Spark tasks when a pandas-UDF stage dominates, or raise spark.task.cpus"
— was a caveat, not a measurement. This drives the SAME 8x corpus
through the SAME pipeline under both settings and records the numbers.

Configurations (one fresh SparkSession each, same corpus, warm-up + 3
reps, median):
  A. baseline        local[32], spark.task.cpus=1  (32 tasks x 2 procs)
  B. task.cpus=2     local[32], spark.task.cpus=2  (16 concurrent tasks:
     each task still runs 1 JVM thread + 1 Python worker, so ~32
     processes total on 32 vCPUs — the "budget half the cores" rule
     expressed without changing the cluster size)

Reported per config: median wall, map-stage executor-run time per record
(the oversubscription signal), and the wall ratio B/A. Record the row in
SCALE.md §10.

Usage:  python tools/parse_stage_sizing.py [n_files_8x] [records_per_file]
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

from warc_e2e_scale import synth_corpus  # noqa: E402
from warcraider_spark.session import get_spark  # noqa: E402


def _completed_stages(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _run_once(spark, warc_dir: str, out: str) -> float:
    from warcraider_spark.plans.pipeline import (
        url_resource_from_warc_records,
        write_url_resource,
    )
    from warcraider_spark.sources.warc import read_warc_auto

    t0 = time.perf_counter()
    res = url_resource_from_warc_records(read_warc_auto(spark, warc_dir))
    write_url_resource(res, out, fmt="parquet")
    return time.perf_counter() - t0


def _measure(conf: dict, warc_dir: str, records: int, label: str) -> dict:
    spark = get_spark(
        app_name=f"parse_sizing_{label}",
        extra_conf={"spark.ui.enabled": "true", **conf},
    )
    spark.sparkContext.setLogLevel("ERROR")
    scratch = tempfile.mkdtemp(prefix=f"sizing_{label}_")
    try:
        _run_once(spark, warc_dir, os.path.join(scratch, "warm"))  # codegen/JIT
        seen = {s["stageId"] for s in _completed_stages(spark)}
        reps = sorted(
            _run_once(spark, warc_dir, os.path.join(scratch, f"o{i}"))
            for i in range(3)
        )
        stages = [s for s in _completed_stages(spark) if s["stageId"] not in seen]
        map_ms = sum(
            s["executorRunTime"] for s in stages if s.get("shuffleWriteBytes", 0) > 0
        )
        return {
            "wall_sec": round(reps[1], 2),
            "wall_band": [round(reps[0], 2), round(reps[-1], 2)],
            "map_exec_ms_per_record": round(map_ms / 3.0 / records, 3),
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    per_file = int(sys.argv[2]) if len(sys.argv) > 2 else 300
    records = n_files * per_file

    root = tempfile.mkdtemp(prefix="parse_sizing_corpus_")
    try:
        synth_corpus(root, n_files, per_file)
        a = _measure({"spark.task.cpus": "1"}, root, records, "baseline")
        b = _measure({"spark.task.cpus": "2"}, root, records, "taskcpus2")
        print(
            json.dumps(
                {
                    "records": records,
                    "baseline_taskcpus1": a,
                    "taskcpus2": b,
                    "wall_ratio_b_over_a": round(
                        b["wall_sec"] / a["wall_sec"], 3
                    ),
                    "exec_ms_ratio_b_over_a": round(
                        b["map_exec_ms_per_record"] / a["map_exec_ms_per_record"], 3
                    ),
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
