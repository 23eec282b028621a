"""UDF factories whose kernels are module-level functions (pickled by
reference) must ship the package to the Python workers. A session started
outside the repository root, with no PYTHONPATH entry for it, is the
driver's situation: its workers can import ``warcraider_spark`` only
through ``dist.ensure_package_on_executors``."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# each operator runs first in its own fresh session, so no earlier UDF can
# have shipped the package for it
_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    from warcraider_spark.operators.dedup import _winnow_select
    from warcraider_spark.operators.text import gopher_repetition_table

    ROWS = [(1, "a b c\\n\\na b c"), (2, "x y"), (3, "the quick brown fox " * 3)]
    CHECKS = {{
        "repetition": lambda docs: sorted(
            r.doc_id for r in gopher_repetition_table(docs).collect()
        ) == [1, 2, 3],
        "selector": lambda docs: {{r.doc_id for r in _winnow_select(docs).collect()}}
        == {{3}},
    }}
    for name, check in CHECKS.items():
        spark = (
            SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .getOrCreate()
        )
        try:
            ok = check(spark.createDataFrame(ROWS, "doc_id long, text string"))
            print(f"{{name}}: {{'OK' if ok else 'WRONG'}}", flush=True)
        except Exception as exc:
            print(f"{{name}}: {{type(exc).__name__}} {{str(exc)[-300:]}}", flush=True)
        spark.stop()
    """
)


@pytest.fixture(scope="module")
def foreign_run(tmp_path_factory) -> subprocess.CompletedProcess:
    cwd = tmp_path_factory.mktemp("foreign_cwd")
    script = cwd / "drive.py"
    script.write_text(_SCRIPT.format(repo=REPO))
    env = dict(os.environ)
    kept = [
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    ]
    env["PYTHONPATH"] = os.pathsep.join(kept)
    return subprocess.run(
        [sys.executable, str(script)],
        cwd=str(cwd),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_repetition_table_ships_package_from_foreign_cwd(foreign_run):
    assert "repetition: OK" in foreign_run.stdout, (
        foreign_run.stdout + foreign_run.stderr[-3000:]
    )


def test_winnow_selector_ships_package_from_foreign_cwd(foreign_run):
    assert "selector: OK" in foreign_run.stdout, (
        foreign_run.stdout + foreign_run.stderr[-3000:]
    )
