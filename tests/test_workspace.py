"""The plan builders' workspace (``plans/registry.py``): every call gets its
own directory under one ``sgs_`` root per process, the root is gone once
the process exits, and no other temp-dir site exists under ``plans/``."""

from __future__ import annotations

import inspect
import os
import pathlib
import re
import subprocess
import sys
import tempfile

from split_kinesis_streams_with_glue_spark.plans.registry import workspace

REPO = pathlib.Path(__file__).resolve().parents[1]
PLANS = REPO / "split_kinesis_streams_with_glue_spark" / "plans"


def test_workspace_calls_get_distinct_dirs_under_one_root():
    a, b = workspace("x"), workspace("x")
    assert a != b
    assert os.path.isdir(a) and os.path.isdir(b)
    root = os.path.dirname(a)
    assert os.path.dirname(b) == root
    assert os.path.basename(root).startswith("sgs_")
    assert os.path.dirname(root) == tempfile.gettempdir()


def test_builder_leaves_no_workspace_after_exit(tmp_path, sf_dir):
    """A streaming builder drained in a child process whose TMPDIR is
    ``tmp_path``: its source, checkpoint and output live until the child
    exits, and no ``sgs_`` entry is left after that."""
    script = (
        "from split_kinesis_streams_with_glue_spark import get_spark\n"
        "from split_kinesis_streams_with_glue_spark.plans import all_queries\n"
        "spark = get_spark()\n"
        f"df = all_queries()['events_stream_dedup'].fn(spark, {sf_dir!r})\n"
        "assert df.count() > 0\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env, check=True, timeout=600
    )
    assert [f for f in os.listdir(tmp_path) if f.startswith("sgs_")] == []


def test_no_temp_dir_site_in_plans_outside_workspace():
    """``workspace`` is the only place under ``plans/`` that makes a temp
    dir; ``registry.py`` keeps the one ``import tempfile`` it needs."""
    own = inspect.getsource(workspace)
    offenders = []
    for path in sorted(PLANS.rglob("*.py")):
        text = path.read_text()
        if path.name == "registry.py":
            text = text.replace(own, "").replace("\nimport tempfile\n", "\n", 1)
        offenders += [
            f"{path.relative_to(REPO)}:{i}: {line.strip()}"
            for i, line in enumerate(text.splitlines(), 1)
            if re.search(r"mkdtemp|\btempfile\b", line)
        ]
    assert offenders == []
