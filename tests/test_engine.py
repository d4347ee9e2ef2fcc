"""Engine session widths: the width rule on a new session, `extra_conf`
pins, and a live session left alone by later `get_spark()` calls."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

_INIT = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_SHUFFLE = "spark.sql.shuffle.partitions"

# Runs in a fresh interpreter: the suite's shared session is already
# live, and only a session get_spark STARTS gets the width rule.
_NEW_SESSIONS = f"""
import json
from sample_data_pipeline_project_spark.engine import get_spark, stop_spark

def widths(s):
    return [s.conf.get("{_SHUFFLE}"), s.conf.get("{_INIT}")]

out = {{}}
s = get_spark(master="local[3]")
out["local3"] = widths(s) + [s.sparkContext.defaultParallelism]
stop_spark()
s = get_spark(master="local[2]", extra_conf={{"{_INIT}": "5"}})
out["pinned_init"] = widths(s)
stop_spark()
s = get_spark(master="local[2]", extra_conf={{"{_SHUFFLE}": "7"}})
out["pinned_shuffle"] = widths(s)
stop_spark()
print("WIDTHS " + json.dumps(out))
"""


def test_new_session_gets_width_rule_unless_pinned():
    root = Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=str(root))
    proc = subprocess.run(
        [sys.executable, "-c", _NEW_SESSIONS],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("WIDTHS ")]
    assert proc.returncode == 0 and lines, proc.stderr[-2000:]
    got = json.loads(lines[-1][len("WIDTHS ") :])
    # local[N] -> N shuffle partitions and an 8N wide start
    assert got["local3"] == ["3", "24", 3]
    # a value pinned in extra_conf wins; the other still follows the rule
    assert got["pinned_init"] == ["2", "5"]
    assert got["pinned_shuffle"] == ["7", "16"]


def test_get_spark_leaves_live_session_widths(spark):
    from sample_data_pipeline_project_spark.client import SparkQueryClient
    from sample_data_pipeline_project_spark.engine import get_spark

    before = (spark.conf.get(_SHUFFLE), spark.conf.get(_INIT))
    assert before == ("4", "4")  # conftest's pins
    assert get_spark() is spark
    # the client's lazy connect is a second get_spark() call
    assert SparkQueryClient().spark is spark
    assert (spark.conf.get(_SHUFFLE), spark.conf.get(_INIT)) == before
