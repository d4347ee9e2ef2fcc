"""Engine session conf: the width rule on a new session, `extra_conf`
pins, a live session left alone by later `get_spark()` calls, and
per-query conf through `session_with` instead of the shared session."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from sample_data_pipeline_project_spark.engine import session_with

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


def test_session_with_gives_a_query_its_conf_on_a_child(spark):
    adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.getAll
    child = session_with(spark, {_SHUFFLE: "9"})
    assert spark.conf.getAll == before
    assert child is not spark and child.sparkContext is spark.sparkContext
    assert child.conf.get(_SHUFFLE) == "9"
    assert child.conf.get(_INIT) == spark.conf.get(_INIT)
    # one child per caller and conf, re-synced to the caller on each call
    assert adv not in before
    spark.conf.set(adv, "1MB")
    try:
        assert session_with(spark, {_SHUFFLE: "9"}) is child
        assert child.conf.get(adv) == "1MB"
    finally:
        spark.conf.unset(adv)
    assert session_with(spark, {_SHUFFLE: "9"}) is child
    assert adv not in child.conf.getAll
    assert session_with(spark, {_SHUFFLE: "7"}) is not child


def test_session_with_lists_tables_the_caller_rewrote(spark):
    # without the re-sync the child keeps its listing of the first write
    # and fails with FAILED_READ_FILE.FILE_NOT_EXIST
    name = f"session_with_t_{os.getpid()}"
    try:
        spark.range(10).write.mode("overwrite").saveAsTable(name)
        assert session_with(spark, {_SHUFFLE: "9"}).table(name).count() == 10
        spark.range(25).write.mode("overwrite").saveAsTable(name)
        assert session_with(spark, {_SHUFFLE: "9"}).table(name).count() == 25
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_session_with_gives_concurrent_callers_one_child(spark):
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            kids = list(
                pool.map(lambda _: session_with(spark, {_SHUFFLE: "11"}), range(32))
            )
    finally:
        sys.setswitchinterval(interval)
    assert len({id(k) for k in kids}) == 1
    assert kids[0].conf.get(_SHUFFLE) == "11"


def test_only_the_engine_sets_session_conf():
    """A query's settings travel with the query (writer and UDTF options,
    `session_with`). The one conf write outside engine.py is
    `load_table`'s nanosAsLong fallback for sessions the engine did not
    start."""
    root = Path(__file__).resolve().parents[1]
    pkg = root / "sample_data_pipeline_project_spark"
    files = [*pkg.rglob("*.py"), *(root / "tools").glob("*.py"), *root.glob("*.py")]
    writes = re.compile(r"conf\.(set|unset)\(|sql\(\s*f?[\"']\s*(re)?set\b", re.I)
    offenders = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(files)
        if p.name != "engine.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if writes.search(line)
        and not (p.name == "catalog.py" and "NANOS_AS_LONG_CONF" in line)
    ]
    assert not offenders, offenders
