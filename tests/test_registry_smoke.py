"""Registry-wide smoke: every workload must EXECUTE at sf0.001 under a
terminal count() — the harshest Catalyst column-pruning context (a
count() over an applyInPandas output prunes the UDF inputs to zero
columns, which is exactly how the cogroup pruning bug escaped the
collect()-based oracle gate) — and both sides of the oracle gate must
emit driver-hashable (scalar-only) schemas.

The analysis/execution loop runs ONCE per registered workload (a
module-scoped fixture), each inside a `materialize_scope`; the individual
tests assert over its captured results, so the ~300-workload registry is
built a single time."""

from __future__ import annotations

import pytest

from sample_data_pipeline_project_spark.operators.materialize import (
    materialize_scope,
)
from sample_data_pipeline_project_spark.workloads import load_all

_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry_sweep(spark):
    """One pass over the registry: build each workload's DataFrame once,
    capture (schema, count-or-error, RDDs persisted by the run and still
    persisted after its scope, session conf keys the run changed) for the
    tests below to assert on."""
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return {int(i) for i in jsc.getPersistentRDDs().keySet()}

    results = {}
    for name, w in sorted(load_all().items()):
        before = persisted()
        conf = spark.conf.getAll
        try:
            with materialize_scope():
                df = w.fn(spark, _SF)
                schema = df.schema
                n = df.count()
            err = None
        except Exception as exc:  # noqa: BLE001 - collect all failures
            schema, n, err = None, -1, f"{type(exc).__name__}: {exc}"
        after = spark.conf.getAll
        changed = {
            k: (conf.get(k), after.get(k))
            for k in conf.keys() | after.keys()
            if conf.get(k) != after.get(k)
        }
        results[name] = (schema, n, err, persisted() - before, changed)
    return results


def test_every_workload_runs_under_terminal_count(registry_sweep):
    failures = [
        f"{name}: {err if err else 'negative count'}"
        for name, (_, n, err, _, _) in registry_sweep.items()
        if err or n < 0
    ]
    assert not failures, failures[:3]


def test_no_workload_leaves_a_persisted_rdd_after_its_scope(registry_sweep):
    """Every cache and checkpoint a workload makes goes through
    `materialize`, so closing the run's scope releases all of them."""
    leaks = {
        name: sorted(left)
        for name, (_, _, _, left, _) in registry_sweep.items()
        if left
    }
    assert not leaks, leaks


def test_no_workload_changes_the_session_conf(registry_sweep):
    """A workload's own settings ride on its writes, UDTFs or a child
    session (`engine.session_with`), never on the session it shares."""
    changed = {
        name: diff for name, (*_, diff) in registry_sweep.items() if diff
    }
    assert not changed, changed


def test_no_workload_emits_complex_typed_output(registry_sweep):
    """Driver-canon contract: the per-round correctness gate canonicalizes
    results with pandas sort_values/factorize, which throws
    `TypeError: unhashable type: 'list'` on any Array/Map/Struct cell
    (empirically: the r04 driver gate's one red row,
    features_hashing_trick, emitted array<bigint>). Every registered
    workload's FINAL schema must therefore be scalar-only — nested types
    are fine internally, but must be serialized (array_join / per-element
    columns) before return. Structural twin of the global-window and
    BNLJ-allowlist plan guards in test_plans.py."""
    from pyspark.sql import types as T

    offenders = []
    for name, (schema, _, err, _, _) in registry_sweep.items():
        if schema is None:
            continue  # execution failure already reported above
        for field in schema.fields:
            if isinstance(
                field.dataType, (T.ArrayType, T.MapType, T.StructType)
            ):
                offenders.append(f"{name}.{field.name}: {field.dataType}")
    assert not offenders, offenders


def test_no_oracle_emits_complex_typed_output():
    """Symmetric guard on the DuckDB side of the gate: binding every
    registered oracle (lazy — no execution) must yield a scalar-only
    result schema, so an oracle edit can't reintroduce the unhashable
    class from the other engine. HUGEINT is also rejected here: an
    un-cast SUM(BIGINT) hashes differently from Spark's int64 (the
    round-1 root cause, previously caught only by tools/check_oracle)."""
    import duckdb

    from sample_data_pipeline_project_spark.schema import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_SF}/{t}.parquet')"
        )
    offenders = []
    for name, w in sorted(load_all().items()):
        if w.oracle is None:
            continue
        rel = con.sql(w.oracle)
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ).upper()
            if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "LIST")) or (
                "HUGEINT" in t
            ):
                offenders.append(f"{name}.{col}: {typ}")
    assert not offenders, offenders
