"""Local replica of the driver's correctness gate: run every registered
workload on Spark AND its DuckDB oracle at a given sf dir, compare
row-count + column names + order-insensitive value hash.

DRIVER-CANON PARITY: both driver red rows in this project's history
(r01 x6, r04 x1) were local-green/driver-red encoding divergences — the
old tuple-based canon here stringified cells the driver's pandas
``sort_values``/``factorize`` canonicalizer could not hash
(``TypeError: unhashable type: 'list'`` on array<bigint>). This checker
therefore now fetches BOTH sides as pandas DataFrames (Spark via
``toPandas()``, DuckDB via ``.df()`` — the driver's fetch path) and runs
the driver's canonicalization steps verbatim before hashing:

  1. ``sort_values`` over all columns (throws on unorderable cells),
  2. ``pd.factorize`` per column (throws on unhashable cells),
  3. tz-aware datetime dtypes are rejected outright (the gate's data
     contract is TIMESTAMP_NTZ end-to-end),

so ANY cell the driver cannot canonicalize fails HERE at build time,
not at driver sampling time. The value hash itself stays
order-insensitive (sorted canonical lines, md5), computed from the same
pandas frames.

Usage: python tools/check_oracle.py [--json OUT.json] [sf_dir] [query_name ...]

``--json OUT.json`` additionally writes a driver-shaped artifact (one
object per workload with rows/schema/hash match booleans, row counts and
the error string) so a full local sweep — e.g. the sf0.1 run that is
verify step 5 — is committable and auditable without re-running Spark.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# Widening coercions (NaN==NULL, midnight-timestamp==DATE) are justified
# by observed driver behavior but mask two real divergence classes; count
# each firing so the per-workload report can SAY a coercion carried the
# match instead of letting the masked class disappear silently
# (ADVICE r6). Reset around each workload's pair of canon_frame calls.
_COERCIONS: dict[str, int] = {"nan_as_null": 0, "midnight_ts_as_date": 0}


def canon_value(v) -> str:
    """Canonical string for one cell. Must agree for the same logical value
    across Spark-toPandas and DuckDB-.df() scalar repertoires (numpy
    scalars, pd.Timestamp, Decimal, bytes)."""
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            # In pandas frames NaN IS the missing-value encoding — a NULL
            # boolean arrives as None from Spark-toPandas but as NaN from
            # DuckDB-.df(), and the driver's factorize maps both to the
            # same NA sentinel. NULL-vs-NaN is unobservable at the gate.
            _COERCIONS["nan_as_null"] += 1
            return "NULL"
        return repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):  # includes pd.Timestamp
        # DATE columns arrive as dt.date from Spark-toPandas but as
        # midnight datetime64 from DuckDB-.df(); the driver gate treats
        # them as equal (driver-green history on DATE-emitting
        # workloads), so midnight timestamps canonicalize date-only.
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            _COERCIONS["midnight_ts_as_date"] += 1
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


class DriverCanonError(Exception):
    """The driver's pandas canonicalizer would throw on this frame."""


def canon_frame(pdf) -> tuple[int, list[str], str]:
    """Driver-canon a pandas result frame: reproduce the gate's
    sort_values + factorize pass (raising DriverCanonError where the
    driver would raise), then return (row_count, sorted_columns,
    order-insensitive md5 of canonical lines)."""
    import pandas as pd

    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    # Contract: naive timestamps only. A tz-aware dtype would hash
    # differently from the oracle's naive timestamps at the driver.
    for c in cols:
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            raise DriverCanonError(f"tz-aware datetime column {c!r}")
        if str(pdf[c].dtype).startswith("datetime64"):
            # normalize resolution so ns-vs-us fetch units stringify alike
            pdf[c] = pdf[c].astype("datetime64[us]")
    if len(pdf):
        # Step 1: the driver's whole-frame sort. Unorderable mixed-type
        # object cells raise TypeError here, exactly as at the gate.
        try:
            pdf = pdf.sort_values(by=cols, kind="mergesort", ignore_index=True)
        except TypeError as exc:
            raise DriverCanonError(f"sort_values: {exc}") from exc
    # Step 2: the driver's factorize-style hash. Unhashable cells
    # (list/dict/ndarray — the r01/r04 red-row class) raise TypeError.
    for c in cols:
        try:
            pd.factorize(pdf[c])
        except TypeError as exc:
            raise DriverCanonError(f"factorize({c}): {exc}") from exc
    lines = sorted(
        "|".join(canon_value(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(pdf), cols, h


def canon_lines(pdf) -> list[str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    for c in cols:
        if str(pdf[c].dtype).startswith("datetime64") and "," not in str(
            pdf[c].dtype
        ):
            pdf[c] = pdf[c].astype("datetime64[us]")
    return sorted(
        "|".join(canon_value(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
            print("usage: check_oracle.py [sf_dir] [name ...] [--json PATH]")
            return 2
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import duckdb

    from sample_data_pipeline_project_spark.engine import get_spark
    from sample_data_pipeline_project_spark.operators.materialize import (
        materialize_scope,
    )
    from sample_data_pipeline_project_spark.schema import TESTDATA_TABLES
    from sample_data_pipeline_project_spark.workloads import load_all

    spark = get_spark()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    registry = load_all()
    failures = []
    # driver-shaped per-workload report (CORRECTNESS_r{N}.json schema)
    report: dict[str, dict] = {}

    def record(
        name,
        rows_match=False,
        schema_match=False,
        hash_match=False,
        spark_rows=None,
        oracle_rows=None,
        err=None,
    ):
        report[name] = {
            "rows_match": rows_match,
            "schema_match": schema_match,
            "hash_match": hash_match,
            "spark_rows": spark_rows,
            "oracle_rows": oracle_rows,
            "err": err,
        }

    for name, w in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # what the workload materializes is released once collected
            with materialize_scope():
                spdf = w.fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            record(name, err=f"spark error: {exc}")
            continue
        t1 = time.time()
        if w.oracle is None:
            print(f"skip  {name}: no oracle ({len(spdf)} rows, {t1-t0:.1f}s)")
            # rows_match=None, NOT True: nothing was compared. A consumer
            # counting matches must treat null as "rows-only check ran"
            # (see err), not as a pass — a trivially-true boolean here
            # overcounted matches for no-oracle workloads.
            record(
                name,
                rows_match=None,
                spark_rows=len(spdf),
                err="no oracle (rows-only check)",
            )
            continue
        try:
            rel = con.sql(w.oracle)
            # The driver's canonicalization distinguishes int64 from int128:
            # an un-cast SUM(BIGINT) yields HUGEINT in DuckDB and hash-mismatches
            # even when values are identical (round-1 root cause). Catch locally.
            bad = [
                c
                for c, t in zip(rel.columns, rel.types)
                if "HUGEINT" in str(t).upper()
            ]
            if bad:
                print(f"FAIL  {name}: oracle HUGEINT column(s) {bad} — add CAST(... AS BIGINT)")
                failures.append(name)
                record(name, spark_rows=len(spdf), err=f"oracle HUGEINT column(s) {bad}")
                continue
            dpdf = rel.df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            record(name, spark_rows=len(spdf), err=f"duckdb error: {exc}")
            continue
        t2 = time.time()
        for k in _COERCIONS:
            _COERCIONS[k] = 0
        try:
            sn, sc, sh = canon_frame(spdf)
        except DriverCanonError as exc:
            print(f"FAIL  {name}: spark side not driver-canonicalizable: {exc}")
            failures.append(name)
            record(name, spark_rows=len(spdf), oracle_rows=len(dpdf),
                   err=f"spark side not driver-canonicalizable: {exc}")
            continue
        try:
            dn, dc, dh = canon_frame(dpdf)
        except DriverCanonError as exc:
            print(f"FAIL  {name}: oracle side not driver-canonicalizable: {exc}")
            failures.append(name)
            record(name, spark_rows=len(spdf), oracle_rows=len(dpdf),
                   err=f"oracle side not driver-canonicalizable: {exc}")
            continue
        record(
            name,
            rows_match=sn == dn,
            schema_match=sc == dc,
            hash_match=sh == dh,
            spark_rows=sn,
            oracle_rows=dn,
        )
        status = "ok" if (sn, sc, sh) == (dn, dc, dh) else "FAIL"
        fired = {k: n for k, n in _COERCIONS.items() if n}
        note = f"  [coerced: {fired}]" if fired else ""
        print(
            f"{status:5} {name}: spark {sn} rows {t1-t0:.1f}s | duck {dn} rows {t2-t1:.1f}s{note}"
        )
        if status == "FAIL":
            failures.append(name)
            if sc != dc:
                print(f"      cols spark={sc}\n      cols duck ={dc}")
            elif sn != dn:
                print(f"      rowcount spark={sn} duck={dn}")
            else:
                sset = canon_lines(spdf)
                dset = canon_lines(dpdf)
                diffs = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
                for a, b in diffs:
                    print(f"      spark: {a}\n      duck : {b}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=2, sort_keys=True)
            fh.write("\n")
        print(f"wrote {json_out} ({len(report)} workloads)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
