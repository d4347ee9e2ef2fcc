"""Synthesize sf1 (10x sf0.1) parquet for SCALE-SLOPE probing ONLY.

The driver ships sf{0.001,0.01,0.1}; the 100 TB story needs at least one
measured decade above the bench scale for the heavy operator families.
This tool replicates the sf0.1 tables 10x into .scaledata/sf1 with
key-space shifts chosen so each workload's STRUCTURAL ratios stay
constant (what a real 10x corpus looks like), rather than exploding:

- documents: doc_id shifted per replica; replica r>0 suffixes every
  token with _r{r}, DECORRELATING replicas (Jaccard ~0 across replicas)
  so near-dup pair counts grow ~linearly with corpus size — replicating
  text verbatim would grow candidate pairs quadratically, which is not
  what 10x more real documents does.
- embeddings: vec_id shifted; replica r>0 applies a per-replica
  DETERMINISTIC SIGN-FLIP pattern (flip dimension i iff
  hash(r*dim + i) is odd) plus a mild magnitude drift. The sign flip
  is an orthogonal transform applied to EVERY vector of the replica,
  so intra-replica cosine geometry (near-dup clusters, IVF structure)
  is preserved EXACTLY, while cross-replica cosines collapse to
  ~N(0, 1/d) noise — near-dup pair counts therefore grow ~linearly
  with corpus size. (Round 7 found the previous uniform per-replica
  scale was cosine-INVARIANT: every replica was an exact cosine-dup
  of its base, so pair counts grew ~quadratically — 100x for 10x data
  — which inflated graph_adamic_adar's measured slope to 31.9x. That
  is not what 10x more real embeddings does.)
- events: event_id shifted; user_id shifted per replica (10x keys, the
  dimension streaming state actually scales in); ts unchanged (same
  wall-clock span, 10x density).
- orders/lineitem: orderkeys shifted per replica; custkeys/partkeys/
  suppkeys left in-range (FK targets stay the sf0.1 dims, like a bigger
  fact over the same dimensions).
- region/nation/customer/supplier/part + ledger inputs: copied as-is
  (dimensions don't scale 10x when facts do).

Output is NOT registered testdata and NOT committed (gitignored); it
exists so tools/scale_probe.py can measure t(sf1)/t(sf0.1) slopes.

Usage: python tools/make_scaled_data.py [out_dir] [factor] [table ...]
(table subset optional — e.g. `... .scaledata/sf10 100 documents` builds
the second-decade corpus for the dedup families only, skipping the
tables those probes never read)
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SRC = Path("/root/testdata/sf0.1")


def main() -> int:
    out = Path(sys.argv[1] if len(sys.argv) > 1 else REPO / ".scaledata" / "sf1")
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    only = set(sys.argv[3:])  # empty = all tables
    out.mkdir(parents=True, exist_ok=True)

    import duckdb

    con = duckdb.connect()
    for t in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "documents",
        "embeddings",
        "events",
        "orders",
        "lineitem",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SRC}/{t}.parquet')"
        )

    # key shifts: one decade above the observed max keeps ids disjoint
    shifts = {}
    for t, k in [
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
        ("events", "user_id"),
        ("orders", "o_orderkey"),
    ]:
        shifts[(t, k)] = con.sql(f"SELECT MAX({k}) + 1 FROM {t}").fetchone()[0]

    rng = f"range({factor})"  # replica index r in 0..factor-1

    copies = ["region", "nation", "customer", "supplier", "part"]
    for t in copies:
        if only and t not in only:
            continue
        shutil.copyfile(SRC / f"{t}.parquet", out / f"{t}.parquet")
        print(f"copied {t}")

    jobs = {
        "documents": f"""
            SELECT d.doc_id + r.range * {shifts[('documents','doc_id')]} AS doc_id,
                   CASE WHEN r.range = 0 THEN d.text
                        ELSE list_aggregate(
                               list_transform(string_split(d.text, ' '),
                                              x -> x || '_r' || r.range),
                               'string_agg', ' ')
                   END AS text,
                   d.lang, d.source, d.n_chars
            FROM documents d CROSS JOIN {rng} r
        """,
        "embeddings": f"""
            SELECT e.vec_id + r.range * {shifts[('embeddings','vec_id')]} AS vec_id,
                   list_transform(
                       list_zip(e.embedding,
                                range(1, len(e.embedding) + 1)),
                       z -> CAST(z[1] * (1.0 + 0.013 * r.range)
                                 * (CASE WHEN r.range > 0
                                          AND (hash(r.range * 1024 + z[2]) & 1) = 1
                                         THEN -1 ELSE 1 END)
                             AS FLOAT)) AS embedding,
                   e.label
            FROM embeddings e CROSS JOIN {rng} r
        """,
        "events": f"""
            SELECT e.event_id + r.range * {shifts[('events','event_id')]} AS event_id,
                   e.ts,
                   e.user_id + r.range * {shifts[('events','user_id')]} AS user_id,
                   e.event_type, e.value, e.props
            FROM events e CROSS JOIN {rng} r
        """,
        "orders": f"""
            SELECT o.o_orderkey + r.range * {shifts[('orders','o_orderkey')]} AS o_orderkey,
                   o.o_custkey, o.o_orderstatus, o.o_totalprice,
                   o.o_orderdate, o.o_orderpriority
            FROM orders o CROSS JOIN {rng} r
        """,
        "lineitem": f"""
            SELECT l.l_orderkey + r.range * {shifts[('orders','o_orderkey')]} AS l_orderkey,
                   l.l_partkey, l.l_suppkey, l.l_linenumber, l.l_quantity,
                   l.l_extendedprice, l.l_discount, l.l_tax,
                   l.l_returnflag, l.l_linestatus, l.l_shipdate
            FROM lineitem l CROSS JOIN {rng} r
        """,
    }
    for t, q in jobs.items():
        if only and t not in only:
            continue
        con.execute(
            f"COPY ({q}) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.sql(
            f"SELECT COUNT(*) FROM read_parquet('{out}/{t}.parquet')"
        ).fetchone()[0]
        print(f"scaled {t}: {n} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
