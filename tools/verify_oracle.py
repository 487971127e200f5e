"""Local approximation of the driver's t2 correctness gate.

Runs every registered query at sf0.01 through Spark AND its DuckDB
oracle, compares row count, column names, and order-insensitive values
(columns sorted by name, rows sorted, floats compared exactly AND with
tolerance so near-misses are visible).

Usage: python tools/verify_oracle.py [query ...]

An unknown query name is an error (exit 2), not an empty sweep. Every
key that passes is recorded in ORACLE_RECEIPTS.json under the SF
directory's name, with the fingerprint of its code closure (see
tools/evidence_audit.py); a key that fails loses its receipt.

Set SPARK_GRAFT_ORACLE_SF_DIR to cross-check at a different scale
(e.g. sf0.1 — 10× the driver's gate, or sf0.001 — the small-data
edge sweep; all three fixtures sweep clean as of r11). Caveat at
larger SFs: keys whose ORACLE text embeds data-size-derived literals
with bounded coverage (the ANN centroid bank covers m ≤ 64 ⟺
n ≤ 8000; see dedup_embedding_ann's docstring) mismatch BY DESIGN
past their coverage — the operator is then checked by recall tests
instead. The sf0.001 sweep is worth re-running when an operator's
gate logic changes: it surfaced that a ±2% VALUE gate on
approx-quantiles is order-statistic-gap-dominated at small n (the
r11 rank-band reformulation in governance.py).

Set SPARK_GRAFT_CPUS to sweep under a different core/shuffle-
partition count (the session sizes spark.sql.shuffle.partitions to
it): `SPARK_GRAFT_CPUS=7` re-checks every key's value hash under an
odd partitioning — the partition-count-invariance receipt (ties in
any top-k/limit/argmax that were broken by partition order instead
of an explicit tiebreak would flip the hash). All 209 keys swept
clean at 7 as of r11.

Run under an exotic TZ (`TZ=Australia/Eucla`, +08:45) to check that
no key mixes UTC and session-local time conventions — Spark's
session timezone and DuckDB's system timezone both follow the env,
so a key that pins one side to UTC while the other buckets locally
only diverges at a non-integral offset. All 209 keys swept clean
there too as of r11.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return v
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return tuple(norm_val(x) for x in v)
        if isinstance(v, bytes):
            return v.hex()
        try:
            import decimal
            if isinstance(v, decimal.Decimal):
                return float(v)
        except ImportError:
            pass
        return v

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def values_close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(s_cols, s_rows, d_cols, d_rows) -> list:
    """The gate's verdict for one key: a list of mismatch descriptions
    (empty ⟺ OK). Factored out of main() so the comparator itself is
    negative-testable (r11: the whole receipt chain rests on this
    function actually flagging differences — see
    tests/test_verify_oracle_meta.py)."""
    status = []
    if sorted(s_cols) != sorted(d_cols):
        status.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        status.append(f"count spark={len(s_rows)} duck={len(d_rows)}")
    if not status:
        ns = normalize(s_rows, s_cols)
        nd = normalize(d_rows, d_cols)
        if ns != nd:
            exact_mismatch = 0
            close_enough = True
            for a, b in zip(ns, nd):
                if a != b:
                    exact_mismatch += 1
                    if not all(values_close(x, y) for x, y in zip(a, b)):
                        close_enough = False
                        if exact_mismatch <= 3:
                            status.append(f"row diff: {a} vs {b}")
            if close_enough and not status:
                status.append(
                    f"{exact_mismatch} rows differ only in float repr "
                    "(HASH WOULD FAIL — tighten rounding)"
                )
    return status


def main() -> int:
    from kafka_parquet_writer_spark.registry import QUERIES, ORACLES, load_all_operators

    load_all_operators()
    only = set(sys.argv[1:])
    unknown = sorted(only - set(QUERIES))
    if unknown:
        print(f"unknown query keys: {unknown}", file=sys.stderr)
        return 2

    import duckdb

    from evidence_audit import RECEIPTS, closure_fp, record
    from kafka_parquet_writer_spark import get_spark

    names = [k for k in QUERIES if not only or k in only]
    # fingerprint the code as imported, before anything runs
    fps = {name: closure_fp(QUERIES[name]) for name in names}
    spark = get_spark("verify_oracle")
    cpus = spark.sparkContext.defaultParallelism

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    failures = []
    ran: dict[str, dict] = {}  # receipt per key that ran; kept if it passes
    for name in names:
        fn = QUERIES[name]
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        ran[name] = {
            "closure_fp": fps[name],
            "rows": len(s_rows),
            "cpus": cpus,
            "at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if name not in ORACLES:
            print(f"rows  {name}: {len(s_rows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(ORACLES[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        status = compare(s_cols, s_rows, d_cols, d_rows)
        if status:
            failures.append(name)
            print(f"FAIL  {name}: " + "; ".join(status)[:500])
        elif not s_rows:
            # 0 == 0 is a VACUOUS green (the r5 dedup_url lesson; hit
            # again in r12 when a stop-term ceiling pruned the whole
            # retrieval workload): it proves the oracle agrees, not
            # that the operator computes anything. Loud, not fatal —
            # some keys legitimately go empty at tiny SFs.
            print(f"OK    {name}: 0 rows match — VACUOUS (both sides "
                  f"empty; check the key is meant to be empty at this "
                  f"SF) [{time.time()-t0:.1f}s]")
        else:
            print(f"OK    {name}: {len(s_rows)} rows match "
                  f"[{time.time()-t0:.1f}s]")

    sf = os.path.basename(os.path.normpath(SF_DIR))
    passed = {k: r for k, r in ran.items() if k not in failures}
    record(RECEIPTS, sf, passed, failures)
    print(f"\nreceipts [{sf}]: {len(passed)} recorded, {len(failures)} "
          f"removed -> {os.path.basename(RECEIPTS)}")
    print(f"{len(failures)} failures: {failures}" if failures else "ALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
