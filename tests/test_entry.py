"""Driver-contract tests: entry() smoke + full registry schema smoke.

Mirrors the driver's t1 check (entry runs, ≥0 rows, stable schema) and
asserts the queries()/oracle_sql() contract invariants the driver's t2
relies on (aliased columns, one oracle per checkable query).
"""

import __spark_entry__ as E


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns and "count_order" in df.columns


def test_registry_contract(spark):
    qs, oracles = E.queries(), E.oracle_sql()
    assert len(qs) >= 40
    assert set(oracles) <= set(qs)
    # rows-only queries are the documented exceptions (approximate ops)
    rows_only = set(qs) - set(oracles)
    assert rows_only <= {"agg_approx_distinct"}


def test_all_queries_analyzable(spark, sf_dir):
    """Every declared query builds a valid plan and a non-empty schema
    at smoke scale (catches analysis errors without full execution)."""
    for name, fn in E.queries().items():
        df = fn(spark, sf_dir)
        assert len(df.schema.fields) > 0, name
        # column names must be lowercase aliased identifiers (driver
        # sorts by name; 'sum(x)'-style autogenerated names break hashes)
        for f in df.schema.fields:
            assert "(" not in f.name, f"{name}: unaliased column {f.name}"


def test_smoke_execute_representatives(spark, sf_dir):
    reps = ["agg_hash", "join_multiway", "window_rank", "dedup_exact",
            "similarity_topk", "text_tokens", "udf_scalar"]
    for name in reps:
        assert E.queries()[name](spark, sf_dir).count() > 0, name


def test_queries_put_unreceipted_keys_first(tmp_path, monkeypatch):
    """queries() orders stalest receipt first: a key with no sf0.01
    receipt leads, then receipted keys by ascending receipt time."""
    import json

    keys = list(E.QUERIES)
    missing = keys[-1]
    # receipt times run backwards against registration order
    at = {k: f"t{len(keys) - i:04d}" for i, k in enumerate(keys[:-1])}
    receipts = {"sf0.01": {k: {"closure_fp": "x", "at": t} for k, t in at.items()},
                "sf0.001": {missing: {"closure_fp": "x", "at": "0"}}}
    path = tmp_path / "ORACLE_RECEIPTS.json"
    path.write_text(json.dumps(receipts))
    monkeypatch.setattr(E, "RECEIPTS", str(path))
    ordered = list(E.queries())
    assert ordered[0] == missing
    assert sorted(ordered) == sorted(keys)
    assert [at[k] for k in ordered[1:]] == sorted(at.values())


def test_oracle_output_dtypes_clean():
    """Every oracle's output columns must avoid DuckDB-widened types
    (HUGEINT/DECIMAL/unsigned) in ANY column, whatever expression
    produced it — the driver's value hash is dtype-sensitive, and this
    class failed tpch_q12/unpivot_long (r2) and mixture_sample (r3)."""
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from oracle_dtypes import sweep
    violations = sweep()
    assert not violations, violations
