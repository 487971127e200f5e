"""The oracle receipts must be content-addressed and unskippable.

``tools/evidence_audit.py`` fingerprints each key's transitive in-repo
call closure (static AST walk, source text of every interval) and
``tools/verify_oracle.py`` records the fingerprint of every key that
passes in ``ORACLE_RECEIPTS.json``. The gate below fails the suite
whenever a key's current fingerprint has no green sf0.01 receipt, i.e.
whenever an older green would silently stand in for code it never ran.

No SparkSession needed: the audit is pure AST + file reads.
"""

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def test_every_key_has_a_green_receipt_on_the_current_code():
    """The tier-1 gate. It is sound only because a key can never look
    fresh by fingerprinting nothing: closure_fp refuses an empty
    closure."""
    import pytest

    import evidence_audit as EA

    def outside_the_engine():
        pass

    with pytest.raises(ValueError, match="empty closure"):
        EA.closure_fp(outside_the_engine)

    stale = EA.stale_keys(EA.load_receipts())
    assert stale == {}, (
        f"keys without a green {EA.GATE_SF} receipt on the current code: "
        f"{stale} — re-prove them with: python tools/verify_oracle.py "
        + " ".join(sorted(stale))
    )


def test_editing_a_shared_helper_stales_exactly_its_dependents(monkeypatch):
    """Edit dedup._assign_imi_cells's source text in memory: exactly the
    keys whose closure holds that interval go stale (the two IMI keys
    among them, one through a function-local import), and no other.
    Lines inserted above every interval only renumber them: nothing goes
    stale."""
    import evidence_audit as EA
    from kafka_parquet_writer_spark.registry import (
        QUERIES,
        load_all_operators,
    )

    load_all_operators()
    fresh = {
        EA.GATE_SF: {k: {"closure_fp": EA.closure_fp(fn)} for k, fn in QUERIES.items()}
    }
    assert EA.stale_keys(fresh) == {}

    idx = EA._module_index("kafka_parquet_writer_spark.operators.dedup")
    rel = os.path.relpath(idx.path, EA.REPO)
    start, end = EA._func_span(idx.defs["_assign_imi_cells"])
    dependents = {
        k
        for k, fn in QUERIES.items()
        if (start, end) in EA.closure_of(fn).get(rel, set())
    }
    real_lines = EA._source_lines
    real_closure = EA.closure_of

    def edited(path):
        lines = list(real_lines(path))
        if path == rel:
            lines[end - 1] = lines[end - 1].rstrip("\n") + "  # edited\n"
        return tuple(lines)

    with monkeypatch.context() as m:
        m.setattr(EA, "_source_lines", edited)
        stale = EA.stale_keys(fresh)
    assert set(stale) == dependents
    assert {"dedup_embedding_ann_imi", "similarity_ann_imi"} <= dependents
    assert "agg_hash" not in dependents

    def padded(path):
        pad = ("# pad\n",) * 3 if path == rel else ()
        return pad + real_lines(path)

    def shifted(fn, _stack=frozenset()):
        clo = real_closure(fn, _stack=_stack)
        if _stack:  # composed sub-key: the outermost call shifts once
            return clo
        return {
            p: {(a + 3, b + 3) for a, b in spans} if p == rel else spans
            for p, spans in clo.items()
        }

    monkeypatch.setattr(EA, "_source_lines", padded)
    monkeypatch.setattr(EA, "closure_of", shifted)
    assert EA.stale_keys(fresh) == {}


def test_receipt_merge_records_passes_drops_failures_keeps_the_rest(tmp_path):
    import evidence_audit as EA

    path = str(tmp_path / "ORACLE_RECEIPTS.json")
    rec = lambda fp: {"closure_fp": fp, "rows": 1, "cpus": 4, "at": "t"}  # noqa: E731
    EA.record(path, "sf0.01", {"a": rec("fa"), "b": rec("fb")}, [])
    EA.record(path, "sf0.001", {"a": rec("small")}, [])
    EA.record(path, "sf0.01", {"c": rec("fc")}, ["a"])
    with open(path) as f:
        got = json.load(f)
    # green run wrote c; failure removed a; b was not run and is kept
    assert got["sf0.01"] == {"b": rec("fb"), "c": rec("fc")}
    # another SF's section is untouched
    assert got["sf0.001"] == {"a": rec("small")}
    # written via a temp file that does not linger
    assert os.listdir(tmp_path) == ["ORACLE_RECEIPTS.json"]


def test_audit_closure_reaches_shared_helpers_and_local_imports():
    """Regression pins for the exact miss classes the tool exists for:
    module-level helpers (the IMI assigner, once rewritten under two
    keys whose bodies were untouched) and
    function-LOCAL imports (similarity_ann_imi imports the assigner
    inside its body)."""
    import evidence_audit as EA
    from kafka_parquet_writer_spark.registry import (
        QUERIES,
        load_all_operators,
    )

    load_all_operators()

    def files_of(key):
        return set(EA.closure_of(QUERIES[key]))

    dedup = "kafka_parquet_writer_spark/operators/dedup.py"
    # same-module helper chain: ann -> _assign_cells/_raw_verify
    assert dedup in files_of("dedup_embedding_ann")
    # cross-module function-local import: similarity_ann_imi's body
    # imports _assign_imi_cells from dedup
    assert dedup in files_of("similarity_ann_imi")
    # class dependency: table keys must reach TxTable in tablefmt.py
    assert "kafka_parquet_writer_spark/tablefmt.py" in files_of(
        "table_merge_upsert"
    )
    # composed pipelines must reach their sub-keys' modules
    assert "kafka_parquet_writer_spark/operators/text.py" in files_of(
        "pipeline_clean_corpus"
    ) or "kafka_parquet_writer_spark/operators/web_curation.py" in files_of(
        "pipeline_clean_corpus"
    )
