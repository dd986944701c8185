"""tools/check_oracle.py: the local correctness gate's JSON artifact."""

from __future__ import annotations

import json
import sys


def test_value_mismatch_recorded_in_json(spark, sf_dir, tmp_path, monkeypatch):
    import __spark_entry__ as entrymod
    from tools import check_oracle

    # same row count, column names and types as the real twin; one
    # value off, so only the value comparison can fail
    oracles = dict(entrymod.oracle_sql())
    oracles["row_count_lineitem"] = (
        "SELECT count(*) + 1 AS n_rows FROM lineitem"
    )
    monkeypatch.setattr(check_oracle.entrymod, "oracle_sql", lambda: oracles)
    # reuse the test session: a second get_spark would reset its confs
    monkeypatch.setattr(check_oracle, "get_spark", lambda _name: spark)
    out = tmp_path / "oracle.json"
    monkeypatch.setattr(
        sys,
        "argv",
        ["check_oracle.py", sf_dir, "row_count_lineitem", "--json", str(out)],
    )
    assert check_oracle.main() == 1
    summary = json.loads(out.read_text())
    assert summary["n_fail"] == 1
    assert summary["queries"] == {
        "row_count_lineitem": {"status": "fail", "rows": 1, "err": "values"}
    }
