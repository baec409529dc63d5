"""tools/coverage_rounds.py: which committed driver rows count as green,
and a malformed CORRECTNESS file is named and skipped."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "coverage_rounds",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "coverage_rounds.py",
    ),
)
coverage_rounds = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(coverage_rounds)


def test_red_rows_do_not_count_as_seen():
    """Round-6 regression: a name whose ONLY driver row failed (r05's
    ext_bpe_tokenize err=no_oracle) must not count as driver-green."""
    assert not coverage_rounds._row_green({"rows_match": None, "err": "no_oracle"})
    assert not coverage_rounds._row_green(
        {"rows_match": True, "schema_match": True, "hash_match": False,
         "err": None}
    )
    # rows-only weaker check (hash_match None, no err) still counts green
    assert coverage_rounds._row_green(
        {"rows_match": True, "schema_match": True, "hash_match": None,
         "err": None}
    )
    first_green, checked = coverage_rounds.driver_rounds()
    assert set(first_green) <= set(checked)


def test_malformed_correctness_file_is_named_and_skipped(tmp_path, capsys):
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        '{"q": {"rows_match": true, "schema_match": true}}'
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text('{"q": ')
    (tmp_path / "CORRECTNESS_r03.json").write_text('["q"]')
    assert coverage_rounds.driver_rounds(str(tmp_path)) == ({"q": 1}, {"q": [1]})
    err = capsys.readouterr().err
    assert f"REGISTRY-CORRECTNESS-SKIPPED: {tmp_path / 'CORRECTNESS_r02.json'}: " in err
    assert (
        f"REGISTRY-CORRECTNESS-SKIPPED: {tmp_path / 'CORRECTNESS_r03.json'}: "
        "not a JSON object" in err
    )
    assert "CORRECTNESS_r01" not in err
