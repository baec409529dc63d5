"""Every path the package writes resolves under the checkout it runs from.

A copy of the program (a benchmark stage, a second checkout) must keep its
inputs and scratch next to itself, so no module may spell an absolute
repository location; ``cache_util.REPO_ROOT`` is the one root.
"""

from __future__ import annotations

import os

from cdc_debezium_kafka_airflow_spark.sources import cache_util

TESTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS)
PKG = os.path.join(REPO, "cdc_debezium_kafka_airflow_spark")


def test_no_absolute_repository_literal():
    needle = '"' + "/root" + "/repo"  # split so this file does not match
    hits = []
    for top in (PKG, TESTS):
        for dp, dns, fs in os.walk(top):
            dns[:] = [d for d in dns if d != "__pycache__"]
            for f in fs:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(dp, f)
                with open(path, encoding="utf-8") as fh:
                    for n, line in enumerate(fh, 1):
                        if needle in line:
                            hits.append(f"{os.path.relpath(path, REPO)}:{n}")
    assert not hits, hits


def test_derived_input_resolves_under_the_package_parent(tmp_path):
    import shutil

    sf = tmp_path / f"sf_guard_{os.getpid()}"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"x")

    def build(path):
        os.makedirs(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    path = cache_util.derived_input(str(sf), "events", "guard", build)
    try:
        assert cache_util.REPO_ROOT == os.path.dirname(PKG)
        assert path == os.path.join(REPO, ".cache", f"guard_{sf.name}")
        assert os.path.isfile(os.path.join(path, "_FINGERPRINT"))
    finally:
        shutil.rmtree(path, ignore_errors=True)
        os.remove(path + ".lock")


def test_ship_package_names_a_skipped_ship(capsys):
    """The package zip is built in the checkout's ``.cache``; a session
    that cannot take it (no accessible context) is named on stderr, not
    passed over silently."""
    import types

    from cdc_debezium_kafka_airflow_spark import session as session_mod

    def refuse(path):
        assert path == os.path.join(REPO, ".cache", "engine_pkg.zip")
        raise RuntimeError("no context")

    ctx = types.SimpleNamespace(applicationId="app-ship-skip", addPyFile=refuse)
    session_mod._ship_package(types.SimpleNamespace(sparkContext=ctx))
    out, err = capsys.readouterr()
    assert out == ""
    assert "SHIP-PACKAGE-SKIPPED: RuntimeError: no context" in err
