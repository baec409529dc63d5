import os
import subprocess
import sys
import textwrap

import numpy as np
import pyarrow.parquet as pq

import gen

SMALL = gen.TierSpec(sf=0.001, events=2_000)

# column names and Arrow types of the fixtures (FIXTURES.md)
FIXTURE_SCHEMAS = {
    "region": "r_regionkey:int32 r_name:string",
    "nation": "n_nationkey:int32 n_name:string n_regionkey:int32",
    "customer": "c_custkey:int64 c_name:string c_nationkey:int32 c_acctbal:double "
                "c_mktsegment:string",
    "supplier": "s_suppkey:int64 s_name:string s_nationkey:int32 s_acctbal:double",
    "part": "p_partkey:int64 p_name:string p_brand:string p_type:string p_size:int32 "
            "p_retailprice:double",
    "orders": "o_orderkey:int64 o_custkey:int64 o_orderstatus:string o_totalprice:double "
              "o_orderdate:timestamp[us] o_orderpriority:string",
    "lineitem": "l_orderkey:int64 l_partkey:int64 l_suppkey:int64 l_linenumber:int32 "
                "l_quantity:double l_extendedprice:double l_discount:double l_tax:double "
                "l_returnflag:string l_linestatus:string l_shipdate:timestamp[us]",
    "events": "event_id:int64 ts:timestamp[us] user_id:int64 event_type:string "
              "value:double props:string",
}


def _bytes(path):
    return {t: open(os.path.join(path, f"{t}.parquet"), "rb").read() for t in gen.TABLES}


def test_same_seed_gives_identical_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a", "b", "c"))
    gen.write_tier(a, 7, SMALL)
    gen.write_tier(b, 7, SMALL)
    gen.write_tier(c, 8, SMALL)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a)["events"] != _bytes(c)["events"]


def test_schemas_match_the_fixtures(tmp_path):
    gen.write_tier(str(tmp_path), 1, SMALL)
    assert sorted(os.listdir(tmp_path)) == sorted(f"{t}.parquet" for t in FIXTURE_SCHEMAS)
    for table, want in FIXTURE_SCHEMAS.items():
        schema = pq.read_schema(tmp_path / f"{table}.parquet")
        assert " ".join(f"{f.name}:{f.type}" for f in schema) == want, table


def test_events_match_the_fixture_measurements():
    """The figures gen.py's docstring quotes from the fixtures, on a tier
    the size of the sf0.01 fixture's events."""
    spec = gen.TierSpec(sf=0.001, events=10_000)
    ev = gen.build_tables(5, spec)["events"].to_pandas()
    assert ev.event_id.tolist() == list(range(spec.events))
    assert ev.ts.is_monotonic_increasing
    assert str(ev.ts.min()) >= "2024-01-01" and str(ev.ts.max()) < "2024-01-31"
    per_key = ev.user_id.value_counts()
    assert len(per_key) == spec.users == 150
    assert per_key.mean() == spec.events / 150
    assert 6.0 < per_key.std() < 11.0
    shares = ev.event_type.value_counts(normalize=True)
    assert set(shares.index) == {"click", "view", "purchase", "signup", "error"}
    assert all(0.18 < s < 0.22 for s in shares)
    assert 47.0 < ev.value.mean() < 53.0 and 46.0 < ev.value.std() < 53.0
    assert ev.value.min() >= 0.0 and (ev.value == ev.value.round(2)).all()
    k = ev.props.str.extract(r'^\{"k": (\d+)\}$')[0].astype(int)
    assert k.min() == 0 and k.max() == 99


def test_star_schema_matches_the_fixture_measurements():
    t = {n: tab.to_pandas() for n, tab in gen.build_tables(3, gen.TierSpec(0.01, 10)).items()}
    assert {n: len(x) for n, x in t.items() if n != "events"} == {
        "region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
        "orders": 15000, "lineitem": 60000}
    li = t["lineitem"]
    assert sorted(li.l_linenumber.unique()) == list(range(1, 8))
    assert 14600 < li.l_orderkey.nunique() < 14850  # sf0.01 fixture: 14743
    cents = np.round(li.l_extendedprice * 100).astype(np.int64)
    assert (cents % gen._PRICE_STEP_CENTS == 0).all()
    assert cents.min() >= 900_00 and cents.max() < 105_000_00
    assert li.l_shipdate.min() >= np.datetime64("1995-01-02")
    assert t["orders"].o_orderdate.max() <= np.datetime64("2001-08-01")


def test_tier_names_are_unique_per_workload_seed_and_size():
    names = {gen.tier_name(w, s, SMALL) for w in ("a", "b") for s in (1, 2)}
    assert len(names) == 4
    assert all(n.startswith("pb_") for n in names)


def test_small_tier_passes_the_oracles(tmp_path):
    """The cdc_replicate ops and the warehouse reads on a x2 tier (twice the
    sf0.001 fixture's events) give their DuckDB oracles' answers."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {here!r})
        import gen, run
        build = {str(tmp_path)!r}
        spec = gen.TierSpec(sf=0.001, events=2000)
        stage = run.stage_program(run.ROOT, build)
        tier = os.path.join(build, gen.tier_name("test", 3, spec))
        gen.write_tier(tier, 3, spec)
        ops = run.WORKLOADS["cdc_replicate"].ops + run.WORKLOADS["warehouse_reads"].ops
        prog = run.start_program(build, stage)
        try:
            bench = run.Bench(prog, run.Workload(ops, spec, True, passes=1), tier)
            _, _, outputs = bench.warm_pass()
            bench.check(outputs)
        finally:
            run.stop_session(prog.spark)
        sys.exit(1 if bench.failed else 0)
    """)
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         timeout=900)
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
