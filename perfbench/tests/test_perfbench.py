"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

Each workload runs once per trace mode as an sf0.001 smoke, in its own
process exactly as the benchmark command runs it.  The output check is also
fed a deliberately corrupted result, which must count as a failure.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run  # noqa: E402
from checks import Oracle, arrow_hash  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SMOKE_SEED = 7


@pytest.fixture(scope="module")
def smoke():
    """workload, trace -> (stdout lines, result object) of an sf0.001 run."""
    out = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w,
                 "--seed", str(SMOKE_SEED), "--seconds", "1",
                 "--trace", str(trace), "--sf", "0.001"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            assert p.returncode == 0, p.stderr[-4000:]
            lines = p.stdout.strip().splitlines()
            out[w, trace] = lines, json.loads(lines[-1])
    return out


def test_spec_matches_runner():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_smoke_prints_every_metric(smoke, workload, trace):
    lines, res = smoke[workload, trace]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    printed = {ln.split()[-3]: ln.split()[-1] for ln in lines[:-1] if len(ln.split()) >= 3}
    extra = ["ops_failed_frac"] + (
        ["write_p50_s", "write_tail_s", "stored_bytes_per_row"] if workload == "dml_rw" else []
    )
    for name in [*run.END_TO_END, *extra]:
        unit = {**run.END_TO_END, **run.END_TO_END_EXTRA}[name]
        assert printed.get(name) == unit, (name, lines)
    for name, unit in want.items():
        assert printed.get(name) == unit, (name, lines)


def test_wcc_construction_jobs_attributed_to_its_span(smoke):
    smoke[("graph_iter", 1)]  # the traced run writes the trace file
    spans = json.loads(
        (ROOT / ".perfbench_out" / f"trace-graph_iter-{SMOKE_SEED}.json").read_text()
    )
    roots = {s["op"]: s for s in spans if s["name"] == "op" and s["label"] == "graph_wcc"}
    assert roots
    for op, root in roots.items():
        (construct,) = [s for s in spans if s["op"] == op and s["name"] == "queries.construct"]
        lo, hi = construct["jobs"]
        assert hi - lo > 0, "graph_wcc starts Spark jobs while it is constructed"
        assert root["jobs"][0] <= lo and hi <= root["jobs"][1]


class _Bench:
    """What ``run.check`` reads from a Bench, without a Spark session."""

    def __init__(self, sf_dir, registry=None, engine=None):
        self.sf_dir, self.registry, self.engine = sf_dir, registry, engine


def _record(op, table, pass_no=1):
    return {"pass": pass_no, "op": op, "latency": 0.1, "hash": arrow_hash(table), "error": None}


def _sf_dir():
    from tidb_spark.catalog import DEFAULT_SF_DIR

    return str(Path(DEFAULT_SF_DIR).parent / "sf0.001")


def test_check_counts_corrupted_query_result():
    from tidb_spark.queries import all_queries

    registry = all_queries()
    q = registry["tpch_q6"]
    con = Oracle(_sf_dir()).con
    good = con.execute(q.oracle).fetch_arrow_table()
    con.close()
    df = good.to_pandas()
    df.iloc[0, 0] = df.iloc[0, 0] + 1.0
    import pyarrow as pa

    bad = pa.Table.from_pandas(df)
    records = [_record(Op("tpch_q6"), good), _record(Op("tpch_q6"), bad)]
    run.check(_Bench(_sf_dir(), registry), records)
    assert records[0]["error"] is None
    assert records[1]["error"] == "result differs from the DuckDB oracle"


def test_check_counts_corrupted_dml_read():
    import pyarrow as pa

    ins = Op("insert", "write", "INSERT INTO orders_rw SELECT * FROM orders WHERE o_orderkey < 3")
    read = Op("read_agg", "read", "SELECT COUNT(*) AS n FROM orders_rw")
    right = pa.table({"n": pa.array([1503], pa.int64())})
    wrong = pa.table({"n": pa.array([1500], pa.int64())})
    records = [
        {"pass": 1, "op": ins, "latency": 0.1, "hash": None, "error": None},
        _record(read, right),
        _record(read, wrong),
    ]
    facts = run.check(_Bench(_sf_dir(), engine=object()), records)
    assert records[0]["rows_changed"] == 3
    assert records[1]["error"] is None
    assert records[2]["error"] == "result differs from the DuckDB replay"
    assert facts["live_rows"] == 1503


def test_tail_is_highest_percentile_with_ten_beyond():
    v, note = run.tail([(i % 3, float(i)) for i in range(1, 31)])
    assert v == 20.0 and "10 beyond" in note


def test_tail_below_eleven_samples_is_median_of_pass_maxima():
    samples = [(2, 0.5), (2, 9.0), (3, 0.4), (3, 4.0), (4, 0.6), (4, 5.0)]
    v, note = run.tail(samples)
    assert v == 5.0 and "median over 3 passes" in note
