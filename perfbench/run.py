#!/usr/bin/env python3
"""Run one benchmark workload against the tidb_spark engine and print its
metrics.

    python3 perfbench/run.py --workload graph_iter --seed 1 --seconds 10 --trace 0

Run it from the repository root.  One process runs one workload, so the
graph ``_SHARED`` memo, the dialect ``_engines`` memo, the persist FIFO and
Engine workspaces never carry over between runs.  One client issues the
operations in a closed loop on ``local[min(nproc, 4)]``:

1. set-up (``setup_s``): process, JVM and session start, and for ``dml_rw``
   the Engine and its managed copy of ``orders``;
2. one cold pass over the mix at sf0.1 (``first_pass_s``), which also warms
   the JVM on the exact plans the warm passes run, and one more pass that is
   checked but not timed; then a bounded JIT quiesce and a full GC outside
   every timer;
3. ``ceil(seconds / nominal pass time)`` measured warm passes.

The seed fixes the operation order within each pass and the keys and values
of ``dml_rw``.  After the timed region every result is checked against
DuckDB (``checks.py``).  Human-readable metric lines go first; the last
stdout line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run (``tracing.py``) with ``--trace 1``.  A traced run
writes its spans to ``.perfbench_out/``.  Scratch files live under
``.perfbench_tmp/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(Path(__file__).resolve().parent))

from workloads import (  # noqa: E402
    DML_TABLE,
    GRAPH_ITER,
    NOMINAL_WARM_PASS_S,
    WORKLOADS,
    Op,
    dml_pass,
    query_pass,
)

#: End-to-end metrics (the ``--trace 0`` result), name -> unit.
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "warm_qps": "1/s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "peak_rss_mb": "MB",
}

#: Printed beside the end-to-end metrics but not in the result object:
#: they are 0, or absent, on some workload.
END_TO_END_EXTRA = {
    "ops_failed_frac": "ratio",
    "write_p50_s": "s",
    "write_tail_s": "s",
    "stored_bytes_per_row": "bytes",
}

#: Per-layer metrics (the ``--trace 1`` result), name -> unit.  Sums are per
#: warm pass, reported as the median over warm passes, unless the name says
#: ``first_pass``.
PER_LAYER = {
    "engine.sql_s": "s",
    "engine.sql_calls": "count",
    "engine.stmt_cache_hit_ratio": "ratio",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.construct_jobs.first_pass": "count",
    "operators.loop_s": "s",
    "operators.loop_jobs": "count",
    "catalyst.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.jit_compile_s": "s",
    "spark.jit_compile_s.first_pass": "s",
    "spark.unattributed_jobs": "count",
    "data.cached_bytes": "bytes",
    "sources.write_s": "s",
    "sources.bytes_written_per_row_changed": "bytes",
    "sources.versions_on_disk": "count",
    "bench.op_self_s": "s",
}

#: Bound on the wait for the JIT compile queue to drain before the measured
#: passes (bench.py's r13 finding: timed runs otherwise execute C1 code while
#: C2 compiles sit in the queue).
JIT_QUIESCE_MAX_S = 2.0

#: Pass 0 is the cold pass.  Pass 1 is checked but not timed: after the cold
#: pass the JIT is still compiling (about 17 s of compile time during the
#: next graph_iter pass, against 7-8 s in later ones) and that pass ran
#: 20-40% slower than the ones after it.  Passes from 2 on are measured.
WARM_FROM = 2


def process_age_s() -> float:
    """Seconds since the kernel started this process."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    boot = time.clock_gettime(time.CLOCK_BOOTTIME)
    return boot - start_ticks / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"perfbench [{process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def version_dirs(root: str) -> list[int]:
    return [int(d[1:]) for d in os.listdir(root) if d[:1] == "v" and d[1:].isdigit()]


def tail(samples: list[tuple[int, float]]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, over
    ``(pass, latency)`` samples.  Below eleven samples there is none; then
    the median over passes of each pass's slowest sample.  A maximum would
    be a single sample, mostly from the first measured pass, on which the
    JIT is still warming the slowest operation."""
    v = sorted(x for _, x in samples)
    if len(v) >= 11:
        k = len(v) - 11
        return v[k], f"p{100.0 * (k + 1) / len(v):.1f} of {len(v)} samples, 10 beyond"
    slowest: dict[int, float] = {}
    for p, x in samples:
        slowest[p] = max(slowest.get(p, x), x)
    return statistics.median(slowest.values()), (
        f"median over {len(slowest)} passes of each pass's slowest sample "
        f"({len(v)} samples, fewer than 11)"
    )


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf", default="0.1",
        help="fixture scale factor (the self-tests use 0.001)",
    )
    a = p.parse_args(argv)
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


class Bench:
    """One workload run: session, set-up, passes and their records."""

    def __init__(self, args: argparse.Namespace, tmp: Path):
        from tidb_spark.catalog import DEFAULT_SF_DIR
        from tidb_spark.engine import Engine
        from tidb_spark.queries import all_queries
        from tidb_spark.session import get_spark

        self.args = args
        self.tmp = tmp
        self.sf_dir = str(Path(DEFAULT_SF_DIR).parent / f"sf{args.sf}")
        if not os.path.isfile(os.path.join(self.sf_dir, "orders.parquet")):
            raise SystemExit(f"perfbench: fixture directory {self.sf_dir} is missing")
        self.Engine = Engine
        self.spark = get_spark(
            "perfbench",
            **{
                "spark.driver.memory": "3g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(tmp / "spark"),
                "spark.sql.warehouse.dir": str(tmp / "warehouse"),
                "spark.executorEnv.PYTHONPATH": str(ROOT),
                # Bounds the status store the traced run scans per span.
                "spark.ui.retainedJobs": "200",
                "spark.ui.retainedStages": "500",
            },
        )
        self.registry = all_queries()
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.tracer = None
        self.counters = None
        self.engines: list = []
        self.sql_calls = 0
        self.engine = None
        if args.workload == "dml_rw":
            self.engine = Engine(self.spark, self.sf_dir, workspace=str(tmp / "ws"))
            self.engine.sql(f"CREATE TABLE {DML_TABLE} AS SELECT * FROM orders")
        if args.trace:
            from tracing import SparkCounters, Tracer

            self.counters = SparkCounters(self.spark)
            self.tracer = Tracer(self.counters)
            self._wrap_engine_sql()
        log("set-up done")

    # -- instrumentation ---------------------------------------------------

    def _wrap_engine_sql(self) -> None:
        """Time outermost ``Engine.sql`` calls and count every call; remember
        each Engine seen so its statement-cache counter can be read."""
        orig = self.Engine.sql
        depth = [0]
        bench = self

        def sql(engine, query, args=None):
            bench.sql_calls += 1
            if not any(e is engine for e in bench.engines):
                bench.engines.append(engine)
            if depth[0]:
                return orig(engine, query, args)
            depth[0] += 1
            try:
                with bench.tracer.span("engine.sql"):
                    return orig(engine, query, args)
            finally:
                depth[0] -= 1

        self.Engine.sql = sql

    def stmt_cache_hits(self) -> int:
        return sum(e._stmt_cache_hits for e in self.engines)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    # -- operations --------------------------------------------------------

    def execute(self, op: Op):
        """Run one operation; return its latency and Arrow result (``None``
        for a write).  A query is constructed, planned with
        ``executedPlan()`` on the QueryExecution that ``toArrow()`` then
        reuses, and fetched.  A write ends when ``Engine.sql`` returns: the
        new version is committed by then, and the frame it returns is the
        whole table, whose fetch would time a read."""
        t0 = time.perf_counter()
        if op.kind == "write":
            self.engine.sql(op.sql)
            return time.perf_counter() - t0, None
        if op.kind == "query":
            with self.span("queries.construct"):
                df = self.registry[op.name].spark(self.spark, self.sf_dir)
        else:
            df = self.engine.sql(op.sql)
        with self.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.span("spark.exec"):
            table = df.toArrow()
        return time.perf_counter() - t0, table

    def plan(self, n: int, rng: random.Random) -> list[list[Op]]:
        if self.args.workload == "dml_rw":
            import pyarrow.parquet as pq

            n_orders = pq.read_metadata(f"{self.sf_dir}/orders.parquet").num_rows
            n_cust = pq.read_metadata(f"{self.sf_dir}/customer.parquet").num_rows
            return [dml_pass(rng, i, n_orders, n_cust) for i in range(n)]
        return [query_pass(rng, GRAPH_ITER) for _ in range(n)]

    def run_pass(self, ops: list[Op], pass_no: int, records: list[dict]) -> None:
        from checks import arrow_hash

        for op in ops:
            rec = {"pass": pass_no, "op": op, "latency": None, "hash": None, "error": None}
            try:
                if self.tracer is None:
                    rec["latency"], table = self.execute(op)
                else:
                    rec["latency"], table = self.traced(op, pass_no, rec)
                if table is not None:
                    rec["hash"] = arrow_hash(table)
            except Exception:  # one failed operation must not end the run
                rec["error"] = traceback.format_exc()
                log(f"{op.name} failed in pass {pass_no}:\n{rec['error']}")
            records.append(rec)
            log(f"pass {pass_no} {op.name} {rec['latency']}")
        if self.tracer is not None:
            # The status store is read once per pass rather than between
            # operations, so the traced run adds little work between them.
            for rec in records:
                if rec["pass"] == pass_no and "span" in rec:
                    rec["span"]["stage"] = self.counters.stage_sums(rec["span"]["jobs"])

    def traced(self, op: Op, pass_no: int, rec: dict):
        """``execute`` inside an operation's root span, with the counters
        read at its boundaries."""
        c = self.counters
        hits0, calls0 = self.stmt_cache_hits(), self.sql_calls
        gc0, jit0 = c.gc_s(), c.jit_s()
        with self.tracer.span("op") as root:
            out = self.execute(op)
            root["gc_s"] = c.gc_s() - gc0
            root["jit_s"] = c.jit_s() - jit0
        root.update(
            pass_no=pass_no, label=op.name, loop=op.loop,
            cached_bytes=c.cached_bytes(),
            stmt_hits=self.stmt_cache_hits() - hits0,
            sql_calls=self.sql_calls - calls0,
        )
        if op.kind == "write":
            root["version_bytes"] = dir_bytes(
                os.path.join(self.table_dir(), f"v{max(version_dirs(self.table_dir()))}")
            )
        rec["span"] = root
        return out

    def jit_quiesce(self) -> None:
        """Wait, at most JIT_QUIESCE_MAX_S, until JIT compile time stops
        growing across a 100 ms window."""
        bean = self.spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        deadline = time.perf_counter() + JIT_QUIESCE_MAX_S
        last = bean.getTotalCompilationTime()
        while time.perf_counter() < deadline:
            time.sleep(0.1)
            cur = bean.getTotalCompilationTime()
            if cur == last:
                return
            last = cur

    def table_dir(self) -> str:
        return self.engine.managed[DML_TABLE].root

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.jvm_pid) + vm_hwm_mb("self")

    def shutdown(self) -> None:
        """Stop Spark, end the JVM, and wait for every child process."""
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline:
            alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            time.sleep(0.1)
        for p in alive:
            with contextlib.suppress(OSError):
                os.kill(p, 9)


def check(bench: Bench, records: list[dict]) -> dict:
    """Compare every recorded result with DuckDB, marking mismatches as
    errors; return the DML facts the metrics need."""
    from checks import Oracle

    oracle = Oracle(bench.sf_dir)
    facts: dict = {}
    try:
        if bench.engine is not None:
            expected = oracle.replay(DML_TABLE, [(r["op"].kind, r["op"].sql) for r in records])
            for r, exp in zip(records, expected):
                if r["op"].kind == "write":
                    r["rows_changed"] = exp
                elif r["error"] is None and r["hash"] != exp:
                    r["error"] = "result differs from the DuckDB replay"
            facts["live_rows"] = oracle.con.execute(
                f"SELECT COUNT(*) FROM {DML_TABLE}"
            ).fetchone()[0]
        else:
            want: dict[str, str] = {}
            for r in records:
                name = r["op"].name
                if r["error"] is not None:
                    continue
                if name not in want:
                    want[name] = oracle.query_hash(bench.registry[name].oracle)
                if r["hash"] != want[name]:
                    r["error"] = "result differs from the DuckDB oracle"
    finally:
        oracle.close()
    for r in records:
        if r["error"] is not None and r["error"].startswith("result differs"):
            log(f"{r['op'].name} pass {r['pass']}: {r['error']}")
    return facts


def end_to_end(records, setup_s, rss_mb, facts) -> tuple[dict, dict, list[str]]:
    ok = [r for r in records if r["error"] is None]
    first = [r["latency"] for r in records if r["pass"] == 0 and r["latency"] is not None]
    warm = [r for r in ok if r["pass"] >= WARM_FROM]
    reads = [(r["pass"], r["latency"]) for r in warm if r["op"].kind != "write"]
    writes = [(r["pass"], r["latency"]) for r in warm if r["op"].kind == "write"]
    read_tail, read_note = tail(reads)
    m = {
        "setup_s": setup_s,
        "first_pass_s": sum(first),
        "warm_qps": len(warm) / sum(r["latency"] for r in warm),
        "read_p50_s": statistics.median(x for _, x in reads),
        "read_tail_s": read_tail,
        "peak_rss_mb": rss_mb,
    }
    notes = [f"read_tail_s is the {read_note}"]
    extra = {"ops_failed_frac": (len(records) - len(ok)) / len(records)}
    if writes:
        extra["write_p50_s"] = statistics.median(x for _, x in writes)
        extra["write_tail_s"], write_note = tail(writes)
        notes.append(f"write_tail_s is the {write_note}")
    if "live_rows" in facts:
        extra["stored_bytes_per_row"] = facts["stored_bytes"] / facts["live_rows"]
    return m, extra, notes


def per_layer(spans: list[dict], records: list[dict], facts: dict) -> tuple[dict, list[str]]:
    """Per-pass sums of the traced spans and counters; medians over the
    warm passes."""
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    passes: dict[int, dict] = {}
    written: dict[int, list[float]] = {}
    for r in records:
        root = r.get("span")
        if root is None:
            continue
        pn = r["pass"]
        p = passes.setdefault(pn, dict.fromkeys(PER_LAYER, 0.0))
        kids = [s for s in by_op[root["op"]] if s["parent"] == "op"]
        for s in by_op[root["op"]]:
            if s["name"] == "engine.sql":  # outermost calls only: see the wrapper
                p["engine.sql_s"] += dur(s)
        for s in kids:
            if s["name"] == "queries.construct":
                p["queries.construct_s"] += dur(s)
                p["queries.construct_jobs"] += len(s["jobs"])
                if root["loop"]:
                    p["operators.loop_s"] += dur(s)
                    p["operators.loop_jobs"] += len(s["jobs"])
            elif s["name"] == "catalyst.plan":
                p["catalyst.plan_s"] += dur(s)
            elif s["name"] == "spark.exec":
                p["spark.exec_s"] += dur(s)
        if r["op"].kind == "write":
            p["sources.write_s"] += dur(root)
            if r.get("rows_changed"):
                written.setdefault(pn, []).append(root["version_bytes"] / r["rows_changed"])
        p["bench.op_self_s"] += dur(root) - sum(dur(s) for s in kids)
        p["engine.sql_calls"] += root["sql_calls"]
        p["engine.stmt_cache_hit_ratio"] += root["stmt_hits"]  # divided below
        p["spark.jobs"] += len(root["jobs"])
        for k, v in root["stage"].items():
            p[f"spark.{k}"] += v
        p["spark.gc_s"] += root["gc_s"]
        p["spark.jit_compile_s"] += root["jit_s"]
        p["data.cached_bytes"] = max(p["data.cached_bytes"], root["cached_bytes"])
    roots = [s for s in spans if s["name"] == "op"]
    for pn, p in passes.items():
        ps = [s for s in roots if s["pass_no"] == pn]
        # Jobs that started between operations, e.g. asynchronous prefetches.
        started = max(s["jobs"].stop for s in ps) - min(s["jobs"].start for s in ps)
        p["spark.unattributed_jobs"] = started - p["spark.jobs"]
        calls = p["engine.sql_calls"]
        p["engine.stmt_cache_hit_ratio"] = p["engine.stmt_cache_hit_ratio"] / calls if calls else 0.0
        w = written.get(pn)
        p["sources.bytes_written_per_row_changed"] = statistics.median(w) if w else 0.0
    warm = [passes[pn] for pn in sorted(passes) if pn >= WARM_FROM]
    m = {k: statistics.median(p[k] for p in warm) for k in PER_LAYER}
    m["queries.construct_jobs.first_pass"] = passes[0]["queries.construct_jobs"]
    m["spark.jit_compile_s.first_pass"] = passes[0]["spark.jit_compile_s"]
    m["sources.versions_on_disk"] = facts.get("versions_on_disk", 0)
    notes = [
        "spark.jit_compile_s per pass: "
        + ", ".join(f"{passes[pn]['spark.jit_compile_s']:.3f}" for pn in sorted(passes)),
        "engine.stmt_cache_hit_ratio base, Engine.sql calls per warm pass: "
        + ", ".join(str(int(p["engine.sql_calls"])) for p in warm),
    ]
    return m, notes


def measure(args: argparse.Namespace, tmp: Path) -> dict:
    bench = Bench(args, tmp)
    try:
        setup_s = process_age_s()
        rng = random.Random(args.seed)
        n_warm = max(1, math.ceil(args.seconds / NOMINAL_WARM_PASS_S[args.workload]))
        plan = bench.plan(WARM_FROM + n_warm, rng)
        records: list[dict] = []
        for i, ops in enumerate(plan):
            if i == WARM_FROM:
                bench.jit_quiesce()
                bench.spark._jvm.System.gc()
            bench.run_pass(ops, i, records)
        rss_mb = bench.peak_rss_mb()

        facts = check(bench, records)
        if bench.engine is not None:
            facts["versions_on_disk"] = len(version_dirs(bench.table_dir()))
            facts["stored_bytes"] = dir_bytes(bench.table_dir())
    finally:
        bench.shutdown()

    failed = sum(1 for r in records if r["error"] is not None)
    e2e, extra, notes = end_to_end(records, setup_s, rss_mb, facts)
    units = {**END_TO_END, **END_TO_END_EXTRA}
    prefix = "traced " if args.trace else ""
    for k, v in {**e2e, **extra}.items():
        print(f"{prefix}{k} {v!r} {units[k]}")
    print(
        f"workload {args.workload} seed {args.seed} warm passes {n_warm} "
        f"operations {len(records)} failed {failed}"
    )
    if args.trace:
        metrics, layer_notes = per_layer(bench.tracer.spans, records, facts)
        notes += layer_notes
        for k, v in metrics.items():
            print(f"{k} {v!r} {PER_LAYER[k]}")
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        bench.tracer.dump(str(out / f"trace-{args.workload}-{args.seed}.json"))
        notes.append(
            "traced run: its end-to-end figures minus an untraced run's "
            "with the same seed are the tracing overhead"
        )
        metric_units = PER_LAYER
    else:
        metrics, metric_units = e2e, END_TO_END
    for n in notes:
        print(n)
    return {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in metric_units.items()},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "tidb_spark" / "engine.py").is_file():
        print(f"perfbench: no tidb_spark package under {ROOT}", file=sys.stderr)
        return 2
    tmp = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import tidb_spark whatever the caller's cwd is.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(min(len(os.sched_getaffinity(0)), 4))
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    sys.path.insert(0, str(ROOT))
    try:
        result = measure(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            tmp.parent.rmdir()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
