"""Workload definitions: the operation mix of each workload and how a seed
orders it.

A pass is one run over a workload's mix.  ``graph_iter`` replays registry
queries (``Query.spark``) in a seeded order; ``dml_rw`` is a seeded stream of
MySQL-dialect statements issued through ``Engine.sql`` against a managed copy
of ``orders``.  Pass times below were measured at sf0.1 on a 4-core host
(``local[4]``), construct + plan + execute.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Op:
    """One operation of a pass.

    ``kind`` is ``"query"`` (a registry ``Query.spark`` call, checked against
    its DuckDB oracle), ``"read"`` or ``"write"`` (one ``Engine.sql``
    statement, checked against a DuckDB replay of the statement stream).
    ``loop`` marks the iterative operators (BFS, connected components,
    recursive CTE rounds) whose construct/exec cost stands in for per-round
    cost in the traced run.
    """

    name: str
    kind: str = "query"
    sql: str = ""
    loop: bool = False


# The TiGraph surface: BFS shortest paths, connected components and a MySQL
# recursive CTE through ``Engine.sql`` -- iterative operators whose
# DataFrame construction starts many small Spark jobs (graph_wcc 33 per
# pass, recursive_union 18 per pass, any_shortest_len 36 on its cold pass
# only) and moves little shuffle data.  Three operations, so the median of a
# run's samples falls inside one operation's cluster rather than in the gap
# between two.
GRAPH_ITER = (
    Op("graph_wcc", loop=True),
    Op("mysqlsql_recursive_union", loop=True),
    Op("graph_any_shortest_len", loop=True),
)

#: Managed table ``dml_rw`` writes to: a copy of ``orders`` made at set-up.
DML_TABLE = "orders_rw"

#: Measured-pass durations (seconds) on the 4-core host; a run makes
#: ``ceil(seconds / nominal)`` measured passes, so both sides of an A/B run
#: the same operations whatever their speed.
NOMINAL_WARM_PASS_S = {"graph_iter": 4.6, "dml_rw": 5.0}

WORKLOADS = tuple(NOMINAL_WARM_PASS_S)

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _reads(rng: random.Random, point_key: int, n_orders: int) -> list[Op]:
    """Point, aggregate and join reads issued after every write.  Sums go
    through DECIMAL so Spark and DuckDB agree exactly."""
    lo = rng.randrange(0, max(1, n_orders - 5000))
    return [
        Op(
            "read_point",
            "read",
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
            f"FROM {DML_TABLE} WHERE o_orderkey = {point_key}",
        ),
        Op(
            "read_agg",
            "read",
            "SELECT COUNT(*) AS n, "
            "SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS s "
            f"FROM {DML_TABLE}",
        ),
        Op(
            "read_join",
            "read",
            "SELECT c.c_nationkey, COUNT(*) AS n, "
            "SUM(CAST(o.o_totalprice AS DECIMAL(15,2))) AS s "
            f"FROM {DML_TABLE} o JOIN customer c ON o.o_custkey = c.c_custkey "
            f"WHERE o.o_orderkey BETWEEN {lo} AND {lo + 4999} "
            "GROUP BY c.c_nationkey",
        ),
    ]


def dml_pass(
    rng: random.Random, pass_no: int, n_orders: int, n_customers: int
) -> list[Op]:
    """One ``dml_rw`` pass: a 200-row INSERT, a 1000-key range UPDATE and a
    300-key range DELETE in seeded order, each followed by its reads.
    Fixture keys are ``0 .. n_orders - 1`` (customers likewise); inserted
    keys lie above that range and never repeat."""
    base = 10 * n_orders + pass_no * 1000
    rows = []
    for i in range(200):
        day = _dt.date(1995, 1, 1) + _dt.timedelta(days=rng.randrange(2400))
        rows.append(
            f"({base + i}, {rng.randrange(n_customers)}, "
            f"'{rng.choice('OFP')}', {rng.randrange(100000, 50000000) / 100:.2f}, "
            f"TIMESTAMP '{day.isoformat()} 00:00:00', "
            f"'{rng.choice(_PRIORITIES)}')"
        )
    upd = rng.randrange(0, max(1, n_orders - 1000))
    dele = rng.randrange(0, max(1, n_orders - 300))
    blocks = [
        (
            Op("insert", "write", f"INSERT INTO {DML_TABLE} VALUES " + ", ".join(rows)),
            base + rng.randrange(200),
        ),
        (
            Op(
                "update",
                "write",
                f"UPDATE {DML_TABLE} SET o_totalprice = o_totalprice + 1.25, "
                f"o_orderstatus = 'U' WHERE o_orderkey BETWEEN {upd} AND {upd + 999}",
            ),
            upd + rng.randrange(1000),
        ),
        (
            Op(
                "delete",
                "write",
                f"DELETE FROM {DML_TABLE} "
                f"WHERE o_orderkey BETWEEN {dele} AND {dele + 299}",
            ),
            dele + 300,
        ),
    ]
    rng.shuffle(blocks)
    ops: list[Op] = []
    for write, key in blocks:
        ops.append(write)
        ops.extend(_reads(rng, key, n_orders))
    return ops


def query_pass(rng: random.Random, mix: tuple[Op, ...]) -> list[Op]:
    """A registry workload's mix in seeded order."""
    return rng.sample(list(mix), len(mix))
