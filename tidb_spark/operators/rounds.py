"""Pipelined driver for iterate-until-empty DataFrame loops.

Shared by the BFS family (graph/shortest.py) and the recursive-CTE
fixpoint (operators/cte.py).  The reference runs these loops as a volcano
executor feeding a table back into itself (``executor/cte.go:38-60``,
``executor/graph_shortest.go``); on Spark the loop is driver-side control
flow and each round is a distributed job, so ROUND LATENCY — not data
volume — dominates at interactive scale, and two driver-side costs
dominate round latency:

1. **Plan compilation and shuffle stages.**  ``localCheckpoint(eager=
   False)`` is not lazy under AQE: at call time it plans the round and
   RUNS every shuffle-map stage of it (one job each); only the last
   stage waits for the count.  Planning a new plan shape costs
   ~0.15-0.5 s (Catalyst analysis plus Janino whole-stage-codegen class
   compilation).  Callers keep every round's plan the SAME SHAPE (flat
   checkpoint-scan inputs re-checkpointed per round, no per-round
   literals) so the codegen cache hits and compilation drops to ~0.05 s.
2. **The round-boundary count.**  The driver needs each round's row count
   (empty → stop; rows → broadcast decision for the next round's joins).
   Run serially that adds a blocking job per round.

This driver overlaps round h's count JOB with round h+1's plan
CONSTRUCTION: round h+1 builds with the newest RESOLVED count (one round
stale) as its broadcast-decision row estimate, and when the in-flight
count lands on the other side of the broadcast threshold the round is
re-built with the exact count (its shuffle-map stages run again, since
the first build already ran them; its final stage has not run).  The
overlap stays because a sequential variant (count, then build) was
slower: mysqlsql_recursive_union 0.918 s → 0.990 s median over 13
interleaved passes on a 4-core host.  The overlap is latency-only for
the FRONTIER-side decision: those executed plans are exactly the ones
exact counts would have chosen.  Callers whose builds also size an
ACCUMULATED set (visited rows, CTE seen-keys) report that decision
through the ``replan`` hook so their threshold crossings re-plan the same
way — without it, only the frontier crossing is detected (r6 ADVICE).
"""

from __future__ import annotations

# Adaptive-broadcast policy shared by all round-loop callers: frontier /
# visited / accumulated sets at or below this many rows broadcast into
# the per-round joins (a ~30 MB two-long broadcast); larger sets fall
# back to shuffled joins.
BROADCAST_MAX_ROWS = 2_000_000


def run_rounds(
    seed, max_rounds: int, build, *, on_round=None, guard=None, replan=None
) -> list:
    """Materialize rounds ``[seed, r1, ...]`` (non-empty only).

    ``seed`` is the lazily-checkpointed round 0.  ``build(frontier, n,
    rows)`` PURELY constructs round ``n`` (a lazily-checkpointed frame)
    with ``rows`` as the frontier row estimate for its broadcast decision
    — it may be called twice for one round (re-plan), so state mutation
    belongs in ``on_round(round_df, frontier_rows)``, called exactly once
    per surviving round before the next build.  ``guard(rows, rounds_done)``
    may raise on per-round explosion or missing fixpoint (exact counts).
    ``replan(estimate, exact)`` lets a caller extend the re-plan
    predicate: return True when the exact frontier count would flip any
    OTHER size decision its build made from the estimate (e.g. an
    accumulated-set broadcast keyed off ``state_rows + rows``)."""
    from concurrent.futures import ThreadPoolExecutor

    bmax = BROADCAST_MAX_ROWS
    rounds = [seed]
    with ThreadPoolExecutor(1) as pool:
        fut = pool.submit(seed.count)
        frontier, pending, resolved = seed, None, 0
        for n in range(1, max_rounds + 1):
            exp = build(frontier, n, resolved)
            prev = fut.result()  # frontier's exact rows — the count job
            # ran while the line above planned this round
            if guard is not None:
                guard(prev, n - 1)
            if prev == 0:
                return rounds  # exp was built from an empty frontier
            if (prev <= bmax) != (resolved <= bmax) or (
                replan is not None and replan(resolved, prev)
            ):
                # stale estimate landed on the wrong side of the
                # broadcast threshold (frontier-side here, caller-side
                # via replan): re-build with the exact count (the first
                # build's shuffle-map stages already ran under AQE; the
                # re-built round runs its own)
                exp = build(frontier, n, prev)
            if on_round is not None:
                on_round(exp, prev)
            if pending is not None:
                rounds.append(pending)
            resolved = prev
            fut = pool.submit(exp.count)
            pending = exp
            frontier = exp
        last = fut.result()
        if guard is not None:
            guard(last, max_rounds)
        if pending is not None and last > 0:
            rounds.append(pending)
    return rounds
