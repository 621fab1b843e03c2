"""The registry workloads: ``registry_floor`` and ``iterative_ops``.

Each query is built with ``queries()[name](spark, sf_dir)`` and sunk with a
``noop`` write after ``clearCache()``, as ``bench.py`` does.  Outputs are
checked once per invocation, in the untimed warm pass, against the query's
DuckDB twin from ``oracle_sql()``; the row normalisation is the one
``scripts/oracle_check.py`` uses.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

from sysprobe import cached_tables, catalyst_phases, persistent_rdds

#: The iterative operators run on every ``iterative_ops`` pass: OPQ, whose
#: serial stage makes it one of the ROADMAP's slowest, and label
#: propagation, a fixed-point loop that runs eager jobs every round.  The
#: list is fixed so that every seed runs the same work; the seed only
#: orders it.
ITERATIVE = ("q_opq_encode", "q_label_prop")

_STRATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "strata.json")


def floor_sample(names, seed: int, k: int) -> list[str]:
    """A seeded, cost-stratified sample of ``k`` floor-tier queries.

    ``strata.json`` lists the registry's floor tier (warm cost at most
    0.2 s in a long-running session, so that per-query driver work, not
    executor compute, sets their time) in order of their latency as this
    benchmark times them.  It is cut into ``k`` consecutive strata, the
    seed picks one query from each and then shuffles their order, so every
    sample spans the whole cost range and its percentiles stay steady from
    seed to seed.  Names no longer registered are skipped."""
    with open(_STRATA) as f:
        ranked = [n for n, _ in json.load(f)["floor_tier_by_cost"] if n in names]
    rng = random.Random(seed)
    k = min(k, len(ranked))
    bounds = [round(i * len(ranked) / k) for i in range(k + 1)]
    picks = [ranked[rng.randrange(lo, hi)] for lo, hi in zip(bounds, bounds[1:])]
    rng.shuffle(picks)
    return picks


def iterative_order(names, seed: int, k: int) -> list[str]:
    picks = [n for n in ITERATIVE[:k] if n in names]
    random.Random(seed).shuffle(picks)
    return picks


def _oracle_tools(repo: str):
    """``norm_rows`` and the table list from ``scripts/oracle_check.py``.
    Importing that script prepends its own default checkout to
    ``sys.path``, so the path is restored afterwards."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        import oracle_check
    finally:
        sys.path[:] = saved
    return oracle_check.norm_rows, oracle_check.TABLES


class QueryRunner:
    def __init__(self, spark, entrymod, repo: str, sf_dir: str, tracer):
        import duckdb

        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.fns = entrymod.queries()
        self.oracles = entrymod.oracle_sql()
        self.norm_rows, tables = _oracle_tools(repo)
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )

    def close(self) -> None:
        self.con.close()

    def check(self, name: str) -> str | None:
        """Run ``name`` once, collect it and compare with its oracle.
        Returns an error text, or None when it matches."""
        self.spark.catalog.clearCache()
        try:
            sdf = self.fns[name](self.spark, self.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # counted as a failed operation
            return f"spark: {type(e).__name__}: {str(e)[:300]}"
        if name not in self.oracles:
            return "no oracle_sql() twin"
        try:
            cur = self.con.execute(self.oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # a broken twin is a failed check too
            return f"duckdb: {type(e).__name__}: {str(e)[:300]}"
        if len(srows) != len(orows):
            return f"rowcount spark={len(srows)} oracle={len(orows)}"
        if sorted(scols) != sorted(ocols):
            return f"columns spark={sorted(scols)} oracle={sorted(ocols)}"
        if self.norm_rows(scols, srows) != self.norm_rows(ocols, orows):
            return "values differ from the oracle"
        return None

    def run(self, name: str) -> tuple[float, str | None]:
        """One timed build + noop sink; returns (seconds, error)."""
        tr = self.tracer
        self.spark.catalog.clearCache()
        rdds = persistent_rdds(self.spark) if tr.enabled else None
        t0 = time.perf_counter()
        try:
            with tr.op(name):
                with tr.span("entry.build", stages=True, group=True):
                    df = self.fns[name](self.spark, self.sf_dir)
                with tr.span("exec.sink", stages=True, idle=True, group=True):
                    df.write.format("noop").mode("overwrite").save()
                if tr.enabled:
                    self._trace_after(df, rdds)
        except Exception as e:  # a failing query must not hide the rest
            return time.perf_counter() - t0, f"{type(e).__name__}: {str(e)[:300]}"
        return time.perf_counter() - t0, None

    def _trace_after(self, df, rdds_before: set[int]) -> None:
        """Cache residue (tables cached and RDDs newly persisted by this
        query, left after its sink) and its Catalyst phase times."""
        tr = self.tracer
        residue = cached_tables(self.spark) + len(
            persistent_rdds(self.spark) - rdds_before)
        tr.note_residue(residue)
        phases = catalyst_phases(df)
        for k, v in phases.items():
            tr.count(f"catalyst.{k}_s", v)
