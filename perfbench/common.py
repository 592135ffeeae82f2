"""Helpers shared by the workloads: the run context, the timed
closed loop, medians and order-insensitive table digests."""

from __future__ import annotations

import gc
import statistics
import time
from dataclasses import dataclass, field

from spans import Tracer


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    workdir: str
    smoke: bool
    launch_s: float
    tamper: bool = False  # corrupt one expected value: the gate must fail
    # filled by the workload
    attempted: int = 0
    failed: int = 0
    checks: list[str] = field(default_factory=list)  # failed check messages
    step_walls: list[float] = field(default_factory=list)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def check(self, ok: bool, what: str) -> bool:
        """Record one correctness check; a failure fails its step."""
        if not ok:
            self.checks.append(what)
        return ok


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def timed_reps(fn, reps: int) -> tuple[list[float], list]:
    """Call fn() reps times; return the walls and the results."""
    walls, results = [], []
    for _ in range(reps):
        t = time.perf_counter()
        results.append(fn())
        walls.append(time.perf_counter() - t)
    return walls, results


def closed_loop(ctx: Context, step, min_steps: int, max_steps: int) -> list[float]:
    """Run step(i) back to back, at least min_steps and at most max_steps
    times, for the number of steps that ends nearest to ctx.seconds: the
    next step starts only while the run would end within half a median step
    of it. Return each step's wall. One caller, each step starts when the
    previous one returns."""
    walls = []
    t0 = time.perf_counter()
    for i in range(max_steps):
        if i >= min_steps and time.perf_counter() - t0 + median(walls) / 2 > ctx.seconds:
            break
        gc.collect()  # drop the previous step's py4j handles before timing
        t = time.perf_counter()
        ok = step(i)
        walls.append(time.perf_counter() - t)
        ctx.attempted += 1
        if not ok:
            ctx.failed += 1
    ctx.step_walls = walls
    return walls


def table_digests(tables: dict) -> dict:
    """(row count, order-insensitive content hash) per table, in one job.

    The hash is the sum of xxhash64 over all columns of each row, so two
    tables agree exactly when they hold the same multiset of rows (up to
    hash collisions)."""
    from functools import reduce

    from pyspark.sql import functions as F

    keys = list(tables)
    parts = [
        tables[key].select(
            F.lit(i).alias("t"),
            F.xxhash64(*[F.col(c) for c in sorted(tables[key].columns)]).cast("decimal(38,0)").alias("h"),
        )
        for i, key in enumerate(keys)
    ]
    rows = (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"))
        .collect()
    )
    out = {key: (0, "0") for key in keys}
    out.update({keys[r["t"]]: (r["n"], str(r["h"])) for r in rows})
    return out
