"""Capture `.explain("formatted")` output for named queries into
plans/<round>/<query>_<tag>.txt — an optimization round's before/after
plan evidence. Optionally times each query in isolation with the noop sink
(guide §1.4: computes every column, no sink cost, no count() pruning).

Usage:
    python scripts/capture_plans.py <round> <tag> <query> [query ...]
    python scripts/capture_plans.py <round> <tag> --top N   # N slowest by BENCH_HISTORY medians
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), PLAN_NOOP=1 to
also run + time each query against the noop sink (3 trials, min).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from imposm3_spark import benchqueries as bq  # noqa: E402
from imposm3_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _top_from_history(n: int) -> list[str]:
    hist = os.path.join(REPO, "BENCH_HISTORY.jsonl")
    per_q: dict[str, list[float]] = {}
    for ln in open(hist):
        r = json.loads(ln)
        if r.get("sf") != 0.1:
            continue
        for q, sec in r["queries"].items():
            per_q.setdefault(q, []).append(sec)
    med = {q: statistics.median(v) for q, v in per_q.items()}
    return [q for q, _ in sorted(med.items(), key=lambda x: -x[1])[:n]]


def main() -> None:
    round_, tag = sys.argv[1], sys.argv[2]
    if sys.argv[3] == "--top":
        names = _top_from_history(int(sys.argv[4]))
    else:
        names = sys.argv[3:]
    out = os.path.join(REPO, "plans", round_)
    os.makedirs(out, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    noop = os.environ.get("PLAN_NOOP") == "1"
    spark = get_spark(f"plan-capture-{round_}")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    for name in names:
        fn = bq.QUERIES[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        if noop:
            trials = []
            for _ in range(3):
                spark.sparkContext.setJobDescription(f"{name} [{tag}]")
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                trials.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            timings[name] = min(trials)
            print(f"{name}: noop trials {trials}", flush=True)
    if timings:
        print(json.dumps({"tag": tag, "noop_min_sec": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
