"""Registry-wide latency guard (round-4 VERDICT "Next round" #8).

Env-gated like the MFDE_BURNIN sweep: ``MFDE_LATENCY=1 python -m pytest
tests/test_latency_guard.py -q`` times every bench-query against the last
driver-recorded wall time (``BENCH_r*.json``) with a 3x budget —
generous enough that the documented 3x host-window contention
(CLAUDE.md) cannot trip it, tight enough that a real plan regression
(a lost broadcast, an uncapped join, a new per-row Python stage) fails
loudly with the query named. Runs at the driver's own scale factor and
best-of-2 protocol.

Commensurability caveat (round-5 review): the budgets were recorded on
bench.py's local[32] session while this guard runs on the shared pytest
session (conftest: local[4]) — the 3x budget intentionally absorbs the
core-count handicap for the registry queries, which are shuffle/IO-bound
at sf0.1 and nowhere near 32-way CPU saturation. The extraction family
IS CPU-saturated (a 32-thread UDF stage can be legitimately ~8x slower
on 4 cores) AND its bench budget is measured over a different input (the
synthetic 60k-doc corpus, not the registry face), so those names are
excluded rather than guarded with a meaningless budget; the extraction
path has its own regression surfaces (plan pins in test_plans.py, the
per-round driver bench, the perfbench workloads in perfbench/run.py).
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import pytest

pytestmark = pytest.mark.skipif(
    not os.environ.get("MFDE_LATENCY"),
    reason="latency guard is env-gated: set MFDE_LATENCY=1",
)

REPO = Path(__file__).resolve().parent.parent
BUDGET = 3.0
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _latest_bench() -> dict[str, float]:
    recs = sorted(REPO.glob("BENCH_r*.json"))
    if not recs:
        pytest.skip("no BENCH_r*.json driver record to budget against")
    with open(recs[-1]) as f:
        d = json.load(f)
    parsed = d.get("parsed", d)
    return parsed.get("queries", {})


def test_registry_latency_budgets(spark):
    import __spark_entry__ as entry_mod

    budgets = _latest_bench()
    queries = entry_mod.queries()
    # extraction family: CPU-saturated UDF stages whose bench budgets come
    # from a different session shape AND input corpus — see module docstring
    skip = {"extract_pages", "extract_pages_salted"}
    run = [(n, b) for n, b in budgets.items() if n in queries and n not in skip]
    assert run, "no overlapping query names between budgets and registry"
    over: list[str] = []
    for name, ref in run:
        fn = queries[name]
        best = float("inf")
        for _ in range(2):  # bench.py's best-of-2 protocol
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        if best > BUDGET * ref:
            over.append(f"{name}: {best:.2f}s > {BUDGET:g}x {ref:.2f}s")
    assert not over, "latency budgets exceeded:\n" + "\n".join(over)
