"""The analytic panel: ``__spark_entry__`` queries (constructors over
``operators/*``) on the 0.01-scale star-schema tables, each forced with
a noop sink. It runs inside traced backfill runs, after the backfill
passes, so it never overlaps their timing, and the backfill passes warm
the JVM for it. Its timings are per-layer metrics.

Each query runs once per run, split into build (the constructor call, eager
jobs included), plan (Catalyst planning, forced) and execute (the noop
write). The check rides the timed action: an observed row count, and the
schema, must equal the values pinned in ``pinned_queries.json``.
"""

from __future__ import annotations

import json
import os
import random
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from common import log
from inputs import PANEL, SF_DIR

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned_queries.json")


def run_panel(ctx) -> dict:
    import __spark_entry__ as E

    spark, tr = ctx.spark, ctx.tracer
    with open(PINNED) as f:
        pinned = json.load(f)
    qs = E.queries()
    order = list(PANEL)
    random.Random(ctx.seed).shuffle(order)

    failed, errors = 0, []
    walls = {}
    with tr.span("suite"):
        for name in order:
            q0 = time.perf_counter()
            try:
                with tr.span(f"query.{name}"):
                    with tr.span("suite.build"):
                        df = qs[name](spark, SF_DIR)
                    with tr.span("suite.plan"):
                        # the row counter rides the timed action itself
                        obs = Observation(f"rows_{name}")
                        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("suite.exec"):
                        df.write.format("noop").mode("overwrite").save()
                walls[name] = time.perf_counter() - q0
                got = {"rows": obs.get["rows"], "schema": df.schema.simpleString()}
            except Exception as e:  # counted, reported, run continues
                failed += 1
                errors.append(f"query {name}: {e!r}")
                continue
            if got != pinned.get(name):
                failed += 1
                errors.append(f"query {name}: got {got}, pinned {pinned.get(name)}")
    suite_s = sum(walls.values())
    log(f"panel: {len(order)} queries, suite {suite_s:.2f}s")

    layers = {f"query.{n}_s": w for n, w in walls.items()}
    if tr.enabled:
        for part in ("build", "plan", "exec"):
            layers[f"suite.{part}_s"] = sum(tr.durations(f"suite.{part}"))
    return {
        "attempted": len(order),
        "failed": failed,
        "errors": errors,
        "layers": layers,
        "suite_s": suite_s,
    }

