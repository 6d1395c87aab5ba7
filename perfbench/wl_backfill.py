"""backfill: the north-star batch path.

Reads the materialised t_bench table, derives per-turn metrics, rolls
1m -> 1h -> 1d, writes the three tiers with ``write_tier``, packs 1m and 1h
and writes the packed tiers. No decode, no chain resolve, no analytics
in the timed passes; after them a traced run times the analytic panel
(``wl_query``), which feeds per-layer metrics only.

Untraced passes run the natural lazy pipeline (metrics and the 1m tier
cached, as a production job would). Traced passes keep that plan and
caching, and add a count inside the metrics and rollup spans plus a cache of
the 1h and 1d tiers and of the packed tiers, so that each span's time is that
layer's work. So the per-layer seconds describe this materialised plan, not
a split of the untraced pass; the difference between the two passes is the
tracing overhead. The source table is never cached: ``sources.scan_s`` is
the planning-time file listing and footer read, and the parquet scan itself
runs inside ``metrics.derive``.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from common import dir_bytes, log, median
from inputs import BACKFILL_SCALE, transcripts
from wl_query import run_panel

WARM_PASSES = 2
# Passes keep getting faster for about ten passes in a fresh JVM (the
# first timed one is ~10% slower than the next, the tenth ~20% faster), so
# a median over a number of passes that varies from run to run would vary
# with it. Three passes take longer than the benchmark's --seconds on a
# 4-core host, so every run times exactly these three.
MIN_PASSES = 3

FAMILIES = ("tier_1m", "tier_1h", "tier_1d", "packed_1m", "packed_1h")


def _pass(spark, table: str, out_root: str, i: int, tr) -> int:
    """One backfill pass writing each output family to
    ``out_root/<family>/pass=<i>``; returns the bytes written."""
    from sac2mseed_spark.functions.metrics import derive_turn_metrics, slim_metrics
    from sac2mseed_spark.operators.pack import pack_tier
    from sac2mseed_spark.operators.rollup import rollup_cascade
    from sac2mseed_spark.sinks.tier_tables import write_tier

    traced = tr.enabled
    cached = []

    def dest(family):
        return os.path.join(out_root, family, f"pass={i}")

    def mat(df):
        df = df.persist()
        cached.append(df)
        if traced:
            df.count()
        return df

    with tr.span("sources.scan"):
        t = spark.read.parquet(table)
    with tr.span("metrics.derive"):
        m = mat(slim_metrics(derive_turn_metrics(t, single_space_tokens=True)))
    tiers = rollup_cascade(m)
    # 1h re-aggregates the cached 1m plan, 1d the 1h one
    with tr.span("rollup.1m"):
        mat(tiers["1m"])
    if traced:
        with tr.span("rollup.1h"):
            mat(tiers["1h"])
        with tr.span("rollup.1d"):
            mat(tiers["1d"])
    with tr.span("sinks.write"):
        for name in ("1m", "1h", "1d"):
            write_tier(tiers[name], dest(f"tier_{name}"), mode="overwrite")
    packed = {}
    for name in ("1m", "1h"):
        with tr.span(f"pack.encode_{name}"):
            packed[name] = pack_tier(m, name, assume_sorted=True)
            if traced:
                packed[name] = mat(packed[name])
    with tr.span("sinks.write"):
        for name, df in packed.items():
            write_tier(df, dest(f"packed_{name}"), mode="overwrite")
    for df in cached:
        df.unpersist()
    return sum(dir_bytes(dest(f)) for f in FAMILIES)


def _check(spark, out_root: str, passes: list[int], n_turns: int) -> tuple[dict, dict]:
    """Outside timing, every pass at once: per-tier sum(n_points) == turns
    and unpacked 1m point count == turns. Returns ({pass: [errors]},
    stats of the last pass)."""
    from sac2mseed_spark.operators.pack import unpack_tier

    errors: dict[int, list[str]] = {}
    stats = {}

    def family(name):
        return spark.read.parquet(os.path.join(out_root, name)).filter(F.col("pass").isin(passes))

    for name in FAMILIES:
        aggs = [F.sum("n_points").alias("p"), F.count(F.lit(1)).alias("w")]
        if name.startswith("packed"):
            aggs.append(F.sum(F.length("payload")).alias("b"))
        for r in sorted(family(name).groupBy("pass").agg(*aggs).collect(), key=lambda r: r["pass"]):
            if r["p"] != n_turns:
                errors.setdefault(r["pass"], []).append(f"pass {r['pass']} {name}: sum(n_points)={r['p']} != {n_turns} turns")
            stats[name] = r
    for i in passes:
        n = unpack_tier(family("packed_1m").filter(F.col("pass") == i)).count()
        if n != n_turns:
            errors.setdefault(i, []).append(f"pass {i}: unpacked 1m points {n} != {n_turns}")
    stats["points"] = sum(stats[f"tier_{t}"]["w"] for t in ("1m", "1h", "1d"))
    for t in ("1m", "1h"):
        r = stats[f"packed_{t}"]
        stats[f"blobs_{t}"], stats[f"payload_{t}"], stats[f"bpp_{t}"] = r["w"], r["b"], r["b"] / r["p"]
    return errors, stats


def run(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    table = os.path.join(ctx.work, "t_bench")
    t0 = time.perf_counter()
    transcripts(spark, BACKFILL_SCALE, ctx.seed).write.parquet(table)
    n_turns = spark.read.parquet(table).count()
    # warm-up (JIT, Python workers, codec imports): the second pass still
    # runs ~20% faster than the first, so two passes precede timing
    for i in range(WARM_PASSES):
        _pass(spark, table, os.path.join(ctx.work, "warm"), i, ctx.untraced)
    setup_s = time.perf_counter() - t0
    shutil.rmtree(os.path.join(ctx.work, "warm"), ignore_errors=True)
    log(f"backfill: {n_turns} turns, setup {setup_s:.1f}s")

    out_root = os.path.join(ctx.work, "out")
    walls, passes, failed, errors = [], [], 0, []
    written = []
    m0 = time.perf_counter()
    with tr.span("measure"):
        while time.perf_counter() - m0 < ctx.seconds or len(walls) < MIN_PASSES:
            i = len(walls)
            p0 = time.perf_counter()
            try:
                with tr.span("pass"):
                    nbytes = _pass(spark, table, out_root, i, tr)
            except Exception as e:  # counted, reported, run continues
                failed += 1
                errors.append(f"pass {i}: {e!r}")
                walls.append(time.perf_counter() - p0)
                continue
            walls.append(time.perf_counter() - p0)
            passes.append(i)
            written.append(nbytes)

    pass_errors, stats = _check(spark, out_root, passes, n_turns) if passes else ({}, {})
    failed += len(pass_errors)
    errors += [e for errs in pass_errors.values() for e in errs]
    wall = median(walls)
    points = stats.get("points", 0)
    layers = {
        "sources.rows": n_turns,
        "rollup.points": points,
        "sinks.bytes_written": median(written),
        "pack.blobs": stats.get("blobs_1m", 0) + stats.get("blobs_1h", 0),
        "pack.payload_bytes": stats.get("payload_1m", 0) + stats.get("payload_1h", 0),
        "pack.bytes_per_point_1m": stats.get("bpp_1m", 0.0),
        "pack.bytes_per_point_1h": stats.get("bpp_1h", 0.0),
    }
    if tr.enabled:
        for span, metric in (
            ("sources.scan", "sources.scan_s"),
            ("metrics.derive", "metrics.derive_s"),
            ("rollup.1m", "rollup.1m_s"),
            ("rollup.1h", "rollup.1h_s"),
            ("rollup.1d", "rollup.1d_s"),
            ("pack.encode_1m", "pack.encode_1m_s"),
            ("pack.encode_1h", "pack.encode_1h_s"),
        ):
            layers[metric] = median(tr.per_parent("pass", span))
        layers["sinks.write_s"] = median(tr.per_parent("pass", "sinks.write"))
    # the analytic layer, after the passes so it never overlaps them; its
    # figures are per-layer metrics, so only traced runs time it
    panel = run_panel(ctx) if tr.enabled else {"attempted": 0, "failed": 0, "errors": [], "layers": {}, "suite_s": None}
    layers.update(panel["layers"])
    return {
        "attempted": len(walls) + panel["attempted"],
        "failed": failed + panel["failed"],
        "errors": errors + panel["errors"],
        "units": len(walls),
        "setup_s": setup_s,
        "unit_p50_s": wall,
        # turns, not rolled points: the table has the same turn count for
        # every seed, but points per turn move with the seeded spacing
        "items_per_s": n_turns / wall if wall else 0.0,
        "layers": layers,
        "detail": {
            "n_turns": n_turns,
            "passes": [round(w, 4) for w in walls],
            "backfill_points_per_s": points / wall if wall else 0.0,
            "rolled_points": points,
            "packed_bytes_per_point_1m": stats.get("bpp_1m"),
            "packed_bytes_per_point_1h": stats.get("bpp_1h"),
            "suite_s": panel["suite_s"],
        },
    }
