"""ingest_serve: the incremental pipeline and the read path.

The t_bench-shaped table is cut by ts into two append-ordered snapshots;
the second also carries late turns of a seeded set of conversations, and
``heal()`` follows its commit. A round rolls both snapshots into a fresh
state directory: they land one at a time in a closed loop (the next lands
when the last commit returns) and are rolled in by
``IncrementalRollup.process_pending``; the chain bound makes every round
cross an auto-compaction. After each commit one client runs a seeded mix of
dashboard reads: ``read_tier_selection`` on packed 1m, ``serve(now)`` for
one conversation and ``tier("1h")`` with a glob. Every round replays the
same snapshots and reads. Set-up ends with the first commit and reads of
an untimed round (the warm-up); timed rounds follow until
``--seconds`` have passed, at least MIN_ROUNDS of them, and the end-to-end
figures are medians over rounds.

Checks, outside timing: after each round's heal its tiers equal the batch
(backfill) tiers exactly and its packed 1m CRCs equal a batch
``pack_tier``; every read equals the same request applied to the batch
output over the turns visible at that commit.
"""

from __future__ import annotations

import fnmatch
import math
import os
import shutil
import time
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from common import dir_bytes, log, median, percentile
from inputs import (
    INGEST_SCALE,
    LATE_MOD,
    LATE_TURNS,
    MAX_CHAIN,
    MIN_ROUNDS,
    N_SNAPSHOTS,
    read_mix,
    transcripts,
)


def _stage(spark, scale: int, seed: int, staged: str) -> dict:
    """Cut the 1/scale table at the median ts into snapshots 1 and 2, one
    parquet dir per snapshot under ``staged`` (``snap=<k>``); the late
    set's held-back turns go to snapshot 2. Returns the round plan: ts
    bounds [first, cut, last + 1], {conv_id: (first ts, last ts)}, the
    sorted conversation ids and the seeded read mix."""
    t = transcripts(spark, scale, seed).withColumn("ts_us", F.unix_micros("ts"))
    spans = {
        r["conv_id"]: (r["lo"], r["hi"])
        for r in t.groupBy("conv_id").agg(F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")).collect()
    }
    row = t.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi"), F.percentile("ts_us", 0.5).alias("cut")
    ).first()
    cut = int(row["cut"])
    late = (F.pmod(F.xxhash64(F.lit(seed), F.col("conv_id")), F.lit(LATE_MOD)) == 0) & F.col(
        "turn_idx"
    ).between(LATE_TURNS[0], LATE_TURNS[1] - 1)
    snap = F.when((F.col("ts_us") < cut) & ~late, F.lit(1)).otherwise(F.lit(2))
    t.withColumn("snap", snap).drop("ts_us").write.partitionBy("snap").parquet(staged)
    return {
        "bounds": [int(row["lo"]), cut, int(row["hi"]) + 1],
        "spans": spans,
        "conv_ids": sorted(spans),
        "mix": read_mix(seed, N_SNAPSHOTS, len(spans)),
    }


def _read(inc, req: dict, now_us: int, span: tuple[int, int], tr) -> tuple[list, dict]:
    """One dashboard request; returns (rows, info). The time range is a
    seeded fraction of ``span``. Client-side time in the pipeline's readers plus
    planning is ``read.plan``; the collect is ``read.exec``."""
    from sac2mseed_spark.functions.selections import glob_match
    from sac2mseed_spark.operators.pack import read_tier_selection

    lo = span[0] + int(req["lo"] * (span[1] - span[0]))
    hi = span[0] + int(req["hi"] * (span[1] - span[0]))
    with tr.span("read.plan"):
        if req["kind"] == "packed_1m_selection":
            df = read_tier_selection(inc.packed_tier("1m"), [(req["glob"], lo, hi)])
        elif req["kind"] == "serve_one_conv":
            df = inc.serve(now_us).filter(F.col("conv_id") == req["glob"])
        else:
            df = inc.tier("1h").filter(glob_match("conv_id", req["glob"]))
        if tr.enabled:
            df._jdf.queryExecution().executedPlan()
    with tr.span("read.exec"):
        rows = df.collect()
    return rows, {"lo": lo, "hi": hi}


def _round(spark, staged: str, root: str, plan: dict, tr, last: int = N_SNAPSHOTS) -> dict:
    """One round on a fresh pipeline under ``root``: land, commit and read
    snapshots 1..``last`` in turn, heal after snapshot N_SNAPSHOTS.
    ``ingest_s`` is the commit, compaction and heal wall; ``wall_s`` adds
    the reads."""
    from sac2mseed_spark.plans.pipeline import IncrementalRollup

    in_dir, landing = os.path.join(root, "in"), os.path.join(root, "landing")
    os.makedirs(in_dir)
    for k in range(1, last + 1):
        shutil.copytree(os.path.join(staged, f"snap={k}"), os.path.join(landing, str(k)))
    inc = IncrementalRollup(spark, in_dir, os.path.join(root, "state"), max_chain=MAX_CHAIN)
    chain_max = [0]
    compact = inc.compact

    def traced_compact():
        # the auto-compaction policy calls self.compact() inside
        # process_pending; recording it here splits commit from compaction
        chain_max[0] = max(chain_max[0], inc.chain_length())
        with tr.span("pipeline.compact"):
            compact()

    inc.compact = traced_compact

    bounds, spans, conv_ids = plan["bounds"], plan["spans"], plan["conv_ids"]
    out = {"inc": inc, "attempted": 0, "failed": 0, "errors": [], "commits": [], "reads": [], "probes": []}
    ingest_s, probe_s = 0.0, 0.0
    r0 = time.perf_counter()
    for k in range(1, last + 1):
        c0 = time.perf_counter()
        # landing: the snapshot appears atomically in the input table
        os.rename(os.path.join(landing, str(k)), os.path.join(in_dir, f"snap_{k:08d}"))
        out["attempted"] += 1
        try:
            with tr.span("pipeline.commit"):
                inc.process_pending()
            out["commits"].append(time.perf_counter() - c0)
            chain_max[0] = max(chain_max[0], inc.chain_length())
            if k == N_SNAPSHOTS:
                out["attempted"] += 1
                with tr.span("pipeline.heal"):
                    out["healed"] = inc.heal()
                chain_max[0] = max(chain_max[0], inc.chain_length())
        except Exception as e:  # counted, reported, run continues
            out["failed"] += 1
            out["errors"].append(f"snapshot {k}: {e!r}")
        ingest_s += time.perf_counter() - c0
        now_us = bounds[k]
        active = [c for c in conv_ids if spans[c][0] < now_us]
        for req in plan["mix"][k - 1]:
            if "glob" not in req:
                req = {**req, "glob": active[int(req["pick"] * len(active))]}
            # a one-conversation read looks at that conversation's
            # history so far
            first, last = spans.get(req["glob"], (bounds[0], now_us))
            span = (first, min(last, now_us))
            out["attempted"] += 1
            q0 = time.perf_counter()
            try:
                with tr.span("read"):
                    rows, info = _read(inc, req, now_us, span, tr)
            except Exception as e:
                out["failed"] += 1
                out["errors"].append(f"read {req}: {e!r}")
                continue
            rd = {**req, **info, "version": k, "now": now_us, "rows": rows, "s": time.perf_counter() - q0}
            out["reads"].append(rd)
            if tr.enabled and req["kind"] == "packed_1m_selection":
                p0 = time.perf_counter()
                with tr.span("probe"):
                    out["probes"].append(_decode_probe(inc, rd, tr))
                # the probe is not part of the client's round
                probe_s += time.perf_counter() - p0
    out["wall_s"] = time.perf_counter() - r0 - probe_s
    out["ingest_s"] = ingest_s
    out["chain_max"] = chain_max[0]
    return out


def _norm(v):
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else v


def _rowset(rows) -> list:
    return sorted(repr(sorted((k, _norm(v)) for k, v in r.asDict().items())) for r in rows)


def _expected(m, req):
    """The same request applied to the batch path: ``m`` is the per-turn
    metrics of the turns visible at the read's commit."""
    from sac2mseed_spark.functions.selections import apply_selections
    from sac2mseed_spark.operators.retention import serve_tiered
    from sac2mseed_spark.operators.rollup import rollup_from_turns, window_start_col

    m = m.filter(F.col("conv_id").isin(req["convs"]))
    if req["kind"] == "packed_1m_selection":
        pts = apply_selections(m, [(req["glob"], req["lo"], req["hi"])]).select(
            "conv_id",
            window_start_col(F.col("ts_us"), "1m").alias("window_start_us"),
            "ts_us",
            F.col("latency_us").cast("double").alias("latency_us_f"),
            F.col("token_count").cast("double").alias("token_count_f"),
        )
        return pts.collect()
    if req["kind"] == "serve_one_conv":
        tiers = {t: rollup_from_turns(m, t) for t in ("1m", "1h", "1d")}
        return serve_tiered(tiers, req["now"]).collect()
    return rollup_from_turns(m, "1h").collect()


def _fingerprint(df: DataFrame, label: str) -> DataFrame:
    """Order-free fingerprint of a table as one row per ``label``: row count
    and the sums of both halves of a 64-bit hash over every column."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    return df.select(
        F.lit(label).alias("what"),
        F.lit(1).alias("n"),
        h.bitwiseAND(F.lit(0xFFFFFFFF)).alias("lo"),
        F.shiftright(h, 32).alias("hi"),
    )


def _check(spark, staged: str, rounds: list[dict], conv_ids: list[str], tr) -> tuple[list[str], int, int]:
    """Every round against the batch path: each tier and the packed 1m
    (conv, window, crc32) set must equal the batch recompute, and each
    read the same request on the batch path. Returns (errors, turns,
    rolled points of the batch reference, traced runs only)."""
    from sac2mseed_spark.functions.metrics import derive_turn_metrics
    from sac2mseed_spark.operators.pack import pack_tier
    from sac2mseed_spark.operators.rollup import rollup_cascade

    def visible(version):
        return spark.read.parquet(*[os.path.join(staged, f"snap={k}") for k in range(1, version + 1)])

    full = visible(N_SNAPSHOTS)
    n_turns = full.count()
    m = derive_turn_metrics(full).persist()
    key = ["conv_id", "window_start_us", "crc32"]
    ref = rollup_cascade(m)
    want = {f"tier {t}": df for t, df in ref.items()}
    want["packed 1m crc32"] = pack_tier(m, "1m").select(*key)
    prints = [_fingerprint(df, f"batch|{what}") for what, df in want.items()]
    for i, rnd in enumerate(rounds):
        inc = rnd["inc"]
        got = {f"tier {t}": inc.tier(t) for t in ref}
        got["packed 1m crc32"] = inc.packed_tier("1m").select(*key)
        prints += [_fingerprint(df, f"{i}|{what}") for what, df in got.items()]
    agg = reduce(DataFrame.unionByName, prints).groupBy("what").agg(
        F.sum("n").alias("n"), F.sum("lo").alias("lo"), F.sum("hi").alias("hi")
    )
    fp = {r["what"]: (r["n"], r["lo"], r["hi"]) for r in agg.collect()}
    errors = []
    for i in range(len(rounds)):
        for what in want:
            if fp.get(f"{i}|{what}") != fp[f"batch|{what}"]:
                errors.append(f"round {i} {what}: differs from the batch recompute")
    # rolled points, for the traced space-amplification metric only
    points = sum(fp[f"batch|tier {t}"][0] for t in ref) if tr.enabled else 0
    m.unpersist()

    # every round replays the same requests: the first round's reads define
    # them, and each expected answer is computed once
    reads = rounds[0]["reads"]
    for rd in reads:
        rd["convs"] = [c for c in conv_ids if fnmatch.fnmatchcase(c, rd["glob"])]
    by_version = {}
    for rd in reads:
        by_version.setdefault(rd["version"], set()).update(rd["convs"])
    ms = {
        v: derive_turn_metrics(visible(v).filter(F.col("conv_id").isin(sorted(convs)))).persist()
        for v, convs in by_version.items()
    }
    want_rows = {}
    for rd in reads:
        ident = (rd["version"], rd["kind"], rd["glob"], rd["lo"], rd["hi"])
        want_rows[ident] = _rowset(_expected(ms[rd["version"]], rd))
    for df in ms.values():
        df.unpersist()
    for i, rnd in enumerate(rounds):
        for rd in rnd["reads"]:
            ident = (rd["version"], rd["kind"], rd["glob"], rd["lo"], rd["hi"])
            want = want_rows.get(ident)
            if want is None or _rowset(rd["rows"]) != want:
                n_want = "?" if want is None else len(want)
                errors.append(
                    f"round {i} read {rd['kind']} {rd['glob']} v{rd['version']}: {len(rd['rows'])} rows, want {n_want}"
                )
    return errors, n_turns, points


def run(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    staged = os.path.join(ctx.work, "staged")
    t0 = time.perf_counter()
    plan = _stage(spark, INGEST_SCALE, ctx.seed, staged)
    # warm-up: the first commit of snapshot 1 on its own state directory,
    # and its reads (one of each kind), so that the timed rounds do not pay
    # for the first derive, rollup, pack-kernel and read plans in this JVM
    # or for starting the Python workers. A whole warm-up round would also
    # warm compaction and heal, but costs more than a timed round (~35 s
    # cold), which a run cannot afford, and measured no steadier.
    warm = _round(spark, staged, os.path.join(ctx.work, "warm"), plan, ctx.untraced, last=1)
    setup_s = time.perf_counter() - t0
    log(f"ingest_serve: {N_SNAPSHOTS} snapshots staged, warm round {warm['wall_s']:.1f}s, setup {setup_s:.1f}s")

    timed = []
    m0 = time.perf_counter()
    with tr.span("measure"):
        while time.perf_counter() - m0 < ctx.seconds or len(timed) < MIN_ROUNDS:
            with tr.span("round"):
                timed.append(_round(spark, staged, os.path.join(ctx.work, f"round{len(timed)}"), plan, tr))

    # ---- checks (untimed) ----
    k0 = time.perf_counter()
    errors, n_turns, points = _check(spark, staged, timed, plan["conv_ids"], tr)
    log(f"ingest_serve: checks {time.perf_counter() - k0:.1f}s")
    failed = len(errors)
    for rnd in [warm, *timed]:
        failed += rnd["failed"]
        errors += rnd["errors"]
    attempted = sum(rnd["attempted"] for rnd in [warm, *timed])

    ingest = median(r["ingest_s"] for r in timed)
    commits = [c for r in timed for c in r["commits"]]
    read_s = [rd["s"] for r in timed for rd in r["reads"]]
    layers = {
        "pipeline.chain_length_max": max(r["chain_max"] for r in timed),
        "pipeline.state_bytes_per_point": dir_bytes(timed[-1]["inc"].work_dir) / points if points else 0.0,
        "read.p50_ms": 1000 * median(read_s),
        "read.p75_ms": 1000 * percentile(read_s, 75),
    }
    if tr.enabled:
        probes = [p for r in timed for p in r["probes"]]
        layers.update(
            {
                "pipeline.commit_s": median(tr.self_durations("pipeline.commit")),
                "pipeline.compact_s": median(tr.durations("pipeline.compact")),
                "pipeline.heal_s": median(tr.durations("pipeline.heal")),
                "read.plan_s": median(tr.per_parent("read", "read.plan")),
                "read.exec_s": median(tr.per_parent("read", "read.exec")),
                "pack.decode_s": median(tr.durations("pack.decode")),
                "pack.decode_points": median(p["points"] for p in probes),
                "selections.blobs_decoded_frac": median(p["frac"] for p in probes),
            }
        )
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "units": len(timed),
        "setup_s": setup_s,
        "unit_p50_s": median(r["wall_s"] for r in timed),
        "items_per_s": n_turns / ingest if ingest else 0.0,
        "layers": layers,
        "detail": {
            "n_turns": n_turns,
            "snapshots": N_SNAPSHOTS,
            "rounds": len(timed),
            "round_s": [round(r["wall_s"], 4) for r in timed],
            "ingest_s": [round(r["ingest_s"], 4) for r in timed],
            "commits_s": [round(c, 4) for c in commits],
            "ingest_turns_per_s": n_turns / ingest if ingest else 0.0,
            "commit_p50_s": median(commits),
            "read_p50_ms": layers["read.p50_ms"],
            "read_p75_ms": layers["read.p75_ms"],
            "reads": len(read_s),
            "read_rows": [len(rd["rows"]) for rd in timed[0]["reads"]],
            "healed_convs": timed[0].get("healed", 0),
        },
    }


def _decode_probe(inc, rd: dict, tr) -> dict:
    """Traced runs only, right after a selection read and at the version it
    saw: the share of packed 1m blobs that survive the read's coarse prune
    (the predicate ``read_tier_selection`` applies before decode), their
    points, and the decode of those blobs alone, timed as ``pack.decode``."""
    from sac2mseed_spark.functions.selections import glob_match
    from sac2mseed_spark.operators.pack import unpack_tier

    packed = inc.packed_tier("1m")
    p = glob_match("conv_id", rd["glob"]) & (F.col("last_ts_us") >= rd["lo"]) & (F.col("first_ts_us") <= rd["hi"])
    kept = packed.filter(p).persist()
    row = kept.agg(F.count(F.lit(1)).alias("b"), F.sum("n_points").alias("n")).first()
    with tr.span("pack.decode"):
        unpack_tier(kept).write.format("noop").mode("overwrite").save()
    kept.unpersist()
    return {"frac": row["b"] / max(packed.count(), 1), "points": row["n"] or 0}
