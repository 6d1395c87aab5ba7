"""Frozen workload inputs. Everything a workload feeds the engine is
defined here, as a pure function of the workload seed, so engine-side
changes (fixture registries, query registries) cannot move the workload.
"""

from __future__ import annotations

import os
import random

# ----------------------------------------------------------- transcripts --

# Shape of the engine's ``t_bench`` fixture at the time the benchmark was
# frozen: 3000 conversations of 200-800 turns plus 5 hot conversations of
# 50,000 turns (Zipf head), about 1.74M turns. The workloads run it scaled
# down by a constant factor so that one run fits its time budget; the
# shape (turn-count spread, hot head, spacing) is unchanged.
T_BENCH = {"n_convs": 3000, "min_turns": 200, "max_turns": 800, "n_hot": 5, "hot_turns": 50_000}
BACKFILL_SCALE = 16  # 106,625 turns
INGEST_SCALE = 32  # 51,810 turns


def n_turns(scale: int) -> int:
    """Turns of the table at 1/scale: the expected size of the scaled
    spec, the same for every seed."""
    s = T_BENCH
    # the hot conversations are the first n_hot of n_convs
    return (s["n_convs"] // scale - s["n_hot"]) * (s["min_turns"] + s["max_turns"]) // 2 + s["n_hot"] * (
        s["hot_turns"] // scale
    )


def transcripts(spark, scale: int, seed: int):
    """The t_bench shape at 1/scale, exactly ``n_turns(scale)`` turns.

    Conversation lengths are seeded, so the generator's total varies by a
    few percent from seed to seed; for a workload whose cost is mostly
    per-job overhead that would move turns per second with the seed. The
    table is generated with a quarter more conversations and cut, in
    conversation order, at the expected size: the hot head and whole
    conversations, then the first turns of one more."""
    from sac2mseed_spark.sources.transcripts import TranscriptSpec, generate_transcripts
    from pyspark.sql import functions as F

    s = T_BENCH
    spec = TranscriptSpec(
        s["n_convs"] // scale * 5 // 4,
        s["min_turns"],
        s["max_turns"],
        n_hot=s["n_hot"],
        hot_turns=s["hot_turns"] // scale,
    )
    t = generate_transcripts(spark, spec, seed=seed)
    lengths = sorted((r["conv_id"], r["n"]) for r in t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect())
    left = n_turns(scale)
    for conv, n in lengths:
        if n >= left:
            break
        left -= n
    else:
        raise ValueError(f"1/{scale} table has fewer than {n_turns(scale)} turns")
    return t.filter((F.col("conv_id") < conv) | ((F.col("conv_id") == conv) & (F.col("turn_idx") < left)))


# ------------------------------------------------------------ ingest_serve --

# Two snapshots, cut at the median turn timestamp. The late set is every
# conversation whose seeded hash lands in 1 of LATE_MOD buckets; its turns
# with turn_idx in LATE_TURNS that fall in snapshot 1 are held back and
# delivered with snapshot 2, so any such conversation with later turns in
# snapshot 1 arrives out of order and is healed after commit 2.
N_SNAPSHOTS = 2
LATE_MOD = 5
LATE_TURNS = (40, 80)
# Timed rounds per run, at least: each replays the two snapshots on a
# fresh state directory, and the end-to-end figures are medians over them.
MIN_ROUNDS = 1
# Chain bound for the auto-compaction policy. The engine default (8) needs
# nine commits to fire, which no run can afford, so the bound is lowered
# to fire inside every two-snapshot round.
MAX_CHAIN = 1
READ_KINDS = ("packed_1m_selection", "serve_one_conv", "tier_1h_glob")


def read_mix(seed: int, n_commits: int, n_convs: int) -> list[list[dict]]:
    """Per commit, the client's seeded closed-loop reads: one of each kind
    in seeded order. ``pick`` selects the conversation among those already
    active at read time; ``lo``/``hi`` are fractions of the span a read
    looks at, resolved at read time."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for _ in range(n_commits):
        reqs = []
        for kind in rng.sample(READ_KINDS, len(READ_KINDS)):
            lo = rng.uniform(0.0, 0.6)
            req = {"kind": kind, "pick": rng.random(), "lo": lo, "hi": lo + rng.uniform(0.2, 0.4)}
            if kind == "tier_1h_glob":
                # ten conversations: conv_000000d? (d = 0 holds the hot head)
                req["glob"] = f"conv_{rng.randrange(max(n_convs // 10, 1)):07d}?"
            reqs.append(req)
        out.append(reqs)
    return out


# ----------------------------------------------------------- analytic panel --

# The timed panel, frozen here so registry changes in the engine cannot
# move it. One warm round of the 85-query suite takes ~67 s on 4 cores
# even at the 0.01 scale, which no run can afford, so each run times this
# fixed subset: the transcript-metrics family (events), the vector family
# (embeddings, an Arrow kernel) and a query whose constructor runs eager jobs
# (token_shards, documents).
PANEL = ("rollup_1m", "knn_ivf", "token_shards")

# The star-schema tables the panel reads (events, documents, embeddings):
# byte-for-byte copies of the seeded, read-only 0.01-scale fixture the
# engine's tests and bench.py use, kept here so that a run reads only its
# own checkout. The data is fixed; the workload seed sets the query order.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")
