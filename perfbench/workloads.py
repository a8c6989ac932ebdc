"""The benchmark's workloads: which registered keys a pass runs, and in
which order. The seed fixes the order and the ``evt_*`` sample; the
fixture data itself never changes."""

from __future__ import annotations

import json
import os
import random

WORKLOADS = ["olap_mix", "iterative_eager", "dedup_lsh", "write_dml"]


def sf_dir(io) -> str:
    """The bench-scale fixtures (read-only; see TESTDATA.md): the sf0.1
    sibling of the engine's default sf0.001 directory."""
    return os.path.join(os.path.dirname(io.DEFAULT_SF_DIR), "sf0.1")


# The 13 headline keys of the repository's bench.py, one per subsystem.
HEADLINE = [
    "flagship_pricing_summary",
    "join_star_multiway",
    "join_broadcast",
    "join_asof",
    "agg_rollup",
    "agg_count_distinct",
    "win_topk_per_group",
    "win_sessionize_batch",
    "stream_tumbling_window",
    "udf_pandas_scalar",
    "llm_exact_dedup",
    "llm_cosine_topk",
    "llm_tfidf",
]

ITERATIVE = [
    "graph_shortest_path",
    "stream_stream_join",
    "stream_dedup",
]

DEDUP = ["llm_minhash_det", "llm_incremental_minhash"]

# Keys whose results are too large to fingerprint in Python at sf0.1:
# they are checked on row count (``count()``) only.
ROWS_ONLY = frozenset(DEDUP)

# Number of evt_* keys olap_mix adds to the headline set: one from each
# cost stratum, so the pass time barely depends on which keys the seed
# picks.
EVT_SAMPLE = 3

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def load_fingerprints() -> dict[str, dict]:
    with open(FINGERPRINTS) as fh:
        return json.load(fh)


def evt_keys(qs: dict) -> list[str]:
    return sorted(
        k for k, fn in qs.items()
        if k.startswith("evt_") and fn.__module__.endswith("operators.analytics")
    )


def evt_sample(keys: list[str], cost: dict[str, float], rng: random.Random) -> list[str]:
    """One key from each of EVT_SAMPLE equal-count strata of ``keys``
    ordered by measured cost."""
    ranked = sorted(keys, key=lambda k: (cost.get(k, 0.0), k))
    n = len(ranked)
    bounds = [round(i * n / EVT_SAMPLE) for i in range(EVT_SAMPLE + 1)]
    return [rng.choice(ranked[lo:hi]) for lo, hi in zip(bounds, bounds[1:])]


def write_keys(qs: dict) -> list[str]:
    return sorted(k for k in qs if k.startswith(("sink_", "dml_")) or k == "ctas")


def min_passes(name: str) -> int:
    """Timed passes a run makes at least. iterative_eager has three keys of
    unlike latency, so one pass gives its median from a single sample per
    key; a second pass steadies it."""
    return 2 if name == "iterative_eager" else 1


def keys_for(name: str, qs: dict, seed: int, fingerprints: dict[str, dict]) -> list[str]:
    """The workload's keys in this seed's pass order."""
    rng = random.Random(seed)
    if name == "olap_mix":
        cost = {k: v.get("sec", 0.0) for k, v in fingerprints.items()}
        keys = HEADLINE + evt_sample(evt_keys(qs), cost, rng)
    elif name == "iterative_eager":
        keys = list(ITERATIVE)
    elif name == "dedup_lsh":
        keys = list(DEDUP)
    elif name == "write_dml":
        keys = write_keys(qs)
    else:
        raise ValueError(f"unknown workload {name!r}")
    rng.shuffle(keys)
    return keys
