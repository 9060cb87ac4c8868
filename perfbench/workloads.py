"""Workload definitions: which registered queries run, at which scale,
with which session set-up, and how many timed passes.

Every workload is a closed loop with one client: each query is built,
planned and sunk before the next one starts.  The benchmark seed only
permutes the query order of each pass; the query set and the input
tables are fixed, so runs with different seeds measure the same work.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

# bench.py's HEADLINE set, frozen here so the workload (and its stored
# digests) cannot drift when bench.py changes.
HEADLINE = (
    "q01_pricing_summary",
    "q03_top_revenue",
    "q07_customer_order_stats",
    "q11_running_order_totals",
    "q14_conditional_agg",
    "q19_gaps_islands",
    "q30_coord_matmul_gram",
    "q34_sparsity_analysis",
    "q47_jaccard_pairs",
    "q49_lsh_candidates",
    "q50_simhash",
    "q52_cosine_topk_arrays",
    "q53_lsh_buckets",
    "q66_attention",
    "q59a_asof_join",
)

# A fixed, stratified sample of oracle-backed registered queries, each
# near its module's median cold cost at sf0.01: one query from each of
# eight package modules, two of them chosen because they run the io
# materialization tiers (q54b: corpus_checkpoint + tracked_persist; q282:
# maybe_local_checkpoint), plus the write path -- an availableNow stream
# replay and a file-sink round trip.  Fixed, so every seed builds the
# same set.  Modules whose typical query costs several seconds a cold
# pass (graph, nn, retrieval, compiler, training) and the bucketed write
# (q168) are left out to keep a run within its time budget.
COLD_SAMPLE = (
    "q282_chi2_independence",  # analytics: maybe_local_checkpoint
    "q70_int4_pack",  # codec
    "q46_exact_dedup",  # dedup
    "q20_sessionize",  # relational
    "q85_hash_split",  # sampling
    "q54b_ivf_topk",  # similarity: corpus_checkpoint, tracked_persist
    "q37_magnitude_prune",  # tensor
    "q42_token_stats",  # text
    "q62_streaming_hourly",  # streaming: windowed availableNow replay
    "q161_profile_csv_roundtrip",  # artifacts: file sink, re-read
)


# Query latencies a run collects at the least: query_tail_s is the
# highest percentile with ten samples beyond it, so 30 samples put it at
# p66.7, above the median.
MIN_SAMPLES = 30


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    # bench-mode set-up: bench.configure_for + enable_df_cache, and the
    # caches stay warm across passes
    warm_cache: bool
    # median pass wall on a shared 4-vCPU host; turns --seconds into a
    # pass count that does not depend on the program's speed, so every
    # commit measures the same number of samples
    nominal_pass_s: float

    def passes(self, seconds: float) -> int:
        return max(
            math.ceil(MIN_SAMPLES / len(self.queries)),
            math.ceil(seconds / self.nominal_pass_s),
        )

    def order(self, seed: int, pass_no: int) -> list[str]:
        """The seed's query order for one pass (warm-up is pass 0)."""
        qs = list(self.queries)
        random.Random(f"{seed}:{pass_no}").shuffle(qs)
        return qs


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "warm-headline-sf0.02",
            0.02,
            HEADLINE,
            warm_cache=True,
            nominal_pass_s=9.3,
        ),
        Workload(
            "cold-registry-sf0.01",
            0.01,
            COLD_SAMPLE,
            warm_cache=False,
            nominal_pass_s=10.4,
        ),
    )
}

# The self-test runs every workload on this fixture scale instead.
SELFTEST_SF = 0.001
