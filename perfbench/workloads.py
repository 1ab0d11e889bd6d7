"""Workload definitions: which registered ops run, in which order, on what input.

Each workload is one closed-loop client that runs its ops back to back.
Op names are registry names (``queries.registry.all_queries``); the input is
made by ``gen.write`` from the run's seed.
"""

from __future__ import annotations

from dataclasses import dataclass

# Unmeasured warm passes after the cold pass. Over the first few the JIT is
# still compiling the planner and each pass is faster than the one before
# (relational: 2.9, 2.9, 2.6, then 2.4-2.6 s; curation: 3.9, 3.7, 3.7, then
# 3.2-3.4 s).
WARMUP_PASSES = 3
# Measured passes run back to back until ``--seconds`` have passed, and at
# least this many. A time-bounded window keeps a run's length the same on a
# slow host, so that all runs fit the benchmark's time budget.
MIN_MEASURED_PASSES = 3


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]
    sf: float  # scale factor of the generated tables
    replica: int = 1  # k× replica of documents/embeddings/events

    @property
    def basename(self) -> str:
        """Input directory basename. The package keys its scratch namespace
        (``.scratch/<basename>``) on it, so it must be benchmark-owned and
        dot-free (the dotted and dot-free spellings then coincide)."""
        return f"perfbench_{self.name}"


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            "JVM-only TPC-H headline ops (scans, joins, aggregation, broadcast, "
            "top-k) with no Python-boundary nodes and no writes",
            (
                "q5_revenue_by_nation",
                "q1_pricing_summary",
                "q3_shipping_priority",
            ),
            sf=0.1,
        ),
        Workload(
            "curation",
            "text curation on a 4x document replica: an Arrow/pandas kernel, shingle "
            "explode and shuffle, and a gated upsert that writes beside its reads",
            (
                "text_langid",
                "dedup_substring_spans",
                "sink_upsert",
            ),
            sf=0.01,
            replica=4,
        ),
    )
}
