"""The benchmark's workloads: which registry queries run, at what scale,
and how each result is consumed.

Every query name is a key of ``__spark_entry__.queries()`` with an oracle
in ``oracle_sql()``; the functions are imported from the registry, never
copied.  All workloads are closed-loop with one client: the next query is
sent only when the previous result is in.
"""

from __future__ import annotations

from dataclasses import dataclass

# relational queries shared by `interactive` and `analytic`, so scale is
# the only difference between the two workloads.  `grouped_mutate_zscore`
# and `pivot_wider` are left out: each rounds a group mean, and on the
# seeds whose data put that mean on an exact decimal tie (about 2% at
# sf0.01) Spark's round and DuckDB's ROUND break the tie differently, so
# the result differs from the oracle.  `lead_lag` (group, arrange, window
# mutate) and `pivot_wider_glue` exercise the same verbs without a tie.
RELATIONAL = (
    "tpch_q1", "tpch_q3", "tpch_q21", "lead_lag",
    "window_ranks", "pivot_wider_glue",
)

# LLM-data operators, two store writers (writes beside reads) and an
# event-time window from the streaming module
CORPUS = (
    "minhash_near_dups", "quality_signals", "exact_dedup_incremental",
    "write_shards_roundtrip", "events_sessionize",
)


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float          # TPC-H scale factor of the generated tables
    queries: tuple[str, ...]
    sink: str             # "collect": toPandas, "noop": the noop writer
    pass_s: float         # nominal pass time on 4 cores, sizes the run
    why: str

    def passes(self, seconds: float) -> int:
        """Passes that fill ``seconds`` at the nominal pass time.  A run
        makes a fixed number of passes, so every run of one workload and
        budget does the same work whatever the machine's speed."""
        return max(2, round(seconds / self.pass_s))


WORKLOADS = {w.name: w for w in (
    Workload("interactive", 0.01, RELATIONAL, "collect", 3.1,
             "analyst session on small tables, each result collected to "
             "pandas; about a third of query time is driver-side plan "
             "building"),
    Workload("analytic", 0.04, RELATIONAL, "noop", 3.4,
             "same queries on 4x the data into the noop sink, so executor "
             "work grows and driver work does not"),
    Workload("corpus", 0.01, CORPUS, "collect", 4.1,
             "near-duplicate and quality operators, store writers and an "
             "event window; the only workload that runs corpus, streaming "
             "and file sinks"),
)}
