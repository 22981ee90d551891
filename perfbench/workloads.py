"""The benchmark's workloads: which statements run, on which layout, and
what one timed call of each statement is.

A statement's timed region is the call a user makes: build or submit the
statement, execute it, and fetch or sink its result.  Nothing built is
reused across timed calls.
"""

from __future__ import annotations

from dataclasses import dataclass

# Presto-spelled SQL texts of queries/sqltext.py and the registry names
# of their oracles.
PRESTO_TEXTS = {
    "PRESTO_DATETIME": "sql_presto_datetime",
    "PRESTO_TRY_UNNEST": "sql_presto_try_unnest",
    "PRESTO_AGGREGATES": "sql_presto_aggregates",
    "PRESTO_QDIGEST": "func_qdigest_quantile",
}

# One statement per mechanism, so that a run stays short: explode/aggregate
# shuffles (minhash), a model build inside the call (PQ codebook), the
# mapInPandas Arrow boundary (audio codec), and stateful streaming (a
# watermarked window aggregate run from a fresh checkpoint).
PIPELINE = [
    "dedup_minhash_lsh",
    "sim_pq_adc",
    "multimodal_audio_features",
]
STREAMING = [
    "events_streaming_tumbling",
]


@dataclass
class Statement:
    name: str
    oracle_sql: str
    sql: str | None = None  # SQL text submitted through Engine.sql
    builder: str | None = None  # registry builder name


@dataclass(frozen=True)
class Workload:
    name: str
    base: str  # fixture set under perfbench/fixtures/
    copies: int  # key-shifted copies of the base (1: the base as it is)
    # "sql": one Engine.sql per statement, fetched with toPandas;
    # "builder": registry builder per statement, sunk with a noop save
    path: str
    # passes before timing; the JVM's JIT compiler is still busy on the
    # SQL path for a pass after the first (about 13 of 23 s of CPU)
    prewarm_passes: int = 1

    def statements(self, registry, sqltext) -> list[Statement]:
        """The workload's statements; needs the loaded query registry."""
        if self.path == "sql":
            out = [
                Statement(n, registry.ORACLES[n], sql=registry.ORACLES[n])
                for n in sorted(registry.QUERIES)
                if n.startswith("tpch_")
            ]
            return out + [
                Statement(a.lower(), registry.ORACLES[o], sql=getattr(sqltext, a))
                for a, o in PRESTO_TEXTS.items()
            ]
        return [
            Statement(n, registry.ORACLES[n], builder=n) for n in PIPELINE + STREAMING
        ]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("sql_tpch_sf0.01", base="sf0.01", copies=1, path="sql", prewarm_passes=2),
        Workload("pipeline_stream_sf0.01x2", base="sf0.01", copies=2, path="builder"),
    )
}
