"""The ``analytics`` workload: passes over registry queries on generated
TPC-H-like tables.

Spark operators and the Python/Arrow UDF paths do the work; the keyed
store and the SQL router do none.  That makes it the bypass workload for
every keyed-store change, as the kv workloads are for operator changes.

Each pass runs every query once, in an order shuffled by the seed.  The
warm-up pass (part of set-up) fixes each query's result signature: its
row count and a hash of its rows with floats rounded to 9 significant
digits, since re-associated float sums differ in the last digits from
run to run.  Every later pass must reproduce it.
"""

from __future__ import annotations

import hashlib

import numpy as np

from tracer import Recorder

# scale of the generated tables (lineitem = 6M x SF rows).  Per-query
# times at this size are mostly fixed per-query overhead, so a pass is
# short enough to repeat inside one run.
SF = 0.005

RELATIONAL = [
    "zd01_pricing_summary", "a01_regional_revenue", "z04_brand_revenue",
    "z05_forecast_revenue", "zd07_topk_parts_per_supplier",
    "zd21_sessionization", "zd22_asof_join",
]
PIPELINE = [
    "zf01_minhash_lsh_neardup", "z01_simhash_fingerprint", "zb08_ann_topk",
    "zb17_token_stats", "z43_stream_windowed_counts",
]
STREAMING = {"z43_stream_windowed_counts"}


def layer_of(name: str) -> str:
    if name in RELATIONAL:
        return "queries"
    return "streaming" if name in STREAMING else "operators"


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    return v


def signature(rows) -> tuple[int, str]:
    """Row count and an order-independent hash of the rounded rows."""
    lines = sorted(repr([_norm(v) for v in r]) for r in rows)
    return len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()


class AnalyticsWorkload:
    name = "analytics"

    def __init__(self, spark, rec: Recorder, seed: int, data_dir: str):
        from spark_sql_hbase_spark.queries import load_all

        registry = load_all()
        missing = [q for q in RELATIONAL + PIPELINE if q not in registry]
        if missing:
            raise KeyError(f"queries missing from the registry: {missing}")
        self.queries = {q: registry[q].fn for q in RELATIONAL + PIPELINE}
        self.spark, self.rec, self.data_dir = spark, rec, data_dir
        self.rng = np.random.default_rng([seed, 13])
        self.expected: dict[str, tuple[int, str]] = {}

    def run_op(self, name: str, record: bool = True) -> None:
        fn = self.queries[name]

        def check(rows) -> bool:
            sig = signature(rows)
            return self.expected.setdefault(name, sig) == sig

        self.rec.op(name, layer_of(name), lambda: fn(self.spark, self.data_dir),
                    action=lambda df: df.collect(), check=check, record=record)
        # operators cache intermediates; drop them so every pass re-runs
        # the full plan
        self.spark.catalog.clearCache()

    def warm_up(self) -> None:
        for name in self.schedule():
            self.run_op(name, record=False)

    def unit(self) -> dict[str, int]:
        """Op count of each kind in one pass."""
        return {name: 1 for name in RELATIONAL + PIPELINE}

    def schedule(self) -> list[str]:
        names = RELATIONAL + PIPELINE
        return [names[i] for i in self.rng.permutation(len(names))]
