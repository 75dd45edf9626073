"""Pinned workload definitions: which registry queries each workload
runs, and at what data scale. The lakehouse read ops are pinned in
``lake.LakeTables.read_ops``."""

from __future__ import annotations

# generated input scale (lineitem ~60k rows); at this size every query
# is dominated by per-query driver, planning and per-stage costs,
# which is what the per-layer metrics are meant to split
SF = 0.01

# Each run pays session start, a cold pass and at least three warm
# passes over its ops; the lists below are cut so that one run stays
# under about a minute on a 4-core host.

# scan-aggregate (q1, q6), join chains (q3, q5), outer join (q13),
# IN-subquery over a large group-by (q18)
TPCH = ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q13",
        "tpch_q18"]

# windows (hourly tumbling bars, top-2 rank per key), as-of join, text
# and similarity. ts_ewma and ts_vwap are not in the list: on about a
# fifth of seeds each misses its DuckDB oracle by one unit in the last
# rounded digit, because Spark's round() and DuckDB's round() break a
# midpoint tie differently
LLM_TS = [
    "ts_tumbling", "op_window_rank", "ts_asof_join", "text_quality",
    "sim_topk",
]

WORKLOADS = {
    "tpch": {"queries": TPCH, "lake": False, "udf_warmup": False},
    "llm_ts": {"queries": LLM_TS, "lake": False, "udf_warmup": True},
    "lakehouse": {"queries": [], "lake": True, "udf_warmup": True},
}
