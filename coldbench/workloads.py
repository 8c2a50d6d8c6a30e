"""The frozen workloads: which operations each runs, in which order.

An operation is a registered query (built by its query function, then
written once by the parquet sink) or the ingest stream ``rollup`` (see
``worker.Streams``).

A workload's ``first`` operations run first, in a fixed order. They are
the heavier ones: they carry most of the time and set the tail
percentiles, and a fixed position keeps a fresh JVM's warm-up (class
loading, JIT) on the same operations in every run. The seed permutes the
light ``rest`` that follows, so the order still varies between seeds
while the operations that share state are built first.
"""

from __future__ import annotations

import json
import random
from pathlib import Path

HERE = Path(__file__).resolve().parent

#: The ingest stream ``worker.Streams`` runs; every other operation is a
#: registered query.
STREAMS = ("rollup",)

WORKLOADS = {
    # Execution-bound: the hourly event rollup stream beside the reads,
    # then lineitem scans and joins, match-domain (roles, sessions) and
    # event-stream queries, and light relational queries at sub-second
    # floors. Plan construction and caching do little work here.
    "match_etl": {
        "first": (
            "rollup",
            "role_assignment",
            "session_window_stats",
            "events_near_errors",
            "top3_lineitems_per_supplier",
            "pricing_summary",
        ),
        "rest": (
            "latest_event_per_user_type",
            "hourly_event_counts",
            "order_status_tallies",
            "part_type_bucket_pivot",
            "activity_heatmap",
            "point_lookup",
            "orders_page",
            "order_flags",
            "promo_parts_by_brand",
            "type_prefix_counts",
            "last_week_event_mix",
        ),
        "stream_gen": {"batches": 2, "event_rows": 5_000},
    },
    # Construction-bound: eager classifier training shared by four
    # queries, stored IVF and PQ indexes materialized in the summary
    # cache and a Python UDF stage, then light embedding and document
    # queries that keep the median operation inside a dense cluster. No
    # streams.
    "corpus_curation": {
        "first": (
            "quality_classifier_weights",
            "ivf_stored_topk",
            "pq_stored_topk",
            "nfc_normalized_docs",
            "quality_classifier_scores",
            "classifier_calibration",
            "quality_weighted_sample",
        ),
        "rest": (
            "embedding_quantize",
            "embedding_topk",
            "embedding_bucket_sizes",
            "source_capped_docs",
            "html_stripped_docs",
            "stratified_doc_sample",
            "weighted_doc_sample",
            "cos_sim_histogram",
            "doc_quality_filter",
            "temperature_mix_rates",
            "shard_manifest",
        ),
    },
}


def expected() -> dict:
    """Expected result fingerprints of the queries."""
    return json.loads((HERE / "expected.json").read_text())


def run_order(workload: dict, seed: int) -> list[str]:
    """The order for ``seed``: ``first`` as listed, then ``rest`` permuted."""
    rest = list(workload["rest"])
    random.Random(seed).shuffle(rest)
    return [*workload["first"], *rest]


def queries(workload: dict) -> list[str]:
    """The registered queries the workload runs."""
    return [n for n in (*workload["first"], *workload["rest"]) if n not in STREAMS]
