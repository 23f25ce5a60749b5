"""Which end-to-end metric, on which workload, each per-layer metric should
move. ``BENCHMARK.json`` holds the metric names, units and bounds; this map
is the part of the catalogue that file has no place for. The traced run
prints it next to each per-layer value.
"""

from __future__ import annotations

BUILD = "bulk_per_s @ ingest (each append runs build_all), setup_s (base build)"
INDEX_BUILD = "setup_s @ ingest, setup_s @ query"
WRITE = "bulk_per_s @ ingest"
FRESH = "request_p50_ms @ ingest"
QUERY = "request_p50_ms @ query"
BATCH = "bulk_per_s @ query"
CURATE = "none (traced query runs only)"


def _fields(prefix: str, moves: str, *fields: str) -> dict[str, str]:
    return {f"{prefix}.{f}": moves for f in fields}


_COUNTERS = ("wall_s", "jobs", "stages", "task_s", "shuffle_write_bytes", "spill_bytes",
             "driver_s", "utilization")

MOVES = {
    **_fields("tokenizer.postings_spimi", BUILD, "wall_s", "task_s", "postings"),
    **_fields("build.build_all", BUILD, "wall_s"),
    **_fields("build.segments", BUILD, "wall_s", "task_s", "shuffle_write_bytes", "spill_bytes"),
    "build.bytes_per_posting": f"index_bytes_per_text_byte @ ingest, {FRESH}",
    **_fields("index.build_index", INDEX_BUILD, *_COUNTERS),
    **_fields("index.append_index", WRITE, "wall_s", "jobs", "task_s", "shuffle_write_bytes",
              "driver_s"),
    **_fields("index.compact_index", WRITE, "wall_s", "jobs", "task_s", "shuffle_write_bytes",
              "bytes_written"),
    "index.open_index.ms": FRESH,
    **_fields("index.bytes", "index_bytes_per_text_byte @ ingest",
              "segments", "dictionary", "doc_stats", "batches"),
    "codec.varint_decode.postings_per_s": f"{FRESH}, {BATCH}",
    "local.batch_cost.ms": QUERY,
    "local.search_n.warm_ms": QUERY,
    "local.search_n.cold_ms": FRESH,
    "local.repeat_term_share": QUERY,
    "search.search.ms": QUERY,
    "search.request.jobs": QUERY,
    "search.driver_route_share": QUERY,
    **_fields("search.batch", BATCH, *_COUNTERS, "shuffle_bytes_per_query"),
    **_fields("aggs.frequent_item_sets_agg_indexed", CURATE, "wall_s", "jobs", "stages",
              "task_s", "shuffle_write_bytes", "spill_bytes", "utilization",
              "leaked_persisted"),
    **_fields("dedup.minhash_dedup_pairs", CURATE, "wall_s", "jobs", "task_s",
              "shuffle_write_bytes", "pairs"),
    **_fields("dedup.dedup_clusters", CURATE, "wall_s", "jobs", "task_s", "utilization",
              "leaked_persisted"),
}
