"""The metric catalogue: every metric the benchmark reports, with its
unit, direction and layer, and for a per-layer metric the end-to-end
metric and workload it should move. ``BENCHMARK.json`` lists the same
names, units and directions (a test keeps the two in step).

Every workload reports every metric. A per-layer metric of a layer a
workload does not call reads 0 there.
"""

from __future__ import annotations

from benchmark.datagen import SERVE_OPS
from benchmark.workloads import BATCH_QUERIES

WORKLOADS = {
    "recon_serve": "one closed-loop client pages through Recon/S3 listings and lookups; "
    "per-call fixed cost (planning, job launch) dominates",
    "batch_analytics": "one cold pass over datapipe, SCM and Recon registered queries; "
    "driver-side plan build and execution dominate",
}

# name: (unit, better, bound, meaning)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "session start + snapshot bootstrap into an empty directory + "
                "bucketed-table registration"),
    "snapshot_mb": ("MB", "lower", 0.05, "bytes on disk of the bootstrapped snapshot"),
    # the two operation metrics are host-corrected (see hostspeed.py):
    # each operation's wall time is scaled by a fixed loop's reference
    # time over that loop's time around the operation
    "op_gmean_ms": ("ms", "lower", 0.25,
                    "geometric mean time of one operation at reference host speed: a "
                    "REST call, one page of a listing (recon_serve); a registered "
                    "query, built and materialized (batch_analytics)"),
    "ops_per_s": ("1/s", "higher", 0.25,
                  "operations per second of operation time at reference host speed: "
                  "REST calls at one client (recon_serve, serve_rps); queries of the "
                  "pass (batch_analytics, the inverse of batch_pass_s over the number "
                  "of queries)"),
}

# each workload's own names for the median and rate of its operations in
# wall time, uncorrected, printed in the report
OWN_NAMES = {
    "recon_serve": ("serve_p50_ms", "serve_rps"),
    "batch_analytics": ("query_p50_ms", "queries_per_s"),
}

SERVE = "recon_serve"
BATCH = "batch_analytics"
SETUP_MOVES = [("setup_s", "all")]
SERVE_MOVES = [("op_gmean_ms", SERVE), ("ops_per_s", SERVE)]
BATCH_MOVES = [("op_gmean_ms", BATCH), ("ops_per_s", BATCH)]
# the sync loop runs only in traced recon_serve runs, so the metrics
# its layers move are per-layer ones of that run
SYNC_MOVES = [("sync.cycle_p50_ms", SERVE), ("sync.events_per_s", SERVE)]

# name: (unit, better, layer, [(end-to-end metric, workload), ...])
PER_LAYER: dict[str, tuple[str, str, str, list]] = {
    "session.start_s": ("s", "lower", "session", SETUP_MOVES),
    "deployment.bootstrap_s": ("s", "lower", "sources.deployment", SETUP_MOVES),
    "deployment.register_s": ("s", "lower", "sources.deployment", SETUP_MOVES),
    **{
        f"deployment.plane_s.{p}": ("s", "lower", "sources.deployment", SETUP_MOVES)
        for p in ("om_keys", "rm_replicas", "container_replicas", "dedup_corpus",
                  "embedding_corpus")
    },
    "deployment.files": ("count", "lower", "sources.deployment",
                         [("snapshot_mb", "all"), ("op_gmean_ms", SERVE)]),
    **{
        f"endpoints.{op}.{m}": (unit, "lower", "endpoints", SERVE_MOVES)
        for op in SERVE_OPS
        for m, unit in (("build_ms", "ms"), ("plan_ms", "ms"), ("exec_ms", "ms"),
                        ("jobs", "count"), ("tasks", "count"))
    },
    "endpoints.rows_per_request": ("count", "higher", "endpoints", SERVE_MOVES),
    # peak resident memory of the driver process plus its JVM. JVM heap
    # growth follows GC timing, so its run-to-run spread (a quarter of the
    # median) is too wide for an end-to-end bound; it is reported here
    "process.peak_rss_mb": ("MB", "lower", "session", []),
    **{
        f"plans.{m}": (unit, "lower", "plans", BATCH_MOVES)
        for m, unit in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                        ("build_jobs", "count"), ("jobs", "count"), ("tasks", "count"))
    },
    **{
        f"plans.{q}.{m}": (unit, "lower", "plans", BATCH_MOVES)
        for q in BATCH_QUERIES
        for m, unit in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
    },
    "scratch.persisted_rdds_peak": ("count", "lower", "scratch",
                                    [("process.peak_rss_mb", BATCH)]),
    "scratch.persisted_rdds_end": ("count", "lower", "scratch",
                                   [("process.peak_rss_mb", BATCH)]),
    "resync.plan_ms": ("ms", "lower", "sources.resync", SYNC_MOVES),
    "upsert.merge_ms": ("ms", "lower", "sources.upsert", SYNC_MOVES),
    "upsert.partitions_rewritten": ("count", "lower", "sources.upsert", SYNC_MOVES),
    "upsert.bytes_written_per_event": ("B", "lower", "sources.upsert", SYNC_MOVES),
    "maintenance.mart_ms": ("ms", "lower", "streaming.maintenance", SYNC_MOVES),
    "maintenance.trigger_ms": ("ms", "lower", "streaming.maintenance", SYNC_MOVES),
    "recon.fresh_read_ms": ("ms", "lower", "operators.recon", SYNC_MOVES),
    # the sync loop's own times, from its untraced cycles
    "sync.cycle_p50_ms": ("ms", "lower", "sources.resync", []),
    "sync.events_per_s": ("1/s", "higher", "sources.resync", []),
    # the workload's operations when traced, and what tracing adds:
    # traced minus untraced calls of the same run on recon_serve, the
    # forced planning step on batch_analytics (see workloads.batch_layers)
    "trace.op_p50_ms": ("ms", "lower", "benchmark", []),
    "trace.overhead_ms": ("ms", "lower", "benchmark", []),
    "trace.sync_overhead_ms": ("ms", "lower", "benchmark", []),
}
