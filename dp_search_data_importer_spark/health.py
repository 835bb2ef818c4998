"""Index health probe + consumption gating — the A13/A10 analogues.

The reference serves ``GET /health`` (``/root/reference/service/service.go:
64-67,92-97``) and, with ``StopConsumingOnUnhealthy=true`` (default,
``config/config.go:25``), starts/stops Kafka consumption on the aggregate
health of its downstreams (``service/service.go:80-90,193-196`` subscribes
the consumer to the healthcheck). In this engine the "downstream" is the
native index itself, so:

- **A13 twin** — :func:`index_health`: one cheap structural probe of a
  built index (stats readable, no pending upsert commit, manifest↔postings
  agreement, doc accounting consistent). ``scripts/health.py`` exposes it
  as a CLI with the conventional exit code, the deployable stand-in for an
  HTTP health endpoint (on a cluster you wire the same dict into whatever
  serving layer fronts the index).
- **A10 twin** — ``run_index_stream(health_gate=True)``: each micro-batch
  probes the index BEFORE mutating it and raises on an unhealthy verdict.
  Under foreachBatch + checkpointing, raising means the batch does NOT
  commit — consumption effectively stops (and the source backs up) until
  the index is healthy again, then redelivery resumes exactly where it
  left off. That is the reference's stop-consuming-on-unhealthy contract
  expressed in Spark's no-commit-on-error terms rather than as a
  subscription callback.

A pending-but-committed upsert (marker present) is NOT unhealthy — the
probe rolls it forward (``recover_for_read``) and re-evaluates, the same
self-healing the query paths perform.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

OK = "OK"
DEGRADED = "DEGRADED"
CORRUPT = "CORRUPT"


def index_health(spark: SparkSession, out_dir: str) -> dict:
    """Structural health verdict for the index at ``out_dir``.

    Returns ``{"status": OK|DEGRADED|CORRUPT, "checks": {...}}``.
    CORRUPT = queries would error or silently serve wrong results
    (missing/unreadable stats, manifest claiming shards whose postings are
    gone); DEGRADED = consistent but noteworthy (stage dir left behind by
    an in-flight or dead upsert — safe to read through, a writer should
    run full recovery first).
    """
    from dp_search_data_importer_spark.plans.update_index import (
        _COMMIT,
        _STAGE,
        recover_for_read,
    )

    checks: dict[str, object] = {}
    rolled = recover_for_read(out_dir)
    checks["rolled_forward"] = rolled

    stats_path = os.path.join(out_dir, "stats.json")
    try:
        with open(stats_path) as f:
            stats = json.load(f)
        checks["stats_readable"] = True
    except (OSError, ValueError) as e:
        checks["stats_readable"] = False
        checks["stats_error"] = str(e)
        return {"status": CORRUPT, "checks": checks}

    status = OK
    # marker-less stage: an upsert is staging (or died mid-staging) — the
    # live index is untouched/consistent, but flag it
    if os.path.exists(os.path.join(out_dir, _STAGE)):
        checks["stage_pending"] = True
        if os.path.exists(os.path.join(out_dir, _STAGE, _COMMIT)):
            # recover_for_read above should have consumed it
            status = CORRUPT
        else:
            status = DEGRADED

    # manifest ↔ postings agreement: every manifest shard with postings
    # rows must have its partition dir on disk (a vanished dir silently
    # drops every document it held from all query results)
    from dp_search_data_importer_spark.checkpoint import read_manifest

    manifest = read_manifest(spark, out_dir)
    if manifest is None:
        checks["manifest_present"] = False
        return {"status": CORRUPT, "checks": checks}
    checks["manifest_present"] = True
    rows = manifest.collect()
    postings_dir = os.path.join(out_dir, "postings")
    missing = sorted(
        int(r["shard"]) for r in rows
        if int(r["n_postings"]) > 0
        and not os.path.isdir(os.path.join(postings_dir,
                                           f"shard={int(r['shard'])}"))
    )
    checks["missing_postings_shards"] = missing
    if missing:
        status = CORRUPT

    # doc accounting: manifest totals must match stats.json
    n_manifest = sum(int(r["n_docs"]) for r in rows)
    checks["n_docs_stats"] = int(stats.get("n_docs", -1))
    checks["n_docs_manifest"] = n_manifest
    if n_manifest != int(stats.get("n_docs", -1)):
        status = CORRUPT

    return {"status": status, "checks": checks}


def assert_index_healthy(spark: SparkSession, out_dir: str) -> dict:
    """Raise (→ no batch commit under foreachBatch) unless the index is
    safe to mutate — the A10 gating primitive."""
    h = index_health(spark, out_dir)
    if h["status"] == CORRUPT:
        raise RuntimeError(
            f"index at {out_dir} is unhealthy ({h['status']}): "
            f"{h['checks']} — consumption gated until repaired"
        )
    return h
