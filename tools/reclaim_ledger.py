"""Ledger maintenance CLI — RUNBOOK.md "Ledger lifecycle" / "checkpoint
hygiene" as ONE command instead of a Python signature.

Wraps the two maintenance jobs in the order an operator wants them after a
checkpoint loss/replacement:

  1. ``reclaim_orphaned_claims`` (streaming/pipeline.py) — recover claims a
     dead generation left in the ledger with no committed output. Default
     mode is ``release`` (the replay re-admits the events); ``quarantine``
     re-emits them to a triage dir from the replayable landing source and
     retags the claims.
  2. ``sinks.compact_ledger`` (``--compact``) — TTL compaction, a
     crash-safe locked in-place rewrite dropping expired rows.

RUNBOOK defaults are encoded here: pass EVERY live pipeline's checkpoint
dir (``--live-ckpt``, repeatable — omitting one makes its in-flight batch
look orphaned); quarantine mode refuses to retag claims the re-supplied
source does not cover (``--allow-partial`` to downgrade that to a warning
and leave the uncovered claims reclaimable). POSIX ledger paths only; an
object-store ledger belongs on the Delta/Iceberg MERGE path where this
window does not exist.

Usage:
    python tools/reclaim_ledger.py --ledger /data/ledger \\
        --output-dir /data/fact --live-ckpt /ckpt/pipelineA \\
        [--mode release|quarantine] \\
        [--events-landing /data/landing --quarantine-dir /data/triage] \\
        [--allow-partial] [--compact] [--now-epoch N]

Prints one JSON line: {"reclaimed": N, "mode": ..., "compacted": N|null}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_events(spark, landing_dir: str):
    """Re-derive the normalized event stream from the replayable landing
    dir — the same batch graph the quarantine contract documents."""
    from quill_agent_dashboard_pbi_etl_spark.streaming import pipeline as pl

    return pl.streaming_fact_pipeline(
        spark.read.schema(pl.ENVELOPE_JSON_SCHEMA).json(landing_dir)
    )


def main(argv=None, spark=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ledger", required=True, help="ledger parquet path (POSIX)")
    ap.add_argument(
        "--output-dir", required=True,
        help="the ledger-gated sink's output root (gen=<g>/batch_id=<n>/ layout)",
    )
    ap.add_argument(
        "--live-ckpt", action="append", default=[],
        help="a LIVE pipeline's checkpoint dir; repeat for every pipeline "
        "sharing the ledger (RUNBOOK: omitting one makes its in-flight "
        "batch look orphaned)",
    )
    ap.add_argument("--mode", choices=("release", "quarantine"), default="release")
    ap.add_argument(
        "--events-landing",
        help="quarantine mode: the replayable landing dir the events are "
        "re-derived from",
    )
    ap.add_argument(
        "--quarantine-dir", help="quarantine mode: triage output dir"
    )
    ap.add_argument(
        "--allow-partial", action="store_true",
        help="quarantine mode: tolerate a source that does not re-supply "
        "every orphaned key — covered claims are reclaimed, uncovered ones "
        "stay reclaim candidates (default: raise on shortfall)",
    )
    ap.add_argument(
        "--compact", action="store_true",
        help="also run sinks.compact_ledger (TTL rewrite) after the reclaim",
    )
    ap.add_argument(
        "--now-epoch", type=int, default=None,
        help="compaction cutoff override (default: wall clock)",
    )
    ap.add_argument(
        "--binpack-min-files", type=int, default=8,
        help="with --compact on a partitioned ledger: also bin-pack each "
        "CLOSED live day holding more than this many per-append files "
        "(sinks.binpack_ledger_closed_days); pass 0 to disable",
    )
    args = ap.parse_args(argv)
    if args.mode == "quarantine" and not (
        args.events_landing and args.quarantine_dir
    ):
        ap.error("--mode quarantine requires --events-landing and --quarantine-dir")

    from quill_agent_dashboard_pbi_etl_spark.sinks import compact_ledger
    from quill_agent_dashboard_pbi_etl_spark.streaming.pipeline import (
        reclaim_orphaned_claims,
    )

    own_session = spark is None
    if own_session:
        from quill_agent_dashboard_pbi_etl_spark.session import get_spark

        spark = get_spark(app_name="reclaim-ledger")
        spark.sparkContext.setLogLevel("ERROR")

    try:
        events = (
            build_events(spark, args.events_landing)
            if args.mode == "quarantine"
            else None
        )
        reclaimed = reclaim_orphaned_claims(
            spark,
            args.ledger,
            args.output_dir,
            args.live_ckpt,
            mode=args.mode,
            events=events,
            quarantine_dir=args.quarantine_dir,
            allow_partial=args.allow_partial,
        )
        summary = {
            "mode": args.mode,
            "reclaimed": reclaimed.count(),
            "reclaimed_pks_sample": [
                r.pk for r in reclaimed.select("pk").limit(10).collect()
            ],
            "compacted": None,
        }
        if args.compact:
            summary["compacted"] = compact_ledger(
                spark,
                args.ledger,
                now_epoch=args.now_epoch,
                binpack_min_files=(args.binpack_min_files or None),
            )
        print(json.dumps(summary))
        return summary
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main()
