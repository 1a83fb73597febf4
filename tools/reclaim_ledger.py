"""Ledger maintenance CLI — RUNBOOK.md "Ledger lifecycle" / "checkpoint
hygiene" as ONE command instead of a Python signature.

Wraps the two maintenance jobs in the order an operator wants them after a
checkpoint loss/replacement:

  1. ``reclaim_orphaned_claims`` (streaming/pipeline.py) — delete the claims
     a dead generation left in the ledger with no committed output, so the
     next replay re-admits their events exactly once.
  2. ``sinks.compact_ledger`` (``--compact``) — TTL compaction, a
     crash-safe locked in-place rewrite dropping expired rows.

RUNBOOK defaults are encoded here: pass EVERY live pipeline's checkpoint
dir (``--live-ckpt``, repeatable — omitting one makes its in-flight batch
look orphaned). POSIX ledger paths only: object-store ledgers are
unsupported (``rewrite_ledger_atomic`` raises ``NotImplementedError``).

Usage:
    python tools/reclaim_ledger.py --ledger /data/ledger \\
        --output-dir /data/fact --live-ckpt /ckpt/pipelineA \\
        [--compact] [--now-epoch N]

Prints one JSON line: {"reclaimed": N, "reclaimed_pks_sample": [...],
"compacted": N|null}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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
    ap.add_argument(
        "--compact", action="store_true",
        help="also run sinks.compact_ledger (TTL rewrite) after the reclaim",
    )
    ap.add_argument(
        "--now-epoch", type=int, default=None,
        help="compaction cutoff override (default: wall clock)",
    )
    args = ap.parse_args(argv)

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
        reclaimed = reclaim_orphaned_claims(
            spark, args.ledger, args.output_dir, args.live_ckpt
        )
        summary = {
            "reclaimed": reclaimed.count(),
            "reclaimed_pks_sample": [
                r.pk for r in reclaimed.select("pk").limit(10).collect()
            ],
            "compacted": None,
        }
        if args.compact:
            summary["compacted"] = compact_ledger(
                spark, args.ledger, now_epoch=args.now_epoch
            )
        print(json.dumps(summary))
        return summary
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    main()
