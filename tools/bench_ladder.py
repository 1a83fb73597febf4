"""Measure the scale-ladder: quadratic-risk operators at sf0.1 → sf0.3 → sf1.

Runs the near-dup family (the operators whose worst case is O(n²) pair
explosion), the clustering consumer, the embedding-LSH path, and the ingest
pipeline at each rung produced by tools/make_scale_ladder.py, and fits the
scaling exponent  t ∝ n^p  between consecutive rungs (p = log(tᵢ₊₁/tᵢ) /
log(nᵢ₊₁/nᵢ)). p ≈ 1 is the linear, bucketed ideal; p approaching 2 means
candidate generation is degenerating to all-pairs at that data shape.

Results land in SCALE_LADDER.json (consumed by SCALE.md's measured table).

Usage: python tools/bench_ladder.py [ladder_root]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from quill_agent_dashboard_pbi_etl_spark.operators.materialize import (
    release_dead_blocks,
)
from quill_agent_dashboard_pbi_etl_spark.plans import extensions  # noqa: F401
from quill_agent_dashboard_pbi_etl_spark.plans.registry import QUERIES
from quill_agent_dashboard_pbi_etl_spark.session import get_spark

def _lsh_t50(spark, sf_dir):
    """embedding_near_dup_lsh at threshold 0.5 — the genuine near-dup regime.

    The registry query's 0.35 threshold sits BELOW the background-chance
    cosine for 64-dim vectors (~0.2% of ALL pairs pass at 2.8σ), so its
    output — and therefore any correct algorithm's cost — is Θ(n²) by
    construction. At 0.5+ the qualifying pairs are the sparse true near-dups
    and the LSH candidate pruning is what's being measured.
    """
    from quill_agent_dashboard_pbi_etl_spark.operators import similarity
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.near_dup_by_cosine(
        emb, threshold=0.5, bucket_bits=4, n_tables=12
    )


# query → (custom fn or None for the registry query, max rung or None for
# all). embedding_near_dup_lsh (threshold 0.35) is capped at sf1: its output
# is Θ(n²) by construction (0.35 sits below the 64-dim background-cosine
# tail), so above sf1 any correct algorithm's cost is the output's — the sf1
# p=2.27 measurement plus the t50 variant already tell that whole story.
def _lsh_t50_b8(spark, sf_dir):
    """The named mitigation for _lsh_t50's super-linear rungs: grow
    bucket_bits with log n. At fixed 4-bit buckets, bucket size grows
    linearly with the corpus and per-bucket verification grows ~n²/2^bits;
    8-bit buckets (256 per table) restore ~linear candidate volume at the
    sf3-sf10 rungs while 12-table banding keeps near-dup recall ≈ 1-(1-p^8)^12
    (≈ 0.999 at cosine 0.95). Same operator, same threshold — only the knob
    the docstring prescribes for scale."""
    from quill_agent_dashboard_pbi_etl_spark.operators import similarity
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.near_dup_by_cosine(
        emb, threshold=0.5, bucket_bits=8, n_tables=12
    )


def _lsh_t50_auto(spark, sf_dir):
    """Default-config check for the auto-sized bucket_bits path
    (bucket_bits=None → auto_bucket_bits(count)): at the sf10 rung (200k
    vectors) the rule lands on 8 bits, so this cell should match t50_b8
    within noise — plus one cheap count() action. At sf0.3-sf1 it sizes 3-5
    bits, interpolating between the fixed cells."""
    from quill_agent_dashboard_pbi_etl_spark.operators import similarity
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.near_dup_by_cosine(emb, threshold=0.5, n_tables=12)


def _lsh_t50_fullauto(spark, sf_dir):
    """The round-8 FULL default: both knobs auto (bucket_bits=None,
    n_tables=None) → auto bits joint-sized with auto-grown tables via
    auto_lsh_shape, holding the floor config's recall AT THE THRESHOLD
    (0.5 → borderline-pair recall ≈ 0.99) instead of only catching the
    high-cosine replicas. Deliberately more expensive than the pinned
    12-table cells — e.g. the sf10 rung resolves to (6 bits, 52 tables) vs
    t50_b8's (8, 12): verify volume tables/2^bits 0.81 vs 0.047 (~17×) —
    because the default refuses to silently trade recall for the candidate
    cut. Callers whose dup population is high-cosine (this ladder's
    replicas) pin n_tables explicitly; this cell prices the contract.
    Capped at sf3: the cost story is fully told by then and the sf10/sf30
    cells would burn ladder budget re-measuring a priced tradeoff."""
    from quill_agent_dashboard_pbi_etl_spark.operators import similarity
    from quill_agent_dashboard_pbi_etl_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.near_dup_by_cosine(emb, threshold=0.5)


FAMILY = {
    "dedup_ngram_jaccard": (None, None),
    "dedup_minhash_lsh": (None, None),
    "simhash_near_dup": (None, None),
    "dup_clusters": (None, None),
    "dedup_survivors": (None, None),
    "embedding_near_dup_lsh": (None, "sf1"),
    "embedding_near_dup_lsh_t50": (_lsh_t50, None),
    "embedding_near_dup_lsh_t50_b8": (_lsh_t50_b8, None),
    "embedding_near_dup_lsh_t50_auto": (_lsh_t50_auto, None),
    "embedding_near_dup_lsh_t50_fullauto": (_lsh_t50_fullauto, "sf3"),
    "ingest_pipeline_full": (None, None),
    "corpus_pipeline_full": (None, None),
}

RUNGS = [
    ("sf0.1", "/root/testdata/sf0.1", 1.0),
    ("sf0.3", None, 3.0),  # path filled from ladder_root
    ("sf1", None, 10.0),
    ("sf3", None, 30.0),   # optional rungs; skipped if the dir is absent
    ("sf10", None, 100.0),
    ("sf30", None, 300.0),
    ("sf100", None, 1000.0),
    ("sf300", None, 3000.0),  # opt-in rung (make_scale_ladder.py --sf300)
]


def main() -> None:
    # args: [ladder_root] [--only name1,name2] [--max-rung sfX]
    # [--rungs sfX,sfY] — --only re-times a subset and merges into the
    # existing SCALE_LADDER.json (the rest is kept as-is); --max-rung caps
    # how far up the ladder this invocation climbs (on top of each query's
    # own FAMILY cap); --rungs re-times ONLY the named rungs and merges
    # rung-wise (exponents recomputed from the merged timings), which is the
    # recovery path when one cell of a long multi-rung run dies (e.g. a
    # late-rung OOM after 40 accumulated executions) — refill just that cell
    # in a fresh JVM instead of re-paying the whole column.
    argv = sys.argv[1:]
    only = None
    if "--only" in argv:
        i = argv.index("--only")
        only = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    max_rung = None
    if "--max-rung" in argv:
        i = argv.index("--max-rung")
        max_rung = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    rung_filter = None
    if "--rungs" in argv:
        i = argv.index("--rungs")
        rung_filter = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2 :]
    ladder_root = argv[0] if argv else os.path.join(ROOT, "scale_ladder")
    rungs = [
        (name, path or os.path.join(ladder_root, name), scale)
        for name, path, scale in RUNGS
    ]
    rungs = [r for r in rungs if os.path.isdir(r[1])]
    if max_rung is not None:
        cap = {name: i for i, (name, _, _) in enumerate(RUNGS)}[max_rung]
        rungs = [
            r
            for r in rungs
            if {name: i for i, (name, _, _) in enumerate(RUNGS)}[r[0]] <= cap
        ]
    if rung_filter is not None:
        rungs = [r for r in rungs if r[0] in rung_filter]
    spark = get_spark(app_name="bench-ladder")
    spark.sparkContext.setLogLevel("ERROR")

    family = {q: f for q, f in FAMILY.items() if only is None or q in only}
    rung_rank = {name: i for i, (name, _, _) in enumerate(RUNGS)}
    timings: dict[str, dict[str, float]] = {q: {} for q in family}
    rows: dict[str, dict[str, int]] = {q: {} for q in family}
    for rung, sf_dir, _scale in rungs:
        for q, (custom, max_rung) in family.items():
            if max_rung is not None and rung_rank[rung] > rung_rank[max_rung]:
                continue
            fn = custom or QUERIES[q]
            best = float("inf")
            try:
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                    best = min(best, time.perf_counter() - t0)
                    release_dead_blocks(spark)
                timings[q][rung] = round(best, 3)
                rows[q][rung] = fn(spark, sf_dir).count()
                release_dead_blocks(spark)
            except Exception as exc:
                timings[q][rung] = -1.0
                rows[q][rung] = -1
                print(f"ERR {q}@{rung}: {exc}", file=sys.stderr)
            print(f"  {q}@{rung}: {timings[q][rung]}s rows={rows[q][rung]}")

    # Load the existing file and update ONLY this tool's three sections —
    # bench_ledger_gates.py / bench_streaming.py merge foreign top-level
    # sections (ledger_gate_crossover, streaming_ingest*) into the same file,
    # and a wholesale replace here would silently delete them.
    ladder_path = os.path.join(ROOT, "SCALE_LADDER.json")
    out: dict = {}
    if os.path.exists(ladder_path):
        with open(ladder_path) as fh:
            out = json.load(fh)
    partial = only is not None or rung_filter is not None
    for section, payload in (("timings_sec", timings), ("rows", rows)):
        if partial:
            # rung-wise merge: a --rungs refill must not clobber the other
            # rungs of the same query measured by a previous invocation.
            merged = {k: dict(v) for k, v in out.get(section, {}).items()}
            for q, cells in payload.items():
                tgt = merged.setdefault(q, {})
                for rung, val in cells.items():
                    # OOM-recovery rule: a FAILED re-measure (-1) must not
                    # clobber a previously good cell — that would destroy
                    # the very data the --rungs refill exists to recover
                    # (and drop both adjacent exponent pairs with it).
                    prior = tgt.get(rung)
                    if val == -1 and isinstance(prior, (int, float)) and prior >= 0:
                        print(
                            f"  keep prior {section}[{q}][{rung}]={prior} "
                            "(re-measure failed)",
                            file=sys.stderr,
                        )
                        # Persist the staleness IN the JSON, not only on
                        # stderr: a rung that now genuinely regresses to
                        # failure must not masquerade as the old good
                        # number. Readers see both the kept value and the
                        # marker.
                        out.setdefault("stale_cells", []).append(
                            {
                                "section": section,
                                "query": q,
                                "rung": rung,
                                "kept_prior": prior,
                                "note": "re-measure failed (-1); prior cell retained",
                            }
                        )
                        continue
                    tgt[rung] = val
            out[section] = merged
        else:
            out[section] = payload

    # Exponents always come from the MERGED timings, so a partial refill
    # re-derives the pairs that straddle old and new cells.
    scale_of = {name: s for name, _, s in RUNGS}
    rung_order = [name for name, _, _ in RUNGS]
    exponents: dict[str, dict[str, float]] = dict(
        out.get("scaling_exponents", {}) if partial else {}
    )
    for q in family:
        ts = out["timings_sec"].get(q, {})
        exponents[q] = {}
        present = [r for r in rung_order if r in ts]
        for r1, r2 in zip(present, present[1:]):
            t1, t2 = ts[r1], ts[r2]
            if t1 > 0 and t2 > 0:
                exponents[q][f"{r1}->{r2}"] = round(
                    math.log(t2 / t1) / math.log(scale_of[r2] / scale_of[r1]), 2
                )
    out["scaling_exponents"] = exponents
    with open(ladder_path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps({"exponents": exponents}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
