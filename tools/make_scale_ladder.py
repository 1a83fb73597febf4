"""Synthesize scale-ladder rungs (sf0.3, sf1) from the driver's sf0.1 parquet.

The driver ships sf0.001/0.01/0.1 only; SCALE.md's claims about the
quadratic-risk operators (ngram-Jaccard, SimHash, MinHash-LSH, clustering)
need MEASURED scaling above sf0.1. This tool replicates the three tables those
operators consume with replica-salted identities so the statistical structure
scales NEUTRALLY — n grows k×, duplicate structure grows k× (linear), and
cross-replica pairs are never near-dups:

* documents: every token gets a replica suffix (`tok` → `tokr3`). Token
  renaming is a bijection per replica, so within-replica shingle sets — and
  therefore every Jaccard/MinHash/SimHash relation — are isomorphic to the
  original corpus, while cross-replica shingles can never collide. Naive
  copying would instead make every doc an exact dup of its replicas, inflating
  pair counts k²× and measuring the DATA, not the algorithm.
* embeddings: vectors are rotated by k mod 64 positions, NEGATED for
  k >= 64, and for k >= 128 additionally multiplied by a per-replica
  deterministic ±1 diagonal sign pattern (splitmix64 over (k, dim)). All
  three transforms are orthogonal — norm- and within-replica-cosine-
  preserving — while cross-replica cosines decorrelate. Without the
  negation, replica k = 64+r would alias replica r exactly (the rotation
  wraps at the 64-dim boundary); without the sign pattern, k = 128+r would
  alias r the same way (rotate×negate yields only 128 distinct transforms).
  Each extra mechanism adds at most a random-background-sized tail — an
  order of magnitude below the ~40/replica-pair background tail that
  dominates cross-replica cosines at ANY salt (see SCALE.md: many replicas
  cannot be mutually decorrelated below the background tail in 64 dims;
  P(cos >= 0.5) ~ 3e-5 for iid directions at d=64).
* events: event ids are offset per replica (new unique webhook identities;
  agents/timestamps unchanged, so per-key densities grow like real traffic
  growth).

Usage: python tools/make_scale_ladder.py [out_root]
Writes <out_root>/sf{0.3,1,3,10,30,100} (default scale_ladder/ at the repo root —
gitignored; ~4.5 GB total with the sf100 rung, which alone is ~3.1 GB).
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OFFSET = 100_000_000  # > any sf1 id; keeps replica id spaces disjoint
DIM = 64  # embedding dimensionality of the driver corpus


def _replica_signs(k: int) -> list[float]:
    """Deterministic ±1 diagonal for replica k (splitmix64 over k*DIM+dim) —
    the third orthogonal salt mechanism, needed once k >= 128 where
    rotate×negate starts aliasing (see module docstring)."""
    signs = []
    for d in range(DIM):
        z = (k * DIM + d + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        signs.append(1.0 if z & 1 else -1.0)
    return signs


def build_rung(out_dir: str, copies: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    # the sf100 rung is a 1000-branch UNION ALL; DuckDB's default parser
    # depth cap is 1000 expressions
    con.execute("SET max_expression_depth TO 10000")

    doc_parts = []
    emb_parts = []
    ev_parts = []
    for k in range(copies):
        if k == 0:
            doc_parts.append(
                f"SELECT doc_id, text, lang, source, n_chars FROM '{SRC}/documents.parquet'"
            )
            emb_parts.append(
                f"SELECT vec_id, embedding, label FROM '{SRC}/embeddings.parquet'"
            )
            ev_parts.append(
                f"SELECT event_id, ts, user_id, event_type, value, props FROM '{SRC}/events.parquet'"
            )
        else:
            doc_parts.append(
                f"""SELECT doc_id + {k * OFFSET} AS doc_id,
                       regexp_replace(text, '([A-Za-z0-9]+)', '\\1r{k}', 'g') AS text,
                       lang, source,
                       CAST(length(regexp_replace(text, '([A-Za-z0-9]+)', '\\1r{k}', 'g')) AS BIGINT) AS n_chars
                FROM '{SRC}/documents.parquet'"""
            )
            # rotate the vector by (k mod 64) dims: list_concat of the two
            # slices; negate for k >= 64; apply the per-replica ±1 diagonal
            # for k >= 128 — each mechanism kicks in exactly where the
            # previous ones start aliasing (see module docstring).
            r = k % 64
            rotated = (
                f"embedding[{r + 1}:] || embedding[1:{r}]" if r else "embedding"
            )
            if k >= 64:
                rotated = f"list_transform({rotated}, x -> -x)"
            if k >= 128:
                signs = ", ".join(
                    f"{s:.1f}::FLOAT" for s in _replica_signs(k)
                )
                rotated = (
                    f"list_transform(list_zip({rotated}, [{signs}]), "
                    "x -> x[1] * x[2])"
                )
            emb_parts.append(
                f"""SELECT vec_id + {k * OFFSET} AS vec_id,
                       {rotated} AS embedding,
                       label
                FROM '{SRC}/embeddings.parquet'"""
            )
            ev_parts.append(
                f"""SELECT event_id + {k * OFFSET} AS event_id, ts, user_id,
                       event_type, value, props
                FROM '{SRC}/events.parquet'"""
            )

    for name, parts in (("documents", doc_parts), ("embeddings", emb_parts), ("events", ev_parts)):
        sql = " UNION ALL ".join(parts)
        dest = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{dest}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{dest}'").fetchone()[0]
        print(f"  {dest}: {n} rows")


def main() -> None:
    argv = sys.argv[1:]
    # sf300 (~9.5 GB, 3000-branch UNION) is opt-in: it exists to force the
    # beyond-guard Bloom dispatch and a fourth LSH decade, not for the
    # default rebuild path.
    include_sf300 = "--sf300" in argv
    if include_sf300:
        argv.remove("--sf300")
    only: set[str] | None = None
    if "--rungs" in argv:  # e.g. --rungs sf1,sf10 — build just those
        i = argv.index("--rungs")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    out_root = argv[0] if argv else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scale_ladder"
    )
    rungs = [
        ("sf0.3", 3),
        ("sf1", 10),
        ("sf3", 30),
        ("sf10", 100),
        ("sf30", 300),
        ("sf100", 1000),
    ]
    if include_sf300:
        rungs.append(("sf300", 3000))
    if only is not None:
        rungs = [(sf, c) for sf, c in rungs if sf in only]
    for sf, copies in rungs:
        dest = os.path.join(out_root, sf)
        if os.path.isdir(dest):
            print(f"{sf} exists, skipping")
            continue
        print(f"building {sf} ({copies}x sf0.1)")
        build_rung(dest, copies)


if __name__ == "__main__":
    main()
