"""Embedding similarity search: one operator per question.

- **Exact top-k** — :func:`brute_force_topk`. The query set is collected
  (a bounded collect, like the IVF model) and every Arrow batch of corpus
  vectors is scored against all queries in one numpy (B×D)·(D×Q) matmul;
  each partition keeps its k best rows per query, so the rank window
  shuffles O(partitions·Q·k) rows, never the corpus.
- **Approximate top-k** — :func:`ivf_topk`. The corpus goes to its nearest
  IVF cell, each query to its ``n_probe`` nearest cells, and the match is an
  equi-join on the cell. The model is either fixed rows
  (:func:`collect_rows`) or k-means trained (:func:`train_ivf_centroid_rows`).
- **Exact pairs** — :func:`blocked_near_dup_numpy`. Chunked dense matmuls
  per block; all-pairs is the one-block case.
- **Approximate pairs** — :func:`near_dup_by_cosine`. Multi-table
  random-hyperplane LSH; each bucket is verified with the exact-pairs kernel.

Every operator reads ``(vec_id, embedding)`` and rounds cosine to 6 decimals,
as the DuckDB oracle's ``round(list_cosine_similarity(...), 6)`` does. Each
path is the one that measured cheaper than the alternatives it replaced: the
JVM nested-loop top-k, the crossJoin nearest-cell assignment and the
triangular all-pairs decomposition (NOTES.md, r17 pricing table).

Limit: nearest-cell assignment embeds the IVF model in the plan as literals,
so a model of more than ``MAX_LITERAL_CENTROID_ELEMS`` (n_cells × dim)
elements raises ``ValueError``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

ID = "vec_id"
VEC = "embedding"
ROUND = 6
PAIRS_SCHEMA = "vec_a long, vec_b long, cosine_sim double"

#: Largest IVF model (n_cells × dim elements) :func:`_nearest_cells` embeds
#: as plan literals. The registry's largest model is 8 × 64 = 512 elements;
#: a production model (4096 cells × 768 dims ≈ 3M) would blow plan size and
#: parse time, so it is refused instead of planned.
MAX_LITERAL_CENTROID_ELEMS = 16384


def cosine(a: Column, b: Column) -> Column:
    """a·b / (|a|·|b|) via zip_with + aggregate (JVM codegen, no UDF)."""

    def norm(x: Column) -> Column:
        return F.sqrt(F.aggregate(x, F.lit(0.0), lambda acc, v: acc + v * v))

    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    return dot / (norm(a) * norm(b))


def _vectors(df: DataFrame) -> DataFrame:
    return df.select(ID, F.transform(VEC, lambda v: v.cast("double")).alias("vec"))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine_sim) → the k best rows per query,
    ranked by similarity descending with the neighbor id ascending as the
    tie-break, so results are deterministic and engine-portable."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine_sim"
        )
    )


def collect_rows(df: DataFrame, key: str) -> list[tuple[int, list[float]]]:
    """Model-sized ``(key, embedding)`` rows — an IVF model or a query set —
    collected to the driver, sorted by key. This is a bounded collect by
    definition, not a data-scale one. A float column widens to double
    exactly, so re-embedding the values as literals preserves every bit."""
    return sorted(
        (r[0], [float(x) for x in r[1]]) for r in df.select(key, VEC).collect()
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus vectors
    (self-matches excluded). Returns (query_id, neighbor_id, rank, cosine_sim).

    The collected query matrix rides in the closure; each Arrow batch is one
    matmul against it, trimmed to the batch's k best rows per query, and each
    partition trims its batches again before the rank window."""
    # pandas is imported where it is used, as in the other kernels below:
    # importing it with this module adds ~0.4 s to every registry import.
    import pandas as pd

    rows = collect_rows(queries, ID)
    qids = np.array([i for i, _ in rows], dtype=np.int64)
    qmat = np.array([v for _, v in rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=-1)

    def head_k(cand: pd.DataFrame) -> pd.DataFrame:
        cand = cand.sort_values(
            ["query_id", "cosine_sim", "neighbor_id"], ascending=[True, False, True]
        )
        return cand.groupby("query_id").head(k)

    def score(batches):
        parts = []
        for pdf in batches:
            if not len(pdf) or not len(qids):
                continue
            ids = pdf[ID].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[VEC]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            sims = np.round((mat @ qmat.T) / np.outer(norms, qnorm), ROUND)  # B×Q
            cand = pd.DataFrame(
                {
                    "query_id": np.tile(qids, len(ids)),
                    "neighbor_id": np.repeat(ids, len(qids)),
                    "cosine_sim": sims.reshape(-1),
                }
            )
            parts.append(head_k(cand[cand.query_id != cand.neighbor_id]))
        if parts:
            yield head_k(pd.concat(parts))

    scored = corpus.select(ID, VEC).mapInPandas(
        score, "query_id long, neighbor_id long, cosine_sim double"
    )
    return _top_k(scored, k)


def _sql_double(x: float) -> str:
    """Exact SQL double literal for a Python float. ``repr`` emits the
    shortest correctly-rounded decimal that round-trips; Java's
    ``parseDouble`` (what Spark's lexer uses for ``...D`` literals) is also
    correctly rounded, so the parsed double is bit-identical. Non-finite
    values (never produced by the k-means means, handled defensively) go
    through the CAST spelling the lexer accepts."""
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _centroid_norm(cvec: list[float]) -> float:
    """Driver-side l2 norm matching Spark's fold bit-for-bit:
    ``sqrt(aggregate(cvec, 0.0D, (acc, v) -> acc + v * v))`` is a
    left-to-right IEEE-double sum of squares then a correctly-rounded sqrt,
    which is exactly this loop (Python floats are IEEE doubles and
    ``math.sqrt`` is correctly rounded)."""
    acc = 0.0
    for v in cvec:
        acc += v * v
    return math.sqrt(acc)


def _nearest_cells(
    vectors: DataFrame, cent_rows: list[tuple[int, list[float]]], n_probe: int
) -> DataFrame:
    """(vec_id, vec: array<double>) → (vec_id, centroid_id, vec), one row for
    each of the ``n_probe`` nearest cells of each vector.

    The model is embedded as literal arrays, so the argmax is a pure
    projection evaluated inside the scan stage, with no join and no window
    exchange: per row, build (sim, centroid_id) structs, sort them by sim
    descending (Spark's NaN-greatest semantics) with centroid_id ascending as
    the tie-break, and keep the first ``n_probe``. The projection is composed
    as ONE SQL string — building it Column by Column cost one py4j round trip
    per centroid element. The vector norm is computed once per row
    (``__vnorm``) and each centroid norm is bound as one literal
    (:func:`_centroid_norm`); the cosine and its 6-dp round match
    :func:`cosine` bit for bit.

    Raises ``ValueError`` when the model has more than
    ``MAX_LITERAL_CENTROID_ELEMS`` elements.
    """
    if not cent_rows:
        return vectors.select(
            ID, F.lit(None).cast("long").alias("centroid_id"), "vec"
        ).filter(F.lit(False))
    n_elems = sum(len(cvec) for _, cvec in cent_rows)
    if n_elems > MAX_LITERAL_CENTROID_ELEMS:
        raise ValueError(
            f"IVF model of {n_elems} elements exceeds MAX_LITERAL_CENTROID_ELEMS"
            f" = {MAX_LITERAL_CENTROID_ELEMS}: centroids are embedded as plan literals"
        )

    def cell_sql(cid: int, cvec: list[float]) -> str:
        carr = "array(" + ", ".join(_sql_double(x) for x in cvec) + ")"
        cnorm = _sql_double(_centroid_norm(cvec))
        return (
            f"named_struct('sim', round(aggregate(zip_with(vec, {carr},"
            " (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
            f" / (__vnorm * {cnorm}), {ROUND}), 'centroid_id', CAST({int(cid)} AS BIGINT))"
        )

    ranked = F.expr(
        f"slice(array_sort(array({', '.join(cell_sql(c, v) for c, v in cent_rows)}),"
        " (l, r) -> CASE WHEN l.sim > r.sim THEN -1 WHEN l.sim < r.sim THEN 1 "
        "WHEN l.centroid_id < r.centroid_id THEN -1 "
        "WHEN l.centroid_id > r.centroid_id THEN 1 ELSE 0 END), "
        f"1, {min(n_probe, len(cent_rows))})"
    )
    vnorm = F.expr("sqrt(aggregate(vec, 0.0D, (acc, v) -> acc + v * v))")
    with_norm = vectors.select(ID, "vec", vnorm.alias("__vnorm"))
    return with_norm.select(ID, F.explode(ranked).alias("__cell"), "vec").select(
        ID, F.col("__cell.centroid_id").alias("centroid_id"), "vec"
    )


def train_ivf_centroid_rows(
    corpus: DataFrame, n_cells: int = 8, iters: int = 3
) -> list[tuple[int, list[float]]]:
    """Train IVF centroids with distributed Lloyd's iterations.

    Seeded with the lowest ids, so the model is reproducible. Each iteration
    is ONE job: the narrow nearest-cell projection, posexplode, two
    map-side-combined groupBys for the element-wise mean, and a model-sized
    collect. The model is driver-sized state by definition. A cell that loses
    all members drops out (standard k-means shrinkage)."""
    rows = collect_rows(corpus.orderBy(ID).limit(n_cells), ID)
    v = _vectors(corpus)
    for _ in range(iters):
        new = (
            _nearest_cells(v, rows, 1)
            .select("centroid_id", F.posexplode("vec").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("v"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s.v
                ).alias(VEC)
            )
        )
        rows = collect_rows(new, "centroid_id")
    return rows


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    n_probe: int = 1,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k over an IVF index: the corpus is assigned to its
    nearest cell (nprobe=1), each query to its ``n_probe`` nearest cells, and
    the exact cosine is computed only within the probed cells — an equi-join
    on ``centroid_id`` instead of a full scan. Recall grows with ``n_probe``.

    No dedup is needed: every corpus vector sits in exactly one cell, so a
    (query, neighbor) pair joins through at most one shared cell however
    many cells the query probes."""
    c = _nearest_cells(_vectors(corpus), cent_rows, 1).alias("c")
    q = _nearest_cells(_vectors(queries), cent_rows, n_probe).alias("q")
    on = [
        F.col("c.centroid_id") == F.col("q.centroid_id"),
        F.col(f"c.{ID}") != F.col(f"q.{ID}"),
    ]
    scored = c.join(broadcast(q), on).select(
        F.col(f"q.{ID}").alias("query_id"),
        F.col(f"c.{ID}").alias("neighbor_id"),
        F.round(cosine(F.col("q.vec"), F.col("c.vec")), ROUND).alias("cosine_sim"),
    )
    return _top_k(scored, k)


#: Auto-sizing target: with bucket_bits = ceil(log2(n / target)) each LSH
#: table has ~2^bits buckets of ~target rows, keeping the per-bucket dense
#: verify O(target²) and the whole op ~linear in n. 800 reproduces the
#: measured sf10 mitigation cell (200k vectors → 8 bits, SCALE_LADDER.json
#: t50_b8: p = 0.69 vs p ≈ 1.2 at fixed 4 bits).
DEFAULT_TARGET_BUCKET_ROWS = 800


def auto_bucket_bits(
    n_rows: int,
    target_bucket_rows: int = DEFAULT_TARGET_BUCKET_ROWS,
    min_bits: int = 2,
    max_bits: int = 24,
) -> int:
    """Size LSH ``bucket_bits`` from the corpus row count: the documented
    growth rule ``bucket_bits ≈ log2(n / target_bucket_rows)`` (see
    :func:`near_dup_by_cosine`), clamped to [min_bits, max_bits]. At fixed
    bits, per-table bucket size grows as n/2^bits and the dense per-bucket
    verification turns super-linear — the scale ladder measured p ≈ 1.2 at
    fixed 4 bits vs p = 0.69 with log-n-grown 8 bits at the 200k-vector
    rung. Deterministic, pure, and cheap: callers pass a plain count."""
    if n_rows <= max(1, target_bucket_rows):
        return min_bits
    return max(min_bits, min(max_bits, math.ceil(math.log2(n_rows / target_bucket_rows))))


def sign_agreement_prob(threshold: float) -> float:
    """Cosine similarity → probability two vectors at that angle agree on one
    sign-random-projection bit: p = 1 − θ/π (Goemans–Williamson)."""
    return 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi


def auto_lsh_shape(
    bucket_bits: int,
    threshold: float,
    base_bits: int = 2,
    base_tables: int = 8,
    max_tables: int = 64,
) -> tuple[int, int]:
    """Jointly size (bucket_bits, n_tables) so the auto-scaled shape holds
    the RECALL the floor config (``base_bits`` × ``base_tables``) delivers at
    the caller's threshold.

    AND-amplification (more bits) cuts candidates but lowers per-table detect
    probability p^bits; without compensating OR-amplification (more tables),
    auto-grown bits silently push borderline-pair recall below the floor
    config's — exactly the failure the round-7 advice flagged for
    low-threshold callers at scales where the O(n²) recall harness cannot
    run. Given detect probability 1 − (1 − p^bits)^tables, this solves for
    the table count that reproduces the floor config's miss rate
    ((1 − p^base_bits)^base_tables), and when that count would exceed
    ``max_tables``, BACKS OFF bits instead of undershooting recall — the
    floor shape is always feasible, so recall is never silently traded. At
    ``bucket_bits == base_bits`` the result is exactly the historical
    (base_bits, base_tables): small-corpus outputs are byte-identical.

    The degenerate regime is priced, not hidden: at low thresholds
    (p ≲ 0.67) holding recall costs bits — e.g. threshold 0.35 at 10 auto
    bits resolves to ~(5, 42), whose verify volume n²·tables/2^bits is
    actually BELOW the floor config's — while at high thresholds bits keep
    their full candidate-cut power with a modest table growth."""
    if bucket_bits <= base_bits:
        return bucket_bits, base_tables
    p = sign_agreement_prob(threshold)
    base_miss = 1.0 - p**base_bits
    if base_miss <= 0.0:  # p == 1: any single table catches the pair
        return bucket_bits, base_tables
    log_target_miss = base_tables * math.log(base_miss)

    def tables_for(bits: int) -> int:
        miss1 = 1.0 - p**bits
        if miss1 <= 0.0:
            return base_tables
        # 1e-9 guard: at bits == base_bits this is exactly base_tables and
        # float noise must not ceil it to base_tables + 1
        return math.ceil(log_target_miss / math.log(miss1) - 1e-9)

    bits = bucket_bits
    while bits > base_bits and tables_for(bits) > max_tables:
        bits -= 1
    return bits, min(max_tables, max(base_tables, tables_for(bits)))


def near_dup_by_cosine(
    corpus: DataFrame,
    threshold: float = 0.95,
    bucket_bits: int | None = None,
    n_tables: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table random-hyperplane
    LSH (Charikar, STOC'02 sign-random-projection sketches).

    ``n_tables`` independent hash tables, each bucketing the corpus by the
    sign bits of ``bucket_bits`` pseudo-random Rademacher hyperplanes
    (component signs drawn deterministically from ``xxhash64(table, bit,
    dim_index)`` — seedless and reproducible across runs). Candidates are
    pairs colliding in ≥1 table; survivors are exact-cosine verified against
    ``threshold``, so precision is always 1.0 and only recall is
    probabilistic: a pair at angle θ agrees on one sign bit with p = 1 − θ/π,
    so its detect probability is 1 − (1 − p^bits)^tables. AND-amplification
    (``bucket_bits``) cuts candidates ~2^bits× per table; OR-amplification
    (``n_tables``) restores recall — tune both to the target threshold. The
    defaults (2 bits × 8 tables) give expected recall ≈ 0.97 at cosine 0.35
    (p ≈ 0.61); for classic ≥0.8 near-dup gating raise ``bucket_bits`` to
    8–16 for a deep candidate cut at the same recall.

    ``bucket_bits`` must GROW with log(corpus) to stay linear: at fixed bits
    the per-table bucket count is constant, so bucket size — and per-bucket
    verification — grows with n²/2^bits. Measured on the scale ladder
    (SCALE_LADDER.json, sf3→sf10 = 150k→500k docs' worth of vectors):
    4 bits × 12 tables at cosine 0.5 scales at p ≈ 1.2, while 8 bits × 12
    tables restores p = 0.69 and runs 3.9× faster at the top rung with
    banding recall ≈ 0.999 for genuine near-dups. The rule
    ``bucket_bits ≈ log2(n / target_bucket_rows)`` is therefore the DEFAULT:
    ``bucket_bits=None`` computes it via :func:`auto_bucket_bits` from one
    cheap ``corpus.count()`` (one extra metadata-light action; pass an
    explicit int to skip it or to pin a shape for measurement). The floor of
    2 bits reproduces the historical small-corpus default, so driver-scale
    results are unchanged. When BOTH knobs are auto (``n_tables=None``),
    auto-sized bits also auto-grow the table count via
    :func:`auto_lsh_shape`, holding the floor config's recall at the
    caller's threshold instead of silently trading it for the candidate cut
    (detect probability is 1 − (1 − p^bits)^tables); an explicit
    ``n_tables`` pins the historical behavior (8 when only bits are
    explicit).

    Honest scaling boundary: the candidate-pruning power is the gap between
    the wanted pairs' bit-agreement p and the background's (~0.5 for nearly
    orthogonal vectors). At cosine ≥ 0.8 (p ≥ 0.8, 8 bits × 14 tables)
    background collisions are ~5% of pairs — a real 20× scan cut. At cosine
    0.35 the gap (0.61 vs 0.5) is too small for ANY (bits, tables) to prune
    without killing recall — candidate volume approaches all-pairs and the
    op degenerates to a verified brute force. That is a property of
    sign-random-projection LSH, not of this implementation; for
    low-threshold mining at scale use :func:`blocked_near_dup_numpy` over a
    coarse partition (IVF cells, labels) instead.

    Execution shape: one vectorized pass computes every table's bucket (a
    single numpy matmul per Arrow batch against a deterministic
    splitmix64-derived Rademacher matrix), rows fan out to (table, bucket)
    keys carrying their vector, ONE shuffle groups each bucket, and each
    bucket verifies its own pairs locally with a dense matmul (the
    exact-pairs kernel). Only SURVIVING pairs (actual near-dups) leave the
    bucket, so the global dedupe handles the true-positive set ×tables —
    never the full candidate volume. No cross join; no global candidate
    materialization; a hot bucket is the skew unit (sub-block or cap it at
    extreme skew, same discipline as MinHash banding).
    """
    v = corpus.select(ID, VEC)
    if bucket_bits is None:
        bucket_bits = auto_bucket_bits(v.count())
        if n_tables is None:
            # auto bits must auto-grow tables (and back bits off when tables
            # would explode) to hold the floor config's recall — see
            # auto_lsh_shape
            bucket_bits, n_tables = auto_lsh_shape(bucket_bits, threshold)
    if n_tables is None:
        n_tables = 8
    per_bucket = (
        _lsh_buckets_numpy(v, bucket_bits, n_tables)
        .groupBy("tbl", "bucket")
        .applyInPandas(_block_pairs_fn(threshold), PAIRS_SCHEMA)
    )
    # A pair colliding in k tables survives k buckets → one row after dedupe.
    # vec_a < vec_b is guaranteed by the per-bucket kernel, so the same pair
    # from different tables collapses to one row here.
    return per_bucket.dropDuplicates(["vec_a", "vec_b"])


def _block_pairs_fn(threshold: float):
    """The exact-pairs kernel, shared by :func:`blocked_near_dup_numpy` (per
    block) and :func:`near_dup_by_cosine` (per (tbl, bucket) group): an
    ``applyInPandas`` function that, given one group of (vec_id, embedding)
    rows, emits every pair with rounded cosine ≥ ``threshold`` as (vec_a,
    vec_b, cosine_sim) with ``vec_a < vec_b``. Ids are sorted before the
    upper-triangular sweep, so the ordering invariant holds and cross-table
    duplicates of a pair are byte-identical rows.

    The sweep is CHUNKED: similarity rows are computed ≤64 MB at a time
    (chunk_rows × n float64), never the full n×n matrix. A dense n² buffer is
    fine at a few hundred rows per block but is the memory cliff at scale —
    a 12.5k-row bucket (sf10 ladder rung, 200k vectors / 16 buckets) would
    need ~3.5 GB per task for sims + triu indices, and 32 concurrent Python
    workers would OOM the host long before the executors blink. Per-pair
    arithmetic (dot, then divide by the norm product, then round to 6) is
    identical to the unchunked form, so results are bit-for-bit unchanged."""
    import pandas as pd

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[ID].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame(columns=["vec_a", "vec_b", "cosine_sim"])
        mat = np.array(list(pdf[VEC]), dtype=np.float64)
        order = np.argsort(ids)
        ids, mat = ids[order], mat[order]
        norms = np.linalg.norm(mat, axis=1)
        n = len(ids)
        # No lower floor beyond 1: a floor of e.g. 256 rows would void the
        # ≤64 MB bound for groups past 32,768 rows (256·n·8 bytes grows
        # linearly with group size); at worst chunk=1 is a matvec per row.
        chunk = max(1, min(4096, (64 << 20) // (8 * n)))
        col_idx = np.arange(n)
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for s in range(0, n - 1, chunk):
            e = min(s + chunk, n)
            sims = np.round((mat[s:e] @ mat.T) / np.outer(norms[s:e], norms), ROUND)
            keep = (sims >= threshold) & (col_idx[None, :] > np.arange(s, e)[:, None])
            ai, aj = np.nonzero(keep)
            out_a.append(ids[ai + s])
            out_b.append(ids[aj])
            out_s.append(sims[ai, aj])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine_sim": np.concatenate(out_s),
            }
        )

    return block_pairs


def _lsh_buckets_numpy(v: DataFrame, bucket_bits: int, n_tables: int) -> DataFrame:
    """(vec_id, embedding) → (vec_id, tbl, bucket, embedding: array<double>)
    sign-projection rows, one numpy matmul per Arrow batch. The vector rides
    along (×n_tables fan-out) so each (tbl, bucket) group can verify its
    candidate pairs locally without a second join back to the corpus — one
    shuffle total. The hyperplane matrix is Rademacher ±1 derived from
    splitmix64 over the flat (table, bit, dim) counter — fully deterministic
    with no RNG state, so every executor materializes the identical planes."""
    import pandas as pd

    def planes_for(dim: int) -> np.ndarray:
        x = np.arange(n_tables * bucket_bits * dim, dtype=np.uint64)
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
        signs = np.where((z & np.uint64(1)).astype(bool), 1.0, -1.0)
        return signs.reshape(n_tables * bucket_bits, dim).T  # (dim, T*bits)

    weights = (np.uint64(1) << np.arange(bucket_bits, dtype=np.uint64)).astype(np.int64)

    def batch(frames):
        planes = None
        for pdf in frames:
            if not len(pdf):
                continue
            mat = np.array(list(pdf[VEC]), dtype=np.float64)
            if planes is None:
                planes = planes_for(mat.shape[1])
            bits = (mat @ planes) >= 0  # (B, T*bits)
            buckets = bits.reshape(len(pdf), n_tables, bucket_bits) @ weights  # (B, T)
            yield pd.DataFrame(
                {
                    ID: np.repeat(pdf[ID].to_numpy(dtype=np.int64), n_tables),
                    "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                    "bucket": buckets.reshape(-1),
                    VEC: list(np.repeat(mat, n_tables, axis=0)),
                }
            )

    return v.mapInPandas(batch, f"{ID} long, tbl int, bucket long, {VEC} array<double>")


def blocked_near_dup_numpy(
    corpus: DataFrame, threshold: float, block_col: str | None = None
) -> DataFrame:
    """Exact cosine pairs ≥ ``threshold`` within each ``block_col`` block, or
    over the whole corpus when ``block_col`` is None (all-pairs: the ground
    truth the LSH recall harness compares against — O(n²) compute, so only
    for model-sized corpora).

    One shuffle (groupBy block), then chunked dense matmuls per block (see
    :func:`_block_pairs_fn`) — measured ~6× faster than a JVM per-pair fold
    at 200-vector blocks, with bit-identical rounded values. Block size is
    the quadratic COMPUTE knob; the chunked sweep keeps per-task memory flat
    however big a block gets."""
    if block_col is None:
        corpus, block_col = corpus.withColumn("__block", F.lit(0)), "__block"
    return (
        corpus.select(ID, VEC, block_col)
        .groupBy(block_col)
        .applyInPandas(_block_pairs_fn(threshold), PAIRS_SCHEMA)
    )
