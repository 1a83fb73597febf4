"""Duplicate-cluster resolution and deterministic corpus sampling.

North-star extensions (BASELINE.json): the stage AFTER near-dup pair
generation in a training-data pipeline. Pair emitters (``dedup.ngram_jaccard_
pairs``, ``dedup.minhash_lsh_pairs``, ...) produce an edge list; turning that
into "keep exactly one document per duplicate group" requires the connected
components of the pair graph, then a canonical-survivor pick per component.

Scale posture (100 TB):
- ``connected_components`` is iterative min-label propagation over DataFrame
  joins — every round is one equi-join + one groupBy (shuffle on node id),
  never a cross join, and lineage is truncated per round with
  ``materialize.pin`` (eager; ``spark.graft.pin`` selects reliable
  checkpointing on preemptible clusters) so the plan does not grow with
  iterations. Near-dup graphs are dense little cliques (diameter 1-3), so
  the loop converges in 2-4 rounds; ``max_iter`` caps pathological chains.
  On a real cluster the same loop runs with checkpointing to HDFS/S3; the
  label frontier is tiny relative to the corpus (only docs that appear in
  some pair).
- Sampling is HASH-based, not RNG-based: ``md5(key) % 100 < pct`` is
  reproducible across runs, engines, partitionings and retries — the only
  sampling discipline that is auditable at 100 TB (and the reason it keeps a
  DuckDB oracle; ``df.sample()`` seeds are engine-private).

No reference parity row — the reference (an event-ETL service) has nothing
like this; see SURVEY.md §7 north-star scope.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from .materialize import pin, unpin


def _pin_step_counting_changes(df: DataFrame) -> tuple[DataFrame, int]:
    """Pin one propagation round's ``(node, old_label, label)`` output and
    return ``(pinned (node, label) frame, changed-label count)`` — both from
    ONE action (r15, guide §2.4: cut the CC loop's per-round driver actions).

    The loop previously ran a separate ``filter(label != old_label).limit(1)
    .count()`` job after every pin — a full extra driver round trip + job per
    round whose input was the blocks the pin had just written. An
    ``Observation`` attaches a CollectMetrics node that streams rows WHILE the
    eager checkpoint materializes them, so the convergence count arrives with
    the pin action itself (verified: ``Observation.get`` returns after a bare
    ``localCheckpoint(eager=True)``, including on empty frames). Bonus:
    ``old_label`` is consumed by the metric below the projection, so the
    checkpointed blocks now carry only (node, label) — one column fewer than
    before.
    """
    obs = Observation()
    observed = df.observe(
        obs,
        F.count(F.when(F.col("label") != F.col("old_label"), 1)).alias("changed"),
    ).select("node", "label")
    pinned = pin(observed)
    return pinned, int(obs.get["changed"])


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 15,
) -> DataFrame:
    """Min-label propagation with pointer jumping: returns
    ``(node, cluster_id)`` where cluster_id is the smallest node id in the
    node's connected component.

    Each round does two things in one checkpointed step:
    1. propagate: label[n] <- min(label[n], min over neighbors' labels) —
       one shuffle-join + one aggregation ("hash-to-min");
    2. pointer-jump: label[n] <- label[label[n]] — one self-join on the
       (small) label table. Labels are always node ids and label[x] <= x, so
       the jump only ever shrinks labels and collapses long chains
       exponentially: a path of diameter d converges in O(log d) rounds
       instead of O(d), so ``max_iter=15`` covers diameters up to ~2^15.

    Stops when a full round changes no label. If the loop exhausts
    ``max_iter`` while labels are still moving, raises rather than silently
    returning split (wrong) clusters — a wrong dedup survivor set is worse
    than a failed job.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Materialize the edge list ONCE: the caller's edge pipeline (e.g. the
    # whole shingle→Jaccard join) must not re-execute on every round. The
    # symmetric closure is an explode of [(a,b),(b,a)], NOT a self-union —
    # a union's two branches would each execute the caller's edge DAG inside
    # this one checkpoint action.
    # Lineage truncation is STRUCTURAL for this loop, not an optimization:
    # unpinned, each round's plan would embed the previous round ~3x
    # (neighbor join, propagate join, pointer jump) plus the convergence
    # count, re-executing the caller's whole edge DAG O(3^rounds) times.
    sym = pin(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    # Identity labels stay LAZY: both round-0 references (the neighbor join
    # and the propagate join) recompute the distinct from SYM'S PINNED BLOCKS
    # inside round 0's single action — two cheap local re-aggregations beat a
    # whole extra eagerly-scheduled job (measured ~0.3-0.5s of pure overhead
    # per query at bench scale).
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    def one_round(lbl: DataFrame, jump: bool) -> DataFrame:
        """(node, old_label, label) after one propagate (+ optional pointer
        jump) over ``lbl``. Pointer jump = label-of-label: every label is
        itself a node id, so the self-join always matches. ``jump=False``
        for identity labels, where label[mid] == mid makes the join pure
        cost."""
        neigh_min = (
            sym.join(
                lbl.select(F.col("node").alias("b"), F.col("label").alias("nlabel")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nlabel").alias("min_neigh"))
        )
        propagated = lbl.join(
            neigh_min, lbl["node"] == neigh_min["a"], "left"
        ).select(
            "node",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("min_neigh"), F.col("label"))
            ).alias("mid_label"),
        )
        if not jump:
            return propagated.select(
                "node", "old_label", F.col("mid_label").alias("label")
            )
        return (
            propagated.join(
                lbl.select(
                    F.col("node").alias("mid_label"), F.col("label").alias("jumped")
                ),
                "mid_label",
            )
            .select(
                "node",
                "old_label",
                F.least(F.col("mid_label"), F.col("jumped")).alias("label"),
            )
        )

    if max_iter < 2:  # degenerate cap: one propagate, no convergence proof
        step = pin(one_round(labels, jump=False))
        unpin(sym)  # step is materialized; the edge pin is dead weight now
        return step.select("node", F.col("label").alias("cluster_id"))

    # Rounds 0+1 share ONE action: round 0 (identity labels, jump skipped)
    # is lazily persisted, so its three appearances inside round 1's plan
    # (neighbor join, propagate join, pointer jump) materialize the cache
    # once during round 1's pin instead of paying a separate eagerly-
    # scheduled job — or, without the persist, recomputing round 0 three
    # times (measured: plain lazy fusion is SLOWER than two pins because
    # ReusedExchange does not dedup the three references under AQE).
    # old_label carries round 0's output, so the convergence count —
    # observed DURING the pin action itself, see _pin_step_counting_changes —
    # certifies round 1 changed nothing: near-dup graphs are dense little
    # cliques (diameter 1-3) that converge in round 0, making ONE job the
    # COMMON whole-loop cost (r13: two pins + a count job; r15: the count
    # rides the pin). Later rounds still pin one step at a time, keeping the
    # per-round plan constant-size.
    l1 = one_round(labels, jump=False).select("node", "label").persist()
    step, changed = _pin_step_counting_changes(one_round(l1, jump=True))
    l1.unpersist()  # pinned step is materialized; the cache is dead weight
    converged = False
    for i in range(1, max_iter):
        if changed == 0:
            converged = True
            break
        if i == max_iter - 1:
            break  # cap reached with labels still moving
        prev = step
        step, changed = _pin_step_counting_changes(one_round(step, jump=True))
        # The new step is materialized (eager pin), so the previous round's
        # blocks are unreachable from any live plan — free them NOW instead
        # of leaving a generation of dead storage per round (see
        # materialize.unpin: the GC-released path measurably poisons later
        # queries in the same session and OOMed the sf10 ladder rung).
        unpin(prev)
    if not converged:
        raise ValueError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; the component graph has pathological diameter — raise "
            "max_iter (rounds needed grow ~log2(diameter))."
        )
    # Only the FINAL step backs the returned frame; the symmetric edge pin —
    # the big one, two rows per input pair — is dead once that step exists.
    unpin(sym)
    return step.select("node", F.col("label").alias("cluster_id"))


def attach_clusters(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Left-join component labels onto the full corpus; docs in no pair get a
    singleton cluster (their own id). The components side is tiny relative to
    the corpus (only duplicated docs), so Spark broadcasts it under AQE."""
    comp = components.select(
        F.col("node").alias(id_col), F.col("cluster_id").alias("__cid")
    )
    return docs.join(comp, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("__cid"), F.col(id_col))
    ).drop("__cid")


def canonical_survivors(
    clustered: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Pick ONE survivor per duplicate cluster: highest ``quality_col``,
    ties broken by lowest id (deterministic). Emits the survivor row plus the
    cluster size — one window over a shuffle keyed by cluster_id."""
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        clustered.withColumn("__rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(Window.partitionBy("cluster_id")))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def hash_bucket(key: Column, modulus: int = 100) -> Column:
    """Deterministic bucket in [0, modulus) from md5(key) — portable: DuckDB
    ``('0x' || substr(md5(k),1,15))::BIGINT % modulus`` computes the same."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
        "long"
    ) % modulus


def deterministic_sample(
    df: DataFrame, key_col: str, pct: int
) -> DataFrame:
    """Keep ~pct% of rows, chosen by content hash of ``key_col`` — stable
    across runs/engines/partitionings (unlike ``df.sample``)."""
    return df.filter(hash_bucket(F.col(key_col)) < pct)


def stratified_sample(
    df: DataFrame, key_col: str, stratum_col: str, rates: dict[str, int],
    default_pct: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the 'data mixing' primitive of a
    training pipeline (e.g. keep 80% en, 30% de, downsample the rest). The
    rates map is a literal MAP expression, so no join and no shuffle: the
    filter is evaluated row-local inside the scan stage and pushes the
    stratum column read down to Parquet."""
    pairs = []
    for k, v in sorted(rates.items()):
        pairs += [F.lit(k), F.lit(int(v))]
    rate = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(stratum_col)),
        F.lit(int(default_pct)),
    )
    return df.filter(hash_bucket(F.col(key_col)) < rate)
