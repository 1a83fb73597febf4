"""Text-analysis expressions for the documents table (north-star ops):
language ID, quality scoring, token counting, fingerprinting.

All pure built-in column expressions (codegen'd, shuffle-free per row) so each
op keeps a DuckDB oracle and costs nothing extra at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.dedup import normalize_text, tokens

# Tiny per-language function-word lists for the n-gram/stopword heuristic.
# (Real pipelines plug fastText/CLD3 here via a Pandas UDF; the heuristic is
# the deterministic, dependency-free baseline.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "mit", "ein"),
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "es": ("el", "la", "los", "las", "y", "de", "que", "es"),
    "fr": ("le", "la", "les", "et", "de", "que", "est", "une"),
    "zh": ("de5", "shi4", "bu4", "le5", "wo3", "you3", "he2", "ren2"),
}

STOPWORDS = LANG_MARKERS["en"]


def with_text_prep(df, text_col: str = "text"):
    """Materialize the normalized text + token array ONCE as columns.

    Every downstream heuristic reads these columns instead of repeating the
    regex+split subtree per sub-score: Catalyst keeps the projection boundary
    (CollapseProject won't inline a non-cheap expression used many times), so
    the row pays one normalize+tokenize regardless of how many scores stack
    on top — and the generated code stays small (≈4× faster first-run
    compile, measured)."""
    return df.withColumn("__norm", normalize_text(F.col(text_col))).withColumn(
        "__toks", F.split(F.col("__norm"), " ")
    )


def _token_count(norm: Column, toks: Column) -> Column:
    return F.when(norm == "", F.lit(0)).otherwise(F.size(toks)).cast("long")


def token_count(text: Column) -> Column:
    """Whitespace token count; empty text → 0."""
    t = normalize_text(text)
    return _token_count(t, F.split(t, " "))


def token_count_prepped() -> Column:
    return _token_count(F.col("__norm"), F.col("__toks"))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish proxy: count regex word pieces + standalone punctuation.

    ``[A-Za-z0-9]{1,4}`` chunks approximate subword units (a BPE vocabulary's
    mean piece length ≈ 3-4 chars); punctuation tokenizes alone, whitespace
    vanishes — a cheap, deterministic stand-in for a real tokenizer count.
    """
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"([a-z0-9]{1,4}|[^\sa-z0-9])"), 1
    )
    return F.size(pieces).cast("long")


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    marker_arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))


def marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    """Non-distinct count of tokens that belong to a marker set."""
    return _marker_hits(tokens(text), markers)


def _lang_id(toks: Column) -> Column:
    scores = {lang: _marker_hits(toks, m) for lang, m in LANG_MARKERS.items()}
    # greatest(...) then first lang (alphabetical) achieving it.
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def lang_id(text: Column) -> Column:
    """Predicted language = argmax marker hits, alphabetical tie-break,
    'und' (undetermined) when nothing scores."""
    return _lang_id(tokens(text))


def lang_id_prepped() -> Column:
    return _lang_id(F.col("__toks"))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(n > 0, F.round(punct / n, 6)).otherwise(F.lit(0.0))


def _stopword_ratio(n: Column, toks: Column) -> Column:
    return F.when(
        n > 0, F.round(_marker_hits(toks, STOPWORDS) / n, 6)
    ).otherwise(F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    return _stopword_ratio(token_count(text), tokens(text))


def stopword_ratio_prepped() -> Column:
    return _stopword_ratio(token_count_prepped(), F.col("__toks"))


def _mean_token_len(n: Column, toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, F.round(total / n, 6)).otherwise(F.lit(0.0))


def mean_token_len(text: Column) -> Column:
    return _mean_token_len(token_count(text), tokens(text))


def mean_token_len_prepped() -> Column:
    return _mean_token_len(token_count_prepped(), F.col("__toks"))


def _quality_score(n: Column, toks: Column, text: Column) -> Column:
    len_score = F.least(n / F.lit(50.0), F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 5)
    stop = _stopword_ratio(n, toks)
    stop_score = F.when((stop >= 0.05) & (stop <= 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    wl = _mean_token_len(n, toks)
    wl_score = F.when((wl >= 2.5) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        len_score * 0.4 + punct_penalty * 0.2 + stop_score * 0.2 + wl_score * 0.2, 6
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, low punctuation noise,
    healthy stopword density, plausible word lengths — the standard cheap
    pre-filter before an LLM-data pipeline pays for model-based scoring."""
    return _quality_score(token_count(text), tokens(text), text)


def quality_score_prepped(text: Column) -> Column:
    """quality_score over with_text_prep columns (punct ratio still needs the
    raw text — punctuation is stripped by normalization)."""
    return _quality_score(token_count_prepped(), F.col("__toks"), text)


def quality_gates_prepped() -> dict[str, Column]:
    """THE corpus quality gate, single source of truth (Gopher-style): gate
    name → fired?, over ``with_text_prep`` columns (plus raw ``text`` for
    the punctuation gate). Every consumer — the batch ``quality_filter`` /
    ``quality_drift_by_source`` queries, the composed corpus pipeline, and
    the streaming drift monitor — derives keep/drop from THIS dict, so a
    monitored keep-rate can never diverge from the enforced one (pinned by
    tests/test_streaming_multimodal.py's batch↔streaming parity test)."""
    stop = stopword_ratio_prepped()
    wl = mean_token_len_prepped()
    return {
        "too_short": token_count_prepped() < 20,
        "too_much_punct": punct_ratio(F.col("text")) > 0.2,
        "stopword_band": ~((stop >= 0.05) & (stop <= 0.6)),
        "token_len_band": ~((wl >= 2.5) & (wl <= 10.0)),
    }


def quality_keep_prepped() -> Column:
    """keep = no quality gate fired (see :func:`quality_gates_prepped`)."""
    fired = None
    for gate in quality_gates_prepped().values():
        fired = gate if fired is None else (fired | gate)
    return ~fired


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct token set
    (the classic "fingerprint" key for clustering shared-vocabulary docs;
    md5 keeps it portable to the SQL oracle)."""
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text))))
    return F.md5(canon)
