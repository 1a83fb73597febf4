"""Deterministic input generation for the benchmark workloads.

Everything the engine reads during a run is produced here from the run's
``--seed`` alone: the ``events`` table (the batch refresh's visuals and the
ingest stream's source), the ``documents`` table (the batch refresh's corpus
job) and the webhook envelope landing files (ingest stream). The engine never sees the seed, only
the files. :func:`digest` hashes the generated bytes so both sides of an A/B
can show they read identical inputs.

Shapes follow the synthetic tables the registry queries are written for
(``TESTDATA.md``):
``events`` is ``(event_id, ts, user_id, event_type, value, props)`` over
January 2024 with 1,500 agents, and ``documents`` is
``(doc_id, text, lang, source, n_chars)`` with a planted share of near-copies
so the near-dup stage has real pairs to find.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at sf0.1, the measured scale.
EVENTS_SF01 = 100_000
DOCUMENTS_SF01 = 5_000

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
N_AGENTS = 1_500
_JAN_1 = dt.datetime(2024, 1, 1)
_MONTH_US = 30 * 86_400 * 1_000_000

LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.45, 0.1375, 0.1375, 0.1375, 0.1375]
VOCAB = np.array(
    (
        "batch part spark line column order small sort fast value scan hash "
        "slow group agg filter query big key window row table stream merge "
        "data vector customer join a the"
    ).split()
)
# Token weights: the two stopwords sit near the quality gate's stopword-ratio
# floor, so the gate keeps some documents and drops others.
_VOCAB_P = np.r_[np.full(len(VOCAB) - 2, 1.0), [1.2, 1.2]]
_VOCAB_P = _VOCAB_P / _VOCAB_P.sum()
NEAR_COPY_SHARE = 0.05

TZ_BY_MOD = ["UTC", "America/New_York", "America/Los_Angeles", "Europe/Berlin", "Asia/Tokyo"]


def make_events(seed: int, n: int) -> dict[str, np.ndarray]:
    """The ``events`` table as column arrays, ordered by event time."""
    rng = np.random.default_rng([seed, 1])
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": np.sort(rng.integers(0, _MONTH_US, n)),
        "user_id": rng.integers(0, N_AGENTS, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.uniform(0.0, 150.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def write_events(events: dict[str, np.ndarray], path: str) -> None:
    base = np.datetime64(_JAN_1, "us")
    table = pa.table(
        {
            "event_id": events["event_id"],
            "ts": pa.array(base + events["ts_us"].astype("timedelta64[us]")),
            "user_id": events["user_id"],
            "event_type": events["event_type"].astype(str),
            "value": events["value"],
            "props": [f'{{"k": {k}}}' for k in events["k"]],
        }
    )
    pq.write_table(table, path, row_group_size=len(events["event_id"]))


def write_documents(seed: int, n: int, path: str) -> None:
    """The ``documents`` table: random token streams plus near-copies (a few
    tokens substituted) of earlier originals, in seed-permuted id order."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < NEAR_COPY_SHARE:
            # Copies are made of originals only, so every duplicate cluster
            # is one original and its copies: the connected-components loop
            # then needs the same number of rounds whatever the seed.
            toks = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for j in rng.choice(len(toks), size=max(1, len(toks) // 25), replace=False):
                toks[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            toks = list(VOCAB[rng.choice(len(VOCAB), size=int(rng.integers(8, 100)), p=_VOCAB_P)])
            originals.append(i)
        texts.append(" ".join(toks))
    order = rng.permutation(n)
    texts = [texts[j] for j in order]
    table = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)].astype(str),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(table, path, row_group_size=n)


def _envelope(event_id: int, ts_us: int, user_id: int, event_type: str, k: int) -> str:
    """One Aloware webhook envelope line (the wire shape ``read_envelope_stream``
    consumes): outbound calls and texts, keyword-free events classified by
    direction/type codes, inbound and unknown-metric events the adapter drops,
    the uuid id fallback, both timestamp spellings, a missing timestamp, and
    missing or invalid agent timezones."""
    ts = _JAN_1 + dt.timedelta(microseconds=int(ts_us))
    name = {
        "purchase": "outbound_call",
        "signup": "outbound_text",
        "click": "generic_event",
        "view": "inbound_call",
    }.get(event_type, "outbound_event")
    body = {
        "id": None if event_id % 10 == 7 else event_id,
        "uuid_v4": f"uuid-{event_id}" if event_id % 10 == 7 else None,
        "direction": (2 if k % 2 == 0 else 1) if event_type == "click" else None,
        "type": (1 if k % 3 == 0 else 2) if event_type == "click" else (9 if event_type == "error" else None),
        "created_at": None
        if k % 23 == 0
        else ts.strftime("%Y-%m-%dT%H:%M:%S" if event_id % 2 == 0 else "%Y-%m-%d %H:%M:%S"),
        "owner_id": None if user_id % 5 == 0 else user_id,
        "user_id": None if user_id == 0 else user_id,
        "contact": {
            "timezone": None
            if user_id % 7 == 6
            else ("Mars/Olympus" if user_id % 9 == 8 else TZ_BY_MOD[user_id % 5])
        },
    }
    received = (ts + dt.timedelta(hours=1)).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    return json.dumps(
        {"source": "ALOWARE", "body": json.dumps({"event": name, "body": body}), "receivedAt": received}
    )


def write_envelope_files(
    events: dict[str, np.ndarray],
    seed: int,
    start: int,
    per_file: int,
    n_files: int,
    out_dir: str,
    retry_share: float = 0.03,
    repeat_share: float = 0.01,
) -> list[str]:
    """Land-ready envelope files in arrival order, starting at event index
    ``start``. Each file holds ``per_file`` fresh envelopes, plus retries of
    envelopes from the previous few files (``retry_share``) and repeats of its
    own envelopes (``repeat_share``), shuffled into the file."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    paths: list[str] = []
    recent: list[str] = []
    pos = start
    for f in range(n_files):
        fresh = [
            _envelope(
                int(events["event_id"][i]),
                int(events["ts_us"][i]),
                int(events["user_id"][i]),
                str(events["event_type"][i]),
                int(events["k"][i]),
            )
            for i in range(pos, min(pos + per_file, len(events["event_id"])))
        ]
        if not fresh:
            break
        pos += len(fresh)
        lines = list(fresh)
        if recent:
            lines += [recent[j] for j in rng.integers(0, len(recent), int(per_file * retry_share))]
        lines += [fresh[j] for j in rng.integers(0, len(fresh), int(per_file * repeat_share))]
        lines = [lines[j] for j in rng.permutation(len(lines))]
        path = os.path.join(out_dir, f"part-{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
        recent = (recent + fresh)[-4 * per_file:]
    return paths


def prior_run_envelopes(
    events: dict[str, np.ndarray], seed: int, start: int, claimed_share: float, path: str
) -> None:
    """Envelopes a previous run already posted: every event before ``start``
    and a seed-chosen ``claimed_share`` of the events after it. The ingest
    workload seeds the TTL ledger with their claims."""
    rng = np.random.default_rng([seed, 4])
    n = len(events["event_id"])
    picked = np.r_[np.arange(start), start + np.flatnonzero(rng.random(n - start) < claimed_share)]
    with open(path, "w") as fh:
        for i in picked:
            fh.write(
                _envelope(
                    int(events["event_id"][i]),
                    int(events["ts_us"][i]),
                    int(events["user_id"][i]),
                    str(events["event_type"][i]),
                    int(events["k"][i]),
                )
                + "\n"
            )


def digest(paths: list[str]) -> str:
    """sha256 over the generated files' names and bytes, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]
