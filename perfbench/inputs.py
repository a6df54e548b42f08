"""Seeded input generation shared by the benchmark, the feeder process
and the output checks.

The same seed always yields the same events, so the checks can rebuild
the expected outputs without reading anything the program produced.
"""

from __future__ import annotations

import json
import random

# Name mix of the batch input.  `app.#` is routed, the rest dropped.
BATCH_NAMES = (
    ("app.purchase", 0.30),
    ("app.view", 0.35),
    ("app.click", 0.10),
    ("sys.heartbeat", 0.15),
    ("web.visit", 0.10),
)
BATCH_MALFORMED_SHARE = 0.002
BATCH_INVALID_NAME_SHARE = 0.001
# One name that fails event-name validation (empty word).
INVALID_NAME = "app..broken"
BATCH_MAX_USER = 5000

REGIONS = tuple(f"r{k:02d}" for k in range(16))
WINDOWED_NAMES = (("app.metric", 0.9), ("sys.heartbeat", 0.1))


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


def _pick(rng: random.Random, table) -> str:
    r = rng.random()
    acc = 0.0
    for name, share in table:
        acc += share
        if r < acc:
            return name
    return table[-1][0]


def batch_lines(seed: int, n: int) -> tuple[list[str], int]:
    """NDJSON lines of the batch workload and the number of lines the
    engine must divert to dead letters (malformed JSON plus the invalid
    event name).  Users are Pareto-skewed; payload values come from a
    small domain so keyed windows hold duplicates."""
    rng = random.Random(seed)
    lines: list[str] = []
    dead = 0
    for i in range(n):
        r = rng.random()
        if r < BATCH_MALFORMED_SHARE:
            lines.append(f'{{"n":"app.view","d":{{"user":"u{i}"')
            dead += 1
            continue
        if r < BATCH_MALFORMED_SHARE + BATCH_INVALID_NAME_SHARE:
            lines.append(_dumps({"n": INVALID_NAME, "d": {"user": "u1"}}))
            dead += 1
            continue
        name = _pick(rng, BATCH_NAMES)
        user = min(int(rng.paretovariate(1.16)), BATCH_MAX_USER)
        d = {
            "user": f"u{user}",
            "item": f"i{rng.randrange(4)}",
            "amount": rng.choice((-1, 0, 1, 2, 3, 5, 10)),
        }
        if rng.random() < 0.01:
            del d["user"]
        lines.append(_dumps({"n": name, "d": d}))
    return lines, dead


def stream_events(seed: int, n: int) -> list[tuple[str, dict]]:
    """(name, payload) of the first ``n`` events the feeder sends, in send
    order; the feeder adds each event's creation stamp ``ts``."""
    rng = random.Random(seed)
    return [
        (_pick(rng, WINDOWED_NAMES),
         {"seq": seq, "region": rng.choice(REGIONS), "v": rng.randrange(100)})
        for seq in range(n)
    ]


# Curation corpus: documents with planted near-duplicate families.  A
# copy is made of an original, never of another copy, so every family is
# a star around its smallest id and connected components converge in
# the same few rounds for every seed.  A near-copy swaps one word of a
# 60 to 100 word original, so its word-3-gram Jaccard with it is at
# least 0.9 (at least 0.8 between two near-copies); unrelated documents
# draw from a 20k-word vocabulary and share almost no 3-grams.
CORPUS_DOCS = 1000
_VOCAB = 20_000
_NEAR_COPY_SHARE = 0.2
_EXACT_COPY_SHARE = 0.05


def corpus_docs(seed: int, n: int = CORPUS_DOCS) -> list[tuple[int, str]]:
    """(doc_id, text) rows; ids are 1..n."""
    rng = random.Random(seed)
    originals: list[list[str]] = []
    docs: list[list[str]] = []
    for _ in range(n):
        r = rng.random()
        if originals and r < _EXACT_COPY_SHARE:
            words = list(rng.choice(originals))
        elif originals and r < _EXACT_COPY_SHARE + _NEAR_COPY_SHARE:
            words = list(rng.choice(originals))
            words[rng.randrange(len(words))] = f"w{rng.randrange(_VOCAB)}"
        else:
            words = [f"w{rng.randrange(_VOCAB)}" for _ in range(rng.randint(60, 100))]
            originals.append(words)
        docs.append(words)
    return [(i + 1, " ".join(words)) for i, words in enumerate(docs)]
