"""Output checks: pure-Python references of the batch pipeline and the
curation chain, and the invariants of the windowed stream.  Each check
returns the number of failed operations; a missing, duplicated or wrong
result is a failure.
"""

from __future__ import annotations

import hashlib
import json
import re
from collections import Counter, defaultdict
from itertools import combinations

import pipelines

# The event-name rule: dot-separated non-empty words.
_NAME = re.compile(r"^[A-Za-z0-9\-_$:]+(\.[A-Za-z0-9\-_$:]+)*$")


def canonical(d_text: str | None) -> str | None:
    """Payload JSON with sorted keys, so textual differences the engine
    may introduce (key order, spacing) do not count."""
    if d_text is None:
        return None
    return json.dumps(json.loads(d_text), sort_keys=True, separators=(",", ":"))


def digest(pairs) -> str:
    """Order-insensitive digest of (name, canonical payload) pairs."""
    h = hashlib.sha256()
    for n, d in sorted(pairs, key=lambda p: (p[0], p[1] or "")):
        h.update(f"{n}\t{d}\n".encode())
    return h.hexdigest()[:16]


def _payload_ok(d) -> bool:
    # keep-when schema of pipelines.BATCH_SCHEMA
    if not isinstance(d, dict) or "user" not in d or "amount" not in d:
        return False
    a = d["amount"]
    return not isinstance(a, (int, float)) or isinstance(a, bool) or a >= 1


def _key(d) -> str:
    """`window.key: data.user`: the field as a string, '' when absent."""
    v = d.get("user") if isinstance(d, dict) else None
    return "" if v is None else str(v)


def _keyed_windows(rows, size):
    """Assign keyed count windows in arrival order.  Returns per row the
    window id the engine orders by: the key and the per-key window index
    joined into one string."""
    seen: Counter = Counter()
    out = []
    for row in rows:
        k = _key(row[1])
        out.append(f"{k}\x1f{seen[k] // size}")
        seen[k] += 1
    return out


def batch_reference(lines: list[str]) -> Counter:
    """(name, canonical payload) multiset the batch pipeline must emit.

    Mirrors the engine's documented order rule: after a windowed step the
    arrival order is rebuilt by (window id, previous order), where keyed
    window ids compare as strings."""
    events = []
    for line in lines:
        try:
            e = json.loads(line)
        except ValueError:
            continue
        n = e.get("n") if isinstance(e, dict) else None
        if not isinstance(n, str) or not _NAME.match(n):
            continue
        events.append((n, e.get("d")))
    # apps: match/drop app.# + rename; valid: keep-when
    rows = [
        ("etl." + n, d) for n, d in events
        if (n == "app" or n.startswith("app.")) and _payload_ok(d)
    ]
    # dedup: first of each (name, payload) per keyed window
    wids = _keyed_windows(rows, pipelines.BATCH_DEDUP_WINDOW)
    seen = set()
    kept = []
    for i, (row, w) in enumerate(zip(rows, wids)):
        ident = (w, row[0], json.dumps(row[1], sort_keys=True))
        if ident not in seen:
            seen.add(ident)
            kept.append((w, i, row))
    kept.sort(key=lambda x: (x[0], x[1]))
    rows = [row for _w, _i, row in kept]
    # firsts: first k of each keyed window
    wids = _keyed_windows(rows, pipelines.BATCH_KEEP_WINDOW)
    rank: Counter = Counter()
    out: Counter = Counter()
    for row, w in zip(rows, wids):
        if rank[w] < pipelines.BATCH_KEEP_FIRST:
            out[(row[0], json.dumps(row[1], sort_keys=True, separators=(",", ":")))] += 1
        rank[w] += 1
    return out


def count_diff(expected: Counter, got: Counter) -> int:
    """Missing plus unexpected results."""
    return sum((expected - got).values()) + sum((got - expected).values())


def check_batch(expected: Counter, outputs: dict[str, list[tuple[str, str]]],
                dead: int, expected_dead: int) -> tuple[int, list[str]]:
    """Compare every delivered output (the terminal lines and the sink)
    with the reference, and the dead-letter count with the lines
    injected.  Returns (failed operations, messages)."""
    failed = 0
    notes = [f"reference digest {digest(expected.elements())}"]
    for label, pairs in outputs.items():
        got = Counter((n, canonical(d)) for n, d in pairs)
        diff = count_diff(expected, got)
        failed += diff
        notes.append(f"{label}: {sum(got.values())} lines, digest {digest(got.elements())}, "
                     f"{diff} differ")
    if dead != expected_dead:
        failed += abs(dead - expected_dead)
        notes.append(f"dead letters {dead}, injected {expected_dead}")
    return failed, notes


def check_windows(events: list[tuple[str, dict]], windows: list[dict]) -> tuple[int, list[str]]:
    """Windowed stream: every window holds exactly WINDOW_EVENTS events of
    one region, its sum matches its members, no event is emitted twice,
    and each region flushes WINDOW_EVENTS * floor(n_region / WINDOW_EVENTS)
    events.  ``events`` are all events sent, in order."""
    size = pipelines.WINDOW_EVENTS
    by_seq = {d["seq"]: (n, d) for n, d in events}
    per_region: Counter = Counter(
        d["region"] for n, d in events if n == "app" or n.startswith("app.")
    )
    failed = 0
    notes = []
    emitted: Counter = Counter()
    good: Counter = Counter()
    bad_windows = 0
    for w in windows:
        seqs = w.get("seqs") or []
        ok = w.get("count") == size and len(seqs) == size
        members = [by_seq.get(s) for s in seqs]
        ok = ok and all(
            m is not None and m[0].startswith("app.") and m[1]["region"] == w.get("region")
            for m in members
        )
        ok = ok and w.get("sum") == sum(m[1]["v"] for m in members if m is not None)
        emitted.update(seqs)
        if ok:
            good[w["region"]] += size
        else:
            bad_windows += 1
            failed += max(len(seqs), 1)
    dupes = sum(c - 1 for c in emitted.values() if c > 1)
    failed += dupes
    missing = 0
    for region, n in per_region.items():
        want = size * (n // size)
        missing += abs(want - good[region])
    failed += missing
    notes.append(f"{len(windows)} windows, {bad_windows} malformed, {dupes} duplicate events, "
                 f"{missing} events missing or extra")
    return failed, notes


def _shingles(text: str, n: int) -> frozenset[str]:
    """Distinct word n-grams of whitespace tokens; a document shorter
    than n words is its own single gram (as `datapipe.dedup.shingles`)."""
    tk = text.split()
    if len(tk) < n:
        return frozenset([" ".join(tk)] if tk else [])
    return frozenset(" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1))


def near_dup_survivors(docs: list[tuple[int, str]], threshold: float, n: int = 3) -> set[int]:
    """Ids the near-dedup chain keeps: exact word-n-gram Jaccard over every
    pair of documents that share a gram, pairs at or above ``threshold``
    joined into connected components, the minimum id of each component
    kept along with every document in no pair."""
    sh = {i: _shingles(t, n) for i, t in docs}
    by_gram: dict[str, list[int]] = defaultdict(list)
    for i, grams in sh.items():
        for g in grams:
            by_gram[g].append(i)
    candidates = {pair for ids in by_gram.values() for pair in combinations(sorted(ids), 2)}
    parent = {i: i for i in sh}

    def root(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in candidates:
        union = len(sh[a] | sh[b])
        if union and round(len(sh[a] & sh[b]) / union, 6) >= threshold:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in sh if root(i) == i}


def check_survivors(expected: set[int], survivors: list[int]) -> tuple[int, list[str]]:
    """Near-dedup survivors equal the reference, each id once."""
    diff = count_diff(Counter(expected), Counter(survivors))
    return diff, [f"near-dedup: {len(survivors)} survivors, reference {len(expected)}, "
                  f"{diff} differ"]
