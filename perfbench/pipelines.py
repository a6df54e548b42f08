"""The pipeline files of the workloads, as users would write them."""

from __future__ import annotations

import json

# Payload schema kept by `keep-when` in the batch pipeline.
BATCH_SCHEMA = {
    "type": "object",
    "required": ["user", "amount"],
    "properties": {"amount": {"minimum": 1}},
}
BATCH_DEDUP_WINDOW = 20
BATCH_KEEP_WINDOW = 5
BATCH_KEEP_FIRST = 3

WINDOW_EVENTS = 50

# A window seconds bound far beyond any run, so only counts flush.
_NEVER_S = 86400


def batch_etl(src: str, sink_dir: str) -> str:
    return f"""
name: bench-batch-etl
input:
  file: {{path: {json.dumps(src)}}}
steps:
  apps:
    match/drop: "app.#"
    flatmap:
      rename: {{prepend: "etl."}}
  valid:
    after: [apps]
    flatmap:
      keep-when: {json.dumps(BATCH_SCHEMA)}
  dedup:
    after: [valid]
    window: {{events: {BATCH_DEDUP_WINDOW}, seconds: {_NEVER_S}, key: data.user}}
    reduce:
      deduplicate: {{}}
  firsts:
    after: [dedup]
    window: {{events: {BATCH_KEEP_WINDOW}, seconds: {_NEVER_S}, key: data.user}}
    reduce:
      keep: {BATCH_KEEP_FIRST}
  out:
    after: [firsts]
    flatmap:
      send-file: {{path: {json.dumps(sink_dir)}, spark-dir: true}}
"""


# The jq aggregate emits the window's size, key, member sequence numbers
# and the creation stamp of its last event (for latency).
_WINDOW_JQ = (
    '[{n: "agg.window", d: {region: .[0].d.region, count: length, '
    "sum: (map(.d.v) | add), seqs: map(.d.seq), last_ts: (map(.d.ts) | max)}}]"
)


def stream_windowed(src: str, sink: str) -> str:
    return f"""
name: bench-stream-windowed
input:
  tail: {{path: {json.dumps(src)}}}
steps:
  apps:
    match/drop: "app.#"
    flatmap:
      rename: {{prepend: "w."}}
  agg:
    after: [apps]
    window: {{events: {WINDOW_EVENTS}, seconds: {_NEVER_S}, key: data.region}}
    reduce:
      send-receive-jq: {json.dumps(_WINDOW_JQ)}
  out:
    after: [agg]
    flatmap:
      send-file: {{path: {json.dumps(sink)}, spark-dir: true}}
"""

