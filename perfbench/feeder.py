"""Open-loop feeder: one single-threaded process that drops NDJSON files
into a directory the pipeline tails.

    python3 perfbench/feeder.py --seed 1 --spool DIR --stage DIR \
        --events 20000 --rate 500 --paced-s 8

It acts on commands read from stdin, one per line:

- ``paced``: for ``--paced-s`` seconds, every ``TICK_S`` seconds write
  the events that fell due in that tick as one file, regardless of how
  fast the pipeline consumes them; at the end report how late it ran.
  Each event's payload carries ``ts``, its creation stamp: the time it
  was due.
- ``burst N``: drop the next N events at once as one file, all stamped
  with the drop time.  One file, because a listing that fell between the
  renames of several would split the burst over two triggers.

Events are sent in sequence order, from the first ``--events`` of the
seeded stream.  A file is written under ``--stage`` and renamed into
``--spool`` so the reader never sees it half written.  Each command is
answered with one JSON object on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import stream_events  # noqa: E402

TICK_S = 0.1


def _say(**fields) -> None:
    print(json.dumps(fields), flush=True)


def _render(events, ts_of) -> str:
    return "".join(
        json.dumps({"n": n, "d": {**d, "ts": ts_of(d["seq"])}}, separators=(",", ":")) + "\n"
        for n, d in events
    )


def _drop(stage: str, spool: str, name: str, body: str) -> int:
    tmp = os.path.join(stage, name)
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(body)
    os.rename(tmp, os.path.join(spool, name))
    return len(body)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--spool", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--events", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="events per second")
    ap.add_argument("--paced-s", type=float, required=True)
    args = ap.parse_args(argv)

    events = stream_events(args.seed, args.events)
    sent = 0
    bursts = 0
    for line in sys.stdin:
        command, *count = line.split()
        if command == "paced":
            t0 = time.time()
            first = sent
            ticks = int(round(args.paced_s / TICK_S))
            max_late = 0.0
            nbytes = 0
            _say(event="start", t0=t0)
            for k in range(ticks):
                hi = first + int(round((k + 1) * TICK_S * args.rate))
                due = t0 + (k + 1) * TICK_S
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                nbytes += _drop(
                    args.stage, args.spool, f"paced-{k:06d}.ndjson",
                    _render(events[sent:hi], lambda seq: t0 + (seq - first) / args.rate),
                )
                max_late = max(max_late, time.time() - due)
                sent = hi
            _say(event="paced_done", sent=sent - first, files=ticks, bytes=nbytes,
                 max_late_s=max_late, t_end=time.time())
        elif command == "burst" and count:
            part = events[sent:sent + int(count[0])]
            t_drop = time.time()
            nbytes = _drop(args.stage, args.spool, f"burst-{bursts:02d}.ndjson",
                           _render(part, lambda seq: t_drop))
            sent += len(part)
            bursts += 1
            _say(event="burst", t_drop=t_drop, sent=len(part), bytes=nbytes,
                 written_s=time.time() - t_drop)
        else:
            _say(event="error", command=line.strip())
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
