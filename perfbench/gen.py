"""Seeded load generator for the Hedera ETL benchmark.

Runs as its own process so that a slow engine never slows it down.  It
writes Hedera-shaped JSON lines (int64s quoted as strings, nested
structs, a REPEATED transfer list and one field the table schema does not
know) into an input directory, one file at a time, each written to a
dot-prefixed temp name and renamed into place, so the file source never
sees a partial file.  When it is done it writes a manifest next to the
files' directory: the distinct valid keys, a checksum over
``(key, fee)``, the malformed-line count and how late it ran.

Every valid row's key is ``consensusTimestamp`` in epoch nanoseconds.
In the open-loop mode that key IS the row's due time, so a row's
latency can be read back from the table without a side channel.

Modes:

``backlog``  ``--rows N`` rows of synthetic history starting at
             ``--start-ns``, spaced ``--gap-ns`` apart, written at once
             as ``--files`` files (closed loop: no schedule).
``open``     an open loop: every ``--tick-s`` one file holding the rows
             due in that tick, at ``--rate`` rows/s for ``--duration-s``.
             Due times are wall-clock epoch ns; the loop never waits for
             the engine and records its own lateness.
``span``     ``--spans`` consecutive files, each holding ``--rows`` rows
             spread over ``--span-s`` seconds of event time from
             ``--start-ns`` on (one file per day of history, or one per
             hour of new data), plus ``--late`` verbatim replays drawn
             from the ``sample_lines`` of an earlier manifest
             (``--late-from``): very late deliveries into old partitions.
``events``   ``--rows N`` rows of an ``events`` table (event_id, ts,
             user_id, event_type, value, props), the analytics table the
             registry entries read, persisted as ``<out>/events.parquet``.

Same arguments and seed give byte-identical files (``open`` mode aside
from its clock-derived keys, whose row CONTENT is still seed-fixed).

    python3 perfbench/gen.py backlog --seed 1 --out DIR --rows 50000
"""

from __future__ import annotations

import argparse
import base64
import hashlib
import json
import os
import random
import sys
import time

#: share of rows preceded by a malformed line
MALFORMED_RATIO = 0.01
#: default share of rows preceded by a verbatim replay of one of the last
#: REPLAY_WINDOW valid rows
REPLAY_RATIO = 0.20
REPLAY_WINDOW = 2_000


def fee_of(rng: random.Random) -> int:
    return rng.randrange(50_000, 5_000_000)


def _acct(num: int) -> str:
    return f'{{"shardNum":"0","realmNum":"0","accountNum":"{num}"}}'


def tx_json(key: int, rng: random.Random) -> tuple[str, int]:
    """One valid Hedera-shaped transaction line and its fee.  Built from a
    template: the generator must outpace the engine it feeds."""
    fee = fee_of(rng)
    payer = rng.randrange(1_000, 200_000)
    node = rng.randrange(3, 30)
    amount = rng.randrange(1, 10_000_000)
    secs, nanos = divmod(key - rng.randrange(1, 5) * 1_000_000_000, 1_000_000_000)
    tx_hash = base64.b64encode(rng.randbytes(48)).decode()
    tx_type = rng.choice((14, 14, 14, 27, 8, 7, 29))
    memo = f"bench {rng.randrange(1 << 30):08x}"
    payee = rng.randrange(1_000, 200_000)
    transfers = (
        f'{{"accountID":{_acct(payer)},"amount":"{-(amount + fee)}"}},'
        f'{{"accountID":{_acct(node)},"amount":"{fee}"}},'
        f'{{"accountID":{_acct(payee)},"amount":"{amount}"}}'
    )
    line = (
        f'{{"consensusTimestamp":"{key}","transactionType":"{tx_type}","entity":null,'
        f'"transaction":{{"body":{{"transactionID":{{"transactionValidStart":'
        f'{{"seconds":"{secs}","nanos":"{nanos}"}},"accountID":{_acct(payer)}}},'
        f'"nodeAccountID":{_acct(node)},"transactionFee":"{fee}",'
        f'"transactionValidDuration":{{"seconds":"120"}},"memo":"{memo}"}}}},'
        f'"transactionRecord":{{"receipt":{{"status":"SUCCESS"}},'
        f'"transactionHash":"{tx_hash}","transactionFee":"{fee}",'
        f'"transferList":{{"accountAmounts":[{transfers}]}}}},'
        # not in the table schema: the parser must ignore it
        f'"unknownField":{{"version":3,"flags":["a","b"]}}}}'
    )
    return line, fee


def malformed_line(serial: int, rng: random.Random) -> str:
    """A distinct broken line: a truncated object whose key no valid row
    uses (negative), or plain text."""
    if rng.random() < 0.5:
        key = f"-{rng.randrange(1 << 40)}{serial:06d}"
        return f'{{"consensusTimestamp":"{key}","transactionType":"14","transaction":{{'
    return f"not json #{serial} {rng.randrange(1 << 30):08x}"


class Stream:
    """Draws the line sequence: fresh valid rows, replays of earlier valid
    rows (byte-identical), and malformed lines; tracks the manifest."""

    def __init__(self, seed: int, replay: float):
        self.rng = random.Random(seed)
        self.replay = replay
        self.recent: list[str] = []
        self.fees: dict[int, int] = {}
        self.n_malformed = 0
        self.n_replays = 0
        self.n_lines = 0

    def fresh(self, key: int) -> str:
        line, fee = tx_json(key, self.rng)
        self.fees[key] = fee
        self.recent.append(line)
        if len(self.recent) > REPLAY_WINDOW:
            del self.recent[: len(self.recent) - REPLAY_WINDOW]
        return line

    def next_lines(self, key: int) -> list[str]:
        """The fresh row for ``key`` plus whatever extra lines the draw
        adds in front of it (a replay and/or a malformed line)."""
        out = []
        r = self.rng.random()
        if r < MALFORMED_RATIO:
            out.append(malformed_line(self.n_malformed, self.rng))
            self.n_malformed += 1
        elif r < MALFORMED_RATIO + self.replay and self.recent:
            out.append(self.rng.choice(self.recent))
            self.n_replays += 1
        out.append(self.fresh(key))
        self.n_lines += len(out)
        return out


def checksum(pairs) -> str:
    """Order-independent digest of ``(key, fee)`` pairs."""
    h = hashlib.sha256()
    for key, fee in sorted(pairs):
        h.update(f"{key}:{fee};".encode())
    return h.hexdigest()


def write_file(out_dir: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(out_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(out_dir, name))


def manifest(stream: Stream, **extra) -> dict:
    keys = sorted(stream.fees)
    return {
        "keys": keys,
        "fees": [stream.fees[k] for k in keys],
        "checksum": checksum(stream.fees.items()),
        "valid_rows": len(stream.fees),
        "malformed": stream.n_malformed,
        "replays": stream.n_replays,
        "lines": stream.n_lines,
        **extra,
    }


def run_backlog(a, stream: Stream) -> dict:
    per_file = -(-a.rows // a.files)
    lines: list[str] = []
    file_no = 0
    for i in range(a.rows):
        lines += stream.next_lines(a.start_ns + i * a.gap_ns)
        if (i + 1) % per_file == 0 or i + 1 == a.rows:
            write_file(a.out, f"{a.prefix}{file_no:05d}.json", lines)
            file_no += 1
            lines = []
    return manifest(stream, files=file_no, late_max_s=0.0)


def run_open(a, stream: Stream) -> dict:
    """Open loop: tick k is due at t0 + (k+1)*tick and carries the rows due
    in (t0 + k*tick, t0 + (k+1)*tick]; rows are spaced evenly inside the
    tick and each row's key is its due time in epoch ns."""
    per_tick = max(1, round(a.rate * a.tick_s))
    ticks = max(1, round(a.duration_s / a.tick_s))
    tick_ns = int(a.tick_s * 1e9)
    t0_ns = time.time_ns() + tick_ns
    late_max = 0.0
    for k in range(ticks):
        base = t0_ns + k * tick_ns
        step = tick_ns // per_tick
        lines: list[str] = []
        for j in range(per_tick):
            lines += stream.next_lines(base + (j + 1) * step)
        due_ns = base + tick_ns
        wait = (due_ns - time.time_ns()) / 1e9
        if wait > 0:
            time.sleep(wait)
        write_file(a.out, f"{a.prefix}{k:05d}.json", lines)
        late_max = max(late_max, (time.time_ns() - due_ns) / 1e9)
    return manifest(stream, files=ticks, late_max_s=late_max, t0_ns=t0_ns)


def run_span(a, stream: Stream) -> dict:
    rng = stream.rng
    late_pool: list[str] = []
    if a.late and a.late_from:
        with open(a.late_from) as f:
            late_pool = json.load(f)["sample_lines"]
    span_ns = int(a.span_s * 10**9)
    gap = span_ns // a.rows
    fresh: list[str] = []
    for h in range(a.spans):
        lines: list[str] = []
        base = a.start_ns + h * span_ns
        for i in range(a.rows):
            lines += stream.next_lines(base + i * gap + rng.randrange(gap))
            fresh.append(lines[-1])
        if late_pool:
            late = rng.sample(late_pool, min(a.late, len(late_pool)))
            lines += late
            stream.n_replays += len(late)
            stream.n_lines += len(late)
        write_file(a.out, f"{a.prefix}{h:05d}.json", lines)
    # a seed-fixed sample of this call's valid lines, for later late replays
    sample = rng.sample(fresh, min(len(fresh), a.keep_sample))
    return manifest(stream, files=a.spans, late_max_s=0.0, sample_lines=sample)


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
#: the events table spans 30 days from 2024-01-01T00:00:00Z, one user per
#: ~67 rows (the shape of the sf0.1 test-data events table)
EVENTS_START_US = 1_704_067_200 * 10**6
EVENTS_SPAN_US = 30 * 86_400 * 10**6
ROWS_PER_USER = 67


def run_events(a, stream: Stream) -> dict:
    """A seeded events table, written with pyarrow (no Spark) to a temp
    name and renamed into place."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(a.seed)
    n = a.rows
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EVENTS_START_US + np.sort(rng.integers(0, EVENTS_SPAN_US, n)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n // ROWS_PER_USER), n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(rng.integers(0, 56_000, n) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
    })
    tmp = os.path.join(a.out, ".events.parquet.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(a.out, "events.parquet"))
    return {"table": "events", "rows": n}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mode", choices=("backlog", "open", "span", "events"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True, help="input directory the engine reads")
    p.add_argument("--manifest", help="manifest path (default: <out>.manifest.json)")
    p.add_argument("--prefix", default="part-")
    p.add_argument("--rows", type=int, default=10_000)
    p.add_argument("--files", type=int, default=10)
    p.add_argument("--start-ns", type=int, default=1_600_000_000 * 10**9)
    p.add_argument("--gap-ns", type=int, default=50_000_000)
    p.add_argument("--rate", type=float, default=1000.0, help="open mode rows/s")
    p.add_argument("--tick-s", type=float, default=0.2)
    p.add_argument("--duration-s", type=float, default=10.0)
    p.add_argument("--spans", type=int, default=1)
    p.add_argument("--span-s", type=float, default=3600.0)
    p.add_argument("--late", type=int, default=0, help="span mode: late replays per file")
    p.add_argument("--late-from", help="span mode: manifest holding replayable lines")
    p.add_argument("--keep-sample", type=int, default=0)
    p.add_argument("--replay", type=float, default=REPLAY_RATIO)
    return p.parse_args(argv)


def main(argv=None) -> int:
    a = parse_args(argv)
    os.makedirs(a.out, exist_ok=True)
    stream = Stream(a.seed, a.replay)
    modes = {"backlog": run_backlog, "open": run_open, "span": run_span, "events": run_events}
    result = modes[a.mode](a, stream)
    path = a.manifest or a.out.rstrip("/") + ".manifest.json"
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.rename(tmp, path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
