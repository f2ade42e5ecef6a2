"""Seeded producer-shaped tick generator for the `ticks_live` workload:
the staged history, the warm-up set and the open-loop live files.

Messages follow the producer's JSON tick schema
(`TickStream.tickMessageSchema`), one message per line, one file per
polling cycle holding one tick per symbol. Everything is a pure
function of (seed, symbols, cycle): the same seed gives byte-identical
files.

Symbols: `company_id` is the decimal string of the symbol number
(1-based), which the benchmark adapter casts to `user_id`. Each symbol
follows a geometric random walk. The per-tick volatility is spread from
calm (annualized well under the engine's 0.05 HIGH_VOLATILITY
threshold) to volatile, and every fourth symbol carries an up or down
drift, so all three alert types fire.

Trade time: cycle `c` is stamped `BASE + 60 s * c` (one quote per
symbol per minute, whole seconds, UTC).

event_id convention: the wire carries no event id. The adapter derives
`event_id = unix_micros(trade_datetime)`, which is unique per symbol
because the producer emits at most one tick per symbol and trade time.

Reject mix: each tick is a reject with probability 1%, split evenly
over five kinds: `malformed` (the JSON text cut in half), `null_price`,
`nonpositive_price` (0 or negative), `nan_price` (the JSON literal
`NaN`) and `negative_volume`. A rejected tick still advances its
symbol's walk; it is simply not a valid tick.

Live mode (a separate single-threaded process):

    python3 perfbench/tickgen.py live --seed S --symbols N --rate R \
        --seconds T --start EPOCH_S --out DIR --manifest FILE [--first-cycle H]

publishes cycle `H + c` at `start + c * N / R` seconds; cycles before
`H` are the history the caller staged with `stage_cycles`. Each file is
written under a hidden temp name (leading dot, which the file source
ignores) and then renamed, so a reader never sees a partial file. The
manifest records each file's scheduled and actual publish times and
the largest publish lag (`gen.lag_ms_max`).
"""

import argparse
import json
import math
import os
import random
import time

BASE_EPOCH_S = 1_704_187_800  # 2024-01-02T09:30:00Z
CYCLE_S = 60
REJECT_P = 0.01
REJECT_KINDS = ("malformed", "null_price", "nonpositive_price", "nan_price",
                "negative_volume")
SECTORS = (("Technology", "Software"), ("Finance", "Banking"),
           ("Energy", "Oil & Gas"), ("Healthcare", "Biotech"))


def iso(epoch_s):
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch_s))


def event_id(epoch_s):
    """The adapter's event id for a tick traded at `epoch_s`."""
    return epoch_s * 1_000_000


class Symbol:
    def __init__(self, k, n_symbols, rng):
        self.company_id = k + 1
        self.ticker = f"S{k:04d}"
        frac = k / max(1, n_symbols - 1)
        # calm (sigma 4e-4: ~0.6% annualized) to volatile (2.5e-2)
        self.sigma = 4e-4 * math.exp(frac * math.log(2.5e-2 / 4e-4))
        self.drift = (0.0, 0.004, 0.0, -0.004)[k % 4] * min(1.0, self.sigma * 100)
        self.price = round(20.0 + rng.random() * 480.0, 2)
        self.sector, self.industry = SECTORS[k % len(SECTORS)]


class TickGen:
    """Deterministic message source: `cycle(c)` returns the lines of
    cycle `c` and the valid ticks among them. Cycles must be requested
    in order, starting at 0."""

    def __init__(self, seed, n_symbols):
        self.rng = random.Random(seed)
        self.symbols = [Symbol(k, n_symbols, self.rng) for k in range(n_symbols)]
        self.next_cycle = 0

    def cycle(self, c):
        assert c == self.next_cycle, "cycles are generated in order"
        self.next_cycle += 1
        t = BASE_EPOCH_S + CYCLE_S * c
        lines, valid, rejects = [], [], []
        for s in self.symbols:
            z = self.rng.gauss(0.0, 1.0)
            s.price = max(0.01, s.price * math.exp(s.drift + s.sigma * z))
            price = round(s.price, 4)
            vol = int(1000 + self.rng.random() * 99000)
            msg = {
                "company_id": str(s.company_id), "ticker_symbol": s.ticker,
                "company_name": f"Company {s.ticker}", "industry": s.industry,
                "sector": s.sector, "exchange": "NASDAQ", "currency": "USD",
                "timestamp": iso(t), "trade_datetime": iso(t),
                "current_price": price, "open_price": price,
                "high_price": round(price * 1.001, 4),
                "low_price": round(price * 0.999, 4), "volume": vol,
                "adjusted_close": price, "market_cap": round(price * 1e7, 2),
                "pe_ratio": 18.5}
            kind = None
            if self.rng.random() < REJECT_P:
                kind = REJECT_KINDS[self.rng.randrange(len(REJECT_KINDS))]
                if kind == "null_price":
                    msg["current_price"] = None
                elif kind == "nonpositive_price":
                    msg["current_price"] = -price if self.rng.random() < 0.5 else 0.0
                elif kind == "nan_price":
                    msg["current_price"] = float("nan")
                elif kind == "negative_volume":
                    msg["volume"] = -vol
            line = json.dumps(msg, separators=(",", ":"))
            if kind == "malformed":
                line = line[: len(line) // 2]
            lines.append(line)
            if kind is None:
                valid.append((s.company_id, event_id(t), t, price))
            else:
                rejects.append(kind)
        return lines, valid, rejects


def file_name(c):
    return f"ticks-{c:06d}.json"


def write_atomic(out_dir, name, lines):
    tmp = os.path.join(out_dir, "." + name + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(out_dir, name))


def stage_cycles(out_dir, seed, n_symbols, cycles):
    """Write the first `cycles` cycles' files at once. File modification times are pinned
    one second apart, so the file source drains them in cycle order.
    Returns (valid ticks, reject kinds, per-file valid-tick counts)."""
    gen = TickGen(seed, n_symbols)
    valid, rejects, per_file = [], [], {}
    for c in range(cycles):
        lines, v, r = gen.cycle(c)
        name = file_name(c)
        write_atomic(out_dir, name, lines)
        os.utime(os.path.join(out_dir, name), (BASE_EPOCH_S + c, BASE_EPOCH_S + c))
        valid += v
        rejects += r
        per_file[name] = v
    return valid, rejects, per_file


def expected_cycles(seed, n_symbols, cycles):
    """The valid ticks and reject kinds of the first `cycles` cycles,
    file by file, without writing anything."""
    gen = TickGen(seed, n_symbols)
    per_file, rejects = {}, []
    for c in range(cycles):
        _, v, r = gen.cycle(c)
        per_file[file_name(c)] = v
        rejects += r
    return per_file, rejects


def live_cycles(n_symbols, rate, seconds):
    """Cycles an open-loop run of `seconds` publishes at `rate` ticks/s."""
    return max(1, int(round(seconds * rate / n_symbols)))


def run_live(out_dir, seed, n_symbols, rate, seconds, start, manifest, first_cycle=0):
    """Open-loop publisher: one file per cycle at its scheduled time,
    never catching up by skipping. Cycles before `first_cycle` (the
    history staged ahead of the run) are generated but not published.
    Writes the manifest at the end."""
    interval = n_symbols / rate
    cycles = live_cycles(n_symbols, rate, seconds)
    gen = TickGen(seed, n_symbols)
    for c in range(first_cycle):
        gen.cycle(c)
    files, lag_max = [], 0.0
    for c in range(first_cycle, first_cycle + cycles):
        lines, _, _ = gen.cycle(c)
        due = start + (c - first_cycle) * interval
        now = time.time()
        if due > now:
            time.sleep(due - now)
        name = file_name(c)
        write_atomic(out_dir, name, lines)
        published = time.time()
        lag_max = max(lag_max, (published - due) * 1000.0)
        files.append({"name": name, "scheduled_ms": due * 1000.0,
                      "published_ms": published * 1000.0, "lines": len(lines)})
    tmp = manifest + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"cycles": cycles, "interval_s": interval,
                   "lag_ms_max": lag_max, "files": files}, f)
    os.rename(tmp, manifest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--symbols", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--first-cycle", type=int, default=0)
    a = ap.parse_args()
    run_live(a.out, a.seed, a.symbols, a.rate, a.seconds, a.start, a.manifest,
             a.first_cycle)


if __name__ == "__main__":
    main()
