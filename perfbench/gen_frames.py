"""Seeded exchange-frame generator and its reference computation.

Frames are built from the payload templates of the five exchange adapters
(the golden fixtures in src/main/scala/graft/normalize/Fixtures.scala):
symbols, prices, sizes, timestamps and Hyperliquid trade ids are perturbed,
and array payloads, control frames (ping/pong) and malformed frames are mixed
in at fixed rates.  Next to every frame the generator computes the unified
rows the pipeline must emit for it, per (exchange, market) pair of the
`--all` roster, by re-implementing the normalizer rules in plain Python.
That reference is what the benchmark checks the sinks against.

Two modes:
  * `write_backlog` writes a whole capture before the program starts
    (ingest_backlog);
  * `python3 gen_frames.py live ...` is the open-loop generator of
    ingest_live: a separate single-threaded process that appends each frame
    at its due time, which is also the frame's exchange timestamp.
"""
import argparse
import json
import os
import random
import sys
import time

WS_EXCHANGES = ("binance", "aster", "bybit", "okx")
# the `--all` roster: every pair reads its exchange's capture
PAIRS = (("binance", "usdt"), ("binance", "coin"), ("bybit", "usdt"),
         ("bybit", "coin"), ("okx", "usdt"), ("okx", "coin"),
         ("aster", "usdt"), ("hyperliquid", "usdc"))

BINANCE_SYMS = {"BTCUSDT": 62000.0, "ETHUSDT": 3000.0, "SOLUSDT": 150.0,
                "XRPUSDT": 0.6, "DOGEUSDT": 0.12, "BNBUSDT": 580.0,
                "ADAUSDT": 0.45, "LINKUSDT": 14.0}
ASTER_SYMS = {"ASTERUSDT": 1.9, "BNBUSDT": 580.0, "SUIUSDT": 0.98,
              "PEPEUSDT": 0.0000095, "ETHUSDT": 3000.0}
BYBIT_SYMS = {"ROSEUSDT": 0.045, "BTCUSDT": 30000.0, "ETHUSDT": 2500.0,
              "SOLUSDT": 150.0, "WIFUSDT": 2.1, "ARBUSDT": 0.8}
OKX_COINS = {"BTC": 61500.0, "ETH": 3000.0, "SOL": 150.0, "DOGE": 0.12,
             "LTC": 80.0}
# Share of OKX details in net position mode (posSide "net"), whose unified
# row has a NULL side.  Zero in the workloads: at this commit one such row
# fails the whole micro-batch in the Derby sink (Spark's Derby dialect binds
# a NULL string as CLOB, which Derby refuses for the VARCHAR column), so a
# run could not finish.  test_reference.py still covers these rows through
# the normalizers.
NULL_SIDE_RATE = 0.0
HL_COINS = {"ETH": 2450.0, "BTC": 64000.0, "SOL": 150.0, "DOGE": 0.12,
            "HYPE": 25.0, "AVAX": 30.0}


def fmt_px(p):
    """Exchange-style decimal string with magnitude-dependent precision."""
    if p >= 1000:
        return "%.2f" % p
    if p >= 1:
        return "%.4f" % p
    return "%.8f" % p


def notional_or_none(price, qty):
    return price * qty if price != 0 and qty != 0 else None


def to_float0(s):
    """Lenient string->double: garbage or absent -> 0.0."""
    try:
        return float(s)
    except (TypeError, ValueError):
        return 0.0


def iso_ms(ms):
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms // 1000)) + \
        ".%03dZ" % (ms % 1000)


def dumps(o):
    return json.dumps(o, separators=(",", ":"))


class FrameGen:
    """Deterministic frame factory: the same seed gives the same frames.

    `live=True` keeps every timestamp at millisecond precision (no
    seconds-unit Hyperliquid block times) so a row's exchange timestamp is
    exactly its frame's due time."""

    def __init__(self, seed, live=False):
        self.rng = random.Random(seed)
        self.live = live
        self.tid = 900_000_000 + self.rng.randrange(1_000_000)
        self.hl_seen = set()
        self.hl_recent = []   # liquidation fills that may be re-delivered

    # -- helpers ---------------------------------------------------------
    def _px(self, base):
        return base * (1.0 + self.rng.gauss(0.0, 0.02))

    def _qty(self, base_px):
        # notional around 1k-50k USD
        return max(0.001, self.rng.lognormvariate(8.5, 1.0) / base_px)

    def _control(self):
        return self.rng.choice(['ping', 'pong', '{"op":"pong"}',
                                '{"event":"pong"}', '{"op":"ping"}'])

    # -- Binance / Aster (!forceOrder@arr) -------------------------------
    def _fo_event(self, syms, ts, with_ap=True, with_e=True, zero_px=False):
        sym = self.rng.choice(list(syms))
        base = syms[sym]
        side = self.rng.choice(["SELL", "BUY"])
        p = 0.0 if zero_px else self._px(base)
        q = self._qty(base)
        ps, qs = ("0" if zero_px else fmt_px(p)), "%.3f" % q
        o = {"s": sym, "S": side, "o": "LIMIT", "f": "IOC", "q": qs, "p": ps}
        if with_ap:
            ap = self._px(base)
            o["ap"] = fmt_px(ap)
            o["X"] = "FILLED"
            o["l"] = qs
        o["z"] = qs
        o["T"] = ts + self.rng.randrange(0, 200) if with_e else ts
        ev = {"e": "forceOrder"}
        if with_e:
            ev["E"] = ts
        ev["o"] = o
        price = float(o["ap"]) if with_ap else float(ps)
        qty = float(qs)
        row = (sym, "long" if side == "SELL" else "short", qty, price,
               notional_or_none(price, qty), ts if with_e else o["T"])
        return ev, row

    def binance_like(self, ex, ts):
        syms = BINANCE_SYMS if ex == "binance" else ASTER_SYMS
        r = self.rng.random()
        rows = []
        if r < 0.55:
            ev, row = self._fo_event(syms, ts)
            line, rows = dumps(ev), [row]
        elif r < 0.75:
            e1, r1 = self._fo_event(syms, ts)
            e2, r2 = self._fo_event(syms, ts, with_ap=False)
            line, rows = dumps([e1, e2]), [r1, r2]
        elif r < 0.83:
            # missing E -> o.T fallback; zero price -> notional null
            ev, row = self._fo_event(syms, ts, with_ap=False, with_e=False,
                                     zero_px=True)
            line, rows = dumps(ev), [row]
        elif r < 0.88:
            line = dumps({"e": "forceOrder", "E": ts})  # no `o` -> dropped
        elif r < 0.92:
            line = dumps({"e": "forceOrder", "E": ts})[:-5]  # malformed
        else:
            line = self._control()
        markets = ("usdt", "coin") if ex == "binance" else ("usdt",)
        return line, {(ex, mk): [(ex, mk) + row for row in rows]
                      for mk in markets}

    # -- Bybit v5 -----------------------------------------------------------
    def bybit(self, ts):
        r = self.rng.random()
        rows = []
        sym = self.rng.choice(list(BYBIT_SYMS))
        base = BYBIT_SYMS[sym]
        if r < 0.50:
            data = []
            for _ in range(self.rng.choice((1, 1, 2))):
                side = self.rng.choice(["Sell", "Buy"])
                p, v = self._px(base), self._qty(base)
                d = {"T": ts, "s": sym, "S": side, "v": "%.3f" % v,
                     "p": fmt_px(p)}
                data.append(d)
                price, qty = float(d["p"]), float(d["v"])
                rows.append((sym, "long" if side == "Sell" else "short", qty,
                             price, price * qty if price and qty else 0.0, ts))
            line = dumps({"topic": "allLiquidation." + sym, "ts": ts + 1,
                          "data": data})
        elif r < 0.70:
            side = self.rng.choice(["Sell", "Buy"])
            p, v = self._px(base), self._qty(base)
            d = {"updatedTimeE6": str(ts * 1000 + self.rng.randrange(500)),
                 "symbol": sym, "side": side, "size": "%.3f" % v,
                 "price": fmt_px(p)}
            price, qty = float(d["price"]), float(d["size"])
            rows.append((sym, "long" if side == "Sell" else "short", qty,
                         price, price * qty if price and qty else 0.0, ts))
            line = dumps({"topic": "liquidation." + sym, "ts": ts + 7,
                          "data": d})
        elif r < 0.80:
            # legacy without updatedTimeE6 -> envelope ts; garbage size -> 0.0
            side = self.rng.choice(["Sell", "Buy"])
            p = self._px(base)
            d = {"symbol": sym, "side": side, "size": "oops",
                 "price": fmt_px(p)}
            rows.append((sym, "long" if side == "Sell" else "short", 0.0,
                         float(d["price"]), 0.0, ts))
            line = dumps({"topic": "liquidation." + sym, "ts": ts, "data": d})
        elif r < 0.88:
            line = dumps({"topic": "pong", "ts": ts})  # unrelated topic
        elif r < 0.94:
            line = self._control()
        else:
            line = dumps({"topic": "allLiquidation." + sym, "ts": ts})[:-3]
        return line, {("bybit", mk): [("bybit", mk) + row for row in rows]
                      for mk in ("usdt", "coin")}

    # -- OKX liquidation-orders -------------------------------------------
    def okx(self, ts):
        r = self.rng.random()
        out = {("okx", "usdt"): [], ("okx", "coin"): []}
        if r < 0.66:
            data = []
            for _ in range(self.rng.choice((1, 1, 2))):
                coin = self.rng.choice(list(OKX_COINS))
                base = OKX_COINS[coin]
                mk = self.rng.choice(("usdt", "coin"))
                inst = coin + ("-USDT-SWAP" if mk == "usdt" else "-USD-SWAP")
                details = []
                for _ in range(self.rng.choice((1, 2))):
                    pos = "net" if self.rng.random() < NULL_SIDE_RATE \
                        else self.rng.choice(["long", "short"])
                    d = {"posSide": pos,
                         "side": "sell" if pos == "long" else "buy",
                         "bkPx": fmt_px(self._px(base))}
                    if self.rng.random() < 0.7:
                        d["fillPx"] = fmt_px(self._px(base))
                    d["sz"] = str(self.rng.randrange(1, 400))
                    d["ts"] = str(ts)
                    details.append(d)
                    price = float(d.get("fillPx") or d["bkPx"])
                    qty = float(d["sz"])
                    out[("okx", mk)].append(
                        ("okx", mk, inst, pos if pos in ("long", "short")
                         else None, qty, price, notional_or_none(price, qty),
                         ts))
                data.append({"instType": "SWAP", "instId": inst,
                             "details": details})
            line = dumps({"arg": {"channel": "liquidation-orders",
                                  "instType": "SWAP"}, "data": data})
        elif r < 0.74:
            line = dumps({"arg": {"channel": "liquidation-orders",
                                  "instType": "SWAP"}, "data": []})
        elif r < 0.80:
            line = dumps({"event": "subscribe",
                          "arg": {"channel": "liquidation-orders"}})
        elif r < 0.94:
            line = self._control()
        else:
            line = dumps({"arg": {"channel": "liquidation-orders"},
                          "data": []})[:-4]
        return line, out

    # -- Hyperliquid node-fill lines -------------------------------------
    def _hl_fill(self, ts, liq=True, taker=None, coin=None):
        coin = coin or self.rng.choice(list(HL_COINS))
        base = HL_COINS[coin]
        self.tid += self.rng.randrange(1, 50)
        taker = taker or "0x%040x" % self.rng.getrandbits(160)
        sz = self._qty(base) * self.rng.choice((1, -1))
        fill = {"coin": coin, "px": fmt_px(self._px(base)), "sz": "%.4f" % sz,
                "dir": self.rng.choice(["Close Long", "Close Short",
                                        "Liquidation", "Open Long"]),
                "side": self.rng.choice(["A", "B"]), "fee": "0.1",
                "feeToken": "USDC", "hash": "0x%016x" % self.rng.getrandbits(64),
                "tid": self.tid}
        if liq:
            user = taker.upper().replace("0X", "0x") \
                if self.rng.random() < 0.2 else taker
            fill["liquidation"] = {"liquidatedUser": user,
                                   "markPx": fmt_px(self._px(base)),
                                   "method": "market"}
        return taker, fill

    def _hl_row(self, taker, fill, ts):
        key = (fill["tid"], taker.lower(), fill["coin"])
        if key in self.hl_seen:
            return []
        self.hl_seen.add(key)
        d = fill["dir"].lower()
        if "close long" in d:
            side = "long"
        elif "close short" in d:
            side = "short"
        else:
            side = "long" if fill["side"] == "A" else "short"
        price, qty = to_float0(fill["px"]), abs(to_float0(fill["sz"]))
        return [("hyperliquid", "usdc", fill["coin"].upper() + "USDC", side,
                 qty, price, notional_or_none(price, qty), ts)]

    def hyperliquid(self, ts, block):
        """One node-log line due at `ts` (ms)."""
        r = self.rng.random()
        rows = []
        head = {"local_time": iso_ms(ts), "block_time": ts,
                "block_number": block}
        if r < 0.55:
            taker, fill = self._hl_fill(ts)
            events = [[taker, fill]]
            if self.rng.random() < 0.5:
                events.append(list(self._hl_fill(ts, liq=False)))
            rows = self._hl_row(taker, fill, ts)
            self.hl_recent = (self.hl_recent + [(taker, fill, head)])[-4:]
            line = dumps(dict(head, events=events))
        elif r < 0.65:
            taker, fill = self._hl_fill(ts)
            fill["liquidation"]["liquidatedUser"] = \
                "0x%040x" % self.rng.getrandbits(160)  # not self-liquidation
            line = dumps(dict(head, events=[[taker, fill]]))
        elif r < 0.73 and self.hl_recent:
            # re-delivery of a recent line's fill, block time included: same
            # tid|user|coin -> deduped, whichever copy the engine keeps
            taker, fill, first = self.rng.choice(self.hl_recent)
            rows = self._hl_row(taker, fill, ts)
            line = dumps(dict(first, block_number=block,
                              events=[[taker, fill]]))
        elif r < 0.80:
            taker, fill = self._hl_fill(ts)
            if self.live:
                line = dumps(dict(head, events=[[taker, fill]]))
                rows = self._hl_row(taker, fill, ts)
            else:  # seconds-unit block_time -> x1000 heuristic
                sec = ts // 1000
                line = dumps(dict(head, block_time=sec,
                                  events=[[taker, fill]]))
                rows = self._hl_row(taker, fill, sec * 1000)
        elif r < 0.87:
            # missing block_time -> ISO local_time fallback
            taker, fill = self._hl_fill(ts)
            line = dumps({"local_time": iso_ms(ts), "block_number": block,
                          "events": [[taker, fill]]})
            rows = self._hl_row(taker, fill, ts)
        elif r < 0.94:
            # no "liquidation" substring -> prefiltered before the parse
            line = dumps(dict(head, events=[list(self._hl_fill(ts, liq=False))]))
        elif r < 0.97:
            line = dumps(dict(head, events=[]))
        else:
            # torn line that mentions a liquidation: a parse dead letter
            taker, fill = self._hl_fill(ts)
            line = dumps(dict(head, events=[[taker, fill]]))[:-20]
        return line, rows

    def ws_frame(self, ex, ts):
        if ex in ("binance", "aster"):
            return self.binance_like(ex, ts)
        return self.bybit(ts) if ex == "bybit" else self.okx(ts)


def merge(acc, rows_by_pair):
    for k, v in rows_by_pair.items():
        acc.setdefault(k, []).extend(v)


def write_backlog(seed, root, ws_frames, hl_lines, hl_files=24,
                  start_ms=None):
    """Write a whole capture under `root` and return the expected rows.

    Each WS exchange gets `ws_frames` frames; Hyperliquid gets `hl_lines`
    lines split into `hl_files` hour files whose modification times follow
    their hours (the file source reads them in that order)."""
    g = FrameGen(seed)
    rng = random.Random(seed ^ 0x5EED)
    if start_ms is None:
        start_ms = 1735689600000 + rng.randrange(0, 86400) * 1000
    expected = {p: [] for p in PAIRS}
    os.makedirs(os.path.join(root, "hyperliquid"), exist_ok=True)
    span_ms = 3600 * 1000 * hl_files
    for ex in WS_EXCHANGES:
        with open(os.path.join(root, ex + ".jsonl"), "w") as f:
            for i in range(ws_frames):
                ts = start_ms + i * span_ms // max(1, ws_frames)
                line, rows = g.ws_frame(ex, ts)
                f.write(line + "\n")
                merge(expected, rows)
    per_file = max(1, hl_lines // hl_files)
    block = 700_000_000 + rng.randrange(1_000_000)
    for h in range(hl_files):
        hour0 = start_ms + h * 3600 * 1000
        path = os.path.join(root, "hyperliquid",
                            time.strftime("%Y%m%d%H", time.gmtime(hour0 // 1000)))
        with open(path, "w") as f:
            for j in range(per_file):
                ts = hour0 + j * 3600 * 1000 // per_file
                block += 1
                line, rows = g.hyperliquid(ts, block)
                f.write(line + "\n")
                merge(expected, {("hyperliquid", "usdc"): rows})
        t = 1_600_000_000 + h * 3600
        os.utime(path, (t, t))
    return expected


def save_expected(expected, path):
    with open(path, "w") as f:
        for rows in expected.values():
            for r in rows:
                f.write(json.dumps(r) + "\n")


def load_expected(path):
    expected = {p: [] for p in PAIRS}
    with open(path) as f:
        for line in f:
            r = tuple(json.loads(line))
            expected.setdefault((r[0], r[1]), []).append(r)
    return expected


def rows_per_frame(ex, n=4000):
    """Mean unified rows one frame of `ex` yields across the roster."""
    g = FrameGen(12345, live=True)
    total = 0
    for i in range(n):
        if ex == "hyperliquid":
            total += len(g.hyperliquid(i, i)[1])
        else:
            total += sum(len(v) for v in g.ws_frame(ex, i)[1].values())
    return total / n


def run_live(seed, root, rate, seconds, start_flag, out_prefix,
             hl_slot_ms=250, poll_s=0.002):
    """Open-loop generator: after `start_flag` appears, emit frames at `rate`
    unified rows per second for `seconds`, each at its due time.

    WS frames are appended as whole lines; Hyperliquid lines due in one
    `hl_slot_ms` slot are written to a temp file and renamed into the
    watched directory at the slot's end, which is also their timestamp.
    Writes `<out_prefix>.expected.jsonl` and `<out_prefix>.gen.json`
    (schedule start, lateness samples)."""
    g = FrameGen(seed, live=True)
    rng = random.Random(seed ^ 0x11FE)
    # each source gets an equal share of the rows, so its frames are spaced
    # by its mean rows-per-frame
    share = rate / 5.0
    spacing = {ex: rows_per_frame(ex) / share
               for ex in WS_EXCHANGES + ("hyperliquid",)}
    while not os.path.exists(start_flag):
        time.sleep(0.005)
    t0 = time.time()
    end = t0 + seconds
    expected = {p: [] for p in PAIRS}
    files = {ex: open(os.path.join(root, ex + ".jsonl"), "a")
             for ex in WS_EXCHANGES}
    tmp = os.path.join(root, "hl_staging")
    os.makedirs(tmp, exist_ok=True)
    # next due time per WS source, jittered start; HL publishes per slot
    nxt = {ex: t0 + rng.random() * spacing[ex] for ex in WS_EXCHANGES}
    hl_next = t0 + hl_slot_ms / 1000.0
    hl_per_slot = (hl_slot_ms / 1000.0) / spacing["hyperliquid"]
    hl_carry = 0.0
    block = 800_000_000
    late = []
    n_hl = 0
    while True:
        now = time.time()
        due_ex = min(nxt, key=nxt.get)
        due = min(nxt[due_ex], hl_next)
        if due >= end:
            break
        if due > now:
            time.sleep(min(due - now, poll_s * 5))
            continue
        if due == hl_next:
            ts = int(hl_next * 1000)
            hl_carry += hl_per_slot
            k = int(hl_carry)
            hl_carry -= k
            if k:
                name = "%013d-%05d" % (ts, n_hl)
                n_hl += 1
                stage = os.path.join(tmp, name)
                with open(stage, "w") as f:
                    for _ in range(k):
                        block += 1
                        line, rows = g.hyperliquid(ts, block)
                        f.write(line + "\n")
                        merge(expected, {("hyperliquid", "usdc"): rows})
                os.rename(stage, os.path.join(root, "hyperliquid", name))
                late.append((time.time() - hl_next) * 1000.0)
            hl_next += hl_slot_ms / 1000.0
        else:
            ts = int(due * 1000)
            line, rows = g.ws_frame(due_ex, ts)
            f = files[due_ex]
            f.write(line + "\n")
            f.flush()
            merge(expected, rows)
            late.append((time.time() - due) * 1000.0)
            nxt[due_ex] += spacing[due_ex]
    for f in files.values():
        f.close()
    save_expected(expected, out_prefix + ".expected.jsonl")
    with open(out_prefix + ".gen.json", "w") as f:
        json.dump({"t0_ms": t0 * 1000.0, "end_ms": end * 1000.0,
                   "lateness_ms": late}, f)


def write_live_warmup(seed, root, start_ms):
    """The small capture present before the live query starts; its first
    micro-batch is the set-up step.  Returns the expected rows."""
    g = FrameGen(seed ^ 0xA11, live=True)
    expected = {p: [] for p in PAIRS}
    os.makedirs(os.path.join(root, "hyperliquid"), exist_ok=True)
    for ex in WS_EXCHANGES:
        with open(os.path.join(root, ex + ".jsonl"), "w") as f:
            for i in range(40):
                line, rows = g.ws_frame(ex, start_ms + i * 10)
                f.write(line + "\n")
                merge(expected, rows)
    with open(os.path.join(root, "hyperliquid", "0000000000000-warm"), "w") as f:
        for i in range(40):
            line, rows = g.hyperliquid(start_ms + i * 10, 1000 + i)
            f.write(line + "\n")
            merge(expected, {("hyperliquid", "usdc"): rows})
    return expected


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    lv = sub.add_parser("live", help="open-loop generator (separate process)")
    lv.add_argument("--seed", type=int, required=True)
    lv.add_argument("--root", required=True)
    lv.add_argument("--rate", type=float, default=500.0)
    lv.add_argument("--seconds", type=float, required=True)
    lv.add_argument("--start-flag", required=True)
    lv.add_argument("--out-prefix", required=True)
    a = ap.parse_args(argv)
    run_live(a.seed, a.root, a.rate, a.seconds, a.start_flag, a.out_prefix)


if __name__ == "__main__":
    main(sys.argv[1:])
