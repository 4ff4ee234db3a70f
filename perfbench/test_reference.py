#!/usr/bin/env python3
"""The benchmark's own test: the generator's reference rows must agree with
the program's batch normalizers.

    python3 perfbench/test_reference.py [--seed N]

Writes a small seeded capture (OKX net-mode details included, so rows with
a NULL side are covered), runs `Normalizers` over it for every pair of the
`--all` roster in the harness JVM, and compares the two multisets of
unified rows per (exchange, market). Exits 0 when they agree.
"""
import argparse
import collections
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_frames  # noqa: E402
import run  # noqa: E402


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seed", type=int, default=5)
    a = ap.parse_args(argv)
    cp = run.build()
    d = os.path.join(run.RUNS, "test-reference-%d" % os.getpid())
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    try:
        gen_frames.NULL_SIDE_RATE = 0.2
        expected = gen_frames.write_backlog(a.seed, os.path.join(d, "frames"),
                                            ws_frames=400, hl_lines=240,
                                            hl_files=4)
        out = os.path.join(d, "rows.tsv")
        run.java(cp, d, ["--mode", "normcheck", "--run-dir", d,
                         "--frames", os.path.join(d, "frames"), "--out", out],
                 "normcheck")
        got = collections.defaultdict(collections.Counter)
        with open(out) as f:
            for line in f:
                k = run.row_key(*[None if v == "\\N" else v
                                  for v in line.rstrip("\n").split("\t")])
                got[k[:2]][k] += 1
        ok = True
        for pair in gen_frames.PAIRS:
            want = collections.Counter(run.row_key(*r) for r in expected[pair])
            have = got.get(pair, collections.Counter())
            nulls = sum(n for k, n in want.items() if k[3] is None)
            same = want == have
            ok &= same and sum(want.values()) > 0
            print("%-18s expected %5d rows (%d NULL side), normalizers %5d: %s" % (
                "%s:%s" % pair, sum(want.values()), nulls, sum(have.values()),
                "ok" if same else "MISMATCH"))
            if not same:
                for k in list((want - have).keys())[:3]:
                    print("   only in reference:", k)
                for k in list((have - want).keys())[:3]:
                    print("   only in normalizers:", k)
        print("PASS" if ok else "FAIL")
        return 0 if ok else 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
