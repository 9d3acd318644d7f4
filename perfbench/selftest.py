#!/usr/bin/env python3
"""Self-test of the benchmark's output check: one changed byte in a
delivered extract, a torn gzip stream, a surviving `__incoming` key or
a job-reported failure must each fail the delivery it touches.

    python3 perfbench/selftest.py

Needs no build and no Spark: it lays out target trees the way
`graft.jobs.Sinks.fanOut` delivers them and runs `run.audit` on them.
"""

import gzip
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DAILY = "sis-data/daily/0123456789abcdef0123456789abcdef-2025-01-01"
# key under the daily prefix -> decompressed CSV
EXTRACTS = {"courses/courses-200006": b"1,alpha\n2,beta\n",
            "basic-attributes/basic-attributes": b'7,"a ""quoted"" name"\n'}


def deliver(root):
    """Three targets, as `snapshot_fanout` delivers to."""
    paths = []
    for i in range(3):
        t = os.path.join(root, f"target{i}")
        for key, body in EXTRACTS.items():
            d = os.path.join(t, DAILY, f"{key}.gz")
            os.makedirs(d)
            with gzip.open(os.path.join(d, "part-00000-x-c000.csv.gz"),
                           "wb") as f:
                f.write(body)
        paths.append(t)
    return paths


def outcome(targets, ok=True):
    return {"results": [{"extract": os.path.basename(k), "target": t,
                         "ok": ok} for k in EXTRACTS for t in targets]}


def part(target, key):
    d = os.path.join(target, DAILY, f"{key}.gz")
    return os.path.join(d, os.listdir(d)[0])


def check(label, root, mutate, expect_failed, pins):
    shutil.rmtree(root, ignore_errors=True)
    targets = deliver(root)
    clean = run.audit(outcome(targets), targets, {})
    assert clean["failed"] == 0, clean["reasons"]
    out = mutate(targets) or outcome(targets)
    got = run.audit(out, targets, pins)
    status = "ok" if got["failed"] == expect_failed else "WRONG"
    print(f"{status}: {label}: {got['failed']}/{got['attempted']} failed "
          f"{got['reasons']}")
    return status == "ok"


def flip_csv_byte(targets):
    p = part(targets[1], "courses/courses-200006")
    with gzip.open(p, "rb") as f:
        body = bytearray(f.read())
    body[2] ^= 0x01  # "alpha" -> "`lpha"
    with gzip.open(p, "wb") as f:
        f.write(bytes(body))


def flip_csv_byte_everywhere(targets):
    for t in targets:
        flip_csv_byte([None, t])


def flip_gzip_byte(targets):
    p = part(targets[0], "basic-attributes/basic-attributes")
    with open(p, "r+b") as f:
        f.seek(os.path.getsize(p) - 6)  # inside the CRC32 trailer
        b = f.read(1)
        f.seek(-1, 1)
        f.write(bytes([b[0] ^ 0xFF]))


def leave_incoming(targets):
    src = os.path.dirname(part(targets[0], "courses/courses-200006"))
    shutil.copytree(src, src + "__incoming")


def main():
    os.makedirs(run.WORK, exist_ok=True)
    root = tempfile.mkdtemp(prefix="selftest-", dir=run.WORK)
    try:
        # the pinned digests of a clean delivery, as digests.json holds them
        pinned = deliver(os.path.join(root, "pin"))
        pins = run.audit(outcome(pinned), pinned, {})["digests"]
        cases = [
            ("one changed CSV byte on one target", flip_csv_byte, 1, {}),
            ("the same changed byte on every target, unpinned",
             flip_csv_byte_everywhere, 0, {}),
            ("the same changed byte on every target, pinned",
             flip_csv_byte_everywhere, 3, pins),
            ("one changed gzip byte", flip_gzip_byte, 1, {}),
            ("surviving __incoming key", leave_incoming, 1, {}),
            ("job reported ok=false", lambda ts: outcome(ts, ok=False),
             6, {}),
        ]
        ok = all([check(label, os.path.join(root, "case"), mutate, n, p)
                  for label, mutate, n, p in cases])
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
