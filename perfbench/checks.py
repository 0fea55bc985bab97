"""Output checks for the tail_drain workload, and their self-test.

A tail output passes when
  - it has exactly as many lines as records were due;
  - per shard, the sequence numbers appear contiguous and in order, from
    the shard's first due record to its last;
  - an order-free digest of the lines equals the digest of the lines
    rendered from the generated records (gen.render), not by the engine.

Run `python3 perfbench/checks.py` to self-test: a dropped record, a
reordered pair within a shard and a corrupted line must each be flagged.
"""
import hashlib
import re
import sys

EID = re.compile(r'"e": (\d+)')


def digest(lines):
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_tail(lines, due, expected_digest):
    """lines: the engine's output, in output order. due: the records due,
    each with eid/shard/seq. expected_digest: digest() of the lines
    rendered from those records. Returns a list of problems (empty = pass)."""
    problems = []
    if len(lines) != len(due):
        problems.append(f"line count {len(lines)} != {len(due)} records due")
    by_id = {r["eid"]: r for r in due}
    first = {}
    for r in due:
        first[r["shard"]] = min(first.get(r["shard"], r["seq"]), r["seq"])
    nxt = dict(first)
    for i, line in enumerate(lines):
        m = EID.search(line)
        r = by_id.get(int(m.group(1))) if m else None
        if r is None:
            problems.append(f"line {i} matches no due record: {line[:80]!r}")
            continue
        if r["seq"] != nxt[r["shard"]]:
            problems.append(f"line {i}: {r['shard']} seq {r['seq']}, expected {nxt[r['shard']]}")
        nxt[r["shard"]] = r["seq"] + 1
    if digest(lines) != expected_digest:
        problems.append("line digest differs from the generated records' digest")
    return problems[:20]


def self_test():
    """Each planted defect must be flagged; the clean output must pass."""
    import gen
    recs = []
    for s in ("shard-000", "shard-001"):
        for q in range(5):
            recs.append({"eid": len(recs), "shard": s, "seq": q, "uid": q * 7 + len(s),
                         "ts": gen.BASE_US + 1000 * len(recs) + 250,
                         "props": f'{{"k": {q}, "e": {len(recs)}}}'})
    good = [gen.render(r) for r in recs]
    want = digest(good)
    cases = {
        "clean": (good, False),
        "dropped record": (good[:3] + good[4:], True),
        "reordered pair": (good[:1] + [good[2], good[1]] + good[3:], True),
        "corrupted line": (good[:4] + [good[4].replace("UTC", "UTX")] + good[5:], True),
    }
    failures = []
    for name, (lines, should_flag) in cases.items():
        flagged = bool(check_tail(lines, recs, want))
        if flagged != should_flag:
            failures.append(name)
    return failures


if __name__ == "__main__":
    sys.path.insert(0, __file__.rsplit("/", 1)[0])
    bad = self_test()
    print("self-test: " + ("ok" if not bad else "FAILED: " + ", ".join(bad)))
    sys.exit(1 if bad else 0)
