#!/usr/bin/env python3
"""Per-query bench comparison at millisecond resolution (VERDICT r10
item 3). Decodes every bench artifact format this repo has produced:

  - driver BENCH_rNN.json: {"parsed": {...}} envelope around a compact
    line whose "queries" is (a) an ms/centisec/decisec STRING
    ("01:123,92:5049", unit in "queries_unit"; r11+), or (b) a legacy
    JSON object in decisec ints / 1-2-decimal seconds;
  - repo ledger BENCH_LOCAL*.json / BENCH_CLUSTER*.json: one
    full-precision line, "queries" = {full_query_name: seconds}.

Each side's core count is "cpus" in the ledger line, or at the top level
of a BENCH_rNN.json envelope. Timings taken at different core counts are
different populations: the comparison warns when they differ, and notes a
side that does not record its count.

Usage: python3 tools/bench_compare.py <old.json> <new.json> [minDeltaMs]
Prints totals, calibration, and per-query deltas over minDeltaMs
(default 100), worst regressions first.
"""
import json, re, sys


def load_seconds(path):
    """-> (total_sec, calib_ms_or_None, cpus_or_None, {short_key: seconds})"""
    raw = json.load(open(path))
    d = raw.get("parsed", raw)
    if not isinstance(d, dict) or "queries" not in d:
        sys.exit(f"{path}: no queries field")
    q = d["queries"]
    unit = d.get("queries_unit", "sec")
    div = {"ms": 1000.0, "centisec": 100.0, "decisec": 10.0,
           "sec": 1.0}[unit]
    out = {}
    if isinstance(q, str):
        for pair in q.split(","):
            k, v = pair.split(":")
            out[k.lstrip("0") or "0"] = int(v) / div
    else:
        for k, v in q.items():
            # full ledger keys are q92_text_tfidf; compact keys are "92"
            m = re.match(r"q?(\d+)", k)
            out[m.group(1).lstrip("0") or "0"] = float(v) / div
    cpus = d.get("cpus", raw.get("cpus"))
    return (float(d.get("value", sum(out.values()))), d.get("calib_ms"),
            cpus, out)


def main(old_path, new_path, min_delta_ms=100):
    to, co, po, qo = load_seconds(old_path)
    tn, cn, pn, qn = load_seconds(new_path)
    print(f"cpus: {po} -> {pn}")
    if po is None or pn is None:
        print("note: a side records no core count (cpus: None); check it "
              "before reading the deltas as a regression signal")
    elif po != pn:
        print(f"WARNING: different core counts ({po} vs {pn}): the "
              "timings are not comparable as a regression signal")
    print(f"total: {to:.2f} s -> {tn:.2f} s ({(tn - to) / to:+.1%} vs old)"
          if to else f"total: {tn:.2f} s")
    if co or cn:
        print(f"calib_ms: {co} -> {cn}")
    rows, only_one = [], []
    for k in sorted(set(qo) | set(qn), key=lambda s: int(s)):
        a, b = qo.get(k), qn.get(k)
        if a is None or b is None:
            only_one.append((k, a, b))
            continue
        delta_ms = (b - a) * 1000
        if abs(delta_ms) >= min_delta_ms:
            rows.append((delta_ms, k, a, b,
                         f"{b / a:.2f}x" if a > 0 else "n/a"))
    rows.sort(key=lambda r: -r[0])
    if not rows:
        print(f"no per-query delta >= {min_delta_ms} ms")
    for delta, k, a, b, note in rows:
        print(f"q{k:>3}: {a * 1000:7.0f} -> {b * 1000:7.0f} ms  {note}")
    # queries present on only one side go LAST (worst regressions lead;
    # a restricted/partial run must not bury them under a wall of these)
    for k, a, b in only_one:
        fa = "-" if a is None else f"{a * 1000:.0f}"
        fb = "-" if b is None else f"{b * 1000:.0f}"
        print(f"q{k:>3}: {fa:>7} -> {fb:>7} ms  only-one-side")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         int(sys.argv[3]) if len(sys.argv) > 3 else 100)
