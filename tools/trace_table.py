#!/usr/bin/env python3
"""Print a perfbench trace as a table, one span per row.

    python3 tools/trace_table.py .bench_build/traces/interactive-seed7.jsonl
    python3 tools/trace_table.py BEFORE.jsonl AFTER.jsonl   # side by side

A trace is the JSONL file `perfbench/run.py --trace 1` writes under
`.bench_build/traces/`: one object per span with its name, start and
end (ns) and the Spark counters its window collected. Each row shows
the span's wall ms, jobs, stages, tasks, exchanges, executor CPU (ms)
and scheduler delay (ms); a TOTAL row sums them. With two traces of the
same workload, spans pair up in order and each cell reads
`before → after`.
"""
import json
import sys

COLS = [("ms", lambda s: (s["end_ns"] - s["start_ns"]) / 1e6),
        ("jobs", lambda s: s["jobs"]),
        ("stages", lambda s: s["stages"]),
        ("tasks", lambda s: s["tasks"]),
        ("exch", lambda s: s["exchanges"]),
        ("cpu_ms", lambda s: s["executor_cpu_ns"] / 1e6),
        ("sched_ms", lambda s: s["sched_delay_ms"])]


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def cells(span):
    return [f(span) for _, f in COLS]


def fmt(v):
    return f"{v:.0f}" if isinstance(v, float) else str(v)


def rows_of(traces):
    n = min(len(t) for t in traces)
    if any(len(t) != n for t in traces):
        print(f"trace_table: span counts differ {[len(t) for t in traces]}; "
              f"pairing the first {n}", file=sys.stderr)
    totals = [[0] * len(COLS) for _ in traces]
    out = []
    for i in range(n):
        names = {t[i]["name"] for t in traces}
        if len(names) > 1:
            sys.exit(f"trace_table: span {i} differs by name: {sorted(names)}")
        vals = [cells(t[i]) for t in traces]
        for tot, v in zip(totals, vals):
            for j, x in enumerate(v):
                tot[j] += x
        out.append((traces[0][i]["name"], vals))
    out.append(("TOTAL", totals))
    return out


def main(paths):
    if not 1 <= len(paths) <= 2:
        sys.exit(__doc__)
    rows = [(name, [" → ".join(fmt(v[j]) for v in vals) for j in range(len(COLS))])
            for name, vals in rows_of([load(p) for p in paths])]
    head = ["span"] + [c for c, _ in COLS]
    widths = [max(len(head[0]), *(len(r[0]) for r in rows))] + [
        max(len(head[j + 1]), *(len(r[1][j]) for r in rows)) for j in range(len(COLS))]
    print("  ".join(h.ljust(w) if j == 0 else h.rjust(w)
                    for j, (h, w) in enumerate(zip(head, widths))))
    for name, cs in rows:
        print("  ".join([name.ljust(widths[0])] +
                        [c.rjust(w) for c, w in zip(cs, widths[1:])]))


if __name__ == "__main__":
    main(sys.argv[1:])
