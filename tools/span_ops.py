#!/usr/bin/env python3
"""Per-op Spark counters of a traced graftbench run.

    python3 tools/span_ops.py <run_dir> [<run_dir>]

Reads `<run_dir>/spans.jsonl`, as written by
`python3 graftbench/run.py --workload <w> --seed <n> --trace 1` (run
directories are `.bench_build/runs/<workload>-s<seed>-t1-<pid>/`), and
prints, for each traced pass and each op in it, the op's wall ms (span
end minus start), the ms in which at least one of its tasks ran
(`busy_ms`), and the jobs, stages, tasks, shuffle read and write bytes
and executor CPU ms the tracer attributed to the op, then the pass
totals and the pass's `cached_bytes_peak`.

Given two run directories, prints them side by side: each cell is
`first -> second (delta)`, or one value when both runs agree. Ops are
matched by pass and op name.
"""
import json
import os
import sys

COLS = (("wall_ms", "wall_ms"), ("busy_ms", "busy_ms"),
        ("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
        ("shuffle_read_bytes", "shuf_read"), ("shuffle_write_bytes", "shuf_write"),
        ("cpu_ms", "cpu_ms"))


def load(run_dir):
    """{pass trace: {"peak": bytes, "ops": {op name: {counter: value}}}},
    passes and ops in the order the run recorded them."""
    path = os.path.join(run_dir, "spans.jsonl")
    if not os.path.isfile(path):
        sys.exit(f"{path}: not found (spans are written by --trace 1 runs)")
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    by_id = {s["id"]: s for s in spans}

    def pass_of(s):
        while s is not None and s["kind"] != "pass":
            s = by_id.get(s["parent"])
        return s

    passes = {}
    for s in spans:
        if s["kind"] == "pass":
            passes[s["trace"]] = {"peak": s["attrs"].get("cached_bytes_peak", 0.0), "ops": {}}
    for s in spans:
        p = pass_of(s) if s["kind"] == "op" else None
        if p is not None:
            attrs = dict(s["attrs"], wall_ms=s["end_ms"] - s["start_ms"])
            passes[p["trace"]]["ops"][s["name"]] = {k: attrs.get(k, 0.0) for k, _ in COLS}
    return passes


def fmt(v):
    return f"{v:.0f}" if abs(v) >= 100 or v == int(v) else f"{v:.1f}"


def cell(vals):
    present = [v for v in vals if v is not None]
    if len(vals) == 1 or (len(present) == 2 and fmt(vals[0]) == fmt(vals[1])):
        return fmt(present[0])
    a, b = (("-" if v is None else fmt(v)) for v in vals)
    if None in vals:
        return f"{a} -> {b}"
    d = vals[1] - vals[0]
    return f"{a} -> {b} ({'+' if d > 0 else ''}{fmt(d)})"


def table(rows):
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  " + "  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                               for i, (c, w) in enumerate(zip(r, widths))))


def main(argv):
    if not 1 <= len(argv) <= 2:
        sys.exit(__doc__)
    runs = [load(d) for d in argv]
    traces = list(runs[0]) + [t for r in runs[1:] for t in r if t not in runs[0]]
    for t in traces:
        ps = [r.get(t) for r in runs]
        print(f"{t}  cached_bytes_peak {cell([p['peak'] if p else None for p in ps])}")
        ops = []
        for p in ps:
            for name in (p or {"ops": {}})["ops"]:
                if name not in ops:
                    ops.append(name)
        rows = [["op"] + [label for _, label in COLS]]
        for name in ops + ["total"]:
            def val(p, k):
                if p is None:
                    return None
                if name == "total":
                    return sum(o[k] for o in p["ops"].values())
                return p["ops"][name][k] if name in p["ops"] else None
            rows.append([name] + [cell([val(p, k) for p in ps]) for k, _ in COLS])
        table(rows)
        print()


if __name__ == "__main__":
    main(sys.argv[1:])
