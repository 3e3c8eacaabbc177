#!/usr/bin/env python3
"""Count the processes a JVM started, from a JFR recording.

    python3 tools/jfr_forks.py <recording.jfr> [--json]

Reads the recording's `jdk.ProcessStart` events through
`jfr print --json --stack-depth 40 --events jdk.ProcessStart` and prints
the total, then the starts grouped by command (the program name) and by
the first caller outside `java.lang` and `org.apache.hadoop` (the code
that asked for the fork), then by (command, caller). `hadoop_fs` counts
the `chmod`/`readlink`/`ls` starts with an `org.apache.hadoop.fs` frame:
the local filesystem's shell-outs. `--json` prints one JSON object
instead of the tables.

Recording a run, e.g. a benchmark run, without touching its code:

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/x.jfr \\
        python3 graftbench/run.py --workload ingest --seed 1 --trace 0

(every JVM the command starts writes the file when it exits; the last
one to exit wins, so build first when the build is not yet cached).
"""
import collections
import json
import os
import subprocess
import sys

SKIP = ("java.lang.", "org.apache.hadoop.")
SHELL_OUTS = ("chmod", "readlink", "ls")


def frames(event):
    st = event["values"].get("stackTrace") or {}
    for f in st.get("frames") or []:
        m = f["method"]
        yield m["type"]["name"].replace("/", "."), m["name"]


def caller(event):
    for cls, meth in frames(event):
        if not cls.startswith(SKIP):
            return f"{cls}.{meth}"
    return "?"


def program(event):
    cmd = (event["values"].get("command") or "?").split()
    return os.path.basename(cmd[0]) if cmd else "?"


def load(path):
    p = subprocess.run(["jfr", "print", "--json", "--stack-depth", "40",
                        "--events", "jdk.ProcessStart", path],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"jfr print failed on {path}: {p.stderr.strip() or p.stdout.strip()}")
    return json.loads(p.stdout)["recording"]["events"]


def summarize(events):
    by_cmd = collections.Counter(program(e) for e in events)
    by_caller = collections.Counter(caller(e) for e in events)
    by_both = collections.Counter((program(e), caller(e)) for e in events)
    hadoop_fs = sum(1 for e in events if program(e) in SHELL_OUTS
                    and any(c.startswith("org.apache.hadoop.fs.") for c, _ in frames(e)))
    return dict(total=len(events), hadoop_fs=hadoop_fs,
                by_command=dict(by_cmd.most_common()),
                by_caller=dict(by_caller.most_common()),
                by_command_caller=[[c, k, n] for (c, k), n in by_both.most_common()])


def main():
    args = [a for a in sys.argv[1:] if a != "--json"]
    if len(args) != 1:
        sys.exit(__doc__)
    s = summarize(load(args[0]))
    if "--json" in sys.argv:
        print(json.dumps(s))
        return
    print(f"process starts: {s['total']}  (chmod/readlink/ls from org.apache.hadoop.fs: "
          f"{s['hadoop_fs']})")
    for title, rows in (("by command", s["by_command"].items()),
                        ("by caller", s["by_caller"].items())):
        print(f"\n{title}:")
        for k, n in rows:
            print(f"  {n:6d}  {k}")
    print("\nby command and caller:")
    for c, k, n in s["by_command_caller"]:
        print(f"  {n:6d}  {c:10s} {k}")


if __name__ == "__main__":
    main()
