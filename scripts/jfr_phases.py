#!/usr/bin/env python3
"""Split a JFR recording's main-thread CPU samples into query phases.

Record a perfbench JVM (or any driver that calls QueryEngine.run) with

    java -XX:StartFlightRecording=filename=rec.jfr,settings=profile \
         -XX:FlightRecorderOptions:stackdepth=1024 ...

then run

    python3 scripts/jfr_phases.py rec.jfr [--frame perfbench.Main$.runOp]

Only samples of the `main` thread whose stack holds `--frame` are counted
(the default keeps perfbench's measured statements and drops its set-up and
dump). Each is placed by whether it ran inside the statement's row fetch
(`QueryEngine.fetchRows`, or the `df.limit(51).collect()` that fetched rows
before it) and by the innermost Catalyst phase on its stack: analysis,
optimization, physical planning, `QueryEngine.transformLog`'s own planner
pass, or none (execution inside the row fetch, the report's own code
outside it). Each line also counts the samples inside
`JoinEstimation.computeByHistogram`.

With `--threads`, it reports instead every thread's samples inside the
measured window, from the first to the last main-thread sample under
`--frame`, grouped by thread name with numbers replaced by `*` (executor
task threads drop their task and stage ids).
"""
import argparse
import collections
import re
import subprocess
import sys

PHASES = [  # stacks are read top first, so the innermost phase on a stack wins
    ("physical plan", re.compile(r"QueryExecution\.\S*(sparkPlan|executedPlan)")),
    ("optimize", re.compile(r"QueryExecution\.\S*optimizedPlan")),
    ("analyze", re.compile(r"QueryExecution\.\S*(analyzed|assertAnalyzed)")),
]
FETCH = re.compile(r"QueryEngine\$\.fetchRows|classic\.Dataset\.(collect|limit)\(")
HISTOGRAM = re.compile(r"JoinEstimation\.computeByHistogram")
PLANNER_PASS = re.compile(r"QueryEngine\$\.transformLog\(.*QueryExecution\)")
QUERY_PLANNER = re.compile(r"QueryPlanner\.plan\(")


def samples(path, depth):
    """Yield (start time, thread, frames top-first) per jdk.ExecutionSample
    event. The time is `jfr print`'s text, date first when it prints one
    (it prints none for a recording within one day), so it sorts as it ran."""
    out = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample",
                          "--stack-depth", str(depth), path],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    time, thread, frames, in_stack = "", None, [], False
    for line in out.splitlines():
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            time, thread, frames, in_stack = "", None, [], False
        elif s.startswith("startTime"):
            m = re.search(r"= (\S+)(?: \((\S+)\))?", s)
            time = f"{m.group(2) or ''} {m.group(1)}".strip() if m else ""
        elif s.startswith("sampledThread"):
            m = re.search(r'"([^"]*)"', s)
            thread = m.group(1) if m else None
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s)
        elif s == "}" and thread is not None:
            yield time, thread, frames
            thread = None


def thread_group(name):
    return re.sub(r"\d+", "*", re.sub(r" for task .*", "", name))


def threads(all_samples, frame):
    """Samples per thread group between the first and the last main-thread
    sample under `frame`."""
    measured = [t for t, thread, frames in all_samples
                if thread == "main" and any(frame in f for f in frames)]
    if not measured:
        sys.exit(f"no main-thread samples under {frame}")
    lo, hi = min(measured), max(measured)
    groups = collections.Counter(thread_group(thread) for t, thread, _ in all_samples
                                 if lo <= t <= hi)
    total = sum(groups.values())
    print(f"samples from {lo} to {hi}: {total} ({len(measured)} main-thread under {frame})")
    for g, n in groups.most_common():
        print(f"  {g}: {n} ({100.0 * n / total:.1f}%)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("recording")
    ap.add_argument("--frame", default="perfbench.Main$.runOp")
    ap.add_argument("--depth", type=int, default=1024)
    ap.add_argument("--threads", action="store_true",
                    help="samples per thread group in the measured window, not phases")
    a = ap.parse_args()
    if a.threads:
        threads(list(samples(a.recording, a.depth)), a.frame)
        return
    counts, hists = collections.Counter(), collections.Counter()
    for _, thread, frames in samples(a.recording, a.depth):
        if thread != "main" or not any(a.frame in f for f in frames):
            continue
        in_fetch = any(FETCH.search(f) for f in frames)
        phase = "execution" if in_fetch else "report code"
        for f in frames:
            hit = next((name for name, rx in PHASES if rx.search(f)), None)
            if hit:
                phase = hit
                break
        if any(PLANNER_PASS.search(f) for f in frames) and any(QUERY_PLANNER.search(f) for f in frames):
            phase = "transformLog planner pass"
        for key in (("all", ""), ("row fetch" if in_fetch else "report", ""),
                    ("row fetch" if in_fetch else "report", phase)):
            counts[key] += 1
            hists[key] += any(HISTOGRAM.search(f) for f in frames)
    if not counts:
        sys.exit(f"no main-thread samples under {a.frame}")
    line = lambda indent, label, key: print(
        f"{indent}{label}: {counts[key]} (histogram estimation {hists[key]})")
    line("", f"main-thread samples under {a.frame}", ("all", ""))
    for where in ("report", "row fetch"):
        line("  ", where, (where, ""))
        for (w, phase), _ in counts.most_common():
            if w == where and phase:
                line("    ", phase, (w, phase))


if __name__ == "__main__":
    main()
