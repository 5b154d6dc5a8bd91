#!/usr/bin/env python3
"""Turn traced-run span files into per-workload, per-layer tables.

Usage:

    python3 perfbench/summarize.py .bench_out/trace-*.jsonl [--untraced RESULT.json ...]

A span file holds one JSON record per line: `span` records
(`{id, parent, name = <layer>.<call>, workload, op, start_us, end_us}`),
`counter` records (`{name, workload, op, value}`), `plan` records (the
executed plan text of the first timed op) and one `env` record. A span's
self time is its duration minus the time its child spans cover. Op -1 is
set-up, -2 is after the timed window.

With `--untraced`, each file holding an untraced run's stdout is compared
with the traced run of the same workload: the difference of `op_p50_ms`
and `setup_s` is the tracing overhead.
"""
import argparse
import json
import statistics
from collections import defaultdict


def load(paths):
    records = []
    for p in paths:
        with open(p) as fh:
            records += [json.loads(line) for line in fh if line.strip()]
    return records


def self_times(spans):
    """Span id -> self time in microseconds."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered, cur = 0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(c["start_us"], cur), min(c["end_us"], hi)
            if b > a:
                covered += b - a
                cur = b
        out[s["id"]] = (hi - lo) - covered
    return out


def _split(records, workload):
    spans = [r for r in records if r["kind"] == "span" and r["workload"] == workload]
    counters = defaultdict(list)
    for r in records:
        if r["kind"] == "counter" and r["workload"] == workload and r["value"] is not None:
            counters[r["name"]].append(r["value"])
    return spans, counters


def layer_metrics(records, workload, names):
    """Per-layer metric values of one workload.

    A name recorded as a counter is the mean of its records (one per op,
    per probe repetition or per set-up). Any other `<layer>_ms` name is
    the self time of the spans named `<layer>`: per timed op when they
    occur in timed ops, else per call. A layer the workload never calls
    reads 0.
    """
    spans, counters = _split(records, workload)
    selfs = self_times(spans)
    ops = max(counters.get("ops", [0]) or [0])
    out = {}
    for n in names:
        if n in counters:
            out[n] = statistics.fmean(counters[n])
        elif n.endswith("_ms"):
            layer = n[:-3]
            timed = [selfs[s["id"]] for s in spans if s["name"] == layer and s["op"] >= 0]
            other = [selfs[s["id"]] for s in spans if s["name"] == layer and s["op"] < 0]
            if timed and ops:
                out[n] = sum(timed) / ops / 1e3
            elif other:
                out[n] = sum(other) / len(other) / 1e3
            else:
                out[n] = 0.0
        else:
            out[n] = 0.0
    return out


def table(records):
    """Per workload: self time per layer (per timed op, and set-up or
    probe calls separately), then the counters."""
    lines = []
    for wl in sorted({r["workload"] for r in records if "workload" in r and r["kind"] != "env"}):
        spans, counters = _split(records, wl)
        selfs = self_times(spans)
        ops = max(counters.get("ops", [0]) or [0])
        per = defaultdict(lambda: [0.0, 0, 0.0, 0])
        for s in spans:
            row = per[s["name"]]
            if s["op"] >= 0:
                row[0] += selfs[s["id"]] / 1e3
                row[1] += 1
            else:
                row[2] += selfs[s["id"]] / 1e3
                row[3] += 1
        lines.append(f"== {wl}: {int(ops)} timed ops")
        lines.append(f"{'layer':36} {'self ms/op':>12} {'calls/op':>9} {'other ms':>10} {'calls':>6}")
        for name in sorted(per, key=lambda n: (-per[n][0], n)):
            t, c, o, oc = per[name]
            lines.append(f"{name:36} {t / ops if ops else 0:12.2f} {c / ops if ops else 0:9.2f} "
                         f"{o:10.1f} {oc:6d}")
        lines.append(f"{'counter':36} {'mean':>12} {'records':>9}")
        for name in sorted(counters):
            v = counters[name]
            lines.append(f"{name:36} {statistics.fmean(v):12.4g} {len(v):9d}")
    return "\n".join(lines)


def overhead(records, untraced_paths):
    """Traced minus untraced `op_p50_ms` and `setup_s`, per workload."""
    lines = []
    for p in untraced_paths:
        with open(p) as fh:
            out = fh.read().strip().splitlines()
        reports = [json.loads(l[len("# report "):]) for l in out if l.startswith("# report ")]
        if not reports:
            continue
        wl, metrics = reports[-1]["workload"], json.loads(out[-1])["metrics"]
        _, counters = _split(records, wl)
        for name in ("op_p50_ms", "setup_s"):
            traced = counters.get(f"trace.{name}")
            if traced and name in metrics:
                u = metrics[name]["value"]
                t = statistics.fmean(traced)
                lines.append(f"{wl} {name}: traced {t:.4g}, untraced {u:.4g}, "
                             f"overhead {t - u:+.4g} ({(t - u) / u:+.1%})")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--untraced", nargs="*", default=[],
                    help="saved stdout of untraced runs, to report the tracing overhead")
    a = ap.parse_args()
    records = load(a.files)
    print(table(records))
    if a.untraced:
        print(overhead(records, a.untraced))


if __name__ == "__main__":
    main()
