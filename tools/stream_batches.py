#!/usr/bin/env python3
"""Per-micro-batch timeline of a traced ingest_stream run.

    python3 tools/stream_batches.py perfbench/work/spans-ingest_stream.json
    python3 tools/stream_batches.py --self-test

Reads the spans file a traced run writes (`perfbench/run.py --trace 1`) and
prints, for each non-empty batch (a batch span in which at least one
`importer ...` job starts):
  - wall_s:      the batch span (the trigger execution);
  - processed_s: when the `importer processed sink` job starts, from the
                 batch start: every other write of the batch lies before it,
                 so this is the batch's critical path ("-" when the batch
                 marked nothing);
  - idle_s:      the batch time that no Spark job covers (driver work between
                 jobs, commit gaps, planning);
  - jobs:        the jobs started in the batch.
The medians over those batches close the listing.
"""
import json
import math
import statistics
import sys

PROCESSED = "importer processed sink"


def covers(span, t):
    """The runner's own rule: listener times are whole milliseconds."""
    return math.floor(span["start_ms"]) <= t <= math.ceil(span["end_ms"])


def job_name(job):
    return job["stages"][0] if job["stages"] else ""


def covered_ms(start, end, jobs):
    """Length of [start, end] covered by the union of the jobs' intervals."""
    total, reach = 0.0, start
    for s, e in sorted((max(j["start_ms"], start), min(j["end_ms"], end)) for j in jobs):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def batches(spans_file):
    """One dict per non-empty batch, in batch order."""
    batch_spans = sorted((s for s in spans_file["spans"] if s["name"] == "batch"),
                         key=lambda s: s["start_ms"])
    out = []
    for b in batch_spans:
        jobs = [j for j in spans_file["jobs"] if covers(b, j["start_ms"])]
        if not any(job_name(j).startswith("importer") for j in jobs):
            continue
        wall = b["end_ms"] - b["start_ms"]
        marks = [j["start_ms"] for j in jobs if job_name(j) == PROCESSED]
        out.append({
            "batch": b["request"],
            "wall_s": wall / 1000.0,
            "processed_s": (min(marks) - b["start_ms"]) / 1000.0 if marks else None,
            "idle_s": (wall - covered_ms(b["start_ms"], b["end_ms"], jobs)) / 1000.0,
            "jobs": len(jobs),
        })
    return out


def report(rows):
    def cell(v):
        return "-" if v is None else f"{v:.3f}"
    lines = [f"{'batch':<10} {'wall_s':>7} {'processed_s':>11} {'idle_s':>7} {'jobs':>5}"]
    for r in rows:
        lines.append(f"{r['batch']:<10} {cell(r['wall_s']):>7} {cell(r['processed_s']):>11} "
                     f"{cell(r['idle_s']):>7} {r['jobs']:>5}")

    def median(key):
        vals = [r[key] for r in rows if r[key] is not None]
        return statistics.median(vals) if vals else None
    lines.append(f"{'median':<10} {cell(median('wall_s')):>7} {cell(median('processed_s')):>11} "
                 f"{cell(median('idle_s')):>7} {cell(median('jobs')):>5}")
    lines.append(f"non-empty batches: {len(rows)}")
    return "\n".join(lines)


SAMPLE = {
    "spans": [
        {"name": "tick", "request": "traced#tick0", "start_ms": 0.0, "end_ms": 1.0},
        # batch 0: dead letters 0-100, collect 100-200, updates 200-300,
        # completed 250-350, processed 400-450; 1000 ms wall
        {"name": "batch", "request": "batch#0", "start_ms": 0.0, "end_ms": 1000.0},
        # batch 1: empty trigger, no job
        {"name": "batch", "request": "batch#1", "start_ms": 1000.0, "end_ms": 1010.0},
        # batch 2: every event already processed, so no processed sink
        {"name": "batch", "request": "batch#2", "start_ms": 2000.0, "end_ms": 2500.5},
    ],
    "jobs": [
        {"start_ms": 0.0, "end_ms": 100.0, "stages": ["importer dead-letter sink"]},
        {"start_ms": 100.0, "end_ms": 200.0, "stages": ["importer new events"]},
        {"start_ms": 200.0, "end_ms": 300.0, "stages": ["importer updates sink"]},
        {"start_ms": 250.0, "end_ms": 350.0, "stages": ["importer completed sink"]},
        {"start_ms": 400.0, "end_ms": 450.0, "stages": [PROCESSED]},
        {"start_ms": 2000.0, "end_ms": 2100.0, "stages": ["importer dead-letter sink"]},
        {"start_ms": 2050.0, "end_ms": 2200.0, "stages": ["importer new events"]},
        # ends after its batch: only the part inside counts as covered
        {"start_ms": 2500.0, "end_ms": 2600.0, "stages": ["importer error sink"]},
    ],
}


def self_test():
    rows = batches(SAMPLE)
    assert [r["batch"] for r in rows] == ["batch#0", "batch#2"], rows
    b0, b2 = rows
    assert b0["jobs"] == 5 and b2["jobs"] == 3, rows
    assert math.isclose(b0["wall_s"], 1.0) and math.isclose(b0["processed_s"], 0.4), b0
    # covered: 0-350 and 400-450, so 600 ms idle
    assert math.isclose(b0["idle_s"], 0.6), b0
    assert b2["processed_s"] is None, b2
    # covered: 2000-2200 and 2500-2500.5
    assert math.isclose(b2["idle_s"], 0.3), b2
    text = report(rows)
    assert text.splitlines()[-2].split() == ["median", "0.750", "0.400", "0.450", "4.000"], text
    assert covered_ms(0, 10, []) == 0
    print("stream_batches self-test: ok")


def main(argv):
    if argv == ["--self-test"]:
        self_test()
        return 0
    if len(argv) != 1:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[0]) as fh:
        rows = batches(json.load(fh))
    if not rows:
        print(f"{argv[0]}: no batch started an importer job", file=sys.stderr)
        return 1
    print(report(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
