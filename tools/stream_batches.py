#!/usr/bin/env python3
"""Per-micro-batch timeline of a traced ingest_stream run.

    python3 tools/stream_batches.py perfbench/work/spans-ingest_stream.json
    python3 tools/stream_batches.py --self-test

Reads the spans file a traced run writes (`perfbench/run.py --trace 1`) and
prints, for each non-empty batch (a batch span in which at least one
`importer ...` job starts):
  - wall_s:      the batch span (the trigger execution);
  - processed_s: when the `importer updates` collect ends, from the batch
                 start (clipped to the batch): the batch's last job, after
                 which the driver writes its sinks, so this is the batch's
                 critical path before those writes ("-" when the batch had
                 no new instance);
  - pre_s:       batch start to the first job's start (offset log, planning);
  - gap_s:       time between the first job's start and the last job's end
                 that no job covers (Spark driver work between jobs);
  - post_s:      the last job's end to the batch end (the driver's sink
                 writes and the commit log);
  - jobs:        the jobs started in the batch.
The medians over those batches close the listing.
"""
import json
import math
import statistics
import sys

UPDATES = "importer updates"


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
        marks = [min(j["end_ms"], b["end_ms"]) for j in jobs if job_name(j) == UPDATES]
        first = max(min(j["start_ms"] for j in jobs), b["start_ms"])
        last = min(max(j["end_ms"] for j in jobs), b["end_ms"])
        out.append({
            "batch": b["request"],
            "wall_s": (b["end_ms"] - b["start_ms"]) / 1000.0,
            "processed_s": (max(marks) - b["start_ms"]) / 1000.0 if marks else None,
            "pre_s": (first - b["start_ms"]) / 1000.0,
            "gap_s": max(0.0, last - first - covered_ms(first, last, jobs)) / 1000.0,
            "post_s": (b["end_ms"] - last) / 1000.0,
            "jobs": len(jobs),
        })
    return out


COLUMNS = (("wall_s", 7), ("processed_s", 11), ("pre_s", 7), ("gap_s", 7), ("post_s", 7), ("jobs", 5))


def report(rows):
    def cell(v):
        return "-" if v is None else v if isinstance(v, int) else f"{v:.3f}"

    def line(label, values):
        return f"{label:<10} " + " ".join(f"{cell(v):>{w}}" for v, (_, w) in zip(values, COLUMNS))

    def median(key):
        vals = [r[key] for r in rows if r[key] is not None]
        return float(statistics.median(vals)) if vals else None
    lines = [f"{'batch':<10} " + " ".join(f"{k:>{w}}" for k, w in COLUMNS)]
    lines += [line(r["batch"], [r[k] for k, _ in COLUMNS]) for r in rows]
    lines.append(line("median", [median(k) for k, _ in COLUMNS]))
    lines.append(f"non-empty batches: {len(rows)}")
    return "\n".join(lines)


SAMPLE = {
    "spans": [
        {"name": "tick", "request": "traced#tick0", "start_ms": 0.0, "end_ms": 1.0},
        # batch 0: batch read 50-100, static side 100-200, updates collect
        # 250-300, then the driver's writes; 1000 ms wall
        {"name": "batch", "request": "batch#0", "start_ms": 0.0, "end_ms": 1000.0},
        # batch 1: empty trigger, no job
        {"name": "batch", "request": "batch#1", "start_ms": 1000.0, "end_ms": 1010.0},
        # batch 2: every event already processed, so only the batch read
        {"name": "batch", "request": "batch#2", "start_ms": 2000.0, "end_ms": 2300.0},
        # batch 3: its updates collect ends after the batch, so only the
        # part inside counts
        {"name": "batch", "request": "batch#3", "start_ms": 3000.0, "end_ms": 3500.5},
    ],
    "jobs": [
        {"start_ms": 50.0, "end_ms": 100.0, "stages": ["importer batch"]},
        {"start_ms": 100.0, "end_ms": 200.0, "stages": ["importer static side"]},
        {"start_ms": 250.0, "end_ms": 300.0, "stages": [UPDATES]},
        {"start_ms": 2020.0, "end_ms": 2100.0, "stages": ["importer batch"]},
        {"start_ms": 3000.0, "end_ms": 3100.0, "stages": ["importer batch"]},
        {"start_ms": 3050.0, "end_ms": 3200.0, "stages": ["importer static side"]},
        {"start_ms": 3500.0, "end_ms": 3600.0, "stages": [UPDATES]},
    ],
}


def self_test():
    rows = batches(SAMPLE)
    assert [r["batch"] for r in rows] == ["batch#0", "batch#2", "batch#3"], rows
    b0, b2, b3 = rows
    assert [r["jobs"] for r in rows] == [3, 1, 3], rows
    assert math.isclose(b0["wall_s"], 1.0) and math.isclose(b0["processed_s"], 0.3), b0
    # 50 ms before the read, 50 ms between the static side and the updates,
    # 700 ms of driver writes and commit after
    assert [round(b0[k], 6) for k in ("pre_s", "gap_s", "post_s")] == [0.05, 0.05, 0.7], b0
    # a batch that only read its events is still a batch
    assert b2["processed_s"] is None, b2
    assert [round(b2[k], 6) for k in ("pre_s", "gap_s", "post_s")] == [0.02, 0.0, 0.2], b2
    # jobs cover 3000-3200 and 3500-3500.5 inside the batch
    assert math.isclose(b3["processed_s"], 0.5005), b3
    assert [round(b3[k], 6) for k in ("pre_s", "gap_s", "post_s")] == [0.0, 0.3, 0.0], b3
    text = report(rows)
    assert text.splitlines()[0].split() == ["batch", "wall_s", "processed_s", "pre_s", "gap_s", "post_s", "jobs"], text
    assert text.splitlines()[-2].split() == ["median", "0.500", "0.400", "0.020", "0.050", "0.200", "3.000"], text
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
