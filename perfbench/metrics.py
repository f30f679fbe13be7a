"""Metric definitions of the benchmark, computed from what a benchmark JVM
reports (its `raw` measurements) and from the files a run leaves behind.

Every workload reports every end-to-end metric and, traced, every per-layer
metric, with one meaning per workload (see README.md). A layer a workload
does not exercise reads 0.
"""
import json
import math
import os
import re
import statistics

WORKLOADS = ("cdc", "stateful")
LATENCY_LIMIT_MS = 10000.0  # the reference's source-latency alert (BASELINE.md)

# name -> unit, in output order
END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "resume_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "peak_rss_mb": "MB",
}

STATE_OPS = ("cep", "session", "join")
PER_LAYER = {
    "source.spool_s": "s",
    "source.list_s": "s",
    "source.read_s": "s",
    "pipeline.route_s": "s",
    "sink.write_s": "s",
    "sink.lineage_s": "s",
    "sink.commit_s": "s",
    "sink.residual_s": "s",
    "sink.shuffle_write_bytes": "bytes",
    "sink.spill_bytes": "bytes",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "sink.task_skew": "ratio",
    "engine.wal_s": "s",
    "engine.batches": "count",
    "engine.rows_per_batch_p50": "count",
    "engine.batch_ms_p50": "ms",
    "tail.wait_ms_p50": "ms",
    "tail.gen_late_ms_max": "ms",
    "latency.over_limit_frac": "ratio",
    "jvm.gc_s": "s",
    "engine.scaling_eff": "ratio",
}
for _op in STATE_OPS:
    PER_LAYER.update({
        f"{_op}.turns_per_s": "1/s",
        f"{_op}.state_update_s": "s",
        f"{_op}.state_commit_s": "s",
        f"{_op}.state_rows": "count",
        f"{_op}.state_bytes": "bytes",
        f"{_op}.late_rows_dropped": "count",
        f"{_op}.batch_ms_max": "ms",
        f"{_op}.task_skew": "ratio",
    })
PER_LAYER.update({
    "cep.rocksdb_checkpoint_ms": "ms",
    "trace.overhead_frac": "ratio",
    "canary.alu_giters_per_s": "1/s",
    "canary.mem_gb_per_s": "GB/s",
})

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share q
    of the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """How many of n samples lie above the nearest-rank q-th percentile."""
    return n - max(1, math.ceil(q * n))


def source_log_batches(ck_dir):
    """Map each input file name to the micro-batch that read it, from the
    file source's metadata log in the checkpoint (`sources/0/<N>` and its
    `<N>.compact` files: a version line, then one JSON entry per file)."""
    d = os.path.join(ck_dir, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if not re.fullmatch(r"\d+(\.compact)?", name):
            continue
        with open(os.path.join(d, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def segment_latencies(due, ck_dir, out_dir):
    """Commit latency of each delivered segment: the modification time of
    `_manifest/batch-N.json` minus the segment's due time, N being the batch
    whose source-log entry lists the segment. None when it never committed."""
    batch_of = source_log_batches(ck_dir)
    lat = []
    for d in due:
        n = batch_of.get(d["file"])
        m = None if n is None else os.path.join(out_dir, "_manifest", f"batch-{n:09d}.json")
        if m is None or not os.path.exists(m):
            lat.append((d, n, None))
        else:
            lat.append((d, n, os.stat(m).st_mtime_ns / 1e6 - d["due_ms"]))
    return lat


def _line(res, names, values):
    checks = res["checks"]
    return {
        "correct": all(c["ok"] for c in checks) and res["failed"] == 0,
        "attempted": max(1, res["attempted"]),
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": names[k]} for k in names},
    }


def _layers(raw):
    out = {k: 0.0 for k in PER_LAYER}
    unknown = set(raw.get("layers", {})) - set(PER_LAYER)
    if unknown:
        raise ValueError(f"layer metrics missing from PER_LAYER: {sorted(unknown)}")
    out.update(raw.get("layers", {}))
    out["canary.alu_giters_per_s"] = raw["canaries"]["alu_giters_per_s"]
    out["canary.mem_gb_per_s"] = raw["canaries"]["mem_gb_per_s"]
    return out


def cdc(main_r, scale_r, cores, trace):
    raw = main_r["raw"]
    lat = segment_latencies(raw["due"], raw["ck_dir"], raw["out_dir"])
    ok_lat = [x for _, _, x in lat if x is not None]
    never = sum(1 for _, _, x in lat if x is None)
    main_r["checks"].append({
        "name": "cdc.every_tail_segment_committed", "ok": never == 0,
        "detail": f"segments={len(lat)} never_committed={never}"})
    main_r["attempted"] += 1
    main_r["failed"] += 1 if never else 0
    tail = [b for b in raw["batches"] if b["phase"] == "tail"]
    artifact = {"checks": main_r["checks"], "raw": raw,
                "latencies_ms": [x for _, _, x in lat], "cores": cores}
    if not trace:
        values = {
            "setup_s": raw["setup_s"],
            "turns_per_s": raw["backfill_turns"] / raw["backfill_s"],
            "resume_s": raw["resume_s"],
            "latency_p50_ms": percentile(ok_lat, 0.5),
            "latency_p90_ms": percentile(ok_lat, 0.9),
            "peak_rss_mb": raw["peak_rss_mb"],
        }
        artifact["p90_samples_beyond"] = beyond(len(ok_lat), 0.9)
        return {"line": _line(main_r, END_TO_END, values), "artifact": artifact}
    artifact["scale_raw"] = scale_r["raw"]
    values = _layers(raw)
    values["engine.scaling_eff"] = scale_r["raw"]["backfill_s"] / (
        cores * statistics.median(raw["untraced_backfill_s"]))
    batch_ms = {b["batch_id"]: b["duration_ms"]["triggerExecution"] for b in tail}
    waits = [x - batch_ms[n] for _, n, x in lat if x is not None and n in batch_ms]
    values.update({
        "engine.batches": len(raw["batches"]),
        "engine.rows_per_batch_p50": percentile([b["input_rows"] for b in tail], 0.5),
        "engine.batch_ms_p50": percentile(list(batch_ms.values()), 0.5),
        "tail.wait_ms_p50": percentile(waits, 0.5),
        "tail.gen_late_ms_max": max(d["late_ms"] for d in raw["due"]),
        "latency.over_limit_frac":
            (never + sum(1 for x in ok_lat if x > LATENCY_LIMIT_MS)) / len(lat),
    })
    return {"line": _line(main_r, PER_LAYER, values), "artifact": artifact}


def stateful(main_r, scale_r, cores, trace):
    raw = main_r["raw"]
    artifact = {"checks": main_r["checks"], "raw": raw, "cores": cores}
    batch_ms = [b["trigger_ms"] for b in raw["batches"] if b["input_rows"] > 0]
    if not trace:
        values = {
            "setup_s": raw["setup_s"],
            "turns_per_s": len(STATE_OPS) * raw["turns"] / sum(raw[f"op_{op}_s"] for op in STATE_OPS),
            "resume_s": raw["cep_resume_s"],
            "latency_p50_ms": percentile(batch_ms, 0.5),
            "latency_p90_ms": percentile(batch_ms, 0.9),
            "peak_rss_mb": raw["peak_rss_mb"],
        }
        artifact["p90_samples_beyond"] = beyond(len(batch_ms), 0.9)
        return {"line": _line(main_r, END_TO_END, values), "artifact": artifact}
    artifact["scale_raw"] = scale_r["raw"]
    values = _layers(raw)
    values["engine.scaling_eff"] = scale_r["raw"]["untraced_cep_s"][0] / (
        cores * statistics.median(raw["untraced_cep_s"]))
    values.update({
        "engine.batches": len(raw["batches"]),
        "engine.rows_per_batch_p50": percentile([b["input_rows"] for b in raw["batches"]], 0.5),
        "engine.batch_ms_p50": percentile(batch_ms, 0.5),
        "latency.over_limit_frac": sum(1 for x in batch_ms if x > LATENCY_LIMIT_MS) / len(batch_ms),
    })
    for op in STATE_OPS:
        values[f"{op}.turns_per_s"] = raw["turns"] / raw[f"op_{op}_s"]
    return {"line": _line(main_r, PER_LAYER, values), "artifact": artifact}
