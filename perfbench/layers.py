"""Per-layer metrics from a traced run.

A traced run alternates plain and recorded measured passes (the even
passes are recorded), at least plain, recorded, plain; result.json
flags each measured pass. Spans come from the benchmark's own calls
into graft's modules; jobs, stages and tasks come from a SparkListener and are
attributed to the innermost span open when their job started. All
per-layer figures are per recorded pass unless named per call.

Layers are graft's modules (`Tables`, `operators`, `quality`,
`features`, `ml`, `pipeline`, `sources`), plus `engine` (Spark
execution beneath them) and `jvm`.
"""
import json
import os
import statistics

import pandas as pd

LAYERS = ("Tables", "operators", "quality", "features", "ml", "pipeline", "sources")

# span name -> metric name; value = mean wall time per call, in ms
SPAN_MS = {
    "operators.construct": "operators.construct_ms",
    "operators.exec": "operators.exec_ms",
    "quality.construct": "quality.construct_ms",
    "quality.exec": "quality.exec_ms",
    "quality.ExpectationSuite.run": "quality.ExpectationSuite.run.ms",
    "features.construct": "features.construct_ms",
    "ml.LinearModel.fit": "ml.LinearModel.fit.ms",
    "ml.LinearModel.evaluate": "ml.LinearModel.evaluate.ms",
    "pipeline.exec": "pipeline.exec_ms",
    "pipeline.GatedPipeline.run": "pipeline.GatedPipeline.run.ms",
    "pipeline.ModelArtifacts.write": "pipeline.ModelArtifacts.write.ms",
    "sources.TxTable.append": "sources.TxTable.append.ms",
    "sources.TxTable.update": "sources.TxTable.update.ms",
    "sources.TxTable.delete": "sources.TxTable.delete.ms",
    "sources.TxTable.merge": "sources.TxTable.merge.ms",
    "sources.TxTable.snapshot": "sources.TxTable.snapshot.ms",
    "sources.TxTable.read": "sources.TxTable.read.ms",
    "sources.IncrementalView.maintain": "sources.IncrementalView.maintain.ms",
}


def recorded_passes(res):
    """Numbers of the recorded passes (measured passes count from 1)."""
    return {i + 1 for i, r in enumerate(res["recorded"]) if r}


def plain(res, per_pass):
    """The entries of a per-pass list that belong to plain passes."""
    return [x for x, r in zip(per_pass, res["recorded"]) if not r]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def layer_of(name):
    return name.split(".", 1)[0]


def workload_figures(workload, res, error_rate):
    """The workload's own end-to-end figures, from its plain passes."""
    rec = recorded_passes(res)
    ops = [o for o in res["ops"] if o["pass"] > 0 and o["pass"] not in rec]
    ms = lambda kind: [o["ms"] for o in ops if o["kind"] == kind]
    passes = plain(res, res["pass_ms"])
    fig = {"error_rate": error_rate, "pass_s": median(passes) / 1e3,
           "samples": {"pass_s": len(passes)}}
    if workload == "vendor_dag":
        fig["dag_p50_s"] = fig["pass_s"]  # one pass is one full DAG
    else:
        for kind, name in (("commit", "commit_p50_ms"), ("refresh", "refresh_p50_ms"),
                           ("read", "snapshot_read_ms"), ("query", "query_p50_ms")):
            fig[name] = median(ms(kind))
            fig["samples"][name] = len(ms(kind))
    return fig


def per_layer(workload, res, work):
    tr = res["trace"]
    ops = res["ops"]
    rec = recorded_passes(res)
    n = max(1, len(rec))
    # op ids are 1-based positions in the op list
    traced_ops = {i + 1 for i, o in enumerate(ops) if o["pass"] in rec}
    kids = {}
    for s in tr["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    measured = [s for s in tr["spans"] if s["op"] in traced_ops]
    setup = [s for s in tr["spans"] if s["op"] == 0]

    stage_of_job, seen = {}, set()
    for j in tr["jobs"]:
        stage_of_job[j["id"]] = [x for x in j["stages"] if x not in seen]
        seen.update(j["stages"])
    stages = {s["id"]: s for s in tr["stages"]}
    jobs_of = {}
    for j in tr["jobs"]:
        jobs_of.setdefault(j["span"], []).append(j)

    def task_s(jobs):
        return sum(stages[x]["task_ns"] for j in jobs for x in stage_of_job[j["id"]] if x in stages) / 1e9

    def stats(s):
        dur = s["end"] - s["start"]
        self_ns = dur - union([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
        own = jobs_of.get(s["id"], [])
        covered = union([(max(j["start"], s["start"]), min(j["end"], s["end"])) for j in own
                         if j["end"] > 0 and min(j["end"], s["end"]) > max(j["start"], s["start"])])
        return dur, self_ns, own, max(0, self_ns - covered)

    m = {}
    for name, metric in SPAN_MS.items():
        ds = [stats(s)[0] for s in measured if s["name"] == name]
        m[metric] = (sum(ds) / len(ds) / 1e6 if ds else 0.0, "ms")
    vp = [stats(s)[0] for s in measured if s["name"].startswith("pipeline.VendorPipeline.")]
    m["pipeline.VendorPipeline.construct_ms"] = (sum(vp) / len(vp) / 1e6 if vp else 0.0, "ms")
    ivm = [s for s in measured if s["name"] == "sources.IncrementalView.maintain"]
    m["sources.IncrementalView.maintain.jobs"] = (
        sum(len(jobs_of.get(s["id"], [])) for s in ivm) / len(ivm) if ivm else 0.0, "count")
    m["Tables.schema_ms"] = (sum(stats(s)[0] for s in setup if s["name"] == "Tables.schema") / 1e6, "ms")

    for layer in LAYERS:
        own = [s for s in measured if layer_of(s["name"]) == layer]
        st = [stats(s) for s in own]
        m[f"{layer}.self_s"] = (sum(x[1] for x in st) / 1e9 / n, "s")
        m[f"{layer}.jobs"] = (sum(len(x[2]) for x in st) / n, "count")
        m[f"{layer}.task_s"] = (sum(task_s(x[2]) for x in st) / n, "s")
        m[f"{layer}.driver_gap_s"] = (sum(x[3] for x in st) / 1e9 / n, "s")

    # engine: whole recorded passes
    st = list(stages.values())
    skews = [s["max_task_ms"] / s["median_task_ms"] for s in st
             if s["tasks"] >= 2 and s["median_task_ms"] > 0]
    op_spans = [s for s in measured if s["name"].startswith("op.")]
    gap = 0
    for s in op_spans:
        js = [(max(j["start"], s["start"]), min(j["end"], s["end"])) for j in tr["jobs"]
              if j["end"] > 0 and min(j["end"], s["end"]) > max(j["start"], s["start"])]
        gap += (s["end"] - s["start"]) - union(js)
    m.update({
        "engine.jobs": (len(tr["jobs"]) / n, "count"),
        "engine.stages": (len(st) / n, "count"),
        "engine.shuffle_read_bytes": (sum(s["shuffle_read"] for s in st) / n, "bytes"),
        "engine.shuffle_write_bytes": (sum(s["shuffle_write"] for s in st) / n, "bytes"),
        "engine.task_s": (sum(s["task_ns"] for s in st) / 1e9 / n, "s"),
        "engine.task_skew": (median(skews), "ratio"),
        "engine.driver_gap_s": (gap / 1e9 / n, "s"),
        "engine.scan_bytes": (sum(s["input_bytes"] for s in st) / n, "bytes"),
        "engine.scan_files": (tr["scan_files"] / n, "count"),
        "engine.spill_bytes": (sum(s["spill"] for s in st) / n, "bytes"),
        "jvm.gc_s": (res["gc_s"] / max(1, len(res["pass_ms"])), "s"),
        "jvm.heap_peak_mb": (res["heap_peak_mb"], "MB"),
    })

    # workload-level counts from the verification outputs
    out = os.path.join(work, "out")
    q = os.path.join(out, "gated")
    m["quality.quarantine_rows"] = (
        float(pd.read_parquet(q)["n_quarantined"].sum()) if os.path.exists(q) else 0.0, "count")
    ab = os.path.join(out, "artifact_bytes")
    m["pipeline.ModelArtifacts.bytes"] = (float(open(ab).read()) if os.path.exists(ab) else 0.0, "bytes")
    src = os.path.join(out, "sources.json")
    sj = json.load(open(src)) if os.path.exists(src) else None
    m["sources.files_added"] = (float(sj["files_added"]) if sj else 0.0, "count")
    m["sources.bytes_written_per_user_byte"] = (
        sj["bytes_written"] / sj["user_bytes"] if sj else 0.0, "ratio")
    m["sources.space_amp"] = (sj["bytes_written"] / sj["live_bytes"] if sj else 0.0, "ratio")

    # each recorded pass against the mean of the plain passes around it,
    # which cancels the drift of a JVM still warming up
    p, r = res["pass_ms"], res["recorded"]
    over = [p[i] - (p[i - 1] + p[i + 1]) / 2 for i in range(1, len(p) - 1) if r[i]]
    m["trace.overhead_s"] = (median(over) / 1e3, "s")
    return m
