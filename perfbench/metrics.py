"""End-to-end and per-layer metrics of one harness run.

Only operations of the timed phase are latency samples; set-up, warm-up
and the checks are outside it. Spans, jobs and stages come from the
traced run (--trace 1) only.
"""
import json
import os
import statistics

# The operation that is one latency sample, per workload.
SAMPLE_KIND = {"artifact_app": "query", "curation": "batch"}

ARTIFACT_KINDS = ("bpe", "minhash_seed")
SETUP_PARTS = ("store_create", "stream_start", "warmup")

UNITS = {"setup_s": "s", "latency_p50_s": "s", "throughput_per_s": "1/s", "pass_s": "s"}


def per_layer_names():
    names = ["setup.session_s"]
    names += [f"setup.artifact.{k}_s" for k in ARTIFACT_KINDS]
    names += [f"setup.{p}_s" for p in SETUP_PARTS]
    # plus entry.<name>.s per registry entry a curation run times
    names += ["build.s", "build.jobs", "exec.s", "exec.jobs"]
    names += ["engine.jobs", "engine.stages", "engine.tasks", "engine.task_cpu_s",
              "engine.task_run_s", "engine.core_util", "engine.gc_s",
              "engine.shuffle_read_mb", "engine.shuffle_write_mb", "engine.spill_mb",
              "engine.input_mb", "engine.driver_only_s"]
    names += ["cache.leftover_rdds", "cache.leftover_mb", "cache.peak_mb"]
    names += ["ingest.land_s", "store.write_s", "store.files",
              "store.bytes_per_input_byte"]
    names += ["sql.plan_s", "sql.exec_s", "sql.jobs"]
    names += [f"sql.q{n}.s" for n in range(1, 21)]
    names += ["stream.add_batch_s", "stream.wal_commit_s", "stream.planning_s",
              "stream.offsets_s", "stream.state_mb", "stream.state_files",
              "stream.latency_growth_s_per_batch", "stream.drop_share.quality",
              "stream.drop_share.neardup", "stream.drop_share.decon"]
    return names


def layer_unit(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s_per_batch"):
        return "s/batch"
    if name in ("engine.core_util", "store.bytes_per_input_byte") or ".drop_share." in name:
        return "ratio"
    return "count"


def percentile(values, pct):
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(1, -(-len(xs) * pct // 100))
    return xs[int(k) - 1]


def tail_pct(n):
    """The highest whole percentile with at least ten samples beyond its
    nearest-rank value, or None when there are ten samples or fewer."""
    return (100 * (n - 10)) // n if n > 10 else None


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def timed_ops(res, kind=None):
    return [o for o in res["ops"] if o["phase"] == "timed"
            and (kind is None or o["kind"] == kind)]


def dur_s(x):
    return (x["t1"] - x["t0"]) / 1000.0


def end_to_end(res, check):
    w = res["workload"]
    samples = [dur_s(o) for o in timed_ops(res, SAMPLE_KIND[w]) if o["ok"]]
    out = {
        "setup_s": res["setup_s"],
        "latency_p50_s": statistics.median(samples),
    }
    pct = tail_pct(len(samples))
    notes = {"latency_n": len(samples), "tail_pct": pct,
             "latency_tail_s": percentile(samples, pct) if pct else max(samples)}
    if w == "artifact_app":
        ing = [o for o in timed_ops(res, "ingest") if o["ok"]]
        out["throughput_per_s"] = sum(o["records"] for o in ing) / sum(map(dur_s, ing))
        notes["throughput"] = ("ingest_records_per_s", "records/s")
        # one epoch: a collection run and the 20 templates after it
        epochs = []
        for o in timed_ops(res):
            if o["kind"] == "ingest":
                epochs.append(0.0)
            epochs[-1] += dur_s(o)
        out["pass_s"] = statistics.median(epochs)
        notes["pass"] = "one epoch: collection run + 20 templates"
    else:
        b = [o for o in timed_ops(res, "batch") if o["ok"]]
        out["throughput_per_s"] = sum(o["docs"] for o in b) / sum(map(dur_s, b))
        notes["throughput"] = ("docs_per_s", "docs/s")
        per = {}
        for o in timed_ops(res, "entry"):
            if o["ok"]:
                per.setdefault(o["name"], []).append(dur_s(o))
        out["pass_s"] = sum(statistics.median(v) for v in per.values())
        notes["pass"] = f"one pass of the {len(per)} chains, sum of per-entry medians"
    cache = [mb for _, mb in res["cache"]]
    notes["cached_peak_mb"] = max(cache) if cache else 0.0
    return out, notes


# ---------------------------------------------------------------- per layer

class Trace:
    """Spans, jobs and stages of a traced run, with each job attributed
    to the operation that launched it."""

    def __init__(self, res):
        self.res = res
        self.spans = {s["id"]: s for s in res["spans"]}
        self.children = {}
        for s in res["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        eng = res["engine"]
        self.stages = {}  # stage id -> completed attempts
        for st in eng["stages"]:
            self.stages.setdefault(st["id"], []).append(st)
        self.ops = [s for s in res["spans"] if s["layer"] == "op"]
        self.job_op = {}
        # a job launched from a library-owned thread carries no group:
        # with one client thread, the operation open at its start owns it
        for j in eng["jobs"]:
            self.job_op[j["id"]] = self.op_at(j)

    def op_at(self, job):
        sid = int(job["group"][5:]) if job["group"].startswith("span-") else None
        while sid is not None and sid in self.spans:
            if self.spans[sid]["layer"] == "op":
                return sid
            sid = self.spans[sid]["parent"]
        for s in self.ops:
            if s["t0"] <= job["t0"] <= s["t1"]:
                return s["id"]
        return None

    def op_jobs(self, op_id):
        return [j for j in self.res["engine"]["jobs"] if self.job_op.get(j["id"]) == op_id]

    def sub_jobs(self, span_id):
        """Jobs inside one sub-span: by group, else by time window."""
        s = self.spans[span_id]
        op = s
        while op["layer"] != "op":
            op = self.spans[op["parent"]]
        return [j for j in self.op_jobs(op["id"])
                if j["group"] == f"span-{span_id}"
                or (not j["group"].startswith("span-") and s["t0"] <= j["t0"] <= s["t1"])]

    def job_stages(self, jobs):
        ids = {sid for j in jobs for sid in j["stages"]}
        return [st for sid in sorted(ids) for st in self.stages.get(sid, [])]

    def sub_spans(self, op_id, name):
        return [c for c in self.children.get(op_id, []) if c["name"] == name]


def union_ms(intervals):
    total, end = 0.0, None
    start = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def per_layer(res, check):
    w = res["workload"]
    m = {n: 0.0 for n in per_layer_names()}
    tr = Trace(res)
    m["setup.session_s"] = res["session_s"]
    for k in ARTIFACT_KINDS + SETUP_PARTS:
        if k in res["setup"]:
            key = f"setup.artifact.{k}_s" if k in ARTIFACT_KINDS else f"setup.{k}_s"
            m[key] = res["setup"][k]
    # the op span of each timed operation starts within a millisecond of it
    timed = {(o["kind"] + ":" + o["name"], round(o["t0"])) for o in timed_ops(res)}
    ops = [s for s in tr.ops if any((s["name"], round(s["t0"]) + d) in timed
                                    for d in (-1, 0, 1))]
    wall = sum(dur_s(s) for s in ops)
    jobs = [j for s in ops for j in tr.op_jobs(s["id"])]
    stages = tr.job_stages(jobs)
    n_ops = max(1, len(ops))
    cores = res["cores"]
    m["engine.jobs"] = len(jobs) / n_ops
    m["engine.stages"] = len(stages) / n_ops
    m["engine.tasks"] = sum(s["tasks"] for s in stages) / n_ops
    m["engine.task_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9 / n_ops
    run_s = sum(s["run_ms"] for s in stages) / 1000.0
    m["engine.task_run_s"] = run_s / n_ops
    m["engine.core_util"] = run_s / (wall * cores) if wall else 0.0
    m["engine.gc_s"] = sum(s["gc_ms"] for s in stages) / 1000.0 / n_ops
    mb = 1048576.0
    m["engine.shuffle_read_mb"] = sum(s["shuffle_read"] for s in stages) / mb / n_ops
    m["engine.shuffle_write_mb"] = sum(s["shuffle_write"] for s in stages) / mb / n_ops
    m["engine.spill_mb"] = sum(s["spill"] for s in stages) / mb / n_ops
    m["engine.input_mb"] = sum(s["input"] for s in stages) / mb / n_ops
    driver_only = 0.0
    for s in ops:
        ivs = [(max(j["t0"], s["t0"]), min(j["t1"], s["t1"])) for j in tr.op_jobs(s["id"])
               if j["t1"] > 0]
        driver_only += dur_s(s) - union_ms([iv for iv in ivs if iv[1] > iv[0]]) / 1000.0
    m["engine.driver_only_s"] = driver_only / n_ops
    timed_idx = [i for i, o in enumerate(res["ops"]) if o["phase"] == "timed"]
    cache = [res["cache"][i] for i in timed_idx]
    if cache:
        m["cache.leftover_rdds"] = mean(n for n, _ in cache)
        m["cache.leftover_mb"] = mean(x for _, x in cache)
        m["cache.peak_mb"] = max(x for _, x in cache)

    def sub_mean(kind, name):
        vals = [sum(dur_s(c) for c in tr.sub_spans(s["id"], name))
                for s in ops if s["name"].startswith(kind + ":")]
        return mean(vals)

    def sub_jobs_mean(kind, name):
        vals = [sum(len(tr.sub_jobs(c["id"])) for c in tr.sub_spans(s["id"], name))
                for s in ops if s["name"].startswith(kind + ":")]
        return mean(vals)

    def medians(kind):
        per = {}
        for o in timed_ops(res, kind):
            if o["ok"]:
                per.setdefault(o["name"], []).append(dur_s(o))
        return {k: statistics.median(v) for k, v in per.items()}

    if w == "curation":
        m["build.s"] = sub_mean("entry", "build")
        m["build.jobs"] = sub_jobs_mean("entry", "build")
        m["exec.s"] = sub_mean("entry", "exec")
        m["exec.jobs"] = sub_jobs_mean("entry", "exec")
        for k, v in medians("entry").items():
            m[f"entry.{k}.s"] = v
    if w == "artifact_app":
        m["ingest.land_s"] = sub_mean("ingest", "land")
        m["store.write_s"] = sum(sub_mean("ingest", f"store.{t}")
                                 for t in ("metadata", "media", "colors"))
        last = res["extra"]["epochs"][-1]
        files = [f for t in last["files"].values() for f in t]
        m["store.files"] = float(len(files))
        landed = sum(e["landed_bytes"] for e in res["extra"]["epochs"]
                     if e["cycle"] == last["cycle"])
        m["store.bytes_per_input_byte"] = sum(n for _, n in files) / landed
        m["sql.plan_s"] = sub_mean("query", "sql.plan")
        m["sql.exec_s"] = sub_mean("query", "sql.exec")
        q_ops = [s for s in ops if s["name"].startswith("query:")]
        m["sql.jobs"] = mean(len(tr.op_jobs(s["id"])) for s in q_ops)
        for k, v in medians("query").items():
            m[f"sql.{k}.s"] = v
    if w == "curation":
        prog = [p for p in res["stream_progress"] if p["rows"] > 0]
        landed = res["extra"]["landed"]
        timed_prog = [p for p, b in zip(prog, landed) if b["phase"] == "timed"]
        if timed_prog:
            m["stream.add_batch_s"] = mean(p["add_batch_ms"] for p in timed_prog) / 1000
            m["stream.wal_commit_s"] = mean(p["wal_commit_ms"] + p["commit_offsets_ms"]
                                            for p in timed_prog) / 1000
            m["stream.planning_s"] = mean(p["planning_ms"] for p in timed_prog) / 1000
            m["stream.offsets_s"] = mean(p["latest_offset_ms"] + p["get_batch_ms"]
                                         for p in timed_prog) / 1000
        m["stream.state_mb"] = res["extra"]["state_bytes"] / mb
        m["stream.state_files"] = float(res["extra"]["state_files"])
        lat = [dur_s(o) for o in timed_ops(res, "batch")]
        if len(lat) > 1:
            xs = range(len(lat))
            mx, my = mean(xs), mean(lat)
            m["stream.latency_growth_s_per_batch"] = (
                sum((x - mx) * (y - my) for x, y in zip(xs, lat))
                / sum((x - mx) ** 2 for x in xs))
        for k in ("quality", "neardup", "decon"):
            m[f"stream.drop_share.{k}"] = check["readings"]["drop_share"][k]
    return m, self_times(tr, ops)


def self_times(tr, ops):
    """Self time per layer over the timed operations: a span's duration
    minus the part its child spans cover; jobs are children of the span
    that launched them, and a job's self time is what its stages leave."""
    out = {}

    def visit(s):
        kids = tr.children.get(s["id"], [])
        covered = [(c["t0"], c["t1"]) for c in kids]
        if s["layer"] != "op" or not kids:
            jobs = tr.sub_jobs(s["id"]) if s["layer"] != "op" else tr.op_jobs(s["id"])
            covered += [(j["t0"], j["t1"]) for j in jobs if j["t1"] > 0]
            for j in jobs:
                if j["t1"] <= 0:
                    continue
                st = [(x["t0"], x["t1"]) for x in tr.job_stages([j]) if x["t0"] > 0]
                out["job"] = out.get("job", 0.0) + (j["t1"] - j["t0"] - union_ms(st)) / 1000
                out["stage"] = out.get("stage", 0.0) + union_ms(st) / 1000
        key = s["layer"] if s["layer"] != "op" else "op"
        out[key] = out.get(key, 0.0) + (s["t1"] - s["t0"] - union_ms(covered)) / 1000
        for c in kids:
            visit(c)

    for s in ops:
        visit(s)
    n = max(1, len(ops))
    return {k: v / n for k, v in sorted(out.items())}


def compute(res, check, trace):
    w = res["workload"]
    ops = res["ops"]
    failed = {i for i, o in enumerate(ops) if not o["ok"]} | set(check["failed_ops"])
    attempted = len(ops)
    correct = not failed and not check["validity"]
    e2e, notes = end_to_end(res, check)
    name, unit = notes["throughput"]
    lines = [
        f"# {w}: seed {res['seed']}, {res['cores']} cores, {res['timed_s']:.1f} s timed, "
        f"{res['steps']} steps",
        f"setup_s {e2e['setup_s']:.4f} s (process start to first timed operation, less "
        f"{res['generate_s']:.1f} s input generation; warm-up {res['setup']['warmup']:.1f} s)",
        f"latency_p50_s {e2e['latency_p50_s']:.4f} s (n={notes['latency_n']})",
        (f"latency_tail_s {notes['latency_tail_s']:.4f} s (p{notes['tail_pct']}, "
         f"n={notes['latency_n']})" if notes["tail_pct"] else
         f"latency_tail_s {notes['latency_tail_s']:.4f} s (max: n={notes['latency_n']} "
         "leaves no percentile with 10 samples beyond it)"),
        f"{name} {e2e['throughput_per_s']:.4f} {unit}",
        f"pass_s {e2e['pass_s']:.4f} s ({notes['pass']})",
        f"failed_frac {len(failed) / attempted:.4f} ({len(failed)}/{attempted})",
        f"cached_peak_mb {notes['cached_peak_mb']:.4f} MB",
    ]
    for k, v in sorted(check["readings"].items()):
        lines.append(f"reading {k} {v}")
    lines += [f"PROBLEM {p}" for p in check["problems"] + check["validity"]]
    layer = selft = None
    if trace:
        layer, selft = per_layer(res, check)
        lines += [f"self_s.{k} {v:.4f} s/op" for k, v in selft.items()]
        # a layer the workload does not run reads 0
        values = {k: {"value": layer.get(k, 0.0), "unit": layer_unit(k)}
                  for k in declared("per_layer")}
    else:
        values = {k: {"value": e2e[k], "unit": UNITS[k]} for k in declared("end_to_end")}
    return {"lines": lines, "result": {"correct": correct, "attempted": attempted,
                                       "failed": len(failed), "metrics": values},
            "e2e": e2e, "notes": notes, "layer": layer, "self_times": selft}


def declared(section):
    """Metric names BENCHMARK.json declares, in its order."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as fh:
        return [m["name"] for m in json.load(fh)[section]]
