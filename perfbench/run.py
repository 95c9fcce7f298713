"""The repository benchmark: one seeded workload per run, measured for a
fixed time, outputs checked, metrics printed.

    python3 perfbench/run.py --workload sink_stream --seed 1 --seconds 12 --trace 0

Workloads (parameters in perfbench/workloads.json):
  sink_stream  a parquet backlog drained through ParityPipeline.start, one
               file per micro-batch, then compacted and read back
  query_mix    registry queries over seeded tables, in passes

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 the run alternates untraced and traced operations and the line
holds the per-layer metrics. Every other line is a human-readable
report. The program is built from the checkout's sources on first use.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

JVM_FLAGS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
BUDGET_S = 170

E2E_UNITS = {"setup_s": "s", "round_s": "s", "geomean_s": "s"}
SPAN_NAMES = ("stream.batch", "sink.group", "query.run", "spark.job", "compaction",
              "sources.readback")
LAYERS = (
    "streaming.source_ms", "streaming.query_planning_ms", "streaming.wal_ms",
    "streaming.add_batch_ms", "streaming.jobs_per_batch", "streaming.stages_per_batch",
    "streaming.tasks_per_batch",
    "sink.jobs_per_call", "sink.post_write_ms", "sink.cached_bytes", "sink.files",
    "sink.write_job_ms", "sink.task_ms",
    "sink.busy_frac", "sink.task_skew", "sink.fs_bytes_written", "sink.group_ms",
    "compaction.ms", "compaction.files_in", "compaction.files_out", "compaction.bytes_rewritten",
    "sources.readback_ms", "sources.records",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.task_ms", "exec.gc_ms", "exec.busy_frac",
    "materialize.rdd_scans", "materialize.checkpoint_bytes",
    "jvm.peak_heap_mb", "jvm.gc_ms",
) + tuple(f"self.{n}_ms" for n in SPAN_NAMES) + ("trace.overhead", "trace.span_coverage")


def layer_unit(name):
    for suffix, unit in (("ms", "ms"), ("bytes", "B"), ("bytes_written", "B"), ("bytes_rewritten", "B"),
                         ("_mb", "MB"), (".s", "s"), ("_frac", "ratio"), ("_skew", "ratio"),
                         ("overhead", "ratio"), ("coverage", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def round_times(workload, samples):
    """(round_s, geomean_s). A sink_stream round is one micro-batch: the
    median and the geometric mean of the batches' durations. A query_mix
    round is one pass: the sum of the queries' medians, and their geometric
    mean."""
    if workload == "sink_stream":
        b = samples.get("batch", [])
        return stats.median(b), stats.geomean(b)
    meds = [stats.median(v) for v in samples.values() if v]
    return sum(meds), stats.geomean(meds)


def report(workload, raw, gen_s, attempted, failed):
    """(end-to-end metrics, text lines) of an untraced run."""
    w = raw["windows"]["plain"]
    samples, values = w["samples"], w["values"]
    setup_s = stats.median(raw["setup_s"]) + raw["warmup_s"] + gen_s
    rnd, geo = round_times(workload, samples)
    metrics = {"setup_s": setup_s, "round_s": rnd, "geomean_s": geo}
    lines = [("setup_s", setup_s, "s"), ("error_rate", stats.error_rate(attempted, failed), "ratio")]
    if workload == "sink_stream":
        b = samples.get("batch", [])
        lines += [("records_per_s", values.get("records", 0.0) / max(w["wall_s"], 1e-9), "1/s"),
                  ("landed_bytes_per_input_byte",
                   values.get("landed_bytes", 0.0) / max(values.get("input_bytes", 0.0), 1.0), "ratio")]
        lines.append(("batch_p50_ms", 1000 * stats.median(b), "ms"))
        p = stats.tail_percentile(len(b))
        if p is not None and p > 50:
            lines.append((f"batch_p{p:g}_ms", 1000 * stats.percentile(b, p), "ms"))
        else:
            print(f"# batch_p90_ms not reported: {len(b)} batches leave fewer than 10 beyond p90")
        lines.append(("compact_s", values.get("compact_s", 0.0), "s"))
    if workload == "query_mix":
        lines += [("query_total_s", rnd, "s"), ("query_geomean_s", geo, "s")]
    lines.append(("samples", sum(len(v) for v in samples.values()), "count"))
    return metrics, lines


def layers(workload, raw, families):
    """Per-layer metrics of a traced run."""
    out = {k: 0.0 for k in LAYERS}
    out.update({k: v for k, v in raw["layers"].items() if k in out})
    plain, traced = raw["windows"]["plain"], raw["windows"]["traced"]
    for fam, names in families.items():
        meds = {n: stats.median(plain["samples"].get(n, [])) for n in names}
        out.update({f"query.{n}.s": m for n, m in meds.items()})
        out[f"query.{fam}.s"] = sum(meds.values())
    spans = raw["spans"]
    ivals = [tuple(i) for i in traced["intervals"]]

    def inside(t):
        return any(lo <= t < hi for lo, hi in ivals)
    roots = {s["id"] for s in spans if s["parent"] == 0 and inside(s["start"])}
    kept = [s for s in spans if s["trace"] in roots]
    self_us = stats.self_times(kept)
    for name in SPAN_NAMES:
        mine = [self_us[s["id"]] for s in kept if s["name"] == name]
        out[f"self.{name}_ms"] = sum(mine) / len(mine) / 1000.0 if mine else 0.0
    top = [(max(s["start"], lo), min(s["end"], hi)) for s in kept if s["parent"] == 0
           for lo, hi in ivals if lo <= s["start"] < hi]
    out["trace.span_coverage"] = stats.union_length(top) / max(1, sum(hi - lo for lo, hi in ivals))
    out["trace.overhead"] = stats.overhead(plain["samples"], traced["samples"])
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    params = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in params:
        sys.exit(f"unknown workload {a.workload!r}; choose from {sorted(params)}")
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        sys.exit(f"build: {e}")

    work = os.path.join(build.OUT, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        p = dict(params[a.workload])
        gen_s = 0.0
        if a.workload == "query_mix":
            import gen_tables
            p["tables_dir"] = os.path.join(work, "tables")
            t0 = time.perf_counter()
            gen_tables.generate(p["tables_dir"], a.seed, p["near_dup_share"])
            gen_s = time.perf_counter() - t0
        with open(os.path.join(work, "params.json"), "w") as f:
            json.dump({a.workload: p}, f)
        raw_path = os.path.join(work, "raw.json")
        tmp = os.path.join(work, "tmp")
        cmd = ["java"] + JVM_FLAGS + [
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "jvm"),
            "--params", os.path.join(work, "params.json"), "--out", raw_path]
        left = BUDGET_S - (time.time() - t_start)
        try:
            rc = subprocess.run(cmd, stdout=sys.stderr, timeout=max(10.0, left)).returncode
        except subprocess.TimeoutExpired:
            sys.exit(f"the {a.workload} run did not finish within {BUDGET_S} s")
        if rc != 0 or not os.path.isfile(raw_path):
            sys.exit(f"the {a.workload} run failed (exit {rc})")
        raw = json.load(open(raw_path))
        attempted, failed, errors = raw["attempted"], raw["failed"], list(raw["errors"])
        if a.workload == "query_mix":
            import oracle
            names = [n for v in p["families"].values() for n in v]
            for name, why in oracle.check_all(p["tables_dir"], raw["extra"]["results_dir"],
                                              raw["extra"]["oracle"], raw["extra"]["rows"], names):
                attempted += 1
                if why is not None:
                    failed += 1
                    errors.append(f"{name} oracle: {why}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        print(f"# FAILED {e}")
    if a.trace:
        metrics = layers(a.workload, raw, params["query_mix"]["families"])
        units = {k: layer_unit(k) for k in metrics}
    else:
        metrics, lines = report(a.workload, raw, gen_s, attempted, failed)
        units = dict(E2E_UNITS)
        for name, value, unit in lines:
            print(f"{a.workload} {name} = {value:.6g} {unit}")
    bad = [k for k in metrics if not stats.valid_name(k)]
    if bad:
        sys.exit(f"invalid metric names: {bad}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
